"""BPE tokenizer training as driver-oracled queries.

The oracle replays the exact algorithm in SQL: the per-merge stages
(pair counts -> top pair -> gaps-and-islands eligibility -> rebuild)
are mechanical, so a Python generator unrolls ``NUM_MERGES`` of them
into one WITH chain — same pattern as the PQ prefix in ``corpusops``.
Everything is integer-weighted (counts), so there is no float to settle
anywhere; determinism comes from the (weight DESC, pair ASC) tie-break
both engines share.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from news_data_pipeline_spark.queries.registry import register
from news_data_pipeline_spark.sources.catalog import ArtifactCache, load_table

NUM_MERGES = 6

# Base: corpus word counts (the shared word_shingles(n=1) tokenization)
# and the character symbol table with the end-of-word marker.
_BPE_BASE = """
    wc AS (
        SELECT w AS word, count(*) AS n
        FROM documents, LATERAL unnest(
            regexp_split_to_array(trim(text), '\\s+')) AS t(w)
        WHERE text IS NOT NULL AND length(w) > 0
        GROUP BY w),
    s0 AS (
        SELECT wc.word, wc.n, u.p AS pos,
               substring(wc.word, CAST(u.p AS INT), 1) ||
                   CASE WHEN u.p = length(wc.word) THEN '</w>' ELSE '' END
                   AS sym
        FROM wc, LATERAL unnest(range(1, length(wc.word) + 1)) AS u(p))
"""


def _merge_stage(k: int) -> str:
    """One unrolled BPE merge: s{k-1} -> s{k} plus its top-pair t{k}.

    Mirrors ``operators.bpe.apply_pair`` stage for stage: lead-adjacent
    pairs, weighted top-1 with pair tie-break, match-run islands via
    pos - running_match_count, odd in-island row numbers merge, the
    following row is consumed via lag, positions re-densify.
    """
    return f"""
    p{k} AS (
        SELECT word, n, pos, sym,
               lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
        FROM s{k - 1}),
    t{k} AS (
        SELECT sym AS left_sym, nxt AS right_sym, sum(n) AS w
        FROM p{k} WHERE nxt IS NOT NULL
        GROUP BY sym, nxt
        ORDER BY w DESC, left_sym ASC, right_sym ASC LIMIT 1),
    m{k} AS (
        SELECT p.word, p.n, p.pos, p.sym, p.nxt,
               CASE WHEN p.sym = t.left_sym AND p.nxt = t.right_sym
                    THEN 1 ELSE 0 END AS mt
        FROM p{k} p LEFT JOIN t{k} t ON TRUE),
    e{k} AS (
        SELECT *, CASE WHEN mt = 1 THEN row_number() OVER (
                   PARTITION BY word,
                                CASE WHEN mt = 1 THEN pos - mrn END
                   ORDER BY pos) END AS off
        FROM (SELECT *, sum(mt) OVER (
                  PARTITION BY word ORDER BY pos) AS mrn
              FROM m{k}) x),
    s{k} AS (
        SELECT word, n,
               row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
               sym
        FROM (
            SELECT word, n, pos,
                   CASE WHEN el = 1 THEN sym || nxt ELSE sym END AS sym,
                   lag(el, 1, 0) OVER (
                       PARTITION BY word ORDER BY pos) AS consumed
            FROM (SELECT *, CASE WHEN off IS NOT NULL AND off % 2 = 1
                            THEN 1 ELSE 0 END AS el
                  FROM e{k}) a) b
        WHERE consumed = 0)
"""


_BPE_PREFIX = _BPE_BASE + "".join(
    "," + _merge_stage(k) for k in range(1, NUM_MERGES + 1)
)

_MERGE_TABLE_SELECT = "\nUNION ALL\n".join(
    f"    SELECT {k} AS merge_rank, left_sym, right_sym,"
    f" CAST(w AS BIGINT) AS pair_weight FROM t{k}"
    for k in range(1, NUM_MERGES + 1)
)


# Train-once tokenizer artifact shared by the BPE query family — the
# same bounded-artifact pattern as corpusops._pq_trained_codebooks: a
# real tokenizer trains ONCE and every consumer replays the merge
# table. The ArtifactCache holds only the COLLECTED merge rows
# (NUM_MERGES scalar rows — corpus-size-independent), keyed by the
# documents table's content fingerprint, so a corpus regenerated at the
# same path retrains. Every call rebuilds a local-relation DataFrame on
# the CALLING session; a hit replays it (the apply_pair chain is the
# same window rebuilds as training, minus the per-rank global pair-count
# aggregate and top-1), the training call keeps its own final symbols.
# Training is deterministic ((weight DESC, pair ASC) tie-break), so a
# hit is value-identical to retraining, and tests/test_bpe.py pins
# replay == training output.
_BPE_MERGE_ROWS = ArtifactCache("documents")


def _trained(spark: SparkSession, sf_dir: str):
    from news_data_pipeline_spark.operators.bpe import (
        apply_merges,
        bpe_train,
        word_counts,
        word_symbols,
    )

    docs = load_table(spark, sf_dir, "documents")
    syms = word_symbols(word_counts(docs, "doc_id", "text"))
    trained = []

    def build():
        # bpe_train checkpoints each merge: a lazy chain re-derives steps
        # 1..k-1 at step k (measured 30 s -> ~9 s at sf0.01 even on this
        # tiny vocab); checkpoints are distinct-word-sized
        merges, final = bpe_train(syms, NUM_MERGES)
        trained.append(final)
        return [
            (r["merge_rank"], r["left_sym"], r["right_sym"], r["pair_weight"])
            for r in merges.collect()
        ]

    merges = spark.createDataFrame(
        _BPE_MERGE_ROWS.get(sf_dir, build),
        "merge_rank int, left_sym string, right_sym string, pair_weight bigint",
    )
    return merges, trained[0] if trained else apply_merges(
        syms, merges, NUM_MERGES
    )


@register(
    "bpe_merge_table",
    oracle=f"""
    WITH {_BPE_PREFIX}
{_MERGE_TABLE_SELECT}
    """,
)
def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned tokenizer artifact: {NUM_MERGES} BPE merges in rank
    order (operators.bpe.bpe_train over the corpus word-frequency
    table). Training is bounded by DISTINCT-word characters, not corpus
    size — the one full scan is the map-side-combined word count; each
    iteration's winner is a TakeOrderedAndProject top-1 broadcast back
    into the next stage, never a collect."""
    merges, _ = _trained(spark, sf_dir)
    return merges


@register(
    "bpe_word_encodings",
    oracle=f"""
    WITH {_BPE_PREFIX}
    SELECT word, CAST(n AS BIGINT) AS n, CAST(pos AS INT) AS pos, sym
    FROM s{NUM_MERGES}
    """,
)
def bpe_word_encodings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every distinct corpus word as its subword symbols after the
    learned merges — the vocabulary's encoded form, scalar rows
    (word, n, pos, sym) so the gate canonicalizes without arrays.
    Replaying the merge table over fresh symbols (operators.bpe.
    apply_merges) reproduces exactly this frame — pinned in
    tests/test_bpe.py."""
    _, final = _trained(spark, sf_dir)
    return final.select("word", "n", F.col("pos").cast("int").alias("pos"), "sym")


@register(
    "bpe_symbol_vocab",
    oracle=f"""
    WITH {_BPE_PREFIX}
    SELECT sym, CAST(sum(n) AS BIGINT) AS weight,
           CAST(count(DISTINCT word) AS BIGINT) AS n_words
    FROM s{NUM_MERGES}
    GROUP BY sym
    """,
)
def bpe_symbol_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-merge symbol vocabulary with corpus weights: what fraction
    of the token stream each learned subword covers — the curve
    tokenizer builders watch to pick vocab size."""
    _, final = _trained(spark, sf_dir)
    return final.groupBy("sym").agg(
        F.sum("n").alias("weight"),
        F.countDistinct("word").alias("n_words"),
    )


@register(
    "bpe_document_token_counts",
    oracle=f"""
    WITH {_BPE_PREFIX},
    spw AS (
        SELECT word, CAST(count(*) AS BIGINT) AS n_syms
        FROM s{NUM_MERGES} GROUP BY word),
    dw AS (
        SELECT doc_id, w AS word, count(*) AS c
        FROM documents, LATERAL unnest(
            regexp_split_to_array(trim(text), '\\s+')) AS t(w)
        WHERE text IS NOT NULL AND length(w) > 0
        GROUP BY doc_id, w)
    SELECT doc_id,
           CAST(sum(c * n_syms) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(c) AS BIGINT) AS n_words
    FROM dw JOIN spw USING (word)
    GROUP BY doc_id
    """,
)
def bpe_document_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained tokenizer APPLIED at corpus granularity: BPE tokens
    per document — the number the token-budget / packing / mixture
    queries actually need once a real tokenizer replaces the
    whitespace proxy. Cost stays corpus-shaped, not corpus-x-vocab:
    per-doc word occurrences (one map-side-combined groupBy, the same
    linear pass as any frequency query) join the vocab-sized
    symbols-per-word table (AQE broadcasts it when small), then one
    weighted sum per doc. No per-document re-derivation of the merge
    algebra — the training artifact is computed once and reused."""
    from news_data_pipeline_spark.operators.dedup import word_shingles

    _, final = _trained(spark, sf_dir)
    spw = final.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("n_syms")
    )
    docs = load_table(spark, sf_dir, "documents")
    dw = (
        word_shingles(docs, "doc_id", "text", n=1, distinct=False)
        .withColumnRenamed("shingle", "word")
        .groupBy("id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        dw.join(spw, "word")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.sum(F.col("c") * F.col("n_syms")).cast("long").alias("n_bpe_tokens"),
            F.sum("c").cast("long").alias("n_words"),
        )
    )
