"""Byte-pair-encoding tokenizer training as DataFrame algebra.

The engine already counts tokens, builds vocabularies, and encodes
documents against a FIXED vocab (``operators/terms.py``); this module
closes the remaining tokenizer-training gap: LEARNING the subword merge
table itself, the way every modern LM tokenizer (BPE / WordPiece-style)
is built. It is the classic word-frequency formulation (Sennrich et al.
2016, ACL — public algorithm): train on the DISTINCT-word table weighted
by corpus counts, never on the raw corpus, because merge decisions only
depend on (word, count). That is also the 100-TB story: the full-scan
work is ONE map-side-combined word count; every merge iteration then
runs on the bounded distinct-word symbol table (rows = total characters
of distinct words — millions, not trillions, regardless of corpus size),
with every window partitioned by word.

No driver-side collect: each iteration's winning pair is a 1-row
``orderBy().limit(1)`` frame (TakeOrderedAndProject — no single-
partition shuffle) that rides back in as a broadcast left join, so a
corpus that runs out of pairs keeps its symbols unchanged and the merge
table simply ends early. The subtle part is
applying one merge without per-row Python: leftmost-greedy pair
replacement overlaps only when left==right (a match at pos and pos+1
forces sym[pos+1] = left = right), so eligibility is a gaps-and-islands
computation — consecutive match runs get island ids from the classic
``pos - running_match_count`` trick, and odd row numbers within an
island merge while even ones are consumed. Both engines express this
with three plain window stages; no lambdas, no slicing, no UDFs.

Scale notes: the per-word windows shard perfectly (words are tiny);
the pair-count aggregate partially aggregates map-side; the only
all-to-one step is the 1-row top-pair limit. Each iteration's plan
feeds the next, so ``bpe_train`` checkpoints every step instead of
growing one ``num_merges``-deep lazy plan; eager ``localCheckpoint``
truncates lineage but pins blocks to their executors (an executor loss
is unrecoverable — same caveat as ``dedup.two_stage_lsh_frames``;
prefer reliable ``checkpoint()`` or replicated persist on a real
cluster).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from news_data_pipeline_spark.operators.fanout import fan_out

EOW = "</w>"


def word_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(word, n): corpus word-frequency table.

    Tokenization is ``word_shingles(n=1)`` — the one shared tokenizer
    definition (see ``terms.term_frequencies``) so BPE, TF-IDF and the
    dedup family can never disagree about what a word is.
    """
    from news_data_pipeline_spark.operators.dedup import word_shingles

    tokens = word_shingles(df, id_col, text_col, n=1, distinct=False)
    return (
        tokens.select(F.col("shingle").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def word_symbols(words: DataFrame) -> DataFrame:
    """(word, n, pos, sym): each distinct word as its character symbols,
    1-based dense positions, the final character carrying the standard
    end-of-word marker so word-final and word-internal units stay
    distinct merge targets (``t`` vs ``t</w>``)."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda p: F.concat(
            F.col("word").substr(p, F.lit(1)),
            F.when(p == F.length("word"), F.lit(EOW)).otherwise(F.lit("")),
        ),
    )
    return fan_out(words).select(
        "word",
        "n",
        F.posexplode(chars).alias("pos0", "sym"),
    ).select("word", "n", (F.col("pos0") + 1).alias("pos"), "sym")


def _with_next(symbols: DataFrame) -> DataFrame:
    w = Window.partitionBy("word").orderBy("pos")
    return symbols.select(
        "word", "n", "pos", "sym", F.lead("sym").over(w).alias("nxt")
    )


def top_pair(symbols: DataFrame) -> DataFrame:
    """1-row frame (left_sym, right_sym, pair_weight): the most frequent
    adjacent symbol pair, corpus-weighted, ties broken on the pair
    itself. ``orderBy().limit(1)`` compiles to TakeOrderedAndProject —
    a per-partition top-1 plus a driver-side k=1 merge, never a global
    single-partition sort."""
    return (
        _with_next(symbols)
        .where(F.col("nxt").isNotNull())
        .groupBy(F.col("sym").alias("left_sym"), F.col("nxt").alias("right_sym"))
        .agg(F.sum("n").alias("pair_weight"))
        .orderBy(F.desc("pair_weight"), F.asc("left_sym"), F.asc("right_sym"))
        .limit(1)
    )


def apply_pair(symbols: DataFrame, pair: DataFrame) -> DataFrame:
    """One leftmost-greedy merge of ``pair`` (a broadcast frame of at
    most one row with left_sym/right_sym) over the symbol table; an
    empty ``pair`` leaves the table unchanged.

    Overlapping matches exist only when left==right; runs of consecutive
    matches resolve by parity — islands via ``pos - running_match_count``
    (constant within a run, distinct across runs), odd in-island row
    numbers merge, the following position is consumed via one lag. Three
    window stages, all partitioned by word; positions re-densify so the
    next iteration's ``lead`` stays adjacent."""
    w = Window.partitionBy("word").orderBy("pos")
    marked = (
        _with_next(symbols)
        .join(F.broadcast(pair.select("left_sym", "right_sym")), how="left")
        .select(
            "word",
            "n",
            "pos",
            "sym",
            "nxt",
            F.when(
                (F.col("sym") == F.col("left_sym"))
                & (F.col("nxt") == F.col("right_sym")),
                1,
            )
            .otherwise(0)
            .alias("mt"),
        )
        .withColumn("mrn", F.sum("mt").over(w))
    )
    island = F.when(F.col("mt") == 1, F.col("pos") - F.col("mrn"))
    with_off = marked.withColumn(
        "off",
        F.when(
            F.col("mt") == 1,
            F.row_number().over(
                Window.partitionBy("word", island).orderBy("pos")
            ),
        ),
    ).withColumn(
        "el",
        F.when(F.col("off").isNotNull() & (F.col("off") % 2 == 1), 1).otherwise(
            0
        ),
    )
    return (
        with_off.withColumn("consumed", F.lag("el", 1, 0).over(w))
        .where(F.col("consumed") == 0)
        .select(
            "word",
            "n",
            F.row_number().over(w).alias("pos"),
            F.when(F.col("el") == 1, F.concat("sym", "nxt"))
            .otherwise(F.col("sym"))
            .alias("sym"),
        )
    )


def bpe_train(
    symbols: DataFrame, num_merges: int
) -> tuple[DataFrame, DataFrame]:
    """Learn up to ``num_merges`` merges; returns (merge_table,
    final_symbols).

    merge_table: (merge_rank, left_sym, right_sym, pair_weight) — the
    tokenizer artifact, in learned order; it has fewer than
    ``num_merges`` rows when every word is already one symbol.
    final_symbols: the symbol table after all merges (the training
    vocabulary's encoding).

    Each iteration is eagerly ``localCheckpoint``ed so the k-th step's
    plan doesn't re-derive steps 1..k-1 (the re-walk is quadratic in
    ``num_merges``). Caveat: localCheckpoint pins blocks to executors —
    a lost executor kills the job; on a cluster prefer reliable
    ``checkpoint()`` or a replicated persist.
    """
    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1, got {num_merges}")
    cur = symbols
    tops: list[DataFrame] = []
    for rank in range(1, num_merges + 1):
        t = top_pair(cur)
        tops.append(t.select(F.lit(rank).alias("merge_rank"), "*"))
        cur = apply_pair(cur, t).localCheckpoint(eager=True)
    merges = tops[0]
    for t in tops[1:]:
        merges = merges.unionByName(t)
    return merges, cur


def apply_merges(
    symbols: DataFrame, merges: DataFrame, num_merges: int
) -> DataFrame:
    """Encode a NEW word-symbol table with an already-learned merge
    table, replaying merges in rank order — the apply side of the
    fit/apply contract (same ``apply_pair`` kernel as training, so
    boundaries can't drift). Each rank's pair is a 1-row filtered
    broadcast; the chain stays lazy end to end."""
    cur = symbols
    for rank in range(1, num_merges + 1):
        cur = apply_pair(
            cur, merges.where(F.col("merge_rank") == rank)
        )
    return cur
