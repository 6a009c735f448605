"""LLM-training-data operators as declared queries: text analysis,
deduplication (exact / MinHash-LSH / n-gram Jaccard / SimHash), and
embedding similarity search. These extend the reference (north star in
BASELINE.json); all but SimHash have exact ANSI-SQL oracles.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from news_data_pipeline_spark.functions import text as T
from news_data_pipeline_spark.functions.exact import (
    settled_round,
    settled_units,
    sql_settled_round,
    sql_units,
)
from news_data_pipeline_spark.operators import dedup, similarity
from news_data_pipeline_spark.operators.fanout import fan_out
from news_data_pipeline_spark.queries.registry import register
from news_data_pipeline_spark.sources.catalog import ArtifactCache, load_table

# DuckDB twin of functions.text.word_count / token_count — keep in sync.
# CASE keeps parity with word_count's blank-string -> 0 special case
_DUCK_WORDS = (
    "CASE WHEN trim(text) = '' THEN 0 "
    "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END"
)
_DUCK_TOKENS = "len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]'))"

# DuckDB twin of functions.text.quality_score over a `text` column —
# keep in sync with the Spark formula (0.5*length band + 0.3*(1-punct
# ratio) + 0.2*word-count band, 4dp). ONE definition: five oracles use
# it, and a drifted copy would silently break oracle parity.
# floor-settled half-up rounds (sql_settled_round), NOT round(): the
# parts are small-denominator rationals, so 4dp half-way cells are
# common and round()'s half-way handling differs across DuckDB builds
_DUCK_PUNCT_RATIO = (
    "floor(len(regexp_extract_all(text, '[^a-zA-Z0-9_\\s]'))"
    " / greatest(length(text), 1)::DOUBLE * 10000 + 0.5) / 10000.0"
)
_DUCK_QUALITY = (
    f"floor((least(({_DUCK_WORDS}) / 50.0, 1.0) * 0.5"
    f" + (1.0 - ({_DUCK_PUNCT_RATIO})) * 0.3"
    f" + CASE WHEN ({_DUCK_WORDS}) BETWEEN 5 AND 5000"
    " THEN 0.2 ELSE 0.0 END) * 10000 + 0.5) / 10000.0"
)

# DuckDB twin of operators.dedup.word_shingles (word n-grams, n=3).
# element concat_ws, not ws[i:i+2] slicing: slice-bound semantics have
# shifted across DuckDB releases; concat_ws skips the NULL from an
# out-of-range index, exactly matching Spark's concat_ws over F.get
_DUCK_SHINGLES = """
    SELECT DISTINCT id, concat_ws(' ', ws[i], ws[i+1], ws[i+2]) AS shingle
    FROM (SELECT doc_id AS id,
                 regexp_split_to_array(trim(text), '\\s+') AS ws,
                 unnest(range(1, greatest(len(regexp_split_to_array(trim(text), '\\s+')) - 2, 1) + 1)) AS i
          FROM documents) t
    WHERE concat_ws(' ', ws[i], ws[i+1], ws[i+2]) <> ''
"""


# --- text analysis -----------------------------------------------------------
@register(
    "document_token_stats",
    oracle=f"""
    SELECT doc_id,
           {_DUCK_WORDS}  AS n_words,
           {_DUCK_TOKENS} AS n_tokens,
           length(text)   AS n_chars_computed
    FROM documents
    """,
)
def document_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.word_count(F.col("text")).cast("long").alias("n_words"),
        T.token_count(F.col("text")).cast("long").alias("n_tokens"),
        T.char_count(F.col("text")).cast("long").alias("n_chars_computed"),
    )


@register(
    "document_quality",
    oracle=f"""
    SELECT doc_id, {_DUCK_QUALITY} AS quality FROM documents
    """,
)
def document_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.quality_score(F.col("text")).alias("quality"))


@register(
    "document_language_id",
    oracle=f"""
    WITH s AS (
        SELECT doc_id,
               floor(len(regexp_extract_all(lower(text), '\\b({"|".join(T.LANG_MARKERS["de"])})\\b'))
                     / greatest({_DUCK_TOKENS}, 1)::DOUBLE * 10000 + 0.5) / 10000.0 AS s_de,
               floor(len(regexp_extract_all(lower(text), '\\b({"|".join(T.LANG_MARKERS["en"])})\\b'))
                     / greatest({_DUCK_TOKENS}, 1)::DOUBLE * 10000 + 0.5) / 10000.0 AS s_en,
               floor(len(regexp_extract_all(lower(text), '\\b({"|".join(T.LANG_MARKERS["es"])})\\b'))
                     / greatest({_DUCK_TOKENS}, 1)::DOUBLE * 10000 + 0.5) / 10000.0 AS s_es,
               floor(len(regexp_extract_all(lower(text), '\\b({"|".join(T.LANG_MARKERS["fr"])})\\b'))
                     / greatest({_DUCK_TOKENS}, 1)::DOUBLE * 10000 + 0.5) / 10000.0 AS s_fr
        FROM documents)
    SELECT doc_id,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr) < 0.02 THEN 'und'
                WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                ELSE 'fr' END AS detected_lang
    FROM s
    """,
)
def document_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", T.detect_language(F.col("text")).alias("detected_lang")
    )


@register(
    "document_fingerprints",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
    FROM documents
    """,
)
def document_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))


# --- deduplication -----------------------------------------------------------
@register(
    "dedup_exact_fingerprint",
    oracle="""
    SELECT doc_id, source, lang FROM (
        SELECT doc_id, source, lang,
               md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp,
               row_number() OVER (
                   PARTITION BY md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
                   ORDER BY doc_id) AS rn
        FROM documents) t
    WHERE rn = 1 OR fp IS NULL
    """,
)
def dedup_exact_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``fingerprint_dedup``'s survivors, ids only. The text is read
    once for the key and never shuffled: ``exact_dedup`` over the key
    and the three output columns, not ``fingerprint_dedup``, whose
    aggregate carries every column through its exchange."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    keyed = docs.select(
        "doc_id",
        "source",
        "lang",
        dedup.fingerprint_key("text", "doc_id").alias("__key"),
    )
    return dedup.exact_dedup(keyed, ["__key"], tie_break=["doc_id"]).drop("__key")


@register(
    "minhash_lsh_pairs",
    oracle=f"""
    WITH shingles AS ({_DUCK_SHINGLES}),
    sig AS (
        SELECT id,
               {", ".join(f"min(substring(md5('seed{i // 4}:' || shingle), {8 * (i % 4) + 1}, 8)) AS mh_{i}" for i in range(16))}
        FROM shingles GROUP BY id),
    banded AS (
        {" UNION ALL ".join(
            "SELECT id, %d AS band, md5(mh_%d || '|' || mh_%d || '|' || mh_%d || '|' || mh_%d) AS bucket FROM sig"
            % (b, 4 * b, 4 * b + 1, 4 * b + 2, 4 * b + 3)
            for b in range(4)
        )})
    SELECT DISTINCT l.id AS id_a, r.id AS id_b
    FROM banded l JOIN banded r
      ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
    """,
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_dedup_pairs(
        docs, "doc_id", "text", shingle_n=3, bands=4, rows_per_band=4
    )


@register(
    "lsh_candidates_exact_jaccard",
    # two-stage dedup: LSH proposes, exact Jaccard disposes — scored
    # only over the candidate list, never all pairs
    oracle=f"""
    WITH shingles AS ({_DUCK_SHINGLES}),
    sig AS (
        SELECT id,
               {", ".join(f"min(substring(md5('seed{i // 4}:' || shingle), {8 * (i % 4) + 1}, 8)) AS mh_{i}" for i in range(16))}
        FROM shingles GROUP BY id),
    banded AS (
        {" UNION ALL ".join(
            "SELECT id, %d AS band, md5(mh_%d || '|' || mh_%d || '|' || mh_%d || '|' || mh_%d) AS bucket FROM sig"
            % (b, 4 * b, 4 * b + 1, 4 * b + 2, 4 * b + 3)
            for b in range(4)
        )}),
    cand AS (
        SELECT DISTINCT l.id AS id_a, r.id AS id_b
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS shared
        FROM cand c
        JOIN shingles sa ON sa.id = c.id_a
        JOIN shingles sb ON sb.id = c.id_b AND sb.shingle = sa.shingle
        GROUP BY c.id_a, c.id_b),
    sizes AS (SELECT id, count(*) AS n FROM shingles GROUP BY id)
    SELECT c.id_a, c.id_b,
           floor(CASE WHEN coalesce(na.n, 0) + coalesce(nb.n, 0)
                           - coalesce(i.shared, 0) > 0
                      THEN coalesce(i.shared, 0)
                           / CAST(coalesce(na.n, 0) + coalesce(nb.n, 0)
                                  - coalesce(i.shared, 0) AS DOUBLE)
                      ELSE 0.0 END * 1000000 + 0.5) / 1000000.0 AS jaccard
    FROM cand c
    LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
    LEFT JOIN sizes na ON na.id = c.id_a
    LEFT JOIN sizes nb ON nb.id = c.id_b
    """,
)
def lsh_candidates_exact_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage near-dup detection (operators.dedup.jaccard_for_pairs
    over minhash_lsh_dedup_pairs): LSH banding proposes candidates,
    exact shingle Jaccard scores ONLY those — the
    generate-then-verify flow production dedup uses, where the exact
    pass costs the candidates' shingle mass instead of an all-pairs
    posting join. Bucket-collision false positives surface with score
    0.0 for the caller's threshold to drop."""
    docs = load_table(spark, sf_dir, "documents")
    # shingles + candidates materialized once (two_stage_lsh_frames):
    # the scoring join references both from several branches, and
    # re-shingling is the dominant cost this side of 100 TB
    sh, _, pairs = dedup.two_stage_lsh_frames(
        docs, "doc_id", "text", shingle_n=3, bands=4, rows_per_band=4
    )
    return dedup.jaccard_for_pairs(pairs, sh)


@register(
    "dedup_incremental_exact",
    # corpus = doc_id % 4 == 0, batch = the rest; NOT EXISTS (not NOT
    # IN) so a null fingerprint — empty text — survives on both engines
    # exactly like Spark's null-key left-anti join
    oracle="""
    WITH fp AS (
        SELECT doc_id, source, lang,
               md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS f
        FROM documents),
    corpus AS (SELECT f FROM fp WHERE doc_id % 4 = 0)
    SELECT b.doc_id, b.source, b.lang
    FROM fp b
    WHERE b.doc_id % 4 <> 0
      AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.f = b.f)
    """,
)
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup (operators.dedup.
    exact_dedup_against_corpus): the new batch (doc_id % 4 != 0) keeps
    only documents whose normalization fingerprint is absent from the
    already-accepted corpus (doc_id % 4 == 0) — the per-batch shape of
    continuous ingestion, where re-deduplicating the whole union per
    batch would re-hash the corpus every time."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 4 == 0)
    batch = docs.where(F.col("doc_id") % 4 != 0)
    return dedup.exact_dedup_against_corpus(batch, corpus, "text").select(
        "doc_id", "source", "lang"
    )


@register(
    "dedup_incremental_lsh",
    oracle=f"""
    WITH shingles AS ({_DUCK_SHINGLES}),
    sig AS (
        SELECT id,
               {", ".join(f"min(substring(md5('seed{i // 4}:' || shingle), {8 * (i % 4) + 1}, 8)) AS mh_{i}" for i in range(16))}
        FROM shingles GROUP BY id),
    banded AS (
        {" UNION ALL ".join(
            "SELECT id, %d AS band, md5(mh_%d || '|' || mh_%d || '|' || mh_%d || '|' || mh_%d) AS bucket FROM sig"
            % (b, 4 * b, 4 * b + 1, 4 * b + 2, 4 * b + 3)
            for b in range(4)
        )}),
    flagged AS (
        SELECT DISTINCT n.id
        FROM banded n JOIN banded c
          ON n.band = c.band AND n.bucket = c.bucket
        WHERE n.id % 4 <> 0 AND c.id % 4 = 0)
    SELECT d.doc_id, d.source, d.lang
    FROM documents d
    WHERE d.doc_id % 4 <> 0
      AND NOT EXISTS (SELECT 1 FROM flagged f WHERE f.id = d.doc_id)
    """,
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup (operators.dedup.lsh_dedup_against_corpus):
    new-batch documents (doc_id % 4 != 0) sharing any MinHash LSH band
    bucket with the accepted corpus (doc_id % 4 == 0) are dropped. The
    probe is a left-semi on (band, bucket) — flagged ids, never
    candidate pairs, so output stays linear even against a corpus of
    near-copies."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 4 == 0)
    batch = docs.where(F.col("doc_id") % 4 != 0)
    return dedup.lsh_dedup_against_corpus(
        batch, corpus, "doc_id", "text", shingle_n=3, bands=4, rows_per_band=4
    ).select("doc_id", "source", "lang")


@register(
    "ngram_jaccard_pairs",
    # kept mirrors operators.dedup.shared_shingles' [2, max_df=100] band:
    # the hot-shingle cap is part of the declared semantics, so the
    # oracle reproduces it exactly (pair counts only over kept shingles;
    # per-doc sizes over ALL shingles).
    oracle=f"""
    WITH shingles AS ({_DUCK_SHINGLES}),
    sizes AS (SELECT id, count(*) AS n_sh FROM shingles GROUP BY id),
    kept AS (SELECT shingle FROM shingles
             GROUP BY shingle HAVING count(*) BETWEEN 2 AND 100),
    common AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.id < b.id
        WHERE a.shingle IN (SELECT shingle FROM kept)
        GROUP BY a.id, b.id)
    SELECT id_a, id_b,
           -- floor-settled: integer-ratio half-way cells are where
           -- round() flips across engines/DuckDB builds
           floor(n_common / (sa.n_sh + sb.n_sh - n_common)::DOUBLE
                 * 10000 + 0.5) / 10000.0 AS jaccard
    FROM common
    JOIN sizes sa ON id_a = sa.id
    JOIN sizes sb ON id_b = sb.id
    WHERE floor(n_common / (sa.n_sh + sb.n_sh - n_common)::DOUBLE
                * 10000 + 0.5) / 10000.0 >= 0.3
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.3, max_df=100
    )


# DuckDB twin of operators.dedup.simhash: the 64-bit token hash is the
# two 32-bit halves of md5(tok); bit 63's weight is the BIGINT MIN literal
# because DuckDB raises on 1::BIGINT << 63 (Spark's shiftleft wraps to the
# same two's-complement value).
_DUCK_SIMHASH_VOTES = ", ".join(
    f"sum(CASE WHEN (h_{'lo' if b < 32 else 'hi'} >> {b % 32}) & 1 = 1"
    f" THEN 1 ELSE -1 END) AS bit_{b}"
    for b in range(64)
)
_DUCK_SIMHASH_PACK = " + ".join(
    f"CASE WHEN bit_{b} > 0 THEN "
    + (f"(1::BIGINT << {b})" if b < 63 else "(-9223372036854775808)::BIGINT")
    + " ELSE 0::BIGINT END"
    for b in range(64)
)


@register(
    "simhash_fingerprints",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id AS id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents),
    h AS (
        SELECT id,
               CAST(concat('0x', substring(md5(tok), 1, 8)) AS BIGINT) AS h_lo,
               CAST(concat('0x', substring(md5(tok), 9, 8)) AS BIGINT) AS h_hi
        FROM toks WHERE length(tok) > 0),
    v AS (SELECT id, {_DUCK_SIMHASH_VOTES} FROM h GROUP BY id)
    SELECT id, {_DUCK_SIMHASH_PACK} AS simhash FROM v
    """,
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs, "doc_id", "text")


@register(
    "eval_contamination",
    # eval set = every 97th doc (deterministic stand-in for a benchmark
    # suite); training docs counted by DISTINCT overlapping shingles
    oracle=f"""
    WITH shingles AS ({_DUCK_SHINGLES}),
    eval_sh AS (SELECT DISTINCT shingle FROM shingles WHERE id % 97 = 0)
    SELECT t.id AS doc_id, count(*) AS n_contaminated_shingles
    FROM shingles t JOIN eval_sh USING (shingle)
    WHERE t.id % 97 <> 0
    GROUP BY t.id
    """,
)
def eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators.dedup.
    cross_corpus_contamination): training docs sharing any word trigram
    with the eval split; the eval shingle set broadcasts, so the
    training corpus never shuffles for the probe."""
    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    return dedup.cross_corpus_contamination(
        train, eval_df, "doc_id", "text", n=3
    ).withColumnRenamed("id", "doc_id")


@register(
    "eval_contamination_fraction",
    # the filter-policy view of decontamination: overlap as a FRACTION
    # of each training doc's distinct shingles, thresholded — absolute
    # counts flag long documents that share one boilerplate trigram,
    # fractions flag documents that substantially ARE the eval item
    oracle=f"""
    WITH shingles AS ({_DUCK_SHINGLES}),
    eval_sh AS (SELECT DISTINCT shingle FROM shingles WHERE id % 97 = 0),
    contam AS (
        SELECT t.id, count(*) AS n_contaminated
        FROM shingles t JOIN eval_sh USING (shingle)
        WHERE t.id % 97 <> 0 GROUP BY t.id),
    totals AS (
        SELECT id, count(*) AS n_shingles FROM shingles
        WHERE id % 97 <> 0 GROUP BY id)
    SELECT c.id AS doc_id, c.n_contaminated, t.n_shingles,
           floor(c.n_contaminated / CAST(t.n_shingles AS DOUBLE)
                 * 10000 + 0.5) / 10000.0
               AS contaminated_frac
    FROM contam c JOIN totals t USING (id)
    WHERE c.n_contaminated / CAST(t.n_shingles AS DOUBLE) >= 0.05
    """,
)
def eval_contamination_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination with a fractional threshold: training documents
    whose distinct-trigram overlap with the eval split is at least 5%
    of their own shingle set (operators.dedup.cross_corpus_contamination
    joined against per-doc shingle totals). The fraction — not the raw
    count — is what a drop policy should threshold on, or every long
    document sharing one boilerplate phrase gets flagged."""
    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    contam = dedup.cross_corpus_contamination(
        train, eval_df, "doc_id", "text", n=3
    ).withColumnRenamed("n_contaminated_shingles", "n_contaminated")
    totals = (
        dedup.word_shingles(train, "doc_id", "text", n=3)
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
    )
    frac = F.col("n_contaminated") / F.col("n_shingles").cast("double")
    return (
        contam.join(totals, on="id")
        .where(frac >= 0.05)
        .select(
            F.col("id").alias("doc_id"),
            "n_contaminated",
            "n_shingles",
            settled_round(frac, 4).alias("contaminated_frac"),
        )
    )


# non-DISTINCT twin of _DUCK_SHINGLES for duplicate-sensitive consumers
_DUCK_SHINGLES_ALL = _DUCK_SHINGLES.replace("SELECT DISTINCT", "SELECT", 1)


@register(
    "document_repetition",
    oracle=f"""
    WITH sh AS ({_DUCK_SHINGLES_ALL})
    SELECT id AS doc_id,
           count(*) AS n_grams,
           count(DISTINCT shingle) AS n_distinct_grams,
           floor((count(*) - count(DISTINCT shingle))
                 / count(*)::DOUBLE * 10000 + 0.5) / 10000.0 AS dup_gram_ratio
    FROM sh GROUP BY id
    """,
)
def document_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signal (operators.dedup.
    repetition_stats): duplicate-trigram fraction per document."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.repetition_stats(docs, "doc_id", "text", n=3).withColumnRenamed(
        "id", "doc_id"
    )


@register(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id AS id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents),
    tf AS (SELECT id, term, count(*) AS tf FROM toks
           WHERE length(term) > 0 GROUP BY id, term),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(DISTINCT id) AS n_docs FROM tf),
    scored AS (
        SELECT tf.id, tf.term, tf.tf,
               floor(tf.tf * ln(n.n_docs / dfreq.df) * 10000 + 0.5)
                   / 10000.0 AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n)
    SELECT id AS doc_id, term, tf, tfidf, CAST(rn AS INT) AS rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY id ORDER BY tfidf DESC, term) AS rn
        FROM scored) t
    WHERE rn <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (operators.terms.tf_idf_top_terms):
    scores rounded to 4dp BEFORE ranking so cross-engine ordering is
    stable; corpus size joins in as a broadcast one-row aggregate."""
    from news_data_pipeline_spark.operators.terms import tf_idf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tf_idf_top_terms(docs, "doc_id", "text", k=3).withColumnRenamed(
        "id", "doc_id"
    )


@register(
    "bm25_search",
    oracle="""
    WITH toks AS (
        SELECT doc_id AS id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents),
    tf AS (SELECT id, term, count(*) AS tf FROM toks
           WHERE length(term) > 0 GROUP BY id, term),
    dl AS (SELECT id, sum(tf) AS dl FROM tf GROUP BY id),
    stats AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl),
    qtf AS (SELECT * FROM tf WHERE term IN ('spark', 'hash', 'join')),
    dfreq AS (SELECT term, count(*) AS df FROM qtf GROUP BY term),
    contrib AS (
        SELECT qtf.id,
               ln((n_docs - df + 0.5) / (df + 0.5) + 1)
                 * qtf.tf * (1.2 + 1)
                 / (qtf.tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl)) AS c
        FROM qtf JOIN dfreq USING (term) JOIN dl USING (id) CROSS JOIN stats)
    -- per-term 6dp settle before the sum (order-independent), final
    -- 4dp settle on the exact integer sum — mirrors operators.terms
    SELECT id AS doc_id,
           floor(sum(CAST(floor(c * 1000000 + 0.5) AS BIGINT)) / 1000000.0
                 * 10000 + 0.5) / 10000.0 AS bm25
    FROM contrib GROUP BY id
    ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents for the query {spark, hash, join} under BM25
    (operators.terms.bm25_rank): one row-local tokenize per document,
    the one-row (avgdl, N, df per term) stats broadcast into the
    exploded postings, global top-k via TakeOrderedAndProject.
    The oracle repeats the arithmetic sub-expression-for-sub-expression
    ((1.2 + 1), (0.25 + 0.75*...)) so both engines round the same
    doubles."""
    from news_data_pipeline_spark.operators.terms import bm25_rank

    docs = load_table(spark, sf_dir, "documents")
    return bm25_rank(docs, "doc_id", "text", ["spark", "hash", "join"], k=10)\
        .withColumnRenamed("id", "doc_id")


# --- similarity search -------------------------------------------------------
_DUCK_COSINE_SCORE = """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, v.vec_id AS neighbor_id,
               round(list_dot_product(qe, e)
                     / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))),
                     6) AS cosine_sim
        FROM q, v WHERE v.vec_id <> q.query_id{bucket_filter})
    SELECT query_id, neighbor_id, cosine_sim, CAST(rn AS INT) AS rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rn
        FROM scored) t
    WHERE rn <= 5
"""


@register(
    "cosine_topk_bruteforce",
    oracle=_DUCK_COSINE_SCORE.format(bucket_filter=""),
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return similarity.cosine_topk(emb, queries, k=5)


@register(
    "cosine_topk_arrow_sign",
    oracle="""
    -- lambda-free: list_transform/arrow-lambda is the DuckDB surface
    -- that has changed across releases (r5 red class). Sign-vector
    -- cosine folds to a positional agreement count: cos = (#agree -
    -- #disagree)/64, an exact multiple of 1/64 (6 decimal digits, so
    -- no rounding is even needed to match Spark's 6dp round).
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings WHERE embedding IS NOT NULL),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
    pos AS (SELECT unnest(range(1, 65)) AS i),
    sims AS (
        SELECT q.query_id, v.vec_id AS neighbor_id,
               sum(CASE WHEN (q.qe[pos.i] >= 0) = (v.e[pos.i] >= 0)
                        THEN 1 ELSE -1 END) / 64.0 AS cosine_sim
        FROM q JOIN v ON q.query_id <> v.vec_id
        CROSS JOIN pos
        GROUP BY q.query_id, v.vec_id)
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
        SELECT query_id, neighbor_id, cosine_sim,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine_sim DESC, neighbor_id) AS rank
        FROM sims) t
    WHERE rank <= 5
    """,
)
def cosine_topk_arrow_sign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine through the Arrow-batched BLAS scorer
    (operators.similarity.cosine_topk_arrow) — the production scoring
    path — made oracle-exact by sign-binarizing the vectors first.

    The BLAS matrix multiply sums in blocked/pairwise order while SQL
    engines fold sequentially, so raw-float cosines can differ in the
    last ulp and flip a 6dp round. Sign vectors (components +-1, dim 64)
    eliminate the gap: every norm is exactly 8, every normalized
    component is exactly +-1/8, and every cosine is an integer multiple
    of 1/64 — all exactly representable doubles, so ANY summation order
    yields identical bits and the oracle comparison is exact, while the
    query still drives the real scorer end-to-end (broadcast query
    matrix, per-partition matmul + local top-k, self-pair masking,
    global re-rank)."""
    emb = load_table(spark, sf_dir, "embeddings")
    sign_vec = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.when(x >= 0, F.lit(1.0)).otherwise(F.lit(-1.0)),
    )
    signed = emb.select("vec_id", sign_vec.alias("embedding"))
    queries = signed.where(F.col("vec_id") < 10)
    return similarity.cosine_topk_arrow(signed, queries, k=5)


def _duck_sign_bucket(side: str) -> str:
    bits = " || ".join(
        f"CASE WHEN {side}[{i + 1}] >= 0 THEN '1' ELSE '0' END" for i in range(8)
    )
    return f"({bits})"


@register(
    "cosine_topk_signbucket",
    oracle=_DUCK_COSINE_SCORE.format(
        bucket_filter=(
            f"\n          AND {_duck_sign_bucket('qe')} = {_duck_sign_bucket('e')}"
        )
    ),
)
def cosine_topk_signbucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return similarity.signbucket_topk(emb, queries, k=5, m=8)


def _duck_sign_bucket_at(side: str, offset: int, m: int = 8) -> str:
    bits = " || ".join(
        f"CASE WHEN {side}[{offset + j + 1}] >= 0 THEN '1' ELSE '0' END"
        for j in range(m)
    )
    return f"({bits})"


@register(
    "cosine_topk_multitable",
    # candidate iff the pair collides in ANY of the 4 tables (OR over
    # per-table bucket equalities) — the amplification the Spark side
    # realizes as explode + per-table equi-join + distinct
    oracle=_DUCK_COSINE_SCORE.format(
        bucket_filter=(
            "\n          AND ("
            + " OR ".join(
                f"{_duck_sign_bucket_at('qe', t * 8)}"
                f" = {_duck_sign_bucket_at('e', t * 8)}"
                for t in range(4)
            )
            + ")"
        )
    ),
)
def cosine_topk_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-amplified multi-table sign-LSH
    (operators.similarity.signbucket_topk, 4 tables x 8 sign bits):
    the recall lever over the single-table cosine_topk_signbucket — a
    true neighbor is missed only if its signs differ from the query's
    in EVERY table's projection, so the miss probability multiplies
    per table. Measured on this corpus at
    sf0.01 vs the exact scan: single-table recall@5 0.02 -> 4-table
    0.12 — a 6x amplification for 4x candidate-scoring work, and an
    honest reading of the family itself: 8 axis-aligned sign bits
    are a WEAK hash on these embeddings (a true neighbor rarely
    matches all 8 signs), so production settings move the same two
    dials this operator exposes (more tables, fewer bits/table)
    or switch to the IVF family, whose corpus-trained cells reach
    0.90 recall at nprobe=1 (ann_recall_nprobe_curve) — the
    data-dependent vs data-independent partitioning gap, measured."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return similarity.signbucket_topk(emb, queries, k=5, m=8, tables=4)


@register(
    "embedding_label_stats",
    oracle="""
    WITH v AS (SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    SELECT label,
           count(*) AS n_vectors,
           floor(sum(CAST(floor(sqrt(list_dot_product(e, e))
                                 * 10000000000 + 0.5) AS BIGINT))
                 / 10000000000.0 / count(*) * 1000000 + 0.5) / 1000000.0
               AS avg_norm
    FROM v GROUP BY label
    """,
)
def embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        # per-row 10dp settle before the mean (avg(double) is
        # summation-order-dependent; the BIGINT sum is exact)
        settled_round(
            F.sum(settled_units(similarity.l2_norm(vec), 10))
            / 1e10
            / F.count(F.lit(1)),
            6,
        ).alias("avg_norm"),
    )


# --- multimodal plumbing -----------------------------------------------------
@register(
    "binary_column_metadata",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text)                  AS content_hash
    FROM documents
    """,
)
def binary_column_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column plumbing: payloads as ``binary`` + typed
    metadata. Decode/feature-extract for real media lives in
    ``multimodal`` (stubbed — no codec libs in this container); the
    Spark-side schema/UDF plumbing is real and tested."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.length(payload).cast("long").alias("n_bytes"),
        F.md5(payload).alias("content_hash"),
    )


@register(
    "multimodal_image_features",
    # Full pixel-path oracle: the fake container's pixels are an
    # iterated-md5 HEX chain (operators.multimodal.fake_image_bytes), so
    # DuckDB regenerates them from the same documents rows — dims, mean
    # intensity (pinned half-up rounding), and the hex-encoded pixel hash
    # all recompute exactly. The payload bytes never leave Spark; the
    # oracle is an independent recomputation from the shared inputs.
    oracle="""
    WITH p AS (
        SELECT doc_id, coalesce(text, '') AS t,
               4 + doc_id % 8 AS width,
               4 + doc_id % 4 AS height
        FROM documents),
    c AS (SELECT doc_id, width, height, md5(t) AS h1 FROM p),
    c2 AS (SELECT *, md5(h1) AS h2 FROM c),
    c3 AS (SELECT *, md5(h2) AS h3 FROM c2),
    c4 AS (SELECT *, md5(h3) AS h4 FROM c3),
    c5 AS (SELECT *, md5(h4) AS h5 FROM c4),
    px AS (
        SELECT doc_id, width, height,
               substring(h1 || h2 || h3 || h4 || h5, 1, 2 * width * height) AS hx
        FROM c5),
    vals AS (
        SELECT doc_id,
               CAST(concat('0x', substring(hx, 2 * i - 1, 2)) AS INT) AS v
        FROM px, LATERAL unnest(range(1, width * height + 1)) AS u(i)),
    sums AS (SELECT doc_id, sum(v) AS sumpx FROM vals GROUP BY doc_id)
    SELECT p2.doc_id, p2.width, p2.height,
           floor(sumpx / (p2.width * p2.height)::DOUBLE * 10000 + 0.5) / 10000
               AS mean_pixel,
           md5(hx) AS pixel_hash
    FROM px p2 JOIN sums USING (doc_id)
    """,
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode fan-out over synthesized image payloads: documents.text
    seeds a deterministic fake image per doc (dims from doc_id), decoded
    to typed features via Arrow-batched mapInPandas. The payload builder
    runs distributed too — no driver-side materialization."""
    from news_data_pipeline_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        mm.fake_image_bytes(t or "", 4 + int(i) % 8, 4 + int(i) % 4)
                        for i, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    images = fan_out(docs).mapInPandas(build, "doc_id long, payload binary")
    return mm.decode_images(images, "doc_id", "payload").select(
        F.col("id").alias("doc_id"), "width", "height", "mean_pixel", "pixel_hash"
    )


@register(
    "multimodal_frame_stats",
    # Independent recomputation of the container arithmetic: n_frames is
    # 4 + doc_id % 4, sampling keeps every 2nd frame (ceil(n/2)), and
    # each sampled frame re-wraps as a 20-byte FIMG payload (4 magic +
    # 8 dims + 4*2 pixels) — a wrong header parse or off-by-one in
    # sample_frames breaks the count or the byte sum.
    oracle="""
    WITH top100 AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 100)
    SELECT doc_id,
           (4 + doc_id % 4 + 1) // 2        AS n_sampled_frames,
           ((4 + doc_id % 4 + 1) // 2) * 20 AS sampled_bytes
    FROM top100
    """,
)
def multimodal_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sample fan-out: synthesized per-doc fake videos exploded to
    every-2nd frame, then aggregated — the bounded row-expansion shape a
    video pipeline uses at scale."""
    from news_data_pipeline_spark.operators import multimodal as mm

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .orderBy("doc_id")
        .limit(100)
    )

    def build(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        mm.fake_video_bytes(str(i), 4 + int(i) % 4, 4, 2)
                        for i in pdf["doc_id"]
                    ],
                }
            )

    # no fan_out here: the orderBy+limit upstream is a wide plan the
    # guard rejects, and the LIMIT bounds the build to 100 rows at any
    # corpus size — a single-task decode of 100 fakes is fine
    vids = docs.mapInPandas(build, "doc_id long, payload binary")
    frames = mm.sample_frames(vids, "doc_id", "payload", every=2)
    return frames.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_sampled_frames"),
        F.sum(F.length("payload")).alias("sampled_bytes"),
    ).select(F.col("id").alias("doc_id"), "n_sampled_frames", "sampled_bytes")


# 16-bin intensity histogram in SQL: with dim=16, a pixel byte's bin is
# its HIGH NIBBLE — i.e. the first hex char of its pair in the pixel hex
# chain, so the embedding recomputes from characters alone.
_DUCK_IMG_EMB = """
    WITH p AS (
        SELECT doc_id, coalesce(text, '') AS t,
               4 + doc_id % 8 AS w, 4 + doc_id % 4 AS h
        FROM documents),
    c1 AS (SELECT doc_id, w, h, md5(t) AS h1 FROM p),
    c2 AS (SELECT *, md5(h1) AS h2 FROM c1),
    c3 AS (SELECT *, md5(h2) AS h3 FROM c2),
    c4 AS (SELECT *, md5(h3) AS h4 FROM c3),
    c5 AS (SELECT *, md5(h4) AS h5 FROM c4),
    px AS (
        SELECT doc_id, w * h AS total,
               substring(h1 || h2 || h3 || h4 || h5, 1, 2 * w * h) AS hx
        FROM c5),
    nib AS (
        SELECT doc_id, total, substring(hx, 2 * i - 1, 1) AS nibble
        FROM px, LATERAL unnest(range(1, total + 1)) AS u(i)),
    emb AS (
        SELECT doc_id, [{bins}] AS e
        FROM nib GROUP BY doc_id)
""".format(
    # floor-settled integer ratio (bin count / pixel count)
    bins=", ".join(
        f"floor(sum(CASE WHEN nibble = '{x:x}' THEN 1 ELSE 0 END)"
        f" / any_value(total)::DOUBLE * 1000000 + 0.5) / 1000000.0"
        for x in range(16)
    )
)


@register(
    "multimodal_embedding_topk",
    oracle=f"""
    {_DUCK_IMG_EMB},
    q AS (SELECT doc_id AS query_id, e AS qe FROM emb WHERE doc_id < 10),
    scored AS (
        SELECT q.query_id, emb.doc_id AS neighbor_id,
               round(list_dot_product(qe, e)
                     / nullif(sqrt(list_dot_product(qe, qe))
                              * sqrt(list_dot_product(e, e)), 0.0),
                     6) AS cosine_sim
        FROM q, emb WHERE emb.doc_id <> q.query_id)
    SELECT query_id, neighbor_id, cosine_sim, CAST(rn AS INT) AS rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rn
        FROM scored WHERE cosine_sim IS NOT NULL) t
    WHERE rn <= 5
    """,
)
def multimodal_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal-to-ANN composition in one Catalyst plan:
    synthesize image payloads (mapInPandas) -> decode + embed as 16-bin
    intensity histograms (operators.multimodal.image_embeddings) ->
    exact cosine top-k against the first-10-doc query set
    (operators.similarity.cosine_topk). Every stage hash-verified: the
    oracle regenerates pixels from the md5 hex chain and exploits that a
    byte's 16-bin histogram bin IS its high hex nibble."""
    from news_data_pipeline_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        mm.fake_image_bytes(t or "", 4 + int(i) % 8, 4 + int(i) % 4)
                        for i, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    images = fan_out(docs).mapInPandas(build, "doc_id long, payload binary")
    emb = mm.image_embeddings(images, "doc_id", "payload", dim=16)
    # Build the query side from PRE-FILTERED docs: filters can't push
    # through mapInPandas, so emb.where(id < 10) would re-run the full
    # synthesize+decode+embed pipeline over every document just to keep
    # 10 rows — this path decodes exactly the 10 query docs.
    q_images = fan_out(docs.where(F.col("doc_id") < 10)).mapInPandas(
        build, "doc_id long, payload binary"
    )
    queries = mm.image_embeddings(q_images, "doc_id", "payload", dim=16)
    return similarity.cosine_topk(emb, queries, id_col="id", k=5)


@register(
    "embedding_neardup_pairs",
    oracle="""
    WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    SELECT a.id AS id_a, b.id AS id_b,
           round(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
                 6) AS cosine_sim
    FROM v a
    JOIN v b
      ON a.id < b.id
     AND (CASE WHEN a.e[1] >= 0 THEN '1' ELSE '0' END || CASE WHEN a.e[2] >= 0 THEN '1' ELSE '0' END || CASE WHEN a.e[3] >= 0 THEN '1' ELSE '0' END || CASE WHEN a.e[4] >= 0 THEN '1' ELSE '0' END || CASE WHEN a.e[5] >= 0 THEN '1' ELSE '0' END || CASE WHEN a.e[6] >= 0 THEN '1' ELSE '0' END || CASE WHEN a.e[7] >= 0 THEN '1' ELSE '0' END || CASE WHEN a.e[8] >= 0 THEN '1' ELSE '0' END)
       = (CASE WHEN b.e[1] >= 0 THEN '1' ELSE '0' END || CASE WHEN b.e[2] >= 0 THEN '1' ELSE '0' END || CASE WHEN b.e[3] >= 0 THEN '1' ELSE '0' END || CASE WHEN b.e[4] >= 0 THEN '1' ELSE '0' END || CASE WHEN b.e[5] >= 0 THEN '1' ELSE '0' END || CASE WHEN b.e[6] >= 0 THEN '1' ELSE '0' END || CASE WHEN b.e[7] >= 0 THEN '1' ELSE '0' END || CASE WHEN b.e[8] >= 0 THEN '1' ELSE '0' END)
    WHERE round(list_dot_product(a.e, b.e)
                / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
                6) >= 0.3
    """,
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: sign-bucket blocking + in-bucket
    cosine threshold (operators.dedup.embedding_neardup_pairs)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.embedding_neardup_pairs(emb, threshold=0.3, m=8)


@register(
    "winnow_fingerprints",
    oracle="""
    WITH norm AS (
        SELECT doc_id AS id,
               lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
        FROM documents),
    grams AS (
        SELECT id, i AS pos, substring(md5(substring(t, i + 1, 8)), 1, 8) AS h
        FROM norm, LATERAL unnest(range(0, greatest(length(t) - 8, 0) + 1)) AS u(i))
    SELECT DISTINCT id,
           min(h) OVER (PARTITION BY id ORDER BY pos
                        RANGE BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint
    FROM grams
    """,
)
def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling k-gram hash, min-sampled) fingerprints
    (operators.dedup.winnow_fingerprints; k=8, window=4)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.winnow_fingerprints(docs, "doc_id", "text", k=8, window=4)


@register(
    "cosine_topk_ivf",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cent AS (SELECT vec_id AS cid, e AS c FROM v ORDER BY vec_id LIMIT 16),
    corpus_assign AS (
        SELECT vec_id AS neighbor_id, e, cid FROM (
            SELECT v.vec_id, v.e, cent.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round(-2 * list_dot_product(v.e, cent.c)
                                      + list_dot_product(cent.c, cent.c), 6),
                                cid) AS r
            FROM v CROSS JOIN cent) t
        WHERE r = 1),
    query_probe AS (
        SELECT vec_id AS query_id, e AS qe, cid FROM (
            SELECT v.vec_id, v.e, cent.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round(-2 * list_dot_product(v.e, cent.c)
                                      + list_dot_product(cent.c, cent.c), 6),
                                cid) AS r
            FROM v CROSS JOIN cent
            WHERE v.vec_id < 10) t
        WHERE r <= 4)
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
        SELECT q.query_id, c.neighbor_id,
               round(list_dot_product(q.qe, c.e)
                     / (sqrt(list_dot_product(q.qe, q.qe))
                        * sqrt(list_dot_product(c.e, c.e))), 6) AS cosine_sim,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(list_dot_product(q.qe, c.e)
                                  / (sqrt(list_dot_product(q.qe, q.qe))
                                     * sqrt(list_dot_product(c.e, c.e))), 6) DESC,
                            c.neighbor_id) AS rank
        FROM query_probe q JOIN corpus_assign c ON q.cid = c.cid
        WHERE q.query_id <> c.neighbor_id) t
    WHERE rank <= 5
    """,
)
def cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (operators.similarity.ivf_topk): nlist=16 cells,
    nprobe=4, deterministic centroid stub (first 16 vectors by id)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return similarity.ivf_topk(emb, queries, k=5, nlist=16, nprobe=4)


@register(
    "ivf_kmeans_centroids",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cent AS (SELECT vec_id AS cid, e AS c FROM v ORDER BY vec_id LIMIT 8),
    assigned AS (
        SELECT cid, e FROM (
            SELECT v.vec_id, v.e, cent.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round(-2 * list_dot_product(v.e, cent.c)
                                      + list_dot_product(cent.c, cent.c), 6),
                                cid) AS r
            FROM v CROSS JOIN cent) t
        WHERE r = 1),
    by_pos AS (
        SELECT cid, u.pos - 1 AS pos, round(avg(e[u.pos]), 6) AS value
        FROM assigned, LATERAL unnest(range(1, len(e) + 1)) AS u(pos)
        GROUP BY cid, u.pos),
    seed_pos AS (
        SELECT cid, u.pos - 1 AS pos, c[u.pos] AS value
        FROM cent, LATERAL unnest(range(1, len(c) + 1)) AS u(pos))
    SELECT s.cid, s.pos, coalesce(b.value, s.value) AS value
    FROM seed_pos s LEFT JOIN by_pos b ON s.cid = b.cid AND s.pos = b.pos
    """,
)
def ivf_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF centroid training in-engine (operators.similarity.
    kmeans_iterate): one Lloyd iteration from the deterministic seed
    centroids ``ivf_topk`` defaults to (first 8 vectors by id) — the
    assignment uses the identical rounded-distance + cid tie-break rule
    as probing, so trained cells and probe cells agree exactly.

    Output is reshaped to scalar ``(cid, pos, value)`` rows — one row
    per centroid component via ``posexplode`` — because harness
    canonicalizers hash sorted scalar columns and cannot factorize a
    top-level ``array<double>`` cell. Empty cells keep their seed
    centroid (standard Lloyd), mirrored by the oracle's LEFT JOIN onto
    the exploded seeds."""
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = similarity._centroids(None, emb, nlist=8)
    trained = similarity.kmeans_iterate(emb, seeds, iters=1)
    return trained.select(
        "cid", F.posexplode("centroid").alias("pos", "value")
    )


@register(
    "embedding_covariance",
    # population covariance per (i, j): three aggregates over the
    # double-exploded components, identical grouping on both engines
    oracle="""
    WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings
               WHERE embedding IS NOT NULL)
    SELECT ui.i - 1 AS i, uj.j - 1 AS j,
           -- + 0.0 folds IEEE -0.0 to +0.0 (repr-sorted canonicalizers
           -- misalign otherwise)
           floor((avg(e[ui.i] * e[uj.j]) - avg(e[ui.i]) * avg(e[uj.j]))
                 * 1000000 + 0.5) / 1000000.0
               + 0.0 AS cov
    FROM v,
         LATERAL unnest(range(1, len(e) + 1)) AS ui(i),
         LATERAL unnest(range(1, len(e) + 1)) AS uj(j)
    GROUP BY ui.i, uj.j
    """,
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding covariance matrix as scalar (i, j, cov) rows
    (operators.similarity.embedding_covariance) — the distributed half
    of PCA: d^2 map-side-combined aggregates, corpus-size-independent
    output; ``pca_project`` eigendecomposes these 64x64 values
    driver-side and projects with a broadcast literal."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_covariance(emb, "embedding")


@register(
    "ivf_kmeans_two_iters",
    # two unrolled Lloyd iterations: round-1 means (6dp, empty cells
    # keep seeds) become round-2 centroids; output is the exploded
    # scalar (cid, pos, value) shape the harness can canonicalize
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cent0 AS (SELECT vec_id AS cid, e AS c FROM v ORDER BY vec_id LIMIT 8),
    a1 AS (
        SELECT cid, e FROM (
            SELECT v.vec_id, v.e, cent0.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round(-2 * list_dot_product(v.e, cent0.c)
                                      + list_dot_product(cent0.c, cent0.c), 6),
                                cid) AS r
            FROM v CROSS JOIN cent0) t
        WHERE r = 1),
    bp1 AS (
        SELECT cid, u.pos, round(avg(e[u.pos]), 6) AS m
        FROM a1, LATERAL unnest(range(1, len(e) + 1)) AS u(pos)
        GROUP BY cid, u.pos),
    nc1 AS (SELECT cid, list(m ORDER BY pos) AS c FROM bp1 GROUP BY cid),
    cent1 AS (
        SELECT cent0.cid, coalesce(nc1.c, cent0.c) AS c
        FROM cent0 LEFT JOIN nc1 USING (cid)),
    a2 AS (
        SELECT cid, e FROM (
            SELECT v.vec_id, v.e, cent1.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round(-2 * list_dot_product(v.e, cent1.c)
                                      + list_dot_product(cent1.c, cent1.c), 6),
                                cid) AS r
            FROM v CROSS JOIN cent1) t
        WHERE r = 1),
    bp2 AS (
        SELECT cid, u.pos - 1 AS pos, round(avg(e[u.pos]), 6) AS value
        FROM a2, LATERAL unnest(range(1, len(e) + 1)) AS u(pos)
        GROUP BY cid, u.pos),
    seed2 AS (
        SELECT cid, u.pos - 1 AS pos, c[u.pos] AS value
        FROM cent1, LATERAL unnest(range(1, len(c) + 1)) AS u(pos))
    SELECT s.cid, s.pos, coalesce(b.value, s.value) AS value
    FROM seed2 s LEFT JOIN bp2 b ON s.cid = b.cid AND s.pos = b.pos
    """,
)
def ivf_kmeans_two_iters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations (operators.similarity.kmeans_iterate,
    iters=2): pins the iteration COMPOSITION — round-1 means, rounded
    to the 6dp the distance rule expects, are re-planted as literal
    round-2 centroids, and the oracle unrolls both assignments with the
    identical rounded-distance + cid tie-break. The constant-size-plan
    contract (collect nlist rows, re-seed a literal frame per pass) is
    exactly what this exercises cross-engine."""
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = similarity._centroids(None, emb, nlist=8)
    trained = similarity.kmeans_iterate(emb, seeds, iters=2)
    return trained.select(
        "cid", F.posexplode("centroid").alias("pos", "value")
    )


@register(
    "lsh_dedup_representatives",
    # exact oracle: the 3 label-propagation iterations unrolled as CTEs
    oracle="""
    WITH shingles AS (
        SELECT DISTINCT id, concat_ws(' ', ws[i], ws[i+1], ws[i+2]) AS shingle
        FROM (SELECT doc_id AS id,
                     regexp_split_to_array(trim(text), '\\s+') AS ws,
                     unnest(range(1, greatest(len(regexp_split_to_array(trim(text), '\\s+')) - 2, 1) + 1)) AS i
              FROM documents) t
        WHERE concat_ws(' ', ws[i], ws[i+1], ws[i+2]) <> ''),
    sig AS (SELECT id, min(substring(md5('seed0:' || shingle), 1, 8)) AS mh_0, min(substring(md5('seed0:' || shingle), 9, 8)) AS mh_1, min(substring(md5('seed0:' || shingle), 17, 8)) AS mh_2, min(substring(md5('seed0:' || shingle), 25, 8)) AS mh_3, min(substring(md5('seed1:' || shingle), 1, 8)) AS mh_4, min(substring(md5('seed1:' || shingle), 9, 8)) AS mh_5, min(substring(md5('seed1:' || shingle), 17, 8)) AS mh_6, min(substring(md5('seed1:' || shingle), 25, 8)) AS mh_7, min(substring(md5('seed2:' || shingle), 1, 8)) AS mh_8, min(substring(md5('seed2:' || shingle), 9, 8)) AS mh_9, min(substring(md5('seed2:' || shingle), 17, 8)) AS mh_10, min(substring(md5('seed2:' || shingle), 25, 8)) AS mh_11, min(substring(md5('seed3:' || shingle), 1, 8)) AS mh_12, min(substring(md5('seed3:' || shingle), 9, 8)) AS mh_13, min(substring(md5('seed3:' || shingle), 17, 8)) AS mh_14, min(substring(md5('seed3:' || shingle), 25, 8)) AS mh_15 FROM shingles GROUP BY id),
    member AS (SELECT id, concat('0', '#', md5(mh_0 || '|' || mh_1 || '|' || mh_2 || '|' || mh_3)) AS bucket FROM sig UNION ALL SELECT id, concat('1', '#', md5(mh_4 || '|' || mh_5 || '|' || mh_6 || '|' || mh_7)) AS bucket FROM sig UNION ALL SELECT id, concat('2', '#', md5(mh_8 || '|' || mh_9 || '|' || mh_10 || '|' || mh_11)) AS bucket FROM sig UNION ALL SELECT id, concat('3', '#', md5(mh_12 || '|' || mh_13 || '|' || mh_14 || '|' || mh_15)) AS bucket FROM sig),
    l0 AS (SELECT DISTINCT id, id AS label FROM member),
    b1 AS (SELECT m.bucket, min(l.label) AS bl FROM member m JOIN l0 l USING (id) GROUP BY m.bucket),
    l1 AS (SELECT m.id, min(b.bl) AS label FROM member m JOIN b1 b USING (bucket) GROUP BY m.id),
    b2 AS (SELECT m.bucket, min(l.label) AS bl FROM member m JOIN l1 l USING (id) GROUP BY m.bucket),
    l2 AS (SELECT m.id, min(b.bl) AS label FROM member m JOIN b2 b USING (bucket) GROUP BY m.id),
    b3 AS (SELECT m.bucket, min(l.label) AS bl FROM member m JOIN l2 l USING (id) GROUP BY m.bucket),
    l3 AS (SELECT m.id, min(b.bl) AS label FROM member m JOIN b3 b USING (bucket) GROUP BY m.id)
    SELECT d.doc_id AS id, coalesce(l.label, d.doc_id) AS rep
    FROM documents d LEFT JOIN l3 l ON l.id = d.doc_id
""",
)
def lsh_dedup_reps_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative dedup (operators.dedup.
    lsh_dedup_representatives): one (id, rep) row per document, linear
    output even on duplicate-heavy corpora where the pair enumeration
    is quadratic per cluster."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.lsh_dedup_representatives(
        docs, "doc_id", "text", bands=4, rows_per_band=4, materialize=True
    )


@register(
    "documents_pii_redacted",
    oracle="""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'), '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g'), '\\+?\\d[\\d\\s().-]{7,}\\d', '<PHONE>', 'g') AS clean_text,
           len(regexp_extract_all(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'), '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g'), '\\+?\\d[\\d\\s().-]{7,}\\d', '<PHONE>', 'g'), '<EMAIL>|<IP>|<SSN>|<PHONE>')) AS n_pii
    FROM documents
    """,
)
def documents_pii_redacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII hygiene pass (functions.text.redact_pii): typed placeholders
    for email/IP/SSN/phone-shaped spans + per-doc PII counts — all
    codegen'd regexp chains, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.redact_pii(F.col("text")).alias("clean_text"),
        T.pii_count(F.col("text")).cast("long").alias("n_pii"),
    )


@register(
    "dataset_splits",
    oracle="""
    WITH b AS (
        SELECT CAST(concat('0x', substring(
                   md5('split:' || coalesce(CAST(doc_id AS VARCHAR), '<NULL>')), 1, 8)) AS BIGINT)
               % 10000 AS bucket
        FROM documents)
    SELECT CASE WHEN bucket < 8000 THEN 'train'
                WHEN bucket < 9000 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs
    FROM b GROUP BY 1
    """,
)
def dataset_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (operators.sampling):
    membership is a pure hash of doc_id — stable across runs, engines,
    and repartitioning, unlike randomSplit."""
    from news_data_pipeline_spark.operators.sampling import assign_splits

    docs = load_table(spark, sf_dir, "documents")
    return (
        assign_splits(
            docs, "doc_id", weights={"train": 0.8, "val": 0.1, "test": 0.1}
        )
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "grouped_dataset_splits",
    # split keyed on SOURCE, not doc_id: every document of a source
    # lands in one split (no train/eval leakage through same-site
    # near-duplicates). Output proves both properties: per-split doc
    # and source counts, where summing n_sources across splits equals
    # the distinct source count only if no source straddles splits.
    oracle="""
    WITH b AS (
        SELECT source,
               CAST(concat('0x', substring(
                   md5('split:' || coalesce(CAST(source AS VARCHAR), '<NULL>')), 1, 8)) AS BIGINT)
               % 10000 AS bucket
        FROM documents)
    SELECT CASE WHEN bucket < 8000 THEN 'train'
                WHEN bucket < 9000 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           count(DISTINCT source) AS n_sources
    FROM b GROUP BY 1
    """,
)
def grouped_dataset_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe splits (operators.sampling.assign_splits keyed on
    the GROUP column): hashing ``source`` instead of ``doc_id`` sends
    every document from one site to the same split, so near-duplicate
    pages within a site can never straddle the train/eval boundary —
    the grouped-split discipline any contamination-honest pipeline
    applies to crawl data. Same md5 hash-range mechanics as
    ``dataset_splits``: engine- and partitioning-independent."""
    from news_data_pipeline_spark.operators.sampling import assign_splits

    docs = load_table(spark, sf_dir, "documents")
    return (
        assign_splits(
            docs, "source", weights={"train": 0.8, "val": 0.1, "test": 0.1}
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


@register(
    "documents_stratified_sample",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE CAST(concat('0x', substring(md5(
              concat_ws(chr(31), 'sample:', coalesce(lang, '<NULL>'),
                        coalesce(CAST(doc_id AS VARCHAR), '<NULL>'))
          ), 1, 8)) AS BIGINT) % 10000 < 2000
    """,
)
def documents_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~20% sample per language stratum (hash-threshold,
    salted by stratum — no per-stratum shuffle, reproducible everywhere)."""
    from news_data_pipeline_spark.operators.sampling import deterministic_sample

    docs = load_table(spark, sf_dir, "documents")
    return deterministic_sample(
        docs, "doc_id", fraction=0.2, strata=["lang"]
    ).select("doc_id", "lang")


@register(
    "training_corpus",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, text, lang,
               md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp,
               {_DUCK_QUALITY} AS quality
        FROM documents),
    kept AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
            FROM scored WHERE quality >= 0.5 AND lang = 'en') t
        WHERE rn = 1),
    final AS (
        SELECT doc_id, quality,
               len(regexp_extract_all(text,
                   '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]')) AS n_tokens,
               CAST(concat('0x', substring(
                   md5('split:' || coalesce(CAST(doc_id AS VARCHAR), '<NULL>')), 1, 8)) AS BIGINT)
               % 10000 AS bucket
        FROM kept)
    SELECT doc_id, quality, n_tokens,
           CASE WHEN bucket < 9000 THEN 'train' ELSE 'val' END AS split
    FROM final
    """,
)
def training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship LLM-data pipeline, end-to-end in ONE Catalyst plan:
    quality-filter -> language-filter -> exact near-dup dedup
    (normalization fingerprint, keep lowest id) -> token count ->
    deterministic split assignment. Every stage is an engine operator;
    no materialization between stages."""
    from news_data_pipeline_spark.operators.dedup import exact_dedup
    from news_data_pipeline_spark.operators.sampling import assign_splits

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "text",
        "lang",
        T.quality_score(F.col("text")).alias("quality"),
        T.fingerprint(F.col("text")).alias("fp"),
    ).where((F.col("quality") >= 0.5) & (F.col("lang") == "en"))
    deduped = exact_dedup(scored, ["fp"], tie_break=["doc_id"])
    return assign_splits(
        deduped, "doc_id", weights={"train": 0.9, "val": 0.1}
    ).select(
        "doc_id",
        "quality",
        T.token_count(F.col("text")).cast("long").alias("n_tokens"),
        "split",
    )


@register(
    "packed_sequences",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               CAST({_DUCK_TOKENS} AS BIGINT) AS n_tokens,
               md5('pack:' || coalesce(CAST(doc_id AS VARCHAR), '<NULL>')) AS ok
        FROM documents),
    run AS (
        SELECT doc_id, n_tokens,
               CAST(sum(n_tokens) OVER (ORDER BY ok, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
        FROM toks)
    SELECT doc_id AS id, n_tokens,
           cum - n_tokens AS start_offset,
           (cum - n_tokens) // 2048 AS seq_first,
           greatest(cum - 1, cum - n_tokens) // 2048 AS seq_last,
           greatest(cum - 1, cum - n_tokens) // 2048
             - (cum - n_tokens) // 2048 + 1 AS n_ctx
    FROM run
    """,
)
def packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (operators.packing.pack_sequences):
    documents laid end-to-end in deterministic hash order, chunked at
    ctx_len=2048 — the global running sum runs as range-partitioned
    per-partition sums + broadcast offsets, never a single-partition
    window. The oracle's textbook global window IS the semantics being
    replicated; the Spark side is the scale-safe execution of it."""
    from news_data_pipeline_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(
        docs, "doc_id", T.token_count(F.col("text")), ctx_len=2048
    )


@register(
    "mixture_sampled_stats",
    oracle=f"""
    WITH kept AS (
        SELECT source, CAST({_DUCK_TOKENS} AS BIGINT) AS n_tokens
        FROM documents
        WHERE CAST(concat('0x', substring(md5(
                  concat_ws(chr(31), 'mix:', coalesce(source, '<NULL>'),
                            coalesce(CAST(doc_id AS VARCHAR), '<NULL>'))
              ), 1, 8)) AS BIGINT) % 10000
              < CASE source WHEN 'src1' THEN 10000 WHEN 'src2' THEN 7500
                            WHEN 'src3' THEN 5000  WHEN 'src4' THEN 2500
                            ELSE 1000 END)
    SELECT source, count(*) AS rows_kept,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
    FROM kept GROUP BY source
    """,
)
def mixture_sampled_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture reweighting (operators.sampling.mixture_sample): keep a
    per-source fraction of documents by pure row-hash — one codegen'd
    filter, no shuffle until the audit aggregate. Nested samples: a
    row kept at rate r stays kept at any higher rate, so mixture
    sweeps are comparable run-to-run."""
    from news_data_pipeline_spark.operators.sampling import mixture_sample

    docs = load_table(spark, sf_dir, "documents")
    kept = mixture_sample(
        docs,
        "doc_id",
        "source",
        rates={"src1": 1.0, "src2": 0.75, "src3": 0.5, "src4": 0.25},
        default_rate=0.1,
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("rows_kept"),
        F.sum(T.token_count(F.col("text")).cast("long")).alias("tokens_kept"),
    )


@register(
    "hot_shingles_topk",
    oracle=f"""
    WITH shingles AS ({_DUCK_SHINGLES})
    SELECT shingle, count(*) AS doc_freq
    FROM shingles GROUP BY shingle
    ORDER BY doc_freq DESC, shingle LIMIT 20
    """,
)
def hot_shingles_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate detector: top-20 word 3-grams by document
    frequency — the empirical input for tuning ngram_jaccard_pairs'
    max_df stop-shingle cap (see operators.dedup.shared_shingles).
    One map-side-combined groupBy + a bounded TakeOrdered; tie-broken
    by shingle so the top-k set is deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.word_shingles(docs, "doc_id", "text", n=3)
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), "shingle")
        .limit(20)
    )


@register(
    "quality_band_per_lang",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang, {_DUCK_QUALITY} AS quality
        FROM documents),
    ranked AS (
        SELECT doc_id, lang, quality,
               percent_rank() OVER (PARTITION BY lang
                                    ORDER BY quality ASC NULLS LAST) AS qr
        FROM scored)
    SELECT doc_id, lang, quality,
           floor(qr * 1000000 + 0.5) / 1000000.0 AS q_rank
    FROM ranked WHERE qr >= 0.1 AND qr <= 0.9
    """,
)
def quality_band_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-band corpus filtering: keep documents inside the
    [p10, p90] quality band WITHIN each language — per-stratum rank
    filtering drops each language's own worst and degenerate-best
    tails instead of letting one language's score distribution set a
    global cutoff.

    Scale shape: a percent_rank window partitioned by lang would funnel
    the dominant language's ENTIRE corpus through one sort task (web
    corpora are routinely 80% one language — that IS the global-window
    trap with extra steps). quality is 4dp-rounded, so per language
    there are at most ~10^4 distinct values — `value_compressed_percent_
    rank` ranks that bounded frame and broadcasts the rank map back
    (the corpus side is never shuffled or sorted; see
    operators/ranking.py), NULL-safe, and matches the oracle's textbook
    percent_rank window exactly."""
    from news_data_pipeline_spark.operators.ranking import (
        value_compressed_percent_rank,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "lang", T.quality_score(F.col("text")).alias("quality")
    )
    banded = value_compressed_percent_rank(
        scored, ["lang"], "quality", out_col="qr"
    )
    return banded.where((F.col("qr") >= 0.1) & (F.col("qr") <= 0.9)).select(
        "doc_id",
        "lang",
        "quality",
        settled_round(F.col("qr"), 6).alias("q_rank"),
    )


@register(
    "document_chunks",
    oracle="""
    WITH base AS (
        SELECT doc_id AS id,
               regexp_split_to_array(trim(text), '\\s+') AS words
        FROM documents WHERE length(trim(text)) > 0),
    sized AS (SELECT id, words, len(words) AS n FROM base),
    chunked AS (
        SELECT id, words,
               unnest(generate_series(0,
                   CASE WHEN n <= 64 THEN 0
                        ELSE (n - 64 + 47) // 48 END)) AS chunk_id
        FROM sized)
    SELECT id, chunk_id,
           chunk_id * 48 AS chunk_start,
           len(words[chunk_id * 48 + 1 : chunk_id * 48 + 64]) AS chunk_tokens,
           array_to_string(words[chunk_id * 48 + 1 : chunk_id * 48 + 64],
                           ' ') AS chunk_text
    FROM chunked
    """,
)
def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (operators.packing.chunk_documents):
    ctx_len=64 tokens starting every 48 (16-token overlap) — the
    per-document window step for fine-tuning / retrieval corpora. Pure
    narrow map: split once, explode chunk indices, slice; no shuffle.
    The oracle mirrors the integer chunk arithmetic and 1-based
    inclusive list slicing exactly."""
    from news_data_pipeline_spark.operators.packing import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", ctx_len=64, stride=48)


# Shared CTE chain for the near-dup cluster oracles: the pairs CTEs are
# the minhash_lsh_pairs oracle verbatim; the l1..l3 CTEs unroll
# connected_components' min-label iterations exactly (LEFT JOIN + least
# + coalesce per hop). Ends at l3 = (u=doc_id, label=component).
_DUCK_NEARDUP_CTES = f"""
    WITH shingles AS ({_DUCK_SHINGLES}),
    sig AS (
        SELECT id,
               {", ".join(f"min(substring(md5('seed{i // 4}:' || shingle), {8 * (i % 4) + 1}, 8)) AS mh_{i}" for i in range(16))}
        FROM shingles GROUP BY id),
    banded AS (
        {" UNION ALL ".join(
            "SELECT id, %d AS band, md5(mh_%d || '|' || mh_%d || '|' || mh_%d || '|' || mh_%d) AS bucket FROM sig"
            % (b, 4 * b, 4 * b + 1, 4 * b + 2, 4 * b + 3)
            for b in range(4)
        )}),
    edges AS (
        SELECT DISTINCT l.id AS ia, r.id AS ib
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id),
    sym AS (SELECT ia AS u, ib AS v FROM edges
            UNION ALL SELECT ib AS u, ia AS v FROM edges),
    l0 AS (SELECT DISTINCT doc_id AS u, doc_id AS label FROM documents),
    l1 AS (
        SELECT l.u, least(l.label, coalesce(m.nm, l.label)) AS label
        FROM l0 l LEFT JOIN (
            SELECT s.u, min(p.label) AS nm
            FROM sym s JOIN l0 p ON p.u = s.v
            GROUP BY s.u) m ON m.u = l.u),
    l2 AS (
        SELECT l.u, least(l.label, coalesce(m.nm, l.label)) AS label
        FROM l1 l LEFT JOIN (
            SELECT s.u, min(p.label) AS nm
            FROM sym s JOIN l1 p ON p.u = s.v
            GROUP BY s.u) m ON m.u = l.u),
    l3 AS (
        SELECT l.u, least(l.label, coalesce(m.nm, l.label)) AS label
        FROM l2 l LEFT JOIN (
            SELECT s.u, min(p.label) AS nm
            FROM sym s JOIN l2 p ON p.u = s.v
            GROUP BY s.u) m ON m.u = l.u)"""


@register(
    "neardup_components",
    oracle=f"""
    {_DUCK_NEARDUP_CTES}
    SELECT u AS doc_id, label AS component FROM l3
    """,
)
def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from LSH pairs: generic min-label propagation
    (operators.graph.connected_components) over the candidate-pair
    graph, every document labeled with its cluster's minimum doc_id —
    singletons label themselves. Dedup = keep doc_id == component; the
    per-iteration cost is linear in the edge count (near-dup clusters
    are near-cliques, so 3 hops close them). The operator checkpoints
    the LSH pair list once, so the 3 hops don't re-derive MinHash
    shingling from the source scan — the dominant cost at corpus
    scale."""
    from news_data_pipeline_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_dedup_pairs(
        docs, "doc_id", "text", shingle_n=3, bands=4, rows_per_band=4
    )
    return connected_components(
        pairs,
        "id_a",
        "id_b",
        nodes=docs,
        node_col="doc_id",
        max_iter=3,
    )


# Iteration-unrolled PageRank hop for the DuckDB oracle (the
# neardup_components CTE pattern): d{k} = dangling mass of r{j},
# r{k} = teleport + damped(contributions + uniform dangling share).
# Literals are CAST to DOUBLE so both engines run the same IEEE ops
# ((1.0 - 0.85) != 0.15 in binary; DuckDB's bare 0.15 is DECIMAL).
_PR_HOP = """
    d{k} AS (
        SELECT COALESCE(SUM(p.r), CAST(0 AS DOUBLE)) AS m
        FROM r{j} p LEFT JOIN outw o ON p.u = o.u
        WHERE o.u IS NULL),
    r{k} AS (
        SELECT b.u,
               (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.c
               + CAST(0.85 AS DOUBLE)
                 * (COALESCE(s.inr, CAST(0 AS DOUBLE)) + d{k}.m / nn.c) AS r
        FROM base b
        CROSS JOIN nn CROSS JOIN d{k}
        LEFT JOIN (SELECT f.v AS u, SUM(f.f * p.r) AS inr
                   FROM frac f JOIN r{j} p ON f.u = p.u
                   GROUP BY f.v) s ON s.u = b.u)"""


@register(
    "source_pagerank",
    oracle=f"""
    WITH e AS (
        SELECT source AS u, lang AS v, CAST(COUNT(*) AS DOUBLE) AS w
        FROM documents
        WHERE source IS NOT NULL AND lang IS NOT NULL
        GROUP BY source, lang),
    base AS (SELECT u FROM e UNION SELECT v FROM e),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM base),
    outw AS (SELECT u, SUM(w) AS ow FROM e GROUP BY u),
    frac AS (SELECT e.u, e.v, e.w / o.ow AS f
             FROM e JOIN outw o ON e.u = o.u),
    r0 AS (SELECT u, CAST(1.0 AS DOUBLE) / c AS r FROM base CROSS JOIN nn),
    {",".join(_PR_HOP.format(k=k, j=k - 1) for k in range(1, 4))}
    SELECT u AS node, ROUND(r, 6) AS rank FROM r3
    """,
)
def source_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph authority over the source->lang publication graph:
    edges weighted by document count, three weighted power iterations
    (operators.graph.pagerank). Languages have no out-edges, so they
    are all dangling — the query exercises dangling-mass conservation,
    weighted contribution splits, and the per-hop localCheckpoint
    cadence (one job per hop, lineage truncated, no driver collect for
    the dangling aggregate). The oracle unrolls the same three hops as
    CTEs with IEEE-double literals so both engines run identical
    arithmetic."""
    from news_data_pipeline_spark.operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents")
    edges = (
        docs.where(F.col("source").isNotNull() & F.col("lang").isNotNull())
        .groupBy("source", "lang")
        .agg(F.count("*").cast("double").alias("w"))
    )
    return pagerank(
        edges, "source", "lang", weight="w", node_col="node", iters=3
    )


@register(
    "neardup_rate_per_source",
    # corpus-health metric over the same near-dup CTE chain: a document
    # is a near-duplicate iff it is not its cluster's representative
    oracle=f"""
    {_DUCK_NEARDUP_CTES}
    SELECT d.source,
           count(*) AS n_docs,
           count(*) FILTER (WHERE l3.u <> l3.label) AS n_neardups,
           floor(count(*) FILTER (WHERE l3.u <> l3.label)
                 / CAST(count(*) AS DOUBLE) * 10000 + 0.5) / 10000.0
               AS neardup_rate
    FROM l3 JOIN documents d ON d.doc_id = l3.u
    GROUP BY d.source
    """,
)
def neardup_rate_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-rate dashboard metric: per source, the fraction of
    documents that are near-duplicates of an earlier document (cluster
    label != own id after LSH + min-label propagation). The per-site
    view is what crawl triage acts on — a mirror-heavy domain shows up
    as a high rate long before it distorts the training mixture."""
    from news_data_pipeline_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_dedup_pairs(
        docs, "doc_id", "text", shingle_n=3, bands=4, rows_per_band=4
    )
    comp = connected_components(
        pairs,
        "id_a",
        "id_b",
        nodes=docs,
        node_col="doc_id",
        max_iter=3,
    )
    is_dup = (F.col("doc_id") != F.col("component")).cast("long")
    return (
        docs.join(comp, on="doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(is_dup).alias("n_neardups"),
            settled_round(
                F.sum(is_dup) / F.count(F.lit(1)).cast("double"), 4
            ).alias("neardup_rate"),
        )
    )


@register(
    "neardup_keep_best",
    # cluster labels: the shared near-dup CTE chain; survivor: textbook
    # row_number by (quality DESC, doc_id DESC) — the exact order the
    # Spark side's max(struct(quality, doc_id)) aggregate encodes
    oracle=f"""
    {_DUCK_NEARDUP_CTES},
    qual AS (
        SELECT doc_id, {_DUCK_QUALITY} AS quality
        FROM documents),
    j AS (
        SELECT l3.label AS component, q.doc_id, q.quality
        FROM l3 JOIN qual q ON q.doc_id = l3.u),
    r AS (
        SELECT component, doc_id, quality,
               row_number() OVER (PARTITION BY component
                                  ORDER BY quality DESC, doc_id DESC) AS rn,
               count(*) OVER (PARTITION BY component) AS n_members
        FROM j)
    SELECT component, doc_id, quality, n_members FROM r WHERE rn = 1
    """,
)
def neardup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup survivor selection — the production final
    step of dedup: label clusters via LSH pairs + min-label propagation
    (operators.graph.connected_components), score every document
    (functions.text.quality_score), keep the HIGHEST-quality member per
    cluster (operators.dedup.keep_best_per_cluster) instead of the
    arbitrary minimum id. One max(struct) aggregate picks survivors —
    no per-cluster window sort, which matters exactly where duplicate
    clusters are huge."""
    from news_data_pipeline_spark.operators.dedup import (
        keep_best_per_cluster,
        minhash_lsh_dedup_pairs,
    )
    from news_data_pipeline_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_dedup_pairs(
        docs, "doc_id", "text", shingle_n=3, bands=4, rows_per_band=4
    )
    comp = connected_components(
        pairs,
        "id_a",
        "id_b",
        nodes=docs,
        node_col="doc_id",
        max_iter=3,
    )
    scored = docs.select(
        "doc_id", T.quality_score(F.col("text")).alias("quality")
    )
    labeled = scored.join(comp, on="doc_id")
    return keep_best_per_cluster(labeled, "doc_id", "component", "quality")


@register(
    "top_documents_per_source",
    # oracle is the textbook exact window; the operator's two-phase plan
    # must produce the identical multiset under the total ordering
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, source, {_DUCK_QUALITY} AS quality
        FROM documents WHERE source IS NOT NULL),
    r AS (
        SELECT source, doc_id, quality,
               row_number() OVER (PARTITION BY source
                                  ORDER BY quality DESC, doc_id ASC) AS rn
        FROM scored)
    SELECT source, doc_id, quality FROM r WHERE rn <= 3
    """,
)
def top_documents_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe top-k per group (operators.ranking.top_k_per_group):
    the 3 highest-quality documents per source, ranked in two phases —
    per-input-slice top-k first (hot sources sort in parallel slices,
    each keeping <= k rows), then the exact window over the bounded
    survivor set. Total order: quality DESC, doc_id ASC."""
    from news_data_pipeline_spark.operators.ranking import top_k_per_group

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.where(F.col("source").isNotNull()).select(
        "doc_id", "source", T.quality_score(F.col("text")).alias("quality")
    )
    return top_k_per_group(
        scored,
        ["source"],
        [F.col("quality").desc(), F.col("doc_id").asc()],
        k=3,
    ).select("source", "doc_id", "quality")


@register(
    "adaptive_stopword_removal",
    # remove_frequent_segments with delimiter=' ': corpus-adaptive
    # stopword stripping (same operator with '\n' = CCNet line-level
    # boilerplate removal; the test corpus is single-line, so the word
    # delimiter is the semantically active configuration here)
    oracle="""
    WITH n AS (SELECT count(*) AS total FROM documents),
    segs AS (
        SELECT doc_id, i AS pos, ws[i] AS seg FROM (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents) t,
            LATERAL unnest(range(1, len(ws) + 1)) AS u(i)
        WHERE ws[i] <> ''),
    hot AS (
        SELECT seg FROM segs CROSS JOIN n
        GROUP BY seg, n.total
        HAVING count(DISTINCT doc_id) > 0.5 * n.total),
    kept AS (
        SELECT doc_id, pos, seg FROM segs
        WHERE seg NOT IN (SELECT seg FROM hot)),
    rebuilt AS (
        SELECT doc_id,
               array_to_string(list(seg ORDER BY pos), ' ') AS cleaned_text,
               count(*) AS n_segments_kept
        FROM kept GROUP BY doc_id)
    SELECT d.doc_id,
           CASE WHEN d.text IS NULL THEN NULL
                ELSE coalesce(r.cleaned_text, '') END AS cleaned_text,
           coalesce(r.n_segments_kept, 0) AS n_segments_kept
    FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
    """,
)
def adaptive_stopword_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-adaptive boilerplate stripping (operators.dedup.
    remove_frequent_segments): segments appearing in over half of all
    documents are removed and the survivors reassembled in order. The
    document-frequency threshold comes from THIS corpus, not a fixed
    stopword list — the same operator with delimiter='\\n' is line-level
    boilerplate dedup over web pages."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.remove_frequent_segments(
        docs, "doc_id", "text", delimiter=" ", max_doc_ratio=0.5
    ).select("doc_id", "cleaned_text", "n_segments_kept")


@register(
    "cap_documents_per_source",
    # deterministic per-group cap: the "survivors" are the k smallest
    # md5(doc_id) per source — an unbiased, reproducible choice that no
    # reordering or repartitioning can change
    oracle="""
    SELECT source, doc_id FROM (
        SELECT source, doc_id,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents WHERE source IS NOT NULL) t
    WHERE rn <= 20
    """,
)
def cap_documents_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (operators.ranking.top_k_per_group
    ordered by content hash): keep at most 20 documents per source,
    chosen by md5(doc_id) — the RefinedWeb-style guard against a single
    site dominating the training mixture. Hash order makes the kept
    subset an unbiased deterministic sample; the two-phase ranking
    spreads hot sources across slices, so the biggest site in the crawl
    still never funnels through one sort task."""
    from news_data_pipeline_spark.operators.ranking import top_k_per_group

    docs = load_table(spark, sf_dir, "documents")
    eligible = docs.where(F.col("source").isNotNull()).select(
        "source", "doc_id", F.md5(F.col("doc_id").cast("string")).alias("__h")
    )
    return top_k_per_group(
        eligible,
        ["source"],
        [F.col("__h").asc(), F.col("doc_id").asc()],
        k=20,
    ).select("source", "doc_id")


@register(
    "quality_top_fraction_per_lang",
    # histogram-threshold semantics: cutoff = highest quality value v
    # with >= ceil(frac*n) rows at or above it; ties at the cutoff kept
    oracle=f"""
    WITH q AS (
        SELECT doc_id, lang, {_DUCK_QUALITY} AS quality FROM documents),
    h AS (
        SELECT lang, quality, count(*) AS c
        FROM q WHERE quality IS NOT NULL GROUP BY lang, quality),
    cum AS (
        SELECT lang, quality,
               sum(c) OVER (PARTITION BY lang ORDER BY quality DESC) AS cum,
               sum(c) OVER (PARTITION BY lang) AS n
        FROM h),
    thr AS (
        SELECT lang, max(quality) AS t
        FROM cum WHERE cum >= ceil(0.25 * n) GROUP BY lang)
    SELECT q.doc_id, q.lang, q.quality
    FROM q JOIN thr ON q.lang IS NOT DISTINCT FROM thr.lang
    WHERE q.quality >= thr.t
    """,
)
def quality_top_fraction_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quality filtering (operators.ranking.
    top_fraction_per_group): keep each language's top quarter of
    documents by quality score — per-language thresholds, so a
    low-resource language isn't filtered against a high-resource
    language's quality distribution. The cutoff comes from the
    (lang, quality) histogram — distinct 4dp score values, a bounded
    frame — so no full group ever sorts; ties at the cutoff are kept
    (threshold semantics)."""
    from news_data_pipeline_spark.operators.ranking import (
        top_fraction_per_group,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "lang", T.quality_score(F.col("text")).alias("quality")
    )
    return top_fraction_per_group(scored, ["lang"], "quality", 0.25)


@register(
    "multimodal_audio_features",
    # Same hex-chain recomputation contract as multimodal_image_features:
    # the fake audio body is the iterated-md5 hex chain of the seed
    # (fake_audio_bytes reuses the image chain), so DuckDB regenerates
    # the exact samples. n_samples <= 95 needs 190 hex chars -> 6 hops.
    # Half-up at 4dp mirrors audio_features' pinned rounding rule.
    oracle="""
    WITH p AS (
        SELECT doc_id, coalesce(text, '') AS t,
               8000 + (doc_id % 4) * 1000 AS sample_rate,
               32 + doc_id % 64 AS n
        FROM documents),
    c AS (SELECT doc_id, sample_rate, n, md5(t) AS h1 FROM p),
    c2 AS (SELECT *, md5(h1) AS h2 FROM c),
    c3 AS (SELECT *, md5(h2) AS h3 FROM c2),
    c4 AS (SELECT *, md5(h3) AS h4 FROM c3),
    c5 AS (SELECT *, md5(h4) AS h5 FROM c4),
    c6 AS (SELECT *, md5(h5) AS h6 FROM c5),
    body AS (
        SELECT doc_id, sample_rate, n,
               substring(h1 || h2 || h3 || h4 || h5 || h6, 1, 2 * n) AS hx
        FROM c6),
    vals AS (
        SELECT doc_id,
               CAST(concat('0x', substring(hx, 2 * i - 1, 2)) AS INT) AS v
        FROM body, LATERAL unnest(range(1, n + 1)) AS u(i)),
    sums AS (SELECT doc_id, sum(v) AS sumv FROM vals GROUP BY doc_id)
    SELECT b.doc_id, b.sample_rate,
           floor((b.n::DOUBLE / b.sample_rate) * 10000 + 0.5) / 10000
               AS duration_sec,
           floor(sumv / b.n::DOUBLE * 10000 + 0.5) / 10000
               AS mean_amplitude
    FROM body b JOIN sums USING (doc_id)
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio twin of multimodal_image_features: documents.text seeds a
    deterministic fake clip per doc (sample rate and length from
    doc_id), decoded to typed features (header sample rate, duration,
    mean amplitude) via Arrow-batched mapInPandas. The payload builder
    runs distributed; the oracle independently recomputes the hex-chain
    samples from the shared inputs."""
    from news_data_pipeline_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        mm.fake_audio_bytes(
                            t or "",
                            8000 + int(i) % 4 * 1000,
                            32 + int(i) % 64,
                        )
                        for i, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    clips = fan_out(docs).mapInPandas(build, "doc_id long, payload binary")
    return mm.audio_features(clips, "doc_id", "payload").select(
        F.col("id").alias("doc_id"),
        "sample_rate",
        "duration_sec",
        "mean_amplitude",
    )


@register(
    "documents_cleaned",
    # identical explicit regex classes on both sides: Java and RE2
    # disagree on \s (\x0B) and \p{Cntrl}, so the classes are spelled out
    oracle=r"""
    SELECT doc_id,
           trim(regexp_replace(
               regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]',
                              ' ', 'g'),
               '[ \t\n\r\f\x0B]+', ' ', 'g')) AS clean_text,
           length(text) AS n_chars_raw
    FROM documents
    """,
)
def documents_cleaned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus text normalization (functions.text.clean_text): control
    chars stripped, whitespace collapsed, trimmed — the narrow-map first
    pass before tokenization/shingling; zero shuffles, scan speed."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.clean_text(F.col("text")).alias("clean_text"),
        F.length("text").alias("n_chars_raw"),
    )


@register(
    "document_lm_scores",
    # the oracle recomputes the unigram model end-to-end; '/' is double
    # division in DuckDB so ln(ctf / total) matches Spark's F.log
    oracle="""
    WITH toks AS (
        SELECT doc_id AS id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents),
    tf AS (SELECT id, term, count(*) AS tf FROM toks
           WHERE length(term) > 0 GROUP BY id, term),
    vocab AS (SELECT term, sum(tf) AS ctf FROM tf GROUP BY term),
    total AS (SELECT sum(ctf) AS total_tokens FROM vocab),
    lp AS (
        SELECT tf.id, tf.tf, tf.tf * ln(ctf / total_tokens) AS lp
        FROM tf JOIN vocab USING (term) CROSS JOIN total)
    SELECT id AS doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
           floor(sum(CAST(floor(lp * 1000000 + 0.5) AS BIGINT)) / 1000000.0
                 / sum(tf) * 10000 + 0.5) / 10000.0 AS avg_logprob
    FROM lp GROUP BY id
    """,
)
def document_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram language-model quality score
    (operators.terms.unigram_logprob_scores): the corpus trains its own
    unigram model (term counts keyed by term), each document scores as
    its mean token log-probability. Low scores flag rare-token noise,
    high scores flag boilerplate — the standard pretraining-corpus
    quality gate, here as two map-side-combined shuffles plus a
    vocabulary equi-join and a broadcast total."""
    from news_data_pipeline_spark.operators.terms import unigram_logprob_scores

    docs = load_table(spark, sf_dir, "documents")
    return unigram_logprob_scores(docs, "doc_id", "text").withColumnRenamed(
        "id", "doc_id"
    )


@register(
    "neardup_triangle_counts",
    # naive 3-way edge join on the oracle side; the Spark operator's
    # degree-ordered orientation must produce the identical multiset
    oracle=f"""
    {_DUCK_NEARDUP_CTES},
    tri AS (
        SELECT e1.ia AS a, e1.ib AS b, e2.ib AS c
        FROM edges e1
        JOIN edges e2 ON e2.ia = e1.ib
        JOIN edges e3 ON e3.ia = e1.ia AND e3.ib = e2.ib),
    corners AS (
        SELECT a AS doc_id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
    SELECT doc_id, count(*) AS n_triangles FROM corners GROUP BY doc_id
    """,
)
def neardup_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clique-density check on the near-dup graph
    (operators.graph.triangle_counts over the LSH candidate pairs): a
    real duplicate cluster is a near-clique, so its members sit on
    triangles; an LSH chain of borderline collisions does not. The
    oracle counts triangles with the naive three-way join while the
    operator runs the degree-ordered O(m^1.5) orientation — same
    multiset, different plan, which is exactly what the cross-engine
    hash verifies."""
    from news_data_pipeline_spark.operators.graph import triangle_counts

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_dedup_pairs(
        docs, "doc_id", "text", shingle_n=3, bands=4, rows_per_band=4
    )
    # the operator checkpoints after canonicalization: degree +
    # orientation + closure replay one cached edge list and never
    # re-derive MinHash shingling (PLANS.md: 67 exchanges -> bounded)
    return triangle_counts(pairs, "id_a", "id_b").withColumnRenamed(
        "node", "doc_id"
    )


# shared assignment + in-cell threshold pairs for the SemDeDup oracle:
# the same rounded-distance/cid-tie-break rule as the IVF oracles, then
# pairwise cosine within cells only
_DUCK_SEMDEDUP_CTES = """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cent AS (SELECT vec_id AS cid, e AS c FROM v ORDER BY vec_id LIMIT 16),
    asg AS (
        SELECT vec_id, e, cid FROM (
            SELECT v.vec_id, v.e, cent.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round(-2 * list_dot_product(v.e, cent.c)
                                      + list_dot_product(cent.c, cent.c), 6),
                                cid) AS r
            FROM v CROSS JOIN cent) t
        WHERE r = 1),
    edges AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib
        FROM asg a JOIN asg b
          ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.e, b.e)
                    / nullif(sqrt(list_dot_product(a.e, a.e))
                             * sqrt(list_dot_product(b.e, b.e)), 0.0), 6)
              >= 0.4),
    sym AS (SELECT ia AS u, ib AS v FROM edges
            UNION ALL SELECT ib AS u, ia AS v FROM edges),
    l0 AS (SELECT vec_id AS u, vec_id AS label FROM v),
    l1 AS (
        SELECT l.u, least(l.label, coalesce(m.nm, l.label)) AS label
        FROM l0 l LEFT JOIN (
            SELECT s.u, min(p.label) AS nm
            FROM sym s JOIN l0 p ON p.u = s.v
            GROUP BY s.u) m ON m.u = l.u),
    l2 AS (
        SELECT l.u, least(l.label, coalesce(m.nm, l.label)) AS label
        FROM l1 l LEFT JOIN (
            SELECT s.u, min(p.label) AS nm
            FROM sym s JOIN l1 p ON p.u = s.v
            GROUP BY s.u) m ON m.u = l.u),
    l3 AS (
        SELECT l.u, least(l.label, coalesce(m.nm, l.label)) AS label
        FROM l2 l LEFT JOIN (
            SELECT s.u, min(p.label) AS nm
            FROM sym s JOIN l2 p ON p.u = s.v
            GROUP BY s.u) m ON m.u = l.u)"""


@register(
    "semantic_dedup_clusters",
    oracle=f"""
    {_DUCK_SEMDEDUP_CTES}
    SELECT u AS vec_id, label AS cluster_id,
           CASE WHEN u = label THEN TRUE ELSE FALSE END AS is_kept
    FROM l3
    """,
)
def semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup end-to-end (operators.similarity.semantic_dedup_pairs +
    operators.graph.connected_components): embeddings coarse-quantized
    into 16 cells, in-cell cosine >= 0.4 pairs, min-label propagation to
    cluster ids; dedup keeps cluster representatives (is_kept). The
    learned-partition twin of the MinHash pipeline — pair generation is
    sum(cell^2), never corpus^2, and the pair list is checkpointed once
    before the propagation hops."""
    from news_data_pipeline_spark.operators.graph import connected_components
    from news_data_pipeline_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = semantic_dedup_pairs(emb, threshold=0.4, nlist=16)
    labels = connected_components(
        pairs,
        "id_a",
        "id_b",
        nodes=emb,
        node_col="vec_id",
        max_iter=3,
    )
    return labels.select(
        "vec_id",
        F.col("component").alias("cluster_id"),
        (F.col("vec_id") == F.col("component")).alias("is_kept"),
    )


@register(
    "vocab_top_tokens",
    # the oracle ranks with a plain window; the Spark side must produce
    # the identical dense 0-based ids from its two-pass range ranking
    oracle="""
    WITH toks AS (
        SELECT doc_id AS id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents),
    counts AS (
        SELECT term, count(*) AS count FROM toks
        WHERE length(term) > 0 GROUP BY term HAVING count(*) >= 2)
    SELECT term,
           CAST(row_number() OVER (ORDER BY count DESC, term) - 1 AS BIGINT)
               AS token_id,
           count
    FROM counts
    ORDER BY token_id LIMIT 100
    """,
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 100 entries of the frequency-ranked corpus vocabulary
    (operators.terms.build_vocab, min_count=2): dense 0-based token ids
    from the range-partition two-pass ranking — the oracle's
    single-window rank must agree exactly, which pins the offset
    arithmetic."""
    from news_data_pipeline_spark.operators.terms import build_vocab

    docs = load_table(spark, sf_dir, "documents")
    vocab = build_vocab(docs, "doc_id", "text", min_count=2)
    return vocab.orderBy("token_id").limit(100)


@register(
    "encoded_documents_sample",
    oracle="""
    WITH toks AS (
        SELECT doc_id AS id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents),
    counts AS (
        SELECT term, count(*) AS count FROM toks
        WHERE length(term) > 0 GROUP BY term HAVING count(*) >= 2),
    vocab AS (
        SELECT term,
               CAST(row_number() OVER (ORDER BY count DESC, term) - 1
                    AS BIGINT) AS token_id
        FROM counts),
    pos_toks AS (
        SELECT d.doc_id AS id, u.i - 1 AS pos, ws[u.i] AS term
        FROM (SELECT doc_id,
                     regexp_split_to_array(trim(text), '\\s+') AS ws
              FROM documents WHERE doc_id < 20) d,
             LATERAL unnest(range(1, len(ws) + 1)) AS u(i)
        WHERE length(ws[u.i]) > 0)
    SELECT p.id AS doc_id, p.pos, coalesce(v.token_id, -1) AS token_id
    FROM pos_toks p LEFT JOIN vocab v USING (term)
    """,
)
def encoded_documents_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-id encoding of the first 20 documents
    (operators.terms.encode_documents over build_vocab(min_count=2)):
    (doc_id, pos, token_id) scalar rows, OOV = -1 for below-threshold
    terms. The vocabulary trains on the WHOLE corpus; only the encoded
    output is sliced, so the ids match vocab_top_tokens exactly."""
    from news_data_pipeline_spark.operators.terms import (
        build_vocab,
        encode_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    vocab = build_vocab(docs, "doc_id", "text", min_count=2)
    sample = docs.where(F.col("doc_id") < 20)
    return encode_documents(sample, "doc_id", "text", vocab).select(
        F.col("id").alias("doc_id"), "pos", "token_id"
    )


# --- round 4: span-level dedup + sorted-neighborhood linkage -------------
@register(
    "duplicated_span_fraction",
    oracle="""
    WITH sh AS (
        -- element concat, not ws[i:i+2] slicing: list-slice bounds
        -- semantics have shifted across DuckDB releases (r5 driver red);
        -- concat_ws skips the NULL from an out-of-range index, exactly
        -- matching Spark's concat_ws over F.get.
        SELECT id, concat_ws(' ', ws[i], ws[i+1], ws[i+2]) AS shingle
        FROM (SELECT doc_id AS id,
                     regexp_split_to_array(trim(text), '\\s+') AS ws,
                     unnest(range(1, greatest(len(regexp_split_to_array(trim(text), '\\s+')) - 2, 1) + 1)) AS i
              FROM documents) t
        WHERE concat_ws(' ', ws[i], ws[i+1], ws[i+2]) <> ''),
    per_doc AS (
        SELECT id, shingle, count(*) AS c FROM sh GROUP BY id, shingle),
    nd AS (
        SELECT shingle, count(*) AS ndocs FROM per_doc GROUP BY shingle)
    SELECT id AS doc_id,
           -- CAST: DuckDB sum(BIGINT) returns HUGEINT (int128), which
           -- pandas-side canonicalization renders as float64 ("42.0")
           -- while Spark's LongType stays int64 ("42") — the r5/r6
           -- driver hash-fail class. Casting back to BIGINT is a
           -- semantic no-op (counts are tiny) that pins the type.
           CAST(sum(c) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN ndocs >= 2 THEN c ELSE 0 END) AS BIGINT)
               AS dup_spans
    FROM per_doc JOIN nd USING (shingle)
    GROUP BY id
    """,
)
def duplicated_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document count of token trigram spans shared with at least
    one OTHER document (operators.dedup.span_dedup_stats) — the
    ExactSubstr-style "corpus boilerplate" gate the reference's exact
    row dedup (02:66) cannot express. The driver-checked projection is
    integer-pure: the derived dup_span_fraction DOUBLE stays in the
    library API (span_dedup_stats) but is dropped here, since the
    selection semantics are fully proven by the exact integer counts."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.span_dedup_stats(docs, "doc_id", "text", n=3).select(
        F.col("id").alias("doc_id"),
        "n_spans",
        "dup_spans",
    )


@register(
    "sorted_neighborhood_pairs",
    oracle="""
    WITH base AS (
        SELECT doc_id AS id,
               substring(text, 1, 8)  AS block,
               substring(text, 1, 48) AS prefix
        FROM documents),
    nb AS (
        SELECT block, id, prefix,
               lead(id)     OVER w AS id_b,
               lead(prefix) OVER w AS prefix_b
        FROM base
        WINDOW w AS (PARTITION BY block ORDER BY prefix, id))
    SELECT id AS doc_a, id_b AS doc_b, block,
           levenshtein(prefix, prefix_b) AS lev
    FROM nb
    WHERE id_b IS NOT NULL AND levenshtein(prefix, prefix_b) <= 24
    """,
)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked sorted-neighborhood candidate pairs
    (operators.dedup.sorted_neighborhood_pairs): record-linkage dedup
    by adjacent-in-sort-order Levenshtein over bounded prefixes —
    LSH's classic alternative, as a partitioned-window plan."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.sorted_neighborhood_pairs(
        docs, "doc_id", "text", block_len=8, prefix_len=48, max_distance=24
    )


# --- round 4: bounded token co-occurrence ---------------------------------
@register(
    "token_cooccurrence_topk",
    oracle="""
    WITH toks AS (
        SELECT DISTINCT doc_id AS id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents),
    toks2 AS (SELECT id, term FROM toks WHERE length(term) > 0),
    top_terms AS (
        SELECT term FROM (
            SELECT term, count(*) AS df FROM toks2 GROUP BY term
            ORDER BY df DESC, term LIMIT 30) t),
    filtered AS (
        SELECT id, term FROM toks2 JOIN top_terms USING (term)),
    pairs AS (
        SELECT a.term AS term_a, b.term AS term_b, count(*) AS n_docs
        FROM filtered a JOIN filtered b
          ON a.id = b.id AND a.term < b.term
        GROUP BY a.term, b.term)
    SELECT term_a, term_b, n_docs
    FROM pairs ORDER BY n_docs DESC, term_a, term_b LIMIT 50
    """,
)
def token_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level co-occurrence counts for the 30 highest-df terms,
    top-50 pairs. The vocabulary cap is what makes this scale: the
    self-join runs on a semi-filtered token list (<=30 terms/doc ->
    <=435 pairs/doc, a bounded explode), with the tiny top-term list
    broadcast; the unbounded all-terms version would be quadratic in
    vocabulary. Top-50 output plans as TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    # per-doc distinct is row-local: duplicates of (id, term) only ever
    # live inside one document's split array, so array_distinct before
    # the explode IS the .distinct() — minus its corpus-wide shuffle
    # (the word_shingles r14 rewrite, same argument)
    toks = (
        fan_out(docs.select(F.col("doc_id").alias("id"), "text"))
        .select(
            "id",
            F.explode(
                F.array_distinct(F.split(F.trim("text"), r"\s+"))
            ).alias("term"),
        )
        .where(F.length("term") > 0)
    )
    # A/B-measured against collecting the vocabulary to a literal
    # IN-list (sf0.1: broadcast join 1.7 s vs isin 2.6-3.2 s — the
    # eager collect pays an extra job and loses exchange reuse), so the
    # tiny top-term frame stays a broadcast-hash join.
    top_terms = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(30)
        .select("term")
    )
    filtered = toks.join(F.broadcast(top_terms), "term")
    a = filtered.select(F.col("id"), F.col("term").alias("term_a"))
    b = filtered.select(F.col("id"), F.col("term").alias("term_b"))
    return (
        a.join(b, ["id"])
        .where(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("term_a"), F.asc("term_b"))
        .limit(50)
    )


# --- round 4: fixed-width histogram ---------------------------------------
@register(
    "doc_length_histogram",
    oracle="""
    SELECT CAST(floor(n_chars / 50) * 50 AS BIGINT) AS bin_lo,
           count(*) AS n_docs,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
    FROM documents GROUP BY 1
    """,
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width document-length histogram (50-char bins): the
    distribution primitive behind length-based quality gates. Integer
    bin arithmetic — exact on both engines — and one map-side
    combinable aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(
        (F.floor(F.col("n_chars") / 50) * 50).cast("bigint").alias("bin_lo")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# --- round 4: numerically-pinned per-group z-scores -----------------------
@register(
    "doc_length_zscores",
    oracle="""
    WITH stats AS (
        SELECT source,
               count(*) AS n,
               sum(n_chars) AS sx,
               sum(n_chars * n_chars) AS sxx
        FROM documents GROUP BY source),
    z AS (
        SELECT d.doc_id, d.source, d.n_chars,
               (d.n_chars - s.sx / s.n)
               / sqrt(s.sxx / s.n - (s.sx / s.n) * (s.sx / s.n)) AS zval
        FROM documents d JOIN stats s USING (source))
    SELECT doc_id, source, n_chars,
           round(zval, 4) AS z,
           abs(zval) >= 2.0 AS is_outlier
    FROM z
    """,
)
def doc_length_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source z-score of document length with a 2-sigma outlier
    flag. The moments are computed as explicit integer sums (sum x,
    sum x^2) rather than the engines' stddev aggregates, so both sides
    evaluate the SAME double expression bit-for-bit — no Welford-vs-
    textbook drift at the rounding boundary. The per-source stats frame
    is tiny and broadcast back onto the documents."""
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("sxx"),
    )
    mean = F.col("sx") / F.col("n")
    std = F.sqrt(F.col("sxx") / F.col("n") - mean * mean)
    z = (F.col("n_chars") - mean) / std
    return docs.join(F.broadcast(stats), "source").select(
        "doc_id",
        "source",
        "n_chars",
        F.round(z, 4).alias("z"),
        (F.abs(z) >= 2.0).alias("is_outlier"),
    )


# --- round 4: per-source token-budget selection ---------------------------
@register(
    "token_budget_selection",
    oracle="""
    WITH toks AS (
        -- lambda-free word count: list_filter's arrow-lambda surface
        -- has changed across DuckDB releases (r5 driver red). Splitting
        -- TRIMMED text on \\s+ yields no empty tokens except for the
        -- all-whitespace string, which the CASE handles — so this is
        -- the same count as filtering out empties.
        SELECT doc_id, source,
               CAST(CASE WHEN trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                    END AS BIGINT) AS n_words
        FROM documents),
    cum AS (
        -- CAST: DuckDB's sum(BIGINT) window aggregate returns HUGEINT
        -- (int128), which pandas-side canonicalization renders as
        -- float64 ("500.0") while Spark's LongType stays int64
        -- ("500") — the r5/r6 driver hash-fail class. BIGINT cast is
        -- a semantic no-op that pins the type.
        SELECT doc_id, source, n_words,
               CAST(sum(n_words) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_tokens
        FROM toks)
    SELECT doc_id, source, n_words, cum_tokens
    FROM cum WHERE cum_tokens <= 500
    """,
)
def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-source document selection under a 500-token budget:
    docs are taken in id order until their running token count exceeds
    the source's budget — how a mixture recipe caps each domain's
    contribution in tokens rather than documents (cap_documents_per_
    source counts rows). Integer running sum over a partitioned window;
    token counts stay exact on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(
        F.filter(
            F.split(F.trim("text"), r"\s+"), lambda w: F.length(w) > 0
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.select(
            "doc_id", "source", n_words.cast("bigint").alias("n_words")
        )
        .withColumn("cum_tokens", F.sum("n_words").over(w))
        .where(F.col("cum_tokens") <= 500)
    )


# --- round 4: deterministic training-order shuffle ------------------------
@register(
    "shuffled_export_order",
    oracle="""
    SELECT doc_id,
           substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS shard,
           CAST(row_number() OVER (
               PARTITION BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS BIGINT) AS shuffle_rank
    FROM documents
    """,
)
def shuffled_export_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudo-random training-export order: documents are
    sharded by an md5 prefix and ranked by the full digest — a
    reproducible global shuffle (same ids -> same order on any cluster,
    any partitioning) without a single-partition sort: the rank window
    partitions on the 256-way shard key, and the exporter interleaves
    shards round-robin. The cure for parquet files that arrive
    source-clustered — adjacent training batches would otherwise see
    correlated documents."""
    docs = load_table(spark, sf_dir, "documents")
    digest = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy(F.substring(digest, 1, 2)).orderBy(
        digest, F.col("doc_id")
    )
    return docs.select(
        "doc_id",
        F.substring(digest, 1, 2).alias("shard"),
        F.row_number().over(w).cast("bigint").alias("shuffle_rank"),
    )


# --- round 4: sketch-accuracy measurement ---------------------------------
@register(
    "minhash_jaccard_estimates",
    oracle=f"""
    WITH shingles AS ({_DUCK_SHINGLES}),
    sig AS (
        SELECT id,
               {", ".join(f"min(substring(md5('seed{i // 4}:' || shingle), {8 * (i % 4) + 1}, 8)) AS mh_{i}" for i in range(16))}
        FROM shingles GROUP BY id),
    banded AS (
        {" UNION ALL ".join(
            "SELECT id, %d AS band, md5(mh_%d || '|' || mh_%d || '|' || mh_%d || '|' || mh_%d) AS bucket FROM sig"
            % (b, 4 * b, 4 * b + 1, 4 * b + 2, 4 * b + 3)
            for b in range(4)
        )}),
    cand AS (
        SELECT DISTINCT l.id AS id_a, r.id AS id_b
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id),
    est AS (
        SELECT c.id_a, c.id_b,
               ({" + ".join(f"CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END" for i in range(16))}) / 16.0 AS est_raw
        FROM cand c
        JOIN sig a ON a.id = c.id_a
        JOIN sig b ON b.id = c.id_b),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS shared
        FROM cand c
        JOIN shingles sa ON sa.id = c.id_a
        JOIN shingles sb ON sb.id = c.id_b AND sb.shingle = sa.shingle
        GROUP BY c.id_a, c.id_b),
    sizes AS (SELECT id, count(*) AS n FROM shingles GROUP BY id),
    exact AS (
        SELECT c.id_a, c.id_b,
               floor(CASE WHEN coalesce(na.n, 0) + coalesce(nb.n, 0)
                               - coalesce(i.shared, 0) > 0
                          THEN coalesce(i.shared, 0)
                               / CAST(coalesce(na.n, 0) + coalesce(nb.n, 0)
                                      - coalesce(i.shared, 0) AS DOUBLE)
                          ELSE 0.0 END * 1000000 + 0.5) / 1000000.0 AS jaccard
        FROM cand c
        LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
        LEFT JOIN sizes na ON na.id = c.id_a
        LEFT JOIN sizes nb ON nb.id = c.id_b)
    SELECT e.id_a, e.id_b,
           floor(e.est_raw * 1000000 + 0.5) / 1000000.0 AS est_jaccard,
           x.jaccard,
           floor(abs(e.est_raw - x.jaccard) * 1000000 + 0.5) / 1000000.0
               AS est_error
    FROM est e JOIN exact x ON x.id_a = e.id_a AND x.id_b = e.id_b
    """,
)
def minhash_jaccard_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit: for every LSH candidate pair, the MinHash
    similarity ESTIMATE (fraction of agreeing signature components —
    the unbiased Jaccard estimator) next to the exact shingle Jaccard
    and the absolute estimation error. This is how you size num_hashes
    before trusting the sketch at 100 TB: the estimate costs a
    16-column signature join per candidate; the exact score costs the
    candidates' full shingle mass."""
    docs = load_table(spark, sf_dir, "documents")
    # one materialization feeds all three consumers (estimate branch,
    # exact branch, candidate list) — previously each re-derived the
    # shingle->signature lineage, leaving 12 static source scans
    sh, sig, pairs = dedup.two_stage_lsh_frames(
        docs, "doc_id", "text", shingle_n=3, bands=4, rows_per_band=4
    )
    a = sig.select(
        F.col("id").alias("id_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(16)],
    )
    b = sig.select(
        F.col("id").alias("id_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(16)],
    )
    matches = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(16)
    )
    est = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", (matches / F.lit(16.0)).alias("__est_raw"))
    )
    exact = dedup.jaccard_for_pairs(pairs, sh)
    return est.join(exact, ["id_a", "id_b"]).select(
        "id_a",
        "id_b",
        settled_round(F.col("__est_raw"), 6).alias("est_jaccard"),
        "jaccard",
        settled_round(
            F.abs(F.col("__est_raw") - F.col("jaccard")), 6
        ).alias("est_error"),
    )


# --- round 4: in-engine logistic-regression training step -----------------
# coalesce(avg, 0): an empty/filtered-out training set yields a ZERO
# gradient (weights stay at init), matching logreg_train's g.get(j, 0.0)
_LOGREG_GRAD = lambda p: ", ".join(
    f"coalesce(avg(({p} - y) * x{j}), 0.0) AS g{j}" for j in range(4)
)


@register(
    "logreg_label_weights",
    # two full-batch GD iterations unrolled: w0 = 0 makes iteration 1's
    # sigmoid a constant 0.5; iteration 2 evaluates the sigmoid at the
    # w1 literal. lr = 0.5, dims = 4, y = (label == 0).
    oracle=f"""
    WITH x AS (
        SELECT CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END AS y,
               e[1] AS x0, e[2] AS x1, e[3] AS x2, e[4] AS x3
        FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) >= 4)),
    g0 AS (SELECT {_LOGREG_GRAD("0.5")} FROM x),
    w1 AS (SELECT -0.5 * g0 AS w0, -0.5 * g1 AS w1,
                  -0.5 * g2 AS w2, -0.5 * g3 AS w3 FROM g0),
    g1 AS (
        SELECT {_LOGREG_GRAD("1.0 / (1.0 + exp(-(w.w0 * x.x0 + w.w1 * x.x1 + w.w2 * x.x2 + w.w3 * x.x3)))")}
        FROM x CROSS JOIN w1 w),
    w2 AS (SELECT w1.w0 - 0.5 * g1.g0 AS w0, w1.w1 - 0.5 * g1.g1 AS w1,
                  w1.w2 - 0.5 * g1.g2 AS w2, w1.w3 - 0.5 * g1.g3 AS w3
           FROM w1 CROSS JOIN g1)
    SELECT pos, round(w, 6) AS weight
    FROM w2, LATERAL (VALUES (0, w0), (1, w1), (2, w2), (3, w3)) t(pos, w)
    """,
)
def logreg_label_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression training
    (operators.fitting.logreg_train): two full-batch GD steps on
    y = (label == 0) over the first 4 embedding components, the whole
    trajectory unrolled in the oracle — the in-engine "train a quality
    classifier where the data lives" primitive, verified exactly like
    the k-means two-iteration query."""
    from news_data_pipeline_spark.operators.fitting import logreg_train

    emb = load_table(spark, sf_dir, "embeddings")
    labeled = emb.select(
        (F.col("label") == 0).cast("double").alias("y"), "embedding"
    )
    return logreg_train(
        labeled, y_col="y", vec_col="embedding", dims=4, iters=2, lr=0.5
    ).select(F.col("pos").cast("int").alias("pos"), "weight")


@register(
    "logreg_label_scores",
    # the trained w2 (rounded to 6dp, same as the Spark output) scores
    # every vector; round-6 scores make the top-10 cutoff engine-stable
    oracle=f"""
    WITH x AS (
        SELECT vec_id,
               CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END AS y,
               e[1] AS x0, e[2] AS x1, e[3] AS x2, e[4] AS x3
        FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) >= 4)),
    g0 AS (SELECT {_LOGREG_GRAD("0.5")} FROM x),
    w1 AS (SELECT -0.5 * g0 AS w0, -0.5 * g1 AS w1,
                  -0.5 * g2 AS w2, -0.5 * g3 AS w3 FROM g0),
    g1 AS (
        SELECT {_LOGREG_GRAD("1.0 / (1.0 + exp(-(w.w0 * x.x0 + w.w1 * x.x1 + w.w2 * x.x2 + w.w3 * x.x3)))")}
        FROM x CROSS JOIN w1 w),
    w2 AS (SELECT round(w1.w0 - 0.5 * g1.g0, 6) AS w0,
                  round(w1.w1 - 0.5 * g1.g1, 6) AS w1,
                  round(w1.w2 - 0.5 * g1.g2, 6) AS w2,
                  round(w1.w3 - 0.5 * g1.g3, 6) AS w3
           FROM w1 CROSS JOIN g1)
    SELECT x.vec_id, x.y AS label_is_zero,
           round(1.0 / (1.0 + exp(-(w.w0 * x.x0 + w.w1 * x.x1
                                    + w.w2 * x.x2 + w.w3 * x.x3))), 6)
               AS score
    FROM x CROSS JOIN w2 w
    ORDER BY score DESC, x.vec_id LIMIT 10
    """,
)
def logreg_label_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inference for the trained classifier: every vector scored with
    the 6dp-rounded trained weights (identical literals on both
    engines, so the scoring expression is the same arithmetic), top-10
    by score. Train once, score anywhere — the weights ride along as a
    broadcast-sized literal; the scoring pass is a narrow map over the
    corpus, planned as TakeOrderedAndProject for the cutoff."""
    from news_data_pipeline_spark.operators.fitting import logreg_train

    emb = load_table(spark, sf_dir, "embeddings")
    labeled = emb.select(
        "vec_id",
        (F.col("label") == 0).cast("double").alias("y"),
        "embedding",
    )
    w_rows = logreg_train(
        labeled, y_col="y", vec_col="embedding", dims=4, iters=2, lr=0.5
    ).collect()
    w = [r["weight"] for r in sorted(w_rows, key=lambda r: r["pos"])]
    x = F.slice(F.col("embedding").cast("array<double>"), 1, 4)
    z = F.aggregate(
        F.zip_with(x, F.array(*[F.lit(wi) for wi in w]), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        labeled.where(x.isNotNull() & (F.size(x) == 4))
        .select(
            "vec_id",
            F.col("y").alias("label_is_zero"),
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


# --- round 4: int8 embedding quantization error audit ---------------------
@register(
    "embedding_quantization_error",
    # q = floor(u + 0.5) instead of round(): floor of the identical
    # double is engine-stable where decimal rounding of .5-boundary
    # quotients is not
    oracle="""
    WITH comp AS (
        SELECT u.i - 1 AS pos, e[u.i] AS x
        FROM (SELECT CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings WHERE embedding IS NOT NULL) t,
             LATERAL unnest(range(1, len(e) + 1)) AS u(i)),
    stats AS (
        SELECT pos, min(x) AS lo, max(x) AS hi,
               (max(x) - min(x)) / 255.0 AS scale
        FROM comp GROUP BY pos),
    dq AS (
        SELECT c.pos,
               abs(c.x - (s.lo + floor((c.x - s.lo) / nullif(s.scale, 0.0)
                                       + 0.5) * s.scale)) AS err
        FROM comp c JOIN stats s USING (pos)
        WHERE s.scale > 0)
    SELECT CAST(pos AS INT) AS pos,
           floor(any_value(scale) * 100000000 + 0.5) / 100000000.0 AS scale,
           -- per-row 10dp settle before the mean: avg(double) is
           -- summation-order-dependent in its last ulp; the BIGINT sum
           -- is exact and divides identically on both engines
           floor(sum(CAST(floor(err * 10000000000 + 0.5) AS BIGINT))
                 / 10000000000.0 / count(*) * 100000000 + 0.5)
               / 100000000.0 AS avg_abs_err,
           floor(max(err) * 100000000 + 0.5) / 100000000.0 AS max_abs_err
    FROM dq JOIN stats USING (pos) GROUP BY pos
    """,
)
def embedding_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 (256-level) affine quantization audit per embedding
    dimension: per-dim min/max calibration, symmetric-free affine
    dequantize, and the resulting absolute reconstruction error — the
    measurement that decides whether a vector index can run quantized.
    One explode + two aggregates keyed on the 64-value dimension id;
    calibration stats ride back as a broadcast join."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = fan_out(
        emb.where(F.col("embedding").isNotNull()).select(
            F.col("embedding").cast("array<double>").alias("e")
        )
    ).select(F.posexplode("e").alias("pos", "x"))
    stats = comp.groupBy("pos").agg(
        F.min("x").alias("lo"),
        ((F.max("x") - F.min("x")) / F.lit(255.0)).alias("scale"),
    )
    u = (F.col("x") - F.col("lo")) / F.nullif(F.col("scale"), F.lit(0.0))
    dq = F.col("lo") + F.floor(u + F.lit(0.5)) * F.col("scale")
    err = F.abs(F.col("x") - dq)
    return (
        comp.join(F.broadcast(stats), "pos")
        .where(F.col("scale") > 0)
        .groupBy("pos")
        .agg(
            settled_round(F.any_value("scale"), 8).alias("scale"),
            settled_round(
                F.sum(settled_units(err, 10))
                / 1e10
                / F.count(F.lit(1)),
                8,
            ).alias("avg_abs_err"),
            settled_round(F.max(err), 8).alias("max_abs_err"),
        )
        .select(F.col("pos").cast("int").alias("pos"), "scale", "avg_abs_err", "max_abs_err")
    )


# --- round 4: near-dup graph degree distribution --------------------------
@register(
    "neardup_degree_histogram",
    oracle=f"""
    WITH shingles AS ({_DUCK_SHINGLES}),
    sig AS (
        SELECT id,
               {", ".join(f"min(substring(md5('seed{i // 4}:' || shingle), {8 * (i % 4) + 1}, 8)) AS mh_{i}" for i in range(16))}
        FROM shingles GROUP BY id),
    banded AS (
        {" UNION ALL ".join(
            "SELECT id, %d AS band, md5(mh_%d || '|' || mh_%d || '|' || mh_%d || '|' || mh_%d) AS bucket FROM sig"
            % (b, 4 * b, 4 * b + 1, 4 * b + 2, 4 * b + 3)
            for b in range(4)
        )}),
    cand AS (
        SELECT DISTINCT l.id AS id_a, r.id AS id_b
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id),
    deg AS (
        SELECT id, count(*) AS degree FROM (
            SELECT id_a AS id FROM cand
            UNION ALL SELECT id_b AS id FROM cand) t
        GROUP BY id)
    SELECT degree, count(*) AS n_docs
    FROM deg GROUP BY degree
    """,
)
def neardup_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the LSH near-dup graph: how many
    candidate partners each document has — the triage metric that
    separates a healthy corpus (degrees ~0-2) from a boilerplate
    swamp (hub nodes) BEFORE running component propagation. Pair list
    -> symmetric explode -> two bounded aggregates."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_dedup_pairs(
        docs, "doc_id", "text", shingle_n=3, bands=4, rows_per_band=4
    )
    ends = pairs.select(F.col("id_a").alias("id")).unionAll(
        pairs.select(F.col("id_b").alias("id"))
    )
    deg = ends.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_docs"))


# --- round 4: distribution-balancing sampling weights ---------------------
@register(
    "document_balance_weights",
    oracle="""
    WITH counts AS (
        SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
    total AS (SELECT sum(n_docs) AS n, count(*) AS n_langs FROM counts)
    SELECT c.lang, c.n_docs,
           floor(c.n_docs / t.n::DOUBLE * 1000000 + 0.5) / 1000000.0
               AS actual_share,
           floor(1.0 / t.n_langs * 1000000 + 0.5) / 1000000.0
               AS target_share,
           floor((1.0 / t.n_langs) / (c.n_docs / t.n::DOUBLE)
                 * 1000000 + 0.5) / 1000000.0 AS sample_weight
    FROM counts c CROSS JOIN total t
    """,
)
def document_balance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-matching sampling weights per language: the
    importance weight that reshapes the corpus toward a uniform
    language mixture (weight = target_share / actual_share — the
    DoReMi-style reweighting primitive with a uniform target). One
    tiny aggregate joined to a broadcast 1-row total; at sampling time
    the weights drive hash-threshold selection exactly like
    mixture_sampled_stats."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    total = counts.agg(
        F.sum("n_docs").alias("__n"), F.count(F.lit(1)).alias("__n_langs")
    )
    actual = F.col("n_docs") / F.col("__n").cast("double")
    target = F.lit(1.0) / F.col("__n_langs")
    return counts.join(F.broadcast(total)).select(
        "lang",
        "n_docs",
        settled_round(actual, 6).alias("actual_share"),
        settled_round(target, 6).alias("target_share"),
        settled_round(target / actual, 6).alias("sample_weight"),
    )


# --- round 4: corpus drift statistics -------------------------------------
@register(
    "source_lang_independence",
    oracle="""
    WITH obs AS (
        SELECT source, lang, count(*) AS observed
        FROM documents GROUP BY source, lang),
    rows_ AS (SELECT source, sum(observed) AS row_n FROM obs GROUP BY source),
    cols AS (SELECT lang, sum(observed) AS col_n FROM obs GROUP BY lang),
    tot AS (SELECT sum(observed) AS n FROM obs)
    SELECT o.source, o.lang, o.observed,
           floor(r.row_n * c.col_n / t.n::DOUBLE * 10000 + 0.5) / 10000.0
               AS expected,
           floor((o.observed - r.row_n * c.col_n / t.n::DOUBLE)
                 / sqrt(r.row_n * c.col_n / t.n::DOUBLE)
                 * 10000 + 0.5) / 10000.0 AS residual
    FROM obs o
    JOIN rows_ r USING (source)
    JOIN cols c USING (lang)
    CROSS JOIN tot t
    """,
)
def source_lang_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source x language contingency analysis: observed cell counts vs
    the independence expectation (row_total x col_total / N) and the
    Pearson residual — the drift detector that flags a crawl source
    suddenly skewing toward one language. Three tiny keyed aggregates
    over the cell frame; margins and the 1-row total ride back as
    broadcasts; expectations are exact integer products in doubles."""
    docs = load_table(spark, sf_dir, "documents")
    obs = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("observed")
    )
    rows = obs.groupBy("source").agg(F.sum("observed").alias("__row_n"))
    cols = obs.groupBy("lang").agg(F.sum("observed").alias("__col_n"))
    tot = obs.agg(F.sum("observed").alias("__n"))
    expected = (
        F.col("__row_n") * F.col("__col_n") / F.col("__n").cast("double")
    )
    return (
        obs.join(F.broadcast(rows), "source")
        .join(F.broadcast(cols), "lang")
        .join(F.broadcast(tot))
        .select(
            "source",
            "lang",
            "observed",
            settled_round(expected, 4).alias("expected"),
            settled_round(
                (F.col("observed") - expected) / F.sqrt(expected), 4
            ).alias("residual"),
        )
    )


# --- round 7b: named quality rules, sketches, langid evaluation -----------
# DuckDB twin of the detected-language expression used by
# document_language_id — kept textually in sync with that oracle (same
# marker lists, same 2% floor, same alphabetical tie-break).
_BB = "\\b"  # hoisted: f-string expressions can't contain backslashes
_DUCK_LANGID_SCORES = ",\n".join(
    f"               floor(len(regexp_extract_all(lower(text), '{_BB}({'|'.join(T.LANG_MARKERS[lang])}){_BB}'))"
    f"\n                     / greatest({_DUCK_TOKENS}, 1)::DOUBLE * 10000 + 0.5) / 10000.0 AS s_{lang}"
    for lang in ("de", "en", "es", "fr")
)
_DUCK_LANGID_CASE = """
           CASE WHEN greatest(s_de, s_en, s_es, s_fr) < 0.02 THEN 'und'
                WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                ELSE 'fr' END AS detected_lang
"""

# DuckDB twin of functions.text.gopher_flags — keep in sync.
GOPHER_STOPWORDS = T.GOPHER_STOPWORDS
_DUCK_STOPWORDS_PRESENT = " + ".join(
    "CASE WHEN len(regexp_extract_all(lower(text), "
    f"'{_BB}{w}{_BB}')) > 0 THEN 1 ELSE 0 END"
    for w in GOPHER_STOPWORDS
)


@register(
    "gopher_quality_flags",
    oracle=f"""
    WITH m AS (
        SELECT doc_id,
               CAST({_DUCK_WORDS} AS BIGINT) AS n_words,
               CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT)
                   AS n_word_chars,
               CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT)
                   AS n_symbols,
               {_DUCK_STOPWORDS_PRESENT} AS n_stopwords_present
        FROM documents)
    SELECT doc_id, n_words,
           CAST(CASE WHEN n_words BETWEEN 50 AND 100000
                THEN 1 ELSE 0 END AS INT) AS flag_word_count,
           CAST(CASE WHEN n_word_chars >= 3 * n_words
                      AND n_word_chars <= 10 * n_words
                THEN 1 ELSE 0 END AS INT) AS flag_mean_word_length,
           CAST(CASE WHEN 10 * n_symbols <= n_words
                THEN 1 ELSE 0 END AS INT) AS flag_symbol_ratio,
           CAST(CASE WHEN n_stopwords_present >= 2
                THEN 1 ELSE 0 END AS INT) AS flag_stopwords,
           CAST(CASE WHEN n_words BETWEEN 50 AND 100000
                      AND n_word_chars >= 3 * n_words
                      AND n_word_chars <= 10 * n_words
                      AND 10 * n_symbols <= n_words
                      AND n_stopwords_present >= 2
                THEN 1 ELSE 0 END AS INT) AS pass_gopher
    FROM m
    """,
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-filter rule set (Rae et al. 2021) as per-doc
    integer flags: word count in [50, 100000]; mean word length in
    [3, 10]; symbol-to-word ratio ('#'/'...') <= 0.1; >= 2 distinct
    required stopwords present. Ratio rules compare as exact integer
    cross-products (n_chars vs 3*n_words, 10*n_symbols vs n_words) —
    no division, so no float anywhere and nothing to settle. One
    projection over the scan, every rule codegen'd regex/length
    arithmetic; extends the reference's single quality heuristic
    (notebooks/2_transformation_to_silver.py, mirrored by
    functions.text.quality_score) with the named published rule set
    (expressions in functions.text.gopher_flags)."""
    docs = load_table(spark, sf_dir, "documents")
    flags = T.gopher_flags(F.col("text"))
    return docs.select(
        "doc_id", *[c.alias(name) for name, c in flags.items()]
    )


_CMS_DEPTH, _CMS_WIDTH, _CMS_K = 4, 256, 30
_CMS_BUCKETS = ",\n".join(
    f"               CAST(concat('0x', substring(md5('cms{j}:' || token), 1, 8))"
    f" AS BIGINT) % {_CMS_WIDTH} AS b{j}"
    for j in range(_CMS_DEPTH)
)
_CMS_ROWS = ",\n".join(
    f"    s{j} AS (SELECT b{j} AS bucket, CAST(sum(exact_count) AS BIGINT)"
    f" AS c{j} FROM tb GROUP BY b{j})"
    for j in range(_CMS_DEPTH)
)
_CMS_JOINS = "\n".join(
    f"    JOIN s{j} ON tb.b{j} = s{j}.bucket" for j in range(_CMS_DEPTH)
)


@register(
    "cms_heavy_hitters",
    oracle=f"""
    WITH toks AS (
        SELECT w AS token
        FROM documents, LATERAL unnest(
            regexp_split_to_array(trim(text), '\\s+')) AS t(w)
        WHERE length(w) > 0),
    tc AS (SELECT token, CAST(count(*) AS BIGINT) AS exact_count
           FROM toks GROUP BY token),
    tb AS (
        SELECT token, exact_count,
{_CMS_BUCKETS}
        FROM tc),
{_CMS_ROWS}
    SELECT token,
           CAST(least({", ".join(f"c{j}" for j in range(_CMS_DEPTH))})
               AS BIGINT) AS cms_estimate,
           exact_count
    FROM tb
{_CMS_JOINS}
    ORDER BY cms_estimate DESC, token ASC
    LIMIT {_CMS_K}
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token heavy hitters by count-min sketch (depth 4, width 256):
    the fixed-size mergeable-summary answer to "what are the hot
    tokens" when the distinct-token table itself is too large to keep.
    The sketch is 4x256 BIGINT counters — partial-aggregated map-side,
    broadcast back for point queries — and its one-sided error is
    auditable here because the exact count rides beside the estimate
    (estimate >= exact always). Hashes are the repo's md5-substring
    scheme (operators.dedup.simhash), so the oracle reproduces every
    counter exactly."""
    from news_data_pipeline_spark.operators.sketches import cms_heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    return cms_heavy_hitters(
        docs, "doc_id", "text", depth=_CMS_DEPTH, width=_CMS_WIDTH, k=_CMS_K
    )


@register(
    "langid_confusion",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, lang,
{_DUCK_LANGID_SCORES}
        FROM documents),
    d AS (
        SELECT doc_id, lang,
{_DUCK_LANGID_CASE}
        FROM s)
    SELECT lang, detected_lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM d GROUP BY lang, detected_lang
    """,
)
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the n-gram language identifier against the
    corpus's labeled lang column: (label, prediction, count) cells —
    the precision/recall evidence a crawl pipeline needs before
    trusting detected_lang for mixture math. One projection (the same
    codegen'd marker-scan as document_language_id) plus one map-side
    combined groupBy; output is bounded by |langs|^2."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang", T.detect_language(F.col("text")).alias("detected_lang")
        )
        .groupBy("lang", "detected_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


# --- CCNet perplexity tiers (round 8) -------------------------------------

# The unigram-LM score pipeline, shared verbatim by the bucket queries
# below and pre-verified cross-engine in tests/test_r8_candidate_oracles
# at sf0.001/0.01/0.1 before registration.
_DUCK_LM_SCORE_CTES = """
    toks AS (
        SELECT doc_id AS id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents),
    tf AS (SELECT id, term, count(*) AS tf FROM toks
           WHERE length(term) > 0 GROUP BY id, term),
    vocab AS (SELECT term, sum(tf) AS ctf FROM tf GROUP BY term),
    total AS (SELECT sum(ctf) AS total_tokens FROM vocab),
    lp AS (
        SELECT tf.id, tf.tf, tf.tf * ln(ctf / total_tokens) AS lp
        FROM tf JOIN vocab USING (term) CROSS JOIN total),
    scores AS (
        SELECT id, CAST(sum(tf) AS BIGINT) AS n_tokens,
               floor(sum(CAST(floor(lp * 1000000 + 0.5) AS BIGINT))
                     / 1000000.0 / sum(tf) * 10000 + 0.5) / 10000.0
                   AS avg_logprob
        FROM lp GROUP BY id)"""


@register(
    "perplexity_buckets",
    oracle=f"""
    WITH {_DUCK_LM_SCORE_CTES},
    tiers AS (
        SELECT s.id, d.lang, s.n_tokens, s.avg_logprob,
               CAST(ntile(3) OVER (
                   PARTITION BY d.lang
                   ORDER BY s.avg_logprob DESC, s.id) AS INT)
                   AS bucket_idx
        FROM scores s JOIN (SELECT doc_id AS id, lang FROM documents) d
          USING (id))
    SELECT id, lang, n_tokens, avg_logprob, bucket_idx,
           CASE bucket_idx WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM tiers
    """,
)
def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail quality tiers
    (operators.terms.perplexity_buckets): every document ranked by its
    unigram-LM score WITHIN its language, each language split into
    three equal ntile tiers — deterministic under ties via the
    (score DESC, id) order. The exact path funnels each language
    through one window task (fine to ~10^8 docs/lang); the registered
    ``perplexity_bucket_cuts`` is the threshold-join escape hatch past
    that."""
    from news_data_pipeline_spark.operators.terms import perplexity_buckets

    docs = load_table(spark, sf_dir, "documents")
    return perplexity_buckets(docs, "doc_id", "text", "lang")


@register(
    "perplexity_bucket_cuts",
    # Spark's percentile_approx in EXACT mode (accuracy >= n) returns
    # the element at ascending rank ceil(q*n), with q*n computed in
    # IEEE doubles — probed at n = 5..60001. DuckDB's quantile_disc
    # uses a DIFFERENT rank convention at integer boundaries (at
    # n=75, q=1-2/3 it picks rank 25 where Spark's ceil of
    # 25.000000000000004 picks 26), so the oracle spells the rank pick
    # explicitly with the operator's exact q expressions: 1.0 - i/3
    # differs from i/3's complement by 1 ulp, enough to flip ceil when
    # q*n lands on an integer.
    oracle=f"""
    WITH {_DUCK_LM_SCORE_CTES},
    ranked AS (
        SELECT d.lang, s.avg_logprob,
               row_number() OVER (
                   PARTITION BY d.lang ORDER BY s.avg_logprob) AS rn,
               count(*) OVER (PARTITION BY d.lang) AS n
        FROM scores s JOIN (SELECT doc_id AS id, lang FROM documents) d
          USING (id))
    SELECT lang, CAST(0 AS INT) AS cut_idx, avg_logprob AS cut
    FROM ranked WHERE rn = CAST(ceil((1.0 - 1.0/3.0) * n) AS BIGINT)
    UNION ALL
    SELECT lang, CAST(1 AS INT), avg_logprob
    FROM ranked WHERE rn = CAST(ceil((1.0 - 2.0/3.0) * n) AS BIGINT)
    """,
)
def perplexity_bucket_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language LM-score cut points — the 100-TB path around
    ``perplexity_buckets``' per-language window
    (operators.terms.perplexity_bucket_cuts): one groupBy(lang) of
    percentile_approx (mergeable sketch, map-side partials, no global
    sort) yields the head/middle and middle/tail boundaries; broadcast
    the languages-count-sized result back and bucket by threshold.
    accuracy=10^6 makes the sketch EXACT at driver scale (rank error
    n/accuracy < 1), which is what lets an approx-by-design operator
    carry an exact oracle; production keeps the default accuracy and
    accepts CCNet's boundary tolerance. Cuts posexplode to rows (the
    driver canonicalizer takes no top-level arrays)."""
    from news_data_pipeline_spark.operators.terms import (
        perplexity_bucket_cuts,
    )

    docs = load_table(spark, sf_dir, "documents")
    cuts = perplexity_bucket_cuts(
        docs, "doc_id", "text", "lang", accuracy=1_000_000
    )
    return cuts.select(
        "lang", F.posexplode("cuts").alias("cut_idx", "cut")
    ).select("lang", F.col("cut_idx").cast("int").alias("cut_idx"), "cut")


# --- Gopher character-fraction repetition rules (round 8) ------------------


@register(
    "top_ngram_char_fraction",
    # drives from documents (LEFT JOIN the word totals) so zero-word
    # docs emit the documented (0, 0, 0.0) row on both engines
    oracle="""
    WITH w AS (
        SELECT doc_id AS id, u.w
        FROM documents,
             LATERAL unnest(regexp_split_to_array(trim(text), '\\s+'))
                 AS u(w)
        WHERE length(u.w) > 0),
    totals AS (
        SELECT d.doc_id AS id,
               CAST(coalesce(t.tc, 0) AS BIGINT) AS total_chars
        FROM documents d LEFT JOIN (
            SELECT id, sum(length(w)) + count(*) - 1 AS tc
            FROM w GROUP BY id) t ON d.doc_id = t.id),
    grams AS (
        SELECT id, concat_ws(' ', ws[i], ws[i+1]) AS g
        FROM (SELECT doc_id AS id,
                     regexp_split_to_array(trim(text), '\\s+') AS ws,
                     unnest(range(1,
                         greatest(len(regexp_split_to_array(
                             trim(text), '\\s+')) - 1, 1) + 1)) AS i
              FROM documents) t
        WHERE len(string_split(concat_ws(' ', ws[i], ws[i+1]), ' ')) = 2),
    counted AS (
        SELECT id, g, count(*) AS c FROM grams GROUP BY id, g),
    top AS (
        SELECT id, g AS top_gram, c AS top_gram_count FROM (
            SELECT *, row_number() OVER (
                PARTITION BY id
                ORDER BY c DESC, length(g) DESC, g DESC) AS rn
            FROM counted) r
        WHERE rn = 1)
    SELECT t.id, top.top_gram,
           CAST(coalesce(top.top_gram_count, 0) AS BIGINT)
               AS top_gram_count,
           CAST(coalesce(top.top_gram_count, 0)
                * coalesce(length(top.top_gram), 0) AS BIGINT)
               AS rep_chars,
           t.total_chars,
           CASE WHEN t.total_chars = 0 THEN 0.0
                ELSE floor(coalesce(top.top_gram_count, 0)
                     * coalesce(length(top.top_gram), 0)
                     / CAST(t.total_chars AS DOUBLE) * 10000 + 0.5)
                   / 10000.0 END AS top_ngram_char_frac
    FROM totals t LEFT JOIN top ON t.id = top.id
    """,
)
def top_ngram_char_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition rule, short-gram half (Rae et al. 2021 A1.1;
    operators.dedup.top_ngram_char_fraction): fraction of each
    document's characters inside its single most frequent word bigram.
    All-BIGINT char accounting over the whitespace-normalized text, one
    settled 4dp ratio at the end — the cross-engine-stable class. Ties
    at the max count break to the longest gram (worst offender), then
    lexicographically last."""
    from news_data_pipeline_spark.operators.dedup import (
        top_ngram_char_fraction,
    )

    docs = load_table(spark, sf_dir, "documents")
    return top_ngram_char_fraction(docs, "doc_id", "text", n=2)


@register(
    "dup_ngram_char_coverage",
    oracle="""
    WITH raw AS (
        SELECT doc_id AS id,
               regexp_split_to_array(trim(text), '\\s+') AS ws
        FROM documents),
    w AS (
        SELECT id,
               row_number() OVER (PARTITION BY id ORDER BY i) - 1
                   AS pos,
               ws[i] AS wd
        FROM (SELECT id, ws,
                     unnest(range(1, len(ws) + 1)) AS i FROM raw) t
        WHERE length(ws[i]) > 0),
    g AS (
        SELECT id, pos,
               concat_ws(' ', wd,
                         lead(wd, 1) OVER win,
                         lead(wd, 2) OVER win) AS gram,
               lead(wd, 2) OVER win IS NOT NULL AS is_full
        FROM w WINDOW win AS (PARTITION BY id ORDER BY pos)),
    dups AS (
        SELECT id, gram FROM g WHERE is_full
        GROUP BY id, gram HAVING count(*) >= 2),
    cov AS (
        SELECT DISTINCT g.id, g.pos + u.k AS pos
        FROM g JOIN dups USING (id, gram),
             LATERAL unnest(range(0, 3)) AS u(k)
        WHERE g.is_full)
    SELECT w.id,
           CAST(sum(CASE WHEN cov.pos IS NOT NULL
                    THEN length(w.wd) ELSE 0 END) AS BIGINT)
               AS covered_chars,
           CAST(sum(length(w.wd)) AS BIGINT) AS word_chars,
           floor(sum(CASE WHEN cov.pos IS NOT NULL
                    THEN length(w.wd) ELSE 0 END)
                 / CAST(sum(length(w.wd)) AS DOUBLE) * 10000 + 0.5)
               / 10000.0 AS dup_ngram_char_frac
    FROM w LEFT JOIN cov ON w.id = cov.id AND w.pos = cov.pos
    GROUP BY w.id
    """,
)
def dup_ngram_char_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition rule, long-gram half (Rae et al. 2021 A1.1;
    operators.dedup.dup_ngram_char_coverage): fraction of each
    document's WORD characters covered by trigram instances that occur
    more than once within the document — position-coverage, so
    overlapping duplicates never double-count a character. Per-doc
    windows only (the (id, pos) key keeps partitions balanced), within-
    doc gram counts, one settled 4dp ratio."""
    from news_data_pipeline_spark.operators.dedup import (
        dup_ngram_char_coverage,
    )

    docs = load_table(spark, sf_dir, "documents")
    return dup_ngram_char_coverage(docs, "doc_id", "text", n=3)


# --- Bloom filter membership (round 8) ------------------------------------


def _duck_bloom_bit(j: int, col: str, num_bits: int) -> str:
    """The CMS hex-cast idiom: the same md5-prefix bucket Spark's
    operators.sketches._bloom_bit computes, SQL-reproducible on both
    engines."""
    return (
        f"CAST(concat('0x', substring(md5('bloom{j}:' || {col}), 1, 8))"
        f" AS BIGINT) % {num_bits}"
    )


@register(
    "bloom_probe",
    oracle=f"""
    WITH mem AS (
        SELECT md5(text) AS fp FROM documents WHERE doc_id < 300),
    bits AS (
        SELECT DISTINCT
            CASE u.j WHEN 0 THEN {_duck_bloom_bit(0, "fp", 256)}
                     WHEN 1 THEN {_duck_bloom_bit(1, "fp", 256)}
                     ELSE {_duck_bloom_bit(2, "fp", 256)} END AS bit
        FROM mem, LATERAL unnest(range(0, 3)) AS u(j)),
    pr AS (SELECT doc_id, md5(text) AS fp FROM documents)
    SELECT doc_id,
           CAST(CASE WHEN {" AND ".join(f"({_duck_bloom_bit(j, 'fp', 256)}) IN (SELECT bit FROM bits)" for j in range(3))}
                THEN 1 ELSE 0 END AS INT)
               AS maybe_member
    FROM pr
    """,
)
def bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership flags (operators.sketches.bloom_bits +
    bloom_probe): the corpus slice doc_id < 300 builds a 256-bit / 3-
    hash filter (small enough that collisions actually exercise the
    false-positive path), every document probes it. The no-false-
    negative contract is driver-checked through the value hash: every
    true member MUST carry maybe_member = 1. The filter is a <=
    num_bits-row broadcast frame — the 100-TB probe side never
    shuffles."""
    from news_data_pipeline_spark.operators.sketches import (
        bloom_bits,
        bloom_probe,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus_fp = docs.where(F.col("doc_id") < 300).select(
        F.md5("text").alias("fp")
    )
    probes = docs.select("doc_id", F.md5("text").alias("fp"))
    bits = bloom_bits(corpus_fp, "fp", num_bits=256, num_hashes=3)
    return bloom_probe(
        probes, "fp", bits, num_bits=256, num_hashes=3
    ).select("doc_id", "maybe_member")


# --- CLIP-style cross-modal retrieval (round 8) ----------------------------

# One-Lloyd-iteration PQ training + encoding over the 16-dim joint
# image/text embedding space (m=4 subspaces x sub_dim=4), the
# sub_dim-4 sibling of corpusops._PQ_PREFIX. Starts from ``emb``
# (defined by _DUCK_IMG_EMB).
_PQ4_PREFIX = """
    v AS (SELECT doc_id AS id, e FROM emb),
    comp AS (
        SELECT id,
               CAST(floor((u.p - 1) / 4.0) AS INT) AS sub,
               (u.p - 1) % 4 + 1 AS j,
               e[u.p] AS x
        FROM v, LATERAL unnest(range(1, len(e) + 1)) AS u(p)),
    cb0 AS (
        SELECT sub, CAST(id AS INT) AS cid, j, x AS value
        FROM comp WHERE id < 16),
    c2_0 AS (
        SELECT sub, cid,
               sum(CAST(floor(value * value * 1000000000000 + 0.5)
                        AS BIGINT)) / 1000000000000.0 AS c2
        FROM cb0 GROUP BY sub, cid),
    dots0 AS (
        SELECT comp.id, comp.sub, cb0.cid,
               sum(CAST(floor(comp.x * cb0.value * 1000000000000 + 0.5)
                        AS BIGINT)) / 1000000000000.0 AS dot
        FROM comp JOIN cb0 ON comp.sub = cb0.sub AND comp.j = cb0.j
        GROUP BY comp.id, comp.sub, cb0.cid),
    assign0 AS (
        SELECT id, sub, cid AS code FROM (
            SELECT d.id, d.sub, d.cid,
                   row_number() OVER (
                       PARTITION BY d.id, d.sub
                       ORDER BY floor((-2 * d.dot + c.c2) * 1000000 + 0.5)
                                / 1000000.0,
                                d.cid) AS r
            FROM dots0 d JOIN c2_0 c
              ON d.sub = c.sub AND d.cid = c.cid) t
        WHERE r = 1),
    means1 AS (
        SELECT comp.sub, a.code AS cid, comp.j,
               floor(sum(CAST(floor(comp.x * 10000000000 + 0.5) AS BIGINT))
                     / 10000000000.0 / count(*) * 1000000 + 0.5)
                   / 1000000.0 AS value
        FROM comp JOIN assign0 a ON comp.id = a.id AND comp.sub = a.sub
        GROUP BY comp.sub, a.code, comp.j),
    cb1 AS (
        SELECT cb0.sub, cb0.cid, cb0.j, coalesce(m.value, cb0.value) AS value
        FROM cb0 LEFT JOIN means1 m
          ON cb0.sub = m.sub AND cb0.cid = m.cid AND cb0.j = m.j),
    c2_1 AS (
        SELECT sub, cid,
               sum(CAST(floor(value * value * 1000000000000 + 0.5)
                        AS BIGINT)) / 1000000000000.0 AS c2
        FROM cb1 GROUP BY sub, cid),
    dots1 AS (
        SELECT comp.id, comp.sub, cb1.cid,
               sum(CAST(floor(comp.x * cb1.value * 1000000000000 + 0.5)
                        AS BIGINT)) / 1000000000000.0 AS dot
        FROM comp JOIN cb1 ON comp.sub = cb1.sub AND comp.j = cb1.j
        GROUP BY comp.id, comp.sub, cb1.cid),
    codes AS (
        SELECT id, sub, cid AS code FROM (
            SELECT d.id, d.sub, d.cid,
                   row_number() OVER (
                       PARTITION BY d.id, d.sub
                       ORDER BY floor((-2 * d.dot + c.c2) * 1000000 + 0.5)
                                / 1000000.0,
                                d.cid) AS r
            FROM dots1 d JOIN c2_1 c
              ON d.sub = c.sub AND d.cid = c.cid) t
        WHERE r = 1)
"""


@register(
    "multimodal_crossmodal_topk",
    # the text tower embeds text IDENTICALLY to the image tower's
    # embedding of that text's rendering (joint space by construction),
    # so the oracle scores queries from the image-side CTE — the Spark
    # side still runs the genuine two-tower path (text never renders a
    # payload). Structure mirrors pq_ivf_rerank_topk's oracle at
    # sub_dim=4 over the image space.
    oracle=f"""
    {_DUCK_IMG_EMB},
    {_PQ4_PREFIX},
    cent AS (SELECT id AS ccid, e AS c FROM v ORDER BY id LIMIT 16),
    corpus_assign AS (
        SELECT id AS neighbor_id, ccid AS cell FROM (
            SELECT v.id, cent.ccid,
                   row_number() OVER (
                       PARTITION BY v.id
                       ORDER BY round(-2 * list_dot_product(v.e, cent.c)
                                      + list_dot_product(cent.c, cent.c), 6),
                                cent.ccid) AS r
            FROM v CROSS JOIN cent) t
        WHERE r = 1),
    query_probe AS (
        SELECT id AS query_id, ccid AS cell FROM (
            SELECT v.id, cent.ccid,
                   row_number() OVER (
                       PARTITION BY v.id
                       ORDER BY round(-2 * list_dot_product(v.e, cent.c)
                                      + list_dot_product(cent.c, cent.c), 6),
                                cent.ccid) AS r
            FROM v CROSS JOIN cent
            WHERE v.id < 5) t
        WHERE r <= 4),
    cand AS (
        SELECT q.query_id, c.neighbor_id
        FROM query_probe q JOIN corpus_assign c ON q.cell = c.cell
        WHERE q.query_id <> c.neighbor_id),
    qlut AS (
        SELECT q.id AS query_id, q.sub, cb1.cid AS code,
               CAST(floor(
                   sum(CAST(floor((q.x - cb1.value) * (q.x - cb1.value)
                                  * 1000000000000 + 0.5) AS BIGINT))
                   / 1000000000000.0 * 1000000 + 0.5) AS BIGINT) AS u
        FROM comp q JOIN cb1 ON q.sub = cb1.sub AND q.j = cb1.j
        WHERE q.id < 5
        GROUP BY q.id, q.sub, cb1.cid),
    adc AS (
        SELECT cand.query_id, cand.neighbor_id,
               sum(l.u) / 1000000.0 AS adc_dist
        FROM cand
        JOIN codes cd ON cd.id = cand.neighbor_id
        JOIN qlut l ON l.query_id = cand.query_id
                   AND l.sub = cd.sub AND l.code = cd.code
        GROUP BY cand.query_id, cand.neighbor_id),
    shortlist AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY adc_dist, neighbor_id) AS rn
            FROM adc) t
        WHERE rn <= 20)
    SELECT query_id, neighbor_id, cosine_sim, CAST(rn AS INT) AS rank FROM (
        SELECT s.query_id, s.neighbor_id,
               round(list_dot_product(q.e, n.e)
                     / (sqrt(list_dot_product(q.e, q.e))
                        * sqrt(list_dot_product(n.e, n.e))), 6) AS cosine_sim,
               row_number() OVER (
                   PARTITION BY s.query_id
                   ORDER BY round(list_dot_product(q.e, n.e)
                                  / (sqrt(list_dot_product(q.e, q.e))
                                     * sqrt(list_dot_product(n.e, n.e))), 6)
                            DESC,
                            s.neighbor_id) AS rn
        FROM shortlist s
        JOIN v q ON q.id = s.query_id
        JOIN v n ON n.id = s.neighbor_id) t
    WHERE rn <= 5
    """,
)
def multimodal_crossmodal_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIP-style cross-modal retrieval, end to end: text queries
    against an image corpus through an IndexIVFPQ + exact-rerank stack,
    every stage the production shape.

    Corpus side (vision tower): every document renders to a fake image
    payload (mapInPandas) and embeds as a 16-bin intensity histogram
    (operators.multimodal.image_embeddings). Query side (text tower):
    the first five documents' TEXTS embed directly into the same joint
    space (operators.multimodal.text_embeddings) — no image payload
    ever exists on the query path; the towers are aligned by
    construction, standing in for CLIP's contrastive training. The
    index is the real ANN stack reused whole: PQ codebooks trained
    in-plan on the image corpus (m=4 x sub_dim=4, one Lloyd pass),
    IVF cells prune candidates, ADC shortlists 20, exact cosine
    re-ranks to top-5 (operators.pq.pq_ivf_rerank_topk). Swapping the
    towers for real encoders changes no operator, schema, or plan.

    The corpus-embedding subtree is localCheckpoint'ed (eager):
    it recurs under PQ train, encode, cell-assign, AND the exact
    rerank — four render+embed passes of every image with no shuffle
    boundary AQE could reuse. MEASURED at sf0.1 (3 interleaved sweeps,
    warm): plain 6.69/6.86/6.88 s vs checkpointed 5.10/5.19/5.36 s
    (~24% — the r8 verdict's plan-depth diagnosis confirmed);
    `persist()` wins slightly less (5.62-6.92 s) and leaks in the
    cache manager, while the checkpoint RDD is reclaimed by the
    ContextCleaner once unreferenced (the graph family's established
    lineage-control pattern). At 100 TB this materialization is the
    index-build step a real system performs anyway: embeddings are
    computed once and STORED; only this demo re-derives them in-plan."""
    from news_data_pipeline_spark.operators import multimodal as mm
    from news_data_pipeline_spark.operators.pq import (
        pq_ivf_rerank_topk,
        pq_train,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        mm.fake_image_bytes(
                            t or "", 4 + int(i) % 8, 4 + int(i) % 4
                        )
                        for i, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    images = fan_out(docs).mapInPandas(build, "doc_id long, payload binary")
    corpus = mm.image_embeddings(
        images, "doc_id", "payload", dim=16
    ).localCheckpoint(eager=True)
    cb = pq_train(corpus, id_col="id", m=4, k=16, sub_dim=4, iters=1)
    queries = mm.text_embeddings(
        docs.where(F.col("doc_id") < 5)
        .withColumn("w", (F.lit(4) + F.col("doc_id") % 8).cast("int"))
        .withColumn("h", (F.lit(4) + F.col("doc_id") % 4).cast("int")),
        "doc_id",
        "text",
        "w",
        "h",
        dim=16,
    )
    # centroid convention = first nlist corpus vectors by id; filters
    # can't push through mapInPandas, so letting the operator derive
    # them from `corpus` would re-render EVERY image to keep 16 rows —
    # embed exactly the 16 centroid docs instead (values identical)
    cent_images = fan_out(docs.where(F.col("doc_id") < 16)).mapInPandas(
        build, "doc_id long, payload binary"
    )
    centroids = (
        mm.image_embeddings(cent_images, "doc_id", "payload", dim=16)
        .select(
            F.col("id").alias("cid"),
            F.col("embedding").cast("array<double>").alias("centroid"),
        )
    )
    return pq_ivf_rerank_topk(
        queries,
        corpus,
        cb,
        id_col="id",
        sub_dim=4,
        k=5,
        rerank=20,
        nlist=16,
        nprobe=4,
        centroids=centroids,
    )


_XMODAL_INDEX = ArtifactCache("documents")


def _build_xmodal_artifacts(spark: SparkSession, docs: DataFrame):
    """One frozen-index build over an arbitrary (doc_id, text) frame:
    render + embed the vision tower once, train codebooks, store the
    cid-carrying codes and the raw embedding column as parquet.
    Returns ``(root_or_None, cb_rows, cent_rows)`` — the cacheable
    artifact tuple (`_crossmodal_frozen_index` caches it per sf_dir;
    its build-vs-retrieval sweep is in SCALE.md "Retired paths")."""
    from news_data_pipeline_spark.operators import multimodal as mm
    from news_data_pipeline_spark.operators.pq import pq_encode, pq_train
    from news_data_pipeline_spark.operators.similarity import _assign_cells

    def build(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        mm.fake_image_bytes(
                            t or "", 4 + int(i) % 8, 4 + int(i) % 4
                        )
                        for i, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    if not docs.head(1):
        return (None, [], [])
    import os
    import tempfile

    emb_schema = "id long, embedding array<double>"
    root = tempfile.mkdtemp(prefix="xmodal_index_")
    images = fan_out(docs).mapInPandas(
        build, "doc_id long, payload binary"
    )
    # the vision tower runs ONCE, at index build; the raw embedding
    # column is itself a stored artifact (the reranker's float column)
    mm.image_embeddings(images, "doc_id", "payload", dim=16).select(
        "id", F.col("embedding").cast("array<double>").alias("embedding")
    ).write.parquet(os.path.join(root, "vectors"))
    corpus = spark.read.schema(emb_schema).parquet(
        os.path.join(root, "vectors")
    )
    cb = pq_train(corpus, id_col="id", m=4, k=16, sub_dim=4, iters=1)
    cb_rows = [
        (r["sub"], r["cid"], r["j"], r["value"]) for r in cb.collect()
    ]
    # centroid convention = first nlist corpus vectors by id — read
    # from the stored vectors (filter pushes into the scan; no
    # re-render)
    cent_rows = [
        (r["id"], list(r["embedding"]))
        for r in corpus.where(F.col("id") < 16).orderBy("id").collect()
    ]
    centroids = spark.createDataFrame(
        cent_rows, "cid bigint, centroid array<double>"
    )
    cells = _assign_cells(
        corpus, centroids, "id", "embedding", "id", 1
    ).select("id", "cid")
    # REBALANCE before the artifact write (guide §6 output sizing): the
    # row-local encode is narrow, so without it the codes shard
    # inherits the fan-out's partition count — 32 tiny files whose
    # per-file open cost the PROBE side then pays on every query (the
    # old aggregate-shaped encode was AQE-coalesced to 1 file as a side
    # effect; measured on crossmodal_topk_frozen: 2.54 -> 3.14 s from
    # the 32-file layout alone). The hint coalesces to
    # advisoryPartitionSizeInBytes-sized outputs at any scale.
    pq_encode(corpus, cb, id_col="id", sub_dim=4).join(
        cells, on="id"
    ).hint("rebalance").write.parquet(os.path.join(root, "codes"))
    return (root, cb_rows, cent_rows)


def _crossmodal_frozen_index(spark: SparkSession, sf_dir: str):
    """Build-once frozen IndexIVFPQ for the crossmodal family: (corpus
    embeddings, centroids, codebooks, stored codes). A retrieval
    deployment builds all four at ingest and serves every query from
    them; re-deriving them per query is bench-shape, not production
    shape (round-9 verdict on ``multimodal_crossmodal_topk``'s
    remaining cost).

    Bounded artifacts (m*k*sub_dim codebook scalars, nlist centroid
    rows) live as collected rows in the ``ArtifactCache``; the
    CORPUS-SIZED artifacts (cid-carrying codes, raw embedding column)
    are never held on the driver — they spool once to session-temp
    parquet, the same on-disk shard layout
    ``streaming.sinks.maintain_pq_codes`` writes, and every run reads
    them back as ordinary scans. A hit whose root was reaped by tmp
    cleanup rebuilds rather than failing the read, and a rebuild for a
    regenerated ``documents`` table deletes the stale root. Training
    and encoding are deterministic (first-16-by-id centroids/seeds,
    settled integer units), so a cache hit is value-identical to a
    rebuild — the DuckDB oracle re-verifies the full semantics on
    every gate run.

    Empty corpus: artifacts degrade to empty frames without touching
    disk (an empty parquet write round-trips, but there is nothing to
    amortize)."""
    import os
    import shutil

    cb_schema = "sub int, cid int, j int, value double"
    cent_schema = "cid bigint, centroid array<double>"
    emb_schema = "id long, embedding array<double>"
    codes_schema = "id long, sub int, code int, cid bigint"

    def build():
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        return _build_xmodal_artifacts(spark, docs)

    def alive(art):
        root = art[0]
        return root is None or (
            os.path.isdir(os.path.join(root, "vectors"))
            and os.path.isdir(os.path.join(root, "codes"))
        )

    def release(art):
        if art[0] is not None:
            shutil.rmtree(art[0], ignore_errors=True)

    root, cb_rows, cent_rows = _XMODAL_INDEX.get(
        sf_dir, build, alive=alive, release=release
    )
    if root is None:
        return (
            spark.createDataFrame([], emb_schema),
            spark.createDataFrame([], cent_schema),
            spark.createDataFrame([], cb_schema),
            spark.createDataFrame([], codes_schema),
        )
    from news_data_pipeline_spark.operators.pq import _local_codebook

    return (
        spark.read.schema(emb_schema).parquet(os.path.join(root, "vectors")),
        spark.createDataFrame(cent_rows, cent_schema),
        _local_codebook(spark, cb_rows, cb_schema),
        spark.read.schema(codes_schema).parquet(os.path.join(root, "codes")),
    )


@register(
    "crossmodal_topk_frozen",
    # identical oracle to multimodal_crossmodal_topk: freezing the index
    # (stored cid-carrying codes + collected centroid artifact) is
    # physically invisible — same shortlist, same exact rerank.
    oracle=f"""
    {_DUCK_IMG_EMB},
    {_PQ4_PREFIX},
    cent AS (SELECT id AS ccid, e AS c FROM v ORDER BY id LIMIT 16),
    corpus_assign AS (
        SELECT id AS neighbor_id, ccid AS cell FROM (
            SELECT v.id, cent.ccid,
                   row_number() OVER (
                       PARTITION BY v.id
                       ORDER BY round(-2 * list_dot_product(v.e, cent.c)
                                      + list_dot_product(cent.c, cent.c), 6),
                                cent.ccid) AS r
            FROM v CROSS JOIN cent) t
        WHERE r = 1),
    query_probe AS (
        SELECT id AS query_id, ccid AS cell FROM (
            SELECT v.id, cent.ccid,
                   row_number() OVER (
                       PARTITION BY v.id
                       ORDER BY round(-2 * list_dot_product(v.e, cent.c)
                                      + list_dot_product(cent.c, cent.c), 6),
                                cent.ccid) AS r
            FROM v CROSS JOIN cent
            WHERE v.id < 5) t
        WHERE r <= 4),
    cand AS (
        SELECT q.query_id, c.neighbor_id
        FROM query_probe q JOIN corpus_assign c ON q.cell = c.cell
        WHERE q.query_id <> c.neighbor_id),
    qlut AS (
        SELECT q.id AS query_id, q.sub, cb1.cid AS code,
               CAST(floor(
                   sum(CAST(floor((q.x - cb1.value) * (q.x - cb1.value)
                                  * 1000000000000 + 0.5) AS BIGINT))
                   / 1000000000000.0 * 1000000 + 0.5) AS BIGINT) AS u
        FROM comp q JOIN cb1 ON q.sub = cb1.sub AND q.j = cb1.j
        WHERE q.id < 5
        GROUP BY q.id, q.sub, cb1.cid),
    adc AS (
        SELECT cand.query_id, cand.neighbor_id,
               sum(l.u) / 1000000.0 AS adc_dist
        FROM cand
        JOIN codes cd ON cd.id = cand.neighbor_id
        JOIN qlut l ON l.query_id = cand.query_id
                   AND l.sub = cd.sub AND l.code = cd.code
        GROUP BY cand.query_id, cand.neighbor_id),
    shortlist AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY adc_dist, neighbor_id) AS rn
            FROM adc) t
        WHERE rn <= 20)
    SELECT query_id, neighbor_id, cosine_sim, CAST(rn AS INT) AS rank FROM (
        SELECT s.query_id, s.neighbor_id,
               round(list_dot_product(q.e, n.e)
                     / (sqrt(list_dot_product(q.e, q.e))
                        * sqrt(list_dot_product(n.e, n.e))), 6) AS cosine_sim,
               row_number() OVER (
                   PARTITION BY s.query_id
                   ORDER BY round(list_dot_product(q.e, n.e)
                                  / (sqrt(list_dot_product(q.e, q.e))
                                     * sqrt(list_dot_product(n.e, n.e))), 6)
                            DESC,
                            s.neighbor_id) AS rn
        FROM shortlist s
        JOIN v q ON q.id = s.query_id
        JOIN v n ON n.id = s.neighbor_id) t
    WHERE rn <= 5
    """,
)
def crossmodal_topk_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multimodal_crossmodal_topk against a FROZEN index — the shape a
    100-TB retrieval deployment actually runs (round-9 verdict #2):
    the index is built ONCE (``_crossmodal_frozen_index``) and
    query-time work is ONLY the text tower, the per-query LUT, the
    stored-cid ADC probe, and the exact rerank — no per-query corpus
    render, no retraining, no re-encode, no corpus-wide assignment.

    Frozen artifacts, in the exact layout ``streamed_pq_codes`` proves
    maintainable under continuous ingestion: codebooks + centroids as
    bounded collected rows (the r7 ``_pq_trained_codebooks`` pattern),
    the cid-carrying (id, sub, code, cid) code shards and the raw
    embedding column as parquet an IndexIVFPQ deployment stores on
    disk. Scoring is ``stored codes × broadcast(query cells) ×
    broadcast(LUT)`` (the stored-cid fast path in ``pq_ivf_adc_topk``)
    and the reranker reads the stored float column.

    Same oracle as ``multimodal_crossmodal_topk``: freezing must be
    physically invisible (identical shortlist, identical rerank)."""
    from news_data_pipeline_spark.operators import multimodal as mm
    from news_data_pipeline_spark.operators.pq import pq_ivf_rerank_topk

    corpus, centroids, cb, codes = _crossmodal_frozen_index(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    queries = mm.text_embeddings(
        docs.where(F.col("doc_id") < 5)
        .withColumn("w", (F.lit(4) + F.col("doc_id") % 8).cast("int"))
        .withColumn("h", (F.lit(4) + F.col("doc_id") % 4).cast("int")),
        "doc_id",
        "text",
        "w",
        "h",
        dim=16,
    )
    return pq_ivf_rerank_topk(
        queries,
        corpus,
        cb,
        id_col="id",
        sub_dim=4,
        k=5,
        rerank=20,
        nlist=16,
        nprobe=4,
        centroids=centroids,
        codes=codes,
    )


# --- ANN index diagnostics (round 8) ---------------------------------------

_DUCK_IVF_ASSIGN = """
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cent AS (SELECT vec_id AS cid, e AS c FROM v ORDER BY vec_id LIMIT 16),
    corpus_assign AS (
        SELECT vec_id AS neighbor_id, e, cid FROM (
            SELECT v.vec_id, v.e, cent.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round(-2 * list_dot_product(v.e, cent.c)
                                      + list_dot_product(cent.c, cent.c), 6),
                                cid) AS r
            FROM v CROSS JOIN cent) t
        WHERE r = 1)"""


@register(
    "ivf_cell_sizes",
    oracle=f"""
    WITH {_DUCK_IVF_ASSIGN}
    SELECT cid, CAST(count(*) AS BIGINT) AS n_vectors
    FROM corpus_assign GROUP BY cid
    """,
)
def ivf_cell_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index balance diagnostic: vectors per coarse cell under the
    family's shared assignment rule (operators.similarity._assign_cells,
    nlist=16 first-by-id centroids). At 100 TB this is the histogram
    you read BEFORE trusting nprobe-based latency math — a hot cell
    (skewed data, bad centroids) makes every query probing it pay a
    scan far above the |corpus|/nlist estimate, and the fix (re-train
    centroids, split the cell, or AQE skew-join the probe) starts from
    this exact frame. One broadcast of 16 centroids + one map-side-
    combined count: linear, no shuffle of the corpus."""
    from news_data_pipeline_spark.operators.similarity import (
        _assign_cells,
        _centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _centroids(None, emb, nlist=16)
    cells = _assign_cells(
        emb, cents, "vec_id", "embedding", "neighbor_id", 1
    )
    return cells.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )


@register(
    "ann_recall_at_k",
    # recall@5 of the IVF probe against the exact scan, per query: the
    # eval artifact that justifies (or vetoes) an index rollout. Both
    # arms reuse the family's pinned conventions (6dp cosine,
    # neighbor-id tie-break, self-pairs excluded), so the intersection
    # is well-defined cross-engine.
    oracle=f"""
    WITH {_DUCK_IVF_ASSIGN},
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, v.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(list_dot_product(q.qe, v.e)
                                      / (sqrt(list_dot_product(q.qe, q.qe))
                                         * sqrt(list_dot_product(v.e, v.e))),
                                      6) DESC,
                                v.vec_id) AS rank
            FROM q CROSS JOIN v WHERE v.vec_id <> q.query_id) t
        WHERE rank <= 5),
    query_probe AS (
        SELECT vec_id AS query_id, e AS qe, cid FROM (
            SELECT v.vec_id, v.e, cent.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round(-2 * list_dot_product(v.e, cent.c)
                                      + list_dot_product(cent.c, cent.c), 6),
                                cid) AS r
            FROM v CROSS JOIN cent
            WHERE v.vec_id < 10) t
        WHERE r <= 4),
    approx AS (
        SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, c.neighbor_id,
                   row_number() OVER (
                       PARTITION BY p.query_id
                       ORDER BY round(list_dot_product(p.qe, c.e)
                                      / (sqrt(list_dot_product(p.qe, p.qe))
                                         * sqrt(list_dot_product(c.e, c.e))),
                                      6) DESC,
                                c.neighbor_id) AS rank
            FROM query_probe p JOIN corpus_assign c ON p.cid = c.cid
            WHERE p.query_id <> c.neighbor_id) t
        WHERE rank <= 5)
    SELECT e.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           floor(sum(CASE WHEN a.neighbor_id IS NOT NULL
                     THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE) * 10000 + 0.5) / 10000.0
               AS recall_at_5
    FROM exact e LEFT JOIN approx a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
    """,
)
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF index against the exact scan
    (operators.similarity.ivf_topk vs cosine_topk): per query, how many
    of the true top-5 neighbors the nprobe=4/nlist=16 probe recovers.
    This is the go/no-go eval for any ANN rollout — IVF's speedup is
    only worth the recall it keeps, and the number is corpus-dependent
    (cell sizes, query-to-centroid geometry), so it must be measured on
    THIS corpus, not quoted from a paper. The exact arm is the cost you
    pay once per eval, not per query, and both arms share the family's
    deterministic tie-break conventions so the set intersection is
    reproducible cross-engine."""
    exact = similarity.cosine_topk(
        load_table(spark, sf_dir, "embeddings"),
        load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 10),
        id_col="vec_id",
        k=5,
    ).select("query_id", "neighbor_id")
    approx = similarity.ivf_topk(
        load_table(spark, sf_dir, "embeddings"),
        load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 10),
        k=5,
        nlist=16,
        nprobe=4,
    ).select(
        "query_id", F.col("neighbor_id").alias("__hit")
    )
    joined = exact.join(
        approx,
        on=[
            exact.query_id == approx.query_id,
            exact.neighbor_id == approx.__hit,
        ],
        how="left",
    ).select(exact.query_id, "neighbor_id", "__hit")
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        F.sum(
            F.when(F.col("__hit").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_hits"),
        settled_round(
            F.sum(F.when(F.col("__hit").isNotNull(), 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("recall_at_5"),
    )


@register(
    "ann_recall_nprobe_curve",
    # the operating curve an index is actually tuned from: for each
    # nprobe, global recall@5 across the 10 eval queries AND the scan
    # cost (vectors read = sum of probed-cell sizes) — the two axes of
    # the recall/latency trade every FAISS deployment sweeps before
    # fixing nprobe. Same pinned conventions as ann_recall_at_k.
    oracle=f"""
    WITH {_DUCK_IVF_ASSIGN},
    np AS (SELECT * FROM (VALUES (1), (2), (4), (8), (16)) AS t(nprobe)),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, v.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(list_dot_product(q.qe, v.e)
                                      / (sqrt(list_dot_product(q.qe, q.qe))
                                         * sqrt(list_dot_product(v.e, v.e))),
                                      6) DESC,
                                v.vec_id) AS rank
            FROM q CROSS JOIN v WHERE v.vec_id <> q.query_id) t
        WHERE rank <= 5),
    probe_ranked AS (
        SELECT vec_id AS query_id, e AS qe, cid, r FROM (
            SELECT v.vec_id, v.e, cent.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round(-2 * list_dot_product(v.e, cent.c)
                                      + list_dot_product(cent.c, cent.c), 6),
                                cid) AS r
            FROM v CROSS JOIN cent
            WHERE v.vec_id < 10) t
        WHERE r <= 16),
    approx AS (
        SELECT nprobe, query_id, neighbor_id FROM (
            SELECT np.nprobe, p.query_id, c.neighbor_id,
                   row_number() OVER (
                       PARTITION BY np.nprobe, p.query_id
                       ORDER BY round(list_dot_product(p.qe, c.e)
                                      / (sqrt(list_dot_product(p.qe, p.qe))
                                         * sqrt(list_dot_product(c.e, c.e))),
                                      6) DESC,
                                c.neighbor_id) AS rank
            FROM np
            JOIN probe_ranked p ON p.r <= np.nprobe
            JOIN corpus_assign c ON p.cid = c.cid
            WHERE p.query_id <> c.neighbor_id) t
        WHERE rank <= 5),
    hits AS (
        SELECT np.nprobe,
               CAST(count(*) AS BIGINT) AS n_exact,
               CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
        FROM np CROSS JOIN exact e
        LEFT JOIN approx a
          ON a.nprobe = np.nprobe AND a.query_id = e.query_id
         AND a.neighbor_id = e.neighbor_id
        GROUP BY np.nprobe),
    reads AS (
        SELECT np.nprobe, CAST(sum(cs.n) AS BIGINT) AS vectors_read
        FROM np
        JOIN probe_ranked p ON p.r <= np.nprobe
        JOIN (SELECT cid, count(*) AS n
              FROM corpus_assign GROUP BY cid) cs ON p.cid = cs.cid
        GROUP BY np.nprobe)
    SELECT h.nprobe, h.n_exact, h.n_hits,
           floor(h.n_hits / CAST(h.n_exact AS DOUBLE) * 10000 + 0.5)
               / 10000.0 AS recall_at_5,
           r.vectors_read
    FROM hits h JOIN reads r ON h.nprobe = r.nprobe
    """,
)
def ann_recall_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall-vs-nprobe OPERATING CURVE (extends ann_recall_at_k
    from one point to the sweep an operator actually tunes from):
    for nprobe in {1, 2, 4, 8, 16}, global recall@5 of the IVF probe
    against the exact scan across the 10 eval queries, next to the
    scan cost that nprobe buys it — ``vectors_read``, the sum of
    probed-cell sizes, which is exactly the fraction of the corpus a
    cell-partitioned index reads at that setting
    (pq_partitioned_cell_scan proves the read IS pruned to those
    cells). Reading the two columns together answers the only tuning
    question that matters at 100 TB: the smallest nprobe whose recall
    clears the product bar. nprobe=16 == nlist is the exhaustive-probe
    sanity row (recall 1.0 by construction — every cell read).

    Plan shape: see ``_recall_nprobe_curve`` — at this 10-query eval
    size the plan is checkpoint-free (the r9 A/B: 4.9-5.4 s
    checkpointed vs 4.4-5.0 s plain)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _recall_nprobe_curve(spark, emb, n_eval=10)


def _recall_nprobe_curve(
    spark: SparkSession,
    emb: DataFrame,
    *,
    n_eval: int,
    nlist: int = 16,
    nprobes: tuple = (1, 2, 4, 8, 16),
    k: int = 5,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Recall@k-vs-nprobe sweep over the first ``n_eval`` vectors as
    eval queries — ONE multi-arm plan (r15).

    The pre-r15 shape unioned one full ``ivf_topk`` pipeline per
    nprobe: 5 corpus cell-assignments, 5 candidate scorings, 5 lazy
    re-derivations of the exact brute-force arm and of the cell-size
    table (~160 Exchange nodes at the registered sweep). But every arm
    differs ONLY in how many of the query's ranked probe cells it
    keeps, so the sweep is algebraically one plan: assign corpus cells
    once, rank each query's probe cells once up to max(nprobe), score
    each (query, candidate) cosine ONCE with its probe rank attached,
    then explode a literal nprobe array and filter ``r <= nprobe``
    (guide §2.4 — the unioned arms re-computed identical subtrees the
    optimizer cannot share). Per-arm semantics are pinned to
    ``ivf_topk`` exactly: same assignment rule (`_assign_cells`
    ordering), same 6dp cosine, same (cosine DESC, neighbor ASC)
    top-k tie-break, self-pairs excluded, NULL cosines dropped.

    Empty-input semantics match the old per-arm aggregates: the output
    always has one row per nprobe (a literal nprobe frame LEFT-joins
    the grouped hits/reads), ``n_exact`` and ``n_hits`` coalesce to 0
    (the oracle's ``sum(CASE ...)`` is 0, never NULL), and
    ``recall_at_5`` / ``vectors_read`` stay NULL exactly where the old
    empty-input ``agg`` produced NULL.

    The plan is fully lazy: the exact arm and the cell sizes are each
    referenced once in the multi-arm plan, and the r9 A/B measured
    checkpointing them LOSING at 10 eval queries.

    ``centroids`` optionally injects a trained (cid, centroid) frame
    (``kmeans_iterate`` output) — the second tuning axis
    (``ann_recall_trained_curve``); default is the family's pinned
    first-``nlist``-by-id convention."""
    from news_data_pipeline_spark.operators.similarity import (
        _assign_cells,
        _centroids,
        _scored_pairs,
        _topk,
    )

    queries = emb.where(F.col("vec_id") < n_eval)
    exact = similarity.cosine_topk(
        emb, queries, id_col="vec_id", k=k
    ).select("query_id", "neighbor_id")

    centroids = _centroids(centroids, emb, "vec_id", "embedding", nlist)
    corpus_cells = _assign_cells(
        emb, centroids, "vec_id", "embedding", "neighbor_id", 1
    )
    cell_sizes = corpus_cells.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n")
    )

    # each query's probe cells ranked r = 1..max(nprobe)
    query_probe = _assign_cells(
        queries, centroids, "vec_id", "embedding", "query_id", max(nprobes)
    )

    # score each (query, candidate) cosine ONCE, probe rank attached —
    # ivf_topk's scored frame
    np_arr = F.array(*[F.lit(int(n)).cast("int") for n in nprobes])
    cand = _scored_pairs(
        corpus_cells.withColumnRenamed("v", "c_vec"),
        query_probe.withColumnRenamed("v", "q_vec"),
        "cid",
        "r",
    )
    multi = cand.select(
        "query_id",
        "neighbor_id",
        "cosine_sim",
        "r",
        F.explode(np_arr).alias("nprobe"),
    ).where(F.col("r") <= F.col("nprobe"))
    approx = _topk(multi, k, by=("nprobe", "query_id")).select(
        F.col("nprobe").alias("__np"),
        F.col("query_id").alias("__qid"),
        F.col("neighbor_id").alias("__hit"),
    )

    exact_np = exact.select(
        "query_id", "neighbor_id", F.explode(np_arr).alias("nprobe")
    )
    hits = (
        exact_np.join(
            approx,
            on=[
                exact_np.nprobe == approx.__np,
                exact_np.query_id == approx.__qid,
                exact_np.neighbor_id == approx.__hit,
            ],
            how="left",
        )
        .groupBy("nprobe")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum(F.when(F.col("__hit").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_hits"),
        )
    )
    reads = (
        query_probe.select("cid", "r")
        .join(cell_sizes, on="cid")
        .select("r", "n", F.explode(np_arr).alias("nprobe"))
        .where(F.col("r") <= F.col("nprobe"))
        .groupBy("nprobe")
        .agg(F.sum("n").cast("long").alias("vectors_read"))
    )
    np_lit = spark.createDataFrame(
        [(int(n),) for n in nprobes], "nprobe int"
    )
    return (
        np_lit.join(hits, on="nprobe", how="left")
        .join(reads, on="nprobe", how="left")
        .select(
            "nprobe",
            F.coalesce(F.col("n_exact"), F.lit(0).cast("long")).alias(
                "n_exact"
            ),
            F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias(
                "n_hits"
            ),
            settled_round(
                F.col("n_hits")
                / F.coalesce(F.col("n_exact"), F.lit(0).cast("long")).cast(
                    "double"
                ),
                4,
            ).alias("recall_at_5"),
            "vectors_read",
        )
    )


@register(
    "ann_recall_trained_curve",
    # same sweep as ann_recall_nprobe_curve but over TRAINED centroids:
    # two unrolled Lloyd iterations at nlist=16 (the ivf_kmeans_two_iters
    # composition), then the identical recall/vectors_read arms — the
    # second axis of the tuning story (what training buys at equal
    # scan budget).
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cent0 AS (SELECT vec_id AS cid, e AS c FROM v ORDER BY vec_id LIMIT 16),
    a1 AS (
        SELECT cid, e FROM (
            SELECT v.vec_id, v.e, cent0.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round(-2 * list_dot_product(v.e, cent0.c)
                                      + list_dot_product(cent0.c, cent0.c), 6),
                                cid) AS r
            FROM v CROSS JOIN cent0) t
        WHERE r = 1),
    bp1 AS (
        SELECT cid, u.pos, round(avg(e[u.pos]), 6) AS m
        FROM a1, LATERAL unnest(range(1, len(e) + 1)) AS u(pos)
        GROUP BY cid, u.pos),
    nc1 AS (SELECT cid, list(m ORDER BY pos) AS c FROM bp1 GROUP BY cid),
    cent1 AS (
        SELECT cent0.cid, coalesce(nc1.c, cent0.c) AS c
        FROM cent0 LEFT JOIN nc1 USING (cid)),
    a2 AS (
        SELECT cid, e FROM (
            SELECT v.vec_id, v.e, cent1.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round(-2 * list_dot_product(v.e, cent1.c)
                                      + list_dot_product(cent1.c, cent1.c), 6),
                                cid) AS r
            FROM v CROSS JOIN cent1) t
        WHERE r = 1),
    bp2 AS (
        SELECT cid, u.pos, round(avg(e[u.pos]), 6) AS m
        FROM a2, LATERAL unnest(range(1, len(e) + 1)) AS u(pos)
        GROUP BY cid, u.pos),
    nc2 AS (SELECT cid, list(m ORDER BY pos) AS c FROM bp2 GROUP BY cid),
    cent AS (
        SELECT cent1.cid, coalesce(nc2.c, cent1.c) AS c
        FROM cent1 LEFT JOIN nc2 USING (cid)),
    np AS (SELECT * FROM (VALUES (1), (2), (4), (8), (16)) AS t(nprobe)),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, v.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(list_dot_product(q.qe, v.e)
                                      / (sqrt(list_dot_product(q.qe, q.qe))
                                         * sqrt(list_dot_product(v.e, v.e))),
                                      6) DESC,
                                v.vec_id) AS rank
            FROM q CROSS JOIN v WHERE v.vec_id <> q.query_id) t
        WHERE rank <= 5),
    corpus_assign AS (
        SELECT vec_id AS neighbor_id, e, cid FROM (
            SELECT v.vec_id, v.e, cent.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round(-2 * list_dot_product(v.e, cent.c)
                                      + list_dot_product(cent.c, cent.c), 6),
                                cid) AS r
            FROM v CROSS JOIN cent) t
        WHERE r = 1),
    probe_ranked AS (
        SELECT vec_id AS query_id, e AS qe, cid, r FROM (
            SELECT v.vec_id, v.e, cent.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round(-2 * list_dot_product(v.e, cent.c)
                                      + list_dot_product(cent.c, cent.c), 6),
                                cid) AS r
            FROM v CROSS JOIN cent
            WHERE v.vec_id < 10) t
        WHERE r <= 16),
    approx AS (
        SELECT nprobe, query_id, neighbor_id FROM (
            SELECT np.nprobe, p.query_id, c.neighbor_id,
                   row_number() OVER (
                       PARTITION BY np.nprobe, p.query_id
                       ORDER BY round(list_dot_product(p.qe, c.e)
                                      / (sqrt(list_dot_product(p.qe, p.qe))
                                         * sqrt(list_dot_product(c.e, c.e))),
                                      6) DESC,
                                c.neighbor_id) AS rank
            FROM np
            JOIN probe_ranked p ON p.r <= np.nprobe
            JOIN corpus_assign c ON p.cid = c.cid
            WHERE p.query_id <> c.neighbor_id) t
        WHERE rank <= 5),
    hits AS (
        SELECT np.nprobe,
               CAST(count(*) AS BIGINT) AS n_exact,
               CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
        FROM np CROSS JOIN exact e
        LEFT JOIN approx a
          ON a.nprobe = np.nprobe AND a.query_id = e.query_id
         AND a.neighbor_id = e.neighbor_id
        GROUP BY np.nprobe),
    reads AS (
        SELECT np.nprobe, CAST(sum(cs.n) AS BIGINT) AS vectors_read
        FROM np
        JOIN probe_ranked p ON p.r <= np.nprobe
        JOIN (SELECT cid, count(*) AS n
              FROM corpus_assign GROUP BY cid) cs ON p.cid = cs.cid
        GROUP BY np.nprobe)
    SELECT h.nprobe, h.n_exact, h.n_hits,
           floor(h.n_hits / CAST(h.n_exact AS DOUBLE) * 10000 + 0.5)
               / 10000.0 AS recall_at_5,
           r.vectors_read
    FROM hits h JOIN reads r ON h.nprobe = r.nprobe
    """,
)
def ann_recall_trained_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall-vs-nprobe operating curve over TRAINED centroids —
    the second axis of the tuning story next to
    ``ann_recall_nprobe_curve``'s pinned first-16-by-id convention:
    two Lloyd iterations (``similarity.kmeans_iterate``, the
    composition ``ivf_kmeans_two_iters`` oracles at nlist=8, here at
    the curve's nlist=16) train the coarse quantizer, then the
    identical nprobe sweep measures what that training BUYS — recall
    lift at equal probed-cell scan budget, or equivalently fewer
    vectors read for the same recall bar. At 100 TB this pair of
    curves is the actual decision artifact: training cost is one-time,
    nprobe cost is per-query forever, so the trained curve dominating
    the pinned one at low nprobe is what justifies the k-means job.
    Trained centroids are a collected nlist-row literal
    (``kmeans_iterate``'s constant-size-plan contract), so every sweep
    arm reuses the same frozen artifact — no per-arm retraining."""
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = similarity._centroids(None, emb, nlist=16)
    trained = similarity.kmeans_iterate(emb, seeds, iters=2)
    return _recall_nprobe_curve(spark, emb, n_eval=10, centroids=trained)


# --- contrastive-pair mining, corpus datasheet, URL canonicalization -------


@register(
    "hard_negative_mining",
    # band [0.2, 0.4) on THIS corpus's geometry (cosines concentrate
    # around 0; the near-dup tail sits above 0.4): informative
    # negatives below the unlabeled-positive zone
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, v.vec_id AS neighbor_id,
               round(list_dot_product(q.qe, v.e)
                     / nullif(sqrt(list_dot_product(q.qe, q.qe))
                              * sqrt(list_dot_product(v.e, v.e)), 0.0),
                     6) AS cosine_sim
        FROM q CROSS JOIN v WHERE v.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, cosine_sim, CAST(rn AS INT) AS rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY cosine_sim DESC, neighbor_id) AS rn
        FROM scored
        WHERE cosine_sim >= 0.2 AND cosine_sim < 0.4) t
    WHERE rn <= 5
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators.similarity.hard_negatives): per
    query, the top-5 corpus vectors with cosine in [0.2, 0.4) — close
    enough to teach a contrastive model something, below the band where
    a "negative" is plausibly an unlabeled positive. The construction
    step of DPR/E5-style training data, sharing the cosine_topk
    family's exact conventions so mined pairs and retrieval evals live
    in one geometry."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.hard_negatives(
        emb,
        emb.where(F.col("vec_id") < 10),
        lo=0.2,
        hi=0.4,
        k=5,
    )


@register(
    "corpus_datasheet",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, source, lang, n_chars,
               CAST({_DUCK_WORDS} AS BIGINT) AS n_words,
               CASE WHEN text IS NULL THEN NULL
                    ELSE md5(regexp_replace(lower(text), '[^a-z0-9]', '',
                                            'g'))
               END AS fp
        FROM documents),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(n_words) AS BIGINT) AS total_words,
               CAST(count(fp) AS BIGINT) AS n_fp,
               CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_fp
        FROM base)
    SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM agg
    UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM agg
    UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM agg
    UNION ALL SELECT 'total_chars', CAST(total_chars AS DOUBLE) FROM agg
    UNION ALL SELECT 'total_words', CAST(total_words AS DOUBLE) FROM agg
    UNION ALL SELECT 'mean_words_per_doc',
        floor(total_words / CAST(n_docs AS DOUBLE) * 10000 + 0.5)
        / 10000.0 FROM agg
    UNION ALL SELECT 'dup_doc_fraction',
        floor((n_fp - n_distinct_fp) / CAST(n_docs AS DOUBLE) * 10000
              + 0.5) / 10000.0 FROM agg
    """,
)
def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-frame corpus datasheet: the numbers a data card quotes
    and a pipeline gatekeeps on — doc/source/language counts, total
    chars and whitespace tokens, mean document length, and the exact-
    duplicate fraction under the normalization fingerprint. One
    aggregate pass (Spark expands the multi-distinct internally, all
    map-side combinable) unpivoted to (metric, value) rows; counts ride
    as doubles (exact to 2^53) so one column serves every metric."""
    docs = load_table(spark, sf_dir, "documents")
    agg = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(T.word_count(F.col("text"))).alias("total_words"),
        F.count(T.fingerprint(F.col("text"))).alias("n_fp"),
        F.countDistinct(T.fingerprint(F.col("text"))).alias(
            "n_distinct_fp"
        ),
    )
    # ANSI raises DIVIDE_BY_ZERO even for doubles: an empty corpus
    # (n_docs = 0) reports null ratios, not a failed job
    n_docs_nz = F.nullif(F.col("n_docs").cast("double"), F.lit(0.0))
    mean_words = settled_round(F.col("total_words") / n_docs_nz, 4)
    dup_frac = settled_round(
        (F.col("n_fp") - F.col("n_distinct_fp")) / n_docs_nz, 4
    )
    return agg.select(
        F.stack(
            F.lit(7),
            F.lit("n_docs"), F.col("n_docs").cast("double"),
            F.lit("n_sources"), F.col("n_sources").cast("double"),
            F.lit("n_langs"), F.col("n_langs").cast("double"),
            F.lit("total_chars"), F.col("total_chars").cast("double"),
            F.lit("total_words"), F.col("total_words").cast("double"),
            F.lit("mean_words_per_doc"), mean_words,
            F.lit("dup_doc_fraction"), dup_frac,
        ).alias("metric", "value")
    )


@register(
    "url_canonicalization",
    # two synthesized variants per doc (clean + tracking-polluted) must
    # collapse to ONE canonical key; the oracle rebuilds the query
    # string by position (unnest + string_agg ORDER BY i) because
    # list_filter lambdas are banned from oracles
    oracle="""
    WITH raw AS (
        SELECT doc_id, u.variant,
               CASE u.variant
                    WHEN 0 THEN 'https://' || source || '.example.com/'
                         || lang || '/article-' || doc_id || '?id='
                         || doc_id
                    ELSE 'https://' || source || '.example.com/' || lang
                         || '/article-' || doc_id || '?utm_source=feed&id='
                         || doc_id || '&utm_campaign=x#frag'
               END AS url
        FROM documents, LATERAL unnest(range(0, 2)) AS u(variant)),
    stripped AS (
        SELECT doc_id, variant,
               regexp_replace(lower(trim(url)), '#.*', '') AS u
        FROM raw),
    split_q AS (
        SELECT doc_id, variant,
               regexp_replace(regexp_replace(u, '\\?.*', ''), '/+$', '')
                   AS base,
               string_split(regexp_extract(u, '\\?(.*)', 1), '&') AS ps
        FROM stripped),
    kept AS (
        SELECT doc_id, variant, base, ps[i] AS part, i
        FROM split_q, LATERAL unnest(range(1, len(ps) + 1)) AS u(i)
        WHERE length(ps[i]) > 0 AND substring(ps[i], 1, 4) <> 'utm_'),
    canon AS (
        SELECT doc_id, variant,
               CASE WHEN count(part) > 0
                    THEN any_value(base) || '?'
                         || string_agg(part, '&' ORDER BY i)
                    ELSE any_value(base) END AS canonical_url
        FROM kept GROUP BY doc_id, variant)
    SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_variants
    FROM canon GROUP BY canonical_url
    """,
)
def url_canonicalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (functions.text.canonicalize_url) as the
    crawl-dedup key: each document synthesizes two URL variants — a
    clean one and one polluted with utm_* tracking params plus a
    fragment — and canonicalization must collapse every pair to one
    key with the meaningful ``id`` param preserved. Output is the
    canonical-key histogram (every count must be 2). Narrow map only:
    at crawl scale this runs inside the fetch-dedup scan with no
    shuffle before the final groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    base = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/"),
        F.col("lang"), F.lit("/article-"),
        F.col("doc_id").cast("string"),
    )
    clean = F.concat(
        base, F.lit("?id="), F.col("doc_id").cast("string")
    )
    polluted = F.concat(
        base, F.lit("?utm_source=feed&id="),
        F.col("doc_id").cast("string"), F.lit("&utm_campaign=x#frag"),
    )
    urls = docs.select(
        "doc_id",
        F.explode(F.array(clean, polluted)).alias("url"),
    )
    return (
        urls.select(T.canonicalize_url(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count(F.lit(1)).cast("long").alias("n_variants"))
    )


@register(
    "multimodal_resize_stats",
    # resized pixel (x, y) = original ((2y) * width + 2x): the oracle
    # rebuilds the downsampled hex string by position (string_agg
    # ORDER BY y, x) from the same md5 pixel chain and recomputes
    # dims / mean / hash — the resize kernel itself is verified, not
    # just the plumbing. width // 2 is spelled floor(w / 2.0): DuckDB's
    # integer '//' changed semantics across releases.
    oracle="""
    WITH p AS (
        SELECT doc_id, coalesce(text, '') AS t,
               4 + doc_id % 8 AS w, 4 + doc_id % 4 AS h
        FROM documents),
    c1 AS (SELECT doc_id, w, h, md5(t) AS h1 FROM p),
    c2 AS (SELECT *, md5(h1) AS h2 FROM c1),
    c3 AS (SELECT *, md5(h2) AS h3 FROM c2),
    c4 AS (SELECT *, md5(h3) AS h4 FROM c3),
    c5 AS (SELECT *, md5(h4) AS h5 FROM c4),
    px AS (
        SELECT doc_id, w, h,
               substring(h1 || h2 || h3 || h4 || h5, 1, 2 * w * h) AS hx
        FROM c5),
    dims AS (
        SELECT doc_id, w, hx,
               greatest(CAST(floor(w / 2.0) AS INT), 1) AS nw,
               greatest(CAST(floor(h / 2.0) AS INT), 1) AS nh
        FROM px),
    rs AS (
        SELECT d.doc_id, d.nw, d.nh,
               string_agg(
                   substring(d.hx, 2 * ((uy.y * 2) * d.w + ux.x * 2) + 1,
                             2),
                   '' ORDER BY uy.y, ux.x) AS rhx
        FROM dims d,
             LATERAL unnest(range(0, d.nh)) AS uy(y),
             LATERAL unnest(range(0, d.nw)) AS ux(x)
        GROUP BY d.doc_id, d.nw, d.nh),
    vals AS (
        SELECT doc_id,
               CAST(concat('0x', substring(rhx, 2 * i - 1, 2)) AS INT) AS v
        FROM rs, LATERAL unnest(range(1, nw * nh + 1)) AS u(i)),
    sums AS (SELECT doc_id, sum(v) AS sumpx FROM vals GROUP BY doc_id)
    SELECT r.doc_id AS id, r.nw AS width, r.nh AS height,
           floor(sumpx / (r.nw * r.nh)::DOUBLE * 10000 + 0.5) / 10000
               AS mean_pixel,
           md5(rhx) AS pixel_hash
    FROM rs r JOIN sums USING (doc_id)
    """,
)
def multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize end-to-end (operators.multimodal.resize_images,
    scale=2 nearest-neighbor): synthesized payloads resize inside the
    fake container and re-decode to typed features — the decoded dims,
    mean intensity, and pixel hash of the RESIZED image are all
    oracle-recomputed, so the kernel's exact pixel selection is what
    the driver hash pins. Two chained Arrow mapInPandas stages with
    scalar columns between them: the decode fan-out composes without
    any raw-pixel shuffle widening."""
    from news_data_pipeline_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        mm.fake_image_bytes(
                            t or "", 4 + int(i) % 8, 4 + int(i) % 4
                        )
                        for i, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    images = fan_out(docs).mapInPandas(build, "doc_id long, payload binary")
    resized = mm.resize_images(images, "doc_id", "payload", scale=2)
    return mm.decode_images(resized, "id", "payload")


@register(
    "perplexity_cut_assignments",
    # completes the 100-TB tier path end-to-end: the broadcast
    # threshold join ASSIGNS buckets from the quantile cuts (head =
    # strictly above the head/middle cut; the cut value itself belongs
    # to the deeper tier). Cuts are the rank-picked exact elements
    # (see perplexity_bucket_cuts), scores are settled 4dp — every
    # comparison is deterministic cross-engine.
    oracle=f"""
    WITH {_DUCK_LM_SCORE_CTES},
    ranked AS (
        SELECT d.lang, s.id, s.avg_logprob,
               row_number() OVER (
                   PARTITION BY d.lang ORDER BY s.avg_logprob) AS rn,
               count(*) OVER (PARTITION BY d.lang) AS n
        FROM scores s JOIN (SELECT doc_id AS id, lang FROM documents) d
          USING (id)),
    cuts AS (
        SELECT lang,
               max(CASE WHEN rn = CAST(ceil((1.0 - 1.0/3.0) * n)
                                      AS BIGINT)
                        THEN avg_logprob END) AS c0,
               max(CASE WHEN rn = CAST(ceil((1.0 - 2.0/3.0) * n)
                                      AS BIGINT)
                        THEN avg_logprob END) AS c1
        FROM ranked GROUP BY lang)
    SELECT r.lang,
           CAST(1 + CASE WHEN r.avg_logprob <= c.c0 THEN 1 ELSE 0 END
                  + CASE WHEN r.avg_logprob <= c.c1 THEN 1 ELSE 0 END
               AS INT) AS bucket_idx,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM ranked r JOIN cuts c ON r.lang = c.lang
    GROUP BY r.lang, bucket_idx
    """,
)
def perplexity_cut_assignments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The threshold side of CCNet tiering end-to-end: per-language
    quantile cuts (operators.terms.perplexity_bucket_cuts, exact at
    driver accuracy) broadcast-joined back onto every document's LM
    score, bucket decided by two comparisons — no per-language window,
    no global sort, the shape that survives 10^9 docs per language.
    Output is the (lang, bucket) population histogram; at the tier
    boundaries tied scores land whole in the deeper tier (the
    documented CCNet tolerance), which is why the histogram rather
    than per-doc tier parity with the ntile path is the pinned
    contract."""
    from news_data_pipeline_spark.operators.terms import (
        perplexity_bucket_cuts,
        unigram_logprob_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    scores = unigram_logprob_scores(docs, "doc_id", "text").join(
        docs.select(F.col("doc_id").alias("id"), "lang"), on="id"
    )
    cuts = perplexity_bucket_cuts(
        docs, "doc_id", "text", "lang", accuracy=1_000_000
    )
    c0 = F.element_at("cuts", 1)
    c1 = F.element_at("cuts", 2)
    assigned = scores.join(F.broadcast(cuts), on="lang").select(
        "lang",
        (
            F.lit(1)
            + F.when(F.col("avg_logprob") <= c0, 1).otherwise(0)
            + F.when(F.col("avg_logprob") <= c1, 1).otherwise(0)
        ).cast("int").alias("bucket_idx"),
    )
    return assigned.groupBy("lang", "bucket_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
