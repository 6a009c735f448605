"""Cross-engine pre-verification of the round-8 registration candidates.

Round 7 held these operators library-only (the registry's non-current
backlog exactly filled the driver's 50-query sample) and pinned each
candidate's FUTURE DuckDB oracle against the Spark operator through
the gate's own comparator. Round 8 registered them all; the SQL lifted
verbatim (perplexity_bucket_cuts needed a rank-pick rewrite — DuckDB's
quantile_disc rank convention diverges from Spark's ceil(q*n) at IEEE
integer boundaries). These tests remain as the fast unit-level pin of
the same comparisons at sf0.001; the registered oracles are the
authoritative copies, re-verified per-round by the driver.

Runs at sf0.001 (500 documents) so the whole file stays in unit-test
time; ``R8_DRAFT_SF=/root/testdata/sf0.1 pytest
tests/test_r8_candidate_oracles.py`` sweeps a bigger SF.
"""

from __future__ import annotations

import importlib.util
import os

import pyspark.sql.functions as F

from tests.conftest import ROOT

spec = importlib.util.spec_from_file_location(
    "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
)
co = importlib.util.module_from_spec(spec)
spec.loader.exec_module(co)

SF = os.environ.get("R8_DRAFT_SF", "/root/testdata/sf0.001")


def _assert_match(spark_df, sql: str):
    """The gate's comparison, inline: columns, dtype kinds, exact
    values (zero tolerance rescues)."""
    sdf = spark_df.toPandas()
    con = co.duck_connection(SF)
    try:
        ddf = con.execute(sql).df()
    finally:
        con.close()
    scols, srows = co.frame_to_multiset(sdf)
    dcols, drows = co.frame_to_multiset(ddf)
    assert scols == dcols, f"columns {scols} vs {dcols}"
    assert co.dtype_kind_mismatches(sdf, ddf) == []
    ok, why, rescued = co.rows_equal(srows, drows)
    assert ok and rescued == 0, why


def _docs(spark):
    from news_data_pipeline_spark.sources.catalog import load_table

    return load_table(spark, SF, "documents")


def test_perplexity_buckets_oracle_draft(spark):
    from news_data_pipeline_spark.operators.terms import perplexity_buckets

    out = perplexity_buckets(_docs(spark), "doc_id", "text", "lang")
    _assert_match(
        out,
        """
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
            FROM tf JOIN vocab USING (term) CROSS JOIN total),
        scores AS (
            SELECT id, CAST(sum(tf) AS BIGINT) AS n_tokens,
                   floor(sum(CAST(floor(lp * 1000000 + 0.5) AS BIGINT))
                         / 1000000.0 / sum(tf) * 10000 + 0.5) / 10000.0
                       AS avg_logprob
            FROM lp GROUP BY id),
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


def test_top_ngram_char_fraction_oracle_draft(spark):
    from news_data_pipeline_spark.operators.dedup import (
        top_ngram_char_fraction,
    )

    out = top_ngram_char_fraction(_docs(spark), "doc_id", "text", n=2)
    _assert_match(
        out,
        """
        WITH w AS (
            SELECT doc_id AS id, u.w
            FROM documents,
                 LATERAL unnest(regexp_split_to_array(trim(text), '\\s+'))
                     AS u(w)
            WHERE length(u.w) > 0),
        totals AS (
            SELECT id,
                   CAST(sum(length(w)) + count(*) - 1 AS BIGINT)
                       AS total_chars
            FROM w GROUP BY id),
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
               floor(coalesce(top.top_gram_count, 0)
                     * coalesce(length(top.top_gram), 0)
                     / CAST(t.total_chars AS DOUBLE) * 10000 + 0.5)
                   / 10000.0 AS top_ngram_char_frac
        FROM totals t LEFT JOIN top ON t.id = top.id
        """,
    )


def test_dup_ngram_char_coverage_oracle_draft(spark):
    from news_data_pipeline_spark.operators.dedup import (
        dup_ngram_char_coverage,
    )

    out = dup_ngram_char_coverage(_docs(spark), "doc_id", "text", n=3)
    _assert_match(
        out,
        """
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


def test_bloom_probe_oracle_draft(spark):
    """Bloom membership flags reproduce exactly in SQL through the CMS
    hex-cast idiom — corpus = docs with doc_id < 300, probes = all."""
    from news_data_pipeline_spark.operators.sketches import (
        bloom_bits,
        bloom_probe,
    )

    docs = _docs(spark)
    corpus_fp = docs.where(F.col("doc_id") < 300).select(
        F.md5("text").alias("fp")
    )
    probes = docs.select("doc_id", F.md5("text").alias("fp"))
    bits = bloom_bits(corpus_fp, "fp", num_bits=256, num_hashes=3)
    out = bloom_probe(
        probes, "fp", bits, num_bits=256, num_hashes=3
    ).select("doc_id", "maybe_member")

    def bit_sql(j: int, col: str) -> str:
        return (
            f"CAST(concat('0x', substring(md5('bloom{j}:' || {col}), 1, 8))"
            f" AS BIGINT) % 256"
        )

    hits = " AND ".join(
        f"({bit_sql(j, 'fp')}) IN (SELECT bit FROM bits)" for j in range(3)
    )
    _assert_match(
        out,
        f"""
        WITH mem AS (
            SELECT md5(text) AS fp FROM documents WHERE doc_id < 300),
        bits AS (
            SELECT DISTINCT
                CASE u.j WHEN 0 THEN {bit_sql(0, "fp")}
                         WHEN 1 THEN {bit_sql(1, "fp")}
                         ELSE {bit_sql(2, "fp")} END AS bit
            FROM mem, LATERAL unnest(range(0, 3)) AS u(j)),
        pr AS (SELECT doc_id, md5(text) AS fp FROM documents)
        SELECT doc_id,
               CAST(CASE WHEN {hits} THEN 1 ELSE 0 END AS INT)
                   AS maybe_member
        FROM pr
        """,
    )
