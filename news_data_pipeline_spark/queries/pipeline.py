"""Reference-pipeline parity queries: star schema, gold models, DQ split,
and the silver-layer text transforms — run against the ``documents``
fixture (the stand-in for news articles).

Mapping to the reference:
* dim/fact builders  -> ``03_gold_modeling_news_articles.py:34-77``
* gold aggregates    -> ``03:133-155``
* DQ valid/quarantine-> ``_lib_dq_helpers.py:105-190`` + ``02:38-62``
* text transforms    -> ``02:63-93`` (HTML strip, domain, counts, sentiment)
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from news_data_pipeline_spark.dq import MinRows, NotNull, Unique, run_dq
from news_data_pipeline_spark.functions import text as T
from news_data_pipeline_spark.model.star import build_dim, build_fact, dim_date
from news_data_pipeline_spark.queries.registry import register
from news_data_pipeline_spark.sources.catalog import load_table

# Shared CTE for the DQ queries: fixture docs plus deterministic dirty
# rows (nulls + an injected duplicate key), built in-memory because
# /root/testdata is read-only (FIXTURES.md). The oracle repeats the same
# literals.
_DIRTY_ROWS = [
    (9000001, None, "en", "srcX", 0),
    (9000002, "", "en", "srcX", 0),
    (0, "injected duplicate", "en", "srcX", 18),
]
_DIRTY_SQL = """
        SELECT * FROM documents
        UNION ALL SELECT 9000001, NULL, 'en', 'srcX', 0
        UNION ALL SELECT 9000002, '',  'en', 'srcX', 0
        UNION ALL SELECT 0, 'injected duplicate', 'en', 'srcX', 18
"""


def _dirty_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    extra = spark.createDataFrame(_DIRTY_ROWS, schema=docs.schema)
    return docs.unionByName(extra)


@register(
    "dim_source",
    oracle="""
    SELECT DISTINCT coalesce(source, 'UNKNOWN') AS source,
           md5(coalesce(source, 'UNKNOWN'))     AS source_id
    FROM documents
    """,
)
def dim_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return build_dim(docs, "source", id_col="source_id")


@register(
    "fact_documents",
    oracle="""
    SELECT doc_id,
           md5(CAST(doc_id AS VARCHAR))          AS article_id,
           md5(coalesce(source, 'UNKNOWN'))      AS source_id,
           md5(coalesce(lang, 'UNKNOWN'))        AS lang_id,
           coalesce(lang, 'UNKNOWN') AS lang, n_chars
    FROM documents
    """,
)
def fact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dims = {
        "source": build_dim(docs, "source", id_col="source_id"),
        "lang": build_dim(docs, "lang", id_col="lang_id"),
    }
    return build_fact(
        docs,
        dims,
        fact_id_cols=["doc_id"],
        fact_id_name="article_id",
        select=["doc_id", "article_id", "source_id", "lang_id", "lang", "n_chars"],
    )


@register(
    "gold_top_publishers",
    oracle="SELECT source, count(*) AS n_articles FROM documents GROUP BY source",
)
def gold_top_publishers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference ``gold_top_publishers`` (``03:133-139``) on documents."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_articles"))


@register(
    "gold_lang_distribution",
    oracle="SELECT lang, count(*) AS n_articles FROM documents GROUP BY lang",
)
def gold_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference ``gold_country_distribution`` (``03:150-155``) analogue."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_articles"))


@register(
    "gold_sentiment_trends",
    oracle=f"""
    WITH scored AS (
        SELECT source,
               floor((len(regexp_extract_all(lower(text), '\\b({"|".join(T.POSITIVE_WORDS)})\\b'))
                    - len(regexp_extract_all(lower(text), '\\b({"|".join(T.NEGATIVE_WORDS)})\\b')))
                    / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1)::DOUBLE
                    * 10000 + 0.5) / 10000.0 AS polarity
        FROM documents)
    SELECT source,
           CASE WHEN polarity > 0 THEN 'positive'
                WHEN polarity < 0 THEN 'negative'
                ELSE 'neutral' END AS sentiment_label,
           count(*) AS n_articles
    FROM scored GROUP BY 1, 2
    """,
)
def gold_sentiment_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference ``gold_sentiment_trends`` (``03:142-147``): sentiment
    label counts per source, lexicon-scored (no TextBlob UDF)."""
    docs = load_table(spark, sf_dir, "documents")
    polarity = T.sentiment_polarity(F.col("text"))
    return (
        docs.select("source", T.sentiment_label(polarity).alias("sentiment_label"))
        .groupBy("source", "sentiment_label")
        .agg(F.count(F.lit(1)).alias("n_articles"))
    )


@register(
    "dim_date_orders",
    oracle="""
    SELECT DISTINCT strftime(o_orderdate, '%Y-%m-%d')      AS date_key,
           CAST(EXTRACT(year    FROM o_orderdate) AS INT) AS year,
           CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS quarter,
           CAST(EXTRACT(month   FROM o_orderdate) AS INT) AS month,
           CAST(EXTRACT(day     FROM o_orderdate) AS INT) AS day,
           CAST(EXTRACT(dow     FROM o_orderdate) AS INT) AS day_of_week,
           CAST(EXTRACT(week    FROM o_orderdate) AS INT) AS week_of_year,
           EXTRACT(dow FROM o_orderdate) IN (0, 6)  AS is_weekend
    FROM orders WHERE o_orderdate IS NOT NULL
    """,
)
def dim_date_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference README promises a dim_date it never builds
    (``README.md:66``); this is the real one. date_key surfaces as an
    ISO string for engine-independent hashing."""
    orders = load_table(spark, sf_dir, "orders")
    out = dim_date(orders, "o_orderdate")
    return out.withColumn("date_key", F.date_format("date_key", "yyyy-MM-dd"))


@register(
    "dq_valid_documents",
    oracle=f"""
    WITH base AS ({_DIRTY_SQL})
    SELECT doc_id, text, lang, source, n_chars FROM base
    WHERE NOT (text IS NULL OR text = '')
      AND doc_id NOT IN (
          SELECT doc_id FROM base GROUP BY doc_id HAVING count(*) > 1)
    """,
)
def dq_valid_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass DQ engine: rows passing not_null(text) + unique(doc_id)."""
    dirty = _dirty_documents(spark, sf_dir)
    result = run_dq(dirty, [NotNull("text"), Unique("doc_id")], cache=False)
    return result.valid


@register(
    "dq_quarantined_documents",
    oracle=f"""
    WITH base AS ({_DIRTY_SQL}),
    dups AS (SELECT doc_id FROM base GROUP BY doc_id HAVING count(*) > 1)
    SELECT doc_id, text, lang, source, n_chars,
           concat_ws('; ',
               CASE WHEN text IS NULL OR text = '' THEN 'not_null(text)' END,
               CASE WHEN doc_id IN (SELECT doc_id FROM dups)
                    THEN 'unique(doc_id)' END) AS reason
    FROM base
    WHERE (text IS NULL OR text = '')
       OR doc_id IN (SELECT doc_id FROM dups)
    """,
)
def dq_quarantined_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine side of the split, with rule-name reasons
    (reference ``02:43-52``)."""
    dirty = _dirty_documents(spark, sf_dir)
    result = run_dq(dirty, [NotNull("text"), Unique("doc_id")], cache=False)
    return result.quarantined.withColumn(
        "reason", F.array_join("reasons", "; ")
    ).drop("reasons")


@register(
    "dq_quarantine_records",
    oracle=f"""
    WITH base AS ({_DIRTY_SQL}),
    dups AS (SELECT doc_id FROM base GROUP BY doc_id HAVING count(*) > 1)
    SELECT doc_id, text, lang, source, n_chars,
           concat_ws('; ',
               CASE WHEN text IS NULL OR text = '' THEN 'not_null(text)' END,
               CASE WHEN doc_id IN (SELECT doc_id FROM dups)
                    THEN 'unique(doc_id)' END) AS reason,
           'documents'           AS source_table,
           '2026-01-01 00:00:00' AS ingestion_time
    FROM base
    WHERE (text IS NULL OR text = '')
       OR doc_id IN (SELECT doc_id FROM dups)
    """,
)
def dq_quarantine_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit-sink shaping: payload JSON + reason + lineage
    (reference ``02:44-48``), verified canonically.

    Raw JSON strings aren't engine-comparable (Spark's ``to_json``
    omits null fields; key order follows the struct), so the registered
    query round-trips: build the payload with ``to_quarantine_records``,
    then parse it back to typed columns with ``from_quarantine_records``.
    The oracle is a plain projection of the same quarantined rows — any
    payload corruption (lost field, wrong value, bad escaping) breaks
    the parsed columns and fails the hash match.
    """
    from news_data_pipeline_spark.dq import (
        from_quarantine_records,
        to_quarantine_records,
    )

    dirty = _dirty_documents(spark, sf_dir)
    result = run_dq(dirty, [NotNull("text"), Unique("doc_id")], cache=False)
    records = to_quarantine_records(
        result.quarantined,
        source_table="documents",
        ingestion_time="2026-01-01 00:00:00",
    )
    parsed = from_quarantine_records(records, dirty.schema)
    return parsed.withColumn(
        "ingestion_time", F.date_format("ingestion_time", "yyyy-MM-dd HH:mm:ss")
    )


@register(
    "dq_report_documents",
    # the report itself as data: per-rule pass/fail + violation counts
    # from ONE aggregate (Q5's single-pass contract, driver-verified)
    oracle=f"""
    WITH base AS ({_DIRTY_SQL}),
    dups AS (SELECT doc_id FROM base GROUP BY doc_id HAVING count(*) > 1)
    SELECT 'not_null(text)' AS rule,
           count(*) FILTER (text IS NULL OR text = '') = 0 AS passed,
           count(*) FILTER (text IS NULL OR text = '') AS violations
    FROM base
    UNION ALL
    SELECT 'unique(doc_id)',
           count(*) FILTER (doc_id IN (SELECT doc_id FROM dups)) = 0,
           count(*) FILTER (doc_id IN (SELECT doc_id FROM dups))
    FROM base
    UNION ALL
    SELECT 'min_rows(1)', count(*) >= 1,
           CASE WHEN count(*) >= 1 THEN 0 ELSE 1 END
    FROM base
    """,
)
def dq_report_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DQ pass/fail report AS a frame (DQResult.report_frame):
    per-rule violations from the engine's one annotated pass, unpivoted
    in Spark — writable to an audit table with no driver collect. The
    reference prints its report (`_lib_dq_helpers.py:126,140` runs one
    count() job per rule to build it); here it is one lazy aggregate
    and a registry-verified result."""
    dirty = _dirty_documents(spark, sf_dir)
    result = run_dq(
        dirty, [NotNull("text"), Unique("doc_id"), MinRows(1)], cache=False
    )
    return result.report_frame()


@register(
    "dq_profile_documents",
    oracle="""
    SELECT 'doc_id' AS col_name, count(*) AS n_rows,
           count(doc_id) AS n_non_null, count(DISTINCT doc_id) AS n_distinct,
           CAST(min(doc_id) AS VARCHAR) AS min_value,
           CAST(max(doc_id) AS VARCHAR) AS max_value
    FROM documents
    UNION ALL
    SELECT 'lang', count(*), count(lang), count(DISTINCT lang),
           min(lang), max(lang) FROM documents
    UNION ALL
    SELECT 'source', count(*), count(source), count(DISTINCT source),
           min(source), max(source) FROM documents
    UNION ALL
    SELECT 'n_chars', count(*), count(n_chars), count(DISTINCT n_chars),
           CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
    FROM documents
    """,
)
def dq_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-job column profile (dq.profile.profile_columns) — the
    rule-discovery step ahead of the reference's DQ checks
    (``_lib_dq_helpers.py:105-190``): null counts, exact cardinality,
    native-ordering min/max per column."""
    from news_data_pipeline_spark.dq import profile_columns

    docs = load_table(spark, sf_dir, "documents")
    return profile_columns(docs, ["doc_id", "lang", "source", "n_chars"])


# --- reference-compat queries (byte-for-byte migration modes) ----------------
@register(
    "compat_dim_source_ids",
    oracle="""
    SELECT source,
           substring(CAST(rn AS VARCHAR), 1, 5) AS source_id
    FROM (SELECT source, row_number() OVER (ORDER BY source) AS rn
          FROM (SELECT DISTINCT coalesce(source, 'UNKNOWN') AS source
                FROM documents) t) q
    """,
)
def compat_dim_source_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's exact dim-ID scheme (``03:39,44``): sequential
    row_number by key order, stringified, 5-char truncated — via
    ``build_dim(compat_reference=True)``, which produces the sequence
    with a range-partitioned two-pass instead of the reference's
    single-partition window. For migrations re-emitting reference gold
    tables byte-for-byte; new pipelines use hash surrogate keys."""
    docs = load_table(spark, sf_dir, "documents")
    return build_dim(docs, "source", id_col="source_id", compat_reference=True)


@register(
    "compat_silver_word_count",
    oracle="""
    SELECT doc_id, length(text) AS content_word_count FROM documents
    """,
)
def compat_silver_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ``content_word_count`` is actually a CHARACTER
    count (``length(content)``, ``02:71``); ``word_count(
    compat_reference=True)`` reproduces it for byte-compat migrations.
    The corrected semantics live in ``documents_enriched.n_words``."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.word_count(F.col("text"), compat_reference=True)
        .cast("long")
        .alias("content_word_count"),
    )


@register(
    "salted_source_join",
    # the salt is invisible in the output: every big-side row matches
    # exactly its own salt replica, so the result equals the plain join
    oracle="""
    WITH d AS (
        SELECT doc_id, coalesce(source, 'UNKNOWN') AS source, n_chars
        FROM documents),
    dim AS (SELECT source, count(*) AS src_docs FROM d GROUP BY source)
    SELECT d.doc_id, d.source, dim.src_docs
    FROM d JOIN dim USING (source)
    """,
)
def salted_source_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant join through ``operators.joins.salted_join``: the
    reference's ``fillna("UNKNOWN")`` author bucket (``03:42-44``) is the
    canonical hot key — every null-source document lands on one join key,
    one shuffle partition, one straggler task. Salting spreads each hot
    key over ``salt_buckets`` sub-keys (small side replicated per salt),
    and the output is provably identical to the unsalted join, which is
    exactly what the oracle checks."""
    from news_data_pipeline_spark.operators.joins import salted_join

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.coalesce("source", F.lit("UNKNOWN")).alias("source"),
        "n_chars",
    )
    dim = docs.groupBy("source").agg(F.count(F.lit(1)).alias("src_docs"))
    return salted_join(docs, dim, on="source", salt_buckets=8).select(
        "doc_id", "source", "src_docs"
    )


# --- silver-layer text transforms (P/F/D rows) -------------------------------
@register(
    "documents_enriched",
    oracle=f"""
    SELECT doc_id,
           regexp_replace('<b>' || text || '</b>', '<[^>]*>', '', 'g') AS clean_text,
           regexp_extract('https://www.' || source || '.example.com/a/' || doc_id,
                          'https?://(?:www\\.)?([^/]+)', 1)            AS domain,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_words,
           length(text)                                                AS n_chars_computed,
           upper(lang)                                                 AS lang_upper,
           substr(text, 1, 12)                                         AS prefix
    FROM documents
    """,
)
def documents_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The silver transform chain (``02:63-93``) on documents: HTML strip
    (wrapped in tags first so the op is exercised), URL domain extraction,
    real word count (fixing ``02:71``'s length-as-word-count), casing,
    substring."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://www."), F.col("source"), F.lit(".example.com/a/"), F.col("doc_id")
    )
    tagged = F.concat(F.lit("<b>"), F.col("text"), F.lit("</b>"))
    return docs.select(
        "doc_id",
        T.strip_html(tagged).alias("clean_text"),
        T.extract_domain(url).alias("domain"),
        T.word_count(F.col("text")).alias("n_words"),
        T.char_count(F.col("text")).alias("n_chars_computed"),
        F.upper("lang").alias("lang_upper"),
        F.substring("text", 1, 12).alias("prefix"),
    )


@register(
    "document_sentiment",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               floor((len(regexp_extract_all(lower(text), '\\b({"|".join(T.POSITIVE_WORDS)})\\b'))
                    - len(regexp_extract_all(lower(text), '\\b({"|".join(T.NEGATIVE_WORDS)})\\b')))
                    / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1)::DOUBLE
                    * 10000 + 0.5) / 10000.0
                   AS sentiment_score
        FROM documents)
    SELECT doc_id, sentiment_score,
           CASE WHEN sentiment_score > 0 THEN 'positive'
                WHEN sentiment_score < 0 THEN 'negative'
                ELSE 'neutral' END AS sentiment_label
    FROM scored
    """,
)
def document_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic lexicon sentiment replacing the reference's TextBlob
    UDF (``_lib_dq_helpers.py:84-95``): pure Catalyst expressions the
    oracle mirrors exactly."""
    docs = load_table(spark, sf_dir, "documents")
    polarity = T.sentiment_polarity(F.col("text"))
    return docs.select(
        "doc_id",
        polarity.alias("sentiment_score"),
        T.sentiment_label(polarity).alias("sentiment_label"),
    )


@register(
    "top_sources_per_lang",
    oracle="""
    SELECT lang, source, n_articles, rnk FROM (
        SELECT lang, source, count(*) AS n_articles,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY count(*) DESC, source) AS rnk
        FROM documents GROUP BY lang, source) t
    WHERE rnk <= 3
    """,
)
def top_sources_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group: the reporting shape the reference's global
    orderBy can't express — aggregate then rank WITHIN each group, so
    the sort is per-partition, never a global exchange."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    counts = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_articles")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n_articles"), F.asc("source"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
    )


# FD-violation fixture: three clones of existing doc_ids crawled under a
# different source — doc_id -> source no longer holds for those groups.
_FD_ROWS = [
    (1, "fd clone", "en", "srcX", 8),
    (2, "fd clone", "en", "srcX", 8),
    (3, "fd clone", "en", "srcX", 8),
]
_FD_SQL = """
        SELECT * FROM documents
        UNION ALL SELECT 1, 'fd clone', 'en', 'srcX', 8
        UNION ALL SELECT 2, 'fd clone', 'en', 'srcX', 8
        UNION ALL SELECT 3, 'fd clone', 'en', 'srcX', 8
"""


@register(
    "dq_fd_violations",
    oracle=f"""
    WITH base AS ({_FD_SQL}),
    bad AS (
        SELECT doc_id FROM base
        GROUP BY doc_id
        HAVING min(source) IS DISTINCT FROM max(source))
    SELECT doc_id, text, lang, source, n_chars,
           'fd(doc_id->source)' AS reason
    FROM base WHERE doc_id IN (SELECT doc_id FROM bad)
    """,
)
def dq_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency DQ rule (dq.rules.FunctionalDependency):
    doc_id -> source must be single-valued; every row of a violating
    group quarantines with the rule name as the reason. The group check
    is min != max over the determinant window — no count-distinct, and
    the shuffle is shared with any other rule keyed on doc_id."""
    from news_data_pipeline_spark.dq import FunctionalDependency

    docs = load_table(spark, sf_dir, "documents")
    extra = spark.createDataFrame(_FD_ROWS, schema=docs.schema)
    dirty = docs.unionByName(extra)
    result = run_dq(
        dirty,
        [FunctionalDependency("doc_id", dependent="source")],
        cache=False,
    )
    return result.quarantined.withColumn(
        "reason", F.array_join("reasons", "; ")
    ).drop("reasons")


# --- round 7: driver-green rows for the "tested-only" §2 surface ----------
# Deterministic fake API page: what the injectable fetcher returns, so
# the S1/S2 bronze path runs end-to-end with a value-checkable result.
_FAKE_ARTICLES = [
    {
        "source": {"name": "Alpha Wire"},
        "author": "Ada",
        "title": "Quarterly results beat estimates",
        "description": "d1",
        "url": "https://example.invalid/a/1",
        "urlToImage": None,
        "publishedAt": "2024-03-01T10:00:00Z",
        "content": "c1",
    },
    {
        "source": {"name": "Beta Daily"},
        "author": None,
        "title": "Storm closes northern ports",
        "description": None,
        "url": "https://example.invalid/b/2",
        "urlToImage": None,
        "publishedAt": "2024-03-01T11:30:00Z",
        "content": "c2",
    },
    {
        "source": {"name": "Alpha Wire"},
        "author": "Bo",
        "title": "Midweek market wrap",
        "description": "d3",
        "url": "https://example.invalid/a/3",
        "urlToImage": None,
        "publishedAt": "2024-03-02T09:15:00Z",
        "content": "c3",
    },
]


@register(
    "rest_ingest_snapshot",
    oracle="""
    SELECT * FROM (VALUES
        ('Alpha Wire', 'Ada', 'Quarterly results beat estimates',
         'https://example.invalid/a/1', '2024-03-01 10:00:00', 'us',
         '2024-03-02T00:00:00'),
        ('Beta Daily', NULL, 'Storm closes northern ports',
         'https://example.invalid/b/2', '2024-03-01 11:30:00', 'us',
         '2024-03-02T00:00:00'),
        ('Alpha Wire', 'Bo', 'Midweek market wrap',
         'https://example.invalid/a/3', '2024-03-02 09:15:00', 'us',
         '2024-03-02T00:00:00')
    ) AS t(source_name, author, title, url, published_at, country,
           ingestion_time)
    """,
)
def rest_ingest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's bronze ingestion end-to-end (S1+S2+P2+P4:
    sources.rest.fetch_articles with an injected fetcher ->
    ingest_records under the declared ARTICLE_SCHEMA ->
    with_ingestion_metadata lineage stamps -> struct flatten), with a
    driver-verifiable VALUES oracle. The fetcher is deterministic (no
    network in this container — and a correctness gate needs a fixed
    page anyway); the publishedAt cast runs through the session's UTC
    timezone and surfaces as an ISO string per the date convention."""
    from news_data_pipeline_spark.functions.columns import flatten_structs
    from news_data_pipeline_spark.sources.rest import (
        fetch_articles,
        ingest_records,
    )

    articles = fetch_articles(
        "https://example.invalid/v2/top-headlines",
        {"country": "us"},
        fetcher=lambda url, params: {"articles": _FAKE_ARTICLES},
    )
    bronze = ingest_records(
        spark, articles, country="us", ingestion_time="2024-03-02T00:00:00"
    )
    flat = flatten_structs(bronze)
    return flat.select(
        "source_name",
        "author",
        "title",
        "url",
        F.date_format("publishedAt", "yyyy-MM-dd HH:mm:ss").alias(
            "published_at"
        ),
        "country",
        "ingestion_time",
    )


@register(
    "partitioned_layer_roundtrip",
    # values survive the write -> register -> MSCK -> catalog-read
    # round trip; the oracle recomputes them straight from the source
    # table. CAST on the sum: HUGEINT discipline.
    oracle="""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM documents WHERE lang IN ('en', 'fr')
    GROUP BY lang
    """,
)
def partitioned_layer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The silver-layer write surface end-to-end (S4+S5+S7:
    write_layer(partition_by=lang) -> CREATE TABLE ... LOCATION ->
    MSCK partition recovery -> spark.table read with partition
    pruning): per-language aggregates computed FROM THE REGISTERED
    TABLE must match the source data exactly — any loss, duplication,
    or partition-column corruption in the write/registration path
    surfaces as a value mismatch. The partition filter prunes to the
    two named language directories at scan time."""
    import tempfile

    from news_data_pipeline_spark.sources.writers import (
        write_layer_and_register,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    if not docs.head(1):
        # an empty partitioned write leaves no data files, so the
        # external-table registration has no schema to discover —
        # a declared-schema empty answer, not an AnalysisException
        return spark.createDataFrame(
            [],
            "lang string, n_docs bigint, total_chars bigint, "
            "first_doc bigint, last_doc bigint",
        )
    path = tempfile.mkdtemp(prefix="layer_rt_") + "/silver_docs"
    write_layer_and_register(
        docs,
        path,
        "docs_roundtrip",
        database="roundtrip_db",
        partition_by="lang",
        mode="overwrite",
    )
    back = spark.table("roundtrip_db.docs_roundtrip").where(
        F.col("lang").isin("en", "fr")
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register(
    "struct_flatten_rename_snapshot",
    oracle="""
    SELECT doc_id,
           lang AS meta_info_lang,
           n_chars AS meta_info_n_chars,
           source AS origin_source
    FROM documents WHERE doc_id < 50
    """,
)
def struct_flatten_rename_snapshot(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The projection utilities under a driver oracle (P2+P10+P11:
    nested struct -> flatten_structs underscore-flattening ->
    normalize_column_names bulk rename in ONE Project ->
    require_columns existence guard): documents are re-nested under a
    space-bearing struct name, flattened back, and normalized; values
    must ride through untouched and the dirty name must come out
    canonical ("Meta Info_lang" -> meta_info_lang)."""
    from news_data_pipeline_spark.functions.columns import (
        flatten_structs,
        normalize_column_names,
        require_columns,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    nested = docs.select(
        "doc_id",
        F.struct(F.col("lang"), F.col("n_chars")).alias("Meta Info"),
        F.struct(F.col("source").alias("source")).alias("origin"),
    )
    flat = normalize_column_names(flatten_structs(nested), case="lower")
    missing = require_columns(
        flat, ["doc_id", "meta_info_lang", "meta_info_n_chars", "origin_source"]
    )
    if missing:  # the P11 guard: fail loudly, not with a wrong Project
        raise ValueError(f"flatten lost columns: {missing}")
    return flat


@register(
    "dq_config_driven_report",
    # config -> typed rules -> one-pass report. column_exists violations
    # count MISSING columns (2 here) — a driver-known literal; row rules
    # recompute from the table.
    oracle="""
    SELECT 'column_exists(doc_id,text,published_ts,revision)' AS rule,
           FALSE AS passed, CAST(2 AS BIGINT) AS violations
    UNION ALL
    SELECT 'not_null(lang)', count(*) FILTER (lang IS NULL) = 0,
           count(*) FILTER (lang IS NULL)
    FROM documents
    UNION ALL
    SELECT 'unique(doc_id)',
           count(*) - count(DISTINCT doc_id) = 0,
           CAST((SELECT coalesce(sum(c), 0) FROM (
               SELECT count(*) AS c FROM documents
               GROUP BY doc_id HAVING count(*) > 1) d) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'min_rows(1)', count(*) >= 1,
           CASE WHEN count(*) >= 1 THEN 0 ELSE 1 END
    FROM documents
    """,
)
def dq_config_driven_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Config-driven DQ end-to-end (Q1+Q3+Q7: the reference's dict
    shape -> config_to_rules -> run_dq -> report_frame): a declared
    contract requiring two columns the table does not have
    (published_ts, revision) plus row rules, producing the per-rule
    pass/fail report as data. The schema rows are driver-known
    literals; the row rules come from the engine's single annotated
    pass — same one-aggregate contract as dq_report_documents."""
    from news_data_pipeline_spark.dq.rules import config_to_rules

    docs = load_table(spark, sf_dir, "documents")
    config = {
        "required_columns": ["doc_id", "text", "published_ts", "revision"],
        "not_null": ["lang"],
        "unique_keys": ["doc_id"],
        "min_rows": 1,
    }
    result = run_dq(docs, config_to_rules(config), cache=False)
    return result.report_frame()


# --- schema-drift union (round 8) -----------------------------------------
@register(
    "union_evolved_orders",
    # mirrors the widening lattice decision for this drift: okey int +
    # bigint -> bigint; price decimal(12,2) + decimal(18,4) -> the
    # covering decimal(18,4) (max integer digits 14 + max scale 4 —
    # EXACT, where a double fallback would round); each side's missing
    # column fills with a typed NULL. Decimals built by casting an
    # integral column — int -> decimal is exact on both engines,
    # unlike double -> decimal whose rounding mode differs.
    # price ships as CAST(decimal(18,4) AS STRING) — '85.0000' carries
    # the widened type's exact scale through the driver, where a raw
    # DECIMAL column would fall to float64 in DuckDB's pandas
    # materialization (the HUGEINT-class stringify hazard)
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS okey,
           CAST(CAST(CAST(o_custkey AS DECIMAL(12,2)) AS DECIMAL(18,4))
               AS VARCHAR) AS price,
           o_orderpriority AS priority,
           CAST(NULL AS VARCHAR) AS status
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT CAST(o_orderkey AS BIGINT),
           CAST(CAST(o_custkey AS DECIMAL(18,4)) AS VARCHAR),
           CAST(NULL AS VARCHAR),
           o_orderstatus
    FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def union_evolved_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift union (functions.columns.union_evolved): two order
    extracts whose schemas drifted — yesterday's has int keys,
    decimal(12,2) prices and a priority column; today's has bigint
    keys, decimal(18,4) prices and a status column instead. The union
    carries every column at the widest observed type with typed NULLs
    for the gaps: pure per-frame Projects into one unionByName, zero
    shuffle at any corpus size."""
    from news_data_pipeline_spark.functions.columns import union_evolved

    orders = load_table(spark, sf_dir, "orders")
    yesterday = orders.where(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").cast("int").alias("okey"),
        F.col("o_custkey").cast("decimal(12,2)").alias("price"),
        F.col("o_orderpriority").alias("priority"),
    )
    today = orders.where(F.col("o_orderkey") % 2 == 1).select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").cast("decimal(18,4)").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    out = union_evolved([yesterday, today])
    assert dict(out.dtypes)["price"] == "decimal(18,4)"
    return out.withColumn("price", F.col("price").cast("string"))


# --- ORC format round trip (round 8) --------------------------------------
@register(
    "orc_layer_roundtrip",
    # same shape as partitioned_layer_roundtrip, through Spark's
    # built-in ORC format instead of parquet: the oracle recomputes
    # the aggregate from the source table, so a value that fails to
    # survive the ORC write/read (type mapping, partition column
    # reconstruction, predicate pushdown on the partition key) breaks
    # the hash
    oracle="""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM documents WHERE lang IN ('en', 'de')
    GROUP BY lang
    """,
)
def orc_layer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC layer round trip (sources.writers.write_layer /
    read_layer with fmt='orc'): the second columnar format the layer
    machinery supports end-to-end — write partitioned by lang, read
    back through the ``_SUCCESS`` gate, aggregate, and match the
    oracle's recomputation from the source rows. Everything the
    parquet path guarantees (atomic ``_SUCCESS`` visibility, partition
    pruning on ``lang``, column pruning to the 3 read columns) holds
    identically: the format is a leaf concern, which is the point of
    routing every write through ``write_layer``."""
    import tempfile

    from news_data_pipeline_spark.sources.writers import (
        read_layer,
        write_layer,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("lang").isin("en", "de")
    )
    if not docs.head(1):
        # an empty partitioned write leaves no ORC data files to infer
        # a schema from — declared-schema empty answer, same guard as
        # partitioned_layer_roundtrip
        return spark.createDataFrame(
            [],
            "lang string, n_docs bigint, total_chars bigint, "
            "first_doc bigint, last_doc bigint",
        )
    path = tempfile.mkdtemp(prefix="orc_layer_q_") + "/docs"
    write_layer(
        docs, path, partition_by="lang", mode="overwrite", fmt="orc"
    )
    back = read_layer(spark, path, fmt="orc")
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )
