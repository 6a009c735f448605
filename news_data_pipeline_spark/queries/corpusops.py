"""Round-6 registrations: the round-5 capabilities as driver-oracled
queries — CSV quarantine grammar, schema/distribution drift, temperature
mixtures and repetition up-sampling, Unicode normalization, versioned-
layer time travel, and the PCA projection (rows-only; eigensolve is not
SQL-expressible).

Everything numeric follows the floor-settled convention from
``functions/exact.py``: no ``round()`` on ratios, no integer division,
no list lambdas or slicing on the DuckDB side.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from news_data_pipeline_spark.functions.exact import settled_round
from news_data_pipeline_spark.queries.registry import register
from news_data_pipeline_spark.sources.catalog import ArtifactCache, load_table

# SQL twin of operators.sampling.hash_bucket over a salted concat_ws key
# (salt \x1f group \x1f key) — chr(31) is the unit separator literal.
def _sql_bucket(salt: str, group_expr: str, key_expr: str) -> str:
    keyed = f"'{salt}' || chr(31) || {group_expr} || chr(31) || {key_expr}"
    return (
        f"CAST(concat('0x', substring(md5({keyed}), 1, 8)) AS BIGINT) % 10000"
    )


# --- temperature mixture -------------------------------------------------
@register(
    "temperature_mixture_lang_rates",
    # mirrors operators.sampling.temperature_mixture_rates(alpha=0.5,
    # budget_fraction=0.5): p = group share, q ∝ p^alpha, rate =
    # min(1, q * budget * N / n). All outputs floor-settled at 6dp.
    oracle="""
    WITH counts AS (
        SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    tot AS (SELECT sum(n) AS nn FROM counts),
    pq AS (
        SELECT lang, n,
               n / nn::DOUBLE AS p,
               pow(n / nn::DOUBLE, 0.5) AS qraw,
               nn
        FROM counts CROSS JOIN tot),
    qs AS (SELECT sum(qraw) AS sq FROM pq)
    SELECT lang,
           CAST(n AS BIGINT) AS n,
           floor(p * 1000000 + 0.5) / 1000000.0 AS p,
           floor(qraw / sq * 1000000 + 0.5) / 1000000.0 AS q,
           floor(least(1.0, qraw / sq * 0.5 * nn / n) * 1000000 + 0.5)
               / 1000000.0 AS rate
    FROM pq CROSS JOIN qs
    """,
)
def temperature_mixture_lang_rates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-flattened mixture rates over the language column
    (operators.sampling.temperature_mixture_rates, alpha=0.5, half the
    corpus as budget): the XLM-R/mT5-style reweighting that up-weights
    tail languages. One count aggregate plus window normalizations over
    the bounded GROUPS frame — no driver collect, scales to any corpus."""
    from news_data_pipeline_spark.operators.sampling import (
        temperature_mixture_rates,
    )

    docs = load_table(spark, sf_dir, "documents")
    rates = temperature_mixture_rates(
        docs, "lang", alpha=0.5, budget_fraction=0.5
    )
    return rates.select(
        "lang",
        F.col("n").cast("bigint").alias("n"),
        settled_round(F.col("p"), 6).alias("p"),
        settled_round(F.col("q"), 6).alias("q"),
        settled_round(F.col("rate"), 6).alias("rate"),
    )


@register(
    "mixture_rate_sampled_counts",
    # end-to-end: temperature rates FRAME -> salted-hash membership ->
    # kept rows per language. The kept-set is a pure function of
    # (doc_id, lang, rate), so the oracle recomputes membership exactly.
    oracle=f"""
    WITH counts AS (
        SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    tot AS (SELECT sum(n) AS nn FROM counts),
    pq AS (
        SELECT lang, n, pow(n / nn::DOUBLE, 0.5) AS qraw, nn
        FROM counts CROSS JOIN tot),
    qs AS (SELECT sum(qraw) AS sq FROM pq),
    rates AS (
        SELECT lang,
               least(1.0, qraw / sq * 0.5 * nn / n) AS rate
        FROM pq CROSS JOIN qs),
    kept AS (
        SELECT d.lang
        FROM documents d JOIN rates r ON d.lang = r.lang
        WHERE {_sql_bucket("mix:", "coalesce(d.lang, '<NULL>')",
                           "coalesce(CAST(d.doc_id AS VARCHAR), '<NULL>')")}
              < floor(r.rate * 10000 + 0.5))
    SELECT lang, count(*) AS n_kept FROM kept GROUP BY lang
    """,
)
def mixture_rate_sampled_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The full mixture pipeline: temperature rates computed as a frame,
    then applied by ``mixture_sample_by_rates`` (broadcast rate join +
    salted row-hash filter — no RNG state, no shuffle, stable under
    repartitioning). Output is kept-documents per language; tail
    languages keep ~everything, the head language is down-sampled."""
    from news_data_pipeline_spark.operators.sampling import (
        mixture_sample_by_rates,
        temperature_mixture_rates,
    )

    docs = load_table(spark, sf_dir, "documents")
    rates = temperature_mixture_rates(
        docs, "lang", alpha=0.5, budget_fraction=0.5
    )
    kept = mixture_sample_by_rates(docs, "doc_id", "lang", rates)
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))


@register(
    "repeat_upsample_copies",
    # rates: fr -> 2.5 (two full copies + deterministic 50% third),
    # de -> 1.0, all other languages absent -> dropped. frac*10000 =
    # 5000 exactly (0.5 is binary-representable), so the threshold is
    # engine-exact.
    oracle=f"""
    WITH fr AS (SELECT doc_id, lang FROM documents WHERE lang = 'fr'),
    third AS (
        SELECT doc_id, lang FROM fr
        WHERE {_sql_bucket("rep:", "coalesce(lang, '<NULL>')",
                           "coalesce(CAST(doc_id AS VARCHAR), '<NULL>')")}
              < 5000),
    copies AS (
        SELECT lang, 1 AS copy FROM fr
        UNION ALL SELECT lang, 2 FROM fr
        UNION ALL SELECT lang, 3 FROM third
        UNION ALL SELECT lang, 1 FROM documents WHERE lang = 'de')
    SELECT lang, CAST(copy AS INT) AS copy, count(*) AS n_rows
    FROM copies GROUP BY lang, copy
    """,
)
def repeat_upsample_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-style deterministic up-sampling
    (operators.sampling.repeat_sample_by_rates): rate 2.5 for 'fr'
    emits two full copies of every French document plus a hash-gated
    50% third copy, rate 1.0 passes 'de' through, unlisted languages
    drop. The copy index is part of the output contract — downstream
    dedup must see the repetition. Row explosion is sequence+explode,
    fully codegen'd."""
    from news_data_pipeline_spark.operators.sampling import (
        repeat_sample_by_rates,
    )

    docs = load_table(spark, sf_dir, "documents")
    rates = spark.createDataFrame(
        [("fr", 2.5), ("de", 1.0)], "lang string, rate double"
    )
    out = repeat_sample_by_rates(docs, "doc_id", "lang", rates)
    return out.groupBy("lang", "copy").agg(F.count(F.lit(1)).alias("n_rows"))


# --- CSV quarantine grammar ----------------------------------------------
@register(
    "csv_quarantine_split",
    # corruption is injected by a known predicate, so the oracle derives
    # both populations WITHOUT parsing CSV: doc_id%13==0 mangles the
    # BIGINT field (type error), doc_id%17==0 appends a field (arity
    # error). The quarantine checksum is over the RAW line — proving the
    # reader preserved the original bytes for replay.
    oracle="""
    WITH lines AS (
        SELECT doc_id, lang, n_chars,
               CAST(doc_id AS VARCHAR) || ',' || lang || ',' ||
               CASE WHEN doc_id % 13 = 0 THEN 'n' || CAST(n_chars AS VARCHAR)
                    ELSE CAST(n_chars AS VARCHAR) END ||
               CASE WHEN doc_id % 17 = 0 THEN ',extra' ELSE '' END AS line,
               (doc_id % 13 = 0 OR doc_id % 17 = 0) AS corrupt
        FROM documents)
    -- CAST on both checksums: DuckDB sum(BIGINT) returns HUGEINT
    -- (int128), which pandas-side canonicalization renders as float64
    -- ("123.0") while Spark's LongType stays int64 ("123") — the
    -- r5/r6 driver hash-fail class. BIGINT cast is a semantic no-op.
    SELECT 'valid' AS population,
           count(*) AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS checksum
    FROM lines WHERE NOT corrupt
    UNION ALL
    SELECT 'quarantined', count(*), CAST(sum(length(line)) AS BIGINT)
    FROM lines WHERE corrupt
    """,
)
def csv_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV corrupt-line quarantine, end to end
    (sources.csvio.parse_csv_lines + sources.jsonl.split_corrupt_records):
    documents are rendered as CSV lines with two deliberate corruption
    classes injected — a non-numeric BIGINT field (doc_id%13) and an
    extra field (doc_id%17) — then parsed against the declared schema.
    The CSV grammar itself must route exactly the injected rows to
    quarantine (with their raw bytes intact, proven by the length
    checksum) and parse everything else to the original typed values
    (proven by the n_chars checksum)."""
    from news_data_pipeline_spark.sources.csvio import parse_csv_lines
    from news_data_pipeline_spark.sources.jsonl import split_corrupt_records

    docs = load_table(spark, sf_dir, "documents")
    line = F.concat(
        F.col("doc_id").cast("string"),
        F.lit(","),
        F.col("lang"),
        F.lit(","),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.lit("n"), F.col("n_chars").cast("string")),
        ).otherwise(F.col("n_chars").cast("string")),
        F.when(F.col("doc_id") % 17 == 0, F.lit(",extra")).otherwise(
            F.lit("")
        ),
    )
    lines = docs.select(line.alias("value"))
    parsed = parse_csv_lines(
        lines, "doc_id bigint, lang string, n_chars bigint"
    )
    valid, quarantine = split_corrupt_records(parsed)
    v = valid.agg(
        F.lit("valid").alias("population"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("checksum"),
    )
    q = quarantine.agg(
        F.lit("quarantined").alias("population"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.length("payload")).alias("checksum"),
    )
    return v.unionAll(q)


# --- schema drift ---------------------------------------------------------
@register(
    "schema_drift_found",
    # pure metadata: the drift between a declared expectation and the
    # actual documents schema — one row per drift kind
    oracle="""
    SELECT * FROM (VALUES
        ('n_chars', 'type_changed', 'int', 'bigint'),
        ('published_ts', 'missing', 'timestamp', ''),
        ('source', 'added', '', 'string')
    ) AS t("column", kind, expected, observed)
    """,
)
def schema_drift_found(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift report (dq.drift.schema_drift_report): an expected
    contract declaring ``n_chars int`` and a ``published_ts`` column,
    checked against the real documents table — surfacing one row per
    drift (retyped, missing, undeclared-added). Zero Spark jobs: drift
    is metadata, and catching it BEFORE a 100-TB scan is the point."""
    from pyspark.sql.types import StructType

    from news_data_pipeline_spark.dq.drift import schema_drift_report

    docs = load_table(spark, sf_dir, "documents")
    expected = StructType.fromDDL(
        "doc_id bigint, text string, lang string, n_chars int, "
        "published_ts timestamp"
    )
    return schema_drift_report(spark, expected, docs)


# --- distribution drift (PSI) --------------------------------------------
@register(
    "psi_nchars_parity",
    # even vs odd doc_ids over n_chars, fixed bins [0, 600) x 12 +
    # null bin -1; proportions epsilon-floored at 1e-6, everything
    # floor-settled at 6dp — the exact mirror of dq.drift's driver-side
    # arithmetic
    oracle="""
    WITH binned AS (
        SELECT doc_id % 2 = 0 AS is_ref,
               CASE WHEN n_chars IS NULL THEN -1
                    ELSE least(greatest(
                        CAST(floor((n_chars::DOUBLE - 0.0) / 50.0) AS INT),
                        0), 11) END AS bin
        FROM documents),
    ref AS (SELECT bin, count(*) AS n FROM binned WHERE is_ref GROUP BY bin),
    cur AS (SELECT bin, count(*) AS n FROM binned WHERE NOT is_ref GROUP BY bin),
    tot AS (
        SELECT (SELECT coalesce(sum(n), 1) FROM ref) AS rt,
               (SELECT coalesce(sum(n), 1) FROM cur) AS ct),
    bins AS (SELECT unnest(generate_series(-1, 11)) AS bin),
    joined AS (
        SELECT b.bin,
               coalesce(r.n, 0) AS ref_n,
               coalesce(c.n, 0) AS cur_n,
               greatest(coalesce(r.n, 0) / rt::DOUBLE, 0.000001) AS rp,
               greatest(coalesce(c.n, 0) / ct::DOUBLE, 0.000001) AS cp
        FROM bins b
        LEFT JOIN ref r ON r.bin = b.bin
        LEFT JOIN cur c ON c.bin = b.bin
        CROSS JOIN tot)
    SELECT CAST(bin AS INT) AS bin,
           CAST(ref_n AS BIGINT) AS ref_n,
           CAST(cur_n AS BIGINT) AS cur_n,
           floor(rp * 1000000 + 0.5) / 1000000.0 AS ref_p,
           floor(cp * 1000000 + 0.5) / 1000000.0 AS cur_p,
           floor((cp - rp) * ln(cp / rp) * 1000000 + 0.5) / 1000000.0
               AS contribution
    FROM joined
    """,
)
def psi_nchars_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index detail frame
    (dq.drift.population_stability_index): document-length distribution
    of even vs odd doc_ids over a fixed 12-bin [0, 600) grid. Two
    one-pass histogram aggregates; the per-bin arithmetic is O(bins)
    driver-side. Near-zero contributions everywhere == the parity split
    is distribution-neutral, which is itself the assertion."""
    from news_data_pipeline_spark.dq.drift import population_stability_index

    docs = load_table(spark, sf_dir, "documents")
    ref = docs.where(F.col("doc_id") % 2 == 0)
    cur = docs.where(F.col("doc_id") % 2 != 0)
    _, detail = population_stability_index(
        ref, cur, "n_chars", lo=0.0, hi=600.0, bins=12
    )
    return detail


# --- Unicode normalization ------------------------------------------------
@register(
    "nfc_normalized_sample",
    # combining-accent injection makes normalization observable on an
    # ASCII fixture: 'a' -> 'a'+U+0301 decomposes, NFC recomposes to
    # U+00E1; the length delta counts exactly the replaced 'a's
    oracle="""
    SELECT doc_id,
           nfc_normalize(regexp_replace(text, 'a', 'a' || chr(769), 'g'))
               AS text_nfc,
           length(regexp_replace(text, 'a', 'a' || chr(769), 'g'))
               - length(nfc_normalize(
                     regexp_replace(text, 'a', 'a' || chr(769), 'g')))
               AS n_recomposed
    FROM documents WHERE doc_id < 100
    """,
)
def nfc_normalized_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (functions.arrow_text.normalize_unicode,
    Arrow-batched pandas_udf — Spark has no NFC builtin): decomposed
    accents are injected ('a' -> 'a' + combining acute) and NFC must
    recompose every one of them, shrinking the string by exactly the
    number of injected marks. This is the dedup pre-pass that merges
    byte-different/equal-text variants (ligatures, NFD accents,
    full-width digits) before fingerprinting."""
    from news_data_pipeline_spark.functions.arrow_text import (
        normalize_unicode,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    decomposed = F.regexp_replace(F.col("text"), "a", "á")
    nfc = normalize_unicode(decomposed, form="NFC")
    return docs.select(
        "doc_id",
        nfc.alias("text_nfc"),
        (F.length(decomposed) - F.length(nfc)).alias("n_recomposed"),
    )


# --- compression-ratio repetitiveness (invariant oracle, r13) -------------
@register(
    "compression_ratio_invariants",
    # No SQL engine exposes a zlib scalar, so exact band VALUES are not
    # oracle-expressible — but a correct ratio's INVARIANTS are (the
    # pca_projection_invariants pattern, replacing the rows-only
    # ``compression_ratio_bands`` registration):
    #   * conservation: every non-null non-empty text gets exactly one
    #     band (summed FROM the band histogram), and null/empty texts
    #     get none — both recomputable in DuckDB from the raw column;
    #   * band bounds: zlib output is between 8 bytes (2B header + 4B
    #     adler32 + a non-empty deflate stream) and deflateBound
    #     (stored-block worst case, < len + len/256 + 64), so every
    #     band lies in [floor(80/blen), floor(10 + 10/256 + 640/blen)]
    #     for ANY conforming zlib — violations are literally 0;
    #   * a constructed 8192-byte 2-periodic string must land in band 0
    #     (run-length floor: any level-6 zlib emits < 10% of input).
    # Exact band values stay pinned against stdlib zlib cell-for-cell
    # in tests/test_functions.py (the histogram parity test).
    oracle="""
    SELECT 'n_docs_banded' AS invariant, CAST(count(*) AS BIGINT) AS value
    FROM documents WHERE text IS NOT NULL AND text <> ''
    UNION ALL
    SELECT 'n_null_band', CAST(count(*) AS BIGINT)
    FROM documents WHERE text IS NULL OR text = ''
    UNION ALL SELECT 'n_band_out_of_bounds', CAST(0 AS BIGINT)
    UNION ALL SELECT 'repeat_text_band', CAST(0 AS BIGINT)
    """,
)
def compression_ratio_invariants(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Zlib compression-ratio quality bands
    (functions.arrow_text.compression_ratio, Arrow-batched): templated/
    repetitive text compresses low, natural prose sits ~0.3-0.6. The
    query builds the band histogram (floor(ratio*10), the corpus-
    quality gate's grouping) and surfaces what a correct zlib ratio
    implies: histogram mass equals the banded-document count, null and
    empty texts band to null, every band respects the per-document
    zlib output bounds, and a constructed periodic string hits the
    run-length floor. A wrong encoding (chars vs bytes), a dropped
    null guard, an inverted ratio, or a broken band floor each break
    at least one row."""
    from news_data_pipeline_spark.functions.arrow_text import (
        compression_ratio,
    )

    docs = load_table(spark, sf_dir, "documents")
    band = F.floor(compression_ratio(F.col("text")) * 10).cast("int")
    banded = docs.select(
        band.alias("band"), F.octet_length("text").alias("blen")
    )
    # try_divide, not /: an empty-string text has blen=0 and under ANSI
    # a plain / throws DIVIDE_BY_ZERO when evaluated. Today the when()
    # below never evaluates it for such rows (band.isNotNull() is
    # false and And short-circuits in both codegen and interpreted
    # eval — verified), but that guard is an evaluation-order
    # implementation detail, not a contract; try_divide makes it
    # structural. NULL bounds leave the comparisons NULL and the row
    # falls to otherwise(0), which is correct: a null-band row is the
    # n_null_band invariant's business.
    lo = F.floor(F.try_divide(F.lit(80.0), F.col("blen")))
    hi = F.floor(
        F.lit(10.0 + 10.0 / 256.0)
        + F.try_divide(F.lit(640.0), F.col("blen"))
    )
    # ONE aggregation tree over the zlib projection (r14 ADVICE: the
    # histogram and the flag sums previously hung as two subtrees off
    # ``banded`` in the same unioned plan, running the Arrow UDF —
    # the registry's costliest per-row computation — over the corpus
    # twice per execution). The per-row out-of-bounds flag folds into
    # the per-band histogram; every invariant then derives from that
    # bounded (~a dozen rows) frame in a second, corpus-free aggregate.
    hist = banded.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(
                F.col("band").isNotNull()
                & ((F.col("band") < lo) | (F.col("band") > hi)),
                1,
            ).otherwise(0)
        ).alias("n_oob"),
    )
    # coalesce, not bare sum (r14 ADVICE): on a corpus where every text
    # is NULL/empty the banded filter empties and sum() would emit NULL
    # where the oracle's COUNT(*) emits 0 — same for a fully-banded
    # corpus and n_null_band.
    inv = hist.agg(
        F.coalesce(
            F.sum(F.when(F.col("band").isNotNull(), F.col("n_docs"))),
            F.lit(0),
        )
        .cast("long")
        .alias("n_banded"),
        F.coalesce(
            F.sum(F.when(F.col("band").isNull(), F.col("n_docs"))),
            F.lit(0),
        )
        .cast("long")
        .alias("n_null"),
        F.coalesce(F.sum("n_oob"), F.lit(0)).cast("long").alias("n_oob"),
    )
    inv_rows = inv.select(
        F.expr(
            "stack(3, 'n_docs_banded', n_banded, 'n_null_band', n_null,"
            " 'n_band_out_of_bounds', n_oob) AS (invariant, value)"
        )
    )
    repeat = spark.range(1).select(
        F.lit("repeat_text_band").alias("invariant"),
        F.floor(compression_ratio(F.lit("ab" * 4096)) * 10)
        .cast("long")
        .alias("value"),
    )
    return inv_rows.unionAll(repeat)


# --- versioned-layer time travel ------------------------------------------
@register(
    "versioned_layer_time_travel",
    # the oracle recomputes what version 0 CONTAINED; the Spark side
    # must round-trip it through two staged writes and a version= read —
    # any commit/pointer/retention bug surfaces as a value mismatch
    oracle="""
    SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
    """,
)
def versioned_layer_time_travel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time travel on the versioned parquet layer
    (sources.writers.VersionedLayer — the Delta-substitute commit-by-
    pointer design): version 0 holds the full per-language counts,
    version 1 overwrites with a filtered view, and the query reads
    VERSION 0 BACK while v1 is current — the ``VERSION AS OF`` contract.
    The layer lives in a per-call scratch dir; at scale the same two
    staged writes hit object storage and the pointer swap is the only
    atomic op needed."""
    import tempfile

    from news_data_pipeline_spark.sources.writers import VersionedLayer

    docs = load_table(spark, sf_dir, "documents")
    full = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    half = (
        docs.where(F.col("doc_id") % 2 == 0)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    layer = VersionedLayer(tempfile.mkdtemp(prefix="vlayer_q_"))
    v0 = layer.overwrite(full)
    layer.overwrite(half)
    assert layer.current_version(spark) != v0
    return layer.read(spark, version=v0)


# --- PCA projection invariants (the eigensolve's partial oracle) ----------
@register(
    "pca_projection_invariants",
    # The eigensolve is not SQL — but its INVARIANTS are: (1) the trace
    # of the settled covariance the fit ran on is recomputable in
    # DuckDB from the raw moments (exact BIGINT-unit sum, CAST to dodge
    # the HUGEINT class); (2)-(4) are mathematical identities of a
    # correct fit+projection, so their settled values are literal
    # constants: projected variance equals the component's eigenvalue
    # (Rayleigh quotient of its eigenvector) and cross-component
    # projected covariance is 0. Deltas settle at 3dp: the fit runs on
    # the 6dp-settled covariance while projections are measured on raw
    # data, so residuals are bounded ~d*5e-7 — far inside 5e-4, far
    # outside any half-way cell.
    oracle="""
    WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE embedding IS NOT NULL),
    comp AS (
        SELECT u.i AS i, e[u.i] AS x
        FROM v, LATERAL unnest(range(1, len(e) + 1)) AS u(i)),
    diag AS (
        SELECT i,
               CAST(floor((avg(x * x) - avg(x) * avg(x)) * 1000000 + 0.5)
                    AS BIGINT) AS cov_u
        FROM comp GROUP BY i)
    SELECT 'trace_settled_cov' AS invariant,
           CAST(sum(cov_u) AS BIGINT) / 1000000.0 AS value
    FROM diag
    UNION ALL SELECT 'cross_cov_pc1_pc2', 0.0
    UNION ALL SELECT 'var_minus_rayleigh_pc1', 0.0
    UNION ALL SELECT 'var_minus_rayleigh_pc2', 0.0
    """,
)
def pca_projection_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA fit + projection, verified through its invariants
    (operators.similarity.pca_fit / pca_project): ONE distributed
    covariance-moment pass (d^2 scalar rows, corpus-size independent),
    a driver-side 64x64 eigensolve, and a broadcast-literal projection.
    The eigensolve itself is not SQL-expressible, so the oracle checks
    what a correct one implies: the fitted covariance's trace matches a
    DuckDB recomputation from raw moments, each component's projected
    variance (measured DISTRIBUTEDLY over the actual pc coordinates)
    equals its eigenvalue, and the two components' projected covariance
    is 0. A wrong eigenvector, a skipped centering, or a projection bug
    each break at least one row. Raw coordinates remain test-pinned
    against numpy (tests/test_similarity.py); replaces the rows-only
    ``pca_projection_sample`` registration so the query carries a real
    driver oracle."""
    from news_data_pipeline_spark.operators.similarity import (
        pca_fit,
        pca_project,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    try:
        W, mu, eigvals, C = pca_fit(emb, vec_col="embedding", k=2)
    except ValueError:
        # no non-null vectors (empty slot / pruned partition): nothing
        # to fit on — a declared-schema empty answer, not a crash
        return spark.createDataFrame([], "invariant string, value double")
    proj = pca_project(emb, id_col="vec_id", vec_col="embedding", k=2)
    trace = float(sum(int(C[i, i] * 1e6 + (0.5 if C[i, i] >= 0 else -0.5)) for i in range(C.shape[0]))) / 1e6
    pcs = proj.select(
        F.col("pc")[0].alias("p1"), F.col("pc")[1].alias("p2")
    )
    stats = pcs.agg(
        F.avg(F.col("p1") * F.col("p1")).alias("e11"),
        F.avg(F.col("p2") * F.col("p2")).alias("e22"),
        F.avg(F.col("p1") * F.col("p2")).alias("e12"),
        F.avg("p1").alias("m1"),
        F.avg("p2").alias("m2"),
    )
    var1 = F.col("e11") - F.col("m1") * F.col("m1")
    var2 = F.col("e22") - F.col("m2") * F.col("m2")
    cross = F.col("e12") - F.col("m1") * F.col("m2")
    settle3 = lambda c: settled_round(c, 3) + F.lit(0.0)  # noqa: E731
    rows = [
        ("trace_settled_cov", F.lit(trace)),
        ("cross_cov_pc1_pc2", settle3(cross)),
        ("var_minus_rayleigh_pc1", settle3(var1 - F.lit(float(eigvals[0])))),
        ("var_minus_rayleigh_pc2", settle3(var2 - F.lit(float(eigvals[1])))),
    ]
    out = None
    for name, expr in rows:
        part = stats.select(
            F.lit(name).alias("invariant"), expr.alias("value")
        )
        out = part if out is None else out.unionAll(part)
    return out


# --- product quantization (IVF-PQ's compression half) ---------------------
# Shared oracle prefix: one unrolled PQ training iteration (m=4
# subspaces x 16 centroids x 16 dims, seeds = first 16 vectors'
# subvectors). Every sum settles its terms to integer units FIRST
# (12dp products, 10dp components) because these aggregates run in
# arbitrary partial-aggregation order on the Spark side — the exact
# BIGINT sums are order- and engine-independent by construction.
_PQ_PREFIX = """
    v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings WHERE embedding IS NOT NULL),
    comp AS (
        SELECT id,
               CAST(floor((u.p - 1) / 16.0) AS INT) AS sub,
               (u.p - 1) % 16 + 1 AS j,
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


_PQ_CODEBOOK_ROWS = ArtifactCache("embeddings")


def _pq_trained_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-once PQ index artifact shared by the PQ query family.

    Real PQ engines (FAISS IndexPQ / IndexIVFPQ) train codebooks once at
    index-build time; every query then reuses the artifact. The five PQ
    registry queries previously each re-ran the Lloyd pass — at sf0.1
    roughly two-thirds of the family's 12.8 s bench cost was redundant
    retraining of an identical codebook. The ``ArtifactCache`` holds
    only the COLLECTED k*m*sub_dim scalar rows — the same bounded
    driver-side artifact ``pq_train`` itself materializes per Lloyd
    iteration — and a local-relation DataFrame is rebuilt on the
    CALLING session. Training is deterministic (first-k seeds, settled
    integer-unit means), so a cache hit is value-identical to
    retraining; ``tests/test_pq.py`` pins that equivalence.
    """
    from news_data_pipeline_spark.operators.pq import _local_codebook, pq_train

    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        cb = pq_train(emb, m=4, k=16, sub_dim=16, iters=1)
        return [
            (r["sub"], r["cid"], r["j"], r["value"]) for r in cb.collect()
        ]

    return _local_codebook(spark, _PQ_CODEBOOK_ROWS.get(sf_dir, build))


@register(
    "pq_codebooks",
    oracle=f"""
    WITH {_PQ_PREFIX}
    SELECT sub, cid, j, value FROM cb1
    """,
)
def pq_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook training (operators.pq.pq_train,
    one Lloyd iteration over 4x16-dim subspaces, 16 centroids each):
    the compression half of IVF-PQ — 4 bytes per vector instead of 256,
    which is what makes a billion-vector index fit in memory at 100 TB.
    The codebook is k*m*sub_dim scalar rows; training is broadcast
    joins + map-side-combined integer-unit sums, nothing corpus-sized
    on the driver. Served from the train-once index artifact
    (``_pq_trained_codebooks``) shared by the whole PQ family."""
    return _pq_trained_codebooks(spark, sf_dir)


@register(
    "pq_encoded_sample",
    oracle=f"""
    WITH {_PQ_PREFIX}
    SELECT id AS vec_id, sub, code FROM codes WHERE id < 50
    """,
)
def pq_encoded_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding (operators.pq.pq_encode): every vector as its 4
    per-subspace codes under the trained codebooks — the stored form of
    the corpus in a PQ index. Train and encode share one assignment
    rule (settled -2*dot + c2, code tie-break) so cell boundaries can't
    drift between fit and apply."""
    from news_data_pipeline_spark.operators.pq import pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    cb = _pq_trained_codebooks(spark, sf_dir)
    return (
        pq_encode(emb, cb, sub_dim=16)
        .where(F.col("id") < 50)
        .select(F.col("id").alias("vec_id"), "sub", "code")
    )


@register(
    "pq_adc_topk",
    oracle=f"""
    WITH {_PQ_PREFIX},
    qlut AS (
        SELECT q.id AS query_id, q.sub, cb1.cid AS code,
               CAST(floor(
                   sum(CAST(floor((q.x - cb1.value) * (q.x - cb1.value)
                                  * 1000000000000 + 0.5) AS BIGINT))
                   / 1000000000000.0 * 1000000 + 0.5) AS BIGINT) AS u
        FROM comp q JOIN cb1 ON q.sub = cb1.sub AND q.j = cb1.j
        WHERE q.id < 5
        GROUP BY q.id, q.sub, cb1.cid),
    scored AS (
        SELECT l.query_id, c.id AS neighbor_id,
               sum(l.u) / 1000000.0 AS adc_dist
        FROM codes c
        JOIN qlut l ON l.sub = c.sub AND l.code = c.code
        WHERE l.query_id <> c.id
        GROUP BY l.query_id, c.id)
    SELECT query_id, neighbor_id, adc_dist, CAST(rn AS INT) AS rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY adc_dist, neighbor_id) AS rn
        FROM scored) t
    WHERE rn <= 10
    """,
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance top-10 over PQ codes
    (operators.pq.pq_adc_topk): each query builds a 4x16 lookup table of
    settled subspace distances (broadcast — m*k rows), and every
    candidate's approximate distance is the exact BIGINT sum of its 4
    table entries. Candidates never touch raw floats — the scoring cost
    that lets ANN run over compressed codes at corpus scale."""
    from news_data_pipeline_spark.operators.pq import (
        pq_adc_topk as _adc,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = _pq_trained_codebooks(spark, sf_dir)
    codes = pq_encode(emb, cb, sub_dim=16)
    queries = emb.where(F.col("vec_id") < 5)
    return _adc(queries, codes, cb, sub_dim=16, k=10)


@register(
    "pq_ivf_adc_topk",
    # IndexIVFPQ = the green cosine_topk_ivf cell algebra composed with
    # the green pq_adc_topk ADC algebra: cells prune candidates, the
    # LUT scores them. Same conventions as both parents (first-16
    # centroid stub, 6dp-rounded -2*dot+c2 with cid tie-break, settled
    # integer-unit ADC sums).
    oracle=f"""
    WITH {_PQ_PREFIX},
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
    scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               sum(l.u) / 1000000.0 AS adc_dist
        FROM cand
        JOIN codes cd ON cd.id = cand.neighbor_id
        JOIN qlut l ON l.query_id = cand.query_id
                   AND l.sub = cd.sub AND l.code = cd.code
        GROUP BY cand.query_id, cand.neighbor_id)
    SELECT query_id, neighbor_id, adc_dist, CAST(rn AS INT) AS rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY adc_dist, neighbor_id) AS rn
        FROM scored) t
    WHERE rn <= 10
    """,
)
def pq_ivf_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ composed (operators.pq.pq_ivf_adc_topk — IndexIVFPQ):
    queries probe their 4 nearest of 16 coarse cells, and ADC scoring
    runs only on the codes the cell equi-join admits — the full-scan
    half of pq_adc_topk replaced by candidate pruning, which is the
    actual 100-TB ANN layout (cells partition the code table, so the
    join prunes partitions; the LUT stays an m*k broadcast)."""
    from news_data_pipeline_spark.operators.pq import (
        pq_ivf_adc_topk as _ivfadc,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = _pq_trained_codebooks(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5)
    return _ivfadc(
        queries, emb, cb, sub_dim=16, k=10, nlist=16, nprobe=4
    )


@register(
    "pq_partitioned_cell_scan",
    # IDENTICAL result contract to pq_ivf_adc_topk: the Spark side
    # routes the codes through a cid-partitioned table on disk and a
    # partition-pruned read; the oracle proves that storage round-trip
    # changes nothing about the answer.
    oracle=f"""
    WITH {_PQ_PREFIX},
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
    scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               sum(l.u) / 1000000.0 AS adc_dist
        FROM cand
        JOIN codes cd ON cd.id = cand.neighbor_id
        JOIN qlut l ON l.query_id = cand.query_id
                   AND l.sub = cd.sub AND l.code = cd.code
        GROUP BY cand.query_id, cand.neighbor_id)
    SELECT query_id, neighbor_id, adc_dist, CAST(rn AS INT) AS rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY adc_dist, neighbor_id) AS rn
        FROM scored) t
    WHERE rn <= 10
    """,
)
def pq_partitioned_cell_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF 100-TB claim pinned in a PLAN, not prose (SCALE.md
    round-8 measured that IVF×PQ's win over the flat ADC scan is
    scan-level I/O pruning, not compute pruning): the cid-carrying
    code table is WRITTEN cell-partitioned
    (``write_layer(partition_by='cid')`` — the on-disk layout a real
    IndexIVFPQ shard uses), and the query-side read carries a
    probed-cells filter, so Spark's partition pruning never opens the
    ~3/4 of the table outside the probed cells — 0 bytes read, not
    rows filtered (``tests/test_pq.py`` asserts the pruned file set
    via ``input_file_name``). Scoring then runs the stored-cid fast
    path of ``operators.pq.pq_ivf_adc_topk`` over the pruned read;
    the oracle proves exact result parity with the in-memory index.

    The probed-cell list is q*nprobe <= 20 values collected driver-side
    (bounded by construction — it is the same artifact FAISS's query
    planner holds in memory), pushed into the read as a partition
    filter, exactly how a cluster-side scan would prune a 100-TB code
    table down to the probed shards."""
    import os
    import tempfile

    from news_data_pipeline_spark.operators.pq import (
        pq_encode,
        pq_ivf_adc_topk as _ivfadc,
    )
    from news_data_pipeline_spark.operators.similarity import (
        _assign_cells,
        _centroids,
    )
    from news_data_pipeline_spark.sources.writers import write_layer

    emb = load_table(spark, sf_dir, "embeddings")
    if not emb.head(1):
        return spark.createDataFrame(
            [],
            "query_id bigint, neighbor_id bigint, adc_dist double, rank int",
        )
    cb = _pq_trained_codebooks(spark, sf_dir)
    cent = _centroids(None, emb, nlist=16)
    # ingest side: cell id assigned ONCE and stored with the code
    cells = _assign_cells(emb, cent, "vec_id", "embedding", "id", 1).select(
        "id", "cid"
    )
    # rebalance BY CID before the partitioned write (guide §6): the
    # row-local encode is narrow, so each of the fan-out's partitions
    # would otherwise write its own file into every cid directory —
    # up to partitions x nlist tiny files whose open cost the pruned
    # probe pays. Clustering by the partition column writes one
    # well-sized file per cell at any scale.
    codes = (
        pq_encode(emb, cb, sub_dim=16)
        .join(cells, on="id")
        .hint("rebalance", "cid")
    )
    root = tempfile.mkdtemp(prefix="pq_cells_q_")
    path = os.path.join(root, "codes")
    write_layer(codes, path, partition_by="cid", mode="overwrite")
    # query side: probe cells, prune the scan to them
    queries = emb.where(F.col("vec_id") < 5)
    probe = _assign_cells(
        queries, cent, "vec_id", "embedding", "query_id", 4
    ).select("query_id", "cid")
    probed = sorted(r["cid"] for r in probe.select("cid").distinct().collect())
    # read back with the written schema: an all-NULL embedding column
    # encodes no rows, so there are no files to infer a schema from
    pruned = (
        spark.read.schema(codes.schema)
        .option("basePath", path)
        .parquet(path)
        .where(F.col("cid").isin(probed))
        .select("id", "sub", "code", F.col("cid").cast("long").alias("cid"))
    )
    return _ivfadc(
        queries,
        emb,
        cb,
        sub_dim=16,
        k=10,
        nlist=16,
        nprobe=4,
        centroids=cent,
        codes=pruned,
    )


# --- round 7: two-stage ANN (IVF×PQ shortlist + exact rerank) -------------
@register(
    "pq_ivf_rerank_topk",
    # extends pq_ivf_adc_topk's oracle: the ADC shortlist (rank <= 20)
    # is re-scored with exact cosine over the raw vectors and the top-5
    # kept — quantization decides WHO gets the exact pass, never the
    # final order.
    oracle=f"""
    WITH {_PQ_PREFIX},
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
def pq_ivf_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN (operators.pq.pq_ivf_rerank_topk): IVF×PQ ADC
    shortlists 20 candidates per query from the probed cells, exact
    cosine over raw floats re-ranks just those 20 and keeps the top-5 —
    compressed codes choose who gets the expensive pass, the exact
    score decides the order. Same output contract as the cosine_topk
    family, which is what makes the 100-TB swap drop-in."""
    from news_data_pipeline_spark.operators.pq import (
        pq_ivf_rerank_topk as _rerank,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = _pq_trained_codebooks(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5)
    return _rerank(
        queries, emb, cb, sub_dim=16, k=5, rerank=20, nlist=16, nprobe=4
    )


# --- round 7: DSIR importance resampling weights --------------------------
@register(
    "dsir_importance_weights",
    # per-bucket log-ratios settle to 1e-10 BIGINT units BEFORE the
    # per-document sum (ln can differ in the last ulp across libm
    # builds; the settled-unit sum is exact integer arithmetic on both
    # engines). Every integer sum is CAST back to BIGINT — the HUGEINT
    # discipline.
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(w), 1, 8)) AS BIGINT) % 64
                   AS b
        FROM (SELECT doc_id,
                     unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
              FROM documents) t
        WHERE length(w) > 0),
    doc_b AS (SELECT doc_id, b, count(*) AS c FROM toks GROUP BY doc_id, b),
    raw_b AS (SELECT b, CAST(sum(c) AS BIGINT) AS cr FROM doc_b GROUP BY b),
    raw_tot AS (SELECT CAST(sum(cr) AS BIGINT) AS r FROM raw_b),
    tgt_b AS (
        SELECT b, CAST(sum(c) AS BIGINT) AS ct
        FROM doc_b JOIN documents USING (doc_id)
        WHERE lang = 'en' GROUP BY b),
    tgt_tot AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) AS t
                FROM tgt_b),
    lr AS (
        SELECT rb.b,
               CAST(floor((ln((coalesce(tb.ct, 0) + 1) / (tt.t + 64.0))
                           - ln((rb.cr + 1) / (rt.r + 64.0)))
                          * 10000000000 + 0.5) AS BIGINT) AS u
        FROM raw_b rb LEFT JOIN tgt_b tb ON rb.b = tb.b
        CROSS JOIN raw_tot rt CROSS JOIN tgt_tot tt)
    SELECT d.doc_id,
           CAST(sum(d.c) AS BIGINT) AS n_words,
           CAST(sum(d.c * lr.u) AS BIGINT) / 10000000000.0
               AS log_importance
    FROM doc_b d JOIN lr ON d.b = lr.b
    GROUP BY d.doc_id
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampling weights
    (operators.sampling.dsir_importance_weights): every document scored
    by the log-likelihood ratio of its hashed word-feature distribution
    under a target-domain unigram model (the English subset) vs the raw
    corpus model — the Xie et al. 2023 recipe for steering a web-scale
    corpus toward a target domain without a classifier. Two 64-row
    bucket models (broadcast), one per-(doc, bucket) count, exact
    settled-unit sums; importance resampling then feeds the weights to
    the same hash-threshold machinery as mixture_sample_by_rates."""
    from news_data_pipeline_spark.operators.sampling import (
        dsir_importance_weights as _dsir,
    )

    docs = load_table(spark, sf_dir, "documents")
    target = docs.where(F.col("lang") == "en")
    out = _dsir(docs, target, "doc_id", "text", n_buckets=64)
    return out.select(
        F.col("id").alias("doc_id"), "n_words", "log_importance"
    )


# --- fuzzy record linkage (blocked edit-distance joins) -------------------
# Oracle twin of operators.fuzzy: distinct values -> distinct character
# bigrams (short strings emit themselves) -> gram-equi candidates ->
# length prefilter -> exact levenshtein. Integer distances, nothing to
# settle.
def _sql_fuzzy_pairs(values_cte: str, max_distance: int) -> str:
    return f"""
    vals AS ({values_cte}),
    grams AS (
        SELECT DISTINCT s, substring(s, CAST(u.p AS INT), 2) AS gram
        FROM vals, LATERAL unnest(
            range(1, greatest(length(s) - 1, 1) + 1)) AS u(p)
        WHERE length(substring(s, CAST(u.p AS INT), 2)) > 0),
    cand AS (
        SELECT DISTINCT a.s AS sa, b.s AS sb
        FROM grams a JOIN grams b USING (gram)
        WHERE a.s < b.s
          AND abs(length(a.s) - length(b.s)) <= {max_distance})
    SELECT sa AS text_a, sb AS text_b,
           CAST(levenshtein(sa, sb) AS INT) AS distance
    FROM cand
    WHERE levenshtein(sa, sb) <= {max_distance}
    """


_WORDS_CTE = """
        SELECT DISTINCT w AS s
        FROM documents, LATERAL unnest(
            regexp_split_to_array(trim(text), '\\s+')) AS t(w)
        WHERE text IS NOT NULL AND length(w) > 0"""


@register(
    "word_fuzzy_pairs",
    oracle="WITH " + _sql_fuzzy_pairs(_WORDS_CTE, 2),
)
def word_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical vocabulary terms (operators.fuzzy.fuzzy_pairs,
    levenshtein <= 2): the misspelling/variant detector for entity and
    key cleanup. Bigram blocking is lossless down to length 6 at this
    distance (one edit breaks at most 2 bigrams) — the declared recall
    contract; candidate cost is bounded by gram document frequency the
    same way shared_shingles bounds Jaccard."""
    from news_data_pipeline_spark.operators.dedup import word_shingles
    from news_data_pipeline_spark.operators.fuzzy import fuzzy_pairs

    docs = load_table(spark, sf_dir, "documents")
    words = (
        word_shingles(docs, "doc_id", "text", n=1, distinct=False)
        .select(F.col("shingle").alias("word"))
        .distinct()
    )
    return fuzzy_pairs(words, "word", max_distance=2)


@register(
    "source_fuzzy_pairs",
    oracle="WITH "
    + _sql_fuzzy_pairs("SELECT DISTINCT source AS s FROM documents", 1),
)
def source_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical source identifiers (levenshtein <= 1): the
    canonical record-linkage smell test — src1/src10-style key variants
    that exact grouping would count as distinct publishers."""
    from news_data_pipeline_spark.operators.fuzzy import fuzzy_pairs

    docs = load_table(spark, sf_dir, "documents")
    return fuzzy_pairs(docs, "source", max_distance=1)


# --- round-6 term-space additions ----------------------------------------
@register(
    "document_bigram_lm_scores",
    # the oracle retrains the interpolated bigram model end-to-end:
    # same lag-window bigrams, same count tables, and literal-identical
    # double arithmetic (0.8 / (1.0 - 0.8) appear as SQL text on BOTH
    # engines — Python's 1 - 0.8 is a different double than "0.2");
    # per-row 6dp settle before the sum per the exact.py convention
    oracle="""
    WITH toks AS (
        SELECT id, i AS pos, ws[i] AS term
        FROM (SELECT doc_id AS id,
                     regexp_split_to_array(trim(text), '\\s+') AS ws,
                     unnest(range(1, len(regexp_split_to_array(trim(text), '\\s+')) + 1)) AS i
              FROM documents) t
        WHERE length(ws[i]) > 0),
    lagged AS (
        SELECT id, lag(term) OVER (PARTITION BY id ORDER BY pos) AS prev,
               term
        FROM toks),
    tfb AS (SELECT id, prev, term, count(*) AS tf
            FROM lagged WHERE prev IS NOT NULL GROUP BY id, prev, term),
    big AS (SELECT prev, term, sum(tf) AS c2 FROM tfb GROUP BY prev, term),
    ctx AS (SELECT prev, sum(c2) AS cctx FROM big GROUP BY prev),
    uni AS (SELECT term, count(*) AS c1 FROM toks GROUP BY term),
    total AS (SELECT sum(c1) AS total_tokens FROM uni),
    lp AS (
        SELECT tfb.id, tfb.tf,
               tfb.tf * ln(0.8 * (c2 / cctx)
                           + (1.0 - 0.8) * (c1 / total_tokens)) AS lp
        FROM tfb JOIN big USING (prev, term) JOIN ctx USING (prev)
             JOIN uni ON tfb.term = uni.term CROSS JOIN total)
    SELECT id AS doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
           floor(sum(CAST(floor(lp * 1000000 + 0.5) AS BIGINT)) / 1000000.0
                 / sum(tf) * 10000 + 0.5) / 10000.0 AS avg_logprob
    FROM lp GROUP BY id
    """,
)
def document_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM quality scores
    (operators.terms.bigram_logprob_scores, lam=0.8): context-aware
    CCNet-style corpus filtering — scores word-salad low even when its
    unigram mix looks natural. Documents with < 2 tokens emit no row."""
    from news_data_pipeline_spark.operators.terms import bigram_logprob_scores

    docs = load_table(spark, sf_dir, "documents")
    return bigram_logprob_scores(docs, "doc_id", "text").withColumnRenamed(
        "id", "doc_id"
    )


@register(
    "tfidf_cosine_pairs",
    # exact mirror: 3dp-settled tf*idf weights make norms and dots
    # integer aggregates; sqrt/division run on identical doubles; the
    # 0.3 threshold compares the SETTLED cosine on both engines
    oracle="""
    WITH toks AS (
        SELECT doc_id AS id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents),
    tf AS (SELECT id, term, count(*) AS tf FROM toks
           WHERE length(term) > 0 GROUP BY id, term),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    nd AS (SELECT count(DISTINCT id) AS n_docs FROM tf),
    w AS (SELECT id, term,
                 CAST(floor(tf * ln(n_docs / df) * 1000 + 0.5) AS BIGINT)
                     AS uw
          FROM tf JOIN dfreq USING (term) CROSS JOIN nd
          WHERE df <= 0.1 * n_docs),
    norms AS (SELECT id, sum(uw * uw) AS norm2 FROM w GROUP BY id),
    dots AS (SELECT a.id AS id_a, b.id AS id_b,
                    sum(a.uw * b.uw) AS dot,
                    CAST(count(*) AS BIGINT) AS n_shared_terms
             FROM w a JOIN w b ON a.term = b.term AND a.id < b.id
             GROUP BY a.id, b.id),
    scored AS (
        SELECT id_a, id_b, n_shared_terms,
               CAST(floor(dot / (sqrt(na.norm2) * sqrt(nb.norm2)) * 10000
                          + 0.5) AS BIGINT) / 10000.0 AS cosine
        FROM dots JOIN norms na ON dots.id_a = na.id
                  JOIN norms nb ON dots.id_b = nb.id)
    SELECT * FROM scored WHERE cosine >= 0.3
    """,
)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse term-space cosine near-duplicate pairs
    (operators.terms.tfidf_cosine_pairs, max_df=0.1 of the corpus,
    min_cosine=0.3): the lexical complement of embedding ANN —
    posting-list equi-join candidates (bounded by max_df**2 per term),
    exact integer dot/norm aggregates, settled cosine threshold. The
    FRACTIONAL df cap is the scale-invariant form — an absolute cap
    goes silently empty once the corpus outgrows it."""
    from news_data_pipeline_spark.operators.terms import (
        tfidf_cosine_pairs as _pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return _pairs(docs, "doc_id", "text", max_df=0.1, min_cosine=0.3)


# --- round 7: token-balanced export shard planning ------------------------
@register(
    "token_shard_plan",
    # HUGEINT discipline: the per-shard size sum CASTs back to BIGINT.
    oracle="""
    WITH g AS (
        SELECT doc_id AS id, n_chars AS size,
               CAST(concat('0x', substring(
                   md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 64 AS grp
        FROM documents),
    assigned AS (
        SELECT id, size,
               CAST((row_number() OVER (
                   PARTITION BY grp ORDER BY size DESC, id) - 1) % 8
                   AS INT) AS shard
        FROM g)
    SELECT shard, count(*) AS n_docs,
           CAST(sum(size) AS BIGINT) AS total_chars
    FROM assigned GROUP BY shard
    """,
)
def token_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-balanced export sharding (operators.packing.shard_plan):
    documents deal into 8 shards by partition-local LPT — hash-grouped,
    ranked by size within each group, round-robin by rank — so shard
    TOKEN totals even out without any global sort (the window
    partitions on the 64-way group key). The rollup is the export
    planner's output: per-shard doc count and byte budget, where a
    skewed shard would become every epoch's straggler."""
    from news_data_pipeline_spark.operators.packing import shard_plan

    docs = load_table(spark, sf_dir, "documents")
    plan = shard_plan(docs, "doc_id", "n_chars", n_shards=8, n_groups=64)
    return plan.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("size").alias("total_chars"),
    )


# --- versioned-layer diff (round 8) ---------------------------------------
@register(
    "versioned_layer_diff",
    # the oracle recomputes what the diff MUST report from the version
    # definitions alone: v0 = custkey % 4 != 3, v1 = custkey % 4 != 0
    # with acctbal shifted for custkey % 8 == 1. added = in v1 only,
    # removed = in v0 only, changed = common key whose content moved.
    # The layer's md5(to_json(...)) content hash never leaves Spark —
    # only its equality verdicts are observable, so the SQL needs no
    # hash reproduction, just the same set algebra.
    oracle="""
    SELECT c_custkey, 'added' AS change FROM customer
    WHERE c_custkey % 4 = 3
    UNION ALL
    SELECT c_custkey, 'removed' FROM customer WHERE c_custkey % 4 = 0
    UNION ALL
    SELECT c_custkey, 'changed' FROM customer WHERE c_custkey % 8 = 1
    """,
)
def versioned_layer_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff between two retained versions
    (sources.writers.VersionedLayer.diff — the audit twin of time
    travel): version 0 drops every 4th customer, version 1 restores
    them, drops a different residue class and shifts some balances;
    the diff reports exactly the added / removed / changed keys. Each
    side reduces to (key, md5-of-content) BEFORE the one full-outer
    join, so unchanged rows never materialize wide — the same single-
    join plan as merge_upsert, at any layer size."""
    import tempfile

    from news_data_pipeline_spark.sources.writers import VersionedLayer

    cust = load_table(spark, sf_dir, "customer")
    v0_frame = cust.where(F.col("c_custkey") % 4 != 3)
    v1_frame = cust.where(F.col("c_custkey") % 4 != 0).withColumn(
        "c_acctbal",
        F.when(
            F.col("c_custkey") % 8 == 1, F.col("c_acctbal") + F.lit(1.0)
        ).otherwise(F.col("c_acctbal")),
    )
    layer = VersionedLayer(tempfile.mkdtemp(prefix="vdiff_q_"))
    v0 = layer.overwrite(v0_frame)
    layer.overwrite(v1_frame)
    return layer.diff(spark, ["c_custkey"], v_old=v0)


# --- scalar quantization ANN (round 8) ------------------------------------
@register(
    "sq_adc_topk",
    # the oracle rebuilds the whole SQ pipeline: per-dim min/max
    # bounds, uint8 codes via the identical IEEE expression, asymmetric
    # dequantized L2 as exact 12dp-unit BIGINT sums settled once at
    # 6dp. A constant dimension (hi = lo) codes 0 and dequantizes to
    # lo exactly on both engines.
    oracle="""
    WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE embedding IS NOT NULL),
    comp AS (
        SELECT id, u.p AS j, e[u.p] AS x
        FROM v, LATERAL unnest(range(1, len(e) + 1)) AS u(p)),
    bounds AS (
        SELECT j, min(x) AS lo, max(x) AS hi FROM comp GROUP BY j),
    codes AS (
        SELECT c.id, c.j,
               CAST(coalesce(
                   least(greatest(floor((c.x - b.lo)
                                        / nullif(b.hi - b.lo, 0.0)
                                        * 255 + 0.5), 0), 255),
                   0) AS INT) AS code
        FROM comp c JOIN bounds b ON c.j = b.j),
    q AS (SELECT id AS query_id, j, x AS qx FROM comp WHERE id < 5),
    scored AS (
        SELECT q.query_id, cd.id AS neighbor_id,
               floor(sum(CAST(floor(
                   (q.qx - (b.lo + cd.code * (b.hi - b.lo) / 255))
                   * (q.qx - (b.lo + cd.code * (b.hi - b.lo) / 255))
                   * 1000000000000 + 0.5) AS BIGINT))
                   / 1000000000000.0 * 1000000 + 0.5) / 1000000.0
                   AS sq_dist
        FROM codes cd
        JOIN bounds b ON cd.j = b.j
        JOIN q ON q.j = cd.j
        WHERE q.query_id <> cd.id
        GROUP BY q.query_id, cd.id)
    SELECT query_id, neighbor_id, sq_dist, CAST(rn AS INT) AS rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY sq_dist, neighbor_id) AS rn
        FROM scored) t
    WHERE rn <= 10
    """,
)
def sq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization ANN (operators.sq — FAISS
    IndexScalarQuantizer QT_8bit as DataFrame plans): per-dimension
    min/max bounds (one linear pass, a dims-sized broadcast — no
    iterative training), uint8 codes, and asymmetric top-10 by
    dequantized squared L2. The cheap-to-build arm of the
    quantization family: 1 byte per dimension vs PQ's 1 byte per
    sub-vector, no codebooks to retrain as the corpus grows. Same
    single-pass broadcast-scan shape as pq_adc_topk — the arm
    SCALE.md's round-8 sweep certified for in-memory scoring."""
    from news_data_pipeline_spark.operators.sq import (
        sq_adc_topk as _sq_topk,
        sq_encode,
        sq_train,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    bounds = sq_train(emb)
    codes = sq_encode(emb, bounds)
    queries = emb.where(F.col("vec_id") < 5)
    # the JOIN form: a row-local fold zeroed the shuffled bytes (29.3 ->
    # 0.1 MB at 400k vectors) but its interpreted higher-order-function
    # terms ran ~14x slower than the codegen'd explode+broadcast-join
    # scan (1.9 s vs 26.3 s at 400k x 64d) — the opposite economics of
    # the r14 PQ rewrite, where the row-local work was m*k-bounded, not
    # N*Q*d. Numbers in SCALE.md "Retired paths" and OPTIMIZATION_r15.md.
    return _sq_topk(queries, codes, bounds, k=10)


# --- residual IVF×PQ (round 8) --------------------------------------------

# One-Lloyd-iteration PQ training + encoding over RESIDUAL vectors
# (x - cell centroid), the by_residual=true sibling of _PQ_PREFIX.
# rcomp replaces comp as the component table; everything downstream is
# the same settled arithmetic.
_PQR_PREFIX = """
    v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings WHERE embedding IS NOT NULL),
    cent AS (SELECT id AS ccid, e AS c FROM v ORDER BY id LIMIT 16),
    cassign AS (
        SELECT id, ccid FROM (
            SELECT v.id, cent.ccid,
                   row_number() OVER (
                       PARTITION BY v.id
                       ORDER BY round(-2 * list_dot_product(v.e, cent.c)
                                      + list_dot_product(cent.c, cent.c), 6),
                                cent.ccid) AS r
            FROM v CROSS JOIN cent) t
        WHERE r = 1),
    ccomp AS (
        SELECT ccid, u.p AS p, c[u.p] AS cx
        FROM cent, LATERAL unnest(range(1, len(c) + 1)) AS u(p)),
    rcomp AS (
        SELECT vc.id,
               CAST(floor((vc.p - 1) / 16.0) AS INT) AS sub,
               (vc.p - 1) % 16 + 1 AS j,
               vc.x - cc.cx AS x
        FROM (SELECT v.id, u.p AS p, e[u.p] AS x
              FROM v, LATERAL unnest(range(1, len(e) + 1)) AS u(p)) vc
        JOIN cassign a ON vc.id = a.id
        JOIN ccomp cc ON cc.ccid = a.ccid AND cc.p = vc.p),
    cb0 AS (
        SELECT sub, CAST(id AS INT) AS cid, j, x AS value
        FROM rcomp WHERE id < 16),
    c2_0 AS (
        SELECT sub, cid,
               sum(CAST(floor(value * value * 1000000000000 + 0.5)
                        AS BIGINT)) / 1000000000000.0 AS c2
        FROM cb0 GROUP BY sub, cid),
    dots0 AS (
        SELECT rcomp.id, rcomp.sub, cb0.cid,
               sum(CAST(floor(rcomp.x * cb0.value * 1000000000000 + 0.5)
                        AS BIGINT)) / 1000000000000.0 AS dot
        FROM rcomp JOIN cb0 ON rcomp.sub = cb0.sub AND rcomp.j = cb0.j
        GROUP BY rcomp.id, rcomp.sub, cb0.cid),
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
        SELECT rcomp.sub, a.code AS cid, rcomp.j,
               floor(sum(CAST(floor(rcomp.x * 10000000000 + 0.5)
                              AS BIGINT))
                     / 10000000000.0 / count(*) * 1000000 + 0.5)
                   / 1000000.0 AS value
        FROM rcomp JOIN assign0 a
          ON rcomp.id = a.id AND rcomp.sub = a.sub
        GROUP BY rcomp.sub, a.code, rcomp.j),
    cb1 AS (
        SELECT cb0.sub, cb0.cid, cb0.j,
               coalesce(m.value, cb0.value) AS value
        FROM cb0 LEFT JOIN means1 m
          ON cb0.sub = m.sub AND cb0.cid = m.cid AND cb0.j = m.j),
    c2_1 AS (
        SELECT sub, cid,
               sum(CAST(floor(value * value * 1000000000000 + 0.5)
                        AS BIGINT)) / 1000000000000.0 AS c2
        FROM cb1 GROUP BY sub, cid),
    dots1 AS (
        SELECT rcomp.id, rcomp.sub, cb1.cid,
               sum(CAST(floor(rcomp.x * cb1.value * 1000000000000 + 0.5)
                        AS BIGINT)) / 1000000000000.0 AS dot
        FROM rcomp JOIN cb1 ON rcomp.sub = cb1.sub AND rcomp.j = cb1.j
        GROUP BY rcomp.id, rcomp.sub, cb1.cid),
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


_PQR_ARTIFACTS = ArtifactCache("embeddings")


def _pqr_frozen_artifacts(spark: SparkSession, sf_dir: str):
    """Train-once frozen artifacts of the residual-PQ family
    (``pq_ivf_residual_topk``, ``streamed_pq_codes``), the
    ``_PQR_PREFIX`` oracle's ``cent`` and ``cb1``: the first 16
    non-NULL vectors by ``vec_id`` (its ``v`` CTE drops NULLs) and one
    deterministic Lloyd pass over their residuals, cached as bounded
    collected rows, so a hit is value-identical to retraining. The
    round-10 A/B found per-run retraining, not lineage (checkpointing
    did not pay), was the recoverable cost."""
    from news_data_pipeline_spark.operators.pq import (
        _local_codebook,
        pq_residuals,
        pq_train,
    )
    from news_data_pipeline_spark.operators.similarity import _centroids

    cent_schema = "cid bigint, centroid array<double>"

    def build():
        emb = (
            load_table(spark, sf_dir, "embeddings")
            .where(F.col("embedding").isNotNull())
            .select(
                "vec_id",
                F.col("embedding").cast("array<double>").alias("embedding"),
            )
        )
        cent_rows = [
            (r["cid"], list(r["centroid"]))
            for r in _centroids(None, emb, nlist=16).collect()
        ]
        if not cent_rows:
            # no non-NULL vector: nothing to train on or to encode
            return [], []
        residuals = pq_residuals(
            emb, spark.createDataFrame(cent_rows, cent_schema)
        )
        cb_rows = [
            (r["sub"], r["cid"], r["j"], r["value"])
            for r in pq_train(
                residuals,
                id_col="id",
                vec_col="rvec",
                m=4,
                k=16,
                sub_dim=16,
                iters=1,
            ).collect()
        ]
        return cent_rows, cb_rows

    cent_rows, cb_rows = _PQR_ARTIFACTS.get(sf_dir, build)
    return (
        spark.createDataFrame(cent_rows, cent_schema),
        _local_codebook(spark, cb_rows),
    )


@register(
    "pq_ivf_residual_topk",
    oracle=f"""
    WITH {_PQR_PREFIX},
    qprobe AS (
        SELECT id AS query_id, ccid FROM (
            SELECT v.id, cent.ccid,
                   row_number() OVER (
                       PARTITION BY v.id
                       ORDER BY round(-2 * list_dot_product(v.e, cent.c)
                                      + list_dot_product(cent.c, cent.c), 6),
                                cent.ccid) AS r
            FROM v CROSS JOIN cent
            WHERE v.id < 5) t
        WHERE r <= 4),
    qrcomp AS (
        SELECT q.query_id, q.ccid,
               CAST(floor((vc.p - 1) / 16.0) AS INT) AS sub,
               (vc.p - 1) % 16 + 1 AS j,
               vc.x - cc.cx AS x
        FROM qprobe q
        JOIN (SELECT v.id, u.p AS p, e[u.p] AS x
              FROM v, LATERAL unnest(range(1, len(e) + 1)) AS u(p)) vc
          ON vc.id = q.query_id
        JOIN ccomp cc ON cc.ccid = q.ccid AND cc.p = vc.p),
    qlut AS (
        SELECT qr.query_id, qr.ccid, qr.sub, cb1.cid AS code,
               CAST(floor(
                   sum(CAST(floor((qr.x - cb1.value) * (qr.x - cb1.value)
                                  * 1000000000000 + 0.5) AS BIGINT))
                   / 1000000000000.0 * 1000000 + 0.5) AS BIGINT) AS u
        FROM qrcomp qr JOIN cb1
          ON qr.sub = cb1.sub AND qr.j = cb1.j
        GROUP BY qr.query_id, qr.ccid, qr.sub, cb1.cid),
    adc AS (
        SELECT l.query_id, cd.id AS neighbor_id,
               sum(l.u) / 1000000.0 AS adc_dist
        FROM codes cd
        JOIN cassign a ON cd.id = a.id
        JOIN qlut l ON l.ccid = a.ccid AND l.sub = cd.sub
                   AND l.code = cd.code
        WHERE l.query_id <> cd.id
        GROUP BY l.query_id, cd.id)
    SELECT query_id, neighbor_id, adc_dist, CAST(rn AS INT) AS rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY adc_dist, neighbor_id) AS rn
        FROM adc) t
    WHERE rn <= 10
    """,
)
def pq_ivf_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-encoded IVF×PQ (operators.pq.pq_ivf_residual_topk —
    FAISS IndexIVFPQ with by_residual=true, the library default):
    corpus vectors PQ-encode their OFFSET from their cell centroid,
    and each query builds one ADC table per probed cell from its own
    residual. Residuals are centered and tight, so the same m=4 x 16
    codebook budget quantizes with far lower error than raw-code PQ —
    and within a probed cell the residual distance IS the true
    distance (||(q-c)-(x-c)|| = ||q-x||), pinned exactly in
    tests/test_pq.py. The scoring join carries the stored cell id, so
    pruning and scoring are one broadcast hash probe with no
    corpus-sized candidate shuffle. Served from the train-once frozen
    artifact (``_pqr_frozen_artifacts``, round 10): centroids and
    residual codebooks are built once per dataset and every run
    encodes + scores against them — the FAISS deployment shape, and
    the measured fix for the query's former slot as the slowest
    non-multimodal bench entry (per-run retraining was ~40% of its
    wall-clock; the r10 checkpoint A/B in the operator docstring
    showed lineage materialization alone recovered none of it)."""
    from news_data_pipeline_spark.operators.pq import pq_ivf_residual_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    centroids, codebooks = _pqr_frozen_artifacts(spark, sf_dir)
    return pq_ivf_residual_topk(
        queries, emb, sub_dim=16, m=4, kcodes=16, iters=1,
        k=10, nlist=16, nprobe=4,
        centroids=centroids, codebooks=codebooks,
    )
