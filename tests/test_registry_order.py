"""Registry ordering + RECORDED.txt invalidation (no Spark needed).

Pins the contract the driver's budgeted sweep depends on:
- a query with no valid RECORDED entry (never green, or green with a
  stale signature) sorts into the leading prefix;
- valid entries sort by last-green round ascending (stalest first);
- ``query_signature`` changes when the oracle SQL changes and is
  whitespace-insensitive.
"""

from __future__ import annotations

import importlib
import os

import pytest

from tests.conftest import ROOT


@pytest.fixture
def registry_env(tmp_path, monkeypatch):
    """Point the registry at a synthetic RECORDED.txt and reload;
    restore the real ordering afterwards."""
    import news_data_pipeline_spark.queries as q

    def reorder(lines: list[str]):
        rec = tmp_path / "RECORDED.txt"
        rec.write_text("\n".join(lines) + "\n")
        monkeypatch.setenv("SPARK_GRAFT_RECORDED", str(rec))
        q._order_registry()
        return list(q.QUERIES)

    yield q, reorder
    monkeypatch.delenv("SPARK_GRAFT_RECORDED", raising=False)
    q._order_registry()


def test_never_recorded_sorts_first(registry_env):
    q, reorder = registry_env
    names = list(q.QUERIES)
    probe = names[-1]
    lines = [
        f"{n} 1 {q.query_signature(n)}" for n in names if n != probe
    ]
    assert reorder(lines)[0] == probe


def test_stale_signature_invalidates(registry_env):
    q, reorder = registry_env
    names = list(q.QUERIES)
    probe = names[-1]
    lines = [
        f"{n} 1 {q.query_signature(n) if n != probe else 'deadbeef0000'}"
        for n in names
    ]
    assert reorder(lines)[0] == probe


def test_rounds_sort_ascending(registry_env):
    q, reorder = registry_env
    names = sorted(q.QUERIES)
    # alternate rounds 2 and 1: all round-1 entries must precede round-2
    lines = [
        f"{n} {1 + (i % 2)} {q.query_signature(n)}"
        for i, n in enumerate(names)
    ]
    ordered = reorder(lines)
    rounds = [1 + (names.index(n) % 2) for n in ordered]
    assert rounds == sorted(rounds)


def test_malformed_lines_ignored(registry_env):
    q, reorder = registry_env
    names = list(q.QUERIES)
    # old one-token format: every line malformed -> everything tier-None,
    # ordering falls back to module interleave without raising
    ordered = reorder([n for n in names])
    assert set(ordered) == set(names)


def test_signature_tracks_oracle_and_ignores_whitespace():
    from news_data_pipeline_spark.queries import registry

    name = next(iter(registry.QUERIES))
    orig = registry.QUERIES[name]
    sig0 = registry.query_signature(name)
    try:
        registry.QUERIES[name] = registry.Query(
            fn=orig.fn, oracle=(orig.oracle or "") + " AND 1=1"
        )
        assert registry.query_signature(name) != sig0
        registry.QUERIES[name] = registry.Query(
            fn=orig.fn, oracle="  ".join((orig.oracle or "").split())
        )
        assert registry.query_signature(name) == sig0
    finally:
        registry.QUERIES[name] = orig


def test_recorded_file_env_override(tmp_path, monkeypatch):
    import news_data_pipeline_spark.queries as q

    monkeypatch.setenv("SPARK_GRAFT_RECORDED", str(tmp_path / "R.txt"))
    assert q._recorded_file() == tmp_path / "R.txt"
    monkeypatch.delenv("SPARK_GRAFT_RECORDED")
    assert q._recorded_file().name == "RECORDED.txt"


def test_every_registered_query_has_an_oracle_twin():
    # README/COVERAGE claim: every name in queries() carries an
    # executable ANSI-SQL twin, EXCEPT the explicitly documented
    # rows-only entries whose operation has no SQL counterpart at all.
    # Pin both halves so a future registration can't silently weaken
    # the correctness gate by skipping an expressible oracle.
    # Empty since r13: compression_ratio_bands (the last rows-only
    # entry — no SQL zlib scalar anywhere) was replaced by
    # compression_ratio_invariants, whose oracle checks what a correct
    # zlib ratio implies (the pca_projection_invariants pattern). The
    # set stays so a future genuinely-SQL-inexpressible op has a
    # documented escape hatch that this test still polices.
    ROWS_ONLY_DOCUMENTED: set[str] = set()
    import sys

    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()
    missing = sorted(set(qs) - set(oracles) - ROWS_ONLY_DOCUMENTED)
    assert missing == [], f"queries without oracles: {missing}"
    undocumented = sorted(ROWS_ONLY_DOCUMENTED - set(qs))
    assert undocumented == [], f"stale rows-only allowlist: {undocumented}"
    empty = sorted(n for n, sql in oracles.items() if not sql.strip())
    assert empty == [], f"blank oracles: {empty}"
    orphaned = sorted(set(oracles) - set(qs))
    assert orphaned == [], f"oracles without queries: {orphaned}"


def test_no_oracle_emits_hugeint():
    """Driver-red class root-caused in r7: DuckDB types a bare
    sum(<integer>) as HUGEINT (int128). The local gate fetches HUGEINT
    as exact Python ints and passes, but the DRIVER's pandas
    materialization renders it float64 ("42.0" vs Spark's int64 "42")
    and the value hash fails — this was exactly and only the three
    r5/r6 driver reds (confirmed through the driver by the since-
    retired probe_hugeint_sum_raw/_cast differential pair in
    CORRECTNESS_r07). Statically pin every oracle's DuckDB result
    type so the class cannot re-enter; integer sums must CAST back to
    BIGINT."""
    import duckdb

    from news_data_pipeline_spark.queries import QUERIES

    sf = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        path = f"{sf}/{t}.parquet"
        if os.path.exists(path):
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    offenders = []
    for name, q in QUERIES.items():
        if not q.oracle:
            continue
        try:
            types = [str(t) for t in con.sql(q.oracle).types]
        except Exception as ex:  # noqa: BLE001 — surface as a failure
            offenders.append((name, f"oracle error: {ex!r:.80}"))
            continue
        bad = [t for t in types if t in ("HUGEINT", "UHUGEINT")]
        if bad:
            offenders.append((name, ",".join(bad)))
    assert not offenders, offenders


def test_update_recorded_drops_retired_names(tmp_path):
    """Refreshing RECORDED.txt drops rows whose query name is no longer
    in the live registry (round-11 verdict: 5 retired probe rows made
    the 'oldest green row' statistic point at dead queries), while live
    rows — both pre-existing and newly green — survive the refresh."""
    import json
    import sys

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        import update_recorded
    finally:
        sys.path.pop(0)

    from news_data_pipeline_spark.queries import QUERIES

    live = sorted(QUERIES)[:2]
    (tmp_path / "RECORDED.txt").write_text(
        f"{live[0]} 3 deadbeef0000\nretired_zzz_probe 2 deadbeef0000\n"
    )
    (tmp_path / "CORRECTNESS_r04.json").write_text(
        json.dumps(
            {
                live[1]: {"hash_match": True},
                "retired_yyy_probe": {"hash_match": True},
            }
        )
    )
    update_recorded.main(root=str(tmp_path))
    rows = dict(
        line.split()[:2]
        for line in (tmp_path / "RECORDED.txt").read_text().splitlines()
    )
    assert set(rows) == set(live)
    assert rows[live[0]] == "3"
    assert rows[live[1]] == "4"


_PROBE_BASE = '''
from news_data_pipeline_spark.sources.catalog import load_table


def helper(x):
    return x + 1


def unrelated(x):
    return x * 2


def probe_query(spark, sf_dir):
    from news_data_pipeline_spark.{mod} import imported_helper

    return imported_helper(helper(load_table))


def imported_helper(x):
    return x
'''


def test_signature_tracks_reached_helpers(tmp_path, monkeypatch):
    """A query's signature covers the package code it reaches — module
    globals it calls and names its body imports — and nothing else."""
    import importlib.util
    import sys

    from news_data_pipeline_spark.queries import registry

    mod = "_signature_probe"
    name = f"news_data_pipeline_spark.{mod}"

    def signature(variant: str, source: str) -> str:
        path = tmp_path / f"{variant}.py"
        path.write_text(source.replace("{mod}", mod))
        spec = importlib.util.spec_from_file_location(name, path)
        module = importlib.util.module_from_spec(spec)
        monkeypatch.setitem(sys.modules, name, module)
        spec.loader.exec_module(module)
        monkeypatch.setitem(
            registry.QUERIES, "probe",
            registry.Query(fn=module.probe_query, oracle="SELECT 1"),
        )
        return registry.query_signature("probe")

    base = signature("base", _PROBE_BASE)
    assert signature(
        "helper", _PROBE_BASE.replace("x + 1", "x + 2")
    ) != base
    assert signature(
        "imported", _PROBE_BASE.replace("return x\n", "return -x\n")
    ) != base
    assert signature(
        "unrelated", _PROBE_BASE.replace("x * 2", "x * 3")
    ) == base
    reformatted = _PROBE_BASE.replace(
        "def helper(x):\n    return x + 1",
        "def helper(\n    x\n):\n\n    return x+1",
    ).replace(
        "imported_helper(helper(load_table))",
        "imported_helper(\n        helper(load_table)\n    )",
    )
    assert signature("reformatted", reformatted) == base
