"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB (same parquet tables as views), then
compares row count, column names, and an order-insensitive value
comparison (floats with tolerance). Use before every commit:

    python tools/check_oracle.py [sf_dir] [query_name ...]

Each passing line prints the query's seconds and their split: the
Spark side (build the frame and collect it) and the rest (the DuckDB
oracle plus the comparison).

NOTE on the printed per-query seconds: checks run on ``--jobs``
concurrent threads (default 4) sharing one Spark scheduler, so each
query's wall-clock includes its neighbors' overlap — two queries
submitted together report near-identical times regardless of their
own cost. For per-query attribution (A/Bs, regression hunts) run with
``--jobs 1`` or use a dedicated timing harness; the concurrent default
exists to keep the full-registry gate fast, not to measure.
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from news_data_pipeline_spark.sources.catalog import TABLES  # noqa: E402


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def collection_columns(df) -> list[str]:
    from pyspark.sql.types import ArrayType, MapType

    return [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType))
    ]


def canon_value(v):
    import datetime
    import numpy as np

    if v is None:
        return None
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return None if math.isnan(f) else ("f", round(f, 6))
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return ("i", int(v))
    if isinstance(v, (datetime.datetime,)):
        return ("t", v.isoformat(sep=" ", timespec="microseconds"))
    if isinstance(v, datetime.date):
        return ("d", v.isoformat())
    if isinstance(v, (bytes, bytearray)):
        return ("b", bytes(v).hex())
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("l", tuple(canon_value(x) for x in v))
    if isinstance(v, dict):
        return ("m", tuple(sorted((k, canon_value(x)) for k, x in v.items())))
    return ("s", str(v))


def frame_to_multiset(df) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = [
        tuple(canon_value(row[c]) for c in cols)
        for row in df.to_dict("records")
    ]
    rows.sort(key=repr)
    return cols, rows


# queries allowed to diverge int-kind vs float-kind (none since the
# r7 HUGEINT diagnostic probe was retired in r8; see queries/probes.py)
DTYPE_MISMATCH_DELIBERATE: set = set()


def dtype_kind_mismatches(sdf, ddf) -> list[str]:
    """Columns where one engine materializes integer-kind and the other
    float-kind pandas dtypes. Values can still compare equal here (the
    int/float crossover in ``cell_exact``), but the DRIVER stringifies
    through pandas — int64 42 renders '42', float64 renders '42.0' —
    so a kind mismatch is a future driver hash-FAIL even when every
    value matches. Null-bearing int columns coerce to float64 on BOTH
    sides (same data, same nulls), so they never false-positive; empty
    frames carry no evidence and are skipped."""
    if len(sdf) == 0 or len(ddf) == 0:
        return []
    out = []
    for c in sdf.columns:
        if c not in ddf.columns:
            continue
        ks, kd = sdf[c].dtype.kind, ddf[c].dtype.kind
        if {ks, kd} <= {"i", "u", "f"} and (ks == "f") != (kd == "f"):
            out.append(f"{c} (spark {sdf[c].dtype} vs duckdb {ddf[c].dtype})")
    return out


def cell_exact(a, b) -> bool:
    """Exact match, allowing int/float tag crossover ONLY when the values
    are bit-equal — DuckDB HUGEINT arrives in pandas as float64 while
    Spark sums of ints stay long, which is a type difference, not a value
    difference. Anything that needs a tolerance is NOT exact."""
    if a == b:
        return True
    if (
        isinstance(a, tuple) and isinstance(b, tuple)
        and len(a) == 2 and len(b) == 2
    ):
        if a[0] in ("f", "i") and b[0] in ("f", "i"):
            # int/int crossover compares as ints: two different integers
            # beyond 2^53 would compare equal through float64 (large
            # counts / HUGEINT unit sums) — the exact gate must not be
            # fooled by float collapse
            if a[0] == b[0] == "i":
                return a[1] == b[1]
            fa, fb = float(a[1]), float(b[1])
            if fa != fb:
                return False
            # mixed int/float: require the integral side to survive the
            # float64 round-trip, else "equality" is just precision loss
            for tag, val in (a, b):
                if tag == "i" and abs(val) >= 2 ** 53:
                    return False
            return True
        if a[0] == b[0] == "l":
            return len(a[1]) == len(b[1]) and all(
                cell_exact(x, y) for x, y in zip(a[1], b[1])
            )
    return False


def float_close(a, b) -> bool:
    if cell_exact(a, b):
        return True
    if (
        isinstance(a, tuple) and isinstance(b, tuple)
        and len(a) == 2 and len(b) == 2
    ):
        if a[0] in ("f", "i") and b[0] in ("f", "i"):
            return math.isclose(float(a[1]), float(b[1]), rel_tol=1e-6, abs_tol=1e-6)
        if a[0] == b[0] == "l":
            return len(a[1]) == len(b[1]) and all(
                float_close(x, y) for x, y in zip(a[1], b[1])
            )
    return False


def rows_equal(a: list[tuple], b: list[tuple]) -> tuple[bool, str, int]:
    """Compare sorted row multisets. Returns (ok, why, rescued_cells).

    The driver's gate hashes values EXACTLY, so a cell that matches only
    within a float tolerance here WILL eventually red-flag a driver row
    (r3: ndarray canon, r4: nation_pair_trade half-cent flips). We count
    such tolerance-rescued cells and the caller fails the query — the
    query must be rewritten to the exact integer-unit / integer-moment
    pattern, not waved through.
    """
    if len(a) != len(b):
        return False, f"row count {len(a)} vs {len(b)}", 0
    rescued = 0
    first_rescue = None
    for i, (ra, rb) in enumerate(zip(a, b)):
        if ra == rb:
            continue
        if len(ra) != len(rb):
            return False, f"arity diff at sorted row {i}", rescued
        row_rescued = 0
        for x, y in zip(ra, rb):
            if cell_exact(x, y):
                continue
            if float_close(x, y):
                row_rescued += 1
                if first_rescue is None:
                    first_rescue = f"row {i}: spark={x} duck={y}"
            else:
                return (
                    False,
                    f"first diff at sorted row {i}:\n  spark={ra}\n  duck ={rb}",
                    rescued,
                )
        rescued += row_rescued
    if rescued:
        return (
            False,
            f"{rescued} tolerance-rescued cell(s) — values differ within "
            f"1e-6 but the driver hashes exactly; first: {first_rescue}. "
            "Rewrite with the integer-unit/integer-moment pattern.",
            rescued,
        )
    return True, "", 0


def check_one(spark, duck_local, sf_dir, name, fn, oracle):
    """(line, failed, rescued_count) for one query — thread-safe: Spark
    actions are concurrency-safe on one session; DuckDB connections are
    NOT, so each worker thread opens its own via ``duck_local``."""
    t0 = time.time()
    try:
        frame = fn(spark, sf_dir)
        bad = collection_columns(frame)
        if bad:
            # the driver's canonicalizer (pandas sort_values over
            # every column) crashes on ndarray/dict cells — fail the
            # same class locally instead of tuple-izing it away
            return (
                f"FAIL {name}: top-level collection column(s) {bad} "
                "— driver canonicalizer cannot hash these; explode "
                "to rows or array_join to a string",
                True,
                0,
            )
        sdf = frame.toPandas()
    except Exception:
        return (f"FAIL {name}: spark raised\n{traceback.format_exc()}", True, 0)
    t_spark = time.time() - t0
    if oracle is None:
        return (
            f"ok   {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)",
            False,
            0,
        )
    try:
        if not hasattr(duck_local, "con"):
            duck_local.con = duck_connection(sf_dir)
        ddf = duck_local.con.execute(oracle).df()
    except Exception:
        return (f"FAIL {name}: duckdb raised\n{traceback.format_exc()}", True, 0)
    scols, srows = frame_to_multiset(sdf)
    dcols, drows = frame_to_multiset(ddf)
    if scols != dcols:
        return (f"FAIL {name}: columns {scols} vs {dcols}", True, 0)
    mismatched = dtype_kind_mismatches(sdf, ddf)
    if mismatched and name not in DTYPE_MISMATCH_DELIBERATE:
        return (
            f"FAIL {name}: int-vs-float dtype divergence on "
            f"{mismatched} — values may stringify differently at the "
            "driver ('42' vs '42.0', the r5/r6 HUGEINT red class); "
            "CAST the oracle column so both engines agree on kind",
            True,
            0,
        )
    ok, why, rescued = rows_equal(srows, drows)
    if not ok:
        return (f"FAIL {name}: {why}", True, rescued)
    t = time.time() - t0
    return (
        f"ok   {name}: {len(srows)} rows match ({t:.1f}s: spark "
        f"{t_spark:.1f}s, duckdb + compare {t - t_spark:.1f}s)",
        False,
        0,
    )


def main() -> int:
    import argparse
    import threading
    from concurrent.futures import ThreadPoolExecutor

    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*", help="subset of query names")
    ap.add_argument(
        "--jobs",
        type=int,
        default=4,
        help="concurrent query checks (Spark scheduler interleaves the "
        "jobs; each worker thread gets its own DuckDB connection)",
    )
    args = ap.parse_args()
    sf_dir, only = args.sf_dir, set(args.names)

    import __spark_entry__ as entrymod
    from news_data_pipeline_spark.session import get_spark

    spark = get_spark("oracle-check")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    duck_local = threading.local()

    todo = [
        (name, fn) for name, fn in qs.items() if not only or name in only
    ]
    failures = []
    tolerance_rescued = []
    with ThreadPoolExecutor(max_workers=max(1, args.jobs)) as pool:
        results = pool.map(
            lambda nf: (
                nf[0],
                check_one(
                    spark, duck_local, sf_dir, nf[0], nf[1], oracles.get(nf[0])
                ),
            ),
            todo,
        )
        for name, (line, failed, rescued) in results:
            print(line, flush=True)
            if failed:
                failures.append(name)
                if rescued:
                    tolerance_rescued.append((name, rescued))

    if tolerance_rescued:
        print("\nTOLERANCE-RESCUED (exact-failing) queries:")
        for name, n in tolerance_rescued:
            print(f"  {name}: {n} cell(s)")
    print(f"\n{len(todo) - len(failures)}/{len(todo)} queries ok")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
