"""Partition-determinism probe: does any query's RESULT depend on the
physical plan?

Runs every registered query twice — once at the session's normal
shuffle parallelism, once at a co-prime partition count (different
merge trees, different task interleavings, different AQE coalescing) —
and compares the canonicalized row multisets EXACTLY (the oracle
gate's canon). A query that differs is order-sensitive: its value
depends on summation order, unordered collect_list, or an untied
window — the class that flips between single-node tests and a
1000-executor cluster.

Diagnostic tool, not a test: moment-form aggregates (corr/regr) are
KNOWN to carry last-ulp partition sensitivity under their 4dp rounding
and are tolerated until a flip is actually observed (COVERAGE.md
round-5 audit note). Usage::

    python tools/determinism_probe.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools.check_oracle import frame_to_multiset  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    if not os.path.isdir(sf_dir):
        # no argparse here, so a stray flag (--help) would otherwise be
        # consumed as sf_dir and every table read errors confusingly
        print(__doc__.split("Usage::")[-1].strip())
        print(f"error: sf_dir {sf_dir!r} is not a directory")
        return 2

    import __spark_entry__ as entrymod
    from news_data_pipeline_spark.session import get_spark

    spark = get_spark("determinism-probe")
    qs = entrymod.queries()

    unstable, errors = [], []
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
            a = frame_to_multiset(fn(spark, sf_dir).toPandas())
            spark.conf.set("spark.sql.shuffle.partitions", "7")
            b = frame_to_multiset(fn(spark, sf_dir).toPandas())
        except Exception as ex:  # noqa: BLE001
            errors.append((name, repr(ex)[:120]))
            continue
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
        if a == b:
            print(f"ok   {name}")
        else:
            diff = sum(1 for x, y in zip(a[1], b[1]) if x != y)
            print(f"UNSTABLE {name}: {diff} differing row(s) of {len(a[1])}")
            unstable.append(name)

    for name, err in errors:
        print(f"ERROR {name}: {err}")
    print(
        f"\n{checked - len(unstable) - len(errors)}/{checked} stable"
        + (f"; unstable: {sorted(unstable)}" if unstable else "")
    )
    return 1 if unstable or errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
