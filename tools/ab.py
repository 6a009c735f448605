"""Rotated A/B of DataFrame arms: median wall seconds, shuffle bytes and
Janino compiles.

    python tools/ab.py pkg.module:arm_a pkg.module:arm_b [...]

Each arm is a callable ``(spark) -> DataFrame``; its module must be
importable (the working directory is on the path). Before any timing,
every arm's rows are compared once with the first arm's, exactly as
the oracle gate compares (``check_oracle.frame_to_multiset`` and
``rows_equal``); a mismatch raises. Then each arm runs once un-timed
(JVM and codegen warm-up) and ``PAIRS`` rounds run every arm to the
noop sink through ``bench.run_query``, the order rotated each round so
no arm always runs first. Shuffle bytes and compiles come from
``bench.ShuffleMeter``.

Prints one JSON line: per arm (keyed by its ``module:function``) the
median wall seconds, the median shuffle write and read bytes and the
median count of classes compiled per run (null if the status store or
the codegen metrics could not be read), and ``wins_vs_first``, the
rounds in which the arm ran faster than the first arm. A timed run
that compiles is paying codegen, not data work.
"""

from __future__ import annotations

import importlib
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = ["", ROOT, os.path.join(ROOT, "tools")]

from bench import ShuffleMeter, run_query  # noqa: E402
from check_oracle import frame_to_multiset, rows_equal  # noqa: E402

WARMUP = 1
PAIRS = 10


def same_rows(a, b) -> tuple[bool, str]:
    """Exact multiset compare of two Spark frames (column names sorted,
    floats canonicalized to 6dp; a tolerance-only match fails)."""
    acols, arows = frame_to_multiset(a.toPandas())
    bcols, brows = frame_to_multiset(b.toPandas())
    if acols != bcols:
        return False, f"columns {acols} vs {bcols}"
    ok, why, _ = rows_equal(arows, brows)
    return ok, why


def _median(xs):
    return statistics.median(xs) if None not in xs else None


def run(spark, arms: dict) -> dict:
    """Check that all ``arms`` return the same rows, then time them."""
    names = list(arms)
    first = names[0]
    for name in names[1:]:
        ok, why = same_rows(arms[first](spark), arms[name](spark))
        if not ok:
            raise ValueError(f"{name} returns other rows than {first}: {why}")

    meter = ShuffleMeter(spark)

    def timed(name):
        meter.mark()
        sec = run_query(lambda s, _: arms[name](s), spark, None)
        return sec, meter.delta() or [None, None, None]

    for _ in range(WARMUP):
        for name in names:
            timed(name)
    secs = {n: [] for n in names}
    metered = {n: [] for n in names}
    for r in range(PAIRS):
        for name in names[r % len(names):] + names[: r % len(names)]:
            sec, counts = timed(name)
            secs[name].append(sec)
            metered[name].append(counts)
    return {
        "pairs": PAIRS,
        "arms": {
            n: {
                "median_s": statistics.median(secs[n]),
                "shuffle_write_bytes": _median([w for w, _, _ in metered[n]]),
                "shuffle_read_bytes": _median([r for _, r, _ in metered[n]]),
                "compiles": _median([c for _, _, c in metered[n]]),
                "wins_vs_first": sum(
                    s < f for s, f in zip(secs[n], secs[first])
                ),
            }
            for n in names
        },
    }


def _load(spec: str):
    module, _, fn = spec.partition(":")
    return getattr(importlib.import_module(module), fn)


def main(specs: list[str]) -> None:
    if len(specs) < 2:
        raise SystemExit(__doc__)
    from news_data_pipeline_spark.session import get_spark

    spark = get_spark("ab")
    try:
        print(json.dumps(run(spark, {s: _load(s) for s in specs})))
    finally:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
