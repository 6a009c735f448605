"""Whole-run benchmark of the engine: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a source checkout. It generates the workload's
inputs from the seed under ``.perfbench_work/`` in the checkout, starts
a local Spark session (``local[<cpus>]``), sets up (session start and
input generation) several times, warms up once, then runs the
workload's flows back to back, one at a time, until ``--seconds`` have
passed. Every run's outputs are checked against the generator's
manifest. Set-up, warm-up and runs are timed in wall and in CPU seconds;
the end-to-end metrics use CPU seconds (see perfbench/README.md).

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the workload is run
alternately untraced and traced, and the metrics are the per-layer
figures of the traced runs plus the tracing overhead. The line before
it, and ``.perfbench_out/<workload>-s<seed>-t<trace>.json``, record the
details: cpus, seed, commit, every sample, failures and the digest.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import flows
from spans import Recorder, StatusStore

PACKAGE = "news_data_pipeline_spark"
SETUP_REPS = 3

END_TO_END = {
    # name: (unit, better)
    "setup_s": ("s", "lower"),
    "run_cpu_s": ("s", "lower"),
    "output_bytes_ratio": ("ratio", "lower"),
}

LAYERS = (
    "sources",
    "writers",
    "dq",
    "functions",
    "plans",
    "model",
    "stream",
    "dedup",
    "sampling",
    "packing",
    "queries",
    "operators",
)
LAYER_COUNTERS = {
    "wall_s": ("s", "lower"),
    "self_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "task_cpu_s": ("s", "lower"),
    "shuffle_write_bytes": ("bytes", "lower"),
    "shuffle_read_bytes": ("bytes", "lower"),
    "spill_bytes": ("bytes", "lower"),
    "busy_frac": ("fraction", "higher"),
}
LAYER_SPECIFIC = {
    "plans.build_s": ("s", "lower"),
    "dq.quarantine_rows": ("count", "lower"),
    "writers.files_written": ("count", "lower"),
    "writers.register_s": ("s", "lower"),
    "model.silver_scans": ("ratio", "lower"),
    "dedup.candidate_pairs": ("count", "lower"),
    "dedup.candidate_precision": ("fraction", "higher"),
    "packing.fill": ("fraction", "higher"),
    "stream.add_batch_s": ("s", "lower"),
    "stream.query_planning_s": ("s", "lower"),
    "stream.wal_commit_s": ("s", "lower"),
    "stream.latest_offset_s": ("s", "lower"),
    "stream.commit_offsets_s": ("s", "lower"),
    "stream.batch_p50_s": ("s", "lower"),
    "stream.batch_p90_s": ("s", "lower"),
    "tracing.overhead_s": ("s", "lower"),
}
PER_LAYER = {
    **{f"{layer}.{c}": spec for layer in LAYERS for c, spec in LAYER_COUNTERS.items()},
    **LAYER_SPECIFIC,
}


def workloads():
    """Workload name -> the flows one timed run executes, in order."""
    return {
        "medallion": [
            flows.MedallionBatch(files_per_country=2, rows_per_file=1000),
            flows.MedallionStream(files=2, rows_per_file=300, files_per_trigger=2),
        ],
        "corpus": [
            flows.CorpusPrep(n_docs=3000),
            flows.QuerySuite(("bm25_search",), n_docs=2000, n_vecs=1000),
        ],
    }


def result_line(correct: bool, attempted: int, failed: int, values: dict, spec: dict) -> str:
    """The result line: exactly the metrics named in ``spec``."""
    missing = sorted(set(spec) - set(values))
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    metrics = {name: {"value": values[name], "unit": spec[name][0]} for name in spec}
    return json.dumps(
        {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    )


# --------------------------------------------------------------------------
# environment


def checkout_root() -> str:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        raise SystemExit(f"perfbench: no {PACKAGE}/ under {root}; run from a source checkout")
    return root


def prepare_env(root: str, work: str) -> int:
    """Point every scratch location of Spark, the JVM and Python at
    ``work``; return the core count the session uses."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)  # engine default
    dirs = {k: os.path.join(work, k) for k in ("spark-local", "warehouse", "jvm-tmp", "py-tmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["TMPDIR"] = dirs["py-tmp"]
    tempfile.tempdir = dirs["py-tmp"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # C1-only JIT: with C2 on, its compile threads compete with tasks for
    # the cores over the first several runs, so run times drift down run
    # after run; C1-only reaches steady state within the warm-up.
    # No perf-data files: both JVMs (spark-submit's launcher and the
    # driver) would write them outside the checkout.
    java_opts = f"-Djava.io.tmpdir={dirs['jvm-tmp']} -XX:TieredStopAtLevel=1 -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={dirs['jvm-tmp']} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        [
            "--conf", f"spark.local.dir={dirs['spark-local']}",
            "--conf", f"spark.sql.warehouse.dir={dirs['warehouse']}",
            "--driver-java-options", java_opts,
            "pyspark-shell",
        ]
    )
    return cpus


def source_identity(root: str) -> dict:
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        proc = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=30
        )
        commit = proc.stdout.strip() or None
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, PACKAGE, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return {"commit": commit, "source_sha256": h.hexdigest()}


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the machine so far: time a hypervisor
    gave this machine's CPUs to other guests shows as steal."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    return sum(fields), fields[7]


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the Spark JVM and its Python workers), reaped ones included. Time
    a hypervisor gave to other guests is not charged to a process."""
    procs: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited meanwhile
            continue
        f = stat[stat.rfind(")") + 2 :].split()
        procs[int(entry)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo += kids.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def clocks() -> tuple[float, float]:
    """Wall and CPU (``tree_cpu_s``) seconds, read together."""
    return time.perf_counter(), tree_cpu_s()


class Session:
    """The Spark session of one benchmark process, restartable in place."""

    def __init__(self) -> None:
        self.spark = None
        self.jvm_pid = None

    def start(self):
        from news_data_pipeline_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench")
        self.jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return self.spark

    def heap_retained_mb(self) -> float:
        """JVM heap still in use after a full collection."""
        jvm = self.spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return heap.getHeapMemoryUsage().getUsed() / 2**20

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def close(self) -> None:
        """Stop Spark and wait for the JVM process to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


# --------------------------------------------------------------------------
# running


class Bench:
    def __init__(self, name: str, seed: int, work: str, cpus: int) -> None:
        self.name = name
        self.seed = seed
        self.work = work
        self.cpus = cpus
        self.flows = workloads()[name]
        self.session = Session()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.digests: set[str] = set()
        self.iteration = 0

    @property
    def input_rows(self) -> int:
        return sum(f.input_rows for f in self.flows)

    @property
    def input_bytes(self) -> int:
        return sum(f.input_bytes for f in self.flows)

    def setup(self, reps: int) -> list[tuple[float, float]]:
        """Session start plus input generation, ``reps`` times; returns
        the (wall, CPU) seconds of each. Later reps restart Spark in the
        same JVM."""
        samples = []
        for _ in range(reps):
            w0, c0 = clocks()
            self.session.start()
            root = os.path.join(self.work, "inputs")
            shutil.rmtree(root, ignore_errors=True)
            for flow in self.flows:
                flow.generate(os.path.join(root, flow.name), self.seed)
            w1, c1 = clocks()
            samples.append((w1 - w0, c1 - c0))
        return samples

    def warm_up(self) -> None:
        """One untimed run (compiles and JITs every plan once), plus the
        one-off oracle comparison of flows that have one."""
        for flow in self.flows:
            if hasattr(flow, "oracle_check"):
                fails = flow.oracle_check(
                    self.session.spark, os.path.join(self.work, "oracle"), self.seed
                )
                self.failures += [f"{flow.name}: {x}" for x in fails]
        self.iterate()

    def iterate(self, recorder=None) -> dict:
        """One run of every flow: returns wall seconds, outputs and notes."""
        self.iteration += 1
        out_root = os.path.join(self.work, f"it{self.iteration}")
        tr = flows.Tracer(recorder)
        spark = self.session.spark
        self.attempted += 1
        record = {"ok": False}
        try:
            infos, record["flow_s"] = [], {}
            w0, c0 = clocks()
            for flow in self.flows:
                t_flow = time.perf_counter()
                infos.append(flow.run(spark, os.path.join(out_root, flow.name), tr))
                record["flow_s"][flow.name] = time.perf_counter() - t_flow
            w1, c1 = clocks()
            record["wall_s"], record["cpu_s"] = w1 - w0, c1 - c0
            fails, parts = [], []
            for flow, info in zip(self.flows, infos):
                f, digest = flow.check(os.path.join(out_root, flow.name), info)
                fails += [f"{flow.name}: {x}" for x in f]
                parts.append(digest)
            record["digest"] = flows.combine(*parts)
            record["output_bytes"] = flows.data_bytes(out_root)
            record["files_written"] = len(flows.data_files(out_root))
            if recorder is not None:
                recorder.finish()
                by_layer = recorder.by_layer(self.cpus)
                notes: dict[str, float] = {}
                for flow, info in zip(self.flows, infos):
                    # flows sharing a layer (both medallion flows quarantine) add up
                    for k, v in flow.layer_notes(
                        os.path.join(out_root, flow.name), info, by_layer
                    ).items():
                        notes[k] = notes.get(k, 0.0) + v
                record["by_layer"] = by_layer
                record["notes"] = notes
            self.digests.add(record["digest"])
            if len(self.digests) > 1:
                fails.append("output digest differs between runs of one seed")
            if fails:
                self.failures += fails
            else:
                record["ok"] = True
        except Exception:  # a failed run is counted, the benchmark goes on
            self.failures.append(traceback.format_exc(limit=8))
        finally:
            shutil.rmtree(out_root, ignore_errors=True)
        if not record["ok"]:
            self.failed += 1
        return record

    def close(self) -> None:
        self.session.close()


def layer_values(traced: list[dict], untraced: list[dict]) -> dict[str, float]:
    """Per-layer metrics: the median over traced runs of each figure."""
    samples: dict[str, list[float]] = {name: [] for name in PER_LAYER}
    for rec in traced:
        for layer in LAYERS:
            figures = rec["by_layer"].get(layer, {})
            for c in LAYER_COUNTERS:
                samples[f"{layer}.{c}"].append(float(figures.get(c, 0.0)))
        notes = dict(rec["notes"])
        notes.setdefault("plans.build_s", rec["by_layer"].get("plans", {}).get("self_s", 0.0))
        notes.setdefault("writers.files_written", float(rec["files_written"]))
        for name in LAYER_SPECIFIC:
            if name != "tracing.overhead_s":
                samples[name].append(float(notes.get(name, 0.0)))
    values = {k: statistics.median(v) if v else 0.0 for k, v in samples.items()}
    values["tracing.overhead_s"] = statistics.median(
        r["wall_s"] for r in traced
    ) - statistics.median(r["wall_s"] for r in untraced)
    return values


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = checkout_root()
    sys.path.insert(0, root)
    if args.workload not in workloads():
        ap.error(f"unknown workload {args.workload!r}")
    import news_data_pipeline_spark  # noqa: F401  (fail early without the engine)

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    cpus = prepare_env(root, work)
    bench = Bench(args.workload, args.seed, work, cpus)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": cpus,
        "trace": args.trace,
        **source_identity(root),
    }
    try:
        setup = bench.setup(SETUP_REPS if not args.trace else 1)
        w0, c0 = clocks()
        bench.warm_up()
        w1, c1 = clocks()
        detail["setup_samples_s"] = [w for w, _ in setup]
        detail["setup_cpu_samples_s"] = [c for _, c in setup]
        detail["warmup_s"], detail["warmup_cpu_s"] = w1 - w0, c1 - c0
        traced, untraced = [], []
        ticks0 = cpu_ticks()
        start = time.perf_counter()
        while True:
            untraced.append(bench.iterate())
            if args.trace:
                rec = Recorder(
                    f"{args.workload}-{args.seed}-{len(traced)}",
                    StatusStore(bench.session.spark),
                )
                traced.append(bench.iterate(rec))
                rec.dump(
                    os.path.join(out_dir, f"{args.workload}-s{args.seed}-spans.json"),
                    {k: detail[k] for k in ("cpus", "seed", "commit", "source_sha256")},
                )
            if time.perf_counter() - start >= args.seconds:
                break
        ticks1 = cpu_ticks()
        # a share of a few percent or more marks a run slowed by other guests
        detail["steal_frac"] = (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1)
        detail["peak_rss_mb"] = bench.session.peak_rss_mb()
        detail["heap_retained_mb"] = bench.session.heap_retained_mb()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass

    good = [r for r in untraced if r["ok"]]
    good_traced = [r for r in traced if r["ok"]]
    detail.update(
        run_samples_s=[r.get("wall_s") for r in untraced],
        cpu_samples_s=[r.get("cpu_s") for r in untraced],
        flow_samples_s=[r.get("flow_s") for r in untraced],
        traced_samples_s=[r.get("wall_s") for r in traced],
        digests=sorted(bench.digests),
        failures=bench.failures,
    )
    correct = not bench.failures and bool(good) and (not args.trace or bool(good_traced))
    if not correct:
        # no trustworthy figure: report zeros next to the failure
        values = dict.fromkeys(PER_LAYER if args.trace else END_TO_END, 0.0)
    elif args.trace:
        values = layer_values(good_traced, good)
    else:
        values = {
            "setup_s": statistics.median(detail["setup_cpu_samples_s"]) + detail["warmup_cpu_s"],
            "run_cpu_s": statistics.median(r["cpu_s"] for r in good),
            "output_bytes_ratio": statistics.median(r["output_bytes"] for r in good)
            / bench.input_bytes,
        }
        # wall time, reported but not gated: it follows the steal share
        run_s = statistics.median(r["wall_s"] for r in good)
        detail["run_s"] = run_s
        detail["rows_per_s"] = bench.input_rows / run_s
        detail["setup_wall_s"] = statistics.median(detail["setup_samples_s"]) + detail["warmup_s"]
    detail["values"] = values
    with open(
        os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w"
    ) as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    print(json.dumps(detail, sort_keys=True))
    spec = PER_LAYER if args.trace else END_TO_END
    print(result_line(correct, bench.attempted, bench.failed, values, spec))
    return 0


if __name__ == "__main__":
    sys.exit(main())
