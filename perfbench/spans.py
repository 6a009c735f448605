"""Span recorder and Spark status-store reader for the traced runs.

A span brackets one call into a layer of the engine, made from the
benchmark's own code. Spans live in memory (name, start, end, parent,
run id) and are written as one JSON file when the run ends.

Spark work is attributed to spans by stage and job id: whenever the
span stack changes, every stage and job the status store has seen
since the previous change is assigned to the span that was innermost
until then. Each stage therefore counts once, in the span that ran it,
and a span's counters are its own, not its children's. The stage
figures themselves are read once at the end, after the listener bus
has drained, so late metric updates are not lost. The status store
works with the UI disabled.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# StageData fields read from the status store -> counter name and scale
_STAGE_FIELDS = (
    ("numTasks", "tasks", 1),
    ("numFailedTasks", "failed_tasks", 1),
    ("executorRunTime", "task_run_s", 1e-3),
    ("executorCpuTime", "task_cpu_s", 1e-9),
    ("jvmGcTime", "gc_s", 1e-3),
    ("shuffleWriteBytes", "shuffle_write_bytes", 1),
    ("shuffleReadBytes", "shuffle_read_bytes", 1),
    ("shuffleFetchWaitTime", "fetch_wait_s", 1e-3),
    ("memoryBytesSpilled", "spill_bytes", 1),
    ("diskBytesSpilled", "spill_bytes", 1),
    ("inputRecords", "records_in", 1),
    ("outputRecords", "records_out", 1),
)
SPARK_COUNTERS = ("jobs", "job_s") + tuple(
    dict.fromkeys(name for _, name, _ in _STAGE_FIELDS)
)


def covered_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Span:
    id: int
    name: str
    run_id: str
    parent: int | None
    start: float
    end: float | None = None
    counters: dict[str, float] = field(default_factory=dict)
    stages: list[int] = field(default_factory=list)
    jobs: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class StatusStore:
    """Reads stage and job data from the SparkContext's status store."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every posted event."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def _stage_seq(self):
        jvm = self._sc._jvm
        return self._store.stageList(
            jvm.java.util.ArrayList(),
            True,
            False,
            self._sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )

    def stage_ids(self) -> set[int]:
        seq = self._stage_seq()
        return {seq.apply(i).stageId() for i in range(seq.size())}

    def job_ids(self) -> set[int]:
        seq = self._store.jobsList(None)
        return {seq.apply(i).jobId() for i in range(seq.size())}

    def stage_counters(self) -> dict[int, dict[str, float]]:
        """Counters per stage id, summed over the stage's attempts."""
        seq = self._stage_seq()
        out: dict[int, dict[str, float]] = {}
        for i in range(seq.size()):
            st = seq.apply(i)
            acc = out.setdefault(st.stageId(), {})
            for java_name, name, scale in _STAGE_FIELDS:
                acc[name] = acc.get(name, 0) + getattr(st, java_name)() * scale
        return out

    def job_seconds(self) -> dict[int, float]:
        """Wall seconds per finished job, submission to completion."""
        seq = self._store.jobsList(None)
        out = {}
        for i in range(seq.size()):
            job = seq.apply(i)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out[job.jobId()] = (done.get().getTime() - sub.get().getTime()) / 1e3
        return out


class Recorder:
    """In-memory spans for one traced run.

    ``store`` may be None (no Spark), in which case spans carry wall and
    self time only.
    """

    def __init__(self, run_id: str, store: StatusStore | None = None) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._store = store
        self._seen_stages: set[int] = set()
        self._seen_jobs: set[int] = set()
        if store is not None:
            store.drain()
            self._seen_stages = store.stage_ids()
            self._seen_jobs = store.job_ids()

    def _attribute(self) -> None:
        if self._store is None:
            return
        self._store.drain()
        stages = self._store.stage_ids() - self._seen_stages
        jobs = self._store.job_ids() - self._seen_jobs
        self._seen_stages |= stages
        self._seen_jobs |= jobs
        if self._stack:
            self._stack[-1].stages.extend(sorted(stages))
            self._stack[-1].jobs.extend(sorted(jobs))

    @contextmanager
    def span(self, name: str):
        self._attribute()
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, self.run_id, parent, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            self._attribute()
            sp.end = time.perf_counter()
            self._stack.pop()

    def self_time(self, sp: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in self.spans
            if c.parent == sp.id and c.end is not None and sp.end is not None
        ]
        return sp.duration - covered_length([k for k in kids if k[1] > k[0]])

    def finish(self) -> None:
        """Fill every span's Spark counters (its own stages and jobs)."""
        if self._store is None:
            return
        self._store.drain()
        per_stage = self._store.stage_counters()
        job_s = self._store.job_seconds()
        for sp in self.spans:
            acc = dict.fromkeys(SPARK_COUNTERS, 0.0)
            acc["jobs"] = len(sp.jobs)
            acc["job_s"] = sum(job_s.get(j, 0.0) for j in sp.jobs)
            for sid in sp.stages:
                for k, v in per_stage.get(sid, {}).items():
                    acc[k] += v
            sp.counters.update(acc)

    def by_layer(self, cores: int) -> dict[str, dict[str, float]]:
        """Per layer name: summed wall, self time and Spark counters.

        ``wall_s`` sums only the outermost spans of a layer, so a layer
        nested in itself is not counted twice. ``busy_frac`` is task run
        time over self time x cores.
        """
        by_id = {sp.id: sp for sp in self.spans}
        out: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            acc = out.setdefault(
                sp.name,
                {"wall_s": 0.0, "self_s": 0.0, **dict.fromkeys(SPARK_COUNTERS, 0.0)},
            )
            p = sp.parent
            while p is not None and by_id[p].name != sp.name:
                p = by_id[p].parent
            if p is None:
                acc["wall_s"] += sp.duration
            acc["self_s"] += self.self_time(sp)
            for k, v in sp.counters.items():
                acc[k] = acc.get(k, 0.0) + v
        for acc in out.values():
            denom = acc["self_s"] * cores
            acc["busy_frac"] = acc.get("task_run_s", 0.0) / denom if denom > 0 else 0.0
        return out

    def dump(self, path: str, extra: dict | None = None) -> None:
        doc = {
            "run_id": self.run_id,
            "spans": [
                {**asdict(sp), "self_s": self.self_time(sp)} for sp in self.spans
            ],
            **(extra or {}),
        }
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(doc, fh, indent=1, sort_keys=True)
