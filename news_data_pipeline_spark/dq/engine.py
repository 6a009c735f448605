"""Single-pass data-quality engine.

Replaces the reference's ``DataQualityChecker`` + ``run_dq_from_config``
(``_lib_dq_helpers.py:114-190``), which runs one Spark job per rule
(``bad.count()`` at ``:126``, ``dup_keys.count()`` at ``:140``) and then
splits valid/invalid with inner + left_anti joins against an accumulated
``bad_keys`` set (``:157-163``). At 100 TB that is O(rules) full scans
plus two shuffled joins.

Here every rule contributes a boolean violation column; the annotated
frame is built once (window rules share a shuffle per distinct key set),
and valid/quarantine are two filters over it. The pass/fail report is
ONE aggregate over the same frame — and it's lazy: consumers that only
need the split never pay for it. Fail-open semantics are preserved: a
failing report does not stop valid rows from flowing (reference
``02:38-62``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from news_data_pipeline_spark.dq.rules import ColumnExists, MinRows, Rule

_FLAG_PREFIX = "__dq_violates_"


def _flag_name(i: int, rule: Rule) -> str:
    # internal column name only (reports/reasons use the exact rule
    # name) — sanitized because dots in rule names like in_range(v,0.5)
    # would otherwise parse as nested-field paths in F.col()
    safe = re.sub(r"[^0-9A-Za-z_]", "_", rule.rule_name())
    return f"{_FLAG_PREFIX}{i}_{safe}"


@dataclass
class DQResult:
    valid: DataFrame
    quarantined: DataFrame  # original columns + ``reasons array<string>``
    _annotated: DataFrame
    _rules: list[Rule]
    _flag_cols: list[str]
    _schema_report: dict[str, dict]
    _report: dict[str, dict] | None = field(default=None, repr=False)

    @property
    def report(self) -> dict[str, dict]:
        """Per-rule pass/fail + violation counts (one Spark job, computed
        on first access and memoized)."""
        if self._report is None:
            aggs = [F.count(F.lit(1)).alias("__total")] + [
                F.sum(F.col(c).cast("long")).alias(c) for c in self._flag_cols
            ]
            counts = self._annotated.agg(*aggs).collect()[0].asDict()
            report = dict(self._schema_report)
            for i, rule in enumerate(self._rules):
                if isinstance(rule, ColumnExists):
                    continue
                if isinstance(rule, MinRows):
                    total = counts["__total"]
                    report[rule.rule_name()] = {
                        "passed": total >= rule.threshold,
                        "violations": 0 if total >= rule.threshold else 1,
                        "detail": {"rows": total, "threshold": rule.threshold},
                    }
                    continue
                n = counts.get(_flag_name(i, rule)) or 0
                report[rule.rule_name()] = {
                    "passed": n == 0,
                    "violations": int(n),
                }
            self._report = report
        return self._report

    @property
    def passed(self) -> bool:
        return all(r["passed"] for r in self.report.values())

    def unpersist(self) -> "DQResult":
        """Release the annotated frame ``run_dq(cache=True)`` cached."""
        self._annotated.unpersist()
        return self

    def isEmpty(self) -> bool:
        """True when the input frame had no rows (read from the cache
        when ``run_dq(cache=True)`` built one)."""
        return self._annotated.isEmpty()

    def report_frame(self) -> DataFrame:
        """The pass/fail report as a DataFrame ``(rule, passed,
        violations)`` — same single aggregate as :attr:`report`, but
        kept IN Spark: nothing collects, so the report can be written
        to an audit table, joined against run history, or unioned
        across tables without driver round-trips. Row-level rules
        unpivot from the one-pass flag sums; ``MinRows`` derives from
        the same total; ``ColumnExists`` rows are driver-known literals
        (schema inspection needs no data pass).
        """
        spark = self._annotated.sparkSession
        aggs = [F.count(F.lit(1)).alias("__total")] + [
            F.sum(F.col(c).cast("long")).alias(c) for c in self._flag_cols
        ]
        agg = self._annotated.agg(*aggs)
        rows = []
        for i, rule in enumerate(self._rules):
            if isinstance(rule, ColumnExists):
                continue
            if isinstance(rule, MinRows):
                v = F.when(
                    F.col("__total") >= rule.threshold, F.lit(0)
                ).otherwise(F.lit(1))
            else:
                v = F.coalesce(F.col(_flag_name(i, rule)), F.lit(0))
            rows.append(
                F.struct(
                    F.lit(rule.rule_name()).alias("rule"),
                    (v == 0).alias("passed"),
                    v.cast("long").alias("violations"),
                )
            )
        frames = []
        if rows:
            frames.append(
                agg.select(
                    F.explode(F.array(*rows)).alias("r")
                ).select("r.rule", "r.passed", "r.violations")
            )
        schema_rows = [
            (name, entry["passed"], entry["violations"])
            for name, entry in self._schema_report.items()
        ]
        if schema_rows:
            frames.append(
                spark.createDataFrame(
                    schema_rows, "rule string, passed boolean, violations long"
                )
            )
        if not frames:
            return spark.createDataFrame(
                [], "rule string, passed boolean, violations long"
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.union(f)
        return out


def run_dq(df: DataFrame, rules: list[Rule], *, cache: bool = False) -> DQResult:
    """Evaluate all rules in one annotated pass and split the frame.

    ``cache=True`` persists the annotated frame (release it with
    ``DQResult.unpersist()``) — worth it when two or more of ``valid``,
    ``quarantined`` and the report are consumed: the frame is then
    computed once. A window rule (``Unique``) shuffles it into
    ``spark.sql.shuffle.partitions`` hash partitions, and the session
    lets AQE coalesce those inside the cache too
    (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``), so
    a cached split is sized by AQE: a small frame is a few partitions,
    and each side is written as one file, not one per hash partition.
    """
    # reserved-name guards: a 'reasons' input column would duplicate in
    # the quarantine frame, a flag-prefixed column would be silently
    # stripped from both split sides, and two rules sharing a rule_name
    # would overwrite each other's report entry (masking failures)
    if "reasons" in df.columns:
        raise ValueError("run_dq input must not contain a 'reasons' column")
    clashing = [c for c in df.columns if c.startswith(_FLAG_PREFIX)]
    if clashing:
        raise ValueError(f"run_dq input columns collide with flag prefix: {clashing}")
    names = [r.rule_name() for r in rules]
    dupes = {n for n in names if names.count(n) > 1}
    if dupes:
        raise ValueError(
            f"duplicate rule names would overwrite each other's report "
            f"entries: {sorted(dupes)}"
        )

    schema_report: dict[str, dict] = {}
    flag_cols: list[str] = []
    annotated = df

    for i, rule in enumerate(rules):
        if isinstance(rule, ColumnExists):
            missing = rule.missing(df)
            schema_report[rule.rule_name()] = {
                "passed": not missing,
                "violations": len(missing),
                "detail": {"missing_columns": missing},
            }
            continue
        if isinstance(rule, MinRows):
            continue  # needs the total count — folded into the report agg
        flag = _flag_name(i, rule)
        annotated = annotated.withColumn(
            flag, F.coalesce(rule.violation(df), F.lit(False))
        )
        flag_cols.append(flag)

    if cache and flag_cols:
        annotated = annotated.cache()

    if not flag_cols:
        empty_quarantine = df.limit(0).withColumn(
            "reasons", F.array().cast("array<string>")
        )
        return DQResult(
            valid=df,
            quarantined=empty_quarantine,
            _annotated=annotated,
            _rules=rules,
            _flag_cols=flag_cols,
            _schema_report=schema_report,
        )

    any_violation = F.array_contains(F.array(*[F.col(c) for c in flag_cols]), True)
    reasons = F.filter(
        F.array(
            *[
                F.when(F.col(_flag_name(i, rule)), F.lit(rule.rule_name())).otherwise(
                    F.lit(None)
                )
                for i, rule in enumerate(rules)
                if not isinstance(rule, (ColumnExists, MinRows))
            ]
        ),
        lambda x: x.isNotNull(),
    )
    original_cols = [c for c in annotated.columns if not c.startswith(_FLAG_PREFIX)]
    valid = annotated.where(~any_violation).select(original_cols)
    quarantined = (
        annotated.where(any_violation)
        .withColumn("reasons", reasons)
        .select([*original_cols, "reasons"])
    )
    return DQResult(
        valid=valid,
        quarantined=quarantined,
        _annotated=annotated,
        _rules=rules,
        _flag_cols=flag_cols,
        _schema_report=schema_report,
    )


def to_quarantine_records(
    quarantined: DataFrame, *, source_table: str, ingestion_time: str
) -> DataFrame:
    """Shape failed rows for the audit sink: full-row JSON payload +
    reason + lineage (reference ``02:44-48``)."""
    data_cols = [c for c in quarantined.columns if c != "reasons"]
    return quarantined.select(
        F.to_json(F.struct(*[F.col(c) for c in data_cols])).alias("payload"),
        F.array_join("reasons", "; ").alias("reason"),
        F.lit(source_table).alias("source_table"),
        F.lit(ingestion_time).cast("timestamp_ntz").alias("ingestion_time"),
    )


def from_quarantine_records(records: DataFrame, schema) -> DataFrame:
    """Recover original rows from the audit sink: parse the JSON payload
    back into typed columns (the inverse of ``to_quarantine_records``).

    The remediation path the reference never built: fix upstream, then
    re-ingest quarantined rows through the normal pipeline. ``reason``
    and lineage columns ride along for filtering which rows to replay.
    """
    return records.select(
        F.from_json("payload", schema).alias("row"),
        "reason",
        "source_table",
        "ingestion_time",
    ).select("row.*", "reason", "source_table", "ingestion_time")
