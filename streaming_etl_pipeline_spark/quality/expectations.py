"""Declarative data-quality expectations compiled to Spark expressions.

Re-expresses the reference's Great-Expectations-style suites
(``great_expectations/expectations/sensor_bronze.json``,
``sensor_silver.json``) and manual checks (``src/quality/expectations.py``)
as an expectation compiler: each expectation becomes ONE aggregate
expression, and the whole suite runs as a SINGLE Spark job (one pass over
the data, map-side partials — no per-check actions) or rides along as
observed metrics on a write that already scans the data.

Scale: a suite of 20 checks over 100 TB is one scan; the reference's
pandas runner (``expectations.py:189-210``) is single-process and its
Spark equivalent-by-translation would be 20 scans.

Expectation kinds (SURVEY.md §2.11):
  exists, not_null (with ``mostly``), in_set, between, regex,
  compound_unique, row_count_between, non_empty, row_count_ratio.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


class QualityError(ValueError):
    """Raised when any expectation of a suite fails."""


@dataclass(frozen=True)
class Expectation:
    kind: str
    column: str | None = None
    columns: tuple[str, ...] = ()
    value_set: tuple = ()
    min_value: float | None = None
    max_value: float | None = None
    regex: str | None = None
    mostly: float = 1.0

    @property
    def name(self) -> str:
        target = self.column or ",".join(self.columns) or "*"
        return f"{self.kind}({target})"


#: Great-Expectations ``expectation_type`` → engine expectation kind
#: (the subset the reference's suites use,
#: ``great_expectations/expectations/sensor_bronze.json:4-86`` /
#: ``sensor_silver.json:4-73``).
_GE_KINDS = {
    "expect_column_to_exist": "exists",
    "expect_column_values_to_not_be_null": "not_null",
    "expect_column_values_to_be_in_set": "in_set",
    "expect_column_values_to_be_between": "between",
    "expect_column_values_to_match_regex": "regex",
    "expect_compound_columns_to_be_unique": "compound_unique",
    "expect_table_row_count_to_be_between": "row_count_between",
}


@dataclass(frozen=True)
class Suite:
    name: str
    expectations: tuple[Expectation, ...] = field(default_factory=tuple)

    @classmethod
    def from_ge_json(cls, path: str) -> "Suite":
        """Load a Great-Expectations suite file into the engine's DSL.

        Parses the reference's expectation-file format (suite name +
        ``expectations: [{expectation_type, kwargs, meta}]``) so the
        JSON files ARE the declaration — no Python re-statement needed.
        Unknown expectation types raise (a silently-skipped check is a
        check that never fails).
        """
        import json

        with open(path) as f:
            doc = json.load(f)
        exps: list[Expectation] = []
        for entry in doc.get("expectations", []):
            etype = entry["expectation_type"]
            kind = _GE_KINDS.get(etype)
            if kind is None:
                raise ValueError(f"unsupported GE expectation type: {etype}")
            kw = entry.get("kwargs", {})
            exps.append(
                Expectation(
                    kind,
                    column=kw.get("column"),
                    columns=tuple(kw.get("column_list", ())),
                    value_set=tuple(kw.get("value_set", ())),
                    min_value=kw.get("min_value"),
                    max_value=kw.get("max_value"),
                    regex=kw.get("regex"),
                    mostly=float(kw.get("mostly", 1.0)),
                )
            )
        return cls(doc.get("expectation_suite_name", path), tuple(exps))


def _observed_expr(e: Expectation, df: DataFrame) -> Column:
    """The observed metric for one expectation, as a single aggregate
    expression (all metrics are computed in the same pass)."""
    c = F.col(e.column) if e.column else None
    total = F.count(F.lit(1))
    if e.kind == "exists":
        return F.lit(1.0 if e.column in df.columns else 0.0)
    if e.kind == "not_null":
        # fraction non-null; empty input passes (vacuous truth)
        return F.coalesce(F.avg(c.isNotNull().cast("double")), F.lit(1.0))
    if e.kind == "in_set":
        bad = ~c.isin(list(e.value_set)) & c.isNotNull()
        return _violation_metric(bad, c, e)
    if e.kind == "between":
        cond = F.lit(False)
        if e.min_value is not None:
            cond = cond | (c < F.lit(e.min_value))
        if e.max_value is not None:
            cond = cond | (c > F.lit(e.max_value))
        return _violation_metric(cond, c, e)
    if e.kind == "regex":
        bad = ~c.rlike(e.regex) & c.isNotNull()
        return _violation_metric(bad, c, e)
    if e.kind == "non_empty":
        return total.cast("double")
    if e.kind == "row_count_between":
        return total.cast("double")
    raise ValueError(f"unknown expectation kind: {e.kind}")


def _violation_metric(bad: Column, c: Column, e: Expectation) -> Column:
    """Value-level checks report a bad-row COUNT at mostly=1.0 (the
    engine's historical shape) and a conforming FRACTION of non-null
    values when a GE ``mostly`` tolerance is declared — GE semantics:
    pass when that fraction ≥ mostly (vacuously 1.0 with no non-nulls)."""
    if e.mostly >= 1.0:
        return F.sum(bad.cast("long")).cast("double")
    good = F.sum((c.isNotNull() & ~bad).cast("long"))
    nonnull = F.sum(c.isNotNull().cast("long"))
    return F.coalesce(good / nonnull, F.lit(1.0))


def _passed(e: Expectation, observed: float) -> bool:
    if e.kind == "exists":
        return observed == 1.0
    if e.kind == "not_null":
        return observed >= e.mostly
    if e.kind in ("in_set", "between", "regex"):
        return observed == 0.0 if e.mostly >= 1.0 else observed >= e.mostly
    if e.kind == "non_empty":
        return observed > 0
    if e.kind == "row_count_between":
        lo = e.min_value if e.min_value is not None else float("-inf")
        hi = e.max_value if e.max_value is not None else float("inf")
        return lo <= observed <= hi
    raise ValueError(e.kind)


def suite_aggregates(
    df: DataFrame, suite: Suite
) -> tuple[DataFrame, list[Column], Callable[[Mapping], list[dict]]]:
    """Compile ``suite`` into aggregates over ``df``.

    Returns ``df`` plus any witness columns the checks need, one aliased
    aggregate per evaluable check, and a function that turns the row those
    aggregates produce into the ``{check, passed, observed}`` report. The
    aggregates run wherever the caller puts them: :func:`validate`
    collects them in one job, and ``bronze_to_silver`` observes them on
    its Silver write, so the checks see exactly the written rows.

    ``compound_unique`` is a window count over its key columns (the
    witness); a group of ``k > 1`` rows adds ``1/k`` to its sum, so the
    rounded sum is the number of duplicated keys. A frame already
    partitioned and sorted on those keys (the Silver chain) plans it
    without another exchange or sort."""
    present = set(df.columns)

    def missing(e: Expectation) -> bool:
        # A check on an absent column FAILS (it must not crash the run —
        # the reference's "dropped is_anomaly" mutation fixture expects a
        # failing suite, tests/test_quality.py:94-99). ``exists`` handles
        # absence itself.
        if e.kind == "exists":
            return False
        cols = (e.column,) if e.column else e.columns
        return any(c not in present for c in cols if c)

    absent = [e for e in suite.expectations if missing(e)]
    checks = [e for e in suite.expectations if not missing(e)]
    aggs: list[Column] = []
    for i, e in enumerate(checks):
        if e.kind == "compound_unique":
            witness = f"__dq_dup{i}"
            df = df.withColumn(
                witness, F.count(F.lit(1)).over(Window.partitionBy(*e.columns))
            )
            metric = F.sum(F.when(F.col(witness) > 1, 1.0 / F.col(witness)))
        else:
            metric = _observed_expr(e, df)
        aggs.append(metric.alias(f"__dq_check{i}"))

    def report(row: Mapping) -> list[dict]:
        out = [
            {"check": e.name, "passed": False, "observed": float("nan")}
            for e in absent
        ]
        for i, e in enumerate(checks):
            value = row[f"__dq_check{i}"]
            obs = float(value) if value is not None else 0.0
            if e.kind == "compound_unique":
                obs = float(round(obs))
                passed = obs == 0.0
            else:
                passed = _passed(e, obs)
            out.append({"check": e.name, "passed": passed, "observed": obs})
        return out

    return df, aggs, report


def validate(df: DataFrame, suite: Suite) -> list[dict]:
    """Run a suite in ONE aggregation job; per-expectation report rows
    ``{check, passed, observed}``."""
    frame, aggs, report = suite_aggregates(df, suite)
    return report(frame.agg(*aggs).collect()[0].asDict() if aggs else {})


def raise_on_failure(report: list[dict], suite: Suite) -> list[dict]:
    """Raise QualityError listing every failed check of ``report``;
    return the report when all passed."""
    failed = [r for r in report if not r["passed"]]
    if failed:
        lines = ", ".join(f"{r['check']} (observed={r['observed']})" for r in failed)
        raise QualityError(f"suite '{suite.name}' failed: {lines}")
    return report


def validate_or_raise(df: DataFrame, suite: Suite) -> list[dict]:
    """Fail-fast runner (reference expectations.py:171-210): raises
    QualityError listing every failed check."""
    return raise_on_failure(validate(df, suite), suite)


def fk_check(
    child: DataFrame,
    parent: DataFrame,
    child_col: str,
    parent_col: str,
    ignore_nulls: bool = True,
) -> dict:
    """Referential-integrity expectation (dbt's ``relationships`` test):
    every (non-null) child key must exist in the parent. One left-anti
    join + count — Spark broadcasts the parent key set when small, and
    AQE picks the join strategy otherwise; either way a single job, no
    per-row Python. ``observed`` is the orphan count."""
    keys = child.select(F.col(child_col).alias("_k"))
    if ignore_nulls:
        keys = keys.filter(F.col("_k").isNotNull())
    parents = parent.select(F.col(parent_col).alias("_k")).distinct()
    orphans = keys.join(parents, "_k", "left_anti").count()
    return {
        "check": f"fk({child_col}->{parent_col})",
        "passed": orphans == 0,
        "observed": float(orphans),
    }


def row_count_ratio_check(
    df_a: DataFrame, df_b: DataFrame, tolerance: float = 0.05
) -> dict:
    """Silver/bronze coverage check (reference expectations.py:157-165):
    |a/b - 1| <= tolerance."""
    a, b = df_a.count(), df_b.count()
    ratio = a / b if b else 0.0
    return {
        "check": f"row_count_ratio(tol={tolerance})",
        "passed": abs(ratio - 1.0) <= tolerance,
        "observed": ratio,
    }


# ---------------------------------------------------------------------------
# The reference's concrete suites (sensor_bronze.json / sensor_silver.json)
# ---------------------------------------------------------------------------

SENSOR_TYPES = ("temperature", "humidity", "pressure", "vibration")
#: Physical bounds (reference expectations.py:21-26 / sensor_simulator.py:25-29)
PHYSICAL_BOUNDS = {
    "temperature": (-40.0, 85.0),
    "humidity": (0.0, 100.0),
    "pressure": (300.0, 1100.0),
    "vibration": (0.0, 10.0),
}


def bronze_suite() -> Suite:
    """sensor_bronze.json:4-86 — existence, null tolerance (mostly 0.99 on
    location), membership, value bounds, sensor-id regex."""
    exps: list[Expectation] = []
    for col in ("sensor_id", "sensor_type", "value", "event_time"):
        exps.append(Expectation("exists", column=col))
        exps.append(Expectation("not_null", column=col))
    exps.append(Expectation("not_null", column="location", mostly=0.99))
    exps.append(Expectation("in_set", column="sensor_type", value_set=SENSOR_TYPES))
    exps.append(
        Expectation("between", column="value", min_value=-40.0, max_value=1100.0)
    )
    exps.append(Expectation("regex", column="sensor_id", regex=r"^sensor-\d{3}$"))
    exps.append(Expectation("non_empty"))
    return Suite("sensor_bronze", tuple(exps))


def silver_suite() -> Suite:
    """sensor_silver.json:4-73 — bronze guarantees + is_anomaly domain +
    compound uniqueness of (sensor_id, event_time)."""
    exps = list(bronze_suite().expectations)
    exps.append(Expectation("exists", column="ingestion_timestamp"))
    exps.append(Expectation("exists", column="is_anomaly"))
    exps.append(Expectation("not_null", column="is_anomaly"))
    exps.append(
        Expectation("in_set", column="is_anomaly", value_set=(True, False))
    )
    exps.append(
        Expectation("compound_unique", columns=("sensor_id", "event_time"))
    )
    return Suite("sensor_silver", tuple(exps))


def check_freshness(
    df: DataFrame,
    ts_col: str,
    max_age_seconds: int = 1800,
    now: str | None = None,
) -> dict:
    """Data-freshness gate (the reference's Airflow freshness check,
    ``dags/streaming_pipeline_dag.py:121-126``, and the dashboard's
    30-minute stale banner, ``app.py:314-317``).

    One max() aggregation — no scan of anything but the ts column's
    parquet stats when the reader can answer max() from footers. ``now``
    is injectable (ISO timestamp string) for deterministic tests;
    defaults to the current clock.
    """
    from pyspark.sql import functions as F

    row = df.agg(F.max(ts_col).alias("latest")).collect()[0]
    latest = row["latest"]
    if latest is None:
        return {"fresh": False, "age_seconds": None, "latest": None}
    if now is not None:
        import datetime as _dt

        now_dt = _dt.datetime.fromisoformat(now)
    else:
        import datetime as _dt

        now_dt = _dt.datetime.now()
    age = (now_dt - latest).total_seconds()
    return {
        "fresh": age <= max_age_seconds,
        "age_seconds": age,
        "latest": latest.isoformat(),
    }


def schema_check(
    df: DataFrame,
    expected: dict[str, str],
    allow_extra: bool = False,
) -> list[dict]:
    """Schema-contract gate: compare the DataFrame's resolved schema to
    an expected ``{column: simpleString-type}`` spec and report drift as
    typed findings (``missing`` / ``extra`` / ``type_changed``).

    Plan-time only — reads zero data. This is the runtime twin of the
    GE schema expectations (`expect_column_to_exist` + column types) and
    of the environment-drift canary in ``tests/test_driver_contract.py``:
    run it at pipeline entry so an upstream producer changing a parquet
    type (the round-2 TIMESTAMP_NTZ incident) fails loudly at the
    boundary instead of deep inside an operator.
    """
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    findings: list[dict] = []
    for col, typ in expected.items():
        if col not in actual:
            findings.append({"column": col, "kind": "missing",
                             "expected": typ, "actual": None})
        elif actual[col] != typ:
            findings.append({"column": col, "kind": "type_changed",
                             "expected": typ, "actual": actual[col]})
    if not allow_extra:
        for col in actual:
            if col not in expected:
                findings.append({"column": col, "kind": "extra",
                                 "expected": None, "actual": actual[col]})
    return findings


def schema_check_or_raise(
    df: DataFrame, expected: dict[str, str], allow_extra: bool = False
) -> None:
    """Raise :class:`QualityError` listing every drift finding."""
    findings = schema_check(df, expected, allow_extra)
    if findings:
        raise QualityError(
            "schema drift: "
            + "; ".join(
                f"{f['kind']}:{f['column']}"
                f" (expected {f['expected']}, got {f['actual']})"
                for f in findings
            )
        )
