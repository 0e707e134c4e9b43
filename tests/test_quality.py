"""Quality-engine tests: each expectation fails on the right mutation
(reference tests/test_quality.py, FIXTURES.md §6)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from streaming_etl_pipeline_spark import quality

T0 = datetime(2024, 6, 15, 10, 0, 0)
SCHEMA = (
    "sensor_id string, sensor_type string, value double, "
    "event_time timestamp, location string"
)


@pytest.fixture()
def good_bronze(spark):
    rows = [
        (f"sensor-{i:03d}", "temperature", 22.0 + i, T0, f"floor-1-zone-A")
        for i in range(10)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _report_dict(report):
    return {r["check"]: r["passed"] for r in report}


def test_good_bronze_passes(good_bronze):
    report = quality.validate_or_raise(good_bronze, quality.bronze_suite())
    assert all(r["passed"] for r in report)


def test_null_sensor_id_fails(spark, good_bronze):
    bad = good_bronze.union(
        spark.createDataFrame([(None, "temperature", 22.0, T0, "x")], SCHEMA)
    )
    with pytest.raises(quality.QualityError, match="not_null"):
        quality.validate_or_raise(bad, quality.bronze_suite())


def test_unknown_sensor_type_fails(spark, good_bronze):
    bad = good_bronze.union(
        spark.createDataFrame([("sensor-099", "radiation", 1.0, T0, "x")], SCHEMA)
    )
    report = quality.validate(bad, quality.bronze_suite())
    assert _report_dict(report)["in_set(sensor_type)"] is False


def test_mostly_null_tolerance(spark):
    # 1 null location in 200 rows (0.5% nulls) passes mostly=0.99;
    # 5 nulls (2.5%) fails — reference sensor_bronze.json:71-85.
    rows = [
        (f"sensor-{i:03d}", "temperature", 1.0, T0, None if i < 1 else "loc")
        for i in range(200)
    ]
    ok = spark.createDataFrame(rows, SCHEMA)
    assert _report_dict(quality.validate(ok, quality.bronze_suite()))[
        "not_null(location)"
    ]
    rows_bad = [
        (f"sensor-{i:03d}", "temperature", 1.0, T0, None if i < 5 else "loc")
        for i in range(200)
    ]
    bad = spark.createDataFrame(rows_bad, SCHEMA)
    assert not _report_dict(quality.validate(bad, quality.bronze_suite()))[
        "not_null(location)"
    ]


def test_out_of_bounds_value_fails(spark, good_bronze):
    bad = good_bronze.union(
        spark.createDataFrame([("sensor-098", "pressure", 2000.0, T0, "x")], SCHEMA)
    )
    assert not _report_dict(quality.validate(bad, quality.bronze_suite()))[
        "between(value)"
    ]


def test_bad_sensor_id_regex_fails(spark, good_bronze):
    bad = good_bronze.union(
        spark.createDataFrame([("sensor-12", "temperature", 1.0, T0, "x")], SCHEMA)
    )
    assert not _report_dict(quality.validate(bad, quality.bronze_suite()))[
        "regex(sensor_id)"
    ]


def test_empty_frame_fails_non_empty(spark, good_bronze):
    empty = good_bronze.limit(0)
    assert not _report_dict(quality.validate(empty, quality.bronze_suite()))[
        "non_empty(*)"
    ]


def test_duplicate_key_fails_silver(spark, good_bronze):
    silver = good_bronze.withColumn("is_anomaly", F.lit(False))
    dup = silver.union(silver.limit(1))
    assert not _report_dict(quality.validate(dup, quality.silver_suite()))[
        "compound_unique(sensor_id,event_time)"
    ]
    assert _report_dict(quality.validate(silver, quality.silver_suite()))[
        "compound_unique(sensor_id,event_time)"
    ]


def test_compound_unique_counts_duplicated_keys(spark, good_bronze):
    """``observed`` is the number of duplicated keys, not of extra rows:
    one key held three times and one twice are 2.0."""
    silver = good_bronze.withColumn("is_anomaly", F.lit(False))
    first = silver.orderBy("sensor_id").limit(1)
    last = silver.orderBy(F.desc("sensor_id")).limit(1)
    dup = silver.union(first).union(first).union(last)
    report = {
        r["check"]: r for r in quality.validate(dup, quality.silver_suite())
    }
    got = report["compound_unique(sensor_id,event_time)"]
    assert got["observed"] == 2.0 and got["passed"] is False


def test_missing_is_anomaly_fails_not_crashes(good_bronze):
    report = quality.validate(good_bronze, quality.silver_suite())
    d = _report_dict(report)
    assert d["exists(is_anomaly)"] is False
    assert d["not_null(is_anomaly)"] is False


def test_row_count_ratio(spark, good_bronze):
    within = quality.row_count_ratio_check(good_bronze, good_bronze)
    assert within["passed"]
    out = quality.row_count_ratio_check(good_bronze.limit(5), good_bronze)
    assert not out["passed"]


def test_fk_check_referential_integrity(spark):
    from conftest import SF_ORACLE

    from streaming_etl_pipeline_spark.sources import read_table

    orders = read_table(spark, SF_ORACLE, "orders")
    customer = read_table(spark, SF_ORACLE, "customer")
    ok = quality.fk_check(orders, customer, "o_custkey", "c_custkey")
    assert ok["passed"] and ok["observed"] == 0.0
    # remove some parents -> orphans detected
    broken = quality.fk_check(
        orders, customer.filter(F.col("c_custkey") > 100), "o_custkey", "c_custkey"
    )
    assert not broken["passed"] and broken["observed"] > 0


def test_single_pass_plan(good_bronze):
    # The whole simple-suite report must come from ONE aggregate job —
    # no per-check actions (the reference recomputes per check).
    report = quality.validate(good_bronze, quality.bronze_suite())
    assert len(report) == 13


def test_check_freshness(spark):
    from pyspark.sql import Row

    from streaming_etl_pipeline_spark.quality.expectations import check_freshness

    df = spark.createDataFrame(
        [Row(ts="2024-06-15 10:00:00"), Row(ts="2024-06-15 10:25:00")]
    ).select(F.col("ts").cast("timestamp").alias("ts"))

    ok = check_freshness(df, "ts", max_age_seconds=1800, now="2024-06-15T10:40:00")
    assert ok["fresh"] and ok["age_seconds"] == 900

    stale = check_freshness(df, "ts", max_age_seconds=1800, now="2024-06-15T11:30:00")
    assert not stale["fresh"] and stale["age_seconds"] == 3900

    empty = check_freshness(df.filter("ts IS NULL"), "ts")
    assert not empty["fresh"] and empty["latest"] is None


# ---------------------------------------------------------------------------
# GE-JSON suite loader (reference great_expectations/expectations/*.json)
# ---------------------------------------------------------------------------

REF_GE_DIR = "/root/reference/great_expectations/expectations"


def _ref_bronze_frame(spark, mutate=None):
    # Reference wire schema: the JSON suite checks the RAW event shape
    # (string ISO timestamp column named "timestamp").
    rows = [
        (f"sensor-{i:03d}", "temperature", "2024-06-15T10:00:00", 22.0 + i,
         "celsius", "floor-1")
        for i in range(10)
    ]
    if mutate:
        rows = mutate(rows)
    return spark.createDataFrame(
        rows,
        "sensor_id string, sensor_type string, timestamp string, "
        "value double, unit string, location string",
    )


def test_ge_json_loader_parses_reference_bronze():
    import os

    import pytest as _pytest

    if not os.path.isdir(REF_GE_DIR):
        _pytest.skip("reference checkout not present")
    suite = quality.Suite.from_ge_json(f"{REF_GE_DIR}/sensor_bronze.json")
    assert suite.name == "sensor_bronze"
    kinds = [(e.kind, e.column or ",".join(e.columns)) for e in suite.expectations]
    assert ("exists", "sensor_id") in kinds
    assert ("in_set", "sensor_type") in kinds
    assert ("between", "value") in kinds
    assert ("regex", "sensor_id") in kinds
    mostly = {e.column: e.mostly for e in suite.expectations if e.mostly < 1.0}
    assert mostly == {"value": 0.99, "location": 0.99}


def test_ge_json_bronze_suite_validates_conforming_frame(spark):
    import os

    import pytest as _pytest

    if not os.path.isdir(REF_GE_DIR):
        _pytest.skip("reference checkout not present")
    suite = quality.Suite.from_ge_json(f"{REF_GE_DIR}/sensor_bronze.json")
    report = quality.validate(_ref_bronze_frame(spark), suite)
    assert all(r["passed"] for r in report), _report_dict(report)


def test_ge_json_silver_suite_equivalent_to_python_declaration(spark):
    """The loaded silver suite and the Python silver_suite() agree on
    every overlapping check kind for the same violation."""
    import os

    import pytest as _pytest

    if not os.path.isdir(REF_GE_DIR):
        _pytest.skip("reference checkout not present")
    suite = quality.Suite.from_ge_json(f"{REF_GE_DIR}/sensor_silver.json")
    kinds = {(e.kind, e.column or ",".join(e.columns)) for e in suite.expectations}
    assert ("compound_unique", "sensor_id,event_time") in kinds
    assert ("in_set", "is_anomaly") in kinds
    py_kinds = {
        (e.kind, e.column or ",".join(e.columns))
        for e in quality.silver_suite().expectations
    }
    # every JSON-declared check exists in the Python suite (the Python
    # suite adds engine extras like non_empty on top)
    assert kinds <= py_kinds


def test_ge_mostly_on_value_checks(spark):
    """GE `mostly` semantics on a value-level check: 1 bad row in 10 with
    mostly=0.85 passes; with the default mostly=1.0 it fails."""

    def mutate(rows):
        rows[0] = ("sensor-000", "temperature", "2024-06-15T10:00:00",
                   2000.0, "celsius", "floor-1")
        return rows

    df = _ref_bronze_frame(spark, mutate)
    tolerant = quality.Expectation(
        "between", column="value", min_value=-50.0, max_value=1100.0, mostly=0.85
    )
    strict = quality.Expectation(
        "between", column="value", min_value=-50.0, max_value=1100.0
    )
    report = quality.validate(df, quality.Suite("m", (tolerant, strict)))
    assert report[0]["passed"] and report[0]["observed"] == 0.9
    assert not report[1]["passed"] and report[1]["observed"] == 1.0


def test_schema_check_reports_drift_kinds(spark):
    from streaming_etl_pipeline_spark.quality.expectations import (
        QualityError,
        schema_check,
        schema_check_or_raise,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.5)], "id long, name string, score double"
    )
    expected = {"id": "bigint", "name": "string", "score": "double"}
    assert schema_check(df, expected) == []

    drift = schema_check(
        df, {"id": "bigint", "name": "int", "missing_col": "string"}
    )
    kinds = {(f["column"], f["kind"]) for f in drift}
    assert kinds == {
        ("name", "type_changed"),
        ("missing_col", "missing"),
        ("score", "extra"),
    }
    # allow_extra tolerates producer-added columns, still catches breaks
    relaxed = schema_check(df, {"id": "bigint", "name": "string"},
                           allow_extra=True)
    assert relaxed == [] or all(f["kind"] != "extra" for f in relaxed)

    import pytest as _pytest

    with _pytest.raises(QualityError, match="type_changed:name"):
        schema_check_or_raise(df, {"id": "bigint", "name": "int",
                                   "score": "double"})
