"""Cleaning-operator tests reproducing the reference's golden values
(SURVEY.md §5; reference tests/test_transformations.py, test_integration.py)
— but as real-SparkSession tests, not pandas mirrors."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from streaming_etl_pipeline_spark.operators import cleaning

T0 = datetime(2024, 6, 15, 10, 0, 0)


def _bronze(spark, rows):
    return spark.createDataFrame(
        rows,
        "sensor_id string, sensor_type string, value double, "
        "event_time timestamp, ingestion_time timestamp",
    )


def test_dedup_keeps_latest_ingestion(spark):
    # Reference golden value: duplicate (sensor_id, event_time) pair with
    # values 22.5 then 22.7 (later ingestion) → dedup keeps 22.7
    # (reference tests/test_transformations.py:19-33).
    df = _bronze(
        spark,
        [
            ("sensor-001", "temperature", 22.5, T0, T0),
            ("sensor-001", "temperature", 22.7, T0, T0 + timedelta(minutes=5)),
            ("sensor-002", "temperature", 30.0, T0, T0),
        ],
    )
    out = cleaning.deduplicate_latest(
        df, keys=["sensor_id", "event_time"], order_col="ingestion_time"
    )
    assert out.count() == 2
    kept = {r.sensor_id: r.value for r in out.collect()}
    assert kept["sensor-001"] == 22.7


def test_dedup_five_way_collapse(spark):
    # 5-way duplicate collapses to the latest ingestion
    # (reference tests/test_integration.py:301-323).
    rows = [
        ("sensor-001", "temperature", 20.0 + i, T0, T0 + timedelta(minutes=i))
        for i in range(5)
    ]
    df = _bronze(spark, rows)
    out = cleaning.deduplicate_latest(
        df, keys=["sensor_id", "event_time"], order_col="ingestion_time"
    )
    assert out.count() == 1
    assert out.collect()[0].value == 24.0


def test_dedup_tiebreak_breaks_order_ties(spark):
    """When ``order_col`` ties, the higher ``tiebreak`` wins (the window
    sorts DESC on both)."""
    rows = [
        ("a", 1, 1, "x"),
        ("a", 2, 5, "keep"),  # order tie below, higher tiebreak wins
        ("a", 2, 3, "y"),
        ("b", 7, 0, "only"),
    ]
    df = spark.createDataFrame(rows, "k string, o int, tb int, payload string")
    w = cleaning.deduplicate_latest(df, ["k"], "o", tiebreak=["tb"]).collect()
    assert {(r["k"], r["payload"]) for r in w} == {("a", "keep"), ("b", "only")}


def test_null_filter_drops_required_nulls(spark):
    df = _bronze(
        spark,
        [
            ("sensor-001", "temperature", 22.5, T0, T0),
            (None, "temperature", 22.5, T0, T0),
            ("sensor-001", None, 22.5, T0, T0),
            ("sensor-001", "temperature", None, T0, T0),
            ("sensor-001", "temperature", 22.5, None, T0),
        ],
    )
    out = cleaning.drop_null_required(
        df, ["sensor_id", "sensor_type", "value", "event_time"]
    )
    assert out.count() == 1


def test_range_flags_reference_bounds(spark):
    # Out-of-range fixtures: temperature 75.0, humidity 99.5, vibration 5.5
    # are all anomalous (reference tests/conftest.py:56-83); in-range rows
    # are not.
    df = _bronze(
        spark,
        [
            ("s1", "temperature", 75.0, T0, T0),
            ("s2", "humidity", 99.5, T0, T0),
            ("s3", "vibration", 5.5, T0, T0),
            ("s4", "temperature", 22.0, T0, T0),
            ("s5", "pressure", 1013.0, T0, T0),
        ],
    )
    out = cleaning.flag_out_of_range(df, "sensor_type", "value")
    flags = {r.sensor_id: r.is_anomaly for r in out.collect()}
    assert flags == {"s1": True, "s2": True, "s3": True, "s4": False, "s5": False}


def test_zscore_flags_spike_and_merges_range_flag(spark):
    # 100 steady readings then one big spike → only the spike is flagged
    # (z-score window 100, threshold 3 — bronze_to_silver.py:72).
    rows = [
        ("s1", "temperature", 22.0 + (i % 2) * 0.1, T0 + timedelta(minutes=i), T0)
        for i in range(100)
    ] + [("s1", "temperature", 59.0, T0 + timedelta(minutes=100), T0)]
    df = _bronze(spark, rows)
    out = cleaning.flag_out_of_range(df, "sensor_type", "value")
    out = cleaning.flag_zscore(
        out, partition_cols=["sensor_id"], order_cols=["event_time"], value_col="value"
    )
    res = out.orderBy("event_time").collect()
    assert [r.is_anomaly for r in res[:100]] == [False] * 100
    # spike is in physical range (<=60) so only the z-score catches it
    assert res[100].is_anomaly is True


def test_late_merge_corrected_value_wins(spark):
    # Late row with corrected value and 1h-later ingestion replaces the
    # original (reference tests/test_integration.py:364-390).
    existing = _bronze(spark, [("sensor-001", "temperature", 99.9, T0, T0)])
    late = _bronze(
        spark, [("sensor-001", "temperature", 22.5, T0, T0 + timedelta(hours=1))]
    )
    out = cleaning.merge_late_data(
        existing, late, keys=["sensor_id", "event_time"], order_col="ingestion_time"
    )
    assert out.count() == 1
    assert out.collect()[0].value == 22.5


def test_late_merge_tolerates_missing_columns(spark):
    # unionByName(allowMissingColumns=True) — bronze_to_silver.py:158.
    existing = _bronze(spark, [("s1", "temperature", 1.0, T0, T0)]).withColumn(
        "pipeline_version", F.lit("1.2.0")
    )
    late = _bronze(spark, [("s1", "temperature", 2.0, T0, T0 + timedelta(hours=1))])
    out = cleaning.merge_late_data(
        existing, late, keys=["sensor_id", "event_time"], order_col="ingestion_time"
    )
    row = out.collect()[0]
    assert row.value == 2.0 and row.pipeline_version is None


def test_lineage_columns(spark):
    df = _bronze(spark, [("s1", "temperature", 1.0, T0, T0)])
    out = cleaning.add_lineage(df)
    row = out.collect()[0]
    assert row.source_file == "kafka-stream"
    assert row.pipeline_version == cleaning.PIPELINE_VERSION
    assert row.ingestion_timestamp is not None and row.processing_timestamp is not None
