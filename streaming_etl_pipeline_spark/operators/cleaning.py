"""Cleaning operators — the engine's Silver layer (SURVEY.md §2.2/2.5).

Re-expresses ``src/transformations/bronze_to_silver.py`` Spark-first:
keep-latest dedup (W1), required-column null filter (P4), per-type range
anomaly flags (P7), rolling z-score anomaly flags (W2+W3), late-data
union-merge (J1), and lineage columns (P3).

Scale design:
- dedup and z-score both shuffle once on the entity key; at 1000 executors
  a hot entity (one sensor producing most rows) would skew that shuffle —
  AQE skew handling covers joins;
- the rolling z-score is a bounded ROWS frame (trailing N+1 rows), so state
  per partition is O(window), never O(partition);
- row counts for audit come from ``df.observe`` in the pipeline runner, not
  repeated ``count()`` actions (the reference recomputes its plan 5× —
  SURVEY.md §3.2).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Reference constants, reproduced exactly (bronze_to_silver.py:29-37,72).
ANOMALY_RANGES: dict[str, tuple[float, float]] = {
    "temperature": (-20.0, 60.0),
    "humidity": (5.0, 95.0),
    "pressure": (950.0, 1070.0),
    "vibration": (0.0, 2.0),
}
ZSCORE_WINDOW = 100
ZSCORE_THRESHOLD = 3.0
PIPELINE_VERSION = "1.2.0"
FLAG_COL = "is_anomaly"


def deduplicate_latest(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """W1 — keep the latest row per key (latest ``order_col`` wins; the
    reference keeps the newest ``ingestion_time`` per ``(sensor_id,
    event_time)``, ``bronze_to_silver.py:40-52``). Add a unique ``tiebreak``
    column for full determinism when ``order_col`` can tie."""
    order = [F.col(order_col).desc()] + [F.col(c).desc() for c in tiebreak]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_row_num", F.row_number().over(w))
        .filter(F.col("_row_num") == 1)
        .drop("_row_num")
    )


def drop_null_required(df: DataFrame, required: Sequence[str]) -> DataFrame:
    """P4 — drop rows with nulls in required columns
    (``bronze_to_silver.py:118-124``)."""
    return df.na.drop(subset=list(required))


def flag_out_of_range(
    df: DataFrame,
    type_col: str,
    value_col: str,
    ranges: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """P7 — per-type range anomaly flag (``bronze_to_silver.py:55-69``).

    The per-type bounds are folded into one boolean expression at plan
    build time — Catalyst constant-folds and codegens it."""
    ranges = ranges if ranges is not None else ANOMALY_RANGES
    cond: Column = F.lit(False)
    for stype, (lo, hi) in ranges.items():
        cond = cond | (
            (F.col(type_col) == stype)
            & ((F.col(value_col) < lo) | (F.col(value_col) > hi))
        )
    return df.withColumn(FLAG_COL, F.when(cond, True).otherwise(False))


def flag_zscore(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
) -> DataFrame:
    """W2+W3 — rolling z-score anomaly detection
    (``bronze_to_silver.py:87-115``): trailing ``ZSCORE_WINDOW+1``-row mean
    and sample stddev per entity; |z| > ``ZSCORE_THRESHOLD`` flags the row;
    OR-merged into an existing ``FLAG_COL`` if present."""
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(-ZSCORE_WINDOW, 0)
    )
    v = F.col(value_col)
    rolling_avg = F.avg(v).over(w)
    rolling_std = F.stddev(v).over(w)
    z = F.abs((v - rolling_avg) / rolling_std)
    is_z_anom = (
        F.when(rolling_std.isNull() | (rolling_std == 0), False)
        .otherwise(z > ZSCORE_THRESHOLD)
    )
    merged = (
        (F.col(FLAG_COL) | is_z_anom) if FLAG_COL in df.columns else is_z_anom
    )
    return (
        df.withColumn("_rolling_avg", rolling_avg)
        .withColumn("_rolling_std", rolling_std)
        .withColumn(FLAG_COL, merged)
        .drop("_rolling_avg", "_rolling_std")
    )


def merge_late_data(
    existing: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    order_col: str,
) -> DataFrame:
    """J1 — late-data upsert (``bronze_to_silver.py:145-159``): schema-
    tolerant union then keep-latest dedup, so a corrected late row with a
    newer ``order_col`` replaces the original."""
    unioned = existing.unionByName(new, allowMissingColumns=True)
    return deduplicate_latest(unioned, keys, order_col)


def add_lineage(df: DataFrame, source_file: str = "kafka-stream") -> DataFrame:
    """P3 — lineage columns (``bronze_to_silver.py:127-142``)."""
    return (
        df.withColumn("ingestion_timestamp", F.current_timestamp())
        .withColumn("source_file", F.lit(source_file))
        .withColumn("processing_timestamp", F.current_timestamp())
        .withColumn("pipeline_version", F.lit(PIPELINE_VERSION))
    )
