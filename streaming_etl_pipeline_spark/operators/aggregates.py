"""Aggregation operators — the engine's Gold layer (SURVEY.md §2.4).

Re-expresses the reference's three gold aggregations
(``src/transformations/silver_to_gold.py:44-161``) as one generic windowed
stats operator plus calendar-day summaries, and the dashboard's pandas
analytics (last-per-group, pivot, histogram, top-k —
``src/dashboard/app.py:186,231-346``) as distributed Spark plans.

Scale design:
- every groupBy here is a hash aggregate with map-side partial aggregation;
  the only shuffle is on the grouping keys, and AQE coalesces the post-
  shuffle partitions at runtime;
- percentiles are *exact* (``F.percentile``) by default for oracle parity;
  ``skew=True`` switches to ``percentile_approx`` (single-pass sketch, the
  right call at 100 TB where a sort-based exact percentile would spill);
- distinct counts are exact by default with an ``approx`` switch
  (HyperLogLog++) for the same reason.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from streaming_etl_pipeline_spark.functions import (
    exact_avg,
    exact_stddev,
    null_if_nan,
    time_bucket,
)


def _cols(cols: Sequence[str | Column]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in cols]


#: Ceiling for the exact-percentile repartition count — a backstop against
#: a pathological size estimate, far above any sane shuffle width.
_MAX_EXACT_PCT_PARTITIONS = 1 << 20

#: The windowed percentiles.
PERCENTILES = (0.5, 0.95, 0.99)

#: :func:`robust_stats`' trim quantiles and its decimal accumulation.
ROBUST_LOWER = 0.05
ROBUST_UPPER = 0.95
ROBUST_SCALE = 6
ROBUST_DIGITS = 6


def _exact_percentile_partitions(df: DataFrame) -> int:
    """Partition count for the exact-percentile keyed repartition.

    ``REPARTITION_BY_NUM`` is exempt from AQE coalescing (deliberately —
    see the call-site comment), so the count must be right at EVERY
    scale, not just local mode: the shuffle's payload is every raw value
    and each group's buffer materializes on one reducer, so a count
    pinned to defaultParallelism means per-partition bytes grow linearly
    with data per core (guide §5 spill risk at 100 TB). Scale the count
    with the input instead: ``max(defaultParallelism,
    ceil(estimated_bytes / advisoryPartitionSizeInBytes))`` — locally
    (input ≪ advisory) this stays defaultParallelism and the sf0.1 plan
    is unchanged; at scale it tracks data volume exactly like AQE's own
    advisory sizing would. The estimate is Catalyst's logical-plan
    sizeInBytes on the ANALYZED plan (driver-side metadata arithmetic —
    file sizes through the size-only visitor; no optimizer run, no data
    scan); an unknown/absurd estimate falls back to defaultParallelism.
    """
    from streaming_etl_pipeline_spark.sources.io import (
        _UNKNOWN_SIZE,
        parse_size_bytes,
    )

    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    try:
        # py4j may hand back a Python int directly or a java BigInt proxy;
        # str() of either is the decimal digits.
        est = int(str(df._jdf.queryExecution().analyzed().stats().sizeInBytes()))
        advisory = parse_size_bytes(
            spark.conf.get(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"
            )
        )
    except Exception:  # Connect / API drift / unparsable conf
        return n
    if est <= 0 or est >= _UNKNOWN_SIZE or advisory <= 0:
        return n
    return max(n, min(-(-est // advisory), _MAX_EXACT_PCT_PARTITIONS))


def windowed_stats(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    bucket_seconds: int,
    value_col: str,
    expected_per_window: int | None = None,
    distinct_count_col: str | None = None,
    oracle_safe: bool = True,
    skew: bool = False,
) -> DataFrame:
    """Tumbling-window stats — the reference's gold_sensor_5min /
    location_hourly shape (``silver_to_gold.py:44-134``).

    ``skew=True`` hardens the plan against a hot (window, key) group.
    Every aggregate here except exact percentiles is already skew-safe:
    sum/count/min/max/avg/stddev compute mergeable partials map-side (a
    hot key contributes one partial per upstream partition), and
    ``countDistinct`` shuffles on (group, value) so a hot group's
    distinct values spread across reducers. The one buffer that grows
    with the hot group's ROW count is the exact-percentile accumulator
    (it must see every value in one place), so ``skew=True`` forces the
    mergeable ``percentile_approx`` sketch (bounded memory per partial).
    Measured on a 50 %-hot-key
    fixture in ``tests/test_skew.py``; numbers in SCALE.md.

    Output: keys + window_start/window_end + avg/min/max/reading_count/
    stddev + p50/p95/p99_value columns (+ sensor_health_pct when
    ``expected_per_window`` is given, + unique_<col>_count when
    ``distinct_count_col`` is given).

    ``oracle_safe=True`` (default) computes avg/stddev with exact decimal
    accumulation (order-independent → engine-portable results, rounded to
    6 dp) and rounds percentiles to 4 dp; pass ``False`` for the plain
    double path (marginally cheaper, result depends on accumulation order).
    """
    v = F.col(value_col)
    pct_fn = F.percentile_approx if skew else F.percentile
    if oracle_safe:
        avg_c = exact_avg(v)
        std_c = exact_stddev(v)
    else:
        avg_c, std_c = F.avg(v), null_if_nan(F.stddev(v))
    aggs: list[Column] = [
        avg_c.alias("avg_value"),
        F.min(v).alias("min_value"),
        F.max(v).alias("max_value"),
        F.count(v).alias("reading_count"),
        std_c.alias("stddev_value"),
    ]
    # One shared percentile accumulator for all requested quantiles (the
    # array form sorts/sketches the group once, vs once per quantile —
    # the dominant agg cost in the 5-min/hourly gold shapes).
    aggs.append(
        pct_fn(v, F.array(*[F.lit(p) for p in PERCENTILES])).alias("_pcts")
    )
    if distinct_count_col:
        aggs.append(
            F.countDistinct(distinct_count_col).alias(
                f"unique_{distinct_count_col}_count"
            )
        )
    pre = df.withColumn("window_start", time_bucket(ts_col, bucket_seconds))
    if not skew:
        # Exact-percentile partials are pure value buffers — map-side
        # "partial aggregation" reduces nothing, yet pays per-(partition,
        # group) buffer construction, serialization across the exchange,
        # and a merge pass (measured 7.2 CPU-s of the sensor_5min plan at
        # sf0.1). Establish the aggregation's partitioning ONCE with a
        # keyed repartition instead (guide §2.4: operations keyed the same
        # way share one exchange): the groupBy's distribution requirement
        # is then already satisfied (also with a distinct_count_col — the
        # first rewrite phase groups by a SUPERSET of these keys, and a
        # hash partitioning on a subset satisfies it), so raw rows shuffle
        # once and each group's buffer is built exactly once. Shuffled
        # bytes are unchanged (the buffers ARE the values). Hot-key safety
        # is unchanged too: the exact percentile must materialize a
        # group's values in one buffer in ANY plan — ``skew=True`` remains
        # the bounded-memory escape and keeps the mergeable-sketch shape.
        #
        # The partition count floor is the session's parallelism: AQE's
        # size-based coalescing (64 MB advisory) would collapse this
        # small-bytes/high-CPU exchange to ONE task and serialize the
        # whole buffer build (measured: the 1.4 MB sf0.1 shuffle coalesced
        # to 1 partition, 2.8 s single-core). REPARTITION_BY_NUM is exempt
        # from coalescing, so the count itself must scale with the input
        # (r12, guide §5): see _exact_percentile_partitions — locally it
        # equals defaultParallelism (plan unchanged), at 100 TB it grows
        # with estimated bytes so per-partition value buffers stay near
        # the advisory size instead of data/cores.
        n = _exact_percentile_partitions(pre)
        pre = pre.repartition(n, "window_start", *keys)
    out = (
        pre.groupBy("window_start", *keys)
        .agg(*aggs)
        .withColumn(
            "window_end",
            F.timestamp_micros(
                F.unix_micros(F.col("window_start")) + bucket_seconds * 1_000_000
            ),
        )
    )
    for i, p in enumerate(PERCENTILES):
        pc = F.element_at("_pcts", i + 1)
        if oracle_safe:
            pc = F.round(pc, 4)
        out = out.withColumn(f"p{int(p * 100)}_value", pc)
    out = out.drop("_pcts")
    if expected_per_window:
        # sensor_health_pct — silver_to_gold.py:69-75 (300 expected / 5 min).
        out = out.withColumn(
            "sensor_health_pct",
            F.round(F.col("reading_count") / F.lit(expected_per_window) * 100.0, 2),
        )
    return out


def daily_summary(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    value_col: str,
    anomaly_col: str | None = None,
    distinct_count_col: str | None = None,
    oracle_safe: bool = True,
) -> DataFrame:
    """Calendar-day rollup — gold_daily_summary (``silver_to_gold.py:137-161``):
    per-day avg/min/max/total + conditional anomaly count + distinct entities
    + a display date string."""
    v = F.col(value_col)
    if oracle_safe:
        avg_c = exact_avg(v)
        std_c = exact_stddev(v)
    else:
        avg_c, std_c = F.avg(v), null_if_nan(F.stddev(v))
    aggs = [
        avg_c.alias("avg_value"),
        F.min(v).alias("min_value"),
        F.max(v).alias("max_value"),
        F.count(v).alias("total_readings"),
        std_c.alias("stddev_value"),
    ]
    if anomaly_col:
        aggs.append(
            F.sum(F.when(F.col(anomaly_col), 1).otherwise(0)).alias("anomaly_count")
        )
    if distinct_count_col:
        aggs.append(
            F.countDistinct(distinct_count_col).alias(
                f"unique_{distinct_count_col}_count"
            )
        )
    return (
        df.withColumn("date", F.to_date(ts_col))
        .groupBy("date", *keys)
        .agg(*aggs)
        .withColumn("date_str", F.date_format("date", "yyyy-MM-dd"))
    )


def last_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str | Column],
) -> DataFrame:
    """Latest row per group (A11 — the dashboard's ``groupby().last()``,
    ``src/dashboard/app.py:186``) as a rank-1 window, fully distributed.
    ``order_cols`` should end with a unique tiebreaker for determinism."""
    w = Window.partitionBy(*keys).orderBy(*[c.desc() for c in _cols(order_cols)])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def pivot_counts(
    df: DataFrame,
    index_cols: Sequence[str],
    pivot_col: str,
    pivot_values: Sequence[str],
    agg: Column | None = None,
) -> DataFrame:
    """Cross-tab (A12 — dashboard ``pivot_table``, ``app.py:231-234``).
    Explicit ``pivot_values`` keeps the plan single-pass (no extra distinct
    scan) and the output schema stable."""
    agg = agg if agg is not None else F.count(F.lit(1))
    return df.groupBy(*index_cols).pivot(pivot_col, list(pivot_values)).agg(agg)


def histogram(
    df: DataFrame,
    col: str,
    bins: Sequence[float],
    labels: Sequence[str] | None = None,
) -> DataFrame:
    """Binned counts (A13 — dashboard ``pd.cut`` health histogram,
    ``app.py:344-346``). Half-open bins [lo, hi); below-range rows fall in
    ``underflow``, at-or-above-max in ``overflow`` unless labels say
    otherwise. One hash aggregate, no shuffle beyond the bucket key."""
    if labels is None:
        labels = [f"[{bins[i]}, {bins[i + 1]})" for i in range(len(bins) - 1)]
    expr = F.when(F.col(col) < F.lit(bins[0]), F.lit("underflow"))
    for i in range(len(bins) - 1):
        expr = expr.when(F.col(col) < F.lit(bins[i + 1]), F.lit(labels[i]))
    expr = expr.otherwise(F.lit("overflow"))
    return (
        df.withColumn("bucket", expr)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("bucket_count"))
    )


def top_k(
    df: DataFrame,
    metric: str | Column,
    k: int,
    tiebreak: Sequence[str | Column] = (),
) -> DataFrame:
    """Global top-k by a metric (O3 — dashboard top/recent views).

    ``orderBy(...).limit(k)`` compiles to TakeOrderedAndProject: each task
    keeps a k-row heap, only k rows per partition reach the driver-side
    merge — no global sort at any scale. Tiebreakers make the cut
    deterministic."""
    m = F.col(metric) if isinstance(metric, str) else metric
    order = [m.desc()] + [c.asc() for c in _cols(tiebreak)]
    return df.orderBy(*order).limit(k)


def robust_stats(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Outlier-robust location stats per key: trimmed mean (drop values
    outside the [ROBUST_LOWER, ROBUST_UPPER] quantiles), winsorized mean
    (clip to them), and MAD (median absolute deviation from the median).

    Two aggregation passes: pass 1 computes the three quantile cutoffs
    per key (exact ``F.percentile`` — swap for ``percentile_approx`` at
    100 TB, same shape); the cutoff table is key-cardinality-sized, so
    it broadcasts back onto the data and pass 2 is one ordinary
    map-side-combined aggregation. No self-join of the fact table, no
    global sort. Means accumulate in DECIMAL (order-independent, exact
    cross-engine parity — see functions/core.py exact_* helpers).
    """
    v = F.col(value_col)
    bounds = df.groupBy(*keys).agg(
        F.percentile(v, ROBUST_LOWER).alias("_q_lo"),
        F.percentile(v, ROBUST_UPPER).alias("_q_hi"),
        F.percentile(v, 0.5).alias("_med"),
    )
    joined = (
        df.join(F.broadcast(bounds), list(keys))
        if keys
        else df.crossJoin(F.broadcast(bounds))
    )
    dec = f"decimal(18,{ROBUST_SCALE})"
    in_range = v.between(F.col("_q_lo"), F.col("_q_hi"))
    clipped = F.least(F.greatest(v, F.col("_q_lo")), F.col("_q_hi"))
    return joined.groupBy(*keys).agg(
        F.round(
            F.sum(F.when(in_range, v.cast(dec))).cast("double")
            / F.count(F.when(in_range, F.lit(1))),
            ROBUST_DIGITS,
        ).alias("trimmed_mean"),
        F.round(
            F.sum(clipped.cast(dec)).cast("double") / F.count(v), ROBUST_DIGITS
        ).alias("winsorized_mean"),
        F.round(F.percentile(F.abs(v - F.col("_med")), 0.5), 4).alias("mad"),
        F.count(v).alias("n_values"),
    )


def robust_stats_sql(
    table: str,
    value_col: str,
    keys: Sequence[str] = (),
) -> str:
    """DuckDB oracle twin of :func:`robust_stats`."""
    keys_sql = ", ".join(keys)
    key_sel = f"{keys_sql}, " if keys else ""
    join = f"JOIN b USING ({keys_sql})" if keys else "CROSS JOIN b"
    dec = f"DECIMAL(18,{ROBUST_SCALE})"
    v = value_col
    return f"""
    WITH b AS (
      SELECT {key_sel}quantile_cont({v}, {ROBUST_LOWER}) AS _q_lo,
             quantile_cont({v}, {ROBUST_UPPER}) AS _q_hi,
             quantile_cont({v}, 0.5) AS _med
      FROM {table}{' GROUP BY ' + keys_sql if keys else ''}
    )
    SELECT {key_sel}
           round(CAST(sum(CASE WHEN {v} BETWEEN _q_lo AND _q_hi
                          THEN CAST({v} AS {dec}) END) AS DOUBLE)
                 / count(CASE WHEN {v} BETWEEN _q_lo AND _q_hi THEN 1 END),
                 {ROBUST_DIGITS}) AS trimmed_mean,
           round(CAST(sum(CAST(least(greatest({v}, _q_lo), _q_hi) AS {dec}))
                      AS DOUBLE) / count({v}), {ROBUST_DIGITS}) AS winsorized_mean,
           round(quantile_cont(abs({v} - _med), 0.5), 4) AS mad,
           count({v}) AS n_values
    FROM {table} {join}
    {'GROUP BY ' + keys_sql if keys else ''}
    """
