"""Join operators (SURVEY.md §2.3).

The reference's join-shaped logic lives in SQL (Redshift MERGE,
star-schema DDL) and pandas; here it becomes real distributed joins:

- J2 ``upsert_dimension`` — MERGE-as-join (full outer + coalesce/greatest),
  the Spark rewrite of ``src/loaders/redshift_loader.py:161-179``;
- J3 ``star_join`` — fact⋈dims with broadcast hints (the reference's
  DISTSTYLE ALL dims, ``redshift_schema.sql:32,45``, are exactly broadcast
  semantics);
- J4 ``asof_join`` — "latest right row at or before each left timestamp",
  which the reference's dashboard approximates driver-side
  (``src/dashboard/app.py:186``).

Scale design: dimension sides get explicit ``F.broadcast`` (no shuffle of
the fact table); the as-of join is the union+window formulation — one
shuffle on the key, bounded state, no per-row Python — rather than a
pandas ``merge_asof``, so it survives 100 TB fact tables. AQE handles
skewed fact keys (skewJoin enabled in session defaults).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def star_join(
    fact: DataFrame,
    dims: dict[str, tuple[DataFrame, str]],
    broadcast_dims: bool = True,
) -> DataFrame:
    """Join a fact table to dimensions: ``dims`` maps an output prefix to
    ``(dim_df, join_key)``. Dimensions are broadcast by default — at any
    scale where the dim fits in executor memory this removes the fact-side
    shuffle entirely."""
    out = fact
    for _, (dim, key) in dims.items():
        d = F.broadcast(dim) if broadcast_dims else dim
        out = out.join(d, on=key, how="inner")
    return out


def semi_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """EXISTS — rows of ``left`` with a match in ``right`` (no right cols)."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """NOT EXISTS — rows of ``left`` without a match in ``right``."""
    return left.join(right, on=on, how="left_anti")


def upsert_dimension(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    greatest_cols: Sequence[str] = (),
    least_cols: Sequence[str] = (),
    prefer_update_cols: Sequence[str] = (),
) -> DataFrame:
    """J2 — SCD-1 MERGE as a full-outer join.

    Semantics of the reference's ``MERGE INTO dim_sensors``
    (``redshift_loader.py:161-179``): matched rows take
    ``greatest(old, new)`` for monotonic columns (last_seen), ``least``
    for first_seen, and the update's value for mutable attributes;
    unmatched rows keep whichever side exists.

    One shuffle on ``key`` (or zero when Catalyst broadcasts the update
    side). On Delta/Iceberg this becomes a native MERGE INTO — the column
    semantics stay identical.
    """
    d = dim.alias("d")
    u = updates.alias("u")
    joined = d.join(u, on=F.col(f"d.{key}") == F.col(f"u.{key}"), how="full_outer")
    cols = []
    for c in dim.columns:
        dc, uc = F.col(f"d.{c}"), F.col(f"u.{c}")
        if c == key:
            expr = F.coalesce(dc, uc)
        elif c in greatest_cols:
            expr = (
                F.when(dc.isNull(), uc)
                .when(uc.isNull(), dc)
                .otherwise(F.greatest(dc, uc))
            )
        elif c in least_cols:
            expr = (
                F.when(dc.isNull(), uc)
                .when(uc.isNull(), dc)
                .otherwise(F.least(dc, uc))
            )
        elif c in prefer_update_cols:
            expr = F.coalesce(uc, dc)
        else:
            expr = F.coalesce(dc, uc)
        cols.append(expr.alias(c))
    return joined.select(*cols)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str],
    direction: str = "backward",
) -> DataFrame:
    """J4 — as-of join: for each left row, attach the payload of the
    latest right row with ``right_ts <= left_ts`` (``direction=
    "backward"``, the default) or the earliest right row with
    ``right_ts >= left_ts`` (``"forward"`` — next-event attribution:
    first purchase after a campaign touch, next reading after an alarm).
    NULLs if none.

    Spark-first formulation: tag and union both sides, order within each
    key partition by (ts, side) with right rows first on ties, and carry
    the most recent right payload forward with ``last(ignorenulls)`` over
    an unbounded-preceding ROWS window. Exactly one shuffle on ``key``,
    one sort, O(1) running state per row — the plan a 100 TB fact/quote
    join needs (pandas ``merge_asof`` per group would materialize whole
    groups; a range-join would be O(n·m) per key).

    DuckDB oracle twin: native ``ASOF JOIN`` (``l ASOF LEFT JOIN r ON
    l.key = r.key AND l.ts >= r.ts``).
    """
    left_cols = left.columns
    payload_t = (
        right.select(F.struct(*[F.col(c) for c in right_cols]).alias("_p"))
        .schema["_p"]
        .dataType
    )
    left_types = dict(left.dtypes)

    l_rows = (
        left.withColumn("_k", F.col(key))
        .withColumn("_ts", F.col(left_ts))
        .withColumn("_side", F.lit(1))
        .withColumn("_payload", F.lit(None).cast(payload_t))
    )
    r_rows = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.struct(*[F.col(c) for c in right_cols]).alias("_payload"),
    )
    for c in left_cols:
        r_rows = r_rows.withColumn(c, F.lit(None).cast(left_types[c]))

    u = r_rows.select(l_rows.columns).unionByName(l_rows)

    # forward = the same running-last trick traversed from the future:
    # order ts DESC (right still first on ties, so an equal-timestamp
    # right row matches in both directions)
    ts_order = F.col("_ts").asc() if direction == "backward" else F.col("_ts").desc()
    w = (
        Window.partitionBy("_k")
        .orderBy(ts_order, F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        u.withColumn("_m", F.last("_payload", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
        .select(
            *left_cols,
            *[F.col(f"_m.{c}").alias(c) for c in right_cols],
        )
    )


def apply_cdc(
    snapshot: DataFrame,
    changes: DataFrame,
    key: str,
    ts_col: str,
    payload_cols: Sequence[str],
    op_col: str = "op",
    order_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Apply a change-data-capture batch (insert / update / delete rows)
    to a snapshot — the MERGE-with-deletes the plain upsert
    (:func:`upsert_dimension`) cannot express.

    ``changes`` rows carry the full after-image (``payload_cols``, the
    Debezium-style ``after`` record) plus an ``op_col``; the LATEST
    change per key wins (ordered by ``order_cols``, default
    ``[ts_col]`` — pass a tie-breaker for same-timestamp batches):

    - latest op == ``'delete'`` → key disappears from the result;
    - any other op (insert/update) → the change's payload replaces the
      snapshot row (or creates it);
    - keys with no change pass through untouched.

    Scale shape: one window shuffle over the CHANGE BATCH only (batches
    are small relative to the snapshot), then one anti join on the key —
    the snapshot is never windowed or sorted. Replaying the same batch
    converges (idempotent), so a failed downstream write can re-run.
    """
    order_cols = list(order_cols or [ts_col])
    w = Window.partitionBy(key).orderBy(*[F.col(c).desc() for c in order_cols])
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    out_cols = [key, *payload_cols]
    untouched = snapshot.join(latest.select(key), key, "left_anti").select(*out_cols)
    upserts = latest.filter(F.col(op_col) != "delete").select(*out_cols)
    return untouched.unionByName(upserts)


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_col: str,
    end_col: str,
    bucket_seconds: int,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Point-in-interval join (``start <= ts < end``) without a range
    nested-loop: explode each interval into the fixed time buckets it
    spans, equi-join points on (keys…, bucket), then apply the exact
    range predicate.

    Each point lives in exactly ONE bucket, so every (point, interval)
    match is produced exactly once — no post-join dedup. The join is a
    plain hash equi-join Spark can shuffle or broadcast; the classic
    range-join fallback (BroadcastNestedLoopJoin, O(points × intervals)
    per key) never appears. Cost scales with interval_span /
    bucket_seconds rows per interval — pick ``bucket_seconds`` near the
    typical interval length (1 bucket ≈ 1-2 exploded rows each).

    Payload columns other than ``keys`` must be disjoint between the
    two inputs (select/rename before calling). Zero-length or inverted
    intervals are dropped (the interval is empty under [start, end)).
    """
    usec = int(bucket_seconds) * 1_000_000
    p = points.withColumn(
        "_b", F.floor(F.unix_micros(F.col(point_ts)) / usec)
    )
    iv = (
        intervals.filter(F.col(end_col) > F.col(start_col))
        .withColumn(
            "_b",
            F.explode(
                F.sequence(
                    F.floor(F.unix_micros(F.col(start_col)) / usec),
                    F.floor((F.unix_micros(F.col(end_col)) - 1) / usec),
                )
            ),
        )
    )
    return (
        p.join(iv, on=[*keys, "_b"])
        .filter(
            (F.col(point_ts) >= F.col(start_col))
            & (F.col(point_ts) < F.col(end_col))
        )
        .drop("_b")
    )


def snapshot_diff(old: DataFrame, new: DataFrame, key: str) -> DataFrame:
    """Row-level reconciliation of two snapshots of the same table:
    ``key, diff_op ('added'|'removed'|'changed'), changed_cols``.

    One full-outer hash join on the key; every column compare is
    null-safe and happens in the join projection (no second pass).
    Unchanged rows are dropped, so the result is change-sized — at
    100 TB the output of diffing two daily snapshots is the day's
    churn, not the table. ``changed_cols`` lists the differing columns
    for 'changed' rows (empty array for added/removed, where every
    column trivially differs).

    This is the validation half of CDC (:func:`apply_cdc`): diff(old,
    apply_cdc(old, batch)) must reproduce the batch's net effect —
    pinned in test_joins.py.
    """
    compare = [c for c in new.columns if c != key]
    o = old.select(
        key,
        F.lit(True).alias("_in_old"),
        *[F.col(c).alias(f"_o_{c}") for c in compare],
    )
    n = new.select(
        key,
        F.lit(True).alias("_in_new"),
        *[F.col(c).alias(f"_n_{c}") for c in compare],
    )
    j = o.join(n, key, "full_outer")
    changed = F.filter(
        F.array(
            *[
                F.when(
                    ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}")), F.lit(c)
                )
                for c in compare
            ]
        ),
        lambda x: x.isNotNull(),
    )
    op = (
        F.when(F.col("_in_old").isNull(), "added")
        .when(F.col("_in_new").isNull(), "removed")
        .when(F.size(changed) > 0, "changed")
    )
    return (
        j.select(
            key,
            op.alias("diff_op"),
            F.when(op == "changed", changed)
            .otherwise(F.array().cast("array<string>"))
            .alias("changed_cols"),
        )
        .filter(F.col("diff_op").isNotNull())
    )
