"""Join-operator tests: MERGE-as-join upsert semantics (reference
redshift_loader.py:161-179 fixtures, FIXTURES.md §5) and the as-of join."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from streaming_etl_pipeline_spark.operators import joins

T0 = datetime(2024, 6, 15, 10, 0, 0)


def test_upsert_dimension_merge_semantics(spark):
    # Existing sensor with older last_seen + new readings → last_seen =
    # greatest(old, new), location updated; unseen sensor → inserted.
    dim = spark.createDataFrame(
        [
            ("sensor-001", "floor-1-zone-A", T0 - timedelta(days=5), T0 - timedelta(days=1)),
            ("sensor-002", "floor-2-zone-B", T0 - timedelta(days=5), T0),
        ],
        "sensor_id string, location string, first_seen timestamp, last_seen timestamp",
    )
    updates = spark.createDataFrame(
        [
            ("sensor-001", "floor-9-zone-D", T0 - timedelta(days=2), T0 + timedelta(hours=1)),
            ("sensor-003", "floor-3-zone-C", T0, T0),
        ],
        "sensor_id string, location string, first_seen timestamp, last_seen timestamp",
    )
    out = joins.upsert_dimension(
        dim, updates, key="sensor_id",
        greatest_cols=["last_seen"], least_cols=["first_seen"],
        prefer_update_cols=["location"],
    )
    rows = {r.sensor_id: r for r in out.collect()}
    assert set(rows) == {"sensor-001", "sensor-002", "sensor-003"}
    # matched: location from update, last_seen = greatest, first_seen = least
    assert rows["sensor-001"].location == "floor-9-zone-D"
    assert rows["sensor-001"].last_seen == T0 + timedelta(hours=1)
    assert rows["sensor-001"].first_seen == T0 - timedelta(days=5)
    # untouched existing row survives
    assert rows["sensor-002"].location == "floor-2-zone-B"
    # not-matched insert
    assert rows["sensor-003"].location == "floor-3-zone-C"


def test_upsert_idempotent(spark):
    # Applying the same update twice converges (delete-then-insert parity,
    # reference tests/test_loader.py:77-87).
    dim = spark.createDataFrame(
        [("s1", T0)], "sensor_id string, last_seen timestamp"
    )
    updates = spark.createDataFrame(
        [("s1", T0 + timedelta(hours=1))], "sensor_id string, last_seen timestamp"
    )
    once = joins.upsert_dimension(dim, updates, "sensor_id", greatest_cols=["last_seen"])
    twice = joins.upsert_dimension(once, updates, "sensor_id", greatest_cols=["last_seen"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_asof_join_backward(spark):
    left = spark.createDataFrame(
        [(1, T0), (1, T0 + timedelta(minutes=10)), (2, T0)],
        "uid bigint, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, T0 - timedelta(minutes=1), 100.0),
            (1, T0 + timedelta(minutes=5), 200.0),
            (3, T0, 999.0),
        ],
        "uid bigint, rts timestamp, quote double",
    )
    out = joins.asof_join(
        left, right, key="uid", left_ts="ts", right_ts="rts", right_cols=["quote"]
    )
    got = sorted((r.uid, r.ts, r.quote) for r in out.collect())
    assert got == [
        (1, T0, 100.0),
        (1, T0 + timedelta(minutes=10), 200.0),
        (2, T0, None),  # no right rows for uid 2 → NULL payload
    ]


def test_asof_join_equal_timestamp_included(spark):
    left = spark.createDataFrame([(1, T0)], "uid bigint, ts timestamp")
    right = spark.createDataFrame([(1, T0, 7.0)], "uid bigint, rts timestamp, quote double")
    out = joins.asof_join(left, right, "uid", "ts", "rts", ["quote"])
    assert out.collect()[0].quote == 7.0


def test_semi_anti_partition(spark):
    left = spark.createDataFrame([(i,) for i in range(10)], "k int")
    right = spark.createDataFrame([(i,) for i in range(0, 10, 2)], "k int")
    semi = joins.semi_join(left, right, "k").count()
    anti = joins.anti_join(left, right, "k").count()
    assert semi == 5 and anti == 5 and semi + anti == left.count()


def test_star_join_broadcast_plan(spark):
    fact = spark.createDataFrame([(1, 10.0), (2, 20.0)], "dim_id int, v double")
    dim = spark.createDataFrame([(1, "a"), (2, "b")], "dim_id int, name string")
    out = joins.star_join(fact, {"d": (dim, "dim_id")})
    assert out.count() == 2
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_apply_cdc_latest_wins_deletes_and_idempotent(spark):
    from pyspark.sql import Row

    from streaming_etl_pipeline_spark.operators.joins import apply_cdc

    snap = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v="c")]
    )
    changes = spark.createDataFrame(
        [
            Row(k=1, op="upsert", v="a1", ts=1, seq=1),
            Row(k=1, op="delete", v=None, ts=2, seq=1),   # latest for k=1 -> gone
            Row(k=2, op="upsert", v="b1", ts=1, seq=1),
            Row(k=2, op="upsert", v="b2", ts=1, seq=2),   # tie broken by seq
            Row(k=4, op="upsert", v="d", ts=1, seq=1),    # insert of a new key
            Row(k=5, op="delete", v=None, ts=1, seq=1),   # delete of absent key: no-op
        ]
    )
    out = apply_cdc(
        snap, changes, key="k", ts_col="ts", payload_cols=("v",),
        order_cols=("ts", "seq"),
    )
    got = {r.k: r.v for r in out.collect()}
    assert got == {2: "b2", 3: "c", 4: "d"}
    # replaying the same batch over the result converges (delete of the
    # now-absent k=1 and re-upsert of k=2/k=4 reproduce the same state)
    again = apply_cdc(
        out, changes, key="k", ts_col="ts", payload_cols=("v",),
        order_cols=("ts", "seq"),
    )
    assert {r.k: r.v for r in again.collect()} == got


def test_interval_join_exact_once_and_no_nested_loop(spark):
    from pyspark.sql import Row

    from streaming_etl_pipeline_spark.operators.joins import interval_join

    def ts(s):
        return F.to_timestamp(F.lit(s))

    ivs = spark.createDataFrame(
        [
            Row(k=1, iv_id=10, s="2024-01-01 00:30:00", e="2024-01-01 03:30:00"),
            Row(k=1, iv_id=11, s="2024-01-01 02:00:00", e="2024-01-01 02:00:00"),  # empty
            Row(k=2, iv_id=20, s="2024-01-01 00:00:00", e="2024-01-01 01:00:00"),
        ]
    ).select("k", "iv_id", F.to_timestamp("s").alias("s"), F.to_timestamp("e").alias("e"))
    pts = spark.createDataFrame(
        [
            Row(k=1, p_id=1, t="2024-01-01 00:30:00"),  # == start: in
            Row(k=1, p_id=2, t="2024-01-01 02:00:00"),  # mid, spans 3 buckets
            Row(k=1, p_id=3, t="2024-01-01 03:30:00"),  # == end: out
            Row(k=2, p_id=4, t="2024-01-01 00:59:59"),  # in for iv 20
            Row(k=1, p_id=5, t="2024-01-01 00:59:59"),  # wrong key for iv 20
        ]
    ).select("k", "p_id", F.to_timestamp("t").alias("t"))

    out = interval_join(
        pts, ivs, point_ts="t", start_col="s", end_col="e",
        bucket_seconds=3600, keys=("k",),
    )
    got = sorted((r.p_id, r.iv_id) for r in out.collect())
    # exactly-once per (point, interval), [start, end) semantics,
    # empty interval dropped, key respected
    assert got == [(1, 10), (2, 10), (4, 20), (5, 10)]

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_snapshot_diff_classifies_and_validates_cdc(spark):
    from pyspark.sql import Row

    from streaming_etl_pipeline_spark.operators.joins import apply_cdc, snapshot_diff

    old = spark.createDataFrame(
        [
            Row(k=1, a="x", b="p"),
            Row(k=2, a="y", b=None),
            Row(k=3, a="z", b="q"),
        ]
    )
    new = spark.createDataFrame(
        [
            Row(k=1, a="x", b="p"),      # unchanged -> dropped
            Row(k=2, a="y2", b=None),    # changed: a only (b NULL==NULL)
            Row(k=4, a="w", b=None),     # added
        ]
    )
    got = {
        r.k: (r.diff_op, list(r.changed_cols))
        for r in snapshot_diff(old, new, key="k").collect()
    }
    assert got == {
        2: ("changed", ["a"]),
        3: ("removed", []),
        4: ("added", []),
    }

    # diff(old, apply_cdc(old, batch)) reproduces the batch's net effect
    changes = spark.createDataFrame(
        [
            Row(k=3, op="delete", a=None, b=None, ts=1),
            Row(k=2, op="upsert", a="y2", b=None, ts=1),
            Row(k=5, op="upsert", a="v", b="r", ts=1),
        ]
    )
    applied = apply_cdc(old, changes, key="k", ts_col="ts", payload_cols=("a", "b"))
    d = {
        r.k: r.diff_op for r in snapshot_diff(old, applied, key="k").collect()
    }
    assert d == {2: "changed", 3: "removed", 5: "added"}


def test_asof_join_forward_direction(spark):
    import datetime as dt

    from pyspark.sql import Row
    from streaming_etl_pipeline_spark.operators.joins import asof_join

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame([
        Row(id=1, k="u", ts=t(10)),
        Row(id=2, k="u", ts=t(30)),
        Row(id=3, k="v", ts=t(5)),
    ])
    right = spark.createDataFrame([
        Row(k="u", ts=t(20), pid=100),
        Row(k="u", ts=t(40), pid=200),
    ])
    fwd = {
        r["id"]: r["pid"]
        for r in asof_join(
            left, right, key="k", left_ts="ts", right_ts="ts",
            right_cols=["pid"], direction="forward",
        ).collect()
    }
    assert fwd == {1: 100, 2: 200, 3: None}  # first at-or-after; v: none
    # equal timestamps match in BOTH directions
    eq = spark.createDataFrame([Row(id=9, k="u", ts=t(20))])
    for d in ("backward", "forward"):
        got = asof_join(eq, right, key="k", left_ts="ts", right_ts="ts",
                        right_cols=["pid"], direction=d).collect()[0]["pid"]
        assert got == 100
