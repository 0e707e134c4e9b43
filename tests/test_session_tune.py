"""tune() memoization (r11): repeat calls with an unchanged target must be
free of py4j conf.set round-trips, while a changed target or a new session
object must re-apply every RUNTIME_CONF key."""

from __future__ import annotations

from streaming_etl_pipeline_spark import session as sess


def _set_count(spark, fn, *args, **kwargs):
    """Count spark.conf.set invocations made by fn."""
    calls = []
    orig = spark.conf.set

    def counting_set(k, v):
        calls.append(k)
        return orig(k, v)

    spark.conf.set = counting_set
    try:
        fn(*args, **kwargs)
    finally:
        spark.conf.set = orig
    return calls


def test_tune_memoizes_unchanged_target(spark):
    sess.tune(spark, shuffle_partitions=8)  # prime the memo
    calls = _set_count(spark, sess.tune, spark, shuffle_partitions=8)
    assert calls == []  # memoized: zero py4j round-trips


def test_tune_reapplies_on_new_target(spark):
    sess.tune(spark, shuffle_partitions=8)
    # Changed partition count: full re-apply, ending with the new count.
    calls = _set_count(spark, sess.tune, spark, shuffle_partitions=6)
    assert "spark.sql.shuffle.partitions" in calls
    assert set(sess.RUNTIME_CONF) <= set(calls)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "6"
    # Restore the suite's session posture.
    sess.tune(spark, shuffle_partitions=8)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


def test_tune_memo_bounded():
    assert len(sess._TUNED) <= 65  # cleared past 64 entries
