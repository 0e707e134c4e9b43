"""Privacy operators (quality/privacy.py): k-anonymity assessment."""

from __future__ import annotations

from pyspark.sql import Row

from streaming_etl_pipeline_spark.quality.privacy import (
    k_anonymity,
    k_anonymity_summary,
)


def test_k_anonymity_flags_small_groups(spark):
    rows = (
        [Row(age=30, zip="111") for _ in range(5)]
        + [Row(age=30, zip="222") for _ in range(2)]    # risky (< 5)
        + [Row(age=40, zip="111")]                      # risky (1)
    )
    df = spark.createDataFrame(rows)
    groups = {(r.age, r.zip): (r.group_size, r.at_risk)
              for r in k_anonymity(df, ("age", "zip"), k=5).collect()}
    assert groups[(30, "111")] == (5, False)
    assert groups[(30, "222")] == (2, True)
    assert groups[(40, "111")] == (1, True)
    s = k_anonymity_summary(df, ("age", "zip"), k=5).first()
    assert (s.n_groups, s.risky_groups, s.risky_rows, s.min_group_size) == (3, 2, 3, 1)
