"""Privacy operators for training-data pipelines: pseudonym tokens and
k-anonymity assessment.

PII *redaction* (``operators/curation.py redact_pii``) removes literal
identifiers from free text; these operators handle the structured side:

- :func:`pseudonym` — a KEYED hash token for an identifier column
  (HMAC-style ``sha256(secret || value)``), so the same input maps to
  the same token everywhere while the raw identifier never leaves the
  cluster. Unkeyed hashing would be reversible by dictionary attack on
  low-entropy ids; the secret makes tokens useless without it.
- :func:`k_anonymity` — the classic re-identification risk measure
  (Sweeney 2002 — public): a row is k-anonymous if at least k rows
  share its quasi-identifier combination. One groupBy over the
  quasi-identifiers (map-side combined); returns per-combination sizes
  so callers can suppress or generalize the risky groups.

Both are a pure column expression or a single aggregation — 0 or 1
shuffles, exact DuckDB twins for the differential gate.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pseudonym(col: str, secret: str) -> "F.Column":
    """Keyed pseudonym token for one column (64-hex sha256)."""
    return F.sha2(F.concat(F.lit(secret), F.col(col).cast("string")), 256)


def k_anonymity(
    df: DataFrame, quasi_cols: Sequence[str], k: int = 5
) -> DataFrame:
    """Group sizes over the quasi-identifier combination plus an
    ``at_risk`` flag (size < k). One aggregation; suppressing the
    at-risk rows afterwards is a broadcast semi/anti join on the
    combination."""
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).alias("group_size"))
        .withColumn("at_risk", F.col("group_size") < k)
    )


def k_anonymity_summary(
    df: DataFrame, quasi_cols: Sequence[str], k: int = 5
) -> DataFrame:
    """One-row audit: total quasi-identifier combinations, how many are
    below k, and how many ROWS those risky combinations expose."""
    groups = k_anonymity(df, quasi_cols, k)
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.col("at_risk").cast("long")).alias("risky_groups"),
        F.sum(
            F.when(F.col("at_risk"), F.col("group_size")).otherwise(0)
        ).alias("risky_rows"),
        F.min("group_size").alias("min_group_size"),
    )
