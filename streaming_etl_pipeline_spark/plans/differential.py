"""Differential correctness harness: Spark plan vs DuckDB oracle.

Local replica of the driver's correctness gate (row count + column names +
order-insensitive value hash) so every query in the corpus is verified
*before* the driver runs it. Canonicalization:

- columns sorted by name;
- each cell rendered to a canonical string (floats via repr, timestamps as
  ISO micros, arrays element-wise, NULL sentinel);
- rows sorted, then md5-hashed.

Exact string equality is deliberately strict — queries are written (with
in-query rounding) so that both engines produce *identical* values, not
merely close ones.
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

from streaming_etl_pipeline_spark.plans.corpus import QUERIES
from streaming_etl_pipeline_spark.sources.io import TABLES


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Oracle connection with the corpus tables as views, normalized to
    the engine's timestamp convention: tz-aware parquet timestamps
    (µs-LTZ flavor) are CAST to plain TIMESTAMP under ``TimeZone='UTC'``
    — the same UTC-wall-time normalization ``sources.io.read_table``
    applies Spark-side — so a testdata regeneration shipping TIMESTAMPTZ
    can't leak ``+00:00``-suffixed datetimes into the canonicalizer
    (found by tests/test_oracle_fuzz.py::test_fuzz_ts_unit_us_tz)."""
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    for t in TABLES:
        src = f"read_parquet('{sf_dir}/{t}.parquet')"
        cols = con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall()
        sel = ", ".join(
            f'CAST("{c}" AS TIMESTAMP) AS "{c}"'
            if typ == "TIMESTAMP WITH TIME ZONE"
            else f'"{c}"'
            for c, typ, *_ in cols
        )
        con.sql(f"CREATE VIEW {t} AS SELECT {sel} FROM {src}")
    return con


def _canon_cell(v) -> str:
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return "0.0"  # normalize -0.0
        return repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, bool):
        return "true" if v else "false"
    try:
        if pd.isna(v):
            return "\x00NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def canonicalize(df: pd.DataFrame) -> tuple[list[str], list[str]]:
    """→ (sorted column names, sorted canonical row strings)."""
    cols = sorted(df.columns)
    out = df[cols]
    rows = [
        "\x01".join(_canon_cell(v) for v in rec)
        for rec in out.itertuples(index=False, name=None)
    ]
    rows.sort()
    return cols, rows


def canonicalize_rows(cols: list[str], tuples: list[tuple]) -> tuple[list[str], list[str]]:
    """Canonicalize (column names, row tuples) — used for DuckDB fetchall()
    output, which keeps native Python date/datetime/int types (pandas
    conversion would coerce DATE→datetime64 and HUGEINT→float)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [
        "\x01".join(_canon_cell(rec[i]) for i in order) for rec in tuples
    ]
    rows.sort()
    return sorted(cols), rows


def value_hash(rows: list[str]) -> str:
    h = hashlib.md5()
    for r in rows:
        h.update(r.encode())
        h.update(b"\x02")
    return h.hexdigest()


@dataclass
class DiffResult:
    name: str
    ok: bool
    detail: str = ""


def compare_canonical(
    name: str,
    s_cols: list[str],
    s_rows: list[str],
    d_cols: list[str],
    d_rows: list[str],
) -> DiffResult:
    if len(s_rows) != len(d_rows):
        return DiffResult(name, False, f"row count {len(s_rows)} != {len(d_rows)}")
    if [c.lower() for c in s_cols] != [c.lower() for c in d_cols]:
        return DiffResult(name, False, f"columns {s_cols} != {d_cols}")
    if value_hash(s_rows) != value_hash(d_rows):
        diff = [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:3]
        msg = "value hash mismatch; first diffs: " + " | ".join(
            f"spark={a!r} duck={b!r}" for a, b in diff
        )
        return DiffResult(name, False, msg)
    return DiffResult(name, True, f"{len(s_rows)} rows")


def run_one(
    spark: SparkSession,
    con: duckdb.DuckDBPyConnection,
    sf_dir: str,
    name: str,
) -> DiffResult:
    spec = QUERIES[name]
    out = spec.fn(spark, sf_dir)
    if spec.sql is None:
        return DiffResult(name, True, f"rows-only: {out.count()} rows")
    # collect() (not toPandas) so None vs NaN in double columns stays exact.
    s_tuples = [tuple(r) for r in out.collect()]
    rel = con.sql(spec.sql)
    # capture metadata before fetchall consumes the relation; the guard
    # then works from (types, tuples) so the oracle executes exactly once
    d_cols = list(rel.columns)
    d_types = [str(t).upper() for t in rel.types]
    d_tuples = rel.fetchall()
    parity = _driver_parity_guard(name, out, d_cols, d_types, d_tuples)
    if parity is not None:
        return parity
    s_cols, s_rows = canonicalize_rows(list(out.columns), s_tuples)
    d_cols, d_rows = canonicalize_rows(d_cols, d_tuples)
    return compare_canonical(name, s_cols, s_rows, d_cols, d_rows)


_INTEGRAL_SPARK = {"byte", "short", "integer", "long"}


def _driver_parity_guard(name, out, d_cols, d_types, d_tuples) -> DiffResult | None:
    """Replicate the DRIVER's canonicalization pitfalls before hashing.

    The driver compares Spark vs DuckDB through *pandas* dataframes.  DuckDB
    ``sum(INTEGER)`` returns HUGEINT (INT128); pandas has no int128, so
    ``rel.df()`` degrades it to float64 and the driver renders ``1.0`` where
    Spark renders ``1`` — a hash mismatch that our native ``fetchall()`` path
    cannot see (Python ints mask the dtype).  Round 3 shipped exactly this bug
    twice (VERDICT.md r3 items 1-3).  Guards:

    1. no oracle result column may be HUGEINT/UHUGEINT — cast ``::BIGINT``;
    2. no non-null oracle column may surface float in pandas while the Spark
       column is integral (nullable ints legitimately become float64+NaN on
       BOTH sides of the driver, so columns containing nulls are exempt).

    Works from the already-fetched (types, tuples) so the oracle query runs
    exactly once per gate (an earlier version called ``rel.df()`` here,
    re-executing the full query before ``run_one``'s fetchall — ADVICE r4).
    """
    hug = [
        c
        for c, t in zip(d_cols, d_types)
        if t in ("HUGEINT", "UHUGEINT")
    ]
    if hug:
        return DiffResult(
            name,
            False,
            f"driver-parity: oracle columns {hug} are HUGEINT "
            "(pandas renders float64, e.g. '1.0' vs Spark '1'); "
            "cast the sum ::BIGINT in the oracle SQL",
        )
    # same class, decimal flavor: DuckDB DECIMAL reaches pandas as Decimal
    # objects whose str() keeps trailing zeros ('1.50' vs double '1.5') —
    # only a live mismatch when the Spark side is floating
    dbl_spark = {
        f.name.lower()
        for f in out.schema.fields
        if f.dataType.typeName() in ("double", "float")
    }
    dec = [
        c
        for c, t in zip(d_cols, d_types)
        if "DECIMAL" in t and c.lower() in dbl_spark
    ]
    if dec:
        return DiffResult(
            name,
            False,
            f"driver-parity: oracle columns {dec} are DECIMAL while the "
            "Spark type is double (Decimal str() keeps scale zeros, e.g. "
            "'1.50' vs '1.5'); cast ::DOUBLE in the oracle SQL",
        )
    integral = {
        f.name.lower()
        for f in out.schema.fields
        if f.dataType.typeName() in _INTEGRAL_SPARK
    }
    if integral:
        # which oracle columns will pandas render as float64 while Spark's
        # dtype is integral? (a) floating DuckDB types always; (b) integral
        # DuckDB types only when the column holds a NULL — and then the
        # Spark side goes float64+NaN in the driver too, so (b) is exempt.
        drift = [
            c
            for i, (c, t) in enumerate(zip(d_cols, d_types))
            if c.lower() in integral
            and t in ("FLOAT", "REAL", "DOUBLE")
            and all(rec[i] is not None for rec in d_tuples)
        ]
        if drift:
            return DiffResult(
                name,
                False,
                f"driver-parity: oracle columns {drift} render float64 in "
                "pandas while the Spark type is integral",
            )
    return None

