"""Reusable Column expression helpers, engineered for oracle parity.

Every helper here is a *pure built-in composition* (JVM-side, codegen'd —
SURVEY.md §2.10 requires a no-UDF core) and each has an exactly-equivalent
ANSI-SQL formulation DuckDB can run, so results hash-match bit-for-bit:

- time buckets use integer microsecond arithmetic, not float epoch math;
- content hashes use md5 (identical across engines), never engine-native
  ``hash()``/``xxhash64`` which differ between Spark and DuckDB;
- vector math casts float32 arrays to double *before* reducing so both
  engines accumulate in the same precision.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MICROS = 1_000_000
#: Decimal scale the exact_* helpers accumulate in (2-dp readings and
#: money) and the digits they round to.
EXACT_SCALE = 2
EXACT_DIGITS = 6


def time_bucket(col: Column | str, seconds: int) -> Column:
    """Tumbling-window start (epoch-aligned), as a timestamp.

    Same semantics as ``F.window(col, f"{seconds} seconds").start`` (the
    reference's 5-min/1-hour gold windows, ``silver_to_gold.py:57,106``) but
    expressed with exact integer micros so the DuckDB oracle
    (``time_bucket_sql``) reproduces it bit-for-bit, and so the bucket is a
    plain column usable as a partition or join key.
    """
    c = F.col(col) if isinstance(col, str) else col
    # Defensive: unix_micros rejects TIMESTAMP_NTZ; casting to timestamp
    # is a no-op for LTZ input and an exact (UTC session tz)
    # reinterpretation for NTZ input.
    us = F.unix_micros(c.cast("timestamp"))
    width = seconds * MICROS
    return F.timestamp_micros(us - us % width)


def time_bucket_sql(col_sql: str, seconds: int) -> str:
    """DuckDB-SQL twin of :func:`time_bucket`."""
    width = seconds * MICROS
    return (
        f"make_timestamp(epoch_us({col_sql}) - epoch_us({col_sql}) % {width})"
    )


def md5_long(col: Column | str, seed: int | str = "") -> Column:
    """Deterministic 60-bit integer hash: first 15 hex chars of md5.

    Portable across engines — DuckDB twin:
    ``('0x' || substr(md5(<x> || '<seed>'), 1, 15))::BIGINT``.
    60 bits keeps the value positive in a signed 64-bit long in both
    engines. Used for minhash signatures, LSH bucketing, salting.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = c.cast("string")
    salted = F.concat(s, F.lit(str(seed))) if seed != "" else s
    return F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("long")


def md5_long_sql(col_sql: str, seed: int | str = "") -> str:
    """DuckDB-SQL twin of :func:`md5_long`."""
    s = f"CAST({col_sql} AS VARCHAR)"
    salted = f"({s} || '{seed}')" if seed != "" else s
    return f"('0x' || substr(md5({salted}), 1, 15))::BIGINT"


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array<numeric> columns, accumulated in double.

    Pure higher-order functions — no UDF, stays in whole-stage codegen.
    DuckDB twin: ``list_dot_product(a::DOUBLE[], b::DOUBLE[])`` (both
    reduce sequentially left-to-right in double).
    """
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    """Euclidean norm of an array<numeric> column (double accumulation)."""
    a = F.col(a) if isinstance(a, str) else a
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity of two vector columns. DuckDB twin:
    ``list_dot_product(a,b) / (sqrt(list_dot_product(a,a)) * sqrt(list_dot_product(b,b)))``
    (NOT list_cosine_similarity, which reduces in float32).

    Zero-norm vectors: ``try_divide`` yields NULL — matching DuckDB,
    whose DOUBLE division by zero is NULL — instead of the ANSI
    DIVIDE_BY_ZERO error that would otherwise kill a whole job over one
    degenerate embedding (found by
    tests/test_oracle_fuzz.py::test_fuzz_zero_embedding). NULL cosines
    fall out of every ≥-threshold filter and sort NULLS-LAST under the
    DESC rankings in BOTH engines, so downstream semantics stay
    engine-identical."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def exact_sum(col: Column | str, scale: int = 2, precision: int = 18) -> Column:
    """Sum with exact decimal accumulation.

    Summing doubles is accumulation-order-dependent, and Spark's partial
    aggregation order differs from any single-node engine — rounding the
    result does NOT fix that (a value can land on a rounding boundary).
    When the data has fixed decimal scale (money, 2-dp sensor readings),
    casting to DECIMAL first makes the sum exact and therefore identical
    in every engine. DuckDB twin: ``sum(CAST(x AS DECIMAL(p,s)))``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({precision},{scale})"))


def exact_avg(col: Column | str) -> Column:
    """Order-independent mean: exact decimal sum / count, then round.
    DuckDB twin:
    ``round(CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) / count(x), 6)``.

    Parity domain (all exact_* helpers): |x|·10^EXACT_DIGITS ≲ 2^53.
    Beyond that, the rounded value is itself not representable as a double
    and engines may differ in the final ulp — fuzz-verified boundary,
    see tests/test_oracle_fuzz.py (magnitude_mix).
    """
    c = F.col(col) if isinstance(col, str) else col
    avg = exact_sum(c, EXACT_SCALE).cast("double") / F.count(c)
    return F.round(avg, EXACT_DIGITS)


def exact_avg_sql(col_sql: str) -> str:
    return (
        f"round(CAST(sum(CAST({col_sql} AS DECIMAL(18,{EXACT_SCALE})))"
        " AS DOUBLE)"
        f" / count({col_sql}), {EXACT_DIGITS})"
    )


def exact_stddev(col: Column | str) -> Column:
    """Order-independent sample stddev via exact decimal sums:
    ``sqrt((Σx² − (Σx)²/n) / (n−1))`` with both Σ computed in DECIMAL.
    Both engines then evaluate the identical double expression on identical
    inputs → bit-identical output. NULL for n ≤ 1 (ANSI semantics).
    DuckDB twin: :func:`exact_stddev_sql`."""
    c = F.col(col) if isinstance(col, str) else col
    dec = c.cast(f"decimal(18,{EXACT_SCALE})")
    n = F.count(c)
    s1 = F.sum(dec).cast("double")
    s2 = F.sum(dec * dec).cast("double")
    var = (s2 - s1 * s1 / n) / (n - F.lit(1))
    return F.when(
        n > 1, F.round(F.sqrt(F.greatest(var, F.lit(0.0))), EXACT_DIGITS)
    ).otherwise(F.lit(None).cast("double"))


def exact_stddev_sql(col_sql: str) -> str:
    # DECIMAL(19) for the squared term: same quantized values as the
    # Spark side's DECIMAL(18) (precision widens storage, not the
    # value), but DuckDB promotes the 19-digit operands to int128 before
    # multiplying — DECIMAL(18)*DECIMAL(18) multiplies the int64 reps
    # and overflows for |x| ≳ 3e9 (tests/test_oracle_fuzz.py
    # ::test_fuzz_magnitude_mix). Both engines' products stay exact, so
    # results are unchanged where both formulations are defined.
    dec = f"CAST({col_sql} AS DECIMAL(19,{EXACT_SCALE}))"
    n = f"count({col_sql})"
    s1 = f"CAST(sum({dec}) AS DOUBLE)"
    s2 = f"CAST(sum({dec} * {dec}) AS DOUBLE)"
    var = f"(({s2}) - ({s1}) * ({s1}) / ({n})) / (({n}) - 1)"
    return (
        f"CASE WHEN {n} > 1 THEN "
        f"round(sqrt(greatest({var}, 0.0)), {EXACT_DIGITS}) "
        f"ELSE NULL END"
    )


def null_if_nan(col: Column | str) -> Column:
    """NaN → NULL. Spark emits NaN for 0/0-style aggregates (e.g. stddev of
    a single row); ANSI engines (DuckDB) emit NULL. Normalizing keeps hash
    parity and is the saner semantic for downstream filters."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.isnan(c), F.lit(None)).otherwise(c)


def tokenize(col: Column | str) -> Column:
    """Whitespace tokenization with empty-token removal.

    DuckDB twin: ``list_filter(string_split_regex(<x>, '\\s+'), t -> t <> '')``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")
