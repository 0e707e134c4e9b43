"""SparkSession factory and runtime tuning.

Mirrors the reference's session posture (AQE on, snappy parquet, schema
inference off — reference ``src/consumers/spark_streaming.py:36-45`` and
``src/transformations/bronze_to_silver.py:236-243``) while adding the
settings a DuckDB-differential harness needs (UTC session timezone,
Arrow-accelerated collection). The reference's session-wide dynamic
partition overwrite is left out: an overwrite here replaces its whole
target, and the one writer that replaces single partitions says so on its
own writer (``sources.io.write_partitioned``).

Scale note: in local mode ``spark.driver.memory`` is the only memory knob;
on a real cluster the same configs apply per-executor and AQE coalesces
shuffle partitions at runtime, so ``shuffle.partitions`` here is an upper
bound, not a hand-tuned constant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable SQL configs applied to *any* session (including one the
#: test driver owns). Keep every entry runtime-mutable — static configs
#: (e.g. spark.driver.memory) belong in build_session only.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.sql.streaming.schemaInference": "false",
    # The test corpus stores TIMESTAMP(NANOS) which Spark has no native
    # type for; read as long and convert in sources.io.read_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Corpus regenerations have also shipped TIMESTAMP(MICROS,
    # isAdjustedToUTC=false), which Spark would surface as TIMESTAMP_NTZ —
    # a type unix_micros/window rejects. Read it as plain TIMESTAMP (the
    # session tz is UTC, so the instant is identical and DuckDB-parity
    # holds: DuckDB TIMESTAMP is itself NTZ). read_table additionally
    # casts any NTZ column that slips through (sources/io.py).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


#: Generated classes the session keeps compiled (the static
#: ``spark.sql.codegen.cache.maxEntries``; Spark's default is 100). One
#: batch ETL iteration generates about 150 distinct classes and the 18
#: bench queries about 250 more (counted with ``CodegenMetrics``, 4
#: cores), so at 100 every warm ETL iteration evicted and recompiled
#: about 140 of its own, 1.1-1.6 s of Janino time; at this size it
#: compiles about 6.
CODEGEN_CACHE_ENTRIES = 1000


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


#: Last-applied shuffle-partition count per session (keyed appId+object) —
#: tune() is called per corpus-query build (the _tuned wrapper), and its
#: ~14 conf.set py4j round-trips cost ~9 ms/call (measured): pure
#: overhead after the first application to a session. A new session gets
#: a new JVM object id; pass force=True if a caller deliberately mutated
#: RUNTIME_CONF keys mid-session and wants them re-applied.
_TUNED: dict[tuple, int] = {}


def tune(
    spark: SparkSession,
    shuffle_partitions: int | None = None,
    force: bool = False,
) -> SparkSession:
    """Apply runtime configs to an existing session (driver-owned or ours)."""
    n = shuffle_partitions or default_parallelism()
    key = (
        spark.sparkContext.applicationId,  # survives Python id() reuse
        id(spark),
    )
    if not force and _TUNED.get(key) == n:
        return spark
    if len(_TUNED) > 64:
        _TUNED.clear()
    _TUNED[key] = n
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Config not settable at runtime in this Spark build — skip;
            # none of RUNTIME_CONF is correctness-critical except timeZone,
            # which is always runtime-settable.
            pass
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    return spark


def build_session(
    app_name: str = "streaming-etl-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so tests and bench
    share the driver's CPU budget.
    """
    # NumPy ≥1.22 madvise(MADV_HUGEPAGE)s every large allocation; under
    # THP "madvise" mode on a memory-fragmented host each hugepage fault
    # can stall in synchronous compaction — measured on this box: an
    # 80 MB array FILL at 8 MB/s (10 s!) vs 0.04 s with the madvise off,
    # a 250× swing that silently poisons every Arrow/pandas-UDF worker
    # (the BM25 GEMM scorer first exposed it). Off by default for the
    # driver AND the forked Python workers, which inherit this env; an
    # explicit setting wins.
    os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config(
            "spark.executorEnv.NUMPY_MADVISE_HUGEPAGE",
            os.environ.get("NUMPY_MADVISE_HUGEPAGE", "0"),
        )
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark, shuffle_partitions)
