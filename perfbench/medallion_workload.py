"""The ETL half of the ``batch`` workload: Bronze to warehouse, with writes.

One iteration: ``sources.generate_events`` (seeded, a hot-key share,
planted nulls and duplicates, injected anomalies) written as Bronze
parquet by ``sources.write_partitioned`` → ``bronze_to_silver(validate=
True)`` → ``silver_to_gold`` → ``warehouse.build_fact`` +
``load_fact_window`` → a second, late Bronze batch (new interleaved
events plus corrections of existing keys) merged into Silver with
``bronze_to_silver(merge_with_existing=True)``, which re-reads and
rewrites Silver. Iterations repeat on fresh directories until the
measured time is up. ``streaming`` does no work here.

A pass measures whole iterations until ``--seconds`` are up: one on 4
cores. The input is sized so per-row work is a large share of an
iteration: warm, on 4 cores, 20k events took 6.5 s, 200k 12 s and 400k
17 s. Before the pass, ``settle`` runs one untimed 20k-event iteration,
because a session's first iteration is mostly code generation (the
same 20k events took 15 s cold).

The planted rows are fixed by position (row ``i`` of a batch is null,
duplicated or corrected when ``i % MOD`` hits the seed's offset), so the
expected ``input_rows``/``invalid_rows``/``output_rows`` are known
before the pipeline runs and every call's observed counts are checked.
"""

from __future__ import annotations

import os
import random
import sys
import time
import traceback

from pyspark.sql import functions as F

from harness import Context, Result, Tracer, median
from streaming_etl_pipeline_spark import warehouse
from streaming_etl_pipeline_spark.operators import aggregates, cleaning
from streaming_etl_pipeline_spark.pipelines import bronze_to_silver, silver_to_gold
from streaming_etl_pipeline_spark.quality.expectations import silver_suite, validate
from streaming_etl_pipeline_spark.sources import write_partitioned
from streaming_etl_pipeline_spark.sources.generator import generate_events

N_EVENTS = 150_000  # first Bronze batch
N_LATE = 20_000  # new events in the late batch
SETTLE_EVENTS = 20_000  # the untimed iteration that warms the ETL's code
N_SENSORS = 50
HOT_KEY_FRACTION = 0.2
ANOMALY_RATE = 0.02
MOD = 50  # one row in MOD is null / duplicated / corrected
START_TS = "2024-06-15 10:00:00"
LATE_START_TS = "2024-06-15 10:00:00.005"  # interleaves with the first batch
STEP_US = 10_000  # generate_events spacing at 100 events/s


def _planted(n: int, offset: int) -> int:
    return len(range(offset, n, MOD))


class Medallion:
    """Seeded Bronze batches and one checked iteration of the pipeline."""

    def prepare(self, ctx: Context) -> None:
        offsets = list(range(MOD))
        random.Random(ctx.seed).shuffle(offsets)
        self.null_off, self.dup_off, self.corr_off = offsets[:3]

    # -- inputs ------------------------------------------------------------

    def _events(self, spark, n: int, seed: int, start_ts: str):
        df = generate_events(
            spark,
            n,
            n_sensors=N_SENSORS,
            anomaly_rate=ANOMALY_RATE,
            start_ts=start_ts,
            seed=seed,
            hot_key_fraction=HOT_KEY_FRACTION,
        )
        idx = (
            (F.unix_micros("event_time") - F.unix_micros(F.lit(start_ts).cast("timestamp")))
            / STEP_US
        ).cast("long")
        return df.withColumn("_i", idx).withColumn(
            "ingestion_time", F.col("event_time") + F.expr("INTERVAL 1 SECOND")
        )

    def bronze(self, spark, n: int, seed: int):
        df = self._events(spark, n, seed, START_TS).withColumn(
            "value",
            F.when(F.col("_i") % MOD == self.null_off, F.lit(None)).otherwise(
                F.col("value")
            ),
        )
        dups = df.filter(F.col("_i") % MOD == self.dup_off).withColumn(
            "ingestion_time", F.col("ingestion_time") + F.expr("INTERVAL 5 MINUTES")
        )
        return df.unionByName(dups).drop("_i", "is_anomaly_injected")

    def late_bronze(self, spark, n: int, n_late: int, seed: int):
        fresh = self._events(spark, n_late, seed + 101, LATE_START_TS)
        corrections = (
            self._events(spark, n, seed, START_TS)
            .filter(F.col("_i") % MOD == self.corr_off)
            .withColumn(
                "ingestion_time", F.col("ingestion_time") + F.expr("INTERVAL 2 HOURS")
            )
        )
        return fresh.unionByName(corrections).drop("_i", "is_anomaly_injected")

    # -- one iteration -------------------------------------------------------

    def _expect(self, res: Result, what: str, metrics: dict, expected: dict) -> None:
        for key, want in expected.items():
            got = metrics.get(key)
            if got is None or int(got) != want:
                res.failed += 1
                res.checks.append(f"{what}: {key}={got}, expected {want}")
                return

    def iteration(self, spark, ctx: Context, base: str, tracer, n: int, n_late: int,
                  res: Result) -> dict:
        """Run one Bronze-to-warehouse iteration; return its timings."""
        paths = {
            k: os.path.join(base, k)
            for k in ("bronze", "late", "silver", "gold", "warehouse")
        }
        n_null, n_dup = _planted(n, self.null_off), _planted(n, self.dup_off)
        n_corr = _planted(n, self.corr_off)
        t = {}
        t0 = time.perf_counter()
        with tracer.span("sources.write_partitioned"):
            write_partitioned(self.bronze(spark, n, ctx.seed), paths["bronze"])
        t1 = time.perf_counter()
        with tracer.span("pipelines.bronze_to_silver"):
            b2s = bronze_to_silver(
                spark, paths["bronze"], paths["silver"],
                merge_with_existing=False, validate=True,
            )
        t2 = time.perf_counter()
        with tracer.span("pipelines.silver_to_gold"):
            s2g = silver_to_gold(spark, paths["silver"], paths["gold"])
        t3 = time.perf_counter()
        with tracer.span("warehouse.build_fact"):
            fact = warehouse.build_fact(
                spark.read.parquet(s2g.output_paths["sensor_5min"])
            )
        with tracer.span("warehouse.load_fact_window"):
            warehouse.load_fact_window(fact, paths["warehouse"])
        t4 = time.perf_counter()
        with tracer.span("sources.write_partitioned"):
            write_partitioned(
                self.late_bronze(spark, n, n_late, ctx.seed), paths["late"]
            )
        t5 = time.perf_counter()
        with tracer.span("pipelines.late_merge"):
            merge = bronze_to_silver(
                spark, paths["late"], paths["silver"], merge_with_existing=True
            )
        t6 = time.perf_counter()

        res.attempted += 4
        self._expect(res, "bronze_to_silver", b2s.metrics, {
            "input_rows": n + n_dup,
            "invalid_rows": n_null,
            "output_rows": n - n_null,
        })
        fact_rows = spark.read.parquet(paths["warehouse"]).count()
        self._expect(res, "silver_to_gold + load_fact_window", s2g.metrics,
                     {"sensor_5min_groups": fact_rows})
        self._expect(res, "late_merge", merge.metrics, {
            "input_rows": n_late + n_corr,
            "invalid_rows": 0,
            "output_rows": n - n_null + n_late,
        })
        files = bytes_ = 0
        for key in ("bronze", "late"):
            for dirpath, _dirs, names in os.walk(paths[key]):
                for name in names:
                    if not name.startswith(("_", ".")):
                        files += 1
                        bytes_ += os.path.getsize(os.path.join(dirpath, name))
        t.update(
            wall=t6 - t0,
            write=(t1 - t0) + (t5 - t4),
            b2s=t2 - t1,
            s2g=t3 - t2,
            load=t4 - t3,
            merge=t6 - t5,
            rows=n + n_dup + n_late + n_corr,
            files=files,
            bytes=bytes_,
            fact_rows=fact_rows,
            b2s_metrics=b2s.metrics,
            paths=paths,
        )
        return t

    # -- untimed warm-up and measured pass -----------------------------------

    def settle(self, spark, ctx: Context, res: Result) -> None:
        """One small checked iteration, untimed: a session's first
        iteration is mostly code generation and compilation (on 4 cores
        20k events took 15 s cold and 6.5 s warm)."""
        try:
            self.iteration(spark, ctx, ctx.new_dir("settle"), Tracer("", False),
                           SETTLE_EVENTS, SETTLE_EVENTS // 10, res)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            res.attempted += 1
            res.failed += 1

    def measure(self, spark, ctx: Context, tracer, res: Result) -> None:
        its = []
        pass_dir = ctx.new_dir("pass")
        start = time.perf_counter()
        k = 0
        while time.perf_counter() - start < ctx.seconds:
            base = os.path.join(pass_dir, f"it{k}")
            k += 1
            spark.catalog.clearCache()
            try:
                its.append(self.iteration(spark, ctx, base, tracer, N_EVENTS, N_LATE, res))
            except Exception:
                traceback.print_exc(file=sys.stderr)
                res.attempted += 1
                res.failed += 1
        wall = median(it["wall"] for it in its)
        rows = its[0]["rows"] if its else 0
        res.e2e = {"latency_s": wall, "throughput_per_s": rows / wall if wall else 0.0}
        res.summary = {
            "batch_wall_s": (wall, "s"),
            "batch_rows_per_s": (res.e2e["throughput_per_s"], "1/s"),
            "batch_iterations": (float(len(its)), "count"),
        }
        if not its:
            return
        self.last = its[-1]
        m = self.last["b2s_metrics"]
        write_s = median(it["write"] for it in its)
        res.layers.update({
            "sources.generate_rows_per_s": (rows / write_s, "1/s"),
            "sources.write_s": (write_s, "s"),
            "sources.files_written": (float(self.last["files"]), "count"),
            "sources.bytes_written": (float(self.last["bytes"]), "B"),
            "pipelines.bronze_to_silver_s": (median(it["b2s"] for it in its), "s"),
            "pipelines.silver_to_gold_s": (median(it["s2g"] for it in its), "s"),
            "pipelines.late_merge_s": (median(it["merge"] for it in its), "s"),
            "pipelines.rows_in": (float(m.get("input_rows") or 0), "count"),
            "pipelines.rows_out": (float(m.get("output_rows") or 0), "count"),
            "pipelines.invalid_rows": (float(m.get("invalid_rows") or 0), "count"),
            "pipelines.anomaly_rows": (float(m.get("anomaly_rows") or 0), "count"),
            "warehouse.load_fact_window_s": (median(it["load"] for it in its), "s"),
            "warehouse.fact_rows": (float(self.last["fact_rows"]), "count"),
        })

    def probe(self, spark, ctx: Context, tracer, res: Result) -> None:
        """Isolated noop materialisations of the pipeline's operators on
        the last iteration's inputs, and one quality-suite pass."""
        paths = self.last["paths"]
        bronze = spark.read.parquet(paths["bronze"])
        silver = spark.read.parquet(paths["silver"])
        ops = {
            "operators.cleaning.deduplicate_latest_s": lambda: cleaning.deduplicate_latest(
                bronze, keys=("sensor_id", "event_time"), order_col="ingestion_time"
            ),
            "operators.cleaning.flag_zscore_s": lambda: cleaning.flag_zscore(
                bronze, partition_cols=("sensor_id",), order_cols=("event_time",),
                value_col="value",
            ),
            "operators.aggregates.windowed_stats_s": lambda: aggregates.windowed_stats(
                silver, ts_col="event_time",
                keys=["sensor_id", "sensor_type", "location"], bucket_seconds=300,
                value_col="value", expected_per_window=300, oracle_safe=False,
            ),
            "operators.aggregates.daily_summary_s": lambda: aggregates.daily_summary(
                silver, ts_col="event_time", keys=["sensor_type"], value_col="value",
                anomaly_col="is_anomaly", distinct_count_col="sensor_id",
                oracle_safe=False,
            ),
        }
        for metric, build in ops.items():
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            with tracer.span(metric[: -len("_s")]):
                build().write.format("noop").mode("overwrite").save()
            res.layers[metric] = (time.perf_counter() - t0, "s")
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        with tracer.span("quality.validate"):
            report = validate(silver, silver_suite())
        res.layers["quality.validate_s"] = (time.perf_counter() - t0, "s")
        res.layers["quality.checks_run"] = (float(len(report)), "count")
        res.layers["quality.checks_failed"] = (
            float(sum(not r["passed"] for r in report)),
            "count",
        )
