"""The analytics half of the ``batch`` workload, run by traced runs only:
closed loop, one client, the 18 benchmark corpus queries.

The client issues one query at a time and sends the next only after the
previous one completed. Each round runs the ``bench=True`` queries of
``plans`` (the set ``bench.py`` times) in an order the seed permutes;
rounds repeat until ``--seconds`` have passed, and the last round is
finished so every run measures the same query mix;
each query is built with ``fn(spark, sf_dir)`` and materialised to the
noop sink over a seeded corpus written at ``SF``. Read-only analytics:
joins, aggregates and the dedup/similarity/text operators do the work,
nothing is written and nothing streams.

Before the timed window every query is checked once against its DuckDB
oracle with ``plans.differential.run_one``; that pass also warms the JIT.
"""

from __future__ import annotations

import os
import random
import sys
import threading
import time
import traceback
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

import corpus_tables
from harness import (
    Context,
    Result,
    median,
    percentile,
    prime_page_cache,
)
from streaming_etl_pipeline_spark.operators import dedup as DD
from streaming_etl_pipeline_spark.plans import QUERIES
from streaming_etl_pipeline_spark.plans import differential
from streaming_etl_pipeline_spark.sources import read_table

#: Corpus scale (lineitem = 6M x SF rows).
SF = 0.005
FAMILIES = ("events", "tpch", "docs")


def bench_names() -> list[str]:
    return [name for name, spec in QUERIES.items() if spec.bench]


def family(name: str) -> str:
    """Query family by the tables its oracle SQL reads."""
    sql = (QUERIES[name].sql or "").lower()
    if any(t in sql for t in ("lineitem", "orders", "customer")):
        return "tpch"
    if any(t in sql for t in ("documents", "embeddings")):
        return "docs"
    return "events"


class Queries:
    """The seeded corpus, its oracle check and the timed query rounds."""

    def prepare(self, ctx: Context) -> None:
        self.sf_dir = ctx.path("corpus", "")
        corpus_tables.write_corpus(self.sf_dir, SF, ctx.seed)
        prime_page_cache([self.sf_dir])
        self.names = bench_names()

    def settle(self, spark, ctx: Context, res: Result) -> None:
        """Every query against its oracle, once, outside the timed window.

        The checks run on ``nproc`` threads, one DuckDB connection each:
        nothing is timed here, and this first pass is mostly plan code
        generation, which one client at a time leaves most
        cores idle for (20 s on 4 threads against 27 s on one)."""
        local = threading.local()
        cons = []

        def check(name: str):
            if not hasattr(local, "con"):
                local.con = differential.duck_connect(self.sf_dir)
                cons.append(local.con)
            try:
                return differential.run_one(spark, local.con, self.sf_dir, name)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                return differential.DiffResult(name, False, "exception")

        try:
            with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
                outcomes = list(pool.map(check, self.names))
        finally:
            for con in cons:
                con.close()
        spark.catalog.clearCache()
        for out in outcomes:
            res.attempted += 1
            if not out.ok:
                res.failed += 1
                res.checks.append(f"oracle {out.name}: {out.detail}")

    def measure(self, spark, ctx: Context, tracer, res: Result) -> None:
        rng = random.Random(ctx.seed)
        latencies: list[float] = []
        per_query: dict[str, list[float]] = defaultdict(list)
        fam_build: dict[str, list[float]] = defaultdict(list)
        fam_exec: dict[str, list[float]] = defaultdict(list)
        start = time.perf_counter()
        while time.perf_counter() - start < ctx.seconds:
            order = list(self.names)
            rng.shuffle(order)
            for name in order:
                spark.catalog.clearCache()
                res.attempted += 1
                t0 = time.perf_counter()
                try:
                    with tracer.span(f"plans.build.{name}"):
                        df = QUERIES[name].fn(spark, self.sf_dir)
                    t1 = time.perf_counter()
                    with tracer.span(f"plans.execute.{name}"):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    res.failed += 1
                    continue
                latencies.append(t2 - t0)
                per_query[name].append(t2 - t1)
                fam_build[family(name)].append(t1 - t0)
                fam_exec[family(name)].append(t2 - t1)
        elapsed = time.perf_counter() - start
        res.summary = {
            "query_latency_p50_s": (median(latencies), "s"),
            "query_latency_p90_s": (percentile(latencies, 90), "s"),
            "queries_per_s": (len(latencies) / elapsed, "1/s"),
            "query_samples": (float(len(latencies)), "count"),
        }
        for fam in FAMILIES:
            res.layers[f"plans.{fam}.build_ms_p50"] = (
                median(fam_build[fam]) * 1000.0,
                "ms",
            )
            res.layers[f"plans.{fam}.exec_s_p50"] = (median(fam_exec[fam]), "s")
        for name in self.names:
            res.layers[f"plans.q.{name}.exec_s_p50"] = (
                median(per_query[name]),
                "s",
            )

    def probe(self, spark, ctx: Context, tracer, res: Result) -> None:
        """LSH useful-over-attempted ratio on the docs family's input:
        the corpus documents plus one near-twin of every tenth one."""
        docs = read_table(spark, self.sf_dir, "documents").select("doc_id", "text")
        twins = docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" dup")).alias("text"),
        )
        with tracer.span("operators.dedup.build_signatures"):
            sigs = DD.build_signatures(docs.unionByName(twins)).localCheckpoint()
        with tracer.span("operators.dedup.lsh_candidate_pairs"):
            cand = DD.lsh_candidate_pairs(sigs).count()
        with tracer.span("operators.dedup.near_dup_pairs_from_signatures"):
            verified = DD.near_dup_pairs_from_signatures(sigs).count()
        res.layers["operators.dedup.lsh_candidate_pairs"] = (float(cand), "count")
        res.layers["operators.dedup.lsh_verified_pairs"] = (float(verified), "count")
        res.layers["operators.dedup.lsh_useful_ratio"] = (
            verified / cand if cand else 0.0,
            "ratio",
        )
