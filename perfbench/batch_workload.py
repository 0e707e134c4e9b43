"""``batch``: a nightly job in a fresh session, then, traced, its analytics.

Every run warms the ETL with one small untimed, checked iteration, then
times one medallion ETL iteration with writes (``medallion_workload``):
Bronze parquet → Silver → Gold → warehouse → a late merge into Silver.
``streaming`` does no work here.

End-to-end: ``latency_s`` is the iteration's wall time,
``throughput_per_s`` its input rows over that time.

A traced run (``--trace 1``) then does the analytics half
(``queries_workload``): it checks every corpus query against its DuckDB
oracle, untimed, and times one closed-loop round of the 18
``bench=True`` queries, one client, seeded order, noop sink; the round's
latencies and rate are printed and its per-query times are per-layer
metrics. Untraced runs skip it. A round is 18 short, driver-heavy
queries, and a host that steals a few percent of its CPU slows them by
a third, so no bound could hold on them; the oracle pass and the round
would also add about 35 s to each of the 22 runs a workload is measured
with, and the benchmark schedule makes 4 + 22 runs per workload within
3420 s.
"""

from __future__ import annotations

from harness import Context, Result
from medallion_workload import Medallion
from queries_workload import Queries
from streaming_etl_pipeline_spark.sources.generator import generate_events

WARMUP_EVENTS = 1_000


def _merge(into: Result, part: Result) -> None:
    into.summary.update(part.summary)
    into.layers.update(part.layers)
    into.attempted += part.attempted
    into.failed += part.failed
    into.checks.extend(part.checks)


class Batch:
    """The ETL iteration; traced, the query round after it."""

    def __init__(self) -> None:
        self.etl = Medallion()
        self.queries = Queries()

    def prepare(self, ctx: Context) -> None:
        self.etl.prepare(ctx)
        if ctx.trace:
            self.queries.prepare(ctx)

    def warmup(self, spark, ctx: Context) -> None:
        """The session's first job: count a few generated events."""
        generate_events(spark, WARMUP_EVENTS, seed=ctx.seed).count()

    def settle(self, spark, ctx: Context, res: Result) -> None:
        self.etl.settle(spark, ctx, res)

    def measure(self, spark, ctx: Context, tracer, res: Result) -> None:
        self.etl.measure(spark, ctx, tracer, res)

    def probe(self, spark, ctx: Context, tracer, res: Result) -> None:
        self.etl.probe(spark, ctx, tracer, res)
        queries = Result()
        self.queries.settle(spark, ctx, queries)
        self.queries.measure(spark, ctx, tracer, queries)
        self.queries.probe(spark, ctx, tracer, queries)
        _merge(res, queries)
