"""``ingest``: open-loop streaming ingest of JSONL sensor events.

Topology (all from ``streaming``): ``read_json_stream`` →
``parse_events`` → ``start_bronze_sink`` + ``start_dead_letter_sink`` +
``start_gold_upsert_sink``. The three queries each read the landing
directory, so every line is parsed three times.

A pass has two phases on one set of checkpoints:

- backlog: ``DRAINS`` times in a row, ``BACKLOG_EVENTS`` events land
  before the queries start and the queries drain them with
  ``availableNow``. The drain throughput is the lines of all drains
  over the sum of their start-to-done times.
- live: one producer thread lands a file every ``FILE_INTERVAL_S``
  holding the events due in that interval, at ``RATE`` events/s — a
  fixed schedule that does not slow when the engine does — while the
  queries, restarted from their checkpoints, run on processing-time
  triggers. An event's latency runs from when it was due until the
  Bronze micro-batch holding its file commits (the commit file's mtime
  in the checkpoint).

The engine is still compiling its hot code during the pass: right after
set-up, four 10k-event backlogs in a row drained at 2.3k, 3.9k, 4.2k and
4.6k events/s on 4 cores. An untimed settle drain comes first, and the
backlog phase runs before the live phase, so the live phase, whose
latency is the more fragile figure, sees a warmer engine.

Events carry planted shares of malformed lines, exact duplicates and
late events (event time up to ``LATE_MAX_S`` behind, inside the 10
minute watermark). Correctness: Bronze rows plus dead-letter rows equal
the lines produced, each equals its planted count, and the Gold
``sum(reading_count)`` equals the Bronze rows.
"""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np
from pyspark.sql import functions as F

from harness import Context, Result, Tracer, median, percentile
from streaming_etl_pipeline_spark.sources.generator import SENSOR_SPECS
from streaming_etl_pipeline_spark.streaming import (
    parse_events,
    read_json_stream,
    start_bronze_sink,
    start_dead_letter_sink,
    start_gold_upsert_sink,
)

RATE = 1_000  # live events/s: below the 1.8k-6k/s a 4-core host drained, busy or idle
FILE_INTERVAL_S = 0.25
TRIGGER_S = 2
DRAINS = 3
BACKLOG_EVENTS = 10_000  # per drain: one trigger of each query
BACKLOG_FILE_EVENTS = 1_000
MAX_FILES_PER_TRIGGER = 10
SETTLE_EVENTS = 5_000
MALFORMED_SHARE = 0.02
DUPLICATE_SHARE = 0.02
LATE_SHARE = 0.03
LATE_MAX_S = 240.0
EVENT_EPOCH = np.datetime64("2024-06-15T10:00:00", "ms")
QUERIES = ("bronze", "dlq", "gold")
DLQ_SCHEMA = "raw_value string, error_time timestamp, error_type string"


def make_lines(rng, first: int, n: int) -> tuple[list[list[str]], int, int]:
    """Lines for event slots ``first .. first+n-1`` (one slot per 1/RATE
    s of event time). Returns per-slot line lists, the count of valid
    lines and the count of malformed lines."""
    slot = np.arange(first, first + n)
    sensor = rng.integers(0, 50, n)
    types = list(SENSOR_SPECS)
    kind = rng.random(n)
    late = rng.random(n) < LATE_SHARE
    shift_ms = np.where(late, rng.uniform(1.0, LATE_MAX_S, n) * 1000, 0).astype(np.int64)
    ts = EVENT_EPOCH + (slot * 1000 // RATE - shift_ms).astype("timedelta64[ms]")
    ts_s = np.datetime_as_string(ts, unit="ms")
    noise = rng.standard_normal(n)
    out: list[list[str]] = []
    valid = malformed = 0
    for i in range(n):
        s = int(sensor[i])
        t = types[s % len(types)]
        base, sigma, lo, hi, _mult, unit = SENSOR_SPECS[t]
        if kind[i] < MALFORMED_SHARE:
            out.append([f"#corrupt slot={first + i} sensor-{s:03d} ###"])
            malformed += 1
            continue
        value = round(min(hi, max(lo, base + sigma * noise[i])), 2)
        line = (
            f'{{"sensor_id":"sensor-{s:03d}","sensor_type":"{t}",'
            f'"timestamp":"{ts_s[i]}Z","value":{value},"unit":"{unit}",'
            f'"location":"floor-{s % 5 + 1}-zone-{"ABCD"[s % 4]}"}}'
        )
        copies = 2 if kind[i] < MALFORMED_SHARE + DUPLICATE_SHARE else 1
        out.append([line] * copies)
        valid += copies
    return out, valid, malformed


def land(staging: str, landing: str, name: str, lines: list[str]) -> None:
    """Write a file outside the watched directory, then rename it in, so
    the stream never lists a half-written file."""
    tmp = os.path.join(staging, name)
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.replace(tmp, os.path.join(landing, name))


def progress_dicts(query) -> list[dict]:
    return [
        json.loads(p.json) if hasattr(p, "json") else dict(p)
        for p in query.recentProgress
    ]


def batch_files(checkpoint: str) -> dict[str, int]:
    """File name → batch id, from the file source's metadata log."""
    out: dict[str, int] = {}
    log = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    commits = os.path.join(checkpoint, "commits")
    return {
        int(name): os.stat(os.path.join(commits, name)).st_mtime
        for name in os.listdir(commits)
        if name.isdigit()
    }


class Topology:
    """The three ingest queries over one landing directory."""

    def __init__(self, spark, base: str, tracer) -> None:
        self.spark = spark
        self.base = base
        self.tracer = tracer
        self.landing = os.path.join(base, "landing")
        self.staging = os.path.join(base, "staging")
        os.makedirs(self.landing, exist_ok=True)
        os.makedirs(self.staging, exist_ok=True)
        self.out = {q: os.path.join(base, q) for q in QUERIES}
        self.ckpt = {q: os.path.join(base, "checkpoints", q) for q in QUERIES}

    def start(self, trigger: dict) -> dict:
        with self.tracer.span("streaming.read_json_stream"):
            raw = read_json_stream(
                self.spark, self.landing, max_files_per_trigger=MAX_FILES_PER_TRIGGER
            )
        with self.tracer.span("streaming.parse_events"):
            bronze, dead = parse_events(raw)
        with self.tracer.span("streaming.start_bronze_sink"):
            qb = start_bronze_sink(bronze, self.out["bronze"], self.ckpt["bronze"], trigger)
        with self.tracer.span("streaming.start_dead_letter_sink"):
            qd = start_dead_letter_sink(dead, self.out["dlq"], self.ckpt["dlq"], trigger)
        with self.tracer.span("streaming.start_gold_upsert_sink"):
            qg = start_gold_upsert_sink(bronze, self.out["gold"], self.ckpt["gold"],
                                        trigger=trigger)
        return {"bronze": qb, "dlq": qd, "gold": qg}

    def drain(self) -> dict:
        """Run the queries with availableNow until they finish."""
        queries = self.start({"availableNow": True})
        with self.tracer.span("streaming.await_available_now"):
            for q in queries.values():
                q.awaitTermination()
        for q in queries.values():
            if q.exception() is not None:
                raise RuntimeError(f"query {q.name} failed: {q.exception()}")
        return queries

    def counts(self) -> tuple[int, int, int]:
        """Bronze rows, dead-letter rows and the Gold sum(reading_count)."""
        spark = self.spark
        bronze = spark.read.parquet(self.out["bronze"]).count()
        dead = spark.read.schema(DLQ_SCHEMA).json(self.out["dlq"]).count()
        gold = spark.read.parquet(self.out["gold"]).agg(F.sum("reading_count")).first()[0]
        return bronze, dead, int(gold or 0)


class Ingest:
    """Seeded event lines, the backlog drain and the live open loop."""

    def prepare(self, ctx: Context) -> None:
        rng = np.random.default_rng(ctx.seed)
        self.settle_lines, _, _ = make_lines(rng, 0, SETTLE_EVENTS)
        n_live = int(RATE * ctx.seconds)
        self.backlogs = [make_lines(rng, d * BACKLOG_EVENTS, BACKLOG_EVENTS)
                         for d in range(DRAINS)]
        self.backlog_valid = sum(valid for _, valid, _ in self.backlogs)
        self.backlog_bad = sum(bad for _, _, bad in self.backlogs)
        self.live, self.live_valid, self.live_bad = make_lines(
            rng, DRAINS * BACKLOG_EVENTS, n_live)

    def warmup(self, spark, ctx: Context) -> None:
        """Start the three queries on an empty landing directory: what a
        deployment pays before its first event arrives."""
        Topology(spark, ctx.path("warmup"), Tracer("", False)).drain()

    def settle(self, spark, ctx: Context, res: Result) -> None:
        """Drain a backlog once, untimed: the first events an engine
        parses and writes pay most of its code compilation (on 4 cores a
        cold 20k-event drain ran at 1.7k events/s, and 3.5k after a
        2k-event settle drain)."""
        topo = Topology(spark, ctx.new_dir("settle"), Tracer("", False))
        land(topo.staging, topo.landing, "settle.jsonl",
             [line for slot in self.settle_lines for line in slot])
        topo.drain()

    def _check(self, res: Result, topo: Topology, valid: int, bad: int) -> None:
        bronze, dead, gold = topo.counts()
        res.attempted += valid + bad
        for what, got, want in (
            ("bronze rows", bronze, valid),
            ("dead-letter rows", dead, bad),
            ("gold sum(reading_count)", gold, bronze),
        ):
            if got != want:
                res.failed += abs(got - want)
                res.checks.append(f"{what}: {got}, expected {want}")

    def measure(self, spark, ctx: Context, tracer, res: Result) -> None:
        topo = Topology(spark, ctx.new_dir("pass"), tracer)

        # backlog phase: each time, the queries start on files that landed
        # before them and drain them with availableNow
        per_file = BACKLOG_FILE_EVENTS
        drain_s = 0.0
        for d, (backlog, _, _) in enumerate(self.backlogs):
            for j in range(0, BACKLOG_EVENTS, per_file):
                land(topo.staging, topo.landing, f"backlog-{d}-{j // per_file:05d}.jsonl",
                     [line for slot in backlog[j:j + per_file] for line in slot])
            t0 = time.perf_counter()
            topo.drain()
            drain_s += time.perf_counter() - t0
        drain_rate = (self.backlog_valid + self.backlog_bad) / drain_s

        # live phase
        per_file = int(RATE * FILE_INTERVAL_S)
        n_files = len(self.live) // per_file
        landed: list[float] = [0.0] * n_files
        queries = topo.start({"processingTime": f"{TRIGGER_S} seconds"})
        # processing-time triggers fire on whole multiples of the interval;
        # files land half a file interval off those instants, so no file
        # races a trigger and the landing/trigger phase is the same in
        # every run; the queries get at least a second to start
        start = (int(time.time() + 1) // TRIGGER_S + 1) * TRIGGER_S + FILE_INTERVAL_S / 2

        def produce() -> None:
            for j in range(n_files):
                due = start + (j + 1) * FILE_INTERVAL_S
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                land(topo.staging, topo.landing, f"live-{j:05d}.jsonl",
                     [line for slot in self.live[j * per_file:(j + 1) * per_file]
                      for line in slot])
                landed[j] = time.time()

        producer = threading.Thread(target=produce, name="ingest-producer")
        scheduled = [start + (j + 1) * FILE_INTERVAL_S for j in range(n_files)]
        with tracer.span("streaming.live"):
            producer.start()
            producer.join()
            for q in queries.values():
                q.processAllAvailable()
        progress = {name: progress_dicts(q) for name, q in queries.items()}
        for q in queries.values():
            q.stop()

        # latency: due time of every valid live line → its Bronze commit
        files = batch_files(topo.ckpt["bronze"])
        commits = commit_times(topo.ckpt["bronze"])
        latencies: list[float] = []
        file_commit: list[float] = []
        for j in range(n_files):
            commit = commits[files[f"live-{j:05d}.jsonl"]]
            file_commit.append(commit)
            for k in range(j * per_file, (j + 1) * per_file):
                due = start + k / RATE
                for line in self.live[k]:
                    if not line.startswith("#"):
                        latencies.append(commit - due)
        # most live files landed but not yet committed, just before a commit
        backlog_max = max(
            sum(1 for j in range(n_files) if landed[j] < c and file_commit[j] >= c)
            for c in set(file_commit)
        )
        live_span = max(file_commit) - start

        self._check(res, topo, self.backlog_valid + self.live_valid,
                    self.backlog_bad + self.live_bad)

        res.e2e = {"latency_s": median(latencies), "throughput_per_s": drain_rate}
        res.summary = {
            "ingest_drain_events_per_s": (drain_rate, "1/s"),
            "ingest_events_per_s": (self.live_valid / live_span, "1/s"),
            "ingest_latency_p50_s": (res.e2e["latency_s"], "s"),
            "ingest_latency_p99_s": (percentile(latencies, 99), "s"),
            "ingest_latency_samples": (float(len(latencies)), "count"),
        }
        attempted_parses = 0
        for name in QUERIES:
            busy = [p for p in progress[name] if p.get("numInputRows", 0) > 0]
            attempted_parses += sum(p["numInputRows"] for p in busy)
            dur = [p.get("durationMs", {}) for p in busy]
            layer = f"streaming.{name}"
            res.layers.update({
                f"{layer}.trigger_ms_p50": (median(d.get("triggerExecution", 0) for d in dur), "ms"),
                f"{layer}.trigger_ms_p90": (percentile([d.get("triggerExecution", 0) for d in dur], 90), "ms"),
                f"{layer}.add_batch_ms_p50": (median(d.get("addBatch", 0) for d in dur), "ms"),
                f"{layer}.latest_offset_ms_p50": (median(d.get("latestOffset", 0) for d in dur), "ms"),
                f"{layer}.wal_commit_ms_p50": (median(d.get("walCommit", 0) for d in dur), "ms"),
                f"{layer}.rows_per_trigger_p50": (median(p["numInputRows"] for p in busy), "count"),
            })
        state = (progress["gold"][-1].get("stateOperators") or [{}])[0] if progress["gold"] else {}
        live_lines = self.live_valid + self.live_bad
        res.layers.update({
            "streaming.backlog_files_max": (float(backlog_max), "count"),
            "streaming.gold.state_rows": (float(state.get("numRowsTotal", 0)), "count"),
            "streaming.gold.state_bytes": (float(state.get("memoryUsedBytes", 0)), "B"),
            "streaming.parses_per_event": (
                live_lines / attempted_parses if attempted_parses else 0.0, "ratio"),
            "streaming.generator_lag_max_s": (
                max(a - s for a, s in zip(landed, scheduled)), "s"),
        })
