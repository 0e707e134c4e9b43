"""Shared plumbing for the benchmark workloads.

Everything here runs in the benchmark's own process and touches the
engine only through its public functions: session set-up, timing
statistics, in-memory tracing spans, machine state, peak memory and the
Spark event-log metrics of a traced run.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import statistics
import tempfile
import time
import uuid
from dataclasses import dataclass, field

#: Heap of the benchmark's Spark session (local mode: the only JVM heap).
#: It starts at its maximum so peak memory does not depend on when the
#: collector chose to grow the heap.
DRIVER_MEMORY = "1g"


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q``
    percent of the samples at or below it (the maximum when fewer than
    ``100 / (100 - q)`` samples exist)."""
    s = sorted(values)
    if not s:
        return 0.0
    k = max(0, math.ceil(q / 100.0 * len(s)) - 1)
    return float(s[k])


class Tracer:
    """Spans kept in memory around calls into the engine's layers.

    A span has a name (``<layer>.<call>``), start and end (seconds on the
    ``perf_counter`` clock), the id of its parent span and the run id.
    Spans nest on one thread: the workloads call the engine from their
    main thread only. A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the time its
        child spans cover, summed by the layer prefix of the span name."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            own = (s["end"] - s["start"]) - child_time.get(s["id"], 0.0)
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + max(own, 0.0)
        return out

    @staticmethod
    def span_cost_s(n: int = 20_000) -> float:
        """Seconds one empty span adds to the call it wraps, timed over
        ``n`` spans on a throwaway tracer."""
        probe = Tracer("span-cost", True)
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("x"):
                pass
        return (time.perf_counter() - t0) / n

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


@dataclass
class Context:
    """What a workload gets from the runner."""

    work: str  # fresh directory for everything the run writes
    seed: int
    seconds: int
    trace: bool
    tracer: Tracer

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def new_dir(self, prefix: str) -> str:
        """A fresh directory for one measured pass."""
        return tempfile.mkdtemp(prefix=prefix + "-", dir=self.work)


@dataclass
class Result:
    """One measured pass of a workload.

    ``e2e`` holds the end-to-end metrics under the names BENCHMARK.json
    lists, ``summary`` the same numbers under the workload's own names,
    ``layers`` the per-layer metrics of a traced pass."""

    e2e: dict[str, float] = field(default_factory=dict)
    summary: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    checks: list[str] = field(default_factory=list)  # failed check messages


def new_run_id(workload: str, seed: int) -> str:
    return f"{workload}-{seed}-{uuid.uuid4().hex[:8]}"


def session_conf(ctx: Context) -> dict[str, str]:
    """Session settings that keep every file the run writes inside its
    work directory and turn on the event log of a traced run."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": ctx.path("spark-local", ""),
        "spark.sql.warehouse.dir": ctx.path("spark-warehouse", ""),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={ctx.path('jvm-tmp', '')} "
            f"-Dderby.system.home={ctx.path('derby', '')}"
        ),
    }
    if ctx.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + ctx.path("eventlog", ""),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def set_up_session(ctx: Context, app: str, warmup):
    """Launch the JVM, build the session and run ``warmup(spark)`` on it.
    Returns the session and the seconds ``(build, warm-up)`` took."""
    from streaming_etl_pipeline_spark.session import build_session

    t0 = time.perf_counter()
    with ctx.tracer.span("session.build_session"):
        spark = build_session(app_name=app, extra_conf=session_conf(ctx))
    t1 = time.perf_counter()
    with ctx.tracer.span("session.warmup"):
        warmup(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def quiesce(spark, seconds: float = 1.0) -> None:
    """Collect the JVM's garbage and wait, so collections and JIT
    compilations the untimed steps left queued finish before a clock
    starts rather than inside the timed window."""
    spark.sparkContext._jvm.java.lang.System.gc()
    time.sleep(seconds)


def prime_page_cache(paths) -> None:
    """Read every input file once so no timed pass pays cold-file I/O."""
    for top in paths:
        for dirpath, _dirs, files in os.walk(top):
            for name in files:
                with open(os.path.join(dirpath, name), "rb") as fh:
                    while fh.read(1 << 20):
                        pass


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus every live
    descendant — the Spark JVM and its Python workers."""
    total_kb = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_ticks() -> list[int]:
    """Host-wide CPU ticks by state, as the first line of /proc/stat
    gives them (user, nice, system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict:
    """Busy, iowait and steal shares of the host's CPU time between two
    ``cpu_ticks`` readings: a slow run on a contended host shows here."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {
        "busy": 1.0 - (d[3] + d[4]) / total,
        "iowait": d[4] / total,
        "steal": d[7] / total,
    }


def machine_record() -> dict:
    from streaming_etl_pipeline_spark.machine_state import machine_state

    return {
        "machine_state": machine_state(),
        "nproc": len(os.sched_getaffinity(0)),
        "load_1m": os.getloadavg()[0],
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
    }


def event_log_metrics(ctx: Context, app_id: str, t0: float, t1: float) -> dict:
    """Shuffle, spill, task count and task skew of the tasks launched in
    the epoch-seconds window ``[t0, t1]``, from the session's event log.
    Call after the session has stopped so the log is complete."""
    files = glob.glob(os.path.join(ctx.work, "eventlog", app_id + "*"))
    if not files:
        return {}
    lo, hi = t0 * 1000.0, t1 * 1000.0
    shuffle = spill = tasks = 0
    per_stage: dict[tuple, list[float]] = {}
    with open(files[0]) as fh:
        for line in fh:
            if '"SparkListenerTaskEnd"' not in line:
                continue
            ev = json.loads(line)
            info = ev.get("Task Info", {})
            launch = info.get("Launch Time", 0)
            if not lo <= launch <= hi:
                continue
            m = ev.get("Task Metrics") or {}
            tasks += 1
            shuffle += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            key = (ev.get("Stage ID"), ev.get("Stage Attempt ID"))
            per_stage.setdefault(key, []).append(
                max(info.get("Finish Time", launch) - launch, 1)
            )
    skew = max(
        (max(d) / median(d) for d in per_stage.values() if len(d) >= 2),
        default=1.0,
    )
    return {
        "spark.shuffle_write_bytes": (float(shuffle), "B"),
        "spark.spill_bytes": (float(spill), "B"),
        "spark.tasks": (float(tasks), "count"),
        "spark.task_skew_max_over_median": (float(skew), "ratio"),
    }
