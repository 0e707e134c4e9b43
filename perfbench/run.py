#!/usr/bin/env python3
"""Repository benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload {ingest,batch} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The engine runs on ``local[nproc]``
(``$SPARK_GRAFT_CPUS`` when set) and is driven only through its public
functions; every timer and span lives in this directory. Each run:

1. writes the workload's seeded inputs (no clock running);
2. launches the JVM, builds the session and warms it up: ``setup_s``
   is this time, everything a deployment pays before its first
   operation;
3. runs the workload's untimed, checked settle step (ingest: one small
   drain; batch: one small ETL iteration), which warms the JIT, then
   collects the JVM's garbage and waits a second;
4. measures for ``--seconds``, checking every operation's output; with
   ``--trace 1`` this pass records spans, so the per-layer metrics come
   from the same point of the JVM's warm-up as the untraced end-to-end
   figures;
5. with ``--trace 1``, runs the workload's isolated per-layer probes
   (batch: also the oracle check and the query round) and reads the
   Spark event log. The tracing overhead is the measured
   pass's span count times the cost of one empty span.

Everything the run writes lands in a fresh directory under
``.perfbench/`` in the checkout; the engine's outputs are deleted at the
end and ``result.json`` (plus ``spans.jsonl`` when traced) is kept. The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and the metrics BENCHMARK.json lists — the
end-to-end ones untraced, the per-layer ones traced. The lines above it
name every metric the workload measured, ``error_rate`` included.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {
    "ingest": ("ingest_workload", "Ingest"),
    "batch": ("batch_workload", "Batch"),
}


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def stop_spark() -> None:
    """Stop the active Spark context and the JVM behind it, and wait for
    both: left to itself, the JVM exits only after this process has, so
    the run would end with a process still running. Does nothing when
    neither runs."""
    from pyspark import SparkContext

    from harness import descendants

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(descendants(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import streaming_etl_pipeline_spark as engine
    except ImportError as exc:
        return fail(f"engine package not found under {ROOT}: {exc}")
    if not os.path.abspath(engine.__file__).startswith(ROOT + os.sep):
        return fail(f"engine imported from outside the checkout: {engine.__file__}")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as exc:
        return fail(f"cannot read BENCHMARK.json: {exc}")

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    from harness import (
        DRIVER_MEMORY,
        Context,
        Result,
        Tracer,
        cpu_shares,
        cpu_ticks,
        event_log_metrics,
        machine_record,
        new_run_id,
        peak_rss_mb,
        quiesce,
        set_up_session,
    )

    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    out_root = os.path.join(ROOT, ".perfbench")
    os.makedirs(out_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(
        prefix=f"{args.workload}-seed{args.seed}-trace{args.trace}-", dir=out_root
    )
    work = os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM the run starts (Spark's launcher and the session's) would
    # otherwise write its perf-data file under the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None  # re-read TMPDIR

    run_id = new_run_id(args.workload, args.seed)
    ctx = Context(
        work=work, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), tracer=Tracer(run_id, bool(args.trace)),
    )
    module, cls = WORKLOADS[args.workload]
    wl = getattr(importlib.import_module(module), cls)()
    machine = machine_record()
    ticks = cpu_ticks()
    phases: dict[str, float] = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    try:
        wl.prepare(ctx)
        phase("prepare")
        spark, build, warm = set_up_session(
            ctx, f"perfbench-{args.workload}", lambda s: wl.warmup(s, ctx)
        )
        phase("setup")
        checks = Result()
        wl.settle(spark, ctx, checks)
        quiesce(spark)
        phase("settle")
        measured = Result()
        spans_before = len(ctx.tracer.spans)
        t0 = time.time()
        wl.measure(spark, ctx, ctx.tracer, measured)
        window = (t0, time.time())
        measured_spans = len(ctx.tracer.spans) - spans_before
        phase("measure")
        if args.trace and hasattr(wl, "probe"):
            wl.probe(spark, ctx, ctx.tracer, measured)
            phase("probe")
        rss = peak_rss_mb()
        app_id = spark.sparkContext.applicationId
        stop_spark()
        phase("stop")
        spark_layers = event_log_metrics(ctx, app_id, *window) if args.trace else {}
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    machine["cpu_shares"] = cpu_shares(ticks, cpu_ticks())
    runs = [checks, measured]
    attempted = sum(r.attempted for r in runs)
    failed = sum(r.failed for r in runs)
    setup_s = build + warm
    e2e = dict(measured.e2e, setup_s=setup_s, peak_rss_mb=rss)
    layers = {"session.build_s": (build, "s"), "session.warmup_s": (warm, "s")}
    layers.update(measured.layers)
    layers.update(spark_layers)
    if args.trace:
        for layer, secs in ctx.tracer.self_times().items():
            layers[f"{layer}.self_s"] = (secs, "s")
        span_cost = Tracer.span_cost_s()
        layers["trace.spans"] = (float(measured_spans), "count")
        layers["trace.span_cost_us"] = (span_cost * 1e6, "us")
        layers["trace.overhead_s"] = (measured_spans * span_cost, "s")
        ctx.tracer.write(os.path.join(run_dir, "spans.jsonl"))

    summary = dict(measured.summary)
    summary["setup_s"] = (setup_s, "s")
    summary["peak_rss_mb"] = (rss, "MB")
    summary["error_rate"] = (failed / attempted if attempted else 1.0, "ratio")
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "run_id": run_id, "machine": machine,
        "summary": summary, "e2e": e2e, "layers": layers,
        "attempted": attempted, "failed": failed, "phases_s": phases,
        "failed_checks": [c for r in runs for c in r.checks],
    }
    with open(os.path.join(run_dir, "result.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)

    for msg in detail["failed_checks"]:
        print(f"# FAILED {msg}")
    for name, (value, unit) in summary.items():
        print(f"# {args.workload} {name} = {value:.6g} {unit}")
    if args.trace:
        for name, (value, unit) in sorted(layers.items()):
            print(f"# {args.workload} {name} = {value:.6g} {unit}")
    print("# phases: " + " ".join(f"{k}={v:.1f}s" for k, v in phases.items()))
    print("# host: load_1m={:.2f} ".format(machine["load_1m"]) + " ".join(
        f"{k}={v:.1%}" for k, v in machine["cpu_shares"].items()))
    print(f"# artifacts: {os.path.relpath(run_dir, ROOT)}")

    if args.trace:
        wanted = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {
            name: {"value": float(layers.get(name, (0.0,))[0]), "unit": unit}
            for name, unit in wanted.items()
        }
    else:
        metrics = {
            m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
