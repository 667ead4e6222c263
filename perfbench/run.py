#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload {build,search,ingest} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Starts a local Spark session sized to the
box (``local[<cpus>]``, a driver heap of a quarter of RAM capped at
2 GiB, private tmp and local dirs under ``.perfbench_work/``), sets up
the workload's inputs, measures for ``--seconds`` and checks every
answer. Prints one ``info``/``report`` JSON line with the per-class
metrics, then, as the last line, the result:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` records spans, runs the
layer probes and reports the per-layer metrics. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WORKLOAD_NAMES = ("build", "search", "ingest")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOAD_NAMES, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def heap_mb() -> int:
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return max(1024, min(2048, total_kb // 1024 // 4))


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(line for line in f if line.startswith("VmHWM")).split()[1]
    return int(kb) / 1024


def start_session(work: str, cpus: int):
    from bugzilla_etl_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        master=f"local[{cpus}]",
        app_name="perfbench",
        extra_conf={
            # keeps session.py's collector; moves the JVM tmp dir into the
            # run dir (quoted: the checkout path may hold spaces) and
            # turns off the perf-data file HotSpot writes under /tmp
            "spark.driver.extraJavaOptions":
                f'-XX:+UseParallelGC -XX:-UsePerfData "-Djava.io.tmpdir={tmp}"',
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def pin_client() -> int:
    """Pin every thread of this process (the client and the engine's
    driver side, not the JVM started before) to one CPU. The engine's
    driver-local query route is CPU-bound: on a shared VM host its
    latency followed the host's CPU steal while its threads spread over
    all vCPUs, and held steady on one vCPU at the same median. Threads
    started later (pyarrow's pools) inherit the mask."""
    cpu = max(os.sched_getaffinity(0))
    for tid in os.listdir("/proc/self/task"):
        os.sched_setaffinity(int(tid), {cpu})
    return cpu


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def p50_ms(xs) -> float | None:
    return statistics.median(xs) * 1e3 if xs else None


def p90_ms(xs) -> float | None:
    """p90 only where at least ten samples lie beyond it."""
    return statistics.quantiles(xs, n=10)[8] * 1e3 if len(xs) >= 100 else None


def class_report(workload: str, r, ctx, rss: float) -> dict:
    """The per-class metrics under their long names: value, unit and,
    for timings, the sample count."""
    rep = {}

    def put(name, value, unit, n=None):
        rep[name] = {"value": value, "unit": unit, **({"n": n} if n is not None else {})}

    def timing(name, xs, p90=True):
        put(f"{name}_p50_ms", p50_ms(xs), "ms", len(xs))
        if p90:
            put(f"{name}_p90_ms", p90_ms(xs), "ms", len(xs))

    put("setup_s", ctx.setup_s, "s", len(ctx.setup_dirs))
    put("error_rate", r.failed / max(1, r.attempted), "failed/attempted")
    put("peak_rss_mb", rss, "MB")
    if workload == "build":
        put("build_postings_per_s", r.work_per_s, "postings/s", len(r.lat("build")))
        put("index_bytes_per_content_byte", r.bytes_ratio, "ratio")
        timing("build", r.lat("build"), p90=False)
    elif workload == "search":
        for cls in ("hot", "rare", "batch8"):
            timing(f"search_{cls}", r.lat(cls), p90=cls != "batch8")
        put("search_qps", r.work_per_s, "queries/s")
    else:
        timing("append", r.lat("append"), p90=False)
        timing("merge", [c["merge_s"] for c in r.cycles if c["merges"]], p90=False)
        timing("ingest_query", r.lat("query"))
        put("ingest_docs_per_s", r.work_per_s, "docs/s", len(r.cycles))
    return rep


def per_layer(ctx, r, workload: str, session_s: float, gc0: float) -> dict:
    import probes
    from inputs import Inputs
    from spans import span_cost_us
    from workloads import Result, ingest_cycle

    base = ctx.setup_dirs[-1]
    request_spans = [
        s for s in ctx.tracer.spans if s["name"] == "request" and s["cls"] != "setup"
    ]
    window_reqs = {s["req"] for s in request_spans}
    out = {
        "session.start_s": session_s,
        "trace.call_p50_ms": statistics.median(s["end"] - s["start"] for s in request_spans) * 1e3,
        "trace.span_cost_us": span_cost_us(),
        "trace.spans_per_call": sum(s["req"] in window_reqs for s in ctx.tracer.spans)
        / len(request_spans),
    }
    cycles = r.cycles
    if not cycles:  # one probe cycle gives the merge and pruning metrics
        probe = Result()
        ingest_cycle(ctx, base, 0, Inputs(ctx.inputs.seed).ingest_queries(), probe)
        r.attempted += probe.attempted
        r.failed += probe.failed
        cycles = probe.cycles
    out.update(probes.merge_metrics(cycles))
    query_index = ctx.path("ingest") if workload == "ingest" else base
    q, texts = probes.query_probes(ctx, query_index)
    out.update(q)
    out.update(probes.tokenize_probes(ctx, texts))
    out.update(probes.codec_probes(query_index))
    out.update(probes.build_probes(ctx, base))
    out.update(probes.manifest_probes(ctx, query_index))
    out["session.jvm_gc_ms"] = probes.jvm_gc_ms(ctx.spark) - gc0
    return out


UNITS = {
    "setup_s": "s", "call_p50_ms": "ms", "work_per_s": "1/s", "peak_rss_mb": "MB",
    "index_bytes_per_content_byte": "B/B",
}


def layer_unit(name: str) -> str:
    for suffix, unit in (("_mb_per_s", "MB/s"), ("_ms", "ms"), ("_us", "us"), ("_s", "s")):
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv=None) -> int:
    t_main = time.monotonic()
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    try:
        import bugzilla_etl_spark  # noqa: F401 — the engine under test
    except ImportError as e:
        print(f"perfbench: engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import check

    check.self_test()  # the correctness gate itself, before any timing

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb()}m",
        PYSPARK_PYTHON=sys.executable,
        # the launcher JVM spark-submit starts first would write /tmp/hsperfdata_*
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    tempfile.tempdir = os.path.join(work, "tmp")

    import pyarrow
    import pyspark

    from inputs import APPEND_DOCS, N_DOCS, Inputs
    from spans import Tracer
    from workloads import WORKLOADS, Ctx

    t0 = time.monotonic()
    try:
        spark = start_session(work, cpus)
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    session_s = time.monotonic() - t0
    try:
        client_cpu = pin_client()
        import probes

        gc0 = probes.jvm_gc_ms(spark)
        ctx = Ctx(spark, Inputs(args.seed), Tracer(bool(args.trace)), work, args.seconds, cpus)
        t1 = time.monotonic()
        r = WORKLOADS[args.workload](ctx)
        t2 = time.monotonic()
        layers = per_layer(ctx, r, args.workload, session_s, gc0) if args.trace else None
        t3 = time.monotonic()
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    phases = {"session": session_s, "setup": ctx.setup_wall_s,
              "window_and_checks": t2 - t1 - ctx.setup_wall_s, "probes": t3 - t2,
              "teardown": time.monotonic() - t3}
    trace_file = None
    if args.trace:
        os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
        trace_file = os.path.join(WORK_ROOT, "traces", f"{args.workload}-s{args.seed}.jsonl")
        ctx.tracer.write(trace_file)

    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "master": f"local[{cpus}]", "client_cpu": client_cpu,
        "driver_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0], "n_docs": N_DOCS, "append_docs": APPEND_DOCS,
        "trace_file": trace_file, "phase_s": phases, "run_wall_s": time.monotonic() - t_main,
    }
    print(json.dumps({"info": info, "report": class_report(args.workload, r, ctx, rss)}))
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(layers.items())}
    else:
        values = {
            "setup_s": ctx.setup_s,
            "call_p50_ms": statistics.median(r.lat()) * 1e3,
            "work_per_s": r.work_per_s,
            "peak_rss_mb": rss,
            "index_bytes_per_content_byte": r.bytes_ratio,
        }
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}
    correct = r.failed == 0 and (ctx.oracle is None or ctx.planted is True)
    print(json.dumps({"correct": correct, "attempted": r.attempted, "failed": r.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
