"""Benchmark entry point: seeded inputs, set-up, a measured closed loop,
correctness checks, one JSON result line.

    python3 perfbench/run.py --workload ais --seed 1 --seconds 20 --trace 0

Run it from the repository root. Inputs are generated from the seed into
`.perfbench_work/inputs/` (cached per workload and seed); everything a run
writes stays under `.perfbench_work/`. The last line of standard output is
`{"correct", "attempted", "failed", "metrics"}`; with `--trace 0` the
metrics are the end-to-end metrics, with `--trace 1` the per-layer ones.
The line before it records host telemetry. The exit code is non-zero when
a correctness check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

ROOT = os.getcwd()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput_per_s": "1/s",
    "recall": "ratio",
    "peak_rss_mb": "MB",
}

# Spans opened around layer calls; each gets self time and engine counters.
SPANS = [
    "sources.scan",
    "pipeline.enrich",
    "pipeline.write",
    "pipeline.daily_counts",
    "incremental.drain",
    "incremental.scan",
    "incremental.daily_counts",
    "dedup.shingles",
    "dedup.signature",
    "dedup.candidates",
    "dedup.verify",
    "graph.components",
    "similarity.bucketize",
    "similarity.topk",
]
OP_SPANS = ["op.pass", "op.delta", "op.dedup", "op.search"]
ENGINE_COUNTERS = {"tasks": "count", "busy_frac": "ratio", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "gc_s": "s"}

PER_LAYER = {
    "session.start_s": "s",
    **{f"{s}_s": "s" for s in SPANS + OP_SPANS},
    "sources.bytes_read": "bytes",
    "sources.files_read": "count",
    "pipeline.enrich_rows_per_s": "1/s",
    "pipeline.rows_in": "count",
    "pipeline.rows_enriched": "count",
    "pipeline.rows_preserved": "count",
    "pipeline.rows_dropped": "count",
    "pipeline.files_written": "count",
    "pipeline.bytes_written_per_input_byte": "ratio",
    "incremental.batches_per_drain": "count",
    "incremental.output_files": "count",
    "incremental.output_bytes": "bytes",
    "incremental.planning_ms": "ms",
    "incremental.add_batch_ms": "ms",
    "incremental.wal_commit_ms": "ms",
    "incremental.commit_offsets_ms": "ms",
    "incremental.latest_offset_ms": "ms",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "dedup.max_bucket_width": "count",
    "dedup.pair_recall": "ratio",
    "dedup.doc_recall": "ratio",
    "graph.edges_in": "count",
    "graph.groups_out": "count",
    "similarity.candidates_per_query": "count",
    "similarity.max_bucket_size": "count",
    "similarity.recall_at_10": "ratio",
    **{f"{s}.{c}": u for s in SPANS for c, u in ENGINE_COUNTERS.items()},
    "engine.failed_tasks": "count",
    "trace.overhead_s": "s",
}

HARD_LIMIT_S = 170  # the watchdog's deadline
# the measured loop stops this long before it: on a loaded 4-core host the
# final checks took at most 4 s, and stopping the engine a few more
STOP_MARGIN_S = 20
# The JVM heap is pinned (size and initial size, -Xms) below the
# program's 8g default: with the default, peak RSS follows the collector's
# choice of when to grow the heap and spreads by a quarter between runs.
# Pinned, peak_rss_mb tracks memory outside the heap (native and off-heap
# buffers, the Python process); heap demand above HEAP fails the run.
HEAP = "1g"


def cpu_marker_s() -> float:
    """Single-core CPU speed marker (the same loop as bench.py): a slow
    reading flags a host whose cores are shared, whatever its loadavg."""
    t0 = time.perf_counter()
    s = 0
    for i in range(20_000_000):
        s += i
    return time.perf_counter() - t0


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks so far: steal is time the hypervisor gave
    this machine's CPUs to someone else, which slows every metric."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(app: str, run_dir: str, trace: bool):
    from posting_lines_spark.session import get_spark

    extra = {
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": f"-Xms{HEAP}",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app=app, cpus=cores(), extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_engine(spark, timeout: float = 30) -> None:
    """Stop the session (if given), then the JVM, and wait until it has exited."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if spark is not None:
        spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def isolate(run_dir: str) -> None:
    """Keep every file the engine writes inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = os.path.join(run_dir, "checkpoints")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="posting-lines-spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.perf_counter()

    telemetry = {"loadavg_entry": os.getloadavg()[0], "cpu_marker_s": cpu_marker_s(), "cores": cores()}
    steal0 = steal_ticks()
    work_root = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work_root, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir)

    # the engine import comes first: without the engine the run fails
    # here, before any input is generated or any result printed
    from perfbench import gen, workloads
    from perfbench.trace import Tracer

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    inputs = gen.ensure_inputs(os.path.join(work_root, "inputs"), args.workload, args.seed)

    def _watchdog() -> None:
        print(f"perfbench: no result after {HARD_LIMIT_S} s, giving up", file=sys.stderr, flush=True)
        stop_engine(None, timeout=5)
        os._exit(3)

    timer = threading.Timer(HARD_LIMIT_S - (time.perf_counter() - started), _watchdog)
    timer.daemon = True
    timer.start()

    tracer = Tracer(args.trace == 1, cores())
    wl = workloads.WORKLOADS[args.workload](inputs, run_dir, tracer)
    # set-up: session start plus warm-up, once per run (see BENCHMARK.json)
    t0 = time.perf_counter()
    spark = start_session(f"perfbench-{args.workload}", run_dir, tracer.enabled)
    try:
        session_s = time.perf_counter() - t0
        tracer.attach(spark)
        wl.warm_up(spark)
        setup_s = time.perf_counter() - t0

        t_measure = time.perf_counter()
        wl.measure(args.seconds, hard_stop=started + HARD_LIMIT_S - STOP_MARGIN_S)
        t_finish = time.perf_counter()
        # before the checks, whose memory is the benchmark's own
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = peak_rss_mb(jvm_pid) + peak_rss_mb(os.getpid())
        wl.finish()
        t_stop = time.perf_counter()
    finally:
        stop_engine(spark)
        timer.cancel()

    if tracer.enabled:
        values = tracer.layer_metrics(os.path.join(run_dir, "eventlog"), SPANS + OP_SPANS)
        values["session.start_s"] = session_s
        values["trace.overhead_s"] = wl.tracing_overhead_s()
        traces = os.path.join(work_root, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{args.workload}-{args.seed}-{os.getpid()}.json"))
        for old in sorted(os.listdir(traces), key=lambda f: os.path.getmtime(os.path.join(traces, f)))[:-20]:
            os.remove(os.path.join(traces, old))
        metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit in PER_LAYER.items()}
    else:
        values = wl.end_to_end(setup_s, rss)
        metrics = {name: {"value": float(values[name]), "unit": unit} for name, unit in END_TO_END.items()}
    shutil.rmtree(run_dir, ignore_errors=True)

    for msg in wl.failures:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    telemetry.update(
        {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "setup_s": setup_s,
            "throughput_ops_s": wl.throughput_s,
            "latency_ops_s": wl.latency_s,
            "measure_s": t_finish - t_measure,
            "finish_s": t_stop - t_finish,
            "wall_s": time.perf_counter() - started,
        }
    )
    steal1 = steal_ticks()
    telemetry["steal_frac"] = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
    print(json.dumps({"telemetry": telemetry}))
    correct = not wl.failures
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": wl.attempted,
                "failed": wl.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
