"""Sustained-load benchmark of the ride-hailing pipeline.

Run one workload from the root of a checkout:

    python3 perfbench/run.py --workload live_freshness --seed 1 --seconds 20 --trace 0

Workloads: live_freshness, backfill_catchup, dashboard_reads (see
``workloads.py``). The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 they are the
per-layer ones, and the spans are written to
``.perfbench_run/trace-<workload>-<seed>.json``. Lines before it are a
readable report, including host-noise diagnostics.

Everything the run writes stays under ``.perfbench_run/`` in the
current directory, and its work directory is removed at the end.
"""

from __future__ import annotations

import time

_STARTED = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the engine package

from measure import Tracer, peak_rss_mb, process_age_s  # noqa: E402

HEAP = "2g"

E2E = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}

# Per-layer metric -> (end-to-end metric, workload) it should move.
LAYERS = {
    "session.get_spark_s": ("s", "setup_s on every workload"),
    "source.latest_offset_ms_p50": ("ms", "latency_p50_s on live_freshness"),
    "source.get_batch_ms_p50": ("ms", "latency_p50_s on live_freshness"),
    "source.input_rows": ("count", "latency_p50_s on live_freshness"),
    "streaming.trigger_ms_p50": ("ms", "latency_p50_s on live_freshness"),
    "streaming.query_planning_ms_p50": ("ms", "latency_p50_s on live_freshness"),
    "streaming.wal_commit_ms_p50": ("ms", "latency_p50_s on live_freshness"),
    "streaming.commit_offsets_ms_p50": ("ms", "latency_p50_s on live_freshness"),
    "streaming.add_batch_ms_p50": ("ms", "latency_p50_s on live_freshness"),
    "streaming.batches": ("count", "latency_p50_s on live_freshness"),
    "streaming.phase_gap_max": ("ratio", "none: checks that the phases sum to the trigger"),
    "state.rows_total_max": ("count", "rows_per_s and peak_rss_mb on backfill_catchup"),
    "state.memory_bytes_max": ("bytes", "rows_per_s and peak_rss_mb on backfill_catchup"),
    "state.commit_ms_p50": ("ms", "rows_per_s on backfill_catchup"),
    "state.rows_dropped_by_watermark": ("count", "none: must be 0"),
    "pipeline.rows_per_s": ("1/s", "rows_per_s on backfill_catchup, not live_freshness"),
    "sink.write_batch_s_p50": ("s", "latency_p50_s on live_freshness, then rows_per_s on backfill_catchup"),
    "sink.self_s_p50": ("s", "latency_p50_s on live_freshness, then rows_per_s on backfill_catchup"),
    "sink.write_batch_busy_s": ("s", "latency_p50_s on live_freshness, then rows_per_s on backfill_catchup"),
    "sink.commits": ("count", "latency_p50_s on live_freshness, then rows_per_s on backfill_catchup"),
    "sink.jobs_per_commit": ("count", "latency_p50_s on live_freshness, then rows_per_s on backfill_catchup"),
    "sink.read_s_p50.latest": ("s", "latency_p50_s on dashboard_reads"),
    "sink.read_s_p50.city_day": ("s", "latency_p50_s on dashboard_reads"),
    "sink.read_s_p50.as_of": ("s", "latency_p50_s on dashboard_reads"),
    "sink.pruned_files_ratio": ("ratio", "latency_p50_s on dashboard_reads"),
    "sink.data_files": ("count", "latency_p50_s on dashboard_reads"),
    "sink.versions": ("count", "latency_p50_s on dashboard_reads"),
    "trace.overhead_s": ("s", "none: time the traced run spent tracing"),
}


def main(argv: list[str] | None = None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.path.abspath(".perfbench_run")
    workdir = os.path.join(root, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    # keep Spark's and Python's scratch files inside the checkout, and
    # read naive timestamps as UTC like the engine's session does
    os.environ.update(
        {"SPARK_LOCAL_DIRS": tmp, "TMPDIR": tmp, "TZ": "UTC", "SPARK_GRAFT_DRIVER_MEM": HEAP}
    )
    time.tzset()
    run = workloads.Run(
        spark=None, workdir=workdir, seed=args.seed, seconds=args.seconds,
        tracer=Tracer(bool(args.trace)), started=_STARTED - process_age_s(),
    )
    try:
        from real_time_ride_hailing_data_pipeline_spark.session import get_spark

        with run.tracer.span("session.get_spark"):
            t = time.perf_counter()
            run.spark = get_spark(
                cpus=len(os.sched_getaffinity(0)),
                extra_conf={
                    "spark.driver.extraJavaOptions": (
                        # a fixed, pre-touched heap: peak RSS then moves
                        # with off-heap and Python memory, not GC timing
                        f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
                    ),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
            run.layer["session.get_spark_s"] = time.perf_counter() - t
        jvm_pid = run.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        workloads.WORKLOADS[args.workload](run)
        run.e2e["peak_rss_mb"] = peak_rss_mb(jvm_pid)
    finally:
        if run.spark is not None:
            jvm = run.spark.sparkContext._gateway.proc
            run.spark.stop()
            jvm.stdin.close()  # the JVM exits when its stdin closes
            jvm.wait(60)
        shutil.rmtree(workdir, ignore_errors=True)
    run.diag.update(run.host.read())
    run.layer["trace.overhead_s"] = run.tracer.overhead_s

    report(args, run)
    if args.trace:
        trace_path = os.path.join(root, f"trace-{args.workload}-{args.seed}.json")
        run.tracer.dump(trace_path)
        print(f"spans: {len(run.tracer.spans)} written to {trace_path}")
        metrics = {k: {"value": run.layer.get(k, 0), "unit": u} for k, (u, _) in LAYERS.items()}
    else:
        metrics = {k: {"value": run.e2e[k], "unit": u} for k, u in E2E.items()}
    print(json.dumps({
        "correct": not run.errors,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


def report(args, run) -> None:
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace}")
    for k, u in E2E.items():
        if k in run.e2e:
            print(f"  {k:<34} {run.e2e[k]:>14.4f} {u}")
    for k, v in run.diag.items():
        print(f"  {k:<34} {v:>14.4f}   (diagnostic)")
    if args.trace:
        print("per-layer metrics (unit, what they should move):")
        for k, (u, moves) in LAYERS.items():
            print(f"  {k:<34} {run.layer.get(k, 0):>14.4f} {u:<6} -> {moves}")
        print("self time by span (s):")
        for name, s in sorted(run.tracer.self_times().items()):
            print(f"  {name:<34} {s:>14.4f}")
    print(f"attempted {run.attempted} failed {run.failed}")
    for e in run.errors:
        print(f"  CHECK FAILED: {e}")


if __name__ == "__main__":
    sys.exit(main())
