#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed with a count-style action (collect on the
aggregate result) so the full plan runs; timings are wall-clock per
query after a warm-up of the session (first query pays JVM+codegen
warm-up, so a trivial warm-up query runs first and is not recorded).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from real_time_ride_hailing_data_pipeline_spark import queries as q
from real_time_ride_hailing_data_pipeline_spark.session import get_spark

# Headline set: the flagship pipeline queries + the heaviest relational
# / extension operators, in rough cost order. Every other registered
# query (LLM-pipeline ops, streaming replay, parse round-trips) is
# appended automatically below so new operators are benchmarked by
# default.
HEADLINE = [
    "city_window_metrics",
    "city_running_totals",
    "top_cities_by_trips",
    "tpch_q1_pricing_summary",
    "filter_project",
    "join_broadcast_enrichment",
    "agg_distinct_users_per_type",
    "sort_merge_order_revenue",
    "tpch_q3_shipping_priority",
    "streaming_city_metrics_replay",
    "dedup_near_duplicates",
]


def skew_bench(spark, sf_dir: str) -> dict[str, float]:
    """Deliberately hot-keyed workloads, timed both ways (the 100×-skew
    evidence VERDICT r2 asked for; fixture harshened per VERDICT r11
    item 4 until AQE's split demonstrably fires):

    * ``agg_direct`` vs ``agg_salted`` — one key carries 99% of a ×20
      exploded events table; direct groupBy sum/count vs
      salted_two_stage_agg. For additive aggregates Spark's map-side
      partial aggregation already bounds reduce-side skew (each task
      sends one partial row per key), so expect same-order numbers —
      the salted path's structural win is for shapes partial agg can't
      collapse (per-group pandas, distinct-heavy). Identical result
      sets are asserted.
    * ``join_skew_on`` vs ``join_skew_off`` — the hot key plus a
      ~200 B payload through a forced sort-merge join (broadcast
      disabled: at 100 TB the right side wouldn't broadcast) with AQE
      skew-join enabled vs disabled: one straggler task otherwise
      holds the stage's tail latency. Three fixture conditions are
      load-bearing (each diagnosed empirically in r12):
      - the probe side is repartitioned to 64 map tasks first — AQE
        splits a skewed reduce partition at MAP-OUTPUT granularity,
        so a single-mapper input is unsplittable;
      - the dim side is MATERIALIZED to parquet — OptimizeSkewedJoin
        pattern-matches SMJ(Sort(Shuffle), Sort(Shuffle)) exactly,
        and a distinct's final HashAggregate between Sort and shuffle
        breaks the match;
      - ``skewedPartitionThresholdInBytes``/``advisory`` are scaled to
        the fixture (512 KB vs the 256 MB production default — the
        sf0.1 hot partition is ~9 MB compressed; the default assumes
        partitions three orders of magnitude fatter).
      ``join_skew_split_on/off`` record whether the executed plan
      carries the ``skew=true`` SMJ marker, so the artifact shows the
      feature firing, not just two timings.
    """
    import tempfile
    import time

    from pyspark.sql import functions as F

    from real_time_ride_hailing_data_pipeline_spark import catalog
    from real_time_ride_hailing_data_pipeline_spark.operators import relational as rel

    ev = catalog.load_table(spark, sf_dir, "events").repartition(64)
    skewed = (
        ev.withColumn("rep", F.explode(F.sequence(F.lit(1), F.lit(20))))
        .withColumn(
            "hot_key",
            F.when(
                F.pmod(F.col("event_id"), F.lit(100)) < 99, F.lit("hot-0")
            ).otherwise(
                F.concat(F.lit("k-"), (F.col("event_id") % 100_000).cast("string"))
            ),
        )
        .withColumn(
            "payload", F.repeat(F.md5(F.col("event_id").cast("string")), 6)
        )
        .withColumn("value_c", F.round(F.col("value") * 100).cast("long"))
    )

    skewed.count()  # warm: page cache + parquet footers, same I/O for all timed runs

    out: dict[str, float] = {}
    t0 = time.perf_counter()
    direct = skewed.groupBy("hot_key").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value_c").alias("s")
    )
    n_direct = direct.count()
    out["agg_direct"] = round(time.perf_counter() - t0, 4)

    t0 = time.perf_counter()
    salted = rel.salted_two_stage_agg(
        skewed, ["hot_key"], {"__count__": "n", "value_c": "s"}, salt_buckets=32
    )
    n_salted = salted.count()
    out["agg_salted"] = round(time.perf_counter() - t0, 4)
    assert n_direct == n_salted  # identical result sets, only the shuffle differs

    rdir = tempfile.mkdtemp(prefix="rtrh_skew_dim_")
    (
        skewed.select("hot_key")
        .distinct()
        .withColumn("dim_payload", F.md5(F.col("hot_key")))
        .write.mode("overwrite")
        .parquet(rdir)
    )

    def build_join():
        # rebuilt per config: re-collecting one DataFrame would reuse
        # AQE's already-materialized query stages (near-zero fake time)
        # and would not re-plan under the flipped conf at all
        right = spark.read.parquet(rdir)
        return skewed.join(right, "hot_key").groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value_c").alias("s"),
            F.max(F.length("payload")).alias("pl"),
        )

    prev_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_thresh = spark.conf.get(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
    )
    prev_advisory = spark.conf.get(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "512KB",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "512KB"
        )
        for label, flag in (("join_skew_off", "false"), ("join_skew_on", "true")):
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", flag)
            j = build_join()
            t0 = time.perf_counter()
            j.collect()
            out[label] = round(time.perf_counter() - t0, 4)
            out[label.replace("skew", "skew_split")] = (
                "skew=true"
                in j._jdf.queryExecution().executedPlan().toString()
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bcast)
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            prev_thresh,
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", prev_advisory
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        shutil.rmtree(rdir, ignore_errors=True)
    return out


def make_duration_listener():
    """Machinery-vs-operator split for streaming queries (VERDICT r6
    item 7): a session-global ``StreamingQueryListener`` accumulating
    ``QueryProgress.durationMs`` — ``triggerExecution`` (everything the
    trigger did) and ``addBatch`` (the micro-batch's actual plan
    execution, the "operator" share). For any streaming registry query,
    wall − triggerExecution ≈ fixed machinery (StreamingQuery startup,
    checkpoint dir setup, embedded-DB boot, sink read-back) that a
    long-lived production stream pays once, not per trigger — so the
    registry trend can track operator cost separately from harness
    startup cost."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _DurationListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.events = 0
            self.trigger_ms = 0
            self.add_batch_ms = 0

        def onQueryStarted(self, event) -> None:  # noqa: N802 - Spark API
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802 - Spark API
            d = event.progress.durationMs or {}
            self.trigger_ms += d.get("triggerExecution", 0)
            self.add_batch_ms += d.get("addBatch", 0)
            self.events += 1

        def onQueryIdle(self, event) -> None:  # noqa: N802 - Spark API
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802 - Spark API
            pass

    return _DurationListener()


# Streaming registry entries whose names contain no 'stream' substring
# — the drain shortcut below must not misclassify them as batch, or
# their late-arriving progress events land in the NEXT query's window
# and corrupt the machinery/operator split.
_STREAMING_ODD_NAMES = {
    "stateful_sessionizer_closed_sessions",
    "statestore_open_windows",
    "transform_with_state_running_totals",
}


def drain_listener(listener, baseline_events: int, name: str) -> None:
    """Listener delivery is asynchronous: after a streaming query's
    callable returns, poll briefly until the event count is stable so
    the per-query delta attributes every progress event to the right
    query. Skipped entirely for batch queries (no new events, no
    'stream' in the name, and not one of the known odd-named streaming
    entries) — zero overhead on the non-streaming majority."""
    if (
        listener.events == baseline_events
        and "stream" not in name
        and name not in _STREAMING_ODD_NAMES
    ):
        return
    deadline = time.monotonic() + 2.0
    last = -1
    while time.monotonic() < deadline:
        if listener.events == last:
            return  # stable across one 0.1 s poll interval
        last = listener.events
        time.sleep(0.1)


def fold_third_sample(
    name: str,
    wall: float,
    split_sample: dict[str, float] | None,
    stable: dict[str, float],
    split_stable: dict[str, dict[str, float]],
) -> None:
    """Fold a third warm sample of ``name`` into the retimed walls. A
    streaming entry's retimed wall and its machinery split must come
    from the same run, so for a name in ``split_stable`` the wall moves
    only when that run fired listener events (``split_sample`` is not
    None) and beat the split's best sample."""
    if name in split_stable:
        if split_sample is None or split_sample["wall"] >= split_stable[name]["wall"]:
            return
        split_stable[name] = split_sample
    stable[name] = round(min(stable[name], wall), 4)


def multifile_layout(spark, sf_dir: str, n_files: int = 32) -> str:
    """Derived copy of the sf fixtures with every non-trivial table
    split into ``n_files`` parquet parts (cached in /tmp, keyed by the
    source tables' size+mtime).

    Why: the driver's fixtures are ONE parquet file per table, which
    caps a scan at one input split per row-group — BASELINE.md r5
    documents map-only operators running FASTER at 8× data purely
    because more files unlocked more parallelism. A production 100 TB
    table is thousands of files; benchmarking plans against a
    single-file layout measures the input-split cap, not the plan.
    The frozen-7 baseline gate still runs on the ORIGINAL layout so
    its numbers stay comparable with the r1 baseline.

    Tables under 200 KB (dims like region/nation) keep one file —
    32 near-empty parts would only add listing overhead.
    """
    import hashlib
    import tempfile

    from real_time_ride_hailing_data_pipeline_spark import catalog as _cat

    sig = hashlib.md5(f"v1:{n_files}".encode())
    for t in _cat.TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            st = os.stat(p)
            sig.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    dest = os.path.join(
        tempfile.gettempdir(), f"rtrh_bench_mf_{sig.hexdigest()[:12]}"
    )
    marker = os.path.join(dest, "_READY")
    if os.path.exists(marker):
        return dest
    tmp = dest + f".tmp.{os.getpid()}"  # per-process: no rename race
    try:
        for t in _cat.TABLES:
            src = os.path.join(sf_dir, f"{t}.parquet")
            if not os.path.exists(src):
                continue
            parts = n_files if os.path.getsize(src) >= 200 * 1024 else 1
            (
                spark.read.parquet(src)
                .repartition(parts)
                .write.mode("overwrite")
                .parquet(os.path.join(tmp, f"{t}.parquet"))
            )
        with open(os.path.join(tmp, "_READY"), "w") as fh:
            fh.write(sf_dir)
        shutil.rmtree(dest, ignore_errors=True)
        try:
            os.rename(tmp, dest)  # atomic publish, marker already inside
        except OSError:
            # lost a publish race to a concurrent bench: theirs is
            # complete (the rename is the last step) — use it
            if not os.path.exists(marker):
                raise
    finally:
        # a failed build (or losing a concurrent-publish race) must not
        # leave the staging dir behind
        shutil.rmtree(tmp, ignore_errors=True)
    return dest


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="bench", cpus=cpus, shuffle_partitions=cpus)

    registry = q.all_queries()
    names = [n for n in HEADLINE if n in registry]
    # include any registered query not in the headline list, so new
    # operators are benchmarked by default
    names += [n for n in sorted(registry) if n not in names]

    # warm-up: JVM + codegen via a NEUTRAL job (not a registry query —
    # in r3 a broken flagship crashed the warm-up and zeroed the whole
    # artifact), then parquet footer reads via a cheap scan per table.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from real_time_ride_hailing_data_pipeline_spark import catalog as _cat

    for _t in _cat.TABLES:
        try:
            _cat.load_table(spark, sf_dir, _t).limit(1).collect()
        except Exception:
            pass  # a broken table shows up as per-query errs below

    # warm-up: the Python/Arrow worker pool. The first pandas_udf in
    # the session pays daemon + worker process spawn (~4-6 s across 32
    # cores, measured in r3) inside whichever query happens to hit it
    # first — process startup, not engine throughput, and it amortizes
    # to nothing on a long-lived cluster. One trivial scalar pandas_udf
    # over `cpus` partitions brings the pool up before any timer starts.
    from pyspark.sql import functions as _F
    from pyspark.sql.functions import pandas_udf as _pudf

    # lambda form: hint-style resolution can't see function-local
    # imports under `from __future__ import annotations`
    _warm = _pudf(lambda s: s, "double")
    spark.range(cpus * 4, numPartitions=cpus).select(
        _warm(_F.col("id").cast("double"))
    ).collect()

    # warm-up: the Python DataSource worker pool (VERDICT r7 item 6).
    # The datasource read/write path runs in its own planner/worker
    # lane; its first use paid ~7 s of process spin-up inside whichever
    # datasink query ran first (r7: 8.2 s cold vs 1.1 s warm for the
    # identical plan). One 64-row register+write+read round trip brings
    # that lane up before any timer starts.
    try:
        import tempfile as _tf

        from real_time_ride_hailing_data_pipeline_spark.sources import (
            python_datasink as _pdk,
        )
        from real_time_ride_hailing_data_pipeline_spark.sources import (
            python_datasource as _pds,
        )

        _pds.register(spark)
        _pdk.register(spark)
        _warm_out = _tf.mkdtemp(prefix="rtrh_bench_warm_")
        _warm_src = spark.read.format("ride_events_py").option("n", 64).load()
        _warm_src.write.format("jsonl_commit").option("path", _warm_out).mode(
            "append"
        ).save()
        shutil.rmtree(_warm_out, ignore_errors=True)
    except Exception:  # noqa: BLE001 — a warm-up must never kill the run
        pass

    # The full registry runs against the 32-file derived layout (plans
    # measured with realistic input splits, see multifile_layout); the
    # frozen-7 gate set is re-run afterwards on the ORIGINAL single-file
    # layout so BASELINE.md comparisons stay apples-to-apples.
    try:
        bench_dir = multifile_layout(spark, sf_dir)
        layout = "32-file"
    except Exception:  # noqa: BLE001 — never lose the run to the copy step
        bench_dir, layout = sf_dir, "single-file"

    listener = make_duration_listener()
    spark.streams.addListener(listener)

    # Failure isolation: one broken query records an error entry and the
    # rest still get timed — every JSON line is ALWAYS emitted.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    split: dict[str, dict[str, float]] = {}
    for name in names:
        ev0, trig0, add0 = listener.events, listener.trigger_ms, listener.add_batch_ms
        t0 = time.perf_counter()
        try:
            rows = registry[name](spark, bench_dir).collect()
            wall = time.perf_counter() - t0
            timings[name] = round(wall, 4)
            _ = len(rows)
        except Exception as exc:  # noqa: BLE001 — record and continue
            wall = time.perf_counter() - t0
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
        drain_listener(listener, ev0, name)
        if listener.events != ev0:
            split[name] = {
                "wall": round(wall, 4),
                "trigger_exec": round((listener.trigger_ms - trig0) / 1000, 4),
                "add_batch": round((listener.add_batch_ms - add0) / 1000, 4),
            }

    sf = sf_dir.rstrip("/").split("sf")[-1]
    out = {
        "metric": "all_queries_total_wall",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "layout": layout,
    }
    if split:
        # per-streaming-query machinery/operator detail (see the compact
        # totals line below for the tail-capture-safe summary)
        out["streaming_split"] = split
    if errors:
        out["errors"] = errors
    print(json.dumps(out))

    # Short line that ALWAYS survives the driver's tail-of-stdout capture
    # (the full per-query dict above overflowed it in r5): the registry
    # trend — total wall, query count, error count — in <200 bytes.
    print(
        json.dumps(
            {
                "metric": "registry_total_wall",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "n": len(timings),
                "bench_errors": len(errors),
                "sf": sf,
                "layout": layout,
            }
        )
    )

    # Tail-variance bound (VERDICT r8 item 5): the same few expensive
    # BATCH entries (dedup/self-join tier) swung 4× between same-code
    # runs, making the single-sample registry total hard to read
    # round-over-round. Re-time the 10 slowest non-streaming entries
    # once more and report a total with those replaced by their
    # min-of-2 — one extra warm sample exactly where the variance
    # lives (~15-30 s), leaving the 180+ stable entries single-sample.
    tail = sorted(
        (n for n in timings if n not in split),
        key=lambda n: timings[n],
        reverse=True,
    )[:10]
    stable: dict[str, float] = {}
    for name in tail:
        t0 = time.perf_counter()
        try:
            registry[name](spark, bench_dir).collect()
            stable[name] = round(
                min(timings[name], time.perf_counter() - t0), 4
            )
        except Exception:  # noqa: BLE001 — keep the first sample
            stable[name] = timings[name]
    # Same protocol for the STREAMING tail (r12, VERDICT r11 item 1):
    # the streaming entries carry per-run machinery (checkpoint dirs,
    # embedded-DB boot, StreamingQuery startup) whose variance swung
    # the r10->r11 registry total by ~100 s at identical code. Re-time
    # the 8 slowest streaming entries once more, keep the min-of-2 for
    # BOTH wall and trigger_exec, so the round-over-round trend reads
    # operator cost, not box noise.
    s_tail = sorted(split, key=lambda n: split[n]["wall"], reverse=True)[:8]
    split_stable: dict[str, dict[str, float]] = {}
    for name in s_tail:
        ev0, trig0, add0 = (
            listener.events,
            listener.trigger_ms,
            listener.add_batch_ms,
        )
        t0 = time.perf_counter()
        try:
            registry[name](spark, bench_dir).collect()
            wall2 = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 — keep the first sample
            continue
        drain_listener(listener, ev0, name)
        first = split[name]
        second = {
            "wall": round(wall2, 4),
            "trigger_exec": round((listener.trigger_ms - trig0) / 1000, 4),
            "add_batch": round((listener.add_batch_ms - add0) / 1000, 4),
        }
        best = first if first["wall"] <= second["wall"] else second
        split_stable[name] = best
        stable[name] = best["wall"]
    # r14 (VERDICT r13 item 2, additions only): a THIRD warm sample for
    # the 5 slowest entries overall. The same few sink-lifecycle
    # entries swing ±30-40% between same-code runs (BASELINE.md) and
    # dominate the registry total's noise; one more sample exactly
    # where the variance lives makes the round-over-round trend
    # readable for ~60 s of extra wall. No metric is removed or
    # renamed — the min-of-3 folds into `stable`/`split_stable` and the
    # stat string below says so.
    slow5 = sorted(stable, key=lambda n: stable[n], reverse=True)[:5]
    for name in slow5:
        ev0, trig0, add0 = (
            listener.events,
            listener.trigger_ms,
            listener.add_batch_ms,
        )
        t0 = time.perf_counter()
        try:
            registry[name](spark, bench_dir).collect()
            wall3 = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 — keep the earlier samples
            continue
        drain_listener(listener, ev0, name)
        third = None
        if name in split_stable and listener.events != ev0:
            third = {
                "wall": round(wall3, 4),
                "trigger_exec": round((listener.trigger_ms - trig0) / 1000, 4),
                "add_batch": round((listener.add_batch_ms - add0) / 1000, 4),
            }
        fold_third_sample(name, wall3, third, stable, split_stable)
    print(
        json.dumps(
            {
                "metric": "registry_stable_total_wall",
                "value": round(
                    sum(timings.values())
                    - sum(timings[n] for n in stable)
                    + sum(stable.values()),
                    4,
                ),
                "unit": "sec",
                "stat": "slowest-10-batch+8-streaming-min-of-2+slowest-5-min-of-3",
                "retimed": stable,
                "sf": sf,
                "layout": layout,
            }
        )
    )

    # Machinery-vs-operator split for the streaming queries (compact —
    # totals only, so the line survives tail capture): `add_batch` is
    # micro-batch plan execution (the operator cost a production stream
    # pays per trigger); `machinery` = wall − triggerExecution is the
    # fixed per-run harness cost (StreamingQuery startup, checkpoints,
    # embedded-DB boot, sink read-back) that amortizes to ~zero on a
    # long-lived stream. Per-query detail rides in the big line above.
    if split:
        # min-of-2 samples (from the streaming tail retime above)
        # replace the single-shot ones: the split trend then reads
        # per-trigger operator cost instead of one run's machinery noise
        eff = {n: split_stable.get(n, v) for n, v in split.items()}
        s_wall = sum(v["wall"] for v in eff.values())
        s_trig = sum(v["trigger_exec"] for v in eff.values())
        s_add = sum(v["add_batch"] for v in eff.values())
        print(
            json.dumps(
                {
                    "metric": "streaming_machinery_split",
                    "unit": "sec",
                    "n_streaming": len(eff),
                    "stat": "slowest-8-min-of-2",
                    "wall": round(s_wall, 4),
                    "trigger_exec": round(s_trig, 4),
                    "add_batch": round(s_add, 4),
                    "machinery": round(s_wall - s_trig, 4),
                }
            )
        )

    # The driver captures only the TAIL of stdout, and the full per-query
    # line above (65+ entries) overflowed that capture in round 2
    # (BENCH_r02.json parsed:null). Emit the regression-gated numbers —
    # the frozen 7-query BASELINE.md set — as their own short FINAL line
    # so they always survive tail capture.
    frozen = [
        "city_window_metrics",
        "city_running_totals",
        "top_cities_by_trips",
        "tpch_q1_pricing_summary",
        "filter_project",
        "join_broadcast_enrichment",
        "agg_distinct_users_per_type",
    ]
    # Re-timed on the ORIGINAL single-file layout — the exact input the
    # r1 baseline measured — so the ≤2× gate compares like with like.
    # MEDIAN OF 3 warm runs per query (VERDICT r7 item 5): the gate
    # number swung 4.2-6.7 s run-to-run on this box, which made
    # round-over-round comparisons uninterpretable from one sample;
    # the median damps JVM/GC/box noise for ~15 s extra wall, and the
    # min/max totals are reported alongside as the observed spread.
    frozen_runs: dict[str, list[float]] = {n: [] for n in frozen if n in registry}
    for _rep in range(3):
        for name in frozen_runs:
            t0 = time.perf_counter()
            try:
                registry[name](spark, sf_dir).collect()
                frozen_runs[name].append(time.perf_counter() - t0)
            except Exception as exc:  # noqa: BLE001 — record and continue
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
    frozen_t: dict[str, float] = {
        n: round(sorted(runs)[len(runs) // 2], 4)
        for n, runs in frozen_runs.items()
        if runs
    }
    # totals over queries that completed ALL reps only: a query erroring
    # in rep 2 would otherwise silently shrink that rep's total and fake
    # a spread improvement (ADVICE r8)
    complete = {n: runs for n, runs in frozen_runs.items() if len(runs) == 3}
    run_totals = [
        round(sum(runs[i] for runs in complete.values()), 4) for i in range(3)
    ]
    try:
        skew = skew_bench(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001 — never lose the headline line
        skew = {"error": f"{type(exc).__name__}: {exc}"[:300]}
    headline = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(frozen_t.values()), 4),
        "unit": "sec",
        "queries": frozen_t,
        "stat": "median-of-3-warm",
        "run_totals": run_totals,
        "run_totals_over": len(complete),
        "spread": [min(run_totals), max(run_totals)] if run_totals else [],
        "sf": sf,
        "layout": "single-file-r1-baseline",
        "skew": skew,
    }
    if errors:
        headline["bench_errors"] = len(errors)
    print(json.dumps(headline))
    spark.streams.removeListener(listener)
    spark.stop()


if __name__ == "__main__":
    main()
