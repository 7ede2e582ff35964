"""The three workloads, each driving the paper's pipeline:

    JSON-lines files -> Spark file source -> parse_ride_events ->
    with_event_time -> city_window_metrics(10-minute watermark,
    exact-cents average) -> to_city_metrics_output ->
    foreachBatch(ParquetUpsertSink.write_batch)

``live_freshness``   open loop: one file every 250 ms (1,000 events/s),
                     5 s processing-time trigger. Measures how long a
                     file takes to become visible in the table.
``backfill_catchup`` a 3-day backlog written before the run, drained
                     at about 100k rows per trigger into a table that
                     grows across day partitions.
``dashboard_reads``  a closed loop of one client, no think time, over a
                     finished versioned table: latest hour, one city's
                     trailing day (pruned), and that day as of an
                     older version.

Every workload checks the table against DuckDB over the same files.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np

import events
from measure import (
    HostNoise,
    Tracer,
    attribute_files,
    executed_batches,
    progress_metrics,
    quantile,
)

from real_time_ride_hailing_data_pipeline_spark.operators import ride_pipeline as rp
from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import ParquetUpsertSink

WATERMARK = "10 minutes"
# the live run's event time: 06:00 on the epoch day, hours from midnight
LIVE_BASE = events.EPOCH + 6 * 3600
# the backlog starts 10 minutes into the epoch day
BACKLOG_BASE = events.EPOCH + 600
QUERY_TIMEOUT_S = 90.0  # keeps a stalled run under 180 s
RELEASE_S = 0.25  # live_freshness releases one file per 250 ms
LIVE_DISORDER_S = 2.0
BACKLOG_DISORDER_S = 30.0  # far below the watermark


@dataclass(frozen=True)
class Sizes:
    """Input sizes. The defaults are the benchmark's; tests shrink them."""

    live_rate: int = 1_000  # events per second, open loop
    live_trigger: str = "5 seconds"
    # open-loop seconds before files count: two triggers, the first two
    # merges into an existing table, which run slower than later ones
    live_warmup_s: float = 10.0
    live_warmup_rows: int = 5_000  # the warm-up file, before the open loop
    backlog_rows: int = 800_000
    backlog_file_rows: int = 20_000
    backlog_files_per_trigger: int = 5
    table_hours: int = 72
    table_events_per_hour: int = 2_400
    table_versions: int = 20  # one-hour commits after the bulk commit
    as_of_version: int = 10
    pipeline_rows: int = 50_000  # input of the traced batch-form pass


@dataclass
class Run:
    """One workload run: its session, work directory and results."""

    spark: object
    workdir: str
    seed: int
    seconds: float
    tracer: Tracer
    sizes: Sizes = field(default_factory=Sizes)
    started: float = 0.0  # perf_counter at process start
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    diag: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    host: HostNoise = field(default_factory=HostNoise)
    # wall-clock time minus perf_counter, to place progress timestamps
    clock: float = field(default_factory=lambda: time.time() - time.perf_counter())

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream])

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    def check(self, ok: bool, message: str) -> None:
        if not ok:
            self.errors.append(message)

    def mark_setup_done(self) -> None:
        self.e2e["setup_s"] = time.perf_counter() - self.started


class CommitLog:
    """The ``foreachBatch`` target: forwards each micro-batch to
    ``ParquetUpsertSink.write_batch`` and records when each batch's
    commit returned. Traced, it also times one execution of the batch
    plan (the pipeline cost inside ``write_batch``) and counts the
    Spark jobs each commit launches."""

    def __init__(self, run: Run, sink: ParquetUpsertSink) -> None:
        self.run = run
        self.sink = sink
        self.commits: dict[int, tuple[float, float]] = {}
        self.pipeline_s: dict[int, float] = {}
        self.jobs: dict[int, int] = {}

    def __call__(self, batch_df, batch_id: int) -> None:
        tracer = self.run.tracer
        if tracer.enabled:
            sc = self.run.spark.sparkContext
            group = sc.getLocalProperty("spark.jobGroup.id")
            t = time.perf_counter()
            batch_df.count()
            self.pipeline_s[batch_id] = time.perf_counter() - t
            tracer.add("pipeline.probe", t, t + self.pipeline_s[batch_id], batch=batch_id)
            before = set(sc.statusTracker().getJobIdsForGroup(group))
        start = time.perf_counter()
        self.sink.write_batch(batch_df, batch_id)
        end = time.perf_counter()
        self.commits[batch_id] = (start, end)
        if tracer.enabled:
            t = time.perf_counter()
            self.jobs[batch_id] = len(set(sc.statusTracker().getJobIdsForGroup(group)) - before)
            tracer.add("sink.write_batch", start, end, batch=batch_id)
            tracer.overhead_s += time.perf_counter() - t + self.pipeline_s[batch_id]

    def layer_metrics(self) -> dict[str, float]:
        durations = [e - s for s, e in self.commits.values()]
        out = {
            "sink.write_batch_s_p50": statistics.median(durations) if durations else 0.0,
            "sink.write_batch_busy_s": sum(durations),
            "sink.commits": len(durations),
        }
        if self.jobs:
            out["sink.jobs_per_commit"] = statistics.median(self.jobs.values())
            out["sink.self_s_p50"] = statistics.median(
                e - s - self.pipeline_s[b] for b, (s, e) in self.commits.items()
            )
        return out


def city_metrics(raw, watermark: str | None = None):
    """The paper's four pipeline functions over raw JSON lines."""
    return rp.to_city_metrics_output(
        rp.city_window_metrics(
            rp.with_event_time(rp.parse_ride_events(raw)),
            watermark=watermark,
            exact_cents_avg=True,
        )
    )


def city_metrics_query(run: Run, src: str, target: CommitLog, name: str, trigger: dict,
                       max_files_per_trigger: int | None = None):
    """Start the streaming pipeline over the JSON files in ``src``."""
    reader = run.spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        city_metrics(reader.text(src), WATERMARK).writeStream.outputMode("update")
        .foreachBatch(target)
        .option("checkpointLocation", run.path(name + "_checkpoint"))
        .trigger(**trigger)
        .start()
    )


def new_sink(run: Run, name: str) -> ParquetUpsertSink:
    return ParquetUpsertSink(
        run.path(name), key_cols=("city", "window_start"), snapshot_dir=run.path(name + "_snapshots")
    )


def layer_metrics(run: Run, log: CommitLog, batches: list[dict], paths: list[str],
                  rows: list[int]) -> None:
    """Progress, state and sink-write layer metrics. Traced, also one
    trigger span per batch (from the progress timestamps) as parent of
    the batch's probe and commit spans, and the batch-form pipeline
    pass. Runs after the measured phase."""
    run.layer.update(progress_metrics(batches))
    run.layer.update(log.layer_metrics())
    run.check(run.layer["state.rows_dropped_by_watermark"] == 0,
              f"{run.layer['state.rows_dropped_by_watermark']} rows dropped by the watermark")
    if not run.tracer.enabled:
        return
    run.check(run.layer["streaming.phase_gap_max"] <= 0.10,
              "progress phases differ from triggerExecution by more than 10%")
    parents = {}
    for b in batches:
        begin = dt.datetime.fromisoformat(b["timestamp"].replace("Z", "+00:00")).timestamp()
        begin -= run.clock
        parents[b["batchId"]] = run.tracer.add(
            "streaming.trigger", begin, begin + b["durationMs"]["triggerExecution"] / 1000.0,
            batch=b["batchId"]
        )
    for s in run.tracer.spans:
        if s["name"] in ("pipeline.probe", "sink.write_batch") and s["batch"] in parents:
            s["parent"] = parents[s["batch"]]
    pipeline_pass(run, paths, rows)


def check_table(run: Run, sink: ParquetUpsertSink, paths: list[str]) -> None:
    expected = events.reference_rows(paths)
    actual = events.table_rows(sink.read(run.spark).collect())
    mismatches = events.diff(expected, actual)
    run.check(not mismatches, f"table differs from DuckDB over {len(expected)} rows: {mismatches}")


def pipeline_pass(run: Run, paths: list[str], rows: list[int]) -> None:
    """``pipeline.rows_per_s``: the same four functions in batch form
    over the run's first ``pipeline_rows`` input rows, written to the
    ``noop`` format."""
    take, n = [], 0
    for p, r in zip(paths, rows):
        if take and n + r > run.sizes.pipeline_rows:
            break
        take.append(p)
        n += r
    with run.tracer.span("pipeline.batch", rows=n):
        start = time.perf_counter()
        city_metrics(run.spark.read.text(take)).write.format("noop").mode("overwrite").save()
        run.layer["pipeline.rows_per_s"] = n / (time.perf_counter() - start)


# ---------------------------------------------------------------- reads --

class Dashboard:
    """The paper's consumer (Power BI DirectQuery on ``city_metrics``):
    three read shapes against one table, each collected to the client."""

    KINDS = ("latest", "city_day", "as_of")

    def __init__(self, run: Run, sink: ParquetUpsertSink, end_s: int, as_of_epoch: int) -> None:
        self.run = run
        self.sink = sink
        self.end_s = end_s  # exclusive end of the table's event time
        self.as_of_epoch = as_of_epoch
        self.day_lo = _utc(end_s - events.DAY_S)
        self.day_hi = _utc(end_s - 60)
        self.pruned_ratio: list[float] = []

    def latest(self, city: str):
        del city  # every city
        lo = _utc(self.end_s - 3600)
        return self.sink.read(self.run.spark).filter(f"window_start >= timestamp'{lo}'").collect()

    def city_day(self, city: str):
        df, selected, total = self.sink.read_pruned(
            self.run.spark, "window_start", lower=self.day_lo, upper=self.day_hi,
            source_lower=self.day_lo, source_upper=self.day_hi,
        )
        self.pruned_ratio.append(selected / total if total else 1.0)
        return df.filter(df.city == city).collect()

    def as_of(self, city: str):
        df = self.sink.read_at(self.run.spark, self.as_of_epoch)
        return df.filter(
            (df.city == city) & (df.window_start >= self.day_lo) & (df.window_start <= self.day_hi)
        ).collect()

    def expected(self, kind: str, city: str, final: dict, older: dict) -> dict:
        lo, hi = self.end_s - events.DAY_S, self.end_s - 60
        if kind == "latest":
            return {k: v for k, v in final.items() if k[1] >= self.end_s - 3600}
        rows = final if kind == "city_day" else older
        return {k: v for k, v in rows.items() if k[0] == city and lo <= k[1] <= hi}


def _utc(epoch_s: int) -> dt.datetime:
    # naive UTC: the process runs with TZ=UTC, like the engine's session
    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).replace(tzinfo=None)


def read_loop(run: Run, dash: Dashboard, final: dict, older: dict, deadline: float | None = None,
              reads: int | None = None) -> tuple[list[float], int, int]:
    """One client, no think time: round-robin over the read shapes
    until ``deadline`` or for ``reads`` reads, checking every answer.
    Records the read-side layer metrics. Returns each read's latency,
    the rows read and the number of wrong answers."""
    lat: dict[str, list[float]] = {k: [] for k in Dashboard.KINDS}
    n_rows = wrong = 0
    i = 0
    while (time.perf_counter() < deadline) if reads is None else (i < reads):
        kind = Dashboard.KINDS[i % 3]
        city = events.CITIES[(i // 3) % len(events.CITIES)]
        with run.tracer.span("sink.read", kind=kind):
            t = time.perf_counter()
            result = getattr(dash, kind)(city)
            lat[kind].append(time.perf_counter() - t)
        got = events.table_rows(result)
        n_rows += len(got)
        mismatches = events.diff(dash.expected(kind, city, final, older), got)
        if mismatches:
            wrong += 1
            run.check(False, f"{kind} read for {city} is wrong: {mismatches}")
        i += 1
    for kind in Dashboard.KINDS:
        run.layer[f"sink.read_s_p50.{kind}"] = statistics.median(lat[kind])
    run.layer["sink.pruned_files_ratio"] = statistics.median(dash.pruned_ratio)
    run.layer["sink.versions"] = len(dash.sink.snapshots())
    run.layer["sink.data_files"] = sum(
        f.endswith(".parquet") for _, _, files in os.walk(dash.sink.path) for f in files
    )
    return [x for v in lat.values() for x in v], n_rows, wrong


def traced_reads(run: Run, sink: ParquetUpsertSink, paths: list[str], owner: list,
                 batches: list[dict], end_s: int) -> None:
    """Traced runs of the streaming workloads: one round of the three
    reads on the table just built, as of its middle batch."""
    if not run.tracer.enabled:
        return
    as_of = batches[len(batches) // 2]["batchId"]
    dash = Dashboard(run, sink, end_s, as_of)
    read_loop(run, dash, events.reference_rows(paths), older_reference(paths, owner, as_of),
              reads=len(Dashboard.KINDS))


def older_reference(paths: list[str], owner: list, epoch: int) -> dict:
    """Reference rows as of ``epoch``: the files its batches had read."""
    return events.reference_rows(
        [p for p, b in zip(paths, owner) if b is not None and b <= epoch]
    )


# ------------------------------------------------------------ workloads --

def live_freshness(run: Run) -> None:
    sz = run.sizes
    per_file = int(sz.live_rate * RELEASE_S)
    n_files = 1 + int(round((sz.live_warmup_s + run.seconds) / RELEASE_S))
    rows = [sz.live_warmup_rows] + [per_file] * (n_files - 1)
    # payloads are made before the query starts: nothing is formatted on
    # the timed path. File 0 holds the events offered just before the
    # open loop and warms the query up (one larger batch for the JIT).
    rng = run.rng(1)
    offered = (np.arange(sum(rows)) - sz.live_warmup_rows) / sz.live_rate
    times = np.floor((LIVE_BASE + offered - rng.uniform(0, LIVE_DISORDER_S, offered.size))
                     * 1000.0) / 1000.0 + 0.0005
    lines = events.render(rng, "live", times)
    bounds = np.cumsum([0] + rows)
    payloads = [
        ("\n".join(lines[bounds[k]:bounds[k + 1]]) + "\n").encode() for k in range(n_files)
    ]
    src, staging = run.path("live_src"), run.path("live_staging")
    os.makedirs(src)
    os.makedirs(staging)
    paths = [os.path.join(src, f"part-{k:05d}.json") for k in range(n_files)]

    def release(k: int) -> None:
        # whole files only: the source never lists a partial file
        tmp = os.path.join(staging, os.path.basename(paths[k]))
        with open(tmp, "wb") as fh:
            fh.write(payloads[k])
        os.rename(tmp, paths[k])

    sink = new_sink(run, "live")
    log = CommitLog(run, sink)
    due = [0.0] * n_files
    released = [0.0] * n_files
    stop = threading.Event()
    release(0)  # before the start, so the first trigger reads it
    query = city_metrics_query(run, src, log, "live", {"processingTime": sz.live_trigger})
    try:
        _wait_visible(query, log, rows[:1], time.perf_counter() + QUERY_TIMEOUT_S)
        run.mark_setup_done()

        def generate() -> None:
            t0 = time.perf_counter()
            for k in range(1, n_files):
                due[k] = t0 + k * RELEASE_S
                delay = due[k] - time.perf_counter()
                if delay > 0 and stop.wait(delay):
                    return
                with run.tracer.span("gen.release", file=k):
                    release(k)
                released[k] = time.perf_counter()

        gen = threading.Thread(target=generate, name="generator")
        gen.start()
        gen.join(n_files * RELEASE_S + 60)
        stop.set()
        gen.join()
        trigger_s = float(sz.live_trigger.split()[0])
        owner = _wait_visible(query, log, rows, time.perf_counter() + 2 * trigger_s + 20)
        batches = executed_batches(query.recentProgress)
    finally:
        stop.set()
        query.stop()
    if query.exception() is not None:
        raise RuntimeError(f"streaming query failed: {query.exception()}")

    lateness = [released[k] - due[k] for k in range(1, n_files)]
    run.diag["gen.lateness_p99_s"] = quantile(lateness, 0.99)
    run.check(run.diag["gen.lateness_p99_s"] < RELEASE_S,
              "the generator ran more than one release interval late")
    first = 1 + int(round(sz.live_warmup_s / RELEASE_S))
    measured = range(first, n_files)
    run.attempted = n_files - 1
    run.failed = sum(owner[k] is None or owner[k] not in log.commits for k in range(1, n_files))
    latency = [log.commits[owner[k]][1] - due[k] for k in measured
               if owner[k] is not None and owner[k] in log.commits]
    run.diag["latency_samples"] = len(latency)
    run.e2e["latency_p50_s"] = quantile(latency, 0.5)
    run.e2e["latency_p90_s"] = quantile(latency, 0.9)
    # sustained rate over the open loop's whole trigger intervals: its
    # first and last batches hold part of an interval each. A loop that
    # never saw a whole interval is timed from its start instead.
    ids = [b["batchId"] for b in batches]
    lo, hi = ids.index(owner[1]), ids.index(owner[n_files - 1])
    if hi - lo >= 2:
        read = batches[lo + 1:hi]
        span = log.commits[ids[hi - 1]][1] - log.commits[ids[lo]][1]
    else:
        read = batches[lo:hi + 1]
        span = log.commits[ids[hi]][1] - (due[1] - RELEASE_S)
    run.e2e["rows_per_s"] = sum(b["numInputRows"] for b in read) / span

    check_table(run, sink, paths)
    traced_reads(run, sink, paths, owner, batches, int(times.max() // 60) * 60 + 60)
    layer_metrics(run, log, batches, paths, rows)


def _wait_visible(query, log: CommitLog, rows: list[int], deadline: float) -> list:
    """Poll the query's progress until every file is in a committed
    batch or the deadline passes. Returns each file's batch (or None)."""
    while True:
        if query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {query.exception()}")
        batches = executed_batches(query.recentProgress)
        owner = attribute_files(rows, [(b["batchId"], b["numInputRows"]) for b in batches])
        if all(b is not None and b in log.commits for b in owner) or time.perf_counter() > deadline:
            return owner
        time.sleep(0.2)


def backfill_catchup(run: Run) -> None:
    sz = run.sizes
    rng = run.rng(2)
    times = events.event_times(rng, BACKLOG_BASE, 3 * events.DAY_S, sz.backlog_rows,
                               BACKLOG_DISORDER_S)
    lines = events.render(rng, "backlog", times)
    chunks = [lines[i:i + sz.backlog_file_rows] for i in range(0, len(lines), sz.backlog_file_rows)]
    paths = events.write_files(run.path("backlog_src"), chunks)
    rows = [len(c) for c in chunks]
    del lines, chunks
    sink = new_sink(run, "backfill")
    log = CommitLog(run, sink)
    run.mark_setup_done()
    start = time.perf_counter()
    query = city_metrics_query(run, run.path("backlog_src"), log, "backfill",
                               {"availableNow": True}, sz.backlog_files_per_trigger)
    try:
        query.awaitTermination(QUERY_TIMEOUT_S)
    finally:
        query.stop()
    if query.exception() is not None:
        raise RuntimeError(f"streaming query failed: {query.exception()}")
    batches = executed_batches(query.recentProgress)
    owner = attribute_files(rows, [(b["batchId"], b["numInputRows"]) for b in batches])
    run.attempted = len(paths)
    run.failed = sum(b is None or b not in log.commits for b in owner)
    last = max(e for _, e in log.commits.values())
    run.e2e["rows_per_s"] = sum(rows) / (last - start)
    visible = [log.commits[b][1] - start for b in owner if b in log.commits]
    run.diag["latency_samples"] = len(visible)
    run.e2e["latency_p50_s"] = quantile(visible, 0.5)
    run.e2e["latency_p90_s"] = quantile(visible, 0.9)
    check_table(run, sink, paths)
    traced_reads(run, sink, paths, owner, batches, BACKLOG_BASE + 3 * events.DAY_S)
    layer_metrics(run, log, batches, paths, rows)


def dashboard_reads(run: Run) -> None:
    sz = run.sizes
    rng = run.rng(3)
    # one file per hour of event time; no event crosses its hour, so
    # a version that adds one file adds whole windows
    per_hour = sz.table_events_per_hour
    offsets = np.sort(rng.uniform(0.0, 3600.0 - 0.001, (sz.table_hours, per_hour)), axis=1)
    offsets += events.EPOCH + 3600.0 * np.arange(sz.table_hours)[:, None]
    lines = events.render(rng, "t", np.floor(offsets.ravel() * 1000) / 1000 + 0.0005)
    bulk = sz.table_hours - sz.table_versions
    chunks = [lines[:bulk * per_hour]] + [
        lines[h * per_hour:(h + 1) * per_hour] for h in range(bulk, sz.table_hours)
    ]
    paths = events.write_files(run.path("table_src"), chunks)
    rows = [len(c) for c in chunks]
    # the table: a bulk commit, then one commit per hour, each the
    # batch-form pipeline over one file (the files share no window)
    sink = new_sink(run, "table")
    log = CommitLog(run, sink)
    for version, path in enumerate(paths):
        log(city_metrics(run.spark.read.text(path)), version)
    dash = Dashboard(run, sink, events.EPOCH + sz.table_hours * 3600, sz.as_of_version)
    final = events.reference_rows(paths)
    older = older_reference(paths, range(len(paths)), sz.as_of_version)  # version = file
    run.mark_setup_done()

    begin = time.perf_counter()
    latency, n_rows, wrong = read_loop(run, dash, final, older, deadline=begin + run.seconds)
    elapsed = time.perf_counter() - begin
    run.attempted, run.failed = len(latency), wrong
    run.diag["latency_samples"] = len(latency)
    run.e2e["latency_p50_s"] = quantile(latency, 0.5)
    run.e2e["latency_p90_s"] = quantile(latency, 0.9)
    run.e2e["rows_per_s"] = n_rows / elapsed
    layer_metrics(run, log, [], paths, rows)


WORKLOADS = {
    "live_freshness": live_freshness,
    "backfill_catchup": backfill_catchup,
    "dashboard_reads": dashboard_reads,
}
