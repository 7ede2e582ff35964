"""Streaming-path tests (T3-T7 + S4-S6): a real StreamingQuery runs in
every test — availableNow replay of `events`-shaped parquet through
watermark -> windowed agg -> foreachBatch keyed upsert sink.

The correctness bar: the materialized sink equals the *batch* form of
the same transformation (batch/streaming parity), including under
checkpointed restart and under full re-replay (idempotence — the
double-count defect the reference has at streaming_job.py:41+:103 must
not reproduce here).
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import REPO_ROOT
from real_time_ride_hailing_data_pipeline_spark import queries as q
from real_time_ride_hailing_data_pipeline_spark.streaming import job as sj
from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (
    JdbcUpsertSink,
    ParquetUpsertSink,
    postgres_merge_sql,
)

SF_DIR = "/root/testdata/sf0.001"


def _batch_result(spark):
    return {
        tuple(r) for r in q.all_queries()["city_window_metrics"](spark, SF_DIR).collect()
    }


def _sink_result(sink, spark):
    return {tuple(r) for r in sink.read(spark).collect()}


def test_replay_equals_batch(spark, tmp_path):
    """T3/T5/T6: an executed availableNow streaming replay materializes
    exactly the batch query's result."""
    sink = sj.run_city_metrics_replay(
        spark,
        source_dir=os.path.join(SF_DIR, "events.parquet"),
        sink_path=str(tmp_path / "city_metrics"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert _sink_result(sink, spark) == _batch_result(spark)


def test_checkpointed_restart_is_noop(spark, tmp_path):
    """T6: restarting with the same checkpoint processes nothing new
    and leaves the sink unchanged."""
    kwargs = dict(
        source_dir=os.path.join(SF_DIR, "events.parquet"),
        sink_path=str(tmp_path / "city_metrics"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    sink = sj.run_city_metrics_replay(spark, **kwargs)
    first = _sink_result(sink, spark)
    sink = sj.run_city_metrics_replay(spark, **kwargs)  # restart
    assert _sink_result(sink, spark) == first == _batch_result(spark)


def test_full_replay_is_idempotent(spark, tmp_path):
    """S5: re-replaying ALL history into an existing sink (fresh
    checkpoint — the reference's no-checkpoint restart scenario) does
    not double-count: the keyed overwrite-per-key MERGE lands in the
    same state. The reference's additive city-keyed upsert fails
    exactly this."""
    sink_path = str(tmp_path / "city_metrics")
    source = os.path.join(SF_DIR, "events.parquet")
    sink = sj.run_city_metrics_replay(
        spark, source, sink_path, str(tmp_path / "ckpt1")
    )
    first = _sink_result(sink, spark)
    sink = sj.run_city_metrics_replay(
        spark, source, sink_path, str(tmp_path / "ckpt2")  # fresh checkpoint
    )
    assert _sink_result(sink, spark) == first == _batch_result(spark)


EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

T0 = dt.datetime(2024, 3, 1, 12, 0, 0)


def _write_stream_file(spark, rows, source_dir, name, mtime):
    """Write one parquet file into the streaming source dir with a
    controlled modification time (the file source orders by mtime)."""
    staging = os.path.join(os.path.dirname(source_dir.rstrip("/")), f"_stage_{name}")
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(staging)
    part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
    os.makedirs(source_dir, exist_ok=True)
    dest = os.path.join(source_dir, f"{name}.parquet")
    shutil.copyfile(part, dest)
    os.utime(dest, (mtime, mtime))
    shutil.rmtree(staging)


def _ev(eid, minutes, etype="view", value=10.0):
    return (eid, T0 + dt.timedelta(minutes=minutes), eid, etype, value, "{}")


def test_late_data_amend_and_state_eviction(spark, tmp_path):
    """T1/T7: watermark semantics as Spark actually implements them
    (verified against 4.1.2 state-operator metrics):

    - a late event whose window state is still live amends/creates its
      window correctly (minute 15 here);
    - state eviction runs at END of the batch whose start-of-batch
      watermark has passed the window (so eviction of [0,1) happens at
      the end of batch 2, not batch 1);
    - a straggler arriving AFTER its window was evicted is dropped —
      the sink keeps the window's final pre-eviction value (count
      stays 2; a resurrected partial count of 1 would be the
      double-processing corruption mode).
    """
    source_dir = str(tmp_path / "src")
    # batch 1: window [0,1) gets 2 events; max ts 20 -> watermark 10
    _write_stream_file(
        spark,
        [_ev(1, 0), _ev(2, 0), _ev(3, 20)],
        source_dir,
        "batch1",
        mtime=1_700_000_000,
    )
    # batch 2: minute 15, late but within watermark — a new correct
    # window. At this batch's END the watermark (10 min, from batch 1's
    # max) evicts window [0,1)'s state.
    _write_stream_file(
        spark,
        [_ev(4, 15)],
        source_dir,
        "batch2",
        mtime=1_700_000_100,
    )
    # batch 3: minute-0 straggler, now beyond the watermark and after
    # eviction — restarts its window's count from scratch
    _write_stream_file(
        spark,
        [_ev(5, 0)],
        source_dir,
        "batch3",
        mtime=1_700_000_200,
    )
    sink = sj.run_city_metrics_replay(
        spark,
        source_dir=source_dir,
        sink_path=str(tmp_path / "metrics"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        watermark="10 minutes",
        max_files_per_trigger=1,
    )
    got = {
        (r["event_type"], r["window_start"].minute, r["total_trips"])
        for r in sink.read(spark).collect()
    }
    assert got == {
        ("view", 0, 2),   # straggler dropped: pre-eviction value kept
        ("view", 20, 1),  # on-time window
        ("view", 15, 1),  # late but within watermark: correct window
    }


def test_crash_mid_stream_recovers_exactly_once(spark, tmp_path):
    """T6 hardening: the worst crash window — a micro-batch's sink
    effect lands but its offset commit doesn't (the foreachBatch
    raises AFTER writing). On restart Spark re-runs that batch; the
    keyed overwrite-per-key sink absorbs the duplicate application and
    the final state equals the batch result. Exactly-once via
    idempotence, under an injected mid-stream crash."""
    source_dir = str(tmp_path / "src")
    _write_stream_file(
        spark, [_ev(1, 0), _ev(2, 0), _ev(3, 1)], source_dir, "f1", 1_700_000_000
    )
    _write_stream_file(
        spark, [_ev(4, 2), _ev(5, 2)], source_dir, "f2", 1_700_000_100
    )
    sink = ParquetUpsertSink(
        str(tmp_path / "metrics"), key_cols=("event_type", "window_start")
    )
    crashed = {"done": False}

    def crashing_write(batch_df, epoch_id):
        sink.write_batch(batch_df, epoch_id)  # effect applied...
        if not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash after sink write, before commit")

    def run():
        events = sj.events_parquet_stream(spark, source_dir, max_files_per_trigger=1)
        metrics = sj.city_metrics_update_stream(events, "10 minutes")
        q_ = (
            metrics.writeStream.outputMode("update")
            .foreachBatch(crashing_write)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q_.awaitTermination()

    with pytest.raises(Exception, match="injected crash"):
        run()
    run()  # restart: re-runs the uncommitted batch, then finishes

    got = {
        (r["event_type"], r["window_start"].minute, r["total_trips"])
        for r in sink.read(spark).collect()
    }
    assert got == {("view", 0, 2), ("view", 1, 1), ("view", 2, 2)}


def test_multibatch_replay_of_split_table_equals_batch(spark, tmp_path):
    """Production-shaped replay: the real events table split across 4
    files in arbitrary (non-time-ordered) file order, processed as 4
    micro-batches. Without a watermark (a bounded replay needs no
    state eviction) the incremental aggregation must converge to the
    batch answer regardless of how data is chunked across batches."""
    src = str(tmp_path / "src")
    from real_time_ride_hailing_data_pipeline_spark import catalog

    catalog.load_table(spark, SF_DIR, "events").repartition(4).write.mode(
        "overwrite"
    ).parquet(src)

    events = sj.events_parquet_stream(spark, src, max_files_per_trigger=1)
    metrics = sj.city_metrics_update_stream(events, watermark=None)
    sink = ParquetUpsertSink(
        str(tmp_path / "metrics"), key_cols=("event_type", "window_start")
    )
    query = (
        metrics.writeStream.outputMode("update")
        .foreachBatch(sink.write_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    assert _sink_result(sink, spark) == _batch_result(spark)


def test_streaming_registry_query_matches_batch(spark):
    """The registry's streaming entry (used by the driver gate) equals
    the batch flagship query."""
    got = {
        tuple(r)
        for r in q.all_queries()["streaming_city_metrics_replay"](
            spark, SF_DIR
        ).collect()
    }
    assert got == _batch_result(spark)


def test_jdbc_merge_sql_is_keyed_and_non_additive():
    """S5 corrected semantics: conflict target is the full composite
    key and no value column is additive."""
    sql = postgres_merge_sql(
        "city_metrics",
        "city_metrics_staging",
        ["city", "window_start"],
        ["total_trips", "average_fare", "last_updated"],
    )
    assert "ON CONFLICT (city, window_start)" in sql
    assert "+" not in sql  # overwrite-per-key, never additive
    assert "total_trips = EXCLUDED.total_trips" in sql


def test_parquet_upsert_batch_reapply_idempotent(spark, tmp_path):
    """Unit-level sink check: applying the same batch twice, then a
    changed batch for one key, leaves exactly the changed state."""
    sink = ParquetUpsertSink(str(tmp_path / "t"), key_cols=("event_type", "window_start"))
    rows = [
        ("view", T0, T0 + dt.timedelta(minutes=1), 5, 10.0),
        ("click", T0, T0 + dt.timedelta(minutes=1), 2, 4.0),
    ]
    schema = "event_type string, window_start timestamp, last_updated timestamp, total_trips long, average_fare double"
    b1 = spark.createDataFrame(rows, schema)
    sink.write_batch(b1, 0)
    sink.write_batch(b1, 1)  # same batch again
    assert {tuple(r) for r in sink.read(spark).collect()} == {tuple(r) for r in rows}
    updated = [("view", T0, T0 + dt.timedelta(minutes=1), 7, 11.0)]
    sink.write_batch(spark.createDataFrame(updated, schema), 2)
    assert {tuple(r) for r in sink.read(spark).collect()} == {
        tuple(updated[0]),
        tuple(rows[1]),
    }


def test_parquet_upsert_recovers_from_crash_mid_commit(spark, tmp_path):
    """A crash DURING the commit overwrite may leave a touched
    partition holding only the batch's keys (pre-batch keys gone).
    The merged staging for that epoch is durable, so replaying the
    epoch (what a streaming restart does) must restore the partition
    in full — keys NOT in the batch included."""
    sink = ParquetUpsertSink(str(tmp_path / "t"), key_cols=("event_type", "window_start"))
    schema = "event_type string, window_start timestamp, last_updated timestamp, total_trips long, average_fare double"
    rows = [
        ("view", T0, T0 + dt.timedelta(minutes=1), 5, 10.0),
        ("click", T0, T0 + dt.timedelta(minutes=1), 2, 4.0),
    ]
    sink.write_batch(spark.createDataFrame(rows, schema), 0)

    # epoch 1 updates ONLY the "view" key; stage its merge, then
    # simulate the crash: the touched partition is overwritten with
    # just the batch rows (pre-batch "click" lost) and the process
    # dies before the staging cleanup.
    b2 = spark.createDataFrame([("view", T0, T0 + dt.timedelta(minutes=1), 7, 11.0)], schema)
    batch = b2.withColumn("part_date", F.to_date("window_start"))
    sink._stage_merge(spark, batch, [T0.date()], 1)
    part_dir = glob.glob(os.path.join(sink.path, "part_date=*"))[0]
    shutil.rmtree(part_dir)
    batch.write.mode("append").partitionBy("part_date").parquet(sink.path)
    # corrupted (the writers' reader: read() would finish the staging)
    assert {r["event_type"] for r in sink._read_table(spark).collect()} == {"view"}

    # restart replays epoch 1: recovery must come from the staging
    sink.write_batch(b2, 1)
    assert {tuple(r) for r in sink.read(spark).collect()} == {
        ("view", T0, T0 + dt.timedelta(minutes=1), 7, 11.0),
        ("click", T0, T0 + dt.timedelta(minutes=1), 2, 4.0),
    }
    assert not os.path.exists(sink.merged_path)  # cleaned after success


def test_jdbc_derby_streaming_replay_equals_batch(spark, tmp_path):
    """S4+S5 JDBC variant EXECUTED end-to-end: a real availableNow
    StreamingQuery drives foreachBatch into embedded Derby (staging
    table overwrite + ANSI MERGE over java.sql.DriverManager — the
    jars ship inside pyspark). The merged table must equal the batch
    flagship query, and a full fresh-checkpoint re-replay must be a
    no-op (overwrite-per-key, never additive — the reference's
    double-count defect, streaming_job.py:41+:103, must not
    reproduce)."""
    sink = JdbcUpsertSink.embedded_derby(
        str(tmp_path / "derby_db"), key_cols=("event_type", "window_start")
    )
    events = sj.events_parquet_stream(
        spark,
        os.path.join(SF_DIR, "events.parquet"),
        wrapper_dir=str(tmp_path / "srcview"),
    )
    metrics = sj.city_metrics_update_stream(events)

    def run(ckpt: str) -> None:
        query = (
            metrics.writeStream.outputMode("update")
            .foreachBatch(sink.write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()

    run(str(tmp_path / "ckpt1"))
    first = _sink_result(sink, spark)
    assert first == _batch_result(spark)
    run(str(tmp_path / "ckpt2"))  # full re-replay, fresh checkpoint
    assert _sink_result(sink, spark) == first


def test_jdbc_derby_merge_sql_ansi_shape():
    """The ANSI MERGE is keyed on the full composite key, overwrites
    every value column, and never adds."""
    sink = JdbcUpsertSink.embedded_derby("/tmp/unused")
    sql = sink.merge_sql_ansi(("total_trips", "average_fare"))
    assert 't."city" = s."city" AND t."window_start" = s."window_start"' in sql
    assert '"total_trips" = s."total_trips"' in sql
    assert "WHEN NOT MATCHED THEN INSERT" in sql
    assert "+" not in sql


def test_left_outer_join_emits_tail_unmatched_via_flush_sentinel(spark, tmp_path):
    """An UNMATCHED purchase at the very end of the stream sits inside
    the final watermark-delay window — without the flush sentinel its
    null-extended row would never emit (state still open when the
    replay ends). The sentinel must close it; the result must equal
    the batch LEFT JOIN including that tail row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = dt.datetime(2024, 1, 1)
    rows = [
        # matched pair early in the stream
        (1, base, 10, "signup"),
        (2, base + dt.timedelta(days=1), 10, "purchase"),
        # final event: a purchase with NO signup in window — the case
        # the sentinel exists for
        (3, base + dt.timedelta(days=2), 99, "purchase"),
    ]
    t = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    pq.write_table(t, os.path.join(sf_dir, "events.parquet"))

    out = sj.run_stream_stream_left_outer_join(spark, sf_dir)
    got = {
        (r.purchase_id, r.signup_id) for r in out.collect()
    }
    assert got == {(2, 1), (3, None)}


def test_fanout_log_equals_upsert_table(spark):
    """The two destinations of the fan-out foreachBatch must hold the
    same logical content: the JSON change log's latest-wins compaction
    (what the registry query returns) row-for-row equals the parquet
    upsert table's final state (what the other sinks return for the
    same pipeline)."""
    log_rows = {
        (r.event_type, r.window_start, r.last_updated, r.total_trips, r.average_fare)
        for r in sj.streaming_fanout_replay(spark, SF_DIR).collect()
    }
    table_rows = {
        (r.event_type, r.window_start, r.last_updated, r.total_trips, r.average_fare)
        for r in sj.streaming_city_metrics_replay(spark, SF_DIR).collect()
    }
    assert log_rows == table_rows and len(log_rows) > 0


def test_snapshot_time_travel_reads(spark, tmp_path):
    """Snapshot retention invariants: read_at(last epoch) equals the
    live table; the epoch-0 snapshot differs from it (later commits
    changed state); the history view carries one epoch partition per
    commit; read_at below the first epoch raises."""
    import pytest as _pytest

    from real_time_ride_hailing_data_pipeline_spark.streaming.job import (
        run_city_metrics_replay,
    )
    import os as _os
    import time as _time

    from pyspark.sql import functions as F2

    from real_time_ride_hailing_data_pipeline_spark import catalog as _cat

    workdir = str(tmp_path)
    src_dir = _os.path.join(workdir, "src")
    _os.makedirs(src_dir)
    events = _cat.load_table(spark, SF_DIR, "events")
    cutoff = F2.lit("2024-01-16").cast("timestamp")
    for name, half in (
        ("a_half0", events.filter(F2.col("ts") < cutoff)),
        ("b_half1", events.filter(F2.col("ts") >= cutoff)),
    ):
        tmp = _os.path.join(workdir, f"tmp_{name}")
        half.coalesce(1).write.parquet(tmp)
        part = next(f for f in _os.listdir(tmp) if f.endswith(".parquet"))
        _os.rename(_os.path.join(tmp, part), _os.path.join(src_dir, f"{name}.parquet"))
    now = _time.time()
    for i, f in enumerate(sorted(_os.listdir(src_dir))):
        _os.utime(_os.path.join(src_dir, f), (now + i, now + i))

    sink = run_city_metrics_replay(
        spark,
        source_dir=src_dir,
        sink_path=_os.path.join(workdir, "out"),
        checkpoint_dir=_os.path.join(workdir, "ckpt"),
        max_files_per_trigger=1,
        snapshot_dir=_os.path.join(workdir, "snaps"),
    )
    epochs = sink.snapshots()
    assert len(epochs) >= 2

    def rows(df):
        return {tuple(r) for r in df.collect()}

    live = rows(sink.read(spark))
    assert rows(sink.read_at(spark, epochs[-1])) == live
    assert rows(sink.read_at(spark, epochs[0])) != live
    hist = sink.read_history(spark)
    assert {r["epoch"] for r in hist.select("epoch").distinct().collect()} == set(
        epochs
    )
    with _pytest.raises(ValueError):
        sink.read_at(spark, epochs[0] - 1)


def test_snapshot_retention_expires_old_epochs(spark, tmp_path):
    """max_snapshots bounds snapshot storage (VERDICT r4 item 3): only
    the newest N manifests survive, partition copies no retained
    manifest references are physically VACUUMed, read_at below the
    retention horizon raises, and an EMPTY committed epoch still
    publishes its (identical) manifest so the one-commit-per-epoch
    history contract holds."""
    import os as _os

    import pytest as _pytest

    from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (
        ParquetUpsertSink,
    )

    sink = ParquetUpsertSink(
        path=str(tmp_path / "table"),
        key_cols=("city", "window_start"),
        partition_source="window_start",
        snapshot_dir=str(tmp_path / "snaps"),
        max_snapshots=2,
    )

    def batch(n, day=None):
        return spark.createDataFrame(
            [("sf", f"2024-01-0{(day if day is not None else n) + 1} 00:00:00", n)],
            "city string, window_start string, total_trips int",
        ).withColumn("window_start", F.col("window_start").cast("timestamp"))

    for epoch in range(4):
        sink.write_batch(batch(epoch), epoch)
    assert sink.snapshots() == [2, 3]
    mdir = tmp_path / "snaps" / "manifest"
    assert sorted(_os.listdir(mdir)) == ["epoch=2.json", "epoch=3.json"]

    # inside the horizon: epoch-2 view has 3 keys, live table has 4
    assert sink.read_at(spark, 2).count() == 3
    assert sink.read(spark).count() == 4
    with _pytest.raises(ValueError, match="retention horizon"):
        sink.read_at(spark, 1)
    # epoch 0/1's partition COPIES survive while a retained manifest
    # still references them (the transaction-log property: a manifest
    # entry, not the epoch number, decides a file's liveness)
    froot = tmp_path / "snaps" / "files"
    assert (froot / "epoch=0" / "part_date=2024-01-01").is_dir()

    # an empty committed epoch publishes a manifest (identical content,
    # ZERO data copies) and participates in retention
    empty = batch(0).filter("1 = 0")
    sink.write_batch(empty, 4)
    assert sink.snapshots() == [3, 4]
    assert not (froot / "epoch=4").exists()  # nothing copied
    assert sink.read_at(spark, 4).count() == sink.read(spark).count() == 4
    hist = sink.read_history(spark)
    assert {r["epoch"] for r in hist.select("epoch").distinct().collect()} == {3, 4}

    # re-touching day 1's partition at epoch 5 re-points its manifest
    # entry — but manifest 4 (still retained) references the epoch-0
    # copy, so it survives; once manifest 4 itself expires (epoch 6),
    # no retained manifest references it and the VACUUM deletes it
    sink.write_batch(batch(99, day=0), 5)
    assert sink.snapshots() == [4, 5]
    assert (froot / "epoch=0" / "part_date=2024-01-01").is_dir()  # ref'd by m4
    assert (froot / "epoch=5" / "part_date=2024-01-01").is_dir()
    assert sink.read_at(spark, 5).count() == 4
    sink.write_batch(batch(0).filter("1 = 0"), 6)  # expires manifest 4
    assert sink.snapshots() == [5, 6]
    assert not (froot / "epoch=0").exists()  # unreferenced -> vacuumed
    assert sink.read_at(spark, 6).count() == 4


def test_snapshot_crash_before_manifest_publish_recovers(spark, tmp_path):
    """The manifest write is the snapshot's commit point: a crash after
    the partition copies but before the manifest publish leaves the
    epoch unlisted; replaying the same epoch (the streaming restart
    path) overwrites the copies and publishes an identical manifest —
    no duplicate or torn snapshot state."""
    import os as _os

    from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (
        ParquetUpsertSink,
    )

    sink = ParquetUpsertSink(
        path=str(tmp_path / "table"),
        key_cols=("city", "window_start"),
        partition_source="window_start",
        snapshot_dir=str(tmp_path / "snaps"),
    )

    def batch(n, day):
        return spark.createDataFrame(
            [("sf", f"2024-01-0{day} 00:00:00", n)],
            "city string, window_start string, total_trips int",
        ).withColumn("window_start", F.col("window_start").cast("timestamp"))

    sink.write_batch(batch(1, 1), 0)
    sink.write_batch(batch(2, 2), 1)
    # simulate the crash: epoch-1 copies are on disk, manifest gone
    _os.remove(tmp_path / "snaps" / "manifest" / "epoch=1.json")
    assert sink.snapshots() == [0]  # uncommitted snapshot is invisible
    # a read at epoch 1 resolves to the newest COMMITTED snapshot <= 1
    assert sink.read_at(spark, 1).count() == 1
    # replay the epoch (streaming restart re-delivers the same batch)
    sink.write_batch(batch(2, 2), 1)
    assert sink.snapshots() == [0, 1]
    assert sink.read_at(spark, 1).count() == 2
    assert {tuple(r) for r in sink.read_at(spark, 1).collect()} == {
        tuple(r) for r in sink.read(spark).collect()
    }


def test_streaming_query_listener_collects_batch_metrics(spark, tmp_path):
    """Streaming observability (the alerting surface): a
    StreamingQueryListener accumulates per-micro-batch input rows AND
    the query's DataFrame.observe metrics — total input equals the
    source row count, and the observed per-batch counters sum to it."""
    from real_time_ride_hailing_data_pipeline_spark.observability import (
        BatchMetricsListener,
    )

    listener = BatchMetricsListener()
    spark.streams.addListener(listener)
    try:
        events = sj.events_parquet_stream(
            spark,
            os.path.join(SF_DIR, "events.parquet"),
            wrapper_dir=str(tmp_path / "srcview"),
        )
        observed = events.observe(
            "ingest", F.count(F.lit(1)).alias("n_rows"), F.max("ts").alias("max_ts")
        )
        out = str(tmp_path / "out")
        q_ = (
            observed.writeStream.foreachBatch(
                lambda df, eid: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        qid = q_.id
        q_.awaitTermination()
        n_events = spark.read.parquet(out).count()
        # filter by query id: the listener bus is session-global and
        # other tests' queries may emit progress while registered
        listener.wait_for_rows(n_events, query_id=qid)
        assert listener.total_input_rows(qid) == n_events
        observed_total = sum(
            p["observedMetrics"]["ingest"]["n_rows"]
            for p in listener.for_query(qid)
            if "ingest" in p["observedMetrics"]
        )
        assert observed_total == n_events
    finally:
        spark.streams.removeListener(listener)


def test_snapshot_change_feed_is_pruned_and_exact(spark, tmp_path):
    """read_changes(v0, v1) returns exactly the rows v1 inserted or
    overwrote — nothing from untouched partitions — and an identical
    (empty-commit) version pair yields an empty feed."""
    from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (
        ParquetUpsertSink,
    )

    sink = ParquetUpsertSink(
        path=str(tmp_path / "table"),
        key_cols=("city", "window_start"),
        partition_source="window_start",
        snapshot_dir=str(tmp_path / "snaps"),
    )
    schema = "city string, window_start string, total_trips int"

    def df(rows):
        return spark.createDataFrame(rows, schema).withColumn(
            "window_start", F.col("window_start").cast("timestamp")
        )

    sink.write_batch(
        df([("sf", f"2024-01-0{d} 00:00:00", d) for d in (1, 2, 3)]), 0
    )
    # epoch 1: overwrite day 2's key and add a day-4 key; days 1/3 untouched
    sink.write_batch(
        df([("sf", "2024-01-02 00:00:00", 99), ("sf", "2024-01-04 00:00:00", 4)]), 1
    )
    changes = {
        (r["window_start"].day, r["total_trips"])
        for r in sink.read_changes(spark, 0, 1).collect()
    }
    assert changes == {(2, 99), (4, 4)}

    # an empty commit produces an identical version -> empty feed
    sink.write_batch(df([]).filter("1=0"), 2)
    assert sink.read_changes(spark, 1, 2).count() == 0


def test_snapshot_write_amplification_is_per_touched_partition(spark, tmp_path):
    """VERDICT r5 item 5: a commit touching 1 of N partitions copies
    exactly that partition into the snapshot store — O(changed files),
    not O(table)."""
    import os as _os

    from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (
        ParquetUpsertSink,
    )

    sink = ParquetUpsertSink(
        path=str(tmp_path / "table"),
        key_cols=("city", "window_start"),
        partition_source="window_start",
        snapshot_dir=str(tmp_path / "snaps"),
    )
    wide = spark.createDataFrame(
        [("sf", f"2024-01-{d:02d} 00:00:00", d) for d in range(1, 11)],
        "city string, window_start string, total_trips int",
    ).withColumn("window_start", F.col("window_start").cast("timestamp"))
    sink.write_batch(wide, 0)  # baseline: 10 partitions captured
    froot = tmp_path / "snaps" / "files"
    assert len(_os.listdir(froot / "epoch=0")) == 10

    one = spark.createDataFrame(
        [("sf", "2024-01-05 00:00:00", 99)],
        "city string, window_start string, total_trips int",
    ).withColumn("window_start", F.col("window_start").cast("timestamp"))
    sink.write_batch(one, 1)
    assert _os.listdir(froot / "epoch=1") == ["part_date=2024-01-05"]
    # and the composed epoch-1 view is the full 10-partition table
    got = {
        (r["window_start"].day, r["total_trips"])
        for r in sink.read_at(spark, 1).collect()
    }
    assert got == {(d, d) for d in range(1, 11) if d != 5} | {(5, 99)}


# -- additive schema evolution (sinks.py: schema_evolution) -----------------


def _evo_sink(tmp_path, **kw):
    from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (
        ParquetUpsertSink,
    )

    return ParquetUpsertSink(
        str(tmp_path / "t"),
        key_cols=("k", "window_start"),
        snapshot_dir=str(tmp_path / "snap"),
        **kw,
    )


def _evo_batches(spark):
    d1, d2 = dt.datetime(2024, 1, 15, 10, 0), dt.datetime(2024, 1, 16, 11, 0)
    v1 = spark.createDataFrame(
        [("a", d1, 10), ("b", d2, 20)],
        "k string, window_start timestamp, total bigint",
    )
    v2 = spark.createDataFrame(
        [("b", d2, 25, 777), ("c", d2, 30, 888)],
        "k string, window_start timestamp, total bigint, fare_cents bigint",
    )
    return d1, d2, v1, v2


def test_schema_evolution_add_column_merge_and_compact(spark, tmp_path):
    """A later batch ADDS a column: existing rows NULL-fill through the
    log-recorded schema (never a footer sweep); a still-later batch
    OMITTING the column NULL-fills its own rows without dropping the
    column from the table (the silent-column-loss defect the strict
    path now rejects loudly); compaction physically homogenizes."""
    sink = _evo_sink(tmp_path, schema_evolution=True)
    d1, d2, v1, v2 = _evo_batches(spark)
    sink.write_batch(v1, 0)
    sink.write_batch(v2, 1)
    live = {r["k"]: (r["total"], r["fare_cents"]) for r in sink.read(spark).collect()}
    assert live == {"a": (10, None), "b": (25, 777), "c": (30, 888)}

    # projection drift BACK (batch without the evolved column)
    v1b = spark.createDataFrame(
        [("a", d1, 11)], "k string, window_start timestamp, total bigint"
    )
    sink.write_batch(v1b, 2)
    live = {r["k"]: (r["total"], r["fare_cents"]) for r in sink.read(spark).collect()}
    assert live == {"a": (11, None), "b": (25, 777), "c": (30, 888)}

    sink.compact(spark, files_per_partition=1)
    # after compaction every physical file carries the union schema:
    # a plain footer-sampled read (no stored schema) must now agree
    plain = {
        r["k"]: (r["total"], r["fare_cents"])
        for r in spark.read.parquet(sink.path).drop("part_date").collect()
    }
    assert plain == live


def test_schema_evolution_time_travel_cdf_history(spark, tmp_path):
    """Time travel shows each version under its as-of schema (epoch 0
    has no fare_cents column at all); the change feed across the
    evolution boundary aligns both sides to the TO-version schema and
    reports exactly the second batch's post-images; the history view
    stacks versions with NULL-fill."""
    sink = _evo_sink(tmp_path, schema_evolution=True)
    _, _, v1, v2 = _evo_batches(spark)
    sink.write_batch(v1, 0)
    sink.write_batch(v2, 1)

    at0 = sink.read_at(spark, 0)
    assert "fare_cents" not in at0.columns
    assert {r["k"]: r["total"] for r in at0.collect()} == {"a": 10, "b": 20}

    at1 = {r["k"]: (r["total"], r["fare_cents"]) for r in sink.read_at(spark, 1).collect()}
    assert at1 == {"a": (10, None), "b": (25, 777), "c": (30, 888)}

    cdf = {r["k"]: (r["total"], r["fare_cents"]) for r in sink.read_changes(spark, 0, 1).collect()}
    assert cdf == {"b": (25, 777), "c": (30, 888)}

    hist = {
        (r["epoch"], r["k"]): r["fare_cents"]
        for r in sink.read_history(spark).collect()
    }
    assert set(hist) == {(0, "a"), (0, "b"), (1, "a"), (1, "b"), (1, "c")}
    assert hist[(1, "b")] == 777 and hist[(0, "b")] is None


def test_schema_evolution_guards(spark, tmp_path):
    """Without the opt-in, ANY column-set drift raises loudly (the
    pre-evolution code silently dropped omitted columns from touched
    partitions); a type change on a shared column raises even WITH
    the opt-in; a batch missing a key column always raises."""
    d1, d2, v1, v2 = _evo_batches(spark)

    strict = _evo_sink(tmp_path / "strict", schema_evolution=False)
    strict.write_batch(v1, 0)
    with pytest.raises(Exception, match="schema_evolution=True"):
        strict.write_batch(v2, 1)
    v1_narrow = spark.createDataFrame(
        [("a", d1)], "k string, window_start timestamp"
    )
    with pytest.raises(Exception, match="omitted"):
        strict.write_batch(v1_narrow, 1)

    evo = _evo_sink(tmp_path / "evo", schema_evolution=True)
    evo.write_batch(v1, 0)
    v_typed = spark.createDataFrame(
        [("a", d1, 1.5)], "k string, window_start timestamp, total double"
    )
    with pytest.raises(Exception, match="type change"):
        evo.write_batch(v_typed, 1)
    v_nokey = spark.createDataFrame(
        [(d2, 1)], "window_start timestamp, total bigint"
    )
    with pytest.raises(Exception, match="key/partition"):
        evo.write_batch(v_nokey, 1)


def test_schema_evolution_crash_between_schema_publish_and_overwrite(spark, tmp_path):
    """The schema file publishes BEFORE the destructive overwrite
    (sinks.py:_finish_pending_epoch). A crash in that window leaves
    the schema file ahead of the physical files: reads must NULL-fill
    the not-yet-written column (never error, never drop data), and the
    streaming restart's epoch replay completes the evolution from the
    durable staging."""
    sink = _evo_sink(tmp_path, schema_evolution=True)
    _, d2, v1, v2 = _evo_batches(spark)
    sink.write_batch(v1, 0)

    # stage the evolving batch and publish the schema, but "crash"
    # before the overwrite touches the table (exactly the install's
    # schema-first window)
    batch = v2.withColumn("part_date", F.to_date("window_start"))
    sink._stage_merge(spark, batch, [d2.date()], 1)
    merged = spark.read.parquet(sink.merged_path)
    sink._atomic_json_write(sink._schema_file(), sink._schema_json(merged.schema))

    # torn state: schema knows fare_cents, no file carries it yet (the
    # writers' reader: read() would finish the staging first)
    torn = {
        r["k"]: (r["total"], r["fare_cents"])
        for r in sink._read_table(spark).collect()
    }
    assert torn == {"a": (10, None), "b": (20, None)}

    # restart replays epoch 1 from the durable staging
    sink.write_batch(v2, 1)
    live = {r["k"]: (r["total"], r["fare_cents"]) for r in sink.read(spark).collect()}
    assert live == {"a": (10, None), "b": (25, 777), "c": (30, 888)}
    assert not os.path.exists(sink.merged_path)


# -- row-level DELETE (sinks.py: delete_keys + read_changes_typed) ----------


def test_delete_keys_removes_rows_and_time_travel_keeps_them(spark, tmp_path):
    """delete_keys removes exactly the keyed rows from the live table;
    the pre-delete snapshot still serves them (erasure of the LIVE
    table, versioned history governed by retention — set
    max_snapshots=1 for hard erasure); the typed feed reports the
    deleted pre-images and nothing else; the post-image-only
    read_changes stays exact when no partition dropped."""
    sink = _evo_sink(tmp_path)
    d1, d2 = dt.datetime(2024, 1, 15, 10, 0), dt.datetime(2024, 1, 16, 11, 0)
    b0 = spark.createDataFrame(
        [("a", d1, 10), ("b", d2, 20), ("c", d2, 30)],
        "k string, window_start timestamp, total bigint",
    )
    sink.write_batch(b0, 0)
    sink.delete_keys(
        spark.createDataFrame([("b", d2)], "k string, window_start timestamp"), 1
    )
    assert sorted(r["k"] for r in sink.read(spark).collect()) == ["a", "c"]
    assert sorted(r["k"] for r in sink.read_at(spark, 0).collect()) == ["a", "b", "c"]
    typed = sorted(
        (r["change_type"], r["k"], r["total"])
        for r in sink.read_changes_typed(spark, 0, 1).collect()
    )
    assert typed == [("delete", "b", 20)]
    # partition d2 survived (c remains) so the post-image feed works
    # and is empty (no upserts between the versions)
    assert sink.read_changes(spark, 0, 1).count() == 0


def test_delete_keys_drops_emptied_partition(spark, tmp_path):
    """Deleting every key of a partition drops the directory from the
    table and the entry from the manifest: read_at composes without
    it, the typed feed labels its rows deletes, and the post-image
    read_changes refuses (it cannot represent deletes)."""
    sink = _evo_sink(tmp_path)
    d1, d2 = dt.datetime(2024, 1, 15, 10, 0), dt.datetime(2024, 1, 16, 11, 0)
    sink.write_batch(
        spark.createDataFrame(
            [("a", d1, 10), ("c", d2, 30)],
            "k string, window_start timestamp, total bigint",
        ),
        0,
    )
    sink.delete_keys(
        spark.createDataFrame([("a", d1)], "k string, window_start timestamp"), 1
    )
    assert sorted(
        d for d in os.listdir(sink.path) if d.startswith("part_date=")
    ) == ["part_date=2024-01-16"]
    assert [r["k"] for r in sink.read_at(spark, 1).collect()] == ["c"]
    typed = [
        (r["change_type"], r["k"])
        for r in sink.read_changes_typed(spark, 0, 1).collect()
    ]
    assert typed == [("delete", "a")]
    with pytest.raises(ValueError, match="read_changes_typed"):
        sink.read_changes(spark, 0, 1)


def test_delete_keys_idempotent_and_upsert_after_delete(spark, tmp_path):
    """Deleting absent keys is an empty commit (a committed version,
    no data change); a later upsert may re-insert a deleted key; the
    typed feed across the re-insert labels it an upsert."""
    sink = _evo_sink(tmp_path)
    d2 = dt.datetime(2024, 1, 16, 11, 0)
    sink.write_batch(
        spark.createDataFrame(
            [("b", d2, 20), ("c", d2, 30)],
            "k string, window_start timestamp, total bigint",
        ),
        0,
    )
    keys = spark.createDataFrame([("b", d2)], "k string, window_start timestamp")
    sink.delete_keys(keys, 1)
    sink.delete_keys(keys, 2)  # replay/absent: empty commit
    assert sink.snapshots() == [0, 1, 2]
    assert [r["k"] for r in sink.read(spark).collect()] == ["c"]
    sink.write_batch(
        spark.createDataFrame(
            [("b", d2, 99)], "k string, window_start timestamp, total bigint"
        ),
        3,
    )
    assert sorted((r["k"], r["total"]) for r in sink.read(spark).collect()) == [
        ("b", 99),
        ("c", 30),
    ]
    typed = sorted(
        (r["change_type"], r["k"], r["total"])
        for r in sink.read_changes_typed(spark, 2, 3).collect()
    )
    assert typed == [("upsert", "b", 99)]


def test_delete_crash_between_commit_and_snapshot_recovers(spark, tmp_path):
    """A delete that dies after the table commit but before the
    snapshot publish must NOT diverge the version log on replay: the
    epoch-marked staging outlives the commit, so the replay re-enters
    the staged-recovery branch (re-commit + snapshot) instead of the
    empty-commit path that would republish pre-delete partition
    pointers — resurrecting erased rows in the versioned view."""
    sink = _evo_sink(tmp_path)
    d1, d2 = dt.datetime(2024, 1, 15, 10, 0), dt.datetime(2024, 1, 16, 11, 0)
    sink.write_batch(
        spark.createDataFrame(
            [("a", d1, 10), ("b", d2, 20), ("c", d2, 30)],
            "k string, window_start timestamp, total bigint",
        ),
        0,
    )
    keys = spark.createDataFrame([("b", d2)], "k string, window_start timestamp")

    orig_snapshot = sink._snapshot
    sink._snapshot = lambda *a, **k: (_ for _ in ()).throw(RuntimeError("crash"))
    with pytest.raises(RuntimeError, match="crash"):
        sink.delete_keys(keys, 1)
    # torn state: no epoch-1 snapshot, the recorded staging kept
    assert sink.snapshots() == [0]
    assert sink._staged_record()["epoch"] == 1

    sink._snapshot = orig_snapshot
    # live table post-delete (the read finishes the recorded commit)
    assert sorted(r["k"] for r in sink.read(spark).collect()) == ["a", "c"]
    sink.delete_keys(keys, 1)  # the streaming restart's replay
    assert sink.snapshots() == [0, 1]
    assert sorted(r["k"] for r in sink.read_at(spark, 1).collect()) == ["a", "c"]
    typed = [
        (r["change_type"], r["k"])
        for r in sink.read_changes_typed(spark, 0, 1).collect()
    ]
    assert typed == [("delete", "b")]
    assert not os.path.exists(sink.merged_path)


def test_compact_target_file_bytes_sizes_per_partition(spark, tmp_path):
    """Size-targeted compaction: a fat partition splits into multiple
    files each bounded near the target size (bucket parallelism plus
    the maxRecordsPerFile cap for collided buckets) while a thin one
    collapses to a single file — and the rewrite is
    content-identical."""
    import glob as _glob

    sink = _evo_sink(tmp_path)
    d_fat = dt.datetime(2024, 1, 15, 10, 0)
    d_thin = dt.datetime(2024, 1, 16, 11, 0)
    fat = [(f"k{i}", d_fat, i) for i in range(4000)]
    thin = [("t0", d_thin, 1)]
    sink.write_batch(
        spark.createDataFrame(
            fat + thin, "k string, window_start timestamp, total bigint"
        ),
        0,
    )
    before = sorted(tuple(r) for r in sink.read(spark).collect())

    sizes = {}
    for d in os.listdir(sink.path):
        if d.startswith("part_date="):
            p = os.path.join(sink.path, d)
            sizes[d] = sum(
                os.path.getsize(os.path.join(p, f))
                for f in os.listdir(p)
                if not f.startswith(("_", "."))
            )
    target = max(1, sizes["part_date=2024-01-15"] // 3)  # fat -> >=3 files
    sink.compact(spark, target_file_bytes=target)

    def files_in(d):
        return [
            f
            for f in _glob.glob(os.path.join(sink.path, d, "*.parquet"))
            if os.path.getsize(f) > 0
        ]

    fat_files = files_in("part_date=2024-01-15")
    assert len(fat_files) >= 2  # parallel split actually happened
    # every file bounded near the target (2x slack: encoded row-size
    # variance vs the table-wide mean the cap derives from)
    assert all(os.path.getsize(f) <= 2 * target for f in fat_files)
    assert len(files_in("part_date=2024-01-16")) == 1
    assert sorted(tuple(r) for r in sink.read(spark).collect()) == before


def test_compact_scoped_to_partitions(spark, tmp_path):
    """only_partitions rewrites exactly the named dirs: the other
    partitions keep their physical files byte-for-byte (the staging
    holds only the scoped dirs, and the swap installs only what is
    staged)."""
    import glob as _glob

    sink = _evo_sink(tmp_path)
    d1, d2 = dt.datetime(2024, 1, 15, 10, 0), dt.datetime(2024, 1, 16, 11, 0)
    rows = [(f"a{i}", d1, i) for i in range(50)] + [(f"b{i}", d2, i) for i in range(50)]
    sink.write_batch(
        spark.createDataFrame(rows, "k string, window_start timestamp, total bigint"), 0
    )
    untouched_before = sorted(
        os.listdir(os.path.join(sink.path, "part_date=2024-01-16"))
    )
    before = sorted(tuple(r) for r in sink.read(spark).collect())
    sink.compact(spark, files_per_partition=1, only_partitions=["part_date=2024-01-15"])
    files_d1 = [
        f
        for f in _glob.glob(os.path.join(sink.path, "part_date=2024-01-15", "*.parquet"))
        if os.path.getsize(f) > 0
    ]
    assert len(files_d1) == 1
    assert (
        sorted(os.listdir(os.path.join(sink.path, "part_date=2024-01-16")))
        == untouched_before
    )
    assert sorted(tuple(r) for r in sink.read(spark).collect()) == before


def test_auto_compact_bounds_touched_partition_files(spark, tmp_path):
    """auto_compact_files keeps every touched partition at or under
    the file bound across a stream of merges — the amortized
    auto-optimize path — without altering content."""
    from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (
        ParquetUpsertSink,
    )

    sink = ParquetUpsertSink(
        str(tmp_path / "t"), key_cols=("k", "window_start"), auto_compact_files=3
    )
    d = dt.datetime(2024, 1, 15, 10, 0)
    for epoch in range(5):
        batch = spark.createDataFrame(
            [(f"k{epoch}_{i}", d, epoch * 100 + i) for i in range(8)],
            "k string, window_start timestamp, total bigint",
        )
        sink.write_batch(batch, epoch)
        pdir = os.path.join(sink.path, "part_date=2024-01-15")
        n = sum(
            1
            for f in os.listdir(pdir)
            if f.endswith(".parquet") and os.path.getsize(os.path.join(pdir, f)) > 0
        )
        assert n <= 3, f"epoch {epoch}: {n} files"
    assert sink.read(spark).count() == 40


def test_delete_after_schema_evolution(spark, tmp_path):
    """Interplay: deleting keys from an evolved table reads survivors
    under the authoritative schema (pre-evolution partitions NULL-fill
    the added column through the rewrite), and the typed feed across
    the delete carries the evolved column."""
    sink = _evo_sink(tmp_path, schema_evolution=True)
    d1, d2, v1, v2 = _evo_batches(spark)
    sink.write_batch(v1, 0)
    sink.write_batch(v2, 1)  # evolves: adds fare_cents
    # delete 'a' — it lives in a PRE-evolution partition (d1)
    sink.delete_keys(
        spark.createDataFrame([("a", d1)], "k string, window_start timestamp"), 2
    )
    live = {r["k"]: (r["total"], r["fare_cents"]) for r in sink.read(spark).collect()}
    assert live == {"b": (25, 777), "c": (30, 888)}
    typed = [
        (r["change_type"], r["k"], r["fare_cents"])
        for r in sink.read_changes_typed(spark, 1, 2).collect()
    ]
    assert typed == [("delete", "a", None)]
    # and upserting into the surviving evolved table still works
    sink.write_batch(
        spark.createDataFrame(
            [("d", d1, 5, 111)],
            "k string, window_start timestamp, total bigint, fare_cents bigint",
        ),
        3,
    )
    live = {r["k"]: r["fare_cents"] for r in sink.read(spark).collect()}
    assert live == {"b": 777, "c": 888, "d": 111}


def test_writer_lock_blocks_live_second_writer_breaks_stale(spark, tmp_path):
    """Single-writer guard: a lock held by a LIVE process makes a
    second writer raise loudly; a dead holder's stale lock is broken
    automatically; auto-compaction re-enters its own lock without
    deadlocking (exercised by the auto_compact test's merge->compact
    path)."""
    from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (
        ConcurrentWriterError,
        ParquetUpsertSink,
    )

    sink = ParquetUpsertSink(str(tmp_path / "t"), key_cols=("k", "window_start"))
    d = dt.datetime(2024, 1, 15, 10, 0)
    batch = spark.createDataFrame(
        [("a", d, 1)], "k string, window_start timestamp, total bigint"
    )
    # live second writer: pid 1 always exists
    with open(sink._lock_file(), "w") as fh:
        fh.write("1")
    with pytest.raises(ConcurrentWriterError, match="single-writer"):
        sink.write_batch(batch, 0)
    # stale lock: dead pid — broken and proceeds
    with open(sink._lock_file(), "w") as fh:
        fh.write("999999999")
    sink.write_batch(batch, 0)
    assert sink.read(spark).count() == 1
    assert not os.path.exists(sink._lock_file())  # released


def test_null_partition_merge_and_delete(spark, tmp_path):
    """NULL partition values (hive default dir): a merge into the NULL
    partition keeps its pre-existing keys (plain isin would NULL-drop
    the keep side), and deleting one NULL-partition key removes only
    that key — never the whole hive-default partition."""
    sink = _evo_sink(tmp_path)
    d2 = dt.datetime(2024, 1, 16, 11, 0)
    rows = [("a", None, 10), ("b", None, 20), ("c", d2, 30)]
    sink.write_batch(
        spark.createDataFrame(rows, "k string, window_start timestamp, total bigint"),
        0,
    )
    # merge touching the NULL partition must keep 'b'
    sink.write_batch(
        spark.createDataFrame(
            [("a", None, 11)], "k string, window_start timestamp, total bigint"
        ),
        1,
    )
    live = {r["k"]: r["total"] for r in sink.read(spark).collect()}
    assert live == {"a": 11, "b": 20, "c": 30}
    # delete ONE null-partition key: the other survives
    sink.delete_keys(
        spark.createDataFrame([("a", None)], "k string, window_start timestamp"), 2
    )
    live = {r["k"]: r["total"] for r in sink.read(spark).collect()}
    assert live == {"b": 20, "c": 30}
    assert os.path.isdir(
        os.path.join(sink.path, "part_date=__HIVE_DEFAULT_PARTITION__")
    )


def _backdate_commit(sink, epoch: int, age_s: float) -> None:
    """Rewrite the RECORDED commit time inside a manifest (the clock
    retention ages against since r8 — file mtime is refreshed by
    idempotent replays and must not matter)."""
    import json as _json
    import time as _time

    mpath = sink._manifest_path(epoch)
    with open(mpath) as fh:
        data = _json.load(fh)
    data["committed_at"] = _time.time() - age_s
    with open(mpath, "w") as fh:
        _json.dump(data, fh)


def test_vacuum_time_based_retention(spark, tmp_path):
    """vacuum(max_age_s) expires snapshots whose RECORDED commit time
    (in-manifest, r8 — not file mtime, which replays refresh) is older
    than the age bound, while always retaining the newest version;
    read_at below the horizon raises, at/above it still serves."""
    sink = _evo_sink(tmp_path)
    d = dt.datetime(2024, 1, 15, 10, 0)
    for epoch in range(3):
        sink.write_batch(
            spark.createDataFrame(
                [(f"k{epoch}", d, epoch)],
                "k string, window_start timestamp, total bigint",
            ),
            epoch,
        )
    assert sink.snapshots() == [0, 1, 2]
    # age epochs 0 and 1 artificially past the horizon; their FILE
    # mtimes stay fresh — retention must ignore that
    for e in (0, 1):
        _backdate_commit(sink, e, 3600)
    sink.vacuum(max_age_s=600)
    assert sink.snapshots() == [2]
    with pytest.raises(ValueError, match="retention horizon"):
        sink.read_at(spark, 1)
    assert sink.read_at(spark, 2).count() == 3
    # the newest survives even when itself past the age bound
    _backdate_commit(sink, 2, 3600)
    sink.vacuum(max_age_s=600)
    assert sink.snapshots() == [2]


# -- partition-spec evolution (sinks.py: evolve_partitioning) ---------------


def test_partition_evolution_merge_across_specs(spark, tmp_path):
    """After evolve_partitioning('month'), new writes land in monthly
    partitions while old daily partitions stay put; a merge that
    overwrites a pre-evolution key claims its old daily partition too
    (the key's old copy must not survive), and a daily partition whose
    every key was overwritten is dropped. A FRESH sink instance (a
    restarted writer with constructor defaults) reads the evolved
    spec from the sidecar."""
    from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (
        ParquetUpsertSink,
    )

    path = str(tmp_path / "t")
    sink = ParquetUpsertSink(path, key_cols=("k", "window_start"))
    d1 = dt.datetime(2024, 1, 15, 10, 0)
    d2 = dt.datetime(2024, 1, 16, 11, 0)
    sink.write_batch(
        spark.createDataFrame(
            [("a", d1, 10), ("b", d2, 20)],
            "k string, window_start timestamp, total bigint",
        ),
        0,
    )
    sink.evolve_partitioning("month")

    restarted = ParquetUpsertSink(path, key_cols=("k", "window_start"))
    restarted.write_batch(
        spark.createDataFrame(
            [("a", d1, 11), ("c", d2, 30)],
            "k string, window_start timestamp, total bigint",
        ),
        1,
    )
    live = {r["k"]: r["total"] for r in restarted.read(spark).collect()}
    assert live == {"a": 11, "b": 20, "c": 30}
    dirs = sorted(d for d in os.listdir(path) if d.startswith("part_date="))
    # 'a' moved to the monthly partition; its daily dir (2024-01-15,
    # fully overwritten) is gone; b's daily dir survives untouched
    assert dirs == ["part_date=2024-01-01", "part_date=2024-01-16"]
    monthly = spark.read.parquet(os.path.join(path, "part_date=2024-01-01"))
    assert sorted(r["k"] for r in monthly.collect()) == ["a", "c"]


def test_partition_evolution_delete_across_specs(spark, tmp_path):
    """delete_keys after an evolution prunes under every historical
    spec: a key stored pre-evolution (daily dir) is found and removed
    even though the current spec would look in the monthly dir."""
    sink = _evo_sink(tmp_path)
    d1 = dt.datetime(2024, 1, 15, 10, 0)
    d2 = dt.datetime(2024, 1, 16, 11, 0)
    sink.write_batch(
        spark.createDataFrame(
            [("a", d1, 10), ("b", d2, 20)],
            "k string, window_start timestamp, total bigint",
        ),
        0,
    )
    sink.evolve_partitioning("month")
    sink.delete_keys(
        spark.createDataFrame([("a", d1)], "k string, window_start timestamp"), 1
    )
    assert [r["k"] for r in sink.read(spark).collect()] == ["b"]
    typed = [
        (r["change_type"], r["k"])
        for r in sink.read_changes_typed(spark, 0, 1).collect()
    ]
    assert typed == [("delete", "a")]


def _crash_mid_swap(monkeypatch):
    """Make every sink crash in its install right after a staged dir's
    target was removed, before the staged copy is linked in."""

    def crash(src, dst):
        raise RuntimeError("crash mid-swap")

    monkeypatch.setattr(ParquetUpsertSink, "_copytree_link", staticmethod(crash))


def _crash_before_record(monkeypatch, sink):
    """Make ``sink`` crash where a staging's commit record would
    publish: the staged data is complete, the record never lands."""
    publish = sink._atomic_json_write

    def crash(path, obj):
        if path == sink._record_file():
            raise RuntimeError("crash before the record")
        publish(path, obj)

    monkeypatch.setattr(sink, "_atomic_json_write", crash)


def test_partition_migration_homogenizes_layout(spark, tmp_path, monkeypatch):
    """migrate_partitions rewrites history into the current spec:
    all-monthly directories afterwards, content identical, and an
    INCOMPLETE migration staging (no commit record — the crash window
    before publish) is discarded on the next entry rather than
    half-applied (a half-applied migration would delete old-spec dirs
    without installing their replacements)."""
    from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (
        ParquetUpsertSink,
    )

    path = str(tmp_path / "t")
    sink = ParquetUpsertSink(path, key_cols=("k", "window_start"))
    d1 = dt.datetime(2024, 1, 15, 10, 0)
    d2 = dt.datetime(2024, 2, 16, 11, 0)
    sink.write_batch(
        spark.createDataFrame(
            [("a", d1, 10), ("b", d2, 20)],
            "k string, window_start timestamp, total bigint",
        ),
        0,
    )
    before = sorted(tuple(r) for r in sink.read(spark).collect())
    sink.evolve_partitioning("month")

    # crash the real migration in that window: its rewrite is staged,
    # its record never published — the staging must be discarded,
    # table untouched
    _crash_before_record(monkeypatch, sink)
    with pytest.raises(RuntimeError, match="before the record"):
        sink.migrate_partitions(spark)
    monkeypatch.undo()
    assert "part_date=2024-01-01" in os.listdir(sink.merged_path)
    assert sink._staged_record() is None
    assert sorted(tuple(r) for r in sink.read(spark).collect()) == before
    assert not os.path.isdir(sink.merged_path)
    assert sink._transforms() == ["day", "month"]

    sink.migrate_partitions(spark)
    dirs = sorted(d for d in os.listdir(path) if d.startswith("part_date="))
    assert dirs == ["part_date=2024-01-01", "part_date=2024-02-01"]
    assert sorted(tuple(r) for r in sink.read(spark).collect()) == before
    # and a post-migration merge behaves normally under the new spec
    sink.write_batch(
        spark.createDataFrame(
            [("a", d1, 99)], "k string, window_start timestamp, total bigint"
        ),
        1,
    )
    live = {r["k"]: r["total"] for r in sink.read(spark).collect()}
    assert live == {"a": 99, "b": 20}


def test_partition_migration_rewrites_newest_snapshot(spark, tmp_path):
    """migrate_partitions on a snapshot-enabled sink rewrites the
    NEWEST version's manifest to the post-migration layout (marker-
    healed, so a crash between the layout swap and the manifest
    rewrite is repaired at the next entry): time travel at the newest
    version must NOT double-count migrated rows against stale
    old-spec pointers, earlier versions still serve their original
    content, and the next epoch's manifest inherits the clean
    baseline."""
    sink = _evo_sink(tmp_path)
    d1 = dt.datetime(2024, 1, 15, 10, 0)
    d2 = dt.datetime(2024, 1, 16, 11, 0)
    sink.write_batch(
        spark.createDataFrame(
            [("a", d1, 10), ("b", d2, 20)],
            "k string, window_start timestamp, total bigint",
        ),
        0,
    )
    sink.evolve_partitioning("month")
    sink.migrate_partitions(spark)
    # newest version reads the migrated layout exactly once per key
    at0 = sorted((r["k"], r["total"]) for r in sink.read_at(spark, 0).collect())
    assert at0 == [("a", 10), ("b", 20)]
    # next epoch inherits the clean baseline: touch one key, read back
    sink.write_batch(
        spark.createDataFrame(
            [("a", d1, 11)], "k string, window_start timestamp, total bigint"
        ),
        1,
    )
    at1 = sorted((r["k"], r["total"]) for r in sink.read_at(spark, 1).collect())
    assert at1 == [("a", 11), ("b", 20)]
    typed = [
        (r["change_type"], r["k"], r["total"])
        for r in sink.read_changes_typed(spark, 0, 1).collect()
    ]
    assert typed == [("upsert", "a", 11)]
    # spec history collapsed back to the single-spec hot path
    assert sink._transforms() == ["month"]


def test_maintenance_rewrites_add_no_version_and_keep_live_set(spark, tmp_path):
    """compact and optimize are content-identical rewrites: they add no
    version, leave every manifest as it was and never change the set
    of live dirs — a partition whose rows deletion vectors all hide
    stays. migrate_partitions adds no version either (a minted one
    would collide with the stream's next epoch id): it re-publishes
    the newest version over EXACTLY the live layout, so each key reads
    once there and the partition that version's delete dropped is not
    inherited back from the version before it."""
    sink = _evo_sink(tmp_path)
    d1 = dt.datetime(2024, 1, 15, 10, 0)
    d2 = dt.datetime(2024, 1, 16, 11, 0)
    d3 = dt.datetime(2024, 2, 16, 9, 0)
    keys = "k string, window_start timestamp"
    sink.write_batch(
        spark.createDataFrame(
            [("a", d1, 1), ("b", d2, 2), ("c", d3, 3)],
            "k string, window_start timestamp, total bigint",
        ),
        0,
    )
    sink.delete_keys(
        spark.createDataFrame([("c", d3)], keys), 1, mode="merge_on_read"
    )
    sink.delete_keys(spark.createDataFrame([("b", d2)], keys), 2)
    # 2024-02-16 holds only DV-hidden rows
    live = ["part_date=2024-01-15", "part_date=2024-02-16"]
    assert sink._part_dirs() == live
    manifests = {e: sink._manifest(e) for e in sink.snapshots()}
    sink.compact(spark, files_per_partition=1)
    sink.optimize(spark, files_per_partition=1, max_retries=0)
    assert sink._part_dirs() == live
    assert {e: sink._manifest(e) for e in sink.snapshots()} == manifests
    assert [r["k"] for r in sink.read(spark).collect()] == ["a"]

    sink.evolve_partitioning("month")
    sink.migrate_partitions(spark)
    assert sink.snapshots() == [0, 1, 2]
    assert sink._part_dirs() == ["part_date=2024-01-01"]
    assert sorted(sink._load_manifest(2)) == sink._part_dirs()
    assert [r["k"] for r in sink.read_at(spark, 2).collect()] == ["a"]
    assert sorted(r["k"] for r in sink.read_at(spark, 1).collect()) == ["a", "b"]
    assert sorted(r["k"] for r in sink.read_at(spark, 0).collect()) == [
        "a",
        "b",
        "c",
    ]


def test_read_merge_read_loop_serves_fresh_listing(spark, tmp_path):
    """The r7 red: Spark's session-shared FileStatusCache has no TTL,
    so after the sink's filesystem-swap commit deletes target files in
    place, a fresh read planned in the SAME long-lived session would
    be scheduled against the stale listing and die with
    FAILED_READ_FILE.FILE_NOT_EXIST. The sink must invalidate the
    listing itself (refreshByPath in _commit/_read_table) — this loop
    is exactly what an incremental upsert driver runs all day:
    read -> merge -> read -> merge -> read, collecting each fresh
    read after the commit that rewrote its files."""
    sink = _evo_sink(tmp_path)
    d1 = dt.datetime(2024, 1, 15, 10, 0)
    schema = "k string, window_start timestamp, total bigint"
    sink.write_batch(spark.createDataFrame([("a", d1, 1), ("b", d1, 2)], schema), 0)
    for epoch in (1, 2, 3):
        # the read here populates the session listing cache; the merge
        # then rewrites (swap-deletes) the partition's files in place
        assert sink.read(spark).count() == 2
        sink.write_batch(
            spark.createDataFrame([("a", d1, epoch * 10)], schema), epoch
        )
        after = {(r["k"], r["total"]) for r in sink.read(spark).collect()}
        assert after == {("a", epoch * 10), ("b", 2)}
    # compaction is the most destructive rewrite (every file replaced)
    sink.compact(spark, files_per_partition=1)
    assert {(r["k"], r["total"]) for r in sink.read(spark).collect()} == {
        ("a", 30),
        ("b", 2),
    }


def test_writer_lock_rejects_second_thread_same_process(spark, tmp_path):
    """The single-writer guard must catch the likeliest accidental
    second writer: another THREAD of the same process (two streaming
    queries in one driver, each foreachBatch on its own thread). The
    old path-only _HELD_LOCKS set treated it as re-entrant — the two
    writers interleaved and the first's exit deleted the lock from
    under the second."""
    import threading

    from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (
        ConcurrentWriterError,
    )

    sink = _evo_sink(tmp_path)
    d1 = dt.datetime(2024, 1, 15, 10, 0)
    schema = "k string, window_start timestamp, total bigint"
    batch = spark.createDataFrame([("a", d1, 1)], schema)
    errors: list[BaseException] = []

    with sink._writer_lock():
        def second_writer():
            try:
                sink.write_batch(batch, 0)
            except BaseException as exc:  # noqa: BLE001 - recorded for assert
                errors.append(exc)

        t = threading.Thread(target=second_writer)
        t.start()
        t.join()
    assert len(errors) == 1 and isinstance(errors[0], ConcurrentWriterError)
    # lock released correctly by the owning frame: writes proceed
    sink.write_batch(batch, 0)
    assert sink.read(spark).count() == 1


def test_read_at_full_erasure_returns_empty_table(spark, tmp_path):
    """A delete_keys commit that empties EVERY partition (full GDPR
    erasure) publishes an empty manifest; read_at of that version is
    the EMPTY table under the version's schema — not a zero-path
    spark.read crash. The typed change feed across the erasure
    reports every old row as a delete."""
    sink = _evo_sink(tmp_path)
    d1 = dt.datetime(2024, 1, 15, 10, 0)
    schema = "k string, window_start timestamp, total bigint"
    sink.write_batch(spark.createDataFrame([("a", d1, 1), ("b", d1, 2)], schema), 0)
    sink.delete_keys(
        spark.createDataFrame([("a", d1), ("b", d1)], "k string, window_start timestamp"),
        1,
    )
    erased = sink.read_at(spark, 1)
    assert erased.count() == 0
    assert [f.name for f in erased.schema.fields] == [
        "k",
        "window_start",
        "total",
    ]
    typed = sorted(
        (r["change_type"], r["k"]) for r in sink.read_changes_typed(spark, 0, 1).collect()
    )
    assert typed == [("delete", "a"), ("delete", "b")]


def test_vacuum_ages_by_first_publish_not_mtime(spark, tmp_path):
    """Time-based retention must age a snapshot from its FIRST
    publish, recorded inside the manifest — not the manifest file's
    mtime, which idempotent epoch replays and migration heals refresh
    with identical content (silently extending retention)."""
    import json as _json
    import time as _time

    sink = _evo_sink(tmp_path)
    d1 = dt.datetime(2024, 1, 15, 10, 0)
    schema = "k string, window_start timestamp, total bigint"
    sink.write_batch(spark.createDataFrame([("a", d1, 1)], schema), 0)
    sink.write_batch(spark.createDataFrame([("a", d1, 2)], schema), 1)
    # backdate epoch 0's recorded commit time, then freshen the FILE
    # mtime (what a replay's rewrite does to the file)
    mpath = sink._manifest_path(0)
    with open(mpath) as fh:
        data = _json.load(fh)
    data["committed_at"] = _time.time() - 3600
    with open(mpath, "w") as fh:
        _json.dump(data, fh)
    os.utime(mpath, None)  # mtime = now; recorded commit time = -1h
    # an idempotent replay of epoch 1 rewrites ITS manifest — the
    # recorded commit time must survive the rewrite
    before = sink._manifest_committed_at(1)
    sink.write_batch(spark.createDataFrame([("a", d1, 2)], schema), 1)
    assert sink._manifest_committed_at(1) == before
    sink.vacuum(max_age_s=600)
    assert sink.snapshots() == [1]  # epoch 0 expired despite fresh mtime


def test_staging_without_record_is_discarded_and_restaged(
    spark, tmp_path, monkeypatch
):
    """A commit that crashed after writing its staging but before its
    commit record published must read as 'staging incomplete': the
    next entry discards it and the replayed epoch restages — the
    unrecorded debris never installs and never wedges recovery."""
    sink = _evo_sink(tmp_path)
    d1 = dt.datetime(2024, 1, 15, 10, 0)
    schema = "k string, window_start timestamp, total bigint"
    sink.write_batch(spark.createDataFrame([("a", d1, 1)], schema), 0)
    _crash_before_record(monkeypatch, sink)
    with pytest.raises(RuntimeError, match="before the record"):
        sink.write_batch(spark.createDataFrame([("a", d1, 5)], schema), 1)
    monkeypatch.undo()
    assert sink._part_dirs(sink.merged_path) == ["part_date=2024-01-15"]
    assert sink._staged_record() is None
    assert sink.snapshots() == [0]
    # and the replayed epoch proceeds normally over the debris
    sink.write_batch(spark.createDataFrame([("a", d1, 5)], schema), 1)
    assert {(r["k"], r["total"]) for r in sink.read(spark).collect()} == {("a", 5)}
    assert sink.snapshots() == [0, 1]
    assert not os.path.isdir(sink.merged_path)


def test_read_at_timestamp_resolves_by_recorded_commit_time(spark, tmp_path):
    """TIMESTAMP AS OF: resolution runs on the commit time recorded
    inside each manifest at first publish — probes between commits
    return the earlier version, probes at/after the last return the
    live table, probes before the first raise, and an idempotent
    replay's manifest rewrite must not move a version forward in
    time."""
    import time as _time

    sink = _evo_sink(tmp_path)
    d1 = dt.datetime(2024, 1, 15, 10, 0)
    schema = "k string, window_start timestamp, total bigint"
    sink.write_batch(spark.createDataFrame([("a", d1, 1)], schema), 0)
    _time.sleep(0.05)  # guarantee distinct float commit stamps
    sink.write_batch(spark.createDataFrame([("a", d1, 2)], schema), 1)
    t0, t1 = (sink._manifest_committed_at(e) for e in (0, 1))
    assert t0 < t1
    mid = t0 + (t1 - t0) / 2
    assert [r["total"] for r in sink.read_at_timestamp(spark, mid).collect()] == [1]
    assert [r["total"] for r in sink.read_at_timestamp(spark, t1).collect()] == [2]
    with pytest.raises(ValueError, match="no retained snapshot"):
        sink.read_at_timestamp(spark, t0 - 1.0)
    # replayed epoch 1 rewrites its manifest; the mid-probe must still
    # resolve epoch 0 (commit time preserved, not refreshed)
    sink.write_batch(spark.createDataFrame([("a", d1, 2)], schema), 1)
    assert [r["total"] for r in sink.read_at_timestamp(spark, mid).collect()] == [1]


def test_restore_version_rolls_back_live_table_preserving_history(spark, tmp_path):
    """RESTORE VERSION AS OF: the live table becomes the target
    version's content as a NEW commit; every prior version still
    reads; the restore epoch's manifest reuses the source version's
    immutable copies; and writes continue normally after."""
    sink = _evo_sink(tmp_path)
    d1 = dt.datetime(2024, 1, 15, 10, 0)
    d2 = dt.datetime(2024, 1, 16, 11, 0)
    schema = "k string, window_start timestamp, total bigint"
    sink.write_batch(spark.createDataFrame([("a", d1, 1)], schema), 0)
    sink.write_batch(
        spark.createDataFrame([("a", d1, 2), ("b", d2, 5)], schema), 1
    )
    new_epoch = sink.restore(spark, 0)
    assert new_epoch == 2
    assert sink.snapshots() == [0, 1, 2]
    assert {(r["k"], r["total"]) for r in sink.read(spark).collect()} == {("a", 1)}
    # history preserved: the pre-restore newest still serves in full
    assert {
        (r["k"], r["total"]) for r in sink.read_at(spark, 1).collect()
    } == {("a", 2), ("b", 5)}
    assert {
        (r["k"], r["total"]) for r in sink.read_at(spark, 2).collect()
    } == {("a", 1)}
    # life goes on: a post-restore merge commits against restored state
    sink.write_batch(spark.createDataFrame([("c", d2, 9)], schema), 3)
    assert {(r["k"], r["total"]) for r in sink.read(spark).collect()} == {
        ("a", 1),
        ("c", 9),
    }
    assert {
        (r["k"], r["total"]) for r in sink.read_at(spark, 3).collect()
    } == {("a", 1), ("c", 9)}


def test_restore_across_schema_evolution_restores_schema(spark, tmp_path):
    """Restoring a pre-evolution version also restores the
    authoritative table schema (Delta semantics): the evolved column
    disappears from live reads, and the restored version's sidecar
    governs time travel."""
    sink = _evo_sink(tmp_path, schema_evolution=True)
    d1, d2, v1, v2 = _evo_batches(spark)
    sink.write_batch(v1, 0)
    sink.write_batch(v2, 1)  # adds fare_cents
    assert "fare_cents" in sink.read(spark).columns
    sink.restore(spark, 0)
    out = sink.read(spark)
    assert "fare_cents" not in out.columns
    assert {(r["k"], r["total"]) for r in out.collect()} == {("a", 10), ("b", 20)}


def test_restore_crash_windows_recover(spark, tmp_path, monkeypatch):
    """The two restore-specific crash windows, hit by crashing the real
    restore: (a) staging complete (its commit record published) but
    the install unfinished — ANY next entry point, a plain read
    included, completes the restore including its manifest publish;
    (b) staging incomplete (no record) — discarded, the restore never
    happened."""
    sink = _evo_sink(tmp_path)
    d1 = dt.datetime(2024, 1, 15, 10, 0)
    schema = "k string, window_start timestamp, total bigint"
    sink.write_batch(spark.createDataFrame([("a", d1, 1)], schema), 0)
    sink.write_batch(spark.createDataFrame([("a", d1, 2)], schema), 1)

    # (a) crash after the record publishes, before the install
    install = ParquetUpsertSink._finish_pending_epoch

    def crash_before_install(self, spark_):
        if self._staged_record() is not None:
            raise RuntimeError("crash before the install")
        return install(self, spark_)

    monkeypatch.setattr(
        ParquetUpsertSink, "_finish_pending_epoch", crash_before_install
    )
    with pytest.raises(RuntimeError, match="before the install"):
        sink.restore(spark, 0)
    monkeypatch.undo()
    assert sink._staged_record()["epoch"] == 2
    assert sink.snapshots() == [0, 1]
    # next entry point = a plain read: must finish the restore
    assert {(r["k"], r["total"]) for r in sink.read(spark).collect()} == {("a", 1)}
    assert sink.snapshots() == [0, 1, 2]
    assert sink._manifest_op(2) == "restore"
    assert not os.path.isdir(sink.merged_path)

    # (b) crash before the record: the staging is discarded
    _crash_before_record(monkeypatch, sink)
    with pytest.raises(RuntimeError, match="before the record"):
        sink.restore(spark, 1)
    monkeypatch.undo()
    assert os.path.isdir(sink.merged_path)
    assert {(r["k"], r["total"]) for r in sink.read(spark).collect()} == {("a", 1)}
    assert not os.path.isdir(sink.merged_path)
    assert sink.snapshots() == [0, 1, 2]


def test_describe_history_records_operation_types(spark, tmp_path):
    """Each committed version records its operation at publish —
    merge, delete, restore — preserved across an idempotent epoch
    replay (the manifest rewrite must not reset op or commit time),
    with partition counts matching the manifests."""
    sink = _evo_sink(tmp_path)
    d1 = dt.datetime(2024, 1, 15, 10, 0)
    d2 = dt.datetime(2024, 1, 16, 11, 0)
    schema = "k string, window_start timestamp, total bigint"
    sink.write_batch(
        spark.createDataFrame([("a", d1, 1), ("b", d2, 2)], schema), 0
    )
    sink.delete_keys(
        spark.createDataFrame([("a", d1)], "k string, window_start timestamp"), 1
    )
    sink.restore(spark, 0)
    hist = {
        r["epoch"]: (r["op"], r["n_partitions"])
        for r in sink.describe_history(spark).collect()
    }
    assert hist == {0: ("merge", 2), 1: ("delete", 1), 2: ("restore", 2)}
    # replayed delete epoch keeps its recorded op
    sink.write_batch(
        spark.createDataFrame([("c", d2, 3)], schema), 3
    )
    assert sink._manifest_op(1) == "delete"
    assert sink._manifest_op(3) == "merge"


def test_shallow_clone_is_zero_copy_and_independent(spark, tmp_path):
    """SHALLOW CLONE: the clone shares the source's data files by
    hardlink (st_nlink > 1 — zero bytes copied), yet writes to either
    side never leak to the other (every mutation replaces whole
    files, so unlinking one side's copy is copy-on-write). Sidecars
    (schema, partition specs) carry over; the clone's snapshot log is
    fresh and independent."""
    sink = _evo_sink(tmp_path)
    d1 = dt.datetime(2024, 1, 15, 10, 0)
    d2 = dt.datetime(2024, 1, 16, 11, 0)
    schema = "k string, window_start timestamp, total bigint"
    sink.write_batch(
        spark.createDataFrame([("a", d1, 1), ("b", d2, 2)], schema), 0
    )
    clone = sink.clone(
        spark, str(tmp_path / "c"), snapshot_dir=str(tmp_path / "csnap")
    )
    # zero-copy: every cloned parquet file is a second link to the
    # source inode
    linked = [
        os.stat(os.path.join(r, f)).st_nlink
        for r, _, fs in os.walk(clone.path)
        for f in fs
        if f.endswith(".parquet") and os.path.getsize(os.path.join(r, f)) > 0
    ]
    assert linked and all(n > 1 for n in linked)
    assert {(r["k"], r["total"]) for r in clone.read(spark).collect()} == {
        ("a", 1),
        ("b", 2),
    }
    # diverge the clone: source untouched
    clone.delete_keys(
        spark.createDataFrame([("a", d1)], "k string, window_start timestamp"), 0
    )
    assert {(r["k"], r["total"]) for r in clone.read(spark).collect()} == {("b", 2)}
    assert {(r["k"], r["total"]) for r in sink.read(spark).collect()} == {
        ("a", 1),
        ("b", 2),
    }
    # diverge the source: clone untouched
    sink.write_batch(spark.createDataFrame([("b", d2, 9)], schema), 1)
    assert {(r["k"], r["total"]) for r in sink.read(spark).collect()} == {
        ("a", 1),
        ("b", 9),
    }
    assert {(r["k"], r["total"]) for r in clone.read(spark).collect()} == {("b", 2)}
    # independent logs
    assert sink.snapshots() == [0, 1] and clone.snapshots() == [0]


# -- deletion vectors (merge-on-read delete tier, r9) ----------------------


def _dv_seed(spark, sink):
    d1, d2 = dt.datetime(2024, 1, 15, 10, 0), dt.datetime(2024, 1, 16, 11, 0)
    sink.write_batch(
        spark.createDataFrame(
            [("a", d1, 10), ("b", d1, 20), ("c", d2, 30), ("d", d2, 40)],
            "k string, window_start timestamp, total bigint",
        ),
        0,
    )
    return d1, d2


def test_dv_delete_hides_rows_without_rewriting_files(spark, tmp_path):
    """merge_on_read publishes a _dv.json sidecar and leaves every data
    file byte-identical; reads apply the vector; time travel to the
    pre-delete version still sees the rows; the typed feed reports
    them as deletes."""
    sink = _evo_sink(tmp_path)
    d1, _ = _dv_seed(spark, sink)
    pdir = os.path.join(sink.path, "part_date=2024-01-15")
    inv_before = sorted(
        (f, os.path.getsize(os.path.join(pdir, f)), os.stat(os.path.join(pdir, f)).st_ino)
        for f in os.listdir(pdir)
        if f.endswith(".parquet")
    )
    sink.delete_keys(
        spark.createDataFrame([("a", d1)], "k string, window_start timestamp"),
        1,
        mode="merge_on_read",
    )
    inv_after = sorted(
        (f, os.path.getsize(os.path.join(pdir, f)), os.stat(os.path.join(pdir, f)).st_ino)
        for f in os.listdir(pdir)
        if f.endswith(".parquet")
    )
    assert inv_before == inv_after  # zero rewrite — names, sizes, inodes
    assert os.path.exists(os.path.join(pdir, "_dv.json"))
    assert sorted(r["k"] for r in sink.read(spark).collect()) == ["b", "c", "d"]
    assert sorted(r["k"] for r in sink.read_at(spark, 0).collect()) == [
        "a", "b", "c", "d",
    ]
    assert sorted(r["k"] for r in sink.read_at(spark, 1).collect()) == [
        "b", "c", "d",
    ]
    typed = [
        (r["change_type"], r["k"])
        for r in sink.read_changes_typed(spark, 0, 1).collect()
    ]
    assert typed == [("delete", "a")]


def test_dv_delete_is_idempotent_and_accumulates(spark, tmp_path):
    """Replaying the same DV delete is a no-op; a second DV delete on
    the same partition unions into the existing vector; deleting an
    absent key is an empty commit."""
    sink = _evo_sink(tmp_path)
    d1, d2 = _dv_seed(spark, sink)
    k_a = spark.createDataFrame([("a", d1)], "k string, window_start timestamp")
    sink.delete_keys(k_a, 1, mode="merge_on_read")
    sink.delete_keys(k_a, 1, mode="merge_on_read")  # replay
    assert sorted(r["k"] for r in sink.read(spark).collect()) == ["b", "c", "d"]
    sink.delete_keys(
        spark.createDataFrame([("b", d1)], "k string, window_start timestamp"),
        2,
        mode="merge_on_read",
    )
    assert sorted(r["k"] for r in sink.read(spark).collect()) == ["c", "d"]
    # both vectors live in one sidecar
    import json as _json

    with open(os.path.join(sink.path, "part_date=2024-01-15", "_dv.json")) as fh:
        dv = _json.load(fh)
    assert sum(len(v) for v in dv.values()) == 2
    # absent key: empty commit, still a version
    sink.delete_keys(
        spark.createDataFrame([("zz", d2)], "k string, window_start timestamp"),
        3,
        mode="merge_on_read",
    )
    assert sink.snapshots() == [0, 1, 2, 3]


def test_dv_folds_into_merge_and_compaction(spark, tmp_path):
    """A merge touching a DV-bearing partition rewrites survivors and
    drops the vector; compact() folds vectors table-wide; both leave
    results identical."""
    sink = _evo_sink(tmp_path)
    d1, d2 = _dv_seed(spark, sink)
    sink.delete_keys(
        spark.createDataFrame([("a", d1)], "k string, window_start timestamp"),
        1,
        mode="merge_on_read",
    )
    sink.delete_keys(
        spark.createDataFrame([("c", d2)], "k string, window_start timestamp"),
        2,
        mode="merge_on_read",
    )
    # merge into d1's partition: folds that vector only
    sink.write_batch(
        spark.createDataFrame(
            [("b", d1, 99)], "k string, window_start timestamp, total bigint"
        ),
        3,
    )
    assert not os.path.exists(
        os.path.join(sink.path, "part_date=2024-01-15", "_dv.json")
    )
    assert os.path.exists(
        os.path.join(sink.path, "part_date=2024-01-16", "_dv.json")
    )
    assert sorted((r["k"], r["total"]) for r in sink.read(spark).collect()) == [
        ("b", 99), ("d", 40),
    ]
    # compaction folds the rest
    sink.compact(spark)
    assert not os.path.exists(
        os.path.join(sink.path, "part_date=2024-01-16", "_dv.json")
    )
    assert sorted((r["k"], r["total"]) for r in sink.read(spark).collect()) == [
        ("b", 99), ("d", 40),
    ]


def test_dv_crash_before_apply_recovers_at_next_entry(spark, tmp_path):
    """A DV delete that crashes after publishing the pending intent but
    before folding the sidecars completes at the next writer entry
    point, exactly once, with the correct version log."""
    sink = _evo_sink(tmp_path)
    d1, _ = _dv_seed(spark, sink)
    keys = spark.createDataFrame([("a", d1)], "k string, window_start timestamp")

    orig = sink._apply_pending_dv
    sink._apply_pending_dv = lambda *a, **k: (_ for _ in ()).throw(
        RuntimeError("crash")
    )
    with pytest.raises(RuntimeError, match="crash"):
        sink.delete_keys(keys, 1, mode="merge_on_read", )
    sink._apply_pending_dv = orig
    assert os.path.exists(sink._dv_pending_file())
    assert sink.snapshots() == [0]
    # rows still visible (commit never applied)
    assert sorted(r["k"] for r in sink.read(spark).collect()) == [
        "a", "b", "c", "d",
    ]
    # any next write entry finishes the pending commit first
    sink.write_batch(
        spark.createDataFrame(
            [("e", dt.datetime(2024, 1, 17, 9, 0), 50)],
            "k string, window_start timestamp, total bigint",
        ),
        2,
    )
    assert not os.path.exists(sink._dv_pending_file())
    assert sink.snapshots() == [0, 1, 2]
    assert sorted(r["k"] for r in sink.read(spark).collect()) == [
        "b", "c", "d", "e",
    ]
    assert sorted(r["k"] for r in sink.read_at(spark, 1).collect()) == [
        "b", "c", "d",
    ]


def test_dv_then_cow_delete_and_restore_interoperate(spark, tmp_path):
    """Mixed tiers on one table: a DV delete then a copy-on-write
    delete of another key in the same partition folds the vector (the
    COW rewrite materializes DV-filtered survivors); RESTORE to the
    DV-era version reproduces its exact visible rows."""
    sink = _evo_sink(tmp_path)
    d1, _ = _dv_seed(spark, sink)
    sink.delete_keys(
        spark.createDataFrame([("a", d1)], "k string, window_start timestamp"),
        1,
        mode="merge_on_read",
    )
    sink.delete_keys(
        spark.createDataFrame([("b", d1)], "k string, window_start timestamp"),
        2,  # default copy_on_write
    )
    # partition emptied by the pair of deletes: dropped entirely
    assert not os.path.isdir(os.path.join(sink.path, "part_date=2024-01-15"))
    assert sorted(r["k"] for r in sink.read(spark).collect()) == ["c", "d"]
    sink.restore(spark, 1)
    assert sorted(r["k"] for r in sink.read(spark).collect()) == ["b", "c", "d"]


# -- column mapping: rename/drop without data rewrite (r9) ------------------


def test_rename_column_is_metadata_only_and_versioned(spark, tmp_path):
    """RENAME touches no data file; reads serve the new name; time
    travel below the rename serves the old name; merges after the
    rename write through the mapping."""
    sink = _evo_sink(tmp_path, schema_evolution=True)
    d1, d2 = dt.datetime(2024, 1, 15, 10, 0), dt.datetime(2024, 1, 16, 11, 0)
    sink.write_batch(
        spark.createDataFrame(
            [("a", d1, 10), ("b", d2, 20)],
            "k string, window_start timestamp, total bigint",
        ),
        0,
    )
    inv = sorted(
        (r, f, os.path.getsize(os.path.join(r, f)))
        for r, _, fs in os.walk(sink.path)
        for f in fs
        if f.endswith(".parquet")
    )
    sink.rename_column(spark, "total", "amount", 1)
    assert inv == sorted(
        (r, f, os.path.getsize(os.path.join(r, f)))
        for r, _, fs in os.walk(sink.path)
        for f in fs
        if f.endswith(".parquet")
    )
    assert sink.read(spark).columns == ["k", "window_start", "amount"]
    assert sink.read_at(spark, 0).columns == ["k", "window_start", "total"]
    sink.write_batch(
        spark.createDataFrame(
            [("c", d2, 30)], "k string, window_start timestamp, amount bigint"
        ),
        2,
    )
    assert sorted((r["k"], r["amount"]) for r in sink.read(spark).collect()) == [
        ("a", 10), ("b", 20), ("c", 30),
    ]
    # key/partition columns are the addressing contract
    with pytest.raises(ValueError, match="addressing contract"):
        sink.rename_column(spark, "window_start", "ws", 3)


def test_drop_column_then_readd_never_resurrects(spark, tmp_path):
    """DROP leaves the bytes in old files but never scans them; a
    later batch re-adding the same LOGICAL name binds to a fresh
    physical column, so pre-drop values stay NULL instead of
    resurrecting."""
    sink = _evo_sink(tmp_path, schema_evolution=True)
    d1, d2 = dt.datetime(2024, 1, 15, 10, 0), dt.datetime(2024, 1, 16, 11, 0)
    sink.write_batch(
        spark.createDataFrame(
            [("a", d1, 10), ("b", d2, 20)],
            "k string, window_start timestamp, total bigint",
        ),
        0,
    )
    sink.drop_column(spark, "total", 1)
    assert sink.read(spark).columns == ["k", "window_start"]
    # time travel below the drop still reads the column
    assert sorted(
        (r["k"], r["total"]) for r in sink.read_at(spark, 0).collect()
    ) == [("a", 10), ("b", 20)]
    sink.write_batch(
        spark.createDataFrame(
            [("a", d1, 999)], "k string, window_start timestamp, total bigint"
        ),
        2,
    )
    assert sorted(
        (r["k"], r["total"]) for r in sink.read(spark).collect()
    ) == [("a", 999), ("b", None)]
    # the re-added column's physical name is unique (mapping active)
    import json as _json

    with open(os.path.join(sink.path, "_schema.json")) as fh:
        fields = {f["name"]: f.get("metadata") or {} for f in _json.load(fh)["fields"]}
    assert fields["total"].get("physical", "total") != "total"


def test_rename_interoperates_with_delete_compact_restore_clone(spark, tmp_path):
    """The full mutation surface keeps working through the mapping:
    COW delete, DV delete, compaction, restore (old schema returns),
    clone (mapping carries over)."""
    sink = _evo_sink(tmp_path, schema_evolution=True)
    d1, d2 = dt.datetime(2024, 1, 15, 10, 0), dt.datetime(2024, 1, 16, 11, 0)
    sink.write_batch(
        spark.createDataFrame(
            [("a", d1, 10), ("b", d2, 20), ("c", d2, 30)],
            "k string, window_start timestamp, total bigint",
        ),
        0,
    )
    sink.rename_column(spark, "total", "amount", 1)
    sink.delete_keys(
        spark.createDataFrame([("b", d2)], "k string, window_start timestamp"), 2
    )
    sink.delete_keys(
        spark.createDataFrame([("c", d2)], "k string, window_start timestamp"),
        3,
        mode="merge_on_read",
    )
    assert sorted((r["k"], r["amount"]) for r in sink.read(spark).collect()) == [
        ("a", 10),
    ]
    sink.compact(spark)
    assert sorted((r["k"], r["amount"]) for r in sink.read(spark).collect()) == [
        ("a", 10),
    ]
    clone = sink.clone(
        spark, str(tmp_path / "clone"), snapshot_dir=str(tmp_path / "csnap")
    )
    assert clone.read(spark).columns == ["k", "window_start", "amount"]
    sink.restore(spark, 0)
    assert sink.read(spark).columns == ["k", "window_start", "total"]
    assert sorted((r["k"], r["total"]) for r in sink.read(spark).collect()) == [
        ("a", 10), ("b", 20), ("c", 30),
    ]


# -- streaming CDF source (snapshot-log epochs as offsets, r9) --------------


def test_cdf_stream_reader_semantics_and_retention(spark, tmp_path):
    """The stream reader's offset/partition/read contract, tested
    directly (the registry entry runs it through a real
    StreamingQuery): full initial load from the sentinel offset,
    incremental typed diff across merge + DV-delete commits, manifest
    pruning (unchanged partitions produce no input split), and a loud
    failure when the committed offset falls below retention."""
    from real_time_ride_hailing_data_pipeline_spark.sources.cdf_stream import (
        SnapshotCdfStreamReader,
    )

    sink = _evo_sink(tmp_path)
    d1, d2 = dt.datetime(2024, 1, 15, 10, 0), dt.datetime(2024, 1, 16, 11, 0)
    sink.write_batch(
        spark.createDataFrame(
            [("a", d1, 10), ("b", d2, 20)],
            "k string, window_start timestamp, total bigint",
        ),
        0,
    )
    sink.write_batch(
        spark.createDataFrame(
            [("b", d2, 25), ("c", d2, 30)],
            "k string, window_start timestamp, total bigint",
        ),
        1,
    )
    sink.delete_keys(
        spark.createDataFrame([("a", d1)], "k string, window_start timestamp"),
        2,
        mode="merge_on_read",
    )
    reader = SnapshotCdfStreamReader(
        {
            "snapshot_dir": sink.snapshot_dir,
            "columns": "k,window_start,total",
            "key_cols": "k,window_start",
        }
    )
    assert reader.initialOffset() == {"epoch": -1}
    assert reader.latestOffset() == {"epoch": 2}

    def rows(parts):
        # the reader yields Arrow RecordBatches (the Spark 4 Arrow
        # lane — VERDICT r9 item 5); flatten to plain row tuples
        out = []
        for p in parts:
            for b in reader.read(p):
                out.extend(tuple(d.values()) for d in b.to_pylist())
        return sorted(out)

    def drain(lo, hi):
        return rows(reader.partitions({"epoch": lo}, {"epoch": hi}))

    # full load from the sentinel: current state as upserts
    assert [(r[0], r[2], r[3]) for r in drain(-1, 2)] == [
        ("b", 25, "upsert"), ("c", 30, "upsert"),
    ]
    # incremental from v0: b overwritten, c inserted, a DV-deleted
    assert [(r[0], r[2], r[3]) for r in drain(0, 2)] == [
        ("a", 10, "delete"), ("b", 25, "upsert"), ("c", 30, "upsert"),
    ]
    # manifest pruning: between 1 and 2 only the DV'd partition diffs
    parts = reader.partitions({"epoch": 1}, {"epoch": 2})
    assert len(parts) == 1
    assert [(r[0], r[3]) for r in rows(parts)] == [("a", "delete")]
    # identical offsets: nothing
    assert reader.partitions({"epoch": 2}, {"epoch": 2}) == []
    # a vacuumed committed offset must raise, not silently re-emit
    os.remove(os.path.join(sink.snapshot_dir, "manifest", "epoch=0.json"))
    with pytest.raises(ValueError, match="retention"):
        reader.partitions({"epoch": 0}, {"epoch": 2})


# -- multi-table catalog-commit transactions (r9) ---------------------------


def test_multi_table_txn_atomicity_and_replay(spark, tmp_path):
    """A transaction torn between member-table commits is invisible
    through the catalog; replaying the same txn completes it exactly
    once (member sinks are idempotent per epoch); reads at a txn id
    resolve a mutually consistent pair."""
    from real_time_ride_hailing_data_pipeline_spark.streaming.txn import (
        MultiTableTransaction,
    )

    d1 = dt.datetime(2024, 1, 15, 10, 0)
    mk = lambda name: ParquetUpsertSink(
        str(tmp_path / name),
        key_cols=("k", "window_start"),
        snapshot_dir=str(tmp_path / f"{name}_snap"),
    )
    a, b = mk("a"), mk("b")
    txn = MultiTableTransaction(str(tmp_path / "catalog"), {"a": a, "b": b})

    def batch(val):
        return spark.createDataFrame(
            [("x", d1, val)], "k string, window_start timestamp, total bigint"
        )

    txn.commit(0, {"a": batch(1), "b": batch(10)})
    assert txn.commits() == [0]
    # torn txn 1: table a commits, catalog publish never happens
    a.write_batch(batch(2), 1)
    assert [r["total"] for r in txn.read(spark, "a").collect()] == [1]
    assert [r["total"] for r in txn.read(spark, "b").collect()] == [10]
    # the replay completes the transaction: a's epoch-1 is a no-op
    txn.commit(1, {"a": batch(2), "b": batch(20)})
    assert txn.commits() == [0, 1]
    assert [r["total"] for r in txn.read(spark, "a").collect()] == [2]
    assert [r["total"] for r in txn.read(spark, "b").collect()] == [20]
    # historical txn read stays pinned
    assert [r["total"] for r in txn.read(spark, "a", 0).collect()] == [1]
    assert [r["total"] for r in txn.read(spark, "b", 0).collect()] == [10]
    # a subset transaction pins untouched tables at their current version
    txn.commit(2, {"a": batch(3)})
    assert [r["total"] for r in txn.read(spark, "b").collect()] == [20]
    assert [r["total"] for r in txn.read(spark, "a").collect()] == [3]
    # guards
    with pytest.raises(ValueError, match="monotonic"):
        txn.commit(1, {"a": batch(9)})
    with pytest.raises(ValueError, match="unknown table"):
        txn.commit(3, {"zz": batch(9)})


# -- clustered compaction + file-level data skipping (r9) -------------------


def test_sorted_compact_writes_stats_and_read_pruned_skips(spark, tmp_path):
    """compact(sort_by=...) records per-file min/max from the staged
    footers; read_pruned composes only overlapping files, re-applies
    the predicate, and equals the unpruned read; stats drop with the
    partition on a later merge (safe degradation) and survive a
    rename via the physical-name key."""
    sink = _evo_sink(tmp_path)
    rows = [
        (f"k{i}", dt.datetime(2024, 1, 15 + (i % 2), 10, i % 60), i)
        for i in range(400)
    ]
    sink.write_batch(
        spark.createDataFrame(
            rows, "k string, window_start timestamp, total bigint"
        ),
        0,
    )
    sink.compact(spark, files_per_partition=4, sort_by="total")
    assert os.path.exists(
        os.path.join(sink.path, "part_date=2024-01-15", "_stats.json")
    )
    df, sel, tot = sink.read_pruned(spark, "total", lower=390)
    assert sel < tot
    full = sink.read(spark).filter(F.col("total") >= 390)
    assert df.exceptAll(full).count() == 0 and full.exceptAll(df).count() == 0
    # upper-bound pruning too
    df2, sel2, tot2 = sink.read_pruned(spark, "total", upper=5)
    assert sel2 < tot2 and df2.count() == 6
    # a DV delete shrinks the true range but bounds stay valid
    sink.delete_keys(
        spark.createDataFrame(
            [("k399", dt.datetime(2024, 1, 16, 10, 39))],
            "k string, window_start timestamp",
        ),
        1,
        mode="merge_on_read",
    )
    df3, _, _ = sink.read_pruned(spark, "total", lower=390)
    assert df3.count() == df.count() - 1
    # a merge REFRESHES the touched partition's stats from the staged
    # footers (exact bounds survive; clustering quality decays until
    # the next sorted compact): still correct, sidecar still present
    sink.write_batch(
        spark.createDataFrame(
            [("k0", dt.datetime(2024, 1, 15, 10, 0), 9999)],
            "k string, window_start timestamp, total bigint",
        ),
        2,
    )
    assert os.path.exists(
        os.path.join(sink.path, "part_date=2024-01-15", "_stats.json")
    )
    df4, sel4, tot4 = sink.read_pruned(spark, "total", lower=9000)
    assert [r["k"] for r in df4.collect()] == ["k0"]
    # the untouched date's tight post-compact stats still prune
    assert sel4 < tot4
    # rename: stats keyed by the physical name keep working
    sink.rename_column(spark, "total", "amount", 3)
    df5, sel5, tot5 = sink.read_pruned(spark, "amount", upper=5)
    assert sel5 < tot5 and df5.count() == 5  # k0 left the <=5 range


def test_delete_where_predicate_both_tiers(spark, tmp_path):
    """DELETE WHERE sugar: a Column or SQL-string predicate resolves
    to keys DV-aware (an already-hidden row never re-resolves) and
    rides either tier."""
    sink = _evo_sink(tmp_path)
    d1, d2 = _dv_seed(spark, sink)
    sink.delete_where(spark, "total >= 40", 1, mode="merge_on_read")
    assert sorted(r["k"] for r in sink.read(spark).collect()) == ["a", "b", "c"]
    sink.delete_where(spark, F.col("k") == "a", 2)
    assert sorted(r["k"] for r in sink.read(spark).collect()) == ["b", "c"]
    typed = [
        (r["change_type"], r["k"])
        for r in sink.read_changes_typed(spark, 1, 2).collect()
    ]
    assert typed == [("delete", "a")]


def test_check_constraints_gate_and_survive_first_commit(spark, tmp_path):
    """CHECK constraints: pre-first-commit registration survives the
    static-overwrite first batch; adding one validates the existing
    table; a violating batch is refused with the table untouched;
    NULL passes (SQL semantics); drop_constraint reopens the gate."""
    from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (
        ConstraintViolationError,
    )

    sink = _evo_sink(tmp_path)
    d1 = dt.datetime(2024, 1, 15, 10, 0)
    sink.add_constraint(spark, "pos", "total > 0")
    sink.write_batch(
        spark.createDataFrame(
            [("a", d1, 10)], "k string, window_start timestamp, total bigint"
        ),
        0,
    )
    assert sink._constraints() == {"pos": "total > 0"}  # survived overwrite
    with pytest.raises(ConstraintViolationError, match="pos"):
        sink.write_batch(
            spark.createDataFrame(
                [("b", d1, -1)], "k string, window_start timestamp, total bigint"
            ),
            1,
        )
    assert [r["k"] for r in sink.read(spark).collect()] == ["a"]
    assert sink.snapshots() == [0]  # no commit, no version
    # NULL passes (SQL CHECK semantics)
    sink.write_batch(
        spark.createDataFrame(
            [("c", d1, None)], "k string, window_start timestamp, total bigint"
        ),
        1,
    )
    assert sorted(r["k"] for r in sink.read(spark).collect()) == ["a", "c"]
    # adding a constraint the table violates is refused
    with pytest.raises(ConstraintViolationError, match="existing rows"):
        sink.add_constraint(spark, "big", "total >= 100")
    sink.drop_constraint("pos")
    sink.write_batch(
        spark.createDataFrame(
            [("b", d1, -1)], "k string, window_start timestamp, total bigint"
        ),
        2,
    )
    assert sorted(r["k"] for r in sink.read(spark).collect()) == ["a", "b", "c"]


def test_cdf_stream_source_infers_schema_from_log(spark, tmp_path):
    """Without explicit schema options the CDF source derives its
    emitted schema (and column list) from the newest epoch schema
    sidecar — the log is self-describing; renames are reflected."""
    from real_time_ride_hailing_data_pipeline_spark.sources.cdf_stream import (
        _infer_from_log,
    )

    sink = _evo_sink(tmp_path)
    d1 = dt.datetime(2024, 1, 15, 10, 0)
    sink.write_batch(
        spark.createDataFrame(
            [("a", d1, 10)], "k string, window_start timestamp, total bigint"
        ),
        0,
    )
    ddl, cols = _infer_from_log(sink.snapshot_dir)
    assert cols == "k,window_start,total"
    assert ddl.endswith("change_type string") and "part_date" not in ddl
    sink.rename_column(spark, "total", "amount", 1)
    ddl2, cols2 = _infer_from_log(sink.snapshot_dir)
    assert cols2 == "k,window_start,amount"


def test_update_where_semantics_and_interop(spark, tmp_path):
    """UPDATE SET evaluates against ORIGINAL rows (a SET referencing a
    column another SET changes sees the old value); key/partition
    columns refuse to SET; constraints audit the post-update content;
    replay is idempotent; history records op='update'."""
    from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (
        ConstraintViolationError,
    )

    sink = _evo_sink(tmp_path)
    d1, d2 = dt.datetime(2024, 1, 15, 10, 0), dt.datetime(2024, 1, 16, 11, 0)
    sink.write_batch(
        spark.createDataFrame(
            [("a", d1, 10, 1), ("b", d2, 20, 2)],
            "k string, window_start timestamp, total bigint, bonus bigint",
        ),
        0,
    )
    # both SETs read the ORIGINAL row: bonus becomes old total, total doubles
    sink.update_where(
        spark,
        "k = 'a'",
        {"total": "total * 2", "bonus": "total"},
        1,
    )
    rows = {r["k"]: (r["total"], r["bonus"]) for r in sink.read(spark).collect()}
    assert rows == {"a": (20, 10), "b": (20, 2)}
    # replay of a committed epoch is a NO-OP (an UPDATE payload is not
    # naturally idempotent, so the version guard absorbs it)
    sink.update_where(spark, "k = 'a'", {"total": "total * 2", "bonus": "total"}, 1)
    rows = {r["k"]: (r["total"], r["bonus"]) for r in sink.read(spark).collect()}
    assert rows["a"] == (20, 10)
    assert sink.snapshots() == [0, 1]
    with pytest.raises(ValueError, match="delete \\+ insert"):
        sink.update_where(spark, "true", {"window_start": "window_start"}, 9)
    # history records the op
    ops = {r["epoch"]: r["op"] for r in sink.describe_history(spark).collect()}
    assert ops[1] == "update"
    # time travel below the update
    assert {r["k"]: r["total"] for r in sink.read_at(spark, 0).collect()} == {
        "a": 10, "b": 20,
    }
    # constraints gate the post-update content
    sink.add_constraint(spark, "cap", "total <= 1000")
    with pytest.raises(ConstraintViolationError, match="cap"):
        sink.update_where(spark, "k = 'b'", {"total": "total * 1000"}, 5)
    assert {r["k"]: r["total"] for r in sink.read(spark).collect()}["b"] == 20


def test_read_pruned_at_prunes_the_versions_own_files(spark, tmp_path):
    """Time-travel file skipping: an epoch copy carries the stats (and
    deletion vectors) AS OF its commit, so read_pruned_at prunes with
    the version's own bounds and equals read_at + filter; partitions
    whose copies predate any stats are read unpruned (safe).

    write_distribution="none": the r13 hash distribution writes ONE
    file per toy-scale partition, which leaves this test's epoch
    copies nothing to skip WITHIN a partition (sel == tot, vacuously).
    The capability pinned here — the version's own stats prune the
    version's own files — needs a multi-file-per-partition epoch copy,
    which the undistributed write's task-contiguous splits provide
    (production tables get the same via write_buckets / compaction
    toward ~128 MB files)."""
    sink = _evo_sink(tmp_path, write_distribution="none")
    rows = [
        (f"k{i}", dt.datetime(2024, 1, 15 + (i % 2), 10, i % 60), i)
        for i in range(400)
    ]
    sink.write_batch(
        spark.createDataFrame(
            rows, "k string, window_start timestamp, total bigint"
        ),
        0,
    )
    sink.compact(spark, files_per_partition=4, sort_by="total")
    # the commit AFTER the compact snapshots the clustered files with
    # their stats sidecars (hardlinked into the epoch copy)
    sink.write_batch(
        spark.createDataFrame(
            [("k0", dt.datetime(2024, 1, 15, 10, 0), 7)],
            "k string, window_start timestamp, total bigint",
        ),
        1,
    )
    sink.delete_keys(
        spark.createDataFrame(
            [("k399", dt.datetime(2024, 1, 16, 10, 39))],
            "k string, window_start timestamp",
        ),
        2,
        mode="merge_on_read",
    )
    for epoch in (1, 2):
        df, sel, tot = sink.read_pruned_at(spark, epoch, "total", lower=300)
        want = sink.read_at(spark, epoch).filter(F.col("total") >= 300)
        assert df.exceptAll(want).count() == 0 and want.exceptAll(df).count() == 0
        assert sel < tot, (epoch, sel, tot)
    # the DV'd row is hidden at 2 but present at 1
    assert sink.read_pruned_at(spark, 1, "total", lower=399)[0].count() == 1
    assert sink.read_pruned_at(spark, 2, "total", lower=399)[0].count() == 0


# -- consolidated plan-time metadata (r10: one JSON read per plan) ----------


def test_consolidated_metadata_one_read_per_plan(spark, tmp_path):
    """Plan-time file metadata (file lists, stats, deletion vectors)
    comes from ONE JSON read — the live ``_sidecars.json`` for
    ``read_pruned``/``read``, the manifest fold for ``read_at``/
    ``read_pruned_at`` — never O(partitions) per-dir sidecar opens
    (VERDICT r9 item 4). Asserted by spying on ``open``."""
    import builtins

    sink = _evo_sink(tmp_path)
    rows = [
        (f"k{i}", dt.datetime(2024, 1, 15 + (i % 4), 10, i % 60), i)
        for i in range(400)
    ]
    sink.write_batch(
        spark.createDataFrame(
            rows, "k string, window_start timestamp, total bigint"
        ),
        0,
    )
    sink.compact(spark, files_per_partition=4, sort_by="total")
    sink.delete_keys(
        spark.createDataFrame(
            [("k399", dt.datetime(2024, 1, 18, 10, 39))],
            "k string, window_start timestamp",
        ),
        1,
        mode="merge_on_read",
    )

    opened: list[str] = []
    real_open = builtins.open

    def spy(path, *a, **kw):
        try:
            p = os.fspath(path)
        except TypeError:
            p = ""
        if p.endswith(("_stats.json", "_dv.json", "_sidecars.json")):
            opened.append(os.path.basename(p))
        return real_open(path, *a, **kw)

    builtins.open = spy
    try:
        df, sel, tot = sink.read_pruned(spark, "total", lower=390)
        live_opens = list(opened)
        opened.clear()
        df_at, sel_at, tot_at = sink.read_pruned_at(
            spark, 1, "total", lower=390
        )
        travel_opens = list(opened)
        opened.clear()
        full_at = sink.read_at(spark, 1)
        read_at_opens = list(opened)
    finally:
        builtins.open = real_open
    # live plan: exactly one consolidated read, zero per-dir opens
    assert live_opens == ["_sidecars.json"], live_opens
    # time-travel plans: everything rides the manifest fold
    assert travel_opens == [], travel_opens
    assert read_at_opens == [], read_at_opens
    # and the plans are still correct (pruned + DV-aware)
    assert sel < tot and sel_at < tot_at
    assert sorted(r["total"] for r in df.collect()) == list(range(390, 399))
    assert sorted(r["total"] for r in df_at.collect()) == list(range(390, 399))
    assert full_at.count() == 399


def test_consolidated_metadata_lost_cache_rebuilds_from_dirs(spark, tmp_path):
    """A table whose _sidecars.json is lost (deleted out of band, or a
    crash between a first write's directory overwrite and its cache
    refresh) still reads and prunes correctly: readers build the full
    map in memory from the partition dirs and never write it, and the
    next commit persists the FULL map — a commit touching one of two
    partitions must not drop the other from the cache (that lost the
    untouched partition's deletion vector and its files from every
    pruned plan)."""
    import json

    sink = _evo_sink(tmp_path)
    rows = [
        (f"k{i}", dt.datetime(2024, 1, 15 + (i % 2), 10, i % 60), i)
        for i in range(100)
    ]
    schema = "k string, window_start timestamp, total bigint"
    sink.write_batch(spark.createDataFrame(rows, schema), 0)
    sink.compact(spark, files_per_partition=4, sort_by="total")
    sink.delete_keys(
        spark.createDataFrame(
            [("k99", dt.datetime(2024, 1, 16, 10, 39))],
            "k string, window_start timestamp",
        ),
        1,
        mode="merge_on_read",
    )
    cache = os.path.join(sink.path, "_sidecars.json")
    both = {"2024-01-15", "2024-01-16"}

    def files_by_partition():
        return {r["part_date"] for r in sink.describe_files(spark).collect()}

    os.remove(cache)
    assert sink.read(spark).count() == 99  # DV still applies
    df, sel, tot = sink.read_pruned(spark, "total", lower=95)
    assert sel < tot
    assert sorted(r["total"] for r in df.collect()) == list(range(95, 99))
    assert files_by_partition() == both
    assert not os.path.exists(cache)  # readers never write the cache

    # one commit touching only 2024-01-15: the DV'd 2024-01-16 partition
    # must survive in the persisted cache
    sink.write_batch(
        spark.createDataFrame(
            [("k0", dt.datetime(2024, 1, 15, 10, 0), 1000)], schema
        ),
        2,
    )
    assert sink.read(spark).count() == 99  # the DV did not come back
    df, sel, tot = sink.read_pruned(spark, "total", lower=95)
    assert sorted(r["total"] for r in df.collect()) == [95, 96, 97, 98, 1000]
    df, _, _ = sink.read_point(spark, "k", ["k97", "k0", "k99"])
    assert sorted(r["k"] for r in df.collect()) == ["k0", "k97"]
    assert files_by_partition() == both
    with open(cache) as fh:
        assert set(json.load(fh)) == {f"part_date={d}" for d in both}


@pytest.mark.parametrize("op", ["delete", "update", "merge_into", "occ"])
def test_schema_file_lost_out_of_band_recovers(spark, tmp_path, op):
    """A live table whose _schema.json was deleted out of band (every
    commit publishes it before its first partition lands, so this is
    the one way a table loses it). Every reader serves it under the
    footer schema (the pruned readers too, including a plan that
    selects no file), and every staging writer commits through it: the
    staging records the scanned schema for the commit to publish, so
    the commit neither fails nor wedges the table, and the next
    write_batch lands."""
    sink = _evo_sink(tmp_path, retries=0)
    rows = [
        (f"k{i}", dt.datetime(2024, 1, 15 + (i % 2), 10, i % 60), i)
        for i in range(100)
    ]
    schema = "k string, window_start timestamp, total bigint"
    sink.write_batch(spark.createDataFrame(rows, schema), 0)
    schema_file = os.path.join(sink.path, "_schema.json")
    os.remove(schema_file)
    assert not os.path.exists(schema_file)

    def totals():
        return sorted(r["total"] for r in sink.read(spark).collect())

    assert totals() == list(range(100))
    df, _, _ = sink.read_pruned(spark, "total", lower=95)
    assert sorted(r["total"] for r in df.collect()) == list(range(95, 100))
    df, _, _ = sink.read_pruned(
        spark, "total", lower=0, source_lower=dt.datetime(2030, 1, 1)
    )
    assert df.count() == 0 and "total" in df.columns
    df, _, _ = sink.read_point(spark, "k", ["k3", "k98"])
    assert sorted(r["k"] for r in df.collect()) == ["k3", "k98"]
    assert not os.path.exists(schema_file)  # readers never write it

    k99 = ("k99", dt.datetime(2024, 1, 16, 10, 39))
    if op == "delete":
        sink.delete_keys(
            spark.createDataFrame([k99], "k string, window_start timestamp"), 1
        )
        expected = list(range(99))
    elif op == "update":
        sink.update_where(spark, "k = 'k99'", {"total": "total + 1000"}, 1)
        expected = list(range(99)) + [1099]
    elif op == "merge_into":
        sink.merge_into(
            spark.createDataFrame([(*k99, 5000)], schema),
            1,
            when_matched_update={"total": "s.total"},
        )
        expected = list(range(99)) + [5000]
    else:
        sink.write_batch_occ(spark.createDataFrame([(*k99, 5000)], schema), 1)
        expected = list(range(99)) + [5000]
    assert 1 in sink.snapshots()
    assert os.path.exists(schema_file)  # the commit published it
    assert totals() == expected

    sink.write_batch(
        spark.createDataFrame(
            [("k0", dt.datetime(2024, 1, 15, 10, 0), 2000)], schema
        ),
        2,
    )
    assert totals() == sorted(expected[1:] + [2000])


@pytest.mark.parametrize("recreate", ["write_batch", "merge_into"])
def test_drained_table_recreate_keeps_table_metadata(spark, tmp_path, recreate):
    """A write that re-creates a table whose every row was deleted is a
    staged commit like any other, so the table-level files recorded
    before the drain survive it: the OCC idempotence ledger (replaying
    the OCC epoch returns its original version and re-applies nothing,
    so the row deleted while drained stays deleted), the bloom
    declaration (the new partition is indexed) and the constraint."""
    from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (
        ConstraintViolationError,
    )

    sink, d1, d2 = _occ_seed(spark, tmp_path)
    schema = "k string, window_start timestamp, total bigint"
    occ_batch = spark.createDataFrame([("a", d1, 11)], schema)
    assert sink.write_batch_occ(occ_batch, 7, writer_id="w")["version"] == 7
    sink.add_constraint(spark, "pos", "total > 0")
    sink.create_bloom_index(spark, "k")
    sink.delete_keys(
        spark.createDataFrame(
            [("a", d1), ("b", d1), ("c", d2), ("d", d2)],
            "k string, window_start timestamp",
        ),
        9,
    )
    assert not sink._table_exists()

    batch = spark.createDataFrame([("e", d2, 5)], schema)
    if recreate == "write_batch":
        sink.write_batch(batch, 10)
    else:
        sink.merge_into(batch, 10)
    assert sink.snapshots() == [0, 7, 9, 10]
    for name in ("_occ_applied.json", "_bloom_meta.json"):
        assert os.path.exists(os.path.join(sink.path, name)), name
    assert [r["has_bloom"] for r in sink.describe_files(spark).collect()] == [True]
    assert sink._constraints() == {"pos": "total > 0"}
    with pytest.raises(ConstraintViolationError, match="pos"):
        sink.write_batch(spark.createDataFrame([("f", d2, -1)], schema), 11)

    replay = sink.write_batch_occ(occ_batch, 7, writer_id="w")
    assert (replay["version"], replay["attempts"]) == (7, 0)
    assert {r["k"]: r["total"] for r in sink.read(spark).collect()} == {"e": 5}


# -- cross-process writer exclusion (r10, VERDICT r9 item 6) ----------------


def test_writer_lock_excludes_a_second_process(tmp_path):
    """A second PROCESS attempting a concurrent commit fails loudly
    with ConcurrentWriterError while the first holds the lock — the
    single-writer contract is enforced across process boundaries, not
    just across threads of one driver."""
    import subprocess
    import sys as _sys

    from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (
        ParquetUpsertSink,
    )

    path = str(tmp_path / "t")
    sink = ParquetUpsertSink(path, key_cols=("k", "window_start"))
    prog = (
        "import sys; sys.path.insert(0, {root!r})\n"
        "from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (\n"
        "    ConcurrentWriterError, ParquetUpsertSink)\n"
        "sink = ParquetUpsertSink({path!r}, key_cols=('k', 'window_start'))\n"
        "try:\n"
        "    with sink._writer_lock():\n"
        "        pass\n"
        "except ConcurrentWriterError:\n"
        "    sys.exit(42)  # the loud refusal we want\n"
        "sys.exit(0)\n"
    ).format(root=REPO_ROOT, path=path)
    with sink._writer_lock():
        proc = subprocess.run(
            [_sys.executable, "-c", prog], capture_output=True, timeout=60
        )
    assert proc.returncode == 42, (proc.returncode, proc.stderr.decode())
    # ... and once released, a fresh process acquires cleanly
    proc2 = subprocess.run(
        [_sys.executable, "-c", prog], capture_output=True, timeout=60
    )
    assert proc2.returncode == 0, (proc2.returncode, proc2.stderr.decode())


def test_writer_lock_recovers_a_dead_processes_lock(tmp_path):
    """Torn-lock recovery across processes: a lock file left by a
    CRASHED writer (its pid no longer alive) is broken by the next
    writer, which acquires and proceeds — a crash never wedges the
    table. The dead pid is real: a subprocess takes the lock, keeps
    it past exit (skipping __exit__ via os._exit), and dies."""
    import subprocess
    import sys as _sys

    from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (
        ParquetUpsertSink,
    )

    path = str(tmp_path / "t")
    sink = ParquetUpsertSink(path, key_cols=("k", "window_start"))
    prog = (
        "import os, sys; sys.path.insert(0, {root!r})\n"
        "from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (\n"
        "    ParquetUpsertSink)\n"
        "sink = ParquetUpsertSink({path!r}, key_cols=('k', 'window_start'))\n"
        "lock = sink._writer_lock()\n"
        "lock.__enter__()\n"
        "os._exit(0)  # crash: __exit__ never runs, the lock file stays\n"
    ).format(root=REPO_ROOT, path=path)
    proc = subprocess.run(
        [_sys.executable, "-c", prog], capture_output=True, timeout=60
    )
    assert proc.returncode == 0, proc.stderr.decode()
    assert os.path.exists(sink._lock_file())  # the torn lock survives
    with sink._writer_lock():  # breaks the stale lock, acquires
        assert os.path.exists(sink._lock_file())
    assert not os.path.exists(sink._lock_file())


def test_dir_level_zone_map_short_circuits(spark, tmp_path):
    """Commit-time metadata folds a DIR-level [lo, hi] per stats
    column (hierarchical pruning, r11): plan-time selection dismisses
    a whole partition dir in O(1) when its folded range excludes the
    bound/probes — proven by spying on the per-file stats dict access
    — while results stay exactly the full-scan filter. The fold is
    recorded only when every file is stats-covered, so degradation
    stays safe."""
    import json as _json

    sink = ParquetUpsertSink(
        str(tmp_path / "t"), key_cols=("uid",), partition_source="ts"
    )
    # uid correlates with the partition date: dir ranges are disjoint
    df = spark.range(4000).select(
        F.col("id").alias("uid"),
        F.expr(
            "timestampadd(DAY, CAST(id DIV 1000 AS INT), "
            "timestamp'2024-05-01 00:00:00')"
        ).alias("ts"),
    )
    sink.write_batch(df, 0)
    sink.compact(spark, files_per_partition=4, sort_by="uid")
    with open(sink._sidecars_file()) as fh:
        cons = _json.load(fh)
    assert all("range" in e for e in cons.values()), cons.keys()
    ranges = sorted(tuple(e["range"]["uid"]) for e in cons.values())
    assert ranges == [(0, 999), (1000, 1999), (2000, 2999), (3000, 3999)]
    got, sel, tot = sink.read_pruned(spark, "uid", lower=3500)
    assert sel < tot
    assert sorted(r["uid"] for r in got.collect()) == list(range(3500, 4000))
    gp, selp, totp = sink.read_point(spark, "uid", [42, 3042])
    assert sorted(r["uid"] for r in gp.collect()) == [42, 3042]
    assert selp < totp
    # the dirs outside the bound were dismissed WITHOUT per-file work:
    # strip the per-file stats from the out-of-range dirs and re-plan —
    # selection must be unchanged because only the dir range is read
    pruned_cons = {
        d: (
            {**e, "stats": None}
            if e["range"]["uid"][1] < 3500
            else e
        )
        for d, e in cons.items()
    }
    entries = {
        os.path.join(sink.path, d): e for d, e in pruned_cons.items()
    }
    chosen, total = ParquetUpsertSink._select_files_from_entries(
        entries, "uid", 3500, None
    )
    assert total == tot and len(chosen) == sel


@pytest.mark.slow  # 60-commit lifecycle sweep (43 s in the r14
# baseline) — slow tier via pytest.ini; the bound it pins is
# commit-count-independent, so the sweep length is the test.
def test_metadata_bounded_over_many_commits(spark, tmp_path):
    """Log growth bound (VERDICT r10 item 6): after MANY commits, (a)
    a live plan still reads ONE consolidated JSON — never the
    manifest chain, so plan cost is independent of commit count; (b)
    a time-travel plan opens O(1) manifests (each is self-contained:
    parts + folded sidecars, the Delta-checkpoint design — replay
    never walks history); (c) retention bounds the ON-DISK metadata:
    manifests, epoch schema sidecars, and partition copies beyond
    ``max_snapshots`` are physically deleted by the per-commit
    expiry, and ``vacuum(max_age_s=0)`` collapses to the single
    newest version."""
    import builtins

    n_commits, keep = 60, 12
    sink = ParquetUpsertSink(
        str(tmp_path / "t"),
        key_cols=("k", "window_start"),
        snapshot_dir=str(tmp_path / "snap"),
        max_snapshots=keep,
    )
    for e in range(n_commits):
        d = dt.datetime(2024, 1, 15 + (e % 3), 10, 0)
        sink.write_batch(
            spark.createDataFrame(
                [(f"k{e % 7}", d, e)],
                "k string, window_start timestamp, total bigint",
            ),
            e,
        )
    mdir = os.path.join(sink.snapshot_dir, "manifest")
    manifests = [f for f in os.listdir(mdir) if f.endswith(".json")]
    assert len(manifests) <= keep, len(manifests)
    schemas = [f for f in os.listdir(mdir) if f.endswith(".schema.json")]
    assert len(schemas) <= keep + 1, schemas  # bounded like manifests
    files_root = os.path.join(sink.snapshot_dir, "files")
    live_epochs = {
        int(f[len("epoch=") : -len(".json")])
        for f in manifests
        if not f.endswith(".schema.json")
    }
    referenced = {
        e
        for epoch in sink.snapshots()
        for e in sink._load_manifest(epoch).values()
    }
    for d in os.listdir(files_root):
        if d.startswith("epoch="):
            assert int(d.split("=", 1)[1]) in referenced, d
    # plan-time reads are O(1) regardless of the 60-commit history
    opened: list[str] = []
    real_open = builtins.open

    def spy(path, *a, **kw):
        try:
            p = os.fspath(path)
        except TypeError:
            p = ""
        base = os.path.basename(p)
        if base.endswith(".json") or "manifest" in p:
            opened.append(base)
        return real_open(path, *a, **kw)

    builtins.open = spy
    try:
        assert sink.read(spark).count() == 21  # 7 keys x 3 dates
        live_opens = [o for o in opened if o.endswith(".json")]
        opened.clear()
        oldest = sink.snapshots()[0]
        assert sink.read_at(spark, oldest).count() >= 1
        travel_opens = [o for o in opened if o.endswith(".json")]
    finally:
        builtins.open = real_open
    assert len(live_opens) <= 3, live_opens  # consolidated, not O(commits)
    manifest_opens = [o for o in travel_opens if o.startswith("epoch=")]
    assert len(manifest_opens) <= 3, manifest_opens  # self-contained
    # vacuum to the single newest version: disk metadata collapses
    sink.vacuum(max_age_s=0.0)
    manifests2 = [
        f
        for f in os.listdir(mdir)
        if f.endswith(".json") and not f.endswith(".schema.json")
    ]
    assert len(manifests2) == 1, manifests2
    newest = sink.snapshots()[-1]
    still_referenced = set(sink._load_manifest(newest).values())
    for d in os.listdir(files_root):
        if d.startswith("epoch="):
            assert int(d.split("=", 1)[1]) in still_referenced, d
    assert sink.read(spark).count() == 21  # the live table is untouched


# -- concurrent disjoint-partition writers (r11, VERDICT r10 item 4) ---------


def _occ_seed(spark, tmp_path, snap=True):
    sink = ParquetUpsertSink(
        str(tmp_path / "t"),
        key_cols=("k", "window_start"),
        snapshot_dir=str(tmp_path / "snap") if snap else None,
    )
    d1, d2 = dt.datetime(2024, 1, 15, 10, 0), dt.datetime(2024, 1, 16, 11, 0)
    sink.write_batch(
        spark.createDataFrame(
            [("a", d1, 10), ("b", d1, 30), ("c", d2, 50), ("d", d2, 70)],
            "k string, window_start timestamp, total bigint",
        ),
        0,
    )
    return sink, d1, d2


def test_occ_disjoint_writers_commit_without_retry(spark, tmp_path):
    """Two OCC writers on DISJOINT partitions both commit, the one
    whose staged window the other landed in does NOT retry, versions
    are monotone in commit order, and time travel sees each commit."""
    sink, d1, d2 = _occ_seed(spark, tmp_path)
    order = []

    def mid():
        res_b = sink.write_batch_occ(
            spark.createDataFrame(
                [("c", d2, 777)],
                "k string, window_start timestamp, total bigint",
            ),
            2,
        )
        order.append(("B", res_b))

    res_a = sink.write_batch_occ(
        spark.createDataFrame(
            [("b", d1, 31)], "k string, window_start timestamp, total bigint"
        ),
        1,
        on_staged=mid,
    )
    order.append(("A", res_a))
    assert order[0][0] == "B" and order[0][1]["attempts"] == 1
    assert res_a["attempts"] == 1  # disjoint: no retry despite B's commit
    assert order[0][1]["version"] < res_a["version"]
    got = sorted((r["k"], r["total"]) for r in sink.read(spark).collect())
    assert got == [("a", 10), ("b", 31), ("c", 777), ("d", 70)]
    # B's version excludes A's change; A's includes both
    at_b = dict(
        (r["k"], r["total"])
        for r in sink.read_at(spark, order[0][1]["version"]).collect()
    )
    assert at_b["c"] == 777 and at_b["b"] == 30


def test_occ_conflicting_writer_retries_and_folds(spark, tmp_path):
    """A writer whose pinned partition another commit touched
    mid-merge RETRIES from a fresh pin and folds the other's rows in
    — no lost update in either direction."""
    sink, d1, _ = _occ_seed(spark, tmp_path)

    def mid():
        sink.write_batch_occ(
            spark.createDataFrame(
                [("q", d1, 5)],
                "k string, window_start timestamp, total bigint",
            ),
            2,
        )

    res = sink.write_batch_occ(
        spark.createDataFrame(
            [("b", d1, 32)], "k string, window_start timestamp, total bigint"
        ),
        3,
        on_staged=mid,
    )
    assert res["attempts"] == 2
    got = sorted((r["k"], r["total"]) for r in sink.read(spark).collect())
    assert got == [("a", 10), ("b", 32), ("c", 50), ("d", 70), ("q", 5)]


def test_occ_two_processes_disjoint_partitions(spark, tmp_path):
    """REAL two-process concurrency (the r10 lock-test pattern): a
    child process with its own SparkSession commits to partition d2
    while THIS process's writer sits between stage and commit on d1.
    Both commit; the parent does not retry; the final state equals
    serial application."""
    import subprocess
    import sys as _sys

    sink, d1, d2 = _occ_seed(spark, tmp_path, snap=False)
    prog = (
        "import sys, datetime as dt; sys.path.insert(0, {root!r})\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[2]')\n"
        "         .config('spark.sql.shuffle.partitions', '2')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import ParquetUpsertSink\n"
        "sink = ParquetUpsertSink({path!r}, key_cols=('k', 'window_start'))\n"
        "res = sink.write_batch_occ(spark.createDataFrame(\n"
        "    [('d', dt.datetime(2024, 1, 16, 11), 71)],\n"
        "    'k string, window_start timestamp, total bigint'), 2)\n"
        "assert res['attempts'] == 1, res\n"
        "spark.stop()\n"
    ).format(root=REPO_ROOT, path=sink.path)

    def mid():
        proc = subprocess.run(
            [_sys.executable, "-c", prog], capture_output=True, timeout=300
        )
        assert proc.returncode == 0, proc.stderr.decode()[-2000:]

    res = sink.write_batch_occ(
        spark.createDataFrame(
            [("a", d1, 11)], "k string, window_start timestamp, total bigint"
        ),
        3,
        on_staged=mid,
    )
    assert res["attempts"] == 1  # the child's d2 commit is disjoint
    got = sorted((r["k"], r["total"]) for r in sink.read(spark).collect())
    assert got == [("a", 11), ("b", 30), ("c", 50), ("d", 71)]


def test_blocking_lock_waits_then_times_out(tmp_path):
    """_writer_lock_blocking waits out a live same-process holder and
    acquires once released; against a holder that never releases it
    raises ConcurrentWriterError at the deadline instead of spinning
    forever."""
    import threading
    import time as _time

    from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (
        ConcurrentWriterError,
    )

    sink = ParquetUpsertSink(str(tmp_path / "t"), key_cols=("k",))
    release = threading.Event()
    held = threading.Event()

    def holder():
        with sink._writer_lock():
            held.set()
            release.wait(timeout=30)

    t = threading.Thread(target=holder)
    t.start()
    held.wait(timeout=10)
    # timeout path: the holder outlives the deadline
    t0 = _time.monotonic()
    with pytest.raises(ConcurrentWriterError):
        with sink._writer_lock_blocking(timeout_s=0.5):
            pass
    assert 0.4 < _time.monotonic() - t0 < 5
    # wait-then-acquire path: release mid-wait
    threading.Timer(0.3, release.set).start()
    with sink._writer_lock_blocking(timeout_s=10):
        pass  # acquired after the holder exited
    t.join(timeout=10)


def test_occ_guards_idempotence_and_gc(spark, tmp_path):
    """Scope guards name the serialized fallback; a replayed epoch key
    returns its original version without re-applying; dead writers'
    private dirs are garbage-collected."""
    sink, d1, _ = _occ_seed(spark, tmp_path)
    fresh = ParquetUpsertSink(str(tmp_path / "nope"), key_cols=("k",))
    with pytest.raises(ValueError, match="existing table"):
        fresh.write_batch_occ(
            spark.createDataFrame([("a", d1, 1)],
                                  "k string, window_start timestamp, total bigint"),
            0,
        )
    with pytest.raises(ValueError, match="evolution-free"):
        sink.write_batch_occ(
            spark.createDataFrame([("a", d1, 1, 9)],
                                  "k string, window_start timestamp, "
                                  "total bigint, extra bigint"),
            1,
        )
    res = sink.write_batch_occ(
        spark.createDataFrame(
            [("a", d1, 99)], "k string, window_start timestamp, total bigint"
        ),
        7,
    )
    replay = sink.write_batch_occ(
        spark.createDataFrame(
            [("a", d1, 123456)],
            "k string, window_start timestamp, total bigint",
        ),
        7,
    )
    assert replay["version"] == res["version"] and replay["attempts"] == 0
    assert [r["total"] for r in sink.read(spark).filter("k='a'").collect()] == [99]
    # dead-pid private dir is GC'd on the next writer's pin
    orphan = sink.path.rstrip("/") + "__occ_999999_deadbeef"
    os.makedirs(orphan, exist_ok=True)
    sink.write_batch_occ(
        spark.createDataFrame(
            [("b", d1, 42)], "k string, window_start timestamp, total bigint"
        ),
        8,
    )
    assert not os.path.isdir(orphan)


def _occ_merge_seed(spark, tmp_path):
    sink = ParquetUpsertSink(
        str(tmp_path / "t"),
        key_cols=("k", "window_start"),
        snapshot_dir=str(tmp_path / "snap"),
    )
    d1, d2 = dt.datetime(2024, 1, 15, 10, 0), dt.datetime(2024, 1, 16, 11, 0)
    sink.write_batch(
        spark.createDataFrame(
            [("a", d1, 10), ("b", d1, 30), ("c", d2, 50), ("d", d2, 70)],
            "k string, window_start timestamp, total bigint",
        ),
        0,
    )
    return sink, d1, d2


def test_merge_into_occ_matches_serialized_semantics(spark, tmp_path):
    """merge_into_occ applies the same clause semantics as the
    serialized merge_into (conditional update, conditional delete,
    conditional insert) and records the commit in history/time
    travel."""
    sink, d1, d2 = _occ_merge_seed(spark, tmp_path)
    src = spark.createDataFrame(
        [
            ("a", d1, 100),  # matched, update condition true -> total+=
            ("b", d1, 1),    # matched, delete condition (s.total < 5)
            ("e", d1, 200),  # not matched, insert condition true
            ("f", d2, 3),    # not matched, insert condition false
        ],
        "k string, window_start timestamp, total bigint",
    )
    res = sink.merge_into_occ(
        src,
        1,
        when_matched_update={"total": "s.total + t.total"},
        when_matched_update_condition="s.total >= 50",
        when_matched_delete_condition="s.total < 5",
        when_not_matched_insert=True,
        when_not_matched_insert_condition="s.total >= 50",
    )
    assert res["attempts"] == 1
    got = sorted((r["k"], r["total"]) for r in sink.read(spark).collect())
    assert got == [("a", 110), ("c", 50), ("d", 70), ("e", 200)]
    # replayed key: version-guard no-op with the original version
    replay = sink.merge_into_occ(
        src, 1, when_matched_update={"total": "s.total + t.total"}
    )
    assert replay["version"] == res["version"] and replay["attempts"] == 0
    assert sorted(
        (r["k"], r["total"]) for r in sink.read(spark).collect()
    ) == got
    # time travel below the merge shows the pre-merge state
    assert sorted(
        r["k"] for r in sink.read_at(spark, 0).collect()
    ) == ["a", "b", "c", "d"]


def test_merge_into_occ_disjoint_and_conflicting_writers(spark, tmp_path):
    """Two OCC merges on disjoint partitions both commit (no retry);
    a merge racing on the SAME partition retries and RE-EVALUATES its
    clauses against the new state — the conditional payload lands on
    the raced-in row exactly as serializing would have."""
    sink, d1, d2 = _occ_merge_seed(spark, tmp_path)

    def mid_disjoint():
        r = sink.merge_into_occ(
            spark.createDataFrame(
                [("c", d2, 1000)],
                "k string, window_start timestamp, total bigint",
            ),
            2,
            when_matched_update={"total": "s.total + t.total"},
        )
        assert r["attempts"] == 1

    res = sink.merge_into_occ(
        spark.createDataFrame(
            [("a", d1, 1)], "k string, window_start timestamp, total bigint"
        ),
        3,
        when_matched_update={"total": "s.total + t.total"},
        on_staged=mid_disjoint,
    )
    assert res["attempts"] == 1  # disjoint: no retry
    got = dict((r["k"], r["total"]) for r in sink.read(spark).collect())
    assert got["a"] == 11 and got["c"] == 1050
    # conflicting: another writer updates 'b' mid-merge; our clause
    # (t.total + s.total) must re-apply against b's NEW value
    def mid_conflict():
        sink.write_batch_occ(
            spark.createDataFrame(
                [("b", d1, 300)],
                "k string, window_start timestamp, total bigint",
            ),
            4,
        )

    res2 = sink.merge_into_occ(
        spark.createDataFrame(
            [("b", d1, 7)], "k string, window_start timestamp, total bigint"
        ),
        5,
        when_matched_update={"total": "s.total + t.total"},
        on_staged=mid_conflict,
    )
    assert res2["attempts"] == 2  # raced, retried from a fresh pin
    got2 = dict((r["k"], r["total"]) for r in sink.read(spark).collect())
    assert got2["b"] == 307  # 300 (raced-in) + 7, never 30 + 7


def test_merge_into_occ_guards(spark, tmp_path):
    """Out-of-scope shapes name the serialized fallback loudly."""
    sink, d1, _ = _occ_merge_seed(spark, tmp_path)
    src = spark.createDataFrame(
        [("a", d1, 1)], "k string, window_start timestamp, total bigint"
    )
    with pytest.raises(ValueError, match="at least one WHEN"):
        sink.merge_into_occ(src, 9, when_not_matched_insert=False)
    with pytest.raises(TypeError):
        # NOT MATCHED BY SOURCE scope is the whole table: not an OCC
        # shape (the kwarg does not exist on the OCC entry point)
        sink.merge_into_occ(
            src, 9, when_not_matched_by_source_delete="true"
        )
    nl = ParquetUpsertSink(
        str(tmp_path / "nl"), key_cols=("k",), partition_source="window_start"
    )
    nl.write_batch(src, 0)
    with pytest.raises(ValueError, match="locality"):
        nl.merge_into_occ(src, 1)
    with pytest.raises(ValueError, match="evolution-free"):
        sink.merge_into_occ(
            spark.createDataFrame(
                [("a", d1, 1, 2)],
                "k string, window_start timestamp, total bigint, x bigint",
            ),
            9,
        )


@pytest.mark.parametrize(
    "write", ["write_batch", "write_batch_occ", "merge_into", "merge_into_occ"]
)
def test_write_rejects_column_type_change(spark, tmp_path, write):
    """A batch that changes a column's type (``total`` long -> double)
    is refused by every write entry, serialized and OCC alike, with the
    same error, before any table file changes; the table still reads
    its seeded rows."""
    sink, d1, _ = _occ_seed(spark, tmp_path)

    def table_files():
        return {
            (os.path.join(root, f), os.stat(os.path.join(root, f)).st_mtime_ns)
            for root, _, files in os.walk(sink.path)
            for f in files
        }

    seeded = sorted(tuple(r) for r in sink.read(spark).collect())
    before = table_files()
    batch = spark.createDataFrame(
        [("a", d1, 1.5)], "k string, window_start timestamp, total double"
    )
    with pytest.raises(ValueError, match="column type change"):
        getattr(sink, write)(batch, 1)
    assert table_files() == before
    assert sorted(tuple(r) for r in sink.read(spark).collect()) == seeded


def _marked_batch(spark, marks: str, d1, d2):
    """100 rows over 4 partitions whose plan leaves one marker file in
    ``marks`` per task invocation of its ``mapInPandas`` step — a count
    that survives the partial passes an accumulator would lose."""

    def mark(batches):
        import uuid

        open(os.path.join(marks, uuid.uuid4().hex), "w").close()
        yield from batches

    ids = spark.range(100, numPartitions=4).mapInPandas(mark, "id long")
    return ids.select(
        F.concat(F.lit("r"), F.col("id").cast("string")).alias("k"),
        F.when(F.col("id") % 2 == 0, F.lit(d1)).otherwise(F.lit(d2))
        .alias("window_start"),
        F.col("id").alias("total"),
    )


@pytest.mark.parametrize("write", ["first", "merge", "occ"])
def test_write_runs_the_batch_plan_once(spark, tmp_path, write):
    """A commit runs the micro-batch's plan exactly once (4 task
    invocations for 4 partitions): the empty-batch check, the audit
    and the keep ∪ batch stage read the persisted batch — for a first
    write, a merge into a live table and an OCC merge alike."""
    if write == "first":
        sink = ParquetUpsertSink(str(tmp_path / "t"), key_cols=("k", "window_start"))
        d1, d2 = dt.datetime(2024, 1, 15, 10, 0), dt.datetime(2024, 1, 16, 11, 0)
        seeded = 0
    else:
        sink, d1, d2 = _occ_seed(spark, tmp_path)
        seeded = 4
    sink.add_constraint(spark, "non_negative", "total >= 0")
    marks = tmp_path / "marks"
    marks.mkdir()
    batch = _marked_batch(spark, str(marks), d1, d2)
    if write == "occ":
        sink.write_batch_occ(batch, 1)
    else:
        sink.write_batch(batch, 1)
    assert len(os.listdir(marks)) == 4
    assert sink.read(spark).count() == seeded + 100
    assert sink.read(spark).filter("k = 'r7'").first()["window_start"] == d2


# -- OCC hardening (r12, ADVICE r11 items 1-4) --------------------------------


def test_occ_concurrent_schema_evolution_raises_not_reverts(spark, tmp_path):
    """ADVICE r11 (high): a schema evolution landing between an OCC
    writer's pin and its commit must NOT be silently reverted by the
    retry staging with the stale schema capture — the pin re-check
    raises ConcurrentWriterError and the evolved column survives."""
    from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (
        ConcurrentWriterError,
    )

    sink, d1, d2 = _occ_seed(spark, tmp_path)

    def evolve_mid_flight():
        ev = ParquetUpsertSink(
            str(tmp_path / "t"),
            key_cols=("k", "window_start"),
            snapshot_dir=str(tmp_path / "snap"),
            schema_evolution=True,
        )
        ev.write_batch(
            spark.createDataFrame(
                [("z", d2, 5, "new")],
                "k string, window_start timestamp, total bigint, tag string",
            ),
            7,
        )

    with pytest.raises(ConcurrentWriterError, match="schema/spec evolution"):
        sink.write_batch_occ(
            spark.createDataFrame(
                [("b", d1, 99)],
                "k string, window_start timestamp, total bigint",
            ),
            8,
            on_staged=evolve_mid_flight,
        )
    # the evolution is intact: the authoritative schema still carries
    # the new column and the evolved row reads back with it
    cols = set(sink.read(spark).columns)
    assert "tag" in cols, cols
    got = {(r["k"], r["tag"]) for r in sink.read(spark).collect()}
    assert ("z", "new") in got and ("b", None) in got
    # and the racer's payload did NOT land (it raised pre-commit)
    assert dict(
        (r["k"], r["total"]) for r in sink.read(spark).collect()
    )["b"] == 30


def test_merge_into_occ_detects_raced_in_partition_creation(spark, tmp_path):
    """ADVICE r11 (medium): with when_not_matched_insert=False, a
    candidate partition NOT live at entry stays in the pinned
    footprint (fingerprint None), so a concurrent commit CREATING it
    with matching keys flips the fingerprint — the merge retries and
    its WHEN MATCHED clause lands on the raced-in row instead of
    silently skipping it (Delta's ConcurrentAppendException shape,
    resolved here by retry)."""
    sink, d1, d2 = _occ_merge_seed(spark, tmp_path)
    d3 = dt.datetime(2024, 1, 17, 9, 0)  # partition NOT live at entry

    def race_in_d3():
        sink.write_batch_occ(
            spark.createDataFrame(
                [("x", d3, 30)],
                "k string, window_start timestamp, total bigint",
            ),
            50,
        )

    res = sink.merge_into_occ(
        spark.createDataFrame(
            [("x", d3, 100)],
            "k string, window_start timestamp, total bigint",
        ),
        51,
        when_matched_update={"total": "s.total + t.total"},
        when_not_matched_insert=False,
        on_staged=race_in_d3,
    )
    assert res["attempts"] == 2, res  # the creation WAS a conflict
    got = dict((r["k"], r["total"]) for r in sink.read(spark).collect())
    assert got["x"] == 130, got  # 30 raced in + 100 merged on retry


def test_occ_ledger_eviction_floor_raises_on_stale_replay(spark, tmp_path):
    """ADVICE r11 (low): a replayed epoch BELOW the bounded ledger's
    eviction floor raises (exactly-once cannot be guaranteed once the
    record aged out) instead of silently re-applying; recent epochs
    still replay as version-guard no-ops."""
    sink, d1, _ = _occ_seed(spark, tmp_path, snap=False)
    sink._OCC_LEDGER_CAP = 3  # shrink to force eviction
    versions = {}
    for e in range(1, 7):
        versions[e] = sink.write_batch_occ(
            spark.createDataFrame(
                [(f"k{e}", d1, e)],
                "k string, window_start timestamp, total bigint",
            ),
            e,
        )["version"]
    # epoch 6 is in the ledger: idempotent no-op with original version
    replay = sink.write_batch_occ(
        spark.createDataFrame(
            [("k6", d1, 999)],
            "k string, window_start timestamp, total bigint",
        ),
        6,
    )
    assert replay["version"] == versions[6] and replay["attempts"] == 0
    # epoch 1 was evicted: refuse rather than re-apply
    with pytest.raises(ValueError, match="eviction floor"):
        sink.write_batch_occ(
            spark.createDataFrame(
                [("k1", d1, 999)],
                "k string, window_start timestamp, total bigint",
            ),
            1,
        )
    got = dict((r["k"], r["total"]) for r in sink.read(spark).collect())
    assert got["k1"] == 1 and got["k6"] == 6  # neither replay re-applied


def test_occ_ledger_floor_is_scoped_per_writer_namespace(spark, tmp_path):
    """ADVICE r12 (medium): the eviction floor must be tracked PER
    writer namespace — epochs are only monotone per writer. Under the
    old single global floor, evicting ONE of writer y's entries (epoch
    base far above writer x's) raised the floor over ALL of x's future
    epochs, spuriously fail-stopping x on genuinely-new keys. Here x
    and y interleave under distinct writer_ids: y's evictions must not
    poison x, replays of retained keys stay no-ops, and a replay of a
    key evicted FROM ITS OWN namespace still raises."""
    sink, d1, _ = _occ_seed(spark, tmp_path, snap=False)
    sink._OCC_LEDGER_CAP = 4

    def put(writer, epoch, total):
        return sink.write_batch_occ(
            spark.createDataFrame(
                [(f"{writer}{epoch}", d1, total)],
                "k string, window_start timestamp, total bigint",
            ),
            epoch,
            writer_id=writer,
        )["version"]

    # interleave: x:1 y:1 x:2 y:2 x:3 y:3 — cap 4 evicts x:1 then y:1
    versions = {}
    for e in range(1, 4):
        versions[("x", e)] = put("x", e, e)
        versions[("y", e)] = put("y", e, 100 + e)
    # x:4 is genuinely new and ABOVE x's floor (x:1 evicted, floor_x=1,
    # 4 > 1) — must commit, not raise, even though y's epochs (same
    # ints, different namespace) interleaved through the ledger
    put("x", 4, 4)
    # a retained key replays as a no-op with its original version
    replay = sink.write_batch_occ(
        spark.createDataFrame(
            [("y3", d1, 999)],
            "k string, window_start timestamp, total bigint",
        ),
        3,
        writer_id="y",
    )
    assert replay["version"] == versions[("y", 3)]
    assert replay["attempts"] == 0
    # a key evicted from ITS OWN namespace still raises
    with pytest.raises(ValueError, match="eviction floor"):
        put("x", 1, 999)
    got = dict((r["k"], r["total"]) for r in sink.read(spark).collect())
    assert got["x1"] == 1 and got["y3"] == 103 and got["x4"] == 4, got


def test_occ_crash_recovery_records_writer_scoped_key(
    spark, tmp_path, monkeypatch
):
    """A crashed OCC commit whose staging record carries a
    writer-scoped OCC key records the ledger entry under that writer's
    namespace on recovery — the replayed (epoch, writer) pair is a
    no-op, while the SAME epoch int under another writer is genuinely
    new."""
    sink, d1, _ = _occ_seed(spark, tmp_path, snap=False)
    # crash the real OCC commit after its staging landed on the
    # canonical path, before the ledger entry: the record (version and
    # key) is all recovery has
    def crash(*a, **k):
        raise RuntimeError("crash before the ledger entry")

    monkeypatch.setattr(sink, "_occ_record_applied", crash)
    with pytest.raises(RuntimeError, match="ledger entry"):
        sink.write_batch_occ(
            spark.createDataFrame(
                [("a", d1, 1)], "k string, window_start timestamp, total bigint"
            ),
            7,
            writer_id="x",
        )
    monkeypatch.undo()
    rec = sink._staged_record()
    assert rec["occ"] == {"epoch": 7, "writer": "x"}
    v = rec["epoch"]
    assert sink._occ_replay_check(7, "x") is None  # the entry was lost
    sink._finish_pending_epoch(spark)
    assert sink._occ_replay_check(7, "x") == v  # recovered into x's ns
    assert sink._occ_replay_check(7, "y") is None  # y's 7 is new
    assert sink._occ_replay_check(7) is None  # default ns too


def test_occ_auto_compact_runs_after_commit_lock_released(spark, tmp_path):
    """ADVICE r11 (low): the scoped post-commit compaction runs AFTER
    the OCC commit lock is released (compact takes its own lock), so a
    fat touched partition never turns the brief metadata moment into
    an O(bytes) hold that times out concurrent writers."""
    sink, d1, _ = _occ_seed(spark, tmp_path, snap=False)
    sink.auto_compact_files = 1
    seen = {}
    orig = sink._auto_compact

    def spy(spark_, touched):
        seen["lock_held_at_compact"] = os.path.exists(sink._lock_file())
        return orig(spark_, touched)

    sink._auto_compact = spy
    sink.write_batch_occ(
        spark.createDataFrame(
            [("b", d1, 31), ("e", d1, 1)],
            "k string, window_start timestamp, total bigint",
        ),
        1,
    )
    assert seen["lock_held_at_compact"] is False, seen
    # and the compaction actually ran: the fat partition collapsed
    pdir = glob.glob(os.path.join(sink.path, "part_date=*15*"))[0]
    n = sum(1 for f in os.listdir(pdir) if f.endswith(".parquet"))
    assert n == 1, os.listdir(pdir)


@pytest.mark.slow  # boots two extra Spark driver processes (25 s in
# the r14 baseline) — slow tier via pytest.ini; the in-process OCC
# concurrency tests (test_occ_two_processes_disjoint_partitions and
# the registry entry's oracle row) stay in the default run.
def test_two_process_streaming_occ_ingest_with_maintenance(spark, tmp_path):
    """TWO live StreamingQueries in SEPARATE processes OCC-ingest
    disjoint partition ranges of ONE table concurrently, with an
    OPTIMIZE interleaved in the parent (VERDICT r11 item 3). A file
    barrier aligns the stream starts; both processes record their
    stream's active interval and the test asserts the intervals
    overlap — real concurrency, not interleaved turns. Final state
    equals the serial application of every update."""
    import datetime as _dt
    import json as _json
    import subprocess
    import sys as _sys
    import time as _time

    rows = [
        (f"k{i}", _dt.datetime(2024, 1, 1 + i // 2, 12, 0), 10 * i)
        for i in range(12)
    ]
    schema = "k string, window_start timestamp, total bigint"
    sink = ParquetUpsertSink(
        str(tmp_path / "t"), key_cols=("k", "window_start")
    )
    sink.write_batch(spark.createDataFrame(rows, schema), 0)

    # parent feed: one file per date partition, dates 1-3 (+100)
    feed_p = str(tmp_path / "feed_p")
    for d in range(3):
        upd = [
            (k, ts, t + 100) for (k, ts, t) in rows if ts.day == 1 + d
        ]
        spark.createDataFrame(upd, schema).coalesce(1).write.mode(
            "append"
        ).parquet(feed_p)

    barrier = str(tmp_path / "barrier")
    os.makedirs(barrier)
    child_prog = (
        "import sys, os, time, json, datetime as dt\n"
        "sys.path.insert(0, {root!r})\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[2]')\n"
        "         .config('spark.sql.shuffle.partitions', '2')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "from real_time_ride_hailing_data_pipeline_spark.streaming.sinks "
        "import ParquetUpsertSink\n"
        "sink = ParquetUpsertSink({path!r}, key_cols=('k', 'window_start'))\n"
        "rows = [(f'k{{i}}', dt.datetime(2024, 1, 1 + i // 2, 12, 0), "
        "10 * i + 200) for i in range(6, 12)]\n"
        "schema = 'k string, window_start timestamp, total bigint'\n"
        "feed = {feed_c!r}\n"
        "for d in range(3, 6):\n"
        "    upd = [r for r in rows if r[1].day == 1 + d]\n"
        "    spark.createDataFrame(upd, schema).coalesce(1)"
        ".write.mode('append').parquet(feed)\n"
        "open(os.path.join({barrier!r}, 'ready'), 'w').close()\n"
        "while not os.path.exists(os.path.join({barrier!r}, 'go')):\n"
        "    time.sleep(0.02)\n"
        "t0 = time.time()\n"
        "q = (spark.readStream.schema(spark.read.parquet(feed).schema)\n"
        "     .option('maxFilesPerTrigger', 1).parquet(feed)\n"
        "     .writeStream.foreachBatch("
        "lambda b, e: sink.write_batch_occ(b, e, writer_id='child'))\n"
        "     .option('checkpointLocation', {ckpt_c!r})\n"
        "     .trigger(availableNow=True).start())\n"
        "q.awaitTermination()\n"
        "with open(os.path.join({barrier!r}, 'child_interval'), 'w') as fh:\n"
        "    json.dump([t0, time.time()], fh)\n"
        "spark.stop()\n"
    ).format(
        root=REPO_ROOT,
        path=sink.path,
        feed_c=str(tmp_path / "feed_c"),
        barrier=barrier,
        ckpt_c=str(tmp_path / "ckpt_c"),
    )
    child = subprocess.Popen(
        [_sys.executable, "-c", child_prog],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
    )
    try:
        deadline = _time.time() + 120
        while not os.path.exists(os.path.join(barrier, "ready")):
            assert child.poll() is None, child.stderr.read().decode()[-2000:]
            assert _time.time() < deadline, "child never reached the barrier"
            _time.sleep(0.05)
        t0 = _time.time()
        qp = (
            spark.readStream.schema(spark.read.parquet(feed_p).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed_p)
            .writeStream.foreachBatch(
                lambda b, e: sink.write_batch_occ(b, e, writer_id="parent")
            )
            .option("checkpointLocation", str(tmp_path / "ckpt_p"))
            .trigger(availableNow=True)
            .start()
        )
        open(os.path.join(barrier, "go"), "w").close()
        from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (
            ConcurrentWriterError,
        )

        maintained_live = False
        passes = 0
        while qp.isActive or (child.poll() is None and not maintained_live):
            live_before = qp.isActive or child.poll() is None
            if passes >= 2 and maintained_live:
                _time.sleep(0.05)  # bounded maintenance, like prod cadence
                continue
            try:
                # snapshot-isolated OPTIMIZE (blocking metadata lock,
                # conflict-retried) — the maintenance shape that runs
                # BESIDE writers; a lost race against the two live
                # ingest streams is a legal outcome, retried next lap.
                # Two passes only: a continuous rewrite loop would
                # starve the streams' bounded OCC retries, which is a
                # misconfiguration, not a concurrency bug.
                sink.optimize(spark, files_per_partition=1)
            except ConcurrentWriterError:
                continue
            passes += 1
            maintained_live = maintained_live or live_before
        qp.awaitTermination()
        parent_interval = [t0, _time.time()]
        out, err = child.communicate(timeout=300)
        assert child.returncode == 0, err.decode()[-2000:]
    finally:
        if child.poll() is None:
            child.kill()
    with open(os.path.join(barrier, "child_interval")) as fh:
        child_interval = _json.load(fh)
    assert (
        parent_interval[0] < child_interval[1]
        and child_interval[0] < parent_interval[1]
    ), (parent_interval, child_interval)
    assert maintained_live
    got = sorted((r["k"], r["total"]) for r in sink.read(spark).collect())
    expected = sorted(
        (f"k{i}", 10 * i + (100 if i < 6 else 200)) for i in range(12)
    )
    assert got == expected, got


# -- generalized MERGE INTO (r10, VERDICT r9 item 3) -------------------------


def _merge_seed(spark, sink):
    d1, d2 = dt.datetime(2024, 1, 15, 10, 0), dt.datetime(2024, 1, 16, 11, 0)
    sink.write_batch(
        spark.createDataFrame(
            [("a", d1, 10), ("b", d1, 30), ("c", d2, 50), ("d", d2, 70)],
            "k string, window_start timestamp, total bigint",
        ),
        0,
    )
    return d1, d2


def test_merge_into_all_clause_types(spark, tmp_path):
    """One MERGE exercising every clause: conditional matched-update
    (SET reads both sides), conditional matched-delete, conditional
    not-matched-insert, conditional not-matched-by-source-delete —
    with exact row-level expectations and SQL UNKNOWN-never-fires
    semantics."""
    sink = _evo_sink(tmp_path)
    d1, d2 = _merge_seed(spark, sink)
    source = spark.createDataFrame(
        [
            ("a", d1, 100),   # matched, s.total >= 100 -> update
            ("b", d1, 5),     # matched, s.total < 100 -> delete
            ("e", d1, 200),   # not matched, s.total >= 50 -> insert
            ("f", d1, 7),     # not matched, s.total < 50 -> NOT inserted
        ],
        "k string, window_start timestamp, total bigint",
    )
    sink.merge_into(
        source,
        1,
        when_matched_update={"total": "s.total + t.total"},
        when_matched_update_condition="s.total >= 100",
        when_matched_delete_condition="s.total < 100",
        when_not_matched_insert=True,
        when_not_matched_insert_condition="s.total >= 50",
        when_not_matched_by_source_delete="t.k = 'c'",
    )
    got = sorted(
        (r["k"], r["total"]) for r in sink.read(spark).collect()
    )
    # a: updated 10+100; b: deleted; c: by-source-deleted; d: kept
    # (by-source condition false); e: inserted; f: filtered out
    assert got == [("a", 110), ("d", 70), ("e", 200)]
    # history records the commit
    ops = {r["epoch"]: r["op"] for r in sink.describe_history(spark).collect()}
    assert ops[1] == "merge"
    # time travel below the merge shows the pre-merge state
    assert sorted(r["k"] for r in sink.read_at(spark, 0).collect()) == [
        "a", "b", "c", "d",
    ]


def test_merge_into_unknown_condition_never_fires(spark, tmp_path):
    """NULL/UNKNOWN clause conditions must not fire (SQL MERGE
    semantics): a NULL-valued delete condition keeps the row."""
    sink = _evo_sink(tmp_path)
    d1, _ = _merge_seed(spark, sink)
    source = spark.createDataFrame(
        [("a", d1, None)], "k string, window_start timestamp, total bigint"
    )
    sink.merge_into(
        source,
        1,
        when_matched_delete_condition="s.total > 0",  # NULL -> UNKNOWN
        when_not_matched_insert=False,
    )
    assert sorted(r["k"] for r in sink.read(spark).collect()) == [
        "a", "b", "c", "d",
    ]


def test_merge_into_scope_and_emptied_partition(spark, tmp_path):
    """Copy-on-write scope is exact: a partition no clause touches is
    byte-identical; a partition whose every row a clause deletes is
    DROPPED (manifest entry gone, typed feed reports deletes)."""
    sink = _evo_sink(tmp_path)
    d1, d2 = _merge_seed(spark, sink)
    # delete every d1 row (matched unconditional), touch nothing else
    source = spark.createDataFrame(
        [("a", d1, 0), ("b", d1, 0)],
        "k string, window_start timestamp, total bigint",
    )
    probe = os.path.join(sink.path, "part_date=2024-01-16")
    inv = sorted(
        (f, os.path.getsize(os.path.join(probe, f)))
        for f in os.listdir(probe)
        if f.endswith(".parquet")
    )
    sink.merge_into(
        source,
        1,
        when_matched_delete_condition="true",
        when_not_matched_insert=False,
    )
    assert sorted(r["k"] for r in sink.read(spark).collect()) == ["c", "d"]
    assert not os.path.isdir(os.path.join(sink.path, "part_date=2024-01-15"))
    assert inv == sorted(
        (f, os.path.getsize(os.path.join(probe, f)))
        for f in os.listdir(probe)
        if f.endswith(".parquet")
    )
    typed = sorted(
        (r["change_type"], r["k"])
        for r in sink.read_changes_typed(spark, 0, 1).collect()
    )
    assert typed == [("delete", "a"), ("delete", "b")]


def test_merge_into_runs_one_candidates_job(spark, tmp_path, monkeypatch):
    """A MERGE with inserts on, whose key carries the partition source,
    derives its insert dirs and its candidate dirs from ONE
    ``_touched_candidates`` job over the staged source."""
    sink = _evo_sink(tmp_path)
    d1, d2 = _merge_seed(spark, sink)
    calls = []
    candidates = sink._touched_candidates
    monkeypatch.setattr(
        sink, "_touched_candidates", lambda rel: calls.append(1) or candidates(rel)
    )
    source = spark.createDataFrame(
        [("a", d1, 11), ("e", d2, 90)],
        "k string, window_start timestamp, total bigint",
    )
    sink.merge_into(source, 1, when_matched_update={"total": "s.total"})
    assert len(calls) == 1
    assert sorted((r["k"], r["total"]) for r in sink.read(spark).collect()) == [
        ("a", 11), ("b", 30), ("c", 50), ("d", 70), ("e", 90),
    ]


def test_merge_into_validation_and_version_guard(spark, tmp_path):
    """Guards: SET on a key/partition column raises; a clause-free
    merge raises; extra source columns raise; replaying a COMMITTED
    epoch is a version-guard no-op."""
    sink = _evo_sink(tmp_path)
    d1, _ = _merge_seed(spark, sink)
    src = spark.createDataFrame(
        [("a", d1, 1)], "k string, window_start timestamp, total bigint"
    )
    with pytest.raises(ValueError, match="key/partition"):
        sink.merge_into(src, 9, when_matched_update={"k": "s.k"})
    with pytest.raises(ValueError, match="WHEN clause"):
        sink.merge_into(src, 9, when_not_matched_insert=False)
    bad = src.withColumn("extra", F.lit(1))
    with pytest.raises(ValueError, match="not in the table"):
        sink.merge_into(bad, 9)
    sink.merge_into(
        src, 1, when_matched_update={"total": "t.total + s.total"}
    )
    assert [
        r["total"] for r in sink.read(spark).filter("k = 'a'").collect()
    ] == [11]
    # replay: the additive SET would re-apply without the guard
    sink.merge_into(
        src, 1, when_matched_update={"total": "t.total + s.total"}
    )
    assert [
        r["total"] for r in sink.read(spark).filter("k = 'a'").collect()
    ] == [11]


def test_merge_into_crash_between_commit_and_snapshot_recovers(
    spark, tmp_path, monkeypatch
):
    """A crash after the table swap but before the manifest publish
    leaves the epoch-marked staging; the replayed epoch finishes the
    commit from it (no re-merge, no divergence) — the same recovery
    contract as every other commit."""
    from real_time_ride_hailing_data_pipeline_spark.streaming import sinks as sk

    sink = _evo_sink(tmp_path, retries=0)
    d1, _ = _merge_seed(spark, sink)
    src = spark.createDataFrame(
        [("a", d1, 1)], "k string, window_start timestamp, total bigint"
    )
    real_snapshot = sk.ParquetUpsertSink._snapshot
    calls = {"n": 0}

    def dying_snapshot(self, *a, **kw):
        calls["n"] += 1
        raise RuntimeError("crash before the manifest publish")

    monkeypatch.setattr(sk.ParquetUpsertSink, "_snapshot", dying_snapshot)
    with pytest.raises(RuntimeError, match="manifest publish"):
        sink.merge_into(
            src, 1, when_matched_update={"total": "t.total + s.total"}
        )
    monkeypatch.setattr(sk.ParquetUpsertSink, "_snapshot", real_snapshot)
    assert os.path.isdir(sink.merged_path)  # staging survived the crash
    # the streaming replay re-runs the same epoch: recovery path
    sink.merge_into(
        src, 1, when_matched_update={"total": "t.total + s.total"}
    )
    assert [
        r["total"] for r in sink.read(spark).filter("k = 'a'").collect()
    ] == [11]  # applied exactly once
    assert 1 in sink.snapshots()
    assert not os.path.isdir(sink.merged_path)


# -- snapshot-isolated OPTIMIZE (r10, VERDICT r9 stretch) --------------------


def test_optimize_without_conflict_equals_compact(spark, tmp_path):
    """No concurrent writer: optimize() compacts every partition to
    the target file count with identical content, in one attempt."""
    sink = _evo_sink(tmp_path)
    rows = [
        (f"k{i}", dt.datetime(2024, 1, 15 + (i % 2), 10, i % 60), i)
        for i in range(100)
    ]
    sink.write_batch(
        spark.createDataFrame(
            rows, "k string, window_start timestamp, total bigint"
        ),
        0,
    )
    before = sorted((r["k"], r["total"]) for r in sink.read(spark).collect())
    res = sink.optimize(spark, files_per_partition=1)
    assert res["attempts"] == 1 and not res["skipped"]
    assert sorted(res["compacted"]) == [
        "part_date=2024-01-15", "part_date=2024-01-16",
    ]
    for d in res["compacted"]:
        pdir = os.path.join(sink.path, d)
        n = sum(
            1
            for f in os.listdir(pdir)
            if f.endswith(".parquet")
            and os.path.getsize(os.path.join(pdir, f)) > 0
        )
        assert n == 1, (d, n)
    assert before == sorted(
        (r["k"], r["total"]) for r in sink.read(spark).collect()
    )
    # leftovers cleaned
    assert not os.path.isdir(sink.path + "__optimize")
    assert not os.path.isdir(sink.path + "__optimize_pin")


def test_optimize_concurrent_merge_conflict_skip_and_retry(spark, tmp_path):
    """A merge lands mid-OPTIMIZE (after the unlocked rewrite, before
    the commit): the touched partition's fingerprint mismatches, its
    stale compacted copy is SKIPPED (merge rows win — no loss), the
    retry re-pins and compacts it; the untouched partition swapped on
    the first attempt. Final state equals the serial execution."""
    sink = _evo_sink(tmp_path)
    d1, d2 = _merge_seed(spark, sink)

    def mid_merge():
        sink.write_batch(
            spark.createDataFrame(
                [("a", d1, 9999), ("z", d1, 1)],
                "k string, window_start timestamp, total bigint",
            ),
            1,
        )

    res = sink.optimize(
        spark, files_per_partition=1, on_staged=mid_merge, max_retries=1
    )
    assert res["attempts"] == 2, res  # the conflict forced one retry
    assert not res["skipped"], res
    got = sorted((r["k"], r["total"]) for r in sink.read(spark).collect())
    assert got == [("a", 9999), ("b", 30), ("c", 50), ("d", 70), ("z", 1)]
    for d in ("part_date=2024-01-15", "part_date=2024-01-16"):
        pdir = os.path.join(sink.path, d)
        n = sum(
            1
            for f in os.listdir(pdir)
            if f.endswith(".parquet")
            and os.path.getsize(os.path.join(pdir, f)) > 0
        )
        assert n == 1, (d, n)


def test_optimize_retries_exhausted_reports_skipped(spark, tmp_path):
    """A writer that conflicts on EVERY attempt leaves the partition
    uncompacted but intact — optimize reports it in `skipped` and
    never blocks or loses the writer's rows."""
    sink = _evo_sink(tmp_path)
    d1, _ = _merge_seed(spark, sink)
    counter = {"n": 0}

    real_fp = type(sink)._dir_fingerprint

    def always_conflicting_merge():
        counter["n"] += 1
        sink.write_batch(
            spark.createDataFrame(
                [("a", d1, 1000 + counter["n"])],
                "k string, window_start timestamp, total bigint",
            ),
            counter["n"],
        )

    # fire the conflicting merge on EVERY attempt by hooking the
    # fingerprint check itself is overkill; instead re-run optimize
    # with max_retries=0 so the single conflicted attempt reports
    res = sink.optimize(
        spark,
        files_per_partition=1,
        on_staged=always_conflicting_merge,
        max_retries=0,
    )
    assert res["skipped"] == ["part_date=2024-01-15"], res
    assert "part_date=2024-01-16" in res["compacted"]
    got = sorted((r["k"], r["total"]) for r in sink.read(spark).collect())
    assert ("a", 1001) in got  # the merge's row survived untouched
    assert real_fp is type(sink)._dir_fingerprint  # no monkeying needed


def test_optimize_folds_deletion_vectors_and_sorts(spark, tmp_path):
    """optimize(sort_by=...) on a DV-bearing table folds the vectors
    into the clustered rewrite (sidecar gone, rows still hidden) and
    records fresh file stats that read_pruned uses."""
    sink = _evo_sink(tmp_path)
    rows = [
        (f"k{i}", dt.datetime(2024, 1, 15, 10, i % 60), i) for i in range(100)
    ]
    sink.write_batch(
        spark.createDataFrame(
            rows, "k string, window_start timestamp, total bigint"
        ),
        0,
    )
    sink.delete_keys(
        spark.createDataFrame(
            [("k99", dt.datetime(2024, 1, 15, 10, 39))],
            "k string, window_start timestamp",
        ),
        1,
        mode="merge_on_read",
    )
    res = sink.optimize(spark, files_per_partition=4, sort_by="total")
    assert not res["skipped"]
    pdir = os.path.join(sink.path, "part_date=2024-01-15")
    assert not os.path.exists(os.path.join(pdir, "_dv.json"))
    assert os.path.exists(os.path.join(pdir, "_stats.json"))
    assert sink.read(spark).count() == 99
    df, sel, tot = sink.read_pruned(spark, "total", lower=95)
    assert sel < tot
    assert sorted(r["total"] for r in df.collect()) == list(range(95, 99))


# -- z-order clustering + bloom point-lookup skipping (r10) ------------------


def _zb_sink(tmp_path, spark, n=4000, **kw):
    """A one-date sink over n rows with two independent numeric dims
    (a = id mod 97, b = hash-scattered 0..999) and a high-cardinality
    key k — the shape where lexicographic sort fails the trailing dim
    and min/max stats fail point probes."""
    sink = ParquetUpsertSink(
        str(tmp_path / "zb"), key_cols=("k", "window_start"), **kw
    )
    d = dt.datetime(2024, 1, 15, 10, 0)
    df = spark.range(n).select(
        F.concat(F.lit("u"), F.col("id")).alias("k"),
        F.lit(d).alias("window_start"),
        (F.col("id") % 97).alias("a"),
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("b"),
        F.col("id").alias("uid"),
    )
    sink.write_batch(df, 0)
    return sink


def test_zorder_prunes_every_dimension(spark, tmp_path):
    """compact(zorder_by=[a, b]) gives BOTH dimensions usefully narrow
    per-file ranges: read_pruned skips files on a AND on b, and both
    pruned reads equal the full-scan filter. Lexicographic sort_by on
    the same columns prunes a but reads every file for the same b
    predicate — the property z-ordering exists to fix."""
    sink = _zb_sink(tmp_path, spark)
    sink.compact(spark, files_per_partition=16, zorder_by=["a", "b"])
    full = sink.read(spark)
    da, sa, ta = sink.read_pruned(spark, "a", lower=90)
    db, sb, tb = sink.read_pruned(spark, "b", lower=900)
    assert sa < ta and sb < tb
    exp_a = full.filter("a >= 90")
    exp_b = full.filter("b >= 900")
    assert da.exceptAll(exp_a).count() == 0 and exp_a.exceptAll(da).count() == 0
    assert db.exceptAll(exp_b).count() == 0 and exp_b.exceptAll(db).count() == 0
    # the lexicographic baseline: same columns, trailing dim unprunable
    lex = _zb_sink(tmp_path / "lex", spark)
    lex.compact(spark, files_per_partition=16, sort_by=["a", "b"])
    _, la, lta = lex.read_pruned(spark, "a", lower=90)
    _, lb, ltb = lex.read_pruned(spark, "b", lower=900)
    assert la < lta  # leading dim prunes either way
    assert lb == ltb  # trailing dim: every file holds b's full domain
    assert sb < lb  # z-order strictly beats lexicographic on dim b


def test_zorder_validates_and_interops(spark, tmp_path):
    """sort_by and zorder_by are mutually exclusive; a z-ordered table
    keeps pruning after a merge refreshes the touched stats."""
    # write_distribution="none": this single-date fixture asserts the
    # MERGED partition still prunes — the r13 hash distribution writes
    # the merge as ONE file (nothing to skip within one partition at
    # toy scale), so pin the fragment layout the assertion needs.
    sink = _zb_sink(tmp_path, spark, n=500, write_distribution="none")
    with pytest.raises(ValueError, match="not both"):
        sink.compact(spark, sort_by="a", zorder_by=["b"])
    sink.compact(spark, files_per_partition=8, zorder_by=["a", "b"])
    sink.write_batch(
        spark.createDataFrame(
            [("u0", dt.datetime(2024, 1, 15, 10, 0), 999, 999, 0)],
            "k string, window_start timestamp, a long, b long, uid long",
        ),
        1,
    )
    df, sel, tot = sink.read_pruned(spark, "a", lower=999)
    assert [r["k"] for r in df.collect()] == ["u0"]
    assert sel < tot  # merged partition's stats refreshed, still pruning


def test_bloom_point_lookup_prunes_and_matches(spark, tmp_path):
    """create_bloom_index + read_point: a 3-value IN probe on the
    high-cardinality key reads a strict subset of files, returns
    exactly the full-scan rows, and an absent probe value returns
    empty (never a wrong row — the predicate re-applies)."""
    sink = _zb_sink(tmp_path, spark)
    sink.compact(spark, files_per_partition=16, zorder_by=["a", "b"])
    sink.create_bloom_index(spark, "uid", m=32_768, k=3)
    df, sel, tot = sink.read_point(spark, "uid", [5, 1234, 3999])
    assert sel < tot
    assert sorted(r["uid"] for r in df.collect()) == [5, 1234, 3999]
    # string-typed probe column works too (identical casts both sides)
    sink.create_bloom_index(spark, "k", m=32_768, k=3)
    dk, sk, tk = sink.read_point(spark, "k", ["u77"])
    assert sk < tk and [r["uid"] for r in dk.collect()] == [77]
    # absent values: possibly-fp files still yield zero rows
    miss, _, _ = sink.read_point(spark, "uid", [10_000_000])
    assert miss.count() == 0
    with pytest.raises(ValueError):
        sink.read_point(spark, "uid", [])
    with pytest.raises(ValueError):
        sink.read_point(spark, "uid", [None])


def test_bloom_survives_merge_delete_and_compact(spark, tmp_path):
    """The index is maintained by every commit: a merged-in key is
    findable AND the touched partition's blooms were rebuilt (no
    stale-skip); a DV delete needs no rebuild (supersets stay safe);
    compaction rebuilds for the rewritten layout; drop removes."""
    # write_distribution="none": the touched-partition bloom-rebuild
    # assertions need the merge to leave >1 file in the (single-date)
    # partition — see test_zorder_validates_and_interops.
    sink = _zb_sink(tmp_path, spark, n=1000, write_distribution="none")
    sink.compact(spark, files_per_partition=8)
    sink.create_bloom_index(spark, "uid", m=8192, k=3)
    d = dt.datetime(2024, 1, 15, 10, 0)
    sink.write_batch(
        spark.createDataFrame(
            [("new", d, 1, 1, 555_555)],
            "k string, window_start timestamp, a long, b long, uid long",
        ),
        1,
    )
    df, sel, tot = sink.read_point(spark, "uid", [555_555])
    assert [r["k"] for r in df.collect()] == ["new"]
    assert sel < tot  # rebuilt blooms on the swapped partition prune
    # DV delete: bloom untouched (over-approximation stays sound)
    sink.delete_keys(
        spark.createDataFrame([("new", d)], "k string, window_start timestamp"),
        2,
        mode="merge_on_read",
    )
    assert sink.read_point(spark, "uid", [555_555])[0].count() == 0
    # compact rebuilds for the new file layout (range-partitioned so
    # AQE cannot coalesce the rewrite to a single unprunable file)
    sink.compact(spark, files_per_partition=4, sort_by="a")
    df3, sel3, tot3 = sink.read_point(spark, "uid", [42])
    assert [r["uid"] for r in df3.collect()] == [42] and sel3 < tot3
    sink.drop_bloom_index("uid")
    df4, sel4, tot4 = sink.read_point(spark, "uid", [42])
    assert sel4 == tot4  # no index: every file read, rows still exact
    assert [r["uid"] for r in df4.collect()] == [42]


def test_read_point_composes_stats_and_degrades(spark, tmp_path):
    """Without any sidecars read_point reads everything but stays
    correct; with only min/max stats (no bloom) an out-of-range probe
    already prunes — the two axes compose per file."""
    sink = _zb_sink(tmp_path, spark, n=800)
    df, sel, tot = sink.read_point(spark, "uid", [7])
    assert sel == tot and [r["uid"] for r in df.collect()] == [7]
    sink.compact(spark, files_per_partition=8, sort_by="uid")
    df2, sel2, tot2 = sink.read_point(spark, "uid", [7])
    assert sel2 < tot2 and [r["uid"] for r in df2.collect()] == [7]


def test_merge_into_schema_evolution(spark, tmp_path):
    """MERGE with schema_evolution=True evolves additively: a
    source-only column lands on inserted rows, is SET-able on matched
    rows, and NULL-fills untouched partitions on read; without the
    opt-in the same source raises loudly; a later time travel below
    the merge reads the pre-evolution schema."""
    strict = _evo_sink(tmp_path / "strict")
    _merge_seed(spark, strict)
    d1 = dt.datetime(2024, 1, 15, 10, 0)
    source = spark.createDataFrame(
        [("a", d1, 100, "gold"), ("e", d1, 200, "silver")],
        "k string, window_start timestamp, total bigint, tier string",
    )
    with pytest.raises(ValueError, match="schema_evolution=True"):
        strict.merge_into(source, 1, when_matched_update={"total": "s.total"})

    sink = _evo_sink(tmp_path, schema_evolution=True)
    _merge_seed(spark, sink)
    sink.merge_into(
        source,
        1,
        when_matched_update={"total": "s.total + t.total", "tier": "s.tier"},
        when_not_matched_insert=True,
    )
    got = {
        r["k"]: (r["total"], r["tier"]) for r in sink.read(spark).collect()
    }
    # a: updated, gains tier; e: inserted with tier; b untouched in the
    # rewritten d1 partition; c/d live in the UNTOUCHED d2 partition
    # (physically lacking the column) and NULL-fill on read
    assert got == {
        "a": (110, "gold"),
        "b": (30, None),
        "c": (50, None),
        "d": (70, None),
        "e": (200, "silver"),
    }
    # type changes never evolve implicitly, opt-in or not
    bad = spark.createDataFrame(
        [("a", d1, 1.5)], "k string, window_start timestamp, total double"
    )
    with pytest.raises(ValueError, match="type change"):
        sink.merge_into(
            bad,
            2,
            when_matched_update={"total": "s.total"},
            when_not_matched_insert=False,
        )
    # time travel below the merge: pre-evolution schema, no tier
    assert "tier" not in sink.read_at(spark, 0).columns


def test_bloom_auto_sizes_to_file_rows(spark, tmp_path):
    """Default (auto) bloom sizing scales m to ~9.6 bits per row of
    the fattest file in each build, so compaction fattening the files
    RE-SIZES the blooms instead of saturating them (an all-ones bloom
    prunes nothing); probes recover m from the bitset length, so
    mixed sizes across rebuilds coexist."""
    import base64 as _b64
    import json as _json

    sink = _zb_sink(tmp_path, spark, n=4000)
    sink.compact(spark, files_per_partition=16, sort_by="a")
    sink.create_bloom_index(spark, "uid")  # auto m
    pdir = os.path.join(sink.path, "part_date=2024-01-15")
    with open(os.path.join(pdir, "_bloom.json")) as fh:
        small = _json.load(fh)["columns"]["uid"]["m"]
    # fatten: 16 files -> 2 files per date; the rebuild must re-size
    sink.compact(spark, files_per_partition=2, sort_by="a")
    with open(os.path.join(pdir, "_bloom.json")) as fh:
        data = _json.load(fh)
    big = data["columns"]["uid"]["m"]
    assert big > small  # ~8x the rows per file -> a bigger bitset
    # not saturated: a healthy bloom is mostly zeros at ~1% fp sizing
    bits = _b64.b64decode(next(iter(data["files"].values()))["uid"])
    ones = sum(bin(b).count("1") for b in bits)
    assert ones < len(bits) * 8 * 0.6
    df, sel, tot = sink.read_point(spark, "uid", [17])
    assert [r["uid"] for r in df.collect()] == [17] and sel < tot


def test_bloom_build_driver_traffic_is_metadata_sized(spark, tmp_path):
    """The index build is executor-side END TO END (VERDICT r10 item
    2): positions are hashed JVM-side, folded into O(m) numpy bitsets
    and written as per-dir sidecars BY THE EXECUTORS. The driver's
    only collects during a build are the auto-sizing row count and
    the per-dir acks — spied here via DataFrame.collect: bounded by
    the partition-dir count and carrying no bitset-sized payloads."""
    from pyspark.sql import DataFrame as _DF

    sink = ParquetUpsertSink(
        str(tmp_path / "t"), key_cols=("uid",), partition_source="ts"
    )
    df = spark.range(3000).select(
        F.col("id").alias("uid"),
        F.expr(
            "timestampadd(DAY, CAST(id % 5 AS INT), "
            "timestamp'2024-01-01 00:00:00')"
        ).alias("ts"),
    )
    sink.write_batch(df, 0)
    sink.compact(spark, files_per_partition=6)
    n_dirs = sum(
        1 for d in os.listdir(sink.path) if d.startswith("part_date=")
    )
    assert n_dirs == 5
    collected: list[list] = []
    orig = _DF.collect

    def spy(self):
        rows = orig(self)
        collected.append(rows)
        return rows

    _DF.collect = spy
    try:
        sink.create_bloom_index(spark, "uid")  # auto m: count + acks
    finally:
        _DF.collect = orig
    total_rows = sum(len(r) for r in collected)
    assert total_rows <= n_dirs + 1, total_rows
    for rows in collected:
        for row in rows:
            for cell in row:
                # a packed bitset is >= KBs of base64; acks/counts are
                # a dirname and small ints
                assert not (isinstance(cell, str) and len(cell) > 128)
    # and the executor-written sidecars actually power the probe
    for d in os.listdir(sink.path):
        if d.startswith("part_date="):
            assert os.path.exists(os.path.join(sink.path, d, "_bloom.json"))
    got, sel, tot = sink.read_point(spark, "uid", [7, 2999])
    assert sorted(r["uid"] for r in got.collect()) == [7, 2999]
    assert sel < tot


def test_bloom_rejects_unrenderable_types(spark, tmp_path):
    """Bloom declarations on columns whose Spark string CAST differs
    from Python str() (double/timestamp/boolean) are refused up
    front; non-int/str PROBE values on a valid index degrade to
    must-read instead of consulting the bitset (ADVICE r10 — a
    mismatched rendering would hash different bit positions than the
    build and silently skip files holding real matches)."""
    sink = _zb_sink(tmp_path, spark, n=500)
    sink.compact(spark, files_per_partition=8, sort_by="a")
    with pytest.raises(TypeError, match="unsupported"):
        sink.create_bloom_index(spark, "window_start")  # timestamp
    sink.create_bloom_index(spark, "uid", m=8192, k=3)
    # float probe of an integral index: 7.0 == 7 numerically, but
    # str(7.0)='7.0' hashes differently than the build's '7' — the
    # guard must read through the bloom, not skip the file
    got, _, _ = sink.read_point(spark, "uid", [7.0])
    assert [r["uid"] for r in got.collect()] == [7]
    # (a bool probe — int subclass, 'True' vs 'true' rendering — is
    # also guarded, but Spark's isin rejects BOOLEAN-vs-BIGINT at
    # analysis before the bloom could ever mis-skip, so only the
    # coercible float shape is exercisable end to end)


def test_index_maintenance_cost_is_o_rewritten_files(spark, tmp_path):
    """Mutating ONE partition of a bloom-indexed, clustered table
    re-stages sidecars for THAT partition only (VERDICT r10 item 3 —
    'can afford the index at 100 TB'): the other partitions'
    _bloom.json/_stats.json are untouched on disk (mtime-proven), the
    bloom rebuild runs against the staging root (never the live
    table), and the stats refresh reads only the staged files'
    parquet footers (spied via pyarrow.parquet.ParquetFile)."""
    import pyarrow.parquet as _pq

    sink = ParquetUpsertSink(
        str(tmp_path / "t"), key_cols=("uid",), partition_source="ts"
    )
    df = spark.range(5000).select(
        F.col("id").alias("uid"),
        (F.col("id") % 97).alias("a"),
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("b"),
        F.expr(
            "timestampadd(DAY, CAST(id % 5 AS INT), "
            "timestamp'2024-03-01 00:00:00')"
        ).alias("ts"),
    )
    sink.write_batch(df, 0)
    sink.set_clustering(["a", "b"], mode="zorder")
    sink.compact(spark, files_per_partition=6)  # applies recorded z
    sink.create_bloom_index(spark, "uid")
    dirs = sorted(
        d for d in os.listdir(sink.path) if d.startswith("part_date=")
    )
    assert len(dirs) == 5
    touched_dir = "part_date=2024-03-02"  # uid % 5 == 1

    def sidecar_mtimes():
        out = {}
        for d in dirs:
            for sc in ("_bloom.json", "_stats.json"):
                p = os.path.join(sink.path, d, sc)
                out[(d, sc)] = os.stat(p).st_mtime_ns
        return out

    before = sidecar_mtimes()
    footer_reads: list[str] = []
    build_roots: list[str] = []
    orig_pf = _pq.ParquetFile
    orig_build = ParquetUpsertSink._build_blooms

    def spy_pf(path, *a, **kw):
        footer_reads.append(str(path))
        return orig_pf(path, *a, **kw)

    def spy_build(self, sp, root):
        build_roots.append(root)
        return orig_build(self, sp, root)

    _pq.ParquetFile = spy_pf
    ParquetUpsertSink._build_blooms = spy_build
    try:
        batch = spark.createDataFrame(
            [(1_000_001, 1, 2, dt.datetime(2024, 3, 2, 12))],
            "uid long, a long, b long, ts timestamp",
        )
        sink.write_batch(batch, 1)
    finally:
        _pq.ParquetFile = orig_pf
        ParquetUpsertSink._build_blooms = orig_build
    after = sidecar_mtimes()
    for key, mt in before.items():
        d, _ = key
        if d == touched_dir:
            assert after[key] != mt, f"{key} not refreshed"
        else:
            assert after[key] == mt, f"{key} rebuilt for untouched dir"
    # the bloom rebuild ran against the merge staging, never the table
    assert build_roots and all(
        os.path.basename(r) != os.path.basename(sink.path) for r in build_roots
    )
    assert all(r == sink.merged_path for r in build_roots)
    # footer reads bounded by the REWRITTEN files (stats refresh reads
    # only the staged dir), not the table's file count
    staged_like = [p for p in footer_reads if touched_dir in p]
    assert footer_reads == staged_like, footer_reads
    table_files = sum(
        1
        for d in dirs
        for f in os.listdir(os.path.join(sink.path, d))
        if f.endswith(".parquet")
    )
    assert len(footer_reads) < table_files
    # maintained sidecars still prune and the new key is findable
    got, sel, tot = sink.read_point(spark, "uid", [1_000_001])
    assert [r["uid"] for r in got.collect()] == [1_000_001] and sel < tot
    _, sa, ta = sink.read_pruned(spark, "a", lower=90)
    assert sa < ta


def test_describe_files_empty_table_and_repair(spark, tmp_path, monkeypatch):
    """describe_files on a never-written table is an empty view (not
    FileNotFoundError) and shares the crashed-swap healing every
    other read path performs (ADVICE r10)."""
    sink = ParquetUpsertSink(str(tmp_path / "nv"), key_cols=("uid",))
    view = sink.describe_files(spark)
    assert view.count() == 0
    assert "has_bloom" in view.columns
    # a compaction that crashed mid-swap is finished before describing
    s2 = _zb_sink(tmp_path / "r", spark, n=200)
    s2.compact(spark, files_per_partition=2)
    _crash_mid_swap(monkeypatch)
    with pytest.raises(RuntimeError, match="mid-swap"):
        s2.compact(spark, files_per_partition=1)
    monkeypatch.undo()
    assert s2._staged_record()["op"] == "compact"
    files = s2.describe_files(spark)
    assert not os.path.isdir(s2.merged_path)  # healed, not described mid-swap
    assert files.count() > 0
    assert {r["part_date"] for r in files.collect()} == {
        d.split("=", 1)[1] for d in s2._part_dirs()
    }


def test_optimize_zorder_clusters_both_dims(spark, tmp_path):
    """optimize(zorder_by=...) z-clusters under the optimistic
    protocol: both dimensions prune afterwards, content is identical,
    and the stats sidecars rode the conflict-checked swap."""
    sink = _zb_sink(tmp_path, spark, n=2000)
    before = sorted(tuple(r) for r in sink.read(spark).collect())
    res = sink.optimize(spark, files_per_partition=8, zorder_by=["a", "b"])
    assert not res["skipped"]
    assert sorted(tuple(r) for r in sink.read(spark).collect()) == before
    _, sa, ta = sink.read_pruned(spark, "a", lower=90)
    _, sb, tb = sink.read_pruned(spark, "b", lower=900)
    assert sa < ta and sb < tb
    with pytest.raises(ValueError, match="not both"):
        sink.optimize(spark, sort_by="a", zorder_by=["b"])


def test_read_point_at_travels_with_bloom_and_rename(spark, tmp_path):
    """Point lookup at a PAST version: the epoch copies carry the
    bloom/stats sidecars as of that commit, the manifest fold plans
    the probe, a later poisoning merge is invisible, and the
    version's own schema resolves the probe column through a
    subsequent rename."""
    sink = ParquetUpsertSink(
        str(tmp_path / "t"),
        key_cols=("k", "window_start"),
        snapshot_dir=str(tmp_path / "snap"),
        # the epoch-copy bloom-pruning assertion needs the epoch-1
        # merge to leave >1 file in this single-date partition; the
        # r13 hash distribution would write it as one file
        write_distribution="none",
    )
    d = dt.datetime(2024, 1, 15, 10, 0)
    base = spark.createDataFrame(
        [(i, d, i * 10) for i in range(400)],
        "k long, window_start timestamp, total bigint",
    )
    sink.write_batch(base, 0)
    sink.compact(spark, files_per_partition=8, sort_by="total")
    sink.create_bloom_index(spark, "k")
    # epoch 1 pins the indexed layout into the log
    sink.write_batch(
        spark.createDataFrame(
            [(400, d, 4000)], "k long, window_start timestamp, total bigint"
        ),
        1,
    )
    # poison the live table (epoch 2), then rename a value column
    sink.write_batch(
        spark.createDataFrame(
            [(7, d, -1)], "k long, window_start timestamp, total bigint"
        ),
        2,
    )
    sink.rename_column(spark, "total", "amount", 3)
    df, sel, tot = sink.read_point_at(spark, 1, "k", [7, 399])
    assert sel < tot  # the epoch copy's bloom pruned the probe
    got = sorted((r["k"], r["total"]) for r in df.collect())
    assert got == [(7, 70), (399, 3990)]  # pre-poison values
    # absent key: zero rows even through bloom false positives
    assert sink.read_point_at(spark, 1, "k", [999_999])[0].count() == 0
    # probing the version under its THEN-name works across the later
    # rename (the version's schema sidecar resolves it), and the
    # clustered stats prune the equality probe
    dft, selt, tott = sink.read_point_at(spark, 1, "total", [70])
    assert selt < tott
    assert [(r["k"], r["total"]) for r in dft.collect()] == [(7, 70)]
    # the LIVE probe on k sees the poison under the NEW value name
    live, _, _ = sink.read_point(spark, "k", [7])
    assert [r["amount"] for r in live.collect()] == [-1]


def test_describe_files_reports_layout_and_debt(spark, tmp_path):
    """describe_files: one metadata-only row per live data file with
    size, stats/bloom coverage, and DV delete debt — consistent with
    the planner's consolidated view across compact/index/delete."""
    sink = _zb_sink(tmp_path, spark, n=500)
    sink.compact(spark, files_per_partition=4, sort_by="a")
    sink.create_bloom_index(spark, "uid")
    d = dt.datetime(2024, 1, 15, 10, 0)
    sink.delete_keys(
        spark.createDataFrame([("u7", d)], "k string, window_start timestamp"),
        1,
        mode="merge_on_read",
    )
    det = sink.describe_files(spark).collect()
    assert len(det) == 4  # one date partition, 4 files
    assert all(r["bytes"] > 0 for r in det)
    assert all(r["has_stats"] and r["has_bloom"] for r in det)
    assert sum(r["dv_deleted_rows"] for r in det) == 1
    # the view agrees with the planner's file census
    _, _, tot = sink.read_pruned(spark, "a", lower=10**9)
    assert tot == len(det)


def test_recorded_clustering_is_maintained_by_every_rewrite(spark, tmp_path):
    """set_clustering (the liquid-clustering UX): declared once,
    every compact/auto-compact/optimize without explicit arguments
    re-applies it — the post-merge auto-compaction keeps BOTH z-order
    dimensions pruning without anyone passing zorder_by again; the
    declaration survives the first-batch overwrite and explicit
    arguments still override."""
    sink = ParquetUpsertSink(
        str(tmp_path / "t"),
        key_cols=("k", "window_start"),
        auto_compact_files=6,
    )
    with pytest.raises(ValueError, match="mode"):
        sink.set_clustering(["a"], mode="hilbert")
    sink.set_clustering(["a", "b"], mode="zorder")  # BEFORE the table exists
    d = dt.datetime(2024, 1, 15, 10, 0)
    df = spark.range(2000).select(
        F.concat(F.lit("u"), F.col("id")).alias("k"),
        F.lit(d).alias("window_start"),
        (F.col("id") % 97).alias("a"),
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("b"),
    )
    sink.write_batch(df, 0)
    assert os.path.exists(os.path.join(sink.path, "_clustering.json"))
    sink.compact(spark, files_per_partition=8)  # no explicit clustering
    _, sa, ta = sink.read_pruned(spark, "a", lower=90)
    _, sb, tb = sink.read_pruned(spark, "b", lower=900)
    assert sa < ta and sb < tb  # recorded z-order applied
    # a merge fattens the partition past auto_compact_files: the auto
    # compaction re-clusters (file count collapses AND stats stay)
    sink.write_batch(
        spark.createDataFrame(
            [("u0", d, 999, 999)],
            "k string, window_start timestamp, a long, b long",
        ),
        1,
    )
    df2, s2, t2 = sink.read_pruned(spark, "a", lower=999)
    assert [r["k"] for r in df2.collect()] == ["u0"]
    # explicit arguments still override the recorded clustering
    sink.compact(spark, files_per_partition=8, sort_by="b")
    _, sb2, tb2 = sink.read_pruned(spark, "b", lower=900)
    assert sb2 < tb2
    sink.clear_clustering()
    assert sink._clustering() is None


def test_merge_into_first_commit_republishes_constraints(spark, tmp_path):
    """A pre-table CHECK constraint must survive a merge_into FIRST
    commit (the overwrite truncates the table dir; the sidecar was
    captured before — previously it was re-read afterwards and
    silently lost)."""
    sink = _evo_sink(tmp_path)
    sink.add_constraint(spark, "positive", "total >= 0")
    d = dt.datetime(2024, 1, 15, 10, 0)
    sink.merge_into(
        spark.createDataFrame(
            [("a", d, 5)], "k string, window_start timestamp, total bigint"
        ),
        0,
        when_not_matched_insert=True,
    )
    assert sink._constraints() == {"positive": "total >= 0"}
    from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (
        ConstraintViolationError,
    )

    with pytest.raises(ConstraintViolationError):
        sink.write_batch(
            spark.createDataFrame(
                [("bad", d, -1)], "k string, window_start timestamp, total bigint"
            ),
            1,
        )


def test_zorder_three_dimensions(spark, tmp_path):
    """Z-order generalizes past two dims: with zorder_by=[a, b, c]
    every dimension gets usefully narrow per-file ranges (the
    per-dim selectivity relaxes toward 1/files^(1/3), still far
    better than lexicographic's nothing on trailing dims)."""
    sink = ParquetUpsertSink(str(tmp_path / "t3"), key_cols=("k", "window_start"))
    d = dt.datetime(2024, 1, 15, 10, 0)
    df = spark.range(8000).select(
        F.concat(F.lit("u"), F.col("id")).alias("k"),
        F.lit(d).alias("window_start"),
        (F.col("id") % 101).alias("a"),
        F.pmod(F.xxhash64("id"), F.lit(100)).alias("b"),
        F.pmod(F.xxhash64(F.col("id") + 7), F.lit(100)).alias("c"),
    )
    sink.write_batch(df, 0)
    sink.compact(spark, files_per_partition=32, zorder_by=["a", "b", "c"])
    full = sink.read(spark)
    for col in ("a", "b", "c"):
        pruned, sel, tot = sink.read_pruned(spark, col, lower=95)
        assert sel < tot, f"{col}: {sel}/{tot}"
        exp = full.filter(F.col(col) >= 95)
        assert pruned.exceptAll(exp).count() == 0
        assert exp.exceptAll(pruned).count() == 0


def test_partition_axis_composes_with_file_skipping(spark, tmp_path):
    """source_lower/source_upper on read_pruned / read_point: dirs
    whose period is provably outside the bound skip WHOLE (the first
    pruning axis), the per-file checks run only inside, the bound
    re-applies as a predicate, and results equal the full-scan
    filter; the NULL partition is excluded by any bound; a
    month-granularity dir parses by its own layout."""
    sink = ParquetUpsertSink(
        str(tmp_path / "t"), key_cols=("k", "ts"), partition_source="ts"
    )
    df = spark.range(4000).select(
        F.col("id").alias("k"),
        (F.col("id") % 997).alias("v"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00")) +
         F.make_interval(days=(F.col("id") % 8).cast("int"))).alias("ts"),
    )
    sink.write_batch(df, 0)
    sink.compact(spark, files_per_partition=4, sort_by="v")
    full = sink.read(spark)
    lo = dt.datetime(2024, 1, 3)
    hi = dt.datetime(2024, 1, 4, 23, 59, 59)
    got, sel, tot = sink.read_pruned(
        spark, "v", lower=990, source_lower=lo, source_upper=hi
    )
    exp = full.filter((F.col("v") >= 990) & (F.col("ts") >= lo) & (F.col("ts") <= hi))
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0
    # 2 of 8 dirs eligible, then stats prune within them: at most
    # 2*4 files chosen of 32 total
    assert sel <= 8 and tot == 32
    # point probe with the same partition bound
    sink.create_bloom_index(spark, "k")
    pg, ps, pt = sink.read_point(
        spark, "k", [2, 3999], source_lower=lo, source_upper=hi
    )
    # k=2 falls on 2024-01-03 (in range), k=3999 on 2024-01-08 (out)
    assert [r["k"] for r in pg.collect()] == [2]
    assert ps < pt
    # no bounds: unchanged behavior
    allp, s0, t0 = sink.read_pruned(spark, "v", lower=990)
    assert allp.count() == full.filter("v >= 990").count()
