"""Custom-state (applyInPandasWithState) checkpoint tests: the
sessionizer's keyed state must survive restarts — sessions spanning
micro-batches and runs count correctly, the strongest custom-operator
guarantee.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil

from pyspark.sql import types as T

from real_time_ride_hailing_data_pipeline_spark.session import scoped_conf
from real_time_ride_hailing_data_pipeline_spark.streaming import job as sj
from real_time_ride_hailing_data_pipeline_spark.streaming.stateful import sessionize

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

T0 = dt.datetime(2024, 5, 1, 9, 0, 0)


def _ev(eid, user, minutes):
    return (eid, T0 + dt.timedelta(minutes=minutes), user, "view", 1.0, "{}")


def _write(spark, rows, source_dir, name, mtime):
    staging = os.path.join(os.path.dirname(source_dir.rstrip("/")), f"_st_{name}")
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(staging)
    part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
    os.makedirs(source_dir, exist_ok=True)
    dest = os.path.join(source_dir, f"{name}.parquet")
    shutil.copyfile(part, dest)
    os.utime(dest, (mtime, mtime))
    shutil.rmtree(staging)


def _run(spark, source_dir, out_dir, ckpt):
    stream = sj.events_parquet_stream(spark, source_dir)
    sessions = sessionize(stream, gap_seconds=30 * 60, watermark="1 hour")

    def write(df, epoch):
        df.write.mode("append").parquet(out_dir)

    with scoped_conf(spark, **{"spark.sql.shuffle.partitions": "4"}):
        q = (
            sessions.writeStream.outputMode("append")
            .foreachBatch(write)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def test_transform_with_state_plan_builds_and_gate_is_explicit(spark, tmp_path):
    """Spark 4 transformWithStateInPandas surface: the logical plan
    builds (typed StatefulProcessor + ValueState wiring is correct);
    EXECUTION needs the protobuf package, absent in this container —
    the runner must fail with the explicit environment error, and the
    full oracle-checked run is covered wherever protobuf exists."""
    import pytest

    from real_time_ride_hailing_data_pipeline_spark.streaming.stateful import (
        running_user_totals,
    )

    stream = sj.events_parquet_stream(
        spark, "/root/testdata/sf0.001/events.parquet",
        wrapper_dir=str(tmp_path / "w"),
    )
    df = running_user_totals(stream)  # plan construction must succeed
    assert df.isStreaming
    assert set(df.schema.fieldNames()) == {
        "user_id", "n_events", "total_value_c", "last_ts",
    }
    try:
        import google.protobuf  # noqa: F401
        has_protobuf = True
    except ImportError:
        has_protobuf = False
    from real_time_ride_hailing_data_pipeline_spark import queries as q

    # the registry entry must track the gate: present (and then driver-
    # verified) exactly where the package exists, absent otherwise
    assert ("transform_with_state_running_totals" in q.all_queries()) == has_protobuf
    assert ("transform_with_state_running_totals" in q.all_oracles()) == has_protobuf

    if not has_protobuf:
        with pytest.raises(EnvironmentError, match="protobuf"):
            sj.run_running_user_totals(spark, "/root/testdata/sf0.001")
    else:
        out = sj.run_running_user_totals(spark, "/root/testdata/sf0.001")
        from real_time_ride_hailing_data_pipeline_spark import catalog
        from pyspark.sql import functions as F

        batch = {
            tuple(r)
            for r in catalog.load_table(spark, "/root/testdata/sf0.001", "events")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_value_c"),
                F.max("ts").alias("last_ts"),
            )
            .collect()
        }
        assert {tuple(r) for r in out.collect()} == batch


def test_session_state_survives_restart(spark, tmp_path):
    """A session OPEN at the end of run 1 (user 1's events at minutes
    0 and 10) must be continued — not restarted — by run 2's events at
    minute 20, then closed by the later gap: the emitted session
    counts all 3 events across both runs. State restoration from the
    checkpoint is the thing under test."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # run 1: user 1 opens a session (2 events)
    _write(spark, [_ev(1, 1, 0), _ev(2, 1, 10)], src, "b1", 1_700_000_000)
    _run(spark, src, out, ckpt)
    assert not os.path.exists(out) or len(glob.glob(out + "/*.parquet")) >= 0

    # run 2 (restart, same checkpoint): user 1 continues at minute 20,
    # then a >=30-min gap (minute 70) closes the session
    _write(spark, [_ev(3, 1, 20), _ev(4, 1, 70)], src, "b2", 1_700_000_100)
    _run(spark, src, out, ckpt)

    rows = {
        (r["user_id"], r["session_start"].minute, r["session_last"].minute, r["n_events"])
        for r in spark.read.parquet(out).collect()
    }
    # the closed session spans runs: started minute 0, last minute 20,
    # THREE events (a restart that lost state would report 1 or 2)
    assert (1, 0, 20, 3) in rows
    # the minute-70 session is still open (in state), not emitted
    assert not any(s == 70 for (_, s, _, _) in rows)


def test_late_events_merge_into_open_session(spark, tmp_path):
    """Late events (within the watermark) arriving in a LATER run with
    timestamps inside or before the stored open session must merge into
    it — not drag the session end backwards. Run 1 opens (10..20); run
    2 delivers late minutes 5 and 15 plus minute 80 (a closing gap).
    The closed session must be (5, 20, 4): start pulled back to 5, end
    NOT moved back from 20, all four events counted."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write(spark, [_ev(1, 1, 10), _ev(2, 1, 20)], src, "b1", 1_700_000_000)
    _run(spark, src, out, ckpt)

    _write(
        spark, [_ev(3, 1, 5), _ev(4, 1, 15), _ev(5, 1, 80)], src, "b2", 1_700_000_100
    )
    _run(spark, src, out, ckpt)

    rows = {
        (r["user_id"], r["session_start"].minute, r["session_last"].minute, r["n_events"])
        for r in spark.read.parquet(out).collect()
    }
    assert (1, 5, 20, 4) in rows
    # the minute-80 session is still open (in state), not emitted
    assert not any(s == 80 for (_, s, _, _) in rows)


def test_hot_user_history_folds_to_intervals(spark, tmp_path):
    """One hot user with 100k events replayed availableNow must fold
    chunk-by-chunk into interval tuples (memory O(sessions), not
    O(events)). Arrow chunk size is pinned to 5k rows so the group
    arrives as ~20 chunks whose boundaries do NOT align with session
    gaps — the cross-chunk interval merge is the thing under test.
    Layout: 100k events at 1-second spacing in 10 bursts of 10k,
    bursts separated by 40 min (> the 30-min gap) → 9 closed sessions
    of exactly 10k events each, the 10th still open."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    burst_len, n_bursts = 10_000, 10
    rows = []
    for b in range(n_bursts):
        base = T0 + dt.timedelta(minutes=b * (burst_len // 60 + 40))
        rows.extend(
            (b * burst_len + i, base + dt.timedelta(seconds=i), 1, "view", 1.0, "{}")
            for i in range(burst_len)
        )
    _write(spark, rows, src, "hot", 1_700_000_000)

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5000")
    try:
        _run(spark, src, out, ckpt)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

    got = sorted(
        (r["session_start"], r["session_last"], r["n_events"])
        for r in spark.read.parquet(out).collect()
    )
    assert len(got) == n_bursts - 1
    assert all(n == burst_len for _, _, n in got)
    assert all((e - s).total_seconds() == burst_len - 1 for s, e, _ in got)
