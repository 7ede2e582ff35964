"""Session hygiene of the registry's streaming entries, and the
``scoped_conf`` pin they run under.

Whole-registry runs (the driver, the bench, the oracle and plan sweeps)
execute every entry in ONE SparkSession. An entry that leaves a
persisted RDD, an active StreamingQuery, a registered streaming
listener, a changed conf or an untracked temp directory behind changes
every later entry's plan and timing, and a temp directory nothing
removes outlives the process.
"""

from __future__ import annotations

import datetime as dt
import os
import tempfile

import pytest

from real_time_ride_hailing_data_pipeline_spark import queries as q
from real_time_ride_hailing_data_pipeline_spark.session import scoped_conf
from real_time_ride_hailing_data_pipeline_spark.sources.pgwire import EmbeddedPostgres
from real_time_ride_hailing_data_pipeline_spark.streaming import job as sj
from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (
    ConstraintViolationError,
    ParquetUpsertSink,
)

_PARTS = "spark.sql.shuffle.partitions"
_UNSET_KEY = "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"

# the roots a replay's temp dirs can land in: the process temp dir and
# _workdir's tmpfs root
_TEMP_ROOTS = [r for r in (tempfile.gettempdir(), "/dev/shm") if os.path.isdir(r)]


def _rtrh_dirs() -> set[str]:
    return {
        os.path.join(root, f)
        for root in _TEMP_ROOTS
        for f in os.listdir(root)
        if f.startswith("rtrh_")
    }


def _removed_at_exit() -> set[str]:
    """Temp dirs an exit hook removes: every replay workdir and
    ``queries._scratch_dir`` tree, and the data dir of the embedded
    Postgres server (one per process)."""
    pg = EmbeddedPostgres._instance
    return set(sj._WORKDIRS) | ({pg._base} if pg is not None else set())


def _persisted_rdd_ids(spark) -> set[int]:
    """Ids, not a count: the context cleaner may drop an RDD an earlier
    test left persisted while the entry runs, which would hide one the
    entry leaves."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _listener_count(spark) -> int:
    return len(spark.streams._jsqm.listListeners())


def _assert_entry_is_hygienic(spark, sf_dir, name) -> None:
    rdds = _persisted_rdd_ids(spark)
    listeners = _listener_count(spark)
    parts = spark.conf.get(_PARTS, None)
    dirs = _rtrh_dirs()

    q.all_queries()[name](spark, sf_dir).collect()

    left = _persisted_rdd_ids(spark) - rdds
    assert not left, f"{name}: persisted RDDs left: {sorted(left)}"
    assert not spark.streams.active, f"{name}: streaming query left running"
    assert _listener_count(spark) == listeners, f"{name}: listener left registered"
    assert spark.conf.get(_PARTS, None) == parts, f"{name}: {_PARTS} changed"
    untracked = _rtrh_dirs() - dirs - _removed_at_exit()
    assert not untracked, f"{name}: temp dirs nothing removes: {sorted(untracked)}"


# one entry per harness shape: the city-metrics replay (foreachBatch
# upsert sink), a single-file source without a wrapper dir, the
# row-level foreach sink, a format(...) path sink, the CDC replica
# proof (persist/unpersist), and a checkpoint read back by a state
# data source
_SMOKE = [
    "streaming_city_metrics_replay",
    "stream_static_enrichment",
    "streaming_foreach_row_sink",
    "streaming_rate_source_buckets",
    "streaming_cdc_downstream_apply",
    "statestore_open_windows",
]

# every registry entry that calls into streaming/job.py
_STREAMING_ENTRIES = [
    "streaming_dedup_replay",
    "stream_static_enrichment",
    "stream_stream_join_purchase_attribution",
    "stateful_sessionizer_closed_sessions",
    "transform_with_state_running_totals",
    "python_stream_source_city_fares",
    "streaming_city_metrics_replay",
    "streaming_sliding_replay",
    "streaming_complete_topk_replay",
    "streaming_append_replay",
    "streaming_fanout_replay",
    "streaming_snapshot_time_travel",
    "lakehouse_clone_divergence",
    "lakehouse_rename_drop_evolution",
    "lakehouse_update_where",
    "lakehouse_check_constraint_gate",
    "lakehouse_file_skipping_read",
    "lakehouse_merge_into_full",
    "lakehouse_time_travel_pruned_read",
    "lakehouse_partition_file_skipping_stack",
    "lakehouse_point_lookup_time_travel",
    "optimize_concurrent_merge_race",
    "lakehouse_concurrent_disjoint_writers",
    "streaming_ingest_concurrent_maintenance",
    "streaming_multi_writer_occ_ingest",
    "lakehouse_zorder_two_dim_skipping",
    "lakehouse_bloom_point_lookup",
    "lakehouse_clustered_ingest_maintained",
    "lakehouse_merge_schema_evolution",
    "multi_table_txn_consistency",
    "streaming_commit_history_replay",
    "streaming_restore_version_replay",
    "streaming_timestamp_travel_replay",
    "streaming_snapshot_history",
    "streaming_snapshot_change_feed",
    "streaming_compaction_roundtrip",
    "streaming_jdbc_replay",
    "streaming_postgres_replay",
    "ann_lsh_indexed_topk",
    "ann_ivf_indexed_topk",
    "ann_ivf_streaming_ingest_topk",
    "ann_ivf_indexed_batch_topk",
    "stream_stream_left_outer_attribution",
    "stream_stream_full_outer_attribution",
    "statestore_open_windows",
    "python_datasink_city_fares",
    "python_stream_sink_city_fares",
    "streaming_rate_source_buckets",
    "streaming_schema_evolution_replay",
    "streaming_foreach_row_sink",
    "streaming_delete_change_feed",
    "streaming_dv_delete_replay",
    "streaming_cdc_downstream_apply",
    "streaming_cdf_source_replay",
    "state_metadata_operators",
    "streaming_partition_evolution_replay",
]


@pytest.mark.parametrize("name", _SMOKE)
def test_streaming_entry_leaves_session_clean(spark, sf_dir, name):
    _assert_entry_is_hygienic(spark, sf_dir, name)


@pytest.mark.slow
@pytest.mark.parametrize("name", _STREAMING_ENTRIES)
def test_every_streaming_entry_leaves_session_clean(spark, sf_dir, name):
    if name not in q.all_queries():
        # transform_with_state_running_totals needs protobuf and
        # streaming_postgres_replay the server binaries; each registers
        # only where its dependency exists
        pytest.skip(f"{name} is not registered in this environment")
    _assert_entry_is_hygienic(spark, sf_dir, name)


def test_scratch_dir_entry_leaves_session_clean(spark, sf_dir, monkeypatch):
    # a fresh per-kind map, so the entry makes its scratch dir here even
    # when an earlier test in this process made it first
    monkeypatch.setattr(q, "_SCRATCH_DIRS", {})
    _assert_entry_is_hygienic(spark, sf_dir, "csv_source_agg")


def test_write_batch_releases_its_persisted_batch(spark, tmp_path, monkeypatch):
    """``write_batch`` persists the micro-batch for one commit and
    releases it on every exit: an empty batch, a refused batch, a crash
    inside the stage and the replay of the epoch that crash left
    staged."""
    sink = ParquetUpsertSink(
        str(tmp_path / "t"), key_cols=("k", "window_start"), retries=0
    )
    schema = "k string, window_start timestamp, total bigint"
    d = dt.datetime(2024, 1, 15, 10, 0)
    sink.write_batch(spark.createDataFrame([("a", d, 1)], schema), 0)
    sink.add_constraint(spark, "positive", "total > 0")
    before = _persisted_rdd_ids(spark)

    def assert_released(step):
        left = _persisted_rdd_ids(spark) - before
        assert not left, f"{step}: persisted RDDs left: {sorted(left)}"

    sink.write_batch(spark.createDataFrame([], schema), 1)
    assert_released("empty batch")

    with pytest.raises(ConstraintViolationError, match="positive"):
        sink.write_batch(spark.createDataFrame([("b", d, -1)], schema), 2)
    assert_released("constraint violation")

    stage = sink._stage

    def stage_then_crash(*args, **kwargs):
        stage(*args, **kwargs)
        raise RuntimeError("crash after the stage")

    monkeypatch.setattr(sink, "_stage", stage_then_crash)
    batch = spark.createDataFrame([("c", d, 3)], schema)
    with pytest.raises(RuntimeError, match="crash after the stage"):
        sink.write_batch(batch, 3)
    assert_released("crash inside _stage")

    monkeypatch.undo()
    sink.write_batch(batch, 3)  # recovery installs the staged epoch
    assert_released("replayed epoch")
    assert sorted(r["k"] for r in sink.read(spark).collect()) == ["a", "c"]


def test_scoped_conf_restores_a_set_key(spark):
    before = spark.conf.get(_PARTS)
    with scoped_conf(spark, **{_PARTS: "3"}):
        assert spark.conf.get(_PARTS) == "3"
    assert spark.conf.get(_PARTS) == before


def test_scoped_conf_unsets_a_key_that_was_unset(spark):
    assert spark.conf.get(_UNSET_KEY, None) is None
    with scoped_conf(spark, **{_UNSET_KEY: "10KB"}):
        assert spark.conf.get(_UNSET_KEY) == "10KB"
    assert spark.conf.get(_UNSET_KEY, None) is None


def test_scoped_conf_restores_both_when_the_body_raises(spark):
    before = spark.conf.get(_PARTS)
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_conf(spark, **{_PARTS: "3", _UNSET_KEY: "10KB"}):
            raise RuntimeError("boom")
    assert spark.conf.get(_PARTS) == before
    assert spark.conf.get(_UNSET_KEY, None) is None
