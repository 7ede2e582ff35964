"""Tests of the benchmark itself: the file -> micro-batch attribution,
span self time, and a tiny-scale run of each workload, which must pass
its own correctness check.

Run from the root of a checkout: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from measure import Tracer, attribute_files, executed_batches  # noqa: E402


def _progress(batch_id, rows, executed=True):
    duration = {"triggerExecution": 5}
    if executed:
        duration["addBatch"] = 3
    return {"batchId": batch_id, "numInputRows": rows, "durationMs": duration}


def test_attribution_follows_cumulative_input_rows():
    progress = [
        _progress(0, 0, executed=False),  # idle update before any data
        _progress(0, 500),
        _progress(1, 0),  # a no-data batch
        _progress(2, 750),
        _progress(3, 0, executed=False),  # idle update, same id as the next batch
    ]
    batches = executed_batches(progress)
    assert [b["batchId"] for b in batches] == [0, 1, 2]
    owner = attribute_files([250, 250, 250, 250, 250, 250, 250],
                            [(b["batchId"], b["numInputRows"]) for b in batches])
    assert owner == [0, 0, 2, 2, 2, None, None]


def test_attribution_rejects_a_batch_boundary_inside_a_file():
    with pytest.raises(ValueError):
        attribute_files([250, 250], [(0, 300), (1, 200)])


def test_self_time_subtracts_covered_child_time():
    tracer = Tracer(True)
    parent = tracer.add("trigger", 0.0, 10.0)
    tracer.add("commit", 2.0, 5.0, parent)
    tracer.add("probe", 4.0, 6.0, parent)  # overlaps the commit by 1 s
    tracer.add("commit", 9.0, 12.0, parent)  # runs past the parent's end
    self_times = tracer.self_times()
    assert self_times["trigger"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert self_times["commit"] == pytest.approx(6.0)
    assert Tracer(False).add("x", 0.0, 1.0) is None


@pytest.fixture(scope="module")
def spark():
    os.environ["TZ"] = "UTC"
    time.tzset()
    from real_time_ride_hailing_data_pipeline_spark.session import get_spark

    session = get_spark(cpus=2, extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield session
    session.stop()


TINY = dict(
    live_rate=200, live_trigger="1 second", live_warmup_s=1.0, live_warmup_rows=500,
    backlog_rows=6_000, backlog_file_rows=1_000, backlog_files_per_trigger=2,
    table_hours=26, table_events_per_hour=600, table_versions=3, as_of_version=1,
    pipeline_rows=5_000,
)


@pytest.mark.parametrize("workload", ["live_freshness", "backfill_catchup", "dashboard_reads"])
def test_tiny_workload_passes_its_checks(spark, tmp_path, workload):
    import workloads

    run = workloads.Run(
        spark=spark, workdir=str(tmp_path), seed=7, seconds=3.0, tracer=Tracer(True),
        sizes=workloads.Sizes(**TINY), started=time.perf_counter(),
    )
    workloads.WORKLOADS[workload](run)
    assert run.errors == []
    assert run.attempted > 0 and run.failed == 0
    assert set(run.e2e) == {"setup_s", "latency_p50_s", "latency_p90_s", "rows_per_s"}
    assert all(v > 0 for v in run.e2e.values())
    assert run.layer["sink.commits"] > 0
    assert run.layer["state.rows_dropped_by_watermark"] == 0
    assert run.layer["sink.read_s_p50.as_of"] > 0
    assert run.layer["pipeline.rows_per_s"] > 0
