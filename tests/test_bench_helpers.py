"""Unit tests for bench.py's harness helpers (no SparkSession): the
streaming machinery/operator split accounting and its zero-overhead
guarantee for batch queries."""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import drain_listener, fold_third_sample  # noqa: E402


class _FakeListener:
    def __init__(self) -> None:
        self.events = 0
        self.trigger_ms = 0
        self.add_batch_ms = 0


def test_drain_is_noop_for_batch_queries():
    """A batch query (no new events, no 'stream' in the name) must not
    pay any poll sleep — 149 registry queries x even 0.1 s would add
    15 s of pure harness time to every bench run."""
    lst = _FakeListener()
    t0 = time.perf_counter()
    drain_listener(lst, baseline_events=0, name="tpch_q1_pricing_summary")
    assert time.perf_counter() - t0 < 0.05


def test_drain_waits_for_stability_then_returns():
    """When events arrived, drain polls until the count stops moving —
    and returns promptly once stable (well under the 2 s cap)."""
    lst = _FakeListener()
    lst.events = 3  # events already delivered during the query
    t0 = time.perf_counter()
    drain_listener(lst, baseline_events=0, name="streaming_city_metrics_replay")
    elapsed = time.perf_counter() - t0
    assert elapsed < 1.0  # two stable polls, not the full 2 s timeout


def test_third_sample_moves_a_streaming_wall_only_with_its_split():
    """The retimed wall of a streaming entry and its machinery split
    come from the same run: a third sample that fired no listener
    events, or lost to the split's best, leaves both as they were; one
    that beat it replaces both. A batch entry keeps the plain min."""
    best = {"wall": 5.0, "trigger_exec": 4.0, "add_batch": 3.0}
    stable = {"streaming_x": 5.0, "batch_y": 3.0}
    split_stable = {"streaming_x": dict(best)}

    fold_third_sample("streaming_x", 4.0, None, stable, split_stable)
    assert stable["streaming_x"] == 5.0 and split_stable["streaming_x"] == best
    slower = {"wall": 6.0, "trigger_exec": 5.0, "add_batch": 4.0}
    fold_third_sample("streaming_x", 6.0, slower, stable, split_stable)
    assert stable["streaming_x"] == 5.0 and split_stable["streaming_x"] == best

    faster = {"wall": 4.0, "trigger_exec": 3.5, "add_batch": 2.5}
    fold_third_sample("streaming_x", 4.0, faster, stable, split_stable)
    assert stable["streaming_x"] == 4.0 and split_stable["streaming_x"] == faster

    fold_third_sample("batch_y", 2.5, None, stable, split_stable)
    assert stable["batch_y"] == 2.5
