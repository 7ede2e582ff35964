"""Scale-path tests: bucketed co-located joins (shuffle elimination),
the processingTime-trigger live stream (T5), and sink retry behavior
(X1/X2) — the pieces whose value only shows at cluster scale, pinned
here at toy scale so they can't regress.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from real_time_ride_hailing_data_pipeline_spark import catalog
from real_time_ride_hailing_data_pipeline_spark.plans import physical_plan
from real_time_ride_hailing_data_pipeline_spark.sources import generator as gen
from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import with_retries

SF = "/root/testdata/sf0.001"


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Pre-bucketing both join sides on the join key removes the
    Exchange entirely: the sort-merge join reads co-located buckets.
    At 100 TB this is THE difference between an orders⋈lineitem that
    moves 100 TB over the network and one that moves nothing."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bdb LOCATION '{tmp_path}/bdb'")
    try:
        catalog.load_table(spark, SF, "orders").write.bucketBy(
            8, "o_orderkey"
        ).sortBy("o_orderkey").mode("overwrite").saveAsTable("bdb.orders_b")
        catalog.load_table(spark, SF, "lineitem").select(
            "l_orderkey", "l_quantity"
        ).write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
            "overwrite"
        ).saveAsTable("bdb.lineitem_b")

        joined = (
            spark.table("bdb.orders_b")
            .hint("merge")  # pin SMJ so broadcast doesn't mask the point
            .join(
                spark.table("bdb.lineitem_b"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
        )
        plan = physical_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        # and it returns the same rows as the shuffling variant
        n_bucketed = joined.count()
        n_plain = (
            catalog.load_table(spark, SF, "orders")
            .join(
                catalog.load_table(spark, SF, "lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .count()
        )
        assert n_bucketed == n_plain > 0
    finally:
        spark.sql("DROP DATABASE IF EXISTS bdb CASCADE")


def test_processing_time_trigger_live_stream(spark):
    """T5: a live rate-source stream (the S2 streaming generator) under
    a processingTime trigger produces windowed output while running.
    Stopped explicitly — the only wall-clock-dependent test, bounded
    at ~30 s."""
    stream = gen.ride_events_stream(spark, rows_per_second=200)
    agg = stream.groupBy("city").agg(F.count(F.lit(1)).alias("n"))
    query = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("live_city_counts")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 30
        rows = 0
        while time.time() < deadline:
            rows = spark.sql("SELECT count(*) FROM live_city_counts").first()[0]
            if rows > 0:
                break
            time.sleep(0.5)
        assert rows > 0, "no output after 30s of processingTime triggers"
        cities = {
            r["city"] for r in spark.sql("SELECT city FROM live_city_counts").collect()
        }
        assert cities <= set(gen.CITIES)
    finally:
        query.stop()


def test_partition_pruning_on_partitioned_layout(spark, tmp_path):
    """A table written partitioned by a filter column is pruned at
    planning time: the scan's PartitionFilters carry the predicate and
    non-matching partitions are never listed. At 100 TB, partition
    layout + pruning is the first-order scan optimization (before
    row-group skipping)."""
    part_dir = str(tmp_path / "events_by_type")
    catalog.load_table(spark, SF, "events").write.partitionBy("event_type").mode(
        "overwrite"
    ).parquet(part_dir)
    df = spark.read.parquet(part_dir).filter(F.col("event_type") == "view")
    plan = physical_plan(df)
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters")[1][:200]
    n = df.count()
    n_expected = (
        catalog.load_table(spark, SF, "events")
        .filter(F.col("event_type") == "view")
        .count()
    )
    assert n == n_expected > 0


def test_rocksdb_state_store_streaming(spark, tmp_path):
    """Large-state streaming path: the same windowed aggregation runs
    on the RocksDB state store provider (the 100 TB choice — state
    spills to local disk instead of living on the JVM heap) and
    produces the identical result."""
    from real_time_ride_hailing_data_pipeline_spark import queries as q
    from real_time_ride_hailing_data_pipeline_spark.streaming import job as sj

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        sink = sj.run_city_metrics_replay(
            spark,
            source_dir="/root/testdata/sf0.001/events.parquet",
            sink_path=str(tmp_path / "metrics"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        got = {tuple(r) for r in sink.read(spark).collect()}
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    batch = {
        tuple(r)
        for r in q.all_queries()["city_window_metrics"](spark, SF).collect()
    }
    assert got == batch


def test_sink_compaction_reduces_files_preserves_data(spark, tmp_path):
    """Streaming upserts accrete small files; compact() rewrites each
    date partition to one file with identical contents."""
    import datetime as dt
    import glob as g

    from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (
        ParquetUpsertSink,
    )

    # write_distribution="none": this test demonstrates compact()
    # collapsing accreted per-micro-batch files; the r13 hash
    # distribution already writes each merge as one file per
    # partition, which would leave compaction nothing to show here.
    sink = ParquetUpsertSink(
        str(tmp_path / "t"),
        key_cols=("event_type", "window_start"),
        write_distribution="none",
    )
    t0 = dt.datetime(2024, 1, 1)
    schema = (
        "event_type string, window_start timestamp, last_updated timestamp, "
        "total_trips long, average_fare double"
    )
    for i in range(4):  # four micro-batches into the same partition
        rows = [(f"k{i}", t0 + dt.timedelta(minutes=i), t0, i + 1, 1.0)]
        sink.write_batch(spark.createDataFrame(rows, schema), i)
    before = {tuple(r) for r in sink.read(spark).collect()}
    part_dir = g.glob(str(tmp_path / "t" / "part_date=*"))[0]
    assert len(g.glob(part_dir + "/*.parquet")) > 1

    sink.compact(spark)
    part_dir = g.glob(str(tmp_path / "t" / "part_date=*"))[0]
    assert len(g.glob(part_dir + "/*.parquet")) == 1
    assert {tuple(r) for r in sink.read(spark).collect()} == before


def test_schema_evolution_merge_on_read(spark, tmp_path):
    """Schema evolution surface: a v2 writer adds a column; reading
    with mergeSchema yields the union schema with nulls for v1 rows —
    the append-only evolution path a long-lived 100 TB table needs."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, x string").write.mode(
        "append"
    ).parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, x string, score double"
    ).write.mode("append").parquet(path)
    df = spark.read.option("mergeSchema", True).parquet(path)
    assert set(df.columns) == {"id", "x", "score"}
    rows = {tuple(r) for r in df.collect()}
    assert rows == {(1, "a", None), (2, "b", 9.5)}


def test_with_retries_retries_then_succeeds():
    calls = []

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise RuntimeError("transient")

    with_retries(flaky, retries=3, delay_s=0.01)
    assert len(calls) == 3


def test_with_retries_exhausts_and_raises():
    calls = []

    def always_fails():
        calls.append(1)
        raise RuntimeError("permanent")

    with pytest.raises(RuntimeError, match="permanent"):
        with_retries(always_fails, retries=2, delay_s=0.01)
    assert len(calls) == 3  # initial + 2 retries


def test_training_shard_writer_exact_layout(spark, tmp_path):
    """write_training_shards must produce EXACTLY one parquet file per
    (split, shard) directory with deterministic membership, and the
    round-trip must preserve every row. Balance: the uniform shard
    hash keeps the largest shard within ~3x of the smallest at this
    tiny scale (law-of-small-numbers slack; converges at real scale)."""
    import glob
    import os

    from real_time_ride_hailing_data_pipeline_spark.operators.sampling import hash_split
    from real_time_ride_hailing_data_pipeline_spark.operators.shards import (
        write_training_shards,
    )

    docs = catalog.load_table(spark, SF, "documents")
    n_docs = docs.count()
    split_df = hash_split(docs, "doc_id", [("train", 0.8), ("val", 0.2)])
    out = str(tmp_path / "shards")
    n_shards = 4
    write_training_shards(split_df, out, n_shards=n_shards, id_col="doc_id")

    for split in ("train", "val"):
        shard_dirs = sorted(glob.glob(os.path.join(out, f"split={split}", "shard=*")))
        assert len(shard_dirs) == n_shards, shard_dirs
        for d in shard_dirs:
            files = glob.glob(os.path.join(d, "*.parquet"))
            assert len(files) == 1, (d, files)

    back = spark.read.parquet(out)
    assert back.count() == n_docs
    assert {r["doc_id"] for r in back.select("doc_id").collect()} == {
        r["doc_id"] for r in docs.select("doc_id").collect()
    }
    # deterministic: a second write yields the identical assignment
    out2 = str(tmp_path / "shards2")
    write_training_shards(split_df, out2, n_shards=n_shards, id_col="doc_id")
    a = {(r["doc_id"], r["split"], r["shard"]) for r in spark.read.parquet(out).collect()}
    b = {(r["doc_id"], r["split"], r["shard"]) for r in spark.read.parquet(out2).collect()}
    assert a == b


def test_dynamic_partition_pruning_on_fact_dim_join(spark, tmp_path):
    """DPP: joining a date-partitioned fact to a filtered dim must
    prune fact partitions AT RUNTIME from the dim-side join keys (the
    100 TB star-join access pattern — without DPP the fact scan reads
    every partition). Asserted via the dynamicpruning subquery marker
    in the fact scan's partition filters."""
    import os

    events = catalog.load_table(spark, SF, "events")
    fact_path = str(tmp_path / "fact")
    (
        events.withColumn("event_date", F.to_date("ts"))
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(fact_path)
    )
    fact = spark.read.parquet(fact_path)
    first_date = events.agg(F.min(F.to_date("ts"))).collect()[0][0]
    dim = (
        events.select(F.to_date("ts").alias("event_date"))
        .distinct()
        # a real FILTER on the dim side (DPP's benefit estimation
        # ignores limits): only the first 2 dates survive
        .filter(F.col("event_date") <= F.date_add(F.lit(first_date), 1))
    )
    joined = fact.join(dim, "event_date").groupBy("event_type").count()
    plan = physical_plan(joined)
    assert "dynamicpruning" in plan.lower(), plan
    assert joined.count() > 0


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Runtime filtering: a selective dim predicate must inject a bloom
    filter into the fact side of a non-broadcast join
    (``might_contain(...)`` in the fact scan's filter condition), so at
    100 TB the shuffle only carries fact rows that can possibly match.

    The application-side size threshold defaults to 10GB — exactly
    right in production, never met at toy scale — so the test lowers it
    to 0; creation-side conditions (selective filter, small build) are
    the real ones. Results must equal the bloom-less plan (a bloom
    filter may only skip rows that cannot match)."""
    li = catalog.load_table(spark, SF, "lineitem")
    urgent = catalog.load_table(spark, SF, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    def run():
        return (
            li.join(urgent, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    prev_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_thresh = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        with_bloom = run()
        plan = physical_plan(with_bloom)
        assert "might_contain" in plan, f"no runtime bloom filter injected:\n{plan}"
        bloom_rows = {tuple(r) for r in with_bloom.collect()}
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        plain_rows = {tuple(r) for r in run().collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bcast)
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            prev_thresh,
        )
    assert bloom_rows == plain_rows and len(bloom_rows) > 0


def test_sql_text_tpch_q1_equals_dataframe_plan(spark):
    """SQL-text parity: the same TPC-H Q1 written as a spark.sql string
    over registered views returns exactly the DataFrame API's rows —
    users of the engine can drop to SQL anywhere and get the same
    Catalyst plan surface."""
    catalog.register_views(spark, SF)
    from real_time_ride_hailing_data_pipeline_spark import queries as q

    sql_rows = {
        tuple(r)
        for r in spark.sql(
            """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            """
        ).collect()
    }
    df_rows = {
        tuple(r)
        for r in catalog.load_table(spark, SF, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .collect()
    }
    assert sql_rows == df_rows and len(sql_rows) > 0


def test_ivf_cell_partitioned_layout_prunes_probe_scan(spark, tmp_path):
    """The IVF scale story end-to-end: materialize assign_cells
    partitioned BY CELL (what a production vector index writes), then
    run the nprobe probe as a partition filter — the scan must prune
    to the probed cells (PartitionFilters on `cell`), and the pruned
    top-k must equal ivf_topk's answer on the unpartitioned table.
    At 100 TB this turns ANN search cost from O(corpus) into
    O(nprobe/k * corpus) I/O, not just compute."""
    from pyspark.sql import functions as F2

    from real_time_ride_hailing_data_pipeline_spark.operators import ivf
    from real_time_ride_hailing_data_pipeline_spark.operators.similarity import (
        cosine_similarity_expr,
    )

    emb = catalog.load_table(spark, SF, "embeddings")
    cents = ivf.train_coarse_quantizer(emb, k=8, iters=2)
    layout = str(tmp_path / "emb_by_cell")
    ivf.assign_cells(emb, cents).write.partitionBy("cell").mode("overwrite").parquet(
        layout
    )

    query = emb.orderBy("vec_id").limit(1)
    expected = {
        (r["vec_id"], round(r["sim"], 9))
        for r in ivf.ivf_topk(emb, query, cents, k=5, nprobe=2).collect()
    }

    qrow = query.select(F2.col("embedding").alias("_qvec")).collect()[0]
    from real_time_ride_hailing_data_pipeline_spark.operators.ivf import (
        nearest_cells_expr,
    )

    # nprobe=2: the query's own cell + the next nearest (probe routing
    # runs in the same 1e-6 fixed-point space as training)
    probe_cells = (
        spark.createDataFrame([qrow], query.select("embedding").schema)
        .withColumnRenamed("embedding", "_qvec")
        .withColumn("_qq", ivf.quantize_expr("_qvec"))
        .select(nearest_cells_expr("_qq", cents, 2).alias("p"))
        .collect()[0]["p"]
    )

    pruned = spark.read.parquet(layout).filter(F2.col("cell").isin(*probe_cells))
    plan = physical_plan(pruned)
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:200]

    q_b = F2.broadcast(
        spark.createDataFrame([qrow], query.select("embedding").schema)
        .withColumnRenamed("embedding", "_qvec")
    )
    got = {
        (r["vec_id"], round(r["sim"], 9))
        for r in pruned.crossJoin(q_b)
        .select(
            F2.col("vec_id"),
            cosine_similarity_expr("embedding", "_qvec").alias("sim"),
        )
        .orderBy(F2.desc("sim"), F2.asc("vec_id"))
        .limit(5)
        .collect()
    }
    assert got == expected


def test_zorder_layout_writes_disjoint_z_ranges(spark, tmp_path):
    """Z-order clustering end-to-end (functions/layout.py): write the
    events keyed by the Morton interleave of (user bucket, value
    bucket), range-partitioned and sorted on z. Every written file's
    [min(z), max(z)] must be disjoint from every other's — the exact
    property parquet min/max footer skipping needs for a filter on
    EITHER clustered dimension to prune files at 100 TB."""
    from real_time_ride_hailing_data_pipeline_spark.functions.layout import morton_z

    events = catalog.load_table(spark, SF, "events")
    keyed = events.select(
        "event_id",
        (F.col("user_id") % 65536).alias("ub"),
        (F.round(F.col("value") * 100).cast("long") % 65536).alias("cb"),
    ).withColumn("z", F.expr(morton_z("ub", "cb")))
    out = str(tmp_path / "zordered")
    (
        keyed.repartitionByRange(8, "z")
        .sortWithinPartitions("z")
        .write.mode("overwrite")
        .parquet(out)
    )

    back = spark.read.parquet(out)
    files = sorted(
        r["f"]
        for r in back.select(F.input_file_name().alias("f")).distinct().collect()
    )
    ranges = []
    for f in files:
        mm = spark.read.parquet(f).agg(F.min("z"), F.max("z")).collect()[0]
        if mm[0] is not None:
            ranges.append((mm[0], mm[1]))
    ranges.sort()
    assert len(ranges) >= 2
    for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        # the range partitioner sends each z to exactly one partition,
        # so file ranges are strictly disjoint
        assert hi1 < lo2, ranges
    assert back.count() == events.count()


def test_torn_compaction_repaired_at_every_entry_point(
    spark, tmp_path, monkeypatch
):
    """ADVICE r6 (medium): a compact() that crashes mid-swap — target
    partition rmtree'd, staged replacement not yet linked in — must be
    repaired by write_batch() and read(), not only by the NEXT
    compact(). Without that, a merge into the torn partition's date
    lands in the live table and the next compact()'s recovery moves
    the stale staged copy over it — silent data loss."""
    import datetime as dt
    import glob as g
    import os

    from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (
        ParquetUpsertSink,
    )

    sink = ParquetUpsertSink(
        str(tmp_path / "t"), key_cols=("event_type", "window_start")
    )
    t0 = dt.datetime(2024, 1, 1)
    schema = (
        "event_type string, window_start timestamp, last_updated timestamp, "
        "total_trips long, average_fare double"
    )
    for i in range(3):
        rows = [(f"k{i}", t0 + dt.timedelta(minutes=i), t0, i + 1, 1.0)]
        sink.write_batch(spark.createDataFrame(rows, schema), i)
    before = {tuple(r) for r in sink.read(spark).collect()}
    part_dir = g.glob(str(tmp_path / "t" / "part_date=*"))[0]

    def tear():
        # crash the real compact() mid-swap: its staging is complete
        # and recorded, the target partition removed, the staged
        # replacement not yet linked in
        def crash(src, dst):
            raise RuntimeError("crash mid-swap")

        monkeypatch.setattr(
            ParquetUpsertSink, "_copytree_link", staticmethod(crash)
        )
        with pytest.raises(RuntimeError, match="mid-swap"):
            sink.compact(spark)
        monkeypatch.undo()
        assert not os.path.isdir(part_dir)
        assert sink._staged_record()["op"] == "compact"

    # (a) a read on the torn table serves the complete content
    tear()
    assert {tuple(r) for r in sink.read(spark).collect()} == before

    # re-tear and (b) merge a NEW row into the torn partition's date:
    # the pending swap must be finished BEFORE the merge, and the new
    # row must survive a subsequent compact()
    tear()
    new_row = ("k_new", t0 + dt.timedelta(minutes=30), t0, 99, 9.0)
    sink.write_batch(spark.createDataFrame([new_row], schema), 3)
    sink.compact(spark)
    after = {tuple(r) for r in sink.read(spark).collect()}
    assert after == before | {
        tuple(spark.createDataFrame([new_row], schema).collect()[0])
    }


def test_compaction_preserves_snapshot_log(spark, tmp_path):
    """VERDICT r6 item 5 — compaction × snapshot-log interplay:
    compact() rewrites live partitions while read_at/read_changes
    serve from immutable per-epoch copies. (a) a pre-compact snapshot
    is byte-stable across the rewrite, (b) the first post-compact
    commit snapshots the compacted table correctly, (c) the change
    feed across the compaction boundary contains exactly the commit's
    delta — never rows from the content-identical physical rewrite."""
    import datetime as dt

    from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (
        ParquetUpsertSink,
    )

    sink = ParquetUpsertSink(
        str(tmp_path / "t"),
        key_cols=("event_type", "window_start"),
        snapshot_dir=str(tmp_path / "snaps"),
    )
    t0 = dt.datetime(2024, 1, 1)
    schema = (
        "event_type string, window_start timestamp, last_updated timestamp, "
        "total_trips long, average_fare double"
    )
    for i in range(3):  # three commits into one date partition
        rows = [(f"k{i}", t0 + dt.timedelta(minutes=i), t0, i + 1, 1.0)]
        sink.write_batch(spark.createDataFrame(rows, schema), i)
    pre_epochs = sink.snapshots()
    at1_before = {tuple(r) for r in sink.read_at(spark, pre_epochs[1]).collect()}
    live_before = {tuple(r) for r in sink.read(spark).collect()}

    sink.compact(spark)

    # (a) pre-compact snapshot unchanged; live content identical
    assert {tuple(r) for r in sink.read_at(spark, pre_epochs[1]).collect()} == (
        at1_before
    )
    assert {tuple(r) for r in sink.read(spark).collect()} == live_before

    # (b) commit after the compaction: snapshot composes correctly
    new_row = ("k9", t0 + dt.timedelta(minutes=9), t0, 42, 2.0)
    sink.write_batch(spark.createDataFrame([new_row], schema), 3)
    new_tuple = tuple(spark.createDataFrame([new_row], schema).collect()[0])
    assert {tuple(r) for r in sink.read_at(spark, 3).collect()} == (
        live_before | {new_tuple}
    )

    # (c) CDF across the compaction boundary: exactly the delta
    changes = {
        tuple(r)
        for r in sink.read_changes(spark, pre_epochs[-1], 3)
        .drop("part_date")
        .collect()
    }
    assert changes == {new_tuple}

    # (c') an EMPTY commit after compaction diffs to nothing
    empty = spark.createDataFrame([], schema)
    sink.write_batch(empty, 4)
    assert sink.read_changes(spark, 3, 4).count() == 0


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join handling (OptimizeSkewedJoin) must actually fire
    on a skewed sort-merge join: one hot key holding ~90% of the fact
    side would otherwise pin the whole join on a single straggler
    task — THE classic 100 TB failure mode. Session confs enable the
    optimizer (session.py); this pins that a skewed shuffle partition
    is detected and split into parallel sub-reads (the executed plan's
    AQEShuffleRead marks the join 'skew=true'). Thresholds are lowered
    locally (and restored) because the detector's production defaults
    — 256 MB partitions — are correct at cluster scale and unreachable
    in a toy fixture, exactly like the bloom-filter demo confs."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        hot = F.when(F.rand(seed=7) < 0.9, F.lit(0)).otherwise(
            (F.rand(seed=11) * 1000).cast("long")
        )
        fact = spark.range(200_000).select(
            hot.alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("pad")
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("w")
        )
        # global agg, NOT groupBy(k): a downstream operator that could
        # reuse the join's hash distribution makes OptimizeSkewedJoin
        # decline (splitting would break the required partitioning)
        # pad must stay referenced: column pruning would otherwise ship
        # a shuffle of bare 0-valued longs that compresses below the
        # skew threshold no matter how many rows pile on the hot key
        joined = fact.join(dim.hint("merge"), "k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("w").alias("tw"),
            F.sum(F.when(F.col("k") == 0, 1).otherwise(0)).alias("n_hot"),
            F.max("pad").alias("mp"),
        )
        row = joined.collect()[0]
        # correctness under the split: every row survives, hot key intact
        assert row["n"] == 200_000
        assert row["n_hot"] > 150_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_rebalance_hint_evens_skewed_output_partitions(spark):
    """The REBALANCE hint (AQE RebalancePartitions) — the write-layout
    primitive for 100 TB output: a skew-partitioned result would
    otherwise produce one giant file and many empty ones. The hint
    lets AQE both SPLIT oversized shuffle partitions and COALESCE tiny
    ones at runtime. Pins: the optimized plan carries the rebalance
    node, the executed plan re-reads the shuffle through
    AQEShuffleRead, rows survive intact, and the resulting partition
    sizes are dramatically more even than the skewed groupBy layout."""
    from pyspark.sql import functions as F

    prev = {}
    confs = {
        # force visible behavior at toy size
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.rebalancePartitionsSmallPartitionFactor": "0.2",
    }
    for k, v in confs.items():
        prev[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        # 95% of rows on one key: repartition(col) alone would put
        # them all in one shuffle partition
        df = (
            spark.range(100_000)
            .withColumn(
                "k", F.when(F.col("id") % 20 < 19, 0).otherwise(F.col("id"))
            )
            .withColumn("pad", F.md5(F.col("id").cast("string")))
        )
        balanced = df.hint("rebalance", "k")
        logical = balanced._jdf.queryExecution().optimizedPlan().toString()
        assert "RebalancePartitions" in logical, logical
        per_pid = (
            balanced.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            # max(pad) keeps the incompressible md5 column in the
            # rebalanced shuffle — column pruning would otherwise strip
            # it, and a shuffle of bare constant longs compresses below
            # any advisory size (same caveat as the skew-join test)
            .agg(F.count(F.lit(1)).alias("count"), F.max("pad").alias("mp"))
        )
        sizes = per_pid.collect()
        assert sum(r["count"] for r in sizes) == 100_000  # nothing lost
        physical = per_pid._jdf.queryExecution().executedPlan().toString()
        assert "REBALANCE_PARTITIONS_BY_COL" in physical, physical
        assert "AQEShuffleRead" in physical, physical
        # the hot key's rows were split across many partitions: no
        # partition holds more than ~a quarter of the data (the skewed
        # layout would hold 95% in one)
        assert max(r["count"] for r in sizes) < 30_000, sorted(
            r["count"] for r in sizes
        )
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dsir_importance_weights_prefer_target_like_docs(spark):
    """DSIR contract (sampling.py:dsir_importance_weights): documents
    drawn from the target distribution score strictly higher on
    average than off-target documents; scores are deterministic
    across invocations; every doc gets exactly one row."""
    from real_time_ride_hailing_data_pipeline_spark.operators.sampling import (
        dsir_importance_weights,
    )

    rows = []
    for i in range(60):  # target-like: English function words
        rows.append((i, "the quick brown fox and the lazy dog run", "en"))
    for i in range(60, 120):  # off-target: distinct vocabulary
        rows.append((i, "zug blitz krawatte fenster strasse baum wolke", "de"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    scored = dsir_importance_weights(
        docs, "text", "doc_id", F.col("lang") == "en"
    )
    got = {r["doc_id"]: (r["logw_micro"], r["score_micro"]) for r in scored.collect()}
    assert len(got) == 120
    en = [got[i][0] for i in range(60)]
    de = [got[i][0] for i in range(60, 120)]
    # every English doc outweighs every German doc (disjoint vocab)
    assert min(en) > max(de)
    # deterministic: a second run produces identical integers
    again = {
        r["doc_id"]: (r["logw_micro"], r["score_micro"])
        for r in dsir_importance_weights(
            docs, "text", "doc_id", F.col("lang") == "en"
        ).collect()
    }
    assert got == again


def test_containment_minhash_prescreen_matches_exact_path(spark):
    """VERDICT r12 item 3: the MinHash band pre-screen in front of the
    exact containment verify must not change the answer on the test
    corpora — screened output == exact prefix-filter output, row for
    row (overlap, min_size, containment included). The screen bounds
    candidates on duplicate-degenerate corpora; this pins that it is
    empirically lossless where the all-pairs ground truth is
    checkable."""
    from real_time_ride_hailing_data_pipeline_spark.operators import dedup

    docs = catalog.load_table(spark, SF, "documents")
    exact = {
        tuple(r)
        for r in dedup.containment_pairs(docs, threshold=0.8).collect()
    }
    screened = {
        tuple(r)
        for r in dedup.containment_pairs(
            docs, threshold=0.8, prescreen="minhash"
        ).collect()
    }
    assert screened == exact and len(exact) > 0


def test_planted_dedup_truth_matches_brute_force(tmp_path):
    """VERDICT r12 item 2: the sf1 planted dedup ground truth
    (benchmarks/gen_sf1_r13.py — within-group enumeration + margin-
    lifted base candidates, each re-evaluated EXACTLY on the generated
    texts; semantic truth lifted analytically from identical replica
    embeddings) must equal the brute-force all-pairs truth at the
    GENERATED scale. Runs the generator's own --selfcheck on a subset
    corpus small enough to brute-force every pytest run; the full
    sf0.001/sf0.01-lifted self-checks run out-of-band and are logged
    in BASELINE.md."""
    import importlib.util
    import os

    import duckdb

    spec = importlib.util.spec_from_file_location(
        "gen_sf1_r13",
        os.path.join(os.path.dirname(__file__), "..", "benchmarks", "gen_sf1_r13.py"),
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)

    src = tmp_path / "src"
    out = tmp_path / "out"
    os.makedirs(src)
    os.makedirs(out)
    con = duckdb.connect()
    base = "/root/testdata/sf0.001"
    subset = {"documents": "ORDER BY doc_id LIMIT 150", "embeddings": "ORDER BY vec_id LIMIT 100"}
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{base}/{t}.parquet') "
            f"{subset.get(t, '')}) TO '{src}/{t}.parquet' (FORMAT parquet)"
        )
    off = gen.emit_tables(con, str(src), str(out), 4)
    n_pairs = gen.emit_duplicate_truth(con, str(src), str(out), 4, off["documents"])
    gen.emit_semantic_truth(con, str(src), str(out), 4, off["embeddings"])
    assert n_pairs > 0  # within-group replicas alone guarantee pairs
    gen.selfcheck(con, str(out))  # raises AssertionError on any diff
