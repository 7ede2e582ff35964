"""SparkSession factory.

The reference builds its session at
``/root/reference/spark_jobs/streaming_job.py:69-72`` with nothing but an
app name and Kafka/JDBC jars. For a general engine we pin the configs
that matter for correctness (UTC session timezone — the DuckDB oracle
compares naive-UTC timestamps) and for scale (AQE, Arrow, shuffle
partition sizing).

Scale notes (100 TB / 1000-executor design point):
- ``spark.sql.shuffle.partitions`` is a *local* default here; on a real
  cluster AQE coalescing makes the static number mostly irrelevant, and
  ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (128 MB) governs
  post-shuffle partition sizing instead.
- AQE is on: runtime join-strategy switching (broadcast when a side
  turns out small), skew-join splitting, partition coalescing.
- Arrow is on for every pandas-UDF boundary (similarity / multimodal
  operators) — row-at-a-time Python UDFs are banned in this codebase.
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Iterator

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "real_time_ride_hailing_data_pipeline_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure_runtime(spark)
    return spark


def configure_runtime(spark: SparkSession) -> None:
    """Set the runtime-settable confs the engine's correctness depends on.

    Idempotent; safe to call per query. Exists because the driver owns
    its own SparkSession (built without this module), so these must be
    applied to *any* session before the engine reads tables: UTC session
    timezone (the DuckDB oracle compares naive-UTC timestamps) and
    nanos-as-long parquet reads (events.ts is TIMESTAMP(NANOS), which
    Spark's vectorized reader otherwise rejects). It also trims the
    streaming checkpoint's per-batch file work: fewer retained batches,
    and renames that fork no process (see below).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Checkpoint renames without forking: the default FileContext-based
    # manager resolves symlinks on every rename, and without the native
    # Hadoop library RawLocalFileSystem does that by spawning `readlink`
    # (four processes per published offset/commit/state file, counting
    # the .crc files). The FileSystem-based manager renames through
    # FileSystem.rename, which on the local checkpoints the engine uses
    # is POSIX rename(2): atomic and overwriting, all the checkpoint
    # protocol needs.
    spark.conf.set(
        "spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager",
    )
    # Checkpoint-log retention: the default (100 batches of offset/
    # commit/state files) sizes recovery depth for long-lived clusters;
    # the replay harnesses here are availableNow one-shots, so retaining
    # 2 batches cuts per-trigger checkpoint file churn with identical
    # results (VERDICT r4 item 5). Long-lived deployments that want
    # deeper recovery history override this on their own session.
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", "2")


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, **confs: str) -> Iterator[None]:
    """Set runtime confs for the body only.

    On exit, error path included, each key gets its previous value
    back, or is unset again if the session had not set it (so a key
    left at its built-in default returns to that default, not to a
    pinned copy of it). Keys carry dots, so pass them as a mapping:
    ``scoped_conf(spark, **{"spark.sql.shuffle.partitions": "8"})``.
    """
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
