"""Sinks (SURVEY.md §2.1 S4-S6): the reference's staging-write +
MERGE pattern, rebuilt with *idempotent* keying.

Reference behavior (/root/reference/spark_jobs/streaming_job.py):
  - S4  JDBC staging overwrite per micro-batch      :26-34
  - S5  psycopg2 MERGE `INSERT .. ON CONFLICT (city) DO UPDATE
        total_trips = city_metrics.total_trips + EXCLUDED.total_trips`
        — *additive* on a city-only key                :37-44
  - S6  foreachBatch(write_to_postgres), update mode  :128-132
  - no checkpointLocation anywhere + startingOffsets=earliest :103
    => every restart replays the topic and re-adds counts: the
    reference double-counts on restart, and also on every update-mode
    re-emission of a still-open window.

The fix (SURVEY §4, §7 Stage 2): key the sink on
``(key, window_start)`` and make the MERGE *overwrite-per-key* — each
(city, window) row carries the full current aggregate, so applying the
same batch twice, or replaying history into an existing table, lands
in the same state. Running per-city totals become a trivial follow-up
aggregation over the table (queries.city_running_totals), not sink-side
addition.

Scale notes:
- The parquet sink partitions by a date derived from window_start and
  rewrites **only partitions touched by the batch** (dynamic partition
  overwrite). With a watermark bounding late data, a micro-batch
  touches a bounded, recent set of partitions — at 100 TB of history
  the per-batch write cost is O(recent partitions), not O(table).
- The merge itself is: read affected partitions -> anti-join on the
  key -> union the batch -> write back. The anti-join is
  broadcast-able (a micro-batch of aggregates is small) so the merge
  never shuffles the table side.
- Three-step write (persist batch -> materialize merged content ->
  commit): the persisted micro-batch stands in for the reference's
  staging table, so its plan runs once; the merged staging keeps
  read-and-overwrite-same-path safe, and makes a crash mid-commit
  recoverable — the merged copy (pre-batch keys included) is durable
  before the first target file is replaced, and the retry re-commits
  from it (removed only after success).
- One staging, one record, one install for every table rewrite: data
  commits (merge, delete, update, MERGE INTO, OCC) and maintenance
  (compaction, OPTIMIZE, partition migration, RESTORE) alike stage
  their rewritten partitions under ``<path>__merged`` and publish ONE
  commit record last (``_COMMIT.json``: op, touched and emptied dirs,
  schema, and optionally the snapshot epoch, the OCC key and a spec
  history). The record is the staging's only completeness marker, and
  ``_finish_pending_epoch`` is the only install step — for the commit
  itself and for the recovery every entry point and read runs.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# lock paths this PROCESS currently holds (re-entrancy source of truth;
# the pid inside a lock file can be spoofed by pid recycling)
# lock path -> owning thread ident. Keyed per-thread so a second
# writer IN THE SAME PROCESS (two streaming queries in one driver,
# each foreachBatch on its own thread — the likeliest accidental
# second writer) hits ConcurrentWriterError instead of being
# misread as re-entrant; only true nested frames on the SAME thread
# (auto-compaction inside a merge's lock) pass through.
_HELD_LOCKS: dict[str, int] = {}


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:  # exists, owned by someone else
        return True


class ConstraintViolationError(ValueError):
    """A batch violated a table CHECK constraint — the commit was
    refused BEFORE any table mutation (write-audit-publish: the audit
    runs against the staged batch, the table never sees the bad
    rows)."""


class ConcurrentWriterError(RuntimeError):
    """A second live writer holds the table's writer lock. The sink is
    single-writer by contract (one streaming query per checkpoint);
    this guard turns an accidental second writer — which could
    interleave staging/commit steps and tear the table — into a loud
    error instead of silent corruption."""


def with_retries(fn: Callable[[], None], retries: int = 2, delay_s: float = 1.0) -> None:
    """Retry wrapper (reference X1/X2: Prefect ``@task(retries=2,
    retry_delay_seconds=10)`` on the sink, streaming_job.py:8) —
    plain Python, no orchestrator dependency."""
    for attempt in range(retries + 1):
        try:
            fn()
            return
        except Exception:
            if attempt == retries:
                raise
            time.sleep(delay_s)


class ParquetUpsertSink:
    """Idempotent keyed upsert into a parquet table directory.

    ``write_batch(df, epoch_id)`` plugs into
    ``writeStream.foreachBatch`` (S6) and is equally callable from a
    batch job (batch/streaming parity). Each incoming row must carry
    the full current aggregate for its key — which is exactly what an
    update-mode streaming aggregation emits — so the MERGE is
    overwrite-per-key and replays are no-ops, not additions.
    """

    def __init__(
        self,
        path: str,
        key_cols: tuple[str, ...] = ("event_type", "window_start"),
        partition_source: str = "window_start",
        retries: int = 2,
        retry_delay_s: float = 0.1,
        snapshot_dir: str | None = None,
        max_snapshots: int | None = None,
        schema_evolution: bool = False,
        auto_compact_files: int | None = None,
        partition_granularity: str = "day",
        write_distribution: str = "hash",
        write_buckets: int | None = None,
    ) -> None:
        self.path = path
        self.staging_path = path.rstrip("/") + "__staging"
        self.merged_path = path.rstrip("/") + "__merged"
        self.key_cols = list(key_cols)
        self.partition_source = partition_source
        # Initial partition granularity for a NEW table; an existing
        # table's spec HISTORY (evolve_partitioning) is read from the
        # _partspec.json sidecar and wins over this default.
        if partition_granularity not in self._GRANULARITIES:
            raise ValueError(
                f"partition_granularity must be one of {self._GRANULARITIES}"
            )
        self.partition_granularity = partition_granularity
        self.retries = retries
        self.retry_delay_s = retry_delay_s
        # When set, each committed epoch is retained as a SNAPSHOT under
        # ``snapshot_dir`` — snapshot isolation + time travel (the
        # Delta/Iceberg headline feature), implemented as a transaction
        # log, not full-table copies (VERDICT r5 item 5):
        #   files/epoch=<id>/part_date=<d>/  immutable copy of each
        #                                    partition TOUCHED at <id>
        #   manifest/epoch=<id>.json         partition-dir -> epoch that
        #                                    last rewrote it
        # A snapshot's manifest is the previous manifest with the
        # touched partitions re-pointed, so write amplification per
        # epoch is O(changed partitions) — zero for an empty commit —
        # never O(table). ``read_at`` composes the referenced partition
        # copies; VACUUM deletes partition copies no retained manifest
        # references. Identical semantics to the former copy-per-epoch
        # form, now with the storage shape the 100 TB deployment needs.
        self.snapshot_dir = snapshot_dir
        # Retention bound (VERDICT r4 item 3): keep only the newest
        # ``max_snapshots`` epochs — a long-lived stream must not grow
        # storage without bound. None = retain everything (explicit
        # archival choice).
        if max_snapshots is not None and max_snapshots < 1:
            raise ValueError("max_snapshots must be >= 1 (or None)")
        self.max_snapshots = max_snapshots
        # Auto-compaction (the Databricks auto-optimize shape): after a
        # merge commit, any TOUCHED partition holding more than this
        # many data files is immediately re-compacted — scoped to just
        # those partitions, so the cost is O(touched), amortized into
        # the stream instead of a periodic full-table OPTIMIZE. None
        # disables (explicit compact()/target_file_bytes still work).
        self.auto_compact_files = auto_compact_files
        # Additive schema evolution (the Delta ``mergeSchema`` /
        # ``autoMerge`` behavior, opt-in exactly like Delta's): a batch
        # may ADD columns (existing rows read NULL) or OMIT non-key
        # columns (the batch's rows land with NULL there — a batch row
        # is the full new aggregate for its key). Type changes on a
        # shared column always raise — silent coercion corrupts at
        # scale. Off (default): any column-set difference raises
        # loudly; note the pre-evolution code SILENTLY DROPPED columns
        # a batch omitted from every touched partition, which is the
        # worse failure. The table's authoritative schema lives in
        # ``<path>/_schema.json`` (published before each partition
        # swap) so reads never depend on which parquet footer the
        # scan samples first — footer-merge (``mergeSchema=true``)
        # reads every file footer, which is exactly what a 100 TB
        # table cannot afford; a log-recorded schema is how
        # Delta/Iceberg solve it and how this sink does too.
        self.schema_evolution = schema_evolution
        # Write distribution (the Iceberg ``write.distribution-mode``
        # knob, guide §6): every partitionBy("part_date") write in this
        # sink otherwise emits one file per (input task x partition) —
        # a 32-task micro-batch over 30 dates lands ~960 ~4 KB files
        # PER COMMIT (measured r13), and every downstream cost in this
        # store is O(files): snapshot hardlinks, per-file stats/bloom
        # sidecars, listing, scan planning. ``hash`` (default) shuffles
        # rows to the partition value before the write, so a commit
        # writes exactly one file per touched partition (AQE coalesces
        # the tiny-partition case). ``none`` restores the old behavior.
        # ``write_buckets`` adds a key-hash bucket to the distribution
        # for production-scale tables where one date exceeds a healthy
        # file size: files per partition = write_buckets, each written
        # in parallel (same shape compact() uses; target 128 MB-1 GB
        # files per the guide — e.g. a 1 TB/day table wants ~1024).
        if write_distribution not in ("hash", "none"):
            raise ValueError("write_distribution must be 'hash' or 'none'")
        self.write_distribution = write_distribution
        self.write_buckets = write_buckets

    def _distribute(self, df: DataFrame) -> DataFrame:
        """Cluster rows by the physical partition column (plus an
        optional key-hash bucket) ahead of a partitionBy write — the
        one-shuffle-for-right-sized-files trade Iceberg calls
        ``write.distribution-mode=hash``. Values are unaffected: the
        shuffle only moves rows between tasks."""
        if self.write_distribution == "none":
            return df
        if self.write_buckets and self.write_buckets > 1:
            bucket = F.pmod(
                F.xxhash64(*[F.col(c) for c in self.key_cols]),
                F.lit(self.write_buckets),
            )
            return (
                df.withColumn("__wbucket", bucket)
                .repartition("part_date", "__wbucket")
                .drop("__wbucket")
            )
        return df.repartition("part_date")

    # -- partition-spec evolution ------------------------------------------
    _GRANULARITIES = ("day", "month", "year")

    def _partspec_file(self) -> str:
        return os.path.join(self.path, "_partspec.json")

    def _transforms(self) -> list[str]:
        """Ordered partition-spec history (Iceberg-style): the LAST
        entry derives part_date for new writes; older entries name the
        granularities historical partitions may still be stored under.
        Persisted next to the table so a restarted writer sees the
        evolved spec, not its constructor default."""
        try:
            with open(self._partspec_file()) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return [self.partition_granularity]

    def _derive_part_date(self, granularity: str):
        day = F.to_date(F.col(self.partition_source))
        if granularity == "day":
            return day
        return F.trunc(day, granularity)  # month/year floor, DATE-typed

    def _touched_candidates(self, rel: DataFrame) -> tuple[list, list]:
        """Distinct part_date values the relation's rows may live
        under ACROSS EVERY historical spec — the merge/delete pruning
        set after an evolution: a key written pre-evolution sits in
        its old-granularity partition until rewritten, so the keep
        side must read (and the overwrite must claim) the union of
        derivations. Returns (all-spec values, current-spec values)
        from ONE collect. |specs| is the number of evolutions ever
        made (tiny), so this stays O(touched dirs)."""
        specs = self._transforms()
        derivs = [
            self._derive_part_date(s).alias(f"_d{i}")
            for i, s in enumerate(specs)
        ]
        vals: set = set()
        current: set = set()
        for r in rel.select(*derivs).distinct().collect():
            vals.update(r)
            current.add(r[-1])  # last deriv = current spec
        key = lambda v: (v is None, str(v))  # noqa: E731
        return sorted(vals, key=key), sorted(current, key=key)

    def evolve_partitioning(self, granularity: str) -> None:
        """Change the partition granularity for FUTURE writes (the
        Iceberg partition-evolution contract): existing partitions
        stay under their old spec — no rewrite — and reads, merges,
        deletes and the snapshot log span both, because every pruning
        step derives candidates under every historical spec.
        ``migrate_partitions`` optionally rewrites history into the
        current spec later."""
        if granularity not in self._GRANULARITIES:
            raise ValueError(
                f"granularity must be one of {self._GRANULARITIES}"
            )
        with self._writer_lock():
            specs = self._transforms()
            if specs[-1] == granularity:
                return
            os.makedirs(self.path, exist_ok=True)
            self._atomic_json_write(
                self._partspec_file(), [*specs, granularity]
            )

    def migrate_partitions(self, spark: SparkSession) -> None:
        """Rewrite the WHOLE table into the current partition spec
        (the optional eager half of evolution — OPTIMIZE-style layout
        homogenization). Stages like every commit: the rewritten table
        under ``<path>__merged`` and a record whose touched dirs are
        the live ∪ staged ones, whose emptied dirs are the live dirs
        the new spec no longer uses, and which carries the collapsed
        spec history. The install swaps the staged dirs in, removes
        the emptied ones, publishes the single spec and re-publishes
        the newest version over the new layout — content-identical,
        so no version is added (a minted one would collide with the
        stream's next epoch id). A crash before the record discards
        the staging; after it, any entry point or read finishes it."""
        with self._writer_lock():
            # an unapplied merge/delete commit must land BEFORE the
            # re-layout: migrating first would delete the old-spec dirs
            # its staging is about to re-install (duplicating keys
            # across specs when the stream later replays the epoch)
            self._recover(spark)
            if not self._table_exists():
                return
            current = self._read_table(spark)
            spec = self._transforms()[-1]
            self._stage(
                current.select(
                    *[c for c in current.columns if c != "part_date"]
                ).withColumn("part_date", self._derive_part_date(spec)),
                self._stored_schema(),
                self._part_dirs(),
                "migrate",
                specs=[spec],
            )
            self._finish_pending_epoch(spark)

    def restore(
        self, spark: SparkSession, epoch_id: int, as_epoch: int | None = None
    ) -> int:
        """Roll the LIVE table back to snapshot ``epoch_id``'s content
        (the Delta ``RESTORE TABLE .. VERSION AS OF`` shape) as a NEW
        commit: history is preserved — every retained version still
        reads, and the restore itself appears in the log as
        ``as_epoch`` (default: newest + 1) with op ``restore``. The
        source version's immutable copies are HARDLINKED into the
        commit staging (O(files) inodes, zero bytes) under a record
        carrying the new epoch and the source version's schema; the
        install swaps them in, removes the live dirs the source version
        lacks, restores the schema and snapshots the new version like
        any commit. A crash before the record discards the staging
        (the restore simply never happened — re-run it); after it, any
        entry point or read finishes it. Returns the committed epoch
        id."""
        if self.snapshot_dir is None:
            raise ValueError("sink was built without snapshot_dir")
        with self._writer_lock():
            # no pending work may straddle a re-layout of the table
            self._recover(spark)
            retained = self.snapshots()
            if epoch_id not in retained:
                raise ValueError(
                    f"epoch {epoch_id} is not a retained snapshot "
                    f"(retained: {retained}) — expired or never committed"
                )
            new_epoch = retained[-1] + 1 if as_epoch is None else as_epoch
            if new_epoch <= retained[-1]:
                raise ValueError(
                    f"as_epoch {new_epoch} must exceed the newest "
                    f"retained epoch {retained[-1]}"
                )
            for d, e in self._load_manifest(epoch_id).items():
                self._copytree_link(
                    self._epoch_copy(e, d), os.path.join(self.merged_path, d)
                )
            # every live dir and every dir the newest version names is
            # touched: those the source version lacks are emptied, so
            # the new manifest names exactly the restored set
            self._publish_record(
                self.merged_path,
                [*self._part_dirs(), *self._load_manifest(retained[-1])],
                "restore",
                self._epoch_schema(epoch_id),
                epoch=new_epoch,
            )
            self._finish_pending_epoch(spark)
            return new_epoch

    # -- single-writer guard ----------------------------------------------
    def _lock_file(self) -> str:
        return self.path.rstrip("/") + "__lock"

    def _writer_lock(self):
        """Process-scoped writer lock around every mutating entry point
        (merge, delete, compact): a pid-file next to the table,
        PUBLISHED ATOMICALLY by ``os.link`` from a fully-written
        private file — a visible lock therefore always carries a
        complete pid (no empty-read window for a second writer to
        misread as stale). A dead holder's lock is broken by
        ``os.rename`` to a unique name, so exactly ONE breaker wins
        and the loser retries against the winner's fresh lock. A LIVE
        second writer raises ConcurrentWriterError rather than
        interleaving staging/commit steps. Re-entrancy is tracked in
        the process-local ``_HELD_LOCKS`` map keyed by OWNING THREAD
        (auto-compaction runs compact() inside the merge's lock, same
        thread) — NOT by comparing the holder pid, which a recycled
        pid could spoof, and NOT by lock path alone, which would let a
        second same-process writer thread slip through as re-entrant
        and then have the first thread's exit delete the lock file out
        from under it. This is the local/HDFS shape; on an object
        store the same contract is a conditional-put on the lock
        object."""
        import threading
        import uuid

        sink = self

        class _Lock:
            def __enter__(self):
                self.owned = False
                lock = sink._lock_file()
                holder_thread = _HELD_LOCKS.get(lock)
                if holder_thread is not None:
                    if holder_thread == threading.get_ident():
                        return self  # re-entrant: the outer frame owns
                    raise ConcurrentWriterError(
                        f"thread {holder_thread} of this process holds "
                        f"{lock}; the sink is single-writer (one "
                        f"streaming query per checkpoint)"
                    )
                os.makedirs(os.path.dirname(lock) or ".", exist_ok=True)
                tmp = f"{lock}.pid-{uuid.uuid4().hex}"
                with open(tmp, "w") as fh:
                    fh.write(str(os.getpid()))
                try:
                    for _ in range(4):
                        try:
                            os.link(tmp, lock)  # atomic, content complete
                            _HELD_LOCKS[lock] = threading.get_ident()
                            self.owned = True
                            return self
                        except FileExistsError:
                            pass
                        # another thread of THIS process may have won
                        # between our dict check and the link: its lock
                        # file carries our pid, so the stale-breaker
                        # below would wrongly evict it — catch it here
                        other = _HELD_LOCKS.get(lock)
                        if other is not None and other != threading.get_ident():
                            raise ConcurrentWriterError(
                                f"thread {other} of this process holds "
                                f"{lock}; the sink is single-writer"
                            )
                        try:
                            with open(lock) as fh:
                                holder = int(fh.read().strip() or 0)
                        except FileNotFoundError:
                            continue  # a breaker just won; retry create
                        except ValueError:
                            holder = 0  # foreign artifact: break it
                        # holder == our pid but not in _HELD_LOCKS: a
                        # dead writer's pid recycled to us — stale too
                        if (
                            holder
                            and holder != os.getpid()
                            and _pid_alive(holder)
                        ):
                            raise ConcurrentWriterError(
                                f"writer pid {holder} holds {lock}; the "
                                f"sink is single-writer (one streaming "
                                f"query per checkpoint)"
                            )
                        stale = f"{lock}.stale-{uuid.uuid4().hex}"
                        try:
                            os.rename(lock, stale)  # one breaker wins
                        except FileNotFoundError:
                            continue  # another breaker won; retry
                        with contextlib.suppress(FileNotFoundError):
                            os.remove(stale)
                    raise ConcurrentWriterError(f"could not acquire {lock}")
                finally:
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(tmp)

            def __exit__(self, *exc):
                if self.owned:
                    lock = sink._lock_file()
                    # file first, dict second: a racing same-process
                    # thread that observed the dict entry gone could
                    # read the lock file, see its own pid, take the
                    # stale-breaker path and acquire — after which our
                    # os.remove would delete the NEW owner's lock. With
                    # the dict entry still present until after the file
                    # is gone, that thread raises ConcurrentWriterError
                    # instead (ADVICE r8).
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(lock)
                    _HELD_LOCKS.pop(lock, None)
                return False

        return _Lock()

    # -- the foreachBatch hook -------------------------------------------
    def write_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """MERGE one micro-batch: MATERIALIZE the merged touched-
        partition content (keep ∪ batch) to a staging directory, then
        commit by installing the touched partitions from that durable
        copy. The micro-batch's plan runs ONCE: the batch is persisted
        for the commit and every later step reads the cached rows (see
        ``_persisted``). Idempotent: applying the same batch N times =
        applying it once. A first write (no live partition) has an
        empty keep side, so the batch itself is staged — one
        partitioned write, like any commit — and the table directory is
        never truncated: the partition specs, constraints, clustering,
        bloom declarations and OCC ledger recorded on an empty or
        drained table stay.

        Crash safety: the target is not touched until the full merged
        content (pre-batch keys included) is durable under
        ``<path>__merged`` with its commit record (epoch included). A
        crash mid-commit therefore loses nothing — the retry
        (in-process via ``with_retries``, or the streaming restart
        replaying the same epoch) finds the recorded staging for this
        epoch and re-runs only the install, restoring any
        partially-installed partition. The staging is removed only
        after the snapshot publishes.
        """
        with self._writer_lock():
            with_retries(
                lambda: self._merge(batch_df, epoch_id),
                self.retries,
                self.retry_delay_s,
            )

    def _recover(self, spark: SparkSession) -> int | None:
        """Finish whatever a crashed operation left pending, before an
        entry point touches the table: the one commit staging (any
        rewrite — a merge into a partition a stale staging is about to
        clobber would be lost), else a deletion-vector delta. Returns
        the epoch that commit snapshotted, or None — when it is the
        caller's own epoch, the replayed call is already applied."""
        epoch = self._finish_pending_epoch(spark)
        return self._finish_pending_dv(spark) if epoch is None else epoch

    def _merge(self, batch_df: DataFrame, epoch_id: int) -> None:
        """One ``write_batch`` attempt: recover (a replayed epoch
        returns before anything is persisted), audit and stage the
        persisted batch, install."""
        spark = batch_df.sparkSession
        if self._recover(spark) == epoch_id:
            return
        batch = batch_df.withColumn(
            "part_date", self._derive_part_date(self._transforms()[-1])
        )
        with self._persisted(batch) as (batch, vals):
            if not vals:
                # update-mode can emit empty micro-batches (e.g. the
                # final commit batch of an availableNow replay); a
                # partitioned write of zero rows produces an unreadable
                # empty dir, and there is nothing to merge. The table
                # is untouched, but a committed epoch still gets its
                # snapshot (identical to the previous one — ONE tiny
                # JSON write, zero data copies) so read_history's
                # one-commit-per-epoch contract holds for empty
                # commits too.
                if self._table_exists():
                    self._snapshot(spark, epoch_id, touched=[])
                return
            self._audit_batch(batch)  # refuse BEFORE any table mutation
            touched, _ = self._stage_merge(spark, batch, vals, epoch_id)
        self._finish_pending_epoch(spark)
        self._auto_compact(spark, touched)

    def _auto_compact(self, spark: SparkSession, touched: list[str]) -> None:
        """Scoped post-commit compaction of any touched partition whose
        data-file count exceeds ``auto_compact_files`` (None = off).
        The census is a driver-side listing of just the touched dirs;
        the rewrite is partition-scoped, so the amortized cost per
        micro-batch is O(fat touched partitions) — a hot partition
        gets collapsed as it accretes instead of waiting for a
        periodic table-wide OPTIMIZE."""
        if self.auto_compact_files is None:
            return
        fat = []
        for d in touched:
            p = os.path.join(self.path, d)
            if not os.path.isdir(p):
                continue
            n = sum(
                1
                for f in os.listdir(p)
                if f.endswith(".parquet")
                and os.path.getsize(os.path.join(p, f)) > 0
            )
            if n > self.auto_compact_files:
                fat.append(d)
        if fat:
            self.compact(spark, files_per_partition=1, only_partitions=fat)

    # -- row-level DELETE --------------------------------------------------
    def delete_keys(
        self, keys_df: DataFrame, epoch_id: int, mode: str = "copy_on_write"
    ) -> None:
        """Row-level DELETE by key — the ``MERGE .. WHEN MATCHED THEN
        DELETE`` / GDPR-erasure half of the lakehouse write surface.
        Rows whose key appears in ``keys_df`` (key columns only) are
        removed; everything else is untouched.

        Two physical tiers (the Delta/Iceberg pair):

        - ``mode="copy_on_write"`` (default): rewrite every partition
          containing a doomed key — read cost stays pristine, write
          cost is O(touched partition bytes). Right when deletes are
          broad or partitions narrow.
        - ``mode="merge_on_read"``: publish DELETION VECTORS — per-file
          row-index sets in a ``_dv.json`` sidecar next to the data
          files — and leave every data file untouched. Write cost is
          O(deleted rows); reads apply the DV as a broadcast anti-join
          on ``(partition dir, _metadata.file_name, _metadata.row_index)``; the next
          merge/compaction of a DV-bearing partition FOLDS the vector
          into a clean rewrite. Right for narrow predicate deletes
          over wide partitions — the case where copy-on-write rewrites
          gigabytes to remove kilobytes (BASELINE r7 measured that
          delete at 9.4× wall for 8× rows; the DV path is flat).

        Same three-step crash-safe machinery as the merge: only
        partitions CONTAINING a doomed key are rewritten (a key-semi-
        join finds them — O(touched partitions) work at any table
        size, with the keys broadcast), the survivors are durably
        staged with their commit record before the first target file is
        replaced, and a replayed epoch recovers from the staging. A
        partition whose every row is deleted is DROPPED: removed from
        the table directory explicitly (dynamic overwrite cannot
        replace a partition with nothing) and removed from the
        snapshot manifest, so ``read_at`` at this version composes
        without it and ``read_changes_typed`` reports its rows as
        deletes. Idempotent: re-deleting absent keys touches nothing.
        Assumes a row's key determines its partition (true whenever
        ``partition_source`` is a key column, as the streaming sink
        keys are) — the same locality the merge's per-partition
        anti-join already relies on."""
        if mode not in ("copy_on_write", "merge_on_read"):
            raise ValueError(
                f"mode must be 'copy_on_write' or 'merge_on_read', got {mode!r}"
            )
        impl = self._delete if mode == "copy_on_write" else self._delete_dv
        with self._writer_lock():
            with_retries(
                lambda: impl(keys_df, epoch_id),
                self.retries,
                self.retry_delay_s,
            )

    def _delete(self, keys_df: DataFrame, epoch_id: int) -> None:
        spark = keys_df.sparkSession
        if self._recover(spark) == epoch_id:
            return  # crashed commit for this very epoch, now finished
        if not self._table_exists():
            return  # nothing to delete from; no commit to record
        keys = keys_df.select(*self.key_cols)
        keys.write.mode("overwrite").parquet(self.staging_path)
        staged_keys = spark.read.parquet(self.staging_path)
        existing = self._read_table(spark)
        if self.partition_source in self.key_cols:
            # the partition value is DERIVABLE from the keys (the
            # streaming sink's normal shape: part_date =
            # to_date(window_start) and window_start is a key column),
            # so touched partitions come from the tiny keys relation —
            # no table scan at all. Measured: a delete of a narrow
            # date range holds flat as the table grows 8×, where the
            # semi-join discovery scan grew with the table.
            # candidates under EVERY historical partition spec — a key
            # written before evolve_partitioning lives in its
            # old-granularity partition
            candidates, _ = self._touched_candidates(staged_keys)
            live = set(self._part_dirs())
            touched_vals = [
                v for v in candidates if self._part_dirname(v) in live
            ]
        else:
            # partition not derivable from the key: fall back to a
            # key-semi-join discovery scan (partition pruning cannot
            # apply; still one parallel scan, touched set still exact)
            touched_vals = [
                r[0]
                for r in existing.join(
                    F.broadcast(staged_keys), self.key_cols, "semi"
                )
                .select("part_date")
                .distinct()
                .collect()
            ]
        if not touched_vals:
            # no key present: an empty commit, but still a committed
            # version (mirrors the empty-micro-batch snapshot path)
            self._snapshot(spark, epoch_id, touched=[], op="delete")
            return
        survivors = self._anti_join_keys(
            existing.filter(self._part_date_filter(touched_vals)), staged_keys
        )
        # the scanned schema stands in when none is recorded (a
        # _schema.json deleted out of band)
        self._stage(
            survivors,
            self._stored_schema() or existing.schema,
            [self._part_dirname(v) for v in touched_vals],
            "delete",
            epoch=epoch_id,
        )
        self._finish_pending_epoch(spark)

    # -- row-level UPDATE ----------------------------------------------------
    def update_where(
        self,
        spark: SparkSession,
        condition,
        set_exprs: dict,
        epoch_id: int,
    ) -> None:
        """``UPDATE t SET col = expr WHERE cond`` (the Delta UPDATE
        shape, completing the DML triad next to the keyed upsert and
        both delete tiers): copy-on-write rewrite of ONLY the
        partitions containing matching rows. Every SET expression is
        evaluated against the ORIGINAL row (standard SQL UPDATE
        semantics — one projection computes all new values, so a SET
        can reference a column another SET changes without ordering
        effects). Key and partition columns cannot be SET (an update
        never moves a row between keys or partitions — that is a
        delete + insert). CHECK constraints audit the updated content
        before any table mutation. Crash-safe and replay-idempotent
        through the same recorded staging as merges and deletes;
        the commit appears in DESCRIBE HISTORY as ``op='update'``."""
        bad = set(set_exprs) & (set(self.key_cols) | {self.partition_source, "part_date"})
        if bad:
            raise ValueError(
                f"cannot SET key/partition column(s) {sorted(bad)} — "
                f"re-keying is a delete + insert"
            )
        with self._writer_lock():
            with_retries(
                lambda: self._update(spark, condition, set_exprs, epoch_id),
                self.retries,
                self.retry_delay_s,
            )

    def _update(
        self, spark: SparkSession, condition, set_exprs: dict, epoch_id: int
    ) -> None:
        if self._recover(spark) == epoch_id:
            return
        if self.snapshot_dir is not None and epoch_id in self.snapshots():
            # an UPDATE's payload is NOT naturally idempotent (unlike
            # the overwrite-per-key merge or a delete of absent keys:
            # re-applying would scale matched rows again), so a replay
            # of an already-COMMITTED epoch is a no-op by version guard
            return
        if not self._table_exists():
            return
        cond = F.expr(condition) if isinstance(condition, str) else condition
        existing = self._read_table(spark)
        touched_vals = [
            r[0]
            for r in existing.filter(cond).select("part_date").distinct().collect()
        ]
        if not touched_vals:
            self._snapshot(spark, epoch_id, touched=[], op="update")
            return
        scoped = existing.filter(self._part_date_filter(touched_vals))
        projections = []
        for c in scoped.columns:
            if c in set_exprs:
                e = set_exprs[c]
                e = F.expr(e) if isinstance(e, str) else e
                projections.append(
                    F.when(cond, e).otherwise(F.col(c)).alias(c)
                )
            else:
                projections.append(F.col(c))
        updated = scoped.select(*projections)
        self._audit_batch(updated)  # constraints hold AFTER the update
        self._stage(
            updated,
            self._stored_schema() or existing.schema,  # see _delete
            [self._part_dirname(v) for v in touched_vals],
            "update",
            epoch=epoch_id,
        )
        self._finish_pending_epoch(spark)

    # -- generalized MERGE INTO ---------------------------------------------
    def merge_into(
        self,
        source_df: DataFrame,
        epoch_id: int,
        *,
        when_matched_update: dict | None = None,
        when_matched_update_condition=None,
        when_matched_delete_condition=None,
        when_not_matched_insert: bool = True,
        when_not_matched_insert_condition=None,
        when_not_matched_by_source_delete=None,
    ) -> None:
        """The full Delta/Iceberg ``MERGE INTO`` shape (VERDICT r9
        item 3), generalizing the keyed upsert + DELETE WHERE + UPDATE
        WHERE triad into one conditional commit. Reference capability
        anchor: the upsert semantics of
        /root/reference/spark_jobs/streaming_job.py:37-44, generalized.

        Clause semantics (standard SQL MERGE, conditions referencing
        the target as ``t.`` and the source as ``s.``; a NULL/UNKNOWN
        condition never fires its clause):

        - ``WHEN MATCHED [AND when_matched_delete_condition] THEN
          DELETE`` — pass any truthy condition (``"true"`` for
          unconditional). Evaluated FIRST (the Delta clause order).
        - ``WHEN MATCHED [AND when_matched_update_condition] THEN
          UPDATE SET`` — ``when_matched_update`` maps target column ->
          expression over ``t.``/``s.`` (all SETs evaluate against the
          ORIGINAL row pair, standard UPDATE semantics). Key/partition
          columns cannot be SET.
        - ``WHEN NOT MATCHED [AND when_not_matched_insert_condition]
          THEN INSERT`` — on by default (the upsert shape); source
          rows whose key is absent from the table land as new rows.
        - ``WHEN NOT MATCHED BY SOURCE [AND condition] THEN DELETE`` —
          target rows whose key is absent from the source.

        Physical shape: the source is staged (stable retry input) and
        BROADCAST — a merge source is micro-batch-sized by contract,
        so the table side never shuffles. Copy-on-write scope is
        exact: with key→partition locality (``partition_source`` in
        ``key_cols``) only partitions holding source keys, insert
        targets, or NOT-MATCHED-BY-SOURCE matches (discovered with one
        pruned scan) are rewritten — at 100 TB a merge costs O(touched
        partitions), never O(table). Crash-safe through the same
        recorded staging as every commit; a replay of an
        already-COMMITTED epoch is a version-guard no-op (conditional
        payloads are not naturally idempotent — same contract as
        ``update_where``).

        Schema evolution: with the sink constructed
        ``schema_evolution=True`` (the same opt-in as write_batch —
        Delta's MERGE ``withSchemaEvolution`` shape), source-only
        columns evolve the table additively: the target side
        NULL-fills them (so SET expressions and INSERT rows may
        reference them), only rewritten partitions physically gain
        the column, and untouched partitions NULL-fill on read
        through the published logical schema. Type changes on shared
        columns always raise; without the opt-in, extra source
        columns raise loudly."""
        self._check_merge_clauses(
            when_matched_update,
            when_matched_delete_condition,
            when_not_matched_insert,
            when_not_matched_by_source_delete,
        )
        with self._writer_lock():
            with_retries(
                lambda: self._merge_into(
                    source_df,
                    epoch_id,
                    when_matched_update,
                    when_matched_update_condition,
                    when_matched_delete_condition,
                    when_not_matched_insert,
                    when_not_matched_insert_condition,
                    when_not_matched_by_source_delete,
                ),
                self.retries,
                self.retry_delay_s,
            )

    def _check_merge_clauses(
        self, upd: dict | None, del_cond, ins: bool, nmbs_cond
    ) -> None:
        """Refuse a MERGE that SETs a key or partition column, or that
        has no WHEN clause at all."""
        if upd:
            bad = set(upd) & (
                set(self.key_cols) | {self.partition_source, "part_date"}
            )
            if bad:
                raise ValueError(
                    f"cannot SET key/partition column(s) {sorted(bad)} — "
                    f"re-keying is a delete + insert"
                )
        if upd is None and del_cond is None and not ins and nmbs_cond is None:
            raise ValueError("MERGE INTO needs at least one WHEN clause")

    def _merge_source_extra(self, table, source, ins: bool) -> list[str]:
        """Check a MERGE ``source`` schema against the ``table``'s — it
        carries the key (every column when inserting) and changes no
        type — and return its source-only columns."""
        data_cols = [c for c in table.names if c != "part_date"]
        missing = (set(data_cols) if ins else set(self.key_cols)) - set(
            source.names
        )
        if missing:
            raise ValueError(
                f"merge source is missing column(s) {sorted(missing)}"
            )
        self._check_no_type_change(table, source)
        return [c for c in source.names if c not in set(data_cols)]

    @staticmethod
    def _merge_cond(c):
        """A WHEN-clause condition column: SQL string or Column, with
        NULL/UNKNOWN coerced to FALSE (an UNKNOWN condition never
        fires its clause — the SQL MERGE contract)."""
        col = F.expr(c) if isinstance(c, str) else c
        return F.coalesce(col, F.lit(False))

    def _merge_into(
        self,
        source_df: DataFrame,
        epoch_id: int,
        upd: dict | None,
        upd_cond,
        del_cond,
        ins: bool,
        ins_cond,
        nmbs_cond,
    ) -> None:
        spark = source_df.sparkSession
        if self._recover(spark) == epoch_id:
            return
        if self.snapshot_dir is not None and epoch_id in self.snapshots():
            # conditional MERGE payloads are not naturally idempotent
            # (an expression like t.total + s.delta would re-apply):
            # a replay of a committed epoch is a version-guard no-op
            return
        source_df.write.mode("overwrite").parquet(self.staging_path)
        staged = spark.read.parquet(self.staging_path)
        specs = self._transforms()
        if not self._table_exists():
            # no live partition: every source row is NOT MATCHED, so
            # the commit is the inserts alone — a first write_batch
            if not ins:
                return
            ins_rows = staged.alias("s")
            if ins_cond is not None:
                ins_rows = ins_rows.filter(self._merge_cond(ins_cond))
            if ins_rows.isEmpty():
                return
            self._audit_batch(ins_rows)
            ins_rows = ins_rows.withColumn(
                "part_date", self._derive_part_date(specs[-1])
            )
            self._stage(ins_rows, ins_rows.schema, None, "merge", epoch=epoch_id)
            self._finish_pending_epoch(spark)
            return

        existing = self._read_table(spark)
        data_cols = [c for c in existing.columns if c != "part_date"]
        extra = self._merge_source_extra(existing.schema, staged.schema, ins)
        if extra and not self.schema_evolution:
            raise ValueError(
                f"merge source has column(s) {sorted(extra)} not in the "
                f"table — construct the sink with schema_evolution=True "
                f"to MERGE with additive schema evolution"
            )
        if extra:
            # additive MERGE evolution (the Delta withSchemaEvolution
            # shape, same contract as write_batch's schema_evolution):
            # the target side NULL-fills the source-only columns, so
            # UPDATE SETs and INSERTs can reference them; only the
            # REWRITTEN partitions physically gain the column — the
            # published logical schema NULL-fills untouched partitions
            # on read, exactly like write_batch evolution
            staged_fields = {f.name: f for f in staged.schema.fields}
            for c in extra:
                existing = existing.withColumn(
                    c, F.lit(None).cast(staged_fields[c].dataType)
                )
            data_cols = data_cols + extra

        # exact copy-on-write scope (see docstring)
        locality = self.partition_source in self.key_cols
        live = set(self._part_dirs())
        if ins or locality:  # one candidates job serves both
            candidates, current_vals = self._touched_candidates(staged)
        ins_dirs = (
            {self._part_dirname(v) for v in current_vals} if ins else set()
        )
        if locality:
            touched_vals = [
                v for v in candidates if self._part_dirname(v) in live
            ]
            if nmbs_cond is not None:
                # one pruned discovery scan finds the partitions where
                # NOT MATCHED BY SOURCE fires (key absent from source
                # AND condition true) — only those join the rewrite
                unmatched = self._anti_join_keys(
                    existing, staged.select(*self.key_cols)
                ).alias("t")
                seen = {self._part_dirname(v) for v in touched_vals}
                touched_vals += [
                    r[0]
                    for r in unmatched.filter(self._merge_cond(nmbs_cond))
                    .select("part_date")
                    .distinct()
                    .collect()
                    if self._part_dirname(r[0]) not in seen
                ]
            scoped = (
                existing.filter(self._part_date_filter(touched_vals))
                if touched_vals
                else existing.filter(F.lit(False))
            )
            touched_dirs = sorted(
                {self._part_dirname(v) for v in touched_vals} | ins_dirs
            )
        else:
            # key does not derive the partition: a matched key may live
            # anywhere, so the scope is the table (the Delta fallback)
            scoped = existing
            touched_dirs = sorted(live | ins_dirs)
        if not touched_dirs:
            self._snapshot(spark, epoch_id, touched=[], op="merge")
            return

        merged = self._apply_merge_clauses(
            scoped,
            staged,
            data_cols,
            specs[-1],
            upd,
            upd_cond,
            del_cond,
            ins,
            ins_cond,
            nmbs_cond,
        )

        self._audit_batch(merged)  # constraints hold AFTER the merge
        if extra:
            # the staged/published schema gains the evolved fields
            # (unique physical names under active column mapping —
            # the same rule as write_batch evolution)
            stored = self._staged_logical_schema(
                existing, staged, list(merged.columns)
            )
        else:
            stored = self._stored_schema() or existing.schema  # see _delete
        self._stage(merged, stored, touched_dirs, "merge", epoch=epoch_id)
        self._finish_pending_epoch(spark)

    def _apply_merge_clauses(
        self,
        scoped: DataFrame,
        staged: DataFrame,
        data_cols: list[str],
        spec: str,
        upd: dict | None,
        upd_cond,
        del_cond,
        ins: bool,
        ins_cond,
        nmbs_cond,
    ) -> DataFrame:
        """The MERGE clause engine, shared by the full-lock and OCC
        paths: apply the WHEN clauses to ``scoped`` (the touched
        partitions' current rows, ``part_date`` included) against the
        broadcast ``staged`` source, and return the touched
        partitions' complete post-merge content. Pure plan building —
        no I/O, no locks."""
        from functools import reduce

        out_columns = list(scoped.columns)
        t = scoped.alias("t")
        marked = F.broadcast(
            staged.withColumn("__s_present", F.lit(True)).alias("s")
        )
        key_eq = reduce(
            lambda a, b: a & b,
            [
                F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
                for k in self.key_cols
            ],
        )
        joined = t.join(marked, on=key_eq, how="left")
        matched = F.col("__s_present").isNotNull()
        del_m = (
            matched & self._merge_cond(del_cond)
            if del_cond is not None
            else F.lit(False)
        )
        del_s = (
            (~matched) & self._merge_cond(nmbs_cond)
            if nmbs_cond is not None
            else F.lit(False)
        )
        upd_m = F.lit(False)
        if upd:
            upd_m = matched & ~del_m
            if upd_cond is not None:
                upd_m = upd_m & self._merge_cond(upd_cond)
        projections = []
        for c in out_columns:
            if upd and c in upd:
                e = upd[c]
                e = F.expr(e) if isinstance(e, str) else e
                projections.append(
                    F.when(upd_m, e).otherwise(F.col(f"t.{c}")).alias(c)
                )
            else:
                projections.append(F.col(f"t.{c}").alias(c))
        survivors = joined.filter(~del_m & ~del_s).select(*projections)

        if ins:
            # matched keys first (broadcast source into the probe —
            # the result is ≤ |source| rows), then anti-join the
            # source against that SMALL set: both joins broadcast, the
            # table side never shuffles
            matched_keys = self._semi_join_keys(
                scoped.select(*self.key_cols), staged.select(*self.key_cols)
            )
            ins_rows = self._anti_join_keys(staged, matched_keys).alias("s")
            if ins_cond is not None:
                ins_rows = ins_rows.filter(self._merge_cond(ins_cond))
            inserts = ins_rows.select(*data_cols).withColumn(
                "part_date", self._derive_part_date(spec)
            )
            return survivors.unionByName(inserts.select(*out_columns))
        return survivors

    @staticmethod
    def _part_date_filter(vals: list):
        """NULL-safe ``part_date IN vals``: plain ``isin`` never
        matches a NULL partition value (NULL IN (...) is NULL), which
        would silently drop the hive-default partition's rows from a
        merge's keep side or classify it 'emptied' in a delete."""
        non_null = [v for v in vals if v is not None]
        cond = (
            F.col("part_date").isin(non_null) if non_null else F.lit(False)
        )
        if any(v is None for v in vals):
            cond = cond | F.col("part_date").isNull()
        return cond

    # -- deletion vectors (merge-on-read delete tier) -----------------------
    def _dv_pending_file(self) -> str:
        return self.path.rstrip("/") + "__dv_pending.json"

    def _delete_dv(self, keys_df: DataFrame, epoch_id: int) -> None:
        """Merge-on-read delete: find every (file, row-index) a doomed
        key occupies, stage the delta as ONE atomically-published JSON
        (the whole commit fits a single atomic write — no multi-step
        staging protocol needed), then fold it into each touched
        partition's ``_dv.json`` sidecar and snapshot. Zero data files
        are read back or rewritten after discovery; the discovery scan
        itself is partition-pruned exactly like the copy-on-write
        delete when the key derives the partition.

        Idempotent under replay because discovery runs on the RAW scan
        (deletion vectors NOT applied): re-deleting keys whose rows are
        already DV-hidden re-finds the same positions and the sidecar
        union is a no-op. Driver memory holds the doomed positions
        (O(deleted rows) ints) — the narrow-delete contract; a
        production engine stores roaring bitmaps, this stores sorted
        index lists with identical semantics. Broad deletes should use
        copy_on_write (and `compact()` folds any accumulated DVs)."""
        spark = keys_df.sparkSession
        if self._recover(spark) == epoch_id:
            return  # crashed commit for this very epoch, now finished
        if not self._table_exists():
            return
        keys = keys_df.select(*self.key_cols)
        keys.write.mode("overwrite").parquet(self.staging_path)
        staged_keys = spark.read.parquet(self.staging_path)
        # RAW positional scan: stored-schema read (NULL-fills evolved
        # columns) + the hidden _metadata source column; DVs are not
        # applied so replays re-find already-hidden rows (idempotence)
        raw = self._read_table(spark, with_positions=True).select(
            *self.key_cols, "part_date", "__dv_path", "__dv_pos"
        )
        if self.partition_source in self.key_cols:
            # prune the discovery scan to partitions the keys derive
            # (same locality contract as the copy-on-write delete)
            candidates, _ = self._touched_candidates(staged_keys)
            live = set(self._part_dirs())
            touched_vals = [
                v for v in candidates if self._part_dirname(v) in live
            ]
            if not touched_vals:
                self._snapshot(spark, epoch_id, touched=[], op="delete")
                return
            raw = raw.filter(self._part_date_filter(touched_vals))
        doomed = self._semi_join_keys(raw, staged_keys).select(
            "__dv_path", "__dv_pos"
        )
        # one output row per touched FILE (collect_list bounds driver
        # traffic to the doomed positions themselves)
        per_file = (
            doomed.groupBy("__dv_path")
            .agg(F.sort_array(F.collect_list("__dv_pos")).alias("__dv_positions"))
            .collect()
        )
        if not per_file:
            self._snapshot(spark, epoch_id, touched=[], op="delete")
            return
        delta: dict[str, dict[str, list[int]]] = {}
        for row in per_file:
            parts = row["__dv_path"].split("/")
            fname = parts[-1]
            part_dir = next(
                p for p in reversed(parts) if p.startswith("part_date=")
            )
            delta.setdefault(part_dir, {})[fname] = [
                int(p) for p in row["__dv_positions"]
            ]
        # the atomic commit-intent publish: present+parseable == complete
        self._atomic_json_write(
            self._dv_pending_file(), {"epoch": epoch_id, "dv": delta}
        )
        self._apply_pending_dv(spark)

    def _finish_pending_dv(self, spark: SparkSession) -> int | None:
        """Complete a crashed merge-on-read delete from its pending
        file (atomic write — it is either absent or complete). The
        sidecar union is idempotent, so replaying a half-applied
        pending is safe. Returns the finished epoch or None."""
        if not os.path.exists(self._dv_pending_file()):
            return None
        return self._apply_pending_dv(spark)

    def _apply_pending_dv(self, spark: SparkSession) -> int:
        """Fold the pending DV delta into each touched partition's
        ``_dv.json`` (atomic per-partition publish, set-union with any
        existing vector), snapshot the touched partitions (the
        hardlink copy captures data files at zero cost plus the new
        sidecar), then retire the pending file — the commit point
        ordering mirrors the merge path: staging outlives the
        manifest publish."""
        with open(self._dv_pending_file()) as fh:
            pending = json.load(fh)
        epoch_id = int(pending["epoch"])
        for part_dir, files in pending["dv"].items():
            sidecar = os.path.join(self.path, part_dir, "_dv.json")
            try:
                with open(sidecar) as fh:
                    current = json.load(fh)
            except (FileNotFoundError, ValueError):
                current = {}
            for fname, positions in files.items():
                current[fname] = sorted(
                    set(current.get(fname, [])) | set(positions)
                )
            self._atomic_json_write(sidecar, current)
        # cache write-through BEFORE the pending file retires: a crash
        # in between replays this (idempotent) apply and converges
        self._refresh_consolidated(sorted(pending["dv"]))
        self._snapshot(
            spark, epoch_id, sorted(pending["dv"]), op="delete"
        )
        os.remove(self._dv_pending_file())
        return epoch_id

    def _dv_map(self, dirs: list[str]) -> dict[tuple[str, str], list[int]]:
        """(partition dirname, file name) -> deleted row indexes,
        unioned over the ``_dv.json`` sidecars in ``dirs``. The
        partition dirname MUST be part of the key: one Spark write
        task emits the SAME part-file name into every partition it
        touches (``part_date=A/part-00003-<uuid>`` and ``part_date=B/
        part-00003-<uuid>`` coexist), so a name-only vector would
        hide same-positioned rows in sibling partitions. The
        (dirname, name) pair is identical for a live file and its
        hardlinked snapshot copy (``.../epoch=N/part_date=A/part-...``
        keeps both trailing path elements), which is what lets one
        sidecar serve both."""
        out: dict[tuple[str, str], list[int]] = {}
        for d in dirs:
            sidecar = os.path.join(d, "_dv.json")
            if not os.path.exists(sidecar):
                continue
            try:
                with open(sidecar) as fh:
                    loaded = json.load(fh)
            except ValueError:
                continue  # unparsable: atomic writes never produce one
            part_dir = os.path.basename(d.rstrip("/"))
            for fname, positions in loaded.items():
                out[(part_dir, fname)] = positions
        return out

    def _apply_dv(
        self,
        spark: SparkSession,
        df: DataFrame,
        dv: dict[tuple[str, str], list[int]],
    ) -> DataFrame:
        """Filter DV-deleted rows out of a fresh file-source scan: a
        broadcast ANTI-join on (partition dirname, file name, row
        index) against the doomed-position relation — plans as one
        BroadcastHashJoin, no shuffle of the table side, and vanishes
        entirely (df returned untouched) when no vectors exist,
        keeping the hot path free."""
        if not dv:
            return df
        pairs = [
            (d, n, int(p)) for (d, n), positions in dv.items() for p in positions
        ]
        doomed = spark.createDataFrame(
            pairs, "__dv_dir string, __dv_file string, __dv_pos bigint"
        )
        cols = df.columns
        split = F.split(F.col("_metadata.file_path"), "/")
        return (
            df.withColumn("__dv_dir", F.element_at(split, -2))
            .withColumn("__dv_file", F.element_at(split, -1))
            .withColumn("__dv_pos", F.col("_metadata.row_index"))
            .join(
                F.broadcast(doomed),
                ["__dv_dir", "__dv_file", "__dv_pos"],
                "left_anti",
            )
            .select(*cols)
        )

    def _semi_join_keys(self, left: DataFrame, keys: DataFrame) -> DataFrame:
        """``left`` restricted to rows whose key appears in ``keys`` —
        the NULL-safe mirror of ``_anti_join_keys``."""
        from functools import reduce

        l, r = left.alias("__t"), F.broadcast(keys).alias("__b")
        cond = reduce(
            lambda a, b: a & b,
            [
                F.col(f"__t.{k}").eqNullSafe(F.col(f"__b.{k}"))
                for k in self.key_cols
            ],
        )
        return l.join(r, on=cond, how="left_semi")

    def _anti_join_keys(self, left: DataFrame, keys: DataFrame) -> DataFrame:
        """``left`` minus rows whose key appears in ``keys`` —
        NULL-SAFE on every key column: a plain equi-anti-join's
        ``NULL = NULL`` never matches, so a NULL-keyed row could
        neither be overwritten by a merge nor removed by a delete
        (it would silently duplicate instead). Broadcast + eqNullSafe
        still plans as a BroadcastHashJoin."""
        from functools import reduce

        l, r = left.alias("__t"), F.broadcast(keys).alias("__b")
        cond = reduce(
            lambda a, b: a & b,
            [
                F.col(f"__t.{k}").eqNullSafe(F.col(f"__b.{k}"))
                for k in self.key_cols
            ],
        )
        return l.join(r, on=cond, how="left_anti")

    # -- snapshot transaction log -----------------------------------------
    @staticmethod
    def _part_dirname(value) -> str:
        """part_date value -> physical partition directory name."""
        if value is None:
            return "part_date=__HIVE_DEFAULT_PARTITION__"
        return f"part_date={value.isoformat() if hasattr(value, 'isoformat') else value}"

    @staticmethod
    def _copytree_link(src: str, dst: str) -> None:
        """copytree by HARDLINK (fallback: physical copy across
        filesystems) — the zero-copy snapshot/restore primitive. Safe
        for the same reason SHALLOW CLONE is: every mutation in this
        engine replaces whole files (swap commits, compaction, deletes
        all unlink-and-install; `_dv.json` sidecars publish via
        os.replace), so the immutable epoch copy keeps its inode alive
        while the live side unlinks freely. Turns the per-commit
        snapshot cost from O(touched partition BYTES) into O(touched
        FILES) metadata — at 100 TB the transaction log costs inode
        churn, not data movement. On an object store the same contract
        is a server-side copy (S3 CopyObject) or a manifest that
        references the immutable data objects directly."""

        def _link_or_copy(s: str, d: str) -> None:
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)

        shutil.copytree(src, dst, copy_function=_link_or_copy)

    def _manifest_path(self, epoch_id: int) -> str:
        return os.path.join(self.snapshot_dir, "manifest", f"epoch={epoch_id}.json")

    def _epoch_schema_path(self, epoch_id: int) -> str:
        # separate dir from manifest/: snapshots() globs manifest/ by
        # 'epoch=*.json' and must not parse a schema sidecar's name
        return os.path.join(self.snapshot_dir, "schemas", f"epoch={epoch_id}.json")

    def _epoch_schema(self, epoch_id: int):
        """Schema of a committed version (published with its manifest)."""
        return self._load_schema(self._epoch_schema_path(epoch_id))

    def _manifest(self, epoch_id: int) -> dict:
        """A version's manifest: ``{parts, committed_at, op,
        sidecars}`` — parts maps each partition dir to the epoch whose
        immutable copy holds it, sidecars folds each dir's metadata
        entry (see ``_publish_manifest``)."""
        with open(self._manifest_path(epoch_id)) as fh:
            return json.load(fh)

    def _load_manifest(self, epoch_id: int) -> dict[str, int]:
        return self._manifest(epoch_id)["parts"]

    def _manifest_committed_at(self, epoch_id: int) -> float:
        """Commit time of a snapshot: the timestamp recorded INSIDE the
        manifest at first publish. Manifests are rewritten with
        identical parts on idempotent epoch replays and by a
        migration's re-publish; using the file's mtime would refresh
        the clock on every rewrite and silently extend time-based
        retention."""
        return float(self._manifest(epoch_id)["committed_at"])

    def _manifest_op(self, epoch_id: int) -> str:
        """Operation recorded at a version's publish."""
        return str(self._manifest(epoch_id)["op"])

    def _publish_manifest(
        self,
        epoch_id: int,
        parts: dict[str, int],
        op: str,
        sidecars: dict[str, dict],
    ) -> None:
        """Atomic manifest publish (the commit point), PRESERVING the
        first publish's commit timestamp across replays/heals and
        recording the operation type (merge/delete/restore/migrate)
        for the history view. ``sidecars`` folds each referenced
        partition's per-file metadata (data file names, file stats,
        deletion vectors) INTO the manifest — the Delta-checkpoint /
        Iceberg-manifest design — so a time-travel plan needs ONE JSON
        read instead of O(partitions) sidecar opens (VERDICT r9
        item 4)."""
        try:
            committed_at = self._manifest_committed_at(epoch_id)
        except (FileNotFoundError, ValueError):
            committed_at = time.time()
        self._atomic_json_write(
            self._manifest_path(epoch_id),
            {
                "parts": parts,
                "committed_at": committed_at,
                "op": op,
                "sidecars": sidecars,
            },
        )

    # -- consolidated per-partition metadata (one plan-time read) ----------
    def _sidecars_file(self) -> str:
        return os.path.join(self.path, "_sidecars.json")

    @staticmethod
    def _dir_entry(pdir: str) -> dict:
        """One partition dir's metadata entry: non-empty data file
        names, the file-stats sidecar, the deletion-vector sidecar.
        Built at COMMIT time (O(touched dirs) per commit, under the
        writer lock) so plan time never lists or opens per-dir files."""
        entry: dict = {"files": [], "stats": None, "dv": None, "bloom": None}
        try:
            names = os.listdir(pdir)
        except FileNotFoundError:
            return entry
        entry["files"] = sorted(
            f
            for f in names
            if f.endswith(".parquet")
            and os.path.getsize(os.path.join(pdir, f)) > 0
        )
        for key, fname in (
            ("stats", "_stats.json"),
            ("dv", "_dv.json"),
            ("bloom", "_bloom.json"),
        ):
            try:
                with open(os.path.join(pdir, fname)) as fh:
                    entry[key] = json.load(fh)
            except (FileNotFoundError, ValueError):
                pass
        # DIR-level zone map (r11): fold the per-file ranges once at
        # commit time so plan-time selection can dismiss a whole dir
        # without iterating its file entries — the partition-stats
        # tier of hierarchical pruning (Iceberg partition summaries).
        # Recorded ONLY when every listed file is stats-covered for
        # the column: a partial fold could wrongly dismiss an
        # uncovered file's dir.
        s = entry["stats"]
        if s:
            fstats = s.get("files", {})
            rng: dict = {}
            for c in s.get("columns", []):
                los: list = []
                his: list = []
                for f in entry["files"]:
                    r = fstats.get(f, {}).get(c)
                    if r is None:
                        los = []
                        break
                    los.append(r[0])
                    his.append(r[1])
                if los:
                    rng[c] = [min(los), max(his)]
            if rng:
                entry["range"] = rng
        return entry

    def _consolidated(self) -> dict[str, dict]:
        """The live table's consolidated metadata map (partition dir ->
        entry) — ONE JSON read of ``_sidecars.json``. When that file is
        missing or unparsable (deleted out of band, or a first commit
        that crashed between installing its partitions and refreshing
        the cache, which its replay then writes) the same map is built
        in memory from the partition dirs, so correctness never depends
        on the cache existing, only plan-time cost does. Read-only:
        writers persist the map through ``_refresh_consolidated``,
        which starts from this full map."""
        try:
            with open(self._sidecars_file()) as fh:
                return json.load(fh)
        except (FileNotFoundError, ValueError):
            return self._rebuild_entries({}, None)

    def _rebuild_entries(
        self, current: dict[str, dict], dirs: list[str] | None
    ) -> dict[str, dict]:
        """``current`` with the entries of ``dirs`` (every partition
        dir when None) rebuilt from disk; a dir that no longer exists
        is dropped."""
        if dirs is None:
            dirs = self._part_dirs()
        for d in dirs:
            pdir = os.path.join(self.path, d)
            if os.path.isdir(pdir):
                current[d] = self._dir_entry(pdir)
            else:
                current.pop(d, None)
        return current

    def _refresh_consolidated(self, dirs: list[str] | None = None) -> None:
        """Write-through maintenance of ``_sidecars.json``: rebuild the
        entries for ``dirs`` on top of the full current map, or the
        whole map when None. Called at the END of every path that
        mutates partition contents — always BEFORE the staging that
        would re-trigger recovery is dropped, so a crash in between
        re-enters the same commit and converges the cache; the cache
        is therefore never stale relative to a completed commit."""
        if not os.path.isdir(self.path):
            return
        current = {} if dirs is None else self._consolidated()
        self._atomic_json_write(
            self._sidecars_file(), self._rebuild_entries(current, dirs)
        )

    @staticmethod
    def _dv_from_entries(
        entries: dict[str, dict]
    ) -> dict[tuple[str, str], list[int]]:
        """Consolidated entries -> the (partition dirname, file name)
        -> deleted-row-indexes map ``_apply_dv`` consumes. Entries are
        keyed by dir PATH or dirname; only the basename matters (it
        matches ``_metadata.file_path``'s parent for live files and
        hardlinked epoch copies alike)."""
        out: dict[tuple[str, str], list[int]] = {}
        for d, e in entries.items():
            part_dir = os.path.basename(d.rstrip("/"))
            for fname, positions in (e.get("dv") or {}).items():
                out[(part_dir, fname)] = positions
        return out

    def _snapshot(
        self,
        spark: SparkSession,
        epoch_id: int,
        touched: list[str],
        op: str = "merge",
    ) -> None:
        """Retain this epoch's committed state in the transaction log
        (no-op unless ``snapshot_dir`` is set): copy each TOUCHED
        partition's current content to an immutable per-epoch location,
        then publish a manifest = previous manifest with those
        partitions re-pointed. O(changed partitions) data movement per
        commit — the manifest write (last, atomic rename) is the commit
        point. Idempotent: a replayed epoch overwrites its own copies
        and manifest with identical content. Expired epochs beyond
        ``max_snapshots`` are vacuumed after each commit. ``touched``
        None publishes EXACTLY the live layout, inheriting nothing (a
        migration's re-publish of the newest version)."""
        if self.snapshot_dir is None:
            return
        prev_epochs = [e for e in self.snapshots() if e < epoch_id]
        prev = (
            self._manifest(prev_epochs[-1])
            if prev_epochs and touched is not None
            else {"parts": {}, "sidecars": {}}
        )
        if touched is None or not prev_epochs:
            # the whole live layout — also every first snapshot, so the
            # manifest is complete even when the sink attached to a
            # pre-existing table
            touched = self._part_dirs()
        epoch_files = os.path.join(self.snapshot_dir, "files", f"epoch={epoch_id}")
        manifest: dict[str, int] = dict(prev["parts"])
        sidecars: dict[str, dict] = dict(prev["sidecars"])
        for d in touched:
            src = os.path.join(self.path, d)
            if not os.path.isdir(src):
                # a DELETE emptied this partition: it is DROPPED at
                # this version — no entry, so read_at composes without
                # it and the typed change feed reports its old rows as
                # deletes
                manifest.pop(d, None)
                sidecars.pop(d, None)
                continue
            dst = os.path.join(epoch_files, d)
            shutil.rmtree(dst, ignore_errors=True)  # replayed epoch
            self._copytree_link(src, dst)
            manifest[d] = epoch_id
            # the live dir IS the epoch copy at this instant (just
            # hardlinked) — its entry folds into the manifest so a
            # time-travel plan reads one JSON, not O(dirs) sidecars
            sidecars[d] = self._dir_entry(src)
        # schema sidecar first: the manifest publish is the commit
        # point, and a committed version must know its schema AS OF
        # that commit (time travel across an evolution boundary shows
        # each version under its own columns, the Delta behavior)
        schema = self._stored_schema()
        if schema is None:
            schema = spark.read.parquet(self.path).schema
        self._atomic_json_write(
            self._epoch_schema_path(epoch_id), schema.jsonValue()
        )
        # the manifest publish (last) is the commit point
        self._publish_manifest(epoch_id, manifest, op=op, sidecars=sidecars)
        self._expire_snapshots()

    def vacuum(self, max_age_s: float | None = None) -> None:
        """Manual VACUUM (the Delta ``VACUUM .. RETAIN`` shape): apply
        the configured count bound AND, when ``max_age_s`` is given, a
        TIME bound — every snapshot whose manifest FIRST published more
        than ``max_age_s`` seconds ago expires (the commit timestamp is
        recorded inside the manifest at first publish and preserved
        across idempotent replays/heals — the file's mtime refreshes on
        those rewrites and would silently extend retention). The newest
        snapshot always survives
        (the log must keep at least the current version). Runs the
        same physical cleanup as the per-commit expiry, under the
        writer lock — an unlocked vacuum could delete partition copies
        a concurrent commit has written but not yet published a
        manifest for. No-op without a snapshot log."""
        if self.snapshot_dir is None:
            return
        with self._writer_lock():
            self._expire_snapshots(max_age_s=max_age_s)

    def _expire_snapshots(self, max_age_s: float | None = None) -> None:
        """VACUUM: drop every manifest older than the newest
        ``max_snapshots`` ones — and older than ``max_age_s`` when
        given — then physically delete partition copies no retained
        manifest references. Expired epochs become unreadable by
        design — ``read_at`` below the horizon raises."""
        if self.max_snapshots is None and max_age_s is None:
            return
        retained = (
            self.snapshots()[-self.max_snapshots :]
            if self.max_snapshots is not None
            else self.snapshots()
        )
        if max_age_s is not None and retained:
            horizon = time.time() - max_age_s
            newest = retained[-1]  # current version always survives
            retained = [
                e
                for e in retained
                if e == newest or self._manifest_committed_at(e) >= horizon
            ]
        for epoch in self.snapshots():
            if epoch not in retained:
                os.remove(self._manifest_path(epoch))
                try:
                    os.remove(self._epoch_schema_path(epoch))
                except FileNotFoundError:
                    pass  # removed out of band
        referenced = {
            (e, d)
            for epoch in retained
            for d, e in self._load_manifest(epoch).items()
        }
        files_root = os.path.join(self.snapshot_dir, "files")
        if not os.path.isdir(files_root):
            return
        for epoch_dir in os.listdir(files_root):
            # stray entries (tmp files, _SUCCESS-like markers) must not
            # abort the commit's expiry — parse only 'epoch=<int>' dirs,
            # mirroring the guard in snapshots()
            name, sep, suffix = epoch_dir.partition("=")
            if name != "epoch" or not sep or not suffix.lstrip("-").isdigit():
                continue
            epoch = int(suffix)
            for d in os.listdir(os.path.join(files_root, epoch_dir)):
                if (epoch, d) not in referenced:
                    shutil.rmtree(
                        os.path.join(files_root, epoch_dir, d), ignore_errors=True
                    )
            if not os.listdir(os.path.join(files_root, epoch_dir)):
                os.rmdir(os.path.join(files_root, epoch_dir))

    def snapshots(self) -> list[int]:
        """Committed snapshot epochs (published manifests), ascending."""
        if self.snapshot_dir is None:
            return []
        mdir = os.path.join(self.snapshot_dir, "manifest")
        if not os.path.isdir(mdir):
            return []
        return sorted(
            int(name[len("epoch=") : -len(".json")])
            for name in os.listdir(mdir)
            if name.startswith("epoch=") and name.endswith(".json")
        )

    def read_at(self, spark: SparkSession, epoch_id: int) -> DataFrame:
        """Time-travel read: the table as of the newest snapshot whose
        epoch is <= ``epoch_id`` (mirrors VERSION AS OF semantics) —
        composed from the manifest's referenced partition copies, no
        full-table materialization ever happened. Raises below the
        retention horizon — an expired version is gone, exactly like a
        vacuumed Delta/Iceberg version."""
        entries, schema = self._resolve(spark, epoch_id)
        return self._compose(spark, sorted(entries), entries, schema)

    def _epoch_copy(self, epoch_id: int, pdir: str) -> str:
        """Path of partition dir ``pdir``'s immutable copy at epoch."""
        return os.path.join(self.snapshot_dir, "files", f"epoch={epoch_id}", pdir)

    def _version_entries(self, epoch_id: int) -> dict[str, dict]:
        """Copy PATH -> folded metadata entry for every partition a
        version references — one manifest read, zero per-dir opens."""
        m = self._manifest(epoch_id)
        return {
            self._epoch_copy(e, d): m["sidecars"][d]
            for d, e in m["parts"].items()
        }

    def _resolve(self, spark: SparkSession, version: int | None):
        """The plan-time metadata of one table state, shared by every
        reader: (partition dir PATH -> metadata entry, logical schema
        without the directory-encoded ``part_date``, None when none is
        recorded — see ``_scan``). ``version=None``
        is the live table — a crashed swap is repaired first, then the
        consolidated cache and the authoritative schema. Otherwise the
        newest retained version <= ``version``: its manifest fold and
        the schema AS OF that commit (each version reads under its own
        columns and names, across evolutions and renames). Raises
        below the retention horizon."""
        from pyspark.sql.types import StructType

        if version is None:
            self._repair_for_read(spark)
            entries = {
                os.path.join(self.path, d): e
                for d, e in self._consolidated().items()
            }
            schema = self._stored_schema()
        else:
            retained = self.snapshots()
            eligible = [e for e in retained if e <= version]
            if not eligible:
                if retained:
                    raise ValueError(
                        f"epoch {version} precedes the retention horizon "
                        f"(oldest retained snapshot: {retained[0]}, "
                        f"max_snapshots={self.max_snapshots})"
                    )
                raise ValueError(f"no snapshot at or before epoch {version}")
            entries = self._version_entries(eligible[-1])
            schema = self._epoch_schema(eligible[-1])
        if schema is not None:
            schema = StructType(
                [f for f in schema.fields if f.name != "part_date"]
            )
        return entries, schema

    def _compose(
        self,
        spark: SparkSession,
        paths: list[str],
        entries: dict[str, dict],
        schema,
    ) -> DataFrame:
        """The one read composition of every reader: scan ``paths``
        (data files, partition dirs or the table root) under
        ``schema`` (see ``_scan``), hide the rows the entries' deletion
        vectors delete (each copy carries its vector AS OF its commit)
        and map physical to logical names. Zero paths is the empty
        table (a delete that emptied every partition publishes an
        empty manifest; a pruned plan may select nothing)."""
        if not paths:
            if schema is None:  # no recorded schema: the live footers'
                return self._read_table(spark).drop("part_date").limit(0)
            return spark.createDataFrame([], schema)
        df = self._scan(spark, paths, schema)
        return self._to_logical(
            self._apply_dv(spark, df, self._dv_from_entries(entries)), schema
        )

    def _scan(self, spark: SparkSession, paths: list[str], schema) -> DataFrame:
        """Raw file-source scan of ``paths`` under ``schema``'s physical
        names: after an evolution commit only the touched partitions
        physically carry the new column, and a footer-sampled read
        could silently drop it; the explicit schema makes every file
        NULL-fill what it lacks. Footer-sampled only when no schema is
        recorded (a ``_schema.json`` deleted out of band)."""
        self._invalidate_listing(spark)
        reader = (
            spark.read
            if schema is None
            else spark.read.schema(self._physical_schema(schema))
        )
        return reader.parquet(*paths)

    def clone(
        self,
        spark: SparkSession,
        dest_path: str,
        snapshot_dir: str | None = None,
    ) -> "ParquetUpsertSink":
        """SHALLOW CLONE (the Delta ``CREATE TABLE .. SHALLOW CLONE``
        shape): a new independent table sharing the source's data
        files by HARDLINK — O(files) metadata, zero data copied. Safe
        because every mutation in this engine replaces whole files
        (swap commits, compaction, deletes all unlink-and-install;
        nothing ever appends to an existing parquet file in place), so
        a write to either table unlinks its side of the shared inode
        and the other table is untouched — copy-on-write for free.
        Falls back to a physical copy per file across filesystems.
        The clone starts a FRESH snapshot log (its first commit
        snapshots the full baseline via the existing attach-to-
        pre-existing-table path); sidecars (authoritative schema,
        partition-spec history) are copied so evolution state carries
        over. Taken under the source's writer lock after completing
        any pending work, so the clone is a consistent committed
        state."""
        dest_path = dest_path.rstrip("/")
        if os.path.isdir(dest_path) and os.listdir(dest_path):
            raise ValueError(f"clone destination {dest_path} is not empty")
        with self._writer_lock():
            self._recover(spark)
            os.makedirs(dest_path, exist_ok=True)
            for d in os.listdir(self.path):
                src_dir = os.path.join(self.path, d)
                if d.startswith("part_date=") and os.path.isdir(src_dir):
                    dst_dir = os.path.join(dest_path, d)
                    os.makedirs(dst_dir)
                    for f in os.listdir(src_dir):
                        s = os.path.join(src_dir, f)
                        if not os.path.isfile(s):
                            continue
                        try:
                            os.link(s, os.path.join(dst_dir, f))
                        except OSError:  # cross-device: physical copy
                            shutil.copy2(s, os.path.join(dst_dir, f))
                elif d in (
                    "_schema.json",
                    "_partspec.json",
                    "_colmap.json",
                    "_constraints.json",
                    "_sidecars.json",  # entries are accurate for the
                    # hardlinked dirs (identical files/stats/DV)
                ) and os.path.isfile(src_dir):
                    shutil.copy2(src_dir, os.path.join(dest_path, d))
        return ParquetUpsertSink(
            dest_path,
            key_cols=tuple(self.key_cols),
            partition_source=self.partition_source,
            retries=self.retries,
            retry_delay_s=self.retry_delay_s,
            snapshot_dir=snapshot_dir,
            max_snapshots=self.max_snapshots,
            schema_evolution=self.schema_evolution,
            auto_compact_files=self.auto_compact_files,
            partition_granularity=self.partition_granularity,
        )

    def describe_history(self, spark: SparkSession) -> DataFrame:
        """The DESCRIBE HISTORY view of the transaction log: one row
        per retained version — epoch, the operation that committed it
        (merge/delete/restore/migrate/...), its live partition count,
        and the recorded commit timestamp. One JSON read per retained
        manifest — metadata only, bounded by the retention policy,
        never a data scan."""
        if self.snapshot_dir is None:
            raise ValueError("sink was built without snapshot_dir")
        rows = [
            (e, str(m["op"]), len(m["parts"]), float(m["committed_at"]))
            for e in self.snapshots()
            for m in (self._manifest(e),)
        ]
        return spark.createDataFrame(
            rows, "epoch long, op string, n_partitions long, committed_at double"
        )

    def describe_files(self, spark: SparkSession) -> DataFrame:
        """The DESCRIBE DETAIL / `table_files()` metadata view: one row
        per live data file — partition, name, bytes, whether min/max
        stats and a bloom bitset cover it, and how many rows its
        deletion vector hides. Sourced from the SAME live metadata the
        query planner resolves (one JSON open of the consolidated
        cache) plus one stat() per file for the size, so the view
        costs O(files) metadata and never scans data — the operational
        surface for "is this table compacted / indexed / carrying
        delete debt?" that OPTIMIZE decisions need at 100 TB. The
        resolve heals a crashed swap first, like every other read; a
        never-written table is an empty view, not an error (ADVICE
        r10)."""
        entries, _ = self._resolve(spark, None)
        rows = []
        for pdir in sorted(entries):
            e = entries[pdir]
            stats_files = (e.get("stats") or {}).get("files", {})
            bloom_files = (e.get("bloom") or {}).get("files", {})
            dv = e.get("dv") or {}
            for fname in e.get("files", []):
                try:
                    size = os.path.getsize(os.path.join(pdir, fname))
                except OSError:
                    size = None
                rows.append(
                    (
                        os.path.basename(pdir).split("=", 1)[1],
                        fname,
                        size,
                        fname in stats_files,
                        fname in bloom_files,
                        len(dv.get(fname, [])),
                    )
                )
        return spark.createDataFrame(
            rows,
            "part_date string, file string, bytes long, "
            "has_stats boolean, has_bloom boolean, dv_deleted_rows long",
        )

    def read_at_timestamp(self, spark: SparkSession, ts: float) -> DataFrame:
        """Time-travel read by WALL-CLOCK instant (the Delta
        ``TIMESTAMP AS OF`` shape): the table as of the newest retained
        snapshot whose recorded commit time is <= ``ts`` (epoch
        seconds). Resolution uses the commit timestamp recorded INSIDE
        each manifest at first publish — stable across idempotent
        replays and migration heals, unlike file mtime — then composes
        through the same manifest read as ``read_at``. Raises below
        the retention horizon, exactly like an expired version."""
        eligible = [
            e
            for e in self.snapshots()
            if self._manifest_committed_at(e) <= ts
        ]
        if not eligible:
            raise ValueError(
                f"no retained snapshot committed at or before ts={ts} "
                f"(retained epochs: {self.snapshots()}, "
                f"max_snapshots={self.max_snapshots})"
            )
        return self.read_at(spark, eligible[-1])

    def read_history(self, spark: SparkSession) -> DataFrame:
        """Every retained snapshot as one DataFrame with an ``epoch``
        column — the audit/history view (one manifest resolution per
        retained epoch; bounded by ``max_snapshots``)."""
        if self.snapshot_dir is None:
            raise ValueError("sink was built without snapshot_dir")
        from functools import reduce

        dfs = [
            self.read_at(spark, e).withColumn("epoch", F.lit(e))
            for e in self.snapshots()
        ]
        # each version reads under its own as-of schema; across an
        # evolution boundary the earlier versions NULL-fill the
        # later-added columns in the stacked view
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs
        )

    def read_changes(
        self, spark: SparkSession, from_epoch: int, to_epoch: int
    ) -> DataFrame:
        """Change-data-feed between two committed versions (the Delta
        CDF ``table_changes`` shape): the post-image rows of
        ``to_epoch`` that did not exist identically at ``from_epoch``.

        Manifest-pruned: only partitions whose manifest entry CHANGED
        between the two versions are scanned — an unchanged partition
        has the same immutable (epoch, dir) pointer in both manifests
        and can contribute nothing to the diff. At 100 TB this reads
        O(changed partitions), never O(table), which is the whole
        point of keeping the log. Within the changed partitions the
        diff is ``exceptAll`` (multiset — duplicate-safe)."""
        new, old, dropped = self._version_diff(spark, from_epoch, to_epoch)
        # a delete_keys() commit can DROP partitions; their rows (and
        # any row-level deletes inside surviving partitions) are only
        # visible through the typed feed, so the post-image-only
        # contract here must fail loudly rather than under-report
        if dropped:
            raise ValueError(
                f"partitions dropped between versions: {dropped} — a "
                f"delete_keys() commit lies in this range; use "
                f"read_changes_typed() for the delete-aware feed"
            )
        if new is None:  # identical versions (e.g. an empty commit)
            return self.read_at(spark, to_epoch).limit(0)
        return new if old is None else new.exceptAll(old)

    def _version_diff(self, spark: SparkSession, from_epoch: int, to_epoch: int):
        """(new, old, dropped) between two retained versions — the
        manifest-pruned sides of both change feeds. ``new`` reads the
        TO copies of partitions whose pointer changed; ``old`` reads
        the FROM copies of those plus of the partitions ``dropped`` in
        between; None when there is nothing to read. Both sides read
        under the TO version's schema so exceptAll compares aligned
        relations across an evolution boundary (a pre-evolution row
        differs from its post-image exactly when the evolved column,
        NULL before, or any value changed), and each hides the rows
        its own version's deletion vectors delete."""
        retained = self.snapshots()
        for epoch in (from_epoch, to_epoch):
            if epoch not in retained:
                raise ValueError(
                    f"epoch {epoch} is not a retained snapshot "
                    f"(retained: {retained}, max_snapshots="
                    f"{self.max_snapshots}) — expired or never committed"
                )
        m_from = self._load_manifest(from_epoch)
        m_to = self._load_manifest(to_epoch)
        changed = sorted(d for d, e in m_to.items() if m_from.get(d) != e)
        dropped = sorted(d for d in m_from if d not in m_to)
        to_entries, schema = self._resolve(spark, to_epoch)
        new_paths = [self._epoch_copy(m_to[d], d) for d in changed]
        old_paths = [
            self._epoch_copy(m_from[d], d)
            for d in changed + dropped
            if d in m_from
        ]
        new = (
            self._compose(spark, new_paths, to_entries, schema)
            if new_paths
            else None
        )
        old = (
            self._compose(
                spark, old_paths, self._version_entries(from_epoch), schema
            )
            if old_paths
            else None
        )
        return new, old, dropped

    def read_changes_typed(
        self, spark: SparkSession, from_epoch: int, to_epoch: int
    ) -> DataFrame:
        """Delete-aware change-data-feed between two committed
        versions: every row with a ``change_type`` column —
        ``'upsert'`` post-images (inserted or overwritten rows, the
        ``read_changes`` relation) and ``'delete'`` pre-images (rows
        whose KEY exists at ``from_epoch`` but not at ``to_epoch``,
        with their last-known values). Same manifest pruning: only
        pointer-changed and dropped partitions are scanned — a
        ``delete_keys`` commit changes exactly the partitions holding
        doomed keys, so the feed stays O(changed partitions). Relies
        on the same key→partition locality as the merge (a key never
        migrates partitions), which is what makes the per-partition
        key anti-join exact."""
        new, old, _ = self._version_diff(spark, from_epoch, to_epoch)

        def empty() -> DataFrame:  # degenerate branches only — lazy
            return (
                self.read_at(spark, to_epoch)
                .limit(0)
                .withColumn("change_type", F.lit(""))
            )

        if new is None and old is None:  # identical versions
            return empty()
        upserts = (
            (new.exceptAll(old) if old is not None else new).withColumn(
                "change_type", F.lit("upsert")
            )
            if new is not None
            else empty()
        )
        if old is None:
            return upserts
        new_keys = (
            new.select(*self.key_cols)
            if new is not None
            else old.select(*self.key_cols).limit(0)
        )
        deletes = self._anti_join_keys(old, new_keys).withColumn(
            "change_type", F.lit("delete")
        )
        return upserts.unionByName(deletes)

    def _stage_merge(
        self, spark: SparkSession, batch: DataFrame, vals: list, epoch_id: int
    ) -> tuple[list[str], list[str]]:
        """Compute keep ∪ batch for the touched partitions and stage it
        as ``epoch_id``'s recorded commit (see ``_stage``) WITHOUT
        touching the target — ONE partitioned write. ``batch`` and
        ``vals`` come from ``_persisted``: the batch side reads the
        cached rows, never the batch's plan. Returns (touched dir
        names, emptied dir names) — the snapshot delta and the dirs a
        post-evolution overwrite drained."""
        if not self._table_exists():
            # no live partition: the keep side is empty, so the batch
            # under its own schema IS the merged content
            rec = self._stage(batch, batch.schema, None, "merge", epoch=epoch_id)
            return rec["touched"], rec["emptied"]
        existing = self._read_table(spark)
        out_cols = self._evolved_columns(existing.schema, batch.schema)
        touched = vals
        if len(self._transforms()) > 1:
            # partitions the batch touches, under EVERY historical
            # partition spec: after evolve_partitioning a batch key's
            # old copy still lives in its old-granularity partition,
            # and the keep side must read (and the overwrite must
            # claim) it too
            live_dirs = set(self._part_dirs())
            batch_dirs = {self._part_dirname(v) for v in vals}
            candidates, _ = self._touched_candidates(batch)
            touched = [
                v
                for v in candidates
                if self._part_dirname(v) in live_dirs
                or self._part_dirname(v) in batch_dirs
            ]
        rec = self._stage(
            self._keep_union_batch(
                existing.filter(self._part_date_filter(touched)),
                batch,
                out_cols,
            ),
            self._staged_logical_schema(existing, batch, out_cols),
            [self._part_dirname(v) for v in touched],
            "merge",
            epoch=epoch_id,
        )
        return rec["touched"], rec["emptied"]

    @staticmethod
    @contextlib.contextmanager
    def _persisted(batch: DataFrame):
        """``batch`` (with ``part_date``) persisted for one commit,
        with its sorted part_date values. A foreachBatch frame re-runs
        its incremental plan (source scan, aggregation, state store)
        on every action, so ONE ``distinct().collect()`` over the
        persisted frame materializes it, tells an empty batch (no
        values) apart and yields the touched values; the audit, the
        keep ∪ batch stage and every OCC retry then read the cached
        rows. Released on every exit: an empty batch, a refused one,
        a crash or a retry."""
        batch = batch.persist()
        try:
            vals = [r[0] for r in batch.select("part_date").distinct().collect()]
            yield batch, sorted(vals, key=lambda v: (v is None, str(v)))
        finally:
            batch.unpersist()

    def _keep_union_batch(
        self, existing: DataFrame, staged: DataFrame, out_cols: list[str]
    ) -> DataFrame:
        """keep ∪ batch in ``out_cols`` order: ``existing`` (the touched
        partitions' rows — the live scan, or the OCC pin) minus the
        batch's keys (broadcast; NULL-safe, so NULL-keyed rows
        overwrite instead of duplicating), plus the batch.
        ``allowMissingColumns`` NULL-fills whichever side lacks an
        evolved column; without evolution it never fires."""
        keep = self._anti_join_keys(existing, staged.select(*self.key_cols))
        return keep.unionByName(staged, allowMissingColumns=True).select(*out_cols)

    def _stage(
        self,
        frame: DataFrame,
        schema,
        touched: list[str] | None,
        op: str,
        root: str | None = None,
        **fields,
    ) -> dict:
        """Stage a commit under ``root`` (default: the canonical commit
        staging; OCC writers pass their private one): ``frame`` — the
        complete post-commit rows of the touched partitions — written
        partitioned under ``schema``'s physical names, file stats and
        blooms refreshed for the staged dirs, then the commit record
        (``_publish_record``). Returns the record."""
        root = self.merged_path if root is None else root
        self._distribute(self._to_physical(frame, schema)).write.mode(
            "overwrite"
        ).partitionBy("part_date").parquet(root)
        self._refresh_staged_stats(root)
        self._refresh_staged_blooms(root)
        return self._publish_record(root, touched, op, schema, **fields)

    def _record_file(self, root: str | None = None) -> str:
        return os.path.join(root or self.merged_path, "_COMMIT.json")

    def _publish_record(
        self, root: str, touched: list[str] | None, op: str, schema, **fields
    ) -> dict:
        """Publish a staging's commit record — atomically and LAST, so
        it is the staging's one completeness marker (a staging without
        it crashed mid-write and is discarded): ``op``; ``touched``,
        the given dirs plus every staged one; ``emptied``, the touched
        dirs with no staged content (a delete, a post-evolution merge
        that drained an old-spec dir, the old layout of a migration),
        recorded now because a partially-installed staging cannot be
        inspected for this after a crash; the LOGICAL ``schema``
        (column-mapping metadata included — the physical parquet names
        alone cannot reconstruct the mapping; None publishes nothing);
        and ``fields`` — ``epoch`` to snapshot, ``occ`` key, ``specs``
        history. Returns the record."""
        staged = set(self._part_dirs(root))
        touched = sorted(set(touched or ()) | staged)
        rec = {
            "op": op,
            "touched": touched,
            "emptied": [d for d in touched if d not in staged],
            "schema": self._schema_json(schema),
            **fields,
        }
        self._atomic_json_write(self._record_file(root), rec)
        return rec

    def _staged_logical_schema(
        self, existing: DataFrame, staged: DataFrame, out_cols: list[str]
    ):
        """The logical schema of a staged merge output: stored fields
        keep their mapping metadata; genuinely NEW (evolved) columns
        get a UNIQUE physical name when column mapping is active, so a
        re-added logical name can never bind to a dropped column's
        dead bytes still sitting in old files."""
        import uuid as _uuid

        from pyspark.sql.types import StructField, StructType

        stored = self._stored_schema()
        base = {
            f.name: f
            for f in (stored.fields if stored is not None else existing.schema.fields)
        }
        staged_fields = {f.name: f for f in staged.schema.fields}
        active = self._colmap_active()
        fields = []
        for c in out_cols:
            if c in base:
                fields.append(base[c])
            else:
                src = staged_fields[c]
                md = (
                    {"physical": f"{c}_{_uuid.uuid4().hex[:8]}"}
                    if active
                    else None
                )
                fields.append(StructField(c, src.dataType, True, md))
        return StructType(fields)

    def _staged_record(self) -> dict | None:
        """The commit staging's record, or None when no staging exists
        or it never published one."""
        try:
            with open(self._record_file()) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    def _finish_pending_epoch(self, spark: SparkSession) -> int | None:
        """The ONE install step of every table rewrite — data commits
        (merge, delete, update, MERGE INTO, OCC) and maintenance
        (compaction, OPTIMIZE, migration, RESTORE) — and of its crash
        recovery. Installs the recorded staging and returns the epoch
        it snapshotted (None: no epoch, or nothing pending); a staging
        without a record crashed mid-write and is discarded.

        1. the recorded schema publishes, and the spec history when
           the record carries one — BEFORE the first target file is
           replaced, so a reader racing a live install NULL-fills a
           not-yet-installed evolved column (the reverse order would
           drop an installed one from its read);
        2. each staged dir is HARDLINKED into the table (O(files)
           inode work, zero bytes copied — the staged content already
           IS the complete new bytes of the partition; on an object
           store, per-partition server-side copies), and the emptied
           dirs are removed;
        3. the consolidated cache is written through over the touched
           and emptied dirs;
        4. with an ``epoch``, that version is snapshotted and the OCC
           key recorded in the idempotence ledger (a replayed OCC call
           then returns the version instead of re-applying a
           non-idempotent payload). Without one the rewrite is
           content-identical and adds no version; a migration (its
           record carries the spec it collapses to) moved rows between
           dirs, so the newest version is re-published over exactly the
           live layout — inheriting its old pointers would double-count
           migrated rows, or resurrect partitions a delete dropped.
           Compaction and OPTIMIZE restage dirs under their own names
           and leave the log alone;
        5. the staging drops.

        Every step is idempotent and the staging outlives all of them,
        so a crash anywhere in here replays this install — never the
        caller's (possibly empty, manifest-diverging) stage path."""
        rec = self._staged_record()
        if rec is None:
            shutil.rmtree(self.merged_path, ignore_errors=True)
            return None
        if rec["schema"] is not None:
            self._atomic_json_write(self._schema_file(), rec["schema"])
        if "specs" in rec:
            self._atomic_json_write(self._partspec_file(), rec["specs"])
        for d in self._part_dirs(self.merged_path):
            dst = os.path.join(self.path, d)
            shutil.rmtree(dst, ignore_errors=True)
            self._copytree_link(os.path.join(self.merged_path, d), dst)
        for d in rec["emptied"]:
            shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
        self._refresh_consolidated(rec["touched"])
        # the swap deleted target files in place; DataFrames planned
        # after this install must not be scheduled against the
        # session's stale file listing (see _invalidate_listing)
        self._invalidate_listing(spark)
        epoch = rec.get("epoch")
        if epoch is not None:
            self._snapshot(spark, epoch, rec["touched"], op=rec["op"])
            if "occ" in rec:
                self._occ_record_applied(
                    rec["occ"]["epoch"], epoch, rec["occ"]["writer"]
                )
        elif "specs" in rec and self.snapshots():
            newest = self.snapshots()[-1]
            self._snapshot(spark, newest, None, op=self._manifest_op(newest))
        shutil.rmtree(self.merged_path, ignore_errors=True)
        return epoch

    def _table_exists(self) -> bool:
        if not os.path.isdir(self.path):
            return False
        return any(
            name.startswith("part_date=") or name.endswith(".parquet")
            for name in os.listdir(self.path)
        )

    def _part_dirs(self, root: str | None = None) -> list[str]:
        """Sorted partition dir names under ``root`` (default: the
        table); none when it does not exist."""
        root = self.path if root is None else root
        if not os.path.isdir(root):
            return []
        return sorted(d for d in os.listdir(root) if d.startswith("part_date="))

    # -- authoritative table schema (see schema_evolution in __init__) ----
    def _schema_file(self) -> str:
        return os.path.join(self.path, "_schema.json")

    @staticmethod
    def _atomic_json_write(path: str, obj) -> None:
        """tmp-write + rename: every log artifact (table schema, epoch
        schema sidecar, manifest) publishes atomically through here."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(obj, fh)
        os.replace(tmp, path)

    @staticmethod
    def _load_schema(path: str):
        from pyspark.sql.types import StructType

        try:
            with open(path) as fh:
                return StructType.fromJson(json.load(fh))
        except FileNotFoundError:
            return None

    def _stored_schema(self):
        """The log-recorded table schema, or None when none is recorded
        — a new table, or a file deleted out of band: every commit
        publishes it before its first partition lands, so a live
        partition without it arises only from out-of-band deletion;
        reads then sample the footers (see ``_scan``) and the next
        staged commit publishes one."""
        return self._load_schema(self._schema_file())

    @staticmethod
    def _schema_json(schema) -> dict | None:
        """``schema`` as the JSON every schema file records (None
        stays None)."""
        from pyspark.sql.types import DateType, NullType, StructField, StructType

        if schema is None:
            return None
        # partition-column type is INFERRED from directory names on the
        # staging read; a commit touching only the hive-default (NULL)
        # partition infers VOID, which would poison the authoritative
        # schema (partitionBy refuses VOID; joins lose the date type).
        # part_date is DATE by construction (to_date), so pin it.
        return StructType(
            [
                StructField(f.name, DateType(), True)
                if f.name == "part_date" and isinstance(f.dataType, NullType)
                else f
                for f in schema.fields
            ]
        ).jsonValue()

    def _evolved_columns(self, table, batch) -> list[str]:
        """Validate the ``batch`` schema against the ``table`` schema
        (both include ``part_date``) and return the merged output
        column order (table order, new columns appended). Key and
        partition columns are required unconditionally; a type change
        on a shared column always raises; any other column-set
        difference raises unless ``schema_evolution`` is on."""
        required = set(self.key_cols) | {"part_date"}
        missing_required = required - set(batch.names)
        if missing_required:
            raise ValueError(
                f"batch is missing key/partition column(s) {sorted(missing_required)}"
            )
        self._check_no_type_change(table, batch)
        if set(batch.names) == set(table.names):
            return batch.names
        if not self.schema_evolution:
            added = sorted(set(batch.names) - set(table.names))
            dropped = sorted(set(table.names) - set(batch.names))
            raise ValueError(
                f"batch schema differs from table (added={added}, "
                f"omitted={dropped}); construct the sink with "
                f"schema_evolution=True to merge additively"
            )
        return list(table.names) + [
            c for c in batch.names if c not in set(table.names)
        ]

    @staticmethod
    def _check_no_type_change(table, incoming) -> None:
        """Refuse an ``incoming`` (batch or MERGE source) schema that
        changes a shared column's type: silent coercion corrupts at
        scale, so no evolution mode merges one."""
        table_types = {f.name: f.dataType for f in table.fields}
        conflicts = [
            (f.name, str(table_types[f.name]), str(f.dataType))
            for f in incoming.fields
            if f.name in table_types and f.dataType != table_types[f.name]
        ]
        if conflicts:
            raise ValueError(
                f"column type change(s) are never merged implicitly: {conflicts}"
            )

    # -- CHECK constraints (the Delta ALTER TABLE ADD CONSTRAINT shape) -----
    def _constraints_file(self) -> str:
        return os.path.join(self.path, "_constraints.json")

    def _constraints(self) -> dict[str, str]:
        try:
            with open(self._constraints_file()) as fh:
                return json.load(fh)
        except (FileNotFoundError, ValueError):
            return {}

    def add_constraint(self, spark: SparkSession, name: str, expr: str) -> None:
        """Register a CHECK constraint (SQL boolean expression over the
        logical columns). The EXISTING table must already satisfy it —
        validated with one scan before the sidecar publishes (the
        Delta contract) — and every future batch is audited against it
        at stage time, BEFORE any table mutation: a violating
        micro-batch raises ``ConstraintViolationError`` and the table
        is untouched (write-audit-publish). SQL semantics: only rows
        where the expression is FALSE violate; NULL/UNKNOWN passes."""
        with self._writer_lock():
            if self._table_exists():
                bad = self._read_table(spark).filter(
                    F.expr(expr) == F.lit(False)
                )
                if not bad.isEmpty():
                    raise ConstraintViolationError(
                        f"existing rows violate {name!r}: {expr}"
                    )
            cons = self._constraints()
            cons[name] = expr
            self._atomic_json_write(self._constraints_file(), cons)

    def drop_constraint(self, name: str) -> None:
        with self._writer_lock():
            cons = self._constraints()
            cons.pop(name, None)
            self._atomic_json_write(self._constraints_file(), cons)

    def _audit_batch(self, staged: DataFrame) -> None:
        """Write-audit-publish gate: refuse the staged batch if any
        constraint is violated. One ``isEmpty`` probe per constraint
        over the staged micro-batch only — O(batch), never O(table) —
        and it short-circuits at the first violating row."""
        for name, expr in self._constraints().items():
            if not staged.filter(F.expr(expr) == F.lit(False)).isEmpty():
                raise ConstraintViolationError(
                    f"batch violates CHECK constraint {name!r}: {expr}"
                )

    # -- column mapping (rename/drop without data rewrite) ------------------
    #
    # The Delta/Iceberg column-mapping design: each LOGICAL column (the
    # name queries see, the name recorded in every schema sidecar)
    # carries the PHYSICAL name its bytes live under in the parquet
    # files, as StructField metadata {"physical": ...}. RENAME changes
    # only the logical name (metadata-only commit — zero files touched
    # at any table size); DROP removes the field (old files keep the
    # bytes, the physical read schema simply never selects the column —
    # parquet column pruning makes the dropped data cost nothing to
    # skip). Because epoch schema sidecars already version the logical
    # schema per commit, time travel reads every old version under its
    # own names with no extra machinery. Once mapping is ACTIVE
    # (first rename/drop, recorded in _colmap.json), newly-evolved
    # columns get UNIQUE physical names so re-adding a dropped logical
    # name can never resurrect the dead physical column's bytes.

    def _colmap_file(self) -> str:
        return os.path.join(self.path, "_colmap.json")

    def _colmap_active(self) -> bool:
        return os.path.exists(self._colmap_file())

    def _mark_colmap_active(self, dropped_physical: str | None = None) -> None:
        try:
            with open(self._colmap_file()) as fh:
                state = json.load(fh)
        except (FileNotFoundError, ValueError):
            state = {"active": True, "dropped": []}
        if dropped_physical is not None:
            state.setdefault("dropped", []).append(dropped_physical)
        self._atomic_json_write(self._colmap_file(), state)

    @staticmethod
    def _physical_name(field) -> str:
        md = field.metadata or {}
        return md.get("physical", field.name)

    def _physical_schema(self, schema):
        """The schema of the parquet BYTES for a logical schema —
        fields renamed to their physical names (identity when mapping
        never activated)."""
        from pyspark.sql.types import StructField, StructType

        return StructType(
            [
                StructField(self._physical_name(f), f.dataType, f.nullable)
                for f in schema.fields
            ]
        )

    def _to_logical(self, df: DataFrame, schema) -> DataFrame:
        """Alias a physical-named scan to the logical view (no-op
        without mapping or without a stored schema). Columns of ``df``
        outside the schema (e.g. the positional probe columns the DV
        delete attaches) pass through untouched."""
        if schema is None or all(
            self._physical_name(f) == f.name for f in schema.fields
        ):
            return df
        physical = {self._physical_name(f) for f in schema.fields}
        return df.select(
            *[F.col(self._physical_name(f)).alias(f.name) for f in schema.fields],
            *[F.col(c) for c in df.columns if c not in physical],
        )

    def _to_physical(self, df: DataFrame, schema) -> DataFrame:
        """Rename a logical-named frame to physical column names for
        writing (the inverse of ``_to_logical``); columns absent from
        ``schema`` (none in practice) would raise, which is the right
        loud failure."""
        if schema is None or all(
            self._physical_name(f) == f.name for f in schema.fields
        ):
            return df
        by_name = {f.name: self._physical_name(f) for f in schema.fields}
        return df.select(
            *[F.col(c).alias(by_name.get(c, c)) for c in df.columns]
        )

    def rename_column(
        self, spark: SparkSession, old: str, new: str, epoch_id: int
    ) -> None:
        """RENAME COLUMN as a METADATA-ONLY commit (the Delta column-
        mapping contract): no data file is read or written — the
        logical field is renamed in the authoritative schema, its
        physical name pinned to wherever the bytes already live, and a
        snapshot version publishes with the previous manifest
        unchanged. Time travel below this epoch reads the old name
        (each version's schema sidecar is authoritative for it). Key
        and partition columns cannot be renamed — they are the sink's
        addressing contract (constructor parameters)."""
        from pyspark.sql.types import StructField, StructType

        if old in self.key_cols or old in (self.partition_source, "part_date"):
            raise ValueError(
                f"cannot rename key/partition column {old!r} — it is the "
                f"sink's addressing contract"
            )
        with self._writer_lock():
            self._recover(spark)
            schema = self._stored_schema()
            if schema is None:
                if not self._table_exists():
                    raise ValueError("cannot rename a column of an empty table")
                schema = spark.read.parquet(self.path).schema
            names = [f.name for f in schema.fields]
            if old not in names:
                if new in names:
                    # replay of a crashed/duplicate rename (a restart
                    # re-runs the epoch): the schema mutation already
                    # landed — republish the commit so the version log
                    # converges, exactly like a replayed merge
                    if self.snapshot_dir is not None:
                        self._snapshot(
                            spark, epoch_id, touched=[], op="rename_column"
                        )
                    self._invalidate_listing(spark)
                    return
                raise ValueError(f"no column {old!r} (have {names})")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            fields = [
                StructField(
                    new,
                    f.dataType,
                    f.nullable,
                    {**(f.metadata or {}), "physical": self._physical_name(f)},
                )
                if f.name == old
                else f
                for f in schema.fields
            ]
            self._mark_colmap_active()
            self._atomic_json_write(
                self._schema_file(), StructType(fields).jsonValue()
            )
            if self.snapshot_dir is not None:
                self._snapshot(spark, epoch_id, touched=[], op="rename_column")
            self._invalidate_listing(spark)

    def drop_column(
        self, spark: SparkSession, name: str, epoch_id: int
    ) -> None:
        """DROP COLUMN as a METADATA-ONLY commit: the field leaves the
        logical schema; the physical bytes stay in the old files and
        are never scanned again (the physical read schema omits them —
        parquet column pruning, so the dead column costs no I/O). The
        physical name is tombstoned in _colmap.json so a later re-add
        of the same logical name maps to a FRESH physical column and
        can never resurrect the dropped bytes. Time travel below this
        epoch still reads the column."""
        from pyspark.sql.types import StructType

        if name in self.key_cols or name in (self.partition_source, "part_date"):
            raise ValueError(
                f"cannot drop key/partition column {name!r} — it is the "
                f"sink's addressing contract"
            )
        with self._writer_lock():
            self._recover(spark)
            schema = self._stored_schema()
            if schema is None:
                if not self._table_exists():
                    raise ValueError("cannot drop a column of an empty table")
                schema = spark.read.parquet(self.path).schema
            doomed = [f for f in schema.fields if f.name == name]
            if not doomed:
                if self.snapshot_dir is not None and epoch_id not in self.snapshots():
                    # replay of a crashed drop: schema mutation landed,
                    # commit publish didn't — converge the log
                    self._snapshot(
                        spark, epoch_id, touched=[], op="drop_column"
                    )
                    self._invalidate_listing(spark)
                    return
                raise ValueError(
                    f"no column {name!r} (have {[f.name for f in schema.fields]})"
                )
            self._mark_colmap_active(
                dropped_physical=self._physical_name(doomed[0])
            )
            self._atomic_json_write(
                self._schema_file(),
                StructType(
                    [f for f in schema.fields if f.name != name]
                ).jsonValue(),
            )
            if self.snapshot_dir is not None:
                self._snapshot(spark, epoch_id, touched=[], op="drop_column")
            self._invalidate_listing(spark)

    def _invalidate_listing(self, spark: SparkSession) -> None:
        """Drop Spark's session-shared file-listing cache entries under
        the table path (and the snapshot log, if any). The swap commits
        here DELETE parquet files in place; the session FileStatusCache
        has no TTL by default, so a read planned after a commit in the
        same long-lived session would otherwise schedule the deleted
        file and die with FAILED_READ_FILE.FILE_NOT_EXIST — the exact
        read→merge→read loop an incremental upsert driver runs all day.
        Driver-side cache invalidation only: no file I/O, no scan."""
        spark.catalog.refreshByPath(self.path)
        if self.snapshot_dir is not None:
            spark.catalog.refreshByPath(self.snapshot_dir)

    def _read_table(
        self, spark: SparkSession, with_positions: bool = False
    ) -> DataFrame:
        """The live table for writers, with the directory-encoded
        ``part_date``, under the authoritative schema (one tiny JSON
        read — never a footer sweep) through ``_compose``.
        ``with_positions`` is the DV delete's own discovery scan: raw
        file positions instead of applied deletion vectors, so replays
        re-find already-hidden rows."""
        schema = self._stored_schema()
        if not with_positions:
            return self._compose(
                spark, [self.path], self._consolidated(), schema
            )
        # _metadata must bind while df is still the raw scan
        df = self._scan(spark, [self.path], schema)
        df = df.withColumn(
            "__dv_path", F.col("_metadata.file_path")
        ).withColumn("__dv_pos", F.col("_metadata.row_index"))
        return self._to_logical(df, schema)

    def read(self, spark: SparkSession) -> DataFrame:
        """The materialized table (without the physical partition col).
        Finishes a pending commit staging first — whatever rewrite a
        crash interrupted (a merge, a compaction, a migration, a
        restore) must never serve (or let a writer extend) a torn
        table.

        The repair runs under the writer lock: an unlocked repair
        could race a LIVE writer's own install of the same staging
        (reader rmtree-ing a partition the writer just installed —
        permanent loss). If a live writer holds the lock, the repair
        is ITS job — skip and read."""
        self._repair_for_read(spark)
        return self._read_table(spark).drop("part_date")

    def _repair_for_read(self, spark: SparkSession) -> None:
        """Finish a crashed rewrite's commit staging before serving a
        read (no-op when none pending; skipped when a live writer owns
        the lock — the repair is its job)."""
        if os.path.isdir(self.merged_path):
            try:
                with self._writer_lock():
                    self._finish_pending_epoch(spark)
            except ConcurrentWriterError:
                pass  # the live writer owns (and will finish) the swap

    def delete_where(
        self,
        spark: SparkSession,
        condition,
        epoch_id: int,
        mode: str = "copy_on_write",
    ) -> None:
        """``DELETE FROM t WHERE <condition>`` sugar (the Delta
        predicate-delete surface): resolve the doomed KEYS from the
        current table state (deletion-vector-aware, so an already-
        hidden row never re-resolves) and delegate to ``delete_keys``
        under the same tier choice. ``condition`` is a Column or SQL
        string over the table's logical columns."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        keys = self._read_table(spark).filter(cond).select(*self.key_cols)
        self.delete_keys(keys, epoch_id, mode=mode)

    def compact(
        self,
        spark: SparkSession,
        files_per_partition: int = 1,
        target_file_bytes: int | None = None,
        only_partitions: list[str] | None = None,
        sort_by: str | list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> None:
        """Small-file compaction: rewrite the table so each date
        partition holds ``files_per_partition`` files — or, with
        ``target_file_bytes``, a PER-PARTITION count sized from the
        partition's current bytes (``ceil(bytes / target)``, the real
        OPTIMIZE contract: a fat partition keeps enough files to stay
        parallel and near the ~128 MB sweet spot while a thin one
        collapses to a single file; one fixed count cannot do both).
        The byte census is a driver-side listing of O(partitions)
        directory sizes, and the per-date counts enter the plan as a
        literal lookup map — no extra scan, same single rewrite.

        Streaming upserts inevitably accrete small files (every
        micro-batch rewrites its touched partitions with
        task-parallel output); scan efficiency at 100 TB depends on
        periodic compaction toward ~128 MB files.

        One Spark rewrite, not two: rows are repartitioned on
        ``(part_date, file-bucket)`` — the bucket is a key-hash mod
        ``files_per_partition`` — so every date compacts in parallel
        across up to ``files_per_partition`` tasks (a plain
        ``repartition(n, "part_date")`` would serialize each date into
        one task, a straggler at 100 TB). The rewrite stages like any
        commit — the rewritten dirs under ``<path>__merged`` and a
        record naming only them, with no epoch: compaction is
        content-identical, adds no version and never changes the set
        of live dirs (a partition whose rows deletion vectors all hide
        stages nothing and stays as it is). The one install step
        (``_finish_pending_epoch``) swaps them in, and a crash
        mid-swap is finished at EVERY entry point and read before the
        table is touched, so a post-crash merge can never land in a
        partition a stale staging is about to clobber. A partition is
        therefore always fully present in the target or pending in a
        recorded staging — never lost.

        ``zorder_by`` is the multi-DIMENSIONAL clustering axis
        (``OPTIMIZE .. ZORDER BY (a, b)``): where ``sort_by=[a, b]``
        clusters lexicographically (tight file ranges on ``a``, the
        full domain of ``b`` in almost every file), ``zorder_by``
        sorts on a bit-interleaved key of quantile-bucketized ranks,
        so EVERY listed column gets usefully narrow per-file ranges
        and ``read_pruned`` / ``read_point`` skip on any of them —
        the property that makes two-predicate scans O(matching files)
        at 100 TB. Mutually exclusive with ``sort_by``; file stats are
        recorded for all z-columns."""
        with self._writer_lock():
            self._compact(
                spark,
                files_per_partition,
                target_file_bytes,
                only_partitions,
                sort_by,
                zorder_by,
            )

    # quantile buckets per z-order dimension: 64 ranks (6 bits) is
    # plenty of resolution at realistic files-per-partition counts,
    # and keeps the rank expression (one <=-count over a literal
    # boundary array) cheap inside the rewrite's projection
    _ZORDER_BITS = 6

    def _zorder_bounds(self, df: DataFrame, cols: list[str]) -> list[list[float]]:
        """The per-dimension quantile boundaries a z-order rewrite
        bucketizes against: ONE distributed approxQuantile pass."""
        bits = self._ZORDER_BITS
        n_buckets = 1 << bits
        probs = [i / n_buckets for i in range(1, n_buckets)]
        return df.select(
            *[F.col(c).cast("double").alias(c) for c in cols]
        ).stat.approxQuantile(cols, probs, 0.001)

    def _zorder_expr(
        self,
        df: DataFrame,
        cols: list[str],
        bounds: list[list[float]] | None = None,
    ):
        """The z-value column: per dimension, bucketize to 2^bits
        ranks over APPROX-QUANTILE boundaries (skew-robust — equal-
        width buckets would collapse under a hot key, the same reason
        Delta's ZORDER uses range-partition ids, not min/max scaling),
        then bit-interleave the ranks JVM-side. One distributed
        quantile pass plans the boundaries (skipped when the caller
        passes cached ``bounds`` — scoped auto-compactions reuse the
        last full rewrite's boundaries so routine lock-held
        maintenance costs zero extra scans, ADVICE r10); the per-row
        expression is pure Catalyst (no Python), so the rewrite stays
        in the JVM. NULLs rank 0 (first), matching NULLS FIRST sort
        semantics."""
        if bounds is None:
            bounds = self._zorder_bounds(df, cols)
        bits = self._ZORDER_BITS
        ranks = []
        for c, bnds in zip(cols, bounds):
            uniq = sorted(set(bnds))
            if not uniq:  # all-NULL column: constant rank
                ranks.append(F.lit(0))
                continue
            # rank = |{boundary <= value}| via a literal-array HOF —
            # O(buckets) JVM ops per row, zero extra scans
            arr = F.array(*[F.lit(b) for b in uniq])
            v = F.col(c).cast("double")
            ranks.append(
                F.coalesce(
                    F.aggregate(
                        arr,
                        F.lit(0),
                        lambda acc, b: acc
                        + F.when(b <= v, F.lit(1)).otherwise(F.lit(0)),
                    ),
                    F.lit(0),
                )
            )
        z = F.lit(0).cast("long")
        for i in range(bits):
            for j, r in enumerate(ranks):
                bit = F.shiftright(r, i).bitwiseAND(F.lit(1)).cast("long")
                z = z + F.shiftleft(bit, i * len(ranks) + j)
        return z

    def _compact(
        self,
        spark: SparkSession,
        files_per_partition: int,
        target_file_bytes: int | None,
        only_partitions: list[str] | None,
        sort_by: str | list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> None:
        sort_by, zorder_by, from_recorded = self._clustering_args(
            sort_by, zorder_by
        )
        # finish (or discard, if unrecorded) a crashed commit: the
        # rewrite stages where it did
        self._recover(spark)
        # schema-aware read: after an evolution commit the untouched
        # partitions physically lack the new column; compacting through
        # the authoritative schema NULL-fills and rewrites them, so
        # compaction doubles as physical schema homogenization
        current = self._read_table(spark)
        if only_partitions is not None:
            # partition-scoped rewrite: the staging then contains only
            # these dirs and the install swaps only what is staged, so
            # everything else is untouched by construction
            vals = [d.split("=", 1)[1] for d in only_partitions]
            cond = F.col("part_date").cast("string").isin(
                [v for v in vals if v != "__HIVE_DEFAULT_PARTITION__"]
            )
            if "__HIVE_DEFAULT_PARTITION__" in vals:
                cond = cond | F.col("part_date").isNull()
            current = current.filter(cond)
        file_counts = None
        max_records = None
        if target_file_bytes is not None:
            sizes: dict[str, int] = {}
            for d in self._part_dirs():
                if only_partitions is not None and d not in only_partitions:
                    continue
                pdir = os.path.join(self.path, d)
                sizes[d.split("=", 1)[1]] = sum(
                    os.path.getsize(os.path.join(pdir, f))
                    for f in os.listdir(pdir)
                    if not f.startswith(("_", "."))
                )
            file_counts = {
                k: max(1, -(-b // target_file_bytes)) for k, b in sizes.items()
            }
            # the SIZE guarantee: hash buckets give parallelism but two
            # (date, bucket) groups can collide into one task, so the
            # writer additionally splits any oversized task output at
            # ~target bytes via a row-count cap from the measured mean
            # encoded row size (a count() over column stats, no scan of
            # values). Belt and braces: buckets parallelize, the cap
            # bounds every file.
            total_rows = current.count() or 1
            avg_row = max(1, sum(sizes.values()) // total_rows)
            max_records = max(1, target_file_bytes // avg_row)
        bounds = None
        if zorder_by is not None and from_recorded:
            # recorded-clustering maintenance must stay cheap under
            # the writer lock (ADVICE r10): a SCOPED auto-compaction
            # reuses the quantile boundaries the last FULL rewrite
            # cached in the clustering sidecar (bucket boundaries only
            # steer file layout — staleness costs pruning tightness,
            # never correctness); a full rewrite recomputes and
            # refreshes the cache.
            if only_partitions is not None:
                bounds = self._clustering_bounds(zorder_by)
            else:
                bounds = self._zorder_bounds(current, zorder_by)
                self._save_clustering_bounds(zorder_by, bounds)
        schema = self._stored_schema()
        self._rewrite(
            current,
            self.merged_path,
            schema,
            files_per_partition,
            len(only_partitions or self._part_dirs()),
            sort_by,
            zorder_by,
            bounds=bounds,
            file_counts=file_counts,
            max_records=max_records,
        )
        self._publish_record(self.merged_path, None, "compact", schema)
        self._finish_pending_epoch(spark)

    def _clustering_args(self, sort_by, zorder_by):
        """``(sort_by, zorder_by, from_recorded)`` of one rewrite: the
        arguments (never both), else the recorded clustering."""
        if sort_by is not None and zorder_by is not None:
            raise ValueError("pass sort_by or zorder_by, not both")
        if sort_by is None and zorder_by is None:
            rec = self._clustering()
            if rec is not None:
                cols, mode = rec
                if mode == "zorder":
                    return None, cols, True
                return cols, None, True
        return sort_by, zorder_by, False

    def _rewrite(
        self,
        df: DataFrame,
        root: str,
        schema,
        files_per_partition: int,
        n_dirs: int,
        sort_by: str | list[str] | None,
        zorder_by: list[str] | None,
        bounds: list[list[float]] | None = None,
        file_counts: dict[str, int] | None = None,
        max_records: int | None = None,
    ) -> None:
        """The compaction rewrite of ``compact`` and ``optimize``:
        shuffle ``df`` (``n_dirs`` partitions' rows) into
        ``files_per_partition`` files per partition, write it to
        ``root`` under ``schema``'s physical names, record the
        clustering columns' file stats and rebuild the blooms.
        ``bounds``: cached z-order boundaries (None: computed).
        ``file_counts`` (partition value -> files) and ``max_records``
        (rows per file) carry ``compact``'s ``target_file_bytes``."""
        if zorder_by is not None:
            # true multi-dimensional Z-ORDER: range-partition + sort on
            # the bit-interleaved rank key so every z-column's per-file
            # range narrows (~domain / 2^(bits_that_dim_got)), then
            # record per-file min/max for ALL z-columns — read_pruned
            # and read_point prune on any dimension independently
            sort_cols = list(zorder_by)
            n_ranges = max(1, files_per_partition * max(1, n_dirs))
            shuffled = (
                df.withColumn("__z", self._zorder_expr(df, sort_cols, bounds))
                .repartitionByRange(n_ranges, "part_date", F.col("__z"))
                .sortWithinPartitions("part_date", "__z")
            )
        elif sort_by is not None:
            # OPTIMIZE .. ZORDER-style clustered rewrite: range-
            # partition on (part_date, *sort_cols) so files WITHIN a
            # date carry disjoint leading-column ranges (trailing
            # columns cluster lexicographically — the multi-column
            # liquid-clustering shape), and sort within tasks so
            # parquet row-group min/max are tight too. Per-file
            # min/max of EVERY sort column land in a _stats.json
            # sidecar (written from the staged footers, riding the
            # same crash-safe swap) and power read_pruned()'s file
            # skipping — the Iceberg manifest-stats design.
            sort_cols = [sort_by] if isinstance(sort_by, str) else list(sort_by)
            n_ranges = max(1, files_per_partition * max(1, n_dirs))
            shuffled = df.repartitionByRange(
                n_ranges, "part_date", *[F.col(c) for c in sort_cols]
            ).sortWithinPartitions("part_date", *sort_cols)
        elif file_counts is None:
            # column-only repartition: AQE may coalesce the tiny
            # shuffle, which can only MERGE buckets (fewer, larger
            # files) — fine under the "at most N files" contract
            shuffled = df.withColumn(
                "__bucket",
                F.pmod(F.xxhash64(*self.key_cols), F.lit(files_per_partition)),
            ).repartition("part_date", "__bucket")
        else:
            # per-date parallelism from a literal (date -> count) map;
            # NULL partition keys land under the hive default dirname
            entries: list = []
            for k, v in sorted(file_counts.items()):
                entries.extend([F.lit(k), F.lit(v)])
            n_files = F.element_at(
                F.create_map(*entries),
                F.coalesce(
                    F.col("part_date").cast("string"),
                    F.lit("__HIVE_DEFAULT_PARTITION__"),
                ),
            )
            # explicit partition count: AQE coalescing would defeat
            # the per-date counts (it merges everything small into one
            # task); over-provision so distinct (date,bucket) groups
            # rarely collide, and the writer cap handles those that do
            shuffled = df.withColumn(
                "__bucket", F.pmod(F.xxhash64(*self.key_cols), n_files)
            ).repartition(
                max(4 * sum(file_counts.values()), 1), "part_date", "__bucket"
            )
        writer = self._to_physical(shuffled.select(*df.columns), schema).write
        if max_records is not None:
            writer = writer.option("maxRecordsPerFile", str(max_records))
        writer.mode("overwrite").partitionBy("part_date").parquet(root)
        if zorder_by is not None or sort_by is not None:
            self._write_file_stats(root, sort_cols)
        self._refresh_staged_blooms(root)

    # -- snapshot-isolated OPTIMIZE (optimistic concurrency) ----------------
    @staticmethod
    def _dir_fingerprint(pdir: str):
        """Conflict-detection fingerprint of one partition dir: every
        file's (name, size, mtime_ns). Any commit that touches the dir
        (swap-install, DV sidecar republish, stats refresh) changes at
        least one tuple — os.replace/move always mint fresh inodes —
        so an unchanged fingerprint proves no writer intervened."""
        try:
            return [
                (f, st.st_size, st.st_mtime_ns)
                for f in sorted(os.listdir(pdir))
                for st in (os.stat(os.path.join(pdir, f)),)
            ]
        except FileNotFoundError:
            return None

    def _pin(self, pin_root: str, dirs: list[str]) -> dict:
        """Hardlink-pin the live ``dirs`` under ``pin_root`` and return
        their conflict fingerprints (None: not live)."""
        os.makedirs(pin_root, exist_ok=True)
        pinned = {}
        for d in dirs:
            src = os.path.join(self.path, d)
            if os.path.isdir(src):
                self._copytree_link(src, os.path.join(pin_root, d))
            pinned[d] = self._dir_fingerprint(src)
        return pinned

    def optimize(
        self,
        spark: SparkSession,
        files_per_partition: int = 1,
        sort_by: str | list[str] | None = None,
        only_partitions: list[str] | None = None,
        max_retries: int = 2,
        on_staged: Callable[[], None] | None = None,
        zorder_by: list[str] | None = None,
    ) -> dict:
        """OPTIMIZE that runs BESIDE ingest (VERDICT r9 stretch):
        ``compact()`` holds the writer lock for the whole rewrite, so
        at 100 TB a long clustered rewrite blocks the stream. This is
        the Delta-style optimistic alternative — the lock is held only
        for metadata moments, never for the O(bytes) rewrite:

        - **pin** (brief lock): hardlink-copy the scoped partitions to
          a private pin dir (O(files) inodes, zero bytes) and record
          each dir's conflict fingerprint.
        - **rewrite** (NO lock): compact/cluster the PINNED copies —
          immutable, so a concurrent merge/delete can never tear the
          read — into a private staging. Deletion vectors pinned with
          the copies fold into the rewrite; ``sort_by`` writes fresh
          file stats exactly like ``compact(sort_by=...)``.
        - **commit** (brief lock): per-partition conflict check — each
          dir whose live fingerprint still equals the pinned one moves
          into the commit staging under a record naming only the moved
          dirs, with no epoch, and the one install step swaps them in
          (recovery-covered at every entry point and read); a dir a
          writer touched mid-rewrite is SKIPPED (its newer content
          wins — rows are never lost) and retried from a fresh pin up
          to ``max_retries`` times.

        ``zorder_by`` z-clusters the rewrite (multi-dimensional — the
        ``compact(zorder_by=...)`` semantics under this optimistic
        protocol: quantile ranks computed over the pinned copies,
        stats recorded for every z-column). Mutually exclusive with
        ``sort_by``.

        The clustering default and the rewrite (``_rewrite``) are
        ``compact``'s, run over the pinned copies.

        Content-identical like ``compact`` (no new snapshot version).
        ``on_staged`` is a test seam invoked once after the first
        rewrite completes, before its commit — the window where a
        concurrent writer would land. Returns ``{"compacted": [...],
        "skipped": [...], "attempts": N}``; ``skipped`` names dirs
        still uncompacted after the last retry."""
        sort_by, zorder_by, _ = self._clustering_args(sort_by, zorder_by)
        pin_root = self.path.rstrip("/") + "__optimize_pin"
        stage = self.path.rstrip("/") + "__optimize"
        scope = only_partitions
        compacted: list[str] = []
        attempts = 0
        fired = False
        skipped: list[str] = []
        while True:
            attempts += 1
            # -- pin (brief, BLOCKING: a live writer's lock means a
            # metadata moment in progress — maintenance waits it out
            # instead of dying, so OPTIMIZE runs beside a stream) ----
            with self._writer_lock_blocking():
                self._recover(spark)
                shutil.rmtree(pin_root, ignore_errors=True)
                shutil.rmtree(stage, ignore_errors=True)
                if not self._table_exists():
                    return {
                        "compacted": compacted,
                        "skipped": [],
                        "attempts": attempts,
                    }
                live = self._part_dirs()
                dirs = live if scope is None else sorted(set(scope) & set(live))
                pinned_fp = self._pin(pin_root, dirs)
            if not dirs:
                shutil.rmtree(pin_root, ignore_errors=True)
                return {
                    "compacted": compacted,
                    "skipped": [],
                    "attempts": attempts,
                }
            # -- rewrite (NO lock: reads only the immutable pin) ------
            schema = self._stored_schema()
            self._rewrite(
                self._read_pinned(spark, pin_root, dirs, schema),
                stage,
                schema,
                files_per_partition,
                len(dirs),
                sort_by,
                zorder_by,
            )
            if on_staged is not None and not fired:
                fired = True
                on_staged()
            # -- commit (brief BLOCKING lock): conflict-check + swap
            with self._writer_lock_blocking():
                self._recover(spark)  # clear any pending commit first
                # a writer landed in a skipped dir mid-rewrite (or the
                # pin folded the dir away): its newer content wins
                skipped = [
                    d
                    for d in dirs
                    if not os.path.isdir(os.path.join(stage, d))
                    or self._dir_fingerprint(os.path.join(self.path, d))
                    != pinned_fp[d]
                ]
                swapped = [d for d in dirs if d not in skipped]
                if swapped:
                    os.makedirs(self.merged_path)
                    for d in swapped:
                        shutil.move(
                            os.path.join(stage, d),
                            os.path.join(self.merged_path, d),
                        )
                    # the schema as of this lock, never the rewrite's:
                    # an evolution may have landed beside the rewrite
                    self._publish_record(
                        self.merged_path,
                        None,
                        "optimize",
                        self._stored_schema(),
                    )
                    self._finish_pending_epoch(spark)
                shutil.rmtree(stage, ignore_errors=True)
                shutil.rmtree(pin_root, ignore_errors=True)
                compacted.extend(swapped)
            if not skipped or attempts > max_retries:
                return {
                    "compacted": sorted(compacted),
                    "skipped": sorted(skipped),
                    "attempts": attempts,
                }
            scope = skipped  # retry only the conflicted dirs

    # -- concurrent disjoint-partition writers (full OCC, r11) --------------
    # optimize() brought snapshot isolation to MAINTENANCE; ingest
    # itself still serialized on the writer lock for the whole
    # read-merge-write. write_batch_occ generalizes the fingerprint
    # protocol to DATA commits (the Delta OCC model): the lock is held
    # only to PIN the touched partitions and to CONFLICT-CHECK + swap
    # at commit; the O(bytes) merge runs lock-free against the
    # immutable pin. Two writers touching DISJOINT partitions both
    # commit concurrently; writers that raced on a partition retry
    # from a fresh pin. At 100 TB this is the difference between one
    # ingest stream per table and N backfill jobs landing together.

    def _writer_lock_blocking(self, timeout_s: float = 120.0):
        """A waiting variant of ``_writer_lock`` for the OCC phases:
        a live holder means 'brief metadata moment in progress', so
        the right move is a short jittered wait, not the single-writer
        refusal. Same lock file, same crash recovery."""
        import random
        import time

        sink = self

        @contextlib.contextmanager
        def _cm():
            deadline = time.monotonic() + timeout_s
            while True:
                lk = sink._writer_lock()
                try:
                    lk.__enter__()
                except ConcurrentWriterError:
                    if time.monotonic() >= deadline:
                        raise
                    time.sleep(0.02 + random.random() * 0.08)
                    continue
                try:
                    yield
                finally:
                    lk.__exit__(None, None, None)
                return

        return _cm()

    def _meta_fingerprint(self):
        """Conflict fingerprint of the TABLE-LEVEL metadata an OCC
        commit depends on (schema, partition specs, constraints,
        column mapping, clustering, bloom declarations): any
        concurrent change to these invalidates the staged merge even
        if no touched partition moved. CONTENT-hashed, not mtime'd:
        every commit republishes the (unchanged) schema file, and a
        disjoint writer's commit must not read as a conflict."""
        import hashlib

        out = []
        for p in (
            self._schema_file(),
            self._partspec_file(),
            self._constraints_file(),
            self._colmap_file(),
            self._clustering_file(),
            self._bloom_meta_file(),
        ):
            try:
                with open(p, "rb") as fh:
                    digest = hashlib.sha256(fh.read()).hexdigest()
            except FileNotFoundError:
                digest = None
            out.append((os.path.basename(p), digest))
        return out

    def _occ_applied_file(self) -> str:
        return os.path.join(self.path, "_occ_applied.json")

    #: idempotence-ledger capacity — size it to (at least) the
    #: stream's checkpoint retention: a replay can only resurrect an
    #: epoch the checkpoint still references, so a ledger covering the
    #: retention window never sees a legitimate key below its floor
    _OCC_LEDGER_CAP = 512

    def _occ_applied_raw(self) -> dict:
        """Idempotence ledger file: ``{"applied": {key: version},
        "floors": {writer_ns: maxEvictedEpoch}}``. Keys are
        ``"<epoch>"`` for the default writer namespace and
        ``"<writer_id>:<epoch>"`` otherwise; floors are tracked PER
        NAMESPACE because epochs are only monotone per writer — a
        single global floor under oldest-version-first eviction would
        spuriously flag writer A's genuinely-new epochs once any
        higher-based writer B entry ages out (ADVICE r12)."""
        try:
            with open(self._occ_applied_file()) as fh:
                return json.load(fh)
        except (FileNotFoundError, ValueError):
            return {"applied": {}, "floors": {}}

    def _occ_applied(self) -> dict[str, int]:
        """Idempotence ledger: OCC epoch key -> committed snapshot
        version (bounded; see ``write_batch_occ``)."""
        return self._occ_applied_raw()["applied"]

    @staticmethod
    def _occ_key(epoch_id: int, writer_id: str = "") -> str:
        """Ledger key for an (epoch, writer) pair. Epochs must be
        monotone PER WRITER namespace (the Structured Streaming
        batchId contract); distinct writers use distinct
        ``writer_id``s so their interleaved commits never share a
        floor."""
        if writer_id:
            if ":" in writer_id:
                raise ValueError(
                    f"writer_id may not contain ':' (got {writer_id!r})"
                )
            return f"{writer_id}:{epoch_id}"
        return str(epoch_id)

    @staticmethod
    def _occ_key_parse(key: str) -> tuple[str, int | None]:
        """(writer_ns, epoch) for a ledger key; epoch None when the
        key is not integer-suffixed (foreign/corrupt entry)."""
        ns, sep, ep = key.rpartition(":")
        if not sep:
            ns, ep = "", key
        try:
            return ns, int(ep)
        except ValueError:
            return ns, None

    def _occ_replay_check(
        self, epoch_id: int, writer_id: str = ""
    ) -> int | None:
        """Committed version for a replayed epoch key, or None when
        the key is genuinely new. A key at or below ITS OWN WRITER
        NAMESPACE's eviction floor raises instead of returning None:
        its entry aged out of the bounded ledger, so treating it as
        new would re-apply a non-idempotent payload — silently
        degrading exactly-once to at-least-once outside the retention
        window. Raising surfaces the misconfiguration (ledger smaller
        than the stream's checkpoint retention) instead of corrupting
        data. Floors are per-namespace because epochs are only
        monotone per writer (ADVICE r12: a global floor fail-stops
        the lower-based stream in a multi-writer table)."""
        raw = self._occ_applied_raw()
        key = self._occ_key(epoch_id, writer_id)
        if key in raw["applied"]:
            return raw["applied"][key]
        floor = raw["floors"].get(writer_id)
        if floor is not None and int(epoch_id) <= floor:
            raise ValueError(
                f"OCC epoch {epoch_id} (writer {writer_id!r}) is at or "
                f"below its namespace's idempotence-ledger eviction "
                f"floor ({floor}): its commit record aged out of the "
                f"{self._OCC_LEDGER_CAP}-entry ledger, so re-applying "
                f"cannot be made exactly-once. Size _OCC_LEDGER_CAP to "
                f"the stream's checkpoint retention."
            )
        return None

    def _occ_record_applied(
        self, key: int, version: int, writer_id: str = ""
    ) -> None:
        raw = self._occ_applied_raw()
        applied, floors = raw["applied"], raw["floors"]
        applied[self._occ_key(key, writer_id)] = int(version)
        if len(applied) > self._OCC_LEDGER_CAP:
            # oldest keys (by commit version) age out; each writer
            # namespace's floor remembers ITS highest evicted epoch so
            # a later replay of one is detected (raised) rather than
            # silently re-applied, without one writer's eviction
            # poisoning another's floor
            for k in sorted(applied, key=lambda s: applied[s])[
                : len(applied) - self._OCC_LEDGER_CAP
            ]:
                applied.pop(k, None)
                ns, ep = self._occ_key_parse(k)
                if ep is None:
                    continue
                if floors.get(ns) is None or ep > floors[ns]:
                    floors[ns] = ep
        self._atomic_json_write(
            self._occ_applied_file(), {"applied": applied, "floors": floors}
        )

    def _occ_gc(self) -> None:
        """Remove private OCC work dirs left by DEAD writers (named
        ``<table>__occ_<pid>_<hex>``; a crash before the commit rename
        orphans them — nothing downstream references an uncommitted
        private staging, so removal is always safe once the pid is
        gone)."""
        parent = os.path.dirname(self.path.rstrip("/")) or "."
        prefix = os.path.basename(self.path.rstrip("/")) + "__occ_"
        try:
            names = os.listdir(parent)
        except FileNotFoundError:
            return
        for n in names:
            if not n.startswith(prefix):
                continue
            try:
                pid = int(n[len(prefix) :].split("_", 1)[0])
            except ValueError:
                continue
            if pid != os.getpid() and not _pid_alive(pid):
                shutil.rmtree(os.path.join(parent, n), ignore_errors=True)

    def write_batch_occ(
        self,
        batch_df: DataFrame,
        epoch_id: int,
        max_retries: int = 5,
        on_staged: Callable[[], None] | None = None,
        writer_id: str = "",
    ) -> dict:
        """MERGE one batch under OPTIMISTIC concurrency (Delta-style
        full OCC — VERDICT r10 item 4). Protocol per attempt:

        - **pin** (brief blocking lock): crash recovery, then
          hardlink-pin the batch's touched partitions and record their
          conflict fingerprints plus the table-metadata fingerprint.
        - **merge** (NO lock): keep ∪ batch computed from the
          immutable pin (deletion vectors folded, stats/blooms
          refreshed) into a PRIVATE staging — the expensive O(bytes)
          work, concurrent with other writers' merges.
        - **commit** (brief blocking lock): re-check every
          fingerprint. Untouched-by-others ⇒ rename the private
          staging onto the canonical staging path and run the
          EXISTING crash-safe commit + snapshot protocol (all recovery
          entry points apply unchanged). Any touched dir or metadata
          changed ⇒ drop the staging and retry from a fresh pin.

        Writers touching DISJOINT partitions therefore commit
        concurrently — neither sees the other's fingerprints move.
        The committed snapshot VERSION is allocated at commit (next
        after the newest committed version, or ``epoch_id`` when it is
        already newer), so versions are monotone in COMMIT order even
        when callers' epochs race; ``epoch_id`` itself is the
        IDEMPOTENCE key, recorded in a bounded ledger — a replayed key
        returns the original version without re-applying. EXACTLY
        once under crashes: the key rides in the staging's commit
        record and the install records the ledger entry before the
        staging drops, so no crash window can re-apply a payload.

        Validation, the persisted batch and the keep ∪ batch merge are
        ``write_batch``'s (``_evolved_columns``, ``_persisted``,
        ``_keep_union_batch``), reading the pin in place of the live
        table: the batch's plan runs once, and every attempt reads the
        cached rows, released when ``_occ_commit`` returns or raises.
        Scope guards (these shapes take the serialized
        ``write_batch`` path): first write to a new table, evolved
        partition specs, active column mapping, and schema evolution
        (a column-set difference) — each raises ValueError naming the
        fallback. Returns ``{"version": v, "attempts": n, "touched":
        [...]}``."""
        spark = batch_df.sparkSession
        self._check_occ_scope("write_batch_occ", "write_batch")
        schema = self._stored_schema()
        table = schema or self._read_table(spark).schema
        batch = batch_df.withColumn(
            "part_date", self._derive_part_date(self._transforms()[-1])
        )
        if set(batch.columns) != set(table.names):
            raise ValueError(
                f"write_batch_occ is evolution-free: batch columns "
                f"{sorted(batch.columns)} != table columns "
                f"{sorted(table.names)}; use write_batch("
                f"schema_evolution=True)"
            )
        self._evolved_columns(table, batch.schema)  # the type check
        replayed = self._occ_replay_check(epoch_id, writer_id)
        if replayed is not None:
            return {"version": replayed, "attempts": 0, "touched": []}
        with self._persisted(batch) as (batch, vals):
            if not vals:
                # empty micro-batch: nothing to pin or merge — one
                # empty snapshot commit under the lock, same as
                # write_batch
                with self._writer_lock_blocking():
                    self._recover(spark)
                    version = self._next_version(epoch_id)
                    self._snapshot(spark, version, touched=[])
                    self._occ_record_applied(epoch_id, version, writer_id)
                return {"version": version, "attempts": 1, "touched": []}
            touched = [self._part_dirname(v) for v in vals]

            def stage_keep_union_batch(pin_root: str) -> DataFrame:
                # audit per ATTEMPT against the constraints as pinned
                # (a constraint added mid-flight flips the metadata
                # fingerprint and forces this re-audit via retry)
                self._audit_batch(batch)
                return self._keep_union_batch(
                    self._read_pinned(spark, pin_root, touched, table),
                    batch,
                    table.names,
                )

            return self._occ_commit(
                spark,
                epoch_id,
                touched,
                stage_keep_union_batch,
                occ_root=self._occ_root(),
                entry_schema=schema,
                max_retries=max_retries,
                on_staged=on_staged,
                writer_id=writer_id,
            )

    def _check_occ_scope(self, entry: str, fallback: str) -> None:
        """The OCC writers' scope: an existing table with one
        partition spec and no column mapping (else ``fallback``)."""
        if not self._table_exists():
            raise ValueError(
                f"{entry} needs an existing table; use {fallback}"
            )
        if len(self._transforms()) != 1:
            raise ValueError(
                f"{entry} does not span partition-spec evolution; "
                f"use {fallback}"
            )
        if self._colmap_active():
            raise ValueError(
                f"{entry} does not support column-mapped tables; "
                f"use {fallback}"
            )

    def _occ_root(self) -> str:
        """A fresh private OCC work dir, named for ``_occ_gc``."""
        import uuid

        return f"{self.path.rstrip('/')}__occ_{os.getpid()}_{uuid.uuid4().hex}"

    def _read_pinned(
        self, spark: SparkSession, pin_root: str, dirs: list[str], schema
    ) -> DataFrame:
        """The pinned copies of ``dirs`` as LOGICAL rows (deletion
        vectors folded) — the stable read side of an OCC commit and of
        OPTIMIZE. A dir not live at pin time has no copy and reads
        empty."""
        paths = [
            os.path.join(pin_root, d)
            for d in dirs
            if os.path.isdir(os.path.join(pin_root, d))
        ]
        if not paths:
            return spark.createDataFrame([], schema)
        reader = spark.read.option("basePath", pin_root)
        if schema is not None:
            reader = reader.schema(self._physical_schema(schema))
        # a retry re-pins under the same root: the session's listing of
        # the previous pin is stale
        spark.catalog.refreshByPath(pin_root)
        df = reader.parquet(*paths)
        df = self._apply_dv(spark, df, self._dv_map(paths))
        return self._to_logical(df, schema)

    def _next_version(self, epoch_id: int) -> int:
        """An OCC commit's snapshot version: next after the newest
        committed one, or ``epoch_id`` when that is newer — monotone
        in COMMIT order even when callers' epochs race."""
        committed = self.snapshots()
        if committed and max(committed) >= epoch_id:
            return max(committed) + 1
        return epoch_id

    def _occ_commit(
        self,
        spark: SparkSession,
        epoch_id: int,
        touched: list[str],
        stage_fn: Callable[[str], DataFrame],
        *,
        occ_root: str,
        entry_schema=None,
        max_retries: int = 5,
        on_staged: Callable[[], None] | None = None,
        op: str = "merge",
        writer_id: str = "",
    ) -> dict:
        """The generic OCC protocol (shared by ``write_batch_occ`` and
        ``merge_into_occ``): pin → ``stage_fn(pin_root)`` builds the
        touched partitions' complete post-commit rows from the
        immutable pin with the serialized twin's code, staged by
        ``_stage`` into a private root → conflict-checked rename onto
        the canonical staging at the ``_next_version`` version,
        installed by the same ``_finish_pending_epoch`` as every
        serialized commit. Only this lock handling is OCC's own.
        ``occ_root`` is the caller's private work dir (it may already
        hold the staged source); removed here on every exit path.

        ``entry_schema`` is the stored schema the CALLER validated its
        scope against (and bound into ``stage_fn``'s closure). Every
        pin re-reads the live schema/spec/colmap under the lock and
        raises ``ConcurrentWriterError`` on any drift: an evolution
        landing between the caller's validation and the pin — or
        between a conflicted pin and its retry — would otherwise stage
        (and then PUBLISH) the pre-evolution schema in its record,
        silently reverting the evolution. A retry cannot help because
        the staging closure is bound to the stale schema; the caller
        must re-enter with fresh validation. The value is used
        VERBATIM (None means the caller validated against a table
        whose ``_schema.json`` was deleted out of band, which the pin
        check enforces too; the record then carries the staged rows'
        schema, and the install republishes it)."""
        schema = entry_schema
        pin_root = os.path.join(occ_root, "pin")
        merged = os.path.join(occ_root, "merged")
        attempts = 0
        fired = False
        try:
            while True:
                attempts += 1
                # -- pin (brief blocking lock) ------------------------
                with self._writer_lock_blocking():
                    self._recover(spark)
                    self._occ_gc()
                    replayed = self._occ_replay_check(epoch_id, writer_id)
                    if replayed is not None:
                        return {
                            "version": replayed,
                            "attempts": attempts,
                            "touched": [],
                        }
                    # re-run the caller's evolution-free scope checks
                    # under the lock on EVERY attempt: a schema / spec /
                    # column-mapping evolution landing after the
                    # caller's validation (entry→pin, or between a
                    # conflicted pin and this retry) invalidates the
                    # staged closure — staging with the stale capture
                    # would publish the pre-evolution schema file and
                    # silently revert the evolution
                    live_schema = self._stored_schema()
                    if (
                        (live_schema.jsonValue() if live_schema else None)
                        != (schema.jsonValue() if schema else None)
                        or len(self._transforms()) != 1
                        or self._colmap_active()
                    ):
                        raise ConcurrentWriterError(
                            f"concurrent schema/spec evolution during OCC "
                            f"{op} (epoch {epoch_id}): the staged plan is "
                            f"bound to the pre-evolution schema — re-enter "
                            f"with fresh validation"
                        )
                    shutil.rmtree(pin_root, ignore_errors=True)
                    shutil.rmtree(merged, ignore_errors=True)
                    pinned_fp = self._pin(pin_root, touched)
                    meta_fp = self._meta_fingerprint()
                # -- stage (NO lock: reads only the immutable pin) ----
                out = stage_fn(pin_root)
                rec = self._stage(
                    out, schema or out.schema, touched, op, root=merged
                )
                if on_staged is not None and not fired:
                    fired = True
                    on_staged()
                # -- commit (brief blocking lock): conflict check + swap
                with self._writer_lock_blocking():
                    self._recover(spark)
                    conflict = self._meta_fingerprint() != meta_fp or any(
                        self._dir_fingerprint(os.path.join(self.path, d))
                        != pinned_fp[d]
                        for d in touched
                    )
                    if conflict:
                        shutil.rmtree(pin_root, ignore_errors=True)
                        shutil.rmtree(merged, ignore_errors=True)
                        if attempts > max_retries:
                            raise ConcurrentWriterError(
                                f"OCC {op} lost the partition race "
                                f"{attempts} times on {touched}"
                            )
                        continue
                    # the version and the idempotence KEY ride in the
                    # record, written before the rename: a crash
                    # anywhere after it replays _finish_pending_epoch,
                    # which records the ledger entry BEFORE dropping
                    # the staging — so a replayed OCC call always sees
                    # the key and never re-applies a non-idempotent
                    # payload (exactly-once, not at-least-once).
                    # _recover above left no canonical staging behind.
                    self._atomic_json_write(
                        self._record_file(merged),
                        {
                            **rec,
                            "epoch": self._next_version(epoch_id),
                            "occ": {"epoch": epoch_id, "writer": writer_id},
                        },
                    )
                    os.rename(merged, self.merged_path)
                    # from here the serialized commit's install step
                    # owns the commit (swap -> snapshot -> ledger ->
                    # drop); a crash anywhere replays it through
                    # _recover at every entry point
                    version = self._finish_pending_epoch(spark)
                # the commit lock is RELEASED before the scoped
                # compaction: an O(bytes) rewrite inside the lock turns
                # the brief metadata moment into a rewrite-length hold
                # and spins concurrent OCC writers into the
                # _writer_lock_blocking timeout. compact() takes its
                # own lock; best-effort — a raced ConcurrentWriterError
                # leaves the fat partition for the next commit or an
                # explicit OPTIMIZE.
                try:
                    self._auto_compact(spark, touched)
                except ConcurrentWriterError:
                    pass
                return {
                    "version": version,
                    "attempts": attempts,
                    "touched": touched,
                }
        finally:
            shutil.rmtree(occ_root, ignore_errors=True)

    def merge_into_occ(
        self,
        source_df: DataFrame,
        epoch_id: int,
        *,
        when_matched_update: dict | None = None,
        when_matched_update_condition=None,
        when_matched_delete_condition=None,
        when_not_matched_insert: bool = True,
        when_not_matched_insert_condition=None,
        max_retries: int = 5,
        on_staged: Callable[[], None] | None = None,
        writer_id: str = "",
    ) -> dict:
        """``MERGE INTO`` under the same optimistic protocol as
        ``write_batch_occ`` — two merges touching disjoint partitions
        commit concurrently, a merge whose pinned partition another
        commit touched retries from a fresh pin with the SAME clause
        semantics re-applied to the new state (conditional payloads
        re-evaluate, exactly what serializing them would have done).

        Scope: requires key→partition locality (``partition_source``
        in ``key_cols`` — the property that bounds the clause scope to
        the source's partitions) and does not take
        ``when_not_matched_by_source_*`` clauses (their scope is the
        WHOLE table, so the pinned footprint would be unbounded —
        Delta serializes those merges too); first-commit /
        column-mapped / spec-evolved / schema-evolving merges take the
        serialized ``merge_into``. ``epoch_id`` is the idempotence key
        (a replayed committed key is a version-guard no-op returning
        the original version — conditional payloads are not naturally
        idempotent). The WHEN/SET and source checks and the clause
        engine are ``merge_into``'s, applied to the pin in place of
        the live table. Returns ``{"version", "attempts",
        "touched"}``."""
        spark = source_df.sparkSession
        self._check_merge_clauses(
            when_matched_update,
            when_matched_delete_condition,
            when_not_matched_insert,
            None,
        )
        if self.partition_source not in self.key_cols:
            raise ValueError(
                "merge_into_occ needs key→partition locality "
                "(partition_source in key_cols); use merge_into"
            )
        self._check_occ_scope("merge_into_occ", "merge_into")
        replayed = self._occ_replay_check(epoch_id, writer_id)
        if replayed is not None:
            return {"version": replayed, "attempts": 0, "touched": []}
        schema = self._stored_schema()
        table = schema or self._read_table(spark).schema
        extra = self._merge_source_extra(
            table, source_df.schema, when_not_matched_insert
        )
        if extra:
            raise ValueError(
                f"merge_into_occ is evolution-free: source column(s) "
                f"{sorted(extra)} not in the table; use merge_into with "
                f"schema_evolution=True"
            )
        data_cols = [c for c in table.names if c != "part_date"]
        occ_root = self._occ_root()
        batch_dir = os.path.join(occ_root, "batch")
        source_df.write.mode("overwrite").parquet(batch_dir)
        staged = spark.read.parquet(batch_dir)
        spec = self._transforms()[-1]
        candidates, current_vals = self._touched_candidates(staged)
        ins_dirs = (
            {self._part_dirname(v) for v in current_vals}
            if when_not_matched_insert
            else set()
        )
        # ALL key-derived candidate dirs enter the footprint regardless
        # of liveness: a dir not live at entry pins with fingerprint
        # None, so a concurrent commit that CREATES it (with
        # possibly-matching keys for a WHEN MATCHED clause) flips the
        # fingerprint and is detected as a conflict and re-pinned —
        # never silently skipped (Delta raises
        # ConcurrentAppendException for exactly this race). Filtering
        # to an unlocked pre-recovery listing would drop those dirs
        # from the pinned footprint when when_not_matched_insert=False.
        touched = sorted(
            {self._part_dirname(v) for v in candidates} | ins_dirs
        )

        def stage_merge_clauses(pin_root: str) -> DataFrame:
            out = self._apply_merge_clauses(
                self._read_pinned(spark, pin_root, touched, table),
                staged,
                data_cols,
                spec,
                when_matched_update,
                when_matched_update_condition,
                when_matched_delete_condition,
                when_not_matched_insert,
                when_not_matched_insert_condition,
                None,
            )
            self._audit_batch(out)  # constraints hold AFTER the merge
            return out

        return self._occ_commit(
            spark,
            epoch_id,
            touched,
            stage_merge_clauses,
            occ_root=occ_root,
            entry_schema=schema,
            max_retries=max_retries,
            on_staged=on_staged,
            writer_id=writer_id,
        )

    def _phys_name_of(self, logical: str, schema=None) -> str:
        """Physical column name of ``logical`` under ``schema`` (default:
        the live table's)."""
        schema = self._stored_schema() if schema is None else schema
        if schema is not None:
            for f in schema.fields:
                if f.name == logical:
                    return self._physical_name(f)
        return logical

    @staticmethod
    def _dir_file_stats(pdir: str, phys_cols: list[str]) -> dict[str, dict]:
        """Per-FILE min/max of the cluster columns, read from the
        parquet FOOTERS — driver-side O(files) metadata, no data
        scanned. Numeric columns only (the JSON-comparable kind)."""
        import pyarrow.parquet as pq

        files: dict[str, dict] = {}
        for fname in os.listdir(pdir):
            fpath = os.path.join(pdir, fname)
            if not fname.endswith(".parquet") or os.path.getsize(fpath) == 0:
                continue
            md = pq.ParquetFile(fpath).metadata
            ranges: dict[str, list] = {}
            for phys in phys_cols:
                lo = hi = None
                ok = True
                for rg in range(md.num_row_groups):
                    row_group = md.row_group(rg)
                    found = False
                    for ci in range(row_group.num_columns):
                        col = row_group.column(ci)
                        if col.path_in_schema != phys:
                            continue
                        found = True
                        st = col.statistics
                        if (
                            st is None
                            or not st.has_min_max
                            or not isinstance(st.min, (int, float))
                            or isinstance(st.min, bool)
                        ):
                            ok = False
                        else:
                            lo = st.min if lo is None else min(lo, st.min)
                            hi = st.max if hi is None else max(hi, st.max)
                        break
                    if not found or not ok:
                        ok = False
                        break
                if ok and lo is not None:
                    ranges[phys] = [lo, hi]
            if ranges:
                files[fname] = ranges
        return files

    def _write_file_stats(self, staging: str, sort_cols: list[str]) -> None:
        """One ``_stats.json`` per staged partition dir: per-file
        min/max of every cluster column. The sidecar rides the same
        crash-safe swap as the files it describes, so stats are never
        newer or older than the data; absent stats simply mean "must
        read" — the safe degradation. Keyed by PHYSICAL column names,
        like the footers."""
        phys_cols = [self._phys_name_of(c) for c in sort_cols]
        for d in os.listdir(staging):
            pdir = os.path.join(staging, d)
            if not d.startswith("part_date=") or not os.path.isdir(pdir):
                continue
            self._atomic_json_write(
                os.path.join(pdir, "_stats.json"),
                {
                    "columns": phys_cols,
                    "files": self._dir_file_stats(pdir, phys_cols),
                },
            )

    def _refresh_staged_stats(self, root: str) -> None:
        """Keep file stats alive ACROSS merges and deletes: for every
        staged partition whose LIVE counterpart carries a
        ``_stats.json``, recompute the per-file ranges from the STAGED
        footers and write the sidecar into the staging — the swap then
        installs data and matching stats together. Clustering quality
        decays as merged rows land unsorted (ranges widen), but the
        recorded bounds stay EXACT, so ``read_pruned`` keeps skipping
        whatever still can be skipped until the next
        ``compact(sort_by=...)`` re-tightens the files. Driver-side
        O(staged files) footer reads, only for stats-bearing
        partitions, under the staging ``root``."""
        if not os.path.isdir(root):
            return
        for d in os.listdir(root):
            staged_dir = os.path.join(root, d)
            if not d.startswith("part_date=") or not os.path.isdir(staged_dir):
                continue
            live_sidecar = os.path.join(self.path, d, "_stats.json")
            try:
                with open(live_sidecar) as fh:
                    phys_cols = json.load(fh)["columns"]
            except (FileNotFoundError, ValueError, KeyError):
                continue
            self._atomic_json_write(
                os.path.join(staged_dir, "_stats.json"),
                {
                    "columns": phys_cols,
                    "files": self._dir_file_stats(staged_dir, phys_cols),
                },
            )

    def _partition_disjoint(self, dirname: str, lower, upper) -> bool:
        """True only when the partition dir's time period PROVABLY
        does not overlap [lower, upper] on the partition source — the
        first pruning axis, composed in front of the per-file checks.
        Handles every historical granularity by the dir value's own
        layout (YYYY / YYYY-MM / YYYY-MM-DD); an unparseable value or
        the NULL partition is never skipped when it could matter
        (NULL never satisfies a bound, so bounds exclude it; with no
        bounds everything is read)."""
        import datetime as _dtm

        if lower is None and upper is None:
            return False
        val = dirname.split("=", 1)[1]
        if val == "__HIVE_DEFAULT_PARTITION__":
            return True  # NULL source never satisfies a range bound
        try:
            if len(val) == 4:
                start = _dtm.datetime(int(val), 1, 1)
                end = _dtm.datetime(int(val) + 1, 1, 1)
            elif len(val) == 7:
                y, m = int(val[:4]), int(val[5:7])
                start = _dtm.datetime(y, m, 1)
                end = (
                    _dtm.datetime(y + 1, 1, 1)
                    if m == 12
                    else _dtm.datetime(y, m + 1, 1)
                )
            else:
                d = _dtm.date.fromisoformat(val)
                start = _dtm.datetime(d.year, d.month, d.day)
                end = start + _dtm.timedelta(days=1)
        except ValueError:
            return False  # unknown layout: must read
        def _ts(b):
            if isinstance(b, _dtm.datetime):
                return b
            if isinstance(b, _dtm.date):
                return _dtm.datetime(b.year, b.month, b.day)
            return None
        lo, hi = _ts(lower), _ts(upper)
        if lower is not None and lo is None:
            return False  # incomparable bound type: must read
        if upper is not None and hi is None:
            return False
        if hi is not None and start > hi:
            return True
        if lo is not None and end <= lo:
            return True
        return False

    @staticmethod
    def _bound_pred(column: str, lower, upper):
        """``lower <= column <= upper`` (either side optional) — the
        predicate every skipping read re-applies, so results never
        depend on the skipping being right."""
        pred = F.lit(True)
        if lower is not None:
            pred = pred & (F.col(column) >= F.lit(lower))
        if upper is not None:
            pred = pred & (F.col(column) <= F.lit(upper))
        return pred

    def read_pruned(
        self,
        spark: SparkSession,
        column: str,
        lower=None,
        upper=None,
        source_lower=None,
        source_upper=None,
    ) -> tuple[DataFrame, int, int]:
        """Data-skipping read (the Iceberg file-stats design): compose
        the table from ONLY the files whose recorded [min, max] of
        ``column`` (written by ``compact(sort_by=...)``) overlaps
        [lower, upper] — after a clustered rewrite a selective range
        predicate reads O(matching files), not O(table), which is the
        second pruning axis on top of partition pruning at 100 TB.
        Planning is in-memory over ONE read of the consolidated
        metadata (file lists, stats, deletion vectors — VERDICT r9
        item 4). Files or partitions without stats are always read
        (absence degrades to correctness, never to a wrong skip;
        deletion-vector deletes only SHRINK a file's true range, so
        stale bounds stay valid over-approximations). The range
        predicate is re-applied to the composed scan, so results never
        depend on the stats. ``source_lower``/``source_upper``
        additionally bound the PARTITION source column: dirs whose
        time period is provably disjoint are skipped whole (the first
        pruning axis — at 100 TB partition pruning removes the bulk
        before any per-file check runs) and the bound re-applies as a
        predicate. Returns (DataFrame, files_selected, files_total) —
        the counts are the pruning proof the registry entry asserts.
        ``column`` is the logical name; stats live under the physical
        one."""
        if lower is None and upper is None:
            raise ValueError("read_pruned needs at least one bound")
        return self._read_skipping(
            spark,
            None,
            column,
            lambda entries, phys: self._select_files_from_entries(
                entries, phys, lower, upper
            ),
            self._bound_pred(column, lower, upper),
            source_lower,
            source_upper,
        )

    def _read_skipping(
        self,
        spark: SparkSession,
        version: int | None,
        column: str,
        select: Callable[[dict[str, dict], str], tuple[list[str], int]],
        pred,
        source_lower=None,
        source_upper=None,
    ) -> tuple[DataFrame, int, int]:
        """The one implementation behind ``read_pruned``/``read_point``
        and their ``_at`` twins: resolve the table state (``version``
        None = live), skip partition dirs provably disjoint from the
        partition-source bound, let ``select(entries, physical column)``
        choose files from the metadata entries, then compose the
        chosen files and re-apply ``pred`` and the source bound. The
        physical column comes from the resolved schema, so pruning
        composes with renames across versions."""
        entries, schema = self._resolve(spark, version)
        skipped_files = 0
        if source_lower is not None or source_upper is not None:
            eligible = {}
            for pdir, e in entries.items():
                if self._partition_disjoint(
                    os.path.basename(pdir), source_lower, source_upper
                ):
                    skipped_files += len(e.get("files", []))
                else:
                    eligible[pdir] = e
            entries = eligible
        chosen, total = select(entries, self._phys_name_of(column, schema))
        pred = pred & self._bound_pred(
            self.partition_source, source_lower, source_upper
        )
        df = self._compose(spark, chosen, entries, schema).filter(pred)
        return df, len(chosen), total + skipped_files

    @staticmethod
    def _select_files_from_entries(
        entries: dict[str, dict], phys: str, lower, upper
    ) -> tuple[list[str], int]:
        """(chosen file paths, total file count) over consolidated
        metadata entries (dir path -> {files, stats, dv}) under the
        [lower, upper] bound on the PHYSICAL column — the shared
        file-skipping core of ``read_pruned`` and ``read_pruned_at``.
        Pure in-memory planning: the entries came from ONE JSON read
        (live cache or manifest fold). Files or dirs without
        applicable stats are always chosen (safe degradation)."""
        chosen: list[str] = []
        total = 0
        for pdir in sorted(entries):
            e = entries[pdir]
            # dir-level zone map first: a dir whose folded [lo, hi] is
            # disjoint from the bound dismisses ALL its files in O(1)
            # — plan CPU is O(dirs + files of candidate dirs), not
            # O(table files) (the fold exists only when every file is
            # stats-covered, so this can never skip an uncovered file)
            dr = (e.get("range") or {}).get(phys)
            if dr is not None and (
                (upper is not None and dr[0] > upper)
                or (lower is not None and dr[1] < lower)
            ):
                total += len(e.get("files", []))
                continue
            stats = None
            s = e.get("stats")
            if s and phys in s.get("columns", []):
                stats = s.get("files", {})
            for fname in e.get("files", []):
                total += 1
                rng = (
                    stats.get(fname, {}).get(phys) if stats is not None else None
                )
                if rng is not None:
                    lo, hi = rng
                    if (upper is not None and lo > upper) or (
                        lower is not None and hi < lower
                    ):
                        continue  # provably disjoint: skip the file
                chosen.append(os.path.join(pdir, fname))
        return chosen, total

    def read_pruned_at(
        self,
        spark: SparkSession,
        epoch_id: int,
        column: str,
        lower=None,
        upper=None,
    ) -> tuple[DataFrame, int, int]:
        """Data-skipping TIME-TRAVEL read: ``read_at`` semantics with
        the same file-level stats pruning as ``read_pruned``. Works
        because the hardlinked epoch copies carry each partition's
        ``_stats.json`` (and ``_dv.json``) AS OF that commit and the
        manifest folds them — the version's own bounds prune the
        version's own files from one JSON read. The version's sidecar
        schema resolves the logical column to its then-physical name,
        so pruning composes with renames across the evolution
        boundary."""
        if lower is None and upper is None:
            raise ValueError("read_pruned_at needs at least one bound")
        return self._read_skipping(
            spark,
            epoch_id,
            column,
            lambda entries, phys: self._select_files_from_entries(
                entries, phys, lower, upper
            ),
            self._bound_pred(column, lower, upper),
        )

    # -- recorded clustering (the liquid-clustering UX, r10) -----------------
    def _clustering_file(self) -> str:
        return os.path.join(self.path, "_clustering.json")

    def _clustering(self) -> tuple[list[str], str] | None:
        try:
            with open(self._clustering_file()) as fh:
                data = json.load(fh)
            return list(data["columns"]), str(data["mode"])
        except (FileNotFoundError, ValueError, KeyError):
            return None

    def _clustering_bounds(self, cols: list[str]) -> list[list[float]] | None:
        """Cached z-order quantile boundaries from the last FULL
        recorded-clustering rewrite, or None. Keyed by the column
        list, so a re-declared clustering invalidates the cache."""
        try:
            with open(self._clustering_file()) as fh:
                data = json.load(fh)
            if list(data.get("columns", [])) != list(cols):
                return None
            bounds = data["bounds"]
            return [list(map(float, b)) for b in bounds]
        except (FileNotFoundError, ValueError, KeyError, TypeError):
            return None

    def _save_clustering_bounds(
        self, cols: list[str], bounds: list[list[float]]
    ) -> None:
        rec = self._clustering()
        if rec is None or list(rec[0]) != list(cols):
            return
        self._atomic_json_write(
            self._clustering_file(),
            {"columns": rec[0], "mode": rec[1], "bounds": bounds},
        )

    def set_clustering(
        self, columns: list[str], mode: str = "zorder"
    ) -> None:
        """Record the table's clustering ONCE (Delta liquid-clustering
        shape): every later ``compact()`` / auto-compaction /
        ``optimize()`` that is not given an explicit ``sort_by`` /
        ``zorder_by`` re-applies it — so the post-merge auto-compact
        keeps the touched partitions CLUSTERED instead of hash-packed,
        and the file-skipping indexes stay tight continuously rather
        than decaying until someone remembers the right OPTIMIZE
        arguments. ``mode`` is 'zorder' (multi-dimensional) or 'sort'
        (lexicographic). Declaration is metadata-only; the next
        rewrite applies it."""
        if mode not in ("zorder", "sort"):
            raise ValueError("mode must be 'zorder' or 'sort'")
        if not columns:
            raise ValueError("clustering needs at least one column")
        with self._writer_lock():
            self._atomic_json_write(
                self._clustering_file(),
                {"columns": list(columns), "mode": mode},
            )

    def clear_clustering(self) -> None:
        with self._writer_lock():
            try:
                os.remove(self._clustering_file())
            except FileNotFoundError:
                pass

    # -- bloom-filter point-lookup file skipping (r10) -----------------------
    # Min/max stats prune RANGE predicates; an equality probe on a
    # high-cardinality, unclustered key (user_id in a GDPR lookup, a
    # trace id) hits nearly every file's [min, max]. A per-file bloom
    # bitset answers "provably absent" for exactly that shape — the
    # Delta Lake bloom-filter-index / parquet-bloom design. The bitset
    # is built DISTRIBUTED end to end (positions hashed JVM-side,
    # OR-folded into O(m) numpy bitsets and written as sidecars by the
    # executors; the driver sees only per-dir acks), serialized
    # base64 into one `_bloom.json` per partition dir, folded into the
    # consolidated metadata like stats/DV, and REBUILT for every
    # staged partition a merge/update/delete touches (a swapped dir
    # that kept a stale bloom could wrongly skip newly-merged values —
    # unlike min/max, blooms are not monotone under row adds). Hashes
    # are sha256-slice positions computed identically JVM-side
    # (build: sha2(cast(v as string)) + conv) and Python-side (probe:
    # hashlib), so the driver probes without a Spark job.

    # at most 4 independent 64-bit slices fit in one sha256
    _BLOOM_MAX_K = 4

    def _bloom_meta_file(self) -> str:
        return os.path.join(self.path, "_bloom_meta.json")

    def _bloom_meta(self) -> dict[str, dict]:
        """Declared bloom indexes: physical column -> {m (bits), k}."""
        try:
            with open(self._bloom_meta_file()) as fh:
                return json.load(fh)["columns"]
        except (FileNotFoundError, ValueError, KeyError):
            return {}

    @staticmethod
    def _bloom_positions_py(value, m: int, k: int) -> list[int]:
        """Probe-side bit positions. MUST mirror `_bloom_pos_exprs`:
        sha256 over the UTF-8 of Spark's string cast (integral and
        string types cast identically in Python and the JVM — the
        supported column kinds), 64-bit hex slices mod m."""
        import hashlib

        h = hashlib.sha256(str(value).encode("utf-8")).hexdigest()
        return [int(h[i * 16 : (i + 1) * 16], 16) % m for i in range(k)]

    @staticmethod
    def _bloom_pos_exprs(col, m: int, k: int):
        """Build-side bit positions as ONE array Column — pure
        Catalyst: sha2 once per row, k substring/conv/pmod slices."""
        h = F.sha2(col.cast("string"), 256)
        return F.array(
            *[
                F.pmod(
                    F.conv(F.substring(h, i * 16 + 1, 16), 16, 10).cast(
                        "decimal(20,0)"
                    ),
                    F.lit(m),
                ).cast("int")
                for i in range(k)
            ]
        )

    def create_bloom_index(
        self,
        spark: SparkSession,
        column: str,
        m: int | None = None,
        k: int = 3,
    ) -> None:
        """Declare + build a bloom point-lookup index on ``column``
        (logical name; integral or string type). ``m`` bits per FILE;
        the default (None) AUTO-SIZES every build to ~9.6 bits per
        row of the largest file being built (the standard ~1%
        false-positive sizing) — a fixed m silently SATURATES when
        compaction fattens files (an all-ones bloom skips nothing and
        the index degrades to a must-read no-op, measured in
        BASELINE r10), so auto is the right default and re-sizing
        rides every rebuild. ``k`` hash slices (<= 4). The index is
        maintained by every subsequent commit: touched partitions get
        their blooms rebuilt from the staged bytes, compaction
        rebuilds everything it rewrites; a partition whose rebuild
        was impossible simply lacks the sidecar and is always read
        (absence degrades to correctness, never to a wrong skip).
        Probes recover each file's m from its bitset length, so
        mixed-size blooms across rebuilds are fine."""
        if k < 1 or k > self._BLOOM_MAX_K:
            raise ValueError(f"k must be 1..{self._BLOOM_MAX_K}")
        if m is not None and m % 8:
            raise ValueError("m must be a multiple of 8")
        # the probe side hashes Python str(value) and the build side
        # hashes Spark's CAST(col AS STRING); those renderings agree
        # ONLY for integral and string types (doubles: '1e+16' vs
        # '1.0E16'; timestamps: microsecond padding; booleans: 'True'
        # vs 'true') — a mismatched rendering would set different bit
        # positions than the probe checks and silently skip files that
        # DO contain matches, so refuse the declaration up front
        # (ADVICE r10)
        schema = self._stored_schema()
        if schema is not None:
            from pyspark.sql.types import IntegralType, StringType

            field = next(
                (f for f in schema.fields if f.name == column), None
            )
            if field is not None and not isinstance(
                field.dataType, (IntegralType, StringType)
            ):
                raise TypeError(
                    f"bloom index on {column!r} ({field.dataType.simpleString()}) "
                    f"unsupported: only integral and string columns render "
                    f"identically under Python str() and Spark CAST AS STRING"
                )
        # BLOCKING: an index (re)build beside a live stream waits out
        # the brief per-batch commit locks instead of refusing
        with self._writer_lock_blocking():
            phys = self._phys_name_of(column)
            meta = self._bloom_meta()
            meta[phys] = {"m": m, "k": k}
            self._atomic_json_write(
                self._bloom_meta_file(), {"columns": meta}
            )
            self._build_blooms(spark, self.path)
            self._refresh_consolidated()

    def drop_bloom_index(self, column: str) -> None:
        with self._writer_lock():
            phys = self._phys_name_of(column)
            meta = self._bloom_meta()
            meta.pop(phys, None)
            self._atomic_json_write(
                self._bloom_meta_file(), {"columns": meta}
            )
            for d in os.listdir(self.path):
                pdir = os.path.join(self.path, d)
                if d.startswith("part_date=") and os.path.isdir(pdir):
                    bf = os.path.join(pdir, "_bloom.json")
                    try:
                        with open(bf) as fh:
                            data = json.load(fh)
                        data["columns"].pop(phys, None)
                        for fentry in data["files"].values():
                            fentry.pop(phys, None)
                        if data["columns"]:
                            self._atomic_json_write(bf, data)
                        else:
                            os.remove(bf)
                    except (FileNotFoundError, ValueError, KeyError):
                        pass
            self._refresh_consolidated()

    def _build_blooms(self, spark: SparkSession, root: str) -> None:
        """Rebuild `_bloom.json` for every partition dir under
        ``root`` (the live table, or a complete staging about to swap
        in) for all DECLARED columns. Executor-side END TO END
        (VERDICT r10 item 2): bit positions are hashed JVM-side
        (sha2 + conv, no Python in the row path), the rows of each
        file are co-located by a hash repartition on the file name,
        and an Arrow-batched ``mapInPandas`` FOLDS them into one O(m)
        numpy bitset per (file, column) — constant aggregation state
        per file instead of the previous O(rows*k) collect_list
        buffer. A second ``mapInPandas``, co-located by partition
        dir, writes each dir's `_bloom.json` sidecar atomically FROM
        THE EXECUTORS (tmp + rename on the table's shared storage —
        the same filesystem contract every data file already relies
        on). The driver collects only (dir, n_files) acks and
        backfills empty sidecars for dirs the scan produced no rows
        for — never a bitset, never a position set, so the build's
        driver traffic is O(partition dirs) regardless of table
        size."""
        import base64 as _b64
        import uuid as _uuid

        meta = self._bloom_meta()
        if not meta:
            return
        dirs = [
            d
            for d in sorted(os.listdir(root))
            if d.startswith("part_date=")
            and os.path.isdir(os.path.join(root, d))
        ]
        if not dirs:
            return
        schema = self._stored_schema()
        reader = spark.read.option("basePath", root)
        if schema is not None:
            reader = reader.schema(self._physical_schema(schema))
        df = reader.parquet(*[os.path.join(root, d) for d in dirs])
        auto = any(mk.get("m") is None for mk in meta.values())
        max_rows = 0
        if auto:
            # size for the FATTEST file in this build: ~9.6 bits/row
            # is the classic ~1% false-positive bloom sizing. The row
            # count comes from the parquet FOOTERS, driver-side (r14,
            # VERDICT r13 item 5 / guide §6 — the footer already holds
            # num_rows): previously a count-by-file Spark pass, i.e. a
            # SECOND full scan per build. The driver already lists
            # these very dirs to plan the build, so the footer sweep
            # adds O(files) metadata reads, no data pass. Sizing-only:
            # an unreadable/zero-byte placeholder file is skipped (it
            # contributes no rows to the fold either), and probes
            # recover m from each bitset's length regardless.
            import pyarrow.parquet as _pq

            for d in dirs:
                pdir = os.path.join(root, d)
                for fname in os.listdir(pdir):
                    if not fname.endswith(".parquet"):
                        continue
                    try:
                        nr = _pq.ParquetFile(
                            os.path.join(pdir, fname)
                        ).metadata.num_rows
                    except Exception:  # noqa: BLE001 — sizing only
                        continue
                    if nr > max_rows:
                        max_rows = nr
        m_used: dict[str, int] = {}
        pos_cols = []
        for phys, mk in sorted(meta.items()):
            if phys not in df.columns:
                continue
            m = mk.get("m")
            if m is None:
                m = max(8_192, -(-int(max_rows * 9.6) // 64) * 64)
            m_used[phys] = m
            # NULL values never match an IN probe, so they set no
            # bits: the when() leaves a NULL array the fold skips
            # while still REGISTERING the file (a registered all-null
            # file keeps a zero bitset and is provably probe-free)
            pos_cols.append(
                F.when(
                    F.col(phys).isNotNull(),
                    self._bloom_pos_exprs(F.col(phys), m, mk["k"]),
                ).alias(f"__pos_{len(pos_cols)}")
            )
        if not pos_cols:
            return
        ordered = sorted(m_used)
        m_bytes = {c: m_used[c] // 8 for c in ordered}

        def fold(batches):
            import numpy as np
            import pandas as pd

            # (file path) -> {col -> uint8 bitset}; O(files_in_this_
            # partition * m/8) state, one Arrow batch in flight
            bitsets: dict[str, dict[str, "np.ndarray"]] = {}
            for pdf in batches:
                for fpath, g in pdf.groupby("__f"):
                    entry = bitsets.setdefault(fpath, {})
                    for i, col in enumerate(ordered):
                        bs = entry.get(col)
                        if bs is None:
                            bs = entry[col] = np.zeros(
                                m_bytes[col], dtype=np.uint8
                            )
                        vals = g[f"__pos_{i}"].dropna()
                        if not len(vals):
                            continue
                        pos = np.concatenate(
                            [np.asarray(v, dtype=np.int64) for v in vals]
                        )
                        np.bitwise_or.at(
                            bs,
                            pos >> 3,
                            np.left_shift(
                                np.uint8(1), (pos & 7).astype(np.uint8)
                            ),
                        )
            out = [
                (
                    os.path.basename(
                        os.path.dirname(fpath.split("://", 1)[-1])
                    ),
                    os.path.basename(fpath.split("://", 1)[-1]),
                    col,
                    _b64.b64encode(bs.tobytes()).decode("ascii"),
                )
                for fpath, cols in bitsets.items()
                for col, bs in cols.items()
            ]
            yield pd.DataFrame(
                out, columns=["dname", "fname", "col", "b64"]
            ) if out else pd.DataFrame(
                {
                    "dname": pd.Series([], dtype=object),
                    "fname": pd.Series([], dtype=object),
                    "col": pd.Series([], dtype=object),
                    "b64": pd.Series([], dtype=object),
                }
            )

        cols_meta = {
            p: {"m": m_used.get(p, mk.get("m")), "k": mk["k"]}
            for p, mk in sorted(meta.items())
        }

        def write_sidecars(batches):
            import json as _json

            import pandas as pd

            acc: dict[str, dict[str, dict[str, str]]] = {}
            for pdf in batches:
                for dname, fname, col, b64 in zip(
                    pdf["dname"], pdf["fname"], pdf["col"], pdf["b64"]
                ):
                    acc.setdefault(dname, {}).setdefault(fname, {})[
                        col
                    ] = b64
            out = []
            for dname, files in acc.items():
                target = os.path.join(root, dname, "_bloom.json")
                tmp = f"{target}.tmp-{_uuid.uuid4().hex}"
                with open(tmp, "w") as fh:
                    _json.dump({"columns": cols_meta, "files": files}, fh)
                os.replace(tmp, target)  # atomic publish, executor-side
                out.append((dname, len(files)))
            yield pd.DataFrame(
                out, columns=["dname", "nfiles"]
            ) if out else pd.DataFrame(
                {
                    "dname": pd.Series([], dtype=object),
                    "nfiles": pd.Series([], dtype="int64"),
                }
            )

        folded = (
            df.select(F.input_file_name().alias("__f"), *pos_cols)
            .repartition(F.col("__f"))
            .mapInPandas(
                fold, "dname string, fname string, col string, b64 string"
            )
        )
        acks = (
            folded.repartition(F.col("dname"))
            .mapInPandas(write_sidecars, "dname string, nfiles long")
            .collect()
        )
        written = {r["dname"] for r in acks}
        for d in dirs:
            if d not in written:  # scan yielded no rows for this dir
                self._atomic_json_write(
                    os.path.join(root, d, "_bloom.json"),
                    {"columns": cols_meta, "files": {}},
                )

    def _refresh_staged_blooms(self, root: str) -> None:
        """Keep declared bloom indexes alive ACROSS data-rewriting
        commits: rebuild `_bloom.json` inside the staging so the swap
        installs data and matching blooms together (the stats-refresh
        pattern). Without this the swap would silently DROP the
        sidecar — still correct (absent bloom = must read) but the
        index would decay to nothing under a streaming upsert load.
        No-op when no index is declared or the staging is absent."""
        if not self._bloom_meta() or not os.path.isdir(root):
            return
        spark = SparkSession.getActiveSession()
        if spark is None:  # no session to build with: degrade to must-read
            return
        self._build_blooms(spark, root)

    def read_point(
        self,
        spark: SparkSession,
        column: str,
        values: list,
        source_lower=None,
        source_upper=None,
    ) -> tuple[DataFrame, int, int]:
        """Point-lookup read (``column IN (values)``) that composes
        the table from ONLY the files that might hold one of the
        probe values, using BOTH pruning axes per file: the min/max
        stats (a value outside [lo, hi] cannot be there) and the
        bloom bitset (k unset bits = provably absent). Planning is
        in-memory over the same ONE consolidated-metadata read as
        ``read_pruned``; files without metadata are always read, and
        the IN predicate is re-applied to the composed scan, so
        results never depend on the sidecars. Returns (DataFrame,
        files_selected, files_total) — the pruning proof."""
        self._check_probe("read_point", values)
        return self._read_skipping(
            spark,
            None,
            column,
            lambda entries, phys: self._select_files_point(entries, phys, values),
            F.col(column).isin(values),
            source_lower,
            source_upper,
        )

    @staticmethod
    def _check_probe(name: str, values: list) -> None:
        if not values:
            raise ValueError(f"{name} needs at least one probe value")
        if any(v is None for v in values):
            raise ValueError("NULL never matches an IN probe")

    @classmethod
    def _select_files_point(
        cls, entries: dict[str, dict], phys: str, values: list
    ) -> tuple[list[str], int]:
        """(chosen file paths, total files) for an IN probe over
        consolidated metadata entries — the shared point-selection
        core of ``read_point`` and ``read_point_at``. Per file, a
        probe value stays alive only while the min/max range admits
        it AND the bloom bitset might contain it; a file with no
        live value is provably irrelevant. Missing metadata always
        degrades to reading the file."""
        import base64

        chosen: list[str] = []
        total = 0
        pos_cache: dict[tuple[int, int], list[list[int]]] = {}
        # a probe value whose Python str() may not match Spark's
        # string CAST (anything but int/str — bool is an int subclass
        # but renders 'True' vs 'true') must never be bloom-skipped:
        # the bitset was built from the CAST rendering, so a mismatch
        # would wrongly prove absence. Such values degrade to the
        # stats axis + must-read (ADVICE r10).
        bloomable = [
            isinstance(v, str)
            or (isinstance(v, int) and not isinstance(v, bool))
            for v in values
        ]
        for pdir in sorted(entries):
            e = entries[pdir]
            # dir-level zone map: if no probe value can live in this
            # dir's folded [lo, hi], dismiss all its files in O(1)
            dr = (e.get("range") or {}).get(phys)
            if dr is not None:
                try:
                    if not any(dr[0] <= v <= dr[1] for v in values):
                        total += len(e.get("files", []))
                        continue
                except TypeError:
                    pass  # incomparable probe/stat types: full check
            stats = None
            s = e.get("stats")
            if s and phys in s.get("columns", []):
                stats = s.get("files", {})
            bloom = e.get("bloom")
            bcols = (bloom or {}).get("columns", {})
            bfiles = (bloom or {}).get("files", {})
            k_hashes = (bcols.get(phys) or {}).get("k")
            for fname in e.get("files", []):
                total += 1
                alive = list(range(len(values)))
                rng = (
                    stats.get(fname, {}).get(phys)
                    if stats is not None
                    else None
                )
                if rng is not None:
                    lo, hi = rng
                    try:
                        alive = [i for i in alive if lo <= values[i] <= hi]
                    except TypeError:
                        pass  # incomparable probe/stat types: must read
                b64 = (
                    bfiles.get(fname, {}).get(phys) if k_hashes else None
                )
                if b64 is not None and alive:
                    bits = base64.b64decode(b64)
                    # m recovers from the bitset length, so blooms of
                    # different (auto-sized) m coexist across rebuilds
                    key = (len(bits) * 8, k_hashes)
                    if key not in pos_cache:
                        pos_cache[key] = [
                            cls._bloom_positions_py(v, key[0], k_hashes)
                            for v in values
                        ]
                    probe = pos_cache[key]
                    alive = [
                        i
                        for i in alive
                        if not bloomable[i]
                        or all(
                            bits[p >> 3] & (1 << (p & 7)) for p in probe[i]
                        )
                    ]
                if alive:
                    chosen.append(os.path.join(pdir, fname))
        return chosen, total

    def read_point_at(
        self, spark: SparkSession, epoch_id: int, column: str, values: list
    ) -> tuple[DataFrame, int, int]:
        """Point-lookup TIME TRAVEL: ``read_at`` semantics with the
        same per-file stats + bloom skipping as ``read_point`` — the
        hardlinked epoch copies carry each partition's sidecars AS OF
        that commit (and the manifest folds them, so planning is one
        JSON read), which makes "find these keys as of last Tuesday"
        O(matching files) instead of O(version). The version's own
        schema resolves the logical column through any later renames,
        and the IN predicate re-applies, so results never depend on
        the sidecars."""
        self._check_probe("read_point_at", values)
        return self._read_skipping(
            spark,
            epoch_id,
            column,
            lambda entries, phys: self._select_files_point(entries, phys, values),
            F.col(column).isin(values),
        )


def postgres_merge_sql(
    table: str,
    staging_table: str,
    key_cols: list[str],
    value_cols: list[str],
) -> str:
    """The reference's Postgres MERGE, corrected to overwrite-per-key:
    conflict on the full (key, window) primary key, every value column
    overwritten (no addition) — idempotent under replay. Cite:
    /root/reference/spark_jobs/streaming_job.py:37-44 (additive ON
    CONFLICT on city only — the double-counting defect SURVEY §4
    documents)."""
    cols = list(key_cols) + list(value_cols)
    updates = ", ".join(f"{c} = EXCLUDED.{c}" for c in value_cols)
    return (
        f"INSERT INTO {table} ({', '.join(cols)})\n"
        f"SELECT {', '.join(cols)} FROM {staging_table}\n"
        f"ON CONFLICT ({', '.join(key_cols)}) DO UPDATE SET {updates}"
    )


class PostgresUpsertSink:
    """The reference's ACTUAL sink executed end-to-end: staging write +
    ``INSERT .. ON CONFLICT DO UPDATE`` against a real PostgreSQL
    server, spoken over the wire protocol directly
    (sources/pgwire.py) — no psycopg2, no JDBC driver jar.

    Parity with the reference (/root/reference/spark_jobs/
    streaming_job.py): staging table overwritten per micro-batch
    (:26-34), merge via ON CONFLICT (:37-44) — but keyed
    ``(city, window_start)`` with overwrite-per-key values, the
    idempotent correction of the reference's additive city-only
    conflict (see SURVEY §4). The whole batch lands in ONE
    multi-statement simple-protocol query = one implicit transaction:
    staging truncate + COPY-IN load + merge commit atomically.

    Scale posture: foreachBatch hands the driver an already-aggregated
    micro-batch (a few rows per key per trigger), so the driver-side
    collect + COPY stream is O(batch), never O(table) — the same
    posture as the reference's psycopg2 executemany loop and the
    Derby JDBC twin, but with bounded per-frame memory (1 MB CopyData
    chunks) instead of one statement string that grows with the batch.
    A firehose-scale deployment would swap the driver-side collect for
    DataFrameWriter.jdbc with the Postgres driver jar on the
    classpath; the MERGE statement is identical.
    """

    _PG_TYPES = {
        "string": "VARCHAR(1024)",
        "timestamp": "TIMESTAMP",
        "timestamp_ntz": "TIMESTAMP",
        "long": "BIGINT",
        "integer": "INTEGER",
        "double": "DOUBLE PRECISION",
        "float": "REAL",
        "boolean": "BOOLEAN",
        "date": "DATE",
        "binary": "BYTEA",  # multimodal payloads; sql_literal hex-renders
        "decimal": "NUMERIC",
    }

    def __init__(
        self,
        server=None,
        table: str = "city_metrics",
        key_cols: tuple[str, ...] = ("city", "window_start"),
        max_batch_rows: int = 1_000_000,
    ) -> None:
        """``max_batch_rows`` enforces the O(batch) driver-memory
        contract: foreachBatch hands this sink an already-aggregated
        micro-batch (rows ~ |keys x windows changed per trigger|), and
        the staging INSERT collects it on the driver. A batch above
        the bound means the pipeline is shipping raw-scale data into a
        driver-side sink — fail loudly with the fix (stage via
        DataFrameWriter.jdbc; the MERGE statement is identical) rather
        than OOM the driver."""
        if server is None:
            from real_time_ride_hailing_data_pipeline_spark.sources.pgwire import (
                EmbeddedPostgres,
            )

            server = EmbeddedPostgres.ensure()
        self.server = server
        self.table = table
        self.staging_table = f"{table}_staging"
        self.key_cols = list(key_cols)
        self.max_batch_rows = max_batch_rows
        self._client = None
        self._schema = None

    def _connect(self):
        if self._client is None:
            self._client = self.server.connect()
        return self._client

    def _query(self, sql: str, copy_data=None):
        """Run one query, invalidating the cached connection on ANY
        failure: a send that dies mid-COPY-frame (server restart,
        EPIPE) leaves the wire protocol desynced, so a retry that
        reuses the same socket fails identically — with_retries only
        helps if each attempt dials fresh after an error."""
        try:
            return self._connect().query(sql, copy_data=copy_data)
        except Exception:
            client, self._client = self._client, None
            if client is not None:
                try:
                    client.close()
                except Exception:  # noqa: BLE001 — already torn down
                    pass
            raise

    def _ddl(self, schema) -> tuple[str, str]:
        cols = ", ".join(
            f"{f.name} {self._PG_TYPES.get(f.dataType.typeName(), 'TEXT')}"
            for f in schema.fields
        )
        staging = f"CREATE TABLE IF NOT EXISTS {self.staging_table} ({cols})"
        target = (
            f"CREATE TABLE IF NOT EXISTS {self.table} "
            f"({cols}, PRIMARY KEY ({', '.join(self.key_cols)}))"
        )
        return staging, target

    def write_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """foreachBatch hook: one transaction per micro-batch.

        The staging load speaks the COPY-IN subprotocol (VERDICT r6
        item 4): rows stream to the server in fixed-size CopyData
        frames (``copy_rows``), so per-statement memory is bounded on
        both ends no matter the batch size — the simple-INSERT literal
        previously grew with the micro-batch (64 MB at the 8×
        scale-up). The COPY sits inside the same multi-statement
        simple query as the DDL, TRUNCATE and MERGE, which the server
        runs as ONE implicit transaction: the backend pauses at
        ``COPY .. FROM STDIN``, consumes the stream, then resumes the
        remaining statements — atomicity is unchanged."""
        from real_time_ride_hailing_data_pipeline_spark.sources.pgwire import (
            copy_rows,
        )

        self._schema = batch_df.schema
        names = [f.name for f in batch_df.schema.fields]
        # limit(bound+1) before collect: the bound check must not
        # itself materialize an unbounded batch on the driver
        rows = batch_df.limit(self.max_batch_rows + 1).collect()
        if len(rows) > self.max_batch_rows:
            raise ValueError(
                f"micro-batch exceeds max_batch_rows={self.max_batch_rows}: "
                "this sink stages via a driver-side COPY and expects "
                "aggregated micro-batches (O(keys x windows) rows). For "
                "raw-scale batches stage with DataFrameWriter.jdbc and "
                "run postgres_merge_sql() through the same connection."
            )
        staging_ddl, target_ddl = self._ddl(batch_df.schema)
        statements = [staging_ddl, target_ddl, f"TRUNCATE {self.staging_table}"]
        if rows:
            statements.append(
                f"COPY {self.staging_table} ({', '.join(names)}) FROM STDIN"
            )
        value_cols = [c for c in names if c not in self.key_cols]
        statements.append(
            postgres_merge_sql(
                self.table, self.staging_table, self.key_cols, value_cols
            )
        )
        # one Query message = one implicit transaction (atomic commit);
        # copy_rows re-encodes lazily, so retries stream fresh chunks
        with_retries(
            lambda: self._query(
                ";\n".join(statements),
                copy_data=copy_rows(rows, names) if rows else None,
            )
        )

    def read(self, spark: SparkSession) -> DataFrame:
        """The merged target table, read back over the wire into a
        DataFrame with the written schema — via pandas + Arrow (2.5×
        faster than the row-tuple path for the 80k-row sf0.1 table;
        measured 1.07 s vs 2.74 s)."""
        if self._schema is None:
            raise ValueError("read() before any write_batch()")
        import pandas as pd

        names = [f.name for f in self._schema.fields]
        _, rows = self._query(f"SELECT {', '.join(names)} FROM {self.table}")
        pdf = pd.DataFrame(rows, columns=names)
        for f in self._schema.fields:
            t = f.dataType.typeName()
            if t in ("timestamp", "timestamp_ntz"):
                # datetime64[ns] only spans ~1677-2262; the wire
                # decoder round-trips years 1-9999 exactly, so leave
                # out-of-range columns as datetime objects (Arrow
                # converts object->timestamp[us] losslessly)
                try:
                    pdf[f.name] = pd.to_datetime(pdf[f.name])
                except (pd.errors.OutOfBoundsDatetime, OverflowError, ValueError):
                    pass
            elif t in ("long", "integer", "short", "byte"):
                # nullable Int64: a SQL NULL must not coerce the whole
                # column to float64/NaN (which the integer schema
                # would then reject)
                pdf[f.name] = pdf[f.name].astype("Int64")
            elif t == "boolean":
                pdf[f.name] = pdf[f.name].astype("boolean")
        return spark.createDataFrame(pdf, schema=self._schema)


class JdbcUpsertSink:
    """JDBC variant of the keyed upsert (S4+S5): staging table write +
    MERGE executed over a JDBC connection, keyed
    ``(city, window_start)`` with overwrite-per-key semantics — the
    corrected form of the reference's ``write_to_postgres``
    (streaming_job.py:8-61, additive ON CONFLICT on city only).
    Cite: staging write streaming_job.py:26-34, merge statement :37-44.

    The MERGE is standard ``MERGE INTO`` (``merge_sql_ansi()``),
    executed END-TO-END in-process against embedded Apache Derby
    (``derby*.jar`` ships inside pyspark's own classpath and supports
    ANSI MERGE since 10.11): ``write_batch`` stages the micro-batch
    with ``DataFrameWriter.jdbc`` and runs the MERGE through
    ``java.sql.DriverManager`` on the driver JVM — the same two-step
    transaction a production deployment runs, minus nothing.
    tests/test_streaming.py drives it through a real ``foreachBatch``
    replay. The reference's Postgres ``INSERT .. ON CONFLICT`` form
    (``postgres_merge_sql``) runs end to end in
    ``PostgresUpsertSink``.

    The MERGE statement is driver-side control flow over
    already-aggregated micro-batch output (a few rows per key per
    trigger), so at 100 TB the JDBC sink cost is O(batch), not
    O(table) — identical scaling posture to the parquet sink.
    """

    def __init__(
        self,
        url: str,
        table: str = "city_metrics",
        staging_table: str = "city_metrics_staging",
        key_cols: tuple[str, ...] = ("city", "window_start"),
        user: str = "postgres",
        password: str = "postgres",
        driver: str = "org.postgresql.Driver",
    ) -> None:
        self.url = url
        self.table = table
        self.staging_table = staging_table
        self.key_cols = list(key_cols)
        self.properties = {"user": user, "password": password, "driver": driver}

    @classmethod
    def embedded_derby(
        cls,
        db_dir: str,
        table: str = "city_metrics",
        key_cols: tuple[str, ...] = ("city", "window_start"),
    ) -> "JdbcUpsertSink":
        """Sink against an embedded Derby database at ``db_dir`` —
        fully executable with nothing but pyspark's bundled jars."""
        return cls(
            url=f"jdbc:derby:{db_dir};create=true",
            table=table,
            staging_table=f"{table}_staging",
            key_cols=key_cols,
            user="",
            password="",
            driver="org.apache.derby.iapi.jdbc.AutoloadedDriver",
        )

    def merge_sql_ansi(self, value_cols: tuple[str, ...]) -> str:
        """The overwrite-per-key MERGE in ANSI/Derby form.

        Two dialect constraints, both verified against embedded Derby:
        SET targets are unqualified (the target table is implied by
        MERGE INTO; Derby rejects a ``t.`` prefix there), and column
        identifiers are double-quoted — Spark's JDBC writer creates
        the staging columns quoted (case-sensitive lower-case), so an
        unquoted reference would fold to upper-case and miss."""
        q = '"{}"'.format
        cols = self.key_cols + list(value_cols)
        on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in self.key_cols)
        updates = ", ".join(f"{q(c)} = s.{q(c)}" for c in value_cols)
        inserts = ", ".join(f"s.{q(c)}" for c in cols)
        return (
            f"MERGE INTO {self.table} t\n"
            f"USING {self.staging_table} s\n"
            f"ON {on}\n"
            f"WHEN MATCHED THEN UPDATE SET {updates}\n"
            f"WHEN NOT MATCHED THEN INSERT ({', '.join(q(c) for c in cols)}) "
            f"VALUES ({inserts})"
        )

    # -- JVM-side statement execution ------------------------------------
    def _execute(self, spark: SparkSession, *statements: str) -> None:
        jvm = spark._jvm  # noqa: SLF001 — py4j gateway to the driver JVM
        conn = jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            stmt = conn.createStatement()
            try:
                for sql in statements:
                    stmt.execute(sql)
            finally:
                stmt.close()
        finally:
            conn.close()

    def _ensure_target(self, spark: SparkSession) -> None:
        """CREATE TABLE .. AS staging WITH NO DATA, first batch only."""
        jvm = spark._jvm  # noqa: SLF001
        conn = jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            rs = conn.getMetaData().getTables(
                None, None, self.table.upper(), None
            )
            exists = rs.next()
            rs.close()
        finally:
            conn.close()
        if not exists:
            self._execute(
                spark,
                f"CREATE TABLE {self.table} AS "
                f"SELECT * FROM {self.staging_table} WITH NO DATA",
            )

    def write_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Stage via DataFrameWriter.jdbc, then MERGE (embedded Derby
        or any MERGE-capable database on the classpath)."""
        writer = batch_df.write
        # Spark's DerbyDialect maps StringType to CLOB, which Derby
        # cannot compare with `=` — pin strings to VARCHAR so they can
        # serve as MERGE keys.
        str_cols = [f.name for f in batch_df.schema.fields if f.dataType.typeName() == "string"]
        if str_cols:
            writer = writer.option(
                "createTableColumnTypes",
                ", ".join(f"{c} VARCHAR(1024)" for c in str_cols),
            )
        writer.jdbc(
            self.url, self.staging_table, mode="overwrite", properties=self.properties
        )
        spark = batch_df.sparkSession
        value_cols = tuple(c for c in batch_df.columns if c not in self.key_cols)
        self._ensure_target(spark)
        with_retries(
            lambda: self._execute(spark, self.merge_sql_ansi(value_cols)),
            retries=2,
            delay_s=0.1,
        )

    def read(self, spark: SparkSession) -> DataFrame:
        """The merged target table, via the same JDBC surface."""
        return spark.read.jdbc(self.url, self.table, properties=self.properties)
