"""Streaming (S4 micro-batch source + S12 exactly-once sink; SURVEY.md §2.1).

Source — incremental micro-batches over the snapshot log, the semantics of
SparkMicroBatchStream.java:75-132 / MicroBatches.java:37-53: an offset is a
snapshot id; each batch is the appends in ``(from, to]`` (S3 incremental
scan).  ``skip_delete_snapshots`` skips non-append snapshots.  Offsets are
checkpointed to a JSON file, so a restarted stream resumes.

Sink — exactly-once by epoch id (StreamingWriter.java:40-67,
SparkWrite.java:398-411): every commit records ``streaming.epoch-id`` in
the snapshot summary; re-committing an epoch ≤ the last committed one for
the same query id is a no-op.  Combine with ``foreachBatch``:

    def write_batch(batch_df, epoch_id):
        streaming.append_exactly_once(table, batch_df, epoch_id, query_id="q1")
    df.writeStream.foreachBatch(write_batch).start()
"""

from __future__ import annotations

import json
import os
from typing import Iterator, Optional

from incubator_iceberg_spark import metadata as MD
from incubator_iceberg_spark import snapshots as SN
from incubator_iceberg_spark.scan import TableScan, read_entries

EPOCH_KEY = "streaming.epoch-id"
QUERY_KEY = "streaming.query-id"


# ---------------------------------------------------------------------------
# source
# ---------------------------------------------------------------------------

class MicroBatchReader:
    """Pull-based micro-batch reader over a table's snapshot log."""

    def __init__(self, table, spark=None, checkpoint_dir: Optional[str] = None,
                 from_snapshot_id: Optional[int] = None,
                 skip_delete_snapshots: bool = True,
                 skip_overwrite_snapshots: bool = True):
        self.table = table
        self.spark = spark or table.spark
        self.checkpoint_dir = checkpoint_dir
        self.skip_delete = skip_delete_snapshots
        self.skip_overwrite = skip_overwrite_snapshots
        # last consumed position: (snapshot id, files consumed within it);
        # file_index=-1 means the snapshot is fully consumed (the reference
        # offset is likewise (snapshotId, fileIndex) — MicroBatches.java:37)
        self.offset = (from_snapshot_id, -1)
        if checkpoint_dir:
            os.makedirs(checkpoint_dir, exist_ok=True)
            loaded = self._load_offset()
            if loaded is not None:
                self.offset = loaded

    def _offset_path(self) -> str:
        return os.path.join(self.checkpoint_dir, "offset.json")

    def _load_offset(self):
        try:
            with open(self._offset_path()) as f:
                d = json.load(f)
            if d.get("snapshot_id") is None:
                return None
            # pre-file-offset checkpoints carry no file_index: fully consumed
            return (d["snapshot_id"], d.get("file_index", -1))
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _save_offset(self) -> None:
        if not self.checkpoint_dir:
            return
        tmp = self._offset_path() + ".tmp"
        sid, idx = self.offset
        with open(tmp, "w") as f:
            json.dump({"snapshot_id": sid, "file_index": idx}, f)
        os.replace(tmp, self._offset_path())

    def _pending_snapshots(self) -> list:
        """Snapshots with unconsumed rows, oldest first.  A partially
        consumed snapshot (offset file_index >= 0) is itself pending."""
        md = self.table.refresh().metadata
        sid, idx = self.offset
        chain = []
        cur = md.current_snapshot()
        while cur is not None and cur.snapshot_id != sid:
            chain.append(cur)
            cur = md.snapshot_by_id(cur.parent_id) if cur.parent_id is not None else None
        if sid is not None and cur is None:
            # the checkpointed snapshot was expired out of the chain:
            # silently treating the walk-to-root as "from the beginning"
            # would mis-slice the OLDEST snapshot by file_index (data
            # loss) or replay a partially-consumed snapshot (duplicates)
            raise ValueError(
                f"checkpointed offset snapshot {sid} is no longer in the "
                f"table's snapshot chain (expired?); delete the checkpoint "
                f"to restart from the current state, or retain streaming "
                f"source snapshots longer than the consumer lag")
        if cur is not None and idx >= 0:
            chain.append(cur)  # mid-snapshot: its tail files are pending
        chain.reverse()  # oldest first
        out = []
        for s in chain:
            if s.operation == "append":
                out.append(s)
            elif s.operation == "delete" and self.skip_delete:
                continue
            elif s.operation in ("overwrite", "replace") and self.skip_overwrite:
                continue
            else:
                raise ValueError(
                    f"cannot stream through {s.operation} snapshot {s.snapshot_id}; "
                    f"enable skip_delete_snapshots/skip_overwrite_snapshots")
        return out

    def _added_data_entries(self, snap) -> list:
        """One snapshot's ADDED data entries in deterministic (file_path)
        order — the positional basis for file-level offsets."""
        scan = TableScan(self.table, self.spark).appends_between(
            snap.parent_id, snap.snapshot_id)
        data, _dels = scan._plan_split()
        return sorted(data, key=lambda e: e["file_path"])

    def next_batch(self, max_snapshots_per_batch: Optional[int] = None,
                   max_files_per_batch: Optional[int] = None):
        """Return (DataFrame, new_offset) or None when caught up.  The
        DataFrame contains rows appended in the consumed range.  The
        offset is ALWAYS a (snapshot_id, file_index) tuple — file_index
        -1 means the snapshot is fully consumed — so callers persisting
        or comparing offsets handle one type (it was a bare snapshot id
        on the fully-consumed path before round 7).

        ``max_files_per_batch`` bounds batch size at FILE granularity:
        one huge append snapshot (10^5 files on a 100 TB table) is split
        across micro-batches instead of becoming one unboundedly large
        batch; the offset advances to (snapshot_id, file_index) mid-
        snapshot, exactly the reference's rate-limited offset
        (SparkMicroBatchStream.java:75-132, MicroBatches.java:37-53)."""
        if max_files_per_batch is not None and max_files_per_batch < 1:
            # 0/negative would take nothing and then mark every pending
            # snapshot consumed — checkpointed silent data loss from a typo
            raise ValueError(
                f"max_files_per_batch must be >= 1, got {max_files_per_batch}")
        pending = self._pending_snapshots()
        if not pending:
            return None
        if max_snapshots_per_batch:
            pending = pending[:max_snapshots_per_batch]
        if max_files_per_batch is None:
            to_incl = pending[-1].snapshot_id
            from_sid, from_idx = self.offset
            if from_idx >= 0:
                # resume mid-snapshot: tail of the offset snapshot + rest
                entries = self._added_data_entries(pending[0])[from_idx:]
                for s in pending[1:]:
                    entries.extend(self._added_data_entries(s))
                df = read_entries(self.spark, self.table.metadata, entries,
                                  [], self.table.metadata.schema())
            else:
                # appends_between(None, x) walks to the root = "beginning"
                df = (TableScan(self.table, self.spark)
                      .appends_between(from_sid, to_incl).to_df())
            self.offset = (to_incl, -1)
            self._save_offset()
            return df, self.offset

        budget = max_files_per_batch
        batch_entries: list = []
        from_sid, from_idx = self.offset
        new_offset = self.offset
        for s in pending:
            if budget <= 0:
                break
            entries = self._added_data_entries(s)
            start = from_idx if (from_idx >= 0 and s.snapshot_id == from_sid) else 0
            take = entries[start:start + budget]
            batch_entries.extend(take)
            budget -= len(take)
            consumed = start + len(take)
            new_offset = ((s.snapshot_id, -1) if consumed >= len(entries)
                          else (s.snapshot_id, consumed))
        if not batch_entries:
            # pending snapshots exist but add no data files (e.g. empty
            # appends): mark them consumed rather than spinning
            new_offset = (pending[-1].snapshot_id, -1)
        df = read_entries(self.spark, self.table.metadata, batch_entries,
                          [], self.table.metadata.schema())
        self.offset = new_offset
        self._save_offset()
        return df, new_offset

    def batches(self, max_batches: Optional[int] = None,
                max_snapshots_per_batch: Optional[int] = 1,
                max_files_per_batch: Optional[int] = None) -> Iterator:
        n = 0
        while max_batches is None or n < max_batches:
            out = self.next_batch(max_snapshots_per_batch, max_files_per_batch)
            if out is None:
                return
            yield out
            n += 1


class ChangelogMicroBatchReader:
    """Micro-batch CHANGELOG source — stream row-level changes instead
    of appended rows (the later-Iceberg changelog/CDC read surface;
    same family as the `changes` metadata table this engine's batch
    changelog implements).  Each batch is `changelog(from, to]` —
    insert/delete rows, or the four CDC types with
    ``update_images=True`` (changelog_with_updates pairing on
    identifier columns) — so downstream consumers (matview IVM, audit
    sinks, replication into the upsert-MoR sink of another table) see
    EVERY kind of commit: MoR/CoW deletes and updates included, which
    the append source must skip or reject.

    Offsets are per-SNAPSHOT (a diff has no stable file granularity);
    checkpoint/resume and the expired-offset guard mirror
    MicroBatchReader.  Batch cost scales with the range's CHANGED rows
    only — the changelog reads touched files, never the whole table."""

    def __init__(self, table, spark=None, checkpoint_dir: Optional[str] = None,
                 from_snapshot_id: Optional[int] = None,
                 update_images: bool = False, identifier_cols=None,
                 net_changes: bool = False):
        if update_images and net_changes:
            raise ValueError(
                "net_changes cannot be combined with update images")
        self.table = table
        self.spark = spark or table.spark
        self.checkpoint_dir = checkpoint_dir
        self.update_images = update_images
        self.identifier_cols = identifier_cols
        self.net_changes = net_changes
        self.offset = from_snapshot_id  # last consumed snapshot id
        if checkpoint_dir:
            os.makedirs(checkpoint_dir, exist_ok=True)
            try:
                with open(os.path.join(checkpoint_dir,
                                       "changelog-offset.json")) as f:
                    d = json.load(f)
                if d.get("snapshot_id") is not None:
                    self.offset = d["snapshot_id"]
            except (FileNotFoundError, json.JSONDecodeError):
                pass

    def _save_offset(self) -> None:
        if not self.checkpoint_dir:
            return
        path = os.path.join(self.checkpoint_dir, "changelog-offset.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"snapshot_id": self.offset}, f)
        os.replace(tmp, path)

    def _pending_snapshots(self) -> list:
        """Snapshots after the offset, oldest first (ALL operations —
        the changelog itself decides what each contributes)."""
        md = self.table.refresh().metadata
        chain = []
        cur = md.current_snapshot()
        while cur is not None and cur.snapshot_id != self.offset:
            chain.append(cur)
            cur = (md.snapshot_by_id(cur.parent_id)
                   if cur.parent_id is not None else None)
        if self.offset is not None and cur is None:
            raise ValueError(
                f"checkpointed changelog offset snapshot {self.offset} is "
                f"no longer in the table's snapshot chain (expired?); "
                f"delete the checkpoint to restart, or retain snapshots "
                f"longer than the consumer lag")
        chain.reverse()
        return chain

    def next_batch(self, max_snapshots_per_batch: Optional[int] = None):
        """(changelog DataFrame, new_offset) or None when caught up."""
        from incubator_iceberg_spark import changelog as CL

        pending = self._pending_snapshots()
        if not pending:
            return None
        if max_snapshots_per_batch:
            pending = pending[:max_snapshots_per_batch]
        to_incl = pending[-1].snapshot_id
        if self.update_images:
            df = CL.changelog_with_updates(
                self.table, spark=self.spark,
                identifier_cols=self.identifier_cols,
                from_snapshot_id=self.offset, to_snapshot_id=to_incl)
        else:
            df = CL.changelog(self.table, spark=self.spark,
                              from_snapshot_id=self.offset,
                              to_snapshot_id=to_incl,
                              net_changes=self.net_changes)
        self.offset = to_incl
        self._save_offset()
        return df, to_incl

    def batches(self, max_batches: Optional[int] = None,
                max_snapshots_per_batch: Optional[int] = 1) -> Iterator:
        n = 0
        while max_batches is None or n < max_batches:
            out = self.next_batch(max_snapshots_per_batch)
            if out is None:
                return
            yield out
            n += 1


# ---------------------------------------------------------------------------
# sink
# ---------------------------------------------------------------------------

#: table property carrying the max committed epoch per sink query —
#: snapshot summaries alone break exactly-once once expire_snapshots
#: removes the snapshots carrying the markers: a late foreachBatch
#: replay of an old epoch would pass the scan and commit AGAIN
# defined in snapshots.py so the commit-side monotone guard
# (_apply_extra_properties) and the sinks can never drift apart
EPOCH_PROP_PREFIX = SN.EPOCH_PROP_PREFIX


def last_committed_epoch(table, query_id: str = "default") -> Optional[int]:
    """max(persisted property, retained-snapshot scan) — the property
    survives snapshot expiry, the scan covers the crash window between a
    sink commit and its property bump."""
    best = None
    p = table.metadata.properties.get(EPOCH_PROP_PREFIX + query_id)
    if p is not None:
        best = int(p)
    for s in reversed(table.metadata.snapshots):
        if s.summary.get(QUERY_KEY) == query_id and EPOCH_KEY in s.summary:
            sn = int(s.summary[EPOCH_KEY])
            return sn if best is None else max(best, sn)
    return best


def _epoch_marker_props(query_id: str, epoch_id: int) -> dict:
    """Epoch-marker property folded into the SAME commit as the data
    (extra_properties): one pointer swap per epoch instead of two, and
    the marker is atomic with its snapshot — no crash window at all on
    this path.  _record_epoch_property stays as a zero-cost backstop
    (it only commits when the folded property is somehow behind)."""
    return {EPOCH_PROP_PREFIX + query_id: str(int(epoch_id))}


def _record_epoch_property(table, query_id: str, epoch_id: int) -> None:
    """Bump the per-query max-committed-epoch property (monotone).  Runs
    AFTER the data commit: a crash in between leaves the snapshot marker
    in place until the next bump, so the max() in last_committed_epoch
    stays correct."""
    key = EPOCH_PROP_PREFIX + query_id
    cur = table.metadata.properties.get(key)
    if cur is None or int(cur) < int(epoch_id):
        table.update_properties({key: str(int(epoch_id))})


#: table property: run auto_maintain after every Nth committed epoch
#: (0/absent = off).  Closes the debt-accrual loop the upsert-MoR sink
#: creates (one eq-delete file per epoch) without an external scheduler
#: — the MaintenanceAdvisory consumer the scan side recommends.
AUTO_MAINTAIN_EVERY = "maintenance.auto.every-epochs"


def _maybe_auto_maintain(table, epoch_id: int, spark):
    """Post-epoch maintenance hook shared by the exactly-once sinks.
    Runs AFTER the epoch's commit + marker are durable, so a maintenance
    failure can never lose the epoch (the replay guard already skips
    it).  The decide step is O(metadata) — one manifest-list read — so
    off-cadence epochs pay nothing beyond a property lookup."""
    n = table.metadata.properties.get(AUTO_MAINTAIN_EVERY)
    if not n:
        return None
    try:
        n = int(float(n))
    except (TypeError, ValueError):
        raise ValueError(
            f"invalid table property {AUTO_MAINTAIN_EVERY}={n!r}: "
            "expected a number") from None
    if n <= 0 or int(epoch_id) % n != 0:
        return None
    from incubator_iceberg_spark import maintenance as MT
    return MT.auto_maintain(table, spark=spark)


def append_exactly_once(table, batch_df, epoch_id: int, query_id: str = "default",
                        spark=None) -> bool:
    """S12: append a micro-batch exactly once.  Returns False (no-op) when
    the epoch was already committed — the foreachBatch retry path
    (StreamingWriter.java:62-67 skip logic)."""
    table.refresh()
    last = last_committed_epoch(table, query_id)
    if last is not None and int(epoch_id) <= last:
        return False
    table.append(batch_df, spark=spark,
                 extra_summary={EPOCH_KEY: str(int(epoch_id)), QUERY_KEY: query_id},
                 extra_properties=_epoch_marker_props(query_id, epoch_id))
    _record_epoch_property(table, query_id, epoch_id)
    _maybe_auto_maintain(table, epoch_id, spark or batch_df.sparkSession)
    return True


def foreach_batch_writer(table, query_id: str = "default"):
    """Adapter for Structured Streaming's ``writeStream.foreachBatch``."""

    def write(batch_df, epoch_id):
        append_exactly_once(table, batch_df, epoch_id, query_id=query_id,
                            spark=batch_df.sparkSession)

    return write


def upsert_exactly_once(table, batch_df, epoch_id: int, on=None,
                        query_id: str = "default", spark=None) -> bool:
    """CDC-apply sink: MERGE the micro-batch into the table (update
    matched on the key columns / identifier fields, insert the rest),
    skipping already-committed epochs on foreachBatch retry.  The MERGE
    commit carries the epoch marker, so replay detection covers the
    rewrite commit itself."""
    table.refresh()
    last = last_committed_epoch(table, query_id)
    if last is not None and int(epoch_id) <= last:
        return False
    from incubator_iceberg_spark.row_ops import WhenMatched, WhenNotMatched
    if on is None:
        schema = table.metadata.schema()
        on = [schema.field_path(i) for i in schema.identifier_field_ids]
        if not on:
            raise ValueError("no identifier fields on table; pass on=[...]")
    from incubator_iceberg_spark import row_ops
    # dedup within the batch (last-wins is arbitrary for same-key rows in
    # one epoch; callers needing order pass a pre-deduped frame).
    # Persisted: merge_into consumes the source twice (pass-1 probe +
    # pass-2 rewrite) — caching saves recomputing the dedup shuffle.
    batch_df = batch_df.dropDuplicates(on).persist()
    try:
        row_ops.merge_into(
            table, batch_df, on=on,
            when_matched=[WhenMatched.update_all()],
            when_not_matched=[WhenNotMatched.insert_all()],
            spark=spark or batch_df.sparkSession,
            extra_summary={EPOCH_KEY: str(int(epoch_id)),
                           QUERY_KEY: query_id},
            extra_properties=_epoch_marker_props(query_id, epoch_id))
    finally:
        batch_df.unpersist()
    _record_epoch_property(table, query_id, epoch_id)
    _maybe_auto_maintain(table, epoch_id, spark or batch_df.sparkSession)
    return True


def foreach_batch_upserter(table, on=None, query_id: str = "default"):
    """Adapter: ``writeStream.foreachBatch(foreach_batch_upserter(t, on))``."""

    def write(batch_df, epoch_id):
        upsert_exactly_once(table, batch_df, epoch_id, on=on,
                            query_id=query_id, spark=batch_df.sparkSession)

    return write


def cdc_apply_exactly_once(table, batch_df, epoch_id: int, on=None,
                           op_col: str = "op", order_col=None,
                           query_id: str = "default", spark=None) -> bool:
    """Full CDC-apply sink: one micro-batch may mix inserts, updates and
    DELETES.  Rows whose ``op_col`` is 'D'/'d'/'delete' remove the
    matched target row; every other op upserts.  With ``order_col``,
    same-key rows within a batch resolve LAST-change-wins (highest
    order value) — a delete followed by a re-insert in one batch lands
    as the re-insert.  The single MERGE commit carries the epoch marker,
    so foreachBatch replays are no-ops — epoch semantics per
    spark2/.../StreamingWriter.java:40-67, applied over a MERGE commit
    instead of an append."""
    table.refresh()
    last = last_committed_epoch(table, query_id)
    if last is not None and int(epoch_id) <= last:
        return False
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from incubator_iceberg_spark import row_ops
    from incubator_iceberg_spark.row_ops import WhenMatched, WhenNotMatched
    if on is None:
        schema = table.metadata.schema()
        on = [schema.field_path(i) for i in schema.identifier_field_ids]
        if not on:
            raise ValueError("no identifier fields on table; pass on=[...]")
    if order_col is not None:
        w = Window.partitionBy(*[F.col(k) for k in on]) \
                  .orderBy(F.col(order_col).desc())
        batch_df = (batch_df.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1).drop("__rn"))
    else:
        batch_df = batch_df.dropDuplicates(list(on))
    is_del = f"s.{op_col} IN ('D', 'd', 'delete')"
    batch_df = batch_df.persist()  # consumed twice inside merge_into
    try:
        row_ops.merge_into(
            table, batch_df, on=on,
            when_matched=[WhenMatched(condition=is_del, delete=True),
                          WhenMatched.update_all()],
            when_not_matched=[WhenNotMatched.insert_all(
                condition=f"NOT ({is_del})")],
            spark=spark or batch_df.sparkSession,
            extra_summary={EPOCH_KEY: str(int(epoch_id)),
                           QUERY_KEY: query_id},
            extra_properties=_epoch_marker_props(query_id, epoch_id))
    finally:
        batch_df.unpersist()
    _record_epoch_property(table, query_id, epoch_id)
    _maybe_auto_maintain(table, epoch_id, spark or batch_df.sparkSession)
    return True


def foreach_batch_cdc_applier(table, on=None, op_col: str = "op",
                              order_col=None, query_id: str = "default"):
    """Adapter: ``writeStream.foreachBatch(foreach_batch_cdc_applier(t))``."""

    def write(batch_df, epoch_id):
        cdc_apply_exactly_once(table, batch_df, epoch_id, on=on,
                               op_col=op_col, order_col=order_col,
                               query_id=query_id,
                               spark=batch_df.sparkSession)

    return write


def upsert_mor_exactly_once(table, batch_df, epoch_id: int, on=None,
                            op_col: Optional[str] = None, order_col=None,
                            query_id: str = "default", spark=None) -> bool:
    """Merge-on-read upsert sink — the reference's Flink upsert-
    materialize shape (flink/.../sink equality-delete mode; RowDelta
    api/.../RowDelta.java): ONE commit per epoch carrying (a) an
    equality-delete file keyed on ``on`` that covers EVERY key in the
    batch — killing any pre-existing row with that key — plus (b) data
    files for the batch's surviving rows.

    Why this is the 100 TB CDC-ingest shape: the target table is NEVER
    read.  ``upsert_exactly_once`` / ``cdc_apply_exactly_once`` MERGE
    each batch — a join against the target plus a rewrite of every
    matched file, so per-epoch work grows with table size and hot keys
    rewrite the same files every epoch.  Here per-epoch work is
    O(batch): stage the batch's data files, write one key file, commit.
    The read side pays for it as equality-delete debt, which
    ``convert_equality_deletes`` folds into position deletes / deletion
    vectors and ``rewrite_data_files`` retires — the write/maintain
    split the reference's streaming ingest is designed around.

    Correctness hinges on sequence scoping: the commit's data files and
    its eq-delete file share one sequence number, and equality deletes
    apply only to STRICTLY older sequences (scope_deletes_for_file), so
    the batch's own rows survive their own delete — no read required to
    distinguish insert from update.

    ``op_col`` marks CDC deletes ('D'/'d'/'delete'): their keys join the
    equality-delete file but contribute no data row.  ``order_col``
    resolves same-key rows within a batch LAST-change-wins; without it,
    same-key duplicates collapse arbitrarily (dropDuplicates).
    Returns False (no-op) for an already-committed epoch."""
    from pyspark.sql import functions as F

    from incubator_iceberg_spark import deletes as DEL
    from incubator_iceberg_spark import manifests as MF
    from incubator_iceberg_spark import schema as S

    schema0 = table.metadata.schema()  # schema the batch was built for
    table.refresh()
    last = last_committed_epoch(table, query_id)
    if last is not None and int(epoch_id) <= last:
        return False
    spark = spark or batch_df.sparkSession
    md = table.metadata
    schema = md.schema()

    def _remap(name: str) -> str:
        # a concurrent rename may land between the caller building the
        # batch and this refresh: resolve stale names by FIELD-ID through
        # the caller-visible schema (the merge-schema append's remap)
        if schema.find_field(name) is not None:
            return name
        f0 = schema0.find_field(name)
        fn = schema.find_field(f0.field_id) if f0 is not None else None
        return fn.name if fn is not None else name

    transport = {c for c in (op_col, order_col) if c is not None}
    for c in batch_df.columns:
        if c not in transport and _remap(c) != c:
            batch_df = batch_df.withColumnRenamed(c, _remap(c))
    if on is None:
        on = [schema.field_path(i) for i in schema.identifier_field_ids]
        if not on:
            raise ValueError("no identifier fields on table; pass on=[...]")
    else:
        on = [_remap(c) for c in on]
    key_fields = []
    for c in on:
        f = schema.find_field(c)
        if f is None:
            raise ValueError(f"upsert key column not in schema: {c}")
        key_fields.append(f)

    if order_col is not None:
        from pyspark.sql.window import Window
        w = Window.partitionBy(*[F.col(k) for k in on]) \
                  .orderBy(F.col(order_col).desc())
        batch_df = (batch_df.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1).drop("__rn", order_col))
    else:
        batch_df = batch_df.dropDuplicates(list(on))
    # Without op_col the staged rows' keys ARE the batch's keys, so the
    # eq-delete file is derived from the staged files themselves
    # (deletes.eq_keys_from_staged) and the batch has exactly ONE
    # consumer — no persist, no second job per epoch.  With op_col the
    # delete rows' keys exist only in the batch, so it stays cached for
    # the key pass.  (Avro-format tables keep the batch path too: the
    # staged files aren't parquet.)
    from incubator_iceberg_spark import write as W
    single_consumer = (op_col is None
                       and W.table_format(md) == "parquet")
    if not single_consumer:
        batch_df = batch_df.persist()
    try:
        if op_col is not None:
            is_del = F.lower(F.col(op_col)).isin("d", "delete")
            upserts = batch_df.filter(~is_del).drop(op_col)
        else:
            upserts = batch_df

        entries = table._stage(upserts, spark=spark)

        # the eq-delete file is only needed when older rows can exist;
        # an empty table (first epochs of a backfill) skips the debt.
        # A snapshot whose summary lacks the count conservatively counts
        # as having data — skipping the delete file wrongly loses the
        # upsert semantics, writing it needlessly only costs bytes.
        snap = md.current_snapshot()
        tot = snap.summary.get("total-data-files") if snap else None
        has_prior = snap is not None and (tot is None or int(tot) > 0)
        if has_prior:
            del_schema = S.Schema(key_fields)
            if single_consumer and entries:
                # keys come from the staged files (driver-side pyarrow
                # when small): zero additional Spark jobs per epoch
                eq_entries = DEL.eq_keys_from_staged(
                    spark, md.location, entries, del_schema)
            elif single_consumer:
                eq_entries = []  # empty batch stages nothing → no keys
            else:
                key_df = batch_df.select(*on)
                # one sorted key file per ~2M keys: every affected read
                # opens each eq-delete file, so consolidate (vs data-
                # partitioned output) and sort for tight per-file key
                # bounds — eq-bounds pruning (scope_deletes_for_file)
                # then skips clean files.  The key count is ESTIMATED
                # from the already-staged entries (the batch is key-
                # deduped, so staged data rows == upsert keys) instead
                # of a dedicated count() job per epoch; op_col delete
                # keys are uncounted — they only skew the file-size
                # heuristic; an all-deletes batch falls back to one
                # count.
                n_keys = sum(e.get("record_count") or 0 for e in entries)
                if n_keys == 0:
                    n_keys = key_df.count()
                # the common small-epoch path (n_out == 1) skips the
                # range partitioner's sampling pass and shuffle
                eq_entries = DEL._write_delete_parquet(
                    spark, md.location, key_df, del_schema,
                    MF.EQUALITY_DELETES,
                    n_out=max(1, -(-n_keys // DEL.EQ_KEYS_PER_FILE)))
            entries = entries + eq_entries
        if not entries:
            return False
        table.metadata = SN.append_files(
            table.ops, entries, operation="overwrite",
            extra_summary={EPOCH_KEY: str(int(epoch_id)),
                           QUERY_KEY: query_id},
            extra_properties=_epoch_marker_props(query_id, epoch_id))
        _record_epoch_property(table, query_id, epoch_id)
        _maybe_auto_maintain(table, epoch_id, spark)
        return True
    finally:
        if not single_consumer:
            batch_df.unpersist()


def foreach_batch_mor_upserter(table, on=None, op_col: Optional[str] = None,
                               order_col=None, query_id: str = "default"):
    """Adapter: ``writeStream.foreachBatch(foreach_batch_mor_upserter(t))``."""

    def write(batch_df, epoch_id):
        upsert_mor_exactly_once(table, batch_df, epoch_id, on=on,
                                op_col=op_col, order_col=order_col,
                                query_id=query_id,
                                spark=batch_df.sparkSession)

    return write
