"""Snapshot producers: the ACID commit operators (SURVEY.md §2.6).

C1 AppendFiles (core/.../FastAppend.java), C2 DeleteFiles, C3 OverwriteFiles
(core/.../BaseOverwriteFiles.java:50-131), C4 ReplacePartitions, C5
RewriteFiles — all funneling through the optimistic-retry commit loop in
metadata.run_with_retries (SnapshotProducer.java:270-300 analog).

Manifest handling:
- fast append: new manifest for added entries; prior manifests carried
  forward untouched (their entries keep original snapshot_id/status, which
  preserves incremental append scans, S3).
- overwrite/delete/replace: prior manifests are rewritten without the
  removed entries (surviving rows downgraded to EXISTING); removal is
  physical, driver-side pyarrow (manifests are small; a Spark-job rewrite
  path exists for huge manifests via maintenance.rewrite_manifests).
- manifest merge: when live manifest count ≥ commit.manifest.min-count-to-merge
  (default 100, TableProperties.java:51-55), merge per-spec into one.
"""

from __future__ import annotations

import os
from typing import Callable, Iterable, Optional

import pyarrow as pa
import pyarrow.parquet as pq

from incubator_iceberg_spark import manifests as M
from incubator_iceberg_spark import metadata as MD
from incubator_iceberg_spark.metadata import (
    Snapshot,
    TableMetadata,
    TableOperations,
    ValidationException,
    new_snapshot_id,
    now_ms,
)


def _manifest_rows(md: TableMetadata) -> list:
    snap = md.current_snapshot()
    if snap is None:
        return []
    tbl = M.read_manifest_list_arrow(snap.manifest_list)
    return tbl.to_pylist()


def _summary(base: TableMetadata, added_entries, deleted_entries) -> dict:
    """SnapshotSummary analog (core/.../SnapshotSummary.java): data and
    delete manifest entries are accounted separately — record/file totals
    track DATA content only; delete files get their own added/removed keys
    (added-delete-files, added-position-deletes, added-equality-deletes)
    and running totals.  added/removed-files-size covers all content, as in
    the reference."""
    prev = base.current_snapshot()

    def pget(key: str) -> int:
        return int((prev.summary.get(key) if prev else 0) or 0)

    def split(entries):
        data, pos, eq = [], [], []
        for e in entries:
            c = e.get("content") or M.DATA
            (data if c == M.DATA
             else pos if c == M.POSITION_DELETES else eq).append(e)
        return data, pos, eq

    def recs(entries) -> int:
        return sum(e.get("record_count") or 0 for e in entries)

    def size(entries) -> int:
        return sum(e.get("file_size_bytes") or 0 for e in entries)

    a_data, a_pos, a_eq = split(added_entries)
    d_data, d_pos, d_eq = split(deleted_entries)
    out = {
        "added-data-files": str(len(a_data)),
        "added-records": str(recs(a_data)),
        "added-files-size": str(size(added_entries)),
        "deleted-data-files": str(len(d_data)),
        "deleted-records": str(recs(d_data)),
        "removed-files-size": str(size(deleted_entries)),
        "total-data-files": str(pget("total-data-files") + len(a_data) - len(d_data)),
        "total-records": str(pget("total-records") + recs(a_data) - recs(d_data)),
        "total-delete-files": str(pget("total-delete-files")
                                  + len(a_pos) + len(a_eq) - len(d_pos) - len(d_eq)),
        "total-position-deletes": str(pget("total-position-deletes")
                                      + recs(a_pos) - recs(d_pos)),
        "total-equality-deletes": str(pget("total-equality-deletes")
                                      + recs(a_eq) - recs(d_eq)),
    }
    if a_pos or a_eq:
        out["added-delete-files"] = str(len(a_pos) + len(a_eq))
        if a_pos:
            out["added-position-deletes"] = str(recs(a_pos))
        if a_eq:
            out["added-equality-deletes"] = str(recs(a_eq))
    if d_pos or d_eq:
        out["removed-delete-files"] = str(len(d_pos) + len(d_eq))
        if d_pos:
            out["removed-position-deletes"] = str(recs(d_pos))
        if d_eq:
            out["removed-equality-deletes"] = str(recs(d_eq))
    return out


# above this entry count, manifest writing fans out as a Spark job (one
# task per ~50k-entry manifest) instead of one driver-side pyarrow write
DISTRIBUTED_MANIFEST_THRESHOLD = 20_000


def _write_added_manifests(md_dir: str, base: TableMetadata, entries: list,
                           snapshot_id: int, seq: int,
                           spec_id: Optional[int] = None) -> list:
    """Write the added-entries manifest(s); returns manifest-list rows
    (one for small commits; several, written distributedly, for huge ones)."""
    if spec_id is None:
        # staged entries carry the spec they were PHYSICALLY partitioned
        # under (stage_write stamps it); defaulting to the refreshed
        # base's current spec mis-serializes the partition tuple when a
        # spec evolution landed between staging and commit
        stamped = {e.get("spec_id") for e in entries
                   if e.get("spec_id") is not None}
        if len(stamped) == 1:
            spec_id = stamped.pop()
    spec = base.spec_by_id(spec_id) if spec_id is not None else base.spec()
    schema = base.schema()
    stamped_schemas = {e.get("schema_id") for e in entries
                       if e.get("schema_id") is not None}
    if len(stamped_schemas) == 1:
        sid = stamped_schemas.pop()
        if any(s.schema_id == sid for s in base.schemas):
            # serialize bounds under the schema the stats were collected
            # with — after a raced rename the bounds dict is keyed by the
            # write-time names
            schema = base.schema_by_id(sid)
    for e in entries:
        e.setdefault("status", M.ADDED)
        # stamp (never setdefault) the commit identity: the retry loop
        # re-applies the same entry dicts under a FRESH snapshot id and
        # sequence number, and a stale stamp left by a failed attempt makes
        # the entry invisible to everything keyed on
        # entry.snapshot_id == snapshot.snapshot_id — validateNoNewDeleteFiles
        # went blind to a retried MoR delete's files and let a concurrent
        # compaction resurrect the deleted rows (concurrent stress gate)
        e["snapshot_id"] = snapshot_id
        e["sequence_number"] = seq
        e.setdefault("content", M.DATA)
        e.setdefault("file_format", "parquet")
        e.setdefault("spec_id", spec.spec_id)
        e.setdefault("schema_id", schema.schema_id)
    if len(entries) > DISTRIBUTED_MANIFEST_THRESHOLD:
        from pyspark.sql import SparkSession
        spark = SparkSession.getActiveSession()
        if spark is not None:
            return M.write_manifests_distributed(
                spark, md_dir, entries, schema, spec, snapshot_id, seq,
                entries_per_manifest=DISTRIBUTED_MANIFEST_THRESHOLD,
                properties=base.properties)
    return [M.write_manifest(md_dir, entries, schema, spec, snapshot_id, seq,
                             properties=base.properties)]


def _rewrite_manifest_without(md_dir: str, base: TableMetadata, manifest_row: dict,
                              drop_paths: set, snapshot_id: int, seq: int):
    """Rewrite one manifest dropping ``drop_paths``.  Returns (new_row|None,
    dropped_entries).  new_row is None when all entries dropped; returns the
    original row when nothing dropped."""
    if not drop_paths:
        return manifest_row, []
    tbl = M.read_manifest_arrow(manifest_row["manifest_path"])
    # columnar pre-check: an untouched manifest passes through without
    # ever materializing its entries as Python dicts — removal commits
    # cost O(touched entries), not O(table entries)
    import pyarrow.compute as pc
    touched = pc.any(pc.is_in(
        tbl.column("file_path"),
        value_set=pa.array(list(drop_paths), type=pa.string()))).as_py()
    if not touched:
        return manifest_row, []
    entries = tbl.to_pylist()
    for e in entries:
        if isinstance(e.get("value_counts"), list):  # arrow map → list of tuples
            for k in ("value_counts", "null_counts", "nan_counts"):
                v = e.get(k)
                e[k] = dict(v) if v else None
    keep, dropped = [], []
    for e in entries:
        (dropped if e["file_path"] in drop_paths else keep).append(e)
    if not dropped:
        return manifest_row, []
    if not keep:
        return None, dropped
    spec = base.spec_by_id(manifest_row["partition_spec_id"])
    schema_id = keep[0].get("schema_id", base.current_schema_id)
    schema = base.schema_by_id(schema_id) if any(
        s.schema_id == schema_id for s in base.schemas) else base.schema()
    for e in keep:
        if e.get("status") == M.ADDED:
            e["status"] = M.EXISTING
    new_row = M.write_manifest(os.path.join(base.location, "metadata"), keep,
                               schema, spec, snapshot_id, seq,
                               properties=base.properties)
    return new_row, dropped


def _merge_small_manifests(base: TableMetadata, manifest_rows: list,
                           snapshot_id: int, seq: int) -> list:
    """C7-lite: merge per-spec when the list is long (fast-append pressure)."""
    min_count = base.property(MD.MANIFEST_MIN_MERGE_COUNT, MD.MANIFEST_MIN_MERGE_COUNT_DEFAULT)
    if len(manifest_rows) < min_count:
        return manifest_rows
    md_dir = os.path.join(base.location, "metadata")
    by_spec: dict[int, list] = {}
    for row in manifest_rows:
        by_spec.setdefault(row["partition_spec_id"], []).append(row)
    out = []
    for spec_id, rows in by_spec.items():
        spec_obj = base.spec_by_id(spec_id)
        from incubator_iceberg_spark import transforms as TR
        if len(rows) == 1 or any(isinstance(f.transform, TR.UnknownTransform)
                                 for f in spec_obj.fields):
            # unknown-transform specs pass through unmerged: rewriting
            # their manifests would re-serialize partition values under
            # the string fallback type (writes reject on such specs)
            out.extend(rows)
            continue
        entries = []
        for row in rows:
            for e in M.read_manifest_arrow(row["manifest_path"]).to_pylist():
                for k in ("value_counts", "null_counts", "nan_counts"):
                    v = e.get(k)
                    if isinstance(v, list):
                        e[k] = dict(v) if v else None
                # only PREVIOUSLY-committed entries become EXISTING —
                # the merging commit's own entries stay ADDED (reference
                # ManifestMergeManager: writer.add vs writer.existing).
                # Flipping them too made the merging snapshot's append
                # invisible to incremental scans and the streaming
                # source (status==ADDED filter), silently dropping one
                # commit's rows whenever fast-append pressure crossed
                # the merge threshold.
                if e.get("status") == M.ADDED and \
                        e.get("snapshot_id") != snapshot_id:
                    e["status"] = M.EXISTING
                entries.append(e)
        spec = base.spec_by_id(spec_id)
        schema = base.schema()
        out.append(M.write_manifest(md_dir, entries, schema, spec, snapshot_id, seq,
                                    properties=base.properties))
    return out


#: shared with streaming.py (defined HERE to avoid the import cycle):
#: property keys under this prefix get monotone-max merge semantics in
#: _apply_extra_properties — the exactly-once sinks' epoch markers
EPOCH_PROP_PREFIX = "streaming.max-committed-epoch."


def _apply_extra_properties(md_out: TableMetadata,
                            extra_properties: Optional[dict]) -> TableMetadata:
    """Fold table-property updates into the SAME metadata swap as the
    snapshot — one commit instead of two (the streaming sinks' epoch
    markers were a second pointer swap per epoch; at object-store
    latency that is one extra round trip per micro-batch).  Values under
    the streaming epoch prefix stay MONOTONE: a retry on a fresh base
    never regresses a marker a concurrent sink instance bumped higher."""
    if not extra_properties:
        return md_out
    props = dict(md_out.properties)
    for k, v in extra_properties.items():
        cur = props.get(k)
        if cur is not None and k.startswith(EPOCH_PROP_PREFIX):
            try:
                if int(cur) >= int(v):
                    continue
            except (TypeError, ValueError):
                pass
        props[k] = str(v)
    md_out.properties = props
    return md_out


def _install_snapshot(base: Optional[TableMetadata], make_manifest_rows: Callable,
                      operation: str, extra_summary: Optional[dict],
                      added_entries: list, deleted_entries: list,
                      schema_id: Optional[int] = None,
                      branch: Optional[str] = None,
                      extra_properties: Optional[dict] = None) -> TableMetadata:
    if base is None:
        raise ValidationException("table does not exist")
    # committing to a branch: plan/summarize against the BRANCH head by
    # viewing base with current set to it; the real base only gains the new
    # snapshot + moved ref (SnapshotRef branch-commit analog)
    view = base
    if branch is not None and branch != "main":
        import dataclasses
        r = base.ref(branch)
        if r is None:
            raise ValidationException(f"unknown branch: {branch}")
        if r["type"] != "branch":
            raise ValidationException(f"cannot write to tag: {branch}")
        view = dataclasses.replace(base)
        view.current_snapshot_id = r["snapshot-id"]
    snapshot_id = new_snapshot_id()
    seq = base.last_sequence_number + 1
    manifest_rows = make_manifest_rows(view, snapshot_id, seq)
    manifest_rows = _merge_small_manifests(view, manifest_rows, snapshot_id, seq)
    md_dir = os.path.join(base.location, "metadata")
    specs_by_id = {s.spec_id: s for s in base.specs}
    mlist = M.write_manifest_list(md_dir, snapshot_id, manifest_rows, specs_by_id)
    summary = _summary(view, added_entries, deleted_entries)
    if extra_summary:
        summary.update({k: str(v) for k, v in extra_summary.items()})
    snap = Snapshot(
        snapshot_id=snapshot_id,
        parent_id=view.current_snapshot_id,
        sequence_number=seq,
        timestamp_ms=now_ms(),
        operation=operation,
        summary=summary,
        manifest_list=mlist,
        schema_id=schema_id if schema_id is not None else base.current_schema_id,
    )
    stage_only = (extra_summary or {}).get("wap.id") is not None and \
        base.properties.get("write.wap.enabled", "false") == "true"
    if branch is not None and branch != "main":
        return _apply_extra_properties(
            base.with_snapshot(snap, set_current=False).with_ref(
                branch, snapshot_id, "branch"), extra_properties)
    return _apply_extra_properties(
        base.with_snapshot(snap, set_current=not stage_only),
        extra_properties)


def apply_append(base: TableMetadata, new_entries: list,
                 extra_summary: Optional[dict] = None,
                 spec_id: Optional[int] = None,
                 operation: str = "append",
                 branch: Optional[str] = None,
                 extra_properties: Optional[dict] = None) -> TableMetadata:
    """Pure append application (no commit) — composable in Transactions."""

    def make(base, snapshot_id, seq):
        rows = _manifest_rows(base)
        if new_entries:
            md_dir = os.path.join(base.location, "metadata")
            rows = rows + _write_added_manifests(md_dir, base, list(new_entries),
                                                 snapshot_id, seq, spec_id)
        return rows

    return _install_snapshot(base, make, operation, extra_summary,
                             new_entries, [], branch=branch,
                             extra_properties=extra_properties)


def append_files(ops: TableOperations, new_entries: list,
                 extra_summary: Optional[dict] = None,
                 spec_id: Optional[int] = None,
                 operation: str = "append",
                 branch: Optional[str] = None,
                 extra_properties: Optional[dict] = None) -> TableMetadata:
    """C1 fast append (FastAppend.java); with operation='delete' this is
    the RowDelta delete-file commit (C6)."""
    return MD.run_with_retries(
        ops, lambda base: apply_append(base, new_entries, extra_summary,
                                       spec_id, operation, branch=branch,
                                       extra_properties=extra_properties))


def overwrite_files(ops: TableOperations, added_entries: list, deleted_paths: set,
                    operation: str = "overwrite",
                    extra_summary: Optional[dict] = None,
                    base_snapshot_id: Optional[int] = None,
                    conflict_detection_filter=None,
                    spec_id: Optional[int] = None,
                    validate_new_deletes: bool = False,
                    required_data_files: Optional[set] = None,
                    extra_properties: Optional[dict] = None) -> TableMetadata:
    """C3 OverwriteFiles / C5 RewriteFiles / C2 DeleteFiles.

    ``base_snapshot_id`` + ``conflict_detection_filter`` implement
    validateNoConflictingAppends (MergingSnapshotProducer.java:246-249): if
    snapshots committed after the read point added files matching the
    filter, fail instead of silently dropping concurrent data.

    ``validate_new_deletes`` implements validateNoNewDeleteFiles
    (MergingSnapshotProducer.java validateNoNewDeleteFiles /
    RewriteFiles): commits that carry rows FORWARD into new files
    (compaction, CoW delete/update/merge) give those files a new, higher
    data sequence number — a delete file committed after the read point
    would silently stop applying to the carried-forward rows.  Abort and
    let the caller retry from a fresh scan instead.

    ``required_data_files`` implements validateDataFilesExist
    (BaseRowDelta.java:69-100): a RowDelta commit whose position-delete
    files reference data files must fail if any referenced file was
    rewritten/removed by a concurrent commit — otherwise the deletes
    target dead paths and the rows silently resurrect.
    """
    return MD.run_with_retries(
        ops, lambda base: apply_overwrite(
            base, added_entries, deleted_paths, operation=operation,
            extra_summary=extra_summary, base_snapshot_id=base_snapshot_id,
            conflict_detection_filter=conflict_detection_filter,
            spec_id=spec_id, validate_new_deletes=validate_new_deletes,
            required_data_files=required_data_files,
            extra_properties=extra_properties))


def apply_overwrite(base: TableMetadata, added_entries: list, deleted_paths,
                    operation: str = "overwrite",
                    extra_summary: Optional[dict] = None,
                    base_snapshot_id: Optional[int] = None,
                    conflict_detection_filter=None,
                    spec_id: Optional[int] = None,
                    validate_new_deletes: bool = False,
                    required_data_files: Optional[set] = None,
                    extra_properties: Optional[dict] = None) -> TableMetadata:
    """Pure overwrite application (no commit) — composable.  Validations
    run per retry attempt against the refreshed ``base`` (the reference
    re-validates inside SnapshotProducer's retry loop the same way)."""
    deleted_paths = set(deleted_paths)
    dropped_acc: list = []
    if base_snapshot_id is not None and base is not None:
        _validate_no_conflicting_appends(base, base_snapshot_id,
                                         conflict_detection_filter)
        if validate_new_deletes:
            # True → the dropped files are the carried-forward set; a set →
            # explicit scope (e.g. MoR UPDATE carries rows from files it
            # does NOT drop, only masks with position deletes)
            scope = (validate_new_deletes
                     if isinstance(validate_new_deletes, (set, frozenset))
                     else deleted_paths)
            _validate_no_new_delete_files(base, base_snapshot_id, scope)

    def make(base, snapshot_id, seq):
        md_dir = os.path.join(base.location, "metadata")
        rows = []
        remaining = set(deleted_paths)
        required = set(required_data_files or ()) - deleted_paths
        for row in _manifest_rows(base):
            if required:
                import pyarrow.compute as pc
                t_arrow = M.read_manifest_arrow(row["manifest_path"])
                live = t_arrow.filter(pc.not_equal(
                    pc.fill_null(t_arrow.column("status"), 0), M.DELETED))
                required.difference_update(
                    live.column("file_path").to_pylist())
            new_row, dropped = _rewrite_manifest_without(
                md_dir, base, row, remaining, snapshot_id, seq)
            dropped_acc.extend(dropped)
            for e in dropped:
                remaining.discard(e["file_path"])
            if new_row is not None:
                rows.append(new_row)
        if remaining:
            raise ValidationException(
                f"files to delete not found in table: {sorted(remaining)[:5]}")
        if required:
            raise ValidationException(
                "data files referenced by position deletes no longer live "
                f"(validateDataFilesExist): {sorted(required)[:5]}")
        if added_entries:
            rows.extend(_write_added_manifests(md_dir, base, list(added_entries),
                                               snapshot_id, seq, spec_id))
        return rows

    return _install_snapshot(base, make, operation, extra_summary,
                             added_entries, dropped_acc,
                             extra_properties=extra_properties)


def replace_partitions(ops: TableOperations, added_entries: list,
                       partition_tuples: Iterable[tuple],
                       extra_summary: Optional[dict] = None,
                       spec_id: Optional[int] = None) -> TableMetadata:
    """C4 dynamic partition overwrite (BaseReplacePartitions.java): drop
    every live file whose partition tuple ∈ written set, then append.

    ``spec_id`` is the spec the caller computed the tuples under (the
    write-time spec).  Matching is restricted to manifests of THAT spec:
    tuples are positional values, so matching them against a different
    spec's fields can collide across specs — a dynamic overwrite racing
    a spec evolution could drop an unrelated partition's files (old
    ``grp=1`` tuple (1,) == new ``bucket(id)=1`` tuple (1,))."""
    written = {tuple(t) for t in partition_tuples}
    dropped_acc: list = []

    def apply(base):
        dropped_acc.clear()

        def make(base, snapshot_id, seq):
            md_dir = os.path.join(base.location, "metadata")
            sid = spec_id if spec_id is not None else base.spec().spec_id
            spec = base.spec_by_id(sid) if any(
                s.spec_id == sid for s in base.specs) else base.spec()
            part_names = [f.name for f in spec.partition_type().fields]
            rows = []
            for row in _manifest_rows(base):
                if row.get("partition_spec_id") != spec.spec_id:
                    rows.append(row)  # other-spec manifests untouched
                    continue
                tbl = M.read_manifest_arrow(row["manifest_path"])
                drop = set()
                for e in tbl.to_pylist():
                    p = e.get("partition") or {}
                    if tuple(p.get(n) for n in part_names) in written:
                        drop.add(e["file_path"])
                new_row, dropped = _rewrite_manifest_without(
                    md_dir, base, row, drop, snapshot_id, seq)
                dropped_acc.extend(dropped)
                if new_row is not None:
                    rows.append(new_row)
            if added_entries:
                rows.extend(_write_added_manifests(md_dir, base, list(added_entries),
                                                   snapshot_id, seq))
            return rows

        return _install_snapshot(base, make, "overwrite", extra_summary,
                                 added_entries, dropped_acc)

    return MD.run_with_retries(ops, apply)


def _newer_snapshots(current: TableMetadata, base_snapshot_id: int) -> list:
    """Snapshots in the CURRENT ANCESTRY committed after
    ``base_snapshot_id`` (reference: MergingSnapshotProducer's validation
    history via SnapshotUtil.ancestorsBetween).  The walk follows parent
    pointers from the head, NOT the flat log: snapshots orphaned by a
    rollback are not concurrent commits — their files are not live in the
    rebased state — and ordering by sequence number made every row-op
    after a rollback spuriously conflict with the rolled-back-past
    snapshots (found by the lifecycle fuzz gate).  If the base snapshot is
    no longer an ancestor (history rewritten past the operation's read
    point, e.g. a concurrent rollback), raise: conflict-freedom can't be
    proven, matching the reference's "cannot determine history" error."""
    chain = []
    sid = current.current_snapshot_id
    while sid is not None:
        if sid == base_snapshot_id:
            return list(reversed(chain))
        snap = current.snapshot_by_id(sid)
        if snap is None:
            break
        chain.append(snap)
        sid = snap.parent_id
    if base_snapshot_id:
        raise ValidationException(
            f"cannot determine history between read snapshot "
            f"{base_snapshot_id} and current {current.current_snapshot_id}: "
            f"the read point is no longer in the table's ancestry")
    return list(reversed(chain))


def _added_entries_of(snap) -> Iterable[dict]:
    """Yield the normalized entries a snapshot ADDED."""
    tbl = M.read_manifest_list_arrow(snap.manifest_list)
    for row in tbl.to_pylist():
        if row.get("added_snapshot_id") != snap.snapshot_id:
            continue
        for e in M.read_manifest_arrow(row["manifest_path"]).to_pylist():
            if e.get("status") != M.ADDED or e.get("snapshot_id") != snap.snapshot_id:
                continue
            M.normalize_entry(e)
            yield e


def _validate_no_conflicting_appends(current: TableMetadata, base_snapshot_id: int,
                                     conflict_filter) -> None:
    """Scan snapshots committed after ``base_snapshot_id``; if any appended
    files that might match ``conflict_filter`` (a callable entry→bool or
    None meaning any append conflicts), raise ValidationException."""
    for snap in _newer_snapshots(current, base_snapshot_id):
        if snap.operation not in ("append", "overwrite", "replace"):
            continue
        for e in _added_entries_of(snap):
            if (e.get("content") or M.DATA) != M.DATA:
                continue  # delete files are validated separately
            if conflict_filter is None or conflict_filter(e):
                raise ValidationException(
                    f"concurrent commit {snap.snapshot_id} added conflicting "
                    f"file {e['file_path']}")


def _validate_no_new_delete_files(current: TableMetadata, base_snapshot_id: int,
                                  rewritten_paths: set) -> None:
    """validateNoNewDeleteFiles (MergingSnapshotProducer / RewriteFiles):
    a commit that carries rows forward (compaction, CoW delete/update/
    merge) gives the new files a higher data sequence number, so a delete
    file committed after the read point would silently stop applying to
    the carried rows — resurrecting them.  Conflict on any newer ADDED
    delete-file entry unless its metrics prove it cannot reference the
    rewritten files: position deletes carry ``file_path`` column bounds,
    so a delete whose path range misses every rewritten path is safe;
    equality deletes apply by value, so they always conflict."""
    for snap in _newer_snapshots(current, base_snapshot_id):
        if snap.operation not in ("delete", "overwrite", "replace"):
            continue
        for e in _added_entries_of(snap):
            content = e.get("content") or M.DATA
            if content == M.DATA:
                continue
            if content == M.POSITION_DELETES:
                lo = (e.get("lower_bounds") or {}).get("file_path")
                hi = (e.get("upper_bounds") or {}).get("file_path")
                if lo is not None and hi is not None and not any(
                        lo <= p <= hi for p in rewritten_paths):
                    continue
            raise ValidationException(
                f"concurrent commit {snap.snapshot_id} added delete file "
                f"{e['file_path']} that may reference rewritten data files "
                "(validateNoNewDeleteFiles)")
