"""Maintenance actions (SURVEY.md §2.7): expire snapshots, remove orphan
files, compaction (bin-pack rewrite), rewrite manifests — each a documented
DataFrame/metadata job, mirroring the reference's Spark actions
(spark/.../actions/Base*SparkAction.java).
"""

from __future__ import annotations

import os
import time
from typing import Optional

from incubator_iceberg_spark import manifests as MF
from incubator_iceberg_spark import metadata as MD
from incubator_iceberg_spark import snapshots as SN

# BinPackStrategy.java:47-113 defaults
MIN_INPUT_FILES_DEFAULT = 5
SPLIT_LOOKBACK = 10

# Above this many input bytes, an avro-format rewrite gets a loud
# warning: the avro data plane decodes file-at-a-time in Python
# (avro_format.py), well below JVM parquet throughput — fine for avro's
# interop role, wrong as a silent migration target for big data-plane
# rewrites.
AVRO_REWRITE_WARN_BYTES = 1 << 30


def _warn_if_large_avro_rewrite(fmt: str, total_bytes: int, op: str) -> None:
    if fmt == "avro" and total_bytes > AVRO_REWRITE_WARN_BYTES:
        import logging
        logging.getLogger(__name__).warning(
            "%s is rewriting %.1f GiB into avro (write.format.default="
            "avro): the avro read path is file-grained Python decode — "
            "throughput is far below parquet.  Pass file_format="
            "'parquet' to migrate the rewritten files, or raise "
            "maintenance.AVRO_REWRITE_WARN_BYTES to silence.",
            op, total_bytes / (1 << 30))


def _live_file_set(md, snapshot) -> set:
    out = set()
    if snapshot is None:
        return out
    for row in MF.read_manifest_list_arrow(snapshot.manifest_list).to_pylist():
        for e in MF.read_manifest_arrow(row["manifest_path"]).to_pylist():
            if e.get("status") != MF.DELETED:
                out.add(e["file_path"])
    return out


def _reachable_paths(md, snapshots, manifest_cache: Optional[dict] = None
                     ) -> tuple[set, set]:
    """(data file paths, metadata file paths) reachable from snapshots.

    ``manifest_cache`` memoizes manifest → file-path-set: a manifest is
    referenced by EVERY snapshot's manifest list from the commit that
    added it until a merge/rewrite retires it, so a long-lived table
    references each manifest from O(#snapshots) lists.  Without the
    memo a 10k-commit expire re-reads each manifest thousands of times
    — at object-store latency that is the whole expire wall.  Callers
    computing a before/after diff pass ONE cache across both walks."""
    data, meta = set(), set()
    cache = manifest_cache if manifest_cache is not None else {}
    for s in snapshots:
        if not os.path.exists(s.manifest_list):
            continue
        meta.add(s.manifest_list)
        for row in MF.read_manifest_list_arrow(s.manifest_list).to_pylist():
            path = row["manifest_path"]
            meta.add(path)
            if path not in cache:
                cache[path] = frozenset(
                    e["file_path"]
                    for e in MF.read_manifest_arrow(path).to_pylist())
            data.update(cache[path])
    return data, meta


def expire_snapshots(table, older_than_ms: Optional[int] = None,
                     retain_last: int = 1, delete_files: bool = True) -> dict:
    """C8 (core/.../RemoveSnapshots.java:63-119 + expire action): prune the
    snapshot log, then J5-style reachability diff finds unreferenced files."""
    md = table.metadata
    cutoff = older_than_ms if older_than_ms is not None else MD.now_ms()

    # ancestors of current, newest first
    chain = []
    cur = md.current_snapshot()
    while cur is not None:
        chain.append(cur)
        cur = md.snapshot_by_id(cur.parent_id) if cur.parent_id is not None else None
    keep_ids = {s.snapshot_id for s in chain[:max(retain_last, 1)]}
    for s in chain:
        if s.timestamp_ms >= cutoff:
            keep_ids.add(s.snapshot_id)
    # branch/tag refs are GC roots: a tag pins its snapshot, a branch pins
    # its ancestry chain.  Per-ref SnapshotRef retention (the reference's
    # maxRefAgeMs / minSnapshotsToKeep / maxSnapshotAgeMs): an aged-out
    # ref is DROPPED here; a branch with ancestry retention keeps only its
    # newest min-snapshots-to-keep plus young-enough ancestors.  With no
    # retention set the whole chain is kept — the conservative default
    # (the reference defaults to 1 snapshot / 5 days; a stale reader of a
    # local-FS table has no lock to protect it, so we keep everything
    # until told otherwise).
    now = MD.now_ms()
    dropped_refs = []
    for name in list(md.refs or {}):
        r = md.ref(name)
        head = md.snapshot_by_id(r["snapshot-id"])
        age_cap = r.get("max-ref-age-ms")
        if (age_cap is not None and head is not None
                and now - head.timestamp_ms > age_cap):
            dropped_refs.append(name)
            continue
        if r["type"] == "tag":
            if head is not None:
                keep_ids.add(head.snapshot_id)
            continue
        min_keep = r.get("min-snapshots-to-keep")
        snap_age_cap = r.get("max-snapshot-age-ms")
        bounded = min_keep is not None or snap_age_cap is not None
        cur, depth = head, 0
        while cur is not None:
            depth += 1
            if bounded and depth > max(min_keep or 1, 1) \
                    and (snap_age_cap is None
                         or now - cur.timestamp_ms > snap_age_cap):
                break
            keep_ids.add(cur.snapshot_id)
            cur = md.snapshot_by_id(cur.parent_id) if cur.parent_id is not None else None

    kept = [s for s in md.snapshots if s.snapshot_id in keep_ids]
    expired = [s for s in md.snapshots if s.snapshot_id not in keep_ids]
    if not expired and not dropped_refs:
        return {"expired_snapshots": 0, "deleted_data_files": 0, "deleted_metadata_files": 0}

    manifest_cache: dict = {}  # shared across both walks (see _reachable_paths)
    before_data, before_meta = _reachable_paths(md, md.snapshots,
                                                manifest_cache)
    after_data, after_meta = _reachable_paths(md, kept, manifest_cache)
    dead_data = before_data - after_data  # exceptAll over file sets (J5)
    dead_meta = before_meta - after_meta

    def apply(base):
        import dataclasses
        new = dataclasses.replace(base)
        new.snapshots = [s for s in base.snapshots if s.snapshot_id in keep_ids]
        new.snapshot_log = [h for h in base.snapshot_log if h["snapshot-id"] in keep_ids]
        if dropped_refs:
            new.refs = {k: v for k, v in base.refs.items()
                        if k not in dropped_refs}
        new.last_updated_ms = MD.now_ms()
        return new

    table.metadata = MD.run_with_retries(table.ops, apply)

    deleted = 0
    if delete_files:
        for p in list(dead_data) + list(dead_meta):
            try:
                os.unlink(p)
                deleted += 1
            except FileNotFoundError:
                pass
    return {"expired_snapshots": len(expired),
            "deleted_data_files": len(dead_data),
            "deleted_metadata_files": len(dead_meta),
            "dropped_refs": dropped_refs,
            "deleted_total": deleted}


def remove_orphan_files(table, older_than_ms: Optional[int] = None,
                        dry_run: bool = False) -> list:
    """J4 orphan detection (BaseDeleteOrphanFilesSparkAction.java:76-164):
    actual files ⟕̸ valid files, left-anti on path; default cutoff now−3d."""
    md = table.metadata
    cutoff_s = ((older_than_ms if older_than_ms is not None
                 else MD.now_ms() - 3 * 24 * 3600 * 1000) / 1000.0)
    valid_data, valid_meta = _reachable_paths(md, md.snapshots)
    valid = valid_data | valid_meta

    data_root = os.path.join(md.location, "data")
    orphans = []
    for dirpath, _dirs, names in os.walk(data_root):
        for n in names:
            p = os.path.join(dirpath, n)
            if p in valid or n.startswith(".") or n.startswith("_"):
                continue
            try:
                if os.path.getmtime(p) < cutoff_s:
                    orphans.append(p)
            except FileNotFoundError:
                pass
    if not dry_run:
        for p in orphans:
            try:
                os.unlink(p)
            except FileNotFoundError:
                pass
    return sorted(orphans)


def delete_reachable_files(table, dry_run: bool = False) -> dict:
    """DeleteReachableFiles action (api/.../actions/DeleteReachableFiles.java;
    BaseDeleteReachableFilesSparkAction analog): the GC half of DROP TABLE
    PURGE.  Deletes every file reachable from ANY snapshot of the table —
    data + delete files (including files outside the table location that
    add_files/migrate imported and the table now owns), manifests,
    manifest lists — plus all metadata.json versions and the version hint.
    Unlike a blunt directory removal this follows the metadata graph, so
    imported external files are reclaimed too."""
    md = table.metadata
    data, meta = _reachable_paths(md, md.snapshots)
    md_dir = table.ops.metadata_dir
    version_files = []
    if os.path.isdir(md_dir):
        for n in sorted(os.listdir(md_dir)):
            if (n.startswith("v") and n.endswith(".metadata.json")) or \
                    n == "version-hint.text":
                version_files.append(os.path.join(md_dir, n))
    counts = {"deleted_data_files": len(data),
              "deleted_manifest_files": len(meta),
              "deleted_metadata_files": len(version_files)}
    if dry_run:
        return counts
    for p in list(data) + list(meta) + version_files:
        try:
            os.unlink(p)
        except OSError:
            pass
    import shutil
    shutil.rmtree(table.location, ignore_errors=True)
    return counts


def bin_pack(files: list, target_size: int, min_input_files: int = MIN_INPUT_FILES_DEFAULT,
             lookback: int = SPLIT_LOOKBACK) -> list:
    """Greedy bin-packing with lookback (core/.../util/BinPacking.java):
    ``files`` is [(path, size)]; returns groups worth rewriting."""
    bins: list[list] = []  # each: [total_size, [(path,size),...]]
    for path, size in sorted(files, key=lambda x: -x[1]):
        placed = False
        for b in bins[-lookback:]:
            if b[0] + size <= target_size:
                b[0] += size
                b[1].append((path, size))
                placed = True
                break
        if not placed:
            bins.append([size, [(path, size)]])
    groups = []
    for total, members in bins:
        # rewrite when group merges several small files or is over-target
        if len(members) >= min_input_files:
            groups.append([p for p, _ in members])
    return groups


def rewrite_data_files(table, spark=None, target_file_size: Optional[int] = None,
                       min_input_files: int = MIN_INPUT_FILES_DEFAULT,
                       filter=None, file_format: Optional[str] = None) -> dict:
    """C5 compaction (BinPackStrategy.java:47-113 + RewriteDataFiles
    action): group small files to target size, rewrite each group as one
    Spark job, commit with operation='replace'.  ``file_format``
    overrides the table's write format for the rewritten files (the
    escape hatch for migrating a large avro table to parquet)."""
    from incubator_iceberg_spark import write as W
    from incubator_iceberg_spark.scan import TableScan, read_entries

    spark = spark or table.spark
    md = table.metadata
    target = target_file_size or md.property(MD.WRITE_TARGET_FILE_SIZE,
                                             MD.WRITE_TARGET_FILE_SIZE_DEFAULT)
    scan = TableScan(table, spark)
    if filter is not None:
        scan = scan.filter(filter)
    data, dels = scan._plan_split()
    if not data:
        return {"rewritten_files": 0, "added_files": 0}
    small = [(e["file_path"], e.get("file_size_bytes") or 0) for e in data
             if (e.get("file_size_bytes") or 0) < target]
    groups = bin_pack(small, target, min_input_files=min_input_files)
    if not groups:
        return {"rewritten_files": 0, "added_files": 0}

    schema = md.schema()
    entry_by_path = {e["file_path"]: e for e in data}
    out_format = file_format or W.table_format(md)
    _warn_if_large_avro_rewrite(
        out_format, sum(s for g in groups for p, s in small if p in set(g)),
        "rewrite_data_files")
    all_staged, all_deleted = [], set()
    for group in groups:
        # delete files are APPLIED during compaction (new files get higher
        # sequence numbers, so old pos/eq deletes no longer match them)
        df = read_entries(spark, md, [entry_by_path[p] for p in group], dels,
                          schema)
        total = sum(s for p, s in small if p in set(group))
        n_out = max(1, total // target + (1 if total % target else 0))
        df = df.coalesce(int(n_out))
        staged = W.stage_write(spark, md.location, df, schema, md.spec(),
                               target_file_size=target,
                               file_format=out_format,
                               properties=md.properties)
        all_staged.extend(staged)
        all_deleted.update(group)

    table.metadata = SN.overwrite_files(
        table.ops, all_staged, all_deleted, operation="replace",
        base_snapshot_id=md.current_snapshot_id,
        conflict_detection_filter=lambda e: e.get("file_path") in all_deleted,
        # compaction APPLIES delete files and re-emits survivors at a new
        # sequence number — a delete file landing after the read point
        # must abort the rewrite or its rows would resurrect
        validate_new_deletes=True)
    return {"rewritten_files": len(all_deleted), "added_files": len(all_staged),
            "groups": len(groups)}


def sort_rewrite(table, sort_by, spark=None,
                 target_file_size: Optional[int] = None, filter=None) -> dict:
    """Sort-strategy rewrite (RewriteDataFiles SortStrategy analog,
    beside bin-pack and z-order): rewrite the matching data files
    range-clustered on ``sort_by`` (``["col", "col DESC", ...]``), so
    every output file holds one tight slice of the sort key — metrics
    pruning on those columns becomes near-perfect.  Delete files are
    applied during the rewrite; one replace commit swaps the file set."""
    from pyspark.sql import functions as F

    from incubator_iceberg_spark import write as W
    from incubator_iceberg_spark.scan import TableScan, read_entries

    spark = spark or table.spark
    md = table.metadata
    schema = md.schema()
    target = target_file_size or md.property(MD.WRITE_TARGET_FILE_SIZE,
                                             MD.WRITE_TARGET_FILE_SIZE_DEFAULT)
    cols = []
    for item in ([sort_by] if isinstance(sort_by, str) else list(sort_by)):
        name, desc = item, False
        if item.lower().endswith(" desc"):
            name, desc = item[:-5].strip(), True
        if schema.find_field(name) is None:
            raise ValueError(f"sort column not in schema: {name}")
        c = F.col(name)
        cols.append(c.desc() if desc else c.asc())

    scan = TableScan(table, spark)
    if filter is not None:
        scan = scan.filter(filter)
    data, dels = scan._plan_split()
    if not data:
        return {"rewritten_files": 0, "added_files": 0}
    df = read_entries(spark, md, data, dels, schema)
    total = sum(e.get("file_size_bytes") or 0 for e in data)
    n_out = max(1, total // target + (1 if total % target else 0))
    df = df.repartitionByRange(int(n_out), *cols).sortWithinPartitions(*cols)
    _warn_if_large_avro_rewrite(W.table_format(md), total, "sort_rewrite")
    # distribution_mode none: keep the range clustering we just created
    staged = W.stage_write(spark, md.location, df, schema, md.spec(),
                           distribution_mode="none", target_file_size=target,
                           file_format=W.table_format(md),
                           properties=md.properties)
    deleted = {e["file_path"] for e in data}
    table.metadata = SN.overwrite_files(
        table.ops, staged, deleted, operation="replace",
        base_snapshot_id=md.current_snapshot_id,
        conflict_detection_filter=lambda e: e.get("file_path") in deleted,
        validate_new_deletes=True)
    return {"rewritten_files": len(deleted), "added_files": len(staged)}


def rewrite_manifests(table, spark=None) -> dict:
    """C7 (BaseRewriteManifestsSparkAction.java:80-132): cluster manifest
    entries by partition and rewrite as fresh manifests, SPLIT at
    ``commit.manifest.target-size-bytes`` (reference default 8 MB).
    Entries are partition-sorted BEFORE splitting, so each output
    manifest covers a tight, near-disjoint partition range — the
    manifest evaluator (P8) can then prune whole manifests on
    partition predicates, and manifest reads parallelize instead of
    funneling through one monolith.  At 10⁶ files one manifest per
    spec would be a ~100 MB driver read per plan; target-size chunks
    keep plan IO ∝ pruned manifests."""
    md = table.metadata
    snap = md.current_snapshot()
    if snap is None:
        return {"rewritten_manifests": 0}
    rows = MF.read_manifest_list_arrow(snap.manifest_list).to_pylist()
    if len(rows) <= 1:
        return {"rewritten_manifests": 0}

    by_spec: dict[int, list] = {}
    n_entries = 0
    for row in rows:
        entries = MF.read_manifest_arrow(row["manifest_path"]).to_pylist()
        for e in entries:
            if e.get("status") == MF.DELETED:
                continue
            for k in ("value_counts", "null_counts", "nan_counts"):
                if isinstance(e.get(k), list):
                    e[k] = dict(e[k]) if e[k] else None
            if e.get("status") == MF.ADDED:
                e["status"] = MF.EXISTING
            by_spec.setdefault(row["partition_spec_id"], []).append(e)
            n_entries += 1

    # entries per output manifest from the measured per-entry footprint
    # of the SOURCE manifests (parquet-encoded), floored defensively
    target_bytes = int(md.property("commit.manifest.target-size-bytes",
                                   8 * 1024 * 1024))
    total_len = sum(int(r.get("manifest_length") or 0) for r in rows)
    per_entry = max(64, total_len // max(1, n_entries))
    chunk_entries = max(1, target_bytes // per_entry)

    def apply(base):
        snapshot_id = MD.new_snapshot_id()
        seq = base.last_sequence_number + 1
        md_dir = os.path.join(base.location, "metadata")
        new_rows = []
        for spec_id, entries in by_spec.items():
            spec = base.spec_by_id(spec_id)
            part_names = [f.name for f in spec.partition_type().fields]
            entries.sort(key=lambda e: tuple(
                (v is None, v) for v in ((e.get("partition") or {}).get(n) for n in part_names)))
            for lo in range(0, len(entries), chunk_entries):
                new_rows.append(MF.write_manifest(
                    md_dir, entries[lo:lo + chunk_entries], base.schema(),
                    spec, snapshot_id, seq, properties=base.properties))
        specs_by_id = {s.spec_id: s for s in base.specs}
        mlist = MF.write_manifest_list(md_dir, snapshot_id, new_rows, specs_by_id)
        snap2 = MD.Snapshot(
            snapshot_id=snapshot_id, parent_id=base.current_snapshot_id,
            sequence_number=seq, timestamp_ms=MD.now_ms(), operation="replace",
            summary={"rewritten-manifests": str(len(rows)),
                     "added-manifests": str(len(new_rows))},
            manifest_list=mlist, schema_id=base.current_schema_id)
        return base.with_snapshot(snap2)

    table.metadata = MD.run_with_retries(table.ops, apply)
    added = sum(-(-len(v) // chunk_entries) for v in by_spec.values())
    return {"rewritten_manifests": len(rows), "added_manifests": added,
            "target_size_bytes": target_bytes}


def remove_dangling_deletes(table) -> dict:
    """Drop v2 delete-file entries that can no longer affect any live data
    file: an equality delete needs a live data file with a STRICTLY lower
    sequence number; a position delete needs one with seq <= its own whose
    path falls inside the delete file's file_path bounds.  After
    compaction rewrites the data (new, higher sequence numbers), deletes
    become dead weight in every scan plan — this reclaims them.
    Conservative: unknown bounds keep the delete file.

    Scale: liveness is computed COLUMNAR — manifests load as arrow
    column slices (never per-entry Python dicts) and the checks are
    numpy-vectorized: eq-deletes compare against the single global min
    data sequence number (one aggregate), pos-deletes binary-search
    their referenced-path bounds into the path-sorted data entries and
    take a vectorized range-min of sequence numbers
    (np.minimum.reduceat) — O((n_data + n_dels) log n_data) total,
    replacing the O(n_dels × n_data) driver loop that made reclaiming
    10⁴ stranded deletes over 10⁶ files intractable."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from incubator_iceberg_spark import snapshots as SN2

    md = table.metadata
    snap = md.current_snapshot()
    if snap is None:
        return {"removed_delete_files": 0}
    mlist = MF.read_manifest_list_arrow(snap.manifest_list)
    want = ["status", "content", "sequence_number", "file_path",
            "ref_lower_bound", "ref_upper_bound"]
    tabs = []
    for mp in mlist.column("manifest_path").to_pylist():
        t = MF.read_manifest_arrow(mp)
        tabs.append(t.select([c for c in want if c in t.column_names]))
    if not tabs:
        return {"removed_delete_files": 0}
    ents = pa.concat_tables(tabs, promote_options="permissive")
    if "status" in ents.column_names:
        ents = ents.filter(
            pc.not_equal(pc.fill_null(ents.column("status"), 0),
                         MF.DELETED))

    def col(name, default):
        if name in ents.column_names:
            return pc.fill_null(ents.column(name), default)
        return pa.array([default] * len(ents))

    content = col("content", 0).to_numpy(zero_copy_only=False).astype("int64")
    seq = col("sequence_number", 0).to_numpy(
        zero_copy_only=False).astype("int64")
    paths = np.asarray(ents.column("file_path").to_pylist(), dtype=object)
    is_data = content == MF.DATA
    if not (~is_data).any():
        return {"removed_delete_files": 0}
    d_content = content[~is_data]
    d_seq = seq[~is_data]
    d_paths = paths[~is_data]
    n_data = int(is_data.sum())
    dangling_mask = np.zeros(len(d_seq), dtype=bool)
    is_eq = d_content == MF.EQUALITY_DELETES
    if n_data == 0:
        dangling_mask[:] = True  # no live data: every delete is dead weight
    else:
        order = np.argsort(paths[is_data], kind="stable")
        sp = paths[is_data][order]
        ss = seq[is_data][order]
        min_seq = int(ss.min())
        # eq-deletes: alive iff SOME data file has seq strictly lower
        dangling_mask[is_eq] = ~(min_seq < d_seq[is_eq])
        # pos-deletes: alive iff some data file with seq <= d_seq has its
        # path inside [ref_lower_bound, ref_upper_bound]
        pos_idx = np.flatnonzero(~is_eq)
        if len(pos_idx):
            lo_raw = col("ref_lower_bound", "").to_numpy(
                zero_copy_only=False)[~is_data][pos_idx]
            hi_raw = col("ref_upper_bound", "").to_numpy(
                zero_copy_only=False)[~is_data][pos_idx]
            known = (lo_raw != "") & (hi_raw != "")
            # unknown bounds → assume it references SOME file: alive iff
            # any data file at all has seq <= d_seq
            unk = pos_idx[~known]
            dangling_mask[unk] = min_seq > d_seq[unk]
            kidx = pos_idx[known]
            if len(kidx):
                lo_i = np.searchsorted(sp, lo_raw[known], side="left")
                hi_i = np.searchsorted(sp, hi_raw[known], side="right")
                empty = lo_i >= hi_i
                dangling_mask[kidx[empty]] = True
                ne = ~empty
                if ne.any():
                    # range-min of data seqs per delete in one reduceat
                    # (sentinel absorbs hi == n boundary segments)
                    ss_ext = np.append(ss, np.iinfo("int64").max)
                    flat = np.column_stack(
                        [lo_i[ne], hi_i[ne]]).ravel()
                    rmin = np.minimum.reduceat(ss_ext, flat)[::2]
                    dangling_mask[kidx[ne]] = rmin > d_seq[kidx[ne]]
    dangling = d_paths[dangling_mask]
    if not len(dangling):
        return {"removed_delete_files": 0}
    table.metadata = SN2.overwrite_files(
        table.ops, [], set(dangling.tolist()), operation="delete")
    return {"removed_delete_files": int(len(dangling))}


def rewrite_position_deletes(table, spark=None, fmt: Optional[str] = None) -> dict:
    """Compact v2 position-delete files (RewritePositionDeleteFiles
    analog): drop tuples whose target data file is no longer live (or no
    longer in sequence scope), merge the survivors into one consolidated
    delete file, and swap the old delete entries out in one commit.
    Deletion-vector files (delete_vectors.py) fold in as inputs, and
    ``fmt='dv'`` (or table property write.delete.format=dv) writes the
    consolidated output AS deletion vectors — one bitmap row per data
    file, the compact steady state for heavy MoR debt.

    Safe because data-file paths are never reused: a surviving tuple's
    target is live with seq <= the original delete's seq, so carrying the
    tuple at the new (higher) sequence number applies it to exactly the
    same file."""
    from pyspark.sql import functions as F

    from incubator_iceberg_spark import delete_vectors as DV
    from incubator_iceberg_spark import deletes as DEL
    from incubator_iceberg_spark import snapshots as SN2
    from incubator_iceberg_spark.scan import TableScan

    spark = spark or table.spark
    md = table.metadata
    data, dels = TableScan(table, spark)._plan_split()
    pos = [e for e in dels if (e.get("content") or 0) == MF.POSITION_DELETES]
    if not pos:
        return {"rewritten_delete_files": 0, "kept_tuples": 0, "dropped_tuples": 0}

    # live data files in scope of each delete file's sequence number
    live_rows = [(e["file_path"], e.get("sequence_number") or 0) for e in data]
    live_df = spark.createDataFrame(live_rows, "file_path string, ___data_seq long")
    plain = [e for e in pos if not DV.is_dv_entry(e)]
    dvs = [e for e in pos if DV.is_dv_entry(e)]
    tuples = None
    total = 0
    for e in plain:
        part = (spark.read.schema(DEL.POS_DELETE_SCHEMA.to_spark())
                .parquet(e["file_path"])
                .withColumn("___del_seq", F.lit(e.get("sequence_number") or 0)))
        tuples = part if tuples is None else tuples.unionByName(part)
        total += e.get("record_count") or 0
    if dvs:
        part = DV.read_dv_pos_df(spark, dvs)
        tuples = part if tuples is None else tuples.unionByName(part)
        total += sum(e.get("record_count") or 0 for e in dvs)
    kept = (tuples.join(F.broadcast(live_df), "file_path")
            .filter(F.col("___del_seq") >= F.col("___data_seq"))
            .select("file_path", "pos").distinct())
    old_paths = {e["file_path"] for e in pos}
    # the rewrite preserves the per-partition delete-file layout the MoR
    # writes produce; unscoped, each consolidated file covers a DISJOINT
    # referenced-path slice, so its persisted ref bounds prune tightly
    # and a 100 TB debt rewrite parallelizes.  Sized from driver-side
    # bounds (kept ⊆ input tuples; DV rows ≤ live data files), so the
    # join+distinct runs exactly once inside the write job — no count
    # job, no persist; empty over-split parts are dropped by the writer.
    added = DEL.write_position_deletes(
        spark, md, kept, len(data),
        path_partitions=DEL._partition_scope(data, md),
        n_tuples_hint=total, fmt=fmt)
    # recovered from the written entries' footer stats (DV record_count
    # is deleted-position cardinality — same multiset)
    n_kept = sum(e.get("record_count") or 0 for e in added)
    table.metadata = SN2.overwrite_files(table.ops, added, old_paths,
                                         operation="replace")
    return {"rewritten_delete_files": len(pos), "added_delete_files": len(added),
            "kept_tuples": n_kept, "dropped_tuples": total - n_kept}


def convert_equality_deletes(table, spark=None) -> dict:
    """Convert live v2 EQUALITY delete files into POSITION delete files
    (the convert-deletes compaction step; same family as
    RewritePositionDeleteFiles): materialize each equality predicate's
    matches as (file_path, pos) tuples against the data files it scopes
    to, write them as partition-scoped position deletes, and swap the
    equality files out in one replace commit.

    Why: every subsequent read of an eq-delete table pays the predicate
    anti-join on the scoped files' full rows; position deletes prune by
    persisted referenced-path range and anti-join on two int columns.
    Converting once moves that cost out of the read path — the standard
    MoR maintenance step between ingest (eq deletes are cheap to WRITE)
    and serving (pos deletes are cheap to READ).

    Sequence semantics: an equality delete with sequence S applies to
    data rows with sequence < S (strict); the produced tuples are
    computed against exactly those files, so re-committing them as
    position deletes at the new, higher sequence (pos applies at <=)
    deletes exactly the same rows.  Files appended after S were never
    subject to the eq delete and are untouched — positions name explicit
    (path, pos).  A concurrent compaction can strand tuples on dead
    paths; they are inert (paths are never reused), and the rows they
    named were already carried forward WITH deletes applied — the same
    argument rewrite_position_deletes documents.

    Scale shape: reads only the files each equality predicate scopes to
    (clean files never load), one broadcast semi-join per equality-ids
    group, one partition-scoped delete write."""
    from pyspark.sql import functions as F

    from incubator_iceberg_spark import deletes as DEL
    from incubator_iceberg_spark import snapshots as SN2
    from incubator_iceberg_spark.scan import TableScan, read_entries

    spark = spark or table.spark
    md = table.metadata
    schema = md.schema()
    data, dels = TableScan(table, spark)._plan_split()
    eqs = [e for e in dels if (e.get("content") or 0) == MF.EQUALITY_DELETES]
    if not eqs:
        return {"converted_eq_files": 0, "added_pos_files": 0,
                "converted_tuples": 0}

    # only data files at least one eq delete scopes to ever load
    dirty = []
    for e in data:
        _pos, eq_scoped = DEL.scope_deletes_for_file(e, eqs, schema)
        if eq_scoped:
            dirty.append(e)
    matches = None
    if dirty:
        rows = read_entries(spark, md, dirty, [], schema, with_lineage=True)
        seq_rows = [(e["file_path"], e.get("sequence_number") or 0)
                    for e in dirty]
        seq_df = spark.createDataFrame(seq_rows,
                                       "___path string, ___seq long")
        from incubator_iceberg_spark.row_ops import _norm_file_col
        rows = (rows.withColumn("___path", _norm_file_col())
                .join(F.broadcast(seq_df), "___path"))
        for cols, eq_df, total_rc in DEL.load_eq_delete_groups(
                spark, eqs, schema):
            cond = None
            for c in cols:
                piece = rows[c].eqNullSafe(eq_df[c])
                cond = piece if cond is None else (cond & piece)
            cond = cond & (eq_df["___del_seq"] > rows["___seq"])
            # record_count-gated broadcast, same as the read-side
            # anti-join — conversion of a large accrued debt must not
            # broadcast the debt it exists to consolidate
            if total_rc is not None and \
                    total_rc <= DEL.BROADCAST_MAX_DELETE_TUPLES:
                eq_df = F.broadcast(eq_df)
            m = (rows.join(eq_df, cond, "left_semi")
                     .select(F.col("___path").alias("file_path"),
                             F.col("_pos").alias("pos")))
            matches = m if matches is None else matches.unionByName(m)
    n_tuples = 0
    added = []
    # layout choice needs a tuple count, but the EXACT count is only
    # needed when the debt could cross the 1M partition-scoped-layout
    # threshold.  Every converted tuple names a row of a DIRTY file, so
    # the dirty files' record_count sum is a SOUND upper bound (an
    # eq-key-based bound is not: duplicate key values in older files
    # make one delete key match many rows — r10 review finding #3);
    # the common steady-state debt (a few sink epochs) is far below the
    # threshold — skip the dedicated count()+persist pass entirely and
    # write in ONE job, reading the true converted_tuples off the
    # written files' footer stats.
    est_bound = sum(e.get("record_count") or 0 for e in dirty)
    exact_count = matches is not None and est_bound >= 500_000
    if matches is not None and exact_count:
        # persisted: the layout heuristic needs a count BEFORE the write
        # and the write re-reads — without caching, the dirty-file scan +
        # semi-join would run twice
        matches = matches.distinct().persist()
        n_tuples = matches.count()
    elif matches is not None:
        matches = matches.distinct()
        n_tuples = None  # unknown; small by bound
    if n_tuples or n_tuples is None:
        # layout heuristic: partition-scoped files prune at plan time but
        # cost one tiny file per partition — below ~1M total tuples the
        # per-file read overhead exceeds what pruning saves (measured:
        # 80 per-month files read SLOWER than the eq debt they replaced),
        # so small conversions write the consolidated range-partitioned
        # layout (disjoint referenced-path slices, tight ref bounds).
        # Converted tuples ≤ est_bound; DV rows ≤ the dirty files.
        added = DEL.write_position_deletes(
            spark, md, matches, len(dirty),
            path_partitions=(DEL._partition_scope(dirty, md)
                             if (n_tuples or 0) >= 1_000_000 else None),
            n_tuples_hint=est_bound if n_tuples is None else n_tuples)
    if matches is not None and exact_count:
        matches.unpersist()
    if n_tuples is None:
        # the one-job path never counted: the written files' footer
        # stats carry the exact tuple count for free
        n_tuples = sum(e.get("record_count") or 0 for e in added)
    table.metadata = SN2.overwrite_files(
        table.ops, added, {e["file_path"] for e in eqs},
        operation="replace")
    return {"converted_eq_files": len(eqs), "added_pos_files": len(added),
            "converted_tuples": n_tuples}


def zorder_rewrite(table, columns: list, spark=None,
                   target_file_size: Optional[int] = None, bits: int = 16) -> dict:
    """Z-order clustering rewrite (later-Iceberg RewriteDataFiles
    ZOrderStrategy analog, UDF-free): normalize each column to a
    ``bits``-wide integer from its table-wide min/max, interleave the
    bits JVM-side into one z-value, range-repartition + sort by it, and
    swap the whole file set in one replace commit.

    After the rewrite every file's bounds are tight in EVERY z-ordered
    dimension, so metrics pruning works for filters on any of them — the
    multi-column generalization of sort-order clustering.  Numeric,
    date, and timestamp columns only (strings have no bounded linear
    domain to normalize into)."""
    from pyspark.sql import functions as F

    from incubator_iceberg_spark import schema as S
    from incubator_iceberg_spark import write as W
    from incubator_iceberg_spark.scan import TableScan, read_entries

    spark = spark or table.spark
    md = table.metadata
    schema = md.schema()
    target = target_file_size or md.property(MD.WRITE_TARGET_FILE_SIZE,
                                             MD.WRITE_TARGET_FILE_SIZE_DEFAULT)
    for c in columns:
        f = schema.find_field(c)
        if f is None:
            raise ValueError(f"z-order column not in schema: {c}")
        if isinstance(f.type, (S.StringType, S.BinaryType, S.BooleanType)):
            raise ValueError(f"z-order unsupported for type of column: {c}")

    data, dels = TableScan(table, spark)._plan_split()
    if not data:
        return {"rewritten_files": 0, "added_files": 0}
    df = read_entries(spark, md, data, dels, schema)

    def as_line(c):
        f = schema.find_field(c)
        col = F.col(c)
        if isinstance(f.type, S.TimestampType):
            return F.unix_micros(col.cast("timestamp")).cast("double")
        if isinstance(f.type, S.DateType):
            return F.datediff(col, F.lit("1970-01-01")).cast("double")
        return col.cast("double")

    lines = {c: as_line(c) for c in columns}
    aggs = []
    for c in columns:
        aggs += [F.min(lines[c]).alias("mn_" + c), F.max(lines[c]).alias("mx_" + c)]
    r = df.agg(*aggs).collect()[0].asDict()

    maxv = (1 << bits) - 1
    units = []
    for c in columns:
        mn, mx = r["mn_" + c], r["mx_" + c]
        if mn is None or mx is None or mx == mn:
            units.append(F.lit(0).cast("long"))
        else:
            scaled = (lines[c] - F.lit(float(mn))) / F.lit(float(mx - mn)) * maxv
            units.append(F.coalesce(scaled.cast("long"), F.lit(0)))
    k = len(units)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for ci, u in enumerate(units):
            bit = F.shiftright(u, i).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, i * k + ci))

    total = sum(e.get("file_size_bytes") or 0 for e in data)
    n_out = max(1, total // target + (1 if total % target else 0))
    out = (df.withColumn("__z", z)
           .repartitionByRange(int(n_out), F.col("__z"))
           .sortWithinPartitions("__z")
           .drop("__z"))
    _warn_if_large_avro_rewrite(W.table_format(md), total, "zorder_rewrite")
    # distribution_mode="none": the z-range partitioning IS the layout —
    # the default hash-by-partition redistribution would destroy it
    staged = W.stage_write(spark, md.location, out, schema, md.spec(),
                           target_file_size=target, distribution_mode="none",
                           file_format=W.table_format(md),
                           properties=md.properties)
    old = {e["file_path"] for e in data}
    table.metadata = SN.overwrite_files(
        table.ops, staged, old, operation="replace",
        base_snapshot_id=md.current_snapshot_id,
        conflict_detection_filter=lambda e: e.get("file_path") in old,
        validate_new_deletes=True)
    return {"rewritten_files": len(old), "added_files": len(staged)}


def run_maintenance(table, spark=None, target_file_size: Optional[int] = None,
                    expire_older_than_ms: Optional[int] = None,
                    retain_last: int = 3) -> dict:
    """One-call housekeeping in dependency order: compact small data
    files → consolidate position deletes → drop dangling deletes →
    rewrite manifests → expire snapshots → remove orphans.  Each step is
    the standalone action; the order matters (compaction creates the
    dangling deletes the later steps reclaim, expiry makes orphan
    detection cheap)."""
    out: dict = {}
    out["rewrite_data_files"] = rewrite_data_files(
        table, spark=spark, target_file_size=target_file_size)
    out["rewrite_position_deletes"] = rewrite_position_deletes(table, spark=spark)
    out["remove_dangling_deletes"] = remove_dangling_deletes(table)
    out["rewrite_manifests"] = rewrite_manifests(table, spark=spark)
    out["expire_snapshots"] = expire_snapshots(
        table, older_than_ms=expire_older_than_ms, retain_last=retain_last)
    out["remove_orphan_files"] = len(remove_orphan_files(
        table, older_than_ms=MD.now_ms()))
    return out


AUTO_POLICY_DEFAULTS = {
    # compaction: at least this many live data files under the small-
    # file threshold (default target/2)
    "min-small-files": 5,
    "small-file-bytes": 0,            # 0 → target_file_size // 2
    # eq-delete debt: tuples past the scan broadcast gate, or this many
    # accrued eq files (the upsert-MoR sink writes one per epoch)
    "eq-debt-tuples": 0,              # 0 → deletes.BROADCAST_MAX_DELETE_TUPLES
    "eq-debt-files": 8,
    # pos/DV debt: deleted positions as a fraction of live data rows,
    # or raw pos-delete file count (consolidation trigger)
    "pos-debt-ratio": 0.10,
    "pos-debt-files": 8,
    "max-manifests": 8,
    # manifests are FRAGMENTED (rewrite-worthy) only when there are many
    # of them AND they are mostly empty — a big table legitimately needs
    # many target-size manifests, and rewriting those forever would make
    # every pass non-idempotent
    "min-entries-per-manifest": 1024,
    "max-snapshots": 50,
    "retain-last": 3,
}


def auto_maintain(table, spark=None, policy: Optional[dict] = None,
                  dry_run: bool = False) -> dict:
    """POLICY-driven maintenance: decide each step from the MANIFEST
    PLANE ONLY (no data IO — one manifest-list read plus per-manifest
    column slices of status/content/file_size/record_count), then run
    only the triggered steps in dependency order.  This operationalizes
    the loop the scan-side MaintenanceAdvisory recommends: a scheduler
    calls ``auto_maintain`` (or ``CALL system.auto_maintain``) per table
    and pays O(metadata) when nothing needs doing — at a 10⁵-table
    warehouse the decide cost is what makes routine maintenance viable.

    Policy keys (AUTO_POLICY_DEFAULTS) are overridable per call and per
    table via ``maintenance.auto.<key>`` properties.  ``dry_run``
    reports triggers without mutating.  A second call right after a
    completed pass triggers nothing (fixpoint) — pinned in tests."""
    import pyarrow.parquet as _pq

    from incubator_iceberg_spark import deletes as DEL

    spark = spark or table.spark
    md = table.metadata
    # precedence: call-site policy > maintenance.auto.<key> property >
    # default
    def _coerce(k, v, label):
        # float-first so int keys accept '1.5'/'1e6'; name the offending
        # source (full property/policy key) instead of a bare ValueError
        # that fails the whole maintenance pass opaquely
        try:
            f = float(v)
            return int(f) if isinstance(AUTO_POLICY_DEFAULTS[k], int) else f
        except (TypeError, ValueError):
            raise ValueError(
                f"invalid {label}={v!r}: expected a number") from None

    pol = dict(AUTO_POLICY_DEFAULTS)
    for k in pol:
        v = md.properties.get(f"maintenance.auto.{k}")
        if v is not None:
            pol[k] = _coerce(k, v, f"table property maintenance.auto.{k}")
    for k, v in (policy or {}).items():
        if k in AUTO_POLICY_DEFAULTS:
            pol[k] = _coerce(k, v, f"auto_maintain policy {k}")
        else:
            pol[k] = v
    target = int(md.property(MD.WRITE_TARGET_FILE_SIZE,
                             MD.WRITE_TARGET_FILE_SIZE_DEFAULT))
    small_bytes = int(pol["small-file-bytes"]) or target // 2
    eq_gate = int(pol["eq-debt-tuples"]) or DEL.BROADCAST_MAX_DELETE_TUPLES

    snap = md.current_snapshot()
    stats = {"data_files": 0, "small_files": 0, "data_rows": 0,
             "eq_files": 0, "eq_tuples": 0,
             "pos_files": 0, "pos_tuples": 0, "n_manifests": 0,
             "n_snapshots": len(md.snapshots)}
    if snap is not None:
        mlist = MF.read_manifest_list_arrow(snap.manifest_list)
        paths = mlist.column("manifest_path").to_pylist()
        stats["n_manifests"] = len(paths)
        for mp in paths:
            t = _pq.read_table(mp, columns=["status", "content",
                                            "file_size_bytes",
                                            "record_count"])
            st = t.column("status").to_pylist()
            ct = t.column("content").to_pylist()
            sz = t.column("file_size_bytes").to_pylist()
            rc = t.column("record_count").to_pylist()
            for s, c, z, r in zip(st, ct, sz, rc):
                if s == MF.DELETED:
                    continue
                c = c or MF.DATA
                if c == MF.DATA:
                    stats["data_files"] += 1
                    stats["data_rows"] += r or 0
                    if (z or 0) < small_bytes:
                        stats["small_files"] += 1
                elif c == MF.EQUALITY_DELETES:
                    stats["eq_files"] += 1
                    stats["eq_tuples"] += r or 0
                else:
                    stats["pos_files"] += 1
                    stats["pos_tuples"] += r or 0

    debt_ratio = (stats["pos_tuples"] / stats["data_rows"]
                  if stats["data_rows"] else 0.0)
    triggers = {
        "convert_equality_deletes": (
            stats["eq_tuples"] > eq_gate
            or stats["eq_files"] >= int(pol["eq-debt-files"]),
            f"eq debt {stats['eq_tuples']:,} tuples / "
            f"{stats['eq_files']} files (gate {eq_gate:,} / "
            f"{pol['eq-debt-files']})"),
        "rewrite_position_deletes": (
            stats["pos_files"] >= int(pol["pos-debt-files"]),
            f"{stats['pos_files']} pos-delete files "
            f"(gate {pol['pos-debt-files']})"),
        "rewrite_data_files": (
            stats["small_files"] >= int(pol["min-small-files"])
            or debt_ratio > float(pol["pos-debt-ratio"]),
            f"{stats['small_files']} small files "
            f"(<{small_bytes:,}B, gate {pol['min-small-files']}); "
            f"pos-debt ratio {debt_ratio:.3f} "
            f"(gate {pol['pos-debt-ratio']})"),
        "rewrite_manifests": (
            stats["n_manifests"] > int(pol["max-manifests"])
            and (stats["data_files"] + stats["eq_files"]
                 + stats["pos_files"])
            < stats["n_manifests"] * int(pol["min-entries-per-manifest"]),
            f"{stats['n_manifests']} manifests "
            f"(gate {pol['max-manifests']}), avg fill below "
            f"{pol['min-entries-per-manifest']} entries"),
        "expire_snapshots": (
            stats["n_snapshots"] > int(pol["max-snapshots"]),
            f"{stats['n_snapshots']} snapshots "
            f"(gate {pol['max-snapshots']})"),
    }
    out: dict = {"stats": stats, "dry_run": dry_run}
    # conversion first (eq → pos), THEN the ratio-based steps see the
    # converted debt on the next call; within one pass the declared
    # triggers run in dependency order
    order = ["convert_equality_deletes", "rewrite_position_deletes",
             "rewrite_data_files", "rewrite_manifests",
             "expire_snapshots"]
    for step in order:
        fired, reason = triggers[step]
        entry: dict = {"triggered": bool(fired), "reason": reason}
        if fired and not dry_run:
            if step == "convert_equality_deletes":
                entry["result"] = convert_equality_deletes(table, spark=spark)
                table.refresh()
                # converted tuples land as pos deletes: consolidate them
                # in the same pass so reads immediately get DV/pruned
                # form — but ONLY when the post-convert pos-file count
                # clears the consolidation gate; convert already writes
                # range-partitioned consolidated output, so re-rewriting
                # one or two fresh files was a full extra read+write+
                # commit per maintenance pass for no read-side gain
                n_pos_after = (stats["pos_files"]
                               + entry["result"]["added_pos_files"])
                if n_pos_after >= int(pol["pos-debt-files"]):
                    entry["consolidate"] = rewrite_position_deletes(
                        table, spark=spark)
            elif step == "rewrite_position_deletes":
                entry["result"] = rewrite_position_deletes(table, spark=spark)
            elif step == "rewrite_data_files":
                entry["result"] = rewrite_data_files(
                    table, spark=spark, target_file_size=target)
                table.refresh()
                entry["dangling"] = remove_dangling_deletes(table)
            elif step == "rewrite_manifests":
                entry["result"] = rewrite_manifests(table, spark=spark)
            elif step == "expire_snapshots":
                entry["result"] = expire_snapshots(
                    table, retain_last=int(pol["retain-last"]))
            table.refresh()
        out[step] = entry
    return out


def write_partition_stats(table, spark=None) -> dict:
    """Materialize the `partitions` metadata aggregate as a stats file
    (the partition-statistics files of the later table-format spec,
    core/.../PartitionStatisticsFile analog): at 10^6-file scale, showing
    a user per-partition row/file/delete-debt counts should read ONE
    small parquet, not re-aggregate every manifest entry.  The file is
    pinned to the snapshot it summarizes via table properties;
    ``Table.partition_stats()`` serves it while fresh and falls back to
    the live aggregate after new commits."""
    import os
    import uuid

    from incubator_iceberg_spark import metadata_tables as MT

    spark = spark or table.spark
    snap = table.metadata.current_snapshot()
    if snap is None:
        return {"written": False, "reason": "no snapshot"}
    df = MT.metadata_table(table, "partitions", spark)
    # stored RELATIVE to the table location so relocating the warehouse
    # keeps the pointer resolvable (reference metadata pointers likewise)
    rel = os.path.join("metadata",
                       f"partition-stats-{snap.snapshot_id}-"
                       f"{uuid.uuid4().hex[:8]}.parquet")
    path = os.path.join(table.location, rel)
    df.coalesce(1).write.mode("errorifexists").parquet(path)
    table.update_properties({
        "partition-stats.snapshot-id": str(snap.snapshot_id),
        "partition-stats.path": rel,
    })
    return {"written": True, "snapshot_id": snap.snapshot_id, "path": path}


def partition_stats(table, spark=None):
    """The `partitions` aggregate, served from the materialized stats
    file when it is FRESH (pinned snapshot == current), else computed
    live from the manifests."""
    from incubator_iceberg_spark import metadata_tables as MT

    spark = spark or table.spark
    props = table.metadata.properties
    pinned = props.get("partition-stats.snapshot-id")
    path = props.get("partition-stats.path")
    cur = table.metadata.current_snapshot_id
    if pinned is not None and path is not None and str(cur) == pinned:
        import os
        if not os.path.isabs(path):  # old entries were absolute
            path = os.path.join(table.location, path)
        return spark.read.parquet(path)
    return MT.metadata_table(table, "partitions", spark)


def compute_column_stats(table, spark=None, columns=None) -> dict:
    """ANALYZE-style table column statistics (the later table-format
    spec's StatisticsFile / Puffin role, reduced to what a DataFrame
    engine serves): per top-level primitive column — value count, null
    count, approx NDV (HyperLogLog++ via approx_count_distinct) — in ONE
    aggregation job, materialized as a small parquet pinned to the
    snapshot via table properties.  ``Table.column_stats()`` serves the
    file while fresh and recomputes only on request (NDV needs a data
    scan; unlike min/max it cannot come from manifests)."""
    import os
    import uuid

    from pyspark.sql import functions as F

    spark = spark or table.spark
    snap = table.metadata.current_snapshot()
    if snap is None:
        return {"written": False, "reason": "no snapshot"}
    schema = table.metadata.schema()
    prim = [f.name for f in schema.fields if f.type.is_primitive]
    if columns:
        prim = [c for c in prim if c in set(columns)]
    if not prim:
        return {"written": False, "reason": "no primitive columns"}
    df = table.to_df(spark=spark)
    aggs = []
    for c in prim:
        aggs += [F.count(F.col(c)).alias(f"__cnt_{c}"),
                 F.approx_count_distinct(F.col(c), 0.02).alias(f"__ndv_{c}"),
                 F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                 .alias(f"__null_{c}")]
    row = df.agg(*aggs).collect()[0]
    stats = [(c, int(row[f"__cnt_{c}"] or 0), int(row[f"__ndv_{c}"] or 0),
              int(row[f"__null_{c}"] or 0)) for c in prim]
    out = spark.createDataFrame(
        stats, "column string, value_count long, ndv long, null_count long")
    rel = os.path.join("metadata",
                       f"column-stats-{snap.snapshot_id}-"
                       f"{uuid.uuid4().hex[:8]}.parquet")
    path = os.path.join(table.location, rel)
    out.coalesce(1).write.mode("errorifexists").parquet(path)
    table.update_properties({
        "column-stats.snapshot-id": str(snap.snapshot_id),
        "column-stats.path": rel,
    })
    return {"written": True, "snapshot_id": snap.snapshot_id,
            "path": path, "columns": len(stats)}


def column_stats(table, spark=None):
    """The materialized column statistics while FRESH (pinned snapshot ==
    current), else None — callers decide whether to recompute (a data
    scan) or proceed without."""
    import os

    spark = spark or table.spark
    props = table.metadata.properties
    pinned = props.get("column-stats.snapshot-id")
    path = props.get("column-stats.path")
    cur = table.metadata.current_snapshot_id
    if pinned is None or path is None or str(cur) != pinned:
        return None
    if not os.path.isabs(path):
        path = os.path.join(table.location, path)
    return spark.read.parquet(path)
