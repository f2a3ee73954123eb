"""Table scans: snapshot-isolated batch reads with metadata pruning
(S1/S2/S3 in SURVEY.md §2.1; lifecycle in §3.1).

Planning is a metadata DataFrame computation (never a driver loop over
entries — 100 TB constraint, SURVEY.md §7):

1. resolve snapshot (current / by id / as-of timestamp);
2. manifest-list DF → manifest evaluator (P8) prunes whole manifests via
   partition summaries; collect the (small) surviving manifest path list;
3. manifest-entry DF → partition pruning through transforms (P10) +
   inclusive metrics filter on column bounds (P6); only file paths +
   schema ids are collected (chunked via toLocalIterator when huge);
4. data job: files grouped by write-schema, each group read with its own
   Parquet schema and re-projected to the current schema by FIELD ID
   (renames/type promotions resolve here), then unionByName;
5. the full row filter is re-applied — Spark pushes it into the Parquet
   scan (row-group + page pruning for free, SURVEY.md §4).

Control crosses driver→executor exactly twice: metadata job, data job.
"""

from __future__ import annotations

import functools
from typing import Iterable, Optional

from incubator_iceberg_spark import evaluators as EV
from incubator_iceberg_spark import expressions as X
from incubator_iceberg_spark import manifests as MF
from incubator_iceberg_spark import partitioning as P
from incubator_iceberg_spark import py_eval as PE
from incubator_iceberg_spark import schema as S
from incubator_iceberg_spark.session import local_df

# metadata below this size plans on the driver (the reference also plans
# driver-side, BaseTableScan.planFiles); above it, planning runs as Spark
# jobs over the manifest DataFrames (100 TB path)
LOCAL_PLAN_MAX_BYTES = 16 * 1024 * 1024


@functools.lru_cache(maxsize=512)
def _read_manifest_pylist(path: str):
    """Manifest files are immutable → parsed entries are safely cacheable."""
    entries = MF.read_manifest_arrow(path).to_pylist()
    for e in entries:
        MF.normalize_entry(e)
    return entries


class TableScan:
    def __init__(self, table, spark, snapshot_id: Optional[int] = None,
                 row_filter: Optional[X.Expression] = None,
                 selected: Optional[list] = None, case_sensitive: bool = True,
                 from_snapshot_exclusive: Optional[int] = None,
                 to_snapshot_inclusive: Optional[int] = None,
                 incremental: bool = False):
        self.table = table
        self.spark = spark
        self.snapshot_id = snapshot_id
        if isinstance(row_filter, str):
            row_filter = parse_predicate(row_filter)
        self.row_filter = row_filter or X.always_true()
        self.selected = selected
        self.case_sensitive = case_sensitive
        self.from_snapshot_exclusive = from_snapshot_exclusive
        self.to_snapshot_inclusive = to_snapshot_inclusive
        self.incremental = incremental

    # -- builders (api/.../TableScan.java:33-207) --------------------------
    def _copy(self, **kw) -> "TableScan":
        args = dict(snapshot_id=self.snapshot_id, row_filter=self.row_filter,
                    selected=self.selected, case_sensitive=self.case_sensitive,
                    from_snapshot_exclusive=self.from_snapshot_exclusive,
                    to_snapshot_inclusive=self.to_snapshot_inclusive,
                    incremental=self.incremental)
        args.update(kw)
        return TableScan(self.table, self.spark, **args)

    def use_snapshot(self, snapshot_id: int) -> "TableScan":
        return self._copy(snapshot_id=snapshot_id)

    def as_of_time(self, timestamp_ms: int) -> "TableScan":
        snap = self.table.metadata.snapshot_as_of(timestamp_ms)
        if snap is None:
            raise ValueError(f"no snapshot as of {timestamp_ms}")
        return self._copy(snapshot_id=snap.snapshot_id)

    def filter(self, expr) -> "TableScan":
        if isinstance(expr, str):
            expr = parse_predicate(expr)
        return self._copy(row_filter=X.and_(self.row_filter, expr))

    def select(self, *cols: str) -> "TableScan":
        return self._copy(selected=list(cols))

    def appends_between(self, from_exclusive: int, to_inclusive: int) -> "TableScan":
        """S3 incremental append scan (DataTableScan.java:49-62)."""
        return self._copy(from_snapshot_exclusive=from_exclusive,
                          to_snapshot_inclusive=to_inclusive,
                          snapshot_id=to_inclusive, incremental=True)

    def appends_after(self, from_exclusive: int) -> "TableScan":
        cur = self.table.metadata.current_snapshot_id
        return self.appends_between(from_exclusive, cur)

    # -- planning ----------------------------------------------------------
    def _snapshot(self):
        md = self.table.metadata
        if self.snapshot_id is not None:
            snap = md.snapshot_by_id(self.snapshot_id)
            if snap is None:
                raise ValueError(f"unknown snapshot {self.snapshot_id}")
            return snap
        return md.current_snapshot()

    def _bound_filter(self, schema: S.Schema) -> X.Expression:
        return X.bind(schema, self.row_filter, self.case_sensitive)

    def _scan_schema(self, md, snap) -> S.Schema:
        """Schema the scan binds filters against AND projects to.  An
        EXPLICIT snapshot pin (time travel / branch read) uses the
        schema logged with that snapshot — "as of" semantics.  Unpinned
        scans and incremental ranges (whose pin is just the range end)
        use the table's CURRENT schema: DDL (rename/add/promote) does
        not create a snapshot, so snap.schema_id goes stale the moment
        DDL lands, and binding against it rejected filters on renamed
        columns for every ordinary scan."""
        if self.snapshot_id is not None and not self.incremental and any(
                s.schema_id == snap.schema_id for s in md.schemas):
            return md.schema_by_id(snap.schema_id)
        return md.schema()

    def _incremental_snapshot_ids(self) -> Optional[set]:
        if not self.incremental:
            return None
        md = self.table.metadata
        ids, cur = [], self.to_snapshot_inclusive
        while cur is not None and cur != self.from_snapshot_exclusive:
            snap = md.snapshot_by_id(cur)
            if snap is None:
                break
            if snap.operation == "append":
                ids.append(snap.snapshot_id)
            cur = snap.parent_id
        # the walk must TERMINATE at from_exclusive (from=None means
        # "from the beginning" and walks to the root).  Exhausting the
        # chain without reaching it — from expired deeper than the
        # retained ancestry, or never an ancestor of to_inclusive —
        # used to silently return a wrong range (reference
        # SnapshotUtil.snapshotIdsBetween throws on broken ancestry;
        # changelog() already raises the same way).
        if self.from_snapshot_exclusive is not None and \
                cur != self.from_snapshot_exclusive:
            raise ValueError(
                f"snapshot {self.from_snapshot_exclusive} is not a "
                f"reconstructable ancestor of {self.to_snapshot_inclusive}: "
                "it was expired past the retained chain or belongs to "
                "another lineage")
        return set(ids)

    def _incremental_manifest_rows(self, inc_ids: set) -> list:
        """Manifest-list rows for an incremental scan: the union, over the
        append snapshots in range, of the manifests EACH snapshot added
        (added_snapshot_id == that snapshot), read from that snapshot's
        OWN manifest list.  Planning from the final snapshot's manifest
        list is wrong: a compaction (or any rewrite) committed after an
        append REPLACES the appended entries in the current list, and the
        ADDED-status rows the incremental filter looks for silently
        vanish — the scan returned zero rows for those appends.  Old
        manifests are immutable and stay referenced from their snapshot's
        manifest list until expire_snapshots, exactly what the reference
        plans from (IncrementalDataTableScan.planFiles walks each append
        snapshot; core/.../IncrementalDataTableScan.java:96-118)."""
        md = self.table.metadata
        rows, seen = [], set()
        for sid in inc_ids:
            s = md.snapshot_by_id(sid)
            if s is None:
                continue
            for row in MF.read_manifest_list_arrow(s.manifest_list).to_pylist():
                if row.get("added_snapshot_id") == sid and \
                        row["manifest_path"] not in seen:
                    seen.add(row["manifest_path"])
                    rows.append(row)
        return rows

    def plan_manifests(self):
        """(kept_manifest_rows, total_manifest_count) after partition-
        summary pruning — the ManifestEvaluator plane (P8) made
        observable: which manifest-list rows survive this scan's filter
        judged ONLY from their per-manifest partition-field summaries
        (A5; reference ManifestEvaluator.java:51-141 over
        ManifestFile.partitions()).  Manifests that may hold delete
        entries are exempt (pruning a delete manifest would resurrect
        rows); a trivial filter keeps everything.  Cost is one
        manifest-list read — no manifest or data IO."""
        snap = self._snapshot()
        if snap is None:
            return [], 0
        md = self.table.metadata
        schema = self._scan_schema(md, snap)
        bound = self._bound_filter(schema)
        mlist = MF.read_manifest_list_arrow(snap.manifest_list).to_pylist()
        if isinstance(bound, X.AlwaysTrue):
            return mlist, len(mlist)
        kept = []
        for row in mlist:
            spec = md.spec_by_id(row["partition_spec_id"])
            proj = P.project_inclusive(spec, bound)
            summaries = row.get("partitions") or {}
            if (row.get("has_deletes") is False and summaries
                    and not PE.eval_summary(proj, summaries)):
                continue
            kept.append(row)
        return kept, len(mlist)

    def plan_entries_local(self, force: bool = False):
        """Driver-side planning fast path: returns pruned entry dicts, or
        None when metadata is too large / mode=distributed (fall back to
        plan_entries_df).  ``force=True`` plans locally regardless — for
        callers with no SparkSession to fall back to (the Python
        DataSource planner runs in a session-less worker; returning None
        there would silently scan zero files)."""
        import os

        mode = self.table.metadata.properties.get("read.plan-mode", "auto")
        if mode == "distributed" and not force:
            return None
        snap = self._snapshot()
        if snap is None:
            return []
        md = self.table.metadata
        schema = self._scan_schema(md, snap)
        bound = self._bound_filter(schema)
        inc_ids = self._incremental_snapshot_ids()
        if inc_ids is not None:
            mlist = self._incremental_manifest_rows(inc_ids)
        else:
            mlist = MF.read_manifest_list_arrow(snap.manifest_list).to_pylist()
        if mode == "auto" and not force:
            total = sum(r.get("manifest_length") or 0 for r in mlist)
            if total > LOCAL_PLAN_MAX_BYTES:
                return None
        trivial = isinstance(bound, X.AlwaysTrue)
        out = []
        for row in mlist:
            spec = md.spec_by_id(row["partition_spec_id"])
            proj = None
            if not trivial:
                proj = P.project_inclusive(spec, bound)
                summaries = row.get("partitions") or {}
                # manifests holding delete entries are exempt from summary
                # pruning (missing flag on old manifests → keep)
                if (row.get("has_deletes") is False and summaries
                        and not PE.eval_summary(proj, summaries)):
                    continue
            for e in _read_manifest_pylist(row["manifest_path"]):
                if e.get("status") == MF.DELETED:
                    continue
                if inc_ids is not None and not (
                        e.get("status") == MF.ADDED and e.get("snapshot_id") in inc_ids):
                    continue
                # partition/metrics pruning is DATA-file pruning.  GLOBAL
                # delete entries (null partition tuple, delete-schema
                # bounds) must always survive or applicable deletes
                # silently vanish from filtered scans (rows resurrect);
                # partition-SCOPED delete files (full tuple recorded at
                # write, like the reference's) prune by partition exactly
                # like the data files they reference.  Metrics pruning
                # stays data-only either way (delete bounds are
                # delete-schema-keyed).
                if not trivial:
                    is_data = (e.get("content") or 0) == MF.DATA
                    part = e.get("partition") or {}
                    scoped = is_data or (
                        spec.is_partitioned and part
                        and all(part.get(f.name) is not None
                                for f in spec.partition_type().fields))
                    if scoped and spec.is_partitioned and \
                            not PE.eval_partition_value(proj, part):
                        continue
                    if is_data and not PE.eval_inclusive_entry(e, bound):
                        continue
                out.append(dict(e))  # shallow copy: entries are lru-cached
        return out

    def plan_entries_df(self):
        """Pruned manifest-entry DataFrame (the [files] of this scan)."""
        from pyspark.sql import functions as F

        snap = self._snapshot()
        if snap is None:
            return None
        md = self.table.metadata
        schema = self._scan_schema(md, snap)
        bound = self._bound_filter(schema)

        inc_ids = self._incremental_snapshot_ids()
        if inc_ids is not None:
            # incremental: plan from each append snapshot's OWN manifest
            # list (see _incremental_manifest_rows — the final snapshot's
            # list loses appends a later rewrite replaced).  ONE
            # multi-path read + a broadcast semi-join on the id set: a
            # manifest added by snapshot X carries added_snapshot_id=X
            # in EVERY list that references it, so filtering the in-range
            # lists on membership is equivalent to the per-list loop —
            # without a per-snapshot DataFrame union (O(range) plan
            # nodes) or an O(range) isin literal in the plan tree.
            paths = [s.manifest_list
                     for sid in inc_ids
                     for s in (md.snapshot_by_id(sid),) if s is not None]
            if not paths:
                return None
            ids_df = local_df(self.spark, [(i,) for i in inc_ids],
                              "added_snapshot_id long")
            mlist_df = (self.spark.read.parquet(*paths)
                        .join(F.broadcast(ids_df), "added_snapshot_id")
                        .dropDuplicates(["manifest_path"]))
        else:
            mlist_df = MF.read_manifest_list_df(self.spark, snap.manifest_list)
        spec_ids = [r["partition_spec_id"]
                    for r in mlist_df.select("partition_spec_id").distinct().collect()]
        parts = []
        for spec_id in spec_ids:
            spec = md.spec_by_id(spec_id)
            sub = mlist_df.filter(F.col("partition_spec_id") == spec_id)
            if not isinstance(bound, X.AlwaysTrue):
                # missing flag (pre-flag manifest lists) → conservative
                # keep: losing list-level pruning on legacy manifests is
                # a perf cost; losing a delete manifest is wrong results
                keep_deletes = (F.coalesce(F.col("has_deletes"), F.lit(True))
                                if "has_deletes" in mlist_df.columns
                                else F.lit(True))
                sub = sub.filter(keep_deletes | EV.manifest_summary_filter(
                    spec, bound, mlist_df.schema))
            # the summary-filtered manifest-path list stays executor-side:
            # entries are decoded distributedly, so the only driver
            # materialization in planning is the final pruned file list
            entries = MF.read_entries_df_from_mlist(self.spark, sub, schema, spec)
            entries = entries.filter(F.col("status") != MF.DELETED)
            if inc_ids is not None:
                entries = entries.filter((F.col("status") == MF.ADDED)
                                         & F.col("snapshot_id").isin(list(inc_ids)))
            if not isinstance(bound, X.AlwaysTrue):
                # GLOBAL delete entries (partition tuple not fully
                # recorded) always survive planning; partition-SCOPED
                # delete files prune by partition like their data files;
                # metrics pruning stays data-only (see plan_entries_local)
                is_delete = (F.coalesce(F.col("content"), F.lit(0))
                             != F.lit(MF.DATA)) if "content" in \
                    entries.columns else F.lit(False)
                fully = F.lit(False)
                if spec.is_partitioned and "partition" in entries.columns:
                    fully = F.lit(True)
                    for f in spec.partition_type().fields:
                        fully = fully & F.col("partition") \
                            .getField(f.name).isNotNull()
                entries = entries.filter(
                    (is_delete & ~fully)
                    | (EV.partition_pruning_filter(spec, bound, entries.schema)
                       & (is_delete
                          | EV.inclusive_metrics_filter(bound, entries.schema))))
            parts.append(entries)
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def _plan_split(self):
        """(data_rows, delete_entries): data_rows are dicts with file_path /
        schema_id / sequence_number; delete_entries are full entry dicts for
        content=1/2 files (v2 read path)."""
        local = self.plan_entries_local()
        if local is not None:
            data = [e for e in local if (e.get("content") or 0) == MF.DATA]
            dels = [e for e in local if (e.get("content") or 0) != MF.DATA]
            self._emit_scan_event(data, dels)
            return data, dels
        entries = self.plan_entries_df()
        if entries is None:
            return [], []
        from pyspark.sql import functions as F
        cols = ["file_path", "schema_id", "sequence_number", "content",
                "file_format", "file_size_bytes"]
        have = [c for c in cols if c in entries.columns]
        # the pruned file list is the only driver materialization in
        # planning (100 TB contract).  One parallel Arrow-serialized fetch:
        # toLocalIterator would run one sequential job per shuffle
        # partition (~32 round-trips of pure scheduler latency) and build
        # the same in-memory list anyway — measured 125 s -> 11 s for a
        # full 10^6-entry plan (tools/metadata_scale_rehearsal.py)
        rows = entries.select(*have).toArrow().to_pylist()
        data = [r for r in rows if (r.get("content") or 0) == MF.DATA]
        del_paths = [r["file_path"] for r in rows if (r.get("content") or 0) != MF.DATA]
        dels = []
        if del_paths:
            # need full entries (equality_ids, seq) for application — select
            # by the same content!=DATA predicate that produced del_paths
            # (an isin(del_paths) literal list would be O(#delete-files) in
            # the plan tree: a driver-side plan bomb at heavy MoR debt)
            full = entries.filter(
                F.coalesce(F.col("content"), F.lit(0)) != MF.DATA).collect()
            dels = [MF.normalize_entry(r.asDict(recursive=True)) for r in full]
        self._emit_scan_event(data, dels)
        return data, dels

    def _emit_scan_event(self, data, dels) -> None:
        from incubator_iceberg_spark import events as EVT
        snap = self._snapshot()
        EVT.emit(EVT.ScanEvent(
            table_location=self.table.metadata.location,
            snapshot_id=snap.snapshot_id if snap else None,
            filter=str(self.row_filter),
            planned_data_files=len(data),
            planned_delete_files=len(dels),
            incremental=self.incremental,
        ))

    def plan_files(self) -> list:
        """[(file_path, schema_id)] of DATA files after pruning."""
        data, _dels = self._plan_split()
        return [(e["file_path"], e.get("schema_id")) for e in data]

    def plan_tasks(self) -> list:
        """CombinedScanTask planning (TableScanUtil.planTasks /
        BaseTableScan.planTasks analog, core/.../util/TableScanUtil.java:43-64):
        pruned files are split at ``read.split.target-size`` (128 MB
        default), each split weighted at max(length, open-file-cost 4 MB)
        so a thousand tiny files don't collapse into one task, then
        packed IN ORDER with a ``read.split.planning-lookback`` (10)
        bin-pack (BinPacking.java semantics — order-preserving, close a
        bin when the lookback window overflows).

        Returns [[{file_path, start, length, schema_id}, ...], ...] —
        one inner list per combined task.  The Spark data plane delegates
        read-side splitting to ``spark.sql.files.maxPartitionBytes``
        (SURVEY §2.5 O2); this API serves the reference's external-
        executor contract and custom per-task processing."""
        props = self.table.metadata.properties
        split = int(props.get("read.split.target-size", 128 * 1024 * 1024))
        lookback = int(props.get("read.split.planning-lookback", 10))
        open_cost = int(props.get("read.split.open-file-cost", 4 * 1024 * 1024))
        data, _dels = self._plan_split()
        splits = []
        for e in data:
            size = e.get("file_size_bytes") or 0
            off = 0
            while True:
                ln = min(split, size - off)
                splits.append({"file_path": e["file_path"], "start": off,
                               "length": ln,
                               "schema_id": e.get("schema_id")})
                off += ln
                if off >= size:
                    break
        bins: list[list] = []  # [weight, splits]
        tasks: list[list] = []
        for s in splits:
            w = max(s["length"], open_cost)
            placed = False
            for b in bins:
                if b[0] + w <= split:
                    b[0] += w
                    b[1].append(s)
                    placed = True
                    break
            if not placed:
                bins.append([w, [s]])
                while len(bins) > lookback:
                    tasks.append(bins.pop(0)[1])
        tasks.extend(b[1] for b in bins)
        return tasks

    # -- execution ---------------------------------------------------------
    def to_df(self, with_lineage: bool = False):
        from pyspark.sql import functions as F

        snap = self._snapshot()
        md = self.table.metadata
        # ONE schema for the whole scan — plan-time binding, row-level
        # residuals, and the output projection must agree.  to_df used
        # to bind against md.schema() while planning bound against the
        # snapshot schema; after a rename the two disagreed and every
        # filtered scan failed on one side or the other.
        current_schema = self._scan_schema(md, snap) if snap is not None \
            else md.schema()

        data, dels = self._plan_split() if snap is not None else ([], [])
        bound = self._bound_filter(current_schema)

        # P9 residual evaluation: group files by the per-file residual of
        # the row filter — files whose partition strictly satisfies a
        # predicate skip that comparison per row entirely
        residual_groups = self._residual_groups(md, data, bound)
        if residual_groups is not None:
            from incubator_iceberg_spark import py_eval as PE
            parts = []
            for res, group in residual_groups:
                if isinstance(res, X.AlwaysFalse):
                    continue
                df = read_entries(self.spark, md, group, dels, current_schema,
                                  with_lineage=with_lineage)
                if not isinstance(res, X.AlwaysTrue):
                    df = df.filter(X.to_column(res))
                parts.append(df)
            if not parts:
                sp = current_schema.to_spark()
                if with_lineage:
                    sp = sp.add("_file", "string").add("_pos", "long")
                df = local_df(self.spark, [], sp)
            else:
                df = parts[0]
                for p in parts[1:]:
                    df = df.unionByName(p)
            if self.selected:
                df = df.select(*self.selected)
            return df

        df = read_entries(self.spark, md, data, dels, current_schema,
                          with_lineage=with_lineage)
        return self._finish(df, current_schema)

    def _residual_groups(self, md, data, bound):
        """[(residual_expr, entries)] or None to use the plain filter path.
        Requires local-plan entries (partition tuples present) and a
        non-trivial filter; falls back when residuals fragment the scan
        (> 8 groups) — one scan + full filter beats many tiny relations.

        ON by default (read.use-residuals table property): measured with a
        WARMED session at sf0.001/sf0.1/sf1 the residual path wins 1.4-1.6x
        on partition-range predicates (q6-shaped: 0.364 -> 0.230 s at sf1;
        even 0.251 -> 0.160 s at sf0.001) — the earlier off-default was a
        cold-session artifact where per-relation setup dominated
        (BENCH_NOTES round-3 residual experiment)."""
        from incubator_iceberg_spark import py_eval as PE

        if md.properties.get("read.use-residuals", "true") != "true":
            return None
        if isinstance(bound, X.AlwaysTrue) or not data:
            return None
        if any("partition" not in e and "spec_id" not in e for e in data):
            return None  # DF-planned row subset: no partition values
        groups: dict = {}
        for e in data:
            spec = md.spec_by_id(e.get("spec_id", md.default_spec_id))
            if spec.is_partitioned and "partition" not in e:
                return None
            res = PE.residual_for(bound, spec, e.get("partition") or {})
            groups.setdefault(str(res), (res, []))[1].append(e)
        if len(groups) > 8:
            return None  # too fragmented; one scan + full filter is better
        return list(groups.values())

    def _finish(self, df, schema: S.Schema):
        bound = self._bound_filter(schema)
        if not isinstance(bound, X.AlwaysTrue):
            df = df.filter(X.to_column(bound))
        if self.selected:
            df = df.select(*self.selected)
        return df


def read_entries(spark, md, data_entries, delete_entries, current_schema,
                 with_lineage: bool = False):
    """THE data read path: planned entries → DataFrame in the current
    schema.  Groups files by (write-schema, format), projects by field ID,
    applies v2 delete files, and optionally keeps _file/_pos lineage.
    Used by scans, DELETE/UPDATE/MERGE rewrites, and compaction — every
    reader must see delete-file semantics or deleted rows resurrect."""
    from pyspark.sql import functions as F

    if not data_entries:
        sp = current_schema.to_spark()
        if with_lineage:
            sp = sp.add("_file", "string").add("_pos", "long")
        return local_df(spark, [], sp)

    if delete_entries:
        from incubator_iceberg_spark import deletes as DEL
        delete_entries = DEL.filter_relevant_deletes(
            data_entries, delete_entries, current_schema)
    if delete_entries and \
            len(data_entries) * len(delete_entries) <= 2_000_000:
        # split CLEAN files (no scoped delete can touch them) from DIRTY
        # ones: the anti-join then processes only the dirty files' rows
        # instead of every row of the scan — at 100 TB most files of a
        # MoR table are clean at any point in time (reference scan tasks
        # carry per-file delete lists for the same reason)
        clean, dirty = [], []
        for e in data_entries:
            pos, eq = DEL.scope_deletes_for_file(e, delete_entries,
                                                 current_schema)
            (dirty if pos or eq else clean).append(e)
        if clean and dirty:
            return read_entries(spark, md, clean, [], current_schema,
                                with_lineage).unionByName(
                read_entries(spark, md, dirty, delete_entries,
                             current_schema, with_lineage))
        if not dirty:
            delete_entries = []

    # _file/_pos lineage exists for the POSITION-keyed delete joins and
    # explicit callers only: an eq-delete-only scan (the upsert-MoR
    # steady state) anti-joins on VALUES, so attaching lineage would
    # force every data row through a _metadata materialization Catalyst
    # cannot prune (measured: the eq-only sf0.1 scan dropped 0.87→0.30 s
    # when the lineage plumbing disappeared from the plan)
    def _deletes_need_lineage(dels):
        from incubator_iceberg_spark import manifests as _MF
        if any((e.get("content") or 0) == _MF.POSITION_DELETES
               for e in dels):
            return True  # (path, pos) join keys
        # eq-only: sequence scoping still needs the per-file path when
        # the DATA files span several sequences (seq is stamped via a
        # path-keyed broadcast map); one shared sequence is a literal
        return len({e.get("sequence_number") or 0
                    for e in data_entries}) > 1

    need_lineage = with_lineage or (bool(delete_entries)
                                    and _deletes_need_lineage(delete_entries))
    by_group: dict[tuple, list] = {}
    for e in data_entries:
        sid = e.get("schema_id")
        fmt = e.get("file_format") or "parquet"
        by_group.setdefault(
            (sid if sid is not None else current_schema.schema_id, fmt),
            []).append(e)

    parts = []
    for (schema_id, fmt), group_entries in by_group.items():
        paths = [e["file_path"] for e in group_entries]
        if schema_id == MF.HIVE_IMPORT_SCHEMA_ID:
            parts.append(_read_hive_import_group(
                spark, md, group_entries, fmt, current_schema,
                need_lineage))
            continue
        if schema_id == -1:  # mapping.FOREIGN_SCHEMA_ID
            # field-ID-less imported files: resolve physical columns via
            # the stored name mapping (schema.name-mapping.default;
            # parquet/.../ApplyNameMapping.java analog).  Read with the
            # files' own physical schema (mergeSchema unions differing
            # foreign layouts by name), then project each current field
            # from its first present alias; no alias present → NULL.
            from incubator_iceberg_spark import mapping as NM
            nm = NM.table_mapping(md)
            if nm is not None and fmt in ("parquet", "orc"):
                reader = spark.read.option("mergeSchema", "true")
                df = (reader.orc(*paths) if fmt == "orc"
                      else reader.parquet(*paths))
                lineage = None
                if need_lineage:
                    pos = (F.col("_metadata.row_index") if fmt != "orc"
                           else F.lit(None).cast("long"))
                    lineage = [F.col("_metadata.file_path").alias("_file"),
                               pos.alias("_pos")]
                parts.append(NM.apply_to_df(df, nm, current_schema,
                                            extra=lineage))
                continue
            # legacy fallback (mapping property since removed): read with
            # the current schema by name, the pre-mapping behavior
        file_schema = md.schema_by_id(schema_id) if any(
            s.schema_id == schema_id for s in md.schemas) else current_schema
        if fmt == "avro":
            # engine's own distributed container decode (avro_format.py,
            # S7) — binaryFile + mapInArrow; emits real _pos lineage
            from incubator_iceberg_spark import avro_format as AV
            df = AV.read_avro_files(spark, paths, file_schema,
                                    with_lineage=need_lineage)
            extra = ([F.col("_file"), F.col("_pos")] if need_lineage
                     else None)
            df = _project_to_current(df, file_schema, current_schema,
                                     extra=extra)
            parts.append(df)
            continue
        reader = spark.read.schema(file_schema.to_spark())
        df = reader.orc(paths) if fmt == "orc" else reader.parquet(*paths)
        if need_lineage:
            # row_index lineage is parquet-only; ORC rows carry NULL _pos
            # (position deletes reference parquet files by design)
            pos = (F.col("_metadata.row_index") if fmt != "orc"
                   else F.lit(None).cast("long"))
            lineage = [F.col("_metadata.file_path").alias("_file"),
                       pos.alias("_pos")]
            df = _project_to_current(df, file_schema, current_schema, extra=lineage)
        else:
            df = _project_to_current(df, file_schema, current_schema)
        parts.append(df)
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)

    if delete_entries:
        from incubator_iceberg_spark import deletes as DEL
        seq_by_file = {e["file_path"]: e.get("sequence_number") or 0
                       for e in data_entries}
        df = DEL.apply_delete_files(spark, df, seq_by_file, delete_entries,
                                    current_schema,
                                    table_location=md.location)
    if need_lineage and not with_lineage:
        df = df.drop("_file", "_pos")
    return df


def _read_hive_import_group(spark, md, entries, fmt, current_schema,
                            need_lineage):
    """Read Hive-layout imported files (add_files partition_from_path):
    the identity-partition source columns are ABSENT from the data files
    — the path was authoritative at import — so they are served as
    per-file constants from the entries' partition tuples (the
    reference's PartitionUtil.constantsMap contract: identity partition
    values come from metadata, not the file).  One mergeSchema read +
    one broadcast join on the file path; every other column resolves by
    name (absent in a file → NULL)."""
    from pyspark.sql import functions as F

    paths = [e["file_path"] for e in entries]
    reader = spark.read.option("mergeSchema", "true")
    df = reader.orc(*paths) if fmt == "orc" else reader.parquet(*paths)
    # _metadata.file_path is URI-ESCAPED ("a b" → "a%20b"), and Hive
    # layouts routinely contain spaces in key=value segments — decode
    # back to the filesystem path the manifest entries carry (literal
    # '+' is protected first: url_decode is form-decoding)
    df = df.withColumn("__hfile", F.url_decode(F.regexp_replace(
        F.regexp_replace(F.col("_metadata.file_path"), "^file:/*", "/"),
        r"\+", "%2B")))
    if need_lineage:
        # _metadata is a base-relation pseudo-column: capture _pos here,
        # before the constants join hides it
        df = df.withColumn(
            "__hpos", F.col("_metadata.row_index") if fmt != "orc"
            else F.lit(None).cast("long"))

    spec = md.spec()
    part_keys = set((entries[0].get("partition") or {}))
    const_srcs = {}  # current-schema source path -> spec field name
    for f in spec.fields:
        if f.name in part_keys and type(f.transform).__name__ == \
                "IdentityTransform":
            src = current_schema.field_path(f.source_id)
            if src is not None:
                const_srcs[src] = f.name
    import pyspark.sql.types as PT
    c_fields = [PT.StructField("__hfile", PT.StringType()),
                PT.StructField("__hmatch", PT.BooleanType())]
    for src, _fn in const_srcs.items():
        c_fields.append(PT.StructField(
            "__hc_" + src,
            S._to_spark_type(current_schema.find_field(src).type)))
    rows = []
    for e in entries:
        pv = e.get("partition") or {}
        rows.append(tuple([e["file_path"], True] +
                          [pv.get(fn) for fn in const_srcs.values()]))
    consts = local_df(spark, rows, PT.StructType(c_fields))
    # LEFT join + per-row FILTER guard: an escape/decode mismatch between
    # the URI-decoded _metadata.file_path and the manifest entry paths
    # must be an ERROR, not silent row loss (an inner join dropped such
    # rows).  The guard is a Filter node, not a projected column — a
    # column-riding guard gets PRUNED whenever the query doesn't select
    # that column, silently emitting NULL partition constants instead of
    # raising (same forced-evaluation pattern as the MERGE cardinality
    # guard in row_ops).
    df = df.join(F.broadcast(consts), "__hfile", "left")
    df = df.filter(
        F.when(F.col("__hmatch").isNull(),
               F.raise_error(F.concat(
                   F.lit("hive-import path decode mismatch "
                         "(file not in manifest entry set): "),
                   F.col("__hfile"))).cast("boolean"))
        .otherwise(F.lit(True)))

    phys = set(df.columns)
    cols = []
    for f in current_schema.fields:
        spark_t = S._to_spark_type(f.type)
        if f.name in const_srcs:
            expr = F.col("__hc_" + f.name).cast(spark_t)
        elif f.name in phys:
            expr = F.col(f.name).cast(spark_t)
        else:
            expr = F.lit(None).cast(spark_t)
        cols.append(expr.alias(f.name))
    extra = []
    if need_lineage:
        # __hfile is a DECODED plain path (needed for the consts join),
        # but every _file consumer decodes again via _norm_file_col —
        # re-escape literal '%' so that decode is a true inverse for
        # directory names that legitimately contain %-hex sequences
        # (the Column form of row_ops.escape_for_lineage; the string
        # form can't apply to a per-row column)
        extra = [F.regexp_replace(F.col("__hfile"), "%", "%25")
                 .alias("_file"),
                 F.col("__hpos").alias("_pos")]
    return df.select(*cols, *extra)


def _project_to_current(df, file_schema: S.Schema, current: S.Schema, extra=None):
    """Field-ID projection (C11 read side): map the file's columns to the
    current schema by field id — renames resolve to the file's old name,
    added columns become NULL, type promotions cast (int→long etc.)."""
    from pyspark.sql import functions as F

    if file_schema.schema_id == current.schema_id:
        if not extra:
            return df
        # same schema: the field-ID projection is the identity — only
        # the lineage columns need attaching ('*' keeps names, order and
        # types; rebuilding every column cost ~4 py4j calls per field).
        # Guarded on the physical columns matching the schema exactly:
        # the avro reader's frame carries _file/_pos PHYSICALLY, so '*'
        # would duplicate what ``extra`` re-selects.
        if df.columns == [f.name for f in current.fields]:
            return df.select("*", *extra)
    cols = []
    for f in current.fields:
        old = file_schema.find_field(f.field_id)
        spark_t = S._to_spark_type(f.type)
        if old is None:
            cols.append(F.lit(None).cast(spark_t).alias(f.name))
        else:
            old_path = file_schema.field_path(f.field_id)
            cols.append(F.col(old_path).cast(spark_t).alias(f.name))
    return df.select(*cols, *(extra or []))


# ---------------------------------------------------------------------------
# tiny SQL predicate front-end (P16 inverse) — handy for tests/harness
# ---------------------------------------------------------------------------

def parse_predicate(sql: str) -> X.Expression:
    """Parse a small SQL predicate subset into the expression algebra.
    Supports: AND/OR/NOT, comparisons, IN, IS [NOT] NULL, LIKE 'prefix%',
    BETWEEN.  Anything else falls back to an opaque ``SqlPredicate`` —
    row-correct via ``F.expr``, but unprunable on the metadata path."""
    try:
        return _parse_predicate_strict(sql)
    except (ValueError, KeyError, AssertionError, IndexError):
        return X.SqlPredicate(sql)


def _parse_predicate_strict(sql: str) -> X.Expression:
    import re

    tokens = re.findall(
        r"""\(|\)|>=|<=|<>|!=|=|<|>|,|'(?:[^']|'')*'|[A-Za-z_][A-Za-z0-9_.]*|-?\d+\.?\d*""",
        sql)
    pos = [0]

    def peek():
        return tokens[pos[0]] if pos[0] < len(tokens) else None

    def take():
        t = peek()
        pos[0] += 1
        return t

    def kw(t):
        return t is not None and t.upper() in (
            "AND", "OR", "NOT", "IN", "IS", "NULL", "LIKE", "BETWEEN", "TRUE", "FALSE",
            "DATE", "TIMESTAMP")

    def parse_or():
        left = parse_and()
        while peek() and peek().upper() == "OR":
            take()
            left = X.or_(left, parse_and())
        return left

    def parse_and():
        left = parse_not()
        while peek() and peek().upper() == "AND":
            take()
            left = X.and_(left, parse_not())
        return left

    def parse_not():
        if peek() and peek().upper() == "NOT":
            take()
            return X.not_(parse_not())
        return parse_atom()

    def literal(tok):
        if tok.startswith("'"):
            return tok[1:-1].replace("''", "'")
        if tok.upper() == "TRUE":
            return True
        if tok.upper() == "FALSE":
            return False
        if "." in tok:
            return float(tok)
        return int(tok)

    def parse_value():
        t = take()
        if t.upper() in ("DATE", "TIMESTAMP"):
            s = take()
            return literal(s)  # ISO string; coerced at bind time
        return literal(t)

    def parse_atom():
        t = take()
        if t == "(":
            e = parse_or()
            assert take() == ")", "unbalanced parens"
            return e
        col = t
        op = take()
        if op is None:
            raise ValueError(f"dangling column {col}")
        if op.upper() == "IS":
            nxt = take()
            if nxt.upper() == "NOT":
                assert take().upper() == "NULL"
                return X.not_null(col)
            assert nxt.upper() == "NULL"
            return X.is_null(col)
        if op.upper() == "IN":
            assert take() == "("
            vals = []
            while True:
                vals.append(parse_value())
                nxt = take()
                if nxt == ")":
                    break
                assert nxt == ","
            return X.in_(col, vals)
        if op.upper() == "NOT":
            nxt = take()
            if nxt.upper() == "IN":
                assert take() == "("
                vals = []
                while True:
                    vals.append(parse_value())
                    n2 = take()
                    if n2 == ")":
                        break
                    assert n2 == ","
                return X.not_in(col, vals)
            if nxt.upper() == "LIKE":
                pat = parse_value()
                if isinstance(pat, str) and pat.endswith("%") and "%" not in pat[:-1]:
                    return X.not_starts_with(col, pat[:-1])
                raise ValueError(f"unsupported LIKE pattern {pat}")
            raise ValueError(f"unsupported NOT {nxt}")
        if op.upper() == "LIKE":
            pat = parse_value()
            if isinstance(pat, str) and pat.endswith("%") and "%" not in pat[:-1]:
                return X.starts_with(col, pat[:-1])
            raise ValueError(f"unsupported LIKE pattern {pat}")
        if op.upper() == "BETWEEN":
            lo = parse_value()
            assert take().upper() == "AND"
            hi = parse_value()
            return X.and_(X.gt_eq(col, lo), X.lt_eq(col, hi))
        v = parse_value() if op in (">=", "<=", "<", ">", "=", "!=", "<>") else None
        return {
            ">=": lambda: X.gt_eq(col, v), "<=": lambda: X.lt_eq(col, v),
            ">": lambda: X.gt(col, v), "<": lambda: X.lt(col, v),
            "=": lambda: X.eq(col, v), "!=": lambda: X.not_eq(col, v),
            "<>": lambda: X.not_eq(col, v),
        }[op]()

    out = parse_or()
    if pos[0] != len(tokens):
        raise ValueError(f"trailing tokens in predicate: {tokens[pos[0]:]}")
    return out
