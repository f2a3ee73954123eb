"""Row-level operations, copy-on-write (SURVEY.md §2.8 + §3.3).

R1 DELETE  — strict-metadata fast path (whole files dropped without reading
             data, StrictMetricsEvaluator + RewriteDelete.scala:60-62), else
             copy-on-write rewrite of only the touched files.
R2 UPDATE  — rewrite touched files: updated rows ∪ untouched rows
             (RewriteUpdate.scala:55-87).
R3 MERGE   — two-pass: (pass 1) semi-join finds touched files (R4 dynamic
             file filter, DynamicFileFilterExec.scala:83-113); (pass 2)
             full-outer join on ONLY those files with per-row action
             dispatch (RewriteMergeInto.scala:58-176, MergeIntoExec.scala:78-100)
             and the J2 cardinality guard
             (RewriteRowLevelOperationHelper.scala:116-180).

All commits go through OverwriteFiles (C3) with conflict validation against
concurrent appends since the read snapshot.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Optional, Sequence, Union

from incubator_iceberg_spark import evaluators as EV
from incubator_iceberg_spark import expressions as X
from incubator_iceberg_spark import metadata as MD
from incubator_iceberg_spark import snapshots as SN
from incubator_iceberg_spark import write as W
from incubator_iceberg_spark.scan import TableScan


class MergeCardinalityError(Exception):
    """>1 source row matched one target row (TestMerge error-path parity)."""


_CARDINALITY_MSG = "MERGE_CARDINALITY_VIOLATION: a target row matched more than one source row"


# ---------------------------------------------------------------------------
# python-side inclusive metrics check (conflict validation on entry dicts)
# ---------------------------------------------------------------------------

def _pos_delete_targets(pos_entries: list, candidate_paths) -> set:
    """The data-file paths a batch of freshly written position-delete files
    may reference, narrowed by each delete file's ``file_path`` column
    bounds (same trick as DeleteFileIndex referenced-data-file stats).
    Bounds can be truncated prefixes, so upper compares on prefix length;
    missing bounds fall back to every candidate (conservative)."""
    req = set()
    for e in pos_entries:
        lo = (e.get("lower_bounds") or {}).get("file_path")
        hi = (e.get("upper_bounds") or {}).get("file_path")
        if lo is None or hi is None:
            return set(candidate_paths)
        req.update(p for p in candidate_paths
                   if lo <= p and p[:len(hi)] <= hi)
    return req


def entry_might_match(entry: dict, bound: X.Expression) -> bool:
    """InclusiveMetricsEvaluator on a plain manifest-entry dict — used for
    validateNoConflictingAppends during commit retries."""
    if isinstance(bound, X.AlwaysTrue):
        return True
    if isinstance(bound, X.AlwaysFalse):
        return False
    if isinstance(bound, X.And):
        return entry_might_match(entry, bound.left) and entry_might_match(entry, bound.right)
    if isinstance(bound, X.Or):
        return entry_might_match(entry, bound.left) or entry_might_match(entry, bound.right)
    if isinstance(bound, X.SqlPredicate):
        return True
    assert isinstance(bound, X.Predicate)
    from incubator_iceberg_spark import manifests as _MF
    _MF.normalize_entry(entry)
    p = bound.term.path if isinstance(bound.term, X.BoundReference) else bound.term.name
    lower = (entry.get("lower_bounds") or {}).get(p)
    upper = (entry.get("upper_bounds") or {}).get(p)
    nulls = (entry.get("null_counts") or {}).get(p)
    values = (entry.get("value_counts") or {}).get(p)
    op = bound.op

    def cmp_ok(cond):
        return True if cond is None else bool(cond)

    if op == X.IS_NULL:
        return nulls is None or nulls > 0
    if op == X.NOT_NULL:
        return not (nulls is not None and values is not None and nulls == values)
    if op in (X.IS_NAN, X.NOT_NAN, X.NOT_EQ, X.NOT_IN, X.NOT_STARTS_WITH):
        return True
    all_null = nulls is not None and values is not None and nulls >= values
    if all_null:
        return False
    v = bound.literal
    try:
        if op == X.LT:
            return cmp_ok(None if lower is None else lower < v)
        if op == X.LT_EQ:
            return cmp_ok(None if lower is None else lower <= v)
        if op == X.GT:
            return cmp_ok(None if upper is None else upper > v)
        if op == X.GT_EQ:
            return cmp_ok(None if upper is None else upper >= v)
        if op == X.EQ:
            return cmp_ok(None if lower is None else lower <= v) and \
                cmp_ok(None if upper is None else upper >= v)
        if op == X.IN:
            return any(cmp_ok(None if lower is None else lower <= x)
                       and cmp_ok(None if upper is None else upper >= x)
                       for x in bound.literals)
        if op == X.STARTS_WITH:
            n = len(v)
            lo = None if lower is None else str(lower)[:n] <= v
            hi = None if upper is None else str(upper)[:n] >= v
            return cmp_ok(lo) and cmp_ok(hi)
    except TypeError:
        return True
    return True


def _normalize_ts(bound: X.Expression, entry_value):
    return entry_value


# ---------------------------------------------------------------------------
# DELETE (R1)
# ---------------------------------------------------------------------------

class _Cand:
    __slots__ = ("entry", "strict")

    def __init__(self, entry, strict):
        self.entry, self.strict = entry, bool(strict)

    def __getitem__(self, k):
        if k == "strict":
            return self.strict
        return self.entry.get(k)


def _plan_delete_candidates(table, scan, bound):
    """(candidates, delete_entries): DATA-file candidates with a per-file
    strict flag (whole file deletable without reading data) plus any v2
    delete-file entries touching the scan (applied when rewriting).
    Returns (None, []) when the table has no snapshot.  A v2 delete file
    can never be 'strict' deleted here — it is not data."""
    from pyspark.sql import functions as F
    from incubator_iceberg_spark import manifests as MF
    from incubator_iceberg_spark import partitioning as PT
    from incubator_iceberg_spark import py_eval as PE

    md = table.metadata
    local = scan.plan_entries_local()
    if local is not None:
        out = []
        dels = [e for e in local if (e.get("content") or 0) != MF.DATA]
        strict_proj_by_spec: dict = {}
        for e in local:
            if (e.get("content") or 0) != MF.DATA:
                continue
            spec = md.spec_by_id(e.get("spec_id", md.default_spec_id))
            strict = PE.eval_strict_entry(e, bound)
            if not strict and spec.is_partitioned:
                proj = strict_proj_by_spec.get(spec.spec_id)
                if proj is None:
                    proj = PT.project_strict(spec, bound)
                    strict_proj_by_spec[spec.spec_id] = proj
                strict = PE.eval_partition_value(proj, e.get("partition") or {})
            if strict and dels:
                # bounds say every row matches, but a delete file may hide
                # rows — only metadata-drop when no deletes are in play
                strict = False
            out.append(_Cand(e, strict))
        return out, dels

    entries = scan.plan_entries_df()
    if entries is None:
        return None, []
    data, dels = scan._plan_split()
    strict_cols = EV.strict_metrics_filter(bound, entries.schema)
    spec_ids = {r["spec_id"] for r in entries.select("spec_id").distinct().collect()}
    strict_part = None
    for sid in spec_ids:
        spec = md.spec_by_id(sid)
        c = EV.strict_partition_filter(spec, bound, entries.schema) & (F.col("spec_id") == sid)
        strict_part = c if strict_part is None else (strict_part | c)
    strict = strict_cols if strict_part is None else (strict_cols | strict_part)
    rows = entries.filter(F.coalesce(F.col("content"), F.lit(0)) == MF.DATA)         .select("file_path", "schema_id", "record_count", "sequence_number",
                "file_format", strict.alias("strict")).collect()
    out = [_Cand({"file_path": r["file_path"], "schema_id": r["schema_id"],
                  "record_count": r["record_count"],
                  "sequence_number": r["sequence_number"],
                  "file_format": r["file_format"]},
                 bool(r["strict"]) and not dels) for r in rows]
    return out, dels

def delete_where(table, expr: X.Expression, spark=None, extra_added_entries=None,
                 operation: str = "delete") -> dict:
    from pyspark.sql import functions as F

    spark = spark or table.spark
    md = table.metadata
    schema = md.schema()
    bound = X.bind(schema, expr)
    base_snapshot_id = md.current_snapshot_id

    if isinstance(bound, X.AlwaysFalse) and not extra_added_entries:
        return {"deleted_files": 0, "rewritten_files": 0, "deleted_rows": 0}

    scan = TableScan(table, spark, row_filter=expr)
    cand, dels = _plan_delete_candidates(table, scan, bound)
    if cand is None:
        if extra_added_entries:
            table.metadata = SN.append_files(table.ops, extra_added_entries)
        return {"deleted_files": 0, "rewritten_files": 0, "deleted_rows": 0}
    full_drop = [r for r in cand if r["strict"]]
    rewrite = [r for r in cand if not r["strict"]]

    new_entries = list(extra_added_entries or [])
    kept_records = 0
    if rewrite:
        from incubator_iceberg_spark.scan import read_entries
        kept = read_entries(spark, md, [r.entry for r in rewrite], dels, schema)
        cond = X.to_column(bound)
        kept = kept.filter(~F.coalesce(cond, F.lit(False)))
        staged = W.stage_write(spark, md.location, kept, schema, md.spec(),
                               sort_order=md.sort_order(),
                               file_format=W.table_format(md),
                               properties=md.properties)
        kept_records = sum(e["record_count"] for e in staged)
        new_entries.extend(staged)

    deleted_paths = {r["file_path"] for r in cand}
    if not deleted_paths and not new_entries:
        return {"deleted_files": 0, "rewritten_files": 0, "deleted_rows": 0}

    table.metadata = SN.overwrite_files(
        table.ops, new_entries, deleted_paths,
        operation=operation,
        base_snapshot_id=base_snapshot_id,
        conflict_detection_filter=lambda e: entry_might_match(e, bound),
        # kept rows are carried into new files with a higher sequence
        # number — a delete file landing after our read point would
        # silently stop applying to them (validateNoNewDeleteFiles);
        # metadata-only drops carry nothing forward and skip the check
        validate_new_deletes=bool(new_entries),
    )
    dropped_rows = sum(r["record_count"] or 0 for r in cand)
    return {
        "deleted_files": len(full_drop),
        "rewritten_files": len(rewrite),
        "deleted_rows": dropped_rows - kept_records,
        "metadata_only": len(rewrite) == 0,
    }


def escape_for_lineage(path: str) -> str:
    """Emit-side counterpart of ``_norm_file_col``: turn a RAW
    filesystem path (binaryFile's ``path``, a manifest entry path — NOT
    the percent-escaped ``_metadata.file_path``) into a ``_file`` value
    whose consumer-side url_decode is a true inverse.  Strips a
    ``file:`` scheme WITHOUT decoding, then escapes literal '%' so a
    directory legitimately named 'a%20b' survives the round trip.  The
    encoding contract lives HERE and in ``_norm_file_col`` only — every
    emit site must call this rather than re-implementing it."""
    if path.startswith("file:"):
        path = path[len("file:"):]
        while path.startswith("//"):
            path = path[1:]
    return path.replace("%", "%25")


def _norm_file_col(col: str = "_file"):
    """Column form of normalize_file_uri: ``_metadata.file_path`` URIs
    (file:/…, file:///…, percent-ESCAPED — "a b" → "a%20b") → the plain
    filesystem paths manifests store.  Skipping the percent-decode
    silently mismatches every path-keyed join under an escaped character
    (deletes stop applying, MERGE's touched-file probe finds nothing);
    literal '+' is protected first because url_decode is form-decoding."""
    from pyspark.sql import functions as F
    return F.url_decode(F.regexp_replace(
        F.regexp_replace(F.col(col), "^file:/+", "/"), r"\+", "%2B"))


def delete_where_mor(table, expr: X.Expression, spark=None) -> dict:
    """R1 merge-on-read: write POSITION DELETE files for the matching rows
    instead of rewriting the touched data files (v2 RowDelta write path,
    core/.../BaseRowDelta.java analog).  The natural choice when
    touched-file bytes ≫ deleted rows: a 1%-selectivity delete writes ~1%
    of the bytes CoW would.  Strict (whole-file) candidates are still
    dropped metadata-only in the SAME atomic commit — a position-delete
    list for every row of a file would be strictly worse."""
    from pyspark.sql import functions as F
    from incubator_iceberg_spark import deletes as DEL

    spark = spark or table.spark
    md = table.metadata
    schema = md.schema()
    bound = X.bind(schema, expr)
    base_snapshot_id = md.current_snapshot_id
    empty = {"deleted_files": 0, "delete_files_written": 0,
             "deleted_rows": 0, "mode": "merge-on-read"}

    if isinstance(bound, X.AlwaysFalse):
        return empty
    scan = TableScan(table, spark, row_filter=expr)
    cand, dels = _plan_delete_candidates(table, scan, bound)
    if cand is None:
        return empty
    full_drop = [r for r in cand if r["strict"]]
    mor = [r for r in cand if not r["strict"]]

    new_entries = []
    marked_rows = 0
    if mor:
        from incubator_iceberg_spark.scan import read_entries
        df = read_entries(spark, md, [r.entry for r in mor], dels, schema,
                          with_lineage=True)
        cond = X.to_column(bound)
        pos = (df.filter(F.coalesce(cond, F.lit(False)))
               .select(_norm_file_col().alias("file_path"),
                       F.col("_pos").alias("pos"))
               # the read path merge-applies deletes per file; sorted
               # positions let it stream instead of hash
               .sortWithinPartitions("file_path", "pos"))
        # inclusive stats can admit files whose rows don't actually
        # match: write_position_deletes drops empty delete files, and
        # honors write.delete.format=dv (deletion vectors)
        new_entries = DEL.write_position_deletes(
            spark, md, pos, len(mor),
            path_partitions=DEL._partition_scope([r.entry for r in mor], md))
        marked_rows = sum(e["record_count"] for e in new_entries)

    deleted_paths = {r["file_path"] for r in full_drop}
    if not deleted_paths and not new_entries:
        return empty
    table.metadata = SN.overwrite_files(
        table.ops, new_entries, deleted_paths,
        operation="delete",
        base_snapshot_id=base_snapshot_id,
        conflict_detection_filter=lambda e: entry_might_match(e, bound),
        # the position deletes target (file_path, pos) of files planned at
        # the read point; if a concurrent commit rewrote one, the delete
        # would reference a dead path and its rows would resurrect
        # (BaseRowDelta.validateDataFilesExist)
        required_data_files=_pos_delete_targets(
            new_entries, [r["file_path"] for r in mor]),
    )
    return {
        "deleted_files": len(full_drop),
        "delete_files_written": len(new_entries),
        "deleted_rows": marked_rows + sum(r["record_count"] or 0
                                          for r in full_drop),
        "mode": "merge-on-read",
    }


def update_mor(table, assignments: dict, condition: X.Expression,
               spark=None) -> dict:
    """R2 merge-on-read UPDATE: one RowDelta commit with (a) position
    deletes for the matched rows and (b) new data files holding their
    updated copies.  Untouched rows in touched files are NOT rewritten —
    bytes written scale with matched rows, not touched-file size."""
    from pyspark.sql import functions as F
    from incubator_iceberg_spark import deletes as DEL

    spark = spark or table.spark
    md = table.metadata
    schema = md.schema()
    bound = X.bind(schema, condition)
    base_snapshot_id = md.current_snapshot_id

    scan = TableScan(table, spark, row_filter=condition)
    data, dels = scan._plan_split()
    if not data:
        return {"delete_files_written": 0, "staged_files": 0,
                "mode": "merge-on-read"}
    from incubator_iceberg_spark.scan import read_entries
    df = read_entries(spark, md, data, dels, schema, with_lineage=True)
    cond = F.coalesce(X.to_column(bound), F.lit(False))
    matched = df.filter(cond)
    matched = matched.persist()  # two consumers: pos deletes + new copies

    pos = (matched.select(_norm_file_col().alias("file_path"),
                          F.col("_pos").alias("pos"))
           .sortWithinPartitions("file_path", "pos"))
    pos_entries = DEL.write_position_deletes(
        spark, md, pos, len(data),
        path_partitions=DEL._partition_scope(data, md))
    if not pos_entries:
        # stats admitted files but no row matched: nothing to commit
        matched.unpersist()
        return {"delete_files_written": 0, "staged_files": 0,
                "mode": "merge-on-read"}

    exprs = {}
    for col, val in assignments.items():
        f = schema.find_field(col)
        if f is None:
            raise ValueError(f"unknown column in UPDATE SET: {col}")
        exprs[col] = _value_expr(val).cast(_spark_type(schema, col))
    updated = matched.select(*[
        (exprs[f.name].alias(f.name) if f.name in exprs else F.col(f.name))
        for f in schema.fields])
    data_entries = W.stage_write(spark, md.location, updated, schema,
                                 md.spec(), sort_order=md.sort_order(),
                                 file_format=W.table_format(md),
                                 properties=md.properties)
    matched.unpersist()

    touched = {e["file_path"] for e in data}
    table.metadata = SN.overwrite_files(
        table.ops, pos_entries + data_entries, set(),
        operation="overwrite",
        base_snapshot_id=base_snapshot_id,
        conflict_detection_filter=lambda e: entry_might_match(e, bound),
        # updated copies carry rows forward from the touched files at a new
        # sequence number → concurrent delete files must conflict; and the
        # position deletes must still reference live data files
        validate_new_deletes=touched,
        required_data_files=_pos_delete_targets(pos_entries, touched),
    )
    return {"delete_files_written": len(pos_entries),
            "staged_files": len(data_entries), "mode": "merge-on-read"}


# ---------------------------------------------------------------------------
# UPDATE (R2)
# ---------------------------------------------------------------------------

def update(table, assignments: dict, condition: X.Expression, spark=None) -> dict:
    from pyspark.sql import functions as F

    spark = spark or table.spark
    md = table.metadata
    schema = md.schema()
    bound = X.bind(schema, condition)
    base_snapshot_id = md.current_snapshot_id

    scan = TableScan(table, spark, row_filter=condition)
    data, dels = scan._plan_split()
    if not data:
        return {"rewritten_files": 0, "updated_rows": 0}
    from incubator_iceberg_spark.scan import read_entries
    df = read_entries(spark, md, data, dels, schema)

    # single projection: every RHS sees PRE-update values (SQL UPDATE
    # semantics — sequential withColumn would leak updated values)
    cond = F.coalesce(X.to_column(bound), F.lit(False))
    exprs = {}
    for col, val in assignments.items():
        f = schema.find_field(col)
        if f is None:
            raise ValueError(f"unknown column in UPDATE SET: {col}")
        c = _value_expr(val)
        exprs[col] = F.when(cond, c.cast(_spark_type(schema, col))).otherwise(F.col(col))
    out = df.select(*[
        (exprs[f.name].alias(f.name) if f.name in exprs else F.col(f.name))
        for f in schema.fields])

    staged = W.stage_write(spark, md.location, out, schema, md.spec(),
                           sort_order=md.sort_order(),
                           file_format=W.table_format(md),
                           properties=md.properties)
    table.metadata = SN.overwrite_files(
        table.ops, staged, {e["file_path"] for e in data},
        operation="overwrite",
        base_snapshot_id=base_snapshot_id,
        conflict_detection_filter=lambda e: entry_might_match(e, bound),
        validate_new_deletes=True,
    )
    return {"rewritten_files": len(data), "staged_files": len(staged)}


def _spark_type(schema, col):
    from incubator_iceberg_spark import schema as S
    return S._to_spark_type(schema.find_field(col).type)


def _value_expr(val):
    from pyspark.sql import Column, functions as F
    if isinstance(val, Column):
        return val
    if isinstance(val, str):
        return F.expr(val)
    return F.lit(val)


# ---------------------------------------------------------------------------
# MERGE INTO (R3 + R4 + J1 + J2)
# ---------------------------------------------------------------------------

@dataclass
class WhenMatched:
    condition: Optional[str] = None  # SQL over aliases t (target), s (source)
    update: Optional[dict] = None  # col → SQL/Column/literal
    delete: bool = False

    @staticmethod
    def update_all(condition: Optional[str] = None) -> "WhenMatched":
        return WhenMatched(condition=condition, update={"*": "*"})


@dataclass
class WhenNotMatched:
    condition: Optional[str] = None
    insert: Optional[dict] = None  # col → SQL/Column/literal; None → by name

    @staticmethod
    def insert_all(condition: Optional[str] = None) -> "WhenNotMatched":
        return WhenNotMatched(condition=condition, insert=None)


@dataclass
class WhenNotMatchedBySource:
    """Acts on TARGET rows with no source match (post-v0.11 SQL surface;
    the condition may reference only ``t.`` columns — source side is null)."""
    condition: Optional[str] = None
    update: Optional[dict] = None  # col → SQL/Column/literal
    delete: bool = False


def merge_into(table, source_df, on, when_matched=None, when_not_matched=None,
               when_not_matched_by_source=None, spark=None,
               check_cardinality: bool = True, evolve_schema: bool = False,
               extra_summary: Optional[dict] = None,
               extra_properties: Optional[dict] = None) -> dict:
    from pyspark.sql import functions as F

    spark = spark or table.spark
    if evolve_schema:
        # add source-only columns to the target schema (union-by-name,
        # UnionByNameVisitor.java analog) so inserts/updates can carry them
        from incubator_iceberg_spark.schema import Schema as _Schema
        cur = table.metadata.schema()
        src_schema = _Schema.from_spark(source_df.schema)
        if any(cur.find_field(f.name) is None for f in src_schema.fields):
            table.update_schema().union_by_name(src_schema).commit()
    md = table.metadata
    schema = md.schema()
    base_snapshot_id = md.current_snapshot_id
    when_matched = list(when_matched or [])
    when_not_matched = list(when_not_matched or [])
    by_source = list(when_not_matched_by_source or [])

    def cond_expr(on):
        if isinstance(on, str):
            return F.expr(on)
        if isinstance(on, (list, tuple)):
            c = None
            for k in on:
                e = F.col(f"t.{k}") == F.col(f"s.{k}")
                c = e if c is None else (c & e)
            return c
        return on  # Column

    # ---- pass 1: dynamic file filter (R4) -------------------------------
    scan = TableScan(table, spark)
    data, dels = scan._plan_split()
    if by_source:
        # WHEN NOT MATCHED BY SOURCE can change any target row WITHOUT a
        # match — unmatched rows are only identifiable in the join, so
        # every data file is a rewrite candidate (no dynamic pruning)
        touched = [e["file_path"] for e in data]
    else:
        target_all = scan.to_df(with_lineage=True)
        join_cond = cond_expr(on)
        # stream the touched-file list instead of collect(): bounded by the
        # distinct file count, but at 10^6-file tables a single collect would
        # materialize the whole list in one driver RPC (same pattern as
        # scan.plan_entries' toLocalIterator)
        touched_rows = (target_all.alias("t")
                        .join(source_df.alias("s"), join_cond, "left_semi")
                        .select("_file").distinct())
        touched = [normalize_file_uri(r["_file"])
                   for r in touched_rows.toLocalIterator()]

    # ---- pass 2: full-outer join on touched files only ------------------
    from incubator_iceberg_spark.scan import read_entries
    by_path = {e["file_path"]: e for e in data}
    touched_entries = [by_path[p] for p in touched if p in by_path]
    tdf = read_entries(spark, md, touched_entries, dels, schema,
                       with_lineage=True)

    src = source_df.withColumn("__s_exists", F.lit(True))
    tgt = tdf.withColumn("__t_exists", F.lit(True))
    join_cond = cond_expr(on)
    # Join-strategy split (guide §3.1/§2.4): a FULL OUTER join can never
    # broadcast, so the main pass used to shuffle + sort the FULL-WIDTH
    # touched-file rows even when the source is a tiny CDC batch
    # (SortMergeJoin FullOuter, plans/r11/*_before.txt).  Source-only
    # rows are only needed for WHEN NOT MATCHED inserts, and target-only
    # rows only for BY SOURCE — so when there are no BY SOURCE clauses
    # the same result decomposes into
    #   (a) tgt LEFT OUTER src  — target rows preserved; with a small
    #       source this plans as a BroadcastHashJoin and the target is
    #       never shuffled at all;
    #   (b) src LEFT ANTI tgt   — the insert rows; the target side is
    #       column-pruned to the join keys by Catalyst, so the second
    #       pass over the touched files reads keys, not payloads.
    # With a big source both branches degrade to the same SMJ the full
    # outer produced (the anti side shuffles only key columns), so the
    # split never moves MORE bytes than the old plan.
    split = not by_source
    joined = tgt.alias("t").join(src.alias("s"), join_cond,
                                 "left_outer" if split else "full_outer")
    t_exists = (F.lit(True) if split
                else F.coalesce(F.col("t.__t_exists"), F.lit(False)))
    s_exists = F.coalesce(F.col("s.__s_exists"), F.lit(False))

    # ---- J2 cardinality guard, fused into the main pass ------------------
    # A separate count job would recompute the full-outer join; instead a
    # window count per target row feeds a raise_error guard that fires
    # while the SAME join computes the merge output (one pass total).
    #
    # Equi-key fast path: with `on` as a key list, a target row can match
    # >1 source rows ONLY if the source has duplicate keys (NULL keys never
    # equi-match). A limit-1 aggregate on the (small) source decides that
    # without shuffling the whole rewrite set by (_file,_pos).
    need_guard = bool(check_cardinality and touched)
    if need_guard and isinstance(on, (list, tuple)):
        has_dup_keys = bool(
            source_df.groupBy(*[F.col(k) for k in on])
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1).limit(1).collect())
        need_guard = has_dup_keys
    if need_guard:
        from pyspark.sql.window import Window
        w = Window.partitionBy(F.col("t._file"), F.col("t._pos"))
        match_cnt = F.sum(F.when(t_exists & s_exists, 1).otherwise(0)).over(w)
        guard = F.when(
            t_exists & s_exists & (match_cnt > 1),
            F.raise_error(F.lit(_CARDINALITY_MSG)).cast("boolean")
        ).otherwise(F.lit(True))
        # the filter forces per-row evaluation of the guard (a bare column
        # would be pruned away by Catalyst and never raise)
        joined = joined.withColumn("__guard", guard).filter(F.col("__guard"))

    # ---- action dispatch -------------------------------------------------
    KEEP, DROP = -1, -2
    action = None
    for j, bs in enumerate(by_source):
        c = t_exists & ~s_exists
        if bs.condition:
            c = c & F.coalesce(F.expr(bs.condition), F.lit(False))
        step = F.lit(DROP) if bs.delete else F.lit(2000 + j)
        action = F.when(c, step) if action is None else action.when(c, step)
    keep_unmatched = F.when(t_exists & ~s_exists, F.lit(KEEP))
    action = keep_unmatched if action is None else action.when(
        t_exists & ~s_exists, F.lit(KEEP))
    idx = 0
    matched_case = None
    for i, m in enumerate(when_matched):
        c = t_exists & s_exists
        if m.condition:
            c = c & F.coalesce(F.expr(m.condition), F.lit(False))
        step = F.lit(DROP) if m.delete else F.lit(i)
        matched_case = c if matched_case is None else matched_case
        action = action.when(c, step)
    action = action.when(t_exists & s_exists, F.lit(KEEP))  # no clause → keep
    for j, nm in enumerate(when_not_matched):
        c = s_exists & ~t_exists
        if nm.condition:
            c = c & F.coalesce(F.expr(nm.condition), F.lit(False))
        action = action.when(c, F.lit(1000 + j))
    action = action.otherwise(F.lit(DROP))

    joined = joined.withColumn("__action", action).filter(F.col("__action") != DROP)

    src_cols = {c.lower(): c for c in source_df.columns}
    out_cols = []
    for f in schema.fields:
        col = F.when(F.col("__action") == KEEP, F.col(f"t.{f.name}"))
        for i, m in enumerate(when_matched):
            if m.delete:
                continue
            upd = m.update or {}
            if "*" in upd:  # update_all: source column by name
                sc = src_cols.get(f.name.lower())
                val = F.col(f"s.{sc}") if sc else F.col(f"t.{f.name}")
            elif f.name in upd:
                val = _value_expr(upd[f.name])
            else:
                val = F.col(f"t.{f.name}")
            col = col.when(F.col("__action") == i, val)
        for j, nm in enumerate(when_not_matched):
            if nm.insert is None:
                sc = src_cols.get(f.name.lower())
                val = F.col(f"s.{sc}") if sc else F.lit(None)
            else:
                val = _value_expr(nm.insert[f.name]) if f.name in nm.insert else F.lit(None)
            col = col.when(F.col("__action") == 1000 + j, val)
        for j, bs in enumerate(by_source):
            if bs.delete:
                continue
            upd = bs.update or {}
            val = _value_expr(upd[f.name]) if f.name in upd else F.col(f"t.{f.name}")
            col = col.when(F.col("__action") == 2000 + j, val)
        from incubator_iceberg_spark import schema as S
        out_cols.append(col.cast(S._to_spark_type(f.type)).alias(f.name))
    result = joined.select(*out_cols)

    if split and when_not_matched:
        # insert branch of the split plan: source rows with no target
        # match.  Probing against the touched-file rows is equivalent to
        # the old full-outer's source-only rows — the pass-1 semi-join
        # guarantees every file containing a matching key is in
        # ``touched``, so a source row unmatched there is unmatched
        # everywhere.  NOTE: insert expressions may reference only
        # ``s.`` columns (the full-outer form evaluated ``t.`` as NULL;
        # here the target side is absent entirely — same constraint the
        # SQL surface imposes on INSERT VALUES).
        from incubator_iceberg_spark import schema as S
        anti = src.alias("s").join(tgt.alias("t"), join_cond, "left_anti")
        ins_action = None
        for j, nm in enumerate(when_not_matched):
            c = (F.coalesce(F.expr(nm.condition), F.lit(False))
                 if nm.condition else F.lit(True))
            step = F.lit(1000 + j)
            ins_action = (F.when(c, step) if ins_action is None
                          else ins_action.when(c, step))
        ins_action = ins_action.otherwise(F.lit(DROP))
        anti = (anti.withColumn("__action", ins_action)
                .filter(F.col("__action") != DROP))
        ins_cols = []
        for f in schema.fields:
            col = None
            for j, nm in enumerate(when_not_matched):
                if nm.insert is None:
                    sc = src_cols.get(f.name.lower())
                    val = F.col(f"s.{sc}") if sc else F.lit(None)
                else:
                    val = (_value_expr(nm.insert[f.name])
                           if f.name in nm.insert else F.lit(None))
                w = F.col("__action") == 1000 + j
                col = F.when(w, val) if col is None else col.when(w, val)
            ins_cols.append(col.cast(S._to_spark_type(f.type)).alias(f.name))
        result = result.unionByName(anti.select(*ins_cols))

    try:
        staged = W.stage_write(spark, md.location, result, schema, md.spec(),
                               sort_order=md.sort_order(),
                               file_format=W.table_format(md),
                               properties=md.properties)
    except Exception as e:
        if _CARDINALITY_MSG in str(e):
            raise MergeCardinalityError(
                "MERGE: a target row matched more than one source row") from None
        raise
    if not touched and not staged:
        if extra_summary:  # e.g. streaming epoch marker must still commit
            table.metadata = SN.append_files(
                table.ops, [], extra_summary=extra_summary,
                extra_properties=extra_properties)
        return {"touched_files": 0, "written_files": 0}
    table.metadata = SN.overwrite_files(
        table.ops, staged, set(touched),
        operation="overwrite",
        extra_summary=extra_summary,
        base_snapshot_id=base_snapshot_id,
        conflict_detection_filter=None,  # serializable: any concurrent append conflicts
        validate_new_deletes=True,
        extra_properties=extra_properties,
    )
    return {"touched_files": len(touched), "written_files": len(staged)}


def normalize_file_uri(p: str) -> str:
    """``_metadata.file_path`` yields a ``file:/...`` URI (1-3 slashes,
    percent-ESCAPED); manifests store plain filesystem paths — normalize
    for set membership.  urllib.unquote leaves '+' alone (it is not
    form-decoding), so no protection step is needed here."""
    if p.startswith("file:"):
        p = p[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
    if "%" in p:
        from urllib.parse import unquote
        p = unquote(p)
    return p
