"""Format-v2 delete files (M8 in SURVEY.md §7; §2.4 J3).

Position deletes  — parquet rows (file_path string, pos long): row `pos`
                    of data file `file_path` is deleted.  Applied as a
                    left-anti join on (file, row_index) using Spark's
                    ``_metadata`` lineage columns (DeleteFileIndex.java:65-123,
                    deletes/Deletes.java:46-125 re-expressed).
Deletion vectors  — the same position deletes as one bitmap row per data
                    file (delete_vectors.py), chosen by the table
                    property ``write.delete.format=dv``.
Equality deletes  — parquet rows holding the equality columns; any data row
                    matching on those columns is deleted.  Applied as a
                    left-anti join on the equality columns.

Sequence-number scoping (DeleteFileIndex semantics):
- a position delete applies to data files with sequence_number <= its own;
- an equality delete applies to data files with sequence_number < its own
  (rows written together with the delete are NOT affected).

Write path: ``_write_delete_parquet`` writes every delete file (pos
parquet, deletion vector, equality key) and harvests entries through the
data writer's tail (``write.file_entries``); ``write_position_deletes``
picks the position-delete format and layout.  ``add_position_deletes`` /
``add_equality_deletes`` commit a RowDelta-style snapshot (C6) with
content=1/2 manifest entries; the data plane applies them on every
subsequent scan until compaction rewrites the affected files.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Optional

from incubator_iceberg_spark import delete_vectors as DV
from incubator_iceberg_spark import manifests as MF
from incubator_iceberg_spark import schema as S
from incubator_iceberg_spark import snapshots as SN
from incubator_iceberg_spark import write as W
from incubator_iceberg_spark.session import local_df

POS_DELETE_SCHEMA = S.Schema([
    S.NestedField(2147483546, "file_path", S.StringType(), required=True),
    S.NestedField(2147483545, "pos", S.LongType(), required=True),
])

#: max decoded (path, pos, seq) tuples the position-delete anti-join
#: will broadcast (~100 B/tuple in-memory → tens of MB); above this the
#: join shuffles both sides on the equi keys instead
BROADCAST_MAX_DELETE_TUPLES = 1_000_000

#: rows per output of a range-laid delete write: position tuples
#: (~50 MB per file) and equality keys (every affected read opens each
#: eq-delete file, so keys are consolidated rather than data-partitioned)
POS_TUPLES_PER_FILE = 5_000_000
EQ_KEYS_PER_FILE = 2_000_000

# above this many bytes of staged files, the eq-key derivation goes back
# through a (column-pruned) Spark scan instead of driver-side pyarrow —
# the driver never materializes more than this many key bytes
EQ_KEYS_DRIVER_MAX_BYTES = 128 * 1024 * 1024


def range_layout(df, n_out: int, *cols):
    """Range-partition + in-partition sort for consolidated delete-file
    layouts, with the ``n_out == 1`` case rewritten as
    ``coalesce(1) + sort``: one output file needs no range boundaries,
    so the range partitioner's SAMPLING pass and its shuffle are pure
    overhead (one extra Spark job per maintenance pass / sink epoch —
    the r10 per-commit-fixed-cost work).  The n_out==1 single task must
    be cheap to feed: callers either persist ``df`` first or hold a
    SOUND small bound on its size (convert's dirty-rows bound) — and a
    shuffle boundary in the lineage (distinct/dropDuplicates) keeps the
    map side parallel regardless."""
    if n_out <= 1:
        return df.coalesce(1).sortWithinPartitions(*cols)
    return df.repartitionByRange(n_out, *cols).sortWithinPartitions(*cols)


def _partition_scope(entries, md):
    """file_path → (spec_id, partition dict) for partition-SCOPED delete
    writes — only when every candidate entry carries its partition tuple
    (local planning on a partitioned table).  None → deletes stay global
    (DF-planned subsets don't materialize partition values; unpartitioned
    tables have nothing to scope)."""
    out = {}
    for e in entries:
        sid = e.get("spec_id", md.default_spec_id)
        spec = md.spec_by_id(sid)
        if spec is None or not spec.is_partitioned:
            return None
        part = e.get("partition")
        if not isinstance(part, dict):
            return None
        out[e["file_path"]] = (sid, dict(part))
    return out or None


def _write_delete_parquet(spark, table_location: str, df, schema: S.Schema,
                          content: int, keys=None, scope: Optional[dict] = None,
                          n_out: Optional[int] = None,
                          file_format: str = "parquet",
                          file_stats=None) -> list:
    """Write delete rows as parquet under data/; return entries stamped
    with ``content``.  Layout, by the first rule that applies:

    - ``scope`` (file_path → (spec_id, partition dict), from
      ``_partition_scope``) naming two or more partitions:
      PARTITION-SCOPED like the reference's delete files — each output
      file belongs to exactly ONE partition, recorded on its entry, so
      a scan of an untouched partition never plans it and dynamic
      partition overwrites drop it with its data files.  A
      one-partition scope falls through and stamps that partition.
    - ``n_out``: ``range_layout`` on ``keys`` (default: all columns).
    - otherwise the input's own partitioning.

    ``file_stats`` (path → stats dict) replaces the footer-stats
    harvest and ``file_format`` the entries' format (deletion vectors
    count deleted positions, not rows).

    The file → partition-group map joins in as a LocalRelation
    (``session.local_df``), not a DataFrame built from a Python list:
    a list goes through ``parallelize`` + a Python ``map``, which would
    add a Python-worker job to every scoped MoR delete write."""
    from pyspark.sql import functions as F

    keys = list(keys or [f.name for f in schema.fields])
    staging = os.path.join(table_location, "data", "deletes-" + uuid.uuid4().hex)
    groups, pk_rows, gid_of_key = {}, [], {}
    for p, (sid, part) in (scope or {}).items():
        key = json.dumps([sid, part], sort_keys=True, default=str)
        gid = gid_of_key.setdefault(key, len(gid_of_key))
        groups[gid] = (sid, part)
        pk_rows.append((p, gid))
    df = W.align_to_schema(df, schema)
    if len(groups) > 1:
        map_df = local_df(spark, pk_rows, "file_path string, __pk int")
        # numbered width: AQE would coalesce repartition("__pk") to
        # one task that writes every partition dir serially
        (df.join(F.broadcast(map_df), "file_path", "inner")
         .repartition(W.write_shuffle_width(df, len(groups)), "__pk")
         .sortWithinPartitions("__pk", *keys)
         .write.mode("errorifexists").partitionBy("__pk").parquet(staging))
    else:
        if n_out:
            df = range_layout(df, n_out, *keys)
        df.write.mode("errorifexists").parquet(staging)
    return _staged_delete_entries(spark, staging, schema, content, groups,
                                  file_format, file_stats)


def _staged_delete_entries(spark, staging: str, schema: S.Schema,
                           content: int, groups: dict,
                           file_format: str = "parquet",
                           file_stats=None) -> list:
    """List → stats → entries for the delete files under ``staging``;
    ``groups`` (partition-group id → (spec_id, partition)) stamps each
    file's partition from its ``__pk=N`` directory (one group: all)."""
    files = W._list_data_files(staging)
    stats = (W.map_files(file_stats, files) if file_stats is not None
             else W.collect_file_stats(spark, files, schema))
    extra = {"content": content}
    if content == MF.EQUALITY_DELETES:
        extra["equality_ids"] = [f.field_id for f in schema.fields]
        extra["eq_schema_fp"] = eq_schema_fingerprint(schema)

    def stamp(e):
        e.update(extra)
        seg = os.path.basename(os.path.dirname(e["file_path"]))
        gid = int(seg[5:]) if seg.startswith("__pk=") else 0
        if gid in groups:
            e["spec_id"], e["partition"] = groups[gid]

    return W.file_entries(stats, file_format, stamp)


def write_position_deletes(spark, md, pos_df, n_files_hint: int,
                           path_partitions: Optional[dict] = None,
                           n_tuples_hint: Optional[int] = None,
                           fmt: Optional[str] = None) -> list:
    """Write (file_path, pos) tuples as position-delete files; returns
    content-stamped entries.  The one place that picks format and
    layout, for the MoR DELETE / UPDATE writes and the delete
    maintenance:

    - ``fmt`` (default: table property ``write.delete.format``): 'dv' →
      deletion vectors, one bitmap row per data file; else pos parquet;
    - ``path_partitions`` → partition-scoped files;
    - otherwise a range layout sized from a sound upper bound the
      caller holds driver-side — no count job, no persist (an
      over-estimate only splits the output; empty files are dropped):
      ``n_files_hint`` (touched data files) bounds the DV rows,
      ``n_tuples_hint`` the pos tuples (without it pos parquet keeps
      the input's partitioning)."""
    if (fmt or md.properties.get("write.delete.format")) == DV.DV_FORMAT:
        return _write_delete_parquet(
            spark, md.location, DV.dv_rows_from_pos(pos_df), DV.DV_SCHEMA,
            MF.POSITION_DELETES, keys=["file_path"], scope=path_partitions,
            n_out=max(1, -(-n_files_hint // DV.ROWS_PER_FILE)),
            file_format=DV.DV_FORMAT, file_stats=DV.dv_file_stats)
    n_out = None if n_tuples_hint is None else \
        max(1, -(-n_tuples_hint // POS_TUPLES_PER_FILE))
    return _write_delete_parquet(spark, md.location, pos_df,
                                 POS_DELETE_SCHEMA, MF.POSITION_DELETES,
                                 scope=path_partitions, n_out=n_out)


def eq_keys_from_staged(spark, table_location: str, staged_entries: list,
                        del_schema: S.Schema) -> list:
    """Equality-delete key file derived from the epoch's own STAGED data
    files instead of a second pass over the batch DataFrame; returns
    content-stamped entries.

    When an upsert-MoR epoch has no op_col, the staged rows' keys ARE the
    batch's keys (the batch is key-deduped before staging), so re-running
    the batch lineage — a dedicated Spark job per epoch, plus the persist
    that feeds it — is pure fixed cost.  Small epochs (the streaming
    steady state) read the key columns straight out of the staged parquet
    with pyarrow on the driver: zero extra Spark jobs per epoch.  Epochs
    past EQ_KEYS_DRIVER_MAX_BYTES fall back to ONE column-pruned Spark
    scan of the staged files — still never the upstream batch.
    Column order follows ``del_schema`` == equality_ids order (the eq
    readers resolve by position)."""
    cols = [f.name for f in del_schema.fields]
    paths = [e["file_path"] for e in staged_entries]
    total = sum(e.get("file_size_bytes") or 0 for e in staged_entries)
    n_keys = sum(e.get("record_count") or 0 for e in staged_entries)
    if total > EQ_KEYS_DRIVER_MAX_BYTES or n_keys > EQ_KEYS_PER_FILE:
        return _write_delete_parquet(
            spark, table_location, spark.read.parquet(*paths).select(*cols),
            del_schema, MF.EQUALITY_DELETES,
            n_out=max(1, -(-n_keys // EQ_KEYS_PER_FILE)))
    import pyarrow as pa
    import pyarrow.parquet as pq
    tabs = [pq.read_table(p, columns=cols) for p in paths]
    tbl = tabs[0] if len(tabs) == 1 else pa.concat_tables(tabs)
    # sorted keys → tight per-file bounds for scope_deletes_for_file
    tbl = tbl.sort_by([(c, "ascending") for c in cols])
    staging = os.path.join(table_location, "data",
                           "deletes-" + uuid.uuid4().hex)
    os.makedirs(staging, exist_ok=True)
    pq.write_table(tbl, os.path.join(staging, "part-00000.parquet"),
                   compression="zstd")
    return _staged_delete_entries(spark, staging, del_schema,
                                  MF.EQUALITY_DELETES, {})


def add_position_deletes(table, pos_df, spark=None):
    """Commit position deletes: DataFrame of (file_path, pos).  file_path
    must match manifest-recorded data file paths (plain paths, no scheme).
    Their bounds are keyed by delete-file columns, not table columns, so
    they don't take part in table-column metrics pruning."""
    spark = spark or table.spark
    entries = _write_delete_parquet(spark, table.location, pos_df,
                                    POS_DELETE_SCHEMA, MF.POSITION_DELETES)
    table.metadata = SN.append_files(table.ops, entries, operation="delete")
    return table


def add_equality_deletes(table, del_df, equality_cols, spark=None):
    """Commit equality deletes: any data row equal to a delete row on
    ``equality_cols`` (written before the delete) is removed."""
    spark = spark or table.spark
    schema = table.metadata.schema()
    fields = []
    for c in equality_cols:
        f = schema.find_field(c)
        if f is None:
            raise ValueError(f"equality column not in schema: {c}")
        fields.append(f)
    # REBALANCE before the write (guide §6: output file sizing): without
    # it the eq file count equals the upstream split count — a keys DF
    # derived from a large scan writes one TINY eq file per input split,
    # and every one of them is a delete entry all subsequent planning
    # must consider (the sf1 rehearsal hit 2 files where sf0.1 wrote 1).
    # AQE coalesces the rebalanced partitions to advisory size, so small
    # key sets (the common CDC shape) always produce exactly one file and
    # large ones get advisory-sized files instead of split-count fanout.
    # The shuffle moves only the (narrow) equality columns.  Range layout
    # (narrow per-file bounds) needs a key count the caller doesn't have;
    # convert_equality_deletes already range-lays the converted tuples.
    keys = del_df.select(*equality_cols).hint("rebalance")
    entries = _write_delete_parquet(spark, table.location, keys,
                                    S.Schema(fields), MF.EQUALITY_DELETES)
    table.metadata = SN.append_files(table.ops, entries, operation="delete")
    return table


def scope_deletes_for_file(data_entry: dict, delete_entries: list,
                           table_schema: S.Schema):
    """Driver-side: the delete files that can affect ONE data file
    (DeleteFileIndex.forEntry analog).  Returns (pos_paths, eq_groups):
    ``pos_paths`` = position-delete parquet paths whose sequence number
    covers the data file and whose file_path column bounds admit it;
    ``eq_groups`` = [(path, (current-schema column name, ...))] for
    equality deletes strictly newer than the data file."""
    data_seq = data_entry.get("sequence_number") or 0
    data_path = data_entry["file_path"]
    pos_paths, eq_groups = [], []
    for e in delete_entries or []:
        del_seq = e.get("sequence_number") or 0
        content = e.get("content")
        if content == MF.POSITION_DELETES:
            if del_seq < data_seq:
                continue
            # skip via the delete file's file_path column bounds (the same
            # trick DeleteFileIndex plays with referenced-data-file stats)
            lo = (e.get("lower_bounds") or {}).get("file_path")
            hi = (e.get("upper_bounds") or {}).get("file_path")
            if lo is not None and hi is not None:
                # bounds may be truncated prefixes: compare on prefix length
                if not (lo <= data_path and data_path[:len(hi)] <= hi):
                    continue
            pos_paths.append(e["file_path"])
        elif content == MF.EQUALITY_DELETES:
            if del_seq <= data_seq:
                continue
            cols = tuple(c for c in (table_schema.field_path(i)
                                     for i in e.get("equality_ids") or ())
                         if c is not None)
            if cols and _eq_bounds_disjoint(data_entry, e, cols):
                continue  # value ranges can't intersect: no row can match
            if cols:
                eq_groups.append((e["file_path"], cols))
    return pos_paths, eq_groups


def _eq_bounds_disjoint(data_entry: dict, del_entry: dict, cols) -> bool:
    """True when some equality column's value range in the delete file
    provably misses the data file's range (both sides' manifest bounds
    present and non-overlapping) — the DeleteFileIndex.canContainEqDeletes
    stats check.  Equality-delete bounds ARE table-column bounds, so they
    ride the ordinary bounds struct through manifests.  Truncated string
    bounds stay safe: truncation only WIDENS a range (lower rounds down,
    upper rounds up), so a detected gap is a real gap."""
    d_lo, d_hi = (data_entry.get("lower_bounds") or {}), (data_entry.get("upper_bounds") or {})
    e_lo, e_hi = (del_entry.get("lower_bounds") or {}), (del_entry.get("upper_bounds") or {})
    d_null = data_entry.get("null_counts") or {}
    e_null = del_entry.get("null_counts") or {}
    for c in cols:
        # NULL matches NULL in equality deletes; bounds only cover
        # non-null values, so a both-sides-nullable column can't prove
        # a gap by range alone
        if (d_null.get(c) or 0) > 0 and (e_null.get(c) or 0) > 0:
            continue
        dl, dh, el, eh = d_lo.get(c), d_hi.get(c), e_lo.get(c), e_hi.get(c)
        if dl is None or dh is None or el is None or eh is None:
            continue  # no stats on this column: can't prove a gap
        try:
            if eh < dl or el > dh:
                return True
        except TypeError:
            continue  # cross-type bounds (schema evolution): stay conservative
    return False


def arrow_apply_pos_deletes(tbl, data_file_path: str, pos_paths: list,
                            row_offset: int = 0):
    """Executor-safe pyarrow J3 (position half): drop deleted row indices.
    ``tbl`` MUST hold the data file's rows in original row order;
    ``row_offset`` is the absolute index of its first row when the file
    was split into row-group slices."""
    if not pos_paths:
        return tbl
    import numpy as np
    import pyarrow.parquet as pq

    positions: set = set()
    for p in pos_paths:
        # DV files carry a 'dv' bitmap column instead of exploded pos
        # rows — sniff the footer (already needed for the read) and
        # decode only the matching data file's blob
        if "dv" in pq.read_schema(p).names:
            positions.update(
                DV.dv_positions_for_file(p, data_file_path).tolist())
            continue
        # filters push to row groups via the dataset API: a delete file
        # sorted by file_path only decodes the matching stripe
        dt = pq.read_table(p, columns=["file_path", "pos"],
                           filters=[("file_path", "=", data_file_path)])
        positions.update(dt["pos"].to_pylist())
    if not positions:
        return tbl
    mask = np.ones(tbl.num_rows, dtype=bool)
    idx = np.fromiter((i - row_offset for i in positions
                       if 0 <= i - row_offset < tbl.num_rows),
                      dtype=np.int64, count=-1)
    mask[idx] = False
    import pyarrow as pa
    return tbl.filter(pa.array(mask))


def arrow_apply_eq_deletes(tbl, eq_groups: list):
    """Executor-safe pyarrow J3 (equality half): left-anti join the data
    table against each equality-delete file on its key columns.  Null keys
    use null-safe equality (Iceberg semantics), handled via an explicit
    mask for the (rare) delete rows that contain nulls."""
    if not eq_groups or tbl.num_rows == 0:
        return tbl
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    for path, cols in eq_groups:
        if tbl.num_rows == 0:
            return tbl
        cols = [c for c in cols]
        # dotted paths address struct-nested keys
        def key_arr(t, name):
            parts = name.split(".")
            arr = t[parts[0]]
            for p in parts[1:]:
                arr = pc.struct_field(arr, p)
            return arr
        # delete parquet columns are flat, the equality columns in
        # equality_ids order under their WRITE-TIME names
        # (add_equality_deletes writes Schema([leaf fields])).  Resolve
        # by POSITION so renamed equality columns keep deleting; fall
        # back to current leaf names for foreign files (the data side
        # addresses the same key by its dotted path either way)
        leaves = [c.split(".")[-1] for c in cols]
        try:
            dt = pq.read_table(path)
        except FileNotFoundError:
            continue
        if dt.num_columns == len(cols):
            series = [dt.column(i) for i in range(len(cols))]
        else:
            series = [dt[leaf] for leaf in leaves]
        del_keys = pa.table({f"__k{i}": series[i].cast(
            key_arr(tbl, c).type) for i, c in enumerate(cols)})
        has_null = pc.is_null(del_keys["__k0"])
        for i in range(1, len(cols)):
            has_null = pc.or_(has_null, pc.is_null(del_keys[f"__k{i}"]))
        null_rows = del_keys.filter(has_null)
        plain = del_keys.filter(pc.invert(has_null))
        data_keys = {f"__k{i}": key_arr(tbl, c) for i, c in enumerate(cols)}
        if plain.num_rows:
            left = tbl
            for k, arr in data_keys.items():
                left = left.append_column(k, arr)
            left = left.append_column("__rowid", pa.array(range(tbl.num_rows),
                                                          type=pa.int64()))
            kept = left.join(plain, keys=list(data_keys), join_type="left anti")
            keep_ids = kept["__rowid"].to_pylist()
            tbl = tbl.take(pa.array(sorted(keep_ids), type=pa.int64()))
            data_keys = {f"__k{i}": key_arr(tbl, c) for i, c in enumerate(cols)}
        for row in null_rows.to_pylist():
            if tbl.num_rows == 0:
                break
            m = None
            for i in range(len(cols)):
                v = row[f"__k{i}"]
                arr = data_keys[f"__k{i}"]
                piece = pc.is_null(arr) if v is None else \
                    pc.and_kleene(pc.equal(arr, v), pc.is_valid(arr))
                m = piece if m is None else pc.and_(m, piece)
            m = pc.fill_null(m, False)
            tbl = tbl.filter(pc.invert(m))
            data_keys = {f"__k{i}": key_arr(tbl, c) for i, c in enumerate(cols)}
    return tbl


def filter_relevant_deletes(data_entries: list, delete_entries: list,
                            table_schema: S.Schema) -> list:
    """Driver-side prefilter: drop delete files that cannot affect ANY
    planned data file (DeleteFileIndex analog, aggregated).  Sequence
    scoping + position-delete referenced-path ranges (bisect over the
    sorted planned paths) + equality-delete value-bounds overlap.  Keeps
    the anti-join in ``apply_delete_files`` proportional to the scan's
    RELEVANT delete debt instead of the table's total debt — on a
    filtered scan of a 100 TB MoR table most delete files reference
    partitions the scan never touches."""
    import bisect

    if not delete_entries or not data_entries:
        return delete_entries
    paths = sorted(e["file_path"] for e in data_entries)
    min_seq = min(e.get("sequence_number") or 0 for e in data_entries)
    # the per-pair bounds check is O(#data × #eq-deletes): worth it for
    # typical plans, skipped when the cross-product would be the cost
    big = len(delete_entries) * len(data_entries) > 2_000_000
    out = []
    for e in delete_entries:
        seq = e.get("sequence_number") or 0
        content = e.get("content")
        if content == MF.POSITION_DELETES:
            if seq < min_seq:
                continue
            lo = (e.get("lower_bounds") or {}).get("file_path")
            hi = (e.get("upper_bounds") or {}).get("file_path")
            if lo is not None and hi is not None:
                i = bisect.bisect_left(paths, lo)
                if i >= len(paths) or not paths[i][:len(hi)] <= hi:
                    continue
        elif content == MF.EQUALITY_DELETES:
            if seq <= min_seq:
                continue
            cols = tuple(c for c in (table_schema.field_path(i)
                                     for i in e.get("equality_ids") or ())
                         if c is not None)
            if cols and not big and all(
                    _eq_bounds_disjoint(d, e, cols) for d in data_entries):
                continue
        out.append(e)
    return out


def _decoded_meta_path_col():
    """`_metadata.file_path` is URI-ESCAPED ("a b" → "a%20b"); manifest
    entry paths are raw filesystem paths.  Joining the two without
    decoding silently matches NOTHING on escaped paths — for delete-seq
    stamping that would resurrect deleted rows.  Literal '+' is
    protected first (url_decode is form-decoding); same recipe as
    scan._read_hive_import_group."""
    from pyspark.sql import functions as F
    return F.url_decode(F.regexp_replace(
        F.regexp_replace(F.col("_metadata.file_path"), "^file:/*", "/"),
        r"\+", "%2B"))


def seq_map(spark, entries: list, pairs=()):
    """(path, sequence number) of ``entries`` plus ``pairs`` — data and
    delete files alike — as ONE LocalRelation (``session.local_df``):
    driver-held, so no Python worker, unlike a DataFrame built from a
    Python list (``parallelize`` + a Python ``map`` job on every use).
    A plan that looks up both data-file and delete-file sequences takes
    every lookup from one map: Spark broadcasts equal relations once
    and reuses the exchange, so the plan pays one JVM-only job.  Paths
    are unique across data and delete files, so one key space holds
    both."""
    return local_df(spark, list(pairs) + [
        (e["file_path"], e.get("sequence_number") or 0) for e in entries],
        "path string, seq long")


def stamp_delete_seq(spark, df, entries: list, file_col: str = None,
                     seqs_df=None):
    """``df`` — one multi-path read of ``entries``' delete files — plus
    ``___del_seq``, each row's delete-file sequence number.  One
    sequence (single-commit debt, the common single-writer case) is a
    literal: no ``_metadata`` read, no regexp, no join.  Several are a
    broadcast join on the decoded file path against ``seqs_df`` (the
    caller's ``seq_map``, default: one over ``entries``).  ``file_col``
    keeps the decoded path under that name."""
    from pyspark.sql import functions as F

    seqs = {e.get("sequence_number") or 0 for e in entries}
    col = file_col or "___dfile"
    if file_col or len(seqs) > 1:
        df = df.withColumn(col, _decoded_meta_path_col())
    if len(seqs) == 1:
        return df.withColumn("___del_seq", F.lit(seqs.pop()))
    if seqs_df is None:
        seqs_df = seq_map(spark, entries)
    df = df.join(F.broadcast(seqs_df.toDF(col, "___del_seq")), col)
    return df if file_col else df.drop(col)


def read_pos_delete_tuples(spark, pos_entries: list, seqs_df=None):
    """Position-delete entries (plain parquet and deletion vectors) →
    DataFrame(file_path, pos, ___del_seq), or None without entries.
    Plain files are ONE multi-path read (they share POS_DELETE_SCHEMA)
    — a per-file read + unionByName builds an O(#files) plan tree,
    which made a 100-file MoR-debt scan 3x slower than the single
    eq-file table it was converted from.  Deletion vectors decode to
    the same tuples and union in: set-union semantics make DV + plain
    coexistence correct by construction.  ``seqs_df``: the caller's
    ``seq_map`` (see ``stamp_delete_seq``).  Shared by the read-side
    anti-join and ``maintenance.rewrite_position_deletes``."""
    plain = [e for e in pos_entries if not DV.is_dv_entry(e)]
    dvs = [e for e in pos_entries if DV.is_dv_entry(e)]
    out = None
    if plain:
        out = stamp_delete_seq(
            spark, spark.read.schema(POS_DELETE_SCHEMA.to_spark())
            .parquet(*[e["file_path"] for e in plain]), plain,
            seqs_df=seqs_df).select("file_path", "pos", "___del_seq")
    if dvs:
        dv_pos = DV.read_dv_pos_df(spark, dvs, seqs_df=seqs_df)
        out = dv_pos if out is None else out.unionByName(dv_pos)
    return out


def eq_schema_fingerprint(del_schema: S.Schema) -> str:
    """Write-time schema of an eq-delete parquet, as canonical
    engine-schema JSON stamped into the file's manifest entry.  The
    planner buckets files and reconstructs their read schema from this
    string ALONE — at plan time a lagging maintenance loop can hold
    thousands of accrued eq files, and one pyarrow footer read per file
    is one object-store round trip each (the reference plans deletes
    from manifest metadata alone: core/.../DeleteFileIndex.java:65-123)."""
    import json as _json
    return _json.dumps(del_schema.to_json(), sort_keys=True,
                       separators=(",", ":"))


def load_eq_delete_groups(spark, eq_entries: list, table_schema: S.Schema,
                          seqs_df=None):
    """Yield (current_cols, eq_df, total_record_count) per equality-ids
    group, with ``___del_seq`` stamped per row.  The delete parquet holds
    exactly the equality columns in equality_ids order under their
    WRITE-TIME names: resolve by POSITION to the current names/types, so a
    renamed equality column keeps deleting (field-id semantics — the
    data-side analog is _project_to_current; reading by current NAME
    returned all-NULL keys after a rename, which resurrected the deleted
    rows and dropped NULL-keyed ones instead).  The footer is read
    driver-local via pyarrow — a schema-less spark.read.parquet would run
    one inference job per delete file.  Files with an identical footer
    schema collapse into ONE multi-path read (the upsert-MoR sink accrues
    one eq file per epoch; a per-file read + unionByName built an
    O(#files) plan tree — same fix the pos side got), with the per-file
    sequence stamped by ``stamp_delete_seq`` (a literal, or a broadcast
    join against ``seqs_df``, the caller's ``seq_map`` LocalRelation —
    the map is driver-held, so no list-built DataFrame and no
    Python-worker job on every eq-delete read and conversion).
    ``total_record_count`` is the summed manifest record_count, or None
    when any entry lacks it — callers gate broadcast on it.  Shared by
    the read-side anti-join and the eq→pos conversion rewrite."""
    from pyspark.sql import functions as F
    import pyarrow.parquet as _pq
    from pyspark.sql.pandas.types import from_arrow_schema

    by_ids: dict = {}
    for e in eq_entries:
        by_ids.setdefault(tuple(e.get("equality_ids") or ()), []).append(e)
    for ids, group in by_ids.items():
        cols = [table_schema.field_path(i) for i in ids]
        cols = [c for c in cols if c is not None]
        if not cols:
            continue
        fields = [table_schema.find_field(i) for i in ids]
        del_schema = S.Schema([f for f in fields if f is not None])
        tgt = del_schema.to_spark()
        tgt_names = [f.name for f in tgt.fields]
        # bucket by write-time schema: the manifest-stamped fingerprint
        # when present (engine-written files — ZERO footer IO), else one
        # driver pyarrow footer read (imported/pre-fingerprint files).
        # Every bucket is one multi-path scan with a uniform read schema.
        by_key: dict = {}
        for e in group:
            fp = e.get("eq_schema_fp")
            if fp:
                key = ("fp", fp)
                src = fp
            else:
                fsc = _pq.read_schema(e["file_path"])
                key = ("footer", tuple(fsc.names),
                       tuple(str(t) for t in fsc.types))
                src = fsc
            by_key.setdefault(key, (src, []))[1].append(e)
        eq_df = None
        total_rc = 0
        for key, (src, bucket) in by_key.items():
            if key[0] == "fp":
                import json as _json
                wsch = S.Schema.from_json(_json.loads(src))
                fnames = [f.name for f in wsch.fields]
                fsp = wsch.to_spark()
            else:
                fnames = list(src.names)
                fsp = from_arrow_schema(src)
            paths = [e["file_path"] for e in bucket]
            if fnames == tgt_names:
                part = spark.read.schema(tgt).parquet(*paths)
                keep = [F.col(n) for n in tgt_names]
            elif len(fnames) == len(tgt.fields):
                part = spark.read.schema(fsp).parquet(*paths)
                keep = [F.col(fnames[i]).cast(f.dataType).alias(f.name)
                        for i, f in enumerate(tgt.fields)]
            else:  # foreign/imported delete file: name-based
                part = spark.read.schema(tgt).parquet(*paths)
                keep = [F.col(n) for n in tgt_names]
            part = stamp_delete_seq(spark, part, bucket, seqs_df=seqs_df) \
                .select(*keep, "___del_seq")
            eq_df = part if eq_df is None else eq_df.unionByName(part)
            if total_rc is not None:
                for e in bucket:
                    rc = e.get("record_count")
                    if not rc:
                        total_rc = None
                        break
                    total_rc += int(rc)
        yield cols, eq_df, total_rc


def _emit_eq_debt_advisory(table_location, total_rc) -> None:
    """Scan-side maintenance advisory (round-8 stretch): accrued eq
    debt past the broadcast gate (or of unknown size) still reads
    correctly via the shuffle path, but every scan repays it — log +
    emit a MaintenanceAdvisory so an operator (or a scheduler listening
    on events.register) runs convert_equality_deletes."""
    import logging

    from incubator_iceberg_spark import events as EVT

    detail = ("equality-delete debt %s exceeds the broadcast gate (%d); "
              "scans fall back to shuffle anti-joins — run "
              "convert_equality_deletes (CALL system."
              "convert_equality_deletes)" % (
                  "of unknown size" if total_rc is None else
                  f"({total_rc:,} tuples)", BROADCAST_MAX_DELETE_TUPLES))
    logging.getLogger(__name__).warning("%s: %s", table_location or
                                        "<unknown table>", detail)
    EVT.emit(EVT.MaintenanceAdvisory(
        table_location=table_location or "",
        kind="convert_equality_deletes",
        detail=detail, debt_tuples=total_rc))


def apply_delete_files(spark, data_df, data_seq_by_file: dict,
                       delete_entries: list, table_schema: S.Schema,
                       table_location: str = None):
    """J3: anti-join pos/eq delete files onto a data DataFrame that carries
    ``_file``/``_pos`` lineage columns.  ``data_seq_by_file`` maps plain
    file paths → sequence numbers for scoping.

    The data-file and delete-file sequence lookups under these joins
    are one LocalRelation (``seq_map``), never a DataFrame built from a
    Python list, which runs ``parallelize`` + a Python ``map``: one
    Python-worker job per map on every delete-applying read, the
    largest stage of a MoR-debt read.  Broadcasting the LocalRelation
    is one JVM-only job, shared by every lookup of the plan."""
    from pyspark.sql import functions as F

    if not delete_entries:
        return data_df

    pos_entries = [e for e in delete_entries
                   if e.get("content") == MF.POSITION_DELETES]
    eq_entries = [e for e in delete_entries if e.get("content") == MF.EQUALITY_DELETES]

    # normalize lineage file uri → manifest-style plain path, attach seq.
    # ___path exists ONLY for the pos/DV (path, pos) joins; when every
    # data file shares one sequence (the single-writer steady state) the
    # seq is a literal — the eq-only single-seq scan then pays ZERO
    # per-row _metadata decode and no seq-map broadcast join
    data_seqs = set(data_seq_by_file.values())
    need_path = bool(pos_entries)
    from incubator_iceberg_spark.row_ops import _norm_file_col
    df = data_df.withColumn("___path", _norm_file_col()) if need_path \
        else data_df
    seqs_df = None
    if len(data_seqs) == 1:
        df = df.withColumn("___seq", F.lit(data_seqs.pop()))
    else:
        if not need_path:
            df = df.withColumn("___path", _norm_file_col())
        seqs_df = seq_map(spark, delete_entries, data_seq_by_file.items())
        df = df.join(F.broadcast(seqs_df.toDF("___path", "___seq")),
                     "___path", "left")

    pos_df = read_pos_delete_tuples(spark, pos_entries, seqs_df)
    if pos_df is not None:
        cond = ((df["___path"] == pos_df["file_path"])
                & (df["_pos"] == pos_df["pos"])
                & (pos_df["___del_seq"] >= df["___seq"]))
        # broadcast only while the decoded tuple set is small: DV files
        # are tiny at rest but re-explode to (path, pos, seq) rows, and
        # the multi-million-position debt DVs exist for would blow the
        # broadcast.  record_count is tuple cardinality for both kinds
        # (DV record_count = deleted-position cardinality); unknown
        # counts are conservatively large → shuffle anti-join, which
        # hash-partitions both sides on the equi keys instead
        total_tuples = 0
        for e in pos_entries:
            rc = e.get("record_count")
            if not rc:
                total_tuples = BROADCAST_MAX_DELETE_TUPLES + 1
                break
            total_tuples += int(rc)
        if total_tuples <= BROADCAST_MAX_DELETE_TUPLES:
            pos_df = F.broadcast(pos_df)
        df = df.join(pos_df, cond, "left_anti")

    if eq_entries:
        for cols, eq_df, total_rc in load_eq_delete_groups(
                spark, eq_entries, table_schema, seqs_df):
            cond = None
            for c in cols:
                piece = df[c].eqNullSafe(eq_df[c])
                cond = piece if cond is None else (cond & piece)
            cond = cond & (eq_df["___del_seq"] > df["___seq"])
            # same record_count gate as the pos/DV side: the upsert-MoR
            # sink accrues ~2M keys per epoch of eq debt — a 100-epoch
            # backlog would broadcast ~200M keys.  Unknown counts are
            # conservatively large → shuffle anti-join
            if total_rc is not None and \
                    total_rc <= BROADCAST_MAX_DELETE_TUPLES:
                eq_df = F.broadcast(eq_df)
            else:
                # the scan still completes (shuffle anti-join), but eq
                # debt past the broadcast gate means reads are paying
                # for deferred maintenance — surface the advisory that
                # operationalizes the convert→DV→compact loop
                _emit_eq_debt_advisory(table_location, total_rc)
            df = df.join(eq_df, cond, "left_anti")

    return df.drop("___path", "___seq")
