"""Stored procedures + table import (SURVEY.md §2.7, S16).

The reference registers ten procedures callable as
``CALL catalog.system.proc(args)`` (spark3/.../procedures/SparkProcedures.java:44-53,
grammar IcebergSqlExtensions.g4:69).  Here: a registry + a tiny CALL parser
so harness SQL like ``CALL system.expire_snapshots('db.t', retain_last =>
2)`` dispatches to the same actions the Python API exposes.

``add_files`` / ``migrate`` / ``snapshot`` implement table import from
plain parquet directories (SparkTableUtil.importSparkTable analog,
spark/.../SparkTableUtil.java:117-209): footer stats are harvested without
rewriting data, then committed as one append snapshot.
"""

from __future__ import annotations

import os
import re
from typing import Optional

from incubator_iceberg_spark import manifests as MF
from incubator_iceberg_spark import snapshots as SN
from incubator_iceberg_spark import write as W
from incubator_iceberg_spark.schema import Schema


def _hive_path_partition(path: str, spec, schema) -> dict:
    """Partition tuple parsed from a file's Hive-layout path segments
    (``.../col=value/...``): every spec field must be identity on a
    TOP-LEVEL source column whose name appears as a path key.  Values
    are URL-unquoted and cast to the source type;
    __HIVE_DEFAULT_PARTITION__ is the null partition."""
    import datetime as _dt
    import os as _os
    from decimal import Decimal as _D
    from urllib.parse import unquote

    from incubator_iceberg_spark import schema as S2
    from incubator_iceberg_spark import transforms as T

    segs = {}
    for seg in _os.path.dirname(path).split(_os.sep):
        if "=" in seg:
            k, _e, v = seg.partition("=")
            segs[k] = unquote(v)
    out = {}
    for f in spec.fields:
        if not isinstance(f.transform, T.IdentityTransform):
            raise ValueError(
                f"partition_from_path needs identity transforms; "
                f"{f.name} is {f.transform}")
        src_field = schema.find_field(f.source_id)
        src = schema.field_path(f.source_id)
        if src is None or "." in src:
            raise ValueError(
                f"partition_from_path needs a top-level source column "
                f"for {f.name}")
        if src not in segs:
            raise ValueError(
                f"file {path} has no '{src}=' path segment for "
                f"partition field {f.name}")
        raw = segs[src]
        if raw == "__HIVE_DEFAULT_PARTITION__":
            out[f.name] = None
            continue
        t = src_field.type
        if isinstance(t, (S2.IntegerType, S2.LongType)):
            out[f.name] = int(raw)
        elif isinstance(t, S2.StringType):
            out[f.name] = raw
        elif isinstance(t, S2.BooleanType):
            out[f.name] = raw.lower() == "true"
        elif isinstance(t, (S2.DoubleType, S2.FloatType)):
            out[f.name] = float(raw)
        elif isinstance(t, S2.DateType):
            out[f.name] = _dt.date.fromisoformat(raw)
        elif isinstance(t, S2.DecimalType):
            out[f.name] = _D(raw)
        else:
            raise ValueError(
                f"unsupported path-partition type {t} for {f.name}")
    return out


def add_files(table, source_dir, spark=None,
              file_format: str = "parquet",
              partition_from_path: bool = False) -> dict:
    """Import existing parquet/avro files (no rewrite; AddFilesProcedure
    analog): harvest footer stats → manifest entries → one append commit.
    Partitioned targets derive each file's partition tuple from its
    footer bounds: for order-preserving transforms (identity, truncate,
    year/month/day/hour) a file whose transformed lower == transformed
    upper lies in exactly one partition.  Files spanning partitions (or
    bucket specs, where bounds can't prove membership) are rejected —
    import those via a staged write instead.  ``source_dir`` may be a
    directory to walk or an explicit list of file paths; avro imports get
    row counts from block headers (no column bounds → no metrics pruning
    until rewritten)."""
    from incubator_iceberg_spark import mapping as NM

    spark = spark or table.spark
    if partition_from_path:
        return _add_files_from_hive_paths(table, source_dir, spark,
                                          file_format)
    if isinstance(source_dir, (list, tuple)):
        files = list(source_dir)
    else:
        files = W._list_data_files(source_dir, "." + file_format)
    if not files:
        return {"added_files": 0}
    schema = table.metadata.schema()
    spec = table.metadata.spec()
    # name-mapped import (schema.name-mapping.default set): the files are
    # field-ID-less FOREIGN parquet whose physical names may be aliases.
    # Footer stats re-key alias→canonical so pruning keeps working, and
    # the entries carry FOREIGN_SCHEMA_ID so the read path resolves their
    # columns via the mapping instead of a stored write-schema
    # (core/.../mapping/MappingUtil.java + parquet ApplyNameMapping.java).
    nm = NM.table_mapping(table.metadata) if file_format != "avro" else None
    alias_map = NM.alias_to_canonical(nm, schema) if nm is not None else None
    stats = W.collect_file_stats(spark, files, schema,
                                 file_format=file_format,
                                 alias_map=alias_map,
                                 properties=table.metadata.properties)
    entries = []
    for st in stats:
        e = W.entry_from_stats(st, file_format)
        if nm is not None:
            e["schema_id"] = NM.FOREIGN_SCHEMA_ID
        if spec.is_partitioned:
            e["partition"] = _partition_from_bounds(st, spec, schema)
        entries.append(e)
    table.metadata = SN.append_files(table.ops, entries)
    return {"added_files": len(entries),
            "added_records": sum(e["record_count"] for e in entries)}


def _add_files_from_hive_paths(table, source_dir, spark,
                               file_format: str) -> dict:
    """Hive-layout import (AddFilesProcedure / SparkTableUtil
    importSparkTable analog): the partition value comes from the PATH
    (authoritative) and the identity-partition source columns are
    typically ABSENT from the files.  Entries carry
    HIVE_IMPORT_SCHEMA_ID so the read path serves those columns as
    per-file constants; the constants also become the file's bounds
    (lower == upper == value), so partition-column predicates prune
    imported files exactly like engine-written ones."""
    if file_format not in ("parquet", "orc"):
        raise ValueError("partition_from_path supports parquet/orc")
    schema = table.metadata.schema()
    spec = table.metadata.spec()
    if not spec.is_partitioned:
        raise ValueError("partition_from_path needs a partitioned table")
    if isinstance(source_dir, (list, tuple)):
        files = list(source_dir)
    else:
        files = W._list_data_files(source_dir, "." + file_format)
    if not files:
        return {"added_files": 0}
    part_by_file = {p: _hive_path_partition(p, spec, schema)
                    for p in files}
    stats = W.collect_file_stats(spark, files, schema,
                                 file_format=file_format,
                                 properties=table.metadata.properties)
    entries = []
    for st in stats:
        pv = part_by_file[st["file_path"]]
        # a stats-less file reports bounds/counts as None — normalize to
        # {} once so the spec-field loop can assign either branch
        for k in ("lower_bounds", "upper_bounds", "null_counts"):
            if st.get(k) is None:
                st[k] = {}
        for f in spec.fields:
            src = schema.field_path(f.source_id)
            v = pv[f.name]
            if v is None:
                st["null_counts"][src] = st["record_count"]
                st["lower_bounds"].pop(src, None)
                st["upper_bounds"].pop(src, None)
            else:
                st["lower_bounds"][src] = v
                st["upper_bounds"][src] = v
                st["null_counts"][src] = 0
        entries.append(dict(W.entry_from_stats(st, file_format),
                            schema_id=MF.HIVE_IMPORT_SCHEMA_ID,
                            partition=pv))
    table.metadata = SN.append_files(table.ops, entries)
    return {"added_files": len(entries),
            "added_records": sum(e["record_count"] for e in entries)}


def _partition_from_bounds(st: dict, spec, schema) -> dict:
    """One file's partition tuple proven from its column bounds."""
    import inspect
    partition = {}
    for f in spec.fields:
        src = schema.field_path(f.source_id)
        src_type = schema.find_field(f.source_id).type
        if not f.transform.preserves_order():
            raise ValueError(
                f"cannot import into {f.transform}-partitioned field "
                f"{f.name}: bounds cannot prove bucket membership")
        lo = (st.get("lower_bounds") or {}).get(src)
        hi = (st.get("upper_bounds") or {}).get(src)
        nulls = (st.get("null_counts") or {}).get(src, 0)
        if lo is None or hi is None:
            if st["record_count"] == nulls:  # all-null source column
                partition[f.name] = None
                continue
            raise ValueError(
                f"file {st['file_path']} has no bounds for partition "
                f"source column {src}")
        if nulls:
            raise ValueError(
                f"file {st['file_path']} mixes nulls and values in "
                f"partition source column {src}")
        two_arg = len(inspect.signature(f.transform.apply).parameters) >= 2
        tlo = f.transform.apply(lo, src_type) if two_arg else f.transform.apply(lo)
        thi = f.transform.apply(hi, src_type) if two_arg else f.transform.apply(hi)
        if tlo != thi:
            raise ValueError(
                f"file {st['file_path']} spans partitions "
                f"{f.name}={tlo}..{thi}; split it or use a staged write")
        partition[f.name] = tlo
    return partition


def migrate(catalog, name: str, source_dir: str, spark=None,
            file_format: str = "parquet"):
    """Create an engine table over an existing parquet/avro directory and
    import its files in place (MigrateTableProcedure analog).  Avro
    sources take their schema from the first file's container header
    (field-id props honored for engine-written files, sequential ids
    assigned otherwise)."""
    spark = spark or catalog.spark
    if file_format == "avro":
        from incubator_iceberg_spark import avro_format as AV
        files = W._list_data_files(source_dir, ".avro")
        if not files:
            raise ValueError(f"no .avro files under {source_dir!r}")
        schema = AV.read_file_schema(files[0])
        t = catalog.create_table(name, schema, spark=spark)
    else:
        df = spark.read.parquet(source_dir)
        t = catalog.create_table(name, Schema.from_spark(df.schema),
                                 spark=spark)
    add_files(t, source_dir, spark=spark, file_format=file_format)
    return t


def snapshot_table(catalog, source_name: str, dest_name: str, spark=None):
    """SnapshotTableProcedure analog: new table whose first snapshot
    references the source table's current data files (no copy)."""
    src = catalog.load_table(source_name, spark=spark)
    dest = catalog.create_table(dest_name, src.schema(), spark=spark)
    # force: a None for over-threshold metadata would silently snapshot
    # an EMPTY table
    planned = src.new_scan(spark or catalog.spark).plan_entries_local(force=True)
    entries = [W.entry_from_stats(e, e.get("file_format")) for e in planned]
    dest.metadata = SN.append_files(dest.ops, entries)
    return dest


PROCEDURES = {
    "rollback_to_snapshot": lambda t, snapshot_id: t.rollback_to_snapshot(int(snapshot_id)),
    "rollback_to_timestamp": lambda t, timestamp_ms: t.rollback_to_timestamp(int(timestamp_ms)),
    "set_current_snapshot": lambda t, snapshot_id: t.set_current_snapshot(int(snapshot_id)),
    "cherrypick_snapshot": lambda t, snapshot_id: t.cherry_pick(int(snapshot_id)),
    "rewrite_manifests": lambda t, **kw: t.rewrite_manifests(**kw),
    "remove_orphan_files": lambda t, **kw: t.remove_orphan_files(
        older_than_ms=int(kw["older_than_ms"]) if "older_than_ms" in kw else None,
        dry_run=bool(kw.get("dry_run", False))),
    "expire_snapshots": lambda t, **kw: t.expire_snapshots(
        older_than_ms=int(kw["older_than_ms"]) if "older_than_ms" in kw else None,
        retain_last=int(kw.get("retain_last", 1))),
    "rewrite_data_files": lambda t, **kw: t.rewrite_data_files(
        target_file_size=int(kw["target_file_size"]) if "target_file_size" in kw else None,
        min_input_files=int(kw.get("min_input_files", 5))),
    "add_files": lambda t, source_dir, **kw: add_files(
        t, source_dir,
        file_format=kw.get("file_format", "parquet"),
        partition_from_path=bool(kw.get("partition_from_path", False))),
    "remove_dangling_deletes": lambda t, **kw: t.remove_dangling_deletes(),
    "rewrite_position_deletes": lambda t, **kw: t.rewrite_position_deletes(
        fmt=kw.get("fmt")),
    "convert_equality_deletes": lambda t, **kw: t.convert_equality_deletes(),
    "rewrite_data_files_zorder": lambda t, *cols, **kw: t.zorder_rewrite(
        list(cols), target_file_size=int(kw["target_file_size"])
        if "target_file_size" in kw else None),
    "rewrite_data_files_sort": lambda t, *cols, **kw: t.sort_rewrite(
        list(cols), target_file_size=int(kw["target_file_size"])
        if "target_file_size" in kw else None),
    # branch/tag refs (SnapshotRef management procedures)
    "create_branch": lambda t, name, **kw: t.create_branch(
        name, snapshot_id=int(kw["snapshot_id"]) if "snapshot_id" in kw else None),
    "create_tag": lambda t, name, **kw: t.create_tag(
        name, snapshot_id=int(kw["snapshot_id"]) if "snapshot_id" in kw else None),
    "drop_ref": lambda t, name: t.drop_ref(name),
    "fast_forward": lambda t, name, to_ref: t.fast_forward(name, to_ref),
    # persistent ANN index build (round 2; clustering-rewrite action)
    "add_ann_index": lambda t, **kw: _call_add_ann_index(t, **kw),
    "write_partition_stats": lambda t, **kw: t.write_partition_stats(),
    "compute_column_stats": lambda t, **kw: t.compute_column_stats(**kw),
    "create_changelog_view": lambda t, **kw: _call_create_changelog_view(
        t, **kw),
    # policy-driven maintenance: triggers decided from the manifest
    # plane only; kw overrides AUTO_POLICY_DEFAULTS keys (dashes as
    # underscores), dry_run reports without mutating
    "auto_maintain": lambda t, **kw: t.auto_maintain(
        dry_run=bool(kw.pop("dry_run", False)),
        policy={k.replace("_", "-"): v for k, v in kw.items()} or None),
}


def _call_create_changelog_view(t, **kw):
    """CreateChangelogViewProcedure analog (the reference family's
    spark procedure surface for CDC reads): registers the table's
    row-level changelog as a temp view.  Options mirror the procedure:
    ``changelog_view`` (name; default <table>_changes),
    ``start_snapshot_id`` / ``end_snapshot_id`` (exclusive/inclusive,
    like changelog()), ``identifier_columns`` (+ ``compute_updates``)
    for update pre/post images, ``net_changes`` to collapse the range
    to net row effect (rejected with compute_updates, as upstream)."""
    from incubator_iceberg_spark import changelog as CL

    spark = t.spark
    view = kw.get("changelog_view") or (t.name.split(".")[-1] + "_changes")
    start = int(kw["start_snapshot_id"]) if "start_snapshot_id" in kw else None
    end = int(kw["end_snapshot_id"]) if "end_snapshot_id" in kw else None
    net = bool(kw.get("net_changes", False))
    ident = kw.get("identifier_columns")
    if isinstance(ident, str):
        ident = [c.strip() for c in ident.split(",") if c.strip()]
    compute_updates = bool(kw.get("compute_updates", bool(ident)))
    if compute_updates:
        df = CL.changelog_with_updates(
            t, spark=spark, identifier_cols=ident,
            from_snapshot_id=start, to_snapshot_id=end, net_changes=net)
    else:
        df = CL.changelog(t, spark=spark, from_snapshot_id=start,
                          to_snapshot_id=end, net_changes=net)
    df.createOrReplaceTempView(view)
    return {"changelog_view": view}


def _call_add_ann_index(t, **kw):
    from incubator_iceberg_spark.functions import similarity
    similarity.add_ann_index(
        t, kind=kw.get("kind", "ivf"),
        vec_col=kw.get("vec_col", "embedding"),
        id_col=kw.get("id_col", "vec_id"),
        n_cells=int(kw.get("n_cells", 16)),
        bits=int(kw.get("bits", 8)),
        seed=int(kw.get("seed", 42)))
    return {"indexed": t.name, "kind": kw.get("kind", "ivf")}

_CALL_RE = re.compile(
    r"^\s*CALL\s+(?:[A-Za-z_][\w]*\.)?system\.([A-Za-z_][\w]*)\s*\((.*)\)\s*$",
    re.IGNORECASE | re.DOTALL)


def call(catalog, sql: str, spark=None):
    """Dispatch ``CALL [cat.]system.proc('db.table', k => v, ...)``."""
    m = _CALL_RE.match(sql)
    if not m:
        raise ValueError(f"not a CALL statement: {sql!r}")
    proc_name, argstr = m.group(1).lower(), m.group(2)
    fn = PROCEDURES.get(proc_name)
    if fn is None:
        raise ValueError(f"unknown procedure: {proc_name} "
                         f"(known: {sorted(PROCEDURES)})")
    args, kwargs = _parse_args(argstr)
    if not args:
        raise ValueError("first argument must be the table name")
    table = catalog.load_table(str(args[0]), spark=spark)
    return fn(table, *args[1:], **kwargs)


def _parse_args(argstr: str):
    args, kwargs = [], {}
    for part in _split_args(argstr):
        part = part.strip()
        if not part:
            continue
        if "=>" in part:
            k, v = part.split("=>", 1)
            kwargs[k.strip()] = _literal(v.strip())
        else:
            args.append(_literal(part))
    return args, kwargs


def _split_args(s: str):
    out, depth, cur, quote = [], 0, [], None
    for ch in s:
        if quote:
            cur.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in "'\"":
            quote = ch
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def _literal(s: str):
    if s.startswith("'") and s.endswith("'"):
        return s[1:-1]
    if s.startswith('"') and s.endswith('"'):
        return s[1:-1]
    low = s.lower()
    if low in ("true", "false"):
        return low == "true"
    try:
        return int(s)
    except ValueError:
        pass
    try:
        return float(s)
    except ValueError:
        pass
    return s
