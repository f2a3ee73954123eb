"""Batch write path (S9/S10/S11 in SURVEY.md §2.1).

Flow (SparkWrite.java:92-249 + BaseTaskWriter.java:43-302 re-expressed
Spark-first, SURVEY.md §3.2):

1. align input DataFrame to the table schema (names + casts, JVM-side);
2. compute partition columns via transforms (T1-T4) as Column expressions
   (never Python UDFs);
3. apply the table's write distribution mode: hash → ``repartition(cols)``,
   range → ``repartitionByRange``, + ``sortWithinPartitions`` for the
   table sort order (DistributionAndOrderingUtils.scala:63-111 analog);
4. ``df.write.partitionBy(partition_cols).parquet(staging_dir)`` — files
   are written ONCE, directly inside the table's data dir (no second copy;
   commit = metadata swap, like the reference's object-store layout);
5. per-file stats from Parquet footers (A1): driver-side for few files,
   distributed ``mapInPandas`` job for many (100 TB path);
6. build manifest entries → snapshots.append_files / overwrite / replace.
"""

from __future__ import annotations

import base64
import json
import os
import uuid
from datetime import date, datetime
from decimal import Decimal
from typing import Optional
from urllib.parse import unquote

from incubator_iceberg_spark import manifests as MF
from incubator_iceberg_spark import metadata as MD
from incubator_iceberg_spark import schema as S
from incubator_iceberg_spark.partitioning import PartitionSpec

PARTITION_COL_PREFIX = "_p_"
# above this, stats collection becomes a Spark job; below it a driver-side
# thread pool reads footers (~5 ms each, I/O-bound).  128 footers ≈ well
# under one Spark-stage launch; the 100 TB path (thousands of files per
# commit) still distributes.
DRIVER_STATS_MAX_FILES = 128


def align_to_schema(df, schema: S.Schema):
    """Project + cast the input DataFrame to the table schema by name.
    Missing optional columns become NULL; extra columns are silently
    projected away (internal callers pass engine-built frames with
    helper columns — the user-facing unknown-column guard lives in
    Table._stage)."""
    from pyspark.sql import functions as F

    have = {c.lower(): c for c in df.columns}
    for f in schema.fields:
        if f.required and f.name.lower() not in have:
            raise ValueError(f"required column {f.name} missing from input")
    # fast path: ONE selectExpr py4j round trip instead of ~4 JVM calls
    # per column (col+cast+alias each cross the gateway; measured
    # ~0.1 s per call on a 16-column schema, paid by every stage_write).
    # Only atomic types take it: simpleString does not quote nested
    # field names, so a struct field named `a:int,b` renders DDL that
    # fails analysis.  Nested schemas use the Column API — identical
    # Cast semantics either way.
    if all(f.type.is_primitive for f in schema.fields):
        exprs = []
        for f in schema.fields:
            src = have.get(f.name.lower())
            ddl = S._to_spark_type(f.type).simpleString()
            val = "NULL" if src is None else "`%s`" % src.replace("`", "``")
            exprs.append(f"CAST({val} AS {ddl}) AS `{f.name.replace('`', '``')}`")
        return df.selectExpr(*exprs)
    cols = []
    for f in schema.fields:
        src = have.get(f.name.lower())
        spark_t = S._to_spark_type(f.type)
        if src is None:
            cols.append(F.lit(None).cast(spark_t).alias(f.name))
        else:
            cols.append(F.col(src).cast(spark_t).alias(f.name))
    return df.select(*cols)


def _distribute(df, spec: PartitionSpec, sort_order, mode: str, part_cols,
                num_partitions: Optional[int] = None):
    """Write distribution + local sort (O1).  ``range`` distributes by
    partition columns AND sort-order columns (SparkWrite's
    buildRequiredOrdering analog) — on a sorted table this yields
    globally range-clustered files with non-overlapping sort-key bounds,
    which is what makes min/max file skipping effective on the sort
    key.  ``num_partitions`` (write.distribution.partition-count) pins
    the shuffle width — without it AQE may coalesce a small write into
    one file, which is right for size but defeats clustering tests."""
    from pyspark.sql import functions as F

    names = [n for n, _ in part_cols]
    sort_cols = []
    if sort_order and sort_order.fields:
        for sf in sort_order.fields:
            path = spec.schema.field_path(sf.source_id)
            if path:
                c = F.col(path)
                last = getattr(sf, "null_order", None) == "nulls-last"
                if sf.direction == "desc":
                    c = c.desc_nulls_last() if last else c.desc_nulls_first()
                else:
                    c = c.asc_nulls_last() if last else c.asc_nulls_first()
                sort_cols.append(c)
    nargs = [num_partitions] if num_partitions else []
    if mode == "hash" and names:
        if not nargs:
            # An unnumbered repartition(cols) is AQE-coalesced to
            # advisory size — for the common small-to-medium commit that
            # is ONE post-shuffle task, which then writes every
            # partition directory SERIALLY (the dynamic-partition writer
            # sorts and opens each dir in turn; measured 1.87 s → 0.99 s
            # on an 83-month append by pinning the width).  Pin the
            # shuffle width to the session's parallelism instead —
            # scale-adaptive (executors × cores on a cluster), and the
            # output layout is unchanged: hashing BY the partition
            # columns still routes each partition value to exactly one
            # task, so it's still one file per partition value.
            # Override via write.distribution.partition-count (threaded
            # as num_partitions).
            nargs = [write_shuffle_width(df)]
        df = df.repartition(*nargs, *[F.col(n) for n in names])
    elif mode == "range" and (names or sort_cols):
        df = df.repartitionByRange(*nargs, *[F.col(n) for n in names],
                                   *sort_cols)
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    return df


def write_shuffle_width(df, n_groups: Optional[int] = None) -> int:
    """Explicit shuffle width for a pre-write repartition by key.
    Scale-adaptive: the session's default parallelism (executors × cores
    on a cluster, the local core count here), capped at the number of
    distinct keys when the caller knows it.  Used instead of an
    unnumbered repartition(cols) because AQE coalesces the latter to
    advisory size — for small-to-medium commits that is ONE post-shuffle
    task, which then writes every partition directory serially."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if n_groups:
        n = min(n, int(n_groups))
    return max(1, n)


def parquet_writer_options(properties: Optional[dict]) -> dict:
    """Map the table's parquet tuning properties to Spark/parquet-mr
    writer options (TableProperties.java parquet knobs):

    - ``write.parquet.bloom-filter-enabled.column.<col>`` →
      ``parquet.bloom.filter.enabled#<col>`` — split-block bloom filter
      in the column chunk.  Point lookups on a high-cardinality,
      non-clustered column skip row groups whose [min,max] covers the
      probe but whose values never contain it (the case stats and
      dictionary filtering can't prune; measured 3.4x on in-range
      absent-key lookups).  Readers use it automatically via parquet-mr
      row-group filtering — no read-side config.
    - ``write.parquet.bloom-filter-fpp.column.<col>`` →
      ``parquet.bloom.filter.fpp#<col>``
    - ``write.parquet.bloom-filter-expected-ndv.column.<col>`` →
      ``parquet.bloom.filter.expected.ndv#<col>`` (sizes the filter;
      without it parquet-mr uses the dynamic candidate strategy)
    - ``write.parquet.bloom-filter-max-bytes`` →
      ``parquet.bloom.filter.max.bytes``
    - ``write.parquet.row-group-size-bytes`` → ``parquet.block.size``
    - ``write.parquet.page-size-bytes`` → ``parquet.page.size``
    - ``write.parquet.dict-size-bytes`` → ``parquet.dictionary.page.size``
    - ``write.parquet.compression-codec`` → ``compression``
    - ``write.parquet.compression-level`` →
      ``parquet.compression.codec.zstd.level`` (per-table override of
      the session default; see session.get_spark)
    """
    opts = {}
    if not properties:
        return opts
    _PREFIXES = {
        "write.parquet.bloom-filter-enabled.column.":
            "parquet.bloom.filter.enabled#",
        "write.parquet.bloom-filter-fpp.column.":
            "parquet.bloom.filter.fpp#",
        "write.parquet.bloom-filter-expected-ndv.column.":
            "parquet.bloom.filter.expected.ndv#",
    }
    _FLAT = {
        "write.parquet.bloom-filter-max-bytes": "parquet.bloom.filter.max.bytes",
        "write.parquet.row-group-size-bytes": "parquet.block.size",
        "write.parquet.page-size-bytes": "parquet.page.size",
        "write.parquet.dict-size-bytes": "parquet.dictionary.page.size",
        "write.parquet.compression-codec": "compression",
        "write.parquet.compression-level": "parquet.compression.codec.zstd.level",
    }
    for k, v in properties.items():
        for pfx, opt in _PREFIXES.items():
            if k.startswith(pfx):
                opts[opt + k[len(pfx):]] = str(v)
                break
        else:
            if k in _FLAT:
                opts[_FLAT[k]] = str(v)
    return opts


def stage_write(spark, table_location: str, df, schema: S.Schema, spec: PartitionSpec,
                sort_order=None, distribution_mode: Optional[str] = None,
                target_file_size: int = MD.WRITE_TARGET_FILE_SIZE_DEFAULT,
                fanout: bool = False, file_format: str = "parquet",
                nan_counts: bool = False,
                distribution_partitions: Optional[int] = None,
                properties: Optional[dict] = None) -> list:
    """Write the DataFrame into the table's data dir; return manifest
    entries (dicts with stats + partition tuples)."""
    df = align_to_schema(df, schema)
    part_cols = [(PARTITION_COL_PREFIX + name, expr)
                 for name, expr in spec.spark_partition_columns(schema)]
    for name, expr in part_cols:
        df = df.withColumn(name, expr)
    mode = distribution_mode or ("hash" if spec.is_partitioned else "none")
    df = _distribute(df, spec, sort_order, mode, part_cols,
                     num_partitions=distribution_partitions)

    staging = os.path.join(table_location, "data", uuid.uuid4().hex)
    writer = df.write.mode("errorifexists")
    if part_cols:
        writer = writer.partitionBy(*[n for n, _ in part_cols])
    # Rolling at target size (BaseTaskWriter.java:276 analog): Spark splits
    # output per task; cap rows per file so a skewed task still rolls.
    writer = writer.option("maxRecordsPerFile", _max_records_estimate(df, target_file_size))
    if file_format == "parquet":
        for k, v in parquet_writer_options(properties).items():
            writer = writer.option(k, v)
    if file_format == "avro":
        # no Spark datasource for avro in this runtime: the engine's own
        # distributed container writer (mapInArrow) emits the same
        # hive-style layout + per-file stats (avro_format.py, S7).
        # Roll avro files at 64k rows (not the parquet row estimate):
        # each file decodes as ONE python task on read, so file size IS
        # the read-parallelism knob for this format
        from incubator_iceberg_spark import avro_format as AV
        stats = AV.write_avro_files(
            spark, df, staging, schema, [n for n, _ in part_cols],
            min(_max_records_estimate(df, target_file_size), 64_000))
    else:
        if file_format == "orc":
            writer.orc(staging)
        else:
            writer.parquet(staging)
        files = _list_data_files(staging, "." + file_format)
        stats = collect_file_stats(spark, files, schema,
                                   file_format=file_format,
                                   properties=properties)
    if nan_counts and file_format == "parquet":
        _attach_nan_counts(spark, staging, schema, stats)
    if file_format == "orc" and spark is not None:
        _attach_orc_bounds(spark, staging, schema, stats)

    def stamp(e):
        # the schema AND spec the files were PHYSICALLY written under.
        # The commit-time setdefault would stamp the refreshed base's
        # current ones — wrong when DDL lands between staging and commit
        # (the retry loop rebases): a rename made field-ID projection
        # read the renamed column as all-NULL, and a spec evolution
        # serialized the staged partition tuple under the NEW spec's
        # struct — the tuple nulled out and partition pruning then
        # dropped live files.
        e["schema_id"] = schema.schema_id
        e["spec_id"] = spec.spec_id
        if spec.is_partitioned:
            e["partition"] = _partition_from_path(e["file_path"], staging,
                                                  spec)

    return file_entries(stats, file_format, stamp)


def file_entries(stats: list, file_format: str, stamp) -> list:
    """The tail every file writer shares: per-file stats → manifest entry
    dicts, with ``stamp(entry)`` adding the writer's own fields (schema
    and spec ids, partition tuple, delete content).  Empty files are
    deleted, never committed: Spark emits them for empty tasks and
    partitions, and an empty delete file has no bounds to prune on, so
    it would be applied to every data file."""
    entries = []
    for st in stats:
        if not st["record_count"]:
            try:
                os.unlink(st["file_path"])
            except OSError:
                pass
            continue
        e = entry_from_stats(st, file_format)
        stamp(e)
        entries.append(e)
    return entries


def entry_from_stats(st: dict, file_format: str) -> dict:
    """A manifest entry dict from one file's stats (footer_stats shape;
    value/null/nan counts may be absent)."""
    e = {k: st.get(k) for k in ("file_path", "record_count",
                                "file_size_bytes", "value_counts",
                                "null_counts", "nan_counts",
                                "lower_bounds", "upper_bounds")}
    e["file_format"] = file_format
    return e


def _attach_nan_counts(spark, staging: str, schema: S.Schema, stats: list) -> None:
    """Optional NaN stats (DataFile.java:53 nan_value_counts): Parquet
    footers don't carry them, so one column-pruned scan of the staged
    float/double columns grouped by file fills them in.  Enabled via table
    property write.metrics.nan-counts=true (costs a second read of the
    float columns only)."""
    from pyspark.sql import functions as F

    float_cols = [f.name for f in schema.fields
                  if isinstance(f.type, (S.FloatType, S.DoubleType))]
    if not float_cols:
        return
    df = spark.read.parquet(staging)
    aggs = [F.sum(F.when(F.isnan(F.col(c)), 1).otherwise(0)).alias(c)
            for c in float_cols if c in df.columns]
    if not aggs:
        return
    rows = (df.groupBy(F.col("_metadata.file_path").alias("__f"))
            .agg(*aggs).collect())
    from incubator_iceberg_spark.row_ops import normalize_file_uri
    by_file = {normalize_file_uri(r["__f"]): r for r in rows}
    for st in stats:
        r = by_file.get(st["file_path"])
        if r is not None:
            st["nan_counts"] = {c: int(r[c] or 0) for c in float_cols if c in r}


def _attach_orc_bounds(spark, staging: str, schema: S.Schema, stats: list) -> None:
    """pyarrow ORC footers expose no column statistics, so ORC writes run
    one aggregation job over the staged files (min/max/null count per
    top-level primitive, grouped by ``_metadata.file_path``) — without it
    ORC tables get no metrics pruning at all.  One extra columnar read of
    the just-written data; the reference reads ORC stats from file tails
    (orc/.../OrcMetrics) which pyarrow doesn't surface."""
    from pyspark.sql import functions as F

    cols = [f for f in schema.fields if f.type.is_primitive]
    df = spark.read.orc(staging)
    aggs = []
    for f in cols:
        if f.name not in df.columns:
            continue
        c = F.col(f.name)
        mn, mx = F.min(c), F.max(c)
        if isinstance(f.type, (S.FloatType, S.DoubleType)):
            # NaN sorts above +inf in Spark aggregates; NaN-polluted bounds
            # are unusable for pruning (same rule as the footer path)
            not_nan = ~F.isnan(c)
            mn, mx = F.min(F.when(not_nan, c)), F.max(F.when(not_nan, c))
        aggs += [mn.alias("mn_" + f.name), mx.alias("mx_" + f.name),
                 F.sum(F.when(c.isNull(), 1).otherwise(0)).alias("nl_" + f.name)]
    if not aggs:
        return
    rows = (df.groupBy(F.col("_metadata.file_path").alias("__f"))
            .agg(*aggs).collect())
    from incubator_iceberg_spark.row_ops import normalize_file_uri
    by_file = {normalize_file_uri(r["__f"]): r for r in rows}
    for st in stats:
        r = by_file.get(st["file_path"])
        if r is None:
            continue
        d = r.asDict()
        st["lower_bounds"] = {f.name: d["mn_" + f.name] for f in cols
                              if d.get("mn_" + f.name) is not None}
        st["upper_bounds"] = {f.name: d["mx_" + f.name] for f in cols
                              if d.get("mx_" + f.name) is not None}
        st["null_counts"] = {f.name: int(d.get("nl_" + f.name) or 0) for f in cols
                             if ("nl_" + f.name) in d}


def table_format(md) -> str:
    """The table's write format (write.format.default) — every rewrite
    path (compaction, sort/zorder, CoW row ops, MERGE) must honor it, or
    maintenance silently migrates an ORC/Avro table back to parquet."""
    return md.properties.get("write.format.default", "parquet")


def _max_records_estimate(df, target_file_size: int) -> int:
    # cheap static estimate: assume ≥24 bytes/row encoded; the exact roll
    # size matters at 100 TB (512 MB target), not at test scale
    return max(1_000_000, target_file_size // 24)


def _list_data_files(root: str, ext: str = ".parquet") -> list:
    out = []
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(ext) and not n.startswith(".") and not n.startswith("_"):
                out.append(os.path.join(dirpath, n))
    return sorted(out)


# ---------------------------------------------------------------------------
# per-file stats (A1): Parquet footer read, driver-side or distributed
# ---------------------------------------------------------------------------

def map_files(fn, files: list) -> list:
    """``[fn(p) for p in files]`` on the driver.  Footer and column reads
    are I/O-bound and release the GIL in pyarrow, so past 8 files a
    small thread pool cuts the wall time."""
    if len(files) <= 8:
        return [fn(p) for p in files]
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=min(16, len(files))) as ex:
        return list(ex.map(fn, files))


def collect_file_stats(spark, files: list, schema: S.Schema,
                       file_format: str = "parquet",
                       alias_map: Optional[dict] = None,
                       properties: Optional[dict] = None) -> list:
    """``alias_map`` ({physical name → canonical schema name}, from
    mapping.alias_to_canonical) re-keys foreign footer stats for
    name-mapped imports; None = physical names already match.
    ``properties`` (table properties) applies metrics modes at
    COLLECTION time: none-mode columns (incl. everything past the
    max-inferred-column-defaults cap) are skipped entirely, so a wide
    write's footer harvest touches O(capped) columns per row group, not
    O(all).  write_manifest re-applies the same modes at persist time,
    so passing None here only costs wasted collection, never wrong
    manifests."""
    if not files:
        return []
    if file_format == "orc":
        # pyarrow exposes no ORC footer-statistics API: bounds are
        # harvested with one columnar read per file (orc_stats), then
        # pruning is metadata-only like parquet imports
        return map_files(
            lambda p: orc_stats(p, schema, alias_map=alias_map), files)
    if file_format == "avro":
        # import path (add_files) for pre-existing avro: block headers
        # give row counts without decompression; no bounds (engine-written
        # avro computes bounds at write time instead)
        from incubator_iceberg_spark import avro_format as AV
        return [{
            "file_path": p,
            "record_count": AV.avro_row_count(p),
            "file_size_bytes": os.path.getsize(p),
            "value_counts": None, "null_counts": None, "nan_counts": None,
            "lower_bounds": {}, "upper_bounds": {},
        } for p in files]
    modes = (MF.metrics_modes(properties, MF._stats_columns(schema))
             if properties is not None else None)
    if len(files) <= DRIVER_STATS_MAX_FILES or spark is None:
        return map_files(
            lambda p: footer_stats(p, schema, alias_map=alias_map,
                                   modes=modes), files)
    # distributed path: ship paths, read footers on executors, return JSON
    import pandas as pd

    schema_json = json.dumps(schema.to_json())
    alias_json = json.dumps(alias_map) if alias_map is not None else None
    props_json = json.dumps(properties) if properties is not None else None

    def read_footers(batches):
        from incubator_iceberg_spark import write as W
        from incubator_iceberg_spark import manifests as MF2
        from incubator_iceberg_spark.schema import Schema as Sch
        sch = Sch.from_json(json.loads(schema_json))
        amap = json.loads(alias_json) if alias_json is not None else None
        props = json.loads(props_json) if props_json is not None else None
        mds = (MF2.metrics_modes(props, MF2._stats_columns(sch))
               if props is not None else None)
        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                st = W.footer_stats(p, sch, alias_map=amap, modes=mds)
                rows.append(json.dumps(st, default=W._stats_json_default))
            yield pd.DataFrame({"stats": rows})

    paths_df = spark.createDataFrame([(p,) for p in files], "path string") \
        .repartition(max(1, min(len(files) // 16, 256)))
    raw = paths_df.mapInPandas(read_footers, "stats string").collect()
    return [_stats_from_json(r["stats"], schema) for r in raw]


def footer_stats(path: str, schema: S.Schema,
                 alias_map: Optional[dict] = None,
                 modes: Optional[dict] = None) -> dict:
    """Stats for one file from its Parquet footer (no data read).
    ``alias_map`` re-keys physical column names to canonical schema
    names (name-mapped foreign imports, mapping.alias_to_canonical).
    ``modes`` ({col: (kind, len)} from manifests.metrics_modes) skips
    none-mode columns at harvest time and bounds for counts-mode
    columns — on a capped wide schema the per-row-group loop touches
    only the collecting prefix."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    ncols = md.num_columns
    names = [md.schema.column(i).path for i in range(ncols)]
    if alias_map:
        def _remap(n):
            if n in alias_map:
                return alias_map[n]
            head, dot, rest = n.partition(".")
            return alias_map.get(head, head) + dot + rest if dot else n
        names = [_remap(n) for n in names]
    # dotted leaf paths (struct-nested included) — same set the manifest
    # bounds struct is keyed by, so footer stats flow into pruning
    top = {f.name: f for f in MF._stats_columns(schema)}
    if modes is not None:
        top = {n: f for n, f in top.items()
               if modes.get(n, ("truncate", None))[0] != "none"}
    lower: dict = {}
    upper: dict = {}
    nulls: dict = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for i in range(ncols):
            name = names[i]
            if name not in top:
                continue  # list/map leaves: multi-valued, no bounds kept
            col = g.column(i)
            st = col.statistics
            if st is None:
                continue
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
            if modes is not None and \
                    modes.get(name, ("truncate", None))[0] == "counts":
                continue
            if st.has_min_max:
                try:
                    mn, mx = st.min, st.max
                except Exception:
                    # pyarrow can't CAST some footers' stats to logical
                    # values (Spark writes decimals as FIXED_LEN_BYTE_ARRAY
                    # and _cast_statistics raises NotImplemented) — the
                    # raw form still carries the unscaled integer; decode
                    # it, else skip bounds for this column (no pruning,
                    # never a crash)
                    mn = mx = None
                    fld = top.get(name)
                    if fld is not None and isinstance(fld.type,
                                                      S.DecimalType):
                        try:
                            raw_mn, raw_mx = st.min_raw, st.max_raw
                            if isinstance(raw_mn, int) and \
                                    isinstance(raw_mx, int):
                                sc = fld.type.scale
                                mn = Decimal(raw_mn).scaleb(-sc)
                                mx = Decimal(raw_mx).scaleb(-sc)
                        except Exception:
                            mn = mx = None
                    if mn is None or mx is None:
                        continue
                if _is_nan(mn) or _is_nan(mx):
                    continue  # NaN-polluted bounds are unusable
                if name not in lower or _lt(mn, lower[name]):
                    lower[name] = mn
                if name not in upper or _lt(upper[name], mx):
                    upper[name] = mx
    value_counts = {n: md.num_rows for n in top}
    null_counts = {n: nulls.get(n, 0) for n in top}
    if alias_map is not None:
        # a schema column none of whose aliases exist in this foreign
        # file reads as all-NULL: its stats must say so, or IS NULL
        # predicates would wrongly prune / COUNT(col) would overcount
        present = set(names)
        for n in top:
            if n not in present:
                null_counts[n] = md.num_rows
        # one file physically carrying TWO aliases of the same field
        # (out-of-contract, but importable): the read coalesces per row,
        # so the coalesced null count is NOT the sum over aliases — the
        # sum reaches num_rows while values exist, and the all-null
        # inclusive check then prunes rows the scan would return.  The
        # true count (rows where EVERY alias is null) is unknowable from
        # footers: drop it (unknown → never prunes).  Bounds stay — the
        # min/max union over aliases covers every coalesce outcome.
        from collections import Counter
        dup = {n for n, c in Counter(names).items() if c > 1}
        for n in dup & set(top):
            null_counts.pop(n, None)
    return {
        "file_path": path,
        "record_count": md.num_rows,
        "file_size_bytes": os.path.getsize(path),
        "value_counts": value_counts,
        "null_counts": null_counts,
        "nan_counts": None,  # not in footers; conservative (no NaN pruning)
        "lower_bounds": lower,
        "upper_bounds": upper,
    }


def orc_stats(path: str, schema: S.Schema,
              alias_map: Optional[dict] = None) -> dict:
    """Stats for one ORC file.  pyarrow (16.x) exposes no accessor over
    the ORC footer's NATIVE column statistics, so bounds/null counts are
    harvested with ONE vectorized columnar read at import time
    (pc.min_max per stats leaf) — a one-shot cost that buys the same
    metadata-only pruning parquet imports get.  ``alias_map`` re-keys
    physical (possibly nested dotted) paths to canonical names for
    name-mapped foreign imports (mapping.alias_to_canonical); a
    canonical leaf absent from the file is stamped all-NULL, matching
    what the scan returns for it."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.orc as po

    of = po.ORCFile(path)
    nrows = of.nrows
    top = {f.name: f for f in MF._stats_columns(schema)}

    def _remap(n):
        if not alias_map:
            return n
        if n in alias_map:
            return alias_map[n]
        head, dot, rest = n.partition(".")
        return alias_map.get(head, head) + dot + rest if dot else n

    leaves: dict = {}

    def walk(arr, phys_path):
        if pa.types.is_struct(arr.type):
            for child, f in zip(arr.flatten(), arr.type):
                walk(child, phys_path + "." + f.name)
            return
        canon = _remap(phys_path)
        if canon in top:
            leaves[canon] = arr

    tbl = of.read()
    for name in tbl.column_names:
        walk(tbl.column(name), name)

    lower: dict = {}
    upper: dict = {}
    null_counts = {}
    for n in top:
        arr = leaves.get(n)
        if arr is None:
            # no physical column resolves to this leaf: reads are NULL
            null_counts[n] = nrows
            continue
        null_counts[n] = arr.null_count
        if arr.null_count == len(arr) or nrows == 0:
            continue
        try:
            mm = pc.min_max(arr, skip_nulls=True)
        except pa.lib.ArrowNotImplementedError:
            continue
        mn, mx = mm["min"].as_py(), mm["max"].as_py()
        if mn is None or mx is None or _is_nan(mn) or _is_nan(mx):
            continue
        lower[n], upper[n] = mn, mx
    return {
        "file_path": path,
        "record_count": nrows,
        "file_size_bytes": os.path.getsize(path),
        "value_counts": {n: nrows for n in top},
        "null_counts": null_counts,
        "nan_counts": None,
        "lower_bounds": lower,
        "upper_bounds": upper,
    }


def _is_nan(v) -> bool:
    return isinstance(v, float) and v != v


def _lt(a, b) -> bool:
    try:
        return a < b
    except TypeError:
        return False


def _stats_json_default(o):
    if isinstance(o, datetime):
        return {"$ts": o.isoformat()}
    if isinstance(o, date):
        return {"$d": o.isoformat()}
    if isinstance(o, Decimal):
        return {"$dec": str(o)}
    if isinstance(o, (bytes, bytearray)):
        return {"$b64": base64.b64encode(bytes(o)).decode()}
    raise TypeError(f"not serializable: {o!r}")


def _stats_obj_hook(obj):
    if "$ts" in obj:
        return datetime.fromisoformat(obj["$ts"])
    if "$d" in obj:
        return date.fromisoformat(obj["$d"])
    if "$dec" in obj:
        return Decimal(obj["$dec"])
    if "$b64" in obj:
        return base64.b64decode(obj["$b64"])
    return obj


def _stats_from_json(s: str, schema: S.Schema) -> dict:
    return json.loads(s, object_hook=_stats_obj_hook)


# ---------------------------------------------------------------------------
# partition tuple recovery from hive-style staging paths
# ---------------------------------------------------------------------------

def _partition_from_path(file_path: str, staging_root: str, spec: PartitionSpec) -> dict:
    if not spec.is_partitioned:
        return {}
    rel = os.path.relpath(os.path.dirname(file_path), staging_root)
    values: dict = {}
    for seg in rel.split(os.sep):
        if "=" not in seg:
            continue
        k, v = seg.split("=", 1)
        if k.startswith(PARTITION_COL_PREFIX):
            values[k[len(PARTITION_COL_PREFIX):]] = unquote(v)
    pt = spec.partition_type()
    out = {}
    for f in pt.fields:
        raw = values.get(f.name)
        out[f.name] = _parse_partition_value(raw, f.type)
    return out


def _parse_partition_value(raw: Optional[str], t: S.Type):
    if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    if isinstance(t, S.IntegerType) or isinstance(t, S.LongType):
        return int(raw)
    if isinstance(t, (S.FloatType, S.DoubleType)):
        return float(raw)
    if isinstance(t, S.BooleanType):
        return raw.lower() == "true"
    if isinstance(t, S.DateType):
        return date.fromisoformat(raw)
    if isinstance(t, S.TimestampType):
        return datetime.fromisoformat(raw)
    if isinstance(t, S.DecimalType):
        return Decimal(raw)
    return raw
