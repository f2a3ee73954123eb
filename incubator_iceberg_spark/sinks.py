"""Python Data Source WRITE path: ``df.write.format('iiws')`` batch
append/overwrite and ``df.writeStream.format('iiws')`` exactly-once
streaming sink.

Reference surface re-expressed (SURVEY §2.1 S9/S12):
- batch:   SparkWrite.java:92-249 — executors fan rows out per partition
  (PartitionedFanoutWriter.java:29-33 analog), roll files at a target row
  count, and return per-file stats as commit messages; the driver commits
  ONE atomic snapshot (append, or full-table overwrite for
  ``mode('overwrite')``).
- stream:  SparkWrite.java:398-411 BaseStreamingWrite + the epoch-id dedup
  of spark2/.../StreamingWriter.java:40-67 — ``commit(messages, batchId)``
  skips batches whose epoch is already recorded in a snapshot summary, so
  Structured Streaming retries never double-append.

Executor-side work is pure pyarrow (no SparkSession on executors);
partition values are computed with the engine's own transforms
(``Transform.apply``), so bucket/truncate/time fanout matches the
Spark-side write path bit-for-bit.  Note: unlike ``Table.append`` this
path applies no table sort order and no global distribution — each task
fans out its own rows (exactly the reference's fanout writer trade-off).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    DataSourceStreamWriter,
    WriterCommitMessage,
)


@dataclass
class _Files(WriterCommitMessage):
    entries_json: str  # [entry dict] with typed stats, JSON-encoded


# default roll threshold: matches write._max_records_estimate at the
# 512 MB target (records, not bytes — footers aren't known until close)
_DEFAULT_MAX_ROWS_PER_FILE = 1_000_000


def _spec_parts(md):
    """Picklable partition-spec description: [(source col, transform str,
    partition name)] — rebuilt with PartitionSpec.build on executors."""
    spec = md.spec()
    schema = md.schema()
    return [(schema.field_path(f.source_id), str(f.transform), f.name)
            for f in spec.fields]


class _TaskWriter:
    """Executor-side fanout writer shared by batch and streaming sinks."""

    def __init__(self, location: str, schema_json: str, spec_parts: list,
                 max_rows: int = _DEFAULT_MAX_ROWS_PER_FILE):
        self.location = location
        self.schema_json = schema_json
        self.spec_parts = [tuple(p) for p in spec_parts]
        self.max_rows = max_rows

    # -- executor ----------------------------------------------------------
    def write_batches(self, iterator):
        import pyarrow as pa

        from incubator_iceberg_spark import manifests as MF
        from incubator_iceberg_spark import write as W
        from incubator_iceberg_spark.partitioning import PartitionSpec
        from incubator_iceberg_spark.schema import Schema

        schema = Schema.from_json(json.loads(self.schema_json))
        spec = PartitionSpec.build(schema, list(self.spec_parts)) \
            if self.spec_parts else PartitionSpec.unpartitioned(schema)
        target = pa.schema([(f.name, MF.arrow_type(f.type))
                            for f in schema.fields])
        task_dir = os.path.join(self.location, "data", "dsw-" + uuid.uuid4().hex)
        part_fields = [(spec.schema.field_path(f.source_id),
                        spec.schema.find_field(f.source_id).type,
                        f.name, f.transform) for f in spec.fields]

        buffers: dict = {}  # partition tuple -> [pa.Table]
        counts: dict = {}
        entries: list = []
        n_files = [0]

        def flush(key):
            tables = buffers.pop(key, None)
            counts.pop(key, None)
            if not tables:
                return
            tbl = pa.concat_tables(tables)
            if tbl.num_rows == 0:
                return
            os.makedirs(task_dir, exist_ok=True)
            path = os.path.join(task_dir, f"part-{n_files[0]:05d}.parquet")
            n_files[0] += 1
            import pyarrow.parquet as pq
            pq.write_table(tbl, path)
            e = W.entry_from_stats(W.footer_stats(path, schema), "parquet")
            if spec.is_partitioned:
                e["partition"] = dict(zip((f.name for f in spec.fields), key))
            entries.append(e)

        def add(key, tbl):
            buffers.setdefault(key, []).append(tbl)
            counts[key] = counts.get(key, 0) + tbl.num_rows
            if counts[key] >= self.max_rows:
                flush(key)

        for batch in iterator:
            tbl = pa.Table.from_batches([batch])
            tbl = _align_arrow(tbl, schema, target)
            if not spec.is_partitioned:
                add((), tbl)
                continue
            key_lists = []
            for src_path, src_type, _name, transform in part_fields:
                vals = _dotted_column(tbl, src_path).to_pylist()
                if _takes_source_type(transform):
                    key_lists.append([transform.apply(v, src_type)
                                      for v in vals])
                else:
                    key_lists.append([transform.apply(v) for v in vals])
            idx_by: dict = {}
            for i, tup in enumerate(zip(*key_lists)):
                idx_by.setdefault(tup, []).append(i)
            for tup, idxs in idx_by.items():
                add(tup, tbl.take(pa.array(idxs, type=pa.int64())))
        for key in list(buffers):
            flush(key)
        from incubator_iceberg_spark.write import _stats_json_default
        return _Files(entries_json=json.dumps(entries,
                                              default=_stats_json_default))


def _takes_source_type(transform) -> bool:
    import inspect
    return len(inspect.signature(transform.apply).parameters) >= 2


def _dotted_column(tbl, path: str):
    import pyarrow.compute as pc
    parts = path.split(".")
    arr = tbl[parts[0]]
    for p in parts[1:]:
        arr = pc.struct_field(arr, p)
    return arr


def _align_arrow(tbl, schema, target):
    """Name-based (case-insensitive) projection + cast to the table's
    arrow schema — write.align_to_schema, pyarrow flavor."""
    import pyarrow as pa

    have = {n.lower(): n for n in tbl.column_names}
    cols = []
    for f, t in zip(schema.fields, target):
        src = have.get(f.name.lower())
        if src is None:
            if f.required:
                raise ValueError(f"required column {f.name} missing from input")
            cols.append(pa.nulls(tbl.num_rows, type=t.type))
        else:
            arr = tbl[src]
            cols.append(arr if arr.type == t.type else arr.cast(t.type))
    return pa.table(dict(zip([f.name for f in schema.fields], cols)))


def _parse_messages(messages):
    from incubator_iceberg_spark.write import _stats_obj_hook
    entries = []
    for m in messages:
        if m is None:
            continue
        entries.extend(json.loads(m.entries_json, object_hook=_stats_obj_hook))
    return entries


def _cleanup(messages):
    for m in messages or []:
        if m is None:
            continue
        try:
            for e in json.loads(m.entries_json):
                try:
                    os.unlink(e["file_path"])
                except OSError:
                    pass
        except (ValueError, KeyError):
            pass


class IcebergBatchWriter(DataSourceArrowWriter):
    """``df.write.format('iiws').option('path', loc).mode(m).save()``:
    append, or full-table overwrite (TRUNCATE + append in one snapshot)."""

    def __init__(self, location: str, overwrite: bool, options: dict):
        from incubator_iceberg_spark.metadata import TableOperations

        md = TableOperations(location).refresh()
        if md is None:
            raise ValueError(f"not an engine table: {location}")
        self.location = location
        self.overwrite = overwrite
        self.branch = options.get("branch")
        if self.branch and overwrite:
            raise ValueError("branch writes support append mode only")
        self.task = _TaskWriter(location, json.dumps(md.schema().to_json()),
                                _spec_parts(md))

    def write(self, iterator):
        return self.task.write_batches(iterator)

    def commit(self, messages):
        from incubator_iceberg_spark import snapshots as SN
        from incubator_iceberg_spark.metadata import TableOperations

        entries = _parse_messages(messages)
        ops = TableOperations(self.location)
        if self.overwrite:
            from incubator_iceberg_spark.scan import TableScan
            from incubator_iceberg_spark.sources import _Shim
            md = ops.refresh()
            live = TableScan(_Shim(md), None).plan_entries_local()
            if live is None:
                raise NotImplementedError(
                    "overwrite via the DS writer needs driver-local planning; "
                    "use Table.overwrite for metadata this large")
            deleted = {e["file_path"] for e in live}
            SN.overwrite_files(ops, entries, deleted)
        else:
            SN.append_files(ops, entries, branch=self.branch)

    def abort(self, messages):
        _cleanup(messages)


class IcebergStreamWriter(DataSourceStreamWriter):
    """Exactly-once streaming sink: each micro-batch commits one append
    snapshot stamped with the epoch id; replayed epochs are skipped
    (StreamingWriter.java:62-67 / BaseStreamingWrite epoch dedup)."""

    def __init__(self, location: str, options: dict):
        from incubator_iceberg_spark.metadata import TableOperations

        md = TableOperations(location).refresh()
        if md is None:
            raise ValueError(f"not an engine table: {location}")
        self.location = location
        self.query_id = options.get("query_id", "iiws-stream")
        self._schema_json = json.dumps(md.schema().to_json())
        self._spec_parts = _spec_parts(md)

    def _task(self):
        return _TaskWriter(self.location, self._schema_json, self._spec_parts)

    def write(self, iterator):
        # row iterator → arrow batches via pandas (DataSourceStreamWriter
        # delivers Rows; batch them to keep the fanout writer shared)
        import pandas as pd
        import pyarrow as pa

        rows = [r.asDict(recursive=True) for r in iterator]
        task = self._task()
        if not rows:
            return _Files(entries_json="[]")
        batch = pa.RecordBatch.from_pandas(pd.DataFrame(rows),
                                           preserve_index=False)
        return task.write_batches(iter([batch]))

    def commit(self, messages, batchId):
        from incubator_iceberg_spark import snapshots as SN
        from incubator_iceberg_spark.metadata import TableOperations
        from incubator_iceberg_spark.streaming import EPOCH_KEY, QUERY_KEY

        ops = TableOperations(self.location)
        md = ops.refresh()
        last = None
        for s in reversed(md.snapshots):
            if s.summary.get(QUERY_KEY) == self.query_id and EPOCH_KEY in s.summary:
                last = int(s.summary[EPOCH_KEY])
                break
        if last is not None and int(batchId) <= last:
            _cleanup(messages)  # replayed epoch: files are orphans, drop them
            return
        entries = _parse_messages(messages)
        SN.append_files(ops, entries,
                        extra_summary={EPOCH_KEY: str(int(batchId)),
                                       QUERY_KEY: self.query_id})

    def abort(self, messages, batchId):
        _cleanup(messages)
