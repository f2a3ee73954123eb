"""Table metadata: versioned JSON + snapshot log + optimistic commit.

Re-expresses the reference's TableMetadata/TableOperations layer
(core/.../TableMetadata.java, core/.../hadoop/HadoopTableOperations.java:126-168)
in Python.  Commit protocol (core/.../SnapshotProducer.java:270-300):
optimistic retry loop (default 4 retries, exponential backoff ×2) around an
atomic filesystem swap — we use ``os.link`` (hard link) of a fully-written
temp file onto ``v{N}.metadata.json``, which fails if the version already
exists → CommitFailedException → refresh + re-apply.
"""

from __future__ import annotations

import json
import os
import random
import time
import uuid
from dataclasses import dataclass, field as dc_field, replace
from typing import Callable, Optional

from incubator_iceberg_spark.partitioning import PartitionSpec
from incubator_iceberg_spark.schema import Schema

FORMAT_VERSION = 2

# TableProperties.java:27-55 analogs
COMMIT_NUM_RETRIES = "commit.retry.num-retries"
COMMIT_NUM_RETRIES_DEFAULT = 4
COMMIT_MIN_RETRY_WAIT_MS = "commit.retry.min-wait-ms"
COMMIT_MIN_RETRY_WAIT_MS_DEFAULT = 100
MANIFEST_MIN_MERGE_COUNT = "commit.manifest.min-count-to-merge"
MANIFEST_MIN_MERGE_COUNT_DEFAULT = 100
WRITE_TARGET_FILE_SIZE = "write.target-file-size-bytes"
WRITE_TARGET_FILE_SIZE_DEFAULT = 512 * 1024 * 1024  # TableProperties.java:144-145
SPLIT_SIZE = "read.split.target-size"
SPLIT_SIZE_DEFAULT = 128 * 1024 * 1024  # TableProperties.java:82-91
WRITE_DISTRIBUTION_MODE = "write.distribution-mode"  # none|hash|range


class CommitFailedException(Exception):
    """Concurrent commit won the race; caller should refresh and retry."""


class ValidationException(Exception):
    """Commit conflict validation failed (cannot be retried blindly)."""


@dataclass(frozen=True)
class Snapshot:
    """api/.../Snapshot.java:34-135."""

    snapshot_id: int
    parent_id: Optional[int]
    sequence_number: int
    timestamp_ms: int
    operation: str  # append | overwrite | delete | replace
    summary: dict
    manifest_list: str  # path to manifest-list parquet
    schema_id: int = 0

    def to_json(self):
        return {
            "snapshot-id": self.snapshot_id,
            "parent-snapshot-id": self.parent_id,
            "sequence-number": self.sequence_number,
            "timestamp-ms": self.timestamp_ms,
            "summary": {"operation": self.operation, **self.summary},
            "manifest-list": self.manifest_list,
            "schema-id": self.schema_id,
        }

    @staticmethod
    def from_json(obj):
        summary = dict(obj.get("summary", {}))
        op = summary.pop("operation", "append")
        return Snapshot(
            snapshot_id=obj["snapshot-id"],
            parent_id=obj.get("parent-snapshot-id"),
            sequence_number=obj.get("sequence-number", 0),
            timestamp_ms=obj["timestamp-ms"],
            operation=op,
            summary=summary,
            manifest_list=obj["manifest-list"],
            schema_id=obj.get("schema-id", 0),
        )


@dataclass(frozen=True)
class SortField:
    source_id: int
    direction: str = "asc"  # asc | desc
    null_order: str = "nulls-first"
    transform: str = "identity"


@dataclass(frozen=True)
class SortOrder:
    """api/.../SortOrder.java:45-250."""

    order_id: int
    fields: tuple = ()

    def to_json(self):
        return {"order-id": self.order_id,
                "fields": [{"source-id": f.source_id, "transform": f.transform,
                            "direction": f.direction, "null-order": f.null_order}
                           for f in self.fields]}

    @staticmethod
    def from_json(obj):
        return SortOrder(obj["order-id"], tuple(
            SortField(f["source-id"], f.get("direction", "asc"),
                      f.get("null-order", "nulls-first"), f.get("transform", "identity"))
            for f in obj.get("fields", ())))


UNSORTED = SortOrder(0, ())


@dataclass
class TableMetadata:
    table_uuid: str
    location: str
    last_sequence_number: int
    last_updated_ms: int
    last_column_id: int
    schemas: list  # list[Schema]
    current_schema_id: int
    specs: list  # list[PartitionSpec]
    default_spec_id: int
    last_partition_id: int
    sort_orders: list
    default_sort_order_id: int
    properties: dict
    current_snapshot_id: Optional[int]
    snapshots: list  # list[Snapshot]
    snapshot_log: list  # [{"timestamp-ms", "snapshot-id"}]
    # branch/tag refs (format-v2 SnapshotRef analog): name →
    # {"snapshot-id": int, "type": "branch"|"tag"}; legacy plain-int values
    # are read as tags
    refs: dict = dc_field(default_factory=dict)
    # [{"timestamp-ms", "metadata-file"}] — previous metadata versions,
    # truncated to write.metadata.previous-versions-max (reference:
    # TableProperties.java:128-129, default 100)
    metadata_log: list = dc_field(default_factory=list)
    format_version: int = FORMAT_VERSION

    # -- accessors ---------------------------------------------------------
    def schema(self) -> Schema:
        return next(s for s in self.schemas if s.schema_id == self.current_schema_id)

    def schema_by_id(self, schema_id: int) -> Schema:
        return next(s for s in self.schemas if s.schema_id == schema_id)

    def spec(self) -> PartitionSpec:
        return next(s for s in self.specs if s.spec_id == self.default_spec_id)

    def spec_by_id(self, spec_id: int) -> PartitionSpec:
        return next(s for s in self.specs if s.spec_id == spec_id)

    def sort_order(self) -> SortOrder:
        return next((s for s in self.sort_orders if s.order_id == self.default_sort_order_id),
                    UNSORTED)

    def current_snapshot(self) -> Optional[Snapshot]:
        if self.current_snapshot_id is None:
            return None
        return self.snapshot_by_id(self.current_snapshot_id)

    def snapshot_by_id(self, snapshot_id: int) -> Optional[Snapshot]:
        return next((s for s in self.snapshots if s.snapshot_id == snapshot_id), None)

    def snapshot_as_of(self, timestamp_ms: int) -> Optional[Snapshot]:
        """Latest snapshot whose commit time <= timestamp (binary-search
        equivalent over the snapshot log, SnapshotUtil analog)."""
        best = None
        for entry in self.snapshot_log:
            if entry["timestamp-ms"] <= timestamp_ms:
                best = entry["snapshot-id"]
        return self.snapshot_by_id(best) if best is not None else None

    def history(self) -> list:
        return list(self.snapshot_log)

    def ref(self, name: str) -> Optional[dict]:
        """Resolve a branch/tag ref to {"snapshot-id", "type"}.  "main" is
        implicit (the current snapshot)."""
        if name == "main":
            if self.current_snapshot_id is None:
                return None
            return {"snapshot-id": self.current_snapshot_id, "type": "branch"}
        v = self.refs.get(name)
        if v is None:
            return None
        if isinstance(v, dict):
            out = {"snapshot-id": v["snapshot-id"], "type": v.get("type", "tag")}
            for k in ("max-ref-age-ms", "min-snapshots-to-keep",
                      "max-snapshot-age-ms"):
                if v.get(k) is not None:
                    out[k] = v[k]
            return out
        return {"snapshot-id": v, "type": "tag"}  # legacy flat form

    def property(self, key: str, default):
        v = self.properties.get(key)
        if v is None:
            return default
        if isinstance(default, int):
            return int(v)
        return v

    # -- mutation helpers (all return new TableMetadata) -------------------
    def with_snapshot(self, snapshot: Snapshot, set_current: bool = True) -> "TableMetadata":
        md = replace(self)
        md.snapshots = self.snapshots + [snapshot]
        md.last_sequence_number = max(self.last_sequence_number, snapshot.sequence_number)
        md.last_updated_ms = snapshot.timestamp_ms
        if set_current:
            md.current_snapshot_id = snapshot.snapshot_id
            md.snapshot_log = self.snapshot_log + [
                {"timestamp-ms": snapshot.timestamp_ms, "snapshot-id": snapshot.snapshot_id}]
        return md

    def with_ref(self, name: str, snapshot_id: int, ref_type: str = "branch",
                 retention: Optional[dict] = None) -> "TableMetadata":
        """``retention`` may carry the SnapshotRef retention fields
        (max-ref-age-ms / min-snapshots-to-keep / max-snapshot-age-ms).
        When None, an EXISTING ref's retention is preserved — re-pointing
        a branch (fast-forward, retry rebase) must not erase its policy."""
        if name == "main":
            return self.with_current(snapshot_id)
        if self.snapshot_by_id(snapshot_id) is None:
            raise ValidationException(f"unknown snapshot: {snapshot_id}")
        md = replace(self)
        md.refs = dict(self.refs)
        entry = {"snapshot-id": snapshot_id, "type": ref_type}
        prev = self.refs.get(name)
        carry = retention if retention is not None else \
            (prev if isinstance(prev, dict) else {})
        for k in ("max-ref-age-ms", "min-snapshots-to-keep",
                  "max-snapshot-age-ms"):
            if carry.get(k) is not None:
                entry[k] = int(carry[k])
        md.refs[name] = entry
        md.last_updated_ms = now_ms()
        return md

    def without_ref(self, name: str) -> "TableMetadata":
        if name not in self.refs:
            raise ValidationException(f"unknown ref: {name}")
        md = replace(self)
        md.refs = {k: v for k, v in self.refs.items() if k != name}
        md.last_updated_ms = now_ms()
        return md

    def with_current(self, snapshot_id: int, timestamp_ms: Optional[int] = None) -> "TableMetadata":
        if self.snapshot_by_id(snapshot_id) is None:
            raise ValidationException(f"unknown snapshot: {snapshot_id}")
        md = replace(self)
        ts = timestamp_ms or now_ms()
        md.current_snapshot_id = snapshot_id
        md.last_updated_ms = ts
        md.snapshot_log = self.snapshot_log + [
            {"timestamp-ms": ts, "snapshot-id": snapshot_id}]
        return md

    # -- JSON --------------------------------------------------------------
    def to_json(self) -> dict:
        return {
            "format-version": self.format_version,
            "table-uuid": self.table_uuid,
            "location": self.location,
            "last-sequence-number": self.last_sequence_number,
            "last-updated-ms": self.last_updated_ms,
            "last-column-id": self.last_column_id,
            "current-schema-id": self.current_schema_id,
            "schemas": [s.to_json() for s in self.schemas],
            "default-spec-id": self.default_spec_id,
            "partition-specs": [s.to_json() for s in self.specs],
            "last-partition-id": self.last_partition_id,
            "default-sort-order-id": self.default_sort_order_id,
            "sort-orders": [s.to_json() for s in self.sort_orders],
            "properties": self.properties,
            "current-snapshot-id": self.current_snapshot_id,
            "snapshots": [s.to_json() for s in self.snapshots],
            "snapshot-log": self.snapshot_log,
            "metadata-log": self.metadata_log,
            "refs": self.refs,
        }

    @staticmethod
    def from_json(obj: dict) -> "TableMetadata":
        schemas = [Schema.from_json(s) for s in obj["schemas"]]
        by_id = {s.schema_id: s for s in schemas}
        cur_schema = by_id[obj["current-schema-id"]]
        specs = [PartitionSpec.from_json(s, cur_schema) for s in obj["partition-specs"]]
        return TableMetadata(
            table_uuid=obj["table-uuid"],
            location=obj["location"],
            last_sequence_number=obj.get("last-sequence-number", 0),
            last_updated_ms=obj.get("last-updated-ms", 0),
            last_column_id=obj.get("last-column-id", 0),
            schemas=schemas,
            current_schema_id=obj["current-schema-id"],
            specs=specs,
            default_spec_id=obj.get("default-spec-id", 0),
            last_partition_id=obj.get("last-partition-id", 999),
            sort_orders=[SortOrder.from_json(s) for s in obj.get("sort-orders", [])],
            default_sort_order_id=obj.get("default-sort-order-id", 0),
            properties=obj.get("properties", {}),
            current_snapshot_id=obj.get("current-snapshot-id"),
            snapshots=[Snapshot.from_json(s) for s in obj.get("snapshots", [])],
            snapshot_log=obj.get("snapshot-log", []),
            metadata_log=obj.get("metadata-log", []),
            refs=obj.get("refs", {}),
            format_version=obj.get("format-version", FORMAT_VERSION),
        )

    @staticmethod
    def new(location: str, schema: Schema, spec: PartitionSpec,
            properties: Optional[dict] = None) -> "TableMetadata":
        return TableMetadata(
            table_uuid=str(uuid.uuid4()),
            location=location,
            last_sequence_number=0,
            last_updated_ms=now_ms(),
            last_column_id=schema.highest_field_id(),
            schemas=[schema],
            current_schema_id=schema.schema_id,
            specs=[spec],
            default_spec_id=spec.spec_id,
            last_partition_id=max([f.field_id for f in spec.fields], default=999),
            sort_orders=[UNSORTED],
            default_sort_order_id=0,
            properties=dict(properties or {}),
            current_snapshot_id=None,
            snapshots=[],
            snapshot_log=[],
        )


def now_ms() -> int:
    return int(time.time() * 1000)


def new_snapshot_id() -> int:
    return random.getrandbits(62)


class TableOperations:
    """Filesystem table operations: version-hint + atomic metadata swap
    (HadoopTableOperations.java:126-168, 296-299)."""

    def __init__(self, table_location: str):
        self.location = table_location
        self.metadata_dir = os.path.join(table_location, "metadata")

    def version_hint_path(self) -> str:
        return os.path.join(self.metadata_dir, "version-hint.text")

    def metadata_path(self, version: int) -> str:
        return os.path.join(self.metadata_dir, f"v{version}.metadata.json")

    def current_version(self) -> Optional[int]:
        try:
            with open(self.version_hint_path()) as f:
                v = int(f.read().strip())
        except (FileNotFoundError, ValueError):
            v = 0
        # hint may lag behind a commit that crashed pre-hint-update: probe forward
        probe = max(v, 1)
        found = v if v > 0 and os.path.exists(self.metadata_path(v)) else None
        while os.path.exists(self.metadata_path(probe)):
            found = probe
            probe += 1
        if found is None and os.path.isdir(self.metadata_dir):
            # cold start with a lost hint AND expired early versions
            # (write.metadata cleanup unlinks old files): fall back to a
            # directory listing instead of reporting the table empty
            versions = []
            for name in os.listdir(self.metadata_dir):
                if name.startswith("v") and name.endswith(".metadata.json"):
                    try:
                        versions.append(int(name[1:-len(".metadata.json")]))
                    except ValueError:
                        pass
            if versions:
                found = max(versions)
        return found

    def refresh(self) -> Optional[TableMetadata]:
        v = self.current_version()
        if v is None:
            return None
        with open(self.metadata_path(v)) as f:
            md = TableMetadata.from_json(json.load(f))
        md._version = v  # type: ignore[attr-defined]
        return md

    def commit(self, base_version: Optional[int], metadata: TableMetadata) -> int:
        """Atomically install ``metadata`` as version ``base_version+1``.
        Raises CommitFailedException if that version already exists.

        Maintains the reference's metadata-log contract
        (TableMetadata.previousFiles + TableProperties.java:128-133):
        the log records previous metadata files, truncated to
        ``write.metadata.previous-versions-max`` (default 100); with
        ``write.metadata.delete-after-commit.enabled=true`` the files
        dropped from the log are unlinked after a successful commit —
        without it, a commit-heavy table accumulates one full metadata
        JSON per commit forever (the 600-commit rehearsal left 135 MB)."""
        os.makedirs(self.metadata_dir, exist_ok=True)
        new_version = (base_version or 0) + 1
        max_prev = int(metadata.properties.get(
            "write.metadata.previous-versions-max", "100"))
        delete_old = str(metadata.properties.get(
            "write.metadata.delete-after-commit.enabled", "false")).lower() == "true"
        if base_version:
            entry = {"timestamp-ms": now_ms(),
                     "metadata-file": self.metadata_path(base_version)}
            metadata.metadata_log = (list(metadata.metadata_log) + [entry])[-max_prev:]
        final = self.metadata_path(new_version)
        tmp = os.path.join(self.metadata_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(metadata.to_json(), f, default=_json_default)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, final)  # atomic create-if-absent
        except FileExistsError:
            raise CommitFailedException(
                f"version {new_version} already committed by a concurrent writer")
        finally:
            os.unlink(tmp)
        # best-effort hint update (readers probe forward anyway)
        hint_tmp = os.path.join(self.metadata_dir, f".hint-{uuid.uuid4().hex}")
        with open(hint_tmp, "w") as f:
            f.write(str(new_version))
        os.replace(hint_tmp, self.version_hint_path())
        if delete_old:
            # unlink versions dropped off the metadata log (best-effort;
            # concurrent stale readers are why the flag defaults false,
            # exactly as in the reference)
            for old in range(max(1, new_version - max_prev - 50),
                             new_version - max_prev):
                try:
                    os.unlink(self.metadata_path(old))
                except FileNotFoundError:
                    pass
        return new_version


def _json_default(o):
    raise TypeError(f"not JSON serializable: {o!r}")


def _emit_commit_events(base: Optional[TableMetadata], updated) -> None:
    from incubator_iceberg_spark import events as EVT

    had = {s.snapshot_id for s in getattr(base, "snapshots", None) or ()}
    for snap in getattr(updated, "snapshots", None) or ():
        if snap.snapshot_id not in had:
            EVT.emit(EVT.CommitEvent(
                table_location=updated.location,
                snapshot_id=snap.snapshot_id, operation=snap.operation,
                sequence_number=snap.sequence_number,
                summary=dict(snap.summary)))


def run_with_retries(ops: TableOperations, apply_update: Callable[[Optional[TableMetadata]], TableMetadata],
                     retries: Optional[int] = None) -> TableMetadata:
    """SnapshotProducer.java:270-300 retry loop: refresh → re-apply pending
    change → attempt atomic swap; retry only on CommitFailedException.
    One CommitEvent per snapshot the swap added, emitted only after the
    swap lands — a conflicted attempt or a failed transaction emits
    nothing (the reference notifies listeners after the commit)."""
    base = ops.refresh()
    n = retries if retries is not None else (
        base.property(COMMIT_NUM_RETRIES, COMMIT_NUM_RETRIES_DEFAULT) if base
        else COMMIT_NUM_RETRIES_DEFAULT)
    attempt = 0
    while True:
        base_version = getattr(base, "_version", None) if base else None
        updated = apply_update(base)
        try:
            new_version = ops.commit(base_version, updated)
            updated._version = new_version  # type: ignore[attr-defined]
            _emit_commit_events(base, updated)
            return updated
        except CommitFailedException:
            attempt += 1
            if attempt > n:
                raise
            time.sleep(COMMIT_MIN_RETRY_WAIT_MS_DEFAULT / 1000.0 * (2 ** (attempt - 1))
                       * (0.8 + 0.4 * random.random()))
            base = ops.refresh()
