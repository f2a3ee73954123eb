"""In-memory span tracing around the engine's layer boundaries.

The tracer patches public (and a few module-level) functions of the
engine from outside: every patched call made while an operation is open
records a span ``[name, start, end, parent, op]``.  A layer's self time
is its span time minus the time of the spans nested inside it.  Nothing
here changes what the engine computes; with no operation open the
wrappers call straight through.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import glob
import json
import os
import sys
import threading
import time
import types

PKG = "incubator_iceberg_spark"
PL, IU = "point_lookup", "ingest_upsert"
ALL = {PL, IU}
# (module, attribute, span name, workloads that must call it);
# "Class.method" patches the class
LAYER_FUNCTIONS = [
    ("scan", "TableScan.to_df", "scan.build", ALL),
    ("scan", "TableScan._plan_split", "scan.plan", ALL),
    ("scan", "read_entries", "scan.read_entries", ALL),
    # point_lookup plans from the manifest cache only
    ("manifests", "read_manifest_arrow", "manifests.read", {IU}),
    ("manifests", "read_manifest_list_arrow", "manifests.read", ALL),
    ("manifests", "write_manifest", "manifests.write", {IU}),
    ("manifests", "write_manifest_list", "manifests.write", {IU}),
    ("metadata", "TableOperations.refresh", "metadata.refresh", ALL),
    ("snapshots", "append_files", "snapshots.commit", {IU}),
    ("snapshots", "overwrite_files", "snapshots.commit", {IU}),
    ("snapshots", "replace_partitions", "snapshots.commit", set()),
    ("write", "stage_write", "write.stage", {IU}),
    ("write", "collect_file_stats", "write.stats", {IU}),
    ("deletes", "apply_delete_files", "deletes.apply", {IU}),
    ("deletes", "_write_delete_parquet", "deletes.write", {IU}),
    ("row_ops", "merge_into", "row_ops.merge", {IU}),
    ("row_ops", "delete_where", "row_ops.delete", set()),
    ("row_ops", "delete_where_mor", "row_ops.delete", {IU}),
    ("maintenance", "auto_maintain", "maintenance", {IU}),
]
COMMIT_SPAN = "metadata.commit"
ACTION_SPAN = "spark.action"
ROOT_PREFIX = "op."
JOB_TAG_PREFIX = "perfbench-op-"


class Tracer:
    def __init__(self):
        self.spans: list = []          # [name, start, end, parent, op]
        self.counts = collections.Counter()
        self.op_id = None
        self._stack: list = []
        self._undo: list = []
        self._thread = threading.get_ident()
        self._listener = None

    # -- recording ---------------------------------------------------------
    def _recording(self) -> bool:
        return self.op_id is not None and threading.get_ident() == self._thread

    @contextlib.contextmanager
    def span(self, name: str):
        if not self._recording():
            yield
            return
        rec = [name, time.perf_counter(), None,
               self._stack[-1] if self._stack else None, self.op_id]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, op_id: int, kind: str, sc=None):
        """One benchmark operation: the root span, a Spark job tag so the
        event log can attribute its jobs and tasks, and the manifest
        cache's hits and misses during it."""
        from incubator_iceberg_spark import scan

        self.op_id = op_id
        tag = f"{JOB_TAG_PREFIX}{op_id}"
        if sc is not None:
            sc.addJobTag(tag)
        cache0 = scan._read_manifest_pylist.cache_info()
        try:
            with self.span(ROOT_PREFIX + kind):
                yield
        finally:
            cache1 = scan._read_manifest_pylist.cache_info()
            self.counts["cache.hits"] += cache1.hits - cache0.hits
            self.counts["cache.misses"] += cache1.misses - cache0.misses
            if sc is not None:
                sc.removeJobTag(tag)
            self.op_id = None

    # -- patching ----------------------------------------------------------
    def _patch(self, owner, attr: str, make):
        """Replace ``owner.attr``.  A module-level function is replaced in
        every engine module that holds it, so a ``from ... import f`` made
        at import time does not bypass the wrapper."""
        orig = getattr(owner, attr)
        wrapper = functools.wraps(orig)(make(orig))
        owners = [owner]
        if isinstance(owner, types.ModuleType):
            owners = [m for n, m in list(sys.modules.items())
                      if m is not None and (n == PKG or n.startswith(PKG + "."))]
        for o in owners:
            for a, v in list(vars(o).items()):
                if v is orig:
                    setattr(o, a, wrapper)
                    self._undo.append((o, a, orig))

    def _wrap(self, name: str, key: str, hooks=(None, None)):
        before, after = hooks

        def make(orig):
            def wrapper(*args, **kwargs):
                if not self._recording():
                    return orig(*args, **kwargs)
                self.counts[key] += 1
                state = before(args) if before is not None else None
                with self.span(name):
                    out = orig(*args, **kwargs)
                if after is not None:
                    after(out, args, state)
                return out
            return wrapper
        return make

    def install(self) -> None:
        import importlib

        from incubator_iceberg_spark import events as EVT
        from incubator_iceberg_spark import metadata as MD

        hooks = {
            "scan.plan": (None, self._after_plan),
            "write.stage": (None, self._after_stage),
            "row_ops.merge": (self._live_files, self._after_merge),
            "maintenance": (self._snapshot_ids, self._after_maintenance),
        }
        for mod_name, attr, name, _must in LAYER_FUNCTIONS:
            owner = importlib.import_module(f"{PKG}.{mod_name}")
            key = _call_key(mod_name, attr)
            if "." in attr:
                cls, attr = attr.split(".")
                owner = getattr(owner, cls)
            self._patch(owner, attr, self._wrap(name, key, hooks.get(name, (None, None))))

        def make_commit(orig):
            # landed commits are counted from commit() returning and
            # CommitFailedException, never from CommitEvent (which fires
            # before the swap, once per retry)
            def commit(ops, base_version, metadata):
                if not self._recording():
                    return orig(ops, base_version, metadata)
                self.counts["metadata.commit.attempts"] += 1
                try:
                    with self.span(COMMIT_SPAN):
                        version = orig(ops, base_version, metadata)
                except MD.CommitFailedException:
                    self.counts["metadata.commit.failed"] += 1
                    raise
                self.counts["metadata.json_bytes"] += os.path.getsize(
                    ops.metadata_path(version))
                return version
            return commit
        self._patch(MD.TableOperations, "commit", make_commit)

        def on_event(ev):
            if isinstance(ev, EVT.ScanEvent) and self._recording():
                self.counts["scan.files_planned"] += ev.planned_data_files
                self.counts["scan.delete_files_planned"] += ev.planned_delete_files
        self._listener = on_event
        EVT.register(on_event)

    def uninstall(self) -> None:
        from incubator_iceberg_spark import events as EVT

        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
        if self._listener is not None:
            EVT.unregister(self._listener)
            self._listener = None

    # -- counters taken at the boundaries ----------------------------------
    def _after_plan(self, out, args, _state) -> None:
        snap = args[0]._snapshot()
        self.counts["scan.files_total"] += _summary_int(snap, "total-data-files")

    def _after_stage(self, entries, _args, _state) -> None:
        nbytes = sum(e.get("file_size_bytes") or 0 for e in entries)
        self.counts["write.files"] += len(entries)
        self.counts["write.rows"] += sum(e.get("record_count") or 0 for e in entries)
        self.counts["write.bytes"] += nbytes
        if any(self.spans[i][0] == "maintenance" for i in self._stack):
            self.counts["maintenance.bytes_rewritten"] += nbytes

    @staticmethod
    def _live_files(args) -> int:
        return _summary_int(args[0].current_snapshot(), "total-data-files")

    def _after_merge(self, out, _args, live_before) -> None:
        self.counts["row_ops.files_touched"] += out.get("touched_files", 0)
        self.counts["row_ops.files_live"] += live_before

    @staticmethod
    def _snapshot_ids(args) -> set:
        return {s.snapshot_id for s in args[0].metadata.snapshots}

    def _after_maintenance(self, _out, args, before_ids) -> None:
        for s in args[0].metadata.snapshots:
            if s.snapshot_id not in before_ids:
                self.counts["maintenance.files_removed"] += (
                    _summary_int(s, "deleted-data-files")
                    + _summary_int(s, "removed-delete-files"))

    # -- reduction ---------------------------------------------------------
    def layer_metrics(self) -> dict:
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent, _op in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        calls = collections.Counter()
        self_s = collections.defaultdict(float)
        op_wall = uncovered = 0.0
        for i, (name, t0, t1, parent, _op) in enumerate(self.spans):
            if name.startswith(ROOT_PREFIX):
                op_wall += t1 - t0
                uncovered += t1 - t0 - child[i]
                continue
            calls[name] += 1
            self_s[name] += t1 - t0 - child[i]
        c = self.counts
        m = {}
        for name in sorted({n for _m, _a, n, _w in LAYER_FUNCTIONS}
                           | {COMMIT_SPAN, ACTION_SPAN}):
            if name != COMMIT_SPAN:
                m[name + ".calls"] = calls[name]
            m[name + ".self_s"] = self_s[name]
        m["metadata.commit.attempts"] = c["metadata.commit.attempts"]
        m["metadata.commit.failed"] = c["metadata.commit.failed"]
        m["metadata.json_bytes"] = c["metadata.json_bytes"]
        m["scan.files_planned"] = c["scan.files_planned"]
        m["scan.delete_files_planned"] = c["scan.delete_files_planned"]
        m["scan.files_total"] = c["scan.files_total"]
        m["scan.files_pruned_ratio"] = _ratio(c["scan.files_planned"],
                                              c["scan.files_total"])
        m["scan.manifest_cache.hits"] = c["cache.hits"]
        m["scan.manifest_cache.misses"] = c["cache.misses"]
        m["scan.manifest_cache.hit_ratio"] = _ratio(
            c["cache.hits"], c["cache.hits"] + c["cache.misses"])
        m["write.files"] = c["write.files"]
        m["write.bytes"] = c["write.bytes"]
        m["write.rows_per_file"] = _ratio(c["write.rows"], c["write.files"])
        m["row_ops.files_rewritten_ratio"] = _ratio(c["row_ops.files_touched"],
                                                    c["row_ops.files_live"])
        m["maintenance.bytes_rewritten"] = c["maintenance.bytes_rewritten"]
        m["maintenance.files_removed"] = c["maintenance.files_removed"]
        m["trace.op_wall_s"] = op_wall
        m["trace.unattributed_share"] = _ratio(uncovered, op_wall)
        return m

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, t0, t1, parent, op in self.spans:
                f.write(json.dumps({"name": name, "start": t0, "end": t1,
                                    "parent": parent, "op": op}) + "\n")


def _call_key(mod_name: str, attr: str) -> str:
    return f"calls:{mod_name}.{attr}"


def check_wrappers(workload: str, counts) -> None:
    """Fail loudly when a wrapped function the workload must call was
    never seen: its callers reached the engine without the wrapper."""
    missing = [f"{m}.{a}" for m, a, _n, must in LAYER_FUNCTIONS
               if workload in must and not counts[_call_key(m, a)]]
    if workload == IU and not counts["metadata.commit.attempts"]:
        missing.append("metadata.TableOperations.commit")
    if missing:
        raise RuntimeError(f"traced run saw no calls to {missing} on {workload}: "
                           "a wrapper was bypassed")


def function_calls(counts) -> dict:
    return {k.split(":", 1)[1]: v for k, v in sorted(counts.items())
            if k.startswith("calls:")}


def _summary_int(snap, key: str) -> int:
    return int((snap.summary or {}).get(key, 0)) if snap is not None else 0


def _ratio(a, b) -> float:
    return a / b if b else 0.0


def spark_event_metrics(event_dir: str, op_ids: set) -> dict:
    """Jobs, tasks, task run time, shuffle and spill bytes of the jobs
    tagged with one of ``op_ids``, read from Spark's event log."""
    tags = {f"{JOB_TAG_PREFIX}{i}" for i in op_ids}
    stage_ok: set = set()
    jobs = tasks = 0
    run_ms = shuffle = spill = 0
    paths = glob.glob(os.path.join(event_dir, "*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one Spark event log in {event_dir}, "
                           f"found {len(paths)}")
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job_tags = (ev.get("Properties") or {}).get("spark.job.tags", "")
                if tags.intersection(job_tags.split(",")):
                    jobs += 1
                    stage_ok.update(ev.get("Stage IDs") or [])
            elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_ok:
                tm = ev.get("Task Metrics") or {}
                tasks += 1
                run_ms += tm.get("Executor Run Time", 0)
                spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                shuffle += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
    return {"spark.jobs": jobs, "spark.tasks": tasks,
            "spark.task_run_s": run_ms / 1000.0,
            "spark.shuffle_bytes": shuffle, "spark.spill_bytes": spill}
