"""Closed-loop benchmark of the incubator_iceberg_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload point_lookup --seed 1 --seconds 25 --trace 0

One client thread drives one workload against ``local[<nproc>]`` Spark.
A run makes a fixed number of whole periods of the workload's operation
stream, the number that fills ``--seconds`` at the workload's nominal
period length, so every commit of a comparison does the same operations.
``--trace 0`` measures the end-to-end metrics; ``--trace 1`` makes a
separate traced run that reports per-layer metrics.  The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
Everything the run writes lives under ``.perfbench_run/`` (removed at
exit) and ``.perfbench_out/`` (span dumps) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["point_lookup", "ingest_upsert"]
BUILDS = 3            # warehouse builds per untraced run; setup_s takes the median
SPARK_DRIVER_MEM = "1g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ["all"],
                   help="one workload, or 'all' to run each in turn")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="nominal length of the timed loop")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def pin_environment(root: str, run_dir: str, event_dir) -> None:
    """Pin cores, scratch and temp dirs from outside the engine, before
    pyspark is imported."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = SPARK_DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        # the heap is committed up front, so the JVM's share of peak_rss_mb
        # does not depend on when the collector last ran; -XX:-UsePerfData
        # keeps the JVM from writing /tmp/hsperfdata_*.  The JIT stops at
        # C1: C2's profile-driven compiles land differently in every JVM,
        # and in back-to-back runs they moved a whole run's latencies by up
        # to 20%; C1 runs stayed within about 5%, at no higher read latency
        "spark.driver.extraJavaOptions": (
            f"-Xms{SPARK_DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-XX:TieredStopAtLevel=1 "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"),
    }
    if event_dir is not None:
        os.makedirs(event_dir)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_dir
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    # pyspark splits this with shlex before handing it to spark-submit
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        "--conf " + shlex.quote(f"{k}={v}") for k, v in conf.items()) + " pyspark-shell"
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)


class Session:
    """The SparkSession plus the JVM process it runs in."""

    def __init__(self):
        from incubator_iceberg_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).collect()
        self.start_s = time.perf_counter() - t0
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.stopped = False

    def rss_parts_mb(self) -> dict:
        return {"python": _vm_hwm_kb("self") / 1024.0, "jvm": _vm_hwm_kb(self.jvm_pid) / 1024.0}

    def peak_rss_mb(self) -> float:
        return sum(self.rss_parts_mb().values())

    def stop(self) -> None:
        """Stop Spark and wait until the JVM has exited."""
        from pyspark import SparkContext

        if self.stopped:
            return
        self.stopped = True
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        while os.path.exists(f"/proc/{self.jvm_pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{self.jvm_pid}"):
            os.kill(self.jvm_pid, 9)


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def dir_files(root: str) -> dict:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            p = os.path.join(dirpath, name)
            try:
                out[p] = os.stat(p).st_size
            except FileNotFoundError:
                pass
    return out


def percentile(values, pct: float) -> float:
    import numpy as np
    return float(np.percentile(values, pct)) if values else float("nan")


class Record:
    """What one timed operation did."""

    __slots__ = ("kind", "label", "seconds", "rows_in", "bytes_in")

    def __init__(self, op, seconds: float):
        self.kind, self.label, self.seconds = op.kind, op.label, seconds
        self.rows_in, self.bytes_in = op.rows_in, op.bytes_in


def busy_s(recs) -> float:
    """Time the one client spent inside operations: the run's wall time
    without the untimed output checks."""
    return sum(r.seconds for r in recs)


class Runner:
    def __init__(self, args, run_dir: str, out_dir: str):
        import workloads

        self.args = args
        self.run_dir = run_dir
        self.out_dir = out_dir
        input_dir = os.path.join(run_dir, "input")
        os.makedirs(input_dir)
        self.tracer = None
        self.wl = workloads.WORKLOADS[args.workload](args.seed, input_dir, self._action)
        self.session = None
        self.built = None
        self.warehouse = None
        self.next_wh = 0
        self.attempted = 0
        self.failures: list = []
        self.seen = None  # path -> size of every file seen in the warehouse
        self.info: dict = {}

    # the benchmark's own Spark action: build the final DataFrame, collect
    def _action(self, make_df):
        if self.tracer is None:
            return make_df().collect()
        from spans import ACTION_SPAN
        with self.tracer.span(ACTION_SPAN):
            return make_df().collect()

    def build(self) -> float:
        from incubator_iceberg_spark import Catalog

        if self.warehouse is not None:
            shutil.rmtree(self.warehouse)
        self.warehouse = os.path.join(self.run_dir, f"warehouse{self.next_wh}")
        self.next_wh += 1
        t0 = time.perf_counter()
        self.built = self.wl.build(Catalog(self.warehouse, self.session.spark),
                                   self.session.spark)
        return time.perf_counter() - t0

    def run_op(self, i: int) -> Record:
        op = self.wl.op(self.built, i)
        self.attempted += 1
        ok = False
        traced = self.tracer is not None and op.kind in self.wl.traced_kinds
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.op(i, op.kind, self.session.spark.sparkContext):
                    out = op.run()
            else:
                out = op.run()
            dt = time.perf_counter() - t0
            ok = bool(op.check(out))
        except Exception:
            dt = time.perf_counter() - t0
            traceback.print_exc(file=sys.stderr)
        if not ok:
            self.failures.append(i)
            print(f"operation {i} ({op.label}) failed", file=sys.stderr)
        return Record(op, dt)

    def loop(self, start: int, periods: int) -> list:
        """Run ``periods`` whole periods of the stream from ``start``.  A
        run far slower than its nominal length (a badly regressed commit)
        stops at the first period boundary past four times that length,
        so it still ends in time."""
        wl = self.wl
        limit = 4 * periods * wl.PERIOD_S
        recs: list = []
        t0 = time.perf_counter()
        for i in range(start, start + periods * wl.period):
            if (i - start) % wl.period == 0 and i > start and time.perf_counter() - t0 > limit:
                print(f"perfbench: stopped after {(i - start) // wl.period} of {periods} "
                      "periods, past four times the nominal run length", file=sys.stderr)
                break
            if self.seen is not None and wl.op_kind(i) == "maintain":
                self.track_written()
            recs.append(self.run_op(i))
        return recs

    def track_written(self) -> None:
        """Files under the warehouse are created and, by maintenance,
        deleted, never rewritten in place: walking before every
        maintenance pass and at the end sees every byte written."""
        for p, size in dir_files(self.warehouse).items():
            self.seen.setdefault(p, size)

    # -- untraced: end-to-end metrics ---------------------------------------
    def warehouse_bytes(self) -> int:
        return sum(dir_files(self.warehouse).values())

    def measure(self) -> dict:
        """Build once (cold), warm up, run the timed loop on that
        warehouse, then build BUILDS - 1 more times, warm.  setup_s takes
        the median build; every other timing comes from the loop, whose
        periods interleave reads, writes and maintenance passes."""
        wl = self.wl
        self.session = Session()
        ingest = wl.name == "ingest_upsert"
        build_s = [self.build()]
        amp = [self.warehouse_bytes() / wl.input_bytes]
        for i in range(wl.warmup_ops):
            self.run_op(i)
        if ingest:
            self.seen = {}
            self.track_written()
            before = set(self.seen)
        recs = self.loop(wl.warmup_ops, wl.periods(self.args.seconds))
        busy = busy_s(recs)
        by_kind = {k: [r.seconds for r in recs if r.kind == k]
                   for k in ("read", "write", "maintain")}
        if ingest:
            self.track_written()
            written = sum(v for p, v in self.seen.items() if p not in before)
            write_amp = written / sum(r.bytes_in for r in recs)
            space_amp = self.warehouse_bytes() / wl.live_arrow_bytes()
        for _ in range(BUILDS - 1):
            build_s.append(self.build())
            amp.append(self.warehouse_bytes() / wl.input_bytes)
        if not ingest:
            # the read workloads' tables are written only by the build
            write_amp = statistics.median(amp)
            space_amp = self.warehouse_bytes() / wl.live_bytes
        setup_s = self.session.start_s + statistics.median(build_s)
        reads, writes = by_kind["read"], by_kind["write"]
        metrics = {
            "setup_s": (setup_s, "s"),
            "read_p50_ms": (percentile(reads, 50) * 1e3, "ms"),
            "read_tail_ms": (percentile(reads, wl.read_tail_pct) * 1e3, "ms"),
            "write_p50_ms": (percentile(writes, 50) * 1e3, "ms"),
            "write_tail_ms": (percentile(writes, wl.write_tail_pct) * 1e3, "ms"),
            "maintain_s": (statistics.median(by_kind["maintain"]), "s"),
            "ops_per_s": (len(recs) / busy, "1/s"),
            "ingest_rows_per_s": (sum(r.rows_in for r in recs) / busy, "rows/s"),
            "write_amp": (write_amp, "ratio"),
            "space_amp": (space_amp, "ratio"),
            "peak_rss_mb": (self.session.peak_rss_mb(), "MB"),
        }
        labels = sorted({r.label for r in recs})
        self.info = {
            "ops": len(recs), "loop_s": busy, "reads": len(reads), "writes": len(writes),
            "maintenance_passes": len(by_kind["maintain"]),
            "read_tail_pct": wl.read_tail_pct, "write_tail_pct": wl.write_tail_pct,
            "p50_ms_by_shape": {lb: [len(v), round(percentile(v, 50) * 1e3, 1)] for lb in labels
                                for v in [[r.seconds for r in recs if r.label == lb]]},
            "spark_start_s": self.session.start_s, "build_s": build_s,
            "rss_mb": self.session.rss_parts_mb()}
        return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}

    def layout(self) -> dict:
        """Rows, files and manifests of each table's current snapshot."""
        import pyarrow.parquet as pq

        out = {}
        for name, t in self.built.tables.items():
            t.refresh()
            snap = t.current_snapshot()
            mlist = pq.read_table(snap.manifest_list, columns=["manifest_length"])
            summary = snap.summary or {}
            out[name] = {k: int(summary.get(k, 0)) for k in
                         ("total-records", "total-data-files", "total-delete-files")}
            out[name]["manifests"] = mlist.num_rows
            out[name]["manifest_bytes"] = sum(mlist.column(0).to_pylist())
            out[name]["snapshots"] = len(t.metadata.snapshots)
        return out

    # -- traced: per-layer metrics -------------------------------------------
    def measure_traced(self, event_dir: str) -> dict:
        """Three back-to-back segments of the operation stream with the
        same number of whole periods: untraced, traced, untraced.  The
        layer metrics come from the traced one; its busy time over the
        mean of its neighbours' is the tracing overhead.  A read workload
        traces only its reads."""
        import spans as T

        wl = self.wl
        self.session = Session()
        self.build()
        for i in range(wl.warmup_ops):
            self.run_op(i)
        start = wl.warmup_ops
        per = max(1, wl.periods(self.args.seconds) // 3)
        before = self.loop(start, per)
        n = len(before)
        tracer = T.Tracer()
        tracer.install()
        self.tracer = tracer
        try:
            traced = self.loop(start + n, per)
        finally:
            self.tracer = None
            tracer.uninstall()
        after = self.loop(start + 2 * n, per)
        c = tracer.counts
        metrics = tracer.layer_metrics()
        metrics["trace.overhead_ratio"] = busy_s(traced) / ((busy_s(before) + busy_s(after)) / 2)
        metrics["trace.ops"] = sum(r.kind in wl.traced_kinds for r in traced)
        os.makedirs(self.out_dir, exist_ok=True)
        tracer.dump(os.path.join(self.out_dir, f"spans-{wl.name}-seed{self.args.seed}.jsonl"))
        self.info = {"function_calls": T.function_calls(c), "layout": self.layout()}
        self.session.stop()
        metrics.update(T.spark_event_metrics(event_dir, {s[4] for s in tracer.spans}))
        T.check_wrappers(wl.name, c)
        return {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_rewritten"):
        return "bytes"
    if name.endswith("ratio") or name.endswith("share"):
        return "ratio"
    if name.endswith("rows_per_file"):
        return "rows/file"
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "incubator_iceberg_spark", "__init__.py")):
        print("perfbench: run from the root of an incubator_iceberg_spark checkout "
              "(incubator_iceberg_spark/ not found)", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    run_dir = os.path.join(root, ".perfbench_run",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    event_dir = os.path.join(run_dir, "events") if args.trace else None
    os.makedirs(run_dir)
    runner = None
    try:
        pin_environment(root, run_dir, event_dir)
        runner = Runner(args, run_dir, out_dir)
        if args.trace:
            metrics = runner.measure_traced(event_dir)
        else:
            metrics = runner.measure()
            runner.session.stop()
        runner.session = None
        env = environment()
        failed = len(runner.failures)
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "trace": args.trace, "env": env,
                          "error_rate": failed / runner.attempted, "info": runner.info}))
        result = {"correct": failed == 0, "attempted": runner.attempted,
                  "failed": failed, "metrics": metrics}
    finally:
        if runner is not None and runner.session is not None:
            runner.session.stop()
        if runner is not None:
            runner.wl.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run_all(args) -> int:
    """Run every workload in its own process; print each metric by name
    with its unit, then one JSON line over all of them."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for wl in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
        res = json.loads(out.strip().splitlines()[-1])
        for k in ("attempted", "failed"):
            total[k] += res[k]
        total["correct"] = total["correct"] and res["correct"]
        print(f"{wl}: attempted {res['attempted']}, failed {res['failed']}, "
              f"error_rate {res['failed'] / res['attempted']:.4g}")
        for name, m in res["metrics"].items():
            print(f"  {name:34s} {m['value']:14.6g} {m['unit']}")
            total["metrics"][f"{wl}.{name}"] = m
    print(json.dumps(total))
    return 0


def environment() -> dict:
    import pyspark
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": os.getloadavg(),
            "pyspark": pyspark.__version__}


if __name__ == "__main__":
    sys.exit(main())
