"""The benchmark workloads.

Each workload generates its inputs from the seed, computes or models the
expected answers with DuckDB outside timing, builds its warehouse through
the engine, and then serves a deterministic operation stream: operation
``i`` is the same on every commit, whatever the speed of the ones before.
The stream repeats a period that interleaves reads, writes and a
maintenance pass, so every metric samples the whole of a run.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import data as D


class Op:
    """One operation of a workload's stream."""

    __slots__ = ("kind", "label", "run", "check", "rows_in", "bytes_in")

    def __init__(self, kind: str, label: str, run, check, batch: pa.Table = None):
        self.kind = kind        # "read", "write" or "maintain"
        self.label = label      # the operation's shape, e.g. "key" or "upsert"
        self.run = run          # () -> output; the only timed part
        self.check = check      # (output) -> True when correct; untimed
        # rows appended or upserted, and their Arrow bytes
        self.rows_in = batch.num_rows if batch is not None else 0
        self.bytes_in = batch.nbytes if batch is not None else 0


class Built:
    """A built warehouse."""

    def __init__(self, catalog, tables: dict):
        self.catalog = catalog
        self.tables = tables
        self.snapshots: list = []
        self.side = None  # point_lookup's side table


def _month(m: int) -> str:
    """First day of the m-th month after 1995-01 (m = 0 is 1995-01)."""
    return str(dt.date(1995 + m // 12, m % 12 + 1, 1))


def _same(got, want) -> bool:
    return [tuple(r) for r in got] == want


def _fetch(con, sql, params=()):
    return [tuple(r) for r in con.execute(sql, list(params)).fetchall()]


def _total_records(t) -> int:
    t.refresh()
    return int((t.current_snapshot().summary or {}).get("total-records", -1))


class Workload:
    name = ""
    # percentiles reported as read_tail_ms and write_tail_ms
    read_tail_pct = 75.0
    write_tail_pct = 75.0
    # the shape of each operation of a period, one letter each
    PERIOD = ""
    KINDS = {"W": "write", "X": "maintain"}  # any other shape is a read
    # nominal wall time of one period; a run of --seconds S makes
    # round(S / PERIOD_S) whole periods, at least two
    PERIOD_S = 1.0
    # operations of the stream run untimed before the timed loop
    warmup_ops = 0
    # operation kinds the traced run records
    traced_kinds = ("read", "write", "maintain")

    def __init__(self, seed: int, input_dir: str, action):
        self.seed = seed
        self.input_dir = input_dir
        self.action = action  # wraps the benchmark's own Spark actions
        self.rng = np.random.default_rng([seed, sum(map(ord, self.name))])
        self.duck = duckdb.connect()
        self.input_bytes = 0
        self.live_bytes = 0

    def _write_input(self, name: str, tbl: pa.Table) -> str:
        path = os.path.join(self.input_dir, f"{self.name}-{name}.parquet")
        pq.write_table(tbl, path)
        return path

    def _load_duck(self, name: str, tbl: pa.Table) -> None:
        self.duck.register(name + "_arrow", tbl)
        self.duck.execute(f"CREATE OR REPLACE TABLE {name} AS SELECT * FROM {name}_arrow")
        self.duck.unregister(name + "_arrow")

    @property
    def period(self) -> int:
        return len(self.PERIOD)

    def periods(self, seconds: float) -> int:
        """Whole periods in a run of ``seconds``: a fixed number for a
        given run length, so both commits of a comparison do the same
        operations."""
        return max(2, round(seconds / self.PERIOD_S))

    def slot(self, i: int):
        """(period, shape, n): operation ``i`` is the n-th of its kind
        (read, write or maintenance) in its period."""
        p, pos = divmod(i, self.period)
        kind = self.op_kind(i)
        return p, self.PERIOD[pos], sum(self.KINDS.get(c, "read") == kind
                                        for c in self.PERIOD[:pos])

    def op_kind(self, i: int) -> str:
        return self.KINDS.get(self.PERIOD[i % self.period], "read")

    def close(self) -> None:
        self.duck.close()


class PointLookup(Workload):
    """Small time-ordered appends to a month-partitioned lineitem, never
    compacted; key lookups, one-month aggregates, time-travel lookups.
    The writes replay the build's appends into a side table that no read
    touches, and its maintenance pass runs once the six have landed."""

    name = "point_lookup"
    read_tail_pct = 83.0
    N_ORDERS = 60_000
    N_APPENDS = 6
    N_OPS = 600
    COLS = ("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    # every ten reads: 5 key lookups, 1 lookup of a gap key inside the key
    # range (no rows), 2 one-month aggregates, 2 time-travel lookups
    MIX = "KMTKGKTKMK"
    # three times ten reads and two side-table appends, then maintenance
    PERIOD = "KMTKGWKTKMKW" * 3 + "X"
    PERIOD_S = 14.0
    warmup_ops = 12
    traced_kinds = ("read",)

    def __init__(self, seed, input_dir, action):
        super().__init__(seed, input_dir, action)
        li = D.lineitem(self.rng, D.orders(self.rng, self.N_ORDERS, 1_000))
        keys = li.column("l_orderkey").to_numpy()
        cut = np.linspace(0, li.num_rows, self.N_APPENDS + 1).astype(int)
        # an order never spans two appends, so a lookup hits one batch
        cut[1:-1] = np.searchsorted(keys, keys[cut[1:-1]])
        self.cut = cut
        self.batches = [li.slice(cut[b], cut[b + 1] - cut[b]) for b in range(self.N_APPENDS)]
        self.paths = [self._write_input(f"b{b}", tb) for b, tb in enumerate(self.batches)]
        self.input_bytes = self.live_bytes = li.nbytes
        batch = np.searchsorted(cut, np.arange(li.num_rows), side="right") - 1
        self._load_duck("li", li.append_column("batch", pa.array(batch, pa.int32())))
        self.reads_per_period = sum(self.op_kind(i) == "read" for i in range(self.period))
        self.spec = self._make_ops(keys)
        self.expected = [self._oracle(*s) for s in self.spec]
        self.spark = None
        self.schema = None

    def _make_ops(self, keys):
        rng = self.rng
        lo, hi = int(keys.min()), int(keys.max())
        spec = []
        for i in range(self.N_OPS):
            kind = self.MIX[i % len(self.MIX)]
            if kind == "K":
                spec.append(("key", int(keys[rng.integers(0, len(keys))]), None))
            elif kind == "G":
                spec.append(("key", int(rng.integers(lo, hi)) // 4 * 4 + 2, None))
            elif kind == "M":
                spec.append(("month", int(rng.integers(0, 82)), None))
            else:  # time travel: a key already present at snapshot b
                b = int(rng.integers(0, self.N_APPENDS - 1))
                spec.append(("key", int(keys[rng.integers(0, self.cut[b + 1])]), b))
        return spec

    def _oracle(self, kind, a, b):
        if kind == "month":
            return _fetch(self.duck,
                          "SELECT count(*), CAST(coalesce(sum(l_quantity), 0) AS BIGINT), "
                          "CAST(coalesce(sum(l_extendedprice), 0) AS BIGINT) FROM li "
                          "WHERE l_shipdate >= CAST($1 AS DATE) AND l_shipdate < CAST($2 AS DATE)",
                          (_month(a), _month(a + 1)))
        return _fetch(self.duck,
                      "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice "
                      "FROM li WHERE l_orderkey = $1 AND batch <= $2 "
                      "ORDER BY l_linenumber", (a, self.N_APPENDS if b is None else b))

    def _create(self, catalog, name: str):
        return catalog.create_table(name, self.schema, partition_by=["month(l_shipdate)"])

    def build(self, catalog, spark) -> Built:
        from incubator_iceberg_spark.schema import Schema

        self.spark = spark
        src = [spark.read.parquet(p) for p in self.paths]
        self.schema = Schema.from_spark(src[0].schema)
        t = self._create(catalog, "db.lineitem")
        built = Built(catalog, {"lineitem": t})
        for df in src:
            t.append(df)
            built.snapshots.append(t.current_snapshot().snapshot_id)
        return built

    def op(self, built: Built, i: int) -> Op:
        p, shape, n = self.slot(i)
        if shape == "W":
            return self._side_append(built, p, n)
        if shape == "X":
            return self._side_maintain(built)
        r = p * self.reads_per_period + n
        kind, a, b = self.spec[r % self.N_OPS]
        want = self.expected[r % self.N_OPS]
        t = built.tables["lineitem"]
        label = kind if b is None else "time_travel"
        if kind == "month":
            def query():
                return t.to_df(filter=f"l_shipdate >= '{_month(a)}' AND "
                                      f"l_shipdate < '{_month(a + 1)}'").selectExpr(
                    "count(*)", "CAST(coalesce(sum(l_quantity), 0) AS BIGINT)",
                    "coalesce(sum(l_extendedprice), 0)")
        else:
            snap = None if b is None else built.snapshots[b]

            def query():
                return (t.to_df(filter=f"l_orderkey = {a}", snapshot_id=snap)
                        .select(*self.COLS).orderBy("l_linenumber"))

        def run():
            t.refresh()
            return self.action(query)
        return Op("read", label, run, lambda got: _same(got, want))

    def _side_append(self, built: Built, p: int, b: int) -> Op:
        """Append batch ``b`` to period ``p``'s side table, created (and
        the previous period's dropped) outside timing."""
        cat = built.catalog
        if b == 0:
            if p > 0:
                cat.drop_table(f"db.side{p - 1}")
            built.side = self._create(cat, f"db.side{p}")
        t = built.side
        src = self.spark.read.parquet(self.paths[b])
        rows = int(self.cut[b + 1])
        return Op("write", "append", lambda: t.append(src),
                  lambda _: _total_records(t) == rows, self.batches[b])

    def _side_maintain(self, built: Built) -> Op:
        t = built.side
        rows = int(self.cut[-1])
        return Op("maintain", "auto_maintain", lambda: t.auto_maintain(),
                  lambda _: _total_records(t) == rows)


class IngestUpsert(Workload):
    """Cycles of: append a ts-ordered events batch, copy-on-write upsert
    of orders, merge-on-read delete of an order-key range, each followed
    by a validating read of the table it wrote; auto_maintain on both
    tables ends the cycle.  A DuckDB model replays every write and
    answers every validation."""

    name = "ingest_upsert"
    N_ORDERS = 20_000
    BUCKETS = 4
    EVENTS_PER_BATCH = 4_000
    BATCH_US = 6 * 3600 * 1_000_000   # four batches per day partition
    UPSERT_EXISTING = 8
    UPSERT_NEW = 4
    DELETE_ORDERS = 40
    # one cycle a period: Append events, read events, Upsert orders, read
    # orders, Delete from orders, read orders, maintenance (X)
    PERIOD = "AeUoDoX"
    KINDS = {"A": "write", "U": "write", "D": "write", "X": "maintain"}
    PERIOD_S = 7.5
    # reads and writes each come in three shapes of one op a cycle, each
    # shape in its own latency band: with three cycles the median is the
    # middle of the middle band, p87.5 the middle of the slowest
    read_tail_pct = 87.5
    write_tail_pct = 87.5
    warmup_ops = len(PERIOD)
    # orders files are small by construction and every upsert rewrites
    # them, so only events is compacted: its one-batch files (~40 KB) are
    # small, a compacted day (four batches) is not.  Both tables
    # consolidate delete debt and expire snapshots.
    POLICIES = {"orders": {"min-small-files": 1_000_000, "pos-debt-files": 4,
                           "max-snapshots": 10, "retain-last": 3},
                "events": {"small-file-bytes": 64_000, "min-small-files": 4,
                           "max-snapshots": 10, "retain-last": 3}}
    # what a validating read computes, per table
    CHECKS = {"events": ("count(*)", "coalesce(sum(value), 0)",
                         "coalesce(sum(user_id), 0)"),
              "orders": ("count(*)", "coalesce(sum(o_orderkey * 7 + o_totalprice), 0)",
                         "coalesce(sum(o_custkey), 0)")}

    def __init__(self, seed, input_dir, action):
        super().__init__(seed, input_dir, action)
        self.orders = D.orders(self.rng, self.N_ORDERS, 1_000)
        self.orders_path = self._write_input("orders", self.orders)
        self.events_schema_path = self._write_input(
            "events-schema", D.events(self.rng, D.EVENT_T0_US, 1, 1, 1).slice(0, 0))
        self.input_bytes = self.orders.nbytes
        self.max_key = int(D.order_key(self.N_ORDERS - 1))
        self._cycle_cache: dict = {}
        self.spark = None

    def _cycle(self, c: int) -> dict:
        """Inputs of cycle ``c``: a pure function of (seed, c)."""
        if c not in self._cycle_cache:
            rng = np.random.default_rng([self.seed, 7, c])
            ev = D.events(rng, D.EVENT_T0_US + c * self.BATCH_US,
                          self.EVENTS_PER_BATCH, self.BATCH_US, 5_000)
            krng = np.random.default_rng([7, c])
            old = D.order_key(krng.integers(0, self.N_ORDERS, self.UPSERT_EXISTING))
            new = (D.order_key(krng.integers(0, self.N_ORDERS, self.UPSERT_NEW))
                   + krng.integers(1, 4, self.UPSERT_NEW))
            keys = np.unique(np.concatenate([old, new]))
            up = D.orders(rng, len(keys), 1_000).set_column(
                0, "o_orderkey", pa.array(keys))
            lo = int(krng.integers(1, self.max_key - 4 * self.DELETE_ORDERS))
            self._cycle_cache = {c: {
                "events": ev, "events_path": self._write_input("events", ev),
                "upsert": up, "upsert_path": self._write_input("upsert", up),
                "delete": (lo, lo + 4 * self.DELETE_ORDERS)}}
        return self._cycle_cache[c]

    def build(self, catalog, spark) -> Built:
        from incubator_iceberg_spark.schema import Schema

        self.spark = spark
        self._load_duck("orders", self.orders)
        self.duck.execute("CREATE OR REPLACE TABLE events AS SELECT * FROM "
                          "read_parquet($1)", [self.events_schema_path])
        o = spark.read.parquet(self.orders_path)
        orders = catalog.create_table("db.orders", Schema.from_spark(o.schema),
                                      partition_by=[f"bucket({self.BUCKETS}, o_orderkey)"])
        orders.append(o)
        e = spark.read.parquet(self.events_schema_path)
        events = catalog.create_table("db.events", Schema.from_spark(e.schema),
                                      partition_by=["day(ts)"])
        return Built(catalog, {"orders": orders, "events": events})

    def op(self, built: Built, i: int) -> Op:
        c, shape, _n = self.slot(i)
        orders, events = built.tables["orders"], built.tables["events"]
        con, spark = self.duck, self.spark
        if shape == "X":
            def run():
                for name, t in built.tables.items():
                    t.auto_maintain(policy=self.POLICIES[name])
            return Op("maintain", "auto_maintain", run, lambda _: True)
        cyc = self._cycle(c)
        if shape == "A":
            batch = cyc["events"]
            src = spark.read.parquet(cyc["events_path"])

            def model(_):
                con.register("batch_arrow", batch)
                con.execute("INSERT INTO events SELECT * FROM batch_arrow")
                con.unregister("batch_arrow")
                return True
            return Op("write", "append", lambda: events.append(src), model, batch)
        if shape == "U":
            src = spark.read.parquet(cyc["upsert_path"])

            def model(_):
                con.register("batch_arrow", cyc["upsert"])
                con.execute("DELETE FROM orders WHERE o_orderkey IN "
                            "(SELECT o_orderkey FROM batch_arrow)")
                con.execute("INSERT INTO orders SELECT * FROM batch_arrow")
                con.unregister("batch_arrow")
                return True
            return Op("write", "upsert", lambda: orders.upsert(src, on=["o_orderkey"]), model,
                      cyc["upsert"])
        if shape == "D":
            lo, hi = cyc["delete"]

            def model(_):
                con.execute("DELETE FROM orders WHERE o_orderkey >= $1 "
                            "AND o_orderkey < $2", [lo, hi])
                return True
            return Op("write", "delete", lambda: orders.delete_where(
                f"o_orderkey >= {lo} AND o_orderkey < {hi}", mode="merge-on-read"), model)
        name = {"e": "events", "o": "orders"}[shape]
        sql = self.CHECKS[name]
        t = built.tables[name]

        def check(got):
            return _same(got, _fetch(con, "SELECT " + ", ".join(
                f"CAST({e} AS BIGINT)" for e in sql) + f" FROM {name}"))
        return Op("read", "validate_" + name,
                  lambda: self.action(lambda: t.to_df().selectExpr(*sql)), check)

    def live_arrow_bytes(self) -> int:
        return sum(self.duck.execute(f"SELECT * FROM {n}").arrow().nbytes
                   for n in ("orders", "events"))


WORKLOADS = {w.name: w for w in (PointLookup, IngestUpsert)}
