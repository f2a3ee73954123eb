"""Seeded input generators for the benchmark workloads.

Every table is a TPC-H-shaped Arrow table built from one numpy Generator,
so the same seed gives byte-identical inputs.  Money columns are integer
cents and discounts/taxes integer percents: every aggregate the
workloads check is exact int64 arithmetic in both Spark and DuckDB.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

EPOCH_1995 = (dt.date(1995, 1, 1) - dt.date(1970, 1, 1)).days
ORDER_DAYS = 2404          # order dates 1995-01-01 .. 2001-07-31
MAX_SHIP_LAG = 121         # ship dates therefore end 2001-11
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
FLAGS = np.array(["A", "N", "R"])
STATUSES = np.array(["F", "O"])
MODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])
KINDS = np.array(["click", "view", "cart", "buy"])
EVENT_T0_US = 1_577_836_800_000_000  # 2020-01-01T00:00:00Z


def order_key(i):
    """TPC-H order keys are sparse; the gaps are the 'new' keys an upsert
    can insert while staying inside the real key range."""
    return 4 * np.asarray(i, dtype=np.int64) + 1


def _dates(days):
    return pa.array(np.asarray(days, dtype=np.int32), pa.int32()).cast(pa.date32())


def orders(rng, n_orders: int, n_cust: int) -> pa.Table:
    """Order dates rise with the key (time-ordered ingestion), with a
    few days of jitter."""
    i = np.arange(n_orders, dtype=np.int64)
    day = EPOCH_1995 + (i * ORDER_DAYS) // n_orders + rng.integers(0, 3, n_orders)
    return pa.table({
        "o_orderkey": order_key(i),
        "o_custkey": rng.integers(1, n_cust + 1, n_orders, dtype=np.int64),
        "o_orderstatus": pa.array(STATUSES[rng.integers(0, 2, n_orders)]),
        "o_totalprice": rng.integers(1_000_00, 500_000_00, n_orders, dtype=np.int64),
        "o_orderdate": _dates(day),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n_orders)]),
    })


def lineitem(rng, orders_tbl: pa.Table) -> pa.Table:
    """1-7 lines per order; ship date = order date + 1..121 days."""
    okeys = orders_tbl.column("o_orderkey").to_numpy()
    odays = orders_tbl.column("o_orderdate").cast(pa.int32()).to_numpy()
    per = rng.integers(1, 8, len(okeys))
    n = int(per.sum())
    idx = np.repeat(np.arange(len(okeys)), per)
    starts = np.repeat(np.cumsum(per) - per, per)
    ship = odays[idx] + rng.integers(1, MAX_SHIP_LAG + 1, n)
    qty = rng.integers(1, 51, n, dtype=np.int32)
    return pa.table({
        "l_orderkey": okeys[idx],
        "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
        "l_partkey": rng.integers(1, 20_001, n, dtype=np.int64),
        "l_suppkey": rng.integers(1, 1_001, n, dtype=np.int64),
        "l_quantity": qty,
        "l_extendedprice": qty.astype(np.int64) * rng.integers(900_00, 2_000_00, n),
        "l_discount": rng.integers(0, 11, n, dtype=np.int32),
        "l_tax": rng.integers(0, 9, n, dtype=np.int32),
        "l_returnflag": pa.array(FLAGS[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(STATUSES[rng.integers(0, 2, n)]),
        "l_shipdate": _dates(ship),
        "l_shipmode": pa.array(MODES[rng.integers(0, 7, n)]),
    })


def events(rng, start_us: int, n: int, span_us: int, n_users: int) -> pa.Table:
    """One ts-ordered event batch covering [start_us, start_us + span_us)."""
    ts = np.sort(start_us + rng.integers(0, span_us, n))
    return pa.table({
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "user_id": rng.integers(1, n_users + 1, n, dtype=np.int64),
        "kind": pa.array(KINDS[rng.integers(0, 4, n)]),
        "value": rng.integers(0, 10_000, n, dtype=np.int64),
    })
