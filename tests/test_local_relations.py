"""Driver-held lookup tables (sequence maps, partition-group maps, live-file
maps, partition constants) enter plans as Arrow LocalRelations
(``session.local_df``), never as DataFrames built from Python lists: a list
goes through ``parallelize`` + a Python ``map``, i.e. a Python-worker job
on every delete-applying read, MoR delete and delete rewrite."""

import contextlib
import datetime as dt
from decimal import Decimal
from unittest import mock

import pytest

from incubator_iceberg_spark.schema import Schema
from incubator_iceberg_spark.session import local_df


@contextlib.contextmanager
def _no_list_dataframes():
    """Any list-based ``createDataFrame`` inside the block raises."""
    from pyspark.sql import SparkSession

    def refuse(*_a, **_k):
        raise AssertionError("list-based createDataFrame on the data plane")

    with mock.patch.object(SparkSession, "_create_dataframe", refuse):
        yield


def test_no_list_dataframes_on_the_delete_data_plane(warehouse, spark):
    """Multi-sequence data, position deletes, equality deletes and
    deletion vectors on a bucket-partitioned table: every delete write,
    delete-applying read, conversion, rewrite and incremental read runs
    without a list-based DataFrame, with the expected rows."""
    batches = [spark.createDataFrame([(i, f"p{i}") for i in rng],
                                     "id long, payload string")
               for rng in (range(0, 200), range(200, 300), range(300, 400))]
    eq_keys = [spark.createDataFrame([(k,) for k in ks], "id long")
               for ks in ((7, 207), (8, 308))]
    t = warehouse.create_table("db.localrel", Schema.from_spark(
        batches[0].schema), partition_by=["bucket(4, id)"])
    snaps = []
    for b in batches:
        t.append(b)
        snaps.append(t.metadata.current_snapshot_id)
    live = set(range(400))

    def ids(df):
        return sorted(r["id"] for r in df.collect())

    with _no_list_dataframes():
        # two MoR deletes: multi-sequence data AND position deletes,
        # partition-scoped across the buckets
        t.delete_where("id % 10 = 0", mode="merge-on-read")
        t.delete_where("id % 10 = 1", mode="merge-on-read")
        df = t.to_df()
        got = ids(df)
    live -= {i for i in range(400) if i % 10 in (0, 1)}
    assert got == sorted(live)
    _, dels = t.new_scan()._plan_split()
    assert len({e["sequence_number"] for e in dels}) == 2
    # the data-file and delete-file sequence lookups share one relation,
    # so the read broadcasts it once
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan

    with _no_list_dataframes():
        for keys in eq_keys:       # multi-sequence equality deletes
            t.add_equality_deletes(keys, ["id"])
        got_eq = ids(t.to_df())
        conv = t.convert_equality_deletes()
        got_conv = ids(t.to_df())
        rw = t.rewrite_position_deletes(fmt="parquet")
        got_rw = ids(t.to_df())
        rw_dv = t.rewrite_position_deletes(fmt="dv")
        got_dv = ids(t.to_df())
    live -= {7, 207, 8, 308}
    assert got_eq == got_conv == got_rw == got_dv == sorted(live)
    assert conv["converted_eq_files"] == 2
    assert rw["rewritten_delete_files"] > 1
    assert rw_dv["added_delete_files"] >= 1

    t.update_properties({"write.delete.format": "dv",
                         "write.delete.mode": "merge-on-read"})
    with _no_list_dataframes():
        # a second DV generation: multi-sequence DV stamping
        t.delete_where("id % 10 = 2")
        got = ids(t.to_df())
        inc = ids(t.new_scan().appends_between(snaps[0], snaps[2]).to_df())
        cl = ids(t.changelog(from_snapshot_id=snaps[0],
                             to_snapshot_id=snaps[2]))
        empty = t.to_df(filter="id < 0").collect()
    live -= {i for i in range(400) if i % 10 == 2}
    assert got == sorted(live)
    assert inc == cl == list(range(200, 400))
    assert empty == []

    # the incremental read planned from the manifest DataFrames
    t.update_properties({"read.plan-mode": "distributed"})
    with _no_list_dataframes():
        inc = ids(t.new_scan().appends_between(snaps[0], snaps[2]).to_df())
    assert inc == list(range(200, 400))


_TS = dt.datetime(2024, 2, 29, 23, 59, 58, 123456)
_TYPE_CASES = [
    ("v string", [("a",), (None,), ("x y=%2F",)]),
    ("v int", [(1,), (None,), (-(2 ** 31),)]),
    ("v long", [(2 ** 40,), (None,), (-1,)]),
    ("v boolean", [(True,), (False,), (None,)]),
    ("v date", [(dt.date(1969, 12, 31),), (None,), (dt.date(2024, 2, 29),)]),
    ("v timestamp", [(_TS,), (None,), (_TS.replace(
        tzinfo=dt.timezone(dt.timedelta(hours=-5))),)]),
    ("v decimal(12,2)", [(Decimal("1234567890.12"),), (None,),
                         (Decimal("-0.01"),)]),
    ("a string, b int, c date", [(None, None, None), (None, None, None)]),
    ("a string, b long, c timestamp", []),
]


@pytest.mark.parametrize("ddl,rows", _TYPE_CASES, ids=[
    "string", "int", "long", "boolean", "date", "timestamp", "decimal",
    "all_null", "zero_rows"])
def test_local_df_matches_list_dataframe(spark, ddl, rows):
    """``local_df`` yields exactly what ``createDataFrame(list)`` yields
    (schema and rows) for the partition-constant types, over a
    ``LocalTableScan``."""
    got = local_df(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
