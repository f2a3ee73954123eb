"""Regression pins for the r12 optimization-round internals.

Each test pins the CORRECTNESS claim an r12 optimization rests on:

- §2.1 pinned-width hash-distribution writes must keep the one-file-
  per-partition-value layout (the change's "manifests identical"
  argument);
- §2.3 align_to_schema's selectExpr fast path must be semantically
  identical to the Column-API path (missing optional -> NULL,
  case-insensitive match, required-missing raises, nested types fall
  back safely);
- §2.3 _project_to_current's identity shortcut must not duplicate the
  avro reader's PHYSICAL _file/_pos columns (caught by the evolution
  fuzz avro seed in-round; this is the directed pin).
"""

import pytest
from pyspark.sql import functions as F


def test_partitioned_append_one_file_per_partition_value(spark, warehouse,
                                                         lineitem):
    from incubator_iceberg_spark.schema import Schema

    t = warehouse.create_table(
        "r12.li_width", Schema.from_spark(lineitem.schema),
        partition_by=["month(l_shipdate)"])
    t.append(lineitem)
    from incubator_iceberg_spark.scan import TableScan
    entries = TableScan(t, spark).plan_files()
    months = lineitem.select(
        F.expr("(year(l_shipdate)-1970)*12 + month(l_shipdate)-1")
    ).distinct().count()
    # pinned shuffle width must NOT change the layout: hashing by the
    # partition column routes each month to exactly one task -> exactly
    # one data file per month, same as the AQE-coalesced write produced
    assert len(entries) == months


def test_align_to_schema_selectexpr_matches_column_path(spark, lineitem,
                                                       monkeypatch):
    from incubator_iceberg_spark import write as W
    from incubator_iceberg_spark.schema import Schema

    sch = Schema.from_spark(lineitem.schema)
    # identity: same columns, same rows
    out = W.align_to_schema(lineitem, sch)
    assert out.schema == lineitem.schema
    assert out.count() == lineitem.count()
    # missing optional -> NULL; extra projected away; case-insensitive
    df2 = (lineitem.drop("l_tax")
           .withColumn("EXTRA", F.lit(1))
           .withColumnRenamed("l_orderkey", "L_ORDERKEY"))
    out2 = W.align_to_schema(df2, sch)
    assert out2.columns == [f.name for f in sch.fields]
    assert out2.filter("l_tax IS NULL").count() == out2.count()
    assert out2.select(F.sum("l_orderkey")).first()[0] == \
        lineitem.select(F.sum("l_orderkey")).first()[0]
    # nested types take the fallback path and still align
    df3 = spark.range(3).select(
        F.struct(F.col("id").alias("a")).alias("s"),
        F.array(F.col("id")).alias("arr"), F.col("id"))
    sch3 = Schema.from_spark(df3.schema)
    out3 = W.align_to_schema(df3.select("id", "arr", "s"), sch3)
    assert out3.columns == ["s", "arr", "id"]
    assert out3.count() == 3
    # hostile nested field names (DDL metacharacters simpleString does
    # not quote) go straight to the Column API: the selectExpr fast path
    # is never attempted, so no analysis error is raised and swallowed
    from pyspark.sql import DataFrame
    tried = []
    real_select_expr = DataFrame.selectExpr
    monkeypatch.setattr(DataFrame, "selectExpr",
                        lambda self, *e: tried.append(e)
                        or real_select_expr(self, *e))
    df4 = spark.range(3).select(
        F.struct(F.col("id").alias("a:int,b"),
                 F.col("id").alias("x>")).alias("s"), F.col("id"))
    sch4 = Schema.from_spark(df4.schema)
    out4 = W.align_to_schema(df4.select("id", "s"), sch4)
    assert tried == []
    assert out4.columns == ["s", "id"]
    assert out4.schema["s"].dataType.names == ["a:int,b", "x>"]
    assert sorted(r[0]["x>"] for r in out4.select("s").collect()) == [0, 1, 2]


def test_read_entries_avro_lineage_no_duplicate_columns(spark, warehouse,
                                                        orders):
    from incubator_iceberg_spark.scan import TableScan, read_entries
    from incubator_iceberg_spark.schema import Schema

    t = warehouse.create_table(
        "r12.av", Schema.from_spark(orders.schema),
        properties={"write.format.default": "avro"})
    t.append(orders.limit(500))
    data, dels = TableScan(t, spark)._plan_split()
    df = read_entries(spark, t.metadata, data, dels, t.metadata.schema(),
                      with_lineage=True)
    names = df.columns
    assert names.count("_file") == 1 and names.count("_pos") == 1
    # the lineage-bearing frame must still union cleanly with itself
    # (the failure mode was COLUMN_ALREADY_EXISTS at unionByName)
    assert df.unionByName(df).count() == 2 * df.count()
