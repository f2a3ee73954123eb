"""Tier 3: transactions (C10), CALL procedures (§2.7), table import (S16),
ORC format (S6)."""

import os

import pytest
from pyspark.sql import functions as F

from incubator_iceberg_spark.schema import Schema


def _ingest(warehouse, name, df, **kw):
    t = warehouse.create_table(name, Schema.from_spark(df.schema), **kw)
    t.append(df)
    return t


def test_transaction_multi_op_atomic(warehouse, orders):
    t = _ingest(warehouse, "db.tx", orders)
    v_before = len(t.snapshots())
    with t.new_transaction() as tx:
        tx.delete_where("o_orderdate < TIMESTAMP '1996-01-01'")
        tx.append(orders.limit(25))
        tx.set_properties({"txn.marker": "yes"})
    t.refresh()
    want = orders.filter("o_orderdate >= TIMESTAMP '1996-01-01'").count() + 25
    assert t.to_df().count() == want
    assert t.properties()["txn.marker"] == "yes"
    # both snapshots exist but were installed in ONE metadata version
    assert len(t.snapshots()) == v_before + 2
    versions = [f for f in os.listdir(os.path.join(t.location, "metadata"))
                if f.endswith(".metadata.json")]
    assert len(versions) == 3  # create + initial append + txn


def test_transaction_rollback_on_error(warehouse, orders):
    t = _ingest(warehouse, "db.tx2", orders.limit(100))
    try:
        with t.new_transaction() as tx:
            tx.append(orders.limit(10))
            raise RuntimeError("abort")
    except RuntimeError:
        pass
    t.refresh()
    assert t.to_df().count() == 100  # nothing committed


def test_call_procedures(warehouse, orders, spark):
    from incubator_iceberg_spark import procedures as PR

    t = _ingest(warehouse, "db.proc", orders.limit(100))
    s1 = t.metadata.current_snapshot_id
    t.append(orders.limit(50))
    PR.call(warehouse, f"CALL system.rollback_to_snapshot('db.proc', {s1})")
    assert warehouse.load_table("db.proc").to_df().count() == 100

    t2 = _ingest(warehouse, "db.proc2", orders.limit(60))
    for _ in range(3):
        t2.append(orders.limit(10))
    out = PR.call(warehouse,
                  "CALL system.rewrite_data_files('db.proc2', min_input_files => 2)")
    assert out["rewritten_files"] > 0
    assert warehouse.load_table("db.proc2").to_df().count() == 90

    with pytest.raises(ValueError):
        PR.call(warehouse, "CALL system.nope('db.proc')")


def test_add_files_import(warehouse, orders, spark, tmp_path):
    from incubator_iceberg_spark import procedures as PR

    src_dir = str(tmp_path / "plain")
    orders.write.parquet(src_dir)
    t = warehouse.create_table("db.imported", Schema.from_spark(orders.schema))
    res = PR.add_files(t, src_dir)
    assert res["added_records"] == orders.count()
    assert t.to_df().count() == orders.count()
    # stats harvested → metrics pruning works on imported files
    key = orders.agg(F.max("o_orderkey")).collect()[0][0]
    pruned = t.new_scan().filter(f"o_orderkey > {key}").plan_files()
    assert pruned == []


def test_migrate(warehouse, nation_dir, spark):
    from incubator_iceberg_spark import procedures as PR

    t = PR.migrate(warehouse, "db.migrated", nation_dir, spark=spark)
    assert t.to_df().count() == spark.read.parquet(nation_dir).count()


@pytest.fixture()
def nation_dir(spark, sf_dir, tmp_path):
    out = str(tmp_path / "nation_copy")
    spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).write.parquet(out)
    return out


def test_snapshot_table(warehouse, orders, spark):
    from incubator_iceberg_spark import procedures as PR

    src = _ingest(warehouse, "db.snap_src", orders.limit(200))
    dest = PR.snapshot_table(warehouse, "db.snap_src", "db.snap_dest", spark=spark)
    assert dest.to_df().count() == 200
    # independent lifecycle: deleting from the snapshot leaves source intact
    dest.delete_where("o_orderkey IS NOT NULL")
    assert dest.to_df().count() == 0
    assert warehouse.load_table("db.snap_src").to_df().count() == 200


def test_orc_format_roundtrip(warehouse, orders):
    t = warehouse.create_table("db.orc1", Schema.from_spark(orders.schema),
                               properties={"write.format.default": "orc"},
                               partition_by=["month(o_orderdate)"])
    t.append(orders)
    assert t.to_df().count() == orders.count()
    # partition pruning still effective for ORC (no column bounds though)
    cond = "o_orderdate >= TIMESTAMP '1997-06-01'"
    assert t.to_df(filter=cond).count() == orders.filter(cond).count()
    pruned = len(t.new_scan().filter(cond).plan_files())
    total = len(t.new_scan().plan_files())
    assert pruned < total
    # mixed formats in one table: switch default back to parquet and append
    t.update_properties({"write.format.default": "parquet"})
    t.append(orders.limit(30))
    assert t.to_df().count() == orders.count() + 30


def test_events_and_find_files(warehouse, orders):
    from incubator_iceberg_spark import events

    seen = []
    events.register(seen.append)
    try:
        t = _ingest(warehouse, "db.evts", orders,
                    partition_by=["month(o_orderdate)"])
        t.to_df(filter="o_orderdate >= TIMESTAMP '1997-06-01'").count()
    finally:
        events.unregister(seen.append)
    commits = [e for e in seen if type(e).__name__ == "CommitEvent"]
    scans = [e for e in seen if type(e).__name__ == "ScanEvent"]
    assert commits and commits[0].operation == "append"
    assert scans and scans[-1].planned_data_files > 0
    # pruned scan planned fewer files than the table holds
    total = len(t.find_files())
    assert scans[-1].planned_data_files < total
    # find_files with a filter returns pruned entries with stats
    hits = t.find_files("o_orderdate >= TIMESTAMP '1997-06-01'")
    assert 0 < len(hits) < total
    assert "record_count" in hits[0] and "partition" in hits[0]


def test_commit_events_only_for_landed_snapshots(warehouse, orders):
    """A CommitEvent means the snapshot landed: a commit that loses the
    CAS race and retries emits one event (for the snapshot that lands,
    not one per attempt), and a transaction whose commit fails emits
    none."""
    from incubator_iceberg_spark import events
    from incubator_iceberg_spark.metadata import CommitFailedException

    t = _ingest(warehouse, "db.evcas", orders.limit(40))
    rival = warehouse.load_table("db.evcas")
    real_commit = t.ops.commit
    calls = []

    def racing_commit(base_version, md):
        calls.append(base_version)
        if len(calls) == 1:
            rival.append(orders.limit(5))  # lands first: this attempt loses
        return real_commit(base_version, md)

    seen = []
    events.register(seen.append)
    try:
        t.ops.commit = racing_commit
        t.append(orders.limit(7))
        assert len(calls) == 2  # one conflicted attempt, one retry
        landed = [e for e in seen if type(e).__name__ == "CommitEvent"]
        t.refresh()
        ids = [e.snapshot_id for e in landed]
        assert len(ids) == 2 and len(set(ids)) == 2  # rival + retry
        assert set(ids) <= {s.snapshot_id for s in t.snapshots()}
        assert ids[-1] == t.metadata.current_snapshot_id
        assert t.to_df().count() == 52

        seen.clear()

        def failing_commit(base_version, md):
            raise CommitFailedException("forced")

        t.ops.commit = failing_commit
        tx = t.new_transaction()
        tx.append(orders.limit(3))
        tx.append(orders.limit(4))
        with pytest.raises(CommitFailedException):
            tx.commit_transaction()
        assert [e for e in seen if type(e).__name__ == "CommitEvent"] == []
    finally:
        events.unregister(seen.append)
        t.ops.commit = real_commit


def test_add_files_partitioned_from_bounds(warehouse, orders, spark, tmp_path):
    """Partitioned import: each file's partition tuple is proven from its
    footer bounds (transformed lower == upper); pruning then works on the
    imported table exactly as for staged writes."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from incubator_iceberg_spark import procedures
    from incubator_iceberg_spark.schema import Schema

    pdf = orders.limit(500).toPandas()
    ext = tmp_path / "monthly"
    ext.mkdir()
    months = pdf["o_orderdate"].dt.to_period("M")
    for m, grp in pdf.groupby(months):
        pq.write_table(pa.Table.from_pandas(grp, preserve_index=False),
                       str(ext / f"m-{m}.parquet"), coerce_timestamps="us")
    t = warehouse.create_table("db.addpart", Schema.from_spark(orders.schema),
                               partition_by=["month(o_orderdate)"])
    res = procedures.add_files(t, str(ext), spark=spark)
    assert res["added_files"] == months.nunique()
    assert t.to_df().count() == 500
    all_files = len(t.new_scan().plan_files())
    pruned = len(t.new_scan().filter(
        "o_orderdate >= TIMESTAMP '1997-01-01'").plan_files())
    assert 0 < pruned < all_files
    want = int((pdf["o_orderdate"] >= "1997-01-01").sum())
    assert t.to_df(filter="o_orderdate >= TIMESTAMP '1997-01-01'").count() == want


def test_add_files_rejects_partition_spanning_file(warehouse, orders, spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest
    from incubator_iceberg_spark import procedures
    from incubator_iceberg_spark.schema import Schema

    pdf = orders.limit(300).toPandas()  # spans many months
    ext = tmp_path / "mixed"
    ext.mkdir()
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   str(ext / "all.parquet"), coerce_timestamps="us")
    t = warehouse.create_table("db.addspan", Schema.from_spark(orders.schema),
                               partition_by=["month(o_orderdate)"])
    with _pytest.raises(ValueError, match="spans partitions"):
        procedures.add_files(t, str(ext), spark=spark)


def test_add_files_rejects_bucket_spec(warehouse, orders, spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest
    from incubator_iceberg_spark import procedures
    from incubator_iceberg_spark.schema import Schema

    pdf = orders.limit(50).toPandas()
    ext = tmp_path / "bk"
    ext.mkdir()
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   str(ext / "f.parquet"), coerce_timestamps="us")
    t = warehouse.create_table("db.addbk", Schema.from_spark(orders.schema),
                               partition_by=[("o_orderkey", "bucket[4]")])
    with _pytest.raises(ValueError, match="bucket membership"):
        procedures.add_files(t, str(ext), spark=spark)


def test_call_add_ann_index(warehouse, spark, sf_dir):
    from incubator_iceberg_spark import procedures as PR
    from incubator_iceberg_spark.io import load_table
    from incubator_iceberg_spark.schema import Schema

    emb = load_table(spark, sf_dir, "embeddings")
    t = warehouse.create_table("db.emb_proc", Schema.from_spark(emb.schema))
    t.append(emb)
    PR.call(warehouse,
            "CALL system.add_ann_index('db.emb_proc', kind => 'ivf', "
            "n_cells => 8)")
    t = warehouse.load_table("db.emb_proc")
    assert t.metadata.schema().find_field("__ann_cell") is not None
    assert t.metadata.properties.get("ann.index.kind") == "ivf"


def test_call_create_changelog_view(warehouse, spark):
    """CreateChangelogViewProcedure analog: CALL registers the CDC view;
    identifier_columns pairs update images; net_changes collapses the
    range; the combination is rejected."""
    from incubator_iceberg_spark import procedures as PR

    df = spark.createDataFrame([(1, 10), (2, 20), (3, 30)],
                               "k int, v int")
    t = warehouse.create_table("db.clv", Schema.from_spark(df.schema))
    t.append(df)
    s0 = t.metadata.current_snapshot_id
    t.update({"v": "v + 1"}, "k = 2")
    t.delete_where("k = 3")

    res = PR.call(warehouse,
                  f"CALL system.create_changelog_view('db.clv', "
                  f"start_snapshot_id => {s0})")
    assert res["changelog_view"] == "clv_changes"
    got = {(r["k"], r["_change_type"])
           for r in spark.sql("SELECT * FROM clv_changes").collect()}
    assert got == {(2, "delete"), (2, "insert"), (3, "delete")}

    PR.call(warehouse,
            f"CALL system.create_changelog_view('db.clv', "
            f"changelog_view => 'clv_upd', start_snapshot_id => {s0}, "
            f"identifier_columns => 'k')")
    got = {(r["k"], r["_change_type"])
           for r in spark.sql("SELECT * FROM clv_upd").collect()}
    assert got == {(2, "update_preimage"), (2, "update_postimage"),
                   (3, "delete")}

    # net over the whole history: final state as inserts
    PR.call(warehouse,
            "CALL system.create_changelog_view('db.clv', "
            "changelog_view => 'clv_net', net_changes => true)")
    got = {(r["k"], r["v"], r["_change_type"])
           for r in spark.sql("SELECT * FROM clv_net").collect()}
    assert got == {(1, 10, "insert"), (2, 21, "insert")}

    with pytest.raises(ValueError, match="net_changes"):
        PR.call(warehouse,
                "CALL system.create_changelog_view('db.clv', "
                "net_changes => true, identifier_columns => 'k')")


def test_add_files_hive_partitioned_layout(warehouse, orders, spark,
                                           tmp_path):
    """Hive-layout import (AddFilesProcedure partition-from-path case):
    Spark's partitionBy writer produces key=value dirs with the column
    ABSENT from the files.  add_files(partition_from_path=True) must (a)
    parse the partition value from the path, (b) serve the column as a
    per-file constant on read (PartitionUtil.constantsMap contract), and
    (c) give the files real bounds so partition predicates prune."""
    from incubator_iceberg_spark import procedures as PR

    src = str(tmp_path / "hive_src")
    orders.limit(300).write.partitionBy("o_orderpriority").parquet(src)
    t = warehouse.create_table(
        "db.hive_imp", Schema.from_spark(orders.schema),
        partition_by=["o_orderpriority"])
    res = PR.add_files(t, src, partition_from_path=True)
    assert res["added_records"] == 300

    want = orders.limit(300).collect()
    got = {r["o_orderkey"]: r["o_orderpriority"]
           for r in t.to_df().collect()}
    assert got == {r["o_orderkey"]: r["o_orderpriority"] for r in want}
    # no NULLs leaked from the physically-absent column
    assert t.to_df(filter="o_orderpriority IS NULL").count() == 0

    # partition predicate prunes to that partition's files only
    one = want[0]["o_orderpriority"]
    n_all = len(t.new_scan().plan_files())
    pruned = t.new_scan().filter(
        f"o_orderpriority = '{one}'").plan_files()
    assert 0 < len(pruned) < n_all
    n_one = sum(1 for r in want if r["o_orderpriority"] == one)
    assert t.to_df(filter=f"o_orderpriority = '{one}'").count() == n_one

    # a MoR delete applies to imported files (lineage join on _file)
    t.delete_where("o_orderkey % 2 = 0", mode="merge-on-read")
    n_odd = sum(1 for r in want if r["o_orderkey"] % 2 == 1)
    assert t.to_df().count() == n_odd

    # non-identity spec rejects path mode with a clear error
    t2 = warehouse.create_table(
        "db.hive_imp2", Schema.from_spark(orders.schema),
        partition_by=["bucket(4, o_custkey)"])
    with pytest.raises(ValueError, match="identity"):
        PR.add_files(t2, src, partition_from_path=True)


def test_call_add_files_partition_from_path(warehouse, orders, spark,
                                            tmp_path):
    from incubator_iceberg_spark import procedures as PR

    src = str(tmp_path / "hive_src2")
    orders.limit(50).write.partitionBy("o_orderstatus").parquet(src)
    t = warehouse.create_table(
        "db.hive_call", Schema.from_spark(orders.schema),
        partition_by=["o_orderstatus"])
    res = PR.call(warehouse,
                  f"CALL system.add_files('db.hive_call', '{src}', "
                  f"partition_from_path => true)")
    assert res["added_records"] == 50
    t.refresh()
    want = {(r["o_orderkey"], r["o_orderstatus"])
            for r in orders.limit(50).collect()}
    got = {(r["o_orderkey"], r["o_orderstatus"])
           for r in t.to_df().collect()}
    assert got == want


def test_hive_import_mismatch_guard_survives_pruning(warehouse, orders,
                                                     spark, tmp_path):
    """The decode-mismatch guard is a FILTER node, not a projected
    column: selecting only a later column must keep raise_error in the
    optimized plan (a column-riding guard got pruned and silently
    emitted NULL constants instead of raising)."""
    from incubator_iceberg_spark import procedures as PR

    src = str(tmp_path / "hive_guard")
    orders.limit(60).write.partitionBy("o_orderstatus").parquet(src)
    t = warehouse.create_table(
        "db.hive_guard", Schema.from_spark(orders.schema),
        partition_by=["o_orderstatus"])
    PR.add_files(t, src, partition_from_path=True)
    df = t.to_df().select("o_totalprice")  # NOT the first schema column
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "raise_error" in plan, "mismatch guard was optimized away"
    assert df.count() == 60  # and it never false-positives
