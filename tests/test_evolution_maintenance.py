"""Tier 3: schema/spec evolution, compaction, expire, orphans, manifest
rewrite, streaming (mirrors TestSchemaUpdate, TestRemoveSnapshots,
TestRewriteDataFilesAction, TestRemoveOrphanFilesAction)."""

import os
import time

import pytest
from pyspark.sql import functions as F

from incubator_iceberg_spark.schema import Schema


def _ingest(warehouse, name, df, **kw):
    t = warehouse.create_table(name, Schema.from_spark(df.schema), **kw)
    t.append(df)
    return t


def test_schema_evolution_rename_add_promote(warehouse, orders, spark):
    t = _ingest(warehouse, "db.evo", orders.filter("o_orderkey % 2 = 0"))
    (t.update_schema()
     .rename_column("o_orderpriority", "o_prio")
     .add_column("o_note", "string")
     .commit())
    # old files readable under new names (field-ID projection)
    df = t.to_df()
    assert "o_prio" in df.columns and "o_note" in df.columns
    assert df.filter("o_prio IS NOT NULL").count() == df.count()
    assert df.filter("o_note IS NULL").count() == df.count()
    # append in the new schema; both eras union correctly
    t.append(orders.filter("o_orderkey % 2 != 0")
             .withColumnRenamed("o_orderpriority", "o_prio")
             .withColumn("o_note", F.lit("new-era")))
    assert t.to_df().count() == orders.count()
    assert t.to_df(filter="o_note = 'new-era'").count() == \
        orders.filter("o_orderkey % 2 != 0").count()


def test_type_promotion_int_to_long(warehouse, spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, data string")
    t = _ingest(warehouse, "db.promo", df)
    t.update_schema().update_column_type("id", "long").commit()
    got = t.to_df()
    assert dict(got.dtypes)["id"] == "bigint"
    assert got.count() == 2
    # illegal promotion rejected
    with pytest.raises(ValueError):
        t.update_schema().update_column_type("data", "long").commit()


def test_drop_column(warehouse, orders):
    t = _ingest(warehouse, "db.drop", orders)
    t.update_schema().delete_column("o_orderpriority").commit()
    assert "o_orderpriority" not in t.to_df().columns
    assert t.to_df().count() == orders.count()


def test_spec_evolution_mixed_specs(warehouse, orders):
    t = _ingest(warehouse, "db.spec", orders)  # snapshot 1: unpartitioned
    t.update_spec(["month(o_orderdate)"])
    t.append(orders.limit(100))  # snapshot 2: partitioned
    assert t.to_df().count() == orders.count() + 100
    # pruning still correct across mixed specs
    cond = "o_orderdate >= TIMESTAMP '1997-06-01'"
    want = orders.filter(cond).count() + orders.limit(100).filter(cond).count()
    assert t.to_df(filter=cond).count() == want


def test_compaction_binpack(warehouse, orders):
    t = warehouse.create_table("db.compact", Schema.from_spark(orders.schema))
    for i in range(8):
        t.append(orders.filter(f"o_orderkey % 8 = {i}"))
    before = len(t.new_scan().plan_files())
    res = t.rewrite_data_files(min_input_files=2)
    after = len(t.new_scan().plan_files())
    assert res["rewritten_files"] > 0
    assert after < before
    assert t.to_df().count() == orders.count()
    snap = t.current_snapshot()
    assert snap.operation == "replace"


def test_expire_snapshots_deletes_unreachable(warehouse, orders):
    t = _ingest(warehouse, "db.exp", orders.limit(100))
    for _ in range(4):
        t.append(orders.limit(10))
    t.rewrite_data_files(min_input_files=2)  # makes old files unreachable
    n_before = t.to_df().count()
    res = t.expire_snapshots(retain_last=1, older_than_ms=int(time.time() * 1000) + 10_000)
    assert res["expired_snapshots"] >= 4
    assert res["deleted_data_files"] > 0
    assert t.to_df().count() == n_before
    assert len(t.snapshots()) == 1


def test_remove_orphan_files(warehouse, orders):
    t = _ingest(warehouse, "db.orph", orders.limit(50))
    # plant an orphan inside the data dir
    orphan = os.path.join(t.location, "data", "orphan-planted.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not really parquet")
    old = time.time() - 10 * 24 * 3600
    os.utime(orphan, (old, old))
    found = t.remove_orphan_files()
    assert orphan in found
    assert not os.path.exists(orphan)
    assert t.to_df().count() == 50  # live files untouched


def test_rewrite_manifests(warehouse, orders):
    t = warehouse.create_table("db.rm", Schema.from_spark(orders.schema))
    for i in range(5):
        t.append(orders.limit(20))
    res = t.rewrite_manifests()
    assert res["rewritten_manifests"] == 5
    assert t.to_df().count() == 100
    mlist = t.metadata_table("manifests")
    assert mlist.count() == 1


def test_streaming_source_and_sink(warehouse, spark, sf_dir, tmp_path):
    from incubator_iceberg_spark import streaming as STR
    from incubator_iceberg_spark.io import load_table

    events = load_table(spark, sf_dir, "events")
    t = warehouse.create_table("db.ev", Schema.from_spark(events.schema))
    batches_in = [events.filter(f"event_id % 3 = {i}") for i in range(3)]
    for b in batches_in:
        t.append(b)

    # source: batch-per-snapshot with checkpointed offsets
    ck = str(tmp_path / "ck")
    rd = STR.MicroBatchReader(t, checkpoint_dir=ck)
    counts = [df.count() for df, _ in rd.batches(max_snapshots_per_batch=1)]
    assert counts == [b.count() for b in batches_in]
    # restart: nothing pending
    rd2 = STR.MicroBatchReader(t, checkpoint_dir=ck)
    assert rd2.next_batch() is None
    # new append resumes from the checkpoint
    t.append(events.limit(7))
    out = rd2.next_batch()
    assert out is not None and out[0].count() == 7

    # sink: exactly-once epoch dedup
    sink = warehouse.create_table("db.ev_sink", Schema.from_spark(events.schema))
    assert STR.append_exactly_once(sink, batches_in[0], 0, "q") is True
    assert STR.append_exactly_once(sink, batches_in[0], 0, "q") is False  # replay
    assert STR.append_exactly_once(sink, batches_in[1], 1, "q") is True
    assert sink.to_df().count() == batches_in[0].count() + batches_in[1].count()


def test_skip_delete_snapshots_in_stream(warehouse, orders):
    from incubator_iceberg_spark import streaming as STR

    t = _ingest(warehouse, "db.evd", orders.limit(100))
    t.delete_where("o_orderkey % 2 = 0")  # delete/overwrite snapshot
    t.append(orders.limit(10))
    rd = STR.MicroBatchReader(t, skip_delete_snapshots=True,
                              skip_overwrite_snapshots=True)
    counts = [df.count() for df, _ in rd.batches()]
    assert sum(counts) == 110  # both appends, delete skipped
    rd2 = STR.MicroBatchReader(t, skip_delete_snapshots=False,
                               skip_overwrite_snapshots=False)
    with pytest.raises(ValueError):
        list(rd2.batches())


def test_zorder_rewrite_prunes_both_dimensions(warehouse, spark):
    """After z-ordering on (x, y), file-level bounds are tight in BOTH
    columns: selective filters on either prune most files."""
    from pyspark.sql import functions as F
    from incubator_iceberg_spark.schema import Schema
    n = 64
    grid = (spark.range(n * n)
            .select((F.col("id") % n).alias("x"),
                    (F.col("id") / n).cast("long").alias("y"),
                    F.col("id").alias("payload"))
            .orderBy(F.rand(seed=7)))  # shuffled: every file spans everything
    t = warehouse.create_table("db.zord", Schema.from_spark(grid.schema))
    for i in range(8):
        t.append(grid.filter(F.col("payload") % 8 == i).coalesce(1))
    before = len(t.new_scan().plan_files())
    bx = len(t.new_scan().filter(f"x < {n // 8}").plan_files())
    assert bx == before  # shuffled layout: no pruning possible

    res = t.zorder_rewrite(["x", "y"], target_file_size=2_000)
    assert res["rewritten_files"] == before and res["added_files"] > 3
    after = len(t.new_scan().plan_files())
    ax = len(t.new_scan().filter(f"x < {n // 8}").plan_files())
    ay = len(t.new_scan().filter(f"y < {n // 8}").plan_files())
    assert ax < after and ay < after, (ax, ay, after)
    # contents unchanged
    assert t.to_df().count() == n * n
    assert t.to_df().agg(F.sum("payload")).collect()[0][0] == (n * n) * (n * n - 1) // 2


def test_run_maintenance_composite(warehouse, orders, spark):
    from incubator_iceberg_spark import maintenance as MT
    from incubator_iceberg_spark.schema import Schema
    t = warehouse.create_table("db.housekeep", Schema.from_spark(orders.schema))
    for i in range(6):
        t.append(orders.filter(f"o_orderkey % 6 = {i}").coalesce(1))
    files = [p for p, _ in t.new_scan().plan_files()]
    pos = spark.createDataFrame([(files[0], i) for i in range(3)],
                                "file_path string, pos long").coalesce(1)
    t.add_position_deletes(pos)
    want = t.to_df().count()
    res = MT.run_maintenance(t, expire_older_than_ms=MD_now_plus())
    assert res["rewrite_data_files"]["rewritten_files"] > 0
    assert res["expire_snapshots"]["expired_snapshots"] > 0
    assert t.to_df().count() == want
    # post-maintenance: few files, no delete entries left in the plan
    _data, dels = t.new_scan()._plan_split()
    assert not dels


def MD_now_plus():
    from incubator_iceberg_spark import metadata as MD
    return MD.now_ms() + 10_000


def test_delete_reachable_files_purges_imported_externals(warehouse, orders, spark, tmp_path):
    """DROP TABLE PURGE follows the metadata graph: files the table owns
    OUTSIDE its location (add_files imports) are reclaimed too."""
    import os
    from incubator_iceberg_spark import maintenance, procedures
    from incubator_iceberg_spark.schema import Schema

    t = warehouse.create_table("db.drf", Schema.from_spark(orders.schema))
    t.append(orders.limit(60))
    ext = str(tmp_path / "external_import")
    orders.limit(30).write.parquet(ext)
    procedures.add_files(t, ext, spark=spark)
    assert t.to_df().count() == 90
    ext_files = [os.path.join(dp, n) for dp, _d, ns in os.walk(ext)
                 for n in ns if n.endswith(".parquet")]
    assert ext_files

    dry = maintenance.delete_reachable_files(t, dry_run=True)
    assert dry["deleted_data_files"] >= 1 + len(ext_files)
    assert dry["deleted_metadata_files"] >= 2  # versions + hint
    assert all(os.path.exists(p) for p in ext_files)  # dry run deletes nothing

    assert warehouse.drop_table("db.drf", purge=True)
    assert not os.path.exists(t.location)
    assert not any(os.path.exists(p) for p in ext_files)  # externals GC'd


def test_sort_rewrite_clusters_and_prunes(warehouse, orders, spark):
    """SortStrategy rewrite: after clustering on o_totalprice, a selective
    range filter plans a proper subset of files (tight per-file bounds),
    and row results are unchanged."""
    from incubator_iceberg_spark.schema import Schema

    t = warehouse.create_table("db.sortrw", Schema.from_spark(orders.schema))
    # several appends in random key order = overlapping bounds everywhere
    for i in range(4):
        t.append(orders.filter(f"o_orderkey % 4 = {i}"))
    before = t.to_df().count()
    # filter above the 90th percentile: selective enough that range-clustered
    # files must prune, wherever repartitionByRange sampling lands boundaries
    thresh = int(orders.approxQuantile("o_totalprice", [0.9], 0.01)[0])
    assert len(t.new_scan().filter(f"o_totalprice > {thresh}").plan_files()) == \
        len(t.new_scan().plan_files())  # no pruning before: every file overlaps

    res = t.sort_rewrite(["o_totalprice"], target_file_size=4 * 1024)
    assert res["rewritten_files"] == 4 and res["added_files"] >= 3
    assert t.to_df().count() == before
    total = len(t.new_scan().plan_files())
    pruned = len(t.new_scan().filter(f"o_totalprice > {thresh}").plan_files())
    assert pruned < total  # clustered bounds now prune
    want = orders.filter(f"o_totalprice > {thresh}").count()
    assert t.to_df(filter=f"o_totalprice > {thresh}").count() == want
    assert t.metadata.current_snapshot().operation == "replace"


def test_partition_stats_file_fresh_and_stale(warehouse, lineitem, spark):
    from incubator_iceberg_spark.schema import Schema

    t = warehouse.create_table("db.pstats", Schema.from_spark(lineitem.schema),
                               partition_by=["month(l_shipdate)"])
    t.append(lineitem)
    live = {tuple(sorted(r["partition"].asDict().items())): r["record_count"]
            for r in t.partition_stats().collect()}
    res = t.write_partition_stats()
    assert res["written"]
    # fresh: served from the materialized file, same contents
    from_file = {tuple(sorted(r["partition"].asDict().items())): r["record_count"]
                 for r in t.partition_stats().collect()}
    assert from_file == live
    assert t.metadata.properties["partition-stats.snapshot-id"] == \
        str(t.metadata.current_snapshot_id)
    # stale after a new commit: falls back to the live aggregate
    t.append(lineitem.limit(100))
    stale_sum = sum(r["record_count"] for r in t.partition_stats().collect())
    assert stale_sum == lineitem.count() + 100


def test_column_stats_materialize_and_staleness(warehouse, orders, spark):
    """ANALYZE-style column stats: one agg job, pinned to the snapshot;
    stale after a new commit (column_stats() returns None, caller
    recomputes)."""
    from incubator_iceberg_spark.schema import Schema
    t = warehouse.create_table("db.colstats", Schema.from_spark(orders.schema))
    t.append(orders)
    assert t.column_stats() is None  # never computed
    res = t.compute_column_stats()
    assert res["written"] and res["columns"] == len(orders.columns)
    st = {r["column"]: r for r in t.column_stats().collect()}
    n = orders.count()
    assert st["o_orderkey"]["value_count"] == n
    assert st["o_orderkey"]["null_count"] == 0
    # approx NDV of a unique key within HLL++ rsd=0.02 tolerance
    assert abs(st["o_orderkey"]["ndv"] - n) <= max(3, n * 0.05)
    exact_status = orders.select("o_orderstatus").distinct().count()
    assert abs(st["o_orderstatus"]["ndv"] - exact_status) <= 1
    # new commit -> stats stale -> None
    t.append(orders.limit(1))
    assert t.column_stats() is None
    # CALL procedure surface
    from incubator_iceberg_spark import procedures as PR
    out = PR.call(warehouse, "CALL system.compute_column_stats('db.colstats')")
    assert out["written"]
    assert t.refresh().column_stats() is not None


@pytest.mark.parametrize("fmt", ["parquet", "dv"])
def test_rewrite_position_deletes_preserves_partition_scope(warehouse, spark,
                                                            fmt):
    """Partition-scoped position deletes, in either delete format: the
    MoR writes and their consolidation both produce entries that carry
    their partition tuple, untouched partitions plan zero delete files,
    and results are unchanged."""
    from incubator_iceberg_spark import delete_vectors as DV
    from incubator_iceberg_spark.scan import TableScan, parse_predicate
    from incubator_iceberg_spark.schema import Schema

    name = f"db.posrw_{fmt}"
    df = spark.createDataFrame([(i, i % 4, f"p{i}") for i in range(400)],
                               "id long, grp long, payload string")
    t = warehouse.create_table(name, Schema.from_spark(df.schema),
                               partition_by=["grp"],
                               properties={"write.delete.format": fmt})
    t.append(df)
    t.delete_where("grp < 2 AND id % 9 = 0", mode="merge-on-read")
    t.delete_where("grp < 2 AND id % 9 = 1", mode="merge-on-read")
    before = t.to_df().count()
    assert before == 400 - len([i for i in range(400)
                                if i % 4 < 2 and i % 9 in (0, 1)])

    def check_scoped(t, n_files):
        _, dels = t.new_scan()._plan_split()
        assert len(dels) == n_files
        assert all(DV.is_dv_entry(e) == (fmt == "dv") for e in dels)
        assert sorted((e.get("partition") or {}).get("grp")
                      for e in dels) == sorted([0, 1] * (n_files // 2))
        _, dels3 = TableScan(t, t.spark, row_filter=parse_predicate(
            "grp = 3"))._plan_split()
        assert dels3 == []

    # two MoR deletes x two touched partitions, one file each
    check_scoped(t, 4)
    out = t.rewrite_position_deletes()
    assert out["rewritten_delete_files"] == 4
    t = warehouse.load_table(name)
    assert t.to_df().count() == before
    check_scoped(t, 2)


def test_delete_column_guards_referenced_fields(warehouse, spark):
    """delete_column must refuse fields other metadata still references
    (reference SchemaUpdate rejects these): a partition source would
    break spec re-rooting, an identifier field breaks row identity, and
    an equality-delete key would make live deletes unapplicable —
    deleted rows silently resurrected."""
    from incubator_iceberg_spark import deletes as DEL
    df = spark.createDataFrame(
        [(i, i % 5, str(i)) for i in range(20)],
        "id long, k long, x string")
    t = _ingest(warehouse, "db.drop_guard", df, partition_by=["k"])
    DEL.add_equality_deletes(
        t, spark.createDataFrame([("3",)], "x string"), ["x"], spark)
    t.refresh()
    with pytest.raises(ValueError, match="partition field"):
        t.update_schema().delete_column("k").commit()
    with pytest.raises(ValueError, match="equality-"):
        t.update_schema().delete_column("x").commit()
    # unreferenced columns still drop, and the eq delete keeps applying
    t.update_schema().delete_column("id").commit()
    t.refresh()
    assert [f.name for f in t.metadata.schema().fields] == ["k", "x"]
    assert t.to_df().count() == 19


@pytest.mark.parametrize("fmt", ["avro", "orc"])
def test_rename_with_eq_deletes_per_format(warehouse, spark, fmt):
    """Renames + pre-rename equality deletes over the avro and ORC data
    paths: old files render under new names, the deletes keep applying,
    filtered scans bind on the new names, new-era appends union in."""
    from incubator_iceberg_spark.schema import Schema
    df = spark.createDataFrame([(i, f"n{i}", float(i)) for i in range(10)],
                               "id long, name string, v double")
    t = warehouse.create_table(f"db.renfmt_{fmt}", Schema.from_spark(df.schema),
                               properties={"write.format.default": fmt})
    t.append(df)
    t.add_equality_deletes(spark.createDataFrame([(3,), (7,)], "id long"),
                           ["id"])
    t.update_schema().rename_column("name", "label").commit()
    t.update_schema().rename_column("id", "ident").commit()
    assert sorted(r["ident"] for r in t.to_df().collect()) == \
        [0, 1, 2, 4, 5, 6, 8, 9]
    assert t.to_df(filter="ident >= 5 AND label = 'n8'").count() == 1
    t.append(spark.createDataFrame([(100, "x", 1.0)],
                                   "ident long, label string, v double"))
    assert t.to_df().count() == 9


# ------------------------------------------------- per-ref retention (C8+)

def _mini(spark, warehouse, name):
    from incubator_iceberg_spark.schema import Schema
    df = spark.createDataFrame([(1, 10)], "rid long, v long")
    t = warehouse.create_table(name, Schema.from_spark(df.schema))
    t.append(df)
    return t


def test_expire_drops_aged_out_refs(spark, warehouse):
    from pyspark.sql import functions as F
    t = _mini(spark, warehouse, "db.refret1")
    t.create_tag("old_tag", max_ref_age_ms=1)       # ages out immediately
    t.create_branch("old_branch", max_ref_age_ms=1)
    t.create_tag("keep_tag")                         # no retention: kept
    t.append(spark.createDataFrame([(2, 20)], "rid long, v long"))
    import time
    time.sleep(0.005)
    res = t.expire_snapshots(retain_last=1)
    assert set(res["dropped_refs"]) == {"old_tag", "old_branch"}
    assert t.metadata.ref("old_tag") is None
    assert t.metadata.ref("keep_tag") is not None
    # the keep_tag target must survive expiry (GC root), reads still work
    assert t.to_df(ref="keep_tag").count() == 1


def test_branch_ancestry_retention_bounds_kept_chain(spark, warehouse):
    t = _mini(spark, warehouse, "db.refret2")
    for i in range(2, 6):
        t.append(spark.createDataFrame([(i, i * 10)], "rid long, v long"))
    # branch at head with a 2-snapshot ancestry budget (and aggressive
    # snapshot age), then advance main away and expire hard
    t.create_branch("b", min_snapshots_to_keep=2, max_snapshot_age_ms=1)
    head = t.metadata.ref("b")["snapshot-id"]
    t.append(spark.createDataFrame([(9, 90)], "rid long, v long"))
    import time
    time.sleep(0.005)
    before = len(t.metadata.snapshots)
    t.expire_snapshots(retain_last=1)
    after = {s.snapshot_id for s in t.metadata.snapshots}
    assert len(after) < before
    # branch head + one parent kept (min 2), head still readable in full
    assert head in after
    chain = []
    cur = t.metadata.snapshot_by_id(head)
    while cur is not None:
        chain.append(cur.snapshot_id)
        cur = (t.metadata.snapshot_by_id(cur.parent_id)
               if cur.parent_id is not None else None)
    assert len(chain) == 2                 # ancestry truncated to min-keep
    assert t.to_df(ref="b").count() == 5   # full contents via head manifest


def test_default_branch_retention_keeps_whole_chain(spark, warehouse):
    t = _mini(spark, warehouse, "db.refret3")
    for i in range(2, 5):
        t.append(spark.createDataFrame([(i, i * 10)], "rid long, v long"))
    t.create_branch("b")                    # no retention: whole chain
    t.append(spark.createDataFrame([(9, 90)], "rid long, v long"))
    import time
    time.sleep(0.005)
    t.expire_snapshots(retain_last=1)
    head = t.metadata.ref("b")["snapshot-id"]
    chain = 0
    cur = t.metadata.snapshot_by_id(head)
    while cur is not None:
        chain += 1
        cur = (t.metadata.snapshot_by_id(cur.parent_id)
               if cur.parent_id is not None else None)
    assert chain == 4                       # all four branch ancestors kept


def test_fast_forward_preserves_retention(spark, warehouse):
    from incubator_iceberg_spark import metadata as MD
    t = _mini(spark, warehouse, "db.refret4")
    t.create_branch("b", min_snapshots_to_keep=3, max_ref_age_ms=10 ** 12)
    t.append(spark.createDataFrame([(2, 20)], "rid long, v long"),
             branch="b")
    t.fast_forward("main", "b")
    r = t.metadata.ref("b")
    assert r["min-snapshots-to-keep"] == 3
    assert r["max-ref-age-ms"] == 10 ** 12


def test_merge_schema_append_evolves_and_aligns(warehouse, spark):
    """append(merge_schema=True): new columns union in as optional,
    int→long promotion applies, old rows render NULL for new columns,
    later batches missing the column write NULL, and a non-promotable
    type mismatch raises instead of cast-corrupting."""
    base = spark.createDataFrame([(1, 10)], "id long, v int")
    t = _ingest(warehouse, "db.msa", base)

    nxt = spark.createDataFrame([(2, 2_000_000_000_000, "web")],
                                "id long, v long, tag string")
    t.append(nxt, merge_schema=True)
    fields = {f.name: str(f.type) for f in t.metadata.schema().fields}
    assert fields["v"] == "long" and "tag" in fields

    # batch 3 lacks the evolved column — align writes NULL
    t.append(spark.createDataFrame([(3, 7)], "id long, v int"),
             merge_schema=True)
    rows = {r["id"]: (r["v"], r["tag"]) for r in t.to_df().collect()}
    assert rows == {1: (10, None), 2: (2_000_000_000_000, "web"),
                    3: (7, None)}

    with pytest.raises(ValueError, match="incompatible"):
        t.append(spark.createDataFrame([("x",)], "v string")
                 .withColumn("id", F.lit(9).cast("long")),
                 merge_schema=True)

    # plain append (merge_schema unset) still rejects extra columns
    with pytest.raises(ValueError):
        t.append(spark.createDataFrame([(4, 1, "a", "b")],
                                       "id long, v int, tag string, extra string"))


def test_merge_schema_append_survives_concurrent_identical_union(warehouse, spark):
    """Two writers with independent handles both merge-append the same
    new column: the second's schema union hits 'column exists' against
    the refreshed base and must re-evaluate instead of aborting the
    append (identical concurrent add → nothing left to do)."""
    base = spark.createDataFrame([(1, 10)], "id long, v int")
    t1 = _ingest(warehouse, "db.msa_race", base)
    t2 = warehouse.load_table("db.msa_race")

    t1.append(spark.createDataFrame([(2, 20, "a")],
                                    "id long, v int, tag string"),
              merge_schema=True)
    # t2 still has the pre-union schema cached
    t2.append(spark.createDataFrame([(3, 30, "b")],
                                    "id long, v int, tag string"),
              merge_schema=True)
    rows = {r["id"]: r["tag"] for r in t2.refresh().to_df().collect()}
    assert rows == {1: None, 2: "a", 3: "b"}

    # conflicting concurrent type still raises
    t3 = warehouse.load_table("db.msa_race")
    with pytest.raises(ValueError, match="incompatible"):
        t3.append(spark.createDataFrame([(4, 5)], "id long, tag int"),
                  merge_schema=True)


def test_merge_schema_append_remaps_columns_across_concurrent_rename(
        warehouse, spark):
    """A rename lands between building the batch and the merge-schema
    union advancing the handle: batch columns named for the call-time
    schema remap by field-id, so the renamed column's values survive."""
    base = spark.createDataFrame([(1, "a")], "id long, note string")
    t1 = _ingest(warehouse, "db.msa_ren", base)
    t2 = warehouse.load_table("db.msa_ren")

    # t2 builds its batch against (id, note); then BOTH a rename and an
    # identical union land via t1, forcing t2's union into the
    # refresh path
    t1.update_schema().rename_column("note", "note2").commit()
    t1.append(spark.createDataFrame([(2, "b", 20)],
                                    "id long, note2 string, extra long"),
              merge_schema=True)
    t2.append(spark.createDataFrame([(3, "c", 30)],
                                    "id long, note string, extra long"),
              merge_schema=True)
    rows = {r["id"]: (r["note2"], r["extra"])
            for r in t2.refresh().to_df().collect()}
    assert rows == {1: ("a", None), 2: ("b", 20), 3: ("c", 30)}


def test_streaming_file_level_rate_limit(warehouse, orders, tmp_path):
    """max_files_per_batch splits ONE multi-file append snapshot across
    micro-batches with (snapshot_id, file_index) offsets — the reference's
    rate-limited offset (MicroBatches.java:37-53).  A 100 TB table's single
    append can hold 10^5 files; consumers must chew it in bounded bites."""
    from incubator_iceberg_spark import streaming as STR

    t = warehouse.create_table("db.rl", Schema.from_spark(orders.schema))
    # one snapshot, 5 files
    t.append(orders.limit(100).repartition(5))
    t.append(orders.limit(10).coalesce(1))  # second snapshot, 1 file
    n_files = len(t.new_scan().plan_files())
    assert n_files == 6

    ck = str(tmp_path / "ck_rl")
    rd = STR.MicroBatchReader(t, checkpoint_dir=ck)
    sizes, offsets = [], []
    for df, off in rd.batches(max_snapshots_per_batch=None,
                              max_files_per_batch=2):
        sizes.append(df.count())
        offsets.append(off)
    # 6 files / 2 per batch = 3 batches; total rows conserved exactly once
    assert len(sizes) == 3
    assert sum(sizes) == 110
    # offsets are ALWAYS (snapshot_id, file_index) tuples; file_index -1
    # marks a fully consumed snapshot (one offset type for persisters)
    assert isinstance(offsets[0], tuple) and offsets[0][1] == 2
    assert isinstance(offsets[-1], tuple) and offsets[-1][1] == -1

    # checkpoint restart mid-snapshot resumes at the file index
    rd2 = STR.MicroBatchReader(t, checkpoint_dir=str(tmp_path / "ck_rl2"))
    first = rd2.next_batch(max_files_per_batch=3)
    assert first[0].count() > 0
    rd3 = STR.MicroBatchReader(t, checkpoint_dir=str(tmp_path / "ck_rl2"))
    rest = [df.count() for df, _ in rd3.batches(max_snapshots_per_batch=None,
                                                max_files_per_batch=100)]
    assert first[0].count() + sum(rest) == 110
    assert rd3.next_batch() is None

    # no-limit path is unchanged and equivalent
    rd4 = STR.MicroBatchReader(t)
    total = sum(df.count() for df, _ in rd4.batches(
        max_snapshots_per_batch=None))
    assert total == 110


def test_auto_maintain_triggers_and_fixpoint(warehouse, spark):
    """auto_maintain decides from the manifest plane only, runs the
    triggered steps in dependency order, and a second call right after
    a completed pass triggers nothing."""
    from pyspark.sql import functions as F
    from incubator_iceberg_spark import streaming as STR
    from incubator_iceberg_spark.schema import Schema

    base = spark.range(20000).select(F.col("id"),
                                     (F.col("id") % 100).alias("v"))
    t = warehouse.create_table("db.am", Schema.from_spark(base.schema))
    for i in range(6):
        t.append(base.filter(F.col("id") % 6 == i))
    for ep in range(9):  # eq-debt-files default gate is 8
        b = (base.filter(F.col("id") % 50 == ep)
             .withColumn("v", F.lit(999).cast("long"))
             .withColumn("op", F.lit("U")))
        STR.upsert_mor_exactly_once(t, b, epoch_id=ep, on=["id"],
                                    op_col="op")
        t = t.refresh()

    dry = t.auto_maintain(dry_run=True)
    assert dry["convert_equality_deletes"]["triggered"]
    assert dry["rewrite_data_files"]["triggered"]
    assert dry["rewrite_manifests"]["triggered"]
    assert not dry["expire_snapshots"]["triggered"]  # default gate 50
    # dry run mutates nothing
    assert t.refresh().metadata.current_snapshot_id == \
        t.metadata.current_snapshot_id

    res = t.auto_maintain(policy={"max-snapshots": 5})
    t = t.refresh()
    assert res["convert_equality_deletes"]["triggered"]
    assert res["expire_snapshots"]["triggered"]
    assert t.to_df().count() == 20000
    assert (t.to_df().filter("v = 999").count()
            == base.filter("id % 50 < 9").count())

    res2 = t.auto_maintain(policy={"max-snapshots": 5})
    fired = [k for k, v in res2.items()
             if isinstance(v, dict) and v.get("triggered")]
    assert not fired, f"not a fixpoint: {fired}"


def test_auto_maintain_policy_from_properties(warehouse, spark):
    """maintenance.auto.<key> table properties override the defaults."""
    from pyspark.sql import functions as F
    from incubator_iceberg_spark.schema import Schema

    base = spark.range(1000).select(F.col("id"))
    t = warehouse.create_table(
        "db.amp", Schema.from_spark(base.schema),
        properties={"maintenance.auto.min-small-files": "2"})
    t.append(base.filter("id % 2 = 0"))
    t.append(base.filter("id % 2 = 1"))
    dry = t.auto_maintain(dry_run=True)
    assert dry["rewrite_data_files"]["triggered"]
    # call-site policy wins over the property (raise the gate past the
    # per-append part-file fanout)
    dry2 = t.auto_maintain(dry_run=True, policy={"min-small-files": 100})
    assert not dry2["rewrite_data_files"]["triggered"]


def test_auto_maintain_policy_coercion(warehouse, spark):
    """int-typed policy keys accept float-ish strings ('1.5', '1e6');
    a non-numeric value raises an error NAMING the property instead of
    an opaque ValueError, and call-site policy values are coerced too."""
    import pytest
    from pyspark.sql import functions as F
    from incubator_iceberg_spark.schema import Schema

    base = spark.range(100).select(F.col("id"))
    t = warehouse.create_table(
        "db.amc", Schema.from_spark(base.schema),
        properties={"maintenance.auto.min-small-files": "1.5",
                    "maintenance.auto.eq-debt-tuples": "1e6"})
    t.append(base)
    dry = t.auto_maintain(dry_run=True)  # no raise: 1.5 -> 1, 1e6 -> 1000000
    assert isinstance(dry, dict)
    dry2 = t.auto_maintain(dry_run=True, policy={"min-small-files": "2.5"})
    assert isinstance(dry2, dict)
    t2 = warehouse.create_table(
        "db.amc2", Schema.from_spark(base.schema),
        properties={"maintenance.auto.min-small-files": "lots"})
    t2.append(base)
    with pytest.raises(ValueError, match="maintenance.auto.min-small-files"):
        t2.auto_maintain(dry_run=True)


def test_rewrite_manifests_target_size_chunks_prune(warehouse, spark,
                                                    orders):
    """Partition-sorted entries split at commit.manifest.target-size-bytes
    give near-disjoint per-manifest partition summaries: a one-partition
    filter plans a strict subset of manifests."""
    from incubator_iceberg_spark.scan import TableScan
    from pyspark.sql import functions as F

    src = orders.select("o_orderkey", "o_totalprice",
                        (F.col("o_orderkey") % 8).alias("grp"))
    t = warehouse.create_table(
        "db.rmc", "o_orderkey long, o_totalprice double, grp long",
        partition_by=["grp"],
        properties={"commit.manifest.target-size-bytes": "4096"})
    for i in range(4):  # interleaved appends: summaries start overlapping
        t.append(src.filter(f"o_orderkey % 4 = {i}"))
    res = t.rewrite_manifests()
    assert res["rewritten_manifests"] == 4
    assert res["added_manifests"] > 1  # tiny target forces chunking
    t = t.refresh()
    assert t.metadata_table("manifests").count() == res["added_manifests"]
    kept, total = TableScan(t, spark,
                            row_filter="grp = 3").plan_manifests()
    assert total == res["added_manifests"]
    assert len(kept) < total, "chunked summaries should prune"
    assert t.to_df(filter="grp = 3").count() == \
        src.filter("grp = 3").count()
    assert t.to_df().count() == src.count()
