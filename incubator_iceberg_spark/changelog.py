"""Changelog (CDC) scan: row-level insert/delete diff between snapshots.

The reference snapshot (v0.11-era) exposes file-level incremental reads
(appendsBetween, S3); later Iceberg adds a `changes` metadata table.  This
module computes the row-level equivalent Spark-first:

For each non-`replace` snapshot in the ancestry range (from, to]:
  added  = rows of data files that entered the live set at that snapshot
  removed = rows of data files that left it
  inserts = added EXCEPT ALL removed      (multiset difference)
  deletes = removed EXCEPT ALL added

Both directions are computed in ONE aggregation (union the sides with
+1/-1 deltas, sum per distinct row value; the sign is the direction, the
absolute value the multiplicity — the same shape Catalyst's
RewriteExceptAll plans per direction, fused so each side is scanned once).

The multiset-difference pair cancels rows that were merely rewritten (copy-on-write
carries untouched rows into new files), so UPDATE shows as delete+insert
of only the changed rows.  `replace` (compaction) snapshots are skipped —
they don't change table contents.  The shuffle is bounded by the touched
files of each snapshot, never the whole table.

The METADATA plane is columnar too (round 7): each commit is diffed by
manifest-list path — manifests shared with the parent cancel exactly and
are never read for the data diff — and the side-unique manifests load as
arrow tables whose `file_path` columns diff with numpy set ops.  Entries
become Python dicts only for the files the commit actually touched, and
new-delete→carried-file scoping is a searchsorted over path bounds + a
sequence compare (the maintenance.remove_dangling_deletes pattern), so a
one-file commit on a 10⁶-entry table costs the one manifest it wrote,
not the live set.  ChangelogMicroBatchReader, cdc_replication, and
matview IVM all ride this plane per micro-batch/refresh.

RowDelta (v2 delete-file) commits are handled since round 2: a snapshot
that ADDS delete files without touching data files still changes the
visible rows, so the data files those new delete files can affect
(sequence- and bounds-scoped via ``scope_deletes_for_file``) are read on
both sides WITH each side's live delete files applied — merge-on-read
DELETE shows its rows as 'delete', MoR UPDATE as delete+insert, exactly
like their copy-on-write counterparts.

Limitation (documented): map-typed columns can't be diffed — Spark
forbids them both in EXCEPT ALL and as grouping keys.

Output columns: table columns (current schema) + `_change_type`
('insert' | 'delete') + `_change_snapshot_id` + `_change_ordinal`
(commit order within the requested range, 0-based).
"""

from __future__ import annotations

from typing import Optional

from incubator_iceberg_spark import manifests as MF

#: sorts after every code point — appending it to a (possibly
#: prefix-truncated) upper bound turns the reference's
#: ``path[:len(hi)] <= hi`` prefix compare into a plain searchsorted key
_MAXCH = "\U0010ffff"


def _mlist_rows(cache: dict, snapshot) -> list:
    """Manifest-list rows of one snapshot, memoized per changelog() call
    (each snapshot is read twice: as a commit and as the next commit's
    parent)."""
    if snapshot is None:
        return []
    rows = cache.get(snapshot.snapshot_id)
    if rows is None:
        rows = MF.read_manifest_list_arrow(snapshot.manifest_list).to_pylist()
        cache[snapshot.snapshot_id] = rows
    return rows


def _live_arrow(manifest_paths):
    """Live (status != DELETED) entries of the given manifests as ONE
    arrow table — never per-entry Python dicts."""
    import pyarrow.compute as pc

    t = MF.concat_entries_tables(
        [MF.read_manifest_arrow(p) for p in manifest_paths])
    if t is None:
        return None
    if "status" in t.column_names:
        t = t.filter(pc.not_equal(pc.fill_null(t.column("status"), 0),
                                  MF.DELETED))
    return t if len(t) else None


def _col_np(t, name, default, dtype="int64"):
    import numpy as np
    import pyarrow.compute as pc

    if t is None:
        return np.asarray([], dtype=dtype)
    if name in t.column_names:
        return pc.fill_null(t.column(name), default).to_numpy(
            zero_copy_only=False).astype(dtype)
    return np.full(len(t), default, dtype=dtype)


def _paths_np(t):
    import numpy as np

    if t is None:
        return np.asarray([], dtype=object)
    return np.asarray(t.column("file_path").to_pylist(), dtype=object)


def _split_content(t):
    """(data, deletes) arrow slices of one live-entries table."""
    import pyarrow.compute as pc

    if t is None:
        return None, None
    if "content" not in t.column_names:
        return t, None
    is_data = pc.equal(pc.fill_null(t.column("content"), 0), MF.DATA)
    d = t.filter(is_data)
    x = t.filter(pc.invert(is_data))
    return (d if len(d) else None), (x if len(x) else None)


def _materialize(tabs, wanted_paths) -> dict:
    """path → normalized entry dict, ONLY for the wanted paths — the sole
    place changelog metadata becomes Python objects."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out: dict = {}
    if wanted_paths is None or not len(wanted_paths):
        return out
    vset = pa.array(list(wanted_paths), type=pa.string())
    for t in tabs:
        if t is None:
            continue
        hit = t.filter(pc.is_in(t.column("file_path"), value_set=vset))
        for e in hit.to_pylist():
            out.setdefault(e["file_path"], MF.normalize_entry(e))
    return out


def _struct_col(struct_chunked, name):
    """One field of a struct chunked-array by EXACT name (stats struct
    field names contain literal dots for nested leaves, so index-based
    lookup avoids any path-splitting ambiguity)."""
    import pyarrow.compute as pc

    st = struct_chunked.type
    for i in range(st.num_fields):
        if st.field(i).name == name:
            return pc.struct_field(struct_chunked, [i])
    return None


def _eq_disjoint_mask(ct, del_entry, schema):
    """Columnar mirror of deletes._eq_bounds_disjoint over the carried
    entries table ``ct``: True rows provably cannot contain a key the eq
    delete removes (some equality column's value ranges are disjoint on
    both sides' manifest bounds).  Bounds truncation only WIDENS a range
    (lower rounds down, upper rounds up), so a detected gap is real;
    missing stats, cross-type bounds (schema evolution), and
    both-sides-nullable columns stay conservative (False)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if ct is None:
        return np.zeros(0, dtype=bool)
    out = np.zeros(len(ct), dtype=bool)
    if schema is None or \
            "lower_bounds" not in ct.column_names or \
            "upper_bounds" not in ct.column_names:
        return out
    e_lo = del_entry.get("lower_bounds") or {}
    e_hi = del_entry.get("upper_bounds") or {}
    e_null = del_entry.get("null_counts") or {}
    lo_struct = ct.column("lower_bounds")
    hi_struct = ct.column("upper_bounds")
    for i in del_entry.get("equality_ids") or ():
        c = schema.field_path(i)
        if c is None:
            continue
        el, eh = e_lo.get(c), e_hi.get(c)
        if el is None or eh is None:
            continue  # delete side has no stats on this column
        dl, dh = _struct_col(lo_struct, c), _struct_col(hi_struct, c)
        if dl is None or dh is None:
            continue
        try:
            # null bounds compare to null → fill False: stats-less
            # carried files stay conservatively affected
            gap = pc.fill_null(pc.or_kleene(pc.less(dh, pa.scalar(el)),
                                            pc.greater(dl, pa.scalar(eh))),
                               False).to_numpy(zero_copy_only=False)
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError,
                pa.ArrowTypeError, TypeError):
            continue
        if (e_null.get(c) or 0) > 0:
            # NULL matches NULL in eq deletes and bounds only cover
            # non-null values: a gap proves nothing for a carried file
            # that also holds nulls in this column
            if "null_counts" not in ct.column_names:
                continue
            dn = pc.fill_null(
                pc.map_lookup(ct.column("null_counts"),
                              query_key=pa.scalar(c), occurrence="first"),
                0).to_numpy(zero_copy_only=False)
            gap = gap & (dn == 0)
        out |= gap
    return out


def _affected_carried(sp, ss, new_dels, ct=None, schema=None):
    """Boolean mask over path-sorted carried data files (paths ``sp``,
    sequence numbers ``ss``, same-order entries table ``ct``): which ones
    can a NEW delete file touch.  Position deletes: searchsorted into the
    sorted paths on the delete's referenced-path bounds + seq compare
    (the maintenance.py dangling-delete pattern).  Equality deletes:
    sequence compare refined by the columnar value-bounds overlap check
    (_eq_disjoint_mask — scope_deletes_for_file's per-column refinement
    in arrow form), so one small eq commit no longer drags every earlier
    carried file through both sides of the EXCEPT ALL.  Over-selection
    stays safe (it cancels in EXCEPT ALL); under-selection is impossible
    because the bounds check only drops provably-disjoint files."""
    import numpy as np

    mask = np.zeros(len(sp), dtype=bool)
    for e in new_dels:
        del_seq = e.get("sequence_number") or 0
        if (e.get("content") or 0) == MF.POSITION_DELETES:
            lo = (e.get("lower_bounds") or {}).get("file_path")
            hi = (e.get("upper_bounds") or {}).get("file_path")
            if lo is not None and hi is not None:
                lo_i = int(np.searchsorted(sp, lo, side="left"))
                hi_i = int(np.searchsorted(sp, hi + _MAXCH, side="right"))
            else:
                lo_i, hi_i = 0, len(sp)
            if lo_i < hi_i:
                mask[lo_i:hi_i] |= ss[lo_i:hi_i] <= del_seq
        else:
            cand = ss < del_seq
            if cand.any() and ct is not None:
                cand &= ~_eq_disjoint_mask(ct, e, schema)
            mask |= cand
    return mask


def _scope_side_deletes(del_tabs, touched_paths_sorted, touched_min_seq):
    """Materialize (normalized dicts) only the live delete entries of one
    side that could affect that side's TOUCHED data files — a columnar
    superset prefilter (seq compare + referenced-path-bounds searchsorted
    into the touched paths); read_entries re-scopes precisely per file."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if not len(touched_paths_sorted):
        return []
    t = MF.concat_entries_tables(list(del_tabs))
    if t is None:
        return []
    n = len(t)
    seq = _col_np(t, "sequence_number", 0)
    content = _col_np(t, "content", 0)
    keep = np.zeros(n, dtype=bool)
    is_eq = content == MF.EQUALITY_DELETES
    keep[is_eq] = seq[is_eq] > touched_min_seq
    pos_idx = np.flatnonzero(~is_eq)
    if len(pos_idx):
        keep[pos_idx] = seq[pos_idx] >= touched_min_seq
        if "ref_lower_bound" in t.column_names and \
                "ref_upper_bound" in t.column_names:
            lo = pc.fill_null(t.column("ref_lower_bound"), "").to_numpy(
                zero_copy_only=False)[pos_idx]
            hi = pc.fill_null(t.column("ref_upper_bound"), "").to_numpy(
                zero_copy_only=False)[pos_idx]
            known = (lo != "") & (hi != "")
            if known.any():
                kidx = pos_idx[known]
                lo_i = np.searchsorted(touched_paths_sorted, lo[known],
                                       side="left")
                hi_i = np.searchsorted(
                    touched_paths_sorted,
                    np.asarray([h + _MAXCH for h in hi[known]],
                               dtype=object), side="right")
                keep[kidx] &= hi_i > lo_i
    if not keep.any():
        return []
    return [MF.normalize_entry(e)
            for e in t.filter(pa.array(keep)).to_pylist()]


def _snapshot_changes(md, schema, snap, parent, mlist_cache,
                      tab_cache=None):
    """One commit's row-change inputs, computed COLUMNAR: returns
    (now_entries, before_entries, dels_now, dels_before) — data-file
    entry dicts materialized ONLY for files the commit touched, plus each
    side's scoped live delete entries — or None when the commit changes
    nothing.

    Manifests shared by path between the snapshot and its parent carry
    identical entries and cancel exactly in the live-set diff, so only
    the manifests the commit wrote or dropped are read for the data diff
    (the reference diffs the same way from manifest-list metadata —
    core/.../IncrementalDataTableScan.java plans per-snapshot manifests).
    Shared manifests are read at all only when ``has_deletes`` says they
    may hold delete entries, or when the commit added delete files (MoR)
    and the carried live data set must be scanned — and even then the
    scan stays arrow/numpy columnar; entries become Python dicts only for
    the touched files."""
    import numpy as np

    rows_now = _mlist_rows(mlist_cache, snap)
    rows_before = _mlist_rows(mlist_cache, parent)
    mp_now = {r["manifest_path"]: r for r in rows_now}
    mp_before = {r["manifest_path"]: r for r in rows_before}
    uniq_now = [p for p in mp_now if p not in mp_before]
    uniq_before = [p for p in mp_before if p not in mp_now]
    shared = [p for p in mp_now if p in mp_before]

    t_now = _live_arrow(uniq_now)
    t_before = _live_arrow(uniq_before)
    d_now, del_now = _split_content(t_now)
    d_before, del_before = _split_content(t_before)

    pn, pb = _paths_np(d_now), _paths_np(d_before)
    added_paths = np.setdiff1d(pn, pb)
    removed_paths = np.setdiff1d(pb, pn)
    carried_uniq = np.intersect1d(pn, pb)
    new_del_paths = np.setdiff1d(_paths_np(del_now), _paths_np(del_before))

    if not len(added_paths) and not len(removed_paths) and \
            not len(new_del_paths):
        return None

    # shared manifests: re-read only those that can hold delete entries
    # (both sides' live delete sets include them), plus — only when this
    # commit added delete files — those holding the carried data files
    # the new deletes must be scoped against
    # shared manifests repeat across the commits of a range (manifests
    # are immutable) — cache BOTH their live slices (data, deletes) for
    # the changelog() call's lifetime instead of re-reading per commit:
    # a K-MoR-commit range over M shared manifests reads each once, not
    # K times
    if tab_cache is None:
        tab_cache = {}

    def _shared_slices(p):
        if p not in tab_cache:
            tab_cache[p] = _split_content(_live_arrow([p]))
        return tab_cache[p]

    shared_del_tabs = []
    for p in shared:
        if mp_now[p].get("has_deletes") is not False:
            dtab = _shared_slices(p)[1]
            if dtab is not None:
                shared_del_tabs.append(dtab)

    aff_paths = np.asarray([], dtype=object)
    shared_data_tabs = []
    if len(new_del_paths):
        new_dels = list(_materialize([del_now], new_del_paths).values())
        # carried live data: shared manifests + paths live in BOTH
        # unique sides (rewritten-manifest carryover)
        shared_data_tabs = [_shared_slices(p)[0] for p in shared]
        shared_data_tabs = [t for t in shared_data_tabs if t is not None]
        ctabs = list(shared_data_tabs)
        if len(carried_uniq):
            import pyarrow as pa
            keep = np.isin(pn, carried_uniq)
            ctabs.append(d_now.filter(pa.array(keep)))
        ct = MF.concat_entries_tables(ctabs)
        if ct is not None:
            import pyarrow as pa
            cp = _paths_np(ct)
            cs = _col_np(ct, "sequence_number", 0)
            order = np.argsort(cp, kind="stable")
            sp, ss = cp[order], cs[order]
            ct = ct.take(pa.array(order))
            aff_paths = np.unique(
                sp[_affected_carried(sp, ss, new_dels, ct, schema)])

    # carried affected files resolve from d_now/d_before when they live
    # in rewritten (side-unique) manifests, from shared_data_tabs when
    # they were carried by manifest path
    now_ent = _materialize([d_now] + shared_data_tabs,
                           np.union1d(added_paths, aff_paths))
    before_ent = _materialize([d_before] + shared_data_tabs,
                              np.union1d(removed_paths, aff_paths))
    now_entries = list(now_ent.values())
    before_entries = list(before_ent.values())
    if not now_entries and not before_entries:
        return None

    def touched(entries):
        paths = np.sort(np.asarray([e["file_path"] for e in entries],
                                   dtype=object))
        mseq = min((e.get("sequence_number") or 0) for e in entries) \
            if entries else 0
        return paths, mseq

    np_paths, n_min = touched(now_entries)
    bp_paths, b_min = touched(before_entries)
    dels_now = _scope_side_deletes([del_now] + shared_del_tabs,
                                   np_paths, n_min) if now_entries else []
    dels_before = _scope_side_deletes([del_before] + shared_del_tabs,
                                      bp_paths, b_min) if before_entries else []
    return now_entries, before_entries, dels_now, dels_before


def _net_changes(ch, data_cols):
    """Collapse a multi-commit changelog to its NET row effect (the
    reference family's create_changelog_view(net_changes=true) /
    ChangelogIterator.removeNetCarryovers): per distinct row value, net
    multiplicity = #inserts - #deletes across the range; zero vanishes
    (insert-then-delete, or delete-then-reinsert of the same row),
    positive nets emit that many inserts, negative that many deletes —
    net inserts attributed to the row's LAST 'insert' event in range,
    net deletes to its LAST 'delete' (a net>0 group always contains an
    insert and net<0 a delete, so the conditional max is never null;
    attributing to the last change of EITHER kind mislabeled e.g. 2
    deletes + 1 later re-insert: the net delete carried the re-insert's
    snapshot id).  One shuffle keyed on row content, sized by the
    range's changed rows — long replication backfills collapse churn
    instead of replaying it."""
    from pyspark.sql import functions as F

    delta = F.when(F.col("_change_type") == "insert", F.lit(1)) \
        .otherwise(F.lit(-1))
    last_of = lambda kind: F.max(
        F.when(F.col("_change_type") == kind,
               F.struct("_change_ordinal", "_change_snapshot_id")))
    agg = (ch.groupBy(*data_cols)
           .agg(F.sum(delta).alias("_net"),
                last_of("insert").alias("_last_ins"),
                last_of("delete").alias("_last_del")))
    last = F.when(F.col("_net") > 0, F.col("_last_ins")) \
        .otherwise(F.col("_last_del"))
    return (agg.filter(F.col("_net") != 0)
            .withColumn("_last", last)
            .select(*data_cols,
                    F.when(F.col("_net") > 0, F.lit("insert"))
                    .otherwise(F.lit("delete")).alias("_change_type"),
                    F.col("_last._change_snapshot_id")
                    .alias("_change_snapshot_id"),
                    F.col("_last._change_ordinal").alias("_change_ordinal"),
                    F.abs(F.col("_net")).alias("_n"))
            .withColumn("_dup", F.explode(F.sequence(F.lit(1), F.col("_n"))))
            .drop("_n", "_dup"))


def changelog(table, spark=None, from_snapshot_id: Optional[int] = None,
              to_snapshot_id: Optional[int] = None,
              net_changes: bool = False):
    """Row-level changes in (from_snapshot_id, to_snapshot_id]; from=None
    means from table creation, to=None means current.  ``net_changes``
    collapses the range to net row effect (see _net_changes)."""
    from pyspark.sql import functions as F

    from incubator_iceberg_spark.scan import read_entries
    from incubator_iceberg_spark.session import local_df

    spark = spark or table.spark
    md = table.metadata
    schema = md.schema()

    end_id = to_snapshot_id if to_snapshot_id is not None else md.current_snapshot_id
    chain = []  # newest → oldest, stopping at from_snapshot_id (exclusive)
    cur = md.snapshot_by_id(end_id) if end_id is not None else None
    while cur is not None and cur.snapshot_id != from_snapshot_id:
        chain.append(cur)
        cur = md.snapshot_by_id(cur.parent_id) if cur.parent_id is not None else None
    if from_snapshot_id is not None and cur is None:
        raise ValueError(
            f"snapshot {from_snapshot_id} is not an ancestor of {end_id}")

    empty_schema = schema.to_spark() \
        .add("_change_type", "string") \
        .add("_change_snapshot_id", "long") \
        .add("_change_ordinal", "integer")
    out = local_df(spark, [], empty_schema)

    ordinal = 0
    mlist_cache: dict = {}
    tab_cache: dict = {}
    cols = [f.name for f in schema.fields]
    # inserts = added EXCEPT ALL removed, deletes = removed EXCEPT ALL
    # added — fused into ONE aggregation ACROSS the whole range: every
    # commit side is tagged with (+1/-1, commit ordinal) and unioned,
    # then a single sum per (ordinal, row value) replays each commit's
    # multiset diff (sign = direction, |sum| = multiplicity).  Catalyst's
    # RewriteExceptAll plans exactly this union+aggregate shape per
    # direction per commit; fusing first halved the per-commit exchanges
    # (r11), and grouping by the ordinal now collapses the K per-commit
    # aggregation pipelines into ONE exchange for the whole range —
    # commits never mix because the ordinal is in the grouping key.
    sides = []  # (entries, delete_entries, ordinal, delta)
    snap_ids: dict[int, int] = {}
    for snap in reversed(chain):  # oldest first
        if snap.operation == "replace":
            continue
        parent = md.snapshot_by_id(snap.parent_id) if snap.parent_id is not None else None
        changes = _snapshot_changes(md, schema, snap, parent, mlist_cache,
                                    tab_cache)
        if changes is None:
            continue
        now_entries, before_entries, dels_now, dels_before = changes
        # each side applies ITS OWN live delete files, so already-deleted
        # rows never resurrect into the diff
        sides.append((now_entries, dels_now, ordinal, 1))
        sides.append((before_entries, dels_before, ordinal, -1))
        snap_ids[ordinal] = snap.snapshot_id
        ordinal += 1

    both = None
    for entries, side_dels, o, delta in sides:
        if not entries:
            continue  # an empty side contributes nothing to the sums
        side = (read_entries(spark, md, entries, side_dels, schema)
                .select(*cols,
                        F.lit(o).cast("int").alias("_change_ordinal"),
                        F.lit(delta).alias("_delta")))
        both = side if both is None else both.unionByName(side)
    if both is None:
        return _net_changes(out, cols) if net_changes else out
    # snapshot ids attach AFTER the aggregation via a tiny ordinal→id
    # literal map (never a join, never a shuffle)
    id_map = F.create_map(*[x for o, sid in snap_ids.items()
                            for x in (F.lit(o),
                                      F.lit(sid).cast("long"))])
    net = (both.groupBy("_change_ordinal", *cols)
           .agg(F.sum("_delta").alias("_d"))
           .filter(F.col("_d") != 0))
    out = (net.select(
               *cols,
               F.when(F.col("_d") > 0, F.lit("insert"))
               .otherwise(F.lit("delete")).alias("_change_type"),
               F.abs(F.col("_d")).alias("_n"),
               F.col("_change_ordinal"))
           .withColumn("_dup",
                       F.explode(F.sequence(F.lit(1), F.col("_n"))))
           .drop("_n", "_dup")
           .withColumn("_change_snapshot_id",
                       F.element_at(id_map, F.col("_change_ordinal")))
           .select(*cols, "_change_type", "_change_snapshot_id",
                   "_change_ordinal"))
    if net_changes:
        out = _net_changes(out, cols)
    return out


def changelog_with_updates(table, spark=None, identifier_cols=None,
                           from_snapshot_id: Optional[int] = None,
                           to_snapshot_id: Optional[int] = None,
                           net_changes: bool = False):
    """CDC view with UPDATE images — the semantics of the reference
    family's create_changelog_view(compute_updates) / ChangelogIterator:
    within ONE commit, a delete and an insert sharing the identifier
    columns are the two halves of an update, re-typed
    ``update_preimage`` / ``update_postimage``; everything else stays
    insert/delete.  Downstream CDC consumers (matview IVM, audit sinks,
    Kafka-style emitters) need the pre/post pairing to apply or display
    changes keyed by row identity.

    ``identifier_cols`` defaults to the table's identifier fields.
    Pairing is per (key, _change_snapshot_id) via one window — shuffle
    on the key only, sized by the range's changed rows, never the
    table.  A key with multiple inserts or deletes in one commit stays
    insert/delete (identifier uniqueness is the caller's contract;
    ambiguous pairs are never guessed).  Carryover rows (copy-on-write
    rewrites of untouched rows) were already cancelled by the base
    changelog's EXCEPT ALL, matching the reference's
    remove_carryovers=true default."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    if net_changes:
        # the reference family rejects the combination too: after the
        # net collapse a pre/post pair may span commits, so per-commit
        # pairing would silently mislabel
        raise ValueError(
            "net_changes cannot be combined with update images")

    schema = table.metadata.schema()
    if identifier_cols is None:
        identifier_cols = [schema.field_path(i)
                           for i in schema.identifier_field_ids]
        if not identifier_cols:
            raise ValueError(
                "no identifier fields on table; pass identifier_cols=[...]")
    for c in identifier_cols:
        if schema.find_field(c) is None:
            raise ValueError(f"identifier column not in schema: {c}")

    ch = changelog(table, spark=spark, from_snapshot_id=from_snapshot_id,
                   to_snapshot_id=to_snapshot_id)
    w = Window.partitionBy("_change_snapshot_id",
                           *[F.col(c) for c in identifier_cols])
    n_ins = F.sum(F.when(F.col("_change_type") == "insert", 1)
                  .otherwise(0)).over(w)
    n_del = F.sum(F.when(F.col("_change_type") == "delete", 1)
                  .otherwise(0)).over(w)
    # NULL identifiers never pair: the window groups NULL keys together,
    # but two unrelated rows with NULL keys are not one update (the
    # reference forbids null identifier fields outright — we keep the
    # rows and just leave them plain insert/delete)
    keys_ok = None
    for c in identifier_cols:
        nn = F.col(c).isNotNull()
        keys_ok = nn if keys_ok is None else (keys_ok & nn)
    paired = (n_ins == 1) & (n_del == 1) & keys_ok
    return ch.withColumn(
        "_change_type",
        F.when(paired & (F.col("_change_type") == "delete"),
               F.lit("update_preimage"))
        .when(paired & (F.col("_change_type") == "insert"),
              F.lit("update_postimage"))
        .otherwise(F.col("_change_type")))
