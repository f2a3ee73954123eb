"""Deletion vectors — compact bitmap position deletes, ONE row per data
file (the Iceberg-v3 deletion-vector shape re-expressed on the engine's
v2 delete plumbing; core/.../DeleteFileIndex.java scoping is UNCHANGED:
a DV entry is a position-delete manifest entry whose file carries
(file_path, dv-bitmap) rows instead of exploded (file_path, pos) rows).

Why this exists at 100 TB: steady-state MoR debt on a wide table is
millions of (path, pos) tuples spread over many small parquet files.  A
DV collapses each data file's deleted positions into one compressed
bitmap row — delete debt becomes O(#touched data files) rows instead of
O(#deleted rows), the apply-side read is a (id-free) two-column scan of
a few MB, and maintenance (liveness, compaction, path-bounds pruning)
operates on per-data-file rows.  The read path decodes bitmaps
DISTRIBUTED (mapInPandas over the DV scan) back into (file_path, pos)
rows feeding the same broadcast anti-join as plain position deletes, so
every delete-correctness property (sequence scoping, clean/dirty file
split, conflict validation) is inherited rather than re-proven.

Blob format (engine-defined, deterministic):
  tag 0x01: zlib(sorted positions as little-endian int64)   — sparse
  tag 0x02: min_pos int64 LE + zlib(packbits(bitorder=little)) — dense
The encoder picks whichever is smaller BEFORE compression
(span/8 bytes vs 8·n bytes), so adversarial sparse/dense mixes never
blow up memory: the bitmap branch allocates span/8 bytes, chosen only
when that is at most the raw encoding's size.

Manifest integration: DV entries use content=POSITION_DELETES with
``file_format='dv'`` as the marker (the reference's v3 DVs ride
content=1 with format=puffin the same way).  ``lower/upper_bounds`` on
``file_path`` are stamped from the referenced paths, so ref-bounds
scoping, dangling-delete reclaim, and commit validation all work
unmodified; ``record_count`` is the TOTAL deleted-position cardinality
(v3 semantics) so delete-debt metadata stays truthful.

Write path: ``dv_rows_from_pos`` encodes (file_path, pos) tuples into
DV rows, and ``deletes.write_position_deletes`` writes them through the
one delete-file writer (``deletes._write_delete_parquet``: same
partition-scoped or range layouts as pos parquet) with
``dv_file_stats`` as its per-file entry extractor.

Divergence from v3 (documented): v3 requires exactly one live DV per
data file (writers must merge).  Our apply is a set-union anti-join, so
multiple DVs (or DV + plain pos files) for one data file are correct;
``rewrite_position_deletes(fmt='dv')`` consolidates to the one-DV-per-
file steady state.
"""

from __future__ import annotations

import os
import struct
import zlib

from incubator_iceberg_spark import schema as S

DV_FORMAT = "dv"
_TAG_RAW = 1
_TAG_BITMAP = 2

# field ids in the Iceberg reserved range (2147483546 = reserved
# file_path; the rest engine-reserved below it, distinct from pos=...545)
DV_SCHEMA = S.Schema([
    S.NestedField(2147483546, "file_path", S.StringType(), required=True),
    S.NestedField(2147483543, "dv", S.BinaryType(), required=True),
    S.NestedField(2147483542, "cardinality", S.LongType(), required=True),
    S.NestedField(2147483541, "min_pos", S.LongType(), required=True),
    S.NestedField(2147483540, "max_pos", S.LongType(), required=True),
])

_DV_SPARK_DDL = ("file_path string, dv binary, cardinality long, "
                 "min_pos long, max_pos long")

#: DV rows per range-laid output file: rows are one per data file, so
#: outputs stay ~tens of MB even at 10^6 touched files
ROWS_PER_FILE = 500_000


def is_dv_entry(e: dict) -> bool:
    return (e.get("file_format") or "") == DV_FORMAT


def encode_dv(positions) -> bytes:
    """Deterministic bitmap/raw encoding of a set of row positions."""
    import numpy as np

    a = np.unique(np.asarray(positions, dtype=np.int64))
    if len(a) == 0:
        raise ValueError("encode_dv: empty position set")
    if int(a[0]) < 0:
        raise ValueError("encode_dv: negative position")
    mn, mx = int(a[0]), int(a[-1])
    span_bytes = (mx - mn) // 8 + 1
    if span_bytes <= 8 * len(a):
        rel = (a - mn).astype(np.int64)
        packed = np.zeros(span_bytes, dtype=np.uint8)
        np.bitwise_or.at(packed, rel >> 3,
                         np.left_shift(1, (rel & 7)).astype(np.uint8))
        return (bytes([_TAG_BITMAP]) + struct.pack("<q", mn)
                + zlib.compress(packed.tobytes(), 6))
    return bytes([_TAG_RAW]) + zlib.compress(a.astype("<i8").tobytes(), 6)


def decode_dv(blob: bytes):
    """Inverse of encode_dv → sorted int64 numpy array of positions."""
    import numpy as np

    tag = blob[0]
    if tag == _TAG_RAW:
        return np.frombuffer(zlib.decompress(blob[1:]), dtype="<i8")
    if tag == _TAG_BITMAP:
        (mn,) = struct.unpack("<q", blob[1:9])
        packed = np.frombuffer(zlib.decompress(blob[9:]), dtype=np.uint8)
        bits = np.unpackbits(packed, bitorder="little")
        return np.flatnonzero(bits).astype(np.int64) + mn
    raise ValueError(f"unknown DV blob tag: {tag}")


def dv_rows_from_pos(pos_df):
    """(file_path, pos) tuples → one DV row per data file.  One shuffle
    on file_path; each group's positions encode in a single numpy pass."""
    import pandas as pd

    def _enc(key, pdf):
        import numpy as np
        a = np.unique(pdf["pos"].to_numpy(dtype=np.int64))
        return pd.DataFrame({
            "file_path": [key[0]],
            "dv": [encode_dv(a)],
            "cardinality": [len(a)],
            "min_pos": [int(a[0])],
            "max_pos": [int(a[-1])],
        })

    return (pos_df.select("file_path", "pos")
            .groupBy("file_path").applyInPandas(_enc, _DV_SPARK_DDL))


def dv_file_stats(path: str) -> dict:
    """Manifest stats of one written DV file, in the footer-stats shape
    ``write.file_entries`` consumes.  ``record_count`` is the summed
    cardinality — deleted positions (v3 semantics): delete-debt
    accounting counts ROWS deleted, not DV rows — and the ``file_path``
    bounds are the referenced data files' path range."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["file_path", "cardinality"])
    paths = t.column("file_path")
    return {
        "file_path": path,
        "record_count": int(pc.sum(t.column("cardinality")).as_py() or 0),
        "file_size_bytes": os.path.getsize(path),
        "lower_bounds": {"file_path": pc.min(paths).as_py()},
        "upper_bounds": {"file_path": pc.max(paths).as_py()},
    }


def read_dv_pos_df(spark, dv_entries: list, with_source: bool = False,
                   seqs_df=None):
    """DV entries → DataFrame(file_path, pos, ___del_seq): the decoded
    tuple view feeding the same anti-join as plain position deletes.
    Decode is distributed (mapInPandas over the DV scan) and emits
    int64 rows only — blobs never leave their input partition.
    ``with_source`` adds ``delete_file_path`` (the holding DV file) for
    the position_deletes inspection table; ``seqs_df`` is the caller's
    ``deletes.seq_map``."""
    import pandas as pd

    df = spark.read.schema(DV_SCHEMA.to_spark()).parquet(
        *[e["file_path"] for e in dv_entries])
    # sequence stamp: a literal for single-commit debt, else a broadcast
    # join on the DECODED filesystem path (deletes._decoded_meta_path_col
    # rationale) against a LocalRelation — the (path, seq) map is
    # driver-held, and a list-built DataFrame would add a Python-worker
    # job to every DV-applying read and rewrite
    from incubator_iceberg_spark.deletes import stamp_delete_seq
    df = stamp_delete_seq(spark, df, dv_entries,
                          file_col="___dvfile" if with_source else None,
                          seqs_df=seqs_df)

    # decode parallelism is otherwise bounded by DV FILE count — a
    # consolidated DV file (the steady state rewrite_position_deletes
    # produces) would decode in one task.  Spread bitmap rows round-robin
    # first: shuffling compressed blobs is cheap vs the decoded tuples.
    total_pos = sum(e.get("record_count") or 0 for e in dv_entries)
    par = spark.sparkContext.defaultParallelism
    if len(dv_entries) < par and total_pos > 200_000:
        df = df.repartition(par)

    out_cols = ["file_path", "pos", "___del_seq"] + (
        ["delete_file_path"] if with_source else [])

    def _explode(it):
        import numpy as np
        for pdf in it:
            if len(pdf) == 0:
                continue
            parts = []
            srcs = pdf["___dvfile"] if with_source else pdf["file_path"]
            for fp, blob, seq, sp in zip(pdf["file_path"], pdf["dv"],
                                         pdf["___del_seq"], srcs):
                pos = decode_dv(bytes(blob))
                d = {
                    "file_path": np.repeat(fp, len(pos)),
                    "pos": pos,
                    "___del_seq": np.repeat(np.int64(seq), len(pos)),
                }
                if with_source:
                    d["delete_file_path"] = np.repeat(sp, len(pos))
                parts.append(pd.DataFrame(d))
            yield pd.concat(parts, ignore_index=True)

    sel = ["file_path", "dv", "___del_seq"] + (
        ["___dvfile"] if with_source else [])
    ddl = "file_path string, pos long, ___del_seq long" + (
        ", delete_file_path string" if with_source else "")
    return df.select(*sel).mapInPandas(_explode, ddl).select(*out_cols)


def dv_positions_for_file(dv_path: str, data_file_path: str):
    """Executor/driver-local: decoded positions a DV file holds for ONE
    data file (the pyarrow per-file read path).  Row-group pruning on the
    file_path column applies exactly as for plain position deletes."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(dv_path, columns=["file_path", "dv"],
                      filters=[("file_path", "=", data_file_path)])
    if t.num_rows == 0:
        return np.empty(0, dtype=np.int64)
    out = [decode_dv(bytes(b)) for b in t.column("dv").to_pylist()]
    return out[0] if len(out) == 1 else np.unique(np.concatenate(out))
