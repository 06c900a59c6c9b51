"""Deletion vectors: roaring-bitmap codec, DV files, and row filtering.

Spark-first analog of the reference's selection-vector machinery
(reference: ``crates/datafusion/src/table_provider/delta/mod.rs:244-325``
converts per-file selection vectors into parquet access plans;
``snapshot.rs:188-195`` resolves DV descriptors). Spark's parquet
reader exposes ``_metadata.row_index`` (per-file row position, stable
across splits on Spark ≥3.5) and ``_metadata.file_path``, so DV
application is an anti-membership filter on (file_path, row_index):

    rows whose (file_path, row_index) a DV lists are dropped.

Implementation notes:
- 32-bit roaring containers per the public RoaringFormatSpec
  (https://github.com/RoaringBitmap/RoaringFormatSpec): array,
  bitmap and run containers on decode; array/bitmap on encode.
- 64-bit extension per Delta's RoaringBitmapArray "portable" format
  (PROTOCOL.md, Deletion Vector Format): magic 1681511377, int64
  bitmap count, then each 32-bit bitmap serialized; key = index.
- DV files: 1-byte format version, then per-DV [int32 BE length]
  [blob] [int32 BE CRC32(blob)]; descriptors reference (offset,
  sizeInBytes). Inline DVs carry z85(blob) in ``pathOrInlineDv``.
- The scan filter (:func:`dv_row_filter`) keys every file on the raw
  ``_metadata.file_path`` string. Up to ``DV_ANTI_JOIN_MAX_ROWS``
  deleted rows per scan it is one broadcast left-anti join against
  the decoded positions, built as an Arrow ``LocalRelation`` — pure
  JVM, no Python in the plan. Above the bound, contiguous
  prefix/suffix spans drop in a codegen range filter and interior
  deletions are tested against roaring blobs in an Arrow-batched
  pandas UDF. SCALING.md §DV has the measurements.

Whole-file deletions should be (and are) dropped at planning time by
the writer emitting a ``remove``; a DV covering every row still
filters correctly.
"""

from __future__ import annotations

import os
import struct
import uuid
import zlib

MAGIC = 1681511377  # Delta RoaringBitmapArray portable magic
_SERIAL_COOKIE_NO_RUN = 12346
_SERIAL_COOKIE = 12347
_NO_OFFSET_THRESHOLD = 4

Z85_CHARS = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_DECODE = {c: i for i, c in enumerate(Z85_CHARS)}


def z85_encode(data: bytes) -> str:
    if len(data) % 4:
        raise ValueError("z85 requires length % 4 == 0")
    out = []
    for i in range(0, len(data), 4):
        v = int.from_bytes(data[i : i + 4], "big")
        chunk = []
        for _ in range(5):
            chunk.append(Z85_CHARS[v % 85])
            v //= 85
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(s: str) -> bytes:
    if len(s) % 5:
        raise ValueError("z85 requires length % 5 == 0")
    out = bytearray()
    for i in range(0, len(s), 5):
        v = 0
        for c in s[i : i + 5]:
            v = v * 85 + _Z85_DECODE[c]
        out.extend(v.to_bytes(4, "big"))
    return bytes(out)


# ------------------------------------------------------------------ #
# 32-bit roaring                                                      #
# ------------------------------------------------------------------ #


def _serialize_roaring32(values) -> bytes:
    """values: sorted unique uint32 iterable → portable serialization."""
    containers: dict[int, list[int]] = {}
    for v in values:
        containers.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(containers)
    n = len(keys)
    body_parts: list[bytes] = []
    headers = bytearray()
    offsets = bytearray()
    # header: no-run cookie
    head = struct.pack("<iI", _SERIAL_COOKIE_NO_RUN, n)
    offset_base = len(head) + 4 * n + 4 * n  # desc headers + offset headers
    running = offset_base
    for k in keys:
        vals = containers[k]
        card = len(vals)
        headers += struct.pack("<HH", k, card - 1)
        offsets += struct.pack("<I", running)
        if card > 4096:
            bitmap = bytearray(8192)
            for v in vals:
                bitmap[v >> 3] |= 1 << (v & 7)
            part = bytes(bitmap)
        else:
            part = struct.pack(f"<{card}H", *vals)
        body_parts.append(part)
        running += len(part)
    return head + bytes(headers) + bytes(offsets) + b"".join(body_parts)


def _deserialize_roaring32(buf: bytes, pos: int = 0):
    """→ (sorted list of uint32, bytes consumed)."""
    import numpy as np

    start = pos
    (cookie,) = struct.unpack_from("<i", buf, pos)
    has_runs = (cookie & 0xFFFF) == _SERIAL_COOKIE
    if has_runs:
        n = (cookie >> 16) + 1
        pos += 4
        run_flag_bytes = (n + 7) // 8
        run_flags = buf[pos : pos + run_flag_bytes]
        pos += run_flag_bytes
    elif cookie == _SERIAL_COOKIE_NO_RUN:
        (n,) = struct.unpack_from("<I", buf, pos + 4)
        pos += 8
        run_flags = b"\x00" * ((n + 7) // 8)
    else:
        raise ValueError(f"bad roaring cookie {cookie}")

    keys, cards = [], []
    for i in range(n):
        k, c = struct.unpack_from("<HH", buf, pos)
        pos += 4
        keys.append(k)
        cards.append(c + 1)
    if (not has_runs) or n >= _NO_OFFSET_THRESHOLD:
        pos += 4 * n  # skip offset headers; containers are sequential

    out_parts = []
    for i in range(n):
        is_run = bool(run_flags[i >> 3] & (1 << (i & 7)))
        base = keys[i] << 16
        if is_run:
            (n_runs,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            vals = []
            for _ in range(n_runs):
                s, l = struct.unpack_from("<HH", buf, pos)
                pos += 4
                vals.extend(range(s, s + l + 1))
            arr = np.asarray(vals, dtype=np.uint32)
        elif cards[i] > 4096:
            bits = np.frombuffer(buf, dtype=np.uint8, count=8192, offset=pos)
            pos += 8192
            arr = np.flatnonzero(np.unpackbits(bits, bitorder="little")).astype(
                np.uint32
            )
        else:
            arr = np.frombuffer(
                buf, dtype=np.uint16, count=cards[i], offset=pos
            ).astype(np.uint32)
            pos += 2 * cards[i]
        out_parts.append(arr + base)
    if out_parts:
        values = np.concatenate(out_parts)
    else:
        values = np.empty(0, dtype=np.uint32)
    return values, pos - start


# ------------------------------------------------------------------ #
# 64-bit RoaringBitmapArray (Delta portable format)                   #
# ------------------------------------------------------------------ #


def serialize_bitmap(row_indexes) -> bytes:
    """Sorted unique int64 row indexes → Delta portable blob
    (magic + bitmap array)."""
    import numpy as np

    arr = np.asarray(sorted(set(int(v) for v in row_indexes)), dtype=np.uint64)
    highs = (arr >> np.uint64(32)).astype(np.uint32)
    lows = (arr & np.uint64(0xFFFFFFFF)).astype(np.uint32)
    n_bitmaps = int(highs.max()) + 1 if len(arr) else 0
    parts = [struct.pack("<iq", MAGIC, n_bitmaps)]
    for h in range(n_bitmaps):
        vals = lows[highs == h]
        parts.append(_serialize_roaring32(vals.tolist()))
    return b"".join(parts)


def deserialize_bitmap(blob: bytes):
    """Delta portable blob → sorted numpy int64 array of row indexes."""
    import numpy as np

    magic, n_bitmaps = struct.unpack_from("<iq", blob, 0)
    if magic != MAGIC:
        raise ValueError(f"bad DV magic {magic}")
    pos = 12
    parts = []
    for h in range(n_bitmaps):
        vals, consumed = _deserialize_roaring32(blob, pos)
        pos += consumed
        parts.append(vals.astype(np.int64) + (h << 32))
    if parts:
        return np.concatenate(parts)
    return np.empty(0, dtype=np.int64)


# ------------------------------------------------------------------ #
# DV files + descriptors                                              #
# ------------------------------------------------------------------ #


def write_dv_file(
    table_path: str, blobs: list[bytes], fs
) -> tuple[str, list[tuple[int, int]]]:
    """Write one DV file holding ``blobs``. Returns
    (pathOrInlineDv for a 'u' descriptor = z85(uuid), [(offset, size)]
    per blob). File name is derived per spec:
    ``deletion_vector_<uuid>.bin``."""
    file_uuid = uuid.uuid4()
    name = f"deletion_vector_{file_uuid}.bin"
    data = bytearray([1])  # format version
    spans = []
    for blob in blobs:
        offset = len(data)
        data += struct.pack(">i", len(blob))
        data += blob
        data += struct.pack(">I", zlib.crc32(blob) & 0xFFFFFFFF)
        spans.append((offset, len(blob)))
    fs.write_bytes(os.path.join(table_path, name), bytes(data))
    return z85_encode(file_uuid.bytes), spans


def dv_relative_path(path_or_inline: str) -> str:
    """'u'-storage path derivation (spec: last 20 chars are the
    z85-encoded UUID; anything before is a random directory prefix)."""
    prefix, uuid_z85 = path_or_inline[:-20], path_or_inline[-20:]
    u = uuid.UUID(bytes=z85_decode(uuid_z85))
    name = f"deletion_vector_{u}.bin"
    return f"{prefix}/{name}" if prefix else name


def read_dv(table_path: str, dv, fs):
    """DvDescriptor → numpy int64 row indexes."""
    if dv.storage_type == "i":
        blob = z85_decode(dv.path_or_inline)
        return deserialize_bitmap(blob)
    if dv.storage_type in ("u", "p"):
        if dv.storage_type == "p":
            path = dv.path_or_inline
        else:
            path = os.path.join(table_path, dv_relative_path(dv.path_or_inline))
        raw = fs.read_bytes(path, offset=dv.offset or 0, length=dv.size_in_bytes + 8)
        (length,) = struct.unpack_from(">i", raw, 0)
        blob = raw[4 : 4 + length]
        (crc,) = struct.unpack_from(">I", raw, 4 + length)
        if zlib.crc32(blob) & 0xFFFFFFFF != crc:
            raise ValueError(f"DV checksum mismatch in {path}")
        return deserialize_bitmap(blob)
    raise ValueError(f"unknown DV storage type {dv.storage_type!r}")


def make_descriptor(storage_type: str, path_or_inline: str, offset: int | None,
                    size_in_bytes: int, cardinality: int):
    from deltalake_datafusion_spark.delta.snapshot import DvDescriptor

    return DvDescriptor(
        storage_type=storage_type,
        path_or_inline=path_or_inline,
        offset=offset,
        size_in_bytes=size_in_bytes,
        cardinality=cardinality,
    )


# ------------------------------------------------------------------ #
# Scan-side row filtering                                             #
# ------------------------------------------------------------------ #


_MAX_ROW_INDEX = (1 << 62)  # "unknown file length" sentinel


def _dv_access_plan(deleted, num_records):
    """Split a decoded DV into the Spark analog of the reference's
    ``ParquetAccessPlan`` Skip / Scan / RowSelection triage
    (``crates/datafusion/src/table_provider/delta/mod.rs:244-325``):

    returns ``(min_live, max_live, interior)`` where the contiguous
    deleted PREFIX (``row_index < min_live``) and — when the file's
    ``numRecords`` is known — the contiguous deleted SUFFIX
    (``row_index > max_live``) can be dropped by a pure-codegen range
    filter, and ``interior`` holds only the remaining deleted indexes
    that need the exact membership test. A DV that is one contiguous
    run yields an EMPTY interior: that file never touches Python.

    Spark cannot skip the underlying parquet I/O for any of this:
    filters on ``_metadata.row_index`` appear in ``PushedFilters``
    but do not prune row groups (measured on Spark 4.1, 123-row-group
    file: a data-column filter cut scan output 2,000,000 → 1,274 rows;
    the equivalent ``row_index`` filter still output 2,000,000) — so
    the win is codegen-side: deleted spans leave the plan before the
    Arrow transfer, not before the scan. See SCALING.md §DV.
    """
    import numpy as np

    deleted = np.sort(np.asarray(deleted, dtype=np.int64))
    n = len(deleted)
    if n == 0:
        return 0, _MAX_ROW_INDEX, deleted
    mismatch = np.flatnonzero(deleted != np.arange(n))
    prefix_len = int(mismatch[0]) if len(mismatch) else n
    min_live = prefix_len
    if num_records is not None:
        rev_mismatch = np.flatnonzero(
            deleted[::-1] != (num_records - 1 - np.arange(n))
        )
        suffix_len = int(rev_mismatch[0]) if len(rev_mismatch) else n
        max_live = num_records - 1 - suffix_len
    else:
        max_live = _MAX_ROW_INDEX
    interior = deleted[(deleted >= min_live) & (deleted <= max_live)]
    return min_live, max_live, interior


# Deleted-row count up to which a scan applies its deletion vectors as
# ONE broadcast left-anti join on (file_path, row_index): a
# LocalRelation of the deleted positions, so the filter is pure JVM
# codegen and its broadcast needs no Python worker. Above it the map
# would grow past a metadata-scale broadcast (one row per deleted row,
# ~100 B each with its path), so the range triage + roaring-blob UDF
# below takes over. See SCALING.md §DV for the measurements.
DV_ANTI_JOIN_MAX_ROWS = 100_000


def dv_row_filter(spark, snapshot, keys, df):
    """Filter deleted rows out of a DataFrame read with
    ``__row_index`` / ``__file_path`` metadata columns attached (kept
    in the result). ``keys`` is the read's
    :class:`~deltalake_datafusion_spark.delta.scan.FileKeys`; files
    without a DV pass through intact, and when no file has one the
    frame is returned as is.

    - At most :data:`DV_ANTI_JOIN_MAX_ROWS` deleted rows in total: one
      broadcast ``left_anti`` join against the decoded (file_path,
      row_index) pairs — no Python in the plan, no range join beside
      it.
    - Above it, the reference's access-plan triage (Skip / Scan /
      RowSelection): a broadcast (file → live ``row_index`` range)
      join plus a codegen range filter drops each file's contiguously
      deleted prefix/suffix; only files with INTERIOR deletions keep
      the exact membership test, their residual bitmaps broadcast as
      compressed roaring blobs (bytes ∝ runs, never 8 B × cardinality)
      and decoded once per executor task inside an Arrow-batched
      pandas UDF. When no file has interior deletions the UDF is not
      in the plan.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BooleanType, LongType, StringType, StructField, StructType,
    )
    import pandas as pd

    from deltalake_datafusion_spark.delta.fs import fs_for
    from deltalake_datafusion_spark.delta.stats import parse_stats

    if all(f.dv is None for f in keys.files):
        return df
    fs = fs_for(snapshot.table_path, spark)
    deleted = {
        key: read_dv(snapshot.table_path, f.dv, fs)
        for key, f in keys.keyed.items() if f.dv is not None
    }
    ri = F.col("__row_index")
    if sum(len(d) for d in deleted.values()) <= DV_ANTI_JOIN_MAX_ROWS:
        paths = list(deleted)
        counts = [len(deleted[k]) for k in paths]
        gone = spark.createDataFrame(pa.table({
            "__dv_path": pa.array(paths, pa.string()).take(
                np.repeat(np.arange(len(paths)), counts)
            ),
            "__dv_row": np.concatenate(
                [deleted[k] for k in paths]
            ).astype(np.int64),
        }))
        return df.join(
            F.broadcast(gone),
            (F.col("__file_path") == gone["__dv_path"])
            & (ri == gone["__dv_row"]),
            "left_anti",
        )

    meta_rows = []
    interior_blobs: dict[str, bytes] = {}
    for key, rows in deleted.items():
        stats = parse_stats(keys.keyed[key].stats)
        nrec = stats.get("numRecords") if stats else None
        min_live, max_live, interior = _dv_access_plan(rows, nrec)
        meta_rows.append((key, min_live, max_live))
        if len(interior):
            interior_blobs[key] = serialize_bitmap(interior)

    from deltalake_datafusion_spark.delta.smalldf import local_rows_df

    meta = local_rows_df(
        spark,
        meta_rows,
        StructType(
            [
                StructField("__dvr_path", StringType()),
                StructField("__dvr_min", LongType()),
                StructField("__dvr_max", LongType()),
            ]
        ),
    )
    df = df.join(
        F.broadcast(meta), F.col("__file_path") == F.col("__dvr_path"), "left"
    ).drop("__dvr_path")
    df = df.filter(
        F.col("__dvr_min").isNull()
        | ((ri >= F.col("__dvr_min")) & (ri <= F.col("__dvr_max")))
    ).drop("__dvr_min", "__dvr_max")

    if interior_blobs:
        bc = spark.sparkContext.broadcast(interior_blobs)

        def _is_live(file_path, row_index):
            out = pd.Series(True, index=file_path.index)
            table = bc.value
            cache = _is_live.__dict__.setdefault("_decoded", {})
            for fp in file_path.unique():
                blob = table.get(fp)
                if blob is None:  # no interior deletions in this file
                    continue
                arr = cache.get(fp)
                if arr is None:
                    arr = deserialize_bitmap(blob)
                    cache[fp] = arr
                mask = file_path == fp
                out[mask] = ~np.isin(row_index[mask].to_numpy(), arr)
            return out

        # Explicit signature registration: postponed annotations
        # (PEP 563) confuse pandas_udf's hint inference.
        _is_live.__annotations__ = {
            "file_path": pd.Series,
            "row_index": pd.Series,
            "return": pd.Series,
        }
        is_live = F.pandas_udf(_is_live, BooleanType())
        df = df.filter(is_live(F.col("__file_path"), ri))

    return df
