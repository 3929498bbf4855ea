"""The storage core: one copy of each primitive the table formats and
the Avro source share.

- **Avro binary codec** (Avro 1.11 spec): datum decode/encode, the
  object-container header, the block compress/decompress table for
  the complete codec set, and ONE block framer that reads the blocks
  a byte range owns — whole-file readers (Iceberg manifests) pass the
  full range, the splittable Avro source passes its split.
- **Parquet footer statistics**: per-column min / max / null count /
  physical type from row-group statistics, never from data pages.
- **Pruning evaluator**: ``(col, op, literal)`` predicates against
  per-column ``[lo, hi]`` bounds, with Spark's comparison semantics.
- **put-if-absent publish**: the atomic commit step of Delta,
  Iceberg and SnapTable.
- **Optimistic commit loop**: :func:`commit_with_retries`, the one
  retry policy (at most :data:`COMMIT_ATTEMPTS` attempts) every
  format's commit runs under.
- **Z-order clustering** for Delta OPTIMIZE and Iceberg compaction.

Formats keep only their own encodings and policies on top (Delta's
stats JSON and partition values, Iceberg's single-value binary bounds
and transforms, SnapTable's canonical stats and blooms), and each
raises its own concurrent-commit exception.  Each format has one
private commit function that runs under :func:`commit_with_retries`
and is the only place its lost-race signal becomes a retry.
"""

from __future__ import annotations

import bz2
import json
import lzma
import math
import os
import struct
import uuid
import zlib
from typing import Any, NamedTuple

# ------------------------------------------------------------ avro datums

AVRO_MAGIC = b"Obj\x01"
_META_SCHEMA = {"type": "map", "values": "bytes"}


class Cursor:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read(self, n: int) -> bytes:
        b = self.buf[self.pos:self.pos + n]
        if len(b) != n:
            raise ValueError("avro: truncated input")
        self.pos += n
        return b

    def read_long(self) -> int:
        """Zigzag varint (Avro spec 'Binary encoding / primitives')."""
        shift = acc = 0
        while True:
            (b,) = self.read(1)
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)


def avro_decode(cur: Cursor, schema, names: dict):
    """Decode one datum per the writer schema.  ``names`` carries
    previously defined named types so references decode correctly."""
    if isinstance(schema, str) and schema in names:
        schema = names[schema]
    if isinstance(schema, list):  # union: branch index then value
        idx = cur.read_long()
        return avro_decode(cur, schema[idx], names)
    if isinstance(schema, str):
        t = schema
        if t == "null":
            return None
        if t == "boolean":
            return cur.read(1) != b"\x00"
        if t in ("int", "long"):
            return cur.read_long()
        if t == "float":
            return struct.unpack("<f", cur.read(4))[0]
        if t == "double":
            return struct.unpack("<d", cur.read(8))[0]
        if t == "bytes":
            return cur.read(cur.read_long())
        if t == "string":
            return cur.read(cur.read_long()).decode("utf-8")
        raise ValueError(f"avro: unknown primitive {t!r}")
    t = schema["type"]
    if t in ("record", "enum", "fixed") and schema.get("name"):
        names[schema["name"]] = schema
    if t == "record":
        return {f["name"]: avro_decode(cur, f["type"], names)
                for f in schema["fields"]}
    if t == "enum":
        return schema["symbols"][cur.read_long()]
    if t == "fixed":
        return cur.read(schema["size"])
    if t in ("array", "map"):
        out = [] if t == "array" else {}
        while True:
            n = cur.read_long()
            if n == 0:
                return out
            if n < 0:  # block with byte-size prefix
                n = -n
                cur.read_long()
            for _ in range(n):
                if t == "array":
                    out.append(avro_decode(cur, schema["items"], names))
                else:
                    k = cur.read(cur.read_long()).decode("utf-8")
                    out[k] = avro_decode(cur, schema["values"], names)
    if t in ("null", "boolean", "int", "long", "float", "double",
             "bytes", "string"):
        return avro_decode(cur, t, names)  # {"type": "long"} wrapper
    raise ValueError(f"avro: unsupported schema {t!r}")


def zigzag(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def avro_encode(value, schema) -> bytes:
    if isinstance(schema, list):  # union — null first per our schemas
        if value is None:
            return zigzag(schema.index("null"))
        idx = next(i for i, s in enumerate(schema) if s != "null")
        return zigzag(idx) + avro_encode(value, schema[idx])
    if isinstance(schema, str):
        if schema == "null":
            return b""
        if schema == "boolean":
            return b"\x01" if value else b"\x00"
        if schema in ("int", "long"):
            return zigzag(int(value))
        if schema == "float":
            return struct.pack("<f", value)
        if schema == "double":
            return struct.pack("<d", value)
        if schema == "bytes":
            return zigzag(len(value)) + bytes(value)
        if schema == "string":
            b = value.encode("utf-8")
            return zigzag(len(b)) + b
        raise ValueError(f"avro encode: unsupported type {schema!r}")
    t = schema["type"]
    if t == "record":
        return b"".join(avro_encode(value.get(f["name"]), f["type"])
                        for f in schema["fields"])
    if t == "array":
        if not value:
            return zigzag(0)
        return (zigzag(len(value))
                + b"".join(avro_encode(v, schema["items"])
                           for v in value)
                + zigzag(0))
    if t == "map":
        if not value:
            return zigzag(0)
        body = b"".join(avro_encode(k, "string")
                        + avro_encode(v, schema["values"])
                        for k, v in value.items())
        return zigzag(len(value)) + body + zigzag(0)
    raise ValueError(f"avro encode: unsupported type {t!r}")


# ------------------------------------------------------- avro block codecs

def _arrow_bytes(buf) -> bytes:
    return buf.to_pybytes() if hasattr(buf, "to_pybytes") else bytes(buf)


def _deflate(body: bytes) -> bytes:
    co = zlib.compressobj(6, zlib.DEFLATED, -15)  # raw, per the spec
    return co.compress(body) + co.flush()


def _snappy_compress(body: bytes) -> bytes:
    """Avro-snappy: raw snappy body + big-endian CRC32 of the
    UNCOMPRESSED data."""
    import pyarrow as pa

    crc = zlib.crc32(body) & 0xFFFFFFFF
    return (_arrow_bytes(pa.Codec("snappy").compress(body))
            + crc.to_bytes(4, "big"))


def _snappy_decompress(block: bytes) -> bytes:
    """Raw snappy's leading varint is the uncompressed length, which
    pyarrow's decompressor needs."""
    import pyarrow as pa

    body, crc = block[:-4], block[-4:]
    size = shift = i = 0
    while True:
        b = body[i]
        size |= (b & 0x7F) << shift
        i += 1
        if not b & 0x80:
            break
        shift += 7
    data = _arrow_bytes(
        pa.decompress(body, decompressed_size=size, codec="snappy"))
    if struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF) != crc:
        raise ValueError("avro: snappy block CRC mismatch")
    return data


def zstd_frame_size(body: bytes):
    """Frame_Content_Size of a zstd frame (RFC 8878 §3.1.1.1), or
    None when the header omits it.  Parsed so pyarrow's zstd
    decompressor (which requires the exact output size) can run
    without the optional ``zstandard`` package; every whole-buffer
    zstd writer (fastavro via zstandard.compress, Java avro, pyarrow)
    records the size because it is known at compress time."""
    if len(body) < 6 or body[:4] != b"\x28\xb5\x2f\xfd":
        return None  # not a (single, non-skippable) zstd frame
    fhd = body[4]
    fcs_flag = fhd >> 6
    single = (fhd >> 5) & 1
    pos = 5 + (0 if single else 1)          # window descriptor
    pos += (0, 1, 2, 4)[fhd & 3]            # dictionary id
    if fcs_flag == 0:
        return body[pos] if single else None
    if fcs_flag == 1:
        return int.from_bytes(body[pos:pos + 2], "little") + 256
    if fcs_flag == 2:
        return int.from_bytes(body[pos:pos + 4], "little")
    return int.from_bytes(body[pos:pos + 8], "little")


def _zstd_compress(body: bytes) -> bytes:
    import pyarrow as pa

    comp = _arrow_bytes(pa.Codec("zstd").compress(body))
    if zstd_frame_size(comp) != len(body):
        raise ValueError("avro sink: zstd frame lost its content size")
    return comp


def _zstd_decompress(body: bytes) -> bytes:
    """A bare zstd frame, no checksum suffix (Avro 1.11 "Required
    Codecs... zstandard")."""
    import pyarrow as pa

    size = zstd_frame_size(body)
    if size is None:
        raise ValueError(
            "avro: zstandard block's frame header carries no "
            "content size — streaming-compressed frames are not "
            "supported (re-encode with whole-block compression)")
    return _arrow_bytes(pa.Codec("zstd").decompress(body, size))


def _identity(body: bytes) -> bytes:
    return body


# codec name -> (compress, decompress): the complete Avro 1.11 set
BLOCK_CODECS = {
    "null": (_identity, _identity),
    "deflate": (_deflate, lambda b: zlib.decompress(b, -15)),
    "snappy": (_snappy_compress, _snappy_decompress),
    "zstandard": (_zstd_compress, _zstd_decompress),
    "bzip2": (bz2.compress, bz2.decompress),
    "xz": (lambda b: lzma.compress(b, format=lzma.FORMAT_XZ),
           lambda b: lzma.decompress(b, format=lzma.FORMAT_XZ)),
}


def _block_codec(codec: str):
    try:
        return BLOCK_CODECS[codec]
    except KeyError:
        raise ValueError(f"avro: unsupported codec {codec!r}") from None


# --------------------------------------------------- avro container files

def container_header(schema: dict, codec: str, sync: bytes) -> bytes:
    """Magic, the metadata map (schema + codec) and the sync marker."""
    _block_codec(codec)  # refuse an unknown codec before any output
    meta = {"avro.schema": json.dumps(schema).encode(),
            "avro.codec": codec.encode()}
    return AVRO_MAGIC + avro_encode(meta, _META_SCHEMA) + sync


def container_block(n: int, body: bytes, codec: str,
                    sync: bytes) -> bytes:
    """One framed block: record count, compressed size, body, sync."""
    body = _block_codec(codec)[0](bytes(body))
    return zigzag(n) + zigzag(len(body)) + body + sync


def read_header(fh) -> tuple[dict, bytes, int]:
    """(metadata, sync_marker, header_end_offset) from an open file,
    reading only the header bytes (doubling probe, not the file)."""
    size = 1 << 16
    while True:
        fh.seek(0)
        buf = fh.read(size)
        cur = Cursor(buf)
        try:
            if cur.read(4) != AVRO_MAGIC:
                raise ValueError("not an Avro object-container file")
            meta = avro_decode(cur, _META_SCHEMA, {})
            sync = cur.read(16)
            return meta, sync, cur.pos
        except ValueError as exc:
            if "truncated" in str(exc) and len(buf) == size:
                size *= 2  # header longer than the probe; widen
                continue
            raise


# A byte range [start, end) of a container file OWNS exactly the
# blocks whose preceding sync marker begins at an offset p with
# start <= p < end, the header's own trailing sync standing in for
# the first block's delimiter — so every block belongs to exactly one
# range and a file decodes across N tasks with no coordination.
# Range scans locate the first owned sync by pattern search (the
# spec's sanctioned strategy; a coincidental 16-byte match in block
# data has probability 2^-128 per offset and would fail loudly at the
# next trailing-sync check, never decode garbage).  Blocks are
# STREAMED — a reader holds one compressed block, never the file.

def find_sync(fh, sync: bytes, start: int, limit: int):
    """First offset p in [start, limit) where the 16-byte ``sync``
    pattern begins, scanning forward in 1 MiB chunks with a 15-byte
    overlap so straddling matches are found.  None if absent."""
    chunk_size = 1 << 20
    fh.seek(start)
    buf = b""
    base = start  # absolute offset of buf[0]
    while base < limit:
        chunk = fh.read(chunk_size)
        if not chunk:
            return None
        buf += chunk
        i = buf.find(sync)
        if i != -1:
            p = base + i
            return p if p < limit else None
        keep = min(15, len(buf))
        base += len(buf) - keep
        buf = buf[-keep:]
    return None


def _read_varint(fh) -> int:
    """Zigzag varint from a (buffered) file object."""
    shift = acc = 0
    while True:
        b = fh.read(1)
        if not b:
            raise ValueError("avro: truncated input")
        v = b[0]
        acc |= (v & 0x7F) << shift
        if not v & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def read_blocks(fh, sync: bytes, codec: str, start: int, end: int,
                header_end: int, file_size: int):
    """Yield ``(count, decompressed_bytes)`` for the blocks OWNED by
    byte range [start, end) under the preceding-sync rule above.
    Reads each block's two varints, its body and its trailing sync."""
    decompress = _block_codec(codec)[1]
    hsync = header_end - 16  # the first block's "preceding sync"
    if hsync >= end:
        return  # range lies entirely inside the header
    if start <= hsync:
        pos = header_end
    else:
        p = find_sync(fh, sync, start, end)
        if p is None:
            return  # no block starts in this range
        pos = p + 16
    if pos >= file_size:
        return  # range's sync is the file's final one — no block
    fh.seek(pos)
    while True:
        n = _read_varint(fh)
        size = _read_varint(fh)
        body = fh.read(size)
        if len(body) != size:
            raise ValueError("avro: truncated block")
        if fh.read(16) != sync:
            raise ValueError("avro: sync marker mismatch")
        yield n, decompress(body)
        pos = fh.tell()
        if pos >= file_size or pos - 16 >= end:
            return  # EOF, or the next block's sync is past our range


# ----------------------------------------------- parquet footer statistics

class ColumnStats(NamedTuple):
    """One column's footer statistics over a whole file.  ``min`` and
    ``max`` are None when the column is unbounded (or holds no
    non-null value); ``null_count`` is None when any row group
    omits it."""
    min: Any
    max: Any
    null_count: int | None
    physical_type: str


def _is_nan(v) -> bool:
    return isinstance(v, float) and math.isnan(v)


def footer_stats(path: str, columns=None
                 ) -> tuple[int, dict[str, ColumnStats]]:
    """(num_rows, {column path: ColumnStats}) from one parquet
    footer, for ``columns`` (all when None) present in the file.

    One conservative rule for every format: a row group with no
    non-null values contributes nothing; any other row group without
    min/max — or with a NaN min or max (other writers put NaN in
    float statistics) — makes the column unbounded.  Errors opening
    the footer propagate."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    want = None if columns is None else set(columns)
    groups = [md.row_group(rg) for rg in range(md.num_row_groups)]
    out: dict[str, ColumnStats] = {}
    for ci in range(md.num_columns):
        col = md.schema.column(ci)
        if want is not None and col.path not in want:
            continue
        lo = hi = None
        bounded = True
        nulls: int | None = 0
        for g in groups:
            cc = g.column(ci)
            st = cc.statistics
            known = st is not None and st.has_null_count
            if nulls is not None:
                nulls = nulls + st.null_count if known else None
            if cc.num_values == 0 or (known
                                      and st.null_count == cc.num_values):
                continue
            if not bounded:
                continue
            if (st is None or not st.has_min_max
                    or _is_nan(st.min) or _is_nan(st.max)):
                bounded = False
                continue
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if not bounded:
            lo = hi = None
        out[col.path] = ColumnStats(lo, hi, nulls, col.physical_type)
    return md.num_rows, out


# ------------------------------------------------------ pruning evaluator

# A bound standing for "no non-null value": every comparison is false
# on it (a Delta file whose partition value is null).
NO_VALUES = object()


def may_match(bounds: dict, preds) -> bool:
    """False only when ``bounds`` ({col: (lo, hi)}, either side None
    for unbounded, or :data:`NO_VALUES`) PROVE that no row satisfies
    every ``(col, op, literal)`` predicate; missing or incomparable
    bounds keep the file.

    Spark orders NaN above every value and treats NaN = NaN as true,
    while footer and manifest bounds of float columns may leave NaN
    out — so a float upper bound never prunes (no pruning on ``>``,
    ``>=``, or ``=`` above the max).  Python's NaN comparisons are all
    false, which keeps a NaN literal or a NaN lower bound from
    pruning too."""
    for col, op, lit in preds:
        b = bounds.get(col)
        if b is None:
            continue
        if b is NO_VALUES:
            return False  # NULL satisfies no comparison
        lo, hi = b
        if isinstance(hi, float):
            hi = None
        try:
            if op == "=":
                out = ((lo is not None and lit < lo)
                       or (hi is not None and lit > hi))
            elif op == "<":
                out = lo is not None and lo >= lit
            elif op == "<=":
                out = lo is not None and lo > lit
            elif op == ">":
                out = hi is not None and hi <= lit
            elif op == ">=":
                out = hi is not None and hi < lit
            else:
                continue
        except TypeError:  # incomparable literal: stay conservative
            continue
        if out:
            return False
    return True


# ------------------------------------------------------ put-if-absent

def publish_if_absent(final: str, text: str) -> bool:
    """Atomically create ``final`` holding ``text``; False if it
    already exists.  The text is staged to a temp file and published
    with ``os.link``, which fails atomically when ``final`` exists, so
    two writers racing on one name can never both win.  (An
    exists-check followed by a rename is NOT atomic: both racers pass
    the check and the second rename clobbers the first commit.)"""
    os.makedirs(os.path.dirname(final), exist_ok=True)
    tmp = f"{final}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as fh:
        fh.write(text)
    try:
        os.link(tmp, final)
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)


COMMIT_ATTEMPTS = 10


class LostRace(NamedTuple):
    """What a commit attempt returns when a concurrent writer took
    its version first; ``error`` is the format's own exception."""
    error: Exception


def commit_with_retries(attempt):
    """Run ``attempt()`` until it returns anything but a
    :class:`LostRace`, at most :data:`COMMIT_ATTEMPTS` times, and
    return that result.  Each attempt re-reads the table and derives
    its commit against the new snapshot.  When every attempt lost,
    the last race's error raises.  A conflict an attempt raises (a
    stale scan) propagates at once and is never retried."""
    for _ in range(COMMIT_ATTEMPTS):
        out = attempt()
        if not isinstance(out, LostRace):
            return out
    raise out.error


# ------------------------------------------------------ z-order clustering

def zorder_proxy_sql(col: str, dt) -> str:
    """An order-preserving DOUBLE proxy for a Z-ORDER column.  Only
    the RELATIVE order matters (values feed quantile binning), so
    lossy mappings are fine as long as they are monotonic: strings
    map through their first 4 UTF-8 bytes as a big-endian integer,
    timestamps through epoch seconds."""
    from pyspark.sql import types as T

    q = f"`{col}`"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                       T.LongType, T.FloatType, T.DoubleType,
                       T.DecimalType)):
        return f"CAST({q} AS DOUBLE)"
    if isinstance(dt, T.DateType):
        return f"CAST(datediff({q}, DATE'1970-01-01') AS DOUBLE)"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return f"CAST(CAST({q} AS TIMESTAMP) AS DOUBLE)"
    if isinstance(dt, T.StringType):
        # rpad to exactly 4 bytes so short strings stay monotone
        # against longer ones sharing their prefix ('a' must bin
        # BELOW 'a~~~': 0x61000000 < 0x617E7E7E)
        return ("CAST(CAST(conv(hex(rpad(substring(CAST(" + q +
                " AS BINARY), 1, 4), 4, X'00')), 16, 10) "
                "AS BIGINT) AS DOUBLE)")
    raise ValueError(
        f"zorder_by column {col!r} has unsupported type "
        f"{dt.simpleString()} (numeric, decimal, date, timestamp "
        "and string are supported)")


_Z_BITS = 8  # 256 quantile bins per dimension


def zorder_cluster(df, zcols: list[str], type_of: dict, nparts: int):
    """Multi-dimensional Z-ORDER clustering for OPTIMIZE: each
    column is quantile-binned into 256 buckets (percentile_approx
    boundaries — ONE extra aggregation job over the group, adapting
    to the actual distribution, never min/max linear bins that
    collapse under skew), bucket bits are Morton-interleaved into a
    single bigint key, and the rewrite range-partitions + sorts on
    that key.  Every output file then covers a narrow hyper-rectangle
    in ALL clustering dimensions, so per-file min/max stats prune
    predicates on ANY of them — the property a lexicographic
    sort_by only gives the leading column.  Clustering placement
    does not need to be deterministic (file contents and stats stay
    exact either way); bit budget caps the dimensions at 7
    (7 cols x 8 bits < the bigint sign bit)."""
    from pyspark.sql import functions as F

    if len(zcols) > 7:
        raise ValueError("zorder_by supports at most 7 columns "
                         f"(got {len(zcols)})")
    d = len(zcols)
    fracs = [i / (1 << _Z_BITS) for i in range(1, 1 << _Z_BITS)]
    proxies = [zorder_proxy_sql(c, type_of[c]) for c in zcols]
    bounds = df.agg(*[
        F.percentile_approx(F.expr(px), fracs, 10000).alias(f"b{i}")
        for i, px in enumerate(proxies)]).first()
    # bind each proxy as a column BEFORE the boundary filter: the
    # lambda references it once per boundary element, and an inlined
    # expression (for strings: conv(hex(rpad(substring(...))))) would
    # re-evaluate ~255x per row — the measured inline-HOF trap
    df = df.withColumns({f"__zp{i}": F.expr(px)
                         for i, px in enumerate(proxies)})
    bucket_cols = {}
    for i in range(d):
        # non-finite boundaries would pretty-print as inf/nan and
        # fail SQL analysis; dropping them is sound (an inf value
        # compares above every finite boundary -> last bucket, a
        # NaN proxy fails every comparison -> bucket 0)
        bs = [float(v) for v in (bounds[f"b{i}"] or [])
              if v is not None and math.isfinite(float(v))]
        arr = ("CAST(array() AS ARRAY<DOUBLE>)" if not bs else
               "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)"
                                    for v in bs) + ")")
        # NULL proxy -> lambda NULL -> filtered out -> bucket 0
        bucket_cols[f"__zb{i}"] = F.expr(
            f"size(filter({arr}, b -> b <= __zp{i}))")
    df = df.withColumns(bucket_cols)
    morton = " + ".join(
        f"shiftleft(shiftright(CAST(__zb{i} AS BIGINT), {j}) & 1, "
        f"{j * d + i})"
        for i in range(d) for j in range(_Z_BITS))
    df = df.withColumn("__zm", F.expr(morton))
    return (df.repartitionByRange(nparts, "__zm")
            .sortWithinPartitions("__zm")
            .drop("__zm", *bucket_cols,
                  *[f"__zp{i}" for i in range(d)]))
