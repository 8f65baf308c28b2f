"""Spark Structured Streaming state-store source/sink.

The reference reads and rewrites Flink savepoints so operators' state can be
queried, patched, and bootstrapped outside the running job
(reference README.md:7-24). This module is the same capability for Spark's
OWN streaming state: HDFSBackedStateStoreProvider checkpoints
(``<ckpt>/state/<operator>/<partition>/<version>.delta|.snapshot``) are
parsed, decoded, and rewritten — so a Spark user can audit state, fix a
poisoned key, or bootstrap an aggregation, exactly the bravo workflow but
against Structured Streaming checkpoints.

On-disk format (sql/execution/streaming/state/HDFSBackedStateStoreProvider):

- each file is a compression stream (``spark.sql.streaming.stateStore.
  compression.codec``): lz4-java block framing (default), xerial-snappy
  framing or zstd frames, read AND written here over pyarrow's block
  codecs (the lz4-java framing incl. its 28-bit XXH32 block checksums is
  bit-exact to the real library; rewrites sniff the original file and
  keep its codec, since a restarted query decompresses with its
  session-configured codec, not by sniffing);
- inside: records ``[keyLen int BE][key][valueLen int BE][value]``,
  valueLen -1 = tombstone (delta files only), keyLen -1 = EOF;
- key/value bytes are UnsafeRow: 8-byte null-bit header word(s), 8-byte
  slots per field, var-length fields appended 8-byte-aligned with
  (offset << 32 | size) in the slot — including NESTED array/map/struct
  regions and decimals (r13), so applyInPandasWithState /
  flatMapGroupsWithState state (stored as a struct value column wrapping
  the user state schema) reads and rewrites like any aggregation state;
- state at version N = greatest snapshot ≤ N + deltas up to N (we replay
  exactly that, applying tombstones);
- per-partition ``_metadata/schema`` carries the key/value StructType
  JSONs, so reading needs no schema from the caller.

The module also holds the one state-store driver both providers share
(read, write, compact, prune, the per-partition job runner, staging and
publish); a provider contributes only a :class:`StoreLayout` — its file
names, its full-state load and rewrite, its key/value framing.
``sources/rocksdb_state.py`` holds the RocksDB layout.

Scale: one Spark task per state partition (a ``mapInArrow`` over the
partition-id frame of ``savepoint.task_frame``); each task touches only
its partition's files — the same split the store itself uses. The writer
routes rows with ``pmod(hash(key), n)`` — Spark's Murmur3
HashPartitioning — so rewritten files land exactly where the restarted
query expects them; tasks stage the new files and the driver publishes
them only after the job succeeded. Tasks access checkpoint files with
plain ``open()``/``os``, so on a multi-node cluster the checkpoint path
must be a filesystem every executor (and the driver) mounts
(NFS/FUSE-mounted object store); the per-partition task split means no
single node ever holds more than one partition's state.
"""

from __future__ import annotations

import json
import os
import re
import struct
import time
import uuid
from contextlib import suppress

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from bravo_spark.codecs import fastpath
from bravo_spark.codecs.crc32c import crc32c
from bravo_spark.sources.atomic import atomic_write, fsync_path
from bravo_spark.sources.savepoint import task_frame

SNAPPY_MAGIC = b"\x82SNAPPY\x00"
LZ4_MAGIC = b"LZ4Block"
ZSTD_FRAME_MAGIC = b"\x28\xb5\x2f\xfd"

_SUPPORTED = (T.LongType, T.IntegerType, T.DoubleType, T.FloatType,
              T.BooleanType, T.StringType, T.BinaryType, T.TimestampType,
              T.ShortType, T.ByteType)


# ---------------------------------------------------------------------------
# compression framings
# ---------------------------------------------------------------------------


_lz4_block_decompress = fastpath.lz4_decompress_block  # shared raw-block decoder


def decode_stream(raw: bytes) -> bytes:
    """Un-frame a state file: xerial-snappy or lz4-java block stream."""
    if raw[:8] == SNAPPY_MAGIC:
        pos, out = 16, bytearray()  # skip magic + version + compat ints
        while pos < len(raw):
            (blen,) = struct.unpack(">I", raw[pos : pos + 4])
            pos += 4
            out += fastpath.snappy_decompress(raw[pos : pos + blen])
            pos += blen
        return bytes(out)
    if raw[:8] == LZ4_MAGIC:
        # lz4-java LZ4BlockOutputStream: EVERY block repeats the 8-byte
        # magic, then token, compressedLen, originalLen, checksum (LE ints)
        pos, out = 0, bytearray()
        while pos + 21 <= len(raw):
            if raw[pos : pos + 8] != LZ4_MAGIC:
                raise ValueError(f"bad LZ4Block magic at offset {pos}")
            token = raw[pos + 8]
            clen, dlen, _cksum = struct.unpack("<iii", raw[pos + 9 : pos + 21])
            pos += 21
            if dlen == 0:
                break
            payload = raw[pos : pos + clen]
            pos += clen
            method = token & 0xF0
            if method == 0x10:  # stored raw
                out += payload
            elif method == 0x20:
                out += _lz4_block_decompress(payload, dlen)
            else:
                raise ValueError(f"unknown LZ4Block method 0x{method:02x}")
        return bytes(out)
    if raw[:4] == ZSTD_FRAME_MAGIC:
        # content size is absent from streaming-written frame headers, so
        # this takes the stream decoder
        return fastpath.zstd_decompress_stream(raw)
    raise ValueError(
        "unrecognized state-file framing (supported: xerial snappy, "
        "lz4-java block, zstd frames; lzf is not)"
    )


def encode_stream_snappy(payload: bytes, block_size: int = 32 * 1024) -> bytes:
    out = bytearray(SNAPPY_MAGIC)
    out += struct.pack(">II", 1, 1)
    for i in range(0, len(payload), block_size):
        comp = fastpath.snappy_compress(payload[i : i + block_size])
        out += struct.pack(">I", len(comp))
        out += comp
    return bytes(out)


def encode_stream_like(original: bytes | None, payload: bytes) -> bytes:
    """Frame ``payload`` with the same codec as ``original`` — a restarted
    query decompresses state files with its session-configured codec
    (``spark.sql.streaming.stateStore.compression.codec``), NOT by
    sniffing, so a rewritten file must keep the original's framing. With
    no original to imitate, use lz4 (Spark's default codec). The lz4-java
    framing is bit-exact to the real library's reader, checksum included
    (``fastpath.lz4_java_encode_stream``, cross-validated in
    test_spark_state)."""
    if original is not None and original[:8] == SNAPPY_MAGIC:
        return encode_stream_snappy(payload)
    if original is not None and original[:4] == ZSTD_FRAME_MAGIC:
        # Spark's ZSTDCompressionCodec reads any standard frame
        return fastpath.zstd_compress(payload)
    return fastpath.lz4_java_encode_stream(payload)


# ---------------------------------------------------------------------------
# UnsafeRow codec (flat + nested schemas)
# ---------------------------------------------------------------------------
# Format: org.apache.spark.sql.catalyst.expressions.UnsafeRow /
# UnsafeArrayData / UnsafeMapData (all public Spark source). Rows: null-bit
# words, one 8-byte slot per field (fixed value, or offset<<32|size into
# the row's variable region, offsets RELATIVE TO THE ROW BASE). Arrays:
# [8B numElements][null words][values: n * elementSize rounded up to 8]
# [variable region], element offsets relative to the ARRAY base. Maps:
# [8B key-array byte size][key UnsafeArrayData][value UnsafeArrayData].
# Nested structs/arrays/maps are embedded regions with their own base.
# Decimals: precision <= 18 is the unscaled long in the slot; wider is the
# unscaled value's two's-complement bytes (java.math.BigInteger layout) in
# the variable region. Cross-validated against bytes produced by Spark's
# own UnsafeProjection and read back through JVM UnsafeRow getters
# (tests/test_spark_state.py).


def _hashable_decode(dt: T.DataType) -> bool:
    """True iff values of ``dt`` decode to hashable Python objects (maps
    decode to dict, so their KEYS must be hashable: arrays/maps decode to
    list/dict — never; structs decode to tuples — only if every nested
    field does)."""
    if isinstance(dt, (T.ArrayType, T.MapType)):
        return False
    if isinstance(dt, T.StructType):
        return all(_hashable_decode(f.dataType) for f in dt.fields)
    return True


def _check_schema(schema: T.StructType) -> None:
    def ok(dt: T.DataType) -> bool:
        if isinstance(dt, _SUPPORTED + (T.DateType,)):
            return True
        if isinstance(dt, T.NullType):
            # streaming dropDuplicates stores its value as one NullType
            # field named __dummy__ — an always-null 8-byte slot
            return True
        if isinstance(dt, T.DecimalType):
            return True
        if isinstance(dt, T.ArrayType):
            return ok(dt.elementType)
        if isinstance(dt, T.MapType):
            if not _hashable_decode(dt.keyType):
                # would decode to an unhashable dict key and TypeError
                # mid-scan; fail here, at schema-check time, by name
                raise ValueError(
                    f"UnsafeRow codec: map key type {dt.keyType} decodes to "
                    "an unhashable Python object (maps decode to dict); "
                    "array/map-typed map keys are unsupported"
                )
            return ok(dt.keyType) and ok(dt.valueType)
        if isinstance(dt, T.StructType):
            return all(ok(f.dataType) for f in dt.fields)
        return False

    for f in schema.fields:
        if not ok(f.dataType):
            raise ValueError(
                f"UnsafeRow codec: unsupported field type {f.dataType} "
                f"({f.name}); primitives/string/binary/decimal and "
                f"array/map/struct compositions of them only"
            )


def _is_fixed(dt: T.DataType) -> bool:
    if isinstance(dt, T.DecimalType):
        return dt.precision <= 18
    return isinstance(
        dt,
        (T.LongType, T.IntegerType, T.ShortType, T.ByteType, T.DoubleType,
         T.FloatType, T.BooleanType, T.TimestampType, T.DateType,
         T.NullType),
    )


def _elem_size(dt: T.DataType) -> int:
    """UnsafeArrayData element stride (UnsafeArrayData.calculateSizeOfUnderlyingByteArray)."""
    if isinstance(dt, (T.BooleanType, T.ByteType)):
        return 1
    if isinstance(dt, T.ShortType):
        return 2
    if isinstance(dt, (T.IntegerType, T.FloatType, T.DateType)):
        return 4
    return 8  # long/double/timestamp, decimal(<=18), and offset+size refs


_EPOCH = None


def _ts_decode(us: int):
    import datetime as _dt

    global _EPOCH
    if _EPOCH is None:
        _EPOCH = _dt.datetime(1970, 1, 1)
    return _EPOCH + _dt.timedelta(microseconds=us)


def _ts_encode(v) -> int:
    """Exact integer microseconds since epoch from the timedelta COMPONENTS —
    ``total_seconds()*1e6`` is a float round-trip that truncates ~1.2% of
    microsecond-resolution timestamps off by 1us (2**53 < microseconds in a
    century), silently drifting fields a rewrite never touched. An aware
    datetime (what Arrow hands a worker) is converted to UTC first; a
    naive one is taken as UTC."""
    import datetime as _dt

    global _EPOCH
    if _EPOCH is None:
        _EPOCH = _dt.datetime(1970, 1, 1)
    if v.tzinfo is not None:
        v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    d = v - _EPOCH
    return d.days * 86_400_000_000 + d.seconds * 1_000_000 + d.microseconds


def _dec_unscaled(v, scale: int) -> int:
    """Exact unscaled integer of a Decimal — a LOCAL high-precision context,
    because the default context's 28 significant digits silently ROUNDS a
    decimal(38,x) during scaleb (observed: ...56789 -> ...56790)."""
    import decimal as _dec

    with _dec.localcontext() as ctx:
        ctx.prec = 100
        return int(v.scaleb(scale).to_integral_value())


def _dec_from_unscaled(unscaled: int, scale: int):
    import decimal as _dec

    with _dec.localcontext() as ctx:
        ctx.prec = 100
        return _dec.Decimal(unscaled).scaleb(-scale)


def _decode_fixed(buf: bytes, off: int, dt: T.DataType):
    """One fixed-width value at absolute offset ``off`` (slot or array cell)."""
    if isinstance(dt, T.LongType):
        return struct.unpack_from("<q", buf, off)[0]
    if isinstance(dt, T.TimestampType):
        return _ts_decode(struct.unpack_from("<q", buf, off)[0])
    if isinstance(dt, T.IntegerType):
        return struct.unpack_from("<i", buf, off)[0]
    if isinstance(dt, T.DateType):
        import datetime as _dt

        return _dt.date(1970, 1, 1) + _dt.timedelta(
            days=struct.unpack_from("<i", buf, off)[0]
        )
    if isinstance(dt, T.ShortType):
        return struct.unpack_from("<h", buf, off)[0]
    if isinstance(dt, T.ByteType):
        return struct.unpack_from("<b", buf, off)[0]
    if isinstance(dt, T.DoubleType):
        return struct.unpack_from("<d", buf, off)[0]
    if isinstance(dt, T.FloatType):
        return struct.unpack_from("<f", buf, off)[0]
    if isinstance(dt, T.BooleanType):
        return bool(buf[off])
    if isinstance(dt, T.DecimalType):  # precision <= 18: unscaled long
        return _dec_from_unscaled(struct.unpack_from("<q", buf, off)[0], dt.scale)
    if isinstance(dt, T.NullType):  # always-null slot whose null bit lied
        return None
    raise AssertionError(f"not fixed-width: {dt}")


def _decode_region(buf: bytes, base: int, size: int, dt: T.DataType):
    """One variable-length value whose region is buf[base:base+size]."""
    if isinstance(dt, T.StringType):
        return bytes(buf[base : base + size]).decode()
    if isinstance(dt, T.BinaryType):
        return bytes(buf[base : base + size])
    if isinstance(dt, T.DecimalType):  # precision > 18: BigInteger bytes
        return _dec_from_unscaled(
            int.from_bytes(buf[base : base + size], "big", signed=True),
            dt.scale,
        )
    if isinstance(dt, T.StructType):
        return _decode_row_at(buf, base, dt)
    if isinstance(dt, T.ArrayType):
        return _decode_array_at(buf, base, dt.elementType)
    if isinstance(dt, T.MapType):
        (ksize,) = struct.unpack_from("<q", buf, base)
        keys = _decode_array_at(buf, base + 8, dt.keyType)
        vals = _decode_array_at(buf, base + 8 + ksize, dt.valueType)
        m = dict(zip(keys, vals))
        if len(m) != len(keys):
            # legal in files written before Spark enforced map-key dedup;
            # collapsing would silently shrink the map on rewrite
            raise ValueError(
                f"UnsafeRow codec: map with {len(keys)} entries has "
                f"duplicate keys (decodes to {len(m)}); refusing to "
                "collapse them silently"
            )
        return m
    raise AssertionError(f"not var-length: {dt}")


def _decode_array_at(buf: bytes, base: int, et: T.DataType) -> list:
    (n,) = struct.unpack_from("<q", buf, base)
    words = (n + 63) // 64
    nulls = int.from_bytes(buf[base + 8 : base + 8 + 8 * words], "little")
    values_off = base + 8 + 8 * words
    es = _elem_size(et)
    fixed = _is_fixed(et)
    out = []
    for i in range(n):
        if nulls >> i & 1:
            out.append(None)
            continue
        cell = values_off + i * es
        if fixed:
            out.append(_decode_fixed(buf, cell, et))
        else:
            (oas,) = struct.unpack_from("<q", buf, cell)
            out.append(
                _decode_region(buf, base + (oas >> 32), oas & 0xFFFFFFFF, et)
            )
    return out


def _decode_row_at(buf: bytes, base: int, schema: T.StructType) -> tuple:
    nf = len(schema.fields)
    header = 8 * ((nf + 63) // 64)
    bits = int.from_bytes(buf[base : base + header], "little")
    out = []
    for i, f in enumerate(schema.fields):
        if bits >> i & 1:
            out.append(None)
            continue
        slot = base + header + 8 * i
        dt = f.dataType
        if _is_fixed(dt):
            out.append(_decode_fixed(buf, slot, dt))
        else:
            (oas,) = struct.unpack_from("<q", buf, slot)
            out.append(
                _decode_region(buf, base + (oas >> 32), oas & 0xFFFFFFFF, dt)
            )
    return tuple(out)


def decode_unsafe_row(buf: bytes, schema: T.StructType) -> tuple:
    return _decode_row_at(buf, 0, schema)


def _pack_fixed(target: bytearray, off: int, v, dt: T.DataType) -> None:
    if isinstance(dt, T.LongType):
        struct.pack_into("<q", target, off, int(v))
    elif isinstance(dt, T.TimestampType):
        struct.pack_into("<q", target, off, _ts_encode(v))
    elif isinstance(dt, T.IntegerType):
        struct.pack_into("<i", target, off, int(v))
    elif isinstance(dt, T.DateType):
        import datetime as _dt

        struct.pack_into("<i", target, off, (v - _dt.date(1970, 1, 1)).days)
    elif isinstance(dt, T.ShortType):
        struct.pack_into("<h", target, off, int(v))
    elif isinstance(dt, T.ByteType):
        struct.pack_into("<b", target, off, int(v))
    elif isinstance(dt, T.DoubleType):
        struct.pack_into("<d", target, off, float(v))
    elif isinstance(dt, T.FloatType):
        struct.pack_into("<f", target, off, float(v))
    elif isinstance(dt, T.BooleanType):
        target[off] = 1 if v else 0
    elif isinstance(dt, T.DecimalType):
        struct.pack_into("<q", target, off, _dec_unscaled(v, dt.scale))
    elif isinstance(dt, T.NullType):
        raise ValueError(f"NullType field can only hold None, got {v!r}")
    else:
        raise AssertionError(f"not fixed-width: {dt}")


def _encode_region(v, dt: T.DataType) -> bytes:
    """One variable-length value as a self-contained region (offsets inside
    are relative to the region's own start, per the Unsafe* formats)."""
    if isinstance(dt, T.StringType):
        return v.encode()
    if isinstance(dt, T.BinaryType):
        return bytes(v)
    if isinstance(dt, T.DecimalType):
        unscaled = _dec_unscaled(v, dt.scale)
        # minimal two's-complement, exactly BigInteger.toByteArray: bitLength
        # excludes the sign bit, so -128 is ONE byte (0x80), not ff80
        bl = (~unscaled).bit_length() if unscaled < 0 else unscaled.bit_length()
        return unscaled.to_bytes(bl // 8 + 1, "big", signed=True)
    if isinstance(dt, T.StructType):
        # a Row or tuple, or the dict an Arrow struct converts to
        if isinstance(v, dict):
            v = [v[f.name] for f in dt.fields]
        return encode_unsafe_row(tuple(v), dt)
    if isinstance(dt, T.ArrayType):
        return _encode_array(list(v), dt.elementType)
    if isinstance(dt, T.MapType):
        # a dict, or the (key, value) pairs an Arrow map converts to
        items = list(v.items()) if isinstance(v, dict) else list(v)
        karr = _encode_array([k for k, _ in items], dt.keyType)
        varr = _encode_array([x for _, x in items], dt.valueType)
        return struct.pack("<q", len(karr)) + karr + varr
    raise AssertionError(f"not var-length: {dt}")


def _encode_array(values: list, et: T.DataType) -> bytes:
    n = len(values)
    words = (n + 63) // 64
    es = _elem_size(et)
    values_bytes = (n * es + 7) // 8 * 8
    header = 8 + 8 * words
    fixed = bytearray(header + values_bytes)
    struct.pack_into("<q", fixed, 0, n)
    var = bytearray()
    nulls = 0
    is_fixed = _is_fixed(et)
    for i, v in enumerate(values):
        if v is None:
            nulls |= 1 << i
            continue
        cell = header + i * es
        if is_fixed:
            _pack_fixed(fixed, cell, v, et)
        else:
            data = _encode_region(v, et)
            off = len(fixed) + len(var)  # relative to the array base
            struct.pack_into("<q", fixed, cell, (off << 32) | len(data))
            var += data
            if len(data) % 8:
                var += b"\x00" * (8 - len(data) % 8)
    fixed[8 : 8 + 8 * words] = nulls.to_bytes(8 * words, "little")
    return bytes(fixed) + bytes(var)


def encode_unsafe_row(values: tuple, schema: T.StructType) -> bytes:
    nf = len(schema.fields)
    header = 8 * ((nf + 63) // 64)
    bits = 0
    fixed = bytearray(header + 8 * nf)
    var = bytearray()
    for i, (v, f) in enumerate(zip(values, schema.fields)):
        slot = header + 8 * i
        dt = f.dataType
        wide_dec = isinstance(dt, T.DecimalType) and dt.precision > 18
        if v is None:
            bits |= 1 << i
            if wide_dec:
                # UnsafeWriter.write(Decimal) reserves 16 var bytes even for
                # null and records the offset "for future update"
                off = header + 8 * nf + len(var)
                struct.pack_into("<q", fixed, slot, off << 32)
                var += b"\x00" * 16
            continue
        if _is_fixed(dt):
            _pack_fixed(fixed, slot, v, dt)
        else:
            data = _encode_region(v, dt)
            off = header + 8 * nf + len(var)
            struct.pack_into("<q", fixed, slot, (off << 32) | len(data))
            var += data
            # wide decimals always consume a zeroed 16-byte region in rows
            # (UnsafeWriter grow(16)); other var types pad to the next word
            pad_to = 16 if wide_dec else (len(data) + 7) // 8 * 8
            if len(data) < pad_to:
                var += b"\x00" * (pad_to - len(data))
    fixed[0:header] = bits.to_bytes(header, "little")
    return bytes(fixed) + bytes(var)


# ---------------------------------------------------------------------------
# integrity sidecars
# ---------------------------------------------------------------------------


def _crc_signed(data: bytes) -> int:
    v = crc32c(data)
    return v - (1 << 32) if v >= 1 << 31 else v  # Java signed int


def _sidecar(data: bytes) -> bytes:
    """The ChecksumCheckpointFileManager sidecar (``<file>.crc`` JSON with
    the CRC32C and size of the main file) for a file holding ``data``."""
    doc = {
        "algorithm": "CRC32C",
        "value": _crc_signed(data),
        "mainFileSize": len(data),
        "timestampMs": int(time.time() * 1000),
    }
    return json.dumps(doc, separators=(",", ":")).encode()


def _drop_hadoop_crcs(path: str) -> None:
    d, name = os.path.split(path)
    for stale in (f".{name}.crc", f".{name}.crc.crc"):
        with suppress(FileNotFoundError):
            os.remove(os.path.join(d, stale))


def _finalize_state_file(path: str) -> None:
    """Re-issue the integrity metadata Spark checks on load: the
    ChecksumCheckpointFileManager sidecar (stale ones fail the restart
    with CHECKPOINT_FILE_CHECKSUM_VERIFICATION_FAILED) and Hadoop's own
    ``.<name>.crc`` dotfiles for both."""
    with open(path, "rb") as f:
        data = f.read()
    with atomic_write(path + ".crc") as f:
        f.write(_sidecar(data))
    _drop_hadoop_crcs(path)


def bad_sidecars(pdir: str) -> list[tuple[str, str]]:
    """(path, reason) of every version file in a partition dir (either
    provider's) whose ``<file>.crc`` sidecar disagrees with it. A missing
    sidecar is fine: the manager tolerates absence on load, and a
    disagreeing sidecar kills the restart."""
    out = []
    for f in sorted(os.listdir(pdir)):
        path = os.path.join(pdir, f)
        if (f.startswith(".") or not os.path.exists(path + ".crc")
                or not f.endswith((".delta", ".snapshot", ".zip", ".changelog"))):
            continue
        try:
            with open(path + ".crc") as fh:
                side = json.loads(fh.read())
            with open(path, "rb") as fh:
                data = fh.read()
            want_v, want_n = side.get("value"), side.get("mainFileSize")
        except (OSError, ValueError, AttributeError) as ex:
            out.append((path, f"{f}.crc unreadable: {str(ex)[:80]}"))
            continue
        v = _crc_signed(data)
        if want_v != v or want_n not in (None, len(data)):
            out.append((path, f"{f}: sidecar says crc={want_v} size={want_n}, "
                              f"file has crc={v} size={len(data)}"))
    return out


# ---------------------------------------------------------------------------
# checkpoint layout
# ---------------------------------------------------------------------------


def _state_dir(checkpoint_dir: str, operator_id: int) -> str:
    return os.path.join(checkpoint_dir, "state", str(operator_id))


def _partitions(sdir: str) -> list[int]:
    return sorted(int(d) for d in os.listdir(sdir) if d.isdigit())


def _pdir(sdir: str, pid: int, store_name: str | None = None) -> str:
    """One partition's file dir; named stores (stream-stream join sides)
    nest one level deeper: ``state/<op>/<pid>/<store_name>/``."""
    p = os.path.join(sdir, str(pid))
    return p if store_name is None else os.path.join(p, store_name)


def _store(store_name: str | None) -> str | None:
    """Both providers keep the default store in the partition dir itself;
    the HDFS front doors call it None and the RocksDB ones "default"."""
    return None if store_name in (None, "default") else store_name


def store_partitions(sdir: str, store: str | None) -> list[tuple[int, str]]:
    """(pid, dir) of every partition holding ``store``. A partition
    without a named store's subdirectory (a partially-written checkpoint)
    has nothing to read or rewrite and is skipped."""
    out = []
    for pid in _partitions(sdir):
        pdir = _pdir(sdir, pid, store)
        if os.path.isdir(pdir):
            out.append((pid, pdir))
    return out


def iter_store_partitions(checkpoint_dir: str):
    """Every (operator_id, store, pid, dir) of a checkpoint's state, for
    each operator and each of its stores (None = the default store)."""
    sroot = os.path.join(checkpoint_dir, "state")
    ops = sorted(
        int(d) for d in os.listdir(sroot) if d.isdigit()
    ) if os.path.isdir(sroot) else []
    for op in ops:
        sdir = _state_dir(checkpoint_dir, op)
        for store in list_store_names(checkpoint_dir, op) or [None]:
            for pid, pdir in store_partitions(sdir, store):
                yield op, store, pid, pdir


def _read_java_utf(raw: bytes, pos: int) -> tuple[str, int]:
    """One ``DataOutputStream.writeUTF`` payload: 2-byte BE length + bytes
    (modified UTF-8; schema JSON is ASCII so plain decode suffices)."""
    if pos + 2 > len(raw):
        raise ValueError(f"truncated writeUTF length at offset {pos}")
    (n,) = struct.unpack_from(">H", raw, pos)
    pos += 2
    if pos + n > len(raw):
        raise ValueError(f"truncated writeUTF payload at offset {pos}")
    return raw[pos : pos + n].decode("utf-8"), pos + n


def _parse_schema_file(raw: bytes) -> tuple[T.StructType, T.StructType]:
    """Structural parse of the StateSchemaCompatibilityChecker schema file
    (sql/execution/streaming/state/SchemaHelper.scala): ``writeUTF("v<N>")``
    then, per schema, v1 = one writeUTF JSON; v2 = ``writeInt(numChunks)``
    + that many writeUTF chunks (schemas longer than writeUTF's 65535-byte
    cap are split). Structural parsing — unlike regex scraping — surfaces
    nested/struct-typed fields as a clear error from _check_schema instead
    of an invalid JSON slice."""
    tag, pos = _read_java_utf(raw, 0)
    if not re.fullmatch(r"v\d+", tag):
        raise ValueError(f"unrecognized state schema file version tag {tag!r}")
    version = int(tag[1:])

    def one_schema(pos: int) -> tuple[T.StructType, int]:
        if version == 1:
            js, pos = _read_java_utf(raw, pos)
        else:
            (chunks,) = struct.unpack_from(">i", raw, pos)
            pos += 4
            if not 0 < chunks < 1 << 16:
                raise ValueError(f"implausible schema chunk count {chunks}")
            parts = []
            for _ in range(chunks):
                part, pos = _read_java_utf(raw, pos)
                parts.append(part)
            js = "".join(parts)
        try:
            parsed = json.loads(js)
        except json.JSONDecodeError as e:
            raise ValueError(f"invalid schema JSON in state schema file: {e}") from e
        return T.StructType.fromJson(parsed), pos

    key, pos = one_schema(pos)
    value, pos = one_schema(pos)
    return key, value


def write_state_schema(
    pdir: str, key_schema: T.StructType, value_schema: T.StructType
) -> None:
    """Replace a partition's ``_metadata/schema`` file (v2 layout) through
    :func:`atomic_write`, dropping the stale checksum files of the old
    one. Used by schema migration, and by tests as a fixture writer."""
    def utf(s: str) -> bytes:
        b = s.encode("utf-8")
        return struct.pack(">H", len(b)) + b

    def chunked(schema: T.StructType) -> bytes:
        js = json.dumps(schema.jsonValue(), separators=(",", ":"))
        chunks = [js[i : i + 65535] for i in range(0, len(js), 65535)] or [""]
        return struct.pack(">i", len(chunks)) + b"".join(utf(c) for c in chunks)

    meta = os.path.join(pdir, "_metadata")
    os.makedirs(meta, exist_ok=True)
    with atomic_write(os.path.join(meta, "schema")) as f:
        f.write(utf("v2") + chunked(key_schema) + chunked(value_schema))
    for stale in (".schema.crc", "schema.crc", ".schema.crc.crc"):
        with suppress(FileNotFoundError):
            os.remove(os.path.join(meta, stale))


def read_state_schema(
    checkpoint_dir: str, operator_id: int = 0
) -> tuple[T.StructType, T.StructType]:
    """Key/value StructTypes from the store's own ``_metadata/schema``."""
    sdir = _state_dir(checkpoint_dir, operator_id)
    pid = _partitions(sdir)[0]
    raw = open(os.path.join(sdir, str(pid), "_metadata", "schema"), "rb").read()
    return _parse_schema_file(raw)


def migrate_spark_state_schema(
    spark: SparkSession,
    checkpoint_dir: str,
    df: DataFrame,
    *,
    new_value_schema: T.StructType,
    new_key_schema: T.StructType | None = None,
    operator_id: int = 0,
    version: int | None = None,
    provider: str = "hdfs",
) -> int:
    """Evolve a store's schema IN PLACE so a MODIFIED query restarts on it.

    Changing a stateful query's state schema between runs fails Spark's
    StateSchemaCompatibilityChecker (STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE)
    because the checkpoint's ``_metadata/schema`` still records the old
    layout. This rewrites both halves of the contract: the state rows are
    rewritten as ``df`` — already transformed by the caller to the new
    shape (e.g. the old state with a null-initialized new column) — and
    every existing schema file is re-serialized with the new StructTypes
    (same v2 ``writeUTF`` framing the checker parses; stale Hadoop checksum
    dotfiles dropped). After this, restarting the EVOLVED query finds
    schema equality and continues from the migrated values — the Spark
    analog of the reference's X2 type-change migration for Flink state
    (KeyedStateReader custom deserializers).

    ``provider`` picks the row-rewrite layout: ``"hdfs"`` (default, delta
    files) or ``"rocksdb"`` (changelog/zip checkpoints); both keep the
    schema file in the same per-partition ``_metadata/schema`` location.
    The schema files are replaced only after the row rewrite published, so
    a failed migration leaves both halves as they were.

    Returns the version written. Scale: schema files are one per store
    (driver-side metadata); the row rewrite is one task per state
    partition."""
    if provider not in ("hdfs", "rocksdb"):
        raise ValueError(f"provider must be 'hdfs' or 'rocksdb', got {provider!r}")
    old_key, _old_val = read_state_schema(checkpoint_dir, operator_id)
    sdir = _state_dir(checkpoint_dir, operator_id)
    schema_dirs = [
        os.path.join(sdir, str(pid)) for pid in _partitions(sdir)
        if os.path.exists(os.path.join(sdir, str(pid), "_metadata", "schema"))
    ]
    if not schema_dirs:
        raise FileNotFoundError(
            f"no _metadata/schema under any partition of {sdir}"
        )
    layout = HDFS
    if provider == "rocksdb":
        from bravo_spark.sources.rocksdb_state import ROCKSDB as layout
    return write_state(
        layout, spark, checkpoint_dir, df, operator_id=operator_id,
        version=version,
        key_schema=new_key_schema if new_key_schema is not None else old_key,
        value_schema=new_value_schema, schema_dirs=schema_dirs,
    )


# ---------------------------------------------------------------------------
# version files: records, replay, the tombstone increment
# ---------------------------------------------------------------------------


def _iter_records(payload: bytes):
    pos = 0
    while pos + 4 <= len(payload):
        (klen,) = struct.unpack(">i", payload[pos : pos + 4])
        pos += 4
        if klen == -1:
            return
        key = payload[pos : pos + klen]
        pos += klen
        (vlen,) = struct.unpack(">i", payload[pos : pos + 4])
        pos += 4
        if vlen == -1:
            yield key, None  # tombstone
        else:
            yield key, payload[pos : pos + vlen]
            pos += vlen


def _records(puts: dict[bytes, bytes], tombstones=()) -> bytes:
    """A record stream: the puts, the tombstones (valueLen -1), then the
    keyLen -1 EOF."""
    out = bytearray()
    for kb, vb in puts.items():
        out += struct.pack(">i", len(kb)) + kb + struct.pack(">i", len(vb)) + vb
    for kb in tombstones:
        out += struct.pack(">i", len(kb)) + kb + struct.pack(">i", -1)
    out += struct.pack(">i", -1)
    return bytes(out)


def _versions(files, suffix: str) -> set[int]:
    """Versions named ``<v>.<suffix>`` among ``files``."""
    out = set()
    for f in files:
        stem, _, rest = f.partition(".")
        if rest == suffix and stem.isdigit():
            out.add(int(stem))
    return out


class StoreLayout:
    """What differs between the two providers' state files; the driver
    below owns the rest (version discovery, replay, the tombstone
    increment, staging and publish, and the per-partition jobs).

    - ``increment``/``full``: the suffixes of a version's changes and of
      a full state; ``committed``: the suffixes that commit a version;
    - ``prefix``: the bytes framing every key and value;
    - ``load_full(pdir, v)``: the state a full file holds;
    - ``rewrite(pdir, v, desired, stage)``: stage the files that make the
      state at ``v`` equal ``desired``;
    - ``snapshot(pdir, v, desired, stage)``: stage a full file of ``desired``;
    - ``drops_shadowed_full``: publishing an increment deletes the full
      file of the same version (the loader would prefer it);
    - ``reclaim(...)``: what pruning deletes beyond the version files."""

    name = increment = full = ""
    committed: tuple[str, ...] = ()
    prefix = b""
    drops_shadowed_full = False

    def reclaim(self, spark, checkpoint_dir, operator_id, store) -> list[str]:
        return []


class HdfsLayout(StoreLayout):
    """HDFSBackedStateStoreProvider: ``{v}.delta`` per version and a
    ``{v}.snapshot`` when maintenance uploaded one."""

    name, increment, full, committed = "HDFS", "delta", "snapshot", ("delta",)

    def load_full(self, pdir: str, version: int) -> dict[bytes, bytes]:
        with open(os.path.join(pdir, f"{version}.snapshot"), "rb") as f:
            records = _iter_records(decode_stream(f.read()))
            return {k: v for k, v in records if v is not None}

    def rewrite(self, pdir, version, desired, stage) -> None:
        """If store maintenance already wrote ``{version}.snapshot``, Spark
        and our reader load it directly and never replay the delta, so the
        snapshot is rewritten too (it carries no tombstones)."""
        stage_increment(self, pdir, version, desired, stage)
        if os.path.exists(os.path.join(pdir, f"{version}.snapshot")):
            self.snapshot(pdir, version, desired, stage)

    def snapshot(self, pdir, version, desired, stage) -> None:
        """Stage ``{version}.snapshot`` — the file the provider's background
        maintenance (``doSnapshot``) uploads. It is framed like the store's
        own files (a restarted query decompresses with its configured
        codec, not by sniffing): the version's snapshot, else its delta,
        else any state file; only a store with no files falls back to lz4
        (Spark's default codec)."""
        snap = os.path.join(pdir, f"{version}.snapshot")
        candidates = [snap, os.path.join(pdir, f"{version}.delta")] + sorted(
            os.path.join(pdir, f) for f in os.listdir(pdir)
            if f.endswith((".delta", ".snapshot"))
        )
        like = next((c for c in candidates if os.path.exists(c)), None)
        old = None
        if like is not None:
            with open(like, "rb") as f:
                old = f.read()
        stage(snap, encode_stream_like(old, _records(desired)))


HDFS = HdfsLayout()


def replay(layout: StoreLayout, pdir: str, version: int) -> dict[bytes, bytes]:
    """One partition's state at ``version``: the greatest full file ≤
    version, then every increment after it up to version, applying
    tombstones. Version 0 is the empty pre-first-commit state."""
    files = os.listdir(pdir) if version > 0 else []
    base = max((v for v in _versions(files, layout.full) if v <= version), default=0)
    state = layout.load_full(pdir, base) if base else {}
    for ver in range(base + 1, version + 1):
        path = os.path.join(pdir, f"{ver}.{layout.increment}")
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"missing {layout.increment} {path} for version {version}"
            )
        with open(path, "rb") as f:
            for k, v in _iter_records(decode_stream(f.read())):
                if v is None:
                    state.pop(k, None)
                else:
                    state[k] = v
    return state


def _load_partition_state(pdir: str, version: int) -> dict[bytes, bytes]:
    """Replay greatest snapshot ≤ version + deltas up to version."""
    return replay(HDFS, pdir, version)


def stage_increment(layout, pdir, version, desired, stage) -> None:
    """Stage ``{version}.<increment>`` so that replay gives ``desired``.

    Tombstones must cover every key that could exist in the state the
    restarted query replays the new file ON TOP OF — state at
    ``version - 1`` — plus every key the ORIGINAL increment touched (a key
    it tombstoned is absent from state AT ``version``, so diffing against
    that would silently resurrect it). Extra tombstones for never-present
    keys are harmless no-ops. The new file keeps the old one's framing."""
    path = os.path.join(pdir, f"{version}.{layout.increment}")
    base = set(replay(layout, pdir, version - 1))
    old = None
    if os.path.exists(path):
        with open(path, "rb") as f:
            old = f.read()
        base.update(k for k, _ in _iter_records(decode_stream(old)))
    tombstones = [k for k in base if k not in desired]
    stage(path, encode_stream_like(old, _records(desired, tombstones)))


# ---------------------------------------------------------------------------
# staging and publish: a failed job publishes nothing
# ---------------------------------------------------------------------------
# Tasks write every new file (and its sidecar) under a hidden per-write
# name, fsynced; once the job succeeded the driver renames them into place,
# and on any failure it deletes them. Staged names sort out of every
# listing the readers and Spark make (leading dot, no version suffix).


class Stager:
    """Write files of one rewrite under ``.<name>.<token>.staged``."""

    def __init__(self, token: str):
        self.token = token

    def __call__(self, path: str, data: bytes, sidecar: bool = True) -> None:
        d, name = os.path.split(path)
        files = [(name, data)] + ([(name + ".crc", _sidecar(data))] if sidecar else [])
        for n, blob in files:
            with open(os.path.join(d, f".{n}.{self.token}.staged"), "wb") as f:
                f.write(blob)
                f.flush()
                os.fsync(f.fileno())


def _staged(pdir: str, token: str) -> list[tuple[str, str]]:
    """(staged, final) paths of one rewrite in a partition: SSTs first (a
    zip must not name an SST before it is in place), sidecars last."""
    suffix = f".{token}.staged"
    out = []
    for d in (os.path.join(pdir, "SSTs"), pdir):
        if os.path.isdir(d):
            out += [
                (os.path.join(d, f), os.path.join(d, f[1 : -len(suffix)]))
                for f in sorted(os.listdir(d))
                if f.startswith(".") and f.endswith(suffix)
            ]
    return sorted(out, key=lambda p: p[1].endswith(".crc"))


def _publish(layout: StoreLayout, pdirs: list[str], token: str) -> None:
    for pdir in pdirs:
        moves = _staged(pdir, token)
        for tmp, final in moves:
            os.replace(tmp, final)
            if final.endswith(".crc"):
                continue
            _drop_hadoop_crcs(final)
            stem, _, ext = os.path.basename(final).partition(".")
            if layout.drops_shadowed_full and ext == layout.increment:
                shadow = os.path.join(pdir, f"{stem}.{layout.full}")
                for p in (shadow, shadow + ".crc"):
                    with suppress(FileNotFoundError):
                        os.remove(p)
                _drop_hadoop_crcs(shadow)
        for d in {os.path.dirname(final) for _, final in moves}:
            fsync_path(d)


def _await_group(sc, group: str, timeout: float = 120.0) -> None:
    """Wait until no task of job group ``group`` runs: when a job fails,
    its other tasks are cancelled, and a cancelled Python task can still
    stage a file until its worker is stopped."""
    st = sc.statusTracker()
    deadline = time.time() + timeout
    while time.time() < deadline:
        jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        stages = [st.getStageInfo(s) for j in jobs if j for s in j.stageIds]
        if not any(s and s.numActiveTasks for s in stages):
            return
        time.sleep(0.1)


def _commit(spark: SparkSession, layout: StoreLayout, pdirs: list[str], job) -> None:
    """Run ``job(token)`` (Spark jobs staging files under ``token``), then
    publish what it staged. On any failure, once the jobs' tasks have
    stopped, delete every staged file."""
    token = uuid.uuid4().hex
    sc = spark.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", token)
    try:
        job(token)
        _publish(layout, pdirs, token)
    except BaseException:
        _await_group(sc, token)
        for pdir in pdirs:
            for tmp, _ in _staged(pdir, token):
                with suppress(FileNotFoundError):
                    os.remove(tmp)
        raise
    finally:
        sc.setLocalProperty("spark.jobGroup.id", group)


# ---------------------------------------------------------------------------
# the driver: one implementation of every state-store operation
# ---------------------------------------------------------------------------


def run_per_partition(spark: SparkSession, items: list[str], fn) -> list:
    """One task per item (a partition dir): ``fn(item)`` runs on an
    executor and its JSON-able result comes back in item order. The
    driver sends and receives metadata only."""
    if not items:
        return []

    def task(batches):
        for b in batches:
            got = b.column(0).to_pylist()
            res = [json.dumps(fn(i)) for i in got]
            yield pa.RecordBatch.from_arrays(
                [pa.array(got, pa.string()), pa.array(res, pa.string())],
                names=["item", "result"],
            )

    out = dict(
        task_frame(spark, "item", items)
        .mapInArrow(task, "item string, result string")
        .collect()
    )
    return [json.loads(out[i]) for i in items]


def latest_state_version(
    layout: StoreLayout, checkpoint_dir: str, operator_id: int = 0,
    store_name: str | None = None,
) -> int:
    """The newest version EVERY partition has (min of per-partition
    maxes) — the last CONSISTENT version. A killed query can leave a torn
    in-flight version that only some partitions committed; the raw max
    would select it and every read/rewrite of the others would fail on the
    missing file. Partitions with no version files, or without a named
    store's subdirectory, are skipped; if nothing is left the error names
    the store and the partitions missing it.

    Nor is it past the version the last committed batch produced (batch
    ``b`` commits version ``b + 1``): a query stopped after every
    partition wrote a version but before the batch reached ``commits/``
    re-runs that batch from the version before it on restart, so a patch
    to the newer files would be overwritten."""
    store = _store(store_name)
    sdir = _state_dir(checkpoint_dir, operator_id)
    per_part: list[int] = []
    missing: list[int] = []
    for p in _partitions(sdir):
        pdir = _pdir(sdir, p, store)
        if not os.path.isdir(pdir):
            missing.append(p)
            continue
        files = os.listdir(pdir)
        vs = set().union(*(_versions(files, s) for s in layout.committed))
        if vs:
            per_part.append(max(vs))
    if not per_part:
        detail = (
            f" (store {store!r} missing in partition dirs {missing})"
            if missing else ""
        )
        raise FileNotFoundError(
            f"no committed {layout.name} state versions under {sdir}{detail}"
        )
    cdir = os.path.join(checkpoint_dir, "commits")
    batches = [int(f) for f in os.listdir(cdir) if f.isdigit()] if os.path.isdir(cdir) else []
    if batches:
        per_part.append(max(batches) + 1)
    return min(per_part)


def _resolve(layout, checkpoint_dir, operator_id, version, store_name,
             key_schema, value_schema):
    """The store, version and schemas a read or write works on: the latest
    consistent version unless one is given, and the checkpoint's schema
    file unless both schemas are (named stores have none)."""
    store = _store(store_name)
    if version is None:
        version = latest_state_version(layout, checkpoint_dir, operator_id, store)
    if key_schema is None or value_schema is None:
        if store is not None:
            raise ValueError(
                "named stores have no checkpoint schema file; pass "
                "key_schema and value_schema explicitly"
            )
        key_schema, value_schema = read_state_schema(checkpoint_dir, operator_id)
    _check_schema(key_schema)
    _check_schema(value_schema)
    return store, version, key_schema, value_schema


def _column_names(key_schema, value_schema) -> tuple[list[str], list[str]]:
    key_names = [f.name for f in key_schema.fields]
    val_names = [
        (f"value_{f.name}" if f.name in key_names else f.name)
        for f in value_schema.fields
    ]
    return key_names, val_names


def _unframe(buf: bytes, prefix: bytes, what: str) -> bytes:
    if buf[: len(prefix)] != prefix:
        raise ValueError(
            f"unexpected {what} encoding version {buf[:1].hex() or '<empty>'}"
        )
    return buf[len(prefix):]


def partition_scan(layout, sdir, store, version, key_schema, value_schema, out_schema):
    """The read task: partition ids in, one Arrow batch of decoded rows
    per partition out. Timestamps reach Arrow as naive UTC datetimes,
    which pyarrow converts field by field, so the worker's local timezone
    never touches the stored microseconds."""
    arrow_schema = to_arrow_schema(out_schema)
    prefix = layout.prefix

    def scan(batches):
        for batch in batches:
            for pid in batch.column(0).to_pylist():
                pid = int(pid)
                state = replay(layout, _pdir(sdir, pid, store), version)
                rows = [
                    (pid,)
                    + decode_unsafe_row(_unframe(kb, prefix, "key"), key_schema)
                    + decode_unsafe_row(_unframe(vb, prefix, "value"), value_schema)
                    for kb, vb in state.items()
                ]
                if rows:
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(c, f.type) for c, f in zip(zip(*rows), arrow_schema)],
                        schema=arrow_schema,
                    )

    return scan


def read_state(
    layout: StoreLayout, spark: SparkSession, checkpoint_dir: str, *,
    operator_id: int = 0, version: int | None = None,
    store_name: str | None = None, key_schema: T.StructType | None = None,
    value_schema: T.StructType | None = None,
) -> DataFrame:
    """A store's state at ``version`` (default: the latest consistent one)
    as ``partition_id`` + key columns + value columns: one task per state
    partition over the partition-id frame, each replaying only its own
    files inside a ``mapInArrow``."""
    store, version, key_schema, value_schema = _resolve(
        layout, checkpoint_dir, operator_id, version, store_name,
        key_schema, value_schema,
    )
    key_names, val_names = _column_names(key_schema, value_schema)
    out_schema = T.StructType(
        [T.StructField("partition_id", T.IntegerType(), False)]
        + [T.StructField(n, f.dataType, True) for n, f in zip(key_names, key_schema.fields)]
        + [T.StructField(n, f.dataType, True) for n, f in zip(val_names, value_schema.fields)]
    )
    sdir = _state_dir(checkpoint_dir, operator_id)
    pids = [str(pid) for pid, _ in store_partitions(sdir, store)]
    scan = partition_scan(
        layout, sdir, store, version, key_schema, value_schema, out_schema
    )
    return task_frame(spark, "pid", pids).mapInArrow(scan, out_schema)


def partition_rewrite(layout, sdir, store, version, key_schema, value_schema, token):
    """The write task: routed rows in (``_pid``, ``_put``, key columns,
    value columns; a ``_put`` false row only marks its partition), each
    partition's new files staged under ``token``, the partition ids out.
    Arrow hands structs over as dicts, maps as (key, value) pairs and
    timestamps as aware datetimes; the UnsafeRow encoder takes all three."""
    prefix = layout.prefix
    nk = len(key_schema.fields)

    def write(batches):
        stage = Stager(token)
        by_pid: dict[int, dict[bytes, bytes]] = {}
        for b in batches:
            for pid, put, *vals in zip(*(c.to_pylist() for c in b.columns)):
                desired = by_pid.setdefault(pid, {})
                if put:
                    kb = prefix + encode_unsafe_row(vals[:nk], key_schema)
                    desired[kb] = prefix + encode_unsafe_row(vals[nk:], value_schema)
        for pid, desired in by_pid.items():
            layout.rewrite(_pdir(sdir, pid, store), version, desired, stage)
        yield pa.RecordBatch.from_arrays(
            [pa.array(list(by_pid), pa.int32())], names=["pid"]
        )

    return write


def write_state(
    layout: StoreLayout, spark: SparkSession, checkpoint_dir: str,
    df: DataFrame, *, operator_id: int = 0, version: int | None = None,
    store_name: str | None = None, key_schema: T.StructType | None = None,
    value_schema: T.StructType | None = None,
    partition_key_cols: list[str] | None = None, schema_dirs: list[str] = (),
) -> int:
    """Rewrite one committed version so the state after replay equals
    ``df`` exactly; see :func:`write_spark_state`. One job: ``df``'s rows
    plus one marker row per state partition are routed with Spark's own
    ``pmod(murmur3(key), n)`` and every partition's files are rewritten in
    a ``mapInArrow``, staged; the driver publishes them only after the
    job succeeded, then replaces the ``_metadata/schema`` files of
    ``schema_dirs`` with the given schemas."""
    store, version, key_schema, value_schema = _resolve(
        layout, checkpoint_dir, operator_id, version, store_name,
        key_schema, value_schema,
    )
    sdir = _state_dir(checkpoint_dir, operator_id)
    parts = _partitions(sdir)
    n = len(parts)
    pdirs = [_pdir(sdir, pid, store) for pid in parts]
    for pid, pdir in zip(parts, pdirs):
        if not any(
            os.path.exists(os.path.join(pdir, f"{version}.{s}"))
            for s in (layout.increment, layout.full)
        ):
            raise ValueError(
                f"partition {pid} has neither {version}.{layout.increment} "
                f"nor {version}.{layout.full} — version {version} was never "
                "committed there"
            )
    key_names, val_names = _column_names(key_schema, value_schema)
    names = key_names + val_names
    fields = list(key_schema.fields) + list(value_schema.fields)
    missing = [c for c in names if c not in df.columns]
    if missing:
        raise ValueError(f"state DataFrame missing columns: {missing}")
    part_cols = partition_key_cols if partition_key_cols is not None else key_names
    unknown = [c for c in part_cols if c not in key_names]
    if unknown:
        raise ValueError(
            f"partition_key_cols {unknown} are not key columns {key_names}"
        )

    # Cast to the store's exact field types before hashing/encoding: Spark's
    # Murmur3 hashes IntegerType and LongType differently, so a drifted key
    # type (int vs long) would route keys to the wrong partition — and a
    # restarted query would then duplicate the key in the right one.
    typed = df.select(
        *[F.col(c).cast(f.dataType).alias(c) for c, f in zip(names, fields)]
    )
    rows = typed.select(
        F.pmod(F.hash(*part_cols), F.lit(n)).cast("int").alias("_pid"),
        F.lit(True).alias("_put"),
        *names,
    )
    # partitions with no desired rows still need their tombstone-only
    # rewrite: one marker row each puts every partition in the same job
    markers = task_frame(spark, "_pid", [str(p) for p in parts]).select(
        F.col("_pid").cast("int").alias("_pid"),
        F.lit(False).alias("_put"),
        *[F.lit(None).cast(f.dataType).alias(c) for c, f in zip(names, fields)],
    )
    routed = rows.unionByName(markers).repartition(n, "_pid")

    def job(token):
        write = partition_rewrite(
            layout, sdir, store, version, key_schema, value_schema, token
        )
        routed.mapInArrow(write, "pid int").collect()  # partition ids only

    _commit(spark, layout, pdirs, job)
    for d in schema_dirs:
        write_state_schema(d, key_schema, value_schema)
    return version


def compact_state(
    layout: StoreLayout, spark: SparkSession, checkpoint_dir: str, *,
    operator_id: int = 0, store_name: str | None = None,
    version: int | None = None,
) -> int:
    """Fold each partition's replay chain into one full file at
    ``version``, staged by one task per partition and published after
    the job; returns the compacted version."""
    store = _store(store_name)
    if version is None:
        version = latest_state_version(layout, checkpoint_dir, operator_id, store)
    sdir = _state_dir(checkpoint_dir, operator_id)
    pdirs = [pdir for _, pdir in store_partitions(sdir, store)]

    def job(token):
        def one(pdir):
            desired = replay(layout, pdir, version)
            layout.snapshot(pdir, version, desired, Stager(token))

        run_per_partition(spark, pdirs, one)

    _commit(spark, layout, pdirs, job)
    return version


def prune_state(
    layout: StoreLayout, spark: SparkSession, checkpoint_dir: str, *,
    retain_versions: int = 2, operator_id: int = 0,
    store_name: str | None = None,
) -> list[str]:
    """Compact a full file at ``floor = latest - retain_versions + 1``,
    delete every older version file (and sidecars), then what the layout
    reclaims beyond them. Returns the deleted paths."""
    if retain_versions < 1:
        raise ValueError("retain_versions must be >= 1")
    store = _store(store_name)
    latest = latest_state_version(layout, checkpoint_dir, operator_id, store)
    floor = latest - retain_versions + 1
    if floor <= 1:
        return []
    compact_state(
        layout, spark, checkpoint_dir, operator_id=operator_id,
        store_name=store, version=floor,
    )
    marks = (f".{layout.increment}", f".{layout.full}")
    removed: list[str] = []
    for _, pdir in store_partitions(_state_dir(checkpoint_dir, operator_id), store):
        for f in sorted(os.listdir(pdir)):
            stem = (f[1:] if f.startswith(".") else f).partition(".")[0]
            if stem.isdigit() and int(stem) < floor and any(m in f for m in marks):
                path = os.path.join(pdir, f)
                os.remove(path)
                removed.append(path)
    return removed + layout.reclaim(spark, checkpoint_dir, operator_id, store)


# ---------------------------------------------------------------------------
# HDFS-backed provider front doors
# ---------------------------------------------------------------------------


def latest_version(
    checkpoint_dir: str, operator_id: int = 0, store_name: str | None = None
) -> int:
    """The last consistent version of an HDFS-backed store (see
    :func:`latest_state_version`)."""
    return latest_state_version(HDFS, checkpoint_dir, operator_id, store_name)


def read_spark_state(
    spark: SparkSession,
    checkpoint_dir: str,
    *,
    operator_id: int = 0,
    version: int | None = None,
    store_name: str | None = None,
    key_schema: T.StructType | None = None,
    value_schema: T.StructType | None = None,
) -> DataFrame:
    """The state of a Structured Streaming operator as a DataFrame:
    ``partition_id`` + key columns + value columns (value names prefixed
    ``value_`` on collision). One task per state partition.

    Operators with a single default store (aggregations, dropDuplicates)
    self-describe through the checkpoint's schema file. Multi-store
    operators — a stream-stream join keeps four stores per partition
    (``left-keyToNumValues``, ``left-keyWithIndexToValue``, right-side
    twins) — write no schema file (their layouts are fixed by the plan),
    so pass ``store_name`` plus explicit ``key_schema``/``value_schema``:
    e.g. keyToNumValues has the join key as key schema and one LongType
    ``count`` value column."""
    return read_state(
        HDFS, spark, checkpoint_dir, operator_id=operator_id, version=version,
        store_name=store_name, key_schema=key_schema, value_schema=value_schema,
    )


def write_spark_state(
    spark: SparkSession,
    checkpoint_dir: str,
    df: DataFrame,
    *,
    operator_id: int = 0,
    version: int | None = None,
    store_name: str | None = None,
    key_schema: T.StructType | None = None,
    value_schema: T.StructType | None = None,
    partition_key_cols: list[str] | None = None,
) -> int:
    """Rewrite one state version so that, after replay, the operator's
    state equals ``df`` exactly (keys of the current state missing from
    ``df`` get tombstones). ``df`` must carry the store's key columns and
    value columns (names per ``read_state_schema``); rows are routed to
    partitions with Spark's own ``pmod(murmur3(key), n)`` so a restarted
    query finds every key where it expects it. Returns the version written.
    A failed rewrite publishes nothing.

    Named stores (the write twin of ``read_spark_state``'s
    ``store_name``): a stream-stream join keeps four schema-file-less
    stores per partition, so pass ``store_name`` plus explicit
    ``key_schema``/``value_schema``. CRITICAL for joins: Spark routes a
    row to its state partition by the JOIN KEY alone, but
    ``keyWithIndexToValue``'s store key is (join key, index) — pass
    ``partition_key_cols=[<join key cols>]`` there, or every re-routed
    row lands in the wrong partition and the restarted join silently
    loses it. Sibling stores must be patched coherently
    (``keyToNumValues``'s count == that key's index count in
    ``keyWithIndexToValue``); this writer patches one store per call."""
    return write_state(
        HDFS, spark, checkpoint_dir, df, operator_id=operator_id,
        version=version, store_name=store_name, key_schema=key_schema,
        value_schema=value_schema, partition_key_cols=partition_key_cols,
    )


def _source_log_cuts(checkpoint_dir: str, batch_id: int) -> dict[str, int]:
    """Per-source rewind cut: the ``sources/<i>`` seen-files log is indexed
    by the SOURCE's logOffset, not the engine batch id (FileStreamSource
    increments its offset only on batches that found new files), so the
    correct cut for source ``i`` is the logOffset recorded in
    ``offsets/<batch_id>``. Sources whose offset is not a logOffset JSON
    (e.g. Kafka topic maps) keep the engine batch id as a conservative cut.
    """
    path = os.path.join(checkpoint_dir, "offsets", str(batch_id))
    cuts: dict[str, int] = {}
    try:
        lines = open(path).read().splitlines()
    except OSError:
        return cuts
    # line 0 = "v1", line 1 = batch metadata JSON, then one line per source
    for i, ln in enumerate(lines[2:]):
        if ln == "-":  # source had produced no offset by this batch
            cuts[str(i)] = -1
            continue
        try:
            obj = json.loads(ln)
        except ValueError:
            continue
        if isinstance(obj, dict) and set(obj) == {"logOffset"}:
            cuts[str(i)] = int(obj["logOffset"])
    return cuts


def _rewind_compactible_log(d: str, cut: int, removed: list[str]) -> None:
    """Handle CompactibleFileStreamLog dirs (FileStreamSource seen-files
    logs). A ``<n>.compact`` file embeds the union of ALL entries up to
    ``n`` — the plain files it superseded are cleaned up after compaction —
    so a compact file newer than the rewind cut can neither be kept
    (post-rewind input would stay marked already-seen) nor deleted outright
    (the pre-cut history it compacted would be lost). Each entry carries
    the source-log batch that added it, so the history is rewritten
    instead: entries with ``batchId <= cut`` become a new
    ``<cut>.compact``, and every OTHER compact file is deleted — older
    ones too, not just newer.  With two or more compacts on disk Spark's
    ``CompactibleFileStreamLog`` derives its interval from the gap
    between the latest two compact ids, so an unaligned cut (e.g.
    compacts left at 9 and 13 -> interval 4) would make
    ``getAllValidBatches`` expect ``11.compact`` and fail on restart;
    with exactly one compact remaining, ``deriveCompactInterval`` picks
    an interval for which ``cut`` IS a compaction batch.  The older
    compacts' entries all carry ``batchId <= their id < cut``, so the
    rebuilt ``<cut>.compact`` is a superset and nothing is lost."""
    all_compacts = sorted(
        int(f[: -len(".compact")])
        for f in os.listdir(d)
        if f.endswith(".compact") and f[: -len(".compact")].isdigit()
    )
    newer = [n for n in all_compacts if n > cut]
    if not newer:
        return
    latest = os.path.join(d, f"{newer[-1]}.compact")
    lines = open(latest).read().splitlines()
    version, entries = lines[0], [ln for ln in lines[1:] if ln]
    kept = []
    for ln in entries:
        entry = json.loads(ln)
        if "batchId" not in entry:
            raise ValueError(
                f"{latest}: entry has no batchId — unknown compactible-log "
                "format, refusing to rewrite (deleting it would lose the "
                "seen-files history it compacted)"
            )
        if int(entry["batchId"]) <= cut:
            kept.append(ln)
    if cut >= 0:
        with atomic_write(os.path.join(d, f"{cut}.compact"), "w") as fh:
            fh.write("\n".join([version] + kept))
    # the rewritten compact supersedes any plain file at the cut id and any
    # stale Hadoop checksum sidecars for either name
    for stale in (str(cut), f".{cut}.crc", f".{cut}.compact.crc"):
        p = os.path.join(d, stale)
        if os.path.exists(p):
            os.remove(p)
            removed.append(p)
    for n in all_compacts:
        if n == cut:
            continue
        for name in (f"{n}.compact", f".{n}.compact.crc"):
            p = os.path.join(d, name)
            if os.path.exists(p):
                os.remove(p)
                removed.append(p)


def rewind_file_sink(output_dir: str, batch_id: int) -> list[str]:
    """Complete a poisoned-batch rewind for exactly-once FILE-SINK output:
    ``rewind_checkpoint`` resets the engine/source logs, but the sink's
    ``_spark_metadata`` log still lists the bad batches' part files — a
    log-aware reader (``spark.read`` on the output dir) would keep seeing
    them, and the replayed batches would append DUPLICATES next to them.
    Deletes sink-log entries > ``batch_id`` and the part files they
    reference; returns the deleted paths.

    Sink entries carry no batch tag (``SinkFileStatus``), so a
    ``<n>.compact`` newer than the cut cannot be split entry-by-entry like
    the source log's; instead the cut's history is REBUILT from the best
    compact ≤ cut plus the per-batch plain files after it, and the rewind
    is refused (with the reason) if retention already cleaned those up.
    Kept-vs-doomed comparison is by parsed ``(path, action)`` key — never
    raw line equality, which would misclassify committed entries (and
    delete their part files) on any cross-version JSON field-order or
    whitespace difference — and every log entry is parsed BEFORE any file
    is touched: an unparseable entry is a refusal, not silent data loss.
    After the rebuild exactly one compact (``<cut>.compact``) remains on
    disk — older compacts are deleted too, or Spark would derive the
    compact interval from the (now unaligned) gap between the latest two
    compact ids and fail to find the intermediate compact on restart."""
    md = os.path.join(output_dir, "_spark_metadata")
    if not os.path.isdir(md):
        raise FileNotFoundError(f"{output_dir} has no _spark_metadata sink log")

    def parse(p: str) -> tuple[str, list[dict]]:
        lines = open(p).read().splitlines()
        entries = []
        for ln in lines[1:]:
            if not ln:
                continue
            try:
                ent = json.loads(ln)
            except ValueError as exc:
                raise ValueError(
                    f"{p}: unparseable sink-log entry {ln!r} — refusing to "
                    "rewind (cannot tell which part files it commits)"
                ) from exc
            if not isinstance(ent, dict) or "path" not in ent:
                raise ValueError(
                    f"{p}: sink-log entry has no 'path' field — unknown "
                    "sink-log format, refusing to rewind"
                )
            entries.append(ent)
        return lines[0], entries

    def key(ent: dict) -> tuple[str, str]:
        return ent["path"], ent.get("action", "add")

    plain: dict[int, str] = {}
    compacts: dict[int, str] = {}
    for f in os.listdir(md):
        if f.endswith(".compact") and f[: -len(".compact")].isdigit():
            compacts[int(f[: -len(".compact")])] = f
        elif f.isdigit():
            plain[int(f)] = f

    # ---- parse phase: read every log this rewind depends on BEFORE
    # mutating anything, so a malformed log refuses cleanly ----
    doomed: list[dict] = []  # entries of batches > cut
    rebuild: tuple[str, list[dict]] | None = None
    newer = sorted(c for c in compacts if c > batch_id)
    if newer:
        base = max((c for c in compacts if c <= batch_id), default=None)
        need = list(range(0 if base is None else base + 1, batch_id + 1))
        missing = [b for b in need if b not in plain]
        if missing:
            raise ValueError(
                f"cannot rewind {md} past compaction: sink entries carry "
                f"no batch tag and plain log files {missing} were already "
                f"cleaned up — the pre-rewind history inside "
                f"{compacts[newer[-1]]} cannot be split by batch"
            )
        keep: list[dict] = []
        version = "v1"
        if base is not None:
            version, es = parse(os.path.join(md, compacts[base]))
            keep.extend(es)
        for b in need:
            version, es = parse(os.path.join(md, plain[b]))
            keep.extend(es)
        _, all_es = parse(os.path.join(md, compacts[newer[-1]]))
        kept_keys = {key(e) for e in keep}
        doomed.extend(e for e in all_es if key(e) not in kept_keys)
        rebuild = (version, keep)
    for b in sorted(plain):
        if b > batch_id:
            doomed.extend(parse(os.path.join(md, plain[b]))[1])

    # ---- mutate phase ----
    removed: list[str] = []
    if rebuild is not None:
        version, keep = rebuild
        target = os.path.join(md, f"{batch_id}.compact")
        with atomic_write(target, "w") as fh:
            fh.write("\n".join([version] + [json.dumps(e) for e in keep]))
        # the rebuilt compact supersedes the plain file at the cut id
        for stale in (str(batch_id), f".{batch_id}.crc",
                      f".{batch_id}.compact.crc"):
            p = os.path.join(md, stale)
            if os.path.exists(p):
                os.remove(p)
                removed.append(p)

    for b, f in sorted(plain.items()) + sorted(compacts.items()):
        # logs past the cut always go; once a compact was rebuilt at the
        # cut, OLDER compacts go too (their entries are a subset of the
        # rebuilt history) so exactly one compact remains
        stale_compact = (rebuild is not None and f.endswith(".compact")
                         and b != batch_id)
        if b <= batch_id and not stale_compact:
            continue
        p = os.path.join(md, f)
        os.remove(p)
        removed.append(p)
        crc = os.path.join(md, f".{f}.crc")
        if os.path.exists(crc):
            os.remove(crc)
            removed.append(crc)

    from urllib.parse import unquote, urlparse

    seen: set[tuple[str, str]] = set()
    for ent in doomed:
        k = key(ent)
        if k in seen:
            continue
        seen.add(k)
        if ent.get("action") == "delete":
            continue
        path = ent["path"]
        local = unquote(urlparse(path).path) if "://" in path else path
        if local and os.path.exists(local):
            os.remove(local)
            removed.append(local)
    return removed


def rewind_checkpoint(checkpoint_dir: str, batch_id: int) -> list[str]:
    """Rewind a Structured Streaming checkpoint so the restarted query
    resumes as if ``batch_id`` were the last completed batch — the "undo a
    poisoned batch" surgery: rewind, fix (or remove) the bad input, restart;
    combined with ``write_spark_state`` the state itself can be patched too.

    Mechanics: progress lives in three batch-indexed text logs —
    ``offsets/<b>`` (planned batches), ``commits/<b>`` (completed batches),
    ``sources/<i>/<b>`` (per-source metadata, e.g. FileStreamSource's
    seen-files log; entries after the rewind point must go, or replayed
    files would be skipped as already-seen). Entries past the rewind point
    are deleted (with their Hadoop ``.crc`` sidecars); for the sources
    logs the rewind point is the source's own logOffset recorded in
    ``offsets/<batch_id>`` (it lags the engine batch id on empty batches),
    and ``<n>.compact`` files — written every compact-interval batches and
    embedding the full seen-files history — are rewritten to the cut
    rather than deleted (entries are batch-tagged). State-store files of
    later versions are left in place: providers load exactly the version
    the replayed batch asks for and overwrite forward, so stale newer
    versions are inert. Returns the deleted paths."""
    if not os.path.isdir(os.path.join(checkpoint_dir, "offsets")):
        raise FileNotFoundError(f"{checkpoint_dir} has no offsets log")
    committed = [
        int(f)
        for f in os.listdir(os.path.join(checkpoint_dir, "commits"))
        if f.isdigit()
    ]
    if batch_id not in committed:
        raise ValueError(
            f"batch {batch_id} is not a committed batch (have: "
            f"{sorted(committed)})"
        )
    removed: list[str] = []
    cuts = _source_log_cuts(checkpoint_dir, batch_id)
    log_dirs = [
        (os.path.join(checkpoint_dir, "offsets"), batch_id),
        (os.path.join(checkpoint_dir, "commits"), batch_id),
    ]
    sources_root = os.path.join(checkpoint_dir, "sources")
    if os.path.isdir(sources_root):
        for src in os.listdir(sources_root):
            log_dirs.append(
                (os.path.join(sources_root, src), cuts.get(src, batch_id))
            )
    for d, cut in log_dirs:
        if not os.path.isdir(d):
            continue
        _rewind_compactible_log(d, cut, removed)
        for f in os.listdir(d):
            stem = f[1:-4] if f.startswith(".") and f.endswith(".crc") else f
            if stem.isdigit() and int(stem) > cut:
                p = os.path.join(d, f)
                os.remove(p)
                removed.append(p)
    return removed


def read_streaming_progress(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """A query's batch history as a DataFrame — the audit companion to
    :func:`rewind_checkpoint` (inspect watermarks/offsets, pick the batch
    to rewind to, verify afterwards). One row per planned batch from the
    ``offsets/<b>`` log (``v1`` header, a metadata JSON line, then one
    offset line per source), joined with ``commits/<b>`` for completion
    and the post-batch watermark. Driver-side file parsing — the logs are
    metadata bounded by Spark's retention (default 100 batches), never
    data-scale."""
    odir = os.path.join(checkpoint_dir, "offsets")
    if not os.path.isdir(odir):
        raise FileNotFoundError(f"{checkpoint_dir} has no offsets log")
    cdir = os.path.join(checkpoint_dir, "commits")

    def parse_commit(bid: int):
        p = os.path.join(cdir, str(bid))
        if not os.path.exists(p):
            return None
        lines = open(p).read().splitlines()
        try:
            return json.loads(lines[1]).get("nextBatchWatermarkMs")
        except (IndexError, json.JSONDecodeError):
            return None

    rows = []
    # numeric sort: lexicographic ordering puts batch 10 before batch 2
    # once a query passes 9 batches
    for f in sorted((f for f in os.listdir(odir) if f.isdigit()), key=int):
        bid = int(f)
        lines = open(os.path.join(odir, f)).read().splitlines()
        if not lines or not lines[0].startswith("v"):
            raise ValueError(f"unrecognized offsets log header in {f!r}")
        try:
            meta = json.loads(lines[1]) if len(lines) > 1 else {}
        except json.JSONDecodeError:
            meta = {}
        committed_wm = parse_commit(bid)
        rows.append(
            (
                bid,
                os.path.exists(os.path.join(cdir, str(bid))),
                meta.get("batchTimestampMs"),
                meta.get("batchWatermarkMs"),
                committed_wm,
                list(lines[2:]),
            )
        )
    return spark.createDataFrame(
        rows,
        T.StructType([
            T.StructField("batch_id", T.LongType(), False),
            T.StructField("committed", T.BooleanType(), False),
            T.StructField("batch_timestamp_ms", T.LongType(), True),
            T.StructField("batch_watermark_ms", T.LongType(), True),
            T.StructField("next_batch_watermark_ms", T.LongType(), True),
            T.StructField("source_offsets", T.ArrayType(T.StringType()), True),
        ]),
    )


def compact_spark_checkpoint(
    spark: SparkSession,
    checkpoint_dir: str,
    *,
    operator_id: int = 0,
    store_name: str | None = None,
    version: int | None = None,
) -> int:
    """Fold the delta-replay chain into a full ``{version}.snapshot`` per
    partition — exactly the file HDFSBackedStateStoreProvider's background
    maintenance (``doSnapshot``) uploads, produced offline on demand. A
    query restarted at ``version`` then loads the snapshot directly
    instead of replaying every delta since the last one — the fix for the
    "N quick batches, restore replays N deltas" restart cliff on
    checkpoints whose maintenance never caught up. Deltas stay behind
    (time travel to older versions is unaffected); an existing snapshot
    at ``version`` is rewritten idempotently; a failed compaction
    publishes nothing. One task per state partition; the driver sees
    partition ids only. Returns the compacted version."""
    return compact_state(
        HDFS, spark, checkpoint_dir, operator_id=operator_id,
        store_name=store_name, version=version,
    )



def patch_watermark(
    checkpoint_dir: str, watermark_ms: int, *, batch_id: int | None = None
) -> int:
    """Set the watermark the restarted query resumes with — the "reopen a
    window that closed too early" surgery. One poisoned far-future event
    time (clock skew, a bad producer) advances the watermark irreversibly
    and every later legitimate-but-now-"late" row is silently dropped;
    no engine API can lower it back. The resume value lives in the
    checkpoint: ``offsets/<b>``'s metadata line (``batchWatermarkMs`` —
    MicroBatchExecution seeds its WatermarkTracker from the latest entry)
    and, when batch ``b`` committed, ``commits/<b>``'s
    ``nextBatchWatermarkMs`` (used in preference when the latest planned
    batch completed). Both are rewritten in place, tmp+rename, with
    integrity sidecars regenerated when present and stale Hadoop dotfiles
    dropped — same hygiene as the rewind. ``batch_id`` defaults to the
    latest planned batch. Returns the batch id patched.

    The watermark stays monotonic from the patched value onward: the
    restarted query takes max(patched, new event maxima - delay), so
    raising is also possible (e.g. force-close a stuck session window)."""
    odir = os.path.join(checkpoint_dir, "offsets")
    if not os.path.isdir(odir):
        raise FileNotFoundError(f"{checkpoint_dir} has no offsets log")
    if batch_id is None:
        bids = [int(f) for f in os.listdir(odir) if f.isdigit()]
        if not bids:
            raise FileNotFoundError(f"no offsets entries under {odir}")
        batch_id = max(bids)

    def rewrite(path: str, line_idx: int, field: str) -> None:
        lines = open(path).read().splitlines()
        if not lines or not lines[0].startswith("v"):
            raise ValueError(f"unrecognized log header in {path!r}")
        meta = json.loads(lines[line_idx]) if len(lines) > line_idx else {}
        meta[field] = int(watermark_ms)
        lines = (lines + [""] * (line_idx + 1 - len(lines)))[: max(
            len(lines), line_idx + 1
        )]
        lines[line_idx] = json.dumps(meta, separators=(",", ":"))
        with atomic_write(path, "w") as f:
            f.write("\n".join(lines))
        name = os.path.basename(path)
        dot = os.path.join(os.path.dirname(path), f".{name}.crc")
        if os.path.exists(f"{path}.crc"):
            _finalize_state_file(path)  # regenerates both sidecars
        elif os.path.exists(dot):
            os.remove(dot)  # stale Hadoop checksum would fail the read

    opath = os.path.join(odir, str(batch_id))
    if not os.path.exists(opath):
        raise FileNotFoundError(f"no offsets entry for batch {batch_id}")
    rewrite(opath, 1, "batchWatermarkMs")
    cpath = os.path.join(checkpoint_dir, "commits", str(batch_id))
    if os.path.exists(cpath):
        rewrite(cpath, 1, "nextBatchWatermarkMs")
    return batch_id


def prune_spark_checkpoint(
    spark: SparkSession,
    checkpoint_dir: str,
    *,
    retain_versions: int = 2,
    operator_id: int = 0,
    store_name: str | None = None,
) -> list[str]:
    """Retention pruning — the offline analog of the provider's
    ``minVersionsToRetain`` maintenance: make ``floor = latest -
    retain_versions + 1`` self-contained by compacting a full
    ``{floor}.snapshot`` (see :func:`compact_spark_checkpoint`), then
    delete every older ``.delta``/``.snapshot`` (and sidecars). Restores
    at any version ≥ floor keep working (the snapshot anchors the replay
    chain); time travel below the floor is deliberately given up — that
    is the reclaim. Returns the deleted paths. Run against a quiescent
    checkpoint."""
    return prune_state(
        HDFS, spark, checkpoint_dir, retain_versions=retain_versions,
        operator_id=operator_id, store_name=store_name,
    )



def list_store_names(checkpoint_dir: str, operator_id: int = 0) -> list[str]:
    """The operator's NAMED stores (a stream-stream join keeps four per
    partition: left/right keyToNumValues + keyWithIndexToValue); empty
    when the operator uses the single default store. Use to drive
    per-store maintenance: every maintenance entry point takes
    ``store_name``, so compacting a join checkpoint is a loop over this
    list."""
    sdir = _state_dir(checkpoint_dir, operator_id)
    names: set[str] = set()
    for pid in _partitions(sdir):
        p = os.path.join(sdir, str(pid))
        for d in os.listdir(p):
            # _metadata is the schema dir; SSTs is RocksDBFileManager's
            # file store for the DEFAULT store (named stores keep their
            # own SSTs dir one level down) — neither is a store name
            if d not in ("_metadata", "SSTs") and os.path.isdir(
                os.path.join(p, d)
            ):
                names.add(d)
    return sorted(names)
