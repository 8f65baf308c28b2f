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
  compression.codec``): lz4-java block framing (default) or xerial-snappy
  framing — both implemented here in pure Python, read AND write (the
  lz4-java framing incl. its 28-bit XXH32 block checksums is bit-exact to
  the real library; rewrites sniff the original file and keep its codec,
  since a restarted query decompresses with its session-configured codec,
  not by sniffing);
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

Scale: one Spark task per state partition (mapPartitions over partition
ids); each task touches only its partition's files — the same split the
store itself uses. The writer routes rows with ``pmod(hash(key), n)`` —
Spark's Murmur3 HashPartitioning — so rewritten files land exactly where
the restarted query expects them. Tasks access checkpoint files with
plain ``open()``/``os``, so on a multi-node cluster the checkpoint path
must be a filesystem every executor mounts (NFS/FUSE-mounted object
store); the per-partition task split means no single node ever holds
more than one partition's state.
"""

from __future__ import annotations

import json
import os
import re
import struct

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

import time

from bravo_spark.codecs import fastpath
from bravo_spark.codecs.crc32c import crc32c
from bravo_spark.sources.atomic import atomic_write

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
    (codecs/lz4.py, cross-validated in test_spark_state)."""
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
    century), silently drifting fields a rewrite never touched."""
    import datetime as _dt

    global _EPOCH
    if _EPOCH is None:
        _EPOCH = _dt.datetime(1970, 1, 1)
    d = v.replace(tzinfo=None) - _EPOCH
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
        return encode_unsafe_row(tuple(v), dt)
    if isinstance(dt, T.ArrayType):
        return _encode_array(list(v), dt.elementType)
    if isinstance(dt, T.MapType):
        items = list(v.items())
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


def _finalize_state_file(path: str) -> None:
    """Re-issue the integrity metadata Spark checks on load: the
    ChecksumCheckpointFileManager sidecar (``<file>.crc`` JSON with the
    CRC32C and size of the main file — stale ones fail the restart with
    CHECKPOINT_FILE_CHECKSUM_VERIFICATION_FAILED) and Hadoop's own
    ``.<name>.crc`` dotfiles for both."""
    data = open(path, "rb").read()
    v = crc32c(data)
    if v >= 1 << 31:
        v -= 1 << 32  # Java signed int
    doc = {
        "algorithm": "CRC32C",
        "value": v,
        "mainFileSize": len(data),
        "timestampMs": int(time.time() * 1000),
    }
    with atomic_write(path + ".crc", "w") as f:
        json.dump(doc, f, separators=(",", ":"))
    d, name = os.path.split(path)
    for stale in (f".{name}.crc", f".{name}.crc.crc"):
        p = os.path.join(d, stale)
        if os.path.exists(p):
            os.remove(p)


# ---------------------------------------------------------------------------
# checkpoint layout
# ---------------------------------------------------------------------------


def _state_dir(checkpoint_dir: str, operator_id: int, store_name: str | None = None) -> str:
    return os.path.join(checkpoint_dir, "state", str(operator_id))


def _partitions(sdir: str, store_name: str | None = None) -> list[int]:
    return sorted(
        int(d) for d in os.listdir(sdir) if d.isdigit()
    )


def _pdir(sdir: str, pid: int, store_name: str | None = None) -> str:
    """One partition's file dir; named stores (stream-stream join sides)
    nest one level deeper: ``state/<op>/<pid>/<store_name>/``."""
    p = os.path.join(sdir, str(pid))
    return p if store_name is None else os.path.join(p, store_name)


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
    """Write a ``_metadata/schema`` file in the v2 layout (used when
    bootstrapping a store directory, and by tests as a fixture writer)."""
    def utf(s: str) -> bytes:
        b = s.encode("utf-8")
        return struct.pack(">H", len(b)) + b

    def chunked(schema: T.StructType) -> bytes:
        js = json.dumps(schema.jsonValue(), separators=(",", ":"))
        chunks = [js[i : i + 65535] for i in range(0, len(js), 65535)] or [""]
        return struct.pack(">i", len(chunks)) + b"".join(utf(c) for c in chunks)

    os.makedirs(os.path.join(pdir, "_metadata"), exist_ok=True)
    with open(os.path.join(pdir, "_metadata", "schema"), "wb") as f:
        f.write(utf("v2") + chunked(key_schema) + chunked(value_schema))


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
    layout. This rewrites both halves of the contract: every existing
    schema file is re-serialized with the new StructTypes (same v2
    ``writeUTF`` framing the checker parses; stale Hadoop checksum
    dotfiles dropped), and the state rows are rewritten as ``df`` —
    already transformed by the caller to the new shape (e.g. the old
    state with a null-initialized new column). After this, restarting the
    EVOLVED query finds schema equality and continues from the migrated
    values — the Spark analog of the reference's X2 type-change
    migration for Flink state (KeyedStateReader custom deserializers).

    ``provider`` picks the row-rewrite backend: ``"hdfs"`` (default,
    delta files) or ``"rocksdb"`` (changelog/zip checkpoints via
    ``write_rocksdb_spark_state``) — both providers keep the schema file
    in the same per-partition ``_metadata/schema`` location, so the
    schema half is shared.

    Returns the version written. Scale: schema files are one per store
    (driver-side metadata); the row rewrite is the provider writer's
    one task per state partition."""
    if provider not in ("hdfs", "rocksdb"):
        raise ValueError(f"provider must be 'hdfs' or 'rocksdb', got {provider!r}")
    old_key, _old_val = read_state_schema(checkpoint_dir, operator_id)
    key_schema = new_key_schema if new_key_schema is not None else old_key
    _check_schema(key_schema)
    _check_schema(new_value_schema)
    sdir = _state_dir(checkpoint_dir, operator_id)
    wrote = False
    for pid in _partitions(sdir):
        meta = os.path.join(sdir, str(pid), "_metadata")
        if os.path.exists(os.path.join(meta, "schema")):
            write_state_schema(
                os.path.join(sdir, str(pid)), key_schema, new_value_schema
            )
            for stale in (".schema.crc", "schema.crc", ".schema.crc.crc"):
                p = os.path.join(meta, stale)
                if os.path.exists(p):
                    os.remove(p)
            wrote = True
    if not wrote:
        raise FileNotFoundError(
            f"no _metadata/schema under any partition of {sdir}"
        )
    # the row rewrite reads the JUST-EVOLVED schema file, so rows encode
    # and route in the new layout; tombstones cover old keys by raw bytes
    if provider == "rocksdb":
        from bravo_spark.sources.rocksdb_state import write_rocksdb_spark_state

        return write_rocksdb_spark_state(
            spark, checkpoint_dir, df, operator_id=operator_id, version=version
        )
    return write_spark_state(
        spark, checkpoint_dir, df, operator_id=operator_id, version=version
    )


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


def _load_partition_state(pdir: str, version: int) -> dict[bytes, bytes]:
    """Replay greatest snapshot ≤ version + deltas up to version."""
    snaps = [
        int(f.split(".")[0])
        for f in os.listdir(pdir)
        if f.endswith(".snapshot") and int(f.split(".")[0]) <= version
    ]
    state: dict[bytes, bytes] = {}
    start = 1
    if snaps:
        sv = max(snaps)
        payload = decode_stream(open(os.path.join(pdir, f"{sv}.snapshot"), "rb").read())
        for k, v in _iter_records(payload):
            if v is not None:
                state[k] = v
        start = sv + 1
    for ver in range(start, version + 1):
        path = os.path.join(pdir, f"{ver}.delta")
        if not os.path.exists(path):
            raise FileNotFoundError(f"missing delta {path} for version {version}")
        for k, v in _iter_records(decode_stream(open(path, "rb").read())):
            if v is None:
                state.pop(k, None)
            else:
                state[k] = v
    return state


def latest_version(
    checkpoint_dir: str, operator_id: int = 0, store_name: str | None = None
) -> int:
    """The newest version EVERY partition has (min of per-partition
    maxes) — the last CONSISTENT version. A killed query can leave a
    torn in-flight version where only some partitions wrote their delta;
    the raw max would select it and every read/rewrite of that partition
    would fail on the missing file. Partitions with no state files, or
    (for a named store) without the store's subdirectory, are skipped —
    the RocksDB twin's contract."""
    sdir = _state_dir(checkpoint_dir, operator_id)
    per_part: list[int] = []
    missing: list[int] = []
    for p in _partitions(sdir):
        pdir = _pdir(sdir, p, store_name)
        if not os.path.isdir(pdir):
            # named store absent in this partition: a store-name typo
            # (every partition missing) or a partially-written checkpoint
            # (some missing) — skip, but name the store if nothing is left
            missing.append(p)
            continue
        vs = [
            int(f.split(".")[0])
            for f in os.listdir(pdir)
            if f.endswith(".delta")
        ]
        if vs:
            per_part.append(max(vs))
    if not per_part:
        detail = (
            f" (store {store_name!r} missing in partition dirs {missing})"
            if missing
            else ""
        )
        raise FileNotFoundError(f"no state versions under {sdir}{detail}")
    return min(per_part)


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
    if version is None:
        version = latest_version(checkpoint_dir, operator_id, store_name)
    if key_schema is None or value_schema is None:
        if store_name is not None:
            raise ValueError(
                "named stores have no checkpoint schema file; pass "
                "key_schema and value_schema explicitly"
            )
        key_schema, value_schema = read_state_schema(checkpoint_dir, operator_id)
    _check_schema(key_schema)
    _check_schema(value_schema)
    sdir = _state_dir(checkpoint_dir, operator_id, store_name)
    parts = _partitions(sdir, store_name)

    key_names = [f.name for f in key_schema.fields]
    val_names = [
        (f"value_{f.name}" if f.name in key_names else f.name)
        for f in value_schema.fields
    ]
    out_schema = T.StructType(
        [T.StructField("partition_id", T.IntegerType(), False)]
        + [T.StructField(n, f.dataType, True) for n, f in zip(key_names, key_schema.fields)]
        + [T.StructField(n, f.dataType, True) for n, f in zip(val_names, value_schema.fields)]
    )

    def scan(pids):
        for pid in pids:
            state = _load_partition_state(_pdir(sdir, pid, store_name), version)
            for kb, vb in state.items():
                yield (
                    (pid,)
                    + decode_unsafe_row(kb, key_schema)
                    + decode_unsafe_row(vb, value_schema)
                )

    rdd = spark.sparkContext.parallelize(parts, max(1, len(parts)))
    return spark.createDataFrame(rdd.mapPartitions(lambda it: scan(list(it))), out_schema)


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
    if version is None:
        version = latest_version(checkpoint_dir, operator_id, store_name)
    if key_schema is None or value_schema is None:
        if store_name is not None:
            raise ValueError(
                "named stores have no checkpoint schema file; pass "
                "key_schema and value_schema explicitly"
            )
        key_schema, value_schema = read_state_schema(checkpoint_dir, operator_id)
    _check_schema(key_schema)
    _check_schema(value_schema)
    sdir = _state_dir(checkpoint_dir, operator_id, store_name)
    parts = _partitions(sdir, store_name)
    n = len(parts)
    key_names = [f.name for f in key_schema.fields]
    val_names = [
        (f"value_{f.name}" if f.name in key_names else f.name)
        for f in value_schema.fields
    ]
    missing = [c for c in key_names + val_names if c not in df.columns]
    if missing:
        raise ValueError(f"state DataFrame missing columns: {missing}")

    # Cast to the store's exact field types before hashing/encoding: Spark's
    # Murmur3 hashes IntegerType and LongType differently, so a drifted key
    # type (int vs long) would route keys to the wrong partition — and a
    # restarted query would then duplicate the key in the right one.
    typed = df.select(
        *[
            F.col(c).cast(f.dataType).alias(c)
            for c, f in zip(
                key_names + val_names,
                list(key_schema.fields) + list(value_schema.fields),
            )
        ]
    )
    part_cols = partition_key_cols if partition_key_cols is not None else key_names
    unknown = [c for c in part_cols if c not in key_names]
    if unknown:
        raise ValueError(
            f"partition_key_cols {unknown} are not key columns {key_names}"
        )
    routed = typed.select(
        F.pmod(F.hash(*part_cols), F.lit(n)).cast("int").alias("_pid"),
        *key_names,
        *val_names,
    ).repartition(n, "_pid")

    nk = len(key_names)

    def write_partition(rows):
        by_pid: dict[int, dict[bytes, bytes]] = {}
        for r in rows:
            pid = r["_pid"]
            kb = encode_unsafe_row(tuple(r[1 : 1 + nk]), key_schema)
            vb = encode_unsafe_row(tuple(r[1 + nk :]), value_schema)
            by_pid.setdefault(pid, {})[kb] = vb
        for pid in by_pid:
            _rewrite_partition_version(
                _pdir(sdir, pid, store_name), version, by_pid[pid]
            )
            yield pid

    # partitions with no desired rows still need their tombstone-only delta;
    # distributed like the data partitions — the driver loop this replaces
    # would load each partition's full prior state driver-side, a
    # bottleneck when most of a wide store is being cleared
    touched = set(routed.rdd.mapPartitions(write_partition).collect())
    untouched = [pid for pid in parts if pid not in touched]
    if untouched:
        spark.sparkContext.parallelize(untouched, len(untouched)).foreach(
            lambda pid: _rewrite_partition_version(
                _pdir(sdir, pid, store_name), version, {}
            )
        )
    return version


def _rewrite_partition_version(
    pdir: str, version: int, desired: dict[bytes, bytes]
) -> None:
    """Replace one partition's ``{version}.delta`` (and, if present,
    ``{version}.snapshot``) so the operator's state at ``version`` equals
    ``desired`` exactly, whichever load path Spark takes.

    Tombstones must cover every key that could exist in the state the
    restarted query replays the new delta ON TOP OF — state at
    ``version - 1`` — plus every key the ORIGINAL ``{version}.delta``
    touched (a key the old delta tombstoned is absent from state AT
    ``version``, so diffing against that would silently resurrect it).
    Extra tombstones for never-present keys are harmless no-ops.

    If store maintenance already wrote ``{version}.snapshot``, both Spark's
    HDFSBackedStateStoreProvider and our reader load it directly and never
    replay the delta — so the snapshot is rewritten too (snapshots carry no
    tombstones: exactly the desired entries)."""
    base_keys = set(_load_partition_state(pdir, version - 1))
    old_delta = os.path.join(pdir, f"{version}.delta")
    old_raw = None
    if os.path.exists(old_delta):
        old_raw = open(old_delta, "rb").read()
        for kb, _ in _iter_records(decode_stream(old_raw)):
            base_keys.add(kb)

    payload = bytearray()
    for kb, vb in desired.items():
        payload += struct.pack(">i", len(kb)) + kb
        payload += struct.pack(">i", len(vb)) + vb
    for kb in base_keys:
        if kb not in desired:
            payload += struct.pack(">i", len(kb)) + kb
            payload += struct.pack(">i", -1)
    payload += struct.pack(">i", -1)
    with atomic_write(old_delta) as f:
        f.write(encode_stream_like(old_raw, bytes(payload)))
    _finalize_state_file(old_delta)

    snap = os.path.join(pdir, f"{version}.snapshot")
    if os.path.exists(snap):
        old_snap = open(snap, "rb").read()
        spayload = bytearray()
        for kb, vb in desired.items():
            spayload += struct.pack(">i", len(kb)) + kb
            spayload += struct.pack(">i", len(vb)) + vb
        spayload += struct.pack(">i", -1)
        with atomic_write(snap) as f:
            f.write(encode_stream_like(old_snap, bytes(spayload)))
        _finalize_state_file(snap)


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
    at ``version`` is rewritten idempotently; writes are tmp+rename
    crash-safe via the shared finalizer. One task per state partition;
    the driver sees partition ids only. Returns the compacted version."""
    if version is None:
        version = latest_version(checkpoint_dir, operator_id, store_name)
    sdir = _state_dir(checkpoint_dir, operator_id)
    # a partition without the named store's subdirectory has nothing to
    # compact (see latest_version) — skip it rather than crash the job
    pids = [
        p for p in _partitions(sdir, store_name)
        if os.path.isdir(_pdir(sdir, p, store_name))
    ]

    def compact_one(pid: int) -> int:
        pdir = _pdir(sdir, pid, store_name)
        desired = _load_partition_state(pdir, version)
        payload = bytearray()
        for kb, vb in desired.items():
            payload += struct.pack(">i", len(kb)) + kb
            payload += struct.pack(">i", len(vb)) + vb
        payload += struct.pack(">i", -1)
        # frame like the store's own files (a restarted query decompresses
        # with its configured codec, not by sniffing): the version's
        # snapshot, else its delta, else ANY state file in the partition —
        # only a store with no files at all falls back to lz4 (Spark's
        # default codec)
        like = None
        snap = os.path.join(pdir, f"{version}.snapshot")
        delta = os.path.join(pdir, f"{version}.delta")
        candidates = [snap, delta] + sorted(
            os.path.join(pdir, f)
            for f in os.listdir(pdir)
            if f.endswith((".delta", ".snapshot"))
        )
        for c in candidates:
            if os.path.exists(c):
                like = open(c, "rb").read()
                break
        with atomic_write(snap) as f:
            f.write(encode_stream_like(like, bytes(payload)))
        _finalize_state_file(snap)
        return pid

    spark.sparkContext.parallelize(pids, max(1, len(pids))).map(
        compact_one
    ).collect()  # partition ids only
    return version


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
    if retain_versions < 1:
        raise ValueError("retain_versions must be >= 1")
    latest = latest_version(checkpoint_dir, operator_id, store_name)
    floor = latest - retain_versions + 1
    if floor <= 1:
        return []
    compact_spark_checkpoint(
        spark, checkpoint_dir, operator_id=operator_id,
        store_name=store_name, version=floor,
    )
    sdir = _state_dir(checkpoint_dir, operator_id)
    removed: list[str] = []
    for pid in _partitions(sdir, store_name):
        pdir = _pdir(sdir, pid, store_name)
        if not os.path.isdir(pdir):
            # named store absent in this partition (see latest_version) —
            # skipping beats crashing mid-prune after deletions started
            continue
        for f in sorted(os.listdir(pdir)):
            stem = f
            if stem.startswith("."):
                stem = stem[1:]
            stem, _, ext = stem.partition(".")
            if not stem.isdigit() or int(stem) >= floor:
                continue
            if not (".delta" in f or ".snapshot" in f):
                continue
            path = os.path.join(pdir, f)
            os.remove(path)
            removed.append(path)
    return removed


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
