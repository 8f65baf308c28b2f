"""Apache Avro Object Container File (OCF) reader/writer, pure Python.

The Kafka-dump / data-lake interchange format. Spark's SQL ``avro``
source lives in the separate spark-avro module (not bundled in this
distribution), so this codec supplies the read/write halves the same way
the repo's other pure-Python codecs do (SST, JPEG, WARC) — and the
bundled REAL ``avro-1.12.1.jar`` in Spark's JVM cross-validates both
directions in ``tests/test_avro.py``.

Wire format (Avro 1.12 spec, "Object Container Files" + "Binary
encoding"; public): magic ``Obj\\x01``, a file-metadata map carrying
``avro.schema`` / ``avro.codec``, a 16-byte sync marker, then blocks of
``(record count, byte size, payload, sync)``. Integers are zigzag
varints; strings/bytes length-prefixed; arrays/maps block-encoded with a
0 terminator; unions a branch index + value; records their fields in
declaration order.

Type surface: null, boolean, int, long, float, double, bytes, string,
record, enum, array, map, union, fixed. Codecs: ``null``, ``deflate``
(raw DEFLATE per spec), ``snappy`` (block snappy + 4-byte big-endian
CRC32 of the UNcompressed payload, per spec), and — since r17 —
``bzip2`` (stdlib bz2, one complete bzip2 stream per block), ``xz``
(stdlib lzma, one .xz stream per block), and ``zstandard`` (one zstd
frame per block, via codecs/fastpath: pyarrow's bundled libzstd) —
each cross-validated both directions against the real avro jar in
``tests/test_avro.py``. An unknown codec name still refuses BY NAME —
never wrong bytes. All block decompressors are output-bounded
(MAX_BLOCK_BYTES) so a crafted few-KB bomb block cannot allocate
unbounded memory; relatedly, a block
claiming more than ``max(len(payload), 65536)`` records is refused as
a count bomb — a documented tightening over the spec, which permits a
single block of arbitrarily many ZERO-byte records (null / empty-record
schema). Real writers batch far below the 64Ki floor. Logical types
decode as their underlying primitive (documented pass-through; the
annotations survive in the schema).
"""

from __future__ import annotations

import hashlib
import io
import json
import struct
import zlib
from typing import Any, Iterable, Iterator

MAGIC = b"Obj\x01"

# Decompression-bomb ceiling for a single deflate block. Real writers cap
# blocks well under this (our own writer batches 1000 records); a block
# inflating past it is adversarial, not data. Refusal is by name.
MAX_BLOCK_BYTES = 1 << 30


def _inflate_bounded(payload: bytes, pos: int) -> bytes:
    """Raw-DEFLATE inflate with a hard output ceiling — a plain
    ``zlib.decompress`` call materializes an unbounded output buffer,
    so a few-KB bomb block could allocate tens of GB before failing."""
    d = zlib.decompressobj(wbits=-15)
    chunks: list[bytes] = []
    total = 0
    data = payload
    while True:
        try:
            chunk = d.decompress(data, MAX_BLOCK_BYTES + 1 - total)
        except zlib.error as e:
            raise AvroError(f"corrupt deflate block at byte {pos}: {e}")
        chunks.append(chunk)
        total += len(chunk)
        if total > MAX_BLOCK_BYTES:
            raise AvroError(
                f"deflate block at byte {pos} inflates past "
                f"{MAX_BLOCK_BYTES} bytes"
            )
        if d.eof:
            break
        data = d.unconsumed_tail
        if not data:
            raise AvroError(f"truncated deflate block at byte {pos}")
    if d.unused_data:
        # the block's byte size frames the stream exactly — bytes after
        # the DEFLATE end-of-stream are a format violation, not padding
        raise AvroError(
            f"{len(d.unused_data)} junk byte(s) after deflate stream "
            f"end in block at byte {pos}"
        )
    return b"".join(chunks)


class AvroError(ValueError):
    """Malformed Avro container/encoding, or an unsupported named
    feature (codec/type) — refusal is always by name."""


# --------------------------------------------------------------------------
# primitive binary encoding
# --------------------------------------------------------------------------


def _zigzag_encode(n: int) -> bytes:
    # canonical zigzag without relying on fixed-width sign shifts
    # (Python ints are arbitrary precision)
    u = (((-n - 1) << 1) | 1) if n < 0 else n << 1
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(buf: memoryview, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        if pos >= len(buf):
            raise AvroError(f"varint truncated at byte {pos}")
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 70:
            raise AvroError(f"varint too long at byte {pos}")
    return (acc >> 1) ^ -(acc & 1), pos


# --------------------------------------------------------------------------
# schema-driven decode
# --------------------------------------------------------------------------

_PRIMITIVES = {
    "null", "boolean", "int", "long", "float", "double", "bytes", "string",
}


def _norm_schema(schema: Any, named: dict[str, Any]) -> Any:
    """Resolve string references to named types and register new names."""
    if isinstance(schema, str):
        if schema in _PRIMITIVES:
            return schema
        if schema in named:
            return named[schema]
        raise AvroError(f"unknown type name {schema!r}")
    if isinstance(schema, list):
        return [_norm_schema(s, named) for s in schema]
    if isinstance(schema, dict):
        t = schema.get("type")
        if t in ("record", "enum", "fixed"):
            name = schema.get("name")
            if name:
                named[name] = schema
                ns = schema.get("namespace")
                if ns:
                    named[f"{ns}.{name}"] = schema
        if t == "record":
            for f in schema["fields"]:
                f["type"] = _norm_schema(f["type"], named)
        elif t == "array":
            schema["items"] = _norm_schema(schema["items"], named)
        elif t == "map":
            schema["values"] = _norm_schema(schema["values"], named)
        return schema
    raise AvroError(f"unsupported schema node: {schema!r}")


def _utf8(b: bytes, pos: int) -> str:
    """UTF-8 decode that keeps the refusal-by-name contract: invalid
    bytes raise AvroError with the byte offset, not a bare
    UnicodeDecodeError."""
    try:
        return bytes(b).decode("utf-8")
    except UnicodeDecodeError as e:
        raise AvroError(f"invalid UTF-8 string ending at byte {pos}: {e}")


class _Decoder:
    def __init__(self, data: bytes | memoryview, pos: int = 0):
        self.buf = memoryview(data)
        self.pos = pos

    def long(self) -> int:
        v, self.pos = _zigzag_decode(self.buf, self.pos)
        return v

    def raw(self, n: int) -> bytes:
        if n < 0:
            # a negative length varint would move the cursor BACKWARD —
            # adversarial input could loop forever or silently re-read
            raise AvroError(f"negative length {n} at byte {self.pos}")
        if self.pos + n > len(self.buf):
            raise AvroError(
                f"need {n} bytes at {self.pos}, have {len(self.buf) - self.pos}"
            )
        out = bytes(self.buf[self.pos:self.pos + n])
        self.pos += n
        return out

    def value(self, schema: Any) -> Any:
        if isinstance(schema, list):  # union: branch index + value
            idx = self.long()
            if not 0 <= idx < len(schema):
                raise AvroError(f"union branch {idx} out of range at {self.pos}")
            return self.value(schema[idx])
        t = schema if isinstance(schema, str) else schema["type"]
        if t == "null":
            return None
        if t == "boolean":
            b = self.raw(1)[0]
            if b not in (0, 1):
                raise AvroError(f"bad boolean byte {b} at {self.pos}")
            return bool(b)
        if t in ("int", "long"):
            return self.long()
        if t == "float":
            return struct.unpack("<f", self.raw(4))[0]
        if t == "double":
            return struct.unpack("<d", self.raw(8))[0]
        if t == "bytes":
            return self.raw(self.long())
        if t == "string":
            return _utf8(self.raw(self.long()), self.pos)
        if t == "record":
            return {f["name"]: self.value(f["type"]) for f in schema["fields"]}
        if t == "enum":
            idx = self.long()
            symbols = schema["symbols"]
            if not 0 <= idx < len(symbols):
                raise AvroError(f"enum index {idx} out of range at {self.pos}")
            return symbols[idx]
        if t == "fixed":
            return self.raw(schema["size"])
        if t == "array":
            out = []
            while True:
                n = self.long()
                if n == 0:
                    return out
                if n < 0:  # block size prefix present; skippable form
                    self.long()
                    n = -n
                for _ in range(n):
                    out.append(self.value(schema["items"]))
        if t == "map":
            out = {}
            while True:
                n = self.long()
                if n == 0:
                    return out
                if n < 0:
                    self.long()
                    n = -n
                for _ in range(n):
                    k = _utf8(self.raw(self.long()), self.pos)
                    out[k] = self.value(schema["values"])
        raise AvroError(f"unsupported Avro type {t!r}")


# --------------------------------------------------------------------------
# schema-driven encode
# --------------------------------------------------------------------------


class _Encoder:
    def __init__(self):
        self.out = io.BytesIO()

    def long(self, n: int) -> None:
        self.out.write(_zigzag_encode(n))

    def value(self, schema: Any, v: Any) -> None:
        if isinstance(schema, list):  # union: first matching branch
            for i, branch in enumerate(schema):
                if _matches(branch, v):
                    self.long(i)
                    self.value(branch, v)
                    return
            raise AvroError(f"value {v!r} matches no union branch {schema!r}")
        t = schema if isinstance(schema, str) else schema["type"]
        if t == "null":
            if v is not None:
                raise AvroError(f"null schema got {v!r}")
        elif t == "boolean":
            self.out.write(b"\x01" if v else b"\x00")
        elif t in ("int", "long"):
            self.long(int(v))
        elif t == "float":
            self.out.write(struct.pack("<f", float(v)))
        elif t == "double":
            self.out.write(struct.pack("<d", float(v)))
        elif t == "bytes":
            self.long(len(v))
            self.out.write(bytes(v))
        elif t == "string":
            b = str(v).encode("utf-8")
            self.long(len(b))
            self.out.write(b)
        elif t == "record":
            for f in schema["fields"]:
                try:
                    fv = v[f["name"]]
                except KeyError:
                    raise AvroError(f"record value missing field {f['name']!r}")
                self.value(f["type"], fv)
        elif t == "enum":
            try:
                self.long(schema["symbols"].index(v))
            except ValueError:
                raise AvroError(f"{v!r} not in enum {schema['symbols']}")
        elif t == "fixed":
            if len(v) != schema["size"]:
                raise AvroError(
                    f"fixed size {schema['size']} got {len(v)} bytes"
                )
            self.out.write(bytes(v))
        elif t == "array":
            if v:
                self.long(len(v))
                for item in v:
                    self.value(schema["items"], item)
            self.long(0)
        elif t == "map":
            if v:
                self.long(len(v))
                for k, mv in v.items():
                    kb = str(k).encode("utf-8")
                    self.long(len(kb))
                    self.out.write(kb)
                    self.value(schema["values"], mv)
            self.long(0)
        else:
            raise AvroError(f"unsupported Avro type {t!r}")


def _matches(schema: Any, v: Any) -> bool:
    t = schema if isinstance(schema, str) else schema["type"]
    if t == "null":
        return v is None
    if t == "boolean":
        return isinstance(v, bool)
    if t in ("int", "long"):
        return isinstance(v, int) and not isinstance(v, bool)
    if t in ("float", "double"):
        # whole numbers arrive as int from json.loads; 0 is a legal double
        return isinstance(v, (float, int)) and not isinstance(v, bool)
    if t in ("bytes", "fixed"):
        return isinstance(v, (bytes, bytearray))
    if t in ("string", "enum"):
        return isinstance(v, str)
    if t == "record":
        return isinstance(v, dict)
    if t == "array":
        return isinstance(v, (list, tuple))
    if t == "map":
        return isinstance(v, dict)
    return False


# --------------------------------------------------------------------------
# container file
# --------------------------------------------------------------------------

_CODEC_NAMES = ("null", "deflate", "snappy", "bzip2", "xz", "zstandard")


def _bounded_obj_decompress(d, payload: bytes, pos: int, name: str) -> bytes:
    """Shared bounded-output loop for the stdlib decompressor objects
    (bz2.BZ2Decompressor / lzma.LZMADecompressor): same bomb ceiling and
    refusal-by-name contract as the deflate path."""
    chunks: list[bytes] = []
    total = 0
    data = payload
    while True:
        try:
            chunk = d.decompress(data, MAX_BLOCK_BYTES + 1 - total)
        except Exception as e:  # OSError (bz2) / LZMAError — corrupt
            raise AvroError(f"corrupt {name} block at byte {pos}: {e}")
        chunks.append(chunk)
        total += len(chunk)
        if total > MAX_BLOCK_BYTES:
            raise AvroError(
                f"{name} block at byte {pos} inflates past "
                f"{MAX_BLOCK_BYTES} bytes"
            )
        if d.eof:
            break
        if d.needs_input:
            raise AvroError(f"truncated {name} block at byte {pos}")
        data = b""
    if d.unused_data:
        raise AvroError(
            f"{len(d.unused_data)} junk byte(s) after {name} stream "
            f"end in block at byte {pos}"
        )
    return b"".join(chunks)


def read_ocf(data: bytes) -> tuple[dict[str, Any], Iterator[dict[str, Any]]]:
    """Parse an OCF byte string → ``(schema, iterator of records)``.
    Every block's sync marker is verified; codec dispatch is by name with
    named refusal for codecs outside ``null/deflate/snappy``."""
    if data[:4] != MAGIC:
        raise AvroError(f"bad magic {data[:4]!r}")
    d = _Decoder(data, 4)
    meta: dict[str, bytes] = {}
    while True:
        n = d.long()
        if n == 0:
            break
        if n < 0:
            d.long()
            n = -n
        for _ in range(n):
            k = _utf8(d.raw(d.long()), d.pos)
            meta[k] = d.raw(d.long())
    try:
        schema = json.loads(meta["avro.schema"])
    except KeyError:
        raise AvroError("container missing avro.schema metadata")
    schema = _norm_schema(schema, {})
    codec = _utf8(meta.get("avro.codec", b"null"), d.pos)
    if codec not in _CODEC_NAMES:
        raise AvroError(f"unsupported avro.codec {codec!r}")
    sync = d.raw(16)

    def records() -> Iterator[dict[str, Any]]:
        while d.pos < len(d.buf):
            count = d.long()
            size = d.long()
            if count < 0 or size < 0:
                raise AvroError(
                    f"negative block header ({count}, {size}) at {d.pos}"
                )
            payload = d.raw(size)
            if d.raw(16) != sync:
                raise AvroError(f"sync marker mismatch at byte {d.pos}")
            if codec == "deflate":
                payload = _inflate_bounded(payload, d.pos)
            elif codec == "snappy":
                body, crc = payload[:-4], payload[-4:]
                from bravo_spark.codecs import fastpath

                payload = fastpath.snappy_decompress(body)
                if struct.pack(">I", zlib.crc32(payload)) != crc:
                    raise AvroError("snappy block CRC32 mismatch")
            elif codec == "bzip2":
                import bz2

                payload = _bounded_obj_decompress(
                    bz2.BZ2Decompressor(), payload, d.pos, "bzip2")
            elif codec == "xz":
                import lzma

                payload = _bounded_obj_decompress(
                    lzma.LZMADecompressor(format=lzma.FORMAT_XZ),
                    payload, d.pos, "xz")
            elif codec == "zstandard":
                from bravo_spark.codecs import fastpath
                from bravo_spark.codecs import zstd as pz

                # header-only framing + bomb pre-checks before any
                # decode work: exactly ONE data frame per block (the
                # trailing-junk contract the other codecs enforce), and
                # a declared content size must fit the block ceiling
                try:
                    kind, clen, csize = pz.inspect_frame(payload)
                except pz.ZstdError as e:
                    raise AvroError(
                        f"corrupt zstandard block at byte {d.pos}: {e}")
                if kind != "zstd":
                    raise AvroError(
                        f"zstandard block at byte {d.pos} starts with a "
                        f"{kind} frame, not a data frame")
                if clen != len(payload):
                    raise AvroError(
                        f"{len(payload) - clen} junk byte(s) after "
                        f"zstd frame end in block at byte {d.pos}")
                if csize is not None and csize > MAX_BLOCK_BYTES:
                    raise AvroError(
                        f"zstandard block at byte {d.pos} declares "
                        f"{csize} bytes, past {MAX_BLOCK_BYTES}")
                try:
                    # stream decode: Java Avro's codec writes frames
                    # without a guaranteed content-size header field —
                    # the bound holds even then
                    payload = fastpath.zstd_decompress_stream(
                        payload, max_bytes=MAX_BLOCK_BYTES)
                except ValueError as e:
                    raise AvroError(
                        f"corrupt zstandard block at byte {d.pos}: {e}")
            # Count bomb guard: every record encoding consumes at least
            # one byte unless the schema is degenerate (null / zero-field
            # record, which encodes to zero bytes — legal but rare), so a
            # count far beyond the decoded payload size means a crafted
            # header that would spin the loop for up to 2^63 iterations
            # before the trailing bytes-consumed check could fire. The
            # 64Ki floor keeps legal degenerate blocks decodable while
            # bounding the spin. Refuse by name.
            if count > max(len(payload), 65536):
                raise AvroError(
                    f"block claims {count} records in a "
                    f"{len(payload)}-byte payload at byte {d.pos}"
                )
            bd = _Decoder(payload)
            for _ in range(count):
                yield bd.value(schema)
            if bd.pos != len(bd.buf):
                raise AvroError(
                    f"block decoded {bd.pos} of {len(bd.buf)} bytes"
                )

    return schema, records()


def write_ocf(
    schema: dict[str, Any] | str,
    records: Iterable[dict[str, Any]],
    *,
    codec: str = "deflate",
    records_per_block: int = 1000,
    out=None,
) -> bytes | None:
    """Serialize records into an OCF byte string. The sync marker is
    derived from the schema (md5) so output is byte-deterministic.
    ``records`` is consumed LAZILY, one ``records_per_block`` block at a
    time. r20: pass a binary file-like ``out`` to stream blocks straight
    into it as they are encoded (returns None) — peak memory is then one
    block plus the encoder's buffers regardless of record count; with the
    default ``out=None`` the whole OCF is returned as bytes, unchanged."""
    if codec not in _CODEC_NAMES:
        raise AvroError(f"unsupported avro.codec {codec!r}")
    schema_json = schema if isinstance(schema, str) else json.dumps(schema)
    norm = _norm_schema(json.loads(schema_json), {})
    sync = hashlib.md5(b"bravo-avro:" + schema_json.encode()).digest()
    sink = out
    out = io.BytesIO() if sink is None else sink
    out.write(MAGIC)
    meta = _Encoder()
    meta.long(2)
    for k, v in (
        ("avro.schema", schema_json.encode()),
        ("avro.codec", codec.encode()),
    ):
        kb = k.encode()
        meta.long(len(kb))
        meta.out.write(kb)
        meta.long(len(v))
        meta.out.write(v)
    meta.long(0)
    out.write(meta.out.getvalue())
    out.write(sync)

    batch: list[dict[str, Any]] = []

    def flush() -> None:
        if not batch:
            return
        enc = _Encoder()
        for r in batch:
            enc.value(norm, r)
        payload = enc.out.getvalue()
        if codec == "deflate":
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            payload = co.compress(payload) + co.flush()
        elif codec == "snappy":
            from bravo_spark.codecs import fastpath

            raw = payload
            payload = fastpath.snappy_compress(raw) + struct.pack(
                ">I", zlib.crc32(raw)
            )
        elif codec == "bzip2":
            import bz2

            payload = bz2.compress(payload)
        elif codec == "xz":
            import lzma

            payload = lzma.compress(payload, format=lzma.FORMAT_XZ)
        elif codec == "zstandard":
            from bravo_spark.codecs import fastpath

            try:
                payload = fastpath.zstd_compress(payload)
            except ValueError as e:
                # refusal-by-name contract: callers catch AvroError, so
                # a compressor refusal must surface as one
                raise AvroError(
                    f"cannot write zstandard codec: {e}") from e
        hdr = _Encoder()
        hdr.long(len(batch))
        hdr.long(len(payload))
        out.write(hdr.out.getvalue())
        out.write(payload)
        out.write(sync)
        batch.clear()

    for r in records:
        batch.append(r)
        if len(batch) >= records_per_block:
            flush()
    flush()
    return None if sink is not None else out.getvalue()
