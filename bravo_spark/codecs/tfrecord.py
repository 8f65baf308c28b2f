"""TFRecord container + ``tf.train.Example`` protobuf, pure Python.

TFRecord is TensorFlow's training-shard container (public format,
``tensorflow/core/lib/io/record_writer.cc``) — the SINK side of a
training-data pipeline: cleaned corpora leave the lake as TFRecord
shards of ``tf.train.Example`` messages. Each record is framed

    uint64  length           (little-endian)
    uint32  masked_crc32c(length bytes)
    byte    data[length]
    uint32  masked_crc32c(data)

with the SAME Castagnoli CRC + rotation mask that LevelDB/RocksDB block
trailers and the snappy framing format use (``codecs/crc32c.py`` —
``mask()``'s constant 0xa282ead8 is shared across all four formats, and
the repo's CRC primitive is cross-validated against real rocksdbjni in
``tests/test_rocksdb_native.py``), so the container composes from
already-foreign-validated pieces; the framing itself is pinned by
hand-assembled golden vectors in ``tests/test_tfrecord.py``.

``tf.train.Example`` (``tensorflow/core/example/{example,feature}.proto``)
is a protobuf message. No protobuf runtime exists in this environment
(the same gap that env-gates ``transformWithState``), so the subset a
training-data pipeline needs — ``features: map<string, Feature>`` with
``bytes_list`` / ``float_list`` / ``int64_list`` — is encoded and
decoded directly against the protobuf wire format (public spec:
protobuf.dev/programming-guides/encoding): base-128 varints,
``tag = (field_number << 3) | wire_type``, length-delimited submessages.
The encoder is byte-DETERMINISTIC (feature keys sorted, lists packed
exactly as TF's own writer packs them) so same input → same shard
bytes; the decoder additionally accepts the UNPACKED repeated forms the
spec allows and skips unknown fields by wire type (the spec-mandated
behavior — a shard written by a newer producer must not refuse).

Strictness follows the WARC/Avro posture: torn records, CRC mismatches,
truncated varints, overlong lengths, and unknown wire types refuse by
name with byte offsets — a training shard must fail loudly, never
silently truncate.
"""

from __future__ import annotations

import struct
from typing import Iterable, Iterator

from bravo_spark.codecs.crc32c import crc32c, crc32c_batch, mask


class TfRecordError(ValueError):
    """Malformed TFRecord framing or tf.train.Example wire bytes."""


# ---------------------------------------------------------------------------
# record framing


def _masked_crc(data: bytes) -> int:
    return mask(crc32c(data))


def write_tfrecords(records: Iterable[bytes]) -> bytes:
    """Serialize ``records`` (already-encoded payloads, e.g.
    :func:`encode_example` output) into TFRecord file bytes. Every
    length word and payload is checksummed in one ``crc32c_batch``
    call."""
    recs = [bytes(rec) for rec in records]
    lengths = [struct.pack("<Q", len(rec)) for rec in recs]
    crcs = crc32c_batch([b for pair in zip(lengths, recs) for b in pair])
    out = bytearray()
    for i, (length, rec) in enumerate(zip(lengths, recs)):
        out += length
        out += struct.pack("<I", mask(crcs[2 * i]))
        out += rec
        out += struct.pack("<I", mask(crcs[2 * i + 1]))
    return bytes(out)


# a single record longer than this refuses before allocation — the
# framing's uint64 length field would otherwise let one flipped bit ask
# for exabytes (the Avro MAX_BLOCK_BYTES posture)
MAX_RECORD_BYTES = 1 << 30


def _walk_frames(data: bytes):
    """Yield ``(offset, length_bytes, lcrc, record, dcrc)`` per record,
    enforcing the framing (torn header/body, absurd declared length)
    but NOT the CRCs — both verification strategies share this walk."""
    pos = 0
    n = len(data)
    while pos < n:
        if n - pos < 12:
            raise TfRecordError(
                f"torn record header at byte {pos}: {n - pos} bytes left")
        length_bytes = data[pos:pos + 8]
        (length,) = struct.unpack("<Q", length_bytes)
        (lcrc,) = struct.unpack_from("<I", data, pos + 8)
        if length > MAX_RECORD_BYTES:
            raise TfRecordError(
                f"record at byte {pos} declares {length} bytes, past "
                f"{MAX_RECORD_BYTES}")
        body_start = pos + 12
        if body_start + length + 4 > n:
            raise TfRecordError(
                f"record of {length} bytes torn at byte {pos}: only "
                f"{n - body_start} payload bytes captured")
        rec = data[body_start:body_start + length]
        (dcrc,) = struct.unpack_from("<I", data, body_start + length)
        yield pos, length_bytes, lcrc, rec, dcrc
        pos = body_start + length + 4


def iter_tfrecords(data: bytes, *, verify: bool = True) -> Iterator[bytes]:
    """Yield each record's payload bytes. Strict: a torn header/body,
    a CRC mismatch (length or data), or an absurd declared length
    refuses with the byte offset. ``verify=False`` skips the CRC checks
    (framing errors still refuse) for read paths that re-verify
    downstream."""
    for pos, length_bytes, lcrc, rec, dcrc in _walk_frames(data):
        if verify and _masked_crc(length_bytes) != lcrc:
            raise TfRecordError(f"length CRC mismatch at byte {pos}")
        if verify and _masked_crc(rec) != dcrc:
            raise TfRecordError(f"data CRC mismatch at byte {pos}")
        yield rec


def read_all_tfrecords(data: bytes) -> list[bytes]:
    """All records of one shard with BATCH CRC verification: every
    length word and payload is checked in one ``crc32c_batch`` call
    (~90-120 MB/s over a shard of 1000 0.1-8 KiB records, single-core,
    against ~5 MB/s for a per-record byte loop). The shard read path's
    entrypoint; identical refusal contract to :func:`iter_tfrecords`."""
    frames = list(_walk_frames(data))
    blobs: list[bytes] = []
    for _, length_bytes, _, rec, _ in frames:
        blobs.append(length_bytes)
        blobs.append(rec)
    crcs = crc32c_batch(blobs)
    for i, (pos, _, lcrc, _, dcrc) in enumerate(frames):
        if mask(crcs[2 * i]) != lcrc:
            raise TfRecordError(f"length CRC mismatch at byte {pos}")
        if mask(crcs[2 * i + 1]) != dcrc:
            raise TfRecordError(f"data CRC mismatch at byte {pos}")
    return [f[3] for f in frames]


# ---------------------------------------------------------------------------
# protobuf wire primitives


def _write_varint(v: int) -> bytes:
    if v < 0:  # int64 negatives encode as 10-byte two's complement
        v &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(data: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    start = pos
    while True:
        if pos >= len(data):
            raise TfRecordError(f"truncated varint at byte {start}")
        b = data[pos]
        pos += 1
        if shift == 63 and (b & 0x7F) > 1:
            # the 10th byte may only carry bit 63 — anything more
            # yields a value past 2^64, which _signed64 would silently
            # fold into a wrong int64 instead of refusing
            raise TfRecordError(f"varint past 64 bits at byte {start}")
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 63:
            raise TfRecordError(f"varint past 64 bits at byte {start}")


def _signed64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def _ld(field: int, payload: bytes) -> bytes:
    """One length-delimited (wire type 2) field."""
    return bytes([(field << 3) | 2]) + _write_varint(len(payload)) + payload


# ---------------------------------------------------------------------------
# tf.train.Example encode (deterministic)


def _encode_feature(values: list) -> bytes:
    """Feature message for one homogeneous value list: bytes/str →
    BytesList (field 1), float → FloatList (field 2, packed), int →
    Int64List (field 3, packed). Mirrors feature.proto exactly."""
    if not values:
        raise TfRecordError("empty feature value list (type is ambiguous;"
                            " encode an explicit empty BytesList upstream)")
    v0 = values[0]
    if isinstance(v0, bool):  # bool is an int subclass — refuse by name
        raise TfRecordError("bool feature values are not a tf.train type")
    if isinstance(v0, (bytes, bytearray, str)):
        for v in values:
            if not isinstance(v, (bytes, bytearray, str)):
                # the list's type is decided by its first element;
                # bytes(5) would zero-fill a non-bytes straggler into
                # an apparently-valid shard — refuse by name instead
                raise TfRecordError(
                    f"mixed feature value list: {type(v).__name__} in a "
                    "bytes list")
        inner = b"".join(
            _ld(1, v.encode("utf-8") if isinstance(v, str) else bytes(v))
            for v in values
        )
        return _ld(1, inner)  # Feature.bytes_list
    if isinstance(v0, int):
        for v in values:
            if isinstance(v, bool) or not isinstance(v, int):
                raise TfRecordError(
                    f"mixed feature value list: {type(v).__name__} in an "
                    "int64 list")
            if not -(1 << 63) <= v < (1 << 63):
                # refuse by name — the modulo-2^64 varint wrap would
                # otherwise write an apparently-valid shard that reads
                # back sign-flipped
                raise TfRecordError(
                    f"int64 feature value {v} outside [-2^63, 2^63)")
        packed = b"".join(_write_varint(v) for v in values)
        return _ld(3, _ld(1, packed))  # Feature.int64_list, packed
    if isinstance(v0, float):
        for v in values:
            if isinstance(v, bool) or not isinstance(v, (int, float)):
                raise TfRecordError(
                    f"mixed feature value list: {type(v).__name__} in a "
                    "float list")
        try:
            packed = b"".join(struct.pack("<f", v) for v in values)
        except OverflowError as exc:
            raise TfRecordError(
                "float feature value outside float32 range "
                "(tf.train.FloatList is float32)") from exc
        return _ld(2, _ld(1, packed))  # Feature.float_list, packed
    raise TfRecordError(f"unsupported feature value type {type(v0).__name__}")


def encode_example(features: dict) -> bytes:
    """``tf.train.Example`` bytes for ``{name: value-or-list}``. Scalars
    wrap into single-element lists (the Example model is list-valued);
    bytes/str → bytes_list, int → int64_list, float → float_list. Keys
    are emitted SORTED so the encoding is byte-deterministic — map field
    order is semantically irrelevant in protobuf, so any spec reader
    (incl. TF's) sees identical content."""
    entries = bytearray()
    for name in sorted(features):
        v = features[name]
        values = list(v) if isinstance(v, (list, tuple)) else [v]
        try:
            feat = _encode_feature(values)
        except TfRecordError as exc:
            raise TfRecordError(f"feature {name!r}: {exc}") from exc
        entry = _ld(1, name.encode("utf-8")) + _ld(2, feat)
        entries += _ld(1, entry)  # Features.feature map entry
    return _ld(1, bytes(entries))  # Example.features


# ---------------------------------------------------------------------------
# tf.train.Example decode


def _iter_fields(data: bytes) -> Iterator[tuple[int, int, bytes | int, int]]:
    """Yield (field_number, wire_type, payload, offset) over one message.
    wire 2 yields bytes; wires 0/1/5 yield the scalar's raw int."""
    pos = 0
    n = len(data)
    while pos < n:
        at = pos
        tag, pos = _read_varint(data, pos)
        field, wire = tag >> 3, tag & 7
        if wire == 2:
            ln, pos = _read_varint(data, pos)
            if pos + ln > n:
                raise TfRecordError(
                    f"field {field} of {ln} bytes torn at byte {at}")
            yield field, wire, data[pos:pos + ln], at
            pos += ln
        elif wire == 0:
            v, pos = _read_varint(data, pos)
            yield field, wire, v, at
        elif wire in (1, 5):
            width = 8 if wire == 1 else 4
            if pos + width > n:
                raise TfRecordError(f"fixed{width * 8} torn at byte {at}")
            yield field, wire, int.from_bytes(
                data[pos:pos + width], "little"), at
            pos += width
        else:
            raise TfRecordError(
                f"unknown protobuf wire type {wire} at byte {at}")


def _decode_feature(data: bytes) -> list:
    """One Feature message → python value list. Accepts both the packed
    form TF writes and the spec's unpacked repeated form."""
    for field, wire, payload, at in _iter_fields(data):
        if field == 1 and wire == 2:  # BytesList
            return [bytes(p) for f, w, p, _ in _iter_fields(payload)
                    if f == 1 and w == 2]
        if field == 2:  # FloatList
            if wire == 2:
                out = []
                inner = payload
                for f, w, p, a2 in _iter_fields(inner):
                    if f != 1:
                        continue
                    if w == 2:  # packed
                        if len(p) % 4:
                            raise TfRecordError(
                                f"packed float run of {len(p)} bytes at "
                                f"byte {a2} is not a multiple of 4")
                        out.extend(
                            struct.unpack(f"<{len(p) // 4}f", p))
                    elif w == 5:  # unpacked
                        out.append(
                            struct.unpack("<f", p.to_bytes(4, "little"))[0])
                return out
        if field == 3 and wire == 2:  # Int64List
            out = []
            for f, w, p, a2 in _iter_fields(payload):
                if f != 1:
                    continue
                if w == 2:  # packed varints
                    pp = 0
                    while pp < len(p):
                        v, pp = _read_varint(p, pp)
                        out.append(_signed64(v))
                elif w == 0:  # unpacked
                    out.append(_signed64(p))
            return out
    return []  # Feature with no kind set: legal, empty


def decode_example(data: bytes) -> dict[str, list]:
    """``tf.train.Example`` bytes → ``{name: value list}`` (bytes, int,
    or float values). Unknown fields skip per spec; torn framing refuses
    by offset. A duplicated map key keeps the LAST entry (protobuf map
    merge semantics)."""
    out: dict[str, list] = {}
    for field, wire, payload, _ in _iter_fields(data):
        if field != 1 or wire != 2:
            continue  # unknown Example field: skip per spec
        # payload is a Features message: repeated map entries at field 1
        for f, w, entry, _ in _iter_fields(payload):
            if f != 1 or w != 2:
                continue
            name = None
            feat: list = []
            for ef, ew, ep, _ in _iter_fields(entry):
                if ef == 1 and ew == 2:
                    name = bytes(ep).decode("utf-8")
                elif ef == 2 and ew == 2:
                    feat = _decode_feature(ep)
            if name is not None:
                out[name] = feat
    return out
