"""Pure-Python Snappy: raw block format + the official framing format.

Two consumers, neither of which can assume the ``python-snappy`` C binding
(absent from this environment):

- **raw blocks** — RocksDB compresses each SST block with raw Snappy by
  default, so the incremental-checkpoint reader (sources/sst.py) must
  decompress them (reference: the reader path behind
  RocksDBCheckpointIterator.java:57-254 opens the DB, which decompresses
  transparently).
- **framed stream** — the per-key-group compression gate in
  sources/savepoint.py (reference StateMetadataUtils.java:142-146,
  RocksDBSavepointWriter.java:71-72 use Flink's snappy stream decorator,
  which writes the framing format).

Decompression implements the full format (literals + all three copy
element kinds). Compression emits literal-only output — valid Snappy any
decoder accepts, chosen for simplicity over ratio; the decompressor is the
interoperability-critical half.

Format: google/snappy format_description.txt and framing_format.txt
(public). Framing CRCs are masked CRC-32C of the UNCOMPRESSED data.
"""

from __future__ import annotations

import struct

from bravo_spark.codecs import crc32c

# --- varint (LEB128, unsigned) ---


def _read_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 63:
            raise ValueError("uvarint too long")


def _write_uvarint(v: int) -> bytes:
    out = bytearray()
    while True:
        if v < 0x80:
            out.append(v)
            return bytes(out)
        out.append((v & 0x7F) | 0x80)
        v >>= 7


# --- raw block format ---


def decompress(buf: bytes) -> bytes:
    """Raw-Snappy decompress (format_description.txt §2-4)."""
    n, pos = _read_uvarint(buf, 0)
    out = bytearray()
    end = len(buf)
    while pos < end:
        tag = buf[pos]
        pos += 1
        kind = tag & 3
        if kind == 0:  # literal
            length = tag >> 2
            if length >= 60:  # 60..63 → 1..4 extra length bytes (LE)
                extra = length - 59
                length = int.from_bytes(buf[pos : pos + extra], "little")
                pos += extra
            length += 1
            out += buf[pos : pos + length]
            pos += length
            continue
        if kind == 1:  # copy, 1-byte offset
            length = ((tag >> 2) & 0x7) + 4
            offset = ((tag & 0xE0) << 3) | buf[pos]
            pos += 1
        elif kind == 2:  # copy, 2-byte offset
            length = (tag >> 2) + 1
            offset = int.from_bytes(buf[pos : pos + 2], "little")
            pos += 2
        else:  # copy, 4-byte offset
            length = (tag >> 2) + 1
            offset = int.from_bytes(buf[pos : pos + 4], "little")
            pos += 4
        if offset == 0 or offset > len(out):
            raise ValueError("corrupt snappy: bad copy offset")
        # overlapping copies are legal and meaningful (RLE-style)
        start = len(out) - offset
        for i in range(length):
            out.append(out[start + i])
    if len(out) != n:
        raise ValueError(f"corrupt snappy: length {len(out)} != declared {n}")
    return bytes(out)


def compress(buf: bytes) -> bytes:
    """Literal-only raw Snappy (always valid; no back-references)."""
    out = bytearray(_write_uvarint(len(buf)))
    pos = 0
    while pos < len(buf):
        chunk = buf[pos : pos + 65536]
        n = len(chunk)
        if n <= 60:
            out.append((n - 1) << 2)
        elif n <= 0xFF:
            out.append(60 << 2)
            out.append(n - 1)
        else:
            out.append(61 << 2)
            out += (n - 1).to_bytes(2, "little")
        out += chunk
        pos += n
    return bytes(out)


# --- framing format (framing_format.txt) ---

STREAM_IDENTIFIER = b"\xff\x06\x00\x00sNaPpY"
_CHUNK_COMPRESSED = 0x00
_CHUNK_UNCOMPRESSED = 0x01
_MAX_UNCOMPRESSED_CHUNK = 65536


def frame_compress(data: bytes, *, _compress=None) -> bytes:
    """Whole-buffer framed compression (stream identifier + data chunks).

    ``_compress`` lets codecs/fastpath.py swap in the native chunk
    compressor while this module keeps sole ownership of the FRAMING
    layout (the part pinned against org.xerial streams in
    tests/test_snappy.py)."""
    chunk_compress = _compress or compress
    chunks = [
        data[pos : pos + _MAX_UNCOMPRESSED_CHUNK]
        for pos in range(0, len(data), _MAX_UNCOMPRESSED_CHUNK)
    ]
    crcs = crc32c.crc32c_batch(chunks)
    out = bytearray(STREAM_IDENTIFIER)
    for chunk, crc in zip(chunks, crcs):
        crc = crc32c.mask(crc)
        comp = chunk_compress(chunk)
        if len(comp) < len(chunk):
            body = struct.pack("<I", crc) + comp
            ctype = _CHUNK_COMPRESSED
        else:
            body = struct.pack("<I", crc) + chunk
            ctype = _CHUNK_UNCOMPRESSED
        out.append(ctype)
        out += len(body).to_bytes(3, "little")
        out += body
    return bytes(out)


def frame_decompress(data: bytes, *, _decompress=None) -> bytes:
    """Whole-buffer framed decompression; verifies chunk CRCs.

    ``_decompress`` is the fastpath injection point, same contract as
    :func:`frame_compress`. Verification is INCREMENTAL: a pending
    window of at most ``_CRC_WINDOW`` chunks is checked in one
    ``crc32c_batch`` call, and flushed before any parse error, so a
    corrupt early chunk raises "CRC mismatch" without first decoding a
    multi-GB stream, and CRC errors win over later parse errors."""
    chunk_decompress = _decompress or decompress
    pos = 0
    out: list[bytes] = []
    pending: list[bytes] = []
    pending_crcs: list[int] = []

    def flush_pending() -> None:
        if not pending:
            return
        for stored, a in zip(pending_crcs, crc32c.crc32c_batch(pending)):
            if crc32c.mask(a) != stored:
                raise ValueError("snappy frame CRC mismatch")
        out.extend(pending)
        pending.clear()
        pending_crcs.clear()

    while pos < len(data):
        ctype = data[pos]
        length = int.from_bytes(data[pos + 1 : pos + 4], "little")
        body = data[pos + 4 : pos + 4 + length]
        pos += 4 + length
        if ctype == 0xFF:  # stream identifier
            if body != STREAM_IDENTIFIER[4:]:
                flush_pending()  # earlier CRC corruption outranks this
                raise ValueError("bad snappy stream identifier")
            continue
        if ctype in (_CHUNK_COMPRESSED, _CHUNK_UNCOMPRESSED):
            try:
                (crc,) = struct.unpack("<I", body[:4])
                chunk = body[4:]
                if ctype == _CHUNK_COMPRESSED:
                    chunk = chunk_decompress(chunk)
            except Exception:
                flush_pending()  # earlier CRC corruption outranks this
                raise
            pending.append(chunk)
            pending_crcs.append(crc)
            if len(pending) >= _CRC_WINDOW:
                flush_pending()
        elif 0x02 <= ctype <= 0x7F:  # unskippable reserved
            flush_pending()  # earlier CRC corruption outranks this
            raise ValueError(f"unskippable snappy chunk type {ctype:#x}")
        # 0x80..0xFE: skippable — ignore
    flush_pending()
    return b"".join(out)


# batched-CRC verification window for frame_decompress: 64 chunks × 64 KiB
# = 4 MiB of decoded data held back at most before its CRCs are checked
_CRC_WINDOW = 64
