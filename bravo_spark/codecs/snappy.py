"""Snappy: the raw block codec (pyarrow's libsnappy) and the framing format.

Two consumers:

- **raw blocks** — RocksDB compresses each SST block with raw Snappy by
  default, so the incremental-checkpoint reader (sources/sst.py) must
  decompress them (reference: the reader path behind
  RocksDBCheckpointIterator.java:57-254 opens the DB, which decompresses
  transparently).
- **framed stream** — the per-key-group compression gate in
  sources/savepoint.py (reference StateMetadataUtils.java:142-146,
  RocksDBSavepointWriter.java:71-72 use Flink's snappy stream decorator,
  which writes the framing format).

The framing layout is this module's own and is pinned against
org.xerial framed streams in tests/test_snappy.py; the chunk payloads are
libsnappy blocks. The pure-Python block codec is a test oracle
(tests/codec_oracles/snappy.py).

Format: google/snappy format_description.txt and framing_format.txt
(public). Framing CRCs are masked CRC-32C of the UNCOMPRESSED data.
"""

from __future__ import annotations

import struct

import pyarrow as pa

from bravo_spark.codecs import crc32c
from bravo_spark.codecs.varint import read_uvarint

_CODEC = pa.Codec("snappy")


# --- raw block format ---


def compress(data: bytes) -> bytes:
    """Raw-snappy stream: varint length preamble + libsnappy stream."""
    return _CODEC.compress(data, asbytes=True)


def decompress(stream: bytes) -> bytes:
    """Decode a raw-snappy stream (the declared size is in its preamble)."""
    try:
        size, _pos = read_uvarint(stream, 0)
        return _CODEC.decompress(stream, size, asbytes=True)
    except Exception as e:  # pyarrow raises OSError on corruption
        raise ValueError(f"corrupt snappy: {e}") from e


# --- framing format (framing_format.txt) ---

STREAM_IDENTIFIER = b"\xff\x06\x00\x00sNaPpY"
_CHUNK_COMPRESSED = 0x00
_CHUNK_UNCOMPRESSED = 0x01
_MAX_UNCOMPRESSED_CHUNK = 65536


def frame_compress(data: bytes) -> bytes:
    """Whole-buffer framed compression (stream identifier + data chunks)."""
    chunks = [
        data[pos : pos + _MAX_UNCOMPRESSED_CHUNK]
        for pos in range(0, len(data), _MAX_UNCOMPRESSED_CHUNK)
    ]
    crcs = crc32c.crc32c_batch(chunks)
    out = bytearray(STREAM_IDENTIFIER)
    for chunk, crc in zip(chunks, crcs):
        crc = crc32c.mask(crc)
        comp = compress(chunk)
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


def frame_decompress(data: bytes) -> bytes:
    """Whole-buffer framed decompression; verifies chunk CRCs.

    Verification is INCREMENTAL: a pending window of at most
    ``_CRC_WINDOW`` chunks is checked in one ``crc32c_batch`` call, and
    flushed before any parse error, so a corrupt early chunk raises "CRC
    mismatch" without first decoding a multi-GB stream, and CRC errors
    win over later parse errors."""
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
                    chunk = decompress(chunk)
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
