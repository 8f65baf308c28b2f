"""Zstandard frame headers (RFC 8878): magic numbers, error types and a
header-only frame measure.

RocksDB's ``kZSTD`` (=7) SST blocks are a varint32 decompressed-size
prefix followed by a standard zstd frame, and Spark's zstd state files,
WARC ``.warc.zst`` members and Avro ``zstandard`` blocks are zstd frames
too. Every decode and encode runs through pyarrow's libzstd
(codecs/fastpath.py); this module keeps only what needs no codec:
:func:`inspect_frame`, which WARC and Avro use to check declared sizes
and one-frame-per-block framing before any decompression, and the error
types those checks and the bounded stream decoder raise.
"""

from __future__ import annotations

import struct

ZSTD_MAGIC = 0xFD2FB528
SKIPPABLE_MAGIC_MIN = 0x184D2A50
SKIPPABLE_MAGIC_MAX = 0x184D2A5F


class ZstdError(ValueError):
    pass


class ZstdBoundError(ZstdError):
    """Decoded output exceeded the caller's ``max_bytes`` ceiling — a
    decompression bomb under the caller's bound. A DISTINCT type (not
    just message prose) so callers classify bomb-vs-corruption refusals
    by ``isinstance``, immune to message rewording."""


def inspect_frame(data: bytes, pos: int = 0) -> tuple[str, int, int | None]:
    """Measure the single frame starting at ``pos`` from HEADERS alone —
    no decompression: → ``(kind, compressed_length, content_size)``.
    ``kind`` is ``"zstd"`` or ``"skippable"``; ``compressed_length``
    spans magic through checksum; ``content_size`` is the declared
    Frame_Content_Size (None when the header omits it, always None for
    skippable frames). Callers use this to pre-check decompression
    bombs (declared size over a ceiling) and framing contracts (exactly
    one frame per container block) before any decode work. Raises
    ZstdError on bad magic, reserved bits, or truncation."""
    start = pos
    n = len(data)
    if n - pos < 4:
        raise ZstdError("truncated frame magic")
    (magic,) = struct.unpack_from("<I", data, pos)
    pos += 4
    if SKIPPABLE_MAGIC_MIN <= magic <= SKIPPABLE_MAGIC_MAX:
        if n - pos < 4:
            raise ZstdError("truncated skippable frame size")
        (sz,) = struct.unpack_from("<I", data, pos)
        end = pos + 4 + sz
        if end > n:
            raise ZstdError("skippable frame overruns the buffer")
        return ("skippable", end - start, None)
    if magic != ZSTD_MAGIC:
        raise ZstdError(f"bad zstd magic 0x{magic:08x}")
    if pos >= n:
        raise ZstdError("truncated frame header")
    fhd = data[pos]
    pos += 1
    fcs_flag = fhd >> 6
    single_segment = (fhd >> 5) & 1
    checksum_flag = (fhd >> 2) & 1
    did_flag = fhd & 3
    if fhd & 0x08:
        raise ZstdError("reserved frame-header bit set")
    if not single_segment:
        pos += 1  # window descriptor
    pos += (0, 1, 2, 4)[did_flag]
    fcs_size = (1 if single_segment else 0, 2, 4, 8)[fcs_flag]
    content_size = None
    if fcs_size:
        if pos + fcs_size > n:
            raise ZstdError("truncated frame content size")
        content_size = int.from_bytes(data[pos : pos + fcs_size], "little")
        if fcs_size == 2:
            content_size += 256
        pos += fcs_size
    while True:
        if pos + 3 > n:
            raise ZstdError("truncated block header")
        bh = int.from_bytes(data[pos : pos + 3], "little")
        pos += 3
        last, btype, bsize = bh & 1, (bh >> 1) & 3, bh >> 3
        if btype == 3:
            raise ZstdError("reserved block type")
        pos += 1 if btype == 1 else bsize
        if pos > n:
            raise ZstdError("block overruns the buffer")
        if last:
            break
    if checksum_flag:
        pos += 4
        if pos > n:
            raise ZstdError("truncated content checksum")
    return ("zstd", pos - start, content_size)
