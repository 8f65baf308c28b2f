"""Pure-Python raw Snappy block codec (google/snappy
format_description.txt), the reference the native snappy path is tested
against. Decompression implements the full format (literals and all three
copy element kinds); compression emits literal-only output, valid Snappy
any decoder accepts. The framing format is the runtime's own, re-exported
here so the tests address one module."""

from __future__ import annotations

from bravo_spark.codecs.snappy import (  # noqa: F401  (re-exported for tests)
    STREAM_IDENTIFIER,
    frame_compress,
    frame_decompress,
)
from bravo_spark.codecs.varint import read_uvarint as _read_uvarint
from bravo_spark.codecs.varint import write_uvarint as _write_uvarint


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

