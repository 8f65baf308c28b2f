"""Unsigned LEB128 varints: the length and size fields of RocksDB SST
blocks, handles and properties, MANIFEST VersionEdits and the raw-snappy
length preamble."""

from __future__ import annotations


def read_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    """Decode the varint at ``buf[pos]``: ``(value, position after it)``."""
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


def write_uvarint(v: int) -> bytes:
    out = bytearray()
    while True:
        if v < 0x80:
            out.append(v)
            return bytes(out)
        out.append((v & 0x7F) | 0x80)
        v >>= 7
