"""CRC-32C by the table-driven byte loop, the reference the blocked
numpy kernel in ``bravo_spark.codecs.crc32c`` is tested against."""

from __future__ import annotations

from bravo_spark.codecs.crc32c import _byte_loop


def crc32c_bytewise(data: bytes, crc: int = 0) -> int:
    """CRC-32C by the table-driven byte loop."""
    return _byte_loop(data, crc ^ 0xFFFFFFFF) ^ 0xFFFFFFFF
