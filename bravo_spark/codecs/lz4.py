"""LZ4: the raw block codec (pyarrow's liblz4) and lz4-java's stream framing.

Raw blocks are RocksDB's SST block format for kLZ4Compression /
kLZ4HCCompression (HC changes only the encoder's match search, the block
format is identical). :func:`encode_stream` frames a payload the way
lz4-java's ``LZ4BlockOutputStream`` does, which is how Spark's state-store
files are written under the default lz4 codec. The pure-Python block
codec is a test oracle (tests/codec_oracles/lz4.py).
"""

from __future__ import annotations

import struct as _struct

import pyarrow as pa

from bravo_spark.codecs.xxh import xxh32

_CODEC = pa.Codec("lz4_raw")


def compress_block(data: bytes) -> bytes:
    """Raw LZ4 block (no frame, no length header — RocksDB block shape)."""
    return _CODEC.compress(data, asbytes=True)


def decompress_block(block: bytes, dlen: int) -> bytes:
    """Decode one raw LZ4 block to exactly ``dlen`` bytes."""
    try:
        return _CODEC.decompress(block, dlen, asbytes=True)
    except Exception as e:
        raise ValueError(f"corrupt lz4 block: {e}") from e


LZ4_BLOCK_MAGIC = b"LZ4Block"
_LZ4_JAVA_SEED = 0x9747B28C
_METHOD_RAW = 0x10
_METHOD_LZ4 = 0x20


def encode_stream(payload: bytes, block_size: int = 32 * 1024) -> bytes:
    """Frame ``payload`` as an lz4-java ``LZ4BlockOutputStream`` stream —
    the layout Spark's state-store files use under the default
    ``spark.sql.streaming.stateStore.compression.codec=lz4``. Per block:
    magic, token (method | log2(blockSize)-10), compressedLen,
    originalLen, XXH32(seed 0x9747b28c) of the original bytes (all LE
    ints), then the block; terminated by an empty RAW block. lz4-java's
    reader verifies the checksum, so it must be bit-exact (pinned by
    decoding with the real LZ4BlockInputStream in test_spark_state)."""
    level = max((block_size - 1).bit_length() - 10, 0)
    token_raw = _METHOD_RAW | level
    token_lz4 = _METHOD_LZ4 | level
    out = bytearray()
    for i in range(0, len(payload), block_size):
        chunk = payload[i : i + block_size]
        comp = compress_block(chunk)
        # lz4-java keeps only the low 28 bits of the hash
        check = xxh32(chunk, _LZ4_JAVA_SEED) & 0xFFFFFFF
        if len(comp) >= len(chunk):
            out += LZ4_BLOCK_MAGIC
            out += bytes([token_raw])
            out += _struct.pack("<iiI", len(chunk), len(chunk), check)
            out += chunk
        else:
            out += LZ4_BLOCK_MAGIC
            out += bytes([token_lz4])
            out += _struct.pack("<iiI", len(comp), len(chunk), check)
            out += comp
    out += LZ4_BLOCK_MAGIC
    out += bytes([token_raw])
    out += _struct.pack("<iii", 0, 0, 0)
    return bytes(out)
