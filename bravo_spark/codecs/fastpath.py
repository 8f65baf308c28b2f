"""The block codecs every binary format here runs through: pyarrow's
bundled libsnappy, liblz4 and libzstd.

SST blocks (sources/sst.py), savepoint section framing
(sources/savepoint.py), Spark state files (sources/spark_state.py) and
the Avro, WARC and HTTP body decoders call these names. The snappy and
LZ4 block codecs and their framings live in codecs/snappy.py and
codecs/lz4.py and are re-exported here; zstd has no framing of its own,
so its codec lives here. Every decoder turns a corrupt input into
``ValueError``.

The pure-Python snappy, LZ4 and RFC 8878 zstd codecs are the test
oracles these are cross-validated against (tests/codec_oracles/,
tests/test_fastpath.py); the runtime never imports them.
"""

from __future__ import annotations

import pyarrow as pa

from bravo_spark.codecs.lz4 import (  # noqa: F401  (re-exported)
    compress_block as lz4_compress_block,
    decompress_block as lz4_decompress_block,
    encode_stream as lz4_java_encode_stream,
)
from bravo_spark.codecs.snappy import (  # noqa: F401  (re-exported)
    compress as snappy_compress,
    decompress as snappy_decompress,
    frame_compress,
    frame_decompress,
)
from bravo_spark.codecs.zstd import ZstdBoundError

_ZSTD = pa.Codec("zstd")


def zstd_compress(data: bytes) -> bytes:
    """Standard zstd frame (content size declared in its header)."""
    return _ZSTD.compress(data, asbytes=True)


def zstd_decompress(frame: bytes, dlen: int) -> bytes:
    """Decode a zstd frame to exactly ``dlen`` bytes."""
    try:
        return _ZSTD.decompress(frame, dlen, asbytes=True)
    except Exception as e:
        raise ValueError(f"corrupt zstd frame: {e}") from e


def zstd_decompress_stream(frame: bytes, *, max_bytes: int | None = None) -> bytes:
    """Decode a zstd frame whose content size is NOT known in advance
    (streaming writers often omit the header field — e.g. Spark's
    ZSTDCompressionCodec state files).

    ``max_bytes`` bounds the decompressed output: the stream is read at
    most ``max_bytes + 1`` bytes far, so a bomb frame never materializes
    past the ceiling, even when it omits the Frame_Content_Size header
    field. Passing the ceiling raises :class:`ZstdBoundError`, a type of
    its own, so no corruption error is ever mistaken for a bomb."""
    try:
        with pa.input_stream(pa.BufferReader(frame), compression="zstd") as s:
            if max_bytes is None:
                return s.read()
            chunks: list[bytes] = []
            total = 0
            while True:
                # loop to EOF: a short read must never truncate a
                # LEGAL frame, only the ceiling may stop us
                chunk = s.read(max_bytes + 1 - total)
                if not chunk:
                    break
                chunks.append(bytes(chunk))
                total += len(chunk)
                if total > max_bytes:
                    raise ZstdBoundError(
                        f"zstd frame inflates past {max_bytes} bytes"
                    )
    except ValueError:
        raise
    except Exception as e:
        raise ValueError(f"corrupt zstd frame: {e}") from e
    return b"".join(chunks)
