"""Native-codec fast paths via pyarrow's bundled libsnappy/liblz4/libzstd.

The pure-Python codecs (codecs/snappy.py, lz4.py, zstd.py) are the SPEC
implementations — cross-validated against org.xerial framed streams, real
libzstd, and rocksdbjni-written files — and remain both the fallback when
pyarrow is absent and the reference these fast paths are property-tested
against (tests/test_fastpath.py). Hot paths (SST block codecs, savepoint
section framing) dispatch here: the formats are identical, only the
implementation is C.

Why it matters at 100 TB: the pure snappy COMPRESSOR is literal-only
(always-valid but never smaller), so "snappy" blocks were effectively
stored raw; with libsnappy the blocks genuinely shrink — less shuffle/IO
per checkpoint — and decompression of real compressed checkpoints moves
from per-byte Python to C throughput.
"""

from __future__ import annotations

from bravo_spark.codecs.snappy import _read_uvarint

_UNSET = object()
_CODECS: dict | None | object = _UNSET  # lazily resolved on first use


def _codecs() -> dict | None:
    """Resolve the native codec table on FIRST USE, not at import —
    importing bravo_spark.sources.sst for an uncompressed read (or just
    parse_internal_key) must not pay pyarrow's import cost. Tests may
    monkeypatch ``_CODECS = None`` to force the pure branch."""
    global _CODECS
    if _CODECS is _UNSET:
        try:
            import pyarrow as pa

            _CODECS = {
                "snappy": pa.Codec("snappy"),
                "lz4_raw": pa.Codec("lz4_raw"),
                "zstd": pa.Codec("zstd"),
            }
        except Exception:  # pyarrow absent or built without a codec
            _CODECS = None
    return _CODECS  # type: ignore[return-value]


def __getattr__(name: str):
    # keep the documented `fastpath.available` module attribute, computed
    # lazily so reading it is what triggers the pyarrow load
    if name == "available":
        return _codecs() is not None
    raise AttributeError(name)


def snappy_compress(data: bytes) -> bytes:
    """Raw-snappy stream (varint preamble + stream), libsnappy-compressed
    when available (the pure fallback is always-valid literal-only)."""
    if _codecs() is not None:
        return bytes(_codecs()["snappy"].compress(data))
    from bravo_spark.codecs import snappy as ps

    return ps.compress(data)


def snappy_decompress(stream: bytes) -> bytes:
    """Decode a raw-snappy stream (the declared size is in its preamble)."""
    if _codecs() is not None:
        size, _pos = _read_uvarint(stream, 0)
        try:
            return bytes(_codecs()["snappy"].decompress(stream, size))
        except Exception as e:  # pyarrow raises OSError on corruption
            raise ValueError(f"corrupt snappy: {e}") from e
    from bravo_spark.codecs import snappy as ps

    return ps.decompress(stream)


def lz4_compress_block(data: bytes) -> bytes:
    """Raw LZ4 block (no frame, no length header — RocksDB block shape)."""
    if _codecs() is not None:
        return bytes(_codecs()["lz4_raw"].compress(data))
    from bravo_spark.codecs import lz4 as plz4

    return plz4.compress_block(data)


def lz4_decompress_block(block: bytes, dlen: int) -> bytes:
    if _codecs() is not None:
        try:
            return bytes(_codecs()["lz4_raw"].decompress(block, dlen))
        except Exception as e:
            raise ValueError(f"corrupt lz4 block: {e}") from e
    from bravo_spark.codecs import lz4 as plz4

    return plz4.decompress_block(block, dlen)


def zstd_compress(data: bytes) -> bytes:
    """Standard zstd frame. No pure-Python COMPRESSOR exists in this repo
    (the RFC 8878 implementation is decode-only), so this raises when
    pyarrow is unavailable — callers expose zstd WRITE paths only through
    here."""
    if _codecs() is None:
        raise ValueError(
            "no zstd compressor in this environment (pyarrow unavailable; "
            "the pure-Python zstd codec is decode-only)"
        )
    return bytes(_codecs()["zstd"].compress(data))


def zstd_decompress(frame: bytes, dlen: int) -> bytes:
    if _codecs() is not None:
        try:
            return bytes(_codecs()["zstd"].decompress(frame, dlen))
        except Exception as e:
            raise ValueError(f"corrupt zstd frame: {e}") from e
    from bravo_spark.codecs import zstd as pz

    out = pz.decompress(frame)
    if len(out) != dlen:
        raise ValueError(
            f"corrupt zstd frame: decoded {len(out)} != declared {dlen}"
        )
    return out


def zstd_decompress_stream(frame: bytes, *, max_bytes: int | None = None) -> bytes:
    """Decode a zstd frame whose content size is NOT known in advance
    (streaming writers often omit the header field — e.g. Spark's
    ZSTDCompressionCodec state files). Uses pyarrow's CompressedInputStream
    when available, else the pure RFC 8878 decoder.

    ``max_bytes`` bounds the decompressed output on BOTH paths: the
    pyarrow path reads at most ``max_bytes + 1`` bytes, and the pure
    path threads the bound into the frame decoder (checked per block
    and per sequence match copy) — so a bomb frame never materializes
    past the ceiling in either environment, even when it omits the
    Frame_Content_Size header field."""
    if _codecs() is not None:
        import pyarrow as pa

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
                        from bravo_spark.codecs import zstd as pz

                        raise pz.ZstdBoundError(
                            f"zstd frame inflates past {max_bytes} bytes"
                        )
        except ValueError:
            raise
        except Exception as e:
            raise ValueError(f"corrupt zstd frame: {e}") from e
        return b"".join(chunks)
    from bravo_spark.codecs import zstd as pz

    # the bound is threaded INTO the decoder so a bomb frame that omits
    # Frame_Content_Size refuses before materializing past the ceiling
    # (a post-hoc len() check would allocate the whole bomb first)
    try:
        return pz.decompress(frame, max_bytes=max_bytes)
    except pz.ZstdBoundError as e:
        # the bound refusal is a TYPE (not message prose), so corruption
        # errors whose text happens to contain 'exceeds' ('jump table
        # exceeds…', 'sequence literal length exceeds…') can never be
        # mislabeled as decompression bombs
        raise pz.ZstdBoundError(
            f"zstd frame inflates past {max_bytes} bytes") from e


def lz4_java_encode_stream(payload: bytes, block_size: int = 32 * 1024) -> bytes:
    """lz4-java LZ4BlockOutputStream framing with the native block
    compressor when available (the framing layout, checksums, and EOF
    marker stay owned by codecs/lz4.py either way)."""
    from bravo_spark.codecs import lz4 as plz4

    if _codecs() is None:
        return plz4.encode_stream(payload, block_size)
    return plz4.encode_stream(payload, block_size, _compress=lz4_compress_block)


def frame_compress(data: bytes) -> bytes:
    """Snappy FRAMING format with fast chunk compression; falls back to
    the pure chunk compressor. Output is a valid
    framed stream either way (the chunk payload bytes differ — libsnappy
    finds back-references the literal-only pure compressor doesn't)."""
    from bravo_spark.codecs import snappy as ps

    if _codecs() is None:
        return ps.frame_compress(data)
    return ps.frame_compress(data, _compress=snappy_compress)


def frame_decompress(data: bytes) -> bytes:
    from bravo_spark.codecs import snappy as ps

    if _codecs() is None:
        return ps.frame_decompress(data)
    return ps.frame_decompress(data, _decompress=snappy_decompress)
