"""Pure-Python zstd decoder (tests/codec_oracles/zstd.py) vs the real libzstd.

pyarrow bundles libzstd; every payload here is compressed by the genuine
implementation and must decode byte-exactly. Payload shapes are chosen to
force each format feature: RLE blocks, Huffman-compressed literals (direct
and FSE-compressed weights, 1- and 4-stream), treeless repeats across
blocks, all sequence-table modes, repeat offsets, multi-block frames.
The rocksdbjni cross-check (test_rocksdb_native.py) covers the RocksDB
framing (varint32 size + frame) on top of this.
"""

from __future__ import annotations

import random

import pytest

from codec_oracles import zstd

pa = pytest.importorskip("pyarrow")


def _codec(level: int):
    return pa.Codec("zstd", compression_level=level)


def _roundtrip(data: bytes, level: int = 3) -> None:
    comp = _codec(level).compress(data, asbytes=True)
    assert zstd.decompress(comp) == data


def test_empty_and_tiny():
    _roundtrip(b"")
    _roundtrip(b"a")
    _roundtrip(b"ab" * 3)


def test_rle_heavy():
    # encoder emits RLE blocks / RLE literals for constant runs
    _roundtrip(b"a" * 100_000)
    _roundtrip(b"\x00" * 1_000)


def test_text_sequences_and_repeat_offsets():
    # periodic text exercises matches with repeat-offset reuse
    _roundtrip(b"the quick brown fox jumps over the lazy dog. " * 2_000)
    _roundtrip(b"0123456789abcdef" * 50_000)  # > 128 KiB: multi-block


def test_incompressible_raw_blocks():
    rng = random.Random(7)
    _roundtrip(rng.randbytes(200_000))


def test_mixed_entropy_all_levels():
    rng = random.Random(11)
    data = b"".join(
        rng.randbytes(40) if i % 3 == 0 else b"block-%d|" % (i % 13)
        for i in range(5_000)
    )
    for level in (1, 3, 9, 19, 22):
        _roundtrip(data, level)


def test_few_symbol_alphabet_huffman():
    # small alphabet drives Huffman literals with FSE-compressed weights
    rng = random.Random(13)
    _roundtrip(bytes(rng.choice(b"ACGT") for _ in range(80_000)), 19)


def test_structured_kv_payload():
    # the shape SST blocks actually have: delta-prefixed keys + values
    data = b"".join(
        b"key%08d\x00payload-%d|" % (i, i % 7) for i in range(20_000)
    )
    for level in (1, 3, 19):
        _roundtrip(data, level)


def test_multi_frame_concatenation():
    c = _codec(3)
    f1 = c.compress(b"hello " * 100, asbytes=True)
    f2 = c.compress(b"world " * 100, asbytes=True)
    assert zstd.decompress(f1 + f2) == b"hello " * 100 + b"world " * 100


def test_skippable_frame_is_skipped():
    c = _codec(3)
    frame = c.compress(b"payload", asbytes=True)
    skippable = (0x184D2A50).to_bytes(4, "little") + (3).to_bytes(4, "little") + b"xyz"
    assert zstd.decompress(skippable + frame) == b"payload"


def test_bad_magic_rejected():
    with pytest.raises(zstd.ZstdError, match="magic"):
        zstd.decompress(b"\x00\x01\x02\x03rest")


def test_truncated_frame_rejected():
    comp = _codec(3).compress(b"some compressible text " * 50, asbytes=True)
    with pytest.raises(Exception):
        zstd.decompress(comp[: len(comp) // 2])


def test_corrupt_body_detected():
    data = b"the quick brown fox " * 200
    comp = bytearray(_codec(3).compress(data, asbytes=True))
    comp[len(comp) // 2] ^= 0xFF
    try:
        out = zstd.decompress(bytes(comp))
        # frame content size is present in pyarrow frames, so a silent
        # wrong-size decode must not happen
        assert out != data
    except zstd.ZstdError:
        pass  # detected — fine


def test_xxh64_known_vectors():
    # XXH64 reference vectors (seed 0)
    assert zstd._xxh64(b"") == 0xEF46DB3751D8E999
    assert zstd._xxh64(b"a") == 0xD24EC4F1A98C6E5B
    assert zstd._xxh64(b"abc") == 0x44BC2CF5AD770999
    # >32 bytes exercises the 4-lane loop
    assert (
        zstd._xxh64(b"0123456789abcdef0123456789abcdef0123456789")
        == zstd._xxh64(b"0123456789abcdef0123456789abcdef0123456789")
    )


def test_fuzz_random_seeds():
    for seed in range(20):
        rng = random.Random(seed)
        n = rng.randrange(0, 30_000)
        # graded compressibility
        parts = []
        while sum(map(len, parts)) < n:
            r = rng.random()
            if r < 0.3:
                parts.append(rng.randbytes(rng.randrange(1, 100)))
            elif r < 0.6:
                parts.append(b"repeat-%d " % rng.randrange(5) * rng.randrange(1, 30))
            else:
                parts.append(bytes([rng.randrange(4)]) * rng.randrange(1, 500))
        data = b"".join(parts)[:n]
        level = rng.choice((1, 3, 9, 19))
        _roundtrip(data, level)


def _frame_with_nseq(nseq: int) -> tuple[bytes, bytes]:
    """Hand-assemble a valid one-block frame containing exactly ``nseq``
    sequences (RLE tables: ll=1, of_code=2 with zero extra bits -> offset 1,
    ml=3). Each sequence emits one literal then repeats it 3x, so the
    expected output is each literal byte quadrupled. Returns
    (frame, expected)."""
    literals = bytes(i & 0xFF for i in range(nseq))
    expected = b"".join(bytes([b]) * 4 for b in literals)
    # raw literals, size_format=3 (20-bit regen size, 3-byte header)
    lit_hdr = bytes(
        [0x0C | ((nseq & 0xF) << 4), (nseq >> 4) & 0xFF, nseq >> 12])
    # sequences header for nseq >= 0x7F00: byte0=255, then ADD semantics
    assert nseq >= 0x7F00
    rem = nseq - 0x7F00
    seq_hdr = bytes([255, rem & 0xFF, rem >> 8])
    scm = bytes([0x54])  # RLE mode for ll/of/ml
    rle_syms = bytes([1, 2, 0])  # ll=1(0 bits), of_code=2, ml_code=0 -> ml=3
    # per sequence only the 2 offset bits are read (all zero); RLE states
    # and 0-bit ll/ml codes consume nothing. Backward stream: payload bits
    # then the padding-sentinel byte.
    nbits = 2 * nseq
    bitstream = b"\x00" * (nbits // 8) + bytes([1 << (nbits % 8)])
    block = lit_hdr + literals + seq_hdr + scm + rle_syms + bitstream
    bh = (1 | (2 << 1) | (len(block) << 3)).to_bytes(3, "little")
    fhd = bytes([(2 << 6) | (1 << 5)])  # 4-byte fcs, single-segment
    frame = (
        (0xFD2FB528).to_bytes(4, "little")
        + fhd
        + len(expected).to_bytes(4, "little")
        + bh
        + block
    )
    return frame, expected


def test_huge_sequence_count_header():
    # nseq >= 0x7F00 uses the 3-byte header whose spec is byte1 +
    # (byte2 << 8) + 0x7F00 (addition, not OR): 0x8000 has bit 15 set,
    # which bitwise-OR with 0x7F00 would corrupt to 0x7F00.
    frame, expected = _frame_with_nseq(0x8000)
    assert zstd.decompress(frame) == expected
    # cross-check the hand-built frame against the real libzstd
    assert _codec(3).decompress(frame, len(expected), asbytes=True) == expected


def test_large_sequence_count_no_carry():
    # a count in [0x7F00, 0x8000) where OR == ADD — guards the header
    # parse itself independent of the carry case
    frame, expected = _frame_with_nseq(0x7F05)
    assert zstd.decompress(frame) == expected
    assert _codec(3).decompress(frame, len(expected), asbytes=True) == expected


def test_dictionary_frames_rejected():
    # hand-build a frame header claiming dictionary id 7: FHD with
    # did_flag=1, single_segment=1, fcs_flag=0 (1-byte fcs)
    fhd = (0 << 6) | (1 << 5) | (0 << 2) | 1
    frame = (
        (0xFD2FB528).to_bytes(4, "little")
        + bytes([fhd, 7, 0])  # did=7, fcs=0
        + (1).to_bytes(3, "little")  # last raw block, size 0
    )
    with pytest.raises(zstd.ZstdError, match="dictionary"):
        zstd.decompress(frame)


def test_inspect_frame_matches_libzstd_lengths():
    """inspect_frame must measure EXACTLY the frame libzstd produced —
    for every compressibility profile and level — and report the
    declared content size; trailing bytes are never counted."""
    for seed in range(20):
        rng = random.Random(1000 + seed)
        n = rng.randrange(0, 30_000)
        parts = []
        while sum(map(len, parts)) < n:
            r = rng.random()
            if r < 0.3:
                parts.append(rng.randbytes(rng.randrange(1, 100)))
            elif r < 0.6:
                parts.append(b"rep-%d " % rng.randrange(5) * rng.randrange(1, 30))
            else:
                parts.append(bytes([rng.randrange(4)]) * rng.randrange(1, 500))
        data = b"".join(parts)[:n]
        level = rng.choice((1, 3, 9, 19))
        frame = _codec(level).compress(data, asbytes=True)
        kind, clen, csize = zstd.inspect_frame(frame)
        assert kind == "zstd"
        assert clen == len(frame)
        assert csize is None or csize == len(data)
        # a second frame appended must not change the first measurement
        kind2, clen2, _ = zstd.inspect_frame(frame + frame)
        assert (kind2, clen2) == ("zstd", len(frame))


def test_inspect_frame_skippable_and_errors():
    import struct as _struct

    sk = _struct.pack("<II", 0x184D2A50, 6) + b"dictab"
    assert zstd.inspect_frame(sk) == ("skippable", 14, None)
    with pytest.raises(zstd.ZstdError, match="magic"):
        zstd.inspect_frame(b"\x00\x01\x02\x03\x04")
    frame = _codec(3).compress(b"hello world" * 50, asbytes=True)
    for cut in (2, 5, len(frame) - 1):
        with pytest.raises(zstd.ZstdError):
            zstd.inspect_frame(frame[:cut])


def _no_fcs_frame(data: bytes) -> bytes:
    """A frame whose header OMITS Frame_Content_Size — what streaming
    compressors emit (pyarrow's CompressedOutputStream here), invisible
    to declared-size pre-checks like warc.py's inspect_frame gate."""
    import pyarrow as pa

    buf = pa.BufferOutputStream()
    with pa.CompressedOutputStream(buf, "zstd") as s:
        s.write(data)
    frame = bytes(buf.getvalue())
    assert zstd.inspect_frame(frame)[2] is None  # genuinely undeclared
    return frame


def test_max_bytes_bounds_no_fcs_frame():
    """decompress(max_bytes=...) must refuse a bomb frame BEFORE
    materializing past the ceiling even when the frame omits
    Frame_Content_Size — the r17 ADVICE gap: the pure fallback used to
    decode the whole frame and len()-check after the fact."""
    data = b"bomb " * 40_000  # ~200 KB from a ~34-byte frame
    frame = _no_fcs_frame(data)
    with pytest.raises(zstd.ZstdError, match="exceeds"):
        zstd.decompress(frame, max_bytes=4096)
    # the bound is a ceiling, not a truncation: at/above the true size
    # the full content comes back byte-identical
    assert zstd.decompress(frame, max_bytes=len(data)) == data
    assert zstd.decompress(frame) == data


def test_max_bytes_bounds_sequence_bomb_inside_one_block():
    """The per-SEQUENCE check: a single compressed block can expand by
    orders of magnitude through match copies, so the bound must fire
    inside the block decode loop, not just between blocks."""
    frame, expected = _frame_with_nseq(0x8000)  # one block, 128 KiB out
    with pytest.raises(zstd.ZstdError, match="exceeds"):
        zstd.decompress(frame, max_bytes=1024)
    assert zstd.decompress(frame, max_bytes=len(expected)) == expected
