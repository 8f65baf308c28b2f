"""codecs/fastpath.py — native (pyarrow) codec fast paths must be
format-identical to the pure-Python spec implementations
(tests/codec_oracles/): every stream one side writes, the other decodes,
and the framing layers produce streams the pure parser accepts
bit-for-bit at the layout level."""

from __future__ import annotations

import pytest

from bravo_spark.codecs import fastpath
from codec_oracles import lz4 as plz4
from codec_oracles import snappy as psnappy
from codec_oracles import zstd as pzstd

DATA = [
    b"",
    b"x",
    b"the quick brown fox jumps over the lazy dog " * 200,
    bytes(range(256)) * 128,
    b"\x00" * 70000,  # multi-chunk for the framing layer
]


def test_fastpath_is_active_in_this_environment():
    # libsnappy finds back-references; the literal-only pure compressor
    # would return more than the input
    assert len(fastpath.snappy_compress(b"a" * 4096)) < 1024


@pytest.mark.parametrize("data", DATA, ids=range(len(DATA)))
def test_snappy_cross(data):
    fast = fastpath.snappy_compress(data)
    assert psnappy.decompress(fast) == data
    assert fastpath.snappy_decompress(psnappy.compress(data)) == data
    assert fastpath.snappy_decompress(fast) == data


@pytest.mark.parametrize("data", DATA, ids=range(len(DATA)))
def test_lz4_block_cross(data):
    fast = fastpath.lz4_compress_block(data)
    assert plz4.decompress_block(fast, len(data)) == data
    pure = plz4.compress_block(data)
    assert fastpath.lz4_decompress_block(pure, len(data)) == data


@pytest.mark.parametrize("data", DATA, ids=range(len(DATA)))
def test_zstd_cross(data):
    frame = fastpath.zstd_compress(data)
    assert pzstd.decompress(frame) == data  # pure decoder reads native frames
    assert fastpath.zstd_decompress(frame, len(data)) == data
    assert fastpath.zstd_decompress_stream(frame) == data


def test_zstd_stream_without_content_size():
    """Streaming writers omit the frame-header content size — the exact
    shape Spark's zstd state files have; the stream decoder must not need
    a declared size."""
    import pyarrow as pa

    data = b"state bytes " * 5000
    sink = pa.BufferOutputStream()
    with pa.CompressedOutputStream(sink, "zstd") as s:
        s.write(data)
    frame = bytes(sink.getvalue())
    assert fastpath.zstd_decompress_stream(frame) == data
    assert pzstd.decompress(frame) == data  # pure decoder agrees


@pytest.mark.parametrize("data", DATA, ids=range(len(DATA)))
def test_snappy_framing_cross(data):
    framed_fast = fastpath.frame_compress(data)
    # the pure parser (scalar CRC path) accepts the fast stream, and the
    # fast parser accepts the pure stream
    assert psnappy.frame_decompress(framed_fast) == data
    assert fastpath.frame_decompress(psnappy.frame_compress(data)) == data


def test_snappy_framing_crc_still_verifies():
    framed = bytearray(fastpath.frame_compress(b"payload payload payload"))
    framed[-1] ^= 0xFF  # corrupt the last data byte of the last chunk
    with pytest.raises(ValueError, match="CRC mismatch|corrupt snappy"):
        fastpath.frame_decompress(bytes(framed))


def test_lz4_java_stream_cross():
    for data in DATA:
        framed = fastpath.lz4_java_encode_stream(data)
        # decode via the spark_state parser (the consumer of this framing)
        from bravo_spark.sources import spark_state as ss

        assert ss.decode_stream(framed) == data


def test_corruption_raises_valueerror():
    good = fastpath.snappy_compress(b"abcdef" * 100)
    with pytest.raises(ValueError):
        fastpath.snappy_decompress(good[:3])
    zf = fastpath.zstd_compress(b"qqq" * 100)
    with pytest.raises(ValueError):
        fastpath.zstd_decompress(zf[:5], 300)
    lf = fastpath.lz4_compress_block(b"zzz" * 100)
    with pytest.raises(ValueError):
        fastpath.lz4_decompress_block(lf[: max(1, len(lf) // 2)], 300)


def test_sst_zstd_write_roundtrip(tmp_path):
    """SstWriter zstd blocks (fastpath-only capability) round-trip through
    our reader with checksums verified."""
    import struct

    from bravo_spark.sources import sst as sstmod

    path = str(tmp_path / "z.sst")
    entries = [
        (struct.pack(">Q", i), 1, sstmod.TYPE_VALUE, b"v%d" % i * 20)
        for i in range(2000)
    ]
    w = sstmod.SstWriter(
        path, column_family="Z", column_family_id=1,
        compression=sstmod.ZSTD_COMPRESSION,
    )
    for k, s, t, v in entries:
        w.add(k, s, t, v)
    w.finish()
    r = sstmod.SstReader(path, verify_checksums=True)
    got = [(k, s, t, v) for k, s, t, v in r.iter_entries()]
    assert got == entries


# --- property fuzz: fast and pure implementations are interchangeable ---

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _blob = st.binary(min_size=0, max_size=70_000)

    @given(_blob)
    @settings(max_examples=60, deadline=None)
    def test_prop_snappy_interchangeable(data):
        assert psnappy.decompress(fastpath.snappy_compress(data)) == data
        assert fastpath.snappy_decompress(psnappy.compress(data)) == data

    @given(_blob)
    @settings(max_examples=60, deadline=None)
    def test_prop_lz4_interchangeable(data):
        assert (
            plz4.decompress_block(fastpath.lz4_compress_block(data), len(data))
            == data
        )
        assert (
            fastpath.lz4_decompress_block(plz4.compress_block(data), len(data))
            == data
        )

    @given(_blob)
    @settings(max_examples=40, deadline=None)
    def test_prop_zstd_pure_decodes_native(data):
        assert pzstd.decompress(fastpath.zstd_compress(data)) == data

    @given(_blob)
    @settings(max_examples=40, deadline=None)
    def test_prop_snappy_framing_interchangeable(data):
        assert psnappy.frame_decompress(fastpath.frame_compress(data)) == data
        assert fastpath.frame_decompress(psnappy.frame_compress(data)) == data

    @given(st.lists(st.binary(min_size=0, max_size=5000), max_size=40))
    @settings(max_examples=40, deadline=None)
    def test_prop_crc32c_batch_matches_scalar(blobs):
        from bravo_spark.codecs.crc32c import crc32c, crc32c_batch
        from codec_oracles.crc32c import crc32c_bytewise

        want = [crc32c_bytewise(b) for b in blobs]
        assert crc32c_batch(blobs) == want
        assert [crc32c(b) for b in blobs] == want

except ImportError:  # hypothesis is baked into this container; belt+braces
    pass


def test_stream_bound_holds_on_pure_path():
    """The pure decoder's max_bytes bound holds on a no-Frame_Content_Size
    bomb frame — the shape the WARC/Avro declared-size pre-checks can't
    see — refusing at the ceiling instead of materializing the output."""
    import pyarrow as pa

    from codec_oracles import zstd as pz

    data = b"bomb " * 40_000
    buf = pa.BufferOutputStream()
    with pa.CompressedOutputStream(buf, "zstd") as s:
        s.write(data)
    frame = bytes(buf.getvalue())
    assert pz.inspect_frame(frame)[2] is None  # no declared content size
    with pytest.raises(pz.ZstdBoundError, match="exceeds 4096-byte bound"):
        pz.decompress(frame, max_bytes=4096)
    assert pz.decompress(frame, max_bytes=len(data)) == data


def test_corrupt_frame_not_mislabeled_as_bomb():
    """Review finding: the pure decoder's corruption errors whose text
    contains 'exceeds' ('sequence literal length exceeds literals') must
    surface as corruption, not as the bomb refusal."""
    import pyarrow as pa

    from codec_oracles import zstd as pz

    data = b"corrupt me " * 400
    buf = pa.BufferOutputStream()
    with pa.CompressedOutputStream(buf, "zstd") as s:
        s.write(data)
    frame = bytearray(buf.getvalue())
    # flip bytes until the decode fails somewhere (any corruption error
    # must keep its own message and type; only the bound refuses as one)
    seen = None
    for i in range(12, len(frame)):
        cand = bytes(frame[:i]) + bytes([frame[i] ^ 0xFF]) + bytes(frame[i+1:])
        try:
            pz.decompress(cand)
        except pz.ZstdError as e:
            seen = (cand, str(e))
            break
    assert seen is not None
    cand, msg = seen
    with pytest.raises(pz.ZstdError) as raised:
        pz.decompress(cand, max_bytes=1 << 20)
    assert not isinstance(raised.value, pz.ZstdBoundError) or msg.startswith(
        "decoded output exceeds")


def test_runtime_has_one_codec_path():
    """The runtime has no pure-codec fallback to branch to: nothing under
    bravo_spark/ imports the test oracles or keeps the old availability
    switch and injection parameters, and the xxHash and LEB128 helpers
    exist once."""
    import ast
    import pathlib
    import re

    import bravo_spark

    root = pathlib.Path(bravo_spark.__file__).parent
    banned = re.compile(
        r"\b_CODECS\b|\bfastpath\.available\b|\b_compress=|\b_decompress=")
    defs: dict[str, list[str]] = {}
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        rel = str(path.relative_to(root))
        assert not banned.search(src), rel
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                mods = [node.module or ""]
            else:
                if isinstance(node, ast.FunctionDef):
                    defs.setdefault(node.name, []).append(rel)
                continue
            assert not any("codec_oracles" in m or m.startswith("tests")
                           for m in mods), rel
    assert defs["xxh32"] == defs["xxh64"] == ["codecs/xxh.py"]
    assert defs["read_uvarint"] == defs["write_uvarint"] == ["codecs/varint.py"]
    assert not {"_xxh64", "_read_uvarint", "_write_uvarint", "_varint"} & set(defs)
