"""Pure-Python Snappy codec: golden vectors from the published format
(google/snappy format_description.txt + framing_format.txt) plus
property round-trips. The decompressor is the interoperability-critical
half (RocksDB SST blocks, Flink framed sections); golden vectors pin it
to the format, not to our own compressor."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from bravo_spark.codecs import crc32c
from codec_oracles import snappy
from codec_oracles.crc32c import crc32c_bytewise


# --- crc32c golden vectors (rfc 3720 / kat values) ---


# RFC 3720 B.4 vectors, plus the "123456789" check value and the empty
# message; each runs through the byte loop and the numpy kernel
_CRC32C_VECTORS = [
    (b"123456789", 0xE3069283),
    (b"", 0),
    (b"\x00" * 32, 0x8A9136AA),
    (b"\xff" * 32, 0x62A8AB43),
    (bytes(range(32)), 0x46DD794E),
    (bytes(range(31, -1, -1)), 0x113FDB5C),
    (bytes.fromhex(
        "01c00000000000000000000000000000"
        "14000000000004000000001400000018"
        "28000000000000000200000000000000"),
     0xD9963A56),
]


def test_crc32c_golden():
    for data, want in _CRC32C_VECTORS:
        assert crc32c.crc32c(data) == want
        assert crc32c_bytewise(data) == want
        assert crc32c.crc32c_batch([data]) == [want]
        if len(data) >= 4:  # the kernel takes messages of 4+ bytes
            assert int(crc32c._registers([data], 0xFFFFFFFF)[0]) ^ 0xFFFFFFFF == want


def test_crc32c_mask_roundtrip():
    for v in (0, 1, 0xE3069283, 0xFFFFFFFF):
        assert crc32c.unmask(crc32c.mask(v)) == v


# --- raw block format ---


def test_decompress_literal_golden():
    # [uvarint 5][tag: literal len-1=4 -> 0x10]["hello"]
    assert snappy.decompress(b"\x05\x10hello") == b"hello"


def test_decompress_copy1_golden():
    # "abcd" then copy len 4 offset 4 -> "abcdabcd"
    # copy1 tag: kind=1, len-4=0 in bits 2-4, offset high 3 bits in 5-7
    # offset=4 -> high bits 0, next byte 4
    raw = b"\x08" + b"\x0c" + b"abcd" + b"\x01\x04"
    assert snappy.decompress(raw) == b"abcdabcd"


def test_decompress_overlapping_copy_rle():
    # snappy RLE: literal "a", copy offset 1 len 8 -> "a"*9
    # copy1: len=8 -> (8-4)=4 in bits 2-4 -> tag 0x11, offset byte 1
    raw = b"\x09" + b"\x00" + b"a" + b"\x11\x01"
    assert snappy.decompress(raw) == b"a" * 9


def test_decompress_copy2_golden():
    # literal "xy", copy2 offset 2 len 2 -> "xyxy"
    # copy2 tag: kind=2, len-1=1 -> 0x06; offset LE16 = 0x0002
    raw = b"\x04" + b"\x04" + b"xy" + b"\x06\x02\x00"
    assert snappy.decompress(raw) == b"xyxy"


def test_long_literal_length_bytes():
    data = bytes(range(256)) * 2  # 512 bytes, needs 2-byte literal length
    assert snappy.decompress(snappy.compress(data)) == data


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=4096))
def test_raw_roundtrip(data):
    assert snappy.decompress(snappy.compress(data)) == data


@settings(max_examples=50, deadline=None)
@given(st.binary(max_size=300000))
def test_raw_roundtrip_large(data):
    assert snappy.decompress(snappy.compress(data)) == data


# --- framing format ---


def test_frame_stream_identifier():
    out = snappy.frame_compress(b"abc")
    assert out.startswith(b"\xff\x06\x00\x00sNaPpY")


def test_frame_crc_verified():
    out = bytearray(snappy.frame_compress(b"payload"))
    out[-1] ^= 0xFF  # corrupt last data byte
    try:
        snappy.frame_decompress(bytes(out))
        raise AssertionError("corrupt frame accepted")
    except ValueError:
        pass


def test_frame_skippable_chunks_ignored():
    framed = bytearray(snappy.frame_compress(b"data"))
    # insert a skippable chunk (type 0x80) after the stream identifier
    framed[10:10] = b"\x80\x03\x00\x00xyz"
    assert snappy.frame_decompress(bytes(framed)) == b"data"


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=200000))
def test_frame_roundtrip(data):
    assert snappy.frame_decompress(snappy.frame_compress(data)) == data


# --- foreign vectors from the REAL xerial snappy-java (Spark's JVM) -------
#
# Flink's SnappyStreamCompressionDecorator wraps key-group sections in
# org.xerial.snappy.SnappyFramedOutputStream — the exact class below. A
# compressed savepoint section from a real Flink cluster is therefore
# byte-compatible with these streams, which (unlike our literal-only
# compressor) contain genuinely compressed chunks: the decompressor's
# first true-compressor pin.


def _jvm_framed_compress(spark, payload: bytes) -> bytes:
    j = spark._jvm
    bos = j.java.io.ByteArrayOutputStream()
    out = j.org.xerial.snappy.SnappyFramedOutputStream(bos)
    out.write(payload, 0, len(payload))
    out.close()
    return bytes(bos.toByteArray())


def test_xerial_framed_stream_decodes(spark):
    # compressible payload (xerial emits real copy-op chunks), an
    # incompressible tail (xerial falls back to uncompressed chunks), and
    # a >64 KiB body (multiple frames)
    import random

    rnd = random.Random(12)
    payloads = [
        b"",
        b"abc" * 10,
        bytes(range(256)) * 600,                       # compressible, 2+ frames
        bytes(rnd.randrange(256) for _ in range(70000)),  # incompressible
        (b"the quick brown fox " * 4000) + bytes(rnd.randrange(256) for _ in range(500)),
    ]
    for payload in payloads:
        framed = _jvm_framed_compress(spark, payload)
        assert snappy.frame_decompress(framed) == payload


def test_xerial_framed_key_group_section_decodes(spark):
    """End-to-end composition a real compressed savepoint exercises: a
    key-group section serialized by our writer, compressed by the REAL
    xerial framed stream (what Flink's snappy decorator produces), then
    frame_decompress + iter_key_group_section recover the rows."""
    from bravo_spark.codecs import flink as fl

    entries = [
        (0, b"\x05k1-ns", b"value-one"),
        (0, b"\x05k2-ns", b"v" * 3000),
        (3, b"\x05k3-ns", b""),
    ]
    section = fl.write_key_group_section(entries)
    framed = _jvm_framed_compress(spark, section * 1)
    back = snappy.frame_decompress(framed)
    assert back == section
    rows = list(fl.iter_key_group_section(
        back, {0: "counts", 3: "windows"}))
    assert rows == [
        ("counts", b"\x05k1-ns", b"value-one"),
        ("counts", b"\x05k2-ns", b"v" * 3000),
        ("windows", b"\x05k3-ns", b""),
    ]


def test_our_framed_output_decodes_in_jvm(spark):
    """The reverse direction: sections our writer frame-compresses must
    be readable by the real xerial SnappyFramedInputStream — i.e. a real
    Flink restore could consume a savepoint we wrote with compression."""
    j = spark._jvm
    payload = (b"write-side interop " * 800) + bytes(range(256))
    framed = snappy.frame_compress(payload)
    bis = j.java.io.ByteArrayInputStream(framed)
    sin = j.org.xerial.snappy.SnappyFramedInputStream(bis)
    bos = j.java.io.ByteArrayOutputStream()
    sin.transferTo(bos)  # read fully (JDK 9+)
    sin.close()
    assert bytes(bos.toByteArray()) == payload
