"""RocksDB SST reader/writer + incremental-checkpoint source (S4).

Golden vectors are HAND-BUILT byte streams following the published
BlockBasedTable layout (leveldb table_format.md + rocksdb format.cc), so
the reader is pinned to the format, not to our own writer. The writer is
then validated against the reader, and the Spark source against full LSM
semantics: cross-SST shadowing, tombstones, and StringAppend merge
operands."""

from __future__ import annotations

import re
import struct
from os import path as os_path

import pytest

from bravo_spark.codecs import crc32c, flink as fc
from bravo_spark.codecs import snappy as psnappy
from bravo_spark.sources import checkpoint as ck
from bravo_spark.sources import sst


def _uvar(v: int) -> bytes:
    out = bytearray()
    while True:
        if v < 0x80:
            out.append(v)
            return bytes(out)
        out.append((v & 0x7F) | 0x80)
        v >>= 7


def _block(entries, restart_interval=16) -> bytes:
    """Hand-roll a restart-point block (no shared-prefix compression: every
    entry written with shared=0, which is always legal)."""
    buf = bytearray()
    restarts = [0]
    counter = 0
    for k, v in entries:
        if counter >= restart_interval:
            restarts.append(len(buf))
            counter = 0
        buf += _uvar(0) + _uvar(len(k)) + _uvar(len(v)) + k + v
        counter += 1
    for r in restarts:
        buf += struct.pack("<I", r)
    buf += struct.pack("<I", len(restarts))
    return bytes(buf)


def _ikey(user_key: bytes, seq: int, vtype: int) -> bytes:
    return user_key + struct.pack("<Q", (seq << 8) | vtype)


def _hand_built_sst(tmp_path, *, compress_data=False):
    """Assemble a two-data-block SST byte-by-byte."""
    out = bytearray()

    def emit(content: bytes, ctype: int) -> sst.BlockHandle:
        h = sst.BlockHandle(len(out), len(content))
        out.extend(content)
        out.append(ctype)
        out.extend(
            struct.pack("<I", crc32c.mask(crc32c.crc32c(content + bytes([ctype]))))
        )
        return h

    d1 = _block([(_ikey(b"k1", 5, 1), b"v1"), (_ikey(b"k2", 6, 1), b"v2")])
    d2 = _block([(_ikey(b"k3", 7, 1), b"v3")])
    if compress_data:
        h1 = emit(psnappy.compress(d1), sst.SNAPPY_COMPRESSION)
        h2 = emit(psnappy.compress(d2), sst.SNAPPY_COMPRESSION)
    else:
        h1 = emit(d1, sst.NO_COMPRESSION)
        h2 = emit(d2, sst.NO_COMPRESSION)

    props = _block(
        [
            (b"rocksdb.column.family.id", _uvar(3)),
            (b"rocksdb.column.family.name", b"Count"),
        ],
        restart_interval=1,
    )
    ph = emit(props, sst.NO_COMPRESSION)
    meta = _block([(b"rocksdb.properties", ph.encode())], restart_interval=1)
    mh = emit(meta, sst.NO_COMPRESSION)
    index = _block(
        [(_ikey(b"k2", 6, 1), h1.encode()), (_ikey(b"k3", 7, 1), h2.encode())],
        restart_interval=1,
    )
    ih = emit(index, sst.NO_COMPRESSION)

    handles = mh.encode() + ih.encode()
    footer = bytes([1]) + handles + b"\x00" * (40 - len(handles))
    footer += struct.pack("<I", 2) + struct.pack("<Q", sst.BLOCK_BASED_MAGIC)
    assert len(footer) == 53
    out.extend(footer)

    p = tmp_path / "golden.sst"
    p.write_bytes(bytes(out))
    return str(p)


def test_reader_parses_hand_built_sst(tmp_path):
    r = sst.SstReader(_hand_built_sst(tmp_path), verify_checksums=True)
    assert r.column_family_name == "Count"
    assert r.column_family_id == 3
    got = list(r.iter_entries())
    assert got == [
        (b"k1", 5, 1, b"v1"),
        (b"k2", 6, 1, b"v2"),
        (b"k3", 7, 1, b"v3"),
    ]


def test_reader_parses_snappy_compressed_blocks(tmp_path):
    r = sst.SstReader(
        _hand_built_sst(tmp_path, compress_data=True), verify_checksums=True
    )
    assert [k for k, *_ in r.iter_entries()] == [b"k1", b"k2", b"k3"]


def test_reader_parses_legacy_footer(tmp_path):
    # pre-format_version-1 files: 48-byte footer, no checksum-type byte,
    # legacy magic (rocksdb kLegacyBlockBasedTableMagicNumber)
    out = bytearray()

    def emit(content: bytes) -> sst.BlockHandle:
        h = sst.BlockHandle(len(out), len(content))
        out.extend(content)
        out.append(sst.NO_COMPRESSION)
        out.extend(
            struct.pack("<I", crc32c.mask(crc32c.crc32c(content + b"\x00")))
        )
        return h

    d1 = emit(_block([(_ikey(b"k", 1, 1), b"v")]))
    props = _block(
        [(b"rocksdb.column.family.name", b"S")], restart_interval=1
    )
    ph = emit(props)
    mh = emit(_block([(b"rocksdb.properties", ph.encode())], restart_interval=1))
    ih = emit(_block([(_ikey(b"k", 1, 1), d1.encode())], restart_interval=1))
    handles = mh.encode() + ih.encode()
    footer = handles + b"\x00" * (40 - len(handles))
    footer += struct.pack("<Q", sst.LEGACY_BLOCK_BASED_MAGIC)
    assert len(footer) == 48
    out.extend(footer)
    p = tmp_path / "legacy.sst"
    p.write_bytes(bytes(out))
    r = sst.SstReader(str(p))
    assert r.format_version == 0 and r.column_family_name == "S"
    assert list(r.iter_entries()) == [(b"k", 1, 1, b"v")]


def test_reader_rejects_bad_magic(tmp_path):
    p = tmp_path / "junk.sst"
    p.write_bytes(b"\x00" * 100)
    with pytest.raises(ValueError, match="magic"):
        sst.SstReader(str(p))


def test_block_shared_prefix_decode():
    # delta-encoded keys: "applepie" after "apple" shares 5 bytes
    buf = bytearray()
    buf += _uvar(0) + _uvar(5) + _uvar(1) + b"apple" + b"A"
    buf += _uvar(5) + _uvar(3) + _uvar(1) + b"pie" + b"B"
    buf += struct.pack("<I", 0) + struct.pack("<I", 1)
    got = list(sst.iter_block_entries(bytes(buf)))
    assert got == [(b"apple", b"A"), (b"applepie", b"B")]


def test_writer_reader_roundtrip_multi_block(tmp_path):
    p = str(tmp_path / "w.sst")
    rows = [(f"key{i:05d}".encode(), 100 + i, 1, f"val{i}".encode() * 7) for i in range(500)]
    with sst.SstWriter(p, column_family="S", column_family_id=2, block_size=512) as w:
        for k, s, t, v in rows:
            w.add(k, s, t, v)
    r = sst.SstReader(p, verify_checksums=True)
    assert r.column_family_name == "S"
    assert list(r.iter_entries()) == rows
    # multiple data blocks actually produced
    assert len(list(sst.iter_block_entries(r.read_block(r.index_handle)))) > 5


def test_writer_compression_roundtrip(tmp_path):
    p = str(tmp_path / "c.sst")
    rows = [(f"k{i:04d}".encode(), i + 1, 1, b"x" * 100) for i in range(200)]
    with sst.SstWriter(
        p, column_family="S", compression=sst.SNAPPY_COMPRESSION, block_size=1024
    ) as w:
        for k, s, t, v in rows:
            w.add(k, s, t, v)
    r = sst.SstReader(p, verify_checksums=True)
    assert list(r.iter_entries()) == rows


@pytest.mark.parametrize(
    "ctype", [sst.ZLIB_COMPRESSION, sst.BZIP2_COMPRESSION]
)
def test_writer_zlib_bzip2_roundtrip(tmp_path, ctype):
    p = str(tmp_path / f"c{ctype}.sst")
    rows = [(f"k{i:04d}".encode(), i + 1, 1, b"payload" * 20) for i in range(200)]
    with sst.SstWriter(p, column_family="S", compression=ctype, block_size=1024) as w:
        for k, s, t, v in rows:
            w.add(k, s, t, v)
    r = sst.SstReader(p, verify_checksums=True)
    assert list(r.iter_entries()) == rows
    # at least one block actually stored compressed
    data = open(p, "rb").read()
    assert any(
        data[h.offset + h.size] == ctype for h in r.iter_data_handles()
    )


def test_reader_zlib_format_v1_bare_stream(tmp_path):
    # compress_format_version 1 writes the bare zlib stream with no
    # decompressed-size varint prefix; the reader must accept both layouts
    import zlib

    out = bytearray()

    def emit(content: bytes, ctype: int) -> sst.BlockHandle:
        h = sst.BlockHandle(len(out), len(content))
        out.extend(content)
        out.append(ctype)
        out.extend(
            struct.pack("<I", crc32c.mask(crc32c.crc32c(content + bytes([ctype]))))
        )
        return h

    d1 = _block([(_ikey(b"zk", 3, 1), b"zv" * 50)])
    h1 = emit(zlib.compress(d1), sst.ZLIB_COMPRESSION)
    props = _block([(b"rocksdb.column.family.name", b"Z")], restart_interval=1)
    ph = emit(props, sst.NO_COMPRESSION)
    mh = emit(_block([(b"rocksdb.properties", ph.encode())], restart_interval=1), 0)
    ih = emit(_block([(_ikey(b"zk", 3, 1), h1.encode())], restart_interval=1), 0)
    handles = mh.encode() + ih.encode()
    footer = bytes([1]) + handles + b"\x00" * (40 - len(handles))
    footer += struct.pack("<I", 2) + struct.pack("<Q", sst.BLOCK_BASED_MAGIC)
    p = tmp_path / "v1zlib.sst"
    p.write_bytes(bytes(out) + footer)
    r = sst.SstReader(str(p), verify_checksums=True)
    assert list(r.iter_entries()) == [(b"zk", 3, 1, b"zv" * 50)]


def _hand_lz4_literal_run(data: bytes) -> bytes:
    """Hand-encode ``data`` as a raw LZ4 block: one literal-only sequence
    per lz4_Block_format.md (token high nibble 15 + 255-run extension).
    Deliberately NOT codecs.lz4.compress_block — pins the reader to the
    published format, not to our own encoder. Match-copy decode is pinned
    separately by the golden vectors in test_spark_state.py."""
    out = bytearray()
    lit = len(data)
    if lit < 15:
        out.append(lit << 4)
    else:
        out.append(0xF0)
        rem = lit - 15
        while rem >= 255:
            out.append(255)
            rem -= 255
        out.append(rem)
    out += data
    return bytes(out)


def test_reader_parses_lz4_blocks_format_v2(tmp_path):
    # format_version 2 table => compress_format_version 2: lz4 payload is
    # varint32 decompressed size + raw block (rocksdb util/compression.h)
    out = bytearray()

    def emit(content: bytes, ctype: int) -> sst.BlockHandle:
        h = sst.BlockHandle(len(out), len(content))
        out.extend(content)
        out.append(ctype)
        out.extend(
            struct.pack("<I", crc32c.mask(crc32c.crc32c(content + bytes([ctype]))))
        )
        return h

    d1 = _block([(_ikey(b"k1", 5, 1), b"v1"), (_ikey(b"k2", 6, 1), b"v2")])
    h1 = emit(_uvar(len(d1)) + _hand_lz4_literal_run(d1), sst.LZ4_COMPRESSION)
    d2 = _block([(_ikey(b"k3", 7, 1), b"v3")])
    # HC byte dispatches through the same block format
    h2 = emit(_uvar(len(d2)) + _hand_lz4_literal_run(d2), sst.LZ4HC_COMPRESSION)
    props = _block([(b"rocksdb.column.family.name", b"L")], restart_interval=1)
    ph = emit(props, sst.NO_COMPRESSION)
    mh = emit(_block([(b"rocksdb.properties", ph.encode())], restart_interval=1), 0)
    ih = emit(
        _block(
            [(_ikey(b"k2", 6, 1), h1.encode()), (_ikey(b"k3", 7, 1), h2.encode())],
            restart_interval=1,
        ),
        0,
    )
    handles = mh.encode() + ih.encode()
    footer = bytes([1]) + handles + b"\x00" * (40 - len(handles))
    footer += struct.pack("<I", 2) + struct.pack("<Q", sst.BLOCK_BASED_MAGIC)
    p = tmp_path / "lz4.sst"
    p.write_bytes(bytes(out) + footer)
    r = sst.SstReader(str(p), verify_checksums=True)
    assert r.column_family_name == "L"
    assert list(r.iter_entries()) == [
        (b"k1", 5, 1, b"v1"),
        (b"k2", 6, 1, b"v2"),
        (b"k3", 7, 1, b"v3"),
    ]


def test_reader_parses_lz4_legacy_8byte_size_prefix(tmp_path):
    # pre-v2 tables (legacy footer): compress_format_version 1 memcpy's
    # the native size_t -> 8-byte little-endian length before the block
    out = bytearray()

    def emit(content: bytes, ctype: int) -> sst.BlockHandle:
        h = sst.BlockHandle(len(out), len(content))
        out.extend(content)
        out.append(ctype)
        out.extend(
            struct.pack("<I", crc32c.mask(crc32c.crc32c(content + bytes([ctype]))))
        )
        return h

    d1 = _block([(_ikey(b"k", 9, 1), b"legacy-v")])
    h1 = emit(
        struct.pack("<Q", len(d1)) + _hand_lz4_literal_run(d1),
        sst.LZ4_COMPRESSION,
    )
    props = _block([(b"rocksdb.column.family.name", b"S")], restart_interval=1)
    ph = emit(props, sst.NO_COMPRESSION)
    mh = emit(_block([(b"rocksdb.properties", ph.encode())], restart_interval=1), 0)
    ih = emit(_block([(_ikey(b"k", 9, 1), h1.encode())], restart_interval=1), 0)
    handles = mh.encode() + ih.encode()
    footer = handles + b"\x00" * (40 - len(handles))
    footer += struct.pack("<Q", sst.LEGACY_BLOCK_BASED_MAGIC)
    p = tmp_path / "legacy_lz4.sst"
    p.write_bytes(bytes(out) + footer)
    r = sst.SstReader(str(p))
    assert r.format_version == 0
    assert list(r.iter_entries()) == [(b"k", 9, 1, b"legacy-v")]


def test_writer_lz4_roundtrip(tmp_path):
    for ctype in (sst.LZ4_COMPRESSION, sst.LZ4HC_COMPRESSION):
        p = str(tmp_path / f"c{ctype}.sst")
        rows = [
            (f"k{i:04d}".encode(), i + 1, 1, b"payload" * 20) for i in range(200)
        ]
        with sst.SstWriter(
            p, column_family="S", compression=ctype, block_size=1024
        ) as w:
            for k, s, t, v in rows:
                w.add(k, s, t, v)
        r = sst.SstReader(p, verify_checksums=True)
        assert list(r.iter_entries()) == rows
        data = open(p, "rb").read()
        assert any(
            data[h.offset + h.size] == ctype for h in r.iter_data_handles()
        )


def test_reader_names_unsupported_compression(tmp_path):
    out = bytearray()

    def emit(content: bytes, ctype: int) -> sst.BlockHandle:
        h = sst.BlockHandle(len(out), len(content))
        out.extend(content)
        out.append(ctype)
        out.extend(
            struct.pack("<I", crc32c.mask(crc32c.crc32c(content + bytes([ctype]))))
        )
        return h

    d1 = emit(b"fake xpress block", 6)  # kXpressCompression
    props = _block([(b"rocksdb.column.family.name", b"Z")], restart_interval=1)
    ph = emit(props, sst.NO_COMPRESSION)
    mh = emit(_block([(b"rocksdb.properties", ph.encode())], restart_interval=1), 0)
    ih = emit(_block([(_ikey(b"k", 1, 1), d1.encode())], restart_interval=1), 0)
    handles = mh.encode() + ih.encode()
    footer = bytes([1]) + handles + b"\x00" * (40 - len(handles))
    footer += struct.pack("<I", 2) + struct.pack("<Q", sst.BLOCK_BASED_MAGIC)
    p = tmp_path / "xpress.sst"
    p.write_bytes(bytes(out) + footer)
    with pytest.raises(ValueError, match="xpress"):
        list(sst.SstReader(str(p)).iter_entries())


def test_writer_two_level_index_roundtrip(tmp_path):
    p = str(tmp_path / "2l.sst")
    rows = [(f"key{i:05d}".encode(), 1000 + i, 1, f"v{i}".encode()) for i in range(600)]
    with sst.SstWriter(
        p,
        column_family="S",
        block_size=256,
        index_type=sst.INDEX_TWO_LEVEL,
        index_partition_entries=8,
    ) as w:
        for k, s, t, v in rows:
            w.add(k, s, t, v)
    r = sst.SstReader(p, verify_checksums=True)
    assert r.index_type == sst.INDEX_TWO_LEVEL
    # top-level index holds partition handles, strictly fewer than data blocks
    n_top = len(list(sst.iter_block_entries(r.read_block(r.index_handle))))
    n_data = len(list(r.iter_data_handles()))
    assert 1 < n_top < n_data
    assert list(r.iter_entries()) == rows


def test_reader_hand_built_two_level_index(tmp_path):
    # golden partitioned index: pins the reader to the FORMAT (index block →
    # partition blocks → data blocks), not to our writer's emission order
    out = bytearray()

    def emit(content: bytes) -> sst.BlockHandle:
        h = sst.BlockHandle(len(out), len(content))
        out.extend(content)
        out.append(sst.NO_COMPRESSION)
        out.extend(struct.pack("<I", crc32c.mask(crc32c.crc32c(content + b"\x00"))))
        return h

    d1 = emit(_block([(_ikey(b"a", 1, 1), b"va")]))
    d2 = emit(_block([(_ikey(b"b", 2, 1), b"vb")]))
    d3 = emit(_block([(_ikey(b"c", 3, 1), b"vc")]))
    part1 = emit(
        _block(
            [(_ikey(b"a", 1, 1), d1.encode()), (_ikey(b"b", 2, 1), d2.encode())],
            restart_interval=1,
        )
    )
    part2 = emit(_block([(_ikey(b"c", 3, 1), d3.encode())], restart_interval=1))
    props = _block(
        [
            (b"rocksdb.block.based.table.index.type", _uvar(2)),
            (b"rocksdb.column.family.name", b"P"),
        ],
        restart_interval=1,
    )
    ph = emit(props)
    mh = emit(_block([(b"rocksdb.properties", ph.encode())], restart_interval=1))
    top = _block(
        [(_ikey(b"b", 2, 1), part1.encode()), (_ikey(b"c", 3, 1), part2.encode())],
        restart_interval=1,
    )
    ih = emit(top)
    handles = mh.encode() + ih.encode()
    footer = bytes([1]) + handles + b"\x00" * (40 - len(handles))
    footer += struct.pack("<I", 2) + struct.pack("<Q", sst.BLOCK_BASED_MAGIC)
    p = tmp_path / "2lg.sst"
    p.write_bytes(bytes(out) + footer)
    r = sst.SstReader(str(p), verify_checksums=True)
    assert r.index_type == sst.INDEX_TWO_LEVEL
    assert list(r.iter_entries()) == [
        (b"a", 1, 1, b"va"),
        (b"b", 2, 1, b"vb"),
        (b"c", 3, 1, b"vc"),
    ]


def test_writer_rejects_unsorted(tmp_path):
    w = sst.SstWriter(str(tmp_path / "x.sst"))
    w.add(b"b", 2, 1, b"")
    with pytest.raises(ValueError, match="sorted"):
        w.add(b"a", 1, 1, b"")
    with pytest.raises(ValueError, match="sorted"):
        w.add(b"b", 3, 1, b"")  # same key must have DESCENDING seq
    w.finish()


# --- Spark source: LSM merge semantics ---


def _kns(key: int) -> bytes:
    return fc.encode_key_ns(key, fc.INT, 128)


def test_checkpoint_lsm_semantics(spark, tmp_path):
    d = str(tmp_path / "ckpt")
    # L1 (older): base values + a key that will be deleted + list operand
    ck.write_sst_fixture(
        d,
        {
            "Count": [
                (_kns(1), 10, sst.TYPE_VALUE, fc.encode_value_state(100, fc.INT)),
                (_kns(2), 11, sst.TYPE_VALUE, fc.encode_value_state(200, fc.INT)),
                (_kns(3), 12, sst.TYPE_VALUE, fc.encode_value_state(300, fc.INT)),
            ],
            "clicks": [
                (_kns(7), 13, sst.TYPE_MERGE, fc.INT.encode(70)),
            ],
        },
    )
    # L0 (newer): shadow key 1, tombstone key 2, append to the list
    ck.write_sst_fixture(
        d,
        {
            "Count": [
                (_kns(1), 20, sst.TYPE_VALUE, fc.encode_value_state(111, fc.INT)),
                (_kns(2), 21, sst.TYPE_DELETION, b""),
            ],
            "clicks": [
                (_kns(7), 22, sst.TYPE_MERGE, fc.INT.encode(71)),
            ],
        },
    )

    rows = ck.read_incremental_checkpoint(spark, d)
    from bravo_spark.sources import staterows as sr

    counts = sorted(
        tuple(r) for r in sr.read_value_kv(rows, "Count", fc.INT, fc.INT).collect()
    )
    assert counts == [(1, 111), (3, 300)]  # shadowed + tombstoned applied

    lists = sorted(
        (r["key"], list(r["value"]))
        for r in sr.read_list_as_list(rows, "clicks", fc.INT, fc.INT).collect()
    )
    # merge operands concatenated oldest→newest with the ',' delimiter
    assert lists == [(7, [70, 71])]


def test_checkpoint_lz4_compressed_ssts(spark, tmp_path):
    # checkpoint_roundtrip variant: the same LSM shadow/tombstone fixture
    # with every SST's data blocks lz4-compressed (kLZ4Compression)
    d = str(tmp_path / "ckpt_lz4")
    ck.write_sst_fixture(
        d,
        {
            "Count": [
                (_kns(1), 10, sst.TYPE_VALUE, fc.encode_value_state(100, fc.INT)),
                (_kns(2), 11, sst.TYPE_VALUE, fc.encode_value_state(200, fc.INT)),
            ],
        },
        compression=sst.LZ4_COMPRESSION,
        block_size=64,  # force several lz4 blocks, not one
    )
    ck.write_sst_fixture(
        d,
        {
            "Count": [
                (_kns(1), 20, sst.TYPE_VALUE, fc.encode_value_state(111, fc.INT)),
                (_kns(2), 21, sst.TYPE_DELETION, b""),
                (_kns(3), 22, sst.TYPE_VALUE, fc.encode_value_state(300, fc.INT)),
            ],
        },
        compression=sst.LZ4_COMPRESSION,
        block_size=64,
    )
    rows = ck.read_incremental_checkpoint(spark, d)
    from bravo_spark.sources import staterows as sr

    counts = sorted(
        tuple(r) for r in sr.read_value_kv(rows, "Count", fc.INT, fc.INT).collect()
    )
    assert counts == [(1, 111), (3, 300)]


def test_checkpoint_state_name_pushdown(spark, tmp_path):
    d = str(tmp_path / "ckpt2")
    ck.write_sst_fixture(
        d,
        {
            "keep": [(_kns(1), 1, sst.TYPE_VALUE, fc.encode_value_state(1, fc.INT))],
            "skip": [(_kns(2), 2, sst.TYPE_VALUE, fc.encode_value_state(2, fc.INT))],
        },
    )
    rows = ck.read_incremental_checkpoint(spark, d, state_names=["keep"])
    names = {r["state_name"] for r in rows.collect()}
    assert names == {"keep"}


def test_checkpoint_merge_on_top_of_base_value(spark, tmp_path):
    # Put base followed by newer merge operands: final = base , op1 , op2
    d = str(tmp_path / "ckpt3")
    ck.write_sst_fixture(
        d,
        {"l": [(_kns(5), 30, sst.TYPE_VALUE, fc.INT.encode(1))]},
    )
    ck.write_sst_fixture(
        d,
        {"l": [(_kns(5), 31, sst.TYPE_MERGE, fc.INT.encode(2))]},
    )
    ck.write_sst_fixture(
        d,
        {"l": [(_kns(5), 32, sst.TYPE_MERGE, fc.INT.encode(3))]},
    )
    rows = ck.read_incremental_checkpoint(spark, d)
    from bravo_spark.sources import staterows as sr

    got = [
        (r["key"], list(r["value"]))
        for r in sr.read_list_as_list(rows, "l", fc.INT, fc.INT).collect()
    ]
    assert got == [(5, [1, 2, 3])]


def test_checkpoint_via_flink_metadata(spark, tmp_path):
    # full interop chain: a SavepointV2 _metadata with an incremental handle
    # whose shared-state map names the SSTs → file discovery → LSM read
    from bravo_spark.codecs.hashes import operator_id
    from bravo_spark.sources import flink_metadata as fm

    d = str(tmp_path / "ck")
    files = ck.write_sst_fixture(
        d, {"s": [(_kns(3), 8, sst.TYPE_VALUE, fc.encode_value_state(33, fc.INT))]}
    )
    h = fm.IncrementalKeyedHandle(
        checkpoint_id=5, backend_id="b-1", start_key_group=0, num_key_groups=128,
        meta=fm.StreamStateHandle(fm.BYTE_STREAM_STATE_HANDLE, 1, path="m", data=b"x"),
        shared=[
            (os_path.basename(p), fm.StreamStateHandle(
                fm.FILE_STREAM_STATE_HANDLE, os_path.getsize(p), path=f"file:{p}"))
            for p in files
        ],
        private=[],
    )
    op = fm.OperatorStateMeta(operator_id("op"), 1, 128)
    op.subtasks.append(fm.SubtaskState(0, managed_keyed=h))
    meta_path = str(tmp_path / "_metadata")
    with open(meta_path, "wb") as f:
        f.write(fm.serialize(fm.FlinkSavepoint(5, [op])))

    ssts = ck.sst_files_from_flink_metadata(meta_path)
    assert ssts == files
    rows = ck.read_incremental_checkpoint(spark, "", files=ssts)
    from bravo_spark.sources import staterows as sr

    got = [tuple(r) for r in sr.read_value_kv(rows, "s", fc.INT, fc.INT).collect()]
    assert got == [(3, 33)]


def test_checkpoint_single_delete_tombstone(spark, tmp_path):
    d = str(tmp_path / "ckpt4")
    ck.write_sst_fixture(
        d, {"s": [(_kns(9), 40, sst.TYPE_VALUE, fc.encode_value_state(9, fc.INT))]}
    )
    ck.write_sst_fixture(d, {"s": [(_kns(9), 41, sst.TYPE_SINGLE_DELETION, b"")]})
    rows = ck.read_incremental_checkpoint(spark, d)
    assert rows.count() == 0


def test_reader_refuses_or_survives_corruption(tmp_path):
    """Systematic corruption fuzz: every single-byte flip in the footer /
    index region and every truncation must either raise a named ValueError
    or still return exactly the original entries (a flip that lands in
    slack space) — never silently return different data. Block checksums
    plus handle range checks are what make this hold."""
    p = str(tmp_path / "base.sst")
    rows = [
        (f"key{i:05d}".encode(), 100 + i, 1, f"val{i}".encode() * 7)
        for i in range(300)
    ]
    with sst.SstWriter(p, column_family="S", column_family_id=2,
                       block_size=512) as w:
        for k, s, t, v in rows:
            w.add(k, s, t, v)
    data = open(p, "rb").read()
    expected = rows

    mp = str(tmp_path / "mut.sst")

    def attempt(buf: bytes) -> None:
        with open(mp, "wb") as f:
            f.write(buf)
        try:
            got = list(sst.SstReader(mp, verify_checksums=True).iter_entries())
        except ValueError:
            return  # named refusal — fine
        assert got == expected, "corruption silently changed the data"

    # footer + trailing index region: flip each byte two ways
    for pos in range(max(0, len(data) - 160), len(data)):
        for delta in (0x01, 0x80):
            attempt(data[:pos] + bytes([data[pos] ^ delta]) + data[pos + 1:])
    # a sample of data-block flips (checksums must catch them)
    for pos in range(0, len(data) - 160, 97):
        attempt(data[:pos] + bytes([data[pos] ^ 0xFF]) + data[pos + 1:])
    # truncations
    for cut in (0, 1, 10, 47, 48, 52, len(data) // 2, len(data) - 1):
        attempt(data[:cut])


def test_writer_property_fuzz_roundtrip():
    """WRITER fuzz (r8): arbitrary entry sets — binary keys incl. 0xFF and
    shared prefixes, empty values, delete/value/merge/single-delete types,
    multiple seqs per key — across every block size × codec × index type
    combination must re-read EXACTLY through the checksum-verifying
    reader. This is the reader-corruption fuzz's dual: it proves the
    writer never emits a stream the strict reader mis-parses (restart
    points, partitioned index boundaries, compression fallbacks when a
    block doesn't shrink)."""
    import itertools
    import random
    import tempfile
    from os import path as _p

    codecs_ = [
        sst.NO_COMPRESSION, sst.SNAPPY_COMPRESSION, sst.ZLIB_COMPRESSION,
        sst.BZIP2_COMPRESSION, sst.LZ4_COMPRESSION,
    ]
    cases = list(itertools.product([64, 1024], codecs_,
                                   [sst.INDEX_BINARY_SEARCH, sst.INDEX_TWO_LEVEL]))
    rnd = random.Random(0xBEEF)
    with tempfile.TemporaryDirectory() as td:
        for case_i, (block_size, compression, index_type) in enumerate(cases):
            n = rnd.randrange(1, 150)
            keys = sorted(
                {bytes(rnd.randrange(256) for _ in range(rnd.randrange(1, 24)))
                 for _ in range(n)}
            )
            # a run of shared-prefix keys stresses restart-point delta coding
            keys = sorted(set(keys) | {b"prefix" + bytes([i]) for i in range(9)})
            entries = []
            for k in keys:
                seqs = sorted(
                    {rnd.randrange(1 << 40) for _ in range(rnd.randrange(1, 3))},
                    reverse=True,
                )
                for s in seqs:
                    vtype = rnd.choice([0, 1, 1, 1, 2, 7])
                    val = (b"" if vtype in (0, 7) else
                           bytes(rnd.randrange(256)
                                 for _ in range(rnd.randrange(0, 120))))
                    entries.append((k, s, vtype, val))
            p = _p.join(td, f"fuzz{case_i}.sst")
            with sst.SstWriter(
                p, column_family="F", column_family_id=3,
                block_size=block_size, compression=compression,
                index_type=index_type, index_partition_entries=4,
            ) as w:
                for k, s, t, v in entries:
                    w.add(k, s, t, v)
            got = list(sst.SstReader(p, verify_checksums=True).iter_entries())
            assert got == entries, (block_size, compression, index_type)


def test_crc32c_batch_matches_scalar():
    """The blocked numpy kernel (used by ``crc32c`` above its size
    constant and by ``crc32c_batch`` for the deferred block trailers in
    SstWriter) must be bit-identical to the table-driven byte loop on
    every shape that matters: the byte-loop/kernel boundary, the block
    size L and its neighbours, the 64 KiB snappy chunk, the kernel's
    slab and past it, single-message batches and mixed batches. A mismatch
    would corrupt every trailer in a written SST — the rocksdbjni
    verifyChecksum tests would catch it too, but this pins the codec in
    isolation against an oracle that is not the kernel."""
    import random

    from bravo_spark.codecs import crc32c as C
    from bravo_spark.codecs.crc32c import crc32c, crc32c_batch, crc32c_bytewise

    rng = random.Random(0xC32C)
    L, kmin, slab = C._L, C._KERNEL_MIN, C._SLAB
    lengths = [0, 1, 2, 3, L - 1, L, L + 1, 2 * L - 1, 2 * L + 1,
               kmin - 1, kmin, kmin + 1, 4096, 65536, slab - 1, slab,
               slab + 1, 2 * slab + 3]
    blobs = [rng.randbytes(n) for n in lengths]
    want = [crc32c_bytewise(b) for b in blobs]
    assert [crc32c(b) for b in blobs] == want
    assert crc32c_batch(blobs) == want
    for b, w in zip(blobs, want):
        assert crc32c_batch([b]) == [w]
    # continuation from a nonzero register, across the slab cut too
    for b in blobs:
        assert crc32c(b, 0x9E3779B9) == crc32c_bytewise(b, 0x9E3779B9)
    shapes = [0, 1, 2, 3, 7, 8, 17, 255, 256, 4093, 4096, 4099, 70000]
    mixed = [rng.randbytes(rng.choice(shapes)) for _ in range(257)]
    assert crc32c_batch(mixed) == [crc32c_bytewise(b) for b in mixed]
    assert crc32c_batch([]) == []
    assert crc32c_batch([b""] * 12) == [0] * 12


def test_sst_writer_deferred_trailers_byte_identical(tmp_path):
    """Queued-trailer writes (checksum batching) must produce the exact
    bytes immediate writes did: write the same entries with the batch
    size forced to 1 (every block flushes immediately) and at the default,
    and compare files byte-for-byte."""
    entries = [
        (struct.pack(">Q", i), 1, sst.TYPE_VALUE, struct.pack(">I", i))
        for i in range(5000)
    ]

    def write(path, batch):
        w = sst.SstWriter(
            str(path), column_family="T", column_family_id=1
        )
        w._CHECKSUM_BATCH = batch
        for k, s, t, v in entries:
            w.add(k, s, t, v)
        w.finish()
        return path.read_bytes()

    assert write(tmp_path / "a.sst", 1) == write(tmp_path / "b.sst", 1024)


def test_checkpoint_scan_verify_checksums(tmp_path, spark):
    """read_incremental_checkpoint(verify_checksums=True) verifies every
    block during the distributed scan: a clean checkpoint reads
    identically to the unverified scan, and one flipped data byte fails
    the task loudly instead of decoding garbage."""
    entries = {
        "Count": [
            (struct.pack(">Q", i), 1, sst.TYPE_VALUE, struct.pack(">q", i * 3))
            for i in range(500)
        ]
    }
    out = str(tmp_path / "ck")
    ck.write_sst_fixture(out, entries, compression=sst.SNAPPY_COMPRESSION)

    clean = ck.read_incremental_checkpoint(spark, out, verify_checksums=True)
    plain = ck.read_incremental_checkpoint(spark, out)
    assert sorted(r["key_ns"] for r in clean.collect()) == sorted(
        r["key_ns"] for r in plain.collect()
    )

    # corrupt one byte inside the first data block
    path = ck.list_sst_files(out)[0]
    r = sst.SstReader(path)
    h = next(iter(r.iter_data_handles()))
    buf = bytearray(open(path, "rb").read())
    buf[h.offset + h.size // 2] ^= 0xFF
    open(path, "wb").write(bytes(buf))

    import pytest as _pytest

    with _pytest.raises(Exception, match="checksum|corrupt|snappy"):
        ck.read_incremental_checkpoint(
            spark, out, verify_checksums=True
        ).count()


@pytest.mark.parametrize("damage", ["truncated", "bad_magic"])
def test_read_checkpoint_refuses_damaged_sst_by_name(spark, tmp_path, damage):
    """A truncated or bad-magic SST among good ones is refused at plan
    time: read_incremental_checkpoint itself raises ValueError naming
    the file, before any Spark job runs."""
    d = str(tmp_path / "ck")
    files = ck.write_sst_fixture(
        d,
        {
            "a": [(_kns(i), 1, sst.TYPE_VALUE, b"v") for i in range(50)],
            "b": [(_kns(i), 1, sst.TYPE_VALUE, b"w") for i in range(50)],
        },
    )
    bad = files[1]
    data = open(bad, "rb").read()
    with open(bad, "wb") as f:
        if damage == "truncated":
            f.write(data[: len(data) // 2])
        else:
            f.write(data[:-8] + b"\x00" * 8)
    tracker = spark.sparkContext.statusTracker()
    jobs_before = set(tracker.getJobIdsForGroup(None))
    with pytest.raises(ValueError, match=re.escape(bad)):
        ck.read_incremental_checkpoint(spark, d)
    assert set(tracker.getJobIdsForGroup(None)) == jobs_before


def _fold_oracle(rows):
    """Reference LSM fold in pure Python over (state_name, key_ns, seq,
    vtype, value) versions: per key in ascending seq, a put replaces the
    value, a tombstone clears it, a merge operand appends with ','.
    Returns the sorted (state_name, key_ns, value) of surviving keys."""
    out: dict[tuple[str, bytes], bytes | None] = {}
    for name, key, _seq, vtype, value in sorted(rows, key=lambda r: r[:3]):
        k = (name, bytes(key))
        if vtype == sst.TYPE_VALUE:
            out[k] = bytes(value)
        elif vtype == sst.TYPE_MERGE:
            prev = out.get(k)
            out[k] = bytes(value) if prev is None else prev + b"," + bytes(value)
        else:
            out[k] = None
    return sorted((n, k, v) for (n, k), v in out.items() if v is not None)


def _resolved(df):
    return sorted(
        (r["state_name"], bytes(r["key_ns"]), bytes(r["value"])) for r in df.collect()
    )


def test_resolve_lsm_equivalence(spark, tmp_path):
    """read_incremental_checkpoint over a two-level fixture matches the
    pure-Python fold of the same SST entries — across puts, shadowing,
    tombstones, merge-only keys, and merges both before and after the
    base — and resolve_lsm over the raw relation agrees."""
    d = str(tmp_path / "ckpt_eq")
    ck.write_sst_fixture(
        d,
        {
            "s": [
                (_kns(1), 10, sst.TYPE_VALUE, b"old"),
                (_kns(2), 11, sst.TYPE_VALUE, b"dead"),
                (_kns(3), 12, sst.TYPE_MERGE, b"m0"),
            ]
        },
    )
    ck.write_sst_fixture(
        d,
        {
            "s": [
                (_kns(1), 20, sst.TYPE_VALUE, b"new"),
                (_kns(2), 21, sst.TYPE_SINGLE_DELETION, b""),
                (_kns(3), 22, sst.TYPE_MERGE, b"m1"),
                (_kns(1), 23, sst.TYPE_MERGE, b"tail"),
            ]
        },
    )
    versions = [
        ("s", *e) for p in ck.discover_sst_files(d) for e in sst.SstReader(p).iter_entries()
    ]
    want = _fold_oracle(versions)
    assert want == [("s", _kns(1), b"new,tail"), ("s", _kns(3), b"m0,m1")]
    assert _resolved(ck.read_incremental_checkpoint(spark, d)) == want
    raw = spark.createDataFrame(versions, schema=ck._RAW_SCHEMA)
    assert _resolved(ck.resolve_lsm(raw)) == want


def test_resolve_lsm_is_one_jvm_fold(spark):
    """resolve_lsm is JVM expressions only: no Python worker
    (MapInPandas) and no per-key collect_list array fold."""
    raw = spark.createDataFrame(
        [("s", b"\x00k", 1, sst.TYPE_VALUE, b"v")], schema=ck._RAW_SCHEMA
    )
    plan = ck.resolve_lsm(raw)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    assert "collect_list" not in plan
    assert "listagg" in plan


def test_resolve_lsm_skewed_key_100k_operands(spark):
    """One key accumulating 100k merge operands on top of a put resolves
    byte-for-byte like the pure-Python fold (linear in operand count), and
    a second key in the same state is untouched by it."""
    n = 100_000
    rows = [("s", b"\x00hot", 1, sst.TYPE_VALUE, b"base")] + [
        ("s", b"\x00hot", 2 + i, sst.TYPE_MERGE, str(i).encode()) for i in range(n)
    ]
    rows.append(("s", b"\x00cold", 5, sst.TYPE_VALUE, b"v"))
    raw = spark.createDataFrame(rows, schema=ck._RAW_SCHEMA)
    got = {bytes(r["key_ns"]): bytes(r["value"]) for r in ck.resolve_lsm(raw).collect()}
    expect = b"base," + b",".join(str(i).encode() for i in range(n))
    assert got[b"\x00hot"] == expect
    assert got[b"\x00cold"] == b"v"
    assert sorted(got.items()) == [(k, v) for _n, k, v in _fold_oracle(rows)]


def test_resolve_lsm_fold_equivalence_fuzz(spark):
    """Property fuzz over random LSM version graphs with two states
    sharing key bytes: for ANY multiset of (key, seq, vtype) versions —
    puts, StringAppend merges, tombstones, single-deletes, merge-before-
    base, merge-only keys — resolve_lsm equals the pure-Python fold.
    Seeded RNG; all 30 cases run in one Spark job, one state-name pair
    per case."""
    import random

    rng = random.Random(48151623)
    rows = []
    for case in range(30):
        keys = [f"k{i}".encode() for i in range(rng.randint(1, 8))]
        seq = 1
        for _ in range(rng.randint(1, 60)):
            state = f"c{case}-{rng.choice('ab')}"
            k = rng.choice(keys)
            vtype = rng.choice(
                [sst.TYPE_VALUE, sst.TYPE_MERGE, sst.TYPE_MERGE,
                 sst.TYPE_DELETION, sst.TYPE_SINGLE_DELETION]
            )
            val = f"v{seq}".encode() if vtype in (
                sst.TYPE_VALUE, sst.TYPE_MERGE
            ) else b""
            rows.append((state, b"\x00" + k, seq, vtype, val))
            seq += rng.randint(1, 3)
    raw = spark.createDataFrame(rows, schema=ck._RAW_SCHEMA)
    assert _resolved(ck.resolve_lsm(raw)) == _fold_oracle(rows)


def test_resolve_lsm_keys_across_files_and_partitions(spark, tmp_path):
    """Versions of one key spread over three SST files of two column
    families, with few shuffle partitions so every partition folds many
    keys: the checkpoint read equals the pure-Python fold, tombstoned keys
    stay absent unless a newer merge re-creates them, and shadowing keeps
    only the newest put."""
    d = str(tmp_path / "ckpt_parts")
    levels = [{}, {}, {}]
    for state in ("a", "b"):
        for k in range(40):
            kns = b"\x00" + bytes([k])
            levels[0].setdefault(state, []).append((kns, 1, sst.TYPE_VALUE, b"v1-%d" % k))
            levels[1].setdefault(state, []).append((kns, 2, sst.TYPE_VALUE, b"v2-%d" % k))
            if k % 4 == 0:
                levels[2].setdefault(state, []).append((kns, 3, sst.TYPE_DELETION, b""))
            if k >= 37 or k == 8:
                levels[2].setdefault(state, []).append((kns, 4, sst.TYPE_MERGE, b"m-%d" % k))
    for level in levels:
        ck.write_sst_fixture(d, level, cf_ids={"a": 1, "b": 2})
    versions = [
        (r.column_family_name, *e)
        for p in ck.discover_sst_files(d)
        for r in [sst.SstReader(p)]
        for e in r.iter_entries()
    ]
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        got = _resolved(ck.read_incremental_checkpoint(spark, d))
    finally:
        spark.conf.set(key, old)
    assert got == _fold_oracle(versions)
    by_key = {(n, k): v for n, k, v in got}
    assert by_key[("a", b"\x00\x01")] == b"v2-1"
    assert ("b", b"\x00\x04") not in by_key  # tombstoned, no merge after
    assert by_key[("b", b"\x00\x08")] == b"m-8"  # tombstone, then merge
    assert by_key[("a", b"\x00" + bytes([38]))] == b"v2-38,m-38"
