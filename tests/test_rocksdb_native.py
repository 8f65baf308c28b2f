"""Cross-validation against REAL RocksDB, in-container.

Spark ships rocksdbjni (the exact library a Flink TaskManager embeds for
RocksDB state backends), reachable through the session JVM. These tests
close the "no genuine RocksDB-produced file" residual for the SST side in
both directions:

- files written by real RocksDB (``org.rocksdb.SstFileWriter`` and a live
  ``org.rocksdb.RocksDB`` flush) are read byte-exactly by the pure-Python
  ``SstReader`` — per codec, with crc32c checksum verification including
  the format_version>=6 context-checksum modifier;
- files written by our ``SstWriter`` are accepted and iterated by real
  RocksDB's ``SstFileReader`` with checksum verification on.

Reference parity: the reference opens checkpoints with an embedded RocksDB
(bravo's RocksDBCheckpointIterator.java:57-254); we parse the format
directly, so proving byte-level agreement with the real implementation is
the whole ballgame.
"""

from __future__ import annotations

import os

import pytest

from bravo_spark.sources import sst as sstmod


@pytest.fixture(scope="module")
def jvm(spark):
    j = spark._jvm
    # force-load the native library the same way Spark's state store does
    j.org.rocksdb.RocksDB.loadLibrary()
    return j


def _entries(n=400):
    return [
        (("key%05d" % i).encode(), (b"payload-%d|" % i) * (1 + i % 7))
        for i in range(n)
    ]


def _write_native_sst(jvm, path, codec_name, entries, checksum="kCRC32c",
                      format_version=None):
    opts = jvm.org.rocksdb.Options()
    tbl = jvm.org.rocksdb.BlockBasedTableConfig()
    tbl.setChecksumType(getattr(jvm.org.rocksdb.ChecksumType, checksum))
    if format_version is not None:
        tbl.setFormatVersion(format_version)
    opts.setTableFormatConfig(tbl)
    opts.setCompressionType(
        getattr(jvm.org.rocksdb.CompressionType, codec_name)
    )
    w = jvm.org.rocksdb.SstFileWriter(jvm.org.rocksdb.EnvOptions(), opts)
    w.open(path)
    for k, v in entries:
        w.put(k, v)
    w.finish()


NATIVE_CODECS = [
    "NO_COMPRESSION",
    "SNAPPY_COMPRESSION",
    "ZLIB_COMPRESSION",
    "BZIP2_COMPRESSION",
    "LZ4_COMPRESSION",
    "ZSTD_COMPRESSION",
]


def test_native_written_ssts_read_byte_exactly(jvm, tmp_path):
    """Every codec we claim: rocksdbjni writes, pure Python reads, entries
    byte-exact, crc32c verified (incl. the v6 context modifier)."""
    entries = _entries()
    done = []
    for codec in NATIVE_CODECS:
        path = str(tmp_path / f"{codec}.sst")
        try:
            _write_native_sst(jvm, path, codec, entries)
        except Exception as exc:  # codec not compiled into this jni build
            print(f"skip {codec}: {exc}")
            continue
        r = sstmod.SstReader(path, verify_checksums=True)
        got = [(k, v) for k, _seq, _t, v in r.iter_entries()]
        assert got == entries, f"{codec}: entry mismatch"
        assert r.format_version >= 6, "modern rocksdbjni writes v6+"
        done.append(codec)
    # snappy is RocksDB's floor; if even that didn't run the jvm is broken
    assert "NO_COMPRESSION" in done and "SNAPPY_COMPRESSION" in done
    print("codecs cross-validated:", done)


@pytest.mark.parametrize(
    "checksum", ["kCRC32c", "kxxHash", "kxxHash64", "kXXH3"]
)
def test_native_checksum_types_verified(jvm, tmp_path, checksum):
    """Every RocksDB builtin checksum type — including the modern default
    kXXH3 with its last-byte modifier and the fv6 context modifier — is
    VERIFIED (not skipped) on files written by real rocksdbjni, with
    compressed blocks so the type byte is nonzero."""
    path = str(tmp_path / f"{checksum}.sst")
    entries = _entries(3000)  # several blocks, incl. the XXH3 long path
    _write_native_sst(jvm, path, "SNAPPY_COMPRESSION", entries, checksum=checksum)
    r = sstmod.SstReader(path, verify_checksums=True)
    got = [(k, v) for k, _s, _t, v in r.iter_entries()]
    assert got == entries
    assert r.checksum_type == {
        "kCRC32c": 1, "kxxHash": 2, "kxxHash64": 3, "kXXH3": 4
    }[checksum]

    # corruption anywhere in a data block must be DETECTED, whatever type
    buf = bytearray(open(path, "rb").read())
    h = next(iter(sstmod.SstReader(path).iter_data_handles()))
    buf[h.offset + h.size // 2] ^= 0xFF
    corrupt = str(tmp_path / f"{checksum}_corrupt.sst")
    open(corrupt, "wb").write(bytes(buf))
    with pytest.raises(Exception, match="checksum|corrupt|snappy|decompress"):
        list(
            sstmod.SstReader(corrupt, verify_checksums=True).iter_entries()
        )


@pytest.mark.parametrize("fv", [5, 6])
@pytest.mark.parametrize(
    "codec",
    ["NO_COMPRESSION", "SNAPPY_COMPRESSION", "ZLIB_COMPRESSION",
     "LZ4_COMPRESSION", "ZSTD_COMPRESSION"],
)
def test_native_xxh3_modifier_matrix(jvm, tmp_path, codec, fv):
    """Pins the kXXH3 last-byte modifier — RocksDB's
    ComputeBuiltinChecksum hashes everything but the trailing type byte,
    then applies ModifyChecksumForLastByte: ``checksum ^ (last_byte *
    0x6b9083d9)`` (table/format.h) — against rocksdbjni-written vectors
    over EVERY block type the reader touches (metaindex + properties at
    init, index + data on iteration), every codec this container ships
    (type bytes 0x00/0x01/0x02/0x04/0x07) and format_version 5 AND 6
    (fv6 adds the per-context offset modifier on top). An empirically
    fitted constant that happened to match only snappy data blocks would
    fail somewhere in this matrix."""
    path = str(tmp_path / f"xxh3_{codec}_{fv}.sst")
    entries = _entries(1500)
    _write_native_sst(jvm, path, codec, entries, checksum="kXXH3",
                      format_version=fv)
    r = sstmod.SstReader(path, verify_checksums=True)
    assert r.format_version == fv
    assert r.checksum_type == 4
    assert (r.base_context_checksum != 0) == (fv >= 6)
    assert [(k, v) for k, _s, _t, v in r.iter_entries()] == entries

    # the type byte is covered ONLY by the modifier: flipping a data
    # block's trailer byte (block bytes and stored checksum untouched)
    # must fail verification — proves the modifier really depends on the
    # last byte, not just on the block body
    h = next(iter(r.iter_data_handles()))
    buf = bytearray(open(path, "rb").read())
    buf[h.offset + h.size] = 1 if buf[h.offset + h.size] == 0 else 0
    p2 = str(tmp_path / "typeflip.sst")
    open(p2, "wb").write(bytes(buf))
    with pytest.raises(Exception, match="checksum mismatch"):
        list(sstmod.SstReader(p2, verify_checksums=True).iter_entries())

    # non-data blocks are verified too: one flipped byte inside the
    # index block body must be detected on iteration...
    buf = bytearray(open(path, "rb").read())
    ih = r.index_handle
    buf[ih.offset + ih.size // 2] ^= 0xFF
    p3 = str(tmp_path / "idxflip.sst")
    open(p3, "wb").write(bytes(buf))
    with pytest.raises(Exception, match="checksum"):
        list(sstmod.SstReader(p3, verify_checksums=True).iter_entries())

    # ...and one inside the metaindex block already at open()
    buf = bytearray(open(path, "rb").read())
    mh = r.metaindex_handle
    buf[mh.offset + mh.size // 2] ^= 0xFF
    p4 = str(tmp_path / "metaflip.sst")
    open(p4, "wb").write(bytes(buf))
    with pytest.raises(Exception, match="checksum"):
        sstmod.SstReader(p4, verify_checksums=True)


def test_native_xpress_block_raises_named_error(jvm, tmp_path):
    """A codec without a pure-Python decoder must fail with an error naming
    it (no silent garbage). xpress is Windows-only so the jni build always
    lacks it — exercise the error path by spoofing the trailer byte on an
    uncompressed block instead."""
    path = str(tmp_path / "plain.sst")
    _write_native_sst(jvm, path, "NO_COMPRESSION", _entries(20))
    handle = next(sstmod.SstReader(path).iter_data_handles())
    patched = bytearray(open(path, "rb").read())
    # the compression byte is the first trailer byte after the block body
    patched[handle.offset + handle.size] = 6  # kXpressCompression
    p2 = str(tmp_path / "xpress.sst")
    open(p2, "wb").write(bytes(patched))
    with pytest.raises(ValueError, match="xpress"):
        list(sstmod.SstReader(p2, verify_checksums=False).iter_entries())


def test_our_writer_accepted_by_native_reader(jvm, tmp_path):
    """SstWriter output iterates cleanly under real RocksDB with checksum
    verification on — the write side of the format contract. Snappy, lz4
    and zstd blocks come from the codecs/fastpath.py native encoders."""
    codecs = [("plain", 0), ("snappy", 1), ("lz4", 4), ("zstd", 7)]
    for codec, codec_id in codecs:
        path = str(tmp_path / f"ours_{codec}.sst")
        w = sstmod.SstWriter(path, compression=codec_id)
        entries = _entries(300)
        for k, v in entries:
            w.add(k, 0, sstmod.TYPE_VALUE, v)
        w.finish()

        opts = jvm.org.rocksdb.Options()
        r = jvm.org.rocksdb.SstFileReader(opts)
        r.open(path)
        r.verifyChecksum()
        ro = jvm.org.rocksdb.ReadOptions()
        ro.setVerifyChecksums(True)
        it = r.newIterator(ro)
        it.seekToFirst()
        got = []
        while it.isValid():
            got.append((bytes(it.key()), bytes(it.value())))
            it.next()
        assert got == entries, f"{codec}: native reader saw different entries"


def test_live_rocksdb_flush_seqnos_and_tombstones(jvm, tmp_path):
    """A real database: puts, an overwrite, a delete, then flush — the
    flushed SST must carry real sequence numbers, the tombstone, and
    shadowing exactly as our LSM-merge semantics assume."""
    dbdir = str(tmp_path / "db")
    opts = jvm.org.rocksdb.Options()
    opts.setCreateIfMissing(True)
    opts.setCompressionType(jvm.org.rocksdb.CompressionType.SNAPPY_COMPRESSION)
    db = jvm.org.rocksdb.RocksDB.open(opts, dbdir)
    try:
        db.put(b"alpha", b"v1")
        db.put(b"beta", b"v2")
        db.put(b"alpha", b"v1-new")  # shadows the first put
        db.delete(b"beta")  # tombstone
        db.put(b"gamma", b"v3")
        fo = jvm.org.rocksdb.FlushOptions()
        fo.setWaitForFlush(True)
        db.flush(fo)
    finally:
        db.close()
    ssts = [f for f in os.listdir(dbdir) if f.endswith(".sst")]
    assert ssts, "flush produced no SST"
    rows = []
    for f in ssts:
        rows += list(
            sstmod.SstReader(os.path.join(dbdir, f)).iter_entries()
        )
    by_key = {}
    for ukey, seq, vtype, value in rows:
        assert seq > 0, "live writes carry nonzero seqnos"
        if ukey not in by_key or seq > by_key[ukey][0]:
            by_key[ukey] = (seq, vtype, value)
    assert by_key[b"alpha"][1:] == (sstmod.TYPE_VALUE, b"v1-new")
    assert by_key[b"beta"][1] == sstmod.TYPE_DELETION
    assert by_key[b"gamma"][1:] == (sstmod.TYPE_VALUE, b"v3")


def test_our_writer_checksum_types_verified_by_native_reader(jvm, tmp_path):
    """SstWriter's checksum_type option (r13): files we declare as
    kCRC32c / kxxHash / kxxHash64 / kXXH3 must pass REAL RocksDB's
    verifyChecksum() and iterate identically — the write-side twin of
    test_native_checksum_types_verified. (RocksDB reads honor the
    footer-declared type independent of footer version, so a
    version-2 footer with kXXH3 is legal for readers even though
    RocksDB's own writer would pick a newer format_version.)"""
    entries = _entries(500)
    for ct_id, ct_name in [
        (1, "kCRC32c"), (2, "kxxHash"), (3, "kxxHash64"), (4, "kXXH3"),
    ]:
        path = str(tmp_path / f"ours_ct{ct_id}.sst")
        w = sstmod.SstWriter(
            path, compression=sstmod.SNAPPY_COMPRESSION, checksum_type=ct_id
        )
        for k, v in entries:
            w.add(k, 0, sstmod.TYPE_VALUE, v)
        w.finish()

        opts = jvm.org.rocksdb.Options()
        r = jvm.org.rocksdb.SstFileReader(opts)
        r.open(path)
        r.verifyChecksum()
        ro = jvm.org.rocksdb.ReadOptions()
        ro.setVerifyChecksums(True)
        it = r.newIterator(ro)
        it.seekToFirst()
        got = []
        while it.isValid():
            got.append((bytes(it.key()), bytes(it.value())))
            it.next()
        assert got == entries, f"{ct_name}: native reader saw different entries"
