"""sources/shards.py: the one shard-container IO path. Fault injection
for every container: a partition that fails partway through, after at
least one complete record (or Avro block) is already in the stream,
must publish nothing — no shard under its final name and no leftover
temp file. The codecs' own refusals inject the fault where the writer
has one; TFRecord and WARC accept every row, so their codec runs under
an ``encode`` that raises after k records."""

from __future__ import annotations

import os

import pytest

_GOOD = 1_200  # rows before the bad one: past Avro's 1000-record block


def _zip(spark, out):
    from bravo_spark.sources.zip_source import write_zip_shards

    df = spark.createDataFrame(
        [(f"{i:05d}.txt", b"payload") for i in range(_GOOD)]
        + [("bad.txt", None)], "name string, body binary").coalesce(1)
    write_zip_shards(df, out, "name", "body")


def _webdataset(spark, out):
    from bravo_spark.sources.webdataset_source import write_webdataset_shards

    df = spark.createDataFrame(
        [(f"{i:05d}", b"payload") for i in range(_GOOD)]
        + [("bad", None)], "key string, txt binary").coalesce(1)
    write_webdataset_shards(df, out, "key", {"txt": "txt"})


def _avro(spark, out):
    from bravo_spark.sources.avro_source import write_avro

    # a nullable long field handed a string: no union branch matches
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "v", "type": ["null", "long"]}]}
    df = spark.createDataFrame(
        [(i, None) for i in range(_GOOD)] + [(_GOOD, "not-a-long")],
        "id long, v string").coalesce(1)
    write_avro(df, out, schema)


def _injected(record_bytes):
    """An ``encode`` writing each row through a real codec, then raising
    after 3 records with the byte count already in the stream."""
    def encode(rows, out):
        for i, r in enumerate(rows):
            if i == 3:
                raise RuntimeError(
                    f"injected fault after 3 records ({out.tell()} bytes)")
            out.write(record_bytes(r))
        raise AssertionError("the fixture holds fewer than 4 rows")

    return encode


def _tfrecord(spark, out):
    from bravo_spark.codecs.tfrecord import write_tfrecords
    from bravo_spark.sources.shards import write_shards

    df = spark.range(0, 10, 1, 1).selectExpr(
        "CAST(CAST(id AS string) AS binary) AS rec")
    write_shards(df, out, "shard_{:05d}.tfrecord",
                 _injected(lambda r: write_tfrecords([r["rec"]])))


def _warc(spark, out):
    from bravo_spark.codecs.warc import write_warc
    from bravo_spark.sources.shards import write_shards

    df = spark.range(0, 10, 1, 1).selectExpr(
        "CONCAT('doc://', id) AS uri",
        "CAST(CAST(id AS string) AS binary) AS payload")
    write_shards(df, out, "shard_{:05d}.warc.gz", _injected(
        lambda r: write_warc([({"WARC-Target-URI": r["uri"]},
                               r["payload"])], compression="gzip")))


_CASES = {
    "avro": (_avro, "matches no union branch"),
    "tfrecord": (_tfrecord, r"after 3 records \([1-9]\d* bytes\)"),
    "warc": (_warc, r"after 3 records \([1-9]\d* bytes\)"),
    "webdataset": (_webdataset, "NULL part 'txt'"),
    "zip": (_zip, "NULL payload for member 'bad.txt'"),
}


@pytest.mark.parametrize("fmt", sorted(_CASES))
def test_failed_partition_publishes_no_shard(spark, tmp_path, fmt):
    write, refusal = _CASES[fmt]
    out = str(tmp_path / fmt)
    with pytest.raises(Exception, match=refusal):
        write(spark, out)
    left = os.listdir(out) if os.path.isdir(out) else []
    assert not [f for f in left if "_00000." in f], left


def test_commit_renames_and_skips_empty_shards(spark, tmp_path):
    """The success path: one shard per partition whose ``encode`` wrote
    records, nothing for an empty partition or a zero-count shard, no
    temp file left behind, and the counts summed."""
    from bravo_spark.sources.shards import write_shards

    def encode(rows, out):
        n = 0
        for r in rows:
            if r["id"] % 4:  # partition 0 holds only id 0: a zero count
                out.write(b"%d\n" % r["id"])
                n += 1
        return n

    # 8 range partitions hold [0], [1], [2], [3, 4], [5], [6], [7],
    # [8, 9]; the union adds two empty ones
    df = spark.range(0, 10, 1, 8).union(spark.range(0, 0, 1, 2))
    out = str(tmp_path / "ok")
    assert write_shards(df, out, "s_{:05d}.txt", encode) == 7
    names = sorted(os.listdir(out))
    assert names == ["s_00001.txt", "s_00002.txt", "s_00003.txt",
                     "s_00004.txt", "s_00005.txt", "s_00006.txt",
                     "s_00007.txt"], names


@pytest.mark.parametrize("count", [3, 0])
def test_local_shard_is_fsynced_around_its_rename(tmp_path, monkeypatch, count):
    """On a local filesystem a published shard costs two fsyncs: its temp
    file before the rename and the directory after it. A zero-count shard
    is deleted unsynced."""
    from pyarrow import fs as pafs

    from bravo_spark.sources import shards

    synced = []
    real = os.fsync

    def fsync(fd):
        synced.append(os.readlink(f"/proc/self/fd/{fd}"))
        real(fd)

    monkeypatch.setattr(os, "fsync", fsync)

    def encode(rows, out):
        out.write(b"".join(b"%d\n" % r["id"] for r in rows))
        return count

    rows = iter([{"id": i} for i in range(3)])
    assert shards._write_shard(pafs.LocalFileSystem(), str(tmp_path), "s.txt", 0,
                               encode, rows) == count
    assert os.listdir(tmp_path) == (["s.txt"] if count else [])
    d = os.path.realpath(tmp_path)
    assert synced == ([os.path.join(d, ".s.txt.0.tmp"), d] if count else [])
