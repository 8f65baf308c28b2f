"""Fault-injection tests for the shared state-store driver's commit:
a rewrite, compaction or schema migration whose Spark job fails leaves
every file of the checkpoint byte-identical, on both providers and in
both RocksDB checkpoint modes; a successful one leaves no staged file.
Also pins that timestamps cross the driver's Arrow read and write tasks
untouched by the worker's local timezone or the session timezone, that
retried write tasks publish once, and that a rewrite's default version is
the one a restarted query replays from."""

from __future__ import annotations

import json
import os
import struct
import subprocess
import sys
import uuid
import zipfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bravo_spark.sources import rocksdb_state as rs
from bravo_spark.sources import spark_state as ss
from bravo_spark.sources import sst as sstmod

K = T.StructType([T.StructField("k", T.StringType())])
V = T.StructType([T.StructField("cnt", T.LongType())])
N = 4
GARBAGE = b"no known framing starts with these bytes"


def _record_stream(entries, prefix=b""):
    out = bytearray()
    for k, v in entries:
        kb = prefix + ss.encode_unsafe_row((k,), K)
        vb = prefix + ss.encode_unsafe_row((v,), V)
        out += struct.pack(">i", len(kb)) + kb + struct.pack(">i", len(vb)) + vb
    return bytes(out + struct.pack(">i", -1))


def _zip_version(pdir, version, entries, prefix):
    """A zip-per-version RocksDB commit: one SST under SSTs/ plus the zip
    whose metadata names it."""
    os.makedirs(os.path.join(pdir, "SSTs"), exist_ok=True)
    dfs = f"000008-{version}-fixture.sst"
    w = sstmod.SstWriter(os.path.join(pdir, "SSTs", dfs))
    for seq, (k, v) in enumerate(sorted(entries), 1):
        w.add(prefix + ss.encode_unsafe_row((k,), K), seq, sstmod.TYPE_VALUE,
              prefix + ss.encode_unsafe_row((v,), V))
    w.finish()
    meta = {"sstFiles": [{"localFileName": "000008.sst", "dfsSstFileName": dfs,
                          "sizeBytes": 0}], "columnFamilyMapping": {}}
    with zipfile.ZipFile(os.path.join(pdir, f"{version}.zip"), "w") as z:
        z.writestr("metadata", "v1\n" + json.dumps(meta))


def _store(tmp_path, kind):
    """A 4-partition store at version 1 whose partition 3 holds a version
    file no codec can read: ``hdfs`` deltas, ``changelog`` RocksDB
    changelogs, or ``zip`` RocksDB zips (partition 3 a changelog)."""
    ckpt = str(tmp_path / "ckpt")
    sdir = ss._state_dir(ckpt, 0)
    prefix = b"" if kind == "hdfs" else bytes([rs.STATE_ENCODING_VERSION])
    name = "1.delta" if kind == "hdfs" else "1.changelog"
    for pid in range(N):
        pdir = os.path.join(sdir, str(pid))
        os.makedirs(pdir)
        ss.write_state_schema(pdir, K, V)
        entries = [(f"old{pid}", pid)]
        if pid == N - 1:
            with open(os.path.join(pdir, name), "wb") as f:
                f.write(GARBAGE)
        elif kind == "zip":
            _zip_version(pdir, 1, entries, prefix)
        else:
            with open(os.path.join(pdir, name), "wb") as f:
                f.write(ss.encode_stream_snappy(_record_stream(entries, prefix)))
    return ckpt, sdir


def _files(root):
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            with open(os.path.join(d, n), "rb") as f:
                out[os.path.relpath(os.path.join(d, n), root)] = f.read()
    return out


def _rows_for_first_partitions(spark):
    """Rows whose keys Spark routes to partitions 0-2 only, one per
    partition at least: the last partition gets no row, so only its
    tombstone-only rewrite touches it."""
    cand = spark.createDataFrame([(f"k{i}",) for i in range(64)], "k string")
    routed = cand.select("k", F.pmod(F.hash("k"), F.lit(N)).alias("p")).collect()
    keep = [(r.k, i) for i, r in enumerate(routed) if r.p < N - 1]
    assert {r.p for r in routed if r.p < N - 1} == set(range(N - 1))
    return spark.createDataFrame(keep, "k string, cnt long")


_WRITERS = {
    "hdfs": ss.write_spark_state,
    "changelog": rs.write_rocksdb_spark_state,
    "zip": rs.write_rocksdb_spark_state,
}


@pytest.mark.parametrize("kind", sorted(_WRITERS))
def test_failed_rewrite_publishes_nothing(spark, tmp_path, kind):
    ckpt, sdir = _store(tmp_path, kind)
    rows = _rows_for_first_partitions(spark)
    before = _files(ckpt)
    with pytest.raises(Exception, match="unrecognized state-file framing"):
        _WRITERS[kind](spark, ckpt, rows, version=1)
    assert _files(ckpt) == before  # no rewritten, staged or new SST file

    # with partition 3 readable the same rewrite publishes every partition
    # and leaves no staged file behind
    name = "1.delta" if kind == "hdfs" else "1.changelog"
    prefix = b"" if kind == "hdfs" else bytes([rs.STATE_ENCODING_VERSION])
    with open(os.path.join(sdir, str(N - 1), name), "wb") as f:
        f.write(ss.encode_stream_snappy(_record_stream([("old3", 3)], prefix)))
    _WRITERS[kind](spark, ckpt, rows, version=1)
    assert not [p for p in _files(ckpt) if ".staged" in p]
    read = ss.read_spark_state if kind == "hdfs" else rs.read_rocksdb_spark_state
    got = {(r.k, r.cnt) for r in read(spark, ckpt, version=1).collect()}
    assert got == {tuple(r) for r in rows.collect()}


@pytest.mark.parametrize("kind", ["hdfs", "changelog"])
def test_failed_compaction_publishes_nothing(spark, tmp_path, kind):
    ckpt, _ = _store(tmp_path, kind)
    compact = (ss.compact_spark_checkpoint if kind == "hdfs"
               else rs.compact_rocksdb_checkpoint)
    before = _files(ckpt)
    with pytest.raises(Exception, match="unrecognized state-file framing"):
        compact(spark, ckpt, version=1)
    assert _files(ckpt) == before


def test_failed_schema_migration_keeps_schema_files(spark, tmp_path):
    """The schema files are replaced only after the row rewrite published:
    a migration whose row job fails leaves old schema over old rows."""
    ckpt, sdir = _store(tmp_path, "hdfs")
    rows = _rows_for_first_partitions(spark).withColumn("extra", F.lit(None).cast("long"))
    new_val = T.StructType(list(V.fields) + [T.StructField("extra", T.LongType())])
    before = _files(ckpt)
    with pytest.raises(Exception, match="unrecognized state-file framing"):
        ss.migrate_spark_state_schema(spark, ckpt, rows, new_value_schema=new_val)
    assert _files(ckpt) == before
    assert ss.read_state_schema(ckpt) == (K, V)


_TZ_PROBE = r"""
import datetime as dt, os, struct, sys, time, zoneinfo
import pyarrow as pa
from pyspark.sql import types as T
from bravo_spark.sources import spark_state as ss

assert time.localtime(0).tm_hour == 19  # the worker runs in New York time
root = sys.argv[1]
K = T.StructType([T.StructField("k", T.StringType())])
V = T.StructType([T.StructField("ts", T.TimestampType())])
sdir = ss._state_dir(root, 0)
pdir = os.path.join(sdir, "0")
os.makedirs(pdir)
ss.write_state_schema(pdir, K, V)
stored = {"a": 0, "b": 1_700_000_000_123_456, "c": -1}
with open(os.path.join(pdir, "1.delta"), "wb") as f:
    f.write(ss.encode_stream_snappy(ss._records({
        ss.encode_unsafe_row((k,), K): bytes(8) + struct.pack("<q", us)
        for k, us in stored.items()
    })))

# read task: the Arrow column carries the stored microseconds
out = T.StructType([T.StructField("partition_id", T.IntegerType(), False),
                    T.StructField("k", T.StringType()),
                    T.StructField("ts", T.TimestampType())])
scan = ss.partition_scan(ss.HDFS, sdir, None, 1, K, V, out)
pids = pa.RecordBatch.from_arrays([pa.array(["0"])], names=["pid"])
(batch,) = scan(iter([pids]))
got = dict(zip(batch.column(1).to_pylist(), batch.column(2).cast(pa.int64()).to_pylist()))
assert got == stored, got

# write task: a session timezone other than UTC (and than the worker's)
token = "0123456789abcdef0123456789abcdef"
write = ss.partition_rewrite(ss.HDFS, sdir, None, 1, K, V, token)
ts = pa.array(list(stored.values()), pa.int64()).cast(pa.timestamp("us", tz="Asia/Tokyo"))
rows = pa.RecordBatch.from_arrays(
    [pa.array([0, 0, 0], pa.int32()), pa.array([True] * 3), pa.array(list(stored)), ts],
    names=["_pid", "_put", "k", "ts"])
list(write(iter([rows])))
ss._publish(ss.HDFS, [pdir], token)
state = ss._load_partition_state(pdir, 1)
back = {ss.decode_unsafe_row(kb, K)[0]: struct.unpack_from("<q", vb, 8)[0]
        for kb, vb in state.items()}
assert back == stored, back

ny = zoneinfo.ZoneInfo("America/New_York")
assert ss._ts_encode(dt.datetime(1969, 12, 31, 19, 0, tzinfo=ny)) == 0
assert ss._ts_encode(dt.datetime(1970, 1, 1)) == 0
print("ok")
"""


def test_timestamps_ignore_worker_and_session_timezones(tmp_path):
    """A stored 0 us reads back as 0 us and an Asia/Tokyo-session Arrow
    timestamp is stored as its UTC microseconds, in a worker whose local
    timezone is America/New_York."""
    env = dict(os.environ, TZ="America/New_York")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = os.pathsep.join([repo, env.get("PYTHONPATH", "")])
    res = subprocess.run(
        [sys.executable, "-c", _TZ_PROBE, str(tmp_path / "ckpt")],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert res.returncode == 0 and res.stdout.strip() == "ok", res.stderr[-2000:]


_RETRY_PROBE = r"""
import os, sys
from pyspark import TaskContext
from bravo_spark.session import get_spark
from bravo_spark.sources import rocksdb_state as rs, spark_state as ss


class FirstAttemptFails(rs.RocksDBLayout):
    def rewrite(self, pdir, version, desired, stage):
        super().rewrite(pdir, version, desired, stage)
        if TaskContext.get().attemptNumber() == 0:
            raise RuntimeError("first attempt dies after staging its files")


spark = get_spark(app_name="state_retry", master="local[2,2]")
ckpt = sys.argv[1]
rows = spark.createDataFrame([(f"k{i}", i) for i in range(20)], "k string, cnt long")
ss.write_state(FirstAttemptFails(), spark, ckpt, rows, version=1)
got = sorted(tuple(r)[1:] for r in rs.read_rocksdb_spark_state(spark, ckpt).collect())
assert got == sorted(tuple(r) for r in rows.collect()), got
print("ok")
"""


def test_retried_rewrite_tasks_publish_once(tmp_path):
    """Every write task fails its first attempt after staging; the retry
    stages the same names, so the publish holds one new SST and zip per
    partition and no staged file remains."""
    ckpt = str(tmp_path / "ckpt")
    sdir = ss._state_dir(ckpt, 0)
    prefix = bytes([rs.STATE_ENCODING_VERSION])
    for pid in range(2):
        pdir = os.path.join(sdir, str(pid))
        os.makedirs(pdir)
        ss.write_state_schema(pdir, K, V)
        _zip_version(pdir, 1, [(f"old{pid}", pid)], prefix)
    env = dict(os.environ, BRAVO_SPARK_DRIVER_MEM="1g")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = os.pathsep.join([repo, env.get("PYTHONPATH", "")])
    res = subprocess.run(
        [sys.executable, "-c", _RETRY_PROBE, ckpt], cwd=repo,
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0 and res.stdout.strip().endswith("ok"), res.stderr[-3000:]
    assert "first attempt dies after staging" in res.stderr  # retries ran
    files = _files(ckpt)
    assert not [p for p in files if ".staged" in p], sorted(files)
    for pid in range(2):
        ssts = sorted(p for p in files if p.startswith(f"state/0/{pid}/SSTs/"))
        assert len(ssts) == 2, ssts  # the fixture's and the rewrite's


def _run_agg(spark, inp, ckpt):
    stream = spark.readStream.schema("k string, v long").parquet(inp)
    name = f"commit_t_{uuid.uuid4().hex[:8]}"
    q = (
        stream.groupBy("k").agg(F.count("*").alias("cnt"), F.sum("v").alias("sv"))
        .writeStream.format("memory").queryName(name).outputMode("complete")
        .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    return {r.k: (r.cnt, r.sv) for r in spark.table(name).collect()}


def test_patch_lands_on_the_version_the_restart_replays(spark, tmp_path):
    """A query stopped after every partition wrote version 2 but before
    batch 1 reached ``commits/`` re-runs batch 1 from version 1. The
    default version of a rewrite is therefore 1, not 2 — else the restart
    overwrites the patched files and the patch is lost."""
    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    spark.createDataFrame([("a", 1)], "k string, v long").coalesce(1).write.parquet(inp)
    _run_agg(spark, inp, ckpt)
    spark.createDataFrame([("b", 2)], "k string, v long").coalesce(1).write.mode(
        "append").parquet(inp)
    assert _run_agg(spark, inp, ckpt) == {"a": (1, 1), "b": (1, 2)}
    for f in os.listdir(os.path.join(ckpt, "commits")):
        if f.strip(".").split(".")[0] == "1":
            os.remove(os.path.join(ckpt, "commits", f))

    assert ss.latest_version(ckpt) == 1
    st = ss.read_spark_state(spark, ckpt)  # the state batch 1 starts from
    assert [r.k for r in st.collect()] == ["a"]
    patched = st.drop("partition_id").withColumn(st.columns[-1], F.lit(100).cast("long"))
    assert ss.write_spark_state(spark, ckpt, patched) == 1
    assert _run_agg(spark, inp, ckpt) == {"a": (1, 100), "b": (1, 2)}
