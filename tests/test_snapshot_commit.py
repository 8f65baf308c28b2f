"""Fault injection for the snapshot writers: a failed write publishes
nothing and leaves the prior snapshot readable, and a successful one
leaves no temp file behind."""

from __future__ import annotations

import glob
import json
import os

import pytest

from bravo_spark import api
from bravo_spark import maintenance as mt
from bravo_spark.codecs import flink as fc
from bravo_spark.sources import checkpoint as ck
from bravo_spark.sources import datasource as ds
from bravo_spark.sources import operator_state as ops
from bravo_spark.sources import savepoint as sp
from bravo_spark.sources import staterows as sr

MAXP = 100  # 1-byte key-group prefix that can still encode groups 100..127


def _rows(spark, groups, state="A"):
    """One state row per key group in ``groups``, keyed ``[group, i]``."""
    return spark.createDataFrame(
        [(state, bytes([g, i % 256]), bytes([i % 256])) for i, g in enumerate(groups)],
        "state_name string, key_ns binary, value binary",
    )


def _write(spark, rows, path, writer, mode="overwrite"):
    if writer == "write_savepoint":
        sp.write_savepoint(
            rows, path, max_parallelism=MAXP, parallelism=1, state_ids={"A": 0}
        )
        return
    ds.register(spark)
    (
        rows.coalesce(1)
        .write.format("bravo_savepoint")
        .option("state_ids", json.dumps({"A": 0}))
        .option("max_parallelism", str(MAXP))
        .mode(mode)
        .save(path)
    )


def _snapshot(path):
    with open(os.path.join(path, sp.METADATA_FILE), "rb") as f:
        return f.read(), sorted(os.listdir(path))


def _with_operator_state(path):
    b = ops.OperatorStateBackend()
    b.get_list_state("offsets").extend([3, 5, 8])
    ops.write_operator_state(path, [b])


def _assert_prior_intact(spark, path, before):
    assert _snapshot(path) == before  # no new file, metadata byte-identical
    assert sp.read_savepoint(spark, path).count() == 60


@pytest.fixture
def small_batches(spark):
    """Four rows per Arrow batch, so a bad row sorted last arrives in a
    later batch than the sections written before it."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "4")
    yield
    spark.conf.set(key, old)


@pytest.mark.parametrize("writer", ["write_savepoint", "sink"])
@pytest.mark.parametrize("bad", ["unmapped_state", "out_of_range_group"])
def test_failed_task_leaves_prior_savepoint(spark, tmp_path, small_batches, writer, bad):
    path = str(tmp_path / "sp")
    _write(spark, _rows(spark, range(60)), path, writer)
    before = _snapshot(path)

    good = _rows(spark, range(40))
    bad_row = (
        _rows(spark, [99], state="Z") if bad == "unmapped_state"
        else _rows(spark, [120])
    )
    with pytest.raises(Exception, match="state_ids|different max_parallelism"):
        _write(spark, good.unionByName(bad_row), path, writer)
    _assert_prior_intact(spark, path, before)


def test_task_writer_refuses_unordered_input(tmp_path):
    import pyarrow as pa

    batch = pa.RecordBatch.from_pydict(
        {"state_name": ["A", "A"], "key_ns": [b"\x05\x00", b"\x03\x00"],
         "value": [b"x", b"y"]},
    )
    with pytest.raises(ValueError, match="not ordered by"):
        sp.write_task_sections(
            [batch], str(tmp_path), state_ids={"A": 0}, max_parallelism=MAXP,
            parallelism=1,
        )
    assert os.listdir(tmp_path) == []  # the opened section file is gone


def test_sink_task_writes_every_batch(spark, tmp_path):
    """One sink task handed several Arrow batches (one of them sliced, with
    groups out of order across batches) writes every row of every batch."""
    import pyarrow as pa

    rows = [("A" if i % 2 else "B", bytes([(7 * i) % MAXP, i]), bytes([i]))
            for i in range(90)]
    cols = {k: list(v) for k, v in zip(("state_name", "key_ns", "value"), zip(*rows))}
    full = pa.record_batch({
        "state_name": pa.array(cols["state_name"], pa.string()),
        "key_ns": pa.array(cols["key_ns"], pa.binary()),
        "value": pa.array(cols["value"], pa.binary()),
    })
    batches = [full.slice(0, 30), full.slice(30, 25), full.slice(55)]
    path = str(tmp_path / "sp")
    writer = ds.SavepointWriter(
        {"path": path, "state_ids": json.dumps({"A": 0, "B": 1}),
         "max_parallelism": str(MAXP), "parallelism": "3"},
        overwrite=True,
    )
    writer.commit([writer.write(iter(batches))])
    got = sp.read_savepoint(spark, path).select("state_name", "key_ns", "value")
    assert sorted((r[0], bytes(r[1]), bytes(r[2])) for r in got.collect()) == sorted(rows)


def _fail_metadata_replace(real_replace):
    def replace(src, dst, *a, **kw):
        if os.path.basename(dst) == sp.METADATA_FILE:
            raise OSError("injected failure before the metadata rename")
        return real_replace(src, dst, *a, **kw)

    return replace


def test_write_savepoint_failed_commit_leaves_prior(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "sp")
    _write(spark, _rows(spark, range(60)), path, "write_savepoint")
    before = _snapshot(path)[0]
    monkeypatch.setattr(os, "replace", _fail_metadata_replace(os.replace))
    with pytest.raises(OSError, match="injected"):
        _write(spark, _rows(spark, range(10)), path, "write_savepoint")
    monkeypatch.undo()
    assert _snapshot(path)[0] == before
    assert not glob.glob(os.path.join(path, "*.tmp")) + glob.glob(
        os.path.join(path, ".*.tmp"))
    assert sp.read_savepoint(spark, path).count() == 60


@pytest.mark.parametrize("writer", ["write_savepoint", "write_all", "rescale_savepoint"])
def test_failed_commit_leaves_no_staged_files(spark, tmp_path, monkeypatch, writer):
    """A raise before the metadata rename deletes the section files the
    write staged, and only those: the directory lists what it listed
    before the write, and the prior savepoint still reads. The prior
    savepoint is a rescale of one with operator state, so it holds the
    operator-state file that write_all and rescale_savepoint rewrite
    before their commit."""
    src, path = str(tmp_path / "src"), str(tmp_path / "sp")
    _write(spark, _rows(spark, range(60)), src, "write_savepoint")
    _with_operator_state(src)
    api.rescale_savepoint(spark, src, path, new_parallelism=1)
    before = _snapshot(path)
    assert ops.OPERATOR_STATE_FILE in before[1]
    monkeypatch.setattr(os, "replace", _fail_metadata_replace(os.replace))
    with pytest.raises(OSError, match="injected"):
        if writer == "write_savepoint":
            _write(spark, _rows(spark, range(10)), path, writer)
        elif writer == "write_all":
            w = api.OperatorStateWriter(api.OperatorStateReader(spark, src), path)
            w.add_keyed_state_rows(_rows(spark, range(10)))
            w.write_all()
        else:
            api.rescale_savepoint(spark, src, path, new_parallelism=2)
    monkeypatch.undo()
    _assert_prior_intact(spark, path, before)


def test_sink_failed_commit_leaves_prior(spark, tmp_path):
    # the sink commits in a Python worker, so the failure is injected by a
    # source class defined here and pickled by value into that worker; it
    # may reference nothing else from this test module
    class FailingCommitWriter(ds.SavepointWriter):
        def commit(self, messages):
            import os as _os

            real = _os.replace

            def replace(src, dst, *a, **kw):
                if _os.path.basename(dst) == sp.METADATA_FILE:
                    raise OSError("injected failure before the metadata rename")
                return real(src, dst, *a, **kw)

            _os.replace = replace
            try:
                super().commit(messages)
            finally:
                _os.replace = real

    class FailingCommitSource(ds.SavepointDataSource):
        @classmethod
        def name(cls):
            return "bravo_savepoint_failing_commit"

        def writer(self, schema, overwrite):
            return FailingCommitWriter(self.options, overwrite)

    path = str(tmp_path / "sp")
    _write(spark, _rows(spark, range(60)), path, "sink")
    before = _snapshot(path)
    spark.dataSource.register(FailingCommitSource)
    with pytest.raises(Exception, match="injected"):
        (
            _rows(spark, range(10)).coalesce(1)
            .write.format("bravo_savepoint_failing_commit")
            .option("state_ids", json.dumps({"A": 0}))
            .option("max_parallelism", str(MAXP))
            .mode("overwrite")
            .save(path)
        )
    # abort removed the new section files; no temp metadata survives
    _assert_prior_intact(spark, path, before)


@pytest.mark.parametrize("writer", ["write_savepoint", "sink"])
def test_successful_write_leaves_no_temp_file(spark, tmp_path, writer):
    path = str(tmp_path / "sp")
    _write(spark, _rows(spark, range(60)), path, writer)
    _write(spark, _rows(spark, range(60)), path, writer)  # replace it
    names = sorted(os.listdir(path))
    meta = sp.read_savepoint_meta(path)
    assert names == sorted(
        [sp.METADATA_FILE] + [os.path.basename(f["path"]) for f in meta.files]
    )


def test_keyed_only_savepoint_gets_no_operator_state_file(spark, tmp_path):
    """write_all from a keyed-only source and rescale_savepoint of one write
    no operator-state file, and remove a prior savepoint's from the path
    they overwrite; a source with operator state still carries it over."""
    src, path = str(tmp_path / "src"), str(tmp_path / "sp")
    _write(spark, _rows(spark, range(60)), src, "write_savepoint")
    _write(spark, _rows(spark, range(60)), path, "write_savepoint")
    _with_operator_state(path)

    api.rescale_savepoint(spark, src, path, new_parallelism=2)
    assert ops.OPERATOR_STATE_FILE not in os.listdir(path)
    w = api.OperatorStateWriter(api.OperatorStateReader(spark, src), path)
    w.add_keyed_state_rows(_rows(spark, range(10)))
    w.write_all()
    assert ops.OPERATOR_STATE_FILE not in os.listdir(path)
    assert sp.read_savepoint(spark, path).count() == 10

    _with_operator_state(src)
    api.rescale_savepoint(spark, src, path, new_parallelism=2)
    restored = ops.read_operator_state(path)
    assert len(restored) == 2
    assert sorted(v for b in restored for v in b.list_states["offsets"]) == [3, 5, 8]


@pytest.mark.parametrize("entries", ["as_written", "relative"])
def test_copied_savepoint_reads_its_own_files(spark, tmp_path, entries):
    """A savepoint copied elsewhere reads its own section files after the
    original is deleted, whether its metadata holds the writer's paths or
    names relative to the directory; overwriting the copy then deletes
    only the copy's files."""
    import shutil

    src, copy = str(tmp_path / "src"), str(tmp_path / "copy")
    _write(spark, _rows(spark, range(60)), src, "write_savepoint")
    want = sorted(map(tuple, sp.read_savepoint(spark, src).collect()))
    shutil.copytree(src, copy)
    shutil.rmtree(src)
    if entries == "relative":
        meta = sp.read_savepoint_meta(copy)
        for fm in meta.files:
            fm["path"] = os.path.basename(fm["path"])
        with open(os.path.join(copy, sp.METADATA_FILE), "w") as f:
            f.write(meta.to_json())
    assert sorted(map(tuple, sp.read_savepoint(spark, copy).collect())) == want
    assert mt.audit_savepoint(spark, copy, deep=True).count() == 0

    _write(spark, _rows(spark, range(10)), copy, "write_savepoint")
    meta = sp.read_savepoint_meta(copy)
    assert sorted(os.listdir(copy)) == sorted(
        [sp.METADATA_FILE] + [os.path.basename(f["path"]) for f in meta.files])
    assert sp.read_savepoint(spark, copy).count() == 10


def test_truncated_metadata_is_refused_by_name(spark, tmp_path):
    path = str(tmp_path / "sp")
    _write(spark, _rows(spark, range(60)), path, "write_savepoint")
    mpath = os.path.join(path, sp.METADATA_FILE)
    with open(mpath, "rb") as f:
        data = f.read()
    with open(mpath, "wb") as f:
        f.write(data[: len(data) // 2])
    with pytest.raises(ValueError, match=sp.METADATA_FILE):
        sp.read_savepoint_meta(path)
    with pytest.raises(ValueError, match=sp.METADATA_FILE):
        sp.read_savepoint(spark, path)
    with pytest.raises(FileNotFoundError):
        sp.read_savepoint_meta(str(tmp_path / "missing"))


def test_operator_state_is_written_before_metadata(spark, tmp_path):
    """A failure while writing non-keyed state must leave no metadata, so
    no reader opens a savepoint that lacks its operator state."""
    kv = spark.createDataFrame([(1, 10)], "key int, value int")
    w = api.OperatorStateWriter(
        None, str(tmp_path / "new"), spark=spark, max_parallelism=128,
        parallelism=1,
    )
    w.add_value_state("Count", kv, api.INT, api.INT)

    def fail(_i, _backend):
        raise RuntimeError("injected operator-state failure")

    w.transform_non_keyed_state(fail)
    with pytest.raises(RuntimeError, match="injected"):
        w.write_all()
    assert not os.path.exists(tmp_path / "new" / sp.METADATA_FILE)


def test_failed_checkpoint_task_leaves_no_operator_dir(spark, tmp_path):
    """State "B" carries a duplicate key, so its SST writer refuses after
    state "A"'s SST was written: the half-built op-0 directory must not be
    published, or list_sst_files would read A's SST as data."""
    kv = spark.createDataFrame([(k, k) for k in range(10)], "key int, value int")
    a = sr.kv_to_state_rows(kv, "A", fc.INT, fc.INT)
    b = sr.kv_to_state_rows(kv, "B", fc.INT, fc.INT)
    rows = a.unionByName(b).unionByName(b.limit(1))
    path = str(tmp_path / "ck")
    with pytest.raises(Exception, match="sorted"):
        ck.write_incremental_checkpoint(
            rows, path, max_parallelism=128, parallelism=1,
            state_ids={"A": 0, "B": 1},
        )
    assert os.listdir(path) == []
    with pytest.raises(FileNotFoundError):
        ck.list_sst_files(path)


def test_checkpoint_rewrite_reads_only_its_own_subtasks(spark, tmp_path):
    """Rewriting a checkpoint at a lower parallelism must not leave the
    older write's higher op-<i> directories readable."""
    def rows(n):
        kv = spark.createDataFrame([(k, k) for k in range(n)], "key int, value int")
        return sr.kv_to_state_rows(kv, "A", fc.INT, fc.INT)

    path = str(tmp_path / "ck")
    ck.write_incremental_checkpoint(rows(200), path, max_parallelism=128, parallelism=4)
    meta = ck.write_incremental_checkpoint(
        rows(10), path, max_parallelism=128, parallelism=2)
    assert ck.read_incremental_checkpoint(spark, path).count() == 10
    assert sorted(d for d in os.listdir(path) if d.startswith("op-")) == sorted(
        f"op-{i}" for i in meta["subtasks"])


@pytest.mark.parametrize("maxp,par", [(128, 3), (4096, 7)])
def test_route_state_rows_matches_per_row_reference(spark, maxp, par):
    """The numpy routing equals the per-row reference (prefix bytes, flag
    bit masked; KeyedStateRow.java:65-68) and the JVM routing columns the
    shuffle sorts by, on a sliced batch and on large_binary input."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(maxp)
    prefix = fc.key_group_prefix_bytes(maxp)
    groups = rng.integers(0, maxp, 200)
    keys = [
        (int(g) | (0x80 << 8 * (prefix - 1) if i % 3 == 0 else 0)).to_bytes(prefix, "big")
        + rng.bytes(int(rng.integers(0, 5)))
        for i, g in enumerate(groups)
    ]
    names = ["A" if i % 2 else "B" for i in range(len(keys))]
    ids = {"A": 4, "B": 9}
    mask = 0x7F if prefix == 1 else 0x7FFF
    ref_kg = [int.from_bytes(k[:prefix], "big") & mask for k in keys]
    ref = (ref_kg, [g * par // maxp for g in ref_kg], [ids[n] for n in names])

    full = pa.record_batch({"state_name": names, "key_ns": pa.array(keys, pa.binary()),
                            "value": pa.array([b""] * len(keys), pa.binary())})
    large = pa.Table.from_batches([full]).cast(pa.schema([
        ("state_name", pa.string()), ("key_ns", pa.large_binary()),
        ("value", pa.binary())])).to_batches()[0]
    for batch, lo in ((full, 0), (full.slice(37), 37), (large, 0)):
        got = sp.route_state_rows(batch, ids, maxp, par)
        assert [a.tolist() for a in got] == [r[lo:] for r in ref]

    df = spark.createDataFrame(
        [(n, k, b"") for n, k in zip(names, keys)],
        "state_name string, key_ns binary, value binary",
    )
    jvm = sr.with_operator_index_column(
        sr.with_key_group_column(df, max_parallelism=maxp),
        max_parallelism=maxp, parallelism=par,
    ).select("key_group", "op_index").collect()
    assert [r[0] for r in jvm] == ref[0] and [r[1] for r in jvm] == ref[1]
