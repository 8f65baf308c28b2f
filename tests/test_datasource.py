"""The bravo_savepoint / bravo_checkpoint Python DataSources: spark.read
integration, split planning, state_names option narrowing, and
state_name filters that stay correct Spark-side."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bravo_spark.codecs import flink as fc
from bravo_spark.sources import datasource as ds
from bravo_spark.sources import savepoint as sp
from bravo_spark.sources import staterows as sr


def _two_state_savepoint(spark, tmp_path, compression=False):
    kv = spark.createDataFrame(
        [(k, k * 10) for k in range(40)], "key int, value int"
    )
    rows = sr.kv_to_state_rows(kv, "Count", fc.INT, fc.INT)
    other = sr.kv_to_state_rows(kv, "Other", fc.INT, fc.INT)
    out = str(tmp_path / "sp")
    sp.write_savepoint(
        rows.unionByName(other), out, max_parallelism=128, parallelism=2,
        state_ids={"Count": 0, "Other": 1}, compression=compression,
    )
    return out


def test_datasource_scan_and_decode(spark, tmp_path):
    out = _two_state_savepoint(spark, tmp_path)
    ds.register(spark)
    df = spark.read.format("bravo_savepoint").load(out)
    assert df.count() == 80

    filt = df.filter(F.col("state_name") == "Count")
    got = sorted(
        tuple(r)
        for r in sr.read_value_kv(filt, "Count", fc.INT, fc.INT).collect()
    )
    assert got == [(k, k * 10) for k in range(40)]

    # the option narrows the byte scan itself: same rows, and no
    # state_name comparison is left for Spark to evaluate
    narrowed = spark.read.format("bravo_savepoint").option("state_names", "Count").load(out)
    assert sorted(
        tuple(r)
        for r in sr.read_value_kv(narrowed, "Count", fc.INT, fc.INT).collect()
    ) == got
    plan = narrowed._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan bravo_savepoint" in plan and "Count" not in plan.split("BatchScan")[0]

    # re-register is a no-op, and an In() filter returns both states
    ds.register(spark)
    assert df.filter(F.col("state_name").isin("Count", "Other")).count() == 80


def test_datasource_compressed_and_option_narrowing(spark, tmp_path):
    out = _two_state_savepoint(spark, tmp_path, compression=True)
    ds.register(spark)
    narrowed = (
        spark.read.format("bravo_savepoint")
        .option("state_names", "Other")
        .load(out)
    )
    assert narrowed.count() == 40
    # option + contradictory Spark-side filter: the empty set
    assert narrowed.filter(F.col("state_name") == "Count").count() == 0


def test_push_filters_unit():
    """The readers do not absorb pushed filters: every filter, state_name
    ones included, goes back to Spark, and the selection comes from the
    state_names option alone."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, In

    for reader in (ds.SavepointScanReader, ds.CheckpointScanReader):
        r = reader({"path": "/nonexistent", "state_names": "A, B"})
        filters = [
            EqualTo(("state_name",), "A"),
            In(("state_name",), ("A", "B")),
            GreaterThanOrEqual(("key_ns",), b""),
        ]
        assert list(r.pushFilters(filters)) == filters
        assert r.state_names == {"A", "B"}
        assert reader({"path": "/nonexistent"}).state_names is None


def test_state_filters_on_one_load_stay_separate(spark, tmp_path):
    """One loaded relation filtered on two different state names in one
    query: each branch returns its own state's rows. When state_name
    filters were pushed into the reader, Spark 4.1's single mutable
    pushdown state per loaded relation let the last pushed filter win
    for both branches."""
    from bravo_spark.sources import checkpoint as ck

    kv = spark.createDataFrame([(k, k) for k in range(30)], "key int, value int")
    counts = sr.kv_to_state_rows(kv, "counts", fc.INT, fc.INT)
    decoy = sr.kv_to_state_rows(kv.filter("key < 10"), "decoy", fc.INT, fc.INT)
    rows = counts.unionByName(decoy)
    sp_dir = str(tmp_path / "sp")
    sp.write_savepoint(
        rows, sp_dir, max_parallelism=128, parallelism=2,
        state_ids={"counts": 0, "decoy": 1},
    )
    ck_dir = str(tmp_path / "ck")
    ck.write_incremental_checkpoint(
        rows, ck_dir, max_parallelism=128, parallelism=2,
        state_ids={"counts": 0, "decoy": 1},
    )
    ds.register(spark)
    for fmt, path in (("bravo_savepoint", sp_dir), ("bravo_checkpoint", ck_dir)):
        s = spark.read.format(fmt).load(path)
        got = (
            s.filter("state_name='counts'")
            .unionAll(s.filter("state_name='decoy'"))
            .groupBy("state_name")
            .count()
            .collect()
        )
        assert sorted(tuple(r) for r in got) == [("counts", 30), ("decoy", 10)], fmt


def test_datasource_requires_path():
    with pytest.raises(ValueError, match="path"):
        ds.SavepointScanReader({})


def test_datasource_writer_roundtrip(spark, tmp_path):
    import json as _json

    ds.register(spark)
    kv = spark.createDataFrame(
        [(k, k * 10) for k in range(60)], "key int, value int"
    )
    rows = sr.kv_to_state_rows(kv, "Count", fc.INT, fc.INT)
    out = str(tmp_path / "w")
    (
        rows.write.format("bravo_savepoint")
        .option("state_ids", _json.dumps({"Count": 0}))
        .option("max_parallelism", "128")
        .option("parallelism", "3")
        .mode("overwrite")
        .save(out)
    )
    meta = sp.read_savepoint_meta(out)
    assert meta.parallelism == 3 and meta.state_ids == {"Count": 0}
    # correct under arbitrary upstream partitioning (several partial files
    # per op are legal; the scan concatenates sections)
    back = sr.read_value_kv(sp.read_savepoint(spark, out), "Count", fc.INT, fc.INT)
    assert sorted(tuple(r) for r in back.collect()) == [
        (k, k * 10) for k in range(60)
    ]

    # pre-shaped on op_index -> exactly one file per operator index
    shaped = sr.with_operator_index_column(
        sr.with_key_group_column(rows, max_parallelism=128),
        max_parallelism=128, parallelism=3,
    )
    out2 = str(tmp_path / "w2")
    (
        shaped.repartition(3, "op_index")
        .select("state_name", "key_ns", "value")
        .write.format("bravo_savepoint")
        .option("state_ids", _json.dumps({"Count": 0}))
        .option("max_parallelism", "128")
        .option("parallelism", "3")
        .mode("append")
        .save(out2)
    )
    assert len(sp.read_savepoint_meta(out2).files) == 3

    # refusals: missing state_ids; missing max_parallelism; unmapped name
    with pytest.raises(Exception, match="state_ids"):
        rows.write.format("bravo_savepoint").mode("overwrite").save(out)
    with pytest.raises(Exception, match="max_parallelism"):
        (
            rows.write.format("bravo_savepoint")
            .option("state_ids", _json.dumps({"Count": 0}))
            .mode("overwrite")
            .save(str(tmp_path / "w3"))
        )
    with pytest.raises(Exception, match="no entry"):
        (
            rows.write.format("bravo_savepoint")
            .option("state_ids", _json.dumps({"Wrong": 0}))
            .option("max_parallelism", "128")
            .mode("overwrite")
            .save(str(tmp_path / "w3"))
        )


def test_datasource_writer_append_merges_and_overwrite_is_deferred(
    spark, tmp_path
):
    """The durability protocol: append must keep earlier data visible
    (metadata merge), and a FAILED overwrite must leave the original
    savepoint fully readable (old files are deleted only in commit,
    after the new metadata is durable)."""
    import json as _json

    ds.register(spark)
    out = str(tmp_path / "sp")

    def write(kv_rows, state, mode, ids):
        (
            kv_rows.write.format("bravo_savepoint")
            .option("state_ids", _json.dumps(ids))
            .option("max_parallelism", "128")
            .option("parallelism", "2")
            .mode(mode)
            .save(out)
        )
        _ = state

    kv1 = spark.createDataFrame([(k, k) for k in range(10)], "key int, value int")
    rows1 = sr.kv_to_state_rows(kv1, "A", fc.INT, fc.INT)
    write(rows1, "A", "overwrite", {"A": 0})

    kv2 = spark.createDataFrame([(k, k) for k in range(10, 30)], "key int, value int")
    rows2 = sr.kv_to_state_rows(kv2, "B", fc.INT, fc.INT)
    write(rows2, "B", "append", {"B": 1})

    df = spark.read.format("bravo_savepoint").load(out)
    assert df.count() == 30  # append did NOT orphan the first write
    meta = sp.read_savepoint_meta(out)
    assert meta.state_ids == {"A": 0, "B": 1}

    # append with a conflicting id for an existing name refuses
    with pytest.raises(Exception, match="conflict"):
        write(rows2, "B", "append", {"B": 0})

    # failed overwrite (unmapped state) leaves the original intact
    with pytest.raises(Exception, match="no entry"):
        write(rows1, "A", "overwrite", {"Nope": 0})
    assert spark.read.format("bravo_savepoint").load(out).count() == 30

    # successful overwrite replaces data AND removes the old files
    import os

    before = {f for f in os.listdir(out) if f.startswith("op-")}
    write(rows1, "A", "overwrite", {"A": 0})
    after = {f for f in os.listdir(out) if f.startswith("op-")}
    assert spark.read.format("bravo_savepoint").load(out).count() == 10
    assert not (before & after)  # every pre-overwrite file is gone


def test_datasource_empty_selection_short_circuits(spark, tmp_path):
    out = _two_state_savepoint(spark, tmp_path)
    ds.register(spark)
    empty = (
        spark.read.format("bravo_savepoint")
        .option("state_names", "Other")
        .load(out)
        .filter(F.col("state_name") == "Count")
    )
    assert empty.count() == 0
    # an option that names no state plans the single no-op sentinel
    # partition
    r = ds.SavepointScanReader({"path": out, "state_names": " , "})
    parts = r.partitions()
    assert len(parts) == 1
    import json as _json

    assert _json.loads(parts[0].value)["file"] is None


def test_checkpoint_datasource_scan(spark, tmp_path):
    """bravo_checkpoint format: raw per-version SST relation, CF pruning
    via pushed state_name predicates, resolve_lsm equivalence with the
    library read path."""
    import json as _json

    from bravo_spark.sources import checkpoint as ck

    kv = spark.createDataFrame(
        [(k, k * 10) for k in range(50)], "key long, value long"
    )
    rows = sr.kv_to_state_rows(kv, "Count", fc.LONG, fc.LONG)
    decoy = sr.kv_to_state_rows(kv, "Decoy", fc.LONG, fc.LONG)
    out = str(tmp_path / "ckpt")
    ck.write_incremental_checkpoint(
        rows.unionByName(decoy), out, max_parallelism=128, parallelism=2
    )
    ds.register(spark)

    only = (
        spark.read.format("bravo_checkpoint").option("state_names", "Count").load(out)
    )
    got = sorted(
        tuple(r)
        for r in sr.read_value_kv(
            ck.resolve_lsm(only), "Count", fc.LONG, fc.LONG
        ).collect()
    )
    assert got == [(k, k * 10) for k in range(50)]
    # equivalent to the library path
    lib = sorted(
        tuple(r)
        for r in sr.read_value_kv(
            ck.read_incremental_checkpoint(spark, out, state_names=["Count"]),
            "Count", fc.LONG, fc.LONG,
        ).collect()
    )
    assert got == lib
    # the option prunes column families in the scan: only Count's
    # versions come out, with no state_name comparison left for Spark
    assert [r[0] for r in only.select("state_name").distinct().collect()] == ["Count"]
    plan = only._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan bravo_checkpoint" in plan
    assert "Count" not in plan.split("BatchScan")[0]
    # a Spark-side filter on the unnarrowed load gives the same rows
    raw = spark.read.format("bravo_checkpoint").load(out)
    assert sorted(
        tuple(r)
        for r in sr.read_value_kv(
            ck.resolve_lsm(raw.filter(F.col("state_name") == "Count")),
            "Count", fc.LONG, fc.LONG,
        ).collect()
    ) == got

    # an option that names no state plans the no-op sentinel
    r = ds.CheckpointScanReader({"path": out, "state_names": " , "})
    parts = r.partitions()
    assert len(parts) == 1 and _json.loads(parts[0].value)["file"] is None


def test_checkpoint_datasource_flink_layout(spark, tmp_path):
    """A genuine Flink checkpoint directory (_metadata whose incremental
    handles name the shared SSTs, which live elsewhere) must be readable
    through spark.read.format("bravo_checkpoint") — partitions() routes
    discovery through the _metadata walk, same as the library path."""
    import os as _os

    from bravo_spark.codecs.hashes import operator_id
    from bravo_spark.sources import checkpoint as ck
    from bravo_spark.sources import flink_metadata as fm
    from bravo_spark.sources import sst as sstmod

    shared = str(tmp_path / "shared")
    kns = fc.encode_key_ns(3, fc.INT, 128)
    files = ck.write_sst_fixture(
        shared,
        {"s": [(kns, 8, sstmod.TYPE_VALUE, fc.encode_value_state(33, fc.INT))]},
    )
    h = fm.IncrementalKeyedHandle(
        checkpoint_id=5, backend_id="b-1", start_key_group=0,
        num_key_groups=128,
        meta=fm.StreamStateHandle(
            fm.BYTE_STREAM_STATE_HANDLE, 1, path="m", data=b"x"
        ),
        shared=[
            (_os.path.basename(p), fm.StreamStateHandle(
                fm.FILE_STREAM_STATE_HANDLE, _os.path.getsize(p),
                path=f"file:{p}"))
            for p in files
        ],
        private=[],
    )
    op = fm.OperatorStateMeta(operator_id("op"), 1, 128)
    op.subtasks.append(fm.SubtaskState(0, managed_keyed=h))
    chk = tmp_path / "chk-5"
    chk.mkdir()
    with open(chk / "_metadata", "wb") as f:
        f.write(fm.serialize(fm.FlinkSavepoint(5, [op])))

    ds.register(spark)
    raw = spark.read.format("bravo_checkpoint").load(str(chk))
    got = [
        tuple(r)
        for r in sr.read_value_kv(
            ck.resolve_lsm(raw), "s", fc.INT, fc.INT
        ).collect()
    ]
    assert got == [(3, 33)]


def test_checkpoint_datasource_no_sst_files_yields_empty(spark, tmp_path):
    """A _metadata referencing no .sst files (heap-state / full-savepoint
    checkpoints) must scan as an EMPTY relation, not crash: Spark replaces
    an empty partitions() list with [None], so the reader plans the same
    {file: None} sentinel partition the savepoint reader uses."""
    import json as _json

    from bravo_spark.codecs.hashes import operator_id
    from bravo_spark.sources import flink_metadata as fm

    op = fm.OperatorStateMeta(operator_id("op"), 1, 128)
    chk = tmp_path / "chk-empty"
    chk.mkdir()
    with open(chk / "_metadata", "wb") as f:
        f.write(fm.serialize(fm.FlinkSavepoint(7, [op])))

    r = ds.CheckpointScanReader({"path": str(chk)})
    parts = r.partitions()
    assert len(parts) == 1
    assert _json.loads(parts[0].value)["file"] is None

    ds.register(spark)
    assert spark.read.format("bravo_checkpoint").load(str(chk)).count() == 0


def test_datasource_writer_append_parallelism_mismatch_refuses(
    spark, tmp_path
):
    """Appending with a different parallelism must refuse: the prior files'
    op-index layout was computed with the old value, so silently adopting
    the new one would mislead restore shaping."""
    import json as _json

    ds.register(spark)
    out = str(tmp_path / "sp")
    kv = spark.createDataFrame([(k, k) for k in range(10)], "key int, value int")
    rows = sr.kv_to_state_rows(kv, "A", fc.INT, fc.INT)

    def write(state_rows, mode, ids, par):
        (
            state_rows.write.format("bravo_savepoint")
            .option("state_ids", _json.dumps(ids))
            .option("max_parallelism", "128")
            .option("parallelism", str(par))
            .mode(mode)
            .save(out)
        )

    write(rows, "overwrite", {"A": 0}, 2)
    kv2 = spark.createDataFrame([(k, k) for k in range(10, 20)], "key int, value int")
    rows2 = sr.kv_to_state_rows(kv2, "B", fc.INT, fc.INT)
    with pytest.raises(Exception, match="parallelism"):
        write(rows2, "append", {"B": 1}, 3)
    # matching parallelism still appends fine
    write(rows2, "append", {"B": 1}, 2)
    assert spark.read.format("bravo_savepoint").load(out).count() == 20
    # the atomic-swap temp file never survives a successful commit
    import os as _os

    assert not [p for p in _os.listdir(out) if p.endswith(".tmp")]


def test_checkpoint_datasource_verify_checksums(spark, tmp_path):
    """.option("verify_checksums", "true") through the bravo_checkpoint
    front door (the functional API got it in r13): a clean checkpoint
    reads identically to the unverified scan; one flipped data-block byte
    fails the task loudly instead of decoding garbage."""
    import struct as _struct

    import pytest as _pytest

    from bravo_spark.sources import checkpoint as ck
    from bravo_spark.sources import sst as sstmod

    entries = {
        "Count": [
            (_struct.pack(">Q", i), 1, sstmod.TYPE_VALUE, _struct.pack(">q", i * 3))
            for i in range(500)
        ]
    }
    out = str(tmp_path / "ck")
    ck.write_sst_fixture(out, entries, compression=sstmod.SNAPPY_COMPRESSION)
    ds.register(spark)

    verified = (
        spark.read.format("bravo_checkpoint")
        .option("verify_checksums", "true")
        .load(out)
    )
    plain = spark.read.format("bravo_checkpoint").load(out)
    assert sorted(bytes(r["key_ns"]) for r in verified.collect()) == sorted(
        bytes(r["key_ns"]) for r in plain.collect()
    )

    # corrupt one byte inside the first data block
    path = ck.list_sst_files(out)[0]
    h = next(iter(sstmod.SstReader(path).iter_data_handles()))
    buf = bytearray(open(path, "rb").read())
    buf[h.offset + h.size // 2] ^= 0xFF
    open(path, "wb").write(bytes(buf))

    with _pytest.raises(Exception, match="checksum|corrupt|snappy"):
        spark.read.format("bravo_checkpoint").option(
            "verify_checksums", "true"
        ).load(out).count()
    # and the option parses through the reader ctor
    r = ds.CheckpointScanReader({"path": out, "verify_checksums": "true"})
    assert r.verify_checksums is True
    assert ds.CheckpointScanReader({"path": out}).verify_checksums is False
