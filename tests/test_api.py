"""API-facade tests mirroring the reference's conformance suite (SURVEY §5):
ValueStateTransformationTest, KeyedStateAddRemoveTest,
BroadcastStateTransformationTest, TtlStateTest list/map reads."""

from __future__ import annotations

from pyspark.sql import functions as F

from bravo_spark import api
from bravo_spark.sources import operator_state as ops
from bravo_spark.sources import savepoint as sp
from bravo_spark.sources import staterows as sr


def _bootstrap(spark, tmp_path, name="Count", rows=((1, 2), (2, 1), (3, 5))):
    kv = spark.createDataFrame(list(rows), "key int, value int")
    w = api.OperatorStateWriter(
        None, str(tmp_path / "base"), spark=spark, max_parallelism=128, parallelism=2
    )
    w.add_value_state(name, kv, api.INT, api.INT)
    w.write_all()
    return str(tmp_path / "base")


def test_transformation_roundtrip(spark, tmp_path):
    # ValueStateTransformationTest.java:55-100: read, double, enrich, write,
    # re-read; untouched states migrate.
    base = _bootstrap(spark, tmp_path)
    reader = api.OperatorStateReader(spark, base)
    counts = reader.read_value_kv("Count", api.INT, api.INT)
    deltas = spark.createDataFrame(
        [(0, 100), (3, 1000), (1, 100), (2, 1000)], "key int, delta int"
    )
    updated = (
        counts.withColumn("value", F.col("value") * 2)
        .join(deltas, "key")
        .select("key", (F.col("value") + F.col("delta")).alias("value"))
    )
    writer = api.OperatorStateWriter(reader, str(tmp_path / "v2"))
    writer.add_value_state("Count", updated, api.INT, api.INT)
    writer.add_keyed_state_rows(reader.unread_state_rows())
    writer.write_all()

    r2 = api.OperatorStateReader(spark, str(tmp_path / "v2"))
    got = sorted(tuple(r) for r in r2.read_value_kv("Count", api.INT, api.INT).collect())
    assert got == [(1, 104), (2, 1002), (3, 1010)]


def test_add_remove_states(spark, tmp_path):
    # KeyedStateAddRemoveTest.java:73-95: bootstrap a new state onto an
    # operator, delete another, restore.
    base = _bootstrap(spark, tmp_path, name="seen")
    reader = api.OperatorStateReader(spark, base)
    writer = api.OperatorStateWriter(reader, str(tmp_path / "v2"))
    boot = spark.createDataFrame([(1, 100), (2, 100)], "key int, value int")
    writer.create_new_value_state("count", boot, api.INT, api.INT)
    writer.delete_keyed_state("seen")
    writer.write_all()

    r2 = api.OperatorStateReader(spark, str(tmp_path / "v2"))
    names = {
        r["state_name"]
        for r in r2.all_keyed_state_rows().select("state_name").distinct().collect()
    }
    assert names == {"count"}
    got = sorted(tuple(r) for r in r2.read_value_kv("count", api.INT, api.INT).collect())
    assert got == [(1, 100), (2, 100)]


def test_broadcast_state_transformation(spark, tmp_path):
    # BroadcastStateTransformationTest.java:87-118: non-keyed broadcast state
    # read + transform + write (FIXTURES 2.7: {(true,[1])} -> {(true,[2,3])}).
    base = _bootstrap(spark, tmp_path)
    b = ops.OperatorStateBackend()
    b.get_broadcast_state("filteredKeys")[True] = [1]
    ops.write_operator_state(base, [b, ops.OperatorStateBackend()])

    reader = api.OperatorStateReader(spark, base)
    assert reader.operator_state_backend(0).get_broadcast_state("filteredKeys") == {
        True: [1]
    }

    writer = api.OperatorStateWriter(reader, str(tmp_path / "v2"))
    writer.add_keyed_state_rows(reader.all_keyed_state_rows())

    def transform(_subtask: int, backend: ops.OperatorStateBackend) -> None:
        backend.get_broadcast_state("filteredKeys")[True] = [2, 3]

    writer.transform_non_keyed_state(transform)
    writer.write_all()

    r2 = api.OperatorStateReader(spark, str(tmp_path / "v2"))
    for i in range(2):
        assert r2.operator_state_backend(i).get_broadcast_state("filteredKeys") == {
            True: [2, 3]
        }
    # keyed state migrated untouched alongside
    got = sorted(tuple(r) for r in r2.read_value_kv("Count", api.INT, api.INT).collect())
    assert got == [(1, 2), (2, 1), (3, 5)]


def test_list_and_union_state_redistribution(spark, tmp_path):
    path = str(tmp_path / "sv")
    b0, b1 = ops.OperatorStateBackend(), ops.OperatorStateBackend()
    b0.get_list_state("buf").extend([1, 2])
    b1.get_list_state("buf").extend([3])
    b0.get_union_state("offsets").append("p0:10")
    b1.get_union_state("offsets").append("p1:20")
    ops.write_operator_state(path, [b0, b1])

    # rescale 2 -> 3: list splits round-robin, union goes everywhere
    scaled = ops.read_operator_state(path, parallelism=3)
    all_list = sorted(v for b in scaled for v in b.get_list_state("buf"))
    assert all_list == [1, 2, 3]
    for b in scaled:
        assert sorted(b.get_union_state("offsets")) == ["p0:10", "p1:20"]


def test_reader_memoizes_scan_and_tracks_reads(spark, tmp_path):
    base = _bootstrap(spark, tmp_path)
    extra = spark.createDataFrame([(9, 9)], "key int, value int")
    rows = sr.kv_to_state_rows(extra, "Other", api.INT, api.INT)
    all_rows = sp.read_savepoint(spark, base).unionByName(rows)
    sp.write_savepoint(
        all_rows, str(tmp_path / "two"), max_parallelism=128, parallelism=2
    )
    reader = api.OperatorStateReader(spark, str(tmp_path / "two"))
    assert reader.all_keyed_state_rows() is reader.all_keyed_state_rows()
    reader.read_value_kv("Count", api.INT, api.INT).collect()
    unread = {
        r["state_name"]
        for r in reader.unread_state_rows().select("state_name").distinct().collect()
    }
    assert unread == {"Other"}


def test_window_reader_via_api(spark, tmp_path):
    # window-contents rows: key + TimeWindow namespace after the key bytes
    import pandas as pd

    from bravo_spark.codecs import flink as fc

    data = [("1", 1), ("2", 3)]
    kv = spark.createDataFrame(data, "key string, value int")

    def enc(batches):
        for pdf in batches:
            out = {"state_name": [], "key_ns": [], "value": []}
            for k, v in zip(pdf["key"], pdf["value"]):
                ns = fc.write_long(0) + fc.write_long(60_000)  # TimeWindow(0,1min)
                kns = fc.encode_key_ns(
                    str(k), fc.STRING, 128,
                    # TimeWindow.Serializer is fixed-length 16 — not ambiguous
                    namespace_codec=fc.Codec("tw", lambda _v: ns, None, 16),
                    namespace=None,
                )
                out["state_name"].append("window-contents")
                out["key_ns"].append(kns)
                out["value"].append(fc.encode_value_state(int(v), fc.INT))
            yield pd.DataFrame(out)

    rows = kv.mapInPandas(enc, schema=sr.STATE_ROW_SCHEMA)
    sp.write_savepoint(
        rows, str(tmp_path / "w"), max_parallelism=128, parallelism=2
    )
    reader = api.OperatorStateReader(spark, str(tmp_path / "w"))
    got = sorted(
        tuple(r) for r in reader.read_window_kv(api.STRING, api.INT).collect()
    )
    assert got == [("1", 1), ("2", 3)]


def test_rescale_parallelism_only(spark, tmp_path):
    # parallelism 2 -> 5 without decode: key groups invariant, data intact
    base = _bootstrap(spark, tmp_path, rows=[(k, k * 7) for k in range(40)])
    meta = api.rescale_savepoint(
        spark, base, str(tmp_path / "up"), new_parallelism=5
    )
    assert meta.parallelism == 5 and meta.max_parallelism == 128
    r = api.OperatorStateReader(spark, str(tmp_path / "up"))
    got = sorted(tuple(x) for x in r.read_value_kv("Count", api.INT, api.INT).collect())
    assert got == [(k, k * 7) for k in range(40)]


def test_rescale_max_parallelism_reroutes_keys(spark, tmp_path):
    from bravo_spark.codecs import flink as fc
    from bravo_spark.codecs import hashes as kh

    base = _bootstrap(spark, tmp_path, rows=[(k, k) for k in range(30)])
    meta = api.rescale_savepoint(
        spark, base, str(tmp_path / "wide"),
        new_parallelism=4, new_max_parallelism=4096,
        key_codecs={"Count": (api.INT, api.INT)},
    )
    assert meta.max_parallelism == 4096
    back = sp.read_savepoint(spark, str(tmp_path / "wide"))
    # key groups must follow the NEW hash function
    for row in back.collect():
        kg, key, _, _ = fc.decode_key_ns(bytes(row["key_ns"]), fc.INT, 4096)
        assert kg == kh.assign_to_key_group(key, 4096, "int")
    r = api.OperatorStateReader(spark, str(tmp_path / "wide"))
    got = sorted(tuple(x) for x in r.read_value_kv("Count", api.INT, api.INT).collect())
    assert got == [(k, k) for k in range(30)]


def test_rescale_max_parallelism_preserves_all_state_kinds(spark, tmp_path):
    # regression: rescale must NOT reinterpret payloads — list states used to
    # truncate to their first element and map states mis-parsed when the old
    # path decoded everything as a plain value state. The byte-level reroute
    # leaves value/list/map/TTL payloads untouched.
    from bravo_spark.codecs import flink as fc

    lists = spark.createDataFrame(
        [(1, [10, 11, 12]), (2, [20]), (3, [30, 31])],
        "key int, value array<int>",
    )
    maps = spark.createDataFrame(
        [(1, "a", 100), (1, "b", 101), (2, "c", 200)],
        "key int, map_key string, value int",
    )
    ttl_kv = spark.createDataFrame([(7, 70), (8, 80)], "key int, value int")

    def enc_ttl(batches):
        import pandas as pd

        for pdf in batches:
            out = {"state_name": [], "key_ns": [], "value": []}
            for k, v in zip(pdf["key"], pdf["value"]):
                out["state_name"].append("ttlv")
                out["key_ns"].append(fc.encode_key_ns(int(k), fc.INT, 128))
                out["value"].append(
                    fc.encode_value_state(int(v), fc.INT, ttl_ts=1234567890123)
                )
            yield pd.DataFrame(out)

    rows = (
        sr.kv_to_state_rows(lists, "lst", api.INT, api.INT, kind="list")
        .unionByName(
            sr.kv_to_state_rows(
                maps, "mp", api.INT, api.INT, kind="map", map_key_codec=api.STRING
            )
        )
        .unionByName(ttl_kv.mapInPandas(enc_ttl, schema=sr.STATE_ROW_SCHEMA))
    )
    base = str(tmp_path / "mixed")
    sp.write_savepoint(rows, base, max_parallelism=128, parallelism=2)

    meta = api.rescale_savepoint(
        spark, base, str(tmp_path / "mixed-wide"),
        new_parallelism=3, new_max_parallelism=4096,
        key_codecs={"lst": api.INT, "mp": api.INT, "ttlv": api.INT},
    )
    assert meta.max_parallelism == 4096

    r = api.OperatorStateReader(spark, str(tmp_path / "mixed-wide"))
    got_lists = sorted(
        (x["key"], list(x["value"]))
        for x in r.read_list_as_list("lst", api.INT, api.INT).collect()
    )
    assert got_lists == [(1, [10, 11, 12]), (2, [20]), (3, [30, 31])]
    got_maps = sorted(
        tuple(x)
        for x in r.read_map_entries(
            "mp", api.INT, api.STRING, api.INT
        ).collect()
    )
    assert got_maps == [(1, "a", 100), (1, "b", 101), (2, "c", 200)]
    got_ttl = sorted(
        tuple(x) for x in r.read_value_kv("ttlv", api.INT, api.INT, ttl=True).collect()
    )
    assert got_ttl == [(7, 70), (8, 80)]


def test_write_savepoint_rejects_unmapped_state(spark, tmp_path):
    import pytest as _pytest

    kv = spark.createDataFrame([(1, 2)], "key int, value int")
    rows = sr.kv_to_state_rows(kv, "present", api.INT, api.INT)
    # validation is executor-side (no extra driver pass over the relation),
    # so the refusal arrives wrapped in Spark's Python exception; it names
    # the provided mapping so the missing state is identifiable
    with _pytest.raises(Exception, match="state_ids"):
        sp.write_savepoint(
            rows, str(tmp_path / "bad"), max_parallelism=128, parallelism=1,
            state_ids={"other": 0},
        )


def test_write_savepoint_rejects_mismatched_max_parallelism(spark, tmp_path):
    """Rows encoded at max_parallelism=128 carry a 1-byte key-group prefix;
    writing them at 4096 would re-read 2 bytes as the group (shifting every
    key by a byte on the way back out) — silent corruption. The writer must
    refuse when the derived group falls outside [0, max_parallelism)."""
    import pytest as _pytest

    kv = spark.createDataFrame(
        [(i, i * 10) for i in range(50)], "key long, value long"
    )
    rows = sr.kv_to_state_rows(kv, "Count", api.LONG, api.LONG)  # maxp 128
    with _pytest.raises(Exception, match="different max_parallelism"):
        sp.write_savepoint(
            rows, str(tmp_path / "bad"), max_parallelism=4096, parallelism=2,
            state_ids={"Count": 0},
        )


def test_rescale_max_parallelism_requires_codecs(spark, tmp_path):
    import pytest as _pytest

    base = _bootstrap(spark, tmp_path)
    with _pytest.raises(ValueError, match="key_codecs"):
        api.rescale_savepoint(
            spark, base, str(tmp_path / "x"),
            new_parallelism=2, new_max_parallelism=256,
        )


def test_read_savepoint_kv_defaults_to_meta_max_parallelism(spark, tmp_path):
    """The fused reader must take the key-group prefix width from the
    savepoint's own metadata: at max_parallelism 4096 (2-byte prefix) an
    assumed 128 default silently mis-splits every key."""
    from bravo_spark.codecs import flink as fc
    from bravo_spark.sources import savepoint as sp
    from bravo_spark.sources import staterows as sr

    df = spark.createDataFrame(
        [(k, k * 10) for k in range(40)], "key long, value long"
    )
    rows = sr.kv_to_state_rows(df, "Count", fc.LONG, fc.LONG, max_parallelism=4096)
    out = str(tmp_path / "wide")
    sp.write_savepoint(
        rows, out, max_parallelism=4096, parallelism=3, state_ids={"Count": 0}
    )
    got = sorted(
        (r["key"], r["value"])
        for r in sp.read_savepoint_kv(spark, out, "Count", fc.LONG, fc.LONG).collect()
    )
    assert got == [(k, k * 10) for k in range(40)]


def test_write_savepoint_rejects_out_of_range_first_group(spark, tmp_path):
    """The range refusal must fire even when the bad group is the FIRST (and
    only) group of its section file — the file-open path records the group
    without a change-comparison, which previously skipped validation."""
    import pytest as _pytest

    # max_parallelism=100 keeps the 1-byte prefix but leaves groups
    # 100..127 representable-and-invalid; a single row in group 120 is the
    # whole file, so only a per-row check can catch it
    rows = spark.createDataFrame(
        [("Count", bytes([120, 0, 0, 0, 1, 0]), b"\x00" * 8)],
        "state_name string, key_ns binary, value binary",
    )
    with _pytest.raises(Exception, match="different max_parallelism"):
        sp.write_savepoint(
            rows, str(tmp_path / "bad"), max_parallelism=100, parallelism=1,
            state_ids={"Count": 0},
        )


def test_maintenance_namespace_exports():
    """The one-import checkpoint-maintenance surface stays complete."""
    from bravo_spark import maintenance as m

    for name in m.__all__:
        assert callable(getattr(m, name)), name
    # the families an operator reaches for, by name
    for required in (
        "compact_spark_checkpoint", "compact_rocksdb_checkpoint",
        "gc_rocksdb_checkpoint", "prune_spark_checkpoint",
        "prune_rocksdb_checkpoint", "patch_watermark",
        "rewind_checkpoint", "read_streaming_progress",
        "audit_checkpoint", "audit_savepoint", "repair_sidecars",
    ):
        assert required in m.__all__, required


def test_audit_savepoint_defect_injection(spark, tmp_path):
    """audit_savepoint (r16): empty on a healthy savepoint (deep decode
    included), then one finding per injected defect — truncated state
    file (offset_out_of_bounds for the cut groups + decode_failure for
    the span the cut tore), metadata pointing at a missing file,
    duplicate key group, out-of-range key group, unreadable metadata."""
    import json
    import os

    from bravo_spark import maintenance as mt
    from bravo_spark.sources.savepoint import METADATA_FILE

    base = _bootstrap(spark, tmp_path)
    assert mt.audit_savepoint(spark, base, deep=True).count() == 0

    mpath = os.path.join(base, METADATA_FILE)
    meta = json.loads(open(mpath).read())

    # truncate the largest state file mid-payload: offsets past the cut
    # go out of bounds; the span straddling the cut stops decoding
    fentry = max(meta["files"], key=lambda f: os.path.getsize(f["path"]))
    size = os.path.getsize(fentry["path"])
    cut = size - 3
    with open(fentry["path"], "rb+") as f:
        f.truncate(cut)
    rows = mt.audit_savepoint(spark, base, deep=True).collect()
    checks = {r["check"] for r in rows}
    assert "decode_failure" in checks or "offset_out_of_bounds" in checks
    assert all(r["severity"] == "error" for r in rows)
    with open(fentry["path"], "ab") as f:
        f.write(b"\x00" * (size - cut))  # restore length (content torn)

    # metadata defects: missing file, duplicate kg, out-of-range kg
    bad = json.loads(json.dumps(meta))
    bad["files"].append({
        "path": os.path.join(base, "no-such-file"),
        "op_index": 0,
        "offsets": {},
    })
    first_kg = sorted(bad["files"][0]["offsets"])[0]
    bad["files"].append({
        "path": bad["files"][0]["path"],
        "op_index": 0,
        "offsets": {first_kg: 0, "999999": 1},
    })
    open(mpath, "w").write(json.dumps(bad))
    checks = {
        r["check"] for r in mt.audit_savepoint(spark, base).collect()
    }
    assert {"missing_state_file", "keygroup_duplicate",
            "keygroup_out_of_range"} <= checks

    # unreadable metadata is a finding, not a crash
    open(mpath, "w").write("{torn")
    rows = mt.audit_savepoint(spark, base).collect()
    assert [r["check"] for r in rows] == ["metadata_unreadable"]


def test_audit_savepoint_deep_on_compressed(spark, tmp_path):
    """audit_savepoint(deep=True) must thread the metadata's compression
    flag into the span probes: a healthy Snappy-framed savepoint decodes
    clean, and truncating a compressed section surfaces as
    decode_failure/offset_out_of_bounds rather than a crash."""
    import os

    from bravo_spark import maintenance as mt
    from bravo_spark.codecs import flink as fc
    from bravo_spark.sources import savepoint as sp
    from bravo_spark.sources import staterows as sr

    kv = spark.createDataFrame(
        [(k, k * 11) for k in range(40)], "key int, value int"
    )
    rows = sr.kv_to_state_rows(kv, "s", fc.INT, fc.INT)
    base = str(tmp_path / "c")
    sp.write_savepoint(
        rows, base, max_parallelism=128, parallelism=2, compression=True,
    )
    assert sp.read_savepoint_meta(base).compression is True
    assert mt.audit_savepoint(spark, base, deep=True).count() == 0

    meta = sp.read_savepoint_meta(base)
    victim = max(meta.files, key=lambda f: os.path.getsize(f["path"]))
    size = os.path.getsize(victim["path"])
    with open(victim["path"], "rb+") as f:
        f.truncate(size - 4)
    rows_found = mt.audit_savepoint(spark, base, deep=True).collect()
    checks = {r["check"] for r in rows_found}
    assert checks & {"decode_failure", "offset_out_of_bounds"}, checks


def test_typed_reader_scans_only_its_state(spark, tmp_path):
    """keyed_state_rows pushes the names into the byte scan: a typed read
    never decodes the other states, while the all-state scan and the
    unread complement still see them."""
    base = _bootstrap(spark, tmp_path)
    extra = spark.createDataFrame([(9, 9)], "key int, value int")
    rows = sr.kv_to_state_rows(extra, "Other", api.INT, api.INT)
    sp.write_savepoint(
        sp.read_savepoint(spark, base).unionByName(rows),
        str(tmp_path / "two"), max_parallelism=128, parallelism=2,
    )
    reader = api.OperatorStateReader(spark, str(tmp_path / "two"))
    names = [r[0] for r in reader.keyed_state_rows(["Count"]).collect()]
    assert names == ["Count"] * 3
    assert "Other" not in reader.keyed_state_rows(["Count"])._jdf.queryExecution().toString()
    got = sorted(tuple(r) for r in reader.read_value_values("Count", api.INT).collect())
    assert got == [(1,), (2,), (5,)]
    unread = {r[0] for r in reader.unread_state_rows().select("state_name").collect()}
    assert unread == {"Other"}
    assert reader.all_keyed_state_rows().count() == 4


def test_corrupt_compressed_section_refuses_through_reader(spark, tmp_path):
    """One flipped byte inside a Snappy-framed section fails the read
    with the frame CRC error. The flipped byte is the first literal byte
    of the first chunk, so the chunk still decompresses and only the
    checksum can catch it."""
    import os

    import pytest

    from codec_oracles import snappy

    kv = spark.createDataFrame(
        [(k, [k, k * 7, k * 11]) for k in range(200)], "key long, value array<long>"
    )
    rows = sr.kv_to_state_rows(kv, "L", api.LONG, api.LONG, kind="list")
    base = str(tmp_path / "c")
    sp.write_savepoint(
        rows, base, max_parallelism=128, parallelism=2, compression=True,
        state_ids={"L": 0},
    )
    reader = api.OperatorStateReader(spark, base)
    assert reader.read_list_flatten("L", api.LONG, api.LONG).count() == 600

    meta = sp.read_savepoint_meta(base)
    fmeta = meta.files[0]
    start = min(int(v) for v in fmeta["offsets"].values())
    with open(fmeta["path"], "rb") as f:
        f.seek(start)
        head = f.read(64)
    ident = len(snappy.STREAM_IDENTIFIER)
    assert head[:ident] == snappy.STREAM_IDENTIFIER
    at = ident + 8  # chunk type + 3-byte length + masked CRC
    if head[ident] == 0x00:  # compressed: skip the length varint ...
        _n, at = snappy._read_uvarint(head, at)
        assert head[at] & 3 == 0  # ... to the first literal's bytes
        at += 1 + max(0, (head[at] >> 2) - 59)
    with open(fmeta["path"], "rb+") as f:
        f.seek(start + at)
        byte = f.read(1)[0]
        f.seek(start + at)
        f.write(bytes([byte ^ 0x01]))

    reader = api.OperatorStateReader(spark, base)
    with pytest.raises(Exception, match="snappy frame CRC mismatch"):
        reader.read_list_flatten("L", api.LONG, api.LONG).collect()
