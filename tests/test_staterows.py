"""Reader/writer round-trips over the universal state-row relation,
mirroring the reference's conformance tests (SURVEY.md §5, FIXTURES.md §2)."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from bravo_spark.codecs import flink as fc
from bravo_spark.codecs import hashes as kh
from bravo_spark.sources import savepoint as sp
from bravo_spark.sources import staterows as sr


def _kv_df(spark, rows, key_type="int", value_type="int"):
    return spark.createDataFrame(rows, schema=f"key {key_type}, value {value_type}")


def test_value_state_roundtrip(spark):
    # FIXTURES 2.1: count per key {(1,2),(2,1)}
    kv = _kv_df(spark, [(1, 2), (2, 1)])
    rows = sr.kv_to_state_rows(kv, "Count", fc.INT, fc.INT)
    back = sr.read_value_kv(rows, "Count", fc.INT, fc.INT)
    assert sorted(tuple(r) for r in back.collect()) == [(1, 2), (2, 1)]


def test_value_state_keygroup_parity(spark):
    kv = _kv_df(spark, [(k, k * 10) for k in range(20)])
    rows = sr.kv_to_state_rows(kv, "Count", fc.INT, fc.INT)
    got = sr.with_key_group_column(rows, max_parallelism=128).select("key_ns", "key_group")
    for r in got.collect():
        _, key, _, _ = fc.decode_key_ns(bytes(r["key_ns"]), fc.INT, 128)
        assert r["key_group"] == kh.assign_to_key_group(key, 128)


def test_value_values_only(spark):
    kv = _kv_df(spark, [(1, 5), (2, 7)])
    rows = sr.kv_to_state_rows(kv, "Count", fc.INT, fc.INT)
    vals = sorted(r["value"] for r in sr.read_value_values(rows, "Count", fc.INT).collect())
    assert vals == [5, 7]


def test_state_name_filters(spark):
    a = sr.kv_to_state_rows(_kv_df(spark, [(1, 1)]), "a", fc.INT, fc.INT)
    b = sr.kv_to_state_rows(_kv_df(spark, [(2, 2)]), "b", fc.INT, fc.INT)
    both = a.unionByName(b)  # U1 bag union
    assert sr.filter_states(both, ["a"]).count() == 1
    assert sr.exclude_states(both, ["a"]).count() == 1
    assert both.count() == 2


def test_list_state_flatten_and_list_duality(spark):
    # FIXTURES 2.5/2.8: {(1,[1,2,1]),(2,[3])}
    pdf = pd.DataFrame({"key": [1, 2], "value": [[1, 2, 1], [3]]})
    kv = spark.createDataFrame(pdf, schema="key int, value array<int>")
    rows = sr.kv_to_state_rows(kv, "List", fc.INT, fc.INT, kind="list")
    flat = sorted(tuple(r) for r in sr.read_list_flatten(rows, "List", fc.INT, fc.INT).collect())
    assert flat == [(1, 1), (1, 2), (2, 3)] or flat == sorted([(1, 1), (1, 2), (1, 1), (2, 3)])
    aslist = {r["key"]: r["value"] for r in sr.read_list_as_list(rows, "List", fc.INT, fc.INT).collect()}
    assert aslist == {1: [1, 2, 1], 2: [3]}


@pytest.mark.parametrize("ttl", [False, True])
def test_list_readers_fast_path_and_fallback(spark, ttl):
    """Both list readers give the scalar codec's rows whether a batch
    takes the numpy fast path (fixed-width LONG elements) or falls back
    (an empty list in the batch; STRING elements)."""
    ts = 5 if ttl else None
    lists = {1: [10, -2, 10], 2: [3], 3: [2**40, 0]}
    full = spark.createDataFrame(
        pd.DataFrame({"key": list(lists), "value": list(lists.values())}),
        schema="key long, value array<long>",
    ).coalesce(1)
    with_empty = full.unionByName(
        spark.createDataFrame([(4, [])], "key long, value array<long>")
    ).coalesce(1)
    for kv, want in ((full, lists), (with_empty, {**lists, 4: []})):
        rows = sr.kv_to_state_rows(kv, "L", fc.LONG, fc.LONG, kind="list", ttl_ts=ts)
        flat = sr.read_list_flatten(rows, "L", fc.LONG, fc.LONG, ttl=ttl).collect()
        assert sorted(tuple(r) for r in flat) == sorted(
            (k, e) for k, v in want.items() for e in v
        )
        aslist = sr.read_list_as_list(rows, "L", fc.LONG, fc.LONG, ttl=ttl).collect()
        assert {r["key"]: r["value"] for r in aslist} == want

    skv = spark.createDataFrame([(1, ["a", "bc"])], "key int, value array<string>")
    srows = sr.kv_to_state_rows(skv, "S", fc.INT, fc.STRING, kind="list", ttl_ts=ts)
    got = sr.read_list_as_list(srows, "S", fc.INT, fc.STRING, ttl=ttl).collect()
    assert [tuple(r) for r in got] == [(1, ["a", "bc"])]


def test_map_state_entries_and_values(spark):
    # FIXTURES 2.4: {(1,'1',2),(1,'2',1),(2,'3',1)}
    rows_src = [(1, "1", 2), (1, "2", 1), (2, "3", 1)]
    kv = spark.createDataFrame(rows_src, schema="key int, map_key string, value int")
    rows = sr.kv_to_state_rows(kv, "Count", fc.INT, fc.INT, kind="map", map_key_codec=fc.STRING)
    entries = sorted(tuple(r) for r in sr.read_map_entries(rows, "Count", fc.INT, fc.STRING, fc.INT).collect())
    assert entries == sorted(rows_src)
    vals = sorted(r["value"] for r in sr.read_map_values(rows, "Count", fc.INT).collect())
    assert vals == [1, 1, 2]


def test_ttl_value_state(spark):
    # TTL-wrapped payloads: 8-byte ts prefix skipped on read (FIXTURES 2.5)
    kv = _kv_df(spark, [(1, 1), (2, 3)])
    rows = kv.mapInPandas(
        lambda it: (
            pd.DataFrame(
                {
                    "state_name": ["Val"] * len(p),
                    "key_ns": [fc.encode_key_ns(int(k), fc.INT, 128) for k in p["key"]],
                    "value": [
                        fc.encode_value_state(int(v), fc.INT, ttl_ts=1234567) for v in p["value"]
                    ],
                }
            )
            for p in it
        ),
        schema=sr.STATE_ROW_SCHEMA,
    )
    got = sorted(tuple(r) for r in sr.read_value_kv(rows, "Val", fc.INT, fc.INT, ttl=True).collect())
    assert got == [(1, 1), (2, 3)]


def test_type_change_migration(spark):
    # FIXTURES 2.2: read state written as STRING, re-write as INT (X2 override)
    kv = spark.createDataFrame([(1, "3"), (3, "6")], schema="key int, value string")
    rows = sr.kv_to_state_rows(kv, "sum", fc.INT, fc.STRING)
    as_str = sr.read_value_kv(rows, "sum", fc.INT, fc.STRING)
    migrated = as_str.withColumn("value", F.col("value").cast("int"))
    rows2 = sr.kv_to_state_rows(migrated, "sum", fc.INT, fc.INT)
    back = sorted(tuple(r) for r in sr.read_value_kv(rows2, "sum", fc.INT, fc.INT).collect())
    assert back == [(1, 3), (3, 6)]


def test_savepoint_write_read_roundtrip(spark, tmp_path):
    # EP2 analog of ValueStateTransformationTest: two states, write, re-read.
    kv1 = _kv_df(spark, [(k, k * 2) for k in range(50)])
    kv2 = _kv_df(spark, [(k, k + 1000) for k in range(30)])
    rows = sr.kv_to_state_rows(kv1, "Count", fc.INT, fc.INT).unionByName(
        sr.kv_to_state_rows(kv2, "Sum", fc.INT, fc.INT)
    )
    meta = sp.write_savepoint(
        rows, str(tmp_path / "sv"), max_parallelism=128, parallelism=4
    )
    # one file per distinct operator index, never more than parallelism
    ops = [f["op_index"] for f in meta.files]
    assert len(ops) == len(set(ops)) and set(ops) <= set(range(4))
    back = sp.read_savepoint(spark, str(tmp_path / "sv"))
    got1 = sorted(tuple(r) for r in sr.read_value_kv(back, "Count", fc.INT, fc.INT).collect())
    assert got1 == [(k, k * 2) for k in range(50)]
    got2 = sorted(tuple(r) for r in sr.read_value_kv(back, "Sum", fc.INT, fc.INT).collect())
    assert got2 == [(k, k + 1000) for k in range(30)]


def test_savepoint_pushdown_reads_only_selected_state(spark, tmp_path):
    kv1 = _kv_df(spark, [(k, k) for k in range(40)])
    kv2 = _kv_df(spark, [(k, -k) for k in range(40)])
    rows = sr.kv_to_state_rows(kv1, "a", fc.INT, fc.INT).unionByName(
        sr.kv_to_state_rows(kv2, "b", fc.INT, fc.INT)
    )
    sp.write_savepoint(rows, str(tmp_path / "sv"), max_parallelism=128, parallelism=2)
    only_a = sp.read_savepoint(spark, str(tmp_path / "sv"), state_names=["a"])
    names = {r["state_name"] for r in only_a.select("state_name").distinct().collect()}
    assert names == {"a"}
    assert only_a.count() == 40


def test_savepoint_roundtrip_transform_pattern(spark, tmp_path):
    # The reference's flagship transform (README.md:127-166): read Count,
    # double it, join-enrich with deltas, keep untouched states, write back.
    counts = _kv_df(spark, [(1, 2), (2, 1), (3, 5)])
    other = _kv_df(spark, [(9, 9)])
    rows = sr.kv_to_state_rows(counts, "Count", fc.INT, fc.INT).unionByName(
        sr.kv_to_state_rows(other, "Keep", fc.INT, fc.INT)
    )
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    sp.write_savepoint(rows, src, max_parallelism=128, parallelism=2)

    all_rows = sp.read_savepoint(spark, src)
    parsed = sr.read_value_kv(all_rows, "Count", fc.INT, fc.INT)
    deltas = _kv_df(spark, [(0, 100), (3, 1000), (1, 100), (2, 1000)]).withColumnRenamed(
        "value", "delta"
    )
    updated = (
        parsed.withColumn("value", F.col("value") * 2)
        .join(deltas, on="key", how="inner")
        .select("key", (F.col("value") + F.col("delta")).alias("value"))
    )
    new_rows = sr.kv_to_state_rows(updated, "Count", fc.INT, fc.INT).unionByName(
        sr.exclude_states(all_rows, ["Count"])  # F3 migrate-untouched
    )
    sp.write_savepoint(new_rows, dst, max_parallelism=128, parallelism=2)

    back = sp.read_savepoint(spark, dst)
    got = sorted(tuple(r) for r in sr.read_value_kv(back, "Count", fc.INT, fc.INT).collect())
    assert got == [(1, 104), (2, 1002), (3, 1010)]
    kept = sorted(tuple(r) for r in sr.read_value_kv(back, "Keep", fc.INT, fc.INT).collect())
    assert kept == [(9, 9)]


def test_compressed_savepoint_roundtrip(spark, tmp_path):
    # per-key-group framed-Snappy sections: full write→read round trip,
    # plus both reader paths (generic scan and the fused scan+decode)
    kv = _kv_df(spark, [(k, k * 11) for k in range(40)])
    rows = sr.kv_to_state_rows(kv, "s", fc.INT, fc.INT)
    sp.write_savepoint(
        rows, str(tmp_path / "c"), max_parallelism=128, parallelism=2,
        compression=True,
    )
    meta = sp.read_savepoint_meta(str(tmp_path / "c"))
    assert meta.compression is True
    got = sorted(
        tuple(r)
        for r in sr.read_value_kv(
            sp.read_savepoint(spark, str(tmp_path / "c")), "s", fc.INT, fc.INT
        ).collect()
    )
    assert got == [(k, k * 11) for k in range(40)]
    fused = sorted(
        tuple(r)
        for r in sp.read_savepoint_kv(
            spark, str(tmp_path / "c"), "s", fc.INT, fc.INT
        ).collect()
    )
    assert fused == got


_TW = fc.Codec("tw", lambda ns: ns, None, 16)  # TimeWindow bytes, fixed 16


def _parity_state_rows(maxp):
    """value, list (key 0's list is empty: a ragged row), map and window
    rows of long keys, encoded in the driver."""
    rows = []
    for k in range(40):
        rows.append(("v", fc.encode_key_ns(k, fc.LONG, maxp),
                     fc.encode_value_state(k * 3, fc.LONG)))
        elements = [] if k == 0 else list(range(k, k + k % 4 + 1))
        rows.append(("l", fc.encode_key_ns(k, fc.LONG, maxp),
                     fc.encode_list_state(elements, fc.LONG)))
        ns = fc.write_long(k * 1000) + fc.write_long(k * 1000 + 500)
        rows.append((sr.WINDOW_STATE_NAME,
                     fc.encode_key_ns(k, fc.LONG, maxp, namespace_codec=_TW, namespace=ns),
                     fc.encode_value_state(-k, fc.LONG)))
        for mk in ("a", "bb")[: k % 2 + 1]:
            rows.append(("m", fc.encode_key_ns(k, fc.LONG, maxp, map_key=mk,
                                               map_key_codec=fc.STRING),
                         fc.encode_map_value(k + len(mk), fc.LONG)))
    return rows


def _custom_schema():
    from pyspark.sql.types import LongType, StructField, StructType

    return StructType([StructField("key", LongType()), StructField("n", LongType())])


def _custom_row(maxp):
    prefix = fc.key_group_prefix_bytes(maxp)

    def decode(key_ns, value):
        key = fc.LONG.decode(fc.ByteReader(key_ns, prefix))
        for i in range(key % 3):  # 0..2 typed rows per state row
            yield (key, fc.decode_value_state(value, fc.LONG) + i)

    return decode


# reader name -> (OperatorStateReader call, the same read over a relation)
_PARITY_READS = {
    "value_kv": (lambda r, m: r.read_value_kv("v", fc.LONG, fc.LONG),
                 lambda d, m: sr.read_value_kv(d, "v", fc.LONG, fc.LONG, max_parallelism=m)),
    "value_values": (lambda r, m: r.read_value_values("v", fc.LONG),
                     lambda d, m: sr.read_value_values(d, "v", fc.LONG)),
    "list_flatten": (lambda r, m: r.read_list_flatten("l", fc.LONG, fc.LONG),
                     lambda d, m: sr.read_list_flatten(d, "l", fc.LONG, fc.LONG,
                                                       max_parallelism=m)),
    "list_as_list": (lambda r, m: r.read_list_as_list("l", fc.LONG, fc.LONG),
                     lambda d, m: sr.read_list_as_list(d, "l", fc.LONG, fc.LONG,
                                                       max_parallelism=m)),
    "map_entries": (lambda r, m: r.read_map_entries("m", fc.LONG, fc.STRING, fc.LONG),
                    lambda d, m: sr.read_map_entries(d, "m", fc.LONG, fc.STRING, fc.LONG,
                                                     max_parallelism=m)),
    "map_values": (lambda r, m: r.read_map_values("m", fc.LONG),
                   lambda d, m: sr.read_map_values(d, "m", fc.LONG)),
    "window": (lambda r, m: r.read_window_kv(fc.LONG, fc.LONG),
               lambda d, m: sr.read_window_kv(d, fc.LONG, fc.LONG, max_parallelism=m)),
    "window_bounds": (lambda r, m: r.read_window_kv_with_bounds(fc.LONG, fc.LONG),
                      lambda d, m: sr.read_window_kv_with_bounds(d, fc.LONG, fc.LONG,
                                                                 max_parallelism=m)),
    "custom": (lambda r, m: r.read_custom("v", _custom_row(m), _custom_schema()),
               lambda d, m: sr.read_custom(d, "v", _custom_row(m), _custom_schema())),
}


@pytest.fixture(scope="module")
def parity_savepoints(spark, tmp_path_factory):
    made = {}

    def get(compression, maxp):
        if (compression, maxp) not in made:
            path = str(tmp_path_factory.mktemp(f"parity-{compression}-{maxp}"))
            rows = spark.createDataFrame(_parity_state_rows(maxp), sr.STATE_ROW_SCHEMA)
            sp.write_savepoint(rows, path, max_parallelism=maxp, parallelism=3,
                               compression=compression)
            made[compression, maxp] = path
        return made[compression, maxp]

    return get


@pytest.mark.parametrize("read", sorted(_PARITY_READS))
@pytest.mark.parametrize("maxp", [128, 4096])
@pytest.mark.parametrize("compression", [False, True], ids=["plain", "snappy"])
def test_scan_decoded_read_matches_relation_read(spark, parity_savepoints, compression,
                                                 maxp, read):
    """Every OperatorStateReader typed read decodes inside the savepoint
    scan; it returns what the same staterows reader returns over the
    read_savepoint relation."""
    from bravo_spark import api
    from bravo_spark.codecs import vectorized as vz

    path = parity_savepoints(compression, maxp)
    in_scan, over_rows = _PARITY_READS[read]

    def rows_of(df):
        return sorted(tuple(tuple(v) if isinstance(v, list) else v for v in r)
                      for r in df.collect())

    got = rows_of(in_scan(api.OperatorStateReader(spark, path), maxp))
    assert got and got == rows_of(over_rows(sp.read_savepoint(spark, path), maxp))
    if read.startswith("list"):
        # one split holds key 0's empty list and takes the scalar decoder,
        # the others take the numpy path
        splits, ids, keep, comp = sp._plan_scan(path, ["l"], None)
        fast = [vz.decode_list_fixed(*sp.gather_split(f, s, ids, keep, comp)[1:],
                                     fc.LONG, fc.LONG, maxp) is not None
                for f, s in splits]
        assert sorted(fast) == [False] + [True] * (len(splits) - 1)


def test_typed_decoding_lives_in_staterows():
    """One typed-read path: under bravo_spark/sources/ only staterows.py
    calls the numpy state decoders, and the savepoint scan gathers a
    split over iter_file_spans in one place, savepoint.gather_split."""
    import ast
    import pathlib

    import bravo_spark.sources

    root = pathlib.Path(bravo_spark.sources.__file__).parent
    decoders = {"decode_kv_fixed", "decode_list_fixed"}
    decoder_calls, gathers = set(), []
    for path in sorted(root.glob("*.py")):
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Call):
                    f = node.func
                    name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
                    if name in decoders:
                        decoder_calls.add(path.name)
                    if name == "iter_file_spans":
                        gathers.append((path.name, fn.name))
    assert decoder_calls == {"staterows.py"}
    assert gathers == [("savepoint.py", "gather_split")]


def test_savepoint_file_roundtrip_map_and_list_states(spark, tmp_path):
    # map and list payloads survive the FILE format (not just the in-memory
    # relation): write both through the savepoint and re-read.
    map_rows = sr.kv_to_state_rows(
        spark.createDataFrame(
            [(1, "a", 10), (1, "b", 20), (2, "a", 30)],
            "key int, map_key string, value int",
        ),
        "m", fc.INT, fc.INT, kind="map", map_key_codec=fc.STRING,
    )
    pdf = pd.DataFrame({"key": [7, 8], "value": [[1, 2], [3]]})
    list_rows = sr.kv_to_state_rows(
        spark.createDataFrame(pdf, schema="key int, value array<int>"),
        "l", fc.INT, fc.INT, kind="list",
    )
    sp.write_savepoint(
        map_rows.unionByName(list_rows), str(tmp_path / "ml"),
        max_parallelism=128, parallelism=2,
    )
    back = sp.read_savepoint(spark, str(tmp_path / "ml"))
    entries = sorted(
        tuple(r)
        for r in sr.read_map_entries(back, "m", fc.INT, fc.STRING, fc.INT).collect()
    )
    assert entries == [(1, "a", 10), (1, "b", 20), (2, "a", 30)]
    lists = {
        r["key"]: r["value"]
        for r in sr.read_list_as_list(back, "l", fc.INT, fc.INT).collect()
    }
    assert lists == {7: [1, 2], 8: [3]}


def test_ttl_write_back_roundtrip(spark):
    """TTL write-back (beyond the reference, whose writer throws on TTL
    descriptors, OperatorStateWriter.java:182-184): rows written with a
    TTL stamp must read back through the P8 ttl=True readers, for value,
    list, and map kinds; and a full savepoint write/read cycle preserves
    the stamped payloads byte-for-byte."""
    kv = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "key int, value int")
    rows = sr.kv_to_state_rows(kv, "Val", fc.INT, fc.INT, ttl_ts=999_000)
    got = sorted(
        tuple(r)
        for r in sr.read_value_kv(rows, "Val", fc.INT, fc.INT, ttl=True).collect()
    )
    assert got == [(1, 10), (2, 20), (3, 30)]
    # the 8-byte stamp really is in front of the payload
    payload = rows.select("value").first()[0]
    assert payload[:8] == fc.write_long(999_000)

    # per-row stamps via ttl_col
    kv2 = spark.createDataFrame(
        [(1, 10, 111), (2, 20, 222)], "key int, value int, ts long"
    )
    rows2 = sr.kv_to_state_rows(kv2, "Val", fc.INT, fc.INT, ttl_col="ts")
    stamps = {
        bytes(r["value"])[:8]
        for r in rows2.select("value").collect()
    }
    assert stamps == {fc.write_long(111), fc.write_long(222)}

    # list + map kinds
    lst = spark.createDataFrame([(1, [7, 8])], "key int, value array<int>")
    lrows = sr.kv_to_state_rows(lst, "L", fc.INT, fc.INT, kind="list", ttl_ts=5)
    lback = sr.read_list_as_list(lrows, "L", fc.INT, fc.INT, ttl=True).collect()
    assert sorted(tuple(r) for r in lback) == [(1, [7, 8])]

    mp = spark.createDataFrame(
        [(1, "a", 5), (1, "b", 6)], "key int, map_key string, value int"
    )
    mrows = sr.kv_to_state_rows(
        mp, "M", fc.INT, fc.INT, kind="map", map_key_codec=fc.STRING, ttl_ts=5
    )
    mback = sr.read_map_entries(
        mrows, "M", fc.INT, fc.STRING, fc.INT, ttl=True
    ).collect()
    assert sorted(tuple(r) for r in mback) == [(1, "a", 5), (1, "b", 6)]

    with pytest.raises(ValueError, match="not both"):
        sr.kv_to_state_rows(kv, "Val", fc.INT, fc.INT, ttl_ts=1, ttl_col="x")


def test_adaptive_scan_splits(tmp_path):
    """Byte-targeted split planning: tiny files collapse to one task; a file
    whose selected spans exceed TARGET_SPLIT_BYTES fans out, cutting on
    accumulated bytes (skewed key groups don't unbalance the tasks)."""
    import os as _os

    kg_sizes = {0: 40, 1: 40, 2: 40, 3: sp.TARGET_SPLIT_BYTES, 4: 60}
    fpath = tmp_path / "op-0-test"
    offsets, pos = {}, 0
    with open(fpath, "wb") as f:
        for kg, size in kg_sizes.items():
            offsets[str(kg)] = pos
            f.write(b"\x00" * size)
            pos += size
    meta = sp.SavepointMeta(128, 1, {"Count": 0})
    meta.files.append({"path": str(fpath), "op_index": 0, "offsets": offsets})
    with open(tmp_path / sp.METADATA_FILE, "w") as f:
        f.write(meta.to_json())

    # adaptive: ~2x target bytes -> 2 splits, cut lands after the fat kg
    splits, _ids, _filt, _comp = sp._plan_scan(str(tmp_path), None, None)
    assert len(splits) == 2
    sizes = [sum(e - o for _kg, o, e in spans) for _f, spans in splits]
    assert max(sizes) <= kg_sizes[3] + 3 * 40  # no split is pathological
    covered = sorted(kg for _f, spans in splits for kg, _o, _e in spans)
    assert covered == [0, 1, 2, 3, 4]

    # tiny file: same plan with a small TARGET via explicit override=None
    # but bytes under target -> exactly one split
    small = sp.SavepointMeta(128, 1, {"Count": 0})
    fpath2 = tmp_path / "op-0-small"
    with open(fpath2, "wb") as f:
        f.write(b"\x00" * 400)
    small.files.append(
        {"path": str(fpath2), "op_index": 0,
         "offsets": {str(kg): kg * 80 for kg in range(5)}}
    )
    d2 = tmp_path / "small"
    _os.makedirs(d2)
    with open(d2 / sp.METADATA_FILE, "w") as f:
        f.write(small.to_json())
    splits2, _i, _f2, _c = sp._plan_scan(str(d2), None, None)
    assert len(splits2) == 1 and len(splits2[0][1]) == 5

    # explicit override keeps the fixed per-file behavior
    splits3, *_ = sp._plan_scan(str(d2), None, None, splits_per_file=5)
    assert len(splits3) == 5


def test_tuple1_key_transparent_unwrap(spark, tmp_path):
    """Reference parity (reader/OperatorStateReader.java:110-119): a
    Tuple1-keyed state round-trips without the caller unwrapping Flink's
    tuple — keys surface as bare values, and writing back with the same
    Tuple1 codec and bare keys is byte-identical to the unwrapped codec
    (TupleSerializer writes fields back-to-back with no header, so
    Tuple1<T> bytes == T bytes)."""
    t1 = fc.tuple_codec(fc.LONG)
    kv = _kv_df(spark, [(k, k * 3) for k in range(25)], key_type="long",
                value_type="long")
    # fixture "written by Flink with a Tuple1<Long> key serializer":
    # byte-identical to LONG-keyed rows
    rows = sr.kv_to_state_rows(kv, "Count", fc.LONG, fc.LONG)

    # read with the Tuple1 codec: bare longs, not 1-tuples
    got = sorted(tuple(r) for r in sr.read_value_kv(rows, "Count", t1, fc.LONG).collect())
    assert got == [(k, k * 3) for k in range(25)]

    # write-back with the Tuple1 codec accepts bare keys and produces the
    # byte-identical relation (key_ns AND key_group routing)
    rows_t1 = sr.kv_to_state_rows(kv, "Count", t1, fc.LONG)
    a = sorted((bytes(r["key_ns"]), bytes(r["value"]))
               for r in sr.with_key_group_column(rows, max_parallelism=128)
               .select("key_ns", "value").collect())
    b = sorted((bytes(r["key_ns"]), bytes(r["value"]))
               for r in sr.with_key_group_column(rows_t1, max_parallelism=128)
               .select("key_ns", "value").collect())
    assert a == b

    # the fused savepoint reader unwraps too
    meta = sp.write_savepoint(
        rows, str(tmp_path / "sv_t1"), max_parallelism=128, parallelism=2
    )
    assert meta is not None
    fused = sorted(
        tuple(r)
        for r in sp.read_savepoint_kv(
            spark, str(tmp_path / "sv_t1"), "Count", t1, fc.LONG
        ).collect()
    )
    assert fused == [(k, k * 3) for k in range(25)]

    # wider tuples are NOT unwrapped: decode still yields real tuples
    t2 = fc.tuple_codec(fc.LONG, fc.INT)
    assert fc.unwrap_tuple1_key(t2) is t2
    r = fc.ByteReader(fc.LONG.encode(7) + fc.INT.encode(3))
    assert t2.decode(r) == (7, 3)


def test_streaming_savepoint_sink_mirrors_live_state(spark, tmp_path):
    """The continuous Flink-mirror: a streaming aggregation in complete
    mode writes a full savepoint per batch through foreachBatch, flips
    the LATEST pointer atomically, and (keep_history=False) reaps the
    superseded snapshot. The mirror always reads back as the exact batch
    result."""
    import os
    import uuid as _uuid

    inp = str(tmp_path / "in")
    mirror = str(tmp_path / "mirror")
    ckpt = str(tmp_path / "ckpt")

    def run(rows, mode):
        spark.createDataFrame(rows, "key int, v int").coalesce(1).write.mode(
            mode
        ).parquet(inp)
        schema = spark.read.parquet(inp).schema
        agg = (
            spark.readStream.schema(schema).parquet(inp)
            .groupBy("key")
            .agg(F.count("*").cast("long").alias("value"))
        )
        q = (
            agg.writeStream.foreachBatch(
                sp.streaming_savepoint_sink(
                    mirror, "Count", fc.INT, fc.LONG,
                    max_parallelism=128, parallelism=2,
                    keep_history=False,
                )
            )
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    def read_mirror():
        latest = sp.latest_savepoint_path(mirror)
        assert latest is not None
        back = sp.read_savepoint(spark, latest)
        return {
            r["key"]: r["value"]
            for r in sr.read_value_kv(back, "Count", fc.INT, fc.LONG).collect()
        }

    run([(1, 0), (1, 0), (2, 0)], "overwrite")
    assert read_mirror() == {1: 2, 2: 1}
    first = sp.latest_savepoint_path(mirror)

    run([(2, 0), (3, 0)], "append")
    assert read_mirror() == {1: 2, 2: 2, 3: 1}
    # pointer flipped and the superseded snapshot was reaped
    assert sp.latest_savepoint_path(mirror) != first
    assert not os.path.exists(first)
