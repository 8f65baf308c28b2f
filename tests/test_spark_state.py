"""End-to-end tests for the Spark state-store source/sink.

The decisive test is ``test_rewrite_then_restart``: after our writer
replaces a state version, a REAL Structured Streaming query restarts from
that checkpoint and keeps aggregating — proving the rewritten bytes
(snappy framing, UnsafeRow encoding, key→partition routing, CRC hygiene)
are accepted by Spark itself, which is the same bar the reference meets by
restoring Flink jobs from rewritten savepoints (reference
README.md:24-44)."""

from __future__ import annotations

import json
import os
import struct
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bravo_spark.sources import spark_state as ss


# ---------------------------------------------------------------------------
# codec units
# ---------------------------------------------------------------------------


def test_unsafe_row_roundtrip_types():
    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.IntegerType()),
            T.StructField("c", T.DoubleType()),
            T.StructField("d", T.BooleanType()),
            T.StructField("e", T.StringType()),
            T.StructField("f", T.BinaryType()),
        ]
    )
    vals = (-(2**40), 7, 2.5, True, "héllo wörld", b"\x00\xff\x10")
    buf = ss.encode_unsafe_row(vals, schema)
    assert len(buf) % 8 == 0
    out = ss.decode_unsafe_row(buf, schema)
    assert out == vals


def test_unsafe_row_nulls_and_empty_string():
    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.StringType()),
            T.StructField("c", T.DoubleType()),
        ]
    )
    for vals in [(None, "", 1.0), (5, None, None), (None, None, None)]:
        assert ss.decode_unsafe_row(ss.encode_unsafe_row(vals, schema), schema) == vals


def test_schema_guard_rejects_unsupported_leaf():
    # nested array/map/struct/decimal are supported (r13); the guard now
    # rejects only leaves the codec has no layout for, however deeply
    # they're nested — validation once at the API boundary, not per row
    ok = T.StructType([
        T.StructField("m", T.MapType(T.StringType(), T.LongType())),
        T.StructField("a", T.ArrayType(T.StructType([
            T.StructField("d", T.DecimalType(30, 5))]))),
    ])
    ss._check_schema(ok)  # must not raise
    bad = T.StructType([
        T.StructField("a", T.ArrayType(T.DayTimeIntervalType()))
    ])
    with pytest.raises(ValueError, match="unsupported field type"):
        ss._check_schema(bad)


_NESTED_CASES = [
    (
        T.StructType([
            T.StructField("a", T.ArrayType(T.LongType())),
            T.StructField("s", T.StringType()),
            T.StructField("n", T.LongType()),
        ]),
        ([1, 2, 3, None, -9], "hello", 42),
    ),
    (
        T.StructType([
            T.StructField("m", T.MapType(T.StringType(), T.IntegerType())),
            T.StructField("b", T.ArrayType(T.StringType())),
        ]),
        ({"x": 1, "yy": 2}, ["aa", None, "c" * 20]),
    ),
    (
        T.StructType([
            T.StructField("st", T.StructType([
                T.StructField("i", T.IntegerType()),
                T.StructField("t", T.ArrayType(T.DoubleType())),
            ])),
            T.StructField("d", T.DecimalType(10, 2)),
            T.StructField("dd", T.DecimalType(30, 5)),
            T.StructField("dt", T.DateType()),
            T.StructField("ab", T.ArrayType(T.BooleanType())),
            T.StructField("am", T.ArrayType(T.MapType(T.LongType(), T.StringType()))),
        ]),
        (
            (7, [1.5, -2.5]),
            __import__("decimal").Decimal("123.45"),
            __import__("decimal").Decimal("123456789012345678901234.56789"),
            __import__("datetime").date(2020, 5, 17),
            [True, False, None, True],
            [{1: "a"}, None, {2: "bb", 3: "ccc"}],
        ),
    ),
]


def _norm(v):
    from pyspark.sql import Row as _Row

    if isinstance(v, (_Row, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, list):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items()}
    return v


@pytest.mark.parametrize("case", range(len(_NESTED_CASES)))
def test_nested_unsafe_row_decode_matches_spark(spark, case):
    """DECODE oracle is Spark itself: the bytes of the UnsafeRow Spark's
    own UnsafeProjection produces for a nested row (arrays incl. null
    elements, maps, nested structs, wide and narrow decimals, dates,
    array-of-map) must decode to the original values."""
    schema, row = _NESTED_CASES[case]
    df = spark.createDataFrame([row], schema)
    raw = bytes(df._jdf.queryExecution().toRdd().first().getBytes())
    assert _norm(ss.decode_unsafe_row(raw, schema)) == _norm(tuple(row))


def _jvm_get(j, i, dt):
    """Read value i from a JVM SpecializedGetters (UnsafeRow /
    UnsafeArrayData) with the REAL typed getters — the strongest possible
    check that bytes we encoded are laid out exactly as Spark expects."""
    import datetime as _dt
    import decimal as _dec

    if isinstance(dt, T.LongType):
        return j.getLong(i)
    if isinstance(dt, T.TimestampType):
        return _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=j.getLong(i))
    if isinstance(dt, T.IntegerType):
        return j.getInt(i)
    if isinstance(dt, T.DateType):
        return _dt.date(1970, 1, 1) + _dt.timedelta(days=j.getInt(i))
    if isinstance(dt, T.ShortType):
        return j.getShort(i)
    if isinstance(dt, T.ByteType):
        return j.getByte(i)
    if isinstance(dt, T.DoubleType):
        return j.getDouble(i)
    if isinstance(dt, T.FloatType):
        return j.getFloat(i)
    if isinstance(dt, T.BooleanType):
        return j.getBoolean(i)
    if isinstance(dt, T.StringType):
        return j.getUTF8String(i).toString()
    if isinstance(dt, T.BinaryType):
        return bytes(j.getBinary(i))
    if isinstance(dt, T.DecimalType):
        v = j.getDecimal(i, dt.precision, dt.scale).toJavaBigDecimal()
        # py4j auto-converts java.math.BigDecimal to decimal.Decimal
        return v if isinstance(v, _dec.Decimal) else _dec.Decimal(v.toPlainString())
    if isinstance(dt, T.StructType):
        st = j.getStruct(i, len(dt.fields))
        return tuple(
            None if st.isNullAt(k) else _jvm_get(st, k, f.dataType)
            for k, f in enumerate(dt.fields)
        )
    if isinstance(dt, T.ArrayType):
        ja = j.getArray(i)
        return [
            None if ja.isNullAt(k) else _jvm_get(ja, k, dt.elementType)
            for k in range(ja.numElements())
        ]
    if isinstance(dt, T.MapType):
        jm = j.getMap(i)
        ka, va = jm.keyArray(), jm.valueArray()
        return {
            _jvm_get(ka, k, dt.keyType): (
                None if va.isNullAt(k) else _jvm_get(va, k, dt.valueType)
            )
            for k in range(jm.numElements())
        }
    raise AssertionError(dt)


@pytest.mark.parametrize("case", range(len(_NESTED_CASES)))
def test_nested_unsafe_row_encode_read_by_jvm(spark, case):
    """ENCODE oracle is Spark itself: point a JVM UnsafeRow at OUR bytes
    and read every field back through the real typed getters (getArray /
    getMap / getStruct / getDecimal / getUTF8String, recursively) — any
    layout error in our encoding surfaces as a wrong value or a JVM
    exception."""
    schema, row = _NESTED_CASES[case]
    ours = ss.encode_unsafe_row(tuple(row), schema)
    # our own decoder round-trips
    assert _norm(ss.decode_unsafe_row(ours, schema)) == _norm(tuple(row))
    jvm = spark._jvm
    ur = jvm.org.apache.spark.sql.catalyst.expressions.UnsafeRow(
        len(schema.fields)
    )
    ur.pointTo(ours, len(ours))
    got = tuple(
        None if ur.isNullAt(i) else _jvm_get(ur, i, f.dataType)
        for i, f in enumerate(schema.fields)
    )
    # float32 round-trips through Java exactly for these literals; decimals
    # compare as Decimal objects
    assert _norm(got) == _norm(tuple(row))


def test_lz4_block_roundtrip_against_reference_vectors():
    """Format vectors for the PURE block decoder (codecs/lz4.py). The
    second vector is deliberately lenient-only: its final sequence ends
    in a match, which the LZ4 spec forbids for well-formed blocks and
    liblz4 (the fastpath decoder behind ss._lz4_block_decompress)
    rejects — real compressors never emit it, so the production path
    only needs spec-conforming blocks (covered by test_fastpath's
    cross-decoding) plus the strict literals-only vector below."""
    from codec_oracles import lz4 as plz4

    # literals-only block: token 0x30, 3 literal bytes — spec-strict,
    # both decoders accept it
    assert ss._lz4_block_decompress(b"\x30abc", 3) == b"abc"
    assert plz4.decompress_block(b"\x30abc", 3) == b"abc"
    # overlap copy (RLE): literal 'a' then match offset 1 len 8 -> 'a'*9
    blk = b"\x14a\x01\x00\x00"
    assert plz4.decompress_block(blk, 9) == b"a" * 9


def test_lz4_java_framing_raw_blocks():
    # per-block magic, token 0x10 = stored raw, trailing originalLen=0 block
    blk = b"hello state world"
    one = ss.LZ4_MAGIC + bytes([0x10]) + struct.pack("<iii", len(blk), len(blk), 0) + blk
    eof = ss.LZ4_MAGIC + bytes([0x10]) + struct.pack("<iii", 0, 0, 0)
    assert ss.decode_stream(one + one + eof) == blk * 2


def test_snappy_stream_roundtrip():
    payload = b"the quick brown fox " * 500
    framed = ss.encode_stream_snappy(payload, block_size=1024)
    assert framed[:8] == ss.SNAPPY_MAGIC
    assert ss.decode_stream(framed) == payload


def test_lz4_java_framing_write_cross_validated(spark):
    """Our lz4-java encoder must be accepted by the REAL lz4-java reader
    (checksum verified) and vice versa — the bit-level contract a restarted
    default-codec query depends on."""
    from bravo_spark.codecs.lz4 import encode_stream

    j = spark._jvm
    payloads = [b"", b"x", b"state row " * 8000, bytes(range(256)) * 300]
    for p in payloads:
        bis = j.java.io.ByteArrayInputStream(bytearray(encode_stream(p)))
        got = bytes(j.net.jpountz.lz4.LZ4BlockInputStream(bis).readAllBytes())
        assert got == p
        bos = j.java.io.ByteArrayOutputStream()
        los = j.net.jpountz.lz4.LZ4BlockOutputStream(bos)
        if p:
            los.write(bytearray(p))
        los.close()
        assert ss.decode_stream(bytes(bos.toByteArray())) == p


def test_zstd_state_stream_decode_cross_validated(spark):
    """Spark's codec=zstd writes plain zstd frames (zstd-jni); our frame
    decoder must read them."""
    j = spark._jvm
    payload = b"zstd state payload " * 4000
    bos = j.java.io.ByteArrayOutputStream()
    zos = j.com.github.luben.zstd.ZstdOutputStream(bos)
    zos.write(bytearray(payload))
    zos.close()
    assert ss.decode_stream(bytes(bos.toByteArray())) == payload


def test_record_framing_tombstone_and_eof():
    payload = (
        struct.pack(">i", 3) + b"key" + struct.pack(">i", 2) + b"vv"
        + struct.pack(">i", 3) + b"ded" + struct.pack(">i", -1)
        + struct.pack(">i", -1)
    )
    recs = list(ss._iter_records(payload))
    assert recs == [(b"key", b"vv"), (b"ded", None)]


# ---------------------------------------------------------------------------
# live checkpoint integration
# ---------------------------------------------------------------------------


def _run_agg(spark, input_dir: str, ckpt: str):
    schema = spark.read.parquet(input_dir).schema
    stream = spark.readStream.schema(schema).parquet(input_dir)
    agg = stream.groupBy("k").agg(
        F.count("*").alias("cnt"), F.sum("v").alias("sv")
    )
    name = f"state_t_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return {r["k"]: (r["cnt"], r["sv"]) for r in spark.table(name).collect()}


def test_read_matches_query_output(spark, tmp_path):
    spark.conf.set("spark.sql.streaming.stateStore.compression.codec", "snappy")
    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 5), ("c", 9), ("c", 1)], "k string, v int"
    ).coalesce(1).write.parquet(inp)
    out = _run_agg(spark, inp, ckpt)
    assert out == {"a": (2, 3), "b": (1, 5), "c": (2, 10)}

    st = ss.read_spark_state(spark, ckpt)
    cols = st.columns
    assert cols[0] == "partition_id" and cols[1] == "k"
    got = {r[1]: (r[2], r[3]) for r in st.collect()}
    assert got == out
    # partition routing matches Spark's HashPartitioning
    n = len(ss._partitions(ss._state_dir(ckpt, 0)))
    routed = {
        r["k"]: r["pid"]
        for r in spark.createDataFrame([("a",), ("b",), ("c",)], "k string")
        .select("k", F.pmod(F.hash("k"), F.lit(n)).cast("int").alias("pid"))
        .collect()
    }
    assert {r[1]: r[0] for r in st.collect()} == routed


def test_rewrite_then_restart(spark, tmp_path):
    """Patch state (bump a counter, tombstone a key), then restart the real
    query on new input — Spark must load OUR files and continue from the
    patched values."""
    spark.conf.set("spark.sql.streaming.stateStore.compression.codec", "snappy")
    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 5)], "k string, v int"
    ).coalesce(1).write.parquet(inp)
    assert _run_agg(spark, inp, ckpt) == {"a": (2, 3), "b": (1, 5)}

    st = ss.read_spark_state(spark, ckpt)
    cnt_col, sv_col = st.columns[2], st.columns[3]
    patched = (
        st.drop("partition_id")
        .where(F.col("k") != "b")  # tombstone b everywhere
        .withColumn(cnt_col, F.col(cnt_col) + F.lit(100))
    )
    ver = ss.write_spark_state(spark, ckpt, patched)
    assert ver == ss.latest_version(ckpt)

    # our own reader sees the patch
    got = {r[1]: (r[2], r[3]) for r in ss.read_spark_state(spark, ckpt).collect()}
    assert got == {"a": (102, 3)}

    # the decisive step: more input, restart the REAL query on our files
    spark.createDataFrame(
        [("a", 10), ("b", 7)], "k string, v int"
    ).coalesce(1).write.mode("append").parquet(inp)
    out2 = _run_agg(spark, inp, ckpt)
    assert out2 == {"a": (103, 13), "b": (1, 7)}


def test_rewrite_then_restart_default_lz4_codec(spark, tmp_path):
    """Same restart proof under the DEFAULT state-store codec (lz4): the
    rewrite must sniff the original framing and emit lz4-java blocks the
    restarted query's real decompressor accepts."""
    spark.conf.set("spark.sql.streaming.stateStore.compression.codec", "lz4")
    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 5)], "k string, v int"
    ).coalesce(1).write.parquet(inp)
    assert _run_agg(spark, inp, ckpt) == {"a": (2, 3), "b": (1, 5)}

    # the files really are lz4-framed
    sdir = ss._state_dir(ckpt, 0)
    pid = ss._partitions(sdir)[0]
    ver = ss.latest_version(ckpt)
    delta = os.path.join(sdir, str(pid), f"{ver}.delta")
    assert open(delta, "rb").read(8) == ss.LZ4_MAGIC

    st = ss.read_spark_state(spark, ckpt)
    cnt_col = st.columns[2]
    patched = (
        st.drop("partition_id")
        .where(F.col("k") != "b")
        .withColumn(cnt_col, F.col(cnt_col) + F.lit(100))
    )
    ss.write_spark_state(spark, ckpt, patched)
    assert open(delta, "rb").read(8) == ss.LZ4_MAGIC  # codec preserved

    spark.createDataFrame(
        [("a", 10), ("b", 7)], "k string, v int"
    ).coalesce(1).write.mode("append").parquet(inp)
    out2 = _run_agg(spark, inp, ckpt)
    assert out2 == {"a": (103, 13), "b": (1, 7)}


# ---------------------------------------------------------------------------
# rewrite semantics on synthetic stores (tombstones, snapshots, type drift)
# ---------------------------------------------------------------------------

_KEY_SCHEMA = T.StructType([T.StructField("k", T.StringType())])
_VAL_SCHEMA = T.StructType([T.StructField("cnt", T.LongType())])


def _mk_store(tmp_path, n_parts=2):
    """Synthetic HDFSBackedStateStoreProvider layout: schema file + helpers
    to append delta/snapshot files built with the module's own encoders."""
    ckpt = str(tmp_path / "ckpt")
    sdir = ss._state_dir(ckpt, 0)
    for pid in range(n_parts):
        pdir = os.path.join(sdir, str(pid))
        os.makedirs(pdir, exist_ok=True)
        ss.write_state_schema(pdir, _KEY_SCHEMA, _VAL_SCHEMA)
    return ckpt, sdir


def _payload(entries):
    out = bytearray()
    for k, v in entries:
        kb = ss.encode_unsafe_row((k,), _KEY_SCHEMA)
        out += struct.pack(">i", len(kb)) + kb
        if v is None:
            out += struct.pack(">i", -1)
        else:
            vb = ss.encode_unsafe_row((v,), _VAL_SCHEMA)
            out += struct.pack(">i", len(vb)) + vb
    out += struct.pack(">i", -1)
    return bytes(out)


def _put_file(sdir, pid, name, entries):
    with open(os.path.join(sdir, str(pid), name), "wb") as f:
        f.write(ss.encode_stream_snappy(_payload(entries)))


def _pid_of(spark, k, n):
    return (
        spark.createDataFrame([(k,)], "k string")
        .select(F.pmod(F.hash("k"), F.lit(n)).cast("int").alias("p"))
        .collect()[0]["p"]
    )


def test_rewrite_tombstones_keys_deleted_by_original_delta(spark, tmp_path):
    """The decisive ADVICE case: the original {version}.delta tombstoned k2,
    so k2 is absent from state AT version — but the restart replays the new
    delta on top of version-1 state, where k2 exists. The rewritten delta
    must re-tombstone it or k2 silently resurrects."""
    ckpt, sdir = _mk_store(tmp_path, n_parts=1)
    _put_file(sdir, 0, "1.delta", [("k1", 1), ("k2", 5)])
    _put_file(sdir, 0, "2.delta", [("k1", 2), ("k2", None)])  # k2 tombstoned

    keep = spark.createDataFrame([("k1", 2)], "k string, cnt long")
    ss.write_spark_state(spark, ckpt, keep, version=2)

    # replay exactly what a restarted query replays: v1 state + new 2.delta
    replayed = ss._load_partition_state(os.path.join(sdir, "0"), 2)
    decoded = {
        ss.decode_unsafe_row(kb, _KEY_SCHEMA)[0]: ss.decode_unsafe_row(vb, _VAL_SCHEMA)[0]
        for kb, vb in replayed.items()
    }
    assert decoded == {"k1": 2}, "tombstoned key resurrected by rewrite"


def test_rewrite_replaces_maintenance_snapshot(spark, tmp_path):
    """If maintenance wrote {version}.snapshot, Spark loads it directly and
    never replays the delta — a delta-only rewrite would be a silent no-op."""
    ckpt, sdir = _mk_store(tmp_path, n_parts=1)
    _put_file(sdir, 0, "1.delta", [("a", 1), ("b", 2)])
    _put_file(sdir, 0, "2.delta", [("a", 10)])
    _put_file(sdir, 0, "2.snapshot", [("a", 10), ("b", 2)])

    ss.write_spark_state(
        spark, ckpt, spark.createDataFrame([("a", 99)], "k string, cnt long"), version=2
    )
    # snapshot load path (what Spark takes when the snapshot exists)
    snap = ss.decode_stream(open(os.path.join(sdir, "0", "2.snapshot"), "rb").read())
    got = {
        ss.decode_unsafe_row(kb, _KEY_SCHEMA)[0]: ss.decode_unsafe_row(vb, _VAL_SCHEMA)[0]
        for kb, vb in ss._iter_records(snap)
        if vb is not None
    }
    assert got == {"a": 99}
    # delta replay path agrees
    replayed = ss._load_partition_state(os.path.join(sdir, "0"), 2)
    assert {
        ss.decode_unsafe_row(kb, _KEY_SCHEMA)[0] for kb in replayed
    } == {"a"}


def test_write_casts_drifted_key_types(spark, tmp_path):
    """A patched df whose key column drifted to int must still route by the
    store's LongType hash — Murmur3 hashes int and long differently."""
    key_schema = T.StructType([T.StructField("k", T.LongType())])
    val_schema = T.StructType([T.StructField("cnt", T.LongType())])
    ckpt = str(tmp_path / "ckpt")
    sdir = ss._state_dir(ckpt, 0)
    n = 4
    for pid in range(n):
        pdir = os.path.join(sdir, str(pid))
        os.makedirs(pdir)
        ss.write_state_schema(pdir, key_schema, val_schema)
        with open(os.path.join(pdir, "1.delta"), "wb") as f:
            f.write(ss.encode_stream_snappy(struct.pack(">i", -1)))

    drifted = spark.createDataFrame([(7, 3), (11, 4)], "k int, cnt int")
    ss.write_spark_state(spark, ckpt, drifted, version=1)
    got = ss.read_spark_state(spark, ckpt, version=1)
    rows = {r["k"]: (r["partition_id"], r["cnt"]) for r in got.collect()}
    exp_pids = {
        r["k"]: r["p"]
        for r in spark.createDataFrame([(7,), (11,)], "k long")
        .select("k", F.pmod(F.hash("k"), F.lit(n)).cast("int").alias("p"))
        .collect()
    }
    assert rows == {7: (exp_pids[7], 3), 11: (exp_pids[11], 4)}


def test_schema_file_structural_parse_v1_v2_chunked():
    def utf(s):
        b = s.encode()
        return struct.pack(">H", len(b)) + b

    kj = json.dumps(_KEY_SCHEMA.jsonValue())
    vj = json.dumps(_VAL_SCHEMA.jsonValue())
    # v1: version tag + two bare writeUTF payloads
    k, v = ss._parse_schema_file(utf("v1") + utf(kj) + utf(vj))
    assert (k, v) == (_KEY_SCHEMA, _VAL_SCHEMA)
    # v2 with a key schema split across chunks mid-token
    half = len(kj) // 2
    raw = (
        utf("v2")
        + struct.pack(">i", 2) + utf(kj[:half]) + utf(kj[half:])
        + struct.pack(">i", 1) + utf(vj)
    )
    k, v = ss._parse_schema_file(raw)
    assert (k, v) == (_KEY_SCHEMA, _VAL_SCHEMA)
    with pytest.raises(ValueError, match="version tag"):
        ss._parse_schema_file(utf("garbage") + utf(kj) + utf(vj))
    # nested struct types parse structurally AND pass the guard (the r13
    # codec handles them); an unsupported LEAF inside still fails loudly
    nested = T.StructType([T.StructField("s", T.StructType([T.StructField("x", T.LongType())]))])
    nj = json.dumps(nested.jsonValue())
    k, _ = ss._parse_schema_file(utf("v2") + struct.pack(">i", 1) + utf(nj) + struct.pack(">i", 1) + utf(vj))
    ss._check_schema(k)  # nested is supported now
    bad = T.StructType([T.StructField("s", T.StructType([T.StructField("x", T.DayTimeIntervalType())]))])
    bj = json.dumps(bad.jsonValue())
    kb, _ = ss._parse_schema_file(utf("v2") + struct.pack(">i", 1) + utf(bj) + struct.pack(">i", 1) + utf(vj))
    with pytest.raises(ValueError, match="unsupported field type"):
        ss._check_schema(kb)


def test_write_validates_missing_columns(spark, tmp_path):
    spark.conf.set("spark.sql.streaming.stateStore.compression.codec", "snappy")
    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    spark.createDataFrame([("a", 1)], "k string, v int").coalesce(1).write.parquet(inp)
    _run_agg(spark, inp, ckpt)
    bad = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(ValueError, match="missing columns"):
        ss.write_spark_state(spark, ckpt, bad)


def test_read_stream_stream_join_named_stores(spark, tmp_path):
    """A stream-stream interval join keeps four named stores per partition
    with NO checkpoint schema file (layouts are fixed by the plan). Read
    all four with explicit schemas and check cross-store consistency:
    keyToNumValues counts equal the per-key cardinality of
    keyWithIndexToValue, for both sides."""
    sf = "/root/testdata/sf0.001"
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(f"{sf}/events.parquet").schema

    def src():
        return (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf)
        )

    ts_type = dict(spark.read.parquet(f"{sf}/events.parquet").dtypes)["ts"]

    def event_ts():
        # nanos-long fixtures vs native timestamp fixtures (see
        # inventory/streaming._normalize_ts)
        if ts_type == "bigint":
            return F.timestamp_seconds(F.col("ts") / 1e9)
        return F.col("ts").cast("timestamp")

    left = (
        src()
        .select("user_id", event_ts().alias("lts"))
        .withWatermark("lts", "10 minutes")
    )
    right = (
        src()
        .select(
            F.col("user_id").alias("r_user"),
            event_ts().alias("rts"),
        )
        .withWatermark("rts", "10 minutes")
    )
    j = left.join(
        right,
        (F.col("user_id") == F.col("r_user"))
        & (F.col("rts") >= F.col("lts"))
        & (F.col("rts") <= F.col("lts") + F.expr("INTERVAL 5 MINUTES")),
    )
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        j.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert spark.table(name).count() > 0

    # named stores require explicit schemas
    with pytest.raises(ValueError, match="explicit"):
        ss.read_spark_state(spark, ckpt, store_name="left-keyToNumValues")

    for side, ts_name in (("left", "lts"), ("right", "rts")):
        key_field = "user_id" if side == "left" else "r_user"
        counts = ss.read_spark_state(
            spark,
            ckpt,
            store_name=f"{side}-keyToNumValues",
            key_schema=T.StructType([T.StructField(key_field, T.LongType())]),
            value_schema=T.StructType([T.StructField("count", T.LongType())]),
        )
        rows = ss.read_spark_state(
            spark,
            ckpt,
            store_name=f"{side}-keyWithIndexToValue",
            key_schema=T.StructType(
                [
                    T.StructField(key_field, T.LongType()),
                    T.StructField("index", T.LongType()),
                ]
            ),
            # join stateFormatVersion 2: buffered input row + matched flag
            value_schema=T.StructType(
                [
                    T.StructField(key_field, T.LongType()),
                    T.StructField(ts_name, T.TimestampType()),
                    T.StructField("matched", T.BooleanType()),
                ]
            ),
        )
        n_per_key = {
            r[key_field]: r["count"] for r in counts.collect()
        }
        buffered = rows.groupBy(key_field).count().collect()
        buf_per_key = {r[key_field]: r["count"] for r in buffered}
        assert n_per_key == buf_per_key, f"{side}: count/index stores disagree"
        assert sum(n_per_key.values()) > 0


def test_rewind_checkpoint_undo_poisoned_batch(spark, tmp_path):
    """The rewind surgery: batch 0 is good, batch 1 is poisoned. Rewind to
    batch 0, replace the poisoned file with corrected input, restart — the
    final state must look as if the poison never ran (file-source seen-log
    trimmed, offsets/commits truncated, state resumed from version 1)."""
    spark.conf.set("spark.sql.streaming.stateStore.compression.codec", "lz4")
    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("a", 1), ("b", 2)], "k string, v int"
    ).coalesce(1).write.parquet(inp)
    assert _run_agg(spark, inp, ckpt) == {"a": (1, 1), "b": (1, 2)}

    # batch 1: poisoned values
    poison = str(tmp_path / "poison.parquet")
    spark.createDataFrame(
        [("a", 1_000_000)], "k string, v int"
    ).coalesce(1).write.parquet(poison)
    import glob as _glob
    import shutil as _shutil

    pfile = _glob.glob(f"{poison}/part-*.parquet")[0]
    dst = os.path.join(inp, "batch1.parquet")
    _shutil.copyfile(pfile, dst)
    assert _run_agg(spark, inp, ckpt) == {"a": (2, 1_000_001), "b": (1, 2)}

    removed = ss.rewind_checkpoint(ckpt, 0)
    assert any("/commits/1" in p for p in removed)
    assert any("/offsets/1" in p for p in removed)
    assert any("/sources/0/1" in p for p in removed)

    # replace the poisoned file with the corrected one (same path, so the
    # trimmed seen-log re-discovers it)
    os.remove(dst)
    good = str(tmp_path / "good.parquet")
    spark.createDataFrame(
        [("a", 10)], "k string, v int"
    ).coalesce(1).write.parquet(good)
    _shutil.copyfile(_glob.glob(f"{good}/part-*.parquet")[0], dst)

    out = _run_agg(spark, inp, ckpt)
    assert out == {"a": (2, 11), "b": (1, 2)}

    with pytest.raises(ValueError, match="not a committed batch"):
        ss.rewind_checkpoint(ckpt, 99)


def test_rewind_checkpoint_past_compaction(spark, tmp_path):
    """>10 source-log batches so FileStreamSource's seen-files log compacts
    (default interval 10 -> sources/0/9.compact embeds ALL history and the
    plain entries it superseded become redundant). Rewinding to batch 7
    must REWRITE that history to 7.compact: keeping 9.compact would mark
    batches 8-11's files as already-seen (silent data loss on replay),
    deleting it outright would lose batches 0-7's entries (full re-read)."""
    import glob as _glob
    import shutil as _shutil

    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(inp)
    one = str(tmp_path / "one.parquet")
    spark.createDataFrame(
        [("a", 1)], "k string, v int"
    ).coalesce(1).write.parquet(one)
    part = _glob.glob(f"{one}/part-*.parquet")[0]
    for i in range(12):
        _shutil.copyfile(part, os.path.join(inp, f"b{i:02d}.parquet"))

    schema = spark.read.parquet(inp).schema

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(inp)
        )
        agg = stream.groupBy("k").agg(
            F.count("*").alias("cnt"), F.sum("v").alias("sv")
        )
        name = f"state_t_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return {r["k"]: (r["cnt"], r["sv"]) for r in spark.table(name).collect()}

    assert run() == {"a": (12, 12)}
    srcdir = os.path.join(ckpt, "sources", "0")
    assert os.path.exists(os.path.join(srcdir, "9.compact"))

    ss.rewind_checkpoint(ckpt, 7)
    assert not os.path.exists(os.path.join(srcdir, "9.compact"))
    lines = open(os.path.join(srcdir, "7.compact")).read().splitlines()
    assert lines[0].startswith("v")
    entries = [json.loads(ln) for ln in lines[1:] if ln]
    assert {e["batchId"] for e in entries} == set(range(8))
    assert len(entries) == 8

    # state resumes at count 8; exactly the 4 post-rewind files are
    # re-discovered (keep-compact => 10, delete-compact => 20, both wrong)
    assert run() == {"a": (12, 12)}


def test_rewind_file_sink_with_checkpoint(spark, tmp_path):
    """The FULL poisoned-batch undo for a parquet sink: rewind the
    checkpoint (engine/source logs) AND the sink's _spark_metadata log —
    which compacts at batch 9 and whose entries carry no batch tag, so the
    compact history must be rebuilt from the surviving per-batch plain
    files. After restart, a log-aware read of the output dir must see
    exactly one copy of every input row: stale sink entries would show
    duplicates for the replayed batches, over-deletion would lose rows."""
    import glob as _glob
    import shutil as _shutil

    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inp)
    one = str(tmp_path / "one.parquet")
    spark.createDataFrame(
        [("a", 1)], "k string, v int"
    ).coalesce(1).write.parquet(one)
    part = _glob.glob(f"{one}/part-*.parquet")[0]
    for i in range(12):
        _shutil.copyfile(part, os.path.join(inp, f"b{i:02d}.parquet"))
    schema = spark.read.parquet(inp).schema

    def run():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(inp)
            .writeStream.format("parquet")
            .option("path", outp)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run()
    assert spark.read.parquet(outp).count() == 12
    sinkdir = os.path.join(outp, "_spark_metadata")
    assert os.path.exists(os.path.join(sinkdir, "9.compact"))

    ss.rewind_checkpoint(ckpt, 7)
    removed = ss.rewind_file_sink(outp, 7)
    # rebuilt compact at the cut; bad batches' part files gone
    assert os.path.exists(os.path.join(sinkdir, "7.compact"))
    assert not os.path.exists(os.path.join(sinkdir, "9.compact"))
    assert sum(1 for p in removed if p.endswith(".parquet")) == 4
    assert spark.read.parquet(outp).count() == 8

    run()  # replays batches 8-11
    out = spark.read.parquet(outp)
    assert out.count() == 12
    assert out.groupBy().sum("v").collect()[0][0] == 12


def test_rewind_file_sink_refuses_uncoverable_compaction(tmp_path):
    """If retention already removed the per-batch plain files a compact
    rebuild needs, the rewind must refuse by name — sink entries carry no
    batch tag, so guessing would corrupt the exactly-once log."""
    md = tmp_path / "out" / "_spark_metadata"
    md.mkdir(parents=True)
    ent = '{"path":"file:///x/part-%d.parquet","size":1,"isDir":false,"modificationTime":0,"blockReplication":1,"blockSize":1,"action":"add"}'
    all_entries = []
    for b in range(10):
        line = ent % b
        all_entries.append(line)
        if b != 3:  # batch 3's plain file was cleaned up
            (md / str(b)).write_text("v1\n" + line)
    (md / "9.compact").write_text("v1\n" + "\n".join(all_entries))
    with pytest.raises(ValueError, match=r"\[3\] were already"):
        ss.rewind_file_sink(str(tmp_path / "out"), 7)


def test_rewind_file_sink_two_compacts_deletes_older(tmp_path):
    """Compacts at 4 and 9 (interval 5), cut at 7: the rebuilt 7.compact
    must be the ONLY compact left.  Leaving 4.compact would make Spark's
    CompactibleFileStreamLog derive compactInterval = 7-4 = 3 on restart
    and look for compacts the log never wrote (IllegalStateException).
    The newer compact serializes its entries with a DIFFERENT JSON field
    order than the plain files — raw-line comparison would classify every
    committed entry as doomed and delete its part file; the (path, action)
    key comparison must not."""
    out = tmp_path / "out"
    md = out / "_spark_metadata"
    md.mkdir(parents=True)
    ent = ('{"path":"%s","size":1,"isDir":false,"modificationTime":0,'
           '"blockReplication":1,"blockSize":1,"action":"add"}')
    # same entry, different field order (as a newer Spark version might)
    ent_reordered = ('{"action":"add","path":"%s","size":1,"isDir":false,'
                     '"modificationTime":0,"blockReplication":1,"blockSize":1}')
    paths = []
    for b in range(10):
        part = out / f"part-{b}.parquet"
        part.write_bytes(b"data")
        paths.append(f"file://{part}")
    for b in range(10):
        if b not in (4, 9):
            (md / str(b)).write_text("v1\n" + ent % paths[b])
    (md / "4.compact").write_text(
        "v1\n" + "\n".join(ent % paths[b] for b in range(5)))
    (md / "9.compact").write_text(
        "v1\n" + "\n".join(ent_reordered % paths[b] for b in range(10)))

    removed = ss.rewind_file_sink(str(out), 7)

    compacts = sorted(f for f in os.listdir(md) if f.endswith(".compact"))
    assert compacts == ["7.compact"]
    lines = open(md / "7.compact").read().splitlines()
    assert lines[0] == "v1"
    kept = [json.loads(ln)["path"] for ln in lines[1:] if ln]
    assert sorted(kept) == sorted(paths[:8])
    # only batches 8-9's part files deleted; 0-7's survive
    gone = sorted(os.path.basename(p) for p in removed
                  if p.endswith(".parquet"))
    assert gone == ["part-8.parquet", "part-9.parquet"]
    for b in range(8):
        assert (out / f"part-{b}.parquet").exists()


def test_rewind_file_sink_refuses_unparseable_entry(tmp_path):
    """A sink-log entry that isn't JSON (or lacks 'path') must refuse the
    whole rewind BEFORE touching any file — guessing which part files an
    opaque entry commits risks silent data loss."""
    out = tmp_path / "out"
    md = out / "_spark_metadata"
    md.mkdir(parents=True)
    ent = ('{"path":"file://%s/part-%d.parquet","size":1,"isDir":false,'
           '"modificationTime":0,"blockReplication":1,"blockSize":1,'
           '"action":"add"}')
    for b in range(5):
        (md / str(b)).write_text("v1\n" + ent % (out, b))
    (md / "4").write_text("v1\nnot-json-at-all")
    before = sorted(os.listdir(md))
    with pytest.raises(ValueError, match="unparseable sink-log entry"):
        ss.rewind_file_sink(str(out), 2)
    assert sorted(os.listdir(md)) == before  # nothing mutated


def test_rewind_source_log_two_compacts_deletes_older(tmp_path):
    """_rewind_compactible_log with compacts at 4 and 9, cut 7: rebuilt
    7.compact embeds batches <= 7 and the OLDER 4.compact is deleted too,
    so the restarted log sees exactly one compaction batch."""
    d = tmp_path / "sources" / "0"
    d.mkdir(parents=True)
    ent = '{"path":"file:///in/b%02d.parquet","timestamp":1,"batchId":%d}'
    (d / "4.compact").write_text(
        "v1\n" + "\n".join(ent % (b, b) for b in range(5)))
    (d / "9.compact").write_text(
        "v1\n" + "\n".join(ent % (b, b) for b in range(10)))
    removed: list[str] = []
    ss._rewind_compactible_log(str(d), 7, removed)
    assert sorted(f for f in os.listdir(d) if f.endswith(".compact")) == [
        "7.compact"
    ]
    entries = [json.loads(ln) for ln in
               open(d / "7.compact").read().splitlines()[1:] if ln]
    assert {e["batchId"] for e in entries} == set(range(8))


def test_rewind_two_compacts_unaligned_cut_restart(spark, tmp_path):
    """End-to-end ADVICE repro: with compactInterval=4 the source and sink
    logs compact at batches 3, 7, 11.  Rewinding to batch 4 (unaligned)
    rebuilds 4.compact; if the older 3.compact survived, restart would
    derive compactInterval = 4-3 = 1 and expect EVERY log file to be a
    compact — IllegalStateException or silent seen-files loss.  After the
    fix the restarted query replays exactly batches 5-11, and a log-aware
    read sees exactly one copy of every row."""
    import glob as _glob
    import shutil as _shutil

    sink_k = "spark.sql.streaming.fileSink.log.compactInterval"
    src_k = "spark.sql.streaming.fileSource.log.compactInterval"
    old = {k: spark.conf.get(k, None) for k in (sink_k, src_k)}
    spark.conf.set(sink_k, "4")
    spark.conf.set(src_k, "4")
    try:
        inp = str(tmp_path / "in")
        outp = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(inp)
        one = str(tmp_path / "one.parquet")
        spark.createDataFrame(
            [("a", 1)], "k string, v int"
        ).coalesce(1).write.parquet(one)
        part = _glob.glob(f"{one}/part-*.parquet")[0]
        for i in range(12):
            _shutil.copyfile(part, os.path.join(inp, f"b{i:02d}.parquet"))
        schema = spark.read.parquet(inp).schema

        def run():
            q = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(inp)
                .writeStream.format("parquet")
                .option("path", outp)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)

        run()
        sinkdir = os.path.join(outp, "_spark_metadata")
        assert os.path.exists(os.path.join(sinkdir, "11.compact"))
        assert os.path.exists(os.path.join(sinkdir, "7.compact"))

        ss.rewind_checkpoint(ckpt, 4)
        ss.rewind_file_sink(outp, 4)
        assert sorted(
            f for f in os.listdir(sinkdir) if f.endswith(".compact")
        ) == ["4.compact"]
        srcdir = os.path.join(ckpt, "sources", "0")
        assert sorted(
            f for f in os.listdir(srcdir) if f.endswith(".compact")
        ) == ["4.compact"]
        assert spark.read.parquet(outp).count() == 5

        run()  # replays batches 5-11 against the single-compact logs
        out = spark.read.parquet(outp)
        assert out.count() == 12
        assert out.groupBy().sum("v").collect()[0][0] == 12
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_rewind_file_sink_plain_only(tmp_path):
    """No compaction involved: logs > cut are deleted along with exactly
    the part files they list; the covered prefix is untouched."""
    out = tmp_path / "out"
    md = out / "_spark_metadata"
    md.mkdir(parents=True)
    ent = '{"path":"%s","size":1,"isDir":false,"modificationTime":0,"blockReplication":1,"blockSize":1,"action":"add"}'
    for b in range(5):
        part = out / f"part-{b}.parquet"
        part.write_bytes(b"data")
        (md / str(b)).write_text("v1\n" + ent % f"file://{part}")
    removed = ss.rewind_file_sink(str(out), 2)
    assert sorted(os.path.basename(p) for p in removed) == [
        "3", "4", "part-3.parquet", "part-4.parquet"
    ]
    assert (md / "2").exists() and (out / "part-2.parquet").exists()


def test_source_log_cuts_parse_offsets_file(tmp_path):
    """Per-source rewind cuts come from offsets/<batch>: logOffset JSONs
    map to their value, '-' (no offset yet) maps to -1, and non-logOffset
    sources (e.g. Kafka topic maps) are left to the engine-batch default."""
    od = tmp_path / "offsets"
    od.mkdir()
    (od / "7").write_text(
        "v1\n"
        '{"batchWatermarkMs":0,"batchTimestampMs":1}\n'
        '{"logOffset":5}\n'
        "-\n"
        '{"topic-a":{"0":123}}\n'
    )
    cuts = ss._source_log_cuts(str(tmp_path), 7)
    assert cuts == {"0": 5, "1": -1}


def test_rewrite_then_restart_nested_array_state(spark, tmp_path):
    """The decisive nested-codec proof, end to end against Spark's own
    machinery: an applyInPandasWithState query whose user state schema is
    (seen array<long>, cnt long) — stored by Spark as a NESTED struct
    value column — has its state read, patched (tombstone one key,
    prepend a sentinel into the array INSIDE the struct), and rewritten;
    the restarted real query must load OUR nested UnsafeRow encoding and
    continue from the patched values."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    spark.conf.set(
        "spark.sql.streaming.stateStore.compression.codec", "snappy"
    )
    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 5)], "k string, v long"
    ).coalesce(1).write.parquet(inp)

    def fn(key, pdf_iter, state):
        if state.exists:
            seen, _cnt = state.get
            seen = list(seen)
        else:
            seen = []
        for pdf in pdf_iter:
            seen.extend(int(x) for x in pdf["v"])
        state.update((seen, len(seen)))
        yield pd.DataFrame(
            {"k": [key[0]], "seen": [seen], "cnt": [len(seen)]}
        )

    def run():
        got = {}
        schema = spark.read.parquet(inp).schema
        stream = spark.readStream.schema(schema).parquet(inp)
        out = stream.groupBy("k").applyInPandasWithState(
            fn, "k string, seen array<long>, cnt long",
            "seen array<long>, cnt long", "update",
            GroupStateTimeout.NoTimeout,
        )

        def sink(df, _bid):
            for r in df.collect():
                got[r["k"]] = (list(r["seen"]), r["cnt"])

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return got

    assert run() == {"a": ([1, 2], 2), "b": ([5], 1)}

    st = ss.read_spark_state(spark, ckpt)
    assert "groupState" in st.columns  # the nested struct value column
    patched = (
        st.drop("partition_id")
        .where(F.col("k") != "b")
        .withColumn(
            "groupState",
            F.col("groupState").withField(
                "seen",
                F.concat(
                    F.array(F.lit(999).cast("long")),
                    F.col("groupState.seen"),
                ),
            ),
        )
    )
    ss.write_spark_state(spark, ckpt, patched)
    back = {
        r["k"]: list(r["groupState"]["seen"])
        for r in ss.read_spark_state(spark, ckpt).collect()
    }
    assert back == {"a": [999, 1, 2]}

    spark.createDataFrame(
        [("a", 10), ("b", 7)], "k string, v long"
    ).coalesce(1).write.mode("append").parquet(inp)
    assert run() == {"a": ([999, 1, 2, 10], 4), "b": ([7], 1)}


def test_reader_matches_sparks_builtin_statestore_source(spark, tmp_path):
    """Independent oracle: Spark 4 ships its own state reader
    (``spark.read.format("statestore")``). Our reader must return exactly
    the same keys and values — for flat aggregation state AND for the
    nested applyInPandasWithState struct state — so any drift in framing,
    UnsafeRow layout, or snapshot+delta replay shows up as a diff against
    the engine's own implementation."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    spark.conf.set(
        "spark.sql.streaming.stateStore.compression.codec", "snappy"
    )
    # --- flat agg state ---
    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 5), ("c", 9)], "k string, v int"
    ).coalesce(1).write.parquet(inp)
    _run_agg(spark, inp, ckpt)

    ours = {
        r["k"]: (r[2], r[3])
        for r in ss.read_spark_state(spark, ckpt).collect()
    }
    builtin = {
        r["key"]["k"]: (r["value"]["count"], r["value"]["sum"])
        for r in spark.read.format("statestore").load(ckpt).collect()
    }
    assert ours == builtin and len(ours) == 3

    # --- nested struct state (applyInPandasWithState) ---
    inp2, ckpt2 = str(tmp_path / "in2"), str(tmp_path / "ckpt2")
    spark.createDataFrame(
        [("x", 1), ("x", 2), ("y", 7)], "k string, v long"
    ).coalesce(1).write.parquet(inp2)

    def fn(key, pdf_iter, state):
        seen = list(state.get[0]) if state.exists else []
        for pdf in pdf_iter:
            seen.extend(int(x) for x in pdf["v"])
        state.update((seen, len(seen)))
        yield pd.DataFrame({"k": [key[0]], "n": [len(seen)]})

    schema = spark.read.parquet(inp2).schema
    stream = spark.readStream.schema(schema).parquet(inp2)
    out = stream.groupBy("k").applyInPandasWithState(
        fn, "k string, n long", "seen array<long>, cnt long",
        "update", GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.foreachBatch(lambda df, b: df.count())
        .outputMode("update")
        .option("checkpointLocation", ckpt2)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    ours2 = {
        r["k"]: (list(r["groupState"]["seen"]), r["groupState"]["cnt"])
        for r in ss.read_spark_state(spark, ckpt2).collect()
    }
    builtin2 = {
        r["key"]["k"]: (
            list(r["value"]["groupState"]["seen"]),
            r["value"]["groupState"]["cnt"],
        )
        for r in spark.read.format("statestore").load(ckpt2).collect()
    }
    assert ours2 == builtin2 == {"x": ([1, 2], 2), "y": ([7], 1)}


# --- property fuzz: nested UnsafeRow codec round-trips arbitrary shapes ---

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    def _leaf_types():
        return st.sampled_from([
            T.LongType(), T.IntegerType(), T.ShortType(), T.ByteType(),
            T.DoubleType(), T.BooleanType(), T.StringType(), T.BinaryType(),
        ])

    def _dtypes(depth=2):
        if depth == 0:
            return _leaf_types()
        sub = _dtypes(depth - 1)
        return st.one_of(
            _leaf_types(),
            sub.map(T.ArrayType),
            st.tuples(_leaf_types(), sub).map(lambda kv: T.MapType(*kv)),
            st.lists(sub, min_size=1, max_size=3).map(
                lambda ts: T.StructType(
                    [T.StructField(f"f{i}", t) for i, t in enumerate(ts)]
                )
            ),
        )

    def _value_for(dt):
        if isinstance(dt, T.LongType):
            return st.integers(-(2**63), 2**63 - 1)
        if isinstance(dt, T.IntegerType):
            return st.integers(-(2**31), 2**31 - 1)
        if isinstance(dt, T.ShortType):
            return st.integers(-(2**15), 2**15 - 1)
        if isinstance(dt, T.ByteType):
            return st.integers(-128, 127)
        if isinstance(dt, T.DoubleType):
            return st.floats(allow_nan=False, width=64)
        if isinstance(dt, T.BooleanType):
            return st.booleans()
        if isinstance(dt, T.StringType):
            return st.text(max_size=20)
        if isinstance(dt, T.BinaryType):
            return st.binary(max_size=20)
        if isinstance(dt, T.ArrayType):
            return st.lists(
                st.none() | _value_for(dt.elementType), max_size=5
            )
        if isinstance(dt, T.MapType):
            return st.dictionaries(
                _value_for(dt.keyType),
                st.none() | _value_for(dt.valueType),
                max_size=4,
            )
        if isinstance(dt, T.StructType):
            return st.tuples(
                *[st.none() | _value_for(f.dataType) for f in dt.fields]
            )
        raise AssertionError(dt)

    @given(st.data())
    @settings(max_examples=150, deadline=None)
    def test_prop_nested_unsafe_row_roundtrip(data):
        """Random nested schemas (arrays/maps/structs to depth 2 over all
        primitive leaves) with random values incl. nulls at every level:
        encode -> decode must be the identity. The JVM-oracle tests pin
        the LAYOUT against Spark; this pins total-function behavior over
        the shape space (empty arrays/maps, unicode, extreme ints...)."""
        dts = data.draw(st.lists(_dtypes(), min_size=1, max_size=4))
        schema = T.StructType(
            [T.StructField(f"c{i}", t) for i, t in enumerate(dts)]
        )
        row = tuple(
            data.draw(st.none() | _value_for(f.dataType))
            for f in schema.fields
        )
        got = ss.decode_unsafe_row(ss.encode_unsafe_row(row, schema), schema)
        assert _norm(got) == _norm(row)

except ImportError:  # hypothesis is baked into this container
    pass


def test_wide_row_multiword_null_bits(spark):
    """Rows with more than 64 fields use a multi-WORD null bitset header;
    pin the codec's wide path (70 fields, nulls scattered past bit 63)
    against Spark's own UnsafeProjection bytes and the JVM getters."""
    n = 70
    schema = T.StructType(
        [T.StructField(f"c{i}", T.LongType()) for i in range(n - 1)]
        + [T.StructField("tail", T.ArrayType(T.StringType()))]
    )
    row = tuple(
        None if i % 7 == 0 else i * 1000 for i in range(n - 1)
    ) + (["end", None, "x" * 30],)

    # decode oracle: Spark's own bytes
    df = spark.createDataFrame([row], schema)
    raw = bytes(df._jdf.queryExecution().toRdd().first().getBytes())
    assert _norm(ss.decode_unsafe_row(raw, schema)) == _norm(row)

    # encode oracle: JVM getters over our bytes
    ours = ss.encode_unsafe_row(row, schema)
    assert _norm(ss.decode_unsafe_row(ours, schema)) == _norm(row)
    jvm = spark._jvm
    ur = jvm.org.apache.spark.sql.catalyst.expressions.UnsafeRow(n)
    ur.pointTo(ours, len(ours))
    got = tuple(
        None if ur.isNullAt(i) else _jvm_get(ur, i, f.dataType)
        for i, f in enumerate(schema.fields)
    )
    assert _norm(got) == _norm(row)


def test_wide_array_multiword_null_bits(spark):
    """Arrays with more than 64 elements use multi-word null bitsets in
    UnsafeArrayData; pin both directions against Spark for a 100-element
    long array (nulls scattered past bit 63) and a var-length twin."""
    schema = T.StructType([
        T.StructField("a", T.ArrayType(T.LongType())),
        T.StructField("b", T.ArrayType(T.StringType())),
    ])
    row = (
        [None if i % 9 == 0 else i for i in range(100)],
        [None if i % 11 == 0 else f"s{i}" for i in range(80)],
    )
    df = spark.createDataFrame([row], schema)
    raw = bytes(df._jdf.queryExecution().toRdd().first().getBytes())
    assert _norm(ss.decode_unsafe_row(raw, schema)) == _norm(row)

    ours = ss.encode_unsafe_row(row, schema)
    assert _norm(ss.decode_unsafe_row(ours, schema)) == _norm(row)
    jvm = spark._jvm
    ur = jvm.org.apache.spark.sql.catalyst.expressions.UnsafeRow(2)
    ur.pointTo(ours, len(ours))
    got = tuple(_jvm_get(ur, i, f.dataType) for i, f in enumerate(schema.fields))
    assert _norm(got) == _norm(row)


# ---------------------------------------------------------------------------
# ADVICE r13 regressions: timestamp exactness, wide-decimal byte identity,
# map-key hashability, duplicate map keys, zstd rewrite-restart
# ---------------------------------------------------------------------------


def test_ts_encode_exact_microseconds():
    """float total_seconds()*1e6 truncates ~1.2% of microsecond-resolution
    timestamps between 1970 and 2100 off by 1us (2**53 < a century of
    microseconds) — the encoder must use exact timedelta components."""
    import datetime as _dt
    import random

    epoch = _dt.datetime(1970, 1, 1)
    # a pinned victim of the float path: int(total_seconds()*1e6) loses 1us
    us = 2_248_336_590_165_013
    v = epoch + _dt.timedelta(microseconds=us)
    assert int((v - epoch).total_seconds() * 1_000_000) != us  # float DOES drift
    assert ss._ts_encode(v) == us

    rng = random.Random(1337)
    for _ in range(20_000):
        us = rng.randrange(0, 4_102_444_800_000_000)  # 1970..2100
        v = epoch + _dt.timedelta(microseconds=us)
        assert ss._ts_encode(v) == us
        assert ss._ts_decode(ss._ts_encode(v)) == v


def test_wide_decimal_byte_identity_with_jvm(spark):
    """Rewritten rows holding precision>18 decimals must be BYTE-identical
    to UnsafeProjection output: minimal two's-complement (-128 is one byte
    0x80, per BigInteger.toByteArray), a zeroed 16-byte var region per wide
    decimal in rows — reserved even when the value is NULL, with the offset
    recorded (UnsafeWriter.write(Decimal) 'keep the offset for future
    update') — and 8-byte-word rounding inside arrays."""
    import decimal as _dec

    D = _dec.Decimal
    cases = [
        D("-1.28"),   # unscaled -128: the non-minimal-encoding boundary
        D("-0.01"),   # unscaled -1 -> ff
        D("0.00"),
        D("1.27"),    # unscaled 127 -> 7f
        D("1.28"),    # unscaled 128 -> 0080
        None,         # null still consumes 16 var bytes in rows
    ]
    schema = T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("d", T.DecimalType(20, 2)),
    ])
    for v in cases:
        row = (5, v)
        df = spark.createDataFrame([row], schema)
        jvm_bytes = bytes(df._jdf.queryExecution().toRdd().first().getBytes())
        assert ss.encode_unsafe_row(row, schema) == jvm_bytes, v

    arr_schema = T.StructType(
        [T.StructField("ad", T.ArrayType(T.DecimalType(20, 2)))]
    )
    arr_row = ([D("-1.28"), None, D("1.27")],)
    df = spark.createDataFrame([arr_row], arr_schema)
    jvm_bytes = bytes(df._jdf.queryExecution().toRdd().first().getBytes())
    assert ss.encode_unsafe_row(arr_row, arr_schema) == jvm_bytes

    # nested shapes: the 16-byte reservation recurses into nested-struct
    # rows (incl. the null case), while map key/value arrays and
    # array-of-struct cells keep UnsafeArrayWriter's 8-byte rounding
    nested_cases = [
        (T.StructType([T.StructField("s", T.StructType([
            T.StructField("x", T.LongType()),
            T.StructField("d", T.DecimalType(20, 2)),
        ]))]), ((7, D("-1.28")),)),
        (T.StructType([T.StructField("s", T.StructType([
            T.StructField("x", T.LongType()),
            T.StructField("d", T.DecimalType(20, 2)),
        ]))]), ((7, None),)),
        (T.StructType([T.StructField("m", T.MapType(
            T.StringType(), T.DecimalType(20, 2)))]),
         ({"a": D("-1.28"), "b": None},)),
        (T.StructType([T.StructField("a", T.ArrayType(T.StructType([
            T.StructField("d", T.DecimalType(25, 3)),
        ])))]), ([(D("-0.128"),), (None,)],)),
    ]
    for nschema, nrow in nested_cases:
        df = spark.createDataFrame([nrow], nschema)
        jvm_bytes = bytes(df._jdf.queryExecution().toRdd().first().getBytes())
        assert ss.encode_unsafe_row(nrow, nschema) == jvm_bytes, nschema


def test_map_key_unhashable_rejected_at_schema_check():
    """Array/map-typed map KEYS decode to unhashable list/dict — reject at
    schema-check time by name, not TypeError mid-scan. Struct keys stay
    allowed (they decode to hashable tuples) unless they nest an array."""
    bad = T.StructType([
        T.StructField("m", T.MapType(T.ArrayType(T.LongType()), T.StringType()))
    ])
    with pytest.raises(ValueError, match="map key type"):
        ss._check_schema(bad)
    nested_bad = T.StructType([
        T.StructField("m", T.MapType(
            T.StructType([T.StructField("x", T.ArrayType(T.LongType()))]),
            T.StringType(),
        ))
    ])
    with pytest.raises(ValueError, match="map key type"):
        ss._check_schema(nested_bad)
    ok = T.StructType([
        T.StructField("m", T.MapType(
            T.StructType([T.StructField("x", T.LongType())]), T.StringType()
        ))
    ])
    ss._check_schema(ok)  # struct-of-primitives key decodes to a tuple


def test_duplicate_map_keys_rejected_loudly():
    """Maps with duplicate keys (legal in state files written before Spark
    enforced dedup) must raise, not silently collapse and shrink on
    rewrite."""
    karr = ss._encode_array([1, 1], T.LongType())
    varr = ss._encode_array(["a", "b"], T.StringType())
    region = struct.pack("<q", len(karr)) + karr + varr
    mt = T.MapType(T.LongType(), T.StringType())
    with pytest.raises(ValueError, match="duplicate keys"):
        ss._decode_region(region, 0, len(region), mt)
    # the non-duplicate twin decodes fine
    karr2 = ss._encode_array([1, 2], T.LongType())
    region2 = struct.pack("<q", len(karr2)) + karr2 + varr
    assert ss._decode_region(region2, 0, len(region2), mt) == {1: "a", 2: "b"}


def test_rewrite_then_restart_zstd_codec(spark, tmp_path):
    """zstd twin of the lz4/snappy restart proofs: rewrite state written
    with stateStore.compression.codec=zstd (pyarrow-produced frames) and
    prove the restarted query's REAL ZstdInputStreamNoFinalizer reads it."""
    spark.conf.set("spark.sql.streaming.stateStore.compression.codec", "zstd")
    try:
        inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
        spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 5)], "k string, v int"
        ).coalesce(1).write.parquet(inp)
        assert _run_agg(spark, inp, ckpt) == {"a": (2, 3), "b": (1, 5)}

        # the files really are zstd frames
        sdir = ss._state_dir(ckpt, 0)
        pid = ss._partitions(sdir)[0]
        ver = ss.latest_version(ckpt)
        delta = os.path.join(sdir, str(pid), f"{ver}.delta")
        assert open(delta, "rb").read(4) == ss.ZSTD_FRAME_MAGIC

        st = ss.read_spark_state(spark, ckpt)
        cnt_col = st.columns[2]
        patched = (
            st.drop("partition_id")
            .where(F.col("k") != "b")
            .withColumn(cnt_col, F.col(cnt_col) + F.lit(100))
        )
        ss.write_spark_state(spark, ckpt, patched)
        assert open(delta, "rb").read(4) == ss.ZSTD_FRAME_MAGIC  # codec kept

        spark.createDataFrame(
            [("a", 10), ("b", 7)], "k string, v int"
        ).coalesce(1).write.mode("append").parquet(inp)
        out2 = _run_agg(spark, inp, ckpt)
        assert out2 == {"a": (103, 13), "b": (1, 7)}
    finally:
        spark.conf.set(
            "spark.sql.streaming.stateStore.compression.codec", "lz4"
        )


def test_stream_stream_join_state_rewrite_restart(spark, tmp_path):
    """Named-store WRITE twin: surgically remove one user's buffered rows
    from a stream-stream interval join's left-side stores
    (keyToNumValues + keyWithIndexToValue, patched coherently), then
    restart the REAL join on new right-side input — the deleted user's
    match must not appear while other users' matches do.
    keyWithIndexToValue routes by the JOIN KEY alone (its store key adds
    the index), exercising partition_key_cols."""
    import datetime as _dt

    inp_l = str(tmp_path / "left")
    inp_r = str(tmp_path / "right")
    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")
    t0 = _dt.datetime(2030, 1, 1, 10, 0, 0)

    spark.createDataFrame(
        [(1, t0), (2, t0)], "uid long, lts timestamp"
    ).coalesce(1).write.parquet(inp_l)
    spark.createDataFrame(
        [(1, t0 + _dt.timedelta(minutes=1))], "r_uid long, rts timestamp"
    ).coalesce(1).write.parquet(inp_r)

    def run():
        left = (
            spark.readStream.schema("uid long, lts timestamp")
            .parquet(inp_l)
            .withWatermark("lts", "10 minutes")
        )
        right = (
            spark.readStream.schema("r_uid long, rts timestamp")
            .parquet(inp_r)
            .withWatermark("rts", "10 minutes")
        )
        j = left.join(
            right,
            (F.col("uid") == F.col("r_uid"))
            & (F.col("rts") >= F.col("lts"))
            & (F.col("rts") <= F.col("lts") + F.expr("INTERVAL 5 MINUTES")),
        )
        # memory sink cannot recover an append-mode query from a
        # checkpoint; the parquet sink can, and output accumulates
        q = (
            j.writeStream.format("parquet")
            .outputMode("append")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return {
            (r["uid"], r["rts"]) for r in spark.read.parquet(outdir).collect()
        }

    out1 = run()
    assert out1 == {(1, t0 + _dt.timedelta(minutes=1))}

    counts_key = T.StructType([T.StructField("uid", T.LongType())])
    counts_val = T.StructType([T.StructField("count", T.LongType())])
    rows_key = T.StructType(
        [T.StructField("uid", T.LongType()), T.StructField("index", T.LongType())]
    )
    rows_val = T.StructType(
        [
            T.StructField("uid", T.LongType()),
            T.StructField("lts", T.TimestampType()),
            T.StructField("matched", T.BooleanType()),
        ]
    )
    counts = ss.read_spark_state(
        spark, ckpt, store_name="left-keyToNumValues",
        key_schema=counts_key, value_schema=counts_val,
    )
    assert {r["uid"] for r in counts.collect()} == {1, 2}
    rows = ss.read_spark_state(
        spark, ckpt, store_name="left-keyWithIndexToValue",
        key_schema=rows_key, value_schema=rows_val,
    )

    # coherent patch: user 2 vanishes from BOTH left stores
    ss.write_spark_state(
        spark, ckpt, counts.drop("partition_id").where(F.col("uid") != 2),
        store_name="left-keyToNumValues",
        key_schema=counts_key, value_schema=counts_val,
    )
    ss.write_spark_state(
        spark, ckpt, rows.drop("partition_id").where(F.col("uid") != 2),
        store_name="left-keyWithIndexToValue",
        key_schema=rows_key, value_schema=rows_val,
        partition_key_cols=["uid"],
    )

    # our reader sees the patch
    left_now = ss.read_spark_state(
        spark, ckpt, store_name="left-keyWithIndexToValue",
        key_schema=rows_key, value_schema=rows_val,
    )
    assert {r["uid"] for r in left_now.collect()} == {1}

    # the decisive step: new right rows for BOTH users, restart the REAL
    # join on our files — user 1 matches, user 2's buffered row is gone
    t2 = t0 + _dt.timedelta(minutes=2)
    spark.createDataFrame(
        [(1, t2), (2, t2)], "r_uid long, rts timestamp"
    ).coalesce(1).write.mode("append").parquet(inp_r)
    out2 = run()
    assert (1, t2) in out2
    assert all(uid != 2 for uid, _ in out2), out2


def test_drop_duplicates_state_rewrite_restart(spark, tmp_path):
    """Streaming dropDuplicates keeps one state row per seen key with a
    single always-null NullType value field (``__dummy__``). Surgically
    FORGETTING a key must make its next occurrence pass the filter again
    after a restart, while remembered keys stay suppressed."""
    inp = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")
    spark.createDataFrame(
        [("a", 1), ("b", 2), ("a", 3)], "k string, seq long"
    ).coalesce(1).write.parquet(inp)

    def run():
        q = (
            spark.readStream.schema("k string, seq long")
            .parquet(inp)
            .dropDuplicates(["k"])
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return sorted(
            (r["k"], r["seq"]) for r in spark.read.parquet(outdir).collect()
        )

    out1 = run()
    assert [k for k, _ in out1] == ["a", "b"]

    st = ss.read_spark_state(spark, ckpt)
    assert st.columns == ["partition_id", "k", "__dummy__"]
    assert sorted(r["k"] for r in st.collect()) == ["a", "b"]
    assert all(r["__dummy__"] is None for r in st.collect())

    # forget key a; keep b (the NullType value round-trips as None)
    ss.write_spark_state(
        spark, ckpt, st.drop("partition_id").where(F.col("k") != "a")
    )

    spark.createDataFrame(
        [("a", 10), ("b", 20)], "k string, seq long"
    ).coalesce(1).write.mode("append").parquet(inp)
    out2 = run()
    # a re-emitted with its NEW seq; b still suppressed
    assert ("a", 10) in out2
    assert ("b", 20) not in out2


def test_session_window_state_reads(spark, tmp_path):
    """Session-window aggregation state self-describes through the schema
    file with a struct-typed session_window column (start/end timestamps)
    and a composite key — pin that the reader decodes it and agrees with
    the query's own output."""
    import datetime as _dt

    inp = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    t0 = _dt.datetime(2030, 1, 1, 10, 0, 0)
    spark.createDataFrame(
        [("u", t0), ("u", t0 + _dt.timedelta(seconds=30)),
         ("v", t0 + _dt.timedelta(minutes=20))],
        "k string, ts timestamp",
    ).coalesce(1).write.parquet(inp)
    name = f"sw_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.schema("k string, ts timestamp")
        .parquet(inp)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes"), F.col("k"))
        .agg(F.count("*").alias("cnt"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    want = {
        (r["k"], r["session_window"]["start"], r["cnt"])
        for r in spark.table(name).collect()
    }
    st = ss.read_spark_state(spark, ckpt)
    got = {
        (r["k"], r["session_window"]["start"], r["count"])
        for r in st.collect()
    }
    assert got == want and len(got) == 2


def test_unsafe_row_byte_identity_fuzz_vs_jvm(spark):
    """Seeded random schemas (primitives, wide+narrow decimals, dates,
    timestamps, strings, binary, arrays, maps, structs, nesting <= 2) —
    our encoder's bytes must equal Spark's own UnsafeProjection output
    EXACTLY, not just decode to equal values. Catches layout-drift
    classes (padding, reservation, null-slot conventions) that
    value-equality round-trips cannot see."""
    import datetime as _dt
    import decimal as _dec
    import random

    rng = random.Random(20260815)

    def rand_type(depth):
        leaves = ["long", "int", "short", "byte", "double", "float", "bool",
                  "string", "binary", "date", "ts", "dec9", "dec20", "dec38"]
        pool = leaves + (["array", "map", "struct"] if depth < 2 else [])
        t = rng.choice(pool)
        if t == "array":
            return T.ArrayType(rand_type(depth + 1))
        if t == "map":
            return T.MapType(T.LongType(), rand_type(depth + 1))
        if t == "struct":
            return T.StructType([
                T.StructField(f"f{i}", rand_type(depth + 1))
                for i in range(rng.randint(1, 3))
            ])
        return {
            "long": T.LongType(), "int": T.IntegerType(),
            "short": T.ShortType(), "byte": T.ByteType(),
            "double": T.DoubleType(), "float": T.FloatType(),
            "bool": T.BooleanType(), "string": T.StringType(),
            "binary": T.BinaryType(), "date": T.DateType(),
            "ts": T.TimestampType(), "dec9": T.DecimalType(9, 2),
            "dec20": T.DecimalType(20, 2), "dec38": T.DecimalType(38, 10),
        }[t]

    def rand_value(dt):
        if rng.random() < 0.25:
            return None
        if isinstance(dt, T.LongType):
            return rng.randint(-(2**62), 2**62)
        if isinstance(dt, T.IntegerType):
            return rng.randint(-(2**31), 2**31 - 1)
        if isinstance(dt, T.ShortType):
            return rng.randint(-(2**15), 2**15 - 1)
        if isinstance(dt, T.ByteType):
            return rng.randint(-128, 127)
        if isinstance(dt, T.DoubleType):
            return rng.uniform(-1e12, 1e12)
        if isinstance(dt, T.FloatType):
            return float(rng.randint(-1000, 1000))  # exact in float32
        if isinstance(dt, T.BooleanType):
            return rng.random() < 0.5
        if isinstance(dt, T.StringType):
            return "".join(rng.choice("aé✓z0") for _ in range(rng.randint(0, 9)))
        if isinstance(dt, T.BinaryType):
            return bytes(rng.randrange(256) for _ in range(rng.randint(0, 9)))
        if isinstance(dt, T.DateType):
            return _dt.date(1970, 1, 1) + _dt.timedelta(days=rng.randint(-10000, 20000))
        if isinstance(dt, T.TimestampType):
            return _dt.datetime(1970, 1, 1) + _dt.timedelta(
                microseconds=rng.randint(0, 4_102_444_800_000_000)
            )
        if isinstance(dt, T.DecimalType):
            unscaled = rng.randint(-(10**dt.precision) + 1, 10**dt.precision - 1)
            return _dec.Decimal(unscaled).scaleb(-dt.scale)
        if isinstance(dt, T.ArrayType):
            return [rand_value(dt.elementType) for _ in range(rng.randint(0, 4))]
        if isinstance(dt, T.MapType):
            # at most ONE entry: map ENTRY ORDER has no canonical byte
            # form — createDataFrame pickles a dict into java.util.HashMap
            # whose iteration order differs from insertion order, so
            # multi-entry maps are byte-order artifacts, not layout truth
            # (multi-entry maps stay covered by the value-equality tests;
            # our rewrites preserve the original order they decoded)
            keys = rng.sample(range(100), rng.randint(0, 1))
            return {k: rand_value(dt.valueType) for k in keys}
        if isinstance(dt, T.StructType):
            return tuple(rand_value(f.dataType) for f in dt.fields)
        raise AssertionError(dt)

    for case in range(25):
        schema = T.StructType([
            T.StructField(f"c{i}", rand_type(0))
            for i in range(rng.randint(1, 5))
        ])
        row = tuple(rand_value(f.dataType) for f in schema.fields)
        df = spark.createDataFrame([row], schema)
        jvm_bytes = bytes(df._jdf.queryExecution().toRdd().first().getBytes())
        ours = ss.encode_unsafe_row(row, schema)
        assert ours == jvm_bytes, (case, schema.simpleString(), row)
        # and the decode direction: Spark's own bytes back to the values
        got = ss.decode_unsafe_row(jvm_bytes, schema)
        assert _norm(got) == _norm(row), (case, schema.simpleString())


def test_state_schema_evolution_migration_restart(spark, tmp_path):
    """Schema-evolution surgery: an applyInPandasWithState query whose
    user state grows a column between runs fails Spark's
    StateSchemaCompatibilityChecker cold; migrate_spark_state_schema
    rewrites the checkpoint's schema file AND the state rows (new column
    null-initialized), after which the EVOLVED query restarts and
    continues from the migrated values."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    inp = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("a", 1), ("b", 2)], "k string, v long"
    ).coalesce(1).write.parquet(inp)

    def mk_fn(with_min):
        def fn(key, pdf_iter, state):
            if with_min:
                tot, mn = state.get if state.exists else (0, None)
            else:
                (tot,) = state.get if state.exists else (0,)
                mn = None
            vals = [int(x) for pdf in pdf_iter for x in pdf["v"]]
            tot += sum(vals)
            if with_min:
                cand = vals + ([mn] if mn is not None else [])
                mn = min(cand) if cand else None
                state.update((tot, mn))
            else:
                state.update((tot,))
            yield pd.DataFrame({"k": [key[0]], "tot": [tot]})
        return fn

    def run(with_min):
        st_schema = "tot long, mn long" if with_min else "tot long"
        q = (
            spark.readStream.schema("k string, v long")
            .parquet(inp)
            .groupBy("k")
            .applyInPandasWithState(
                mk_fn(with_min), "k string, tot long", st_schema,
                "update", GroupStateTimeout.NoTimeout,
            )
            .writeStream.foreachBatch(lambda df, _b: df.count())
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run(False)
    spark.createDataFrame(
        [("a", 5)], "k string, v long"
    ).coalesce(1).write.mode("append").parquet(inp)

    # cold restart with the evolved schema fails the compatibility check
    with pytest.raises(Exception, match="SCHEMA_NOT_COMPATIBLE"):
        run(True)

    # migrate: old value wraps user state in a groupState struct — evolve
    # THAT struct, initializing the new column to null
    old_key, old_val = ss.read_state_schema(ckpt)
    gs = next(f for f in old_val.fields if f.name == "groupState")
    new_gs = T.StructType(
        list(gs.dataType.fields) + [T.StructField("mn", T.LongType())]
    )
    new_val = T.StructType([
        T.StructField(f.name, new_gs if f.name == "groupState" else f.dataType)
        for f in old_val.fields
    ])
    st = ss.read_spark_state(spark, ckpt)
    migrated = st.drop("partition_id").withColumn(
        "groupState",
        F.struct(
            F.col("groupState.tot").alias("tot"),
            F.lit(None).cast("long").alias("mn"),
        ),
    )
    ss.migrate_spark_state_schema(spark, ckpt, migrated, new_value_schema=new_val)

    # self-describing read sees the evolved shape
    k2, v2 = ss.read_state_schema(ckpt)
    assert k2 == old_key and v2 == new_val
    now = {r["k"]: tuple(r["groupState"]) for r in ss.read_spark_state(spark, ckpt).collect()}
    assert now == {"a": (1, None), "b": (2, None)}

    # the decisive step: the EVOLVED query restarts and continues
    run(True)
    final = {
        r["k"]: tuple(r["groupState"])
        for r in ss.read_spark_state(spark, ckpt).collect()
    }
    assert final == {"a": (6, 5), "b": (2, None)}


def test_drop_duplicates_within_watermark_state_reads(spark, tmp_path):
    """dropDuplicatesWithinWatermark state self-describes: one row per
    seen key whose value is the expiry instant (event time + delay) in
    microseconds — pin the decode against the closed-form expiry."""
    import datetime as _dt

    inp = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    t0 = _dt.datetime(2030, 1, 1, 10, 0, 0)
    spark.createDataFrame(
        [("a", t0), ("b", t0 + _dt.timedelta(seconds=30)), ("a", t0)],
        "k string, ts timestamp",
    ).coalesce(1).write.parquet(inp)
    q = (
        spark.readStream.schema("k string, ts timestamp")
        .parquet(inp)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["k"])
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    st = ss.read_spark_state(spark, ckpt)
    assert st.columns == ["partition_id", "k", "expiresAtMicros"]
    epoch = _dt.datetime(1970, 1, 1)
    delay = _dt.timedelta(minutes=10)
    want = {
        "a": int((t0 + delay - epoch).total_seconds()) * 1_000_000,
        "b": int((t0 + _dt.timedelta(seconds=30) + delay - epoch).total_seconds())
        * 1_000_000,
    }
    got = {r["k"]: r["expiresAtMicros"] for r in st.collect()}
    assert got == want


def test_timer_reschedule_surgery_fires_timeout(spark, tmp_path):
    """Timer surgery: patch one key's ``timeoutTimestamp`` into the past
    and the restarted applyInPandasWithState query fires that key's
    timeout handler (hasTimedOut path) while untouched keys' far-future
    timers stay silent. NOTE: ProcessingTimeTimeout keeps an availableNow
    query alive to evaluate future timers, so the runner bounds batches
    and stops the query explicitly."""
    import time as _time

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    inp = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("a", 1), ("b", 2)], "k string, v long"
    ).coalesce(1).write.parquet(inp)

    def fn(key, pdf_iter, state):
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame({"k": [key[0]], "tot": [-999]})
            return
        (tot,) = state.get if state.exists else (0,)
        tot += sum(int(x) for pdf in pdf_iter for x in pdf["v"])
        state.update((tot,))
        state.setTimeoutDuration(3600_000)  # 1h: never fires naturally here
        yield pd.DataFrame({"k": [key[0]], "tot": [tot]})

    def run(max_batches):
        got, seen = [], [0]

        def sink(df, _bid):
            got.extend((r["k"], r["tot"]) for r in df.collect())
            seen[0] += 1

        q = (
            spark.readStream.schema("k string, v long")
            .parquet(inp)
            .groupBy("k")
            .applyInPandasWithState(
                fn, "k string, tot long", "tot long",
                "update", GroupStateTimeout.ProcessingTimeTimeout,
            )
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        t0 = _time.time()
        while q.isActive and _time.time() - t0 < 150 and seen[0] < max_batches:
            _time.sleep(0.5)
        q.stop()
        q.awaitTermination(60)
        return sorted(got)

    assert run(1) == [("a", 1), ("b", 2)]

    st = ss.read_spark_state(spark, ckpt)
    assert st.columns[-1] == "timeoutTimestamp"
    patched = st.drop("partition_id").withColumn(
        "timeoutTimestamp",
        F.when(F.col("k") == "a", F.lit(1).cast("long")).otherwise(
            F.col("timeoutTimestamp")
        ),
    )
    ss.write_spark_state(spark, ckpt, patched)

    spark.createDataFrame(
        [("c", 9)], "k string, v long"
    ).coalesce(1).write.mode("append").parquet(inp)
    out2 = run(2)
    assert ("a", -999) in out2  # the rescheduled timer fired
    assert ("c", 9) in out2
    assert all(k != "b" for k, _ in out2)  # untouched timer stayed silent
    final = {
        r["k"]: tuple(r["groupState"])
        for r in ss.read_spark_state(spark, ckpt).collect()
    }
    assert final == {"b": (2,), "c": (9,)}  # a's state removed by the handler


def test_streaming_global_limit_state_rewrite_restart(spark, tmp_path):
    """Streaming global limit keeps ONE state row (NullType key, row-count
    value). Surgically lowering the stored count makes the restarted query
    admit more rows before the limit trips again — proving NullType KEYS
    encode/route through the write path as well."""
    inp = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")
    spark.createDataFrame(
        [(i,) for i in range(10)], "v long"
    ).coalesce(1).write.parquet(inp)

    def run():
        q = (
            spark.readStream.schema("v long")
            .parquet(inp)
            .limit(3)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return spark.read.parquet(outdir).count()

    assert run() == 3
    st = ss.read_spark_state(spark, ckpt)
    assert st.columns == ["partition_id", "key", "value"]
    rows = st.collect()
    assert len(rows) == 1 and rows[0]["key"] is None and rows[0]["value"] == 3

    # pretend only one row was admitted so far
    patched = st.drop("partition_id").withColumn("value", F.lit(1).cast("long"))
    ss.write_spark_state(spark, ckpt, patched)
    got = ss.read_spark_state(spark, ckpt).collect()
    assert got[0]["key"] is None and got[0]["value"] == 1

    # new input: the restarted limit admits 2 more rows (1 -> 3), then stops
    spark.createDataFrame(
        [(100 + i,) for i in range(10)], "v long"
    ).coalesce(1).write.mode("append").parquet(inp)
    assert run() == 5  # 3 from run 1 + 2 newly admitted


def test_read_streaming_progress(spark, tmp_path):
    """The batch-history audit surface: one row per planned batch with
    commit status, batch timestamp, and watermarks — consistent with the
    query's own logs across a rewind."""
    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("a", 1)], "k string, v int"
    ).coalesce(1).write.parquet(inp)
    _run_agg(spark, inp, ckpt)
    spark.createDataFrame(
        [("b", 2)], "k string, v int"
    ).coalesce(1).write.mode("append").parquet(inp)
    _run_agg(spark, inp, ckpt)

    prog = ss.read_streaming_progress(spark, ckpt)
    rows = {r["batch_id"]: r for r in prog.collect()}
    assert set(rows) == {0, 1}
    assert all(r["committed"] for r in rows.values())
    assert all(r["batch_timestamp_ms"] > 0 for r in rows.values())
    assert all(len(r["source_offsets"]) == 1 for r in rows.values())

    # after a rewind the history reflects the cut
    ss.rewind_checkpoint(ckpt, 0)
    rows2 = {r["batch_id"]: r for r in ss.read_streaming_progress(spark, ckpt).collect()}
    assert set(rows2) == {0} and rows2[0]["committed"]

    with pytest.raises(FileNotFoundError):
        ss.read_streaming_progress(spark, str(tmp_path / "nope"))


def test_read_streaming_progress_numeric_batch_order(spark, tmp_path):
    """Offset-log files must sort NUMERICALLY: lexicographic ordering puts
    batch 10 before batch 2 once a query passes 9 batches (r15 advice).
    Synthesized 12-batch log — a real 12-batch streaming run would take
    minutes for the same pin."""
    import os

    ckpt = tmp_path / "ckpt"
    odir = ckpt / "offsets"
    odir.mkdir(parents=True)
    for bid in range(12):
        (odir / str(bid)).write_text('v1\n{"batchTimestampMs":%d}\n{}' % (1000 + bid))
    (odir / ".crc-junk").write_text("ignored")  # non-digit entries skipped
    rows = ss.read_streaming_progress(spark, str(ckpt)).collect()
    assert [r["batch_id"] for r in rows] == list(range(12))
    assert not any(r["committed"] for r in rows)  # no commits dir


def test_compact_spark_checkpoint_then_restart(spark, tmp_path):
    """Offline snapshot compaction on the HDFS-backed provider: fold the
    delta chain into {v}.snapshot per partition (the file doSnapshot
    maintenance would have written). The snapshot path alone must
    reproduce the state, our reader must see identical rows, and Spark's
    own restarted query must continue from the compacted checkpoint —
    restoring via the snapshot, not a full delta replay."""
    import glob
    import os

    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 5)], "k string, v int"
    ).coalesce(1).write.parquet(inp)
    _run_agg(spark, inp, ckpt)
    spark.createDataFrame(
        [("a", 10), ("c", 4)], "k string, v int"
    ).coalesce(1).write.mode("append").parquet(inp)
    out2 = _run_agg(spark, inp, ckpt)

    ver = ss.latest_version(ckpt)
    assert not glob.glob(f"{ckpt}/state/0/*/{ver}.snapshot"), "already there"
    before = {
        r[1]: (r[2], r[3]) for r in ss.read_spark_state(spark, ckpt).collect()
    }
    assert before == out2

    assert ss.compact_spark_checkpoint(spark, ckpt) == ver
    pdirs = glob.glob(f"{ckpt}/state/0/[0-9]*")
    assert pdirs and all(
        os.path.exists(os.path.join(p, f"{ver}.snapshot")) for p in pdirs
    )
    # the snapshot alone carries the full state: replaying from it with
    # zero deltas equals the delta-chain replay
    for p in pdirs:
        raw = ss.decode_stream(
            open(os.path.join(p, f"{ver}.snapshot"), "rb").read()
        )
        snap_state = {
            k: v for k, v in ss._iter_records(raw) if v is not None
        }
        assert snap_state == ss._load_partition_state(p, ver)
    after = {
        r[1]: (r[2], r[3]) for r in ss.read_spark_state(spark, ckpt).collect()
    }
    assert after == before

    # Spark itself restarts on the compacted checkpoint and continues
    spark.createDataFrame(
        [("a", 100), ("d", 7)], "k string, v int"
    ).coalesce(1).write.mode("append").parquet(inp)
    out3 = _run_agg(spark, inp, ckpt)
    assert out3 == {"a": (4, 113), "b": (1, 5), "c": (1, 4), "d": (1, 7)}

    # idempotent: compacting again rewrites the same snapshot in place
    ver2 = ss.latest_version(ckpt)
    assert ss.compact_spark_checkpoint(spark, ckpt, version=ver2) == ver2
    final = {
        r[1]: (r[2], r[3]) for r in ss.read_spark_state(spark, ckpt).collect()
    }
    assert final == out3


def test_patch_watermark_reopens_closed_window(spark, tmp_path):
    """Watermark surgery: one far-future event advances the watermark and
    later legitimate rows are silently dropped as late — no engine API
    lowers it back. patch_watermark rewrites the resume watermark in the
    offsets metadata (and the commit log's nextBatchWatermarkMs), so the
    restarted query accepts the reopened window again — proven by Spark's
    own late-row filtering before and after the patch."""
    import datetime
    import os

    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")

    def ts(sec):
        return datetime.datetime.fromtimestamp(sec, datetime.timezone.utc)

    def run_batch(rows, mode):
        spark.createDataFrame(rows, "ts timestamp").coalesce(1).write.mode(
            mode
        ).parquet(inp)
        schema = spark.read.parquet(inp).schema
        stream = spark.readStream.schema(schema).parquet(inp)
        agg = (
            stream.withWatermark("ts", "10 seconds")
            .groupBy(F.window("ts", "10 seconds").alias("w"))
            .agg(F.count("*").alias("cnt"))
        )
        # memory sink can't recover an update-mode checkpoint; foreachBatch
        # can (assertions read the state store directly anyway)
        q = (
            agg.writeStream.foreachBatch(lambda df, bid: df.count())
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    def state_windows():
        st = ss.read_spark_state(spark, ckpt)
        return {
            (int(r[1]["start"].timestamp()), int(r[1]["end"].timestamp())): r[2]
            for r in st.collect()
        }

    # batch 0: t=200 races the watermark forward to 190; the t=100 window
    # is evicted at end of batch
    run_batch([(ts(100),), (ts(200),)], "overwrite")
    assert state_windows() == {(200, 210): 1}

    # a late-but-legitimate row (t=150 < watermark 190) is dropped by
    # Spark's own late-row filter: state unchanged
    run_batch([(ts(150),)], "append")
    assert state_windows() == {(200, 210): 1}

    # surgery: lower the resume watermark below the reopened window
    patched = ss.patch_watermark(ckpt, 140_000)
    prog = {
        r["batch_id"]: r
        for r in ss.read_streaming_progress(spark, ckpt).collect()
    }
    assert prog[patched]["batch_watermark_ms"] == 140_000
    assert prog[patched]["next_batch_watermark_ms"] == 140_000

    # the same-window row is now accepted on restart
    run_batch([(ts(155),)], "append")
    assert state_windows() == {(200, 210): 1, (150, 160): 1}


def test_prune_spark_checkpoint_retention(spark, tmp_path):
    """Retention pruning: compact a snapshot at the floor version, drop
    older deltas/snapshots. Versions >= floor stay readable and the real
    query restarts; the pruned version is genuinely gone."""
    import glob
    import os

    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("a", 1)], "k string, v int"
    ).coalesce(1).write.parquet(inp)
    _run_agg(spark, inp, ckpt)
    spark.createDataFrame(
        [("b", 2)], "k string, v int"
    ).coalesce(1).write.mode("append").parquet(inp)
    _run_agg(spark, inp, ckpt)
    spark.createDataFrame(
        [("a", 3)], "k string, v int"
    ).coalesce(1).write.mode("append").parquet(inp)
    out3 = _run_agg(spark, inp, ckpt)

    latest = ss.latest_version(ckpt)
    assert latest == 3
    removed = ss.prune_spark_checkpoint(spark, ckpt, retain_versions=2)
    assert removed and all(not os.path.exists(p) for p in removed)
    assert all("1.delta" in p or "1.snapshot" in p for p in removed), removed
    pdirs = glob.glob(f"{ckpt}/state/0/[0-9]*")
    assert all(os.path.exists(os.path.join(p, "2.snapshot")) for p in pdirs)

    # floor and latest still read; below the floor is gone
    got3 = {
        r[1]: (r[2], r[3]) for r in ss.read_spark_state(spark, ckpt).collect()
    }
    assert got3 == out3
    assert {
        r[1] for r in ss.read_spark_state(spark, ckpt, version=2).collect()
    } == {"a", "b"}
    with pytest.raises(Exception):
        ss.read_spark_state(spark, ckpt, version=1).collect()

    # the real query restarts on the pruned checkpoint
    spark.createDataFrame(
        [("c", 9)], "k string, v int"
    ).coalesce(1).write.mode("append").parquet(inp)
    assert _run_agg(spark, inp, ckpt) == {
        "a": (2, 4), "b": (1, 2), "c": (1, 9)
    }


def test_flink_savepoint_bootstraps_spark_query(spark, tmp_path):
    """Cross-engine state migration — the reason a reference user can
    switch: take a FLINK savepoint's keyed count state, read it with the
    savepoint source, and write it INTO a Spark Structured Streaming
    checkpoint with the state writer, so the restarted SPARK query
    continues counting exactly where the Flink job left off. Every step
    is an existing public API; this test pins the composition."""
    from bravo_spark.codecs import flink as fc
    from bravo_spark.sources import savepoint as sp
    from bravo_spark.sources import staterows as sr

    # --- the Flink side: a count-per-key savepoint (as the reference's
    # jobs write: ValueState<Long> keyed by int)
    flink_counts = {1: 10, 2: 20, 3: 30}
    kv = spark.createDataFrame(
        [(k, v) for k, v in flink_counts.items()], "key int, value long"
    )
    rows = sr.kv_to_state_rows(kv, "Count", fc.INT, fc.LONG)
    svp = str(tmp_path / "flink_savepoint")
    sp.write_savepoint(rows, svp, max_parallelism=128, parallelism=2)

    # --- the Spark side: the successor streaming query (count per key),
    # checkpointed once on a seed batch so the checkpoint skeleton
    # (schema files, offsets, partition layout) exists
    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")

    def run_batch(rows_, mode):
        spark.createDataFrame(rows_, "k int").coalesce(1).write.mode(
            mode
        ).parquet(inp)
        schema = spark.read.parquet(inp).schema
        stream = spark.readStream.schema(schema).parquet(inp)
        agg = stream.groupBy("k").agg(F.count("*").alias("cnt"))
        q = (
            agg.writeStream.foreachBatch(lambda df, bid: df.count())
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_batch([(999,)], "overwrite")  # seed: replaced by the migration

    # --- the migration: Flink savepoint -> typed kv -> the Spark store's
    # exact (key, value) shape -> state writer (replaces the seed state)
    back = sp.read_savepoint(spark, svp)
    migrated = sr.read_value_kv(back, "Count", fc.INT, fc.LONG)
    key_schema, value_schema = ss.read_state_schema(ckpt)
    k_name = key_schema.fields[0].name
    v_name = value_schema.fields[0].name
    desired = migrated.select(
        F.col("key").cast(key_schema.fields[0].dataType).alias(k_name),
        F.col("value").cast(value_schema.fields[0].dataType).alias(v_name),
    )
    ss.write_spark_state(spark, ckpt, desired)

    got = {
        r[1]: r[2] for r in ss.read_spark_state(spark, ckpt).collect()
    }
    assert got == flink_counts  # seed key 999 tombstoned by the writer

    # --- the proof: Spark's own restarted query continues from Flink's
    # counts on new input
    run_batch([(1,), (1,), (3,), (4,)], "append")
    final = {
        r[1]: r[2] for r in ss.read_spark_state(spark, ckpt).collect()
    }
    assert final == {1: 12, 2: 20, 3: 31, 4: 1}


def test_spark_state_exports_to_flink_savepoint(spark, tmp_path):
    """The reverse migration: a Spark streaming aggregation's state,
    read from its checkpoint, serialized back out as a FLINK savepoint
    (typed kv -> state rows -> savepoint sink + metadata) — and recovered
    byte-faithfully by the savepoint source. Together with
    test_flink_savepoint_bootstraps_spark_query this closes the loop:
    state moves in either direction between the engines."""
    from bravo_spark.codecs import flink as fc
    from bravo_spark.sources import savepoint as sp
    from bravo_spark.sources import staterows as sr

    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1,), (1,), (2,), (3,), (3,), (3,)], "k int"
    ).coalesce(1).write.parquet(inp)
    schema = spark.read.parquet(inp).schema
    stream = spark.readStream.schema(schema).parquet(inp)
    agg = stream.groupBy("k").agg(F.count("*").alias("cnt"))
    q = (
        agg.writeStream.format("memory")
        .queryName(f"exp_{uuid.uuid4().hex[:8]}")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    st = ss.read_spark_state(spark, ckpt)
    kv = st.select(
        F.col(st.columns[1]).alias("key"), F.col(st.columns[2]).alias("value")
    )
    rows = sr.kv_to_state_rows(kv, "Count", fc.INT, fc.LONG)
    svp = str(tmp_path / "flink_savepoint")
    sp.write_savepoint(rows, svp, max_parallelism=128, parallelism=2)

    back = sr.read_value_kv(
        sp.read_savepoint(spark, svp), "Count", fc.INT, fc.LONG
    )
    assert {r["key"]: r["value"] for r in back.collect()} == {
        1: 2, 2: 1, 3: 3
    }


def test_prune_noop_when_history_short(spark, tmp_path):
    """retain_versions >= history: floor <= 1 means nothing to reclaim —
    explicit no-op, and the guard rejects nonsense retention."""
    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("a", 1)], "k string, v int"
    ).coalesce(1).write.parquet(inp)
    _run_agg(spark, inp, ckpt)
    assert ss.prune_spark_checkpoint(spark, ckpt, retain_versions=5) == []
    with pytest.raises(ValueError, match="retain_versions"):
        ss.prune_spark_checkpoint(spark, ckpt, retain_versions=0)
    # state untouched
    assert {r[1] for r in ss.read_spark_state(spark, ckpt).collect()} == {"a"}


def test_patch_watermark_explicit_batch_and_errors(spark, tmp_path):
    """patch_watermark with an explicit batch id rewrites THAT entry;
    missing checkpoints and batches fail loudly by name."""
    import datetime
    import os

    with pytest.raises(FileNotFoundError):
        ss.patch_watermark(str(tmp_path / "nope"), 1000)

    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")

    def ts(sec):
        return datetime.datetime.fromtimestamp(sec, datetime.timezone.utc)

    def run_batch(rows, mode):
        spark.createDataFrame(rows, "ts timestamp").coalesce(1).write.mode(
            mode
        ).parquet(inp)
        schema = spark.read.parquet(inp).schema
        stream = spark.readStream.schema(schema).parquet(inp)
        agg = (
            stream.withWatermark("ts", "10 seconds")
            .groupBy(F.window("ts", "10 seconds").alias("w"))
            .agg(F.count("*").alias("cnt"))
        )
        q = (
            agg.writeStream.foreachBatch(lambda df, bid: df.count())
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_batch([(ts(100),)], "overwrite")
    run_batch([(ts(200),)], "append")
    with pytest.raises(FileNotFoundError, match="batch 99"):
        ss.patch_watermark(ckpt, 1000, batch_id=99)
    assert ss.patch_watermark(ckpt, 123_456, batch_id=0) == 0
    prog = {
        r["batch_id"]: r
        for r in ss.read_streaming_progress(spark, ckpt).collect()
    }
    assert prog[0]["batch_watermark_ms"] == 123_456
    # the latest entry is untouched — only the named batch was patched
    assert prog[max(prog)]["batch_watermark_ms"] != 123_456


def test_compact_follows_store_codec_snappy(spark, tmp_path):
    """A restarted query decompresses state files with its CONFIGURED
    codec, not by sniffing — so a compacted snapshot must carry the
    store's framing. Run the query under snappy, compact, and restart
    under snappy: the snapshot is snappy-framed and the query continues."""
    import glob
    import os

    spark.conf.set("spark.sql.streaming.stateStore.compression.codec", "snappy")
    try:
        inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
        spark.createDataFrame(
            [("a", 1)], "k string, v int"
        ).coalesce(1).write.parquet(inp)
        _run_agg(spark, inp, ckpt)
        spark.createDataFrame(
            [("b", 2)], "k string, v int"
        ).coalesce(1).write.mode("append").parquet(inp)
        _run_agg(spark, inp, ckpt)

        ver = ss.compact_spark_checkpoint(spark, ckpt)
        for p in glob.glob(f"{ckpt}/state/0/[0-9]*"):
            raw = open(os.path.join(p, f"{ver}.snapshot"), "rb").read()
            assert raw[:8] == ss.SNAPPY_MAGIC, raw[:8]

        spark.createDataFrame(
            [("a", 9)], "k string, v int"
        ).coalesce(1).write.mode("append").parquet(inp)
        assert _run_agg(spark, inp, ckpt) == {"a": (2, 10), "b": (1, 2)}
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.compression.codec", "lz4")


def test_compact_named_join_stores_then_restart(spark, tmp_path):
    """Maintenance on MULTI-STORE operators: discover a stream-stream
    join's four named stores with list_store_names, compact each, and
    prove state equality plus a correct restarted join on new input."""
    import datetime as _dt
    import glob
    import os

    inp_l = str(tmp_path / "left")
    inp_r = str(tmp_path / "right")
    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")
    t0 = _dt.datetime(2030, 1, 1, 10, 0, 0)

    spark.createDataFrame(
        [(1, t0), (2, t0)], "uid long, lts timestamp"
    ).coalesce(1).write.parquet(inp_l)
    spark.createDataFrame(
        [(1, t0 + _dt.timedelta(minutes=1))], "r_uid long, rts timestamp"
    ).coalesce(1).write.parquet(inp_r)

    def run():
        left = (
            spark.readStream.schema("uid long, lts timestamp")
            .parquet(inp_l)
            .withWatermark("lts", "10 minutes")
        )
        right = (
            spark.readStream.schema("r_uid long, rts timestamp")
            .parquet(inp_r)
            .withWatermark("rts", "10 minutes")
        )
        j = left.join(
            right,
            (F.col("uid") == F.col("r_uid"))
            & (F.col("rts") >= F.col("lts"))
            & (F.col("rts") <= F.col("lts") + F.expr("INTERVAL 5 MINUTES")),
        )
        q = (
            j.writeStream.format("parquet")
            .outputMode("append")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return {
            (r["uid"], r["rts"]) for r in spark.read.parquet(outdir).collect()
        }

    assert run() == {(1, t0 + _dt.timedelta(minutes=1))}

    names = ss.list_store_names(ckpt)
    assert names == [
        "left-keyToNumValues", "left-keyWithIndexToValue",
        "right-keyToNumValues", "right-keyWithIndexToValue",
    ]

    counts_key = T.StructType([T.StructField("uid", T.LongType())])
    counts_val = T.StructType([T.StructField("count", T.LongType())])

    def left_counts():
        return {
            r["uid"]: r["count"]
            for r in ss.read_spark_state(
                spark, ckpt, store_name="left-keyToNumValues",
                key_schema=counts_key, value_schema=counts_val,
            ).collect()
        }

    before = left_counts()
    assert before == {1: 1, 2: 1}
    for name in names:
        ver = ss.compact_spark_checkpoint(spark, ckpt, store_name=name)
        snaps = glob.glob(f"{ckpt}/state/0/[0-9]*/{name}/{ver}.snapshot")
        assert snaps, name
    assert left_counts() == before

    # the restarted join still matches buffered left rows on new input
    spark.createDataFrame(
        [(2, t0 + _dt.timedelta(minutes=2))], "r_uid long, rts timestamp"
    ).coalesce(1).write.mode("append").parquet(inp_r)
    assert run() == {
        (1, t0 + _dt.timedelta(minutes=1)),
        (2, t0 + _dt.timedelta(minutes=2)),
    }


def test_multi_operator_checkpoint_reads_both_operators(spark, tmp_path):
    """A query with TWO stateful operators (dropDuplicates -> aggregation)
    checkpoints state under state/0 AND state/1; both read through
    operator_id, each self-describing via its own schema file, and
    per-operator maintenance (compaction) works independently."""
    import glob
    import os

    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2), ("b", 9)], "k string, v int"
    ).coalesce(1).write.parquet(inp)
    schema = spark.read.parquet(inp).schema
    stream = spark.readStream.schema(schema).parquet(inp)
    agg = (
        stream.dropDuplicates(["k", "v"])
        .groupBy("k")
        .agg(F.count("*").alias("cnt"))
    )
    q = (
        agg.writeStream.foreachBatch(lambda df, bid: df.count())
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    op_dirs = sorted(
        int(d) for d in os.listdir(os.path.join(ckpt, "state")) if d.isdigit()
    )
    assert op_dirs == [0, 1]

    # identify the operators by their state shape: the agg keys by k with
    # a count buffer; dropDuplicates keys by (k, v) with a null dummy
    shapes = {}
    for op in op_dirs:
        key_s, _val_s = ss.read_state_schema(ckpt, op)
        shapes[op] = [f.name for f in key_s.fields]
    agg_op = next(op for op, cols in shapes.items() if cols == ["k"])
    dedup_op = next(op for op, cols in shapes.items() if cols == ["k", "v"])
    assert agg_op != dedup_op

    agg_state = {
        r[1]: r[2]
        for r in ss.read_spark_state(spark, ckpt, operator_id=agg_op).collect()
    }
    assert agg_state == {"a": 2, "b": 1}
    dedup_keys = {
        (r[1], r[2])
        for r in ss.read_spark_state(spark, ckpt, operator_id=dedup_op).collect()
    }
    assert dedup_keys == {("a", 1), ("a", 2), ("b", 9)}

    # per-operator maintenance: compact only the dedup operator; its
    # snapshot appears, the agg operator is untouched
    ver = ss.compact_spark_checkpoint(spark, ckpt, operator_id=dedup_op)
    assert glob.glob(f"{ckpt}/state/{dedup_op}/[0-9]*/{ver}.snapshot")
    assert not glob.glob(f"{ckpt}/state/{agg_op}/[0-9]*/*.snapshot")

    # and the query restarts on the partially-compacted checkpoint
    spark.createDataFrame(
        [("a", 2), ("a", 3)], "k string, v int"
    ).coalesce(1).write.mode("append").parquet(inp)
    q = (
        spark.readStream.schema(schema).parquet(inp)
        .dropDuplicates(["k", "v"])
        .groupBy("k")
        .agg(F.count("*").alias("cnt"))
        .writeStream.foreachBatch(lambda df, bid: df.count())
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    final = {
        r[1]: r[2]
        for r in ss.read_spark_state(spark, ckpt, operator_id=agg_op).collect()
    }
    assert final == {"a": 3, "b": 1}  # ("a",2) deduped, ("a",3) new


def test_audit_checkpoint_findings(spark, tmp_path):
    """audit_checkpoint: empty on a healthy checkpoint, then one finding
    per injected defect — uncommitted batch, watermark regression (via a
    deliberate patch), broken replay chain (deleted delta), orphan SST
    (double compaction on the RocksDB provider elsewhere-tested; here the
    HDFS checks)."""
    import os

    from bravo_spark import maintenance as mt

    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("a", 1)], "k string, v int"
    ).coalesce(1).write.parquet(inp)
    _run_agg(spark, inp, ckpt)
    spark.createDataFrame(
        [("b", 2)], "k string, v int"
    ).coalesce(1).write.mode("append").parquet(inp)
    _run_agg(spark, inp, ckpt)
    spark.createDataFrame(
        [("c", 3)], "k string, v int"
    ).coalesce(1).write.mode("append").parquet(inp)
    _run_agg(spark, inp, ckpt)

    assert mt.audit_checkpoint(spark, ckpt).count() == 0  # healthy

    # watermark "regression" via a deliberate patch on an OLD batch...
    ss.patch_watermark(ckpt, 999_999_999, batch_id=0)
    found = {
        r["check"] for r in mt.audit_checkpoint(spark, ckpt).collect()
    }
    assert found == {"watermark_regression"}
    ss.patch_watermark(ckpt, 0, batch_id=0)  # restore monotonicity

    # uncommitted batch: drop the last commit entry
    os.remove(os.path.join(ckpt, "commits", "2"))
    found = {
        (r["check"], r["detail"])
        for r in mt.audit_checkpoint(spark, ckpt).collect()
    }
    assert ("uncommitted_batch", "batch 2 planned but never committed") in found

    # broken replay chain: delete a middle delta
    import glob

    victim = glob.glob(f"{ckpt}/state/0/0/2.delta")[0]
    os.remove(victim)
    rows = mt.audit_checkpoint(spark, ckpt).collect()
    chain = [r for r in rows if r["check"] == "broken_replay_chain"]
    assert chain and chain[0]["partition_id"] == 0
    assert "missing deltas [2]" in chain[0]["detail"]
    assert chain[0]["severity"] == "error"


def test_latest_version_skips_torn_inflight_version(spark, tmp_path):
    """A killed query can leave a torn in-flight version — only some
    partitions wrote their delta. latest_version must return the last
    CONSISTENT version (min of per-partition maxes), so default reads
    and rewrites never chase the missing files."""
    import glob
    import shutil

    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("a", 1)], "k string, v int"
    ).coalesce(1).write.parquet(inp)
    _run_agg(spark, inp, ckpt)
    spark.createDataFrame(
        [("b", 2)], "k string, v int"
    ).coalesce(1).write.mode("append").parquet(inp)
    out2 = _run_agg(spark, inp, ckpt)
    assert ss.latest_version(ckpt) == 2

    # simulate the torn commit: ONE partition gains a v3 delta
    some = sorted(glob.glob(f"{ckpt}/state/0/[0-9]*/2.delta"))[0]
    shutil.copyfile(some, some.replace("2.delta", "3.delta"))
    assert ss.latest_version(ckpt) == 2  # not 3
    got = {
        r[1]: (r[2], r[3]) for r in ss.read_spark_state(spark, ckpt).collect()
    }
    assert got == out2  # default read lands on the consistent version


def test_latest_version_names_missing_named_store(tmp_path):
    """The HDFS-provider twin of the RocksDB contract (r16 advice):
    latest_version on a store-name typo must raise an error NAMING the
    store and the partitions missing it — not an opaque listdir
    FileNotFoundError — and a partition legitimately missing a named
    store (partially-written checkpoint) is skipped, not fatal."""
    ckpt = tmp_path / "ckpt"
    sdir = ckpt / "state" / "0"
    (sdir / "0").mkdir(parents=True)  # partition 0: no named-store subdir
    (sdir / "1" / "left-store").mkdir(parents=True)
    (sdir / "1" / "left-store" / "3.delta").write_bytes(b"")

    with pytest.raises(FileNotFoundError, match=r"'left-stor'.*\[0, 1\]"):
        ss.latest_version(str(ckpt), 0, "left-stor")

    assert ss.latest_version(str(ckpt), 0, "left-store") == 3


def test_prune_skips_partition_missing_named_store(spark, tmp_path):
    """prune_spark_checkpoint over a named store must skip a partition
    that lacks the store subdirectory (r16 advice) — crashing mid-prune
    after some files were already deleted leaves the checkpoint worse
    than either outcome."""
    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("a", 1)], "k string, v int"
    ).coalesce(1).write.parquet(inp)
    for i in range(3):
        spark.createDataFrame(
            [(chr(98 + i), 2 + i)], "k string, v int"
        ).coalesce(1).write.mode("append").parquet(inp)
        _run_agg(spark, inp, ckpt)
    # give ONE partition a named-store layout alias of the default store:
    # hardlink the default files under a store-name subdir so the named
    # path exists in exactly one partition
    import glob
    import shutil

    parts = sorted(glob.glob(f"{ckpt}/state/0/[0-9]*"))
    src = parts[0]
    named = os.path.join(src, "only-here")
    os.makedirs(named)
    for f in os.listdir(src):
        if f.endswith((".delta", ".snapshot")):
            shutil.copyfile(os.path.join(src, f), os.path.join(named, f))
    # all other partitions lack "only-here" — prune must not crash on them
    removed = ss.prune_spark_checkpoint(
        spark, ckpt, retain_versions=1, store_name="only-here"
    )
    assert all("only-here" in p for p in removed)


def test_audit_sidecar_crc_mismatch_and_log_gap(spark, tmp_path):
    """The two r16 audit classes, defect-injection tested like the
    original five: a state file whose ChecksumCheckpointFileManager
    sidecar disagrees with its content (the restart-killing defect a
    MISSING-sidecar check can't see), and an interior hole in the
    offsets batch-id sequence (leading retention purge must NOT count)."""
    import glob

    from bravo_spark import maintenance as mt

    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("a", 1)], "k string, v int"
    ).coalesce(1).write.parquet(inp)
    _run_agg(spark, inp, ckpt)
    spark.createDataFrame(
        [("b", 2)], "k string, v int"
    ).coalesce(1).write.mode("append").parquet(inp)
    _run_agg(spark, inp, ckpt)
    spark.createDataFrame(
        [("c", 3)], "k string, v int"
    ).coalesce(1).write.mode("append").parquet(inp)
    _run_agg(spark, inp, ckpt)

    assert mt.audit_checkpoint(spark, ckpt).count() == 0  # healthy

    # inject: rewrite a delta's BYTES without refreshing its sidecar —
    # exactly the hand-edit _finalize_state_file exists to prevent
    deltas = sorted(glob.glob(f"{ckpt}/state/0/0/*.delta"))
    victims = [d for d in deltas if os.path.exists(d + ".crc")]
    assert victims, "no sidecars written — check provider config"
    victim = victims[0]
    with open(victim, "ab") as f:
        f.write(b"\x00")
    rows = mt.audit_checkpoint(spark, ckpt).collect()
    hits = [r for r in rows if r["check"] == "sidecar_crc_mismatch"]
    assert hits and hits[0]["severity"] == "error"
    assert os.path.basename(victim) in hits[0]["detail"]
    ss._finalize_state_file(victim)  # refresh the sidecar
    # (the appended byte is now blessed; chain checks don't read content)
    assert not [
        r for r in mt.audit_checkpoint(spark, ckpt).collect()
        if r["check"] == "sidecar_crc_mismatch"
    ]

    # inject: interior hole in the offsets log
    os.remove(os.path.join(ckpt, "offsets", "1"))
    rows = mt.audit_checkpoint(spark, ckpt).collect()
    gaps = [r for r in rows if r["check"] == "log_gap"]
    assert gaps and "offsets log missing batch ids [1]" in gaps[0]["detail"]
    # leading purge is NOT a gap: drop batch 0 from both logs
    os.rename(os.path.join(ckpt, "offsets", "0"),
              os.path.join(ckpt, "offsets", "1"))
    os.remove(os.path.join(ckpt, "commits", "0"))
    rows = mt.audit_checkpoint(spark, ckpt).collect()
    assert not [r for r in rows if r["check"] == "log_gap"]


def test_repair_sidecars_fixes_audit_findings(spark, tmp_path):
    """audit→repair loop: tamper two state files' bytes (sidecars now
    stale), audit reports both, dry_run lists without touching, repair
    regenerates exactly those sidecars, audit goes clean. Files without
    sidecars are never given one."""
    import glob

    from bravo_spark import maintenance as mt

    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("a", 1)], "k string, v int"
    ).coalesce(1).write.parquet(inp)
    _run_agg(spark, inp, ckpt)
    spark.createDataFrame(
        [("b", 2)], "k string, v int"
    ).coalesce(1).write.mode("append").parquet(inp)
    _run_agg(spark, inp, ckpt)

    victims = [
        d for d in sorted(glob.glob(f"{ckpt}/state/0/*/[0-9]*.delta"))
        if os.path.exists(d + ".crc")
    ][:2]
    assert len(victims) == 2
    for v in victims:
        with open(v, "ab") as f:
            f.write(b"\x00")

    found = [
        r for r in mt.audit_checkpoint(spark, ckpt).collect()
        if r["check"] == "sidecar_crc_mismatch"
    ]
    assert len(found) == 2

    listed = mt.repair_sidecars(spark, ckpt, dry_run=True)
    assert listed == sorted(victims)
    assert len([
        r for r in mt.audit_checkpoint(spark, ckpt).collect()
        if r["check"] == "sidecar_crc_mismatch"
    ]) == 2  # dry run touched nothing

    repaired = mt.repair_sidecars(spark, ckpt)
    assert repaired == sorted(victims)
    assert not [
        r for r in mt.audit_checkpoint(spark, ckpt).collect()
        if r["check"] == "sidecar_crc_mismatch"
    ]
    assert mt.repair_sidecars(spark, ckpt) == []  # idempotent


def test_stream_state_partitions_derivation(spark, monkeypatch):
    """r20: the default state-partition count derives from the SESSION's
    defaultParallelism (not the bench-harness SPARK_GRAFT_CPUS env), the
    BRAVO_STREAM_STATE_PARTITIONS override is guarded (malformed falls
    back to the derivation, non-positive clamps to 1), and the prior
    shuffle-partition setting is restored on exit."""
    from bravo_spark.inventory.scratch import stream_state_partitions

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    expect = min(8, max(2, spark.sparkContext.defaultParallelism))

    monkeypatch.delenv("BRAVO_STREAM_STATE_PARTITIONS", raising=False)
    with stream_state_partitions(spark):
        assert spark.conf.get(key) == str(expect)
    assert spark.conf.get(key) == before

    monkeypatch.setenv("BRAVO_STREAM_STATE_PARTITIONS", "3")
    with stream_state_partitions(spark):
        assert spark.conf.get(key) == "3"

    monkeypatch.setenv("BRAVO_STREAM_STATE_PARTITIONS", "0")
    with stream_state_partitions(spark):
        assert spark.conf.get(key) == "1"

    monkeypatch.setenv("BRAVO_STREAM_STATE_PARTITIONS", "not-a-number")
    with stream_state_partitions(spark):
        assert spark.conf.get(key) == str(expect)
    assert spark.conf.get(key) == before
