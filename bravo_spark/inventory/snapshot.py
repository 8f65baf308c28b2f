"""Snapshot-path queries: the binary codec/source/sink exercised end-to-end
inside an oracle-checked query.

``snapshot_roundtrip`` encodes per-key counts into Flink-format state rows
(P9), writes a savepoint (S7/S8), reads it back (S2/S3/S5) and decodes (P1)
— the identity transform — so the DuckDB oracle is simply the grouped count.
Any byte-level asymmetry in the codec/writer/reader breaks the hash match.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bravo_spark import catalog
from bravo_spark.codecs import flink as fc
from bravo_spark.inventory.registry import query
from bravo_spark.inventory.scratch import scratch_dir
from bravo_spark.sources import savepoint as sp
from bravo_spark.sources import staterows as sr


@query(
    "snapshot_roundtrip",
    oracle="SELECT user_id AS key, count(*) AS value FROM events GROUP BY user_id",
)
def snapshot_roundtrip(spark, sf_dir):
    ev = catalog.table(spark, sf_dir, "events")
    counts = ev.groupBy(F.col("user_id").alias("key")).agg(
        F.count("*").alias("value")
    )
    rows = sr.kv_to_state_rows(counts, "Count", fc.LONG, fc.LONG, max_parallelism=128)
    out = scratch_dir("snapshot_rt")
    sp.write_savepoint(
        rows, out, max_parallelism=128, parallelism=4, state_ids={"Count": 0}
    )
    # fused scan+decode (S2+P1 in one hop, like the reference's readers)
    return sp.read_savepoint_kv(spark, out, "Count", fc.LONG, fc.LONG)


@query(
    "checkpoint_roundtrip",
    oracle="SELECT user_id AS key, count(*) AS value FROM events GROUP BY user_id",
)
def checkpoint_roundtrip(spark, sf_dir):
    """S4 — incremental (RocksDB SST) checkpoint read, oracle-checked.

    Fixture: two SST "levels" built with the pure-Python writer
    (sources/sst.py). L1 holds PARTIAL per-user counts (even event_ids,
    seq 1) plus ghost keys; L0 holds the TOTAL counts (seq 2) plus
    tombstones for the ghosts. The reader must apply full LSM semantics —
    newest-seq shadowing and tombstones — for the merged relation to equal
    the plain grouped count the oracle computes; any resolution bug makes
    partial counts or ghost keys leak into the hash.

    The fixture's COMPUTE is distributed: per-user aggregates are
    encoded executor-side, hash-partitioned on key bytes, sorted to
    internal-key order within partitions (kns asc, seq desc — Spark's
    unsigned binary ordering IS RocksDB's bytewise comparator), and each
    task streams its rows into per-level SstWriters; only filenames return
    to the driver — no per-key collect. The write TARGET, however, is a
    driver-chosen local tempdir, so executor-written files are visible to
    the driver-side read only because tests run in local mode; on a real
    cluster this fixture (not the read path under test) would need ``out``
    on shared storage (the real inputs it stands in for — Flink
    checkpoints — already live there)."""
    import os as _os

    import pandas as _pd

    from bravo_spark.sources import checkpoint as ck
    from bravo_spark.sources import sst as sstmod

    ev = catalog.table(spark, sf_dir, "events")
    # ONE scan for both levels: total and even-only counts as conditional
    # aggregates of the same groupBy (two separate aggs would scan the
    # source twice — the difference between one pass and two at 100 TB)
    counts = ev.groupBy("user_id").agg(
        F.count("*").alias("cnt_total"),
        F.count(F.when(F.col("event_id") % 2 == 0, 1)).alias("cnt_partial"),
    )
    total = counts.select("user_id", F.col("cnt_total").alias("cnt"))
    # users with no even events had no row in the filtered formulation
    partial = counts.filter(F.col("cnt_partial") > 0).select(
        "user_id", F.col("cnt_partial").alias("cnt")
    )
    ghosts = spark.range(10_000_000, 10_000_005).select(
        F.col("id").alias("user_id")
    )

    lvl1 = (
        partial.unionByName(
            ghosts.select("user_id", F.lit(99).cast("long").alias("cnt"))
        )
        .select(
            "user_id", "cnt",
            F.lit(1).alias("seq"),
            F.lit(sstmod.TYPE_VALUE).alias("vtype"),
            F.lit(1).alias("level"),
        )
    )
    lvl0 = (
        total.select(
            "user_id", "cnt",
            F.lit(2).alias("seq"),
            F.lit(sstmod.TYPE_VALUE).alias("vtype"),
            F.lit(0).alias("level"),
        )
        .unionByName(
            ghosts.select(
                "user_id",
                F.lit(None).cast("long").alias("cnt"),
                F.lit(2).alias("seq"),
                F.lit(sstmod.TYPE_DELETION).alias("vtype"),
                F.lit(0).alias("level"),
            )
        )
    )

    def encode(batches):
        # r19: keys/values through the numpy fast path (codecs.vectorized,
        # the same P9 layout kv_to_state_rows uses — cross-validated in
        # tests) instead of a per-row Python encode; tombstone rows keep
        # their empty value after the vectorized pass
        from bravo_spark.codecs import vectorized as vz

        for pdf in batches:
            kns, vals = vz.encode_kv_fixed(
                pdf["user_id"].to_numpy(dtype="int64"),
                pdf["cnt"].fillna(0).to_numpy(dtype="int64"),
                fc.LONG, fc.LONG, 128,
            )
            yield _pd.DataFrame(
                {
                    "level": pdf["level"],
                    "kns": kns,
                    "seq": pdf["seq"],
                    "vtype": pdf["vtype"],
                    "val": [
                        b"" if int(vt) == sstmod.TYPE_DELETION else v
                        for vt, v in zip(pdf["vtype"], vals)
                    ],
                }
            )

    out = scratch_dir("ckpt_rt")
    _os.makedirs(out)

    encoded = (
        lvl1.unionByName(lvl0)
        .mapInPandas(encode, schema="level int, kns binary, seq long, vtype int, val binary")
        .repartition(4, "kns")
        .sortWithinPartitions("kns", F.col("seq").desc())
    )

    # mixed block codecs across levels, as a real RocksDB often has
    # (bottommost_compression vs compression): the read path must
    # dispatch snappy and lz4 blocks within one checkpoint
    compr = {0: sstmod.LZ4_COMPRESSION, 1: sstmod.SNAPPY_COMPRESSION}

    def write(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        writers: dict[int, sstmod.SstWriter] = {}
        paths: dict[int, str] = {}
        for pdf in batches:
            for lv, kns, seq, vt, val in zip(
                pdf["level"], pdf["kns"], pdf["seq"], pdf["vtype"], pdf["val"]
            ):
                lv = int(lv)
                w = writers.get(lv)
                if w is None:
                    paths[lv] = _os.path.join(out, f"{1 + pid * 2 + lv:06d}.sst")
                    w = writers[lv] = sstmod.SstWriter(
                        paths[lv], column_family="Count", column_family_id=1,
                        compression=compr[lv],
                    )
                w.add(bytes(kns), int(seq), int(vt), bytes(val))
        for lv, w in writers.items():
            w.finish()
        if writers:
            yield _pd.DataFrame({"file": sorted(paths.values())})

    encoded.mapInPandas(write, schema="file string").collect()  # names only
    rows = ck.read_incremental_checkpoint(spark, out)
    return sr.read_value_kv(rows, "Count", fc.LONG, fc.LONG)


@query(
    "snapshot_state_filter",
    oracle=(
        "SELECT user_id AS key, count(*) AS value FROM events"
        " WHERE event_type = 'click' GROUP BY user_id"
    ),
)
def snapshot_state_filter(spark, sf_dir):
    """Two states written; pushdown (F1) reads only one back."""
    ev = catalog.table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(F.col("user_id").alias("key"))
        .agg(F.count("*").alias("value"))
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(F.col("user_id").alias("key"))
        .agg(F.count("*").alias("value"))
    )
    rows = sr.kv_to_state_rows(clicks, "clicks", fc.LONG, fc.LONG).unionByName(
        sr.kv_to_state_rows(views, "views", fc.LONG, fc.LONG)
    )
    out = scratch_dir("snapshot_sf")
    sp.write_savepoint(
        rows, out, max_parallelism=128, parallelism=4,
        state_ids={"clicks": 0, "views": 1},
    )
    return sp.read_savepoint_kv(spark, out, "clicks", fc.LONG, fc.LONG)


@query(
    "snapshot_rescale",
    oracle="SELECT user_id AS key, count(*) AS value FROM events GROUP BY user_id",
)
def snapshot_rescale(spark, sf_dir):
    """The reference's change-max-parallelism use case (README.md:44) as an
    oracle-checked query: write a savepoint at max_parallelism=128, rescale
    it to parallelism=7 / max_parallelism=4096 (every key-group prefix
    recomputed through the 2-byte path), read the RESCALED savepoint back.
    State must survive both transforms byte-losslessly, so the oracle stays
    the plain grouped count."""
    from bravo_spark import api

    ev = catalog.table(spark, sf_dir, "events")
    counts = ev.groupBy(F.col("user_id").alias("key")).agg(
        F.count("*").alias("value")
    )
    rows = sr.kv_to_state_rows(counts, "Count", fc.LONG, fc.LONG, max_parallelism=128)
    src, dst = scratch_dir("rescale_src"), scratch_dir("rescale_dst")
    sp.write_savepoint(
        rows, src, max_parallelism=128, parallelism=4, state_ids={"Count": 0}
    )
    api.rescale_savepoint(
        spark, src, dst,
        new_parallelism=7,
        new_max_parallelism=4096,
        key_codecs={"Count": fc.LONG},
    )
    return sp.read_savepoint_kv(spark, dst, "Count", fc.LONG, fc.LONG)


@query(
    "checkpoint_write_roundtrip",
    oracle="SELECT user_id AS key, count(*) AS value FROM events GROUP BY user_id",
)
def checkpoint_write_roundtrip(spark, sf_dir):
    """S4 write half — beyond the reference, which only writes FULL
    savepoints: per-user counts are serialized into per-subtask RocksDB
    databases (one column family per state, MANIFEST/CURRENT from
    sources/rocksdb_manifest.py) and read back through the incremental-
    checkpoint scan. Real rocksdbjni opens the same directories in
    tests/test_rocksdb_state.py; here the oracle pins the value-level
    round-trip. One shuffle out (keygroup routing), one shuffle back
    (LSM grouping) — both on state keys, never collected."""
    from bravo_spark.sources import checkpoint as ck

    ev = catalog.table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    rows = sr.kv_to_state_rows(
        counts.select(
            F.col("user_id").alias("key"), F.col("cnt").alias("value")
        ),
        "Count",
        fc.LONG,
        fc.LONG,
        max_parallelism=128,
    )
    out = scratch_dir("ckpt_write")
    ck.write_incremental_checkpoint(
        rows, out, max_parallelism=128, parallelism=4
    )
    back = ck.read_incremental_checkpoint(spark, out)
    return sr.read_value_kv(back, "Count", fc.LONG, fc.LONG)


@query(
    "pojo_value_kv",
    oracle=(
        "SELECT user_id AS key, count(*) AS cnt,"
        " CASE WHEN count(*) % 2 = 0 THEN NULL ELSE min(event_type) END"
        " AS tag FROM events GROUP BY user_id"
    ),
)
def pojo_value_kv(spark, sf_dir):
    """P1 over a PojoSerializer-encoded value state — the X2 deserializer
    hook with a composite type (flink-core PojoSerializer wire format:
    flags byte + per-field null marker + field bytes, matching the
    metadata-declared-serializer restore at
    reader/OperatorStateReader.java:100-104). A two-field POJO (long cnt,
    nullable string tag — even counts carry a NULL tag, exercising the
    null markers) round-trips encode → savepoint write → scan → decode;
    the oracle recomputes the aggregation relationally."""
    pj = fc.pojo_codec([("cnt", fc.LONG), ("tag", fc.STRING)])
    ev = catalog.table(spark, sf_dir, "events")
    agg = ev.groupBy(F.col("user_id").alias("key")).agg(
        F.count("*").alias("c"), F.min("event_type").alias("mt")
    )
    src = agg.select(
        "key",
        F.struct(
            F.col("c").alias("cnt"),
            F.when(F.col("c") % 2 == 0, F.lit(None)).otherwise(
                F.col("mt")
            ).alias("tag"),
        ).alias("value"),
    )
    rows = sr.kv_to_state_rows(src, "PojoCount", fc.LONG, pj, max_parallelism=128)
    out = scratch_dir("pojo_rt")
    sp.write_savepoint(
        rows, out, max_parallelism=128, parallelism=4,
        state_ids={"PojoCount": 0},
    )
    kv = sr.read_value_kv(
        sp.read_savepoint(spark, out), "PojoCount", fc.LONG, pj,
    )
    return kv.select(
        "key",
        F.col("value.cnt").alias("cnt"),
        F.col("value.tag").alias("tag"),
    )


@query(
    "kryo_value_kv",
    oracle=(
        "SELECT user_id AS key, count(*) AS value FROM events"
        " GROUP BY user_id"
    ),
)
def kryo_value_kv(spark, sf_dir):
    """P1 over a KRYO-serialized value state — the X2 hook with the
    generic-type serializer Flink falls back to when a state type has no
    dedicated TypeSerializer. Values are Kryo ``writeClassAndObject``
    longs (class tag + zigzag varint, reference tracking on), the codec
    cross-validated against the JVM's real Kryo in tests/test_kryo.py;
    the oracle recomputes the counts relationally."""
    from bravo_spark.codecs.kryo import kryo_codec

    kc = kryo_codec("long", references=True)
    ev = catalog.table(spark, sf_dir, "events")
    counts = ev.groupBy(F.col("user_id").alias("key")).agg(
        F.count("*").alias("value")
    )
    rows = sr.kv_to_state_rows(counts, "KryoCount", fc.LONG, kc, max_parallelism=128)
    out = scratch_dir("kryo_rt")
    sp.write_savepoint(
        rows, out, max_parallelism=128, parallelism=4,
        state_ids={"KryoCount": 0},
    )
    return sr.read_value_kv(
        sp.read_savepoint(spark, out), "KryoCount", fc.LONG, kc,
    )


@query(
    "kryo_custom_class",
    oracle=(
        "SELECT user_id AS key, count(*) AS total,"
        " count(*) FILTER (WHERE event_type = 'click') AS clicks"
        " FROM events GROUP BY user_id"
    ),
)
def kryo_custom_class(spark, sf_dir):
    """X2 with a JOB-REGISTERED Kryo class: the reference restores
    whatever serializer the snapshot metadata names via reflection
    (reader/OperatorStateReader.java:100-104, utils/
    StateMetadataUtils.java:149-162) — for a job that called
    ``kryo.register(UserStats.class)`` the wire value is ``[varint tag
    id+2][ref marker][custom payload]``. Our analog: a
    ``registrations={9: payload_codec}`` mapping (9 = first user id on
    Flink's Kryo 2.24) carrying the registered serializer's wire spec —
    here two varints (total, clicks) — exercised through encode →
    savepoint write → scan → decode; the tag/marker/varint framing is
    JVM-cross-validated in tests/test_kryo.py
    (test_registered_custom_class_both_directions)."""
    from bravo_spark.codecs import kryo as kr
    from bravo_spark.codecs.kryo import kryo_codec

    def enc(v) -> bytes:
        t = v["total"] if isinstance(v, dict) else getattr(v, "total")
        c = v["clicks"] if isinstance(v, dict) else getattr(v, "clicks")
        return kr.write_varint(int(t)) + kr.write_varint(int(c))

    def dec(r):
        return {"total": kr.read_varint(r), "clicks": kr.read_varint(r)}

    payload = fc.Codec(
        "user-stats", enc, dec, -1,
        fields=(("total", fc.LONG), ("clicks", fc.LONG)),
    )
    kc = kryo_codec(9, references=True, registrations={9: payload})
    ev = catalog.table(spark, sf_dir, "events")
    agg = ev.groupBy(F.col("user_id").alias("key")).agg(
        F.count("*").alias("t"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("c"),
    )
    src = agg.select(
        "key",
        F.struct(
            F.col("t").alias("total"), F.col("c").alias("clicks")
        ).alias("value"),
    )
    rows = sr.kv_to_state_rows(src, "UserStats", fc.LONG, kc, max_parallelism=128)
    out = scratch_dir("kryo_cc")
    sp.write_savepoint(
        rows, out, max_parallelism=128, parallelism=4,
        state_ids={"UserStats": 0},
    )
    kv = sr.read_value_kv(
        sp.read_savepoint(spark, out), "UserStats", fc.LONG, kc,
    )
    return kv.select(
        "key",
        F.col("value.total").alias("total"),
        F.col("value.clicks").alias("clicks"),
    )


@query(
    "snapshot_roundtrip_compressed",
    oracle=(
        "SELECT user_id AS key, count(*) AS value FROM events"
        " GROUP BY user_id"
    ),
)
def snapshot_roundtrip_compressed(spark, sf_dir):
    """snapshot_roundtrip with per-keygroup Snappy compression enabled —
    the SnappyStreamCompressionDecorator framing Flink applies when the
    snapshot declares compression (utils/StateMetadataUtils.java:142-146),
    exercised through write AND read at query scale (unit vectors live in
    test_staterows/test_snappy)."""
    ev = catalog.table(spark, sf_dir, "events")
    counts = ev.groupBy(F.col("user_id").alias("key")).agg(
        F.count("*").alias("value")
    )
    rows = sr.kv_to_state_rows(counts, "Count", fc.LONG, fc.LONG, max_parallelism=128)
    out = scratch_dir("snapshot_rtc")
    sp.write_savepoint(
        rows, out, max_parallelism=128, parallelism=4,
        state_ids={"Count": 0}, compression=True,
    )
    return sp.read_savepoint_kv(spark, out, "Count", fc.LONG, fc.LONG)


@query(
    "type_change_migration",
    oracle=(
        "SELECT user_id AS key,"
        " CAST(CAST(sum(CAST(floor(value) AS BIGINT)) AS VARCHAR) AS BIGINT)"
        " AS value FROM events GROUP BY user_id"
    ),
)
def type_change_migration(spark, sf_dir):
    """The reference's schema-migration workflow at query scale
    (ValueStateTypeChangeTest.java:75-94): state written with a STRING
    serializer is read back under the X2 deserializer override, values
    re-typed to LONG, written to a NEW savepoint with the long serializer,
    and re-read — two full binary round-trips with a type change between
    them. The oracle's double cast mirrors the string detour."""
    ev = catalog.table(spark, sf_dir, "events")
    sums = ev.groupBy(F.col("user_id").alias("key")).agg(
        F.sum(F.floor("value").cast("long")).cast("string").alias("value")
    )
    rows = sr.kv_to_state_rows(sums, "sum", fc.LONG, fc.STRING, max_parallelism=128)
    out1, out2 = scratch_dir("mig1"), scratch_dir("mig2")
    sp.write_savepoint(
        rows, out1, max_parallelism=128, parallelism=4, state_ids={"sum": 0}
    )
    as_str = sr.read_value_kv(
        sp.read_savepoint(spark, out1), "sum", fc.LONG, fc.STRING
    )
    migrated = as_str.withColumn("value", F.col("value").cast("long"))
    rows2 = sr.kv_to_state_rows(migrated, "sum", fc.LONG, fc.LONG, max_parallelism=128)
    sp.write_savepoint(
        rows2, out2, max_parallelism=128, parallelism=4, state_ids={"sum": 0}
    )
    return sp.read_savepoint_kv(spark, out2, "sum", fc.LONG, fc.LONG)


@query(
    "operator_state_roundtrip",
    oracle=(
        "SELECT event_type AS k, count(*) + 1 AS cnt FROM events"
        " GROUP BY event_type"
    ),
)
def operator_state_roundtrip(spark, sf_dir):
    """S6/S9/X3 — non-keyed operator state, end-to-end: per-type counts
    become a 2-subtask backend (list state holds the type names split
    round-robin, broadcast state the counts map), snapshotted, transformed
    by a user callback (every count bumped — the X3 BiConsumer semantics,
    writer/OperatorStateWriter.java:285-329), and restored REDISTRIBUTED
    at parallelism 3 (list splits, broadcast copies — the reference's
    DefaultOperatorStateBackend restore, OperatorStateReader.java:161-211).
    The output keys come from the redistributed list state and the values
    from the transformed broadcast state, so both must round-trip for the
    hash to match. Non-keyed state is driver-resident BY DESIGN (reference
    README.md:115-117: it must fit in memory) — the per-type collect here
    is that contract, not a scale leak."""
    from bravo_spark.sources import operator_state as ops

    ev = catalog.table(spark, sf_dir, "events")
    counts = {
        r["event_type"]: r["c"]
        for r in ev.groupBy("event_type").agg(F.count("*").alias("c")).collect()
    }
    b0, b1 = ops.OperatorStateBackend(), ops.OperatorStateBackend()
    types = sorted(counts)
    for i, t in enumerate(types):
        (b0 if i % 2 == 0 else b1).get_list_state("types").append(t)
    for t, c in counts.items():
        b0.get_broadcast_state("counts")[t] = int(c)
        b1.get_broadcast_state("counts")[t] = int(c)
    src, dst = scratch_dir("ops1"), scratch_dir("ops2")
    ops.write_operator_state(src, [b0, b1])

    def bump(_i, b):
        m = b.get_broadcast_state("counts")
        for t in m:
            m[t] += 1

    ops.transform_operator_state(src, dst, bump)
    backends = ops.read_operator_state(dst, parallelism=3)
    merged = backends[0].get_broadcast_state("counts")
    got_types = sorted(x for b in backends for x in b.get_list_state("types"))
    return spark.createDataFrame(
        [(t, merged[t]) for t in got_types], "k string, cnt long"
    )


@query(
    "ttl_state_roundtrip",
    oracle=(
        "SELECT user_id AS key, count(*) AS value FROM events"
        " GROUP BY user_id"
    ),
)
def ttl_state_roundtrip(spark, sf_dir):
    """P8 at query scale, write AND read — BEYOND the reference, whose
    writer refuses TTL descriptors (writer/OperatorStateWriter.java:182-184):
    counts are written TTL-wrapped (8-byte last-access-millis prefix per
    value), savepoint round-tripped, and read with ``ttl=True`` unwrapping.
    A wrong prefix width or a missed unwrap shifts every value by 8 bytes
    and breaks the hash."""
    ev = catalog.table(spark, sf_dir, "events")
    counts = ev.groupBy(F.col("user_id").alias("key")).agg(
        F.count("*").alias("value")
    )
    rows = sr.kv_to_state_rows(
        counts, "Count", fc.LONG, fc.LONG, max_parallelism=128,
        ttl_ts=1_700_000_000_000,
    )
    out = scratch_dir("ttl_rt")
    sp.write_savepoint(
        rows, out, max_parallelism=128, parallelism=4, state_ids={"Count": 0}
    )
    return sr.read_value_kv(
        sp.read_savepoint(spark, out), "Count", fc.LONG, fc.LONG, ttl=True
    )


@query(
    "custom_reader_expand",
    oracle=(
        "SELECT user_id AS key, 'c' AS part, count(*) AS v FROM events"
        " GROUP BY user_id UNION ALL"
        " SELECT user_id AS key, 'd' AS part, count(*) * 2 AS v FROM events"
        " GROUP BY user_id"
    ),
)
def custom_reader_expand(spark, sf_dir):
    """X1 — user-defined flatMap reader at query scale
    (reader/KeyedStateReader.java:40-41: one state row → 0..n typed rows):
    a custom decoder expands every count into two tagged rows (the count
    and its double), straight from the raw state-row bytes."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    ev = catalog.table(spark, sf_dir, "events")
    counts = ev.groupBy(F.col("user_id").alias("key")).agg(
        F.count("*").alias("value")
    )
    rows = sr.kv_to_state_rows(counts, "Count", fc.LONG, fc.LONG, max_parallelism=128)
    out = scratch_dir("x1_rt")
    sp.write_savepoint(
        rows, out, max_parallelism=128, parallelism=4, state_ids={"Count": 0}
    )

    def expand(key_ns: bytes, value: bytes):
        r = fc.ByteReader(key_ns, fc.key_group_prefix_bytes(128))
        key = fc.LONG.decode(r)
        v = fc.decode_value_state(value, fc.LONG)
        yield (key, "c", v)
        yield (key, "d", v * 2)

    schema = StructType(
        [
            StructField("key", LongType(), True),
            StructField("part", StringType(), True),
            StructField("v", LongType(), True),
        ]
    )
    return sr.read_custom(
        sp.read_savepoint(spark, out), "Count", expand, schema
    )


@query(
    "snapshot_datasource_scan",
    oracle="SELECT user_id AS key, count(*) AS value FROM events GROUP BY user_id",
)
def snapshot_datasource_scan(spark, sf_dir):
    """The savepoint round trip through Spark's OWN source integration
    (sources/datasource.py, the PySpark Python DataSource API), both
    directions: ``df.write.format("bravo_savepoint")`` serializes the
    state rows (S7 through the engine's sink contract), then
    ``spark.read.format("bravo_savepoint")`` scans them back with a decoy
    state present — ``.option("state_names", "Count")`` narrows the byte
    scan, so the decoy's payloads are length-skipped, never decoded, and
    the result equals the plain grouped count the oracle computes."""
    import json as _json

    from bravo_spark.sources import datasource as ds

    ev = catalog.table(spark, sf_dir, "events")
    counts = ev.groupBy(F.col("user_id").alias("key")).agg(
        F.count("*").alias("value")
    )
    rows = sr.kv_to_state_rows(counts, "Count", fc.LONG, fc.LONG, max_parallelism=128)
    decoy = sr.kv_to_state_rows(
        counts.select("key", (F.col("value") * 1000).alias("value")),
        "Decoy", fc.LONG, fc.LONG, max_parallelism=128,
    )
    out = scratch_dir("snapshot_ds")
    ds.register(spark)
    (
        rows.unionByName(decoy)
        .write.format("bravo_savepoint")
        .option("state_ids", _json.dumps({"Count": 0, "Decoy": 1}))
        .option("max_parallelism", "128")
        .option("parallelism", "4")
        .mode("overwrite")
        .save(out)
    )
    scanned = (
        spark.read.format("bravo_savepoint")
        .option("state_names", "Count")
        .load(out)
    )
    return sr.read_value_kv(scanned, "Count", fc.LONG, fc.LONG)


@query(
    "checkpoint_datasource_scan",
    oracle="SELECT user_id AS key, count(*) AS value FROM events GROUP BY user_id",
)
def checkpoint_datasource_scan(spark, sf_dir):
    """The incremental-checkpoint scan through Spark's OWN source
    integration: ``spark.read.format("bravo_checkpoint")`` yields the raw
    per-version SST relation, ``.option("state_names", "Count")`` becomes
    COLUMN-FAMILY pruning (a decoy CF's files cost a footer+properties
    read, their data blocks never touched), and ``resolve_lsm`` + the
    value reader recover the grouped counts the oracle computes."""
    from bravo_spark.sources import checkpoint as ck
    from bravo_spark.sources import datasource as ds

    ev = catalog.table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    kv = counts.select(
        F.col("user_id").alias("key"), F.col("cnt").alias("value")
    )
    rows = sr.kv_to_state_rows(kv, "Count", fc.LONG, fc.LONG, max_parallelism=128)
    decoy = sr.kv_to_state_rows(
        kv.select("key", (F.col("value") * 1000).alias("value")),
        "Decoy", fc.LONG, fc.LONG, max_parallelism=128,
    )
    out = scratch_dir("ckpt_ds")
    ck.write_incremental_checkpoint(
        rows.unionByName(decoy), out, max_parallelism=128, parallelism=4,
        state_ids={"Count": 0, "Decoy": 1},  # statically known — skips the
        # name-derivation pass that would re-run the upstream aggregation
    )
    ds.register(spark)
    raw = (
        spark.read.format("bravo_checkpoint")
        .option("state_names", "Count")
        .load(out)
    )
    return sr.read_value_kv(ck.resolve_lsm(raw), "Count", fc.LONG, fc.LONG)


@query(
    "savepoint_diff",
    oracle="""
WITH v1 AS (
  SELECT user_id AS k, CAST(count(*) AS BIGINT) AS c FROM events
  WHERE user_id % 17 != 0 GROUP BY user_id),
v2 AS (
  SELECT user_id AS k, CAST(count(*) AS BIGINT) AS c FROM events
  WHERE user_id % 13 != 0 AND event_id % 11 != 0 GROUP BY user_id),
joined AS (
  SELECT
    CASE WHEN v1.k IS NULL THEN 'added'
         WHEN v2.k IS NULL THEN 'removed'
         WHEN v1.c = v2.c THEN 'same'
         ELSE 'changed' END AS status,
    v1.c AS c1, v2.c AS c2
  FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k)
SELECT status, CAST(count(*) AS BIGINT) AS n_keys,
  CAST(COALESCE(SUM(c1), 0) AS BIGINT) AS sum_v1,
  CAST(COALESCE(SUM(c2), 0) AS BIGINT) AS sum_v2
FROM joined GROUP BY status
""",
)
def savepoint_diff(spark, sf_dir):
    """Diff two savepoints — the audit the reference's whole workflow
    exists for (inspect state before/after a fix,
    bravo/README.md:127-166): which keys were added, removed, or changed
    by a state surgery, and by how much. Both versions are REAL binary
    savepoints (encode P9 → write S7 → read S2 → decode P1, twice), so
    the diff also re-proves the round trip on two differently-shaped
    state sets; the classification is one full-outer join on the key.
    The versions differ three ways by construction — users dropped from
    v1, users dropped from v2, and per-event thinning that changes
    surviving counts — so every diff status carries real rows.

    Scale shape: two savepoint scans + one join shuffle on the key;
    output is the O(4)-row audit summary. Driver holds only file
    handles."""
    ev = catalog.table(spark, sf_dir, "events")
    v1 = (
        ev.filter(F.col("user_id") % 17 != 0)
        .groupBy(F.col("user_id").alias("key"))
        .agg(F.count("*").alias("value"))
    )
    v2 = (
        ev.filter((F.col("user_id") % 13 != 0) & (F.col("event_id") % 11 != 0))
        .groupBy(F.col("user_id").alias("key"))
        .agg(F.count("*").alias("value"))
    )
    dirs = []
    for tag, kv in (("v1", v1), ("v2", v2)):
        rows = sr.kv_to_state_rows(
            kv, "Count", fc.LONG, fc.LONG, max_parallelism=128
        )
        out = scratch_dir(f"spdiff_{tag}")
        sp.write_savepoint(
            rows, out, max_parallelism=128, parallelism=4,
            state_ids={"Count": 0},
        )
        dirs.append(out)
    r1 = sp.read_savepoint_kv(spark, dirs[0], "Count", fc.LONG, fc.LONG)
    r2 = sp.read_savepoint_kv(spark, dirs[1], "Count", fc.LONG, fc.LONG)
    joined = r1.select(
        F.col("key").alias("k1"), F.col("value").alias("c1")
    ).join(
        r2.select(F.col("key").alias("k2"), F.col("value").alias("c2")),
        F.col("k1") == F.col("k2"),
        "full_outer",
    )
    status = (
        F.when(F.col("k1").isNull(), F.lit("added"))
        .when(F.col("k2").isNull(), F.lit("removed"))
        .when(F.col("c1") == F.col("c2"), F.lit("same"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(status.alias("status"), "c1", "c2").groupBy(
        "status"
    ).agg(
        F.count("*").alias("n_keys"),
        F.coalesce(F.sum("c1"), F.lit(0)).alias("sum_v1"),
        F.coalesce(F.sum("c2"), F.lit(0)).alias("sum_v2"),
    )
