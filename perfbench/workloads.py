"""The benchmark workloads: seeded inputs, fixtures, one timed
operation each, and the output check.

Inputs come from ``numpy.random.default_rng(seed)``; the library sees only
the generated DataFrames and the files written from them. Every expected
value is computed here from the generator with numpy and the standard
library, never through ``bravo_spark``.

Sizes are for ``scale`` 1, the benchmark's; the smoke test runs a tiny
scale. Each workload names ``warmup``, the untimed operations after the
first, ``ops``, the number of warm operations a run's statistics cover, and
``worker_reads``, the per-layer metrics that get the
files and bytes its operation's Python workers read from the fixture.

Each library call an operation makes goes through ``Tracer.call`` with the
layer it enters and its kind: ``build`` (returns a lazy DataFrame), ``meta``
(reads snapshot metadata), ``write`` (runs jobs that write a snapshot or
shards) or ``action`` (the benchmark's own Spark action over a source).
"""

from __future__ import annotations

import os
import shutil
import time
import zlib

import numpy as np
import pandas as pd

MAXP = 128
BUCKETS = 16
SHARD_FORMATS = ("tfrecord", "webdataset", "warc", "zip", "avro")


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def _bucket_rows(buckets: np.ndarray, *columns: np.ndarray) -> list[tuple]:
    """Per-bucket (bucket, count, sum(column)...) for buckets present."""
    rows = []
    for b in range(BUCKETS):
        m = buckets == b
        if m.any():
            rows.append((b, int(m.sum()), *(int(c[m].sum()) for c in columns)))
    return rows


def _shuffled_sizes(rng: np.random.Generator, draw) -> np.ndarray:
    """Sizes drawn once from a fixed generator, assigned in seed order: every
    seed gets the same multiset, so the work per operation does not depend
    on the seed, only which key or document gets which size does."""
    return rng.permutation(draw(np.random.default_rng(0)))


def _long_chunks(values: np.ndarray) -> list[bytes]:
    """Each value as Flink's LONG serialization (8 bytes, big-endian)."""
    blob = np.asarray(values, dtype=">i8").tobytes()
    return [blob[i : i + 8] for i in range(0, len(blob), 8)]


def _timed_rate(fn, amount: float, min_s: float = 0.25) -> float:
    """Single-core throughput of ``fn``: ``amount`` over the median of
    at least three repetitions lasting ``min_s`` together."""
    times: list[float] = []
    start = time.perf_counter()
    while len(times) < 3 or time.perf_counter() - start < min_s:
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return amount / max(float(np.median(times)), 1e-9)


# ---------------------------------------------------------------------------
# savepoint
# ---------------------------------------------------------------------------

STATE_IDS = {"counts": 0, "events": 1, "decoy": 2}


class SavepointData:
    """A LONG->LONG value state, a LONG->list<LONG> state with Zipf list
    lengths over half the keys, and a LONG->STRING decoy state."""

    def __init__(self, rng: np.random.Generator, scale: float):
        n = max(64, int(60_000 * scale))
        self.keys = rng.permutation(4 * n)[:n].astype(np.int64) * 1_000_003 + 17
        self.values = rng.integers(-(10**9), 10**9, n)
        n_list = n // 2
        self.list_keys = self.keys[:n_list]
        self.lengths = _shuffled_sizes(rng, lambda g: np.minimum(g.zipf(1.5, n_list), 256))
        self.elements = rng.integers(0, 10**6, int(self.lengths.sum()))
        self.offsets = np.concatenate([[0], np.cumsum(self.lengths)[:-1]])
        self.decoy_keys = self.keys[n - n // 2 :]
        letters = rng.integers(97, 123, (len(self.decoy_keys), 24), dtype=np.uint8)
        self.decoy_values = [r.tobytes().decode() for r in letters]

    @property
    def state_rows(self) -> int:
        return len(self.keys) + len(self.list_keys) + len(self.decoy_keys)

    def frames(self, spark):
        counts = spark.createDataFrame(
            pd.DataFrame({"key": self.keys, "value": self.values}),
            "key long, value long",
        )
        lists = np.split(self.elements, np.cumsum(self.lengths)[:-1])
        events = spark.createDataFrame(
            pd.DataFrame({"key": self.list_keys, "value": lists}),
            "key long, value array<long>",
        )
        decoy = spark.createDataFrame(
            pd.DataFrame({"key": self.decoy_keys, "value": self.decoy_values}),
            "key long, value string",
        )
        return counts, events, decoy

    def write(self, spark, tr, path: str):
        from bravo_spark import api
        from bravo_spark.sources import savepoint, staterows

        counts, events, decoy = self.frames(spark)
        rows = (
            staterows.kv_to_state_rows(counts, "counts", api.LONG, api.LONG, max_parallelism=MAXP)
            .unionByName(staterows.kv_to_state_rows(
                events, "events", api.LONG, api.LONG, max_parallelism=MAXP, kind="list"))
            .unionByName(staterows.kv_to_state_rows(
                decoy, "decoy", api.LONG, api.STRING, max_parallelism=MAXP))
        )
        tr.call("savepoint", "write", savepoint.write_savepoint, rows, path,
                max_parallelism=MAXP, parallelism=4, state_ids=STATE_IDS,
                compression=True)


def savepoint_codec_rates(path: str) -> dict[str, float]:
    """Codec throughput over the fixture's own Snappy-framed sections."""
    import json

    from bravo_spark import api
    from bravo_spark.codecs import fastpath, flink, vectorized

    with open(os.path.join(path, "_bravo_metadata")) as f:
        meta = json.load(f)
    id_to_name = {int(v): k for k, v in meta["state_ids"].items()}
    framed: list[bytes] = []
    for fmeta in meta["files"]:
        with open(fmeta["path"], "rb") as f:
            data = f.read()
        offs = sorted(int(v) for v in fmeta["offsets"].values()) + [len(data)]
        framed += [data[a:b] for a, b in zip(offs, offs[1:])]
    sections = [fastpath.frame_decompress(c) for c in framed]
    entries = [
        [(STATE_IDS[n], k, v) for n, k, v in flink.iter_key_group_section(s, id_to_name)]
        for s in sections
    ]
    counts = [(k, v) for es in entries for sid, k, v in es if sid == STATE_IDS["counts"]]
    lists = [v for es in entries for sid, _k, v in es if sid == STATE_IDS["events"]]
    ckeys = [k for k, _ in counts]
    cvals = [v for _, v in counts]
    keys, vals = vectorized.decode_kv_fixed(ckeys, cvals, api.LONG, api.LONG, MAXP)
    raw_mb = sum(map(len, sections)) / 1e6

    def decode_sections():
        for s in sections:
            for _ in flink.iter_key_group_section(s, id_to_name):
                pass

    def decode_lists():
        for v in lists:
            flink.decode_list_state(v, api.LONG)

    return {
        "codecs.snappy_frame_decompress_mb_s": _timed_rate(
            lambda: [fastpath.frame_decompress(c) for c in framed], raw_mb),
        "codecs.flink_section_decode_mb_s": _timed_rate(decode_sections, raw_mb),
        "codecs.flink_section_encode_mb_s": _timed_rate(
            lambda: [flink.write_key_group_section(es) for es in entries], raw_mb),
        "codecs.vectorized_decode_rows_per_s": _timed_rate(
            lambda: vectorized.decode_kv_fixed(ckeys, cvals, api.LONG, api.LONG, MAXP),
            len(ckeys)),
        "codecs.vectorized_encode_rows_per_s": _timed_rate(
            lambda: vectorized.encode_kv_fixed(keys, vals, api.LONG, api.LONG, MAXP),
            len(ckeys)),
        "codecs.list_state_decode_rows_per_s": _timed_rate(decode_lists, len(lists)),
    }


class SavepointScan:
    """Typed reads of two states of a Snappy savepoint, joined and grouped
    to sixteen buckets; the decoy state is never read."""

    name = "savepoint_scan"
    warmup = 1
    ops = 2
    worker_reads = ("savepoint.files", "savepoint.bytes_read")

    def __init__(self, rng: np.random.Generator, scale: float):
        self.data = d = SavepointData(rng, scale)
        list_sums = np.add.reduceat(d.elements, d.offsets)
        self.expected = _bucket_rows(
            d.list_keys % BUCKETS, d.values[: len(d.list_keys)], d.lengths, list_sums)
        # value-state rows plus list elements, one row each after flattening
        self.rows_per_op = len(d.keys) + len(d.elements)

    def setup(self, spark, tr, path: str) -> dict:
        self.data.write(spark, tr, path)
        return {"path": path, "bytes": _dir_bytes(path)}

    def op(self, spark, tr, fx: dict, out_dir: str):
        from pyspark.sql import functions as F

        from bravo_spark import api

        reader = tr.call("savepoint", "meta", api.OperatorStateReader, spark, fx["path"])
        counts = tr.call("api", "build", reader.read_value_kv, "counts", api.LONG, api.LONG)
        events = tr.call("api", "build", reader.read_list_flatten, "events", api.LONG, api.LONG)
        per_key = events.groupBy("key").agg(
            F.count("*").alias("n"), F.sum("value").alias("s"))
        q = (
            per_key.join(counts, "key")
            .groupBy((F.col("key") % BUCKETS).alias("b"))
            .agg(F.count("*"), F.sum("value"), F.sum("n"), F.sum("s"))
            .orderBy("b")
        )
        rows = tr.call("savepoint", "action", q.collect)
        return [tuple(int(x) for x in r) for r in rows]

    def check(self, fx: dict, result, out_dir: str) -> bool:
        return result == self.expected

    def snapshot_bytes_per_row(self, fx: dict, out_dir: str) -> float:
        return fx["bytes"] / self.data.state_rows

    def codec_rates(self, fx: dict) -> dict[str, float]:
        return savepoint_codec_rates(fx["path"])


# ---------------------------------------------------------------------------
# incremental RocksDB checkpoint
# ---------------------------------------------------------------------------

PUT, DELETE, MERGE = 1, 0, 2


class CheckpointLsmScan:
    """A base level written by ``write_incremental_checkpoint`` (Snappy)
    plus two newer SST levels (LZ4, then Snappy) of overwrites, tombstones
    and StringAppend merge operands; read, decode and aggregate."""

    name = "checkpoint_lsm_scan"
    warmup = 1
    ops = 2
    worker_reads = ("checkpoint.sst_files", "checkpoint.sst_bytes")

    def __init__(self, rng: np.random.Generator, scale: float):
        n = max(64, int(96_000 * scale))
        self.ckeys = rng.permutation(4 * n)[:n].astype(np.int64) * 999_983 + 5
        self.cvals = rng.integers(-(10**9), 10**9, n)
        ne = n // 2
        self.ekeys = rng.permutation(4 * ne)[:ne].astype(np.int64) * 999_979 + 11
        lengths = _shuffled_sizes(rng, lambda g: np.minimum(g.zipf(2.0, ne), 16))
        elements = rng.integers(0, 10**6, int(lengths.sum()))
        self.elists = np.split(elements, np.cumsum(lengths)[:-1])

        def pick(count, size):
            return rng.permutation(count)[:size]

        # level 1: counts overwrites + tombstones (disjoint), events tombstones
        c_idx = pick(n, int(0.4 * n))
        self.l1_over = c_idx[: int(0.3 * n)]
        self.l1_over_vals = rng.integers(-(10**9), 10**9, len(self.l1_over))
        self.l1_del = c_idx[int(0.3 * n):]
        self.l1_edel = pick(ne, ne // 10)
        # level 2: counts overwrites (some resurrect tombstoned keys),
        # events merge operands (1-3 per key, some onto tombstoned keys)
        self.l2_over = pick(n, n // 10)
        self.l2_over_vals = rng.integers(-(10**9), 10**9, len(self.l2_over))
        self.l2_merge = pick(ne, int(0.4 * ne))
        self.l2_nops = _shuffled_sizes(rng, lambda g: g.integers(1, 4, len(self.l2_merge)))
        self.l2_ops = rng.integers(0, 10**6, int(self.l2_nops.sum()))

        # newest surviving version of every key
        final_c = self.cvals.copy()
        live = np.ones(n, dtype=bool)
        final_c[self.l1_over] = self.l1_over_vals
        live[self.l1_del] = False
        final_c[self.l2_over] = self.l2_over_vals
        live[self.l2_over] = True
        final_e = list(self.elists)
        elive = np.ones(ne, dtype=bool)
        elive[self.l1_edel] = False
        for i, ops in zip(self.l2_merge, np.split(self.l2_ops, np.cumsum(self.l2_nops)[:-1])):
            final_e[i] = np.concatenate([final_e[i], ops]) if elive[i] else ops
            elive[i] = True
        fc = final_c[live]
        ek = np.concatenate([np.full(len(final_e[i]), self.ekeys[i]) for i in np.flatnonzero(elive)])
        ev = np.concatenate([final_e[i] for i in np.flatnonzero(elive)])
        c_rows = {r[0]: r[1:] for r in _bucket_rows(self.ckeys[live] % BUCKETS, fc)}
        e_rows = {r[0]: r[1:] for r in _bucket_rows(ek % BUCKETS, ev)}
        self.expected = [
            (b, *c_rows.get(b, (None, None)), *e_rows.get(b, (None, None)))
            for b in sorted(set(c_rows) | set(e_rows))
        ]
        self.versions = (
            n + ne + len(c_idx) + len(self.l1_edel) + len(self.l2_over) + len(self.l2_ops)
        )
        self.rows_per_op = self.versions

    def setup(self, spark, tr, path: str) -> dict:
        from bravo_spark import api
        from bravo_spark.codecs import vectorized
        from bravo_spark.sources import checkpoint, sst, staterows

        counts = spark.createDataFrame(
            pd.DataFrame({"key": self.ckeys, "value": self.cvals}), "key long, value long")
        events = spark.createDataFrame(
            pd.DataFrame({"key": self.ekeys, "value": self.elists}),
            "key long, value array<long>")
        rows = staterows.kv_to_state_rows(
            counts, "counts", api.LONG, api.LONG, max_parallelism=MAXP
        ).unionByName(staterows.kv_to_state_rows(
            events, "events", api.LONG, api.LONG, max_parallelism=MAXP, kind="list"))
        tr.call("checkpoint", "write", checkpoint.write_incremental_checkpoint, rows, path,
                max_parallelism=MAXP, parallelism=4, state_ids={"counts": 0, "events": 1},
                compression=sst.SNAPPY_COMPRESSION)

        def key_ns(keys):
            return vectorized.encode_kv_fixed(keys, keys, api.LONG, api.LONG, MAXP)[0]

        ck = key_ns(self.ckeys)
        ek = key_ns(self.ekeys)
        level1 = {
            "counts": [(ck[i], 10, PUT, v) for i, v in
                       zip(self.l1_over, _long_chunks(self.l1_over_vals))]
            + [(ck[i], 10, DELETE, b"") for i in self.l1_del],
            "events": [(ek[i], 10, DELETE, b"") for i in self.l1_edel],
        }
        ops = iter(_long_chunks(self.l2_ops))
        level2 = {
            "counts": [(ck[i], 30, PUT, v) for i, v in
                       zip(self.l2_over, _long_chunks(self.l2_over_vals))],
            "events": [(ek[i], 20 + j, MERGE, next(ops))
                       for i, m in zip(self.l2_merge, self.l2_nops) for j in range(m)],
        }
        cf_ids = {"counts": 1, "events": 2}
        checkpoint.write_sst_fixture(path, level1, compression=sst.LZ4_COMPRESSION, cf_ids=cf_ids)
        checkpoint.write_sst_fixture(path, level2, compression=sst.SNAPPY_COMPRESSION, cf_ids=cf_ids)
        files = checkpoint.list_sst_files(path)
        return {"path": path, "files": files, "bytes": sum(map(os.path.getsize, files))}

    def op(self, spark, tr, fx: dict, out_dir: str):
        from pyspark.sql import functions as F

        from bravo_spark import api
        from bravo_spark.sources import checkpoint, staterows

        raw = tr.call("checkpoint", "build", checkpoint.read_incremental_checkpoint,
                      spark, fx["path"])
        counts = tr.call("staterows", "build", staterows.read_value_kv, raw, "counts",
                         api.LONG, api.LONG, max_parallelism=MAXP)
        events = tr.call("staterows", "build", staterows.read_list_flatten, raw, "events",
                         api.LONG, api.LONG, max_parallelism=MAXP)
        bucket = (F.col("key") % BUCKETS).alias("b")
        c = counts.groupBy(bucket).agg(F.count("*").alias("cn"), F.sum("value").alias("cs"))
        e = events.groupBy(bucket).agg(F.count("*").alias("en"), F.sum("value").alias("es"))
        q = c.join(e, "b", "full_outer").orderBy("b")
        rows = tr.call("checkpoint", "action", q.collect)
        return [tuple(None if x is None else int(x) for x in r) for r in rows]

    def check(self, fx: dict, result, out_dir: str) -> bool:
        return result == self.expected

    def snapshot_bytes_per_row(self, fx: dict, out_dir: str) -> float:
        return fx["bytes"] / self.versions

    def codec_rates(self, fx: dict) -> dict[str, float]:
        from bravo_spark.sources import sst

        def read_all():
            for p in fx["files"]:
                for _ in sst.SstReader(p).iter_entries():
                    pass

        return {"codecs.sst_read_mb_s": _timed_rate(read_all, fx["bytes"] / 1e6)}


# ---------------------------------------------------------------------------
# shard containers
# ---------------------------------------------------------------------------


class ShardRoundtrip:
    """Write then read generated documents through the TFRecord,
    WebDataset, WARC, ZIP and Avro shard sources."""

    name = "shard_roundtrip"
    warmup = 0
    ops = 3
    worker_reads = ()
    partitions = 4

    def __init__(self, rng: np.random.Generator, scale: float):
        n = max(16, int(3_000 * scale))
        lengths = _shuffled_sizes(
            rng, lambda g: np.clip(g.lognormal(6.5, 0.6, n), 64, 8192).astype(np.int64))
        text = rng.integers(97, 124, int(lengths.sum()), dtype=np.uint8)
        text[text == 123] = 32
        blob = text.tobytes()
        ends = np.cumsum(lengths)
        payloads = [blob[e - ln : e] for e, ln in zip(ends.tolist(), lengths.tolist())]
        ids = np.arange(n, dtype=np.int64) + 1_000_000 * (int(rng.integers(1, 1000)))
        self.docs = pd.DataFrame({
            "id": ids,
            "name": [f"doc-{i}.txt" for i in ids.tolist()],
            "uri": [f"http://example.com/{i}" for i in ids.tolist()],
            "payload": payloads,
        })
        self.expected = {fmt: (n, sum(zlib.crc32(p) for p in payloads)) for fmt in SHARD_FORMATS}
        self.rows_per_op = n * len(SHARD_FORMATS)

    def setup(self, spark, tr, path: str) -> dict:
        os.makedirs(path, exist_ok=True)
        return {"path": path}

    def op(self, spark, tr, fx: dict, out_dir: str):
        from pyspark.sql import functions as F

        from bravo_spark.sources import (
            avro_source, tfrecord_source, warc_source, webdataset_source, zip_source,
        )

        df = spark.createDataFrame(
            self.docs, "id long, name string, uri string, payload binary"
        ).repartition(self.partitions)
        avro_schema = {"type": "record", "name": "doc", "fields": [
            {"name": "id", "type": "long"}, {"name": "payload", "type": "bytes"}]}
        plans = {
            "tfrecord": (
                lambda p: tfrecord_source.write_tfrecord_shards(df, p, payload_col="payload"),
                lambda p: tfrecord_source.read_tfrecords(spark, p), "record"),
            "webdataset": (
                lambda p: webdataset_source.write_webdataset_shards(
                    df, p, "id", {"payload": "txt"}),
                lambda p: webdataset_source.read_webdataset(spark, p, ["txt"]), "txt"),
            "warc": (
                lambda p: warc_source.write_warc_shards(
                    df, p, uri_col="uri", payload_col="payload"),
                lambda p: warc_source.read_warc(spark, p), "payload"),
            "zip": (
                lambda p: zip_source.write_zip_shards(df, p, "name", "payload"),
                lambda p: zip_source.read_zip_shards(spark, p), "data"),
            "avro": (
                lambda p: avro_source.write_avro(df, p, avro_schema),
                lambda p: avro_source.read_avro(spark, p, "id long, payload binary"),
                "payload"),
        }
        out = {}
        for fmt in SHARD_FORMATS:
            write, read, col = plans[fmt]
            path = os.path.join(out_dir, fmt)
            tr.call(f"shards.{fmt}", "write", write, path)
            records = tr.call(f"shards.{fmt}", "build", read, path)
            agg = records.agg(F.count("*"), F.sum(F.crc32(F.col(col))))
            (n, crc), = [tuple(r) for r in tr.call(f"shards.{fmt}", "action", agg.collect)]
            out[fmt] = (int(n), int(crc))
            tr.count(f"shards.{fmt}.bytes", _dir_bytes(path))
        return out

    def check(self, fx: dict, result, out_dir: str) -> bool:
        return result == self.expected

    def snapshot_bytes_per_row(self, fx: dict, out_dir: str) -> float:
        return _dir_bytes(out_dir) / self.rows_per_op

    def codec_rates(self, fx: dict) -> dict[str, float]:
        return {}


WORKLOADS = {
    w.name: w for w in (SavepointScan, CheckpointLsmScan, ShardRoundtrip)
}


def clear(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
