"""Spark Structured Streaming RocksDB state-store source.

Completes the state-surgery surface (sources/spark_state.py covers the
HDFSBackedStateStoreProvider): RocksDBStateStoreProvider checkpoints —
Spark's recommended backend for large state — are read WITHOUT the native
RocksDB library, by combining

- the RocksDBFileManager layout (``<ckpt>/state/<op>/<partition>/
  <version>.zip`` holding a ``metadata`` member that lists the live SST
  files as ``localFileName → dfsSstFileName``, the SSTs themselves under
  ``<partition>/SSTs/``), with
- our pure-Python BlockBasedTable reader (sources/sst.py — the same one
  that reads the reference's Flink incremental checkpoints, reference
  RocksDBCheckpointIterator.java:57-254), extended here with the LZ4 block
  codec and format_version≥4 delta-encoded index blocks that Spark's
  RocksDB build emits.

Records are ``[1-byte STATE_ENCODING_VERSION = 0][UnsafeRow bytes]`` on
both key and value (RocksDBStateEncoder); the UnsafeRow codec is shared
with the HDFS-backed reader. Each state partition's SST set is
self-contained, so LSM resolution (highest seq wins, tombstones drop the
key) happens task-locally — one Spark task per state partition, zero
shuffles, the same split the store itself uses. A given ``version``
selects that commit's zip: reading an older version is state time travel.
"""

from __future__ import annotations

import json
import os
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from bravo_spark.sources import sst as sstmod
from bravo_spark.sources.atomic import atomic_write
from bravo_spark.sources.spark_state import (
    _check_schema,
    decode_unsafe_row,
    read_state_schema,
)

STATE_ENCODING_VERSION = 0


def _state_dir(checkpoint_dir: str, operator_id: int, store_name: str) -> str:
    return os.path.join(checkpoint_dir, "state", str(operator_id))


def _partition_dirs(sdir: str) -> list[int]:
    return sorted(int(d) for d in os.listdir(sdir) if d.isdigit())


def _pdir(sdir: str, pid: int, store_name: str) -> str:
    """One partition's file dir; named stores (stream-stream join sides)
    nest one level deeper — ``state/<op>/<pid>/<store_name>/`` — exactly
    like the HDFS-backed provider's layout."""
    p = os.path.join(sdir, str(pid))
    return p if store_name == "default" else os.path.join(p, store_name)


def _version_metadata(pdir: str, version: int) -> dict:
    """The RocksDBFileManager metadata for one committed version: a zip
    member ``metadata`` of ``v1\\n{json}``."""
    with zipfile.ZipFile(os.path.join(pdir, f"{version}.zip")) as z:
        raw = z.read("metadata")
    header, _, body = raw.partition(b"\n")
    if header.strip() != b"v1":
        raise ValueError(f"unsupported RocksDB checkpoint metadata {header!r}")
    return json.loads(body)


def latest_version(
    checkpoint_dir: str, operator_id: int = 0, store_name: str = "default"
) -> int:
    """The newest version EVERY present partition has (min of
    per-partition maxes) — the last CONSISTENT version; a killed query's
    torn in-flight version (only some partitions committed their
    zip/changelog) is never selected, so reads and rewrites don't fail
    on the missing files."""
    sdir = _state_dir(checkpoint_dir, operator_id, store_name)
    per_part: list[int] = []
    missing: list[int] = []
    for p in _partition_dirs(sdir):
        pdir = _pdir(sdir, p, store_name)
        if not os.path.isdir(pdir):
            # a partition without the named-store subdirectory: either a
            # store-name typo (then EVERY partition is missing it) or a
            # partially-written checkpoint (then only some are) — skip it
            # here, but name the store if nothing is left
            missing.append(p)
            continue
        vs = [
            int(stem)
            for f in os.listdir(pdir)
            for stem, _, ext in [f.partition(".")]
            if ext in ("zip", "changelog") and stem.isdigit()
        ]
        if vs:
            per_part.append(max(vs))
    if not per_part:
        detail = (
            f" (store {store_name!r} missing in partition dirs {missing})"
            if missing
            else ""
        )
        raise FileNotFoundError(
            f"no committed RocksDB versions for store {store_name!r} under "
            f"{sdir}{detail}"
        )
    return min(per_part)


def _load_partition_state(pdir: str, version: int) -> dict[bytes, bytes]:
    """One partition's state at ``version``.

    Version 0 is the empty pre-first-commit state.

    Two on-disk shapes, matching RocksDBStateStoreProvider's two commit
    modes: every version has a full ``{v}.zip`` (default), or — with
    changelog checkpointing (``...stateStore.rocksdb.changelogCheckpointing
    .enabled``) — a ``{v}.changelog`` of the version's puts/deletes, with
    zip snapshots only when background maintenance uploads one. State =
    greatest zip ≤ version, then changelogs replayed up to version. The
    changelog is lz4-java/snappy framed with the same int-length-prefixed
    record layout as the HDFS provider's delta files, so the framing and
    record iterator are shared with sources/spark_state.py."""
    if version == 0:
        return {}
    if os.path.exists(os.path.join(pdir, f"{version}.changelog")):
        from bravo_spark.sources.spark_state import _iter_records, decode_stream

        zips = [
            int(f.partition(".")[0])
            for f in os.listdir(pdir)
            if f.endswith(".zip")
            and f.partition(".")[0].isdigit()
            and int(f.partition(".")[0]) <= version
        ]
        state = _load_zip_state(pdir, max(zips)) if zips else {}
        for ver in range(max(zips) + 1 if zips else 1, version + 1):
            path = os.path.join(pdir, f"{ver}.changelog")
            if not os.path.exists(path):
                raise FileNotFoundError(
                    f"missing changelog {path} for version {version}"
                )
            for k, v in _iter_records(decode_stream(open(path, "rb").read())):
                if v is None:
                    state.pop(k, None)
                else:
                    state[k] = v
        return state
    return _load_zip_state(pdir, version)


def _load_zip_state(pdir: str, version: int) -> dict[bytes, bytes]:
    """Resolve one partition's LSM at ``version``: union the version's live
    SSTs, keep the highest-seq record per key, drop tombstones."""
    meta = _version_metadata(pdir, version)
    if meta.get("columnFamilyMapping"):
        raise ValueError(
            "virtual column families (transformWithState stores) not "
            "supported yet; found mapping "
            f"{sorted(meta['columnFamilyMapping'])}"
        )
    best: dict[bytes, tuple[int, int, bytes]] = {}
    for entry in meta.get("sstFiles", []):
        path = os.path.join(pdir, "SSTs", entry["dfsSstFileName"])
        for ukey, seq, vtype, value in sstmod.SstReader(path).iter_entries():
            if vtype == sstmod.TYPE_MERGE:
                raise ValueError(
                    "merge operands unexpected in Spark state stores"
                )
            cur = best.get(ukey)
            if cur is None or seq > cur[0]:
                best[ukey] = (seq, vtype, value)
    return {
        k: v for k, (_seq, vtype, v) in best.items()
        if vtype == sstmod.TYPE_VALUE
    }


def _strip_version_byte(buf: bytes, what: str) -> bytes:
    if not buf or buf[0] != STATE_ENCODING_VERSION:
        raise ValueError(
            f"unexpected {what} encoding version "
            f"{buf[:1].hex() if buf else '<empty>'}"
        )
    return buf[1:]


def read_rocksdb_spark_state(
    spark: SparkSession,
    checkpoint_dir: str,
    *,
    operator_id: int = 0,
    version: int | None = None,
    store_name: str = "default",
    key_schema: T.StructType | None = None,
    value_schema: T.StructType | None = None,
) -> DataFrame:
    """A RocksDB state-store operator's state as a DataFrame —
    ``partition_id`` + key columns + value columns, same surface as the
    HDFS-backed ``read_spark_state``. One task per state partition; each
    task opens only its partition's zip + SSTs. Named stores (a
    stream-stream join's four per-partition stores) write no checkpoint
    schema file — pass explicit ``key_schema``/``value_schema``, exactly
    as with the HDFS-backed reader."""
    if version is None:
        version = latest_version(checkpoint_dir, operator_id, store_name)
    if key_schema is None or value_schema is None:
        if store_name != "default":
            raise ValueError(
                "named stores have no checkpoint schema file; pass "
                "key_schema and value_schema explicitly"
            )
        key_schema, value_schema = read_state_schema(checkpoint_dir, operator_id)
    _check_schema(key_schema)
    _check_schema(value_schema)
    sdir = _state_dir(checkpoint_dir, operator_id, store_name)
    parts = _partition_dirs(sdir)

    key_names = [f.name for f in key_schema.fields]
    val_names = [
        (f"value_{f.name}" if f.name in key_names else f.name)
        for f in value_schema.fields
    ]
    out_schema = T.StructType(
        [T.StructField("partition_id", T.IntegerType(), False)]
        + [T.StructField(n, f.dataType, True) for n, f in zip(key_names, key_schema.fields)]
        + [T.StructField(n, f.dataType, True) for n, f in zip(val_names, value_schema.fields)]
    )

    def scan(pids):
        for pid in pids:
            state = _load_partition_state(_pdir(sdir, pid, store_name), version)
            for kb, vb in state.items():
                yield (
                    (pid,)
                    + decode_unsafe_row(_strip_version_byte(kb, "key"), key_schema)
                    + decode_unsafe_row(_strip_version_byte(vb, "value"), value_schema)
                )

    rdd = spark.sparkContext.parallelize(parts, max(1, len(parts)))
    return spark.createDataFrame(rdd.mapPartitions(lambda it: scan(list(it))), out_schema)


def write_rocksdb_spark_state(
    spark: SparkSession,
    checkpoint_dir: str,
    df: DataFrame,
    *,
    operator_id: int = 0,
    version: int | None = None,
    store_name: str = "default",
    key_schema: T.StructType | None = None,
    value_schema: T.StructType | None = None,
    partition_key_cols: list[str] | None = None,
) -> int:
    """Rewrite one committed version of a RocksDB-provider store so that,
    after the restarted query loads it, the operator's state equals ``df``
    exactly — the same surgery contract as the HDFS-backed
    ``write_spark_state``, including its named-store kwargs: explicit
    ``key_schema``/``value_schema`` for schema-file-less stores and
    ``partition_key_cols`` for stores routed by a key prefix (a join's
    ``keyWithIndexToValue``).

    Both checkpoint layouts are rewritable. Changelog mode
    (``spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing
    .enabled``): the version's ``{v}.changelog`` is replaced with puts for
    ``df``'s rows plus tombstones for every key the replayed base (state at
    v-1 ∪ keys the original changelog touched) could contain — tombstone
    semantics mirrored from the HDFS writer. Default (zip-per-version)
    checkpoints: ``{v}.zip`` is rebuilt as a complete single-SST RocksDB
    checkpoint (pure-Python SST + MANIFEST/CURRENT/empty-WAL via
    ``rocksdb_manifest.build_db_dir``, plus the ``metadata`` json naming
    the SST's dfs name under ``SSTs/``) holding exactly ``df`` — no
    tombstones needed since the zip IS the full state; orphaned SSTs of
    the replaced version are left for store maintenance to collect.

    If store maintenance also uploaded ``{v}.zip``, RocksDB's loader would
    prefer it and ignore the changelog — so the zip is deleted after
    verifying the partition still replays (an older zip or empty base plus
    an unbroken changelog chain up to ``v``). Rows route to partitions with
    Spark's own ``pmod(murmur3(key), n)``; key/value columns are cast to
    the store's exact schema types first (Murmur3 is type-sensitive)."""
    from pyspark.sql import functions as F

    from bravo_spark.sources.spark_state import encode_unsafe_row

    if version is None:
        version = latest_version(checkpoint_dir, operator_id, store_name)
    if key_schema is None or value_schema is None:
        if store_name != "default":
            raise ValueError(
                "named stores have no checkpoint schema file; pass "
                "key_schema and value_schema explicitly"
            )
        key_schema, value_schema = read_state_schema(checkpoint_dir, operator_id)
    _check_schema(key_schema)
    _check_schema(value_schema)
    sdir = _state_dir(checkpoint_dir, operator_id, store_name)
    parts = _partition_dirs(sdir)
    n = len(parts)

    for pid in parts:
        pdir = _pdir(sdir, pid, store_name)
        if not os.path.exists(
            os.path.join(pdir, f"{version}.changelog")
        ) and not os.path.exists(os.path.join(pdir, f"{version}.zip")):
            raise ValueError(
                f"partition {pid} has neither {version}.changelog nor "
                f"{version}.zip — version {version} was never committed "
                "there"
            )

    key_names = [f.name for f in key_schema.fields]
    val_names = [
        (f"value_{f.name}" if f.name in key_names else f.name)
        for f in value_schema.fields
    ]
    missing = [c for c in key_names + val_names if c not in df.columns]
    if missing:
        raise ValueError(f"state DataFrame missing columns: {missing}")

    typed = df.select(
        *[
            F.col(c).cast(f.dataType).alias(c)
            for c, f in zip(
                key_names + val_names,
                list(key_schema.fields) + list(value_schema.fields),
            )
        ]
    )
    part_cols = partition_key_cols if partition_key_cols is not None else key_names
    unknown = [c for c in part_cols if c not in key_names]
    if unknown:
        raise ValueError(
            f"partition_key_cols {unknown} are not key columns {key_names}"
        )
    routed = typed.select(
        F.pmod(F.hash(*part_cols), F.lit(n)).cast("int").alias("_pid"),
        *key_names,
        *val_names,
    ).repartition(n, "_pid")

    nk = len(key_names)
    vb = bytes([STATE_ENCODING_VERSION])

    def write_partition(rows):
        by_pid: dict[int, dict[bytes, bytes]] = {}
        for r in rows:
            pid = r["_pid"]
            kb = vb + encode_unsafe_row(tuple(r[1 : 1 + nk]), key_schema)
            val = vb + encode_unsafe_row(tuple(r[1 + nk :]), value_schema)
            by_pid.setdefault(pid, {})[kb] = val
        for pid in by_pid:
            _rewrite_changelog_version(
                _pdir(sdir, pid, store_name), version, by_pid[pid]
            )
            yield pid

    # distributed for the same reason as the HDFS writer: the tombstone
    # pass replays each untouched partition's prior state, which must not
    # serialize through the driver
    touched = set(routed.rdd.mapPartitions(write_partition).collect())
    untouched = [pid for pid in parts if pid not in touched]
    if untouched:
        spark.sparkContext.parallelize(untouched, len(untouched)).foreach(
            lambda pid: _rewrite_changelog_version(
                _pdir(sdir, pid, store_name), version, {}
            )
        )
    return version


def _rewrite_changelog_version(
    pdir: str, version: int, desired: dict[bytes, bytes]
) -> None:
    """Replace one partition's committed ``version`` so loaded state equals
    ``desired``.

    Changelog mode: rewrite ``{version}.changelog`` (puts + tombstones).
    Zip-per-version mode (no changelog): rebuild ``{version}.zip`` as a
    complete RocksDB checkpoint — pure-Python SST + MANIFEST/CURRENT
    (sources/rocksdb_manifest.py) — that Spark's real RocksDB opens on
    restart. A zip that merely SHADOWS a changelog (maintenance snapshot)
    is deleted after verifying the changelog chain still replays, since
    the loader prefers snapshots and would ignore the rewritten
    changelog."""
    import struct

    from bravo_spark.sources.spark_state import (
        _finalize_state_file,
        _iter_records,
        decode_stream,
        encode_stream_like,
    )

    zip_path = os.path.join(pdir, f"{version}.zip")
    if not os.path.exists(os.path.join(pdir, f"{version}.changelog")):
        _rewrite_zip_version(pdir, version, desired)
        return
    if os.path.exists(zip_path):
        # replay must work from the pre-version base once the zip is gone
        older = [
            int(f.partition(".")[0])
            for f in os.listdir(pdir)
            if f.endswith(".zip")
            and f.partition(".")[0].isdigit()
            and int(f.partition(".")[0]) < version
        ]
        start = max(older) + 1 if older else 1
        chain = [
            v
            for v in range(start, version + 1)
            if not os.path.exists(os.path.join(pdir, f"{v}.changelog"))
        ]
        if chain:
            raise ValueError(
                f"cannot drop shadowing snapshot {zip_path}: changelog "
                f"chain broken at versions {chain}"
            )
        os.remove(zip_path)
        for crc in (
            os.path.join(pdir, f"{version}.zip.crc"),
            os.path.join(pdir, f".{version}.zip.crc"),
        ):
            if os.path.exists(crc):
                os.remove(crc)

    base_keys = set(_load_partition_state(pdir, version - 1))
    clog = os.path.join(pdir, f"{version}.changelog")
    old_raw = open(clog, "rb").read()
    for kb, _ in _iter_records(decode_stream(old_raw)):
        base_keys.add(kb)

    payload = bytearray()
    for kb, val in desired.items():
        payload += struct.pack(">i", len(kb)) + kb
        payload += struct.pack(">i", len(val)) + val
    for kb in base_keys:
        if kb not in desired:
            payload += struct.pack(">i", len(kb)) + kb
            payload += struct.pack(">i", -1)
    payload += struct.pack(">i", -1)
    with atomic_write(clog) as f:
        f.write(encode_stream_like(old_raw, bytes(payload)))
    _finalize_state_file(clog)


def _rewrite_zip_version(
    pdir: str, version: int, desired: dict[bytes, bytes]
) -> None:
    """Rebuild ``{version}.zip`` as a fresh single-SST RocksDB checkpoint
    holding exactly ``desired`` (zip-per-version stores carry full state,
    so no tombstones are needed — the zip IS the state). The member layout
    mirrors what RocksDBFileManager uploads: a ``metadata`` json naming
    the SST (stored beside the zip under ``SSTs/`` with a
    ``<local>-<uuid>.sst`` dfs name) plus the MANIFEST/CURRENT/empty-WAL
    files RocksDB needs to open the directory. Table properties include
    the raw-size/deletion counters compaction divides by (sources/sst.py).
    Old SST files of the replaced version stay behind as orphans — the
    store's own maintenance deletes unreferenced files."""
    import json as _json
    import shutil
    import tempfile
    import uuid as _uuid

    from bravo_spark.sources.rocksdb_manifest import build_db_dir
    from bravo_spark.sources.spark_state import _finalize_state_file

    tmp = tempfile.mkdtemp(prefix="bravo_rocksdb_zip_")
    try:
        sizes = build_db_dir(tmp, sorted(desired.items()))
        sst_local = next(n for n in sizes if n.endswith(".sst"))
        dfs_name = f"{sst_local.split('.')[0]}-{_uuid.uuid4()}.sst"
        ssts_dir = os.path.join(pdir, "SSTs")
        os.makedirs(ssts_dir, exist_ok=True)
        shutil.copyfile(
            os.path.join(tmp, sst_local), os.path.join(ssts_dir, dfs_name)
        )
        meta = {
            "sstFiles": [
                {
                    "localFileName": sst_local,
                    "dfsSstFileName": dfs_name,
                    "sizeBytes": sizes[sst_local],
                }
            ],
            "numKeys": len(desired),
            "numInternalKeys": 0,
            "columnFamilyMapping": {},
            "columnFamilyTypeMap": {},
            "maxColumnFamilyId": 0,
        }
        with atomic_write(os.path.join(pdir, f"{version}.zip")) as f, \
                zipfile.ZipFile(f, "w", zipfile.ZIP_DEFLATED) as z:
            for name in sizes:
                if name.endswith(".sst"):
                    continue  # SSTs travel via SSTs/, not the zip
                z.write(os.path.join(tmp, name), name)
            z.writestr("metadata", "v1\n" + _json.dumps(meta))
        _finalize_state_file(os.path.join(pdir, f"{version}.zip"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def compact_rocksdb_checkpoint(
    spark,
    checkpoint_dir: str,
    *,
    operator_id: int = 0,
    store_name: str = "default",
    version: int | None = None,
) -> int:
    """Fold a changelog-checkpointing store's replay chain into a full
    snapshot zip at ``version`` — exactly the upload RocksDBFileManager's
    background maintenance produces, done offline on demand. A query
    restarted at ``version`` then opens the zip's SST directly with ZERO
    changelog replay (both Spark's restore and our reader pick the
    greatest snapshot ≤ version first). Changelogs stay behind, so time
    travel to older versions is unaffected; the zip write is tmp+rename
    crash-safe; replaced-version SST orphans are left for the store's own
    maintenance, like the surgery writer. One task per state partition;
    the driver sees partition ids only. Returns the compacted version."""
    if version is None:
        version = latest_version(checkpoint_dir, operator_id, store_name)
    sdir = _state_dir(checkpoint_dir, operator_id, store_name)
    pids = [
        p for p in _partition_dirs(sdir)
        if os.path.isdir(_pdir(sdir, p, store_name))
    ]

    def compact_one(pid: int) -> int:
        pdir = _pdir(sdir, pid, store_name)
        desired = _load_partition_state(pdir, version)
        _rewrite_zip_version(pdir, version, desired)
        return pid

    spark.sparkContext.parallelize(pids, max(1, len(pids))).map(
        compact_one
    ).collect()  # partition ids only
    return version


def gc_rocksdb_checkpoint(
    spark,
    checkpoint_dir: str,
    *,
    operator_id: int = 0,
    store_name: str = "default",
    dry_run: bool = False,
) -> list[str]:
    """Delete SST files no committed version references — the offline
    analog of RocksDBFileManager's deleteOrphanFiles. The surgery and
    compaction writers deliberately leave a replaced version's old SSTs
    behind (crash-safe: the new zip is durable before anything else
    changes); against a live query the store's own maintenance reaps
    them, but an offline-patched checkpoint has no maintenance, so this
    is the reclaim step. A file is an orphan iff NO ``{v}.zip``'s
    metadata lists its dfs name — every retained version keeps
    time-traveling. Version files themselves (zips, changelogs) are never
    touched. ``dry_run=True`` lists without deleting. One task per state
    partition; the driver sees only the (file-count-bounded) removed
    paths. Run against a quiescent checkpoint — a running query may be
    mid-upload of a not-yet-committed version's files."""
    sdir = _state_dir(checkpoint_dir, operator_id, store_name)
    pids = [
        p for p in _partition_dirs(sdir)
        if os.path.isdir(_pdir(sdir, p, store_name))
    ]

    def gc_one(pid: int) -> list[str]:
        pdir = _pdir(sdir, pid, store_name)
        ssts_dir = os.path.join(pdir, "SSTs")
        if not os.path.isdir(ssts_dir):
            return []
        referenced: set[str] = set()
        for f in os.listdir(pdir):
            stem, _, ext = f.partition(".")
            if ext == "zip" and stem.isdigit():
                meta = _version_metadata(pdir, int(stem))
                referenced.update(
                    e["dfsSstFileName"] for e in meta.get("sstFiles", [])
                )
        removed = []
        for f in sorted(os.listdir(ssts_dir)):
            # a checksum sidecar ("name.crc" / Hadoop ".name.crc") lives
            # and dies with its main file — never reap one whose SST is
            # still referenced
            main = f
            if main.endswith(".crc"):
                main = main[:-4]
                if main.startswith("."):
                    main = main[1:]
            if main not in referenced:
                path = os.path.join(ssts_dir, f)
                if not dry_run:
                    os.remove(path)
                removed.append(path)
        return removed

    out = spark.sparkContext.parallelize(pids, max(1, len(pids))).map(
        gc_one
    ).collect()
    return [p for part in out for p in part]


def prune_rocksdb_checkpoint(
    spark,
    checkpoint_dir: str,
    *,
    retain_versions: int = 2,
    operator_id: int = 0,
    store_name: str = "default",
) -> list[str]:
    """Retention pruning for the RocksDB provider: make ``floor = latest
    - retain_versions + 1`` self-contained by compacting a full snapshot
    zip there (:func:`compact_rocksdb_checkpoint`), delete every older
    ``.zip``/``.changelog`` (and sidecars), then reap the SSTs the
    deleted zips alone referenced (:func:`gc_rocksdb_checkpoint`).
    Restores at any version ≥ floor keep working; time travel below the
    floor is given up — that is the reclaim. Returns the deleted paths.
    Run against a quiescent checkpoint."""
    if retain_versions < 1:
        raise ValueError("retain_versions must be >= 1")
    latest = latest_version(checkpoint_dir, operator_id, store_name)
    floor = latest - retain_versions + 1
    if floor <= 1:
        return []
    compact_rocksdb_checkpoint(
        spark, checkpoint_dir, operator_id=operator_id,
        store_name=store_name, version=floor,
    )
    sdir = _state_dir(checkpoint_dir, operator_id, store_name)
    removed: list[str] = []
    for pid in _partition_dirs(sdir):
        pdir = _pdir(sdir, pid, store_name)
        if not os.path.isdir(pdir):
            continue
        for f in sorted(os.listdir(pdir)):
            stem = f
            if stem.startswith("."):
                stem = stem[1:]
            stem, _, ext = stem.partition(".")
            if not stem.isdigit() or int(stem) >= floor:
                continue
            if not (".zip" in f or ".changelog" in f):
                continue
            path = os.path.join(pdir, f)
            os.remove(path)
            removed.append(path)
    removed.extend(
        gc_rocksdb_checkpoint(
            spark, checkpoint_dir, operator_id=operator_id,
            store_name=store_name,
        )
    )
    return removed
