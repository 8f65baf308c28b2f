"""Spark Structured Streaming RocksDB state-store layout.

Completes the state-surgery surface (sources/spark_state.py covers the
HDFSBackedStateStoreProvider and holds the driver both providers share):
RocksDBStateStoreProvider checkpoints — Spark's recommended backend for
large state — are read and rewritten WITHOUT the native RocksDB library,
by combining

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

This module holds only what differs from the HDFS-backed provider — the
zip metadata, the SST fold, the changelog rewrite and the zip rebuild —
plus :func:`gc_rocksdb_checkpoint` and the provider's front doors.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import tempfile
import uuid
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from bravo_spark.sources import sst as sstmod
from bravo_spark.sources import spark_state as ss

STATE_ENCODING_VERSION = 0


def _version_metadata(pdir: str, version: int) -> dict:
    """The RocksDBFileManager metadata for one committed version: a zip
    member ``metadata`` of ``v1\\n{json}``."""
    with zipfile.ZipFile(os.path.join(pdir, f"{version}.zip")) as z:
        raw = z.read("metadata")
    header, _, body = raw.partition(b"\n")
    if header.strip() != b"v1":
        raise ValueError(f"unsupported RocksDB checkpoint metadata {header!r}")
    return json.loads(body)


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


class RocksDBLayout(ss.StoreLayout):
    """RocksDBStateStoreProvider's two commit modes: a full ``{v}.zip``
    per version (default), or — with changelog checkpointing
    (``...stateStore.rocksdb.changelogCheckpointing.enabled``) — a
    ``{v}.changelog`` of the version's puts/deletes, with zips only when
    background maintenance uploads one. The changelog is framed like the
    HDFS provider's delta files, with the same record layout."""

    name, increment, full = "RocksDB", "changelog", "zip"
    committed = ("changelog", "zip")
    prefix = bytes([STATE_ENCODING_VERSION])
    drops_shadowed_full = True

    def load_full(self, pdir: str, version: int) -> dict[bytes, bytes]:
        return _load_zip_state(pdir, version)

    def rewrite(self, pdir, version, desired, stage) -> None:
        """Changelog mode: rewrite ``{version}.changelog`` (puts +
        tombstones). Zip-per-version mode (no changelog): rebuild
        ``{version}.zip``. A zip that merely SHADOWS a changelog
        (maintenance snapshot) is deleted on publish, since the loader
        prefers it and would ignore the rewritten changelog — so the
        changelog chain must replay without it."""
        if not os.path.exists(os.path.join(pdir, f"{version}.changelog")):
            self.snapshot(pdir, version, desired, stage)
            return
        zip_path = os.path.join(pdir, f"{version}.zip")
        if os.path.exists(zip_path):
            files = os.listdir(pdir)
            start = max(
                (v for v in ss._versions(files, "zip") if v < version), default=0
            ) + 1
            logs = ss._versions(files, "changelog")
            chain = [v for v in range(start, version + 1) if v not in logs]
            if chain:
                raise ValueError(
                    f"cannot drop shadowing snapshot {zip_path}: changelog "
                    f"chain broken at versions {chain}"
                )
        ss.stage_increment(self, pdir, version, desired, stage)

    def snapshot(self, pdir, version, desired, stage) -> None:
        """Stage ``{version}.zip`` as a fresh single-SST RocksDB checkpoint
        holding exactly ``desired`` (a zip IS the full state, so no
        tombstones). The member layout mirrors what RocksDBFileManager
        uploads: a ``metadata`` json naming the SST (stored beside the zip
        under ``SSTs/`` with a ``<local>-<uuid>.sst`` dfs name, the uuid
        being the write's) plus the MANIFEST/CURRENT/empty-WAL files
        RocksDB needs to open the directory (sources/rocksdb_manifest.py).
        Old SST files of the replaced version stay behind as orphans for
        :func:`gc_rocksdb_checkpoint`."""
        from bravo_spark.sources.rocksdb_manifest import build_db_dir

        tmp = tempfile.mkdtemp(prefix="bravo_rocksdb_zip_")
        try:
            sizes = build_db_dir(tmp, sorted(desired.items()))
            sst_local = next(n for n in sizes if n.endswith(".sst"))
            dfs_name = f"{sst_local.split('.')[0]}-{uuid.UUID(stage.token)}.sst"
            ssts_dir = os.path.join(pdir, "SSTs")
            os.makedirs(ssts_dir, exist_ok=True)
            with open(os.path.join(tmp, sst_local), "rb") as f:
                stage(os.path.join(ssts_dir, dfs_name), f.read(), sidecar=False)
            meta = {
                "sstFiles": [{
                    "localFileName": sst_local,
                    "dfsSstFileName": dfs_name,
                    "sizeBytes": sizes[sst_local],
                }],
                "numKeys": len(desired),
                "numInternalKeys": 0,
                "columnFamilyMapping": {},
                "columnFamilyTypeMap": {},
                "maxColumnFamilyId": 0,
            }
            buf = io.BytesIO()
            with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
                for name in sizes:
                    if not name.endswith(".sst"):  # SSTs travel via SSTs/
                        z.write(os.path.join(tmp, name), name)
                z.writestr("metadata", "v1\n" + json.dumps(meta))
            stage(os.path.join(pdir, f"{version}.zip"), buf.getvalue())
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def reclaim(self, spark, checkpoint_dir, operator_id, store) -> list[str]:
        return gc_rocksdb_checkpoint(
            spark, checkpoint_dir, operator_id=operator_id,
            store_name=store or "default",
        )


ROCKSDB = RocksDBLayout()


def _load_partition_state(pdir: str, version: int) -> dict[bytes, bytes]:
    """One partition's state at ``version``: the greatest zip ≤ version,
    then changelogs replayed up to version."""
    return ss.replay(ROCKSDB, pdir, version)


def latest_version(
    checkpoint_dir: str, operator_id: int = 0, store_name: str = "default"
) -> int:
    """The last consistent version of a RocksDB store: the newest version
    (zip or changelog) EVERY present partition has committed (see
    ``spark_state.latest_state_version``)."""
    return ss.latest_state_version(ROCKSDB, checkpoint_dir, operator_id, store_name)


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
    return ss.read_state(
        ROCKSDB, spark, checkpoint_dir, operator_id=operator_id,
        version=version, store_name=store_name, key_schema=key_schema,
        value_schema=value_schema,
    )


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
    exactly — the same surgery contract and kwargs as the HDFS-backed
    ``write_spark_state``.

    Both checkpoint layouts are rewritable. Changelog mode: the version's
    ``{v}.changelog`` is replaced with puts for ``df``'s rows plus
    tombstones for every key the replayed base (state at v-1 ∪ keys the
    original changelog touched) could contain; a ``{v}.zip`` that
    maintenance uploaded over it is deleted (after verifying the
    changelog chain still replays). Default (zip-per-version) checkpoints:
    ``{v}.zip`` is rebuilt as a complete single-SST RocksDB checkpoint
    holding exactly ``df``; the replaced version's SSTs are left for
    :func:`gc_rocksdb_checkpoint`. A failed rewrite publishes nothing."""
    return ss.write_state(
        ROCKSDB, spark, checkpoint_dir, df, operator_id=operator_id,
        version=version, store_name=store_name, key_schema=key_schema,
        value_schema=value_schema, partition_key_cols=partition_key_cols,
    )


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
    travel to older versions is unaffected; a failed compaction publishes
    nothing; replaced-version SST orphans are left for
    :func:`gc_rocksdb_checkpoint`, like the surgery writer. One task per
    state partition; the driver sees partition ids only. Returns the
    compacted version."""
    return ss.compact_state(
        ROCKSDB, spark, checkpoint_dir, operator_id=operator_id,
        store_name=store_name, version=version,
    )


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
    sdir = ss._state_dir(checkpoint_dir, operator_id)
    pdirs = [d for _, d in ss.store_partitions(sdir, ss._store(store_name))]

    def gc_one(pdir: str) -> list[str]:
        ssts_dir = os.path.join(pdir, "SSTs")
        if not os.path.isdir(ssts_dir):
            return []
        referenced: set[str] = set()
        for v in ss._versions(os.listdir(pdir), "zip"):
            meta = _version_metadata(pdir, v)
            referenced.update(e["dfsSstFileName"] for e in meta.get("sstFiles", []))
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

    return [p for part in ss.run_per_partition(spark, pdirs, gc_one) for p in part]


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
    return ss.prune_state(
        ROCKSDB, spark, checkpoint_dir, retain_versions=retain_versions,
        operator_id=operator_id, store_name=store_name,
    )
