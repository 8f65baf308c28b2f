"""Incremental (RocksDB) checkpoint source — SURVEY.md §2 S4.

The reference restores the checkpoint into a local RocksDB and iterates
column families (reader/inputformat/RocksDBCheckpointIterator.java:57-254,
executor-local scratch dirs per RocksDBKeyedStateInputFormat.java:70-84).
RocksDB does the LSM resolution transparently; here the same semantics are
computed AS A DATAFLOW, which is the shape that scales:

1. **Plan-time column-family grouping** — the driver reads each SST's
   footer, metaindex and properties block (ranged reads, no data block)
   and groups the files by column family; unselected families and
   Flink's unused 'default' family are dropped here, and a damaged file
   is refused by name before any job runs. In RocksDB every SST belongs
   to exactly one column family, and Flink gives each state its own.
2. **One scan per column family** — one Spark task per SST
   (``mapInPandas`` over ``spark.range``), emitting raw ``(key_ns, seq,
   vtype, value)``; ``state_name`` is a literal on each scan and the
   scans are combined with ``unionByName``. A reader's
   ``state_name = X`` filter constant-folds the other families' branches
   away, so their scan, shuffle and fold never run.
3. **One JVM-side LSM fold** (:func:`resolve_lsm`, no Python) after one
   shuffle on (state_name, key_ns): the newest non-merge version is the
   barrier (highest seq wins — LSM shadowing); a put there survives, a
   tombstone (type 0/7) there deletes; merge operands (type 2) newer than
   it are appended in seq order with the ','-delimiter of Flink's
   StringAppendOperator (list state appends —
   RocksDBCheckpointIterator.java:62-63 sets the same operator).

The output is the universal state-row relation (state_name, key_ns, value)
— identical to the full-snapshot source, so every P1-P9 reader works
unchanged on incremental checkpoints.
"""

from __future__ import annotations

import functools
import glob
import os
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bravo_spark.sources import sst as sstmod

_SCAN_SCHEMA = "key_ns binary, seq long, vtype int, value binary"
_RAW_SCHEMA = "state_name string, " + _SCAN_SCHEMA


def sst_files_from_flink_metadata(metadata_path: str) -> list[str]:
    """SST paths from a Flink checkpoint ``_metadata``: every operator's
    IncrementalKeyedStateHandle shared-state map (the reference's
    handle.getSharedState() walk, RocksDBCheckpointIterator.java:96-103).
    file:/ URIs are resolved to local paths; other schemes are returned
    verbatim for the caller's filesystem layer."""
    from bravo_spark.sources import flink_metadata as fm

    with open(metadata_path, "rb") as f:
        sp = fm.deserialize(f.read())
    out: list[str] = []
    for op in sp.operators:
        for st in op.subtasks:
            for handle in (st.managed_keyed, st.raw_keyed):
                if isinstance(handle, fm.IncrementalKeyedHandle):
                    for name, stream in handle.shared:
                        if name.endswith(".sst") and stream.path:
                            p = stream.path
                            out.append(p[len("file:") :] if p.startswith("file:") else p)
    return sorted(out)


def list_sst_files(ckpt_dir: str) -> list[str]:
    """SSTs of a transferred incremental checkpoint (shared state). Sorted
    for determinism; MANIFEST/CURRENT/OPTIONS (private state) are not needed
    because each SST carries its column family in its properties block and
    a checkpoint references live files only."""
    files = sorted(
        glob.glob(os.path.join(ckpt_dir, "*.sst"))
        + glob.glob(os.path.join(ckpt_dir, "op-*", "*.sst"))
    )
    if not files:
        raise FileNotFoundError(f"no .sst files under {ckpt_dir}")
    return files


def discover_sst_files(ckpt_dir: str) -> list[str]:
    """SSTs of a checkpoint directory in EITHER layout: a Flink checkpoint
    (``_metadata`` present → walk its incremental handles' shared-state
    maps) or a transferred/self-written directory (glob). Shared by
    ``read_incremental_checkpoint`` callers and the ``bravo_checkpoint``
    DataSource, so both front doors accept the same inputs."""
    meta = os.path.join(ckpt_dir, "_metadata")
    if os.path.exists(meta):
        return sst_files_from_flink_metadata(meta)
    return list_sst_files(ckpt_dir)


def group_by_column_family(
    paths: list[str], state_filter: Callable[[str], bool] | None = None
) -> dict[str, list[str]]:
    """Driver-side plan step: ``{column family: [sst paths]}`` for the
    families ``state_filter`` selects (all when None), read from each
    file's footer, metaindex and properties block only; 'default'
    (Flink's unused CF 0) is always dropped. A truncated or foreign file
    raises ``ValueError`` naming it here, before any Spark job runs."""
    groups: dict[str, list[str]] = {}
    for path in paths:
        with sstmod.SstReader(path) as reader:
            name = reader.column_family_name
        if name != "default" and (state_filter is None or state_filter(name)):
            groups.setdefault(name, []).append(path)
    return groups


def sst_columns(path: str, verify_checksums: bool = False) -> tuple:
    """Every entry of ONE SST as four columns (key_ns, seq, vtype, value),
    or ``()`` for an empty file — the per-file loop of both scan front
    doors (``read_incremental_checkpoint`` and the DataSource).

    ``verify_checksums=True`` verifies every block trailer (all four
    RocksDB checksum types, incl. kXXH3's modifiers) before decoding —
    the integrity-audit mode for checkpoints of uncertain provenance;
    off by default because verification is per-byte Python work on top
    of the scan."""
    with sstmod.SstReader(path, verify_checksums=verify_checksums) as reader:
        return tuple(zip(*reader.iter_entries()))


def _scan_ssts(pdf_iter: Iterator[pd.DataFrame], verify_checksums: bool):
    for pdf in pdf_iter:
        for path in pdf["path"]:
            columns = sst_columns(path, verify_checksums)
            if columns:
                yield pd.DataFrame(dict(zip(("key_ns", "seq", "vtype", "value"), columns)))


def _scan_column_family(
    spark: SparkSession, name: str, paths: list[str], verify_checksums: bool
) -> DataFrame:
    """One task per SST of one column family; ``state_name`` is a literal,
    so a filter on another state folds this whole branch away."""
    n = len(paths)
    frame = spark.range(n, numPartitions=n).select(
        F.element_at(F.lit(paths), (F.col("id") + 1).cast("int")).alias("path")
    )
    scanned = frame.mapInPandas(
        lambda it: _scan_ssts(it, verify_checksums), schema=_SCAN_SCHEMA
    )
    return scanned.select(F.lit(name).alias("state_name"), "key_ns", "seq", "vtype", "value")


def read_incremental_checkpoint(
    spark: SparkSession,
    ckpt_dir: str,
    *,
    state_filter: Callable[[str], bool] | None = None,
    state_names: list[str] | None = None,
    files: list[str] | None = None,
    verify_checksums: bool = False,
) -> DataFrame:
    """Incremental checkpoint → universal state-row relation.
    ``verify_checksums=True`` block-verifies every SST during the scan
    (integrity audit; corrupt blocks fail the task loudly instead of
    decoding garbage). Damaged SST metadata raises ``ValueError`` naming
    the file from this call, before any job runs."""
    if state_names is not None:
        state_filter = set(state_names).__contains__

    paths = files if files is not None else discover_sst_files(ckpt_dir)
    scans = [
        _scan_column_family(spark, name, cf_paths, verify_checksums)
        for name, cf_paths in sorted(group_by_column_family(paths, state_filter).items())
    ]
    raw = (
        functools.reduce(DataFrame.unionByName, scans)
        if scans
        else spark.createDataFrame([], _RAW_SCHEMA)
    )
    return resolve_lsm(raw)


def resolve_lsm(raw: DataFrame) -> DataFrame:
    """LSM resolution over the raw per-version SST relation
    (state_name, key_ns, seq, vtype, value), JVM-side, one shuffle on
    (state_name, key_ns). Shared by ``read_incremental_checkpoint`` and
    the ``bravo_checkpoint`` DataSource front door.

    The barrier is the newest non-merge version of the key (window max of
    ``seq``): a put there survives, a tombstone there does not, and every
    merge operand newer than it is appended in ``seq`` order with the ','
    delimiter of Flink's StringAppendOperator. Keys with nothing left
    (tombstoned, no newer merge) drop out. ``listagg`` gathers a key's
    surviving values once and joins them once, so time and memory are
    linear in the key's operand count."""
    key = Window.partitionBy("state_name", "key_ns")
    return (
        raw.withColumn("_barrier", F.max(F.when(F.col("vtype") != 2, F.col("seq"))).over(key))
        .filter(
            "(vtype = 1 AND seq = _barrier)"
            " OR (vtype = 2 AND (_barrier IS NULL OR seq > _barrier))"
        )
        .groupBy("state_name", "key_ns")
        .agg(F.expr("listagg(value, X'2C') WITHIN GROUP (ORDER BY seq)").alias("value"))
    )


def write_sst_fixture(
    path: str,
    entries: dict[str, list[tuple[bytes, int, int, bytes]]],
    *,
    compression: int = sstmod.NO_COMPRESSION,
    cf_ids: dict[str, int] | None = None,
    **writer_opts,
) -> list[str]:
    """Test/bootstrap helper: one SST per column family from
    ``{state_name: [(user_key, seq, vtype, value), ...]}``. Entries are
    sorted to internal-key order here; file numbering mimics RocksDB's
    ``<number>.sst``."""
    os.makedirs(path, exist_ok=True)
    existing = glob.glob(os.path.join(path, "*.sst"))
    next_no = 1 + max(
        (int(os.path.basename(p).split(".")[0]) for p in existing), default=0
    )
    out = []
    for i, (name, rows) in enumerate(sorted(entries.items())):
        fpath = os.path.join(path, f"{next_no + i:06d}.sst")
        cf_id = (cf_ids or {}).get(name, i + 1)
        with sstmod.SstWriter(
            fpath, column_family=name, column_family_id=cf_id,
            compression=compression, **writer_opts,
        ) as w:
            for user_key, seq, vtype, value in sorted(
                rows, key=lambda r: (r[0], -r[1])
            ):
                w.add(user_key, seq, vtype, value)
        out.append(fpath)
    return out


def write_incremental_checkpoint(
    rows: DataFrame,
    path: str,
    *,
    max_parallelism: int,
    parallelism: int,
    state_ids: dict[str, int] | None = None,
    compression: int = sstmod.SNAPPY_COMPRESSION,
) -> dict:
    """The write half of S4 — one step beyond the reference, which only
    writes FULL savepoints (writer/OperatorStateWriter.java:225-283) and
    treats incremental checkpoints as read-only input
    (RocksDBCheckpointIterator.java:57-254): serialize the universal state
    relation back into per-subtask RocksDB databases, the exact on-disk
    shape a RocksDB-backend restore opens.

    Layout: ``{path}/op-{i}/`` is a complete, openable RocksDB directory —
    one column family per state (CF name = state name, matching what the
    backend creates at restore), one L0 SST per CF, MANIFEST/CURRENT/WAL
    from sources/rocksdb_manifest.py. Real rocksdbjni opens every subtask
    dir (tests prove it); our own reader round-trips it by CF-name scan.

    Distribution mirrors the savepoint writer (A1): one shuffle routing
    each key to its operator index via Flink's keygroup assignment, then a
    single pass per subtask; only {filename: size} manifests return to the
    driver. Returns the checkpoint manifest (also written as
    ``_bravo_checkpoint.json``)."""
    import json as _json

    from bravo_spark.sources.staterows import (
        with_key_group_column,
        with_operator_index_column,
    )
    from bravo_spark.sources.rocksdb_manifest import build_db_dir_multi_cf

    spark = rows.sparkSession
    os.makedirs(path, exist_ok=True)
    if state_ids is None:
        # deriving the mapping needs a names pass; a CALLER-supplied
        # mapping is validated executor-side instead (below) so the
        # upstream pipeline runs exactly once
        names = [r[0] for r in rows.select("state_name").distinct().collect()]
        state_ids = {n: i for i, n in enumerate(sorted(names))}
    cf_ids = {n: i + 1 for n, i in state_ids.items()}  # CF 0 = default

    routed = with_key_group_column(rows, max_parallelism=max_parallelism)
    routed = with_operator_index_column(
        routed, max_parallelism=max_parallelism, parallelism=parallelism
    )
    shuffled = routed.repartition(parallelism, "op_index")

    def write_partition(pdf_iter):
        by_op: dict[int, dict[str, list]] = {}
        for pdf in pdf_iter:
            for sn, kns, val, op in zip(
                pdf["state_name"], pdf["key_ns"], pdf["value"], pdf["op_index"]
            ):
                by_op.setdefault(int(op), {}).setdefault(sn, []).append(
                    (bytes(kns), 1, sstmod.TYPE_VALUE, bytes(val))
                )
        # validate EVERY operator's states before writing the first byte:
        # per-op validation inside the write loop would leave earlier ops'
        # db dirs in the shared output path when a later op aborts the task
        unmapped = sorted(
            {n for fams in by_op.values() for n in fams} - set(cf_ids)
        )
        if unmapped:
            raise ValueError(
                f"state_ids missing entries for: {unmapped} "
                f"(provided: {sorted(cf_ids)})"
            )
        out = []
        for op, families in by_op.items():
            dbdir = os.path.join(path, f"op-{op}")
            sizes = build_db_dir_multi_cf(
                dbdir, families, cf_ids=cf_ids, compression=compression
            )
            out.append(
                pd.DataFrame(
                    {"op_index": [op], "files": [_json.dumps(sizes)]}
                )
            )
        if out:
            yield from out

    manifests = shuffled.mapInPandas(
        write_partition, schema="op_index int, files string"
    ).collect()  # handle-only collect, data stays in executors

    meta = {
        "version": 1,
        "max_parallelism": max_parallelism,
        "parallelism": parallelism,
        "state_ids": state_ids,
        "subtasks": {
            str(r["op_index"]): _json.loads(r["files"]) for r in manifests
        },
    }
    with open(os.path.join(path, "_bravo_checkpoint.json"), "w") as f:
        _json.dump(meta, f, indent=1)
    return meta
