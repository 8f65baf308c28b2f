"""Checkpoint maintenance toolkit — one import surface for the offline
operations a state-store operator runs between (or instead of) jobs.

Everything here works on Structured Streaming checkpoints at rest, on
both state-store providers, without the engine running:

- audit:    :func:`read_streaming_progress` (batch history),
            :func:`audit_checkpoint` (8 defect classes, both
            providers), :func:`audit_savepoint` (the savepoint-layout
            twin, 7 classes incl. a deep distributed decode probe);
            :func:`spark_state_diff` is the query-level analog
            (``__spark_entry__`` registers it)
- repair:   :func:`repair_sidecars` (regenerate checksum sidecars that
            disagree with their main file — the remediation for
            ``sidecar_crc_mismatch`` findings)
- surgery:  ``write_spark_state`` / ``write_rocksdb_spark_state``
            (patch state), :func:`patch_watermark` (reopen a window a
            poisoned event time closed), ``migrate_spark_state_schema``
            (schema evolution)
- rewind:   :func:`rewind_checkpoint` (+ ``file_sink_rewind`` for the
            sink half)
- compact:  :func:`compact_spark_checkpoint` /
            :func:`compact_rocksdb_checkpoint` — fold the replay chain
            into one snapshot (the offline ``doSnapshot`` / zip upload)
- reclaim:  :func:`gc_rocksdb_checkpoint` (orphaned SSTs),
            :func:`prune_spark_checkpoint` /
            :func:`prune_rocksdb_checkpoint` (retention, the offline
            ``minVersionsToRetain``)

Each operation is restart-proven in ``tests/test_spark_state.py`` /
``tests/test_rocksdb_state.py`` against real streaming queries.
"""

from __future__ import annotations

from bravo_spark.sources.rocksdb_state import (  # noqa: F401
    compact_rocksdb_checkpoint,
    gc_rocksdb_checkpoint,
    prune_rocksdb_checkpoint,
    read_rocksdb_spark_state,
    write_rocksdb_spark_state,
)
from bravo_spark.sources.spark_state import (  # noqa: F401
    compact_spark_checkpoint,
    migrate_spark_state_schema,
    patch_watermark,
    prune_spark_checkpoint,
    read_spark_state,
    read_streaming_progress,
    rewind_checkpoint,
    write_spark_state,
)

__all__ = [
    "compact_rocksdb_checkpoint",
    "compact_spark_checkpoint",
    "gc_rocksdb_checkpoint",
    "migrate_spark_state_schema",
    "patch_watermark",
    "prune_rocksdb_checkpoint",
    "prune_spark_checkpoint",
    "read_rocksdb_spark_state",
    "read_spark_state",
    "read_streaming_progress",
    "rewind_checkpoint",
    "write_rocksdb_spark_state",
    "write_spark_state",
]


def audit_checkpoint(spark, checkpoint_dir: str):
    """First-touch checkpoint diagnostic: one DataFrame row per finding,
    empty = healthy. Runs the checks an operator does by hand before
    trusting (or operating on) a checkpoint:

    - ``uncommitted_batch``: a planned batch with no commit entry — the
      query died mid-batch; restart will re-run it (exactly-once sinks
      tolerate this; audit before surgery anyway).
    - ``watermark_regression``: offsets metadata watermark moving
      backwards between consecutive batches — either file corruption or
      a previous manual patch (:func:`patch_watermark` is the legitimate
      source of these).
    - ``version_skew``: a state partition whose latest committed version
      trails the store's maximum — a partially-written commit.
    - ``broken_replay_chain``: a version the provider cannot restore —
      HDFS: a missing delta between the anchoring snapshot and latest;
      RocksDB changelog mode: a missing changelog after the last zip.
    - ``orphan_sst``: RocksDB SSTs no version references (reclaim with
      :func:`gc_rocksdb_checkpoint`).
    - ``corrupt_snapshot``: a version zip the metadata parser cannot
      read (torn write, truncation) — reported, never a crash.
    - ``sidecar_crc_mismatch``: a state file whose
      ChecksumCheckpointFileManager ``<file>.crc`` sidecar disagrees
      with the file's actual CRC32C/size (bit rot, or a manual edit
      that skipped the sidecar refresh) — the restart would die with
      CHECKPOINT_FILE_CHECKSUM_VERIFICATION_FAILED; a MISSING sidecar
      is fine (the manager tolerates absence, not disagreement).
    - ``log_gap``: a hole INSIDE the offsets/commits batch-id sequence
      (leading purge by minBatchesToRetain is normal; an interior gap
      means a deleted/never-written log entry and breaks replay).

    Log checks are driver-side (metadata-scale files); per-partition
    chain checks run one task per partition. Columns:
    (check, operator_id, store, partition_id, severity, detail)."""
    import json as _json
    import os

    from pyspark.sql import types as T

    from bravo_spark.sources import rocksdb_state as _rs
    from bravo_spark.sources import spark_state as _ss

    rows: list[tuple] = []

    # --- batch-log coherence + watermark monotonicity (driver-side)
    odir = os.path.join(checkpoint_dir, "offsets")
    cdir = os.path.join(checkpoint_dir, "commits")
    bids = sorted(
        int(f) for f in os.listdir(odir) if f.isdigit()
    ) if os.path.isdir(odir) else []
    committed = {
        int(f) for f in os.listdir(cdir) if f.isdigit()
    } if os.path.isdir(cdir) else set()
    for log_name, present in (("offsets", set(bids)), ("commits", committed)):
        if present:
            holes = sorted(set(range(min(present), max(present) + 1)) - present)
            if holes:
                rows.append((
                    "log_gap", None, None, None, "error",
                    f"{log_name} log missing batch ids {holes} inside "
                    f"[{min(present)}, {max(present)}]",
                ))
    prev_wm = None
    for b in bids:
        if b not in committed:
            rows.append((
                "uncommitted_batch", None, None, None, "warn",
                f"batch {b} planned but never committed",
            ))
        try:
            lines = open(os.path.join(odir, str(b))).read().splitlines()
            meta = _json.loads(lines[1]) if len(lines) > 1 else {}
            wm = meta.get("batchWatermarkMs")
        except (OSError, _json.JSONDecodeError, IndexError):
            wm = None
        if wm is not None and prev_wm is not None and wm < prev_wm:
            rows.append((
                "watermark_regression", None, None, None, "info",
                f"batch {b} watermark {wm} < batch watermark {prev_wm} "
                "(corruption, or a deliberate patch_watermark)",
            ))
        prev_wm = wm if wm is not None else prev_wm

    # --- per-operator/per-store state chains
    sroot = os.path.join(checkpoint_dir, "state")
    ops = sorted(
        int(d) for d in os.listdir(sroot) if d.isdigit()
    ) if os.path.isdir(sroot) else []
    for op in ops:
        sdir = os.path.join(sroot, str(op))
        stores = _ss.list_store_names(checkpoint_dir, op) or [None]
        for store in stores:
            pids = _ss._partitions(sdir, store)
            specs = []
            for pid in pids:
                pdir = _ss._pdir(sdir, pid, store)
                if store is not None and not os.path.isdir(pdir):
                    continue
                specs.append((op, store, pid, pdir))

            def check_partition(spec):
                from bravo_spark.codecs.crc32c import crc32c as _crc32c

                op_, store_, pid_, pdir_ = spec
                found: list[tuple] = []
                files = os.listdir(pdir_)
                for f in files:
                    # verify ChecksumCheckpointFileManager sidecars that
                    # EXIST — absence is tolerated on load, disagreement
                    # kills the restart
                    if not f.endswith(
                        (".delta", ".snapshot", ".zip", ".changelog")
                    ) or f.startswith(".") or f + ".crc" not in files:
                        continue
                    main = os.path.join(pdir_, f)
                    try:
                        side = _json.loads(
                            open(os.path.join(pdir_, f + ".crc")).read()
                        )
                        data = open(main, "rb").read()
                    except (OSError, _json.JSONDecodeError) as ex:
                        found.append((
                            "sidecar_crc_mismatch", op_, store_, pid_,
                            "error", f"{f}.crc unreadable: {str(ex)[:80]}",
                        ))
                        continue
                    v = _crc32c(data)
                    if v >= 1 << 31:
                        v -= 1 << 32  # sidecar stores the Java signed int
                    want_v = side.get("value")
                    want_n = side.get("mainFileSize")
                    if want_v != v or (
                        want_n is not None and want_n != len(data)
                    ):
                        found.append((
                            "sidecar_crc_mismatch", op_, store_, pid_,
                            "error",
                            f"{f}: sidecar says crc={want_v} size={want_n},"
                            f" file has crc={v} size={len(data)}",
                        ))
                deltas = {int(f.split(".")[0]) for f in files
                          if f.endswith(".delta") and f.split(".")[0].isdigit()}
                snaps = {int(f.split(".")[0]) for f in files
                         if f.endswith(".snapshot") and f.split(".")[0].isdigit()}
                zips = {int(f.split(".")[0]) for f in files
                        if f.endswith(".zip") and f.split(".")[0].isdigit()}
                logs = {int(f.split(".")[0]) for f in files
                        if f.endswith(".changelog") and f.split(".")[0].isdigit()}
                latest = max(deltas | snaps | zips | logs, default=0)
                if deltas or snaps:  # HDFS-backed chain
                    anchor = max((s for s in snaps if s <= latest), default=0)
                    missing = [v for v in range(anchor + 1, latest + 1)
                               if v not in deltas]
                    if missing:
                        found.append((
                            "broken_replay_chain", op_, store_, pid_, "error",
                            f"missing deltas {missing} between snapshot "
                            f"{anchor} and latest {latest}",
                        ))
                if logs:  # RocksDB changelog chain
                    anchor = max((z for z in zips if z <= latest), default=0)
                    missing = [v for v in range(anchor + 1, latest + 1)
                               if v not in logs and v not in zips]
                    if missing:
                        found.append((
                            "broken_replay_chain", op_, store_, pid_, "error",
                            f"missing changelogs {missing} after zip "
                            f"{anchor} up to latest {latest}",
                        ))
                if zips:
                    referenced: set[str] = set()
                    bad_zips = []
                    for z in sorted(zips):
                        # the auditor must REPORT a torn/corrupt zip, not
                        # crash on the very defect it exists to find
                        try:
                            meta = _rs._version_metadata(pdir_, z)
                        except Exception as ex:  # noqa: BLE001
                            bad_zips.append((z, str(ex)[:80]))
                            continue
                        referenced.update(
                            e["dfsSstFileName"] for e in meta.get("sstFiles", [])
                        )
                    for z, why in bad_zips:
                        found.append((
                            "corrupt_snapshot", op_, store_, pid_, "error",
                            f"version {z} zip unreadable: {why}",
                        ))
                    ssts_dir = os.path.join(pdir_, "SSTs")
                    orphans = [
                        f for f in (os.listdir(ssts_dir)
                                    if os.path.isdir(ssts_dir) else [])
                        # checksum sidecars ride along with their SST —
                        # only actual data files can be orphans
                        if f not in referenced
                        and not f.startswith(".") and not f.endswith(".crc")
                    ]
                    if orphans:
                        found.append((
                            "orphan_sst", op_, store_, pid_, "info",
                            f"{len(orphans)} unreferenced SST(s); "
                            "gc_rocksdb_checkpoint reclaims them",
                        ))
                return (latest, found)

            results = spark.sparkContext.parallelize(
                specs, max(1, len(specs))
            ).map(check_partition).collect() if specs else []
            maxv = max((latest for latest, _ in results), default=0)
            for (op_, store_, pid_, _pdir), (latest, found) in zip(specs, results):
                rows.extend(found)
                if latest < maxv:
                    rows.append((
                        "version_skew", op_, store_, pid_, "error",
                        f"partition latest version {latest} trails store "
                        f"max {maxv} — partially-written commit",
                    ))

    schema = T.StructType([
        T.StructField("check", T.StringType(), False),
        T.StructField("operator_id", T.IntegerType(), True),
        T.StructField("store", T.StringType(), True),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("severity", T.StringType(), False),
        T.StructField("detail", T.StringType(), False),
    ])
    return spark.createDataFrame(rows, schema)


def repair_sidecars(spark, checkpoint_dir: str, *, dry_run: bool = False):
    """Regenerate every ChecksumCheckpointFileManager sidecar that
    disagrees with its main file — the remediation for
    ``sidecar_crc_mismatch`` findings from :func:`audit_checkpoint`
    (after deliberate out-of-band edits, a copy through a tool that
    didn't carry sidecars, or bit rot where the MAIN file is the one
    you trust). Only files that already HAVE a sidecar are touched:
    absence is tolerated on load, so manufacturing new sidecars would
    add failure surface, not remove it. Works on both providers (delta/
    snapshot and zip/changelog files). One task per state partition;
    ``dry_run=True`` lists without rewriting. Returns the repaired (or
    would-repair) main-file paths."""
    import json as _json
    import os

    from bravo_spark.sources import spark_state as _ss

    sroot = os.path.join(checkpoint_dir, "state")
    ops = sorted(
        int(d) for d in os.listdir(sroot) if d.isdigit()
    ) if os.path.isdir(sroot) else []
    specs = []
    for op in ops:
        sdir = os.path.join(sroot, str(op))
        for store in _ss.list_store_names(checkpoint_dir, op) or [None]:
            for pid in _ss._partitions(sdir, store):
                pdir = _ss._pdir(sdir, pid, store)
                if os.path.isdir(pdir):
                    specs.append(pdir)

    def repair_one(pdir: str) -> list[str]:
        from bravo_spark.codecs.crc32c import crc32c as _crc32c

        fixed: list[str] = []
        files = os.listdir(pdir)
        for f in files:
            if not f.endswith(
                (".delta", ".snapshot", ".zip", ".changelog")
            ) or f.startswith(".") or f + ".crc" not in files:
                continue
            main = os.path.join(pdir, f)
            try:
                side = _json.loads(open(main + ".crc").read())
            except (OSError, _json.JSONDecodeError):
                side = {}
            data = open(main, "rb").read()
            v = _crc32c(data)
            if v >= 1 << 31:
                v -= 1 << 32
            if side.get("value") == v and side.get("mainFileSize") == len(data):
                continue
            if not dry_run:
                _ss._finalize_state_file(main)
            fixed.append(main)
        return fixed

    if not specs:
        return []
    out = spark.sparkContext.parallelize(specs, max(1, len(specs))).map(
        repair_one
    ).collect()  # repaired paths only — file-count-bounded
    return sorted(p for part in out for p in part)


def audit_savepoint(spark, path: str, *, deep: bool = False):
    """First-touch SAVEPOINT diagnostic — the :func:`audit_checkpoint`
    twin for the keyed-state savepoint layout (`_bravo_metadata` JSON +
    per-subtask state files). One DataFrame row per finding, empty =
    healthy. Driver-side checks are metadata-scale:

    - ``metadata_unreadable``: the metadata file is missing or does not
      parse — reported, never a crash.
    - ``missing_state_file``: a metadata ``files[]`` entry whose path
      does not exist (partial copy, interrupted write).
    - ``keygroup_out_of_range``: a recorded key group outside
      ``[0, max_parallelism)`` — the scan would route it to a key-group
      range no reader selects.
    - ``keygroup_duplicate``: the same key group recorded in two files —
      key groups partition across subtask files exactly once, so reads
      would double-count that group's rows.
    - ``offset_out_of_bounds``: a key-group offset at/past its file's
      size (truncated file or stale metadata).
    - ``offset_disorder``: offsets not strictly increasing in key-group
      order within a file — spans would have negative extents.

    ``deep=True`` additionally DECODES every key-group span (one task
    per span, the same distributed scan the readers use) and reports
    ``decode_failure`` per (file, key_group) instead of crashing — the
    truncation/corruption check that offsets alone can't prove."""
    import os

    from pyspark.sql import types as T

    from bravo_spark.sources import savepoint as _sp

    rows: list[tuple] = []
    schema = T.StructType([
        T.StructField("check", T.StringType(), False),
        T.StructField("op_index", T.IntegerType(), True),
        T.StructField("file", T.StringType(), True),
        T.StructField("key_group", T.IntegerType(), True),
        T.StructField("severity", T.StringType(), False),
        T.StructField("detail", T.StringType(), False),
    ])

    try:
        meta = _sp.read_savepoint_meta(path)
    except (OSError, ValueError) as ex:  # missing, truncated or malformed
        rows.append((
            "metadata_unreadable", None, None, None, "error",
            f"{_sp.METADATA_FILE}: {str(ex)[:120]}",
        ))
        return spark.createDataFrame(rows, schema)

    seen: dict[int, str] = {}
    spans_to_probe: list[tuple[str, int, int, int, int]] = []
    for fmeta in meta.files:
        fpath, op = _sp.section_path(path, fmeta), int(fmeta.get("op_index", 0))
        if not os.path.exists(fpath):
            rows.append((
                "missing_state_file", op, fpath, None, "error",
                "metadata references a file that does not exist",
            ))
            continue
        size = os.path.getsize(fpath)
        kgs = sorted((int(k), int(v)) for k, v in fmeta["offsets"].items())
        prev_off = -1
        for i, (kg, off) in enumerate(kgs):
            if not 0 <= kg < meta.max_parallelism:
                rows.append((
                    "keygroup_out_of_range", op, fpath, kg, "error",
                    f"key group {kg} outside [0, {meta.max_parallelism})",
                ))
            dup = seen.get(kg)
            if dup is not None:
                rows.append((
                    "keygroup_duplicate", op, fpath, kg, "error",
                    f"key group {kg} also recorded in {dup}",
                ))
            else:
                seen[kg] = fpath
            if off >= size:
                rows.append((
                    "offset_out_of_bounds", op, fpath, kg, "error",
                    f"offset {off} >= file size {size}",
                ))
            elif off <= prev_off:
                rows.append((
                    "offset_disorder", op, fpath, kg, "error",
                    f"offset {off} not after previous {prev_off}",
                ))
            else:
                end = kgs[i + 1][1] if i + 1 < len(kgs) else size
                if end > off:
                    spans_to_probe.append((fpath, op, kg, off, min(end, size)))
            prev_off = max(prev_off, off)

    if deep and spans_to_probe:
        id_to_name = {v: k for k, v in meta.state_ids.items()}
        compressed = meta.compression

        def probe(span):
            fpath, op, kg, off, end = span
            try:
                n = sum(
                    1 for _ in _sp.iter_file_spans(
                        fpath, [(kg, off, end)], id_to_name,
                        lambda _n: True, compressed,
                    )
                )
                return (fpath, op, kg, n, None)
            except Exception as ex:  # noqa: BLE001 — report, don't crash
                return (fpath, op, kg, -1, str(ex)[:120])

        results = spark.sparkContext.parallelize(
            spans_to_probe, max(1, min(len(spans_to_probe), 64))
        ).map(probe).collect()  # one tuple per span — metadata-scale
        for fpath, op, kg, n, err in results:
            if err is not None:
                rows.append((
                    "decode_failure", op, fpath, kg, "error",
                    f"key group {kg} span does not decode: {err}",
                ))
    return spark.createDataFrame(rows, schema)


def audit_flink_savepoint(spark, path: str):
    """First-touch diagnostic for a FLINK-format savepoint (binary
    ``_metadata``, SavepointV2 layout) — what an operator runs before
    pointing state surgery (or a Flink restore) at a copied/relocated
    savepoint directory. One DataFrame row per finding, empty = healthy.
    All checks are driver-side metadata-scale (the ``_metadata`` file is
    KBs; no state payload is read):

    - ``metadata_unreadable``: the file is missing or does not parse —
      reported, never a crash.
    - ``missing_state_file``: a FileStateHandle whose ``file:`` path
      exists neither absolutely nor by basename next to ``_metadata``
      (the relocated-savepoint case Flink's own restore dies on).
      Non-file schemes (hdfs:, s3:) are skipped — nothing to stat here.
    - ``size_mismatch``: a resolvable handle file whose on-disk size
      differs from the size the metadata recorded — a torn copy.
    - ``offset_out_of_bounds``: a key-group offset at/past its handle's
      recorded stream size. (An offsets/num_key_groups count mismatch
      cannot exist in a parseable file — the wire format derives the
      offset count from num_key_groups, so that defect surfaces as
      ``metadata_unreadable``.)
    - ``keygroup_overlap``: two subtasks of one operator claiming
      intersecting key-group ranges (reads would double-count); a GAP in
      coverage of ``[0, max_parallelism)`` is only ``info`` — empty
      subtasks legitimately record no handle.
    - ``subtask_index_out_of_range``: a subtask index at/past the
      operator's recorded parallelism.

    The NON-KEYED (operator-state) side gets the symmetric audit (r17):

    - ``op_state_offset_out_of_bounds``: a per-partition offset at/past
      its handle's recorded stream size (torn copy / stale metadata).
    - ``op_state_offset_disorder``: a state's partition offsets not
      strictly increasing — spans would have negative extents.
    - ``op_state_unknown_mode``: a distribution-mode ordinal that is not
      SPLIT_DISTRIBUTE/UNION/BROADCAST — redistribution on restore is
      undefined.
    - ``op_state_duplicate_name``: one state name recorded twice in a
      single handle — a restore binds one offset set and silently drops
      the other.

    Columns: (check, operator_id, subtask, severity, detail)."""
    import os

    from pyspark.sql import types as T

    from bravo_spark.sources import flink_metadata as fm

    mpath = path
    if os.path.isdir(path):
        mpath = os.path.join(path, "_metadata")
    base = os.path.dirname(mpath)

    rows: list[tuple] = []
    schema = T.StructType([
        T.StructField("check", T.StringType(), False),
        T.StructField("operator_id", T.StringType(), True),
        T.StructField("subtask", T.IntegerType(), True),
        T.StructField("severity", T.StringType(), False),
        T.StructField("detail", T.StringType(), False),
    ])

    try:
        with open(mpath, "rb") as f:
            sp = fm.deserialize(f.read())
    except (OSError, fm.FlinkMetadataError) as ex:
        rows.append((
            "metadata_unreadable", None, None, "error",
            f"{mpath}: {str(ex)[:120]}",
        ))
        return spark.createDataFrame(rows, schema)

    def check_stream(stream, opid, sti, what):
        if stream is None or stream.kind != fm.FILE_STREAM_STATE_HANDLE:
            return  # byte handles carry their data inline
        p = stream.path or ""
        if p.startswith("file:"):
            p = p[len("file:"):]
        elif "://" in p or p.startswith(("hdfs:", "s3:", "s3a:", "gs:")):
            return  # remote scheme — nothing to stat locally
        cand = p if os.path.isabs(p) and os.path.exists(p) else os.path.join(
            base, os.path.basename(p)
        )
        if not os.path.exists(cand):
            rows.append((
                "missing_state_file", opid, sti, "error",
                f"{what} handle {stream.path} not found (tried {cand})",
            ))
            return
        actual = os.path.getsize(cand)
        if stream.size >= 0 and actual != stream.size:
            rows.append((
                "size_mismatch", opid, sti, "error",
                f"{what} handle {os.path.basename(cand)}: metadata says "
                f"{stream.size} bytes, file has {actual} — torn copy",
            ))

    for op in sp.operators:
        opid = op.operator_id.hex()
        ranges: list[tuple[int, int, int]] = []
        covered = 0
        for st in op.subtasks:
            sti = st.subtask_index
            if sti >= op.parallelism or sti < 0:
                rows.append((
                    "subtask_index_out_of_range", opid, sti, "error",
                    f"subtask {sti} outside [0, {op.parallelism})",
                ))
            for what, h in (("managed_keyed", st.managed_keyed),
                            ("raw_keyed", st.raw_keyed)):
                if h is None:
                    continue
                if isinstance(h, fm.KeyGroupsHandle):
                    check_stream(h.stream, opid, sti, what)
                    size = h.stream.size if h.stream else -1
                    bad = [o for o in h.offsets if size >= 0 and o >= size]
                    if bad:
                        rows.append((
                            "offset_out_of_bounds", opid, sti, "error",
                            f"{what}: {len(bad)} offset(s) >= stream size "
                            f"{size} (first: {bad[0]})",
                        ))
                    if what == "managed_keyed":
                        ranges.append((h.start_key_group,
                                       h.num_key_groups, sti))
                        covered += h.num_key_groups
                elif isinstance(h, fm.IncrementalKeyedHandle):
                    check_stream(h.meta, opid, sti, f"{what}.meta")
                    for name, stream in h.shared + h.private:
                        check_stream(stream, opid, sti, f"{what}:{name}")
                    if what == "managed_keyed":
                        ranges.append((h.start_key_group,
                                       h.num_key_groups, sti))
                        covered += h.num_key_groups
            for what, oh in (("managed_op", st.managed_op),
                             ("raw_op", st.raw_op)):
                if oh is None:
                    continue
                check_stream(oh.stream, opid, sti, what)
                # the non-keyed side of the savepoint: each
                # PartitionableOperatorStateHandle records, per state
                # name, a distribution mode and the per-partition
                # offsets into ONE stream — validate them against the
                # recorded stream size the same way the keyed side's
                # key-group offsets are
                size = oh.stream.size if oh.stream else -1
                seen_names: set[str] = set()
                for name, mode, offsets in oh.states:
                    if name in seen_names:
                        rows.append((
                            "op_state_duplicate_name", opid, sti, "error",
                            f"{what}: state {name!r} recorded twice in "
                            "one handle — a restore would bind one set "
                            "of offsets and silently drop the other",
                        ))
                    seen_names.add(name)
                    if mode not in (fm.MODE_SPLIT_DISTRIBUTE,
                                    fm.MODE_UNION, fm.MODE_BROADCAST):
                        rows.append((
                            "op_state_unknown_mode", opid, sti, "error",
                            f"{what}: state {name!r} distribution mode "
                            f"{mode} is not SPLIT_DISTRIBUTE/UNION/"
                            "BROADCAST — redistribution on restore is "
                            "undefined",
                        ))
                    bad = [o for o in offsets if size >= 0 and o >= size]
                    if bad:
                        rows.append((
                            "op_state_offset_out_of_bounds", opid, sti,
                            "error",
                            f"{what}: state {name!r} has {len(bad)} "
                            f"offset(s) >= stream size {size} "
                            f"(first: {bad[0]})",
                        ))
                    disorder = [
                        (a, b) for a, b in zip(offsets, offsets[1:])
                        if b <= a
                    ]
                    if disorder:
                        rows.append((
                            "op_state_offset_disorder", opid, sti,
                            "error",
                            f"{what}: state {name!r} offsets not "
                            "strictly increasing (first: "
                            f"{disorder[0][1]} after {disorder[0][0]}) — "
                            "partition spans would have negative "
                            "extents",
                        ))

        ranges.sort()
        for (s1, n1, t1), (s2, n2, t2) in zip(ranges, ranges[1:]):
            if s2 < s1 + n1:
                rows.append((
                    "keygroup_overlap", opid, t2, "error",
                    f"subtask {t2} range [{s2}, {s2 + n2}) overlaps "
                    f"subtask {t1} range [{s1}, {s1 + n1})",
                ))
        if ranges and covered < op.max_parallelism:
            rows.append((
                "keygroup_gap", opid, None, "info",
                f"subtask ranges cover {covered} of {op.max_parallelism} "
                "key groups (empty subtasks record no handle — benign "
                "unless a restore expects state there)",
            ))
    return spark.createDataFrame(rows, schema)


__all__.append("audit_checkpoint")
__all__.append("audit_savepoint")
__all__.append("audit_flink_savepoint")
__all__.append("repair_sidecars")
__all__.append("list_store_names")

from bravo_spark.sources.spark_state import list_store_names  # noqa: F401,E402
