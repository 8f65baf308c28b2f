"""Snapshot sink + source: distributed write and read of keyed-state files.

Mirrors the reference's savepoint lifecycle (SURVEY.md §2.1 S2/S3/S7/S8,
§3 EP2) with Spark-native physics:

- **Write** (S7): one task writer, :func:`write_task_sections`, behind
  both front doors. ``write_savepoint`` runs the only shuffle in the
  pipeline — ``repartition(parallelism, op_index) →
  sortWithinPartitions(op_index, key_group, state_id) → mapInArrow`` —
  and the ``bravo_savepoint`` sink sorts each task's rows with numpy. The
  task writer routes each batch with numpy and streams one section per
  key group into one file per operator index
  (writer/functions/RocksDBSavepointWriter.java:132-175: per-keygroup
  sections, state-id shorts, metadata-follows flag on the last key of a
  run, 0xFFFF end-of-key-group mark, per-keygroup offset bookkeeping).
  Only per-file handles reach the driver, never data rows
  (OperatorStateWriter.java:253 collects handles only).
- **Metadata** (S8): a driver-side JSON ``_bravo_metadata`` carrying
  max_parallelism/parallelism, the state-name↔id mapping and per-file
  key-group offsets (StateMetadataUtils.java:103-125,189-194 analog).
  :func:`commit_savepoint` writes it last and atomically; readers find
  section files only through it, so a savepoint exists once it commits.
- **Read** (S2/S3/S5): splits are (file, key-group-ranges); empty key groups
  (no offset recorded) are skipped like ValidOffsetsIterator.java:25-46. One
  task per split, with no exchange in front of the scan (:func:`task_frame`);
  finer-than-subtask parallelism (split by key group) is supported — the
  reference noted this as future work (RocksDBKeyedStateInputFormat.java:
  46-47). A typed read over a :class:`SavepointScan` runs staterows'
  decoder inside the scan, one Python hop like the reference's readers.
- **State-name pushdown** (F1): the reader takes a state-name filter that
  skips key/value payload bytes without decoding
  (RocksDBSavepointIterator.java:178-191 semantics, implemented in
  codecs.flink.iter_key_group_section).

At 100 TB: files scale with parallelism × state volume; reads scale with
#splits = #files × #keygroup-chunks, so a 1000-executor cluster gets full
parallelism regardless of the snapshot's original subtask count.
"""

from __future__ import annotations

import json
import os
import uuid
from contextlib import contextmanager, suppress
from dataclasses import dataclass, field
from typing import Callable, Iterable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bravo_spark.codecs import fastpath
from bravo_spark.codecs import flink as fc
from bravo_spark.sources.atomic import atomic_write
from bravo_spark.sources.staterows import (
    STATE_ROW_SCHEMA,
    read_value_kv,
    with_key_group_column,
    with_operator_index_column,
)

METADATA_FILE = "_bravo_metadata"


@dataclass
class SavepointMeta:
    max_parallelism: int
    parallelism: int
    state_ids: dict[str, int]  # state name -> state id (positional, §1.2)
    compression: bool = False  # per-key-group Snappy (framed) when True
    files: list[dict] = field(default_factory=list)
    # each file entry: {"path": str, "op_index": int,
    #                   "offsets": {key_group(str): byte offset}};
    # readers find a file by section_path

    def to_json(self) -> str:
        return json.dumps(
            {
                "version": 1,
                "max_parallelism": self.max_parallelism,
                "parallelism": self.parallelism,
                "state_ids": self.state_ids,
                "compression": self.compression,
                "files": self.files,
            },
            indent=1,
        )

    @staticmethod
    def from_json(s: str) -> "SavepointMeta":
        d = json.loads(s)
        return SavepointMeta(
            max_parallelism=d["max_parallelism"],
            parallelism=d["parallelism"],
            state_ids={k: int(v) for k, v in d["state_ids"].items()},
            compression=bool(d.get("compression", False)),
            files=d["files"],
        )


def write_savepoint(
    rows: DataFrame,
    path: str,
    *,
    max_parallelism: int,
    parallelism: int,
    state_ids: dict[str, int] | None = None,
    compression: bool = False,
) -> SavepointMeta:
    """Write ``rows`` as the savepoint at ``path``, replacing any savepoint
    there: :func:`stage_savepoint`, then :func:`commit_savepoint`.

    ``max_parallelism`` MUST equal the value the rows were encoded with:
    the writer re-derives each row's key group from the 1- or 2-byte
    prefix it sized inside ``key_ns``, and refuses groups outside
    ``[0, max_parallelism)`` by name."""
    meta = stage_savepoint(
        rows, path, max_parallelism=max_parallelism, parallelism=parallelism,
        state_ids=state_ids, compression=compression,
    )
    with discard_on_failure(path, meta):
        return commit_savepoint(path, meta, overwrite=True)


def stage_savepoint(
    rows, path, *, max_parallelism, parallelism, state_ids=None, compression=False
) -> SavepointMeta:
    """:func:`write_savepoint` without the commit: shuffle state rows to
    their operator index, sort by (key_group, state_id), stream one section
    file per operator index through :func:`write_task_sections`, and return
    the new files' metadata, which no reader sees until it is committed."""
    os.makedirs(path, exist_ok=True)
    if state_ids is None:
        names = [r[0] for r in rows.select("state_name").distinct().collect()]
        state_ids = {n: i for i, n in enumerate(sorted(names))}
    ids = dict(state_ids)

    routed = with_key_group_column(rows, max_parallelism=max_parallelism)
    routed = with_operator_index_column(
        routed, max_parallelism=max_parallelism, parallelism=parallelism
    )
    sid_map = F.create_map(*[x for k, v in ids.items() for x in (F.lit(k), F.lit(v))])
    # a caller-supplied state_ids mapping is validated EXECUTOR-side via a
    # -1 sentinel (the task writer refuses it by name), not by a driver-side
    # distinct() — that pre-check re-ran the entire upstream pipeline (a
    # second full pass over the state relation at 100 TB) just to name
    # missing states before the real one
    routed = routed.withColumn(
        "state_id",
        F.coalesce(sid_map[F.col("state_name")].cast("int"), F.lit(-1)),
    )

    # repartition hashes op_index into `parallelism` partitions, so a
    # partition can receive several operator indexes (hash collision); the
    # in-partition sort leads with op_index and the writer rolls to a new
    # file whenever it changes — still exactly one file per operator index.
    # The sort runs in the JVM and spills, so task memory stays bounded.
    shuffled = routed.repartition(parallelism, "op_index").sortWithinPartitions(
        "op_index", "key_group", "state_id"
    )

    def write_task(batches):
        handles = write_task_sections(
            batches, path, state_ids=ids, max_parallelism=max_parallelism,
            parallelism=parallelism, compression=compression,
        )
        yield pa.record_batch({"handle": pa.array(map(json.dumps, handles), pa.string())})

    handles = (
        shuffled.select("state_name", "key_ns", "value")
        .mapInArrow(write_task, schema="handle string")
        .collect()  # handles only — KB-scale, like OperatorStateWriter.java:253
    )
    return SavepointMeta(
        max_parallelism, parallelism, ids, compression=compression,
        files=[json.loads(h[0]) for h in handles],
    )


def route_state_rows(batch: pa.RecordBatch, state_ids, max_parallelism, parallelism):
    """``(key_group, op_index, state_id)`` numpy arrays for a non-empty batch
    of state rows. The key group is read from the ``key_ns`` buffers: the
    1- or 2-byte big-endian prefix, metadata-follows bit masked; the
    operator index is ``key_group * parallelism // max_parallelism``
    (types/KeyedStateRow.java:65-68). A group outside ``[0,
    max_parallelism)`` or a state name missing from ``state_ids`` is
    refused by name."""
    prefix = fc.key_group_prefix_bytes(max_parallelism)
    kns = batch.column("key_ns")
    width = np.int64 if pa.types.is_large_binary(kns.type) else np.int32
    offs = np.frombuffer(kns.buffers()[1], width)[kns.offset : kns.offset + len(kns) + 1]
    if (np.diff(offs) < prefix).any():
        raise ValueError(f"key_ns shorter than its {prefix}-byte key-group prefix")
    data = np.frombuffer(kns.buffers()[2], np.uint8)
    kg = data[offs[:-1]].astype(np.int64)
    if prefix == 2:
        kg = (kg << 8) | data[offs[:-1] + 1]
    kg &= 0x7F if prefix == 1 else 0x7FFF
    if (kg >= max_parallelism).any():
        raise ValueError(
            f"derived key group {kg.max()} is outside [0, {max_parallelism}) "
            "— rows were encoded with a different max_parallelism than the "
            "writer was given (the key-group prefix width inside key_ns no "
            "longer matches)"
        )
    names = sorted(state_ids)
    idx = pc.index_in(batch.column("state_name"), value_set=pa.array(names, pa.string()))
    if idx.null_count:
        missing = batch.column("state_name").filter(idx.is_null())[0].as_py()
        raise ValueError(
            "rows contain a state_name with no state_ids entry: state_ids "
            f"has no entry for {missing!r} (provided: {names})"
        )
    sid = np.array([state_ids[s] for s in names], np.int64)[idx.to_numpy()]
    return kg, kg * parallelism // max_parallelism, sid


def write_task_sections(
    batches, path, *, state_ids, max_parallelism, parallelism, compression=False
) -> list[dict]:
    """The one savepoint task writer, behind ``write_savepoint`` and the
    ``bravo_savepoint`` sink: Arrow batches of (state_name, key_ns, value)
    ordered by (op_index, key_group) — other orders are refused — become
    one ``op-<i>-<uuid4 hex>`` file per operator index holding one section
    per key group, framed Snappy when ``compression``
    (RocksDBSavepointWriter.java:132-166). Returns one handle per file,
    ``{"path", "op_index", "offsets": {key_group (str): byte offset}}``.
    On any exception the files it opened are deleted and it re-raises."""
    handles: list[dict] = []
    entries: list[tuple[int, bytes, bytes]] = []
    f = cur = None  # open file; (op_index, key_group) being gathered

    def end_section(run):
        # write the section of `cur`; close its file unless `run` (None at
        # the end) continues the same operator index
        if cur is not None:
            handles[-1]["offsets"][str(cur[1])] = f.tell()
            buf = fc.write_key_group_section(entries)
            f.write(fastpath.frame_compress(buf) if compression else buf)
            entries.clear()
            if run is None or run[0] != cur[0]:
                f.flush()
                os.fsync(f.fileno())
                f.close()

    try:
        for batch in batches:
            if not batch.num_rows:
                continue
            kg, op, sid = route_state_rows(batch, state_ids, max_parallelism, parallelism)
            keys = batch.column("key_ns").to_pylist()
            vals = batch.column("value").to_pylist()
            sids = sid.tolist()
            cuts = (np.flatnonzero((kg[1:] != kg[:-1]) | (op[1:] != op[:-1])) + 1).tolist()
            for s, e in zip([0, *cuts], [*cuts, len(kg)]):
                run = (int(op[s]), int(kg[s]))
                if run != cur:
                    if cur is not None and run < cur:
                        raise ValueError(
                            "savepoint task input is not ordered by "
                            f"(op_index, key_group): {run} follows {cur}"
                        )
                    end_section(run)
                    if cur is None or run[0] != cur[0]:
                        fpath = os.path.join(path, f"op-{run[0]}-{uuid.uuid4().hex}")
                        f = open(fpath, "wb")
                        handles.append({"path": fpath, "op_index": run[0], "offsets": {}})
                    cur = run
                entries.extend(zip(sids[s:e], keys[s:e], vals[s:e]))
        end_section(None)
    except BaseException:
        if f is not None:
            f.close()
        discard_files(path, handles)
        raise
    return handles


def commit_savepoint(path: str, meta: SavepointMeta, *, overwrite: bool) -> SavepointMeta:
    """The one savepoint commit: write ``meta`` as ``_bravo_metadata``
    through :func:`atomic_write` and return what was committed. Readers
    reach section files only through it, so the savepoint exists once this
    commits. ``overwrite`` deletes the prior files only after that, so a
    failed write, or one that reads the path it replaces, leaves the prior
    savepoint readable; otherwise ``meta`` is appended (:func:`_append_meta`)."""
    mpath = os.path.join(path, METADATA_FILE)
    prior = None
    if os.path.exists(mpath):
        try:
            prior = read_savepoint_meta(path)
        except ValueError:
            if not overwrite:
                raise  # an overwrite may replace damaged metadata
    if prior is not None and not overwrite:
        meta = _append_meta(prior, meta)
    with atomic_write(mpath, "w") as f:
        f.write(meta.to_json())
    if prior is not None and overwrite:
        keep = {section_path(path, fm) for fm in meta.files}
        discard_files(path, [fm for fm in prior.files if section_path(path, fm) not in keep])
    return meta


def _append_meta(prior: SavepointMeta, meta: SavepointMeta) -> SavepointMeta:
    """``meta`` merged onto ``prior``: max_parallelism (the key-group prefix
    width), parallelism (the prior files' op-index layout) and compression
    must match, and state_ids must agree on shared names and ids."""
    for field_ in ("max_parallelism", "parallelism", "compression"):
        if getattr(prior, field_) != getattr(meta, field_):
            raise ValueError(
                f"append with {field_}={getattr(meta, field_)} onto a "
                f"savepoint written with {getattr(prior, field_)}"
            )
    ids = {**meta.state_ids, **prior.state_ids}
    by_id: dict[int, str] = {}
    for name, sid in ids.items():
        if meta.state_ids.get(name, sid) != sid or by_id.setdefault(sid, name) != name:
            raise ValueError(
                f"append state_ids conflict for {name!r}: existing ids "
                f"{prior.state_ids}, new ids {meta.state_ids}"
            )
    return SavepointMeta(
        meta.max_parallelism, meta.parallelism, ids,
        compression=meta.compression, files=prior.files + meta.files,
    )


def section_path(path: str, fmeta: dict) -> str:
    """The section file a metadata entry names in the savepoint at
    ``path``: the file of that name in the savepoint directory, where the
    writers put them, so a copied or moved savepoint reads its own files;
    failing that, the recorded ``path`` (relative to the directory)."""
    local = os.path.join(path, os.path.basename(fmeta["path"]))
    return local if os.path.exists(local) else os.path.join(path, fmeta["path"])


def discard_files(path: str, handles: Iterable[dict]) -> None:
    """Delete the section files ``handles`` name in the savepoint at
    ``path``, skipping missing ones."""
    for h in handles:
        with suppress(OSError):
            os.remove(section_path(path, h))


@contextmanager
def discard_on_failure(path: str, staged: SavepointMeta):
    """Run the steps between :func:`stage_savepoint` and the metadata
    commit; if they raise, delete the ``staged`` section files that the
    metadata at ``path`` does not list, so a failed commit leaves no
    orphans and never removes a file a committed savepoint reads."""
    try:
        yield
    except BaseException:
        try:
            listed = {section_path(path, fm) for fm in read_savepoint_meta(path).files}
        except (OSError, ValueError):
            listed = set()
        discard_files(path, (h for h in staged.files if section_path(path, h) not in listed))
        raise


def read_savepoint_meta(path: str) -> SavepointMeta:
    """The savepoint's metadata. A missing ``_bravo_metadata`` raises
    ``FileNotFoundError``; a truncated or malformed one a ``ValueError``
    naming it."""
    mpath = os.path.join(path, METADATA_FILE)
    with open(mpath) as f:
        text = f.read()
    try:
        return SavepointMeta.from_json(text)
    except (ValueError, KeyError, TypeError, AttributeError) as ex:
        raise ValueError(f"{mpath}: unreadable savepoint metadata ({ex!r})") from ex


def read_savepoint(
    spark: SparkSession,
    path: str,
    *,
    state_filter: Callable[[str], bool] | None = None,
    state_names: list[str] | None = None,
    splits_per_file: int | None = None,
) -> DataFrame:
    """Scan a written savepoint back into the universal state-row relation.

    ``state_names``/``state_filter`` are pushed into the byte scan (F1): the
    decoder skips non-selected states' payloads without materializing them.
    Split sizing is byte-targeted (the ``maxPartitionBytes`` posture): each
    file yields ``ceil(bytes / TARGET_SPLIT_BYTES)`` key-group chunks, so a
    tiny savepoint is one task per file while a multi-GB subtask file fans
    out across the cluster. ``splits_per_file`` overrides with a fixed
    per-file count.
    """

    def state_rows(names, keys, vals):
        return pd.DataFrame({"state_name": names, "key_ns": keys, "value": vals})

    return _scan(
        spark, path, state_rows, STATE_ROW_SCHEMA, state_names=state_names,
        state_filter=state_filter, splits_per_file=splits_per_file,
    )


@dataclass(frozen=True)
class SavepointScan:
    """A savepoint's byte scan, handed to a typed reader in ``staterows``
    in place of a state-row DataFrame: the reader's decoder then runs
    inside the scan (:meth:`map_state`), which filters, projects and
    deserializes in one Python hop like the reference's flatMap readers
    (reader/ValueStateKVReader.java:39-62)."""

    spark: SparkSession
    path: str
    splits_per_file: int | None = None

    def map_state(self, state_name: str, decode, schema) -> DataFrame:
        """Scan only ``state_name``; ``decode(key_ns list, value list)``
        turns each split holding rows of it into a pandas frame of
        ``schema``."""
        return _scan(
            self.spark, self.path, lambda _names, keys, vals: decode(keys, vals),
            schema, state_names=[state_name], splits_per_file=self.splits_per_file,
        )


# Per-split byte target for the adaptive scan plan — the Python-side
# analog of spark.sql.files.maxPartitionBytes, sized smaller because each
# byte here crosses the Arrow boundary and is decoded in Python.
TARGET_SPLIT_BYTES = 32 * 1024 * 1024


def _plan_scan(path, state_names, state_filter, splits_per_file=None):
    meta = read_savepoint_meta(path)
    if state_names is not None:
        selected = set(state_names)
        state_filter = lambda n: n in selected  # noqa: E731
    elif state_filter is None:
        state_filter = lambda _n: True  # noqa: E731

    id_to_name = {v: k for k, v in meta.state_ids.items()}

    splits: list[tuple[str, list[tuple[int, int, int]]]] = []
    for fmeta in meta.files:
        fpath = section_path(path, fmeta)
        size = os.path.getsize(fpath)
        # valid-offset iteration (S5): only key groups with recorded offsets
        kgs = sorted((int(k), v) for k, v in fmeta["offsets"].items())
        if not kgs:
            continue
        spans = []
        for i, (kg, off) in enumerate(kgs):
            end = kgs[i + 1][1] if i + 1 < len(kgs) else size
            spans.append((kg, off, end))
        total = sum(end - off for _kg, off, end in spans)
        if splits_per_file is None:
            # adaptive: tiny files → one task (job-overhead floor dominates
            # below ~tens of MB); huge files → one task per TARGET bytes,
            # not a fixed 8 — at 100 TB the per-file fan-out must grow with
            # the file, and key groups are the only safe cut points.
            n = max(1, min(-(-total // TARGET_SPLIT_BYTES), len(spans)))
        else:
            n = max(1, min(splits_per_file, len(spans)))
        if n == 1:
            splits.append((fpath, spans))
            continue
        # greedy byte-balanced packing: key-group sizes skew (hot keys),
        # so cut on accumulated bytes rather than span count
        budget = total / n
        cur: list[tuple[int, int, int]] = []
        acc = 0
        for span in spans:
            cur.append(span)
            acc += span[2] - span[1]
            if acc >= budget:
                splits.append((fpath, cur))
                cur = []
                acc = 0
        if cur:
            splits.append((fpath, cur))
    return splits, id_to_name, state_filter, meta.compression


def task_frame(spark: SparkSession, col: str, items: list[str]) -> DataFrame:
    """A one-column frame of ``items``, one row per partition and no
    exchange: ``spark.range`` puts row i in partition i, and
    ``element_at`` looks its item up in a literal array. Each item then
    becomes one task of the Python map over the frame."""
    n = len(items)
    # an empty literal array has no element type; with no rows it is never read
    return spark.range(n, numPartitions=max(n, 1)).select(
        F.element_at(F.lit(items or [""]), (F.col("id") + 1).cast("int")).alias(col)
    )


def iter_file_spans(fpath, spans, id_to_name, state_filter, compressed=False):
    """The byte-scan inner loop: open one section file, read the given
    (key_group, start, end) spans, decompress when the savepoint is
    Snappy-framed, and decode → (state_name, key_ns, value)."""
    with open(fpath, "rb") as f:
        for _kg, off, end in spans:
            f.seek(off)
            buf = f.read(end - off)
            if compressed:
                buf = fastpath.frame_decompress(buf)
            yield from fc.iter_key_group_section(buf, id_to_name, state_filter)


def gather_split(fpath, spans, id_to_name, state_filter, compressed=False):
    """One split's selected rows as three lists (state names, key_ns,
    values): the per-split gather behind every savepoint scan front end,
    the mapInPandas scans here and the ``bravo_savepoint`` DataSource."""
    names, keys, vals = [], [], []
    for name, key, val in iter_file_spans(
        fpath, spans, id_to_name, state_filter, compressed
    ):
        names.append(name)
        keys.append(key)
        vals.append(val)
    return names, keys, vals


def _scan(spark, path, per_split, schema, *, state_names=None, state_filter=None,
          splits_per_file=None) -> DataFrame:
    """The savepoint scan: one task per planned split. Each split's
    gathered lists go to ``per_split(names, keys, values)``, which returns
    a pandas frame of ``schema``; a split holding no selected row yields
    no batch."""
    splits, id_to_name, state_filter, compressed = _plan_scan(
        path, state_names, state_filter, splits_per_file
    )

    def scan_splits(pdfs):
        for pdf in pdfs:
            for split in pdf["split"]:
                fpath, spans = json.loads(split)
                names, keys, vals = gather_split(
                    fpath, spans, id_to_name, state_filter, compressed
                )
                if keys:
                    yield per_split(names, keys, vals)

    frame = task_frame(spark, "split", [json.dumps(s) for s in splits])
    return frame.mapInPandas(scan_splits, schema=schema)


def read_savepoint_kv(
    spark: SparkSession,
    path: str,
    state_name: str,
    key_codec,
    value_codec,
    *,
    max_parallelism: int | None = None,
    ttl: bool = False,
    splits_per_file: int | None = None,
) -> DataFrame:
    """P1 over a savepoint: :func:`~bravo_spark.sources.staterows.
    read_value_kv` decoding inside the byte scan (:class:`SavepointScan`).

    ``max_parallelism`` defaults to the value recorded in the savepoint's
    own metadata — the key-group prefix width (1 vs 2 bytes) depends on it,
    so a wrong value silently mis-splits every key."""
    if max_parallelism is None:
        max_parallelism = read_savepoint_meta(path).max_parallelism
    return read_value_kv(
        SavepointScan(spark, path, splits_per_file), state_name, key_codec,
        value_codec, max_parallelism=max_parallelism, ttl=ttl,
    )


LATEST_POINTER = "LATEST"


def streaming_savepoint_sink(
    path: str,
    state_name: str,
    key_codec,
    value_codec,
    *,
    max_parallelism: int = 128,
    parallelism: int = 1,
    key_col: str = "key",
    value_col: str = "value",
    keep_history: bool = True,
):
    """A ``foreachBatch`` function that maintains a FLINK-READABLE mirror
    of a streaming aggregation's state: every micro-batch (complete-mode
    output) is serialized as a full savepoint under
    ``{path}/batch-{id}/`` and ``{path}/LATEST`` flips to it atomically
    (``atomic_write``), so a Flink-side consumer — or this
    engine's own savepoint source — always sees one consistent snapshot
    and never a half-written one. ``keep_history=False`` deletes the
    superseded batch dir after the pointer flip (the pointer is already
    durable, so a crash between the two steps leaves only garbage, never
    a dangling pointer).

    Use with ``.outputMode("complete")`` — each batch must carry the
    FULL keyed result, exactly the savepoint semantic. Read the mirror
    back with :func:`latest_savepoint_path` + ``read_savepoint``."""

    def write_batch(df, batch_id: int) -> None:
        import shutil

        from bravo_spark.sources import staterows as sr

        target = os.path.join(path, f"batch-{batch_id}")
        kv = df.select(
            df[key_col].alias("key"), df[value_col].alias("value")
        )
        rows = sr.kv_to_state_rows(
            kv, state_name, key_codec, value_codec,
            max_parallelism=max_parallelism,
        )
        write_savepoint(
            rows, target,
            max_parallelism=max_parallelism, parallelism=parallelism,
        )
        prev = latest_savepoint_path(path)
        with atomic_write(os.path.join(path, LATEST_POINTER), "w") as f:
            f.write(f"batch-{batch_id}")
        if not keep_history and prev is not None and prev != target:
            shutil.rmtree(prev, ignore_errors=True)

    return write_batch


def latest_savepoint_path(path: str) -> str | None:
    """The directory ``{path}/LATEST`` points to, or None before the
    first committed batch."""
    p = os.path.join(path, LATEST_POINTER)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return os.path.join(path, f.read().strip())
