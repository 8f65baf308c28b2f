"""Savepoint scan as a first-class PySpark Python DataSource.

``spark.read.format("bravo_savepoint").load(path)`` yields the universal
state-row relation (state_name, key_ns, value) through Spark's own source
integration (``pyspark.sql.datasource``, Spark 4.x) instead of the
mapInPandas fallback — same bytes, same splits, but the scan now
participates in Spark's planning like any native source:

- **State selection per load**: ``.option("state_names", "A,B")``
  narrows the byte scan to those states — the decoder length-skips every
  other state's payloads. The reference achieves the same effect inside
  its InputFormat (reader/inputformat/RocksDBKeyedStateInputFormat.java:
  46-47). ``state_name`` filters are not pushed into the source: Spark
  keeps one mutable pushdown state per loaded relation, so two filters on
  one ``load()`` would overwrite each other's selection; they stay
  ordinary Spark filters instead.
- **Byte-targeted partition planning**: one :class:`InputPartition` per
  ``_plan_scan`` split (the ``maxPartitionBytes``-posture sizing shared
  with ``read_savepoint``), so tiny savepoints are one task per file and
  multi-GB subtask files fan out.
- **Arrow batches**: ``read`` yields ``pyarrow.RecordBatch`` — the
  zero-pickling path through the Python worker.

``read_savepoint`` (sources/savepoint.py) remains the library-call path;
this module is the ``spark.read`` front door for the same scan. Register
once per session with :func:`register` (idempotent).
"""

from __future__ import annotations

import json

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceArrowWriter,
    InputPartition,
    WriterCommitMessage,
)


@dataclass
class SavepointCommit(WriterCommitMessage):
    files: list  # the task's file handles: {path, op_index, offsets}

def _state_row_schema():
    """The canonical universal state-row schema, imported lazily so this
    module stays import-light on executors."""
    from bravo_spark.sources.staterows import STATE_ROW_SCHEMA

    return STATE_ROW_SCHEMA


class SavepointDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "bravo_savepoint"

    def schema(self):
        return _state_row_schema()

    def reader(self, schema) -> "SavepointScanReader":
        return SavepointScanReader(self.options)

    def writer(self, schema, overwrite: bool) -> "SavepointWriter":
        return SavepointWriter(self.options, overwrite)


class _StateNameReader(DataSourceReader):
    """Shared base for the bravo scan readers: ``path`` and the
    ``state_names`` narrowing option are parsed in ONE place, so both
    formats select states identically."""

    _WHAT = "a directory"

    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError(
                f"{type(self).__name__} needs {self._WHAT}: "
                ".load('/path') or .option('path', ...)"
            )
        self.path = path
        names = options.get("state_names")
        self.state_names: set[str] | None = (
            {n.strip() for n in names.split(",") if n.strip()} if names else None
        )


class SavepointScanReader(_StateNameReader):
    _WHAT = "a savepoint directory"

    def partitions(self):
        from bravo_spark.sources.savepoint import _plan_scan

        if self.state_names is not None and not self.state_names:
            # the option names no state — no bytes to scan
            return [InputPartition(json.dumps(
                {"ids": {}, "names": [], "compressed": False,
                 "file": None, "spans": []}))]
        names = sorted(self.state_names) if self.state_names is not None else None
        splits, id_to_name, _filt, compressed = _plan_scan(self.path, names, None)
        payload_base = {
            "ids": {str(k): v for k, v in id_to_name.items()},
            "names": names,
            "compressed": compressed,
        }
        return [
            InputPartition(
                json.dumps({**payload_base, "file": fpath, "spans": spans})
            )
            for fpath, spans in splits
        ] or [InputPartition(json.dumps({**payload_base, "file": None, "spans": []}))]

    def read(self, partition: InputPartition):
        import pyarrow as pa

        from bravo_spark.sources.savepoint import iter_file_spans

        spec = json.loads(partition.value)
        if spec["file"] is None:
            return
        id_to_name = {int(k): v for k, v in spec["ids"].items()}
        allowed = set(spec["names"]) if spec["names"] is not None else None
        state_filter = (lambda n: n in allowed) if allowed is not None else (lambda _n: True)
        names, keys, vals = [], [], []
        for name, key, val in iter_file_spans(
            spec["file"], spec["spans"], id_to_name, state_filter,
            spec["compressed"],
        ):
            names.append(name)
            keys.append(key)
            vals.append(val)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(names, type=pa.string()),
                pa.array(keys, type=pa.binary()),
                pa.array(vals, type=pa.binary()),
            ],
            names=["state_name", "key_ns", "value"],
        )


class SavepointWriter(DataSourceArrowWriter):
    """``df.write.format("bravo_savepoint")`` — S7 through the engine's
    sink contract: a thin front door over ``write_savepoint``'s task
    writer and commit (sources/savepoint.py). Each task sorts ITS rows by
    (op_index, key_group, state_id) with a numpy ``lexsort`` — it
    holds one task partition in memory, so size upstream partitions
    accordingly — and hands them to ``write_task_sections``. Tasks may
    write several files for one operator index (the scan concatenates
    partial key-group sections); pre-shape with ``repartition(parallelism,
    "op_index")`` for the one-file-per-operator layout a Flink restore
    expects, or use ``write_savepoint``, which shuffles and sorts in the JVM.

    New files stay unreachable until ``commit`` writes ``_bravo_metadata``
    through ``commit_savepoint``: overwrite deletes the old files only
    after that, append merges the metadata (max_parallelism, parallelism
    and compression must match, state_ids must agree). A failed task
    deletes its own files; ``abort`` deletes those of finished tasks.

    ``state_ids`` and ``max_parallelism`` are REQUIRED options: tasks
    cannot collect the global name→id mapping, and a defaulted
    max_parallelism would silently mis-derive every key group (the prefix
    width inside key_ns depends on it)."""

    def __init__(self, options, overwrite: bool):
        import os

        path = options.get("path")
        if not path:
            raise ValueError(
                "bravo_savepoint write needs .save('/path') or .option('path', ...)"
            )
        sids = options.get("state_ids")
        if not sids:
            raise ValueError(
                'bravo_savepoint write requires .option("state_ids", '
                '\'{"Name": 0, ...}\') — executor tasks cannot derive the '
                "global name→id mapping"
            )
        maxp = options.get("max_parallelism")
        if not maxp:
            raise ValueError(
                'bravo_savepoint write requires .option("max_parallelism", '
                "...) matching the value the rows were ENCODED with — a "
                "default would silently mis-read key bytes as group bytes "
                "when it disagrees with the key_ns prefix width"
            )
        self.path = path
        self.overwrite = overwrite
        self.state_ids: dict[str, int] = {
            str(k): int(v) for k, v in json.loads(sids).items()
        }
        self.max_parallelism = int(maxp)
        self.parallelism = int(options.get("parallelism", "1"))
        self.compression = str(options.get("compression", "false")).lower() == "true"
        os.makedirs(path, exist_ok=True)

    def write(self, batches):
        import numpy as np
        import pyarrow as pa

        from bravo_spark.sources import savepoint as sp

        batches = [b for b in batches if b.num_rows]
        if not batches:
            return SavepointCommit([])
        routed = [
            sp.route_state_rows(b, self.state_ids, self.max_parallelism, self.parallelism)
            for b in batches
        ]
        kg, op, sid = (np.concatenate(a) for a in zip(*routed))
        # the take concatenates the task's batches: 64-bit offsets let a
        # column pass the 2 GiB that 32-bit binary offsets can address
        large = pa.schema([("state_name", pa.large_string()),
                           ("key_ns", pa.large_binary()), ("value", pa.large_binary())])
        tbl = pa.Table.from_batches(batches).select(large.names).cast(large)
        return SavepointCommit(sp.write_task_sections(
            tbl.take(np.lexsort((sid, kg, op))).to_batches(), self.path,
            state_ids=self.state_ids, max_parallelism=self.max_parallelism,
            parallelism=self.parallelism, compression=self.compression,
        ))

    @staticmethod
    def _new_files(messages):
        return [h for m in messages or [] if m is not None for h in m.files]

    def commit(self, messages):
        from bravo_spark.sources import savepoint as sp

        sp.commit_savepoint(
            self.path,
            sp.SavepointMeta(
                self.max_parallelism, self.parallelism, dict(self.state_ids),
                compression=self.compression, files=self._new_files(messages),
            ),
            overwrite=self.overwrite,
        )

    def abort(self, messages):
        from bravo_spark.sources import savepoint as sp

        sp.discard_files(self.path, self._new_files(messages))


class CheckpointDataSource(DataSource):
    """``spark.read.format("bravo_checkpoint").load(ckpt_dir)`` — the
    incremental-checkpoint (RocksDB SST) scan through the engine's source
    contract. Yields the RAW per-version relation (state_name, key_ns,
    seq, vtype, value): apply :func:`bravo_spark.sources.checkpoint.
    resolve_lsm` on top for the merged view, the same JVM-side fold
    ``read_incremental_checkpoint`` uses.

    ``.option("state_names", "A,B")`` becomes COLUMN-FAMILY pruning at
    plan time: each SST names its column family in its properties block,
    so a non-selected file costs one footer+properties read on the driver
    and gets no task. A damaged SST is refused by name when the scan is
    planned.

    ``.option("verify_checksums", "true")`` switches on the
    integrity-audit mode (same contract as the functional API's kwarg):
    every block trailer is verified before decode, so a corrupt
    checkpoint fails the task loudly instead of yielding garbage."""

    @classmethod
    def name(cls) -> str:
        return "bravo_checkpoint"

    def schema(self) -> str:
        from bravo_spark.sources.checkpoint import _RAW_SCHEMA

        return _RAW_SCHEMA

    def reader(self, schema) -> "CheckpointScanReader":
        return CheckpointScanReader(self.options)


class CheckpointScanReader(_StateNameReader):
    _WHAT = "a checkpoint directory"

    def __init__(self, options):
        super().__init__(options)
        # integrity-audit mode (r13 functional-API option, plumbed through
        # the format front door): verify every block trailer before decode
        self.verify_checksums = (
            str(options.get("verify_checksums", "false")).lower() == "true"
        )

    def partitions(self):
        from bravo_spark.sources.checkpoint import (
            discover_sst_files,
            group_by_column_family,
        )

        # either layout: a Flink checkpoint (_metadata walk) or a
        # transferred/self-written directory (glob) — same discovery and
        # the same plan-time column-family grouping as the library path
        groups = group_by_column_family(
            discover_sst_files(self.path),
            None if self.state_names is None else self.state_names.__contains__,
        )
        # no selected file (a metadata referencing no .sst, or no matching
        # state) must still yield a well-formed empty relation: Spark
        # replaces an empty partitions list with [None], which would crash
        # read(None) — mirror SavepointScanReader's {file: None} sentinel
        return [
            InputPartition(json.dumps(
                {"file": p, "state_name": name, "verify": self.verify_checksums}))
            for name, paths in sorted(groups.items())
            for p in paths
        ] or [InputPartition(json.dumps(
            {"file": None, "state_name": None, "verify": self.verify_checksums}))]

    def read(self, partition: InputPartition):
        import pyarrow as pa

        from bravo_spark.sources.checkpoint import sst_columns

        spec = json.loads(partition.value)
        if spec["file"] is None:
            return
        columns = sst_columns(spec["file"], spec["verify"])
        if not columns:
            return
        keys, seqs, types, vals = columns
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([spec["state_name"]] * len(keys), type=pa.string()),
                pa.array(keys, type=pa.binary()),
                pa.array(seqs, type=pa.int64()),
                pa.array(types, type=pa.int32()),
                pa.array(vals, type=pa.binary()),
            ],
            names=["state_name", "key_ns", "seq", "vtype", "value"],
        )


def register(spark) -> None:
    """Idempotently register the bravo formats on a session."""
    for source in (SavepointDataSource, CheckpointDataSource):
        try:
            spark.dataSource.register(source)
        except Exception as exc:  # already registered → keep the session's copy
            if "already" not in str(exc).lower():
                raise
