"""User-facing facade with the reference's API shape.

A user of king/bravo drives everything through ``OperatorStateReader`` /
``OperatorStateWriter`` (README.md:67-166); this module gives the same
surface 1:1 on Spark so switching is mechanical:

reference (Java)                              → bravo_spark (Python)
-----------------------------------------------------------------------------
``new OperatorStateReader(env, sp, uid)``     → ``OperatorStateReader(spark, path, uid)``
``reader.readKeyedStates(KeyedStateReader     → ``reader.read_value_kv(name, kc, vc)``
  .forValueStateKVPairs(name, ...))``            (and list/map/window variants)
``reader.getAllUnreadKeyedStateRows()``       → ``reader.unread_state_rows()``
``reader.createOperatorStateBackendFrom       → ``reader.operator_state_backend(i)``
  Snapshot(i)``
``new OperatorStateWriter(sp, uid, path)``    → ``OperatorStateWriter(reader, path)``
``writer.addValueState(name, ds)``            → ``writer.add_value_state(name, df, kc, vc)``
``writer.createNewValueState(name, ds, ser)`` → ``writer.create_new_value_state(...)``
``writer.deleteKeyedState(name)``             → ``writer.delete_keyed_state(name)``
``writer.addKeyedStateRows(rows)``            → ``writer.add_keyed_state_rows(df)``
``writer.transformNonKeyedState(fn)``         → ``writer.transform_non_keyed_state(fn)``
``writer.writeAll()``                         → ``writer.write_all()``

Operator addressing: the reference resolves operators by
murmur3_128(uid) (utils/Identifiers.java:29-37); we keep the same id
computation (codecs.hashes.operator_id) — savepoints written here record it
so uid-addressed lookup behaves identically.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from bravo_spark.codecs import flink as fc
from bravo_spark.codecs.hashes import operator_id
from bravo_spark.sources import operator_state as ops
from bravo_spark.sources import savepoint as sp
from bravo_spark.sources import staterows as sr


class OperatorStateReader:
    """EP1 — read & analyze keyed state (OperatorStateReader.java:72-158).

    The all-state scan is built lazily and memoized (the reference
    memoizes ``allKeyedStateRows``, :125-158); each typed reader scans
    only its own state, with the name pushed into the byte scan, and
    decodes it inside that scan (``savepoint.SavepointScan``).
    """

    def __init__(self, spark: SparkSession, path: str, uid: str | None = None):
        self.spark = spark
        self.path = path
        self.uid = uid
        self.operator_id = operator_id(uid).hex() if uid else None
        self.meta = sp.read_savepoint_meta(path)
        self._scan = sp.SavepointScan(spark, path)
        self._rows: DataFrame | None = None
        self._read_names: set[str] = set()

    @property
    def max_parallelism(self) -> int:
        return self.meta.max_parallelism

    def all_keyed_state_rows(self) -> DataFrame:
        if self._rows is None:
            self._rows = sp.read_savepoint(self.spark, self.path)
        return self._rows

    def keyed_state_rows(self, names: list[str]) -> DataFrame:
        """F4 — named subset (OperatorStateReader.java:148-152). The names
        are pushed into the byte scan, so other states are never decoded
        or sent across the Arrow edge."""
        return sp.read_savepoint(self.spark, self.path, state_names=names)

    def unread_state_rows(self) -> DataFrame:
        """F3 — complement of everything parsed so far
        (OperatorStateReader.java:131-140): the rows to migrate untouched."""
        return sr.exclude_states(self.all_keyed_state_rows(), sorted(self._read_names))

    # --- typed readers (P1-P7); each marks its state as read ---

    def _mark(self, name: str) -> None:
        self._read_names.add(name)

    def read_value_kv(self, name, key_codec, value_codec, *, ttl=False) -> DataFrame:
        self._mark(name)
        return sr.read_value_kv(
            self._scan, name, key_codec, value_codec,
            max_parallelism=self.max_parallelism, ttl=ttl,
        )

    def read_value_values(self, name, value_codec, *, ttl=False) -> DataFrame:
        self._mark(name)
        return sr.read_value_values(self._scan, name, value_codec, ttl=ttl)

    def read_list_flatten(self, name, key_codec, element_codec, *, ttl=False) -> DataFrame:
        self._mark(name)
        return sr.read_list_flatten(
            self._scan, name, key_codec, element_codec,
            max_parallelism=self.max_parallelism, ttl=ttl,
        )

    def read_list_as_list(self, name, key_codec, element_codec, *, ttl=False) -> DataFrame:
        self._mark(name)
        return sr.read_list_as_list(
            self._scan, name, key_codec, element_codec,
            max_parallelism=self.max_parallelism, ttl=ttl,
        )

    def read_map_entries(
        self, name, key_codec, map_key_codec, value_codec, *, ttl=False
    ) -> DataFrame:
        self._mark(name)
        return sr.read_map_entries(
            self._scan, name, key_codec, map_key_codec,
            value_codec, max_parallelism=self.max_parallelism, ttl=ttl,
        )

    def read_map_values(self, name, value_codec, *, ttl=False) -> DataFrame:
        self._mark(name)
        return sr.read_map_values(self._scan, name, value_codec, ttl=ttl)

    def read_window_kv(self, key_codec, value_codec, *, ttl=False) -> DataFrame:
        self._mark(sr.WINDOW_STATE_NAME)
        return sr.read_window_kv(
            self._scan, key_codec, value_codec,
            max_parallelism=self.max_parallelism, ttl=ttl,
        )

    def read_window_kv_with_bounds(self, key_codec, value_codec, *, ttl=False) -> DataFrame:
        """P7 full — window-contents with TimeWindow (start, end) decoded."""
        self._mark(sr.WINDOW_STATE_NAME)
        return sr.read_window_kv_with_bounds(
            self._scan, key_codec, value_codec,
            max_parallelism=self.max_parallelism, ttl=ttl,
        )

    def read_custom(self, name, decode_row, schema) -> DataFrame:
        """X1 — user-defined reader fn(key_ns, value) -> iterable of tuples."""
        self._mark(name)
        return sr.read_custom(self._scan, name, decode_row, schema)

    # --- non-keyed state (EP3 read side) ---

    def operator_state_backend(self, subtask: int) -> ops.OperatorStateBackend:
        return ops.read_operator_state(self.path)[subtask]

    def operator_state_backends(self) -> list[ops.OperatorStateBackend]:
        return ops.read_operator_state(self.path)


class OperatorStateWriter:
    """EP2 — transform & write back (OperatorStateWriter.java:84-283)."""

    def __init__(
        self,
        source: OperatorStateReader | None,
        new_path: str,
        *,
        spark: SparkSession | None = None,
        max_parallelism: int | None = None,
        parallelism: int | None = None,
    ):
        if source is not None:
            self.spark = source.spark
            self.max_parallelism = max_parallelism or source.meta.max_parallelism
            self.parallelism = parallelism or source.meta.parallelism
        else:
            if spark is None or max_parallelism is None or parallelism is None:
                raise ValueError(
                    "bootstrap mode needs spark, max_parallelism, parallelism"
                )
            self.spark = spark
            self.max_parallelism = max_parallelism
            self.parallelism = parallelism
        self.source = source
        self.new_path = new_path
        self._added: list[DataFrame] = []
        self._added_names: list[str] = []
        self._deleted: set[str] = set()
        self._nk_transform: Callable[[int, ops.OperatorStateBackend], None] | None = None

    def add_value_state(self, name, kv_df: DataFrame, key_codec, value_codec) -> None:
        """Replace/add a value state from a (key, value) DataFrame
        (OperatorStateWriter.java:176-190; TTL write unsupported there too)."""
        rows = sr.kv_to_state_rows(
            kv_df, name, key_codec, value_codec, max_parallelism=self.max_parallelism
        )
        self._added.append(rows)
        self._added_names.append(name)

    # the reference distinguishes add (existing meta) from create (new meta
    # entry, OperatorStateWriter.java:204-216); our metadata is derived from
    # the rows either way, so create == add
    create_new_value_state = add_value_state

    def add_keyed_state_rows(self, rows: DataFrame) -> None:
        """U1 — accumulate raw rows (OperatorStateWriter.java:127-130)."""
        self._added.append(rows)

    def delete_keyed_state(self, name: str) -> None:
        """Drop a state (OperatorStateWriter.java:138-141)."""
        self._deleted.add(name)

    def transform_non_keyed_state(
        self, fn: Callable[[int, ops.OperatorStateBackend], None]
    ) -> None:
        self._nk_transform = fn

    def write_all(self) -> sp.SavepointMeta:
        # Reference semantics (OperatorStateWriter.java:225-253): ONLY the
        # accumulated rows are written — untouched states are migrated
        # explicitly by the user via reader.unread_state_rows() (the
        # RowFilter drops rows of deleted states from whatever was added).
        parts = [
            sr.exclude_states(df, sorted(self._deleted)) if self._deleted else df
            for df in self._added
        ]
        if not parts:
            raise ValueError("nothing to write")
        rows = parts[0]
        for df in parts[1:]:
            rows = rows.unionByName(df)
        meta = sp.stage_savepoint(
            rows,
            self.new_path,
            max_parallelism=self.max_parallelism,
            parallelism=self.parallelism,
        )
        with sp.discard_on_failure(self.new_path, meta):
            # EP3 write side: carry over (optionally transformed) operator
            # state before the metadata commits, so no reader opens a
            # savepoint without it
            if self.source is not None:
                backends = ops.read_operator_state(self.source.path)
            else:
                backends = [ops.OperatorStateBackend() for _ in range(self.parallelism)]
            if self._nk_transform is not None:
                for i, b in enumerate(backends):
                    self._nk_transform(i, b)
            ops.write_operator_state(self.new_path, backends)
            return sp.commit_savepoint(self.new_path, meta, overwrite=True)


def rescale_savepoint(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    *,
    new_parallelism: int,
    new_max_parallelism: int | None = None,
    key_codecs: dict[str, tuple] | None = None,
) -> sp.SavepointMeta:
    """The reference's change-max-parallelism use case (README.md:44).

    Changing **parallelism** only re-shuffles existing rows to new operator
    indexes (key groups are invariant) — pure byte-level, no decode.
    Changing **max_parallelism** changes the key-group function itself, so
    each row's key-group prefix must be recomputed: pass ``key_codecs`` as
    ``{state_name: key_codec}`` (a ``(key_codec, value_codec)`` tuple is
    also accepted; the value codec is ignored) for every state in the
    snapshot. Only the key is decoded — key bytes, namespace, and the value
    payload pass through untouched, so value/list/map/TTL states are all
    rescaled losslessly. Non-keyed operator state is carried over with
    Flink's rescale semantics (list split / union+broadcast everywhere).
    """
    reader = OperatorStateReader(spark, src_path)
    old_maxp = reader.meta.max_parallelism
    maxp = new_max_parallelism or old_maxp

    if maxp == old_maxp:
        rows = reader.all_keyed_state_rows()
    else:
        if not key_codecs:
            raise ValueError(
                "changing max_parallelism requires key_codecs to re-route keys"
            )
        missing = set(reader.meta.state_ids) - set(key_codecs)
        if missing:
            raise ValueError(f"key_codecs missing for states: {sorted(missing)}")
        kcs = {
            name: (c[0] if isinstance(c, tuple) else c)
            for name, c in key_codecs.items()
        }
        rows = sr.reroute_state_rows(
            reader.all_keyed_state_rows(),
            kcs,
            old_max_parallelism=old_maxp,
            new_max_parallelism=maxp,
        )

    meta = sp.stage_savepoint(
        rows,
        dst_path,
        max_parallelism=maxp,
        parallelism=new_parallelism,
        state_ids=dict(reader.meta.state_ids),
    )
    with sp.discard_on_failure(dst_path, meta):
        ops.write_operator_state(
            dst_path, ops.read_operator_state(src_path, parallelism=new_parallelism)
        )
        return sp.commit_savepoint(dst_path, meta, overwrite=True)


# codec shortcuts for API users
INT, LONG, STRING, BOOL, DOUBLE, FLOAT, BYTES = (
    fc.INT, fc.LONG, fc.STRING, fc.BOOL, fc.DOUBLE, fc.FLOAT, fc.BYTES,
)
