"""The universal state-row relation and its typed projections.

Reference data model (SURVEY.md §1.1): every piece of keyed state is a
``KeyedStateRow = (state_name, key_ns_bytes, value_bytes)``
(types/KeyedStateRow.java:35-45). Here that's a DataFrame with schema
``STATE_ROW_SCHEMA``. The "readers" of the reference (flatMap filter +
project + decode, reader/ValueStateKVReader.java:39-62 etc.) each build one
batch decoder (a numpy fast path for fixed-width layouts, the scalar codecs
otherwise) and apply it one of two ways, always in one Python hop:

- over any state-row DataFrame (a checkpoint read, a user relation):
  ``filter(state_name) → mapInPandas(decode)``;
- over a ``savepoint.SavepointScan`` (what ``api.OperatorStateReader``
  passes): inside the byte scan, so only the read state's payloads are
  decoded and no state row crosses the Arrow edge.

Scale note: decode is embarrassingly parallel and preserves partitioning;
the only shuffle in any snapshot pipeline is the writer's repartition by
operator index (``savepoint.write_savepoint``). The state_name filter runs
BEFORE decode, so Catalyst folds away a checkpoint scan branch of another
column family.
"""

from __future__ import annotations

from typing import Any, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from bravo_spark.codecs import flink as fc
from bravo_spark.codecs import hashes as kh
from bravo_spark.codecs import vectorized as vz

STATE_ROW_SCHEMA = StructType(
    [
        StructField("state_name", StringType(), False),
        StructField("key_ns", BinaryType(), False),
        StructField("value", BinaryType(), False),
    ]
)

_SPARK_TYPES: dict[str, DataType] = {
    "int": IntegerType(),
    "long": LongType(),
    "short": IntegerType(),
    "boolean": BooleanType(),
    "double": DoubleType(),
    "float": FloatType(),
    "string": StringType(),
    "bytes": BinaryType(),
}


def spark_type_for(codec: fc.Codec) -> DataType:
    if codec.fields is not None:  # POJO -> struct of its members
        return StructType(
            [
                StructField(n, spark_type_for(c), True)
                for n, c in codec.fields
            ]
        )
    name = codec.name
    if name.startswith("kryo<") and name.endswith(">"):
        # kryo<X> carries X's column type but must NOT be named X: the
        # plain name would dispatch onto the fixed-width numpy fast path,
        # silently bypassing Kryo framing on both read and write
        name = name[len("kryo<") : -1]
        # kryo-only type names that lack a plain-codec mapping
        name = {"char": "string", "byte": "int"}.get(name, name)
    try:
        return _SPARK_TYPES[name]
    except KeyError:
        raise KeyError(f"no Spark type mapping for codec {codec.name!r}") from None


# ---------------------------------------------------------------------------
# filters on the raw relation (SURVEY §2.3 F2/F3/F4)
# ---------------------------------------------------------------------------


def filter_states(rows: DataFrame, names: list[str]) -> DataFrame:
    """F2 — keep rows of the named states (writer/functions/RowFilter.java:27-39)."""
    return rows.filter(F.col("state_name").isin(names))


def exclude_states(rows: DataFrame, names: list[str]) -> DataFrame:
    """F3 — complement: the untouched rows kept for write-back
    (reader/OperatorStateReader.java:131-140)."""
    return rows.filter(~F.col("state_name").isin(names))


# ---------------------------------------------------------------------------
# typed readers (SURVEY §2.2 P1-P7): state rows -> typed DataFrames
# ---------------------------------------------------------------------------


def _reader(
    rows,
    state_name: str,
    decode_row,
    schema: StructType,
    fast=None,
) -> DataFrame:
    """One typed read through one decoder. ``decode(key_ns list, value
    list)`` returns a batch's typed frame: ``fast`` (the numpy path)
    returns its output columns, or None when the batch must take the
    scalar ``decode_row`` instead (ragged layout). On a state-row
    DataFrame the decoder runs in a mapInPandas after ``filter(state_name)``;
    on a ``savepoint.SavepointScan`` it runs inside the byte scan, which
    hands it only non-empty splits of ``state_name``."""
    cols = [f.name for f in schema.fields]

    def decode(keys: list, vals: list) -> pd.DataFrame:
        got = None if fast is None else fast(keys, vals)
        if got is None:
            got = [[] for _ in cols]
            for key_ns, value in zip(keys, vals):
                for rec in decode_row(key_ns, value):
                    for out, v in zip(got, rec):
                        out.append(v)
        return pd.DataFrame(dict(zip(cols, got)), columns=cols)

    if not isinstance(rows, DataFrame):
        return rows.map_state(state_name, decode, schema)

    def run(batches: Iterator[pd.DataFrame]):
        for pdf in batches:
            yield decode(
                [bytes(b) for b in pdf["key_ns"]], [bytes(b) for b in pdf["value"]]
            )

    filtered = rows.filter(F.col("state_name") == state_name).select("key_ns", "value")
    return filtered.mapInPandas(run, schema=schema)


def read_value_kv(
    rows: DataFrame,
    state_name: str,
    key_codec: fc.Codec,
    value_codec: fc.Codec,
    *,
    max_parallelism: int = 128,
    ttl: bool = False,
    namespace_codec: fc.Codec = fc.VOID_NAMESPACE,
) -> DataFrame:
    """P1 — value state as (key, value) (reader/ValueStateKVReader.java:39-62).

    Fixed-width codec pairs decode through the numpy fast path
    (codecs.vectorized); everything else uses the scalar codecs.
    """
    key_codec = fc.unwrap_tuple1_key(key_codec)  # reference Tuple1 parity
    prefix = fc.key_group_prefix_bytes(max_parallelism)

    def decode(key_ns: bytes, value: bytes):
        r = fc.ByteReader(key_ns, prefix)
        key = key_codec.decode(r)
        yield (key, fc.decode_value_state(value, value_codec, ttl=ttl))

    schema = StructType(
        [
            StructField("key", spark_type_for(key_codec), True),
            StructField("value", spark_type_for(value_codec), True),
        ]
    )

    def fast(key_ns, values):
        return vz.decode_kv_fixed(
            key_ns, values, key_codec, value_codec, max_parallelism, ttl=ttl
        )

    fixed = vz.is_fixed(key_codec) and vz.is_fixed(value_codec)
    return _reader(rows, state_name, decode, schema, fast if fixed else None)


def read_value_values(
    rows: DataFrame,
    state_name: str,
    value_codec: fc.Codec,
    *,
    ttl: bool = False,
) -> DataFrame:
    """P2 — value state, values only (reader/ValueStateValueReader.java:35-54)."""

    def decode(_key_ns: bytes, value: bytes):
        yield (fc.decode_value_state(value, value_codec, ttl=ttl),)

    schema = StructType([StructField("value", spark_type_for(value_codec), True)])
    return _reader(rows, state_name, decode, schema)


def read_list_flatten(
    rows: DataFrame,
    state_name: str,
    key_codec: fc.Codec,
    element_codec: fc.Codec,
    *,
    max_parallelism: int = 128,
    ttl: bool = False,
) -> DataFrame:
    """P3 — list state exploded to (key, element)
    (reader/ListStateFlattenReader.java:39-63).

    Fixed-width key and element codecs decode through the numpy fast
    path (codecs.vectorized); everything else uses the scalar codecs."""
    key_codec = fc.unwrap_tuple1_key(key_codec)  # reference Tuple1 parity
    prefix = fc.key_group_prefix_bytes(max_parallelism)

    def decode(key_ns: bytes, value: bytes):
        r = fc.ByteReader(key_ns, prefix)
        key = key_codec.decode(r)
        for el in fc.decode_list_state(value, element_codec, ttl=ttl):
            yield (key, el)

    def fast(key_ns, values):
        got = vz.decode_list_fixed(
            key_ns, values, key_codec, element_codec, max_parallelism, ttl=ttl
        )
        return None if got is None else got[:2]

    schema = StructType(
        [
            StructField("key", spark_type_for(key_codec), True),
            StructField("value", spark_type_for(element_codec), True),
        ]
    )
    fixed = vz.is_fixed(key_codec) and vz.is_fixed(element_codec)
    return _reader(rows, state_name, decode, schema, fast if fixed else None)


def read_list_as_list(
    rows: DataFrame,
    state_name: str,
    key_codec: fc.Codec,
    element_codec: fc.Codec,
    *,
    max_parallelism: int = 128,
    ttl: bool = False,
) -> DataFrame:
    """P4 — list state as (key, ARRAY<V>) (reader/ListStateListReader.java:43-60).
    Same numpy fast path and fallback as :func:`read_list_flatten`."""
    key_codec = fc.unwrap_tuple1_key(key_codec)  # reference Tuple1 parity
    prefix = fc.key_group_prefix_bytes(max_parallelism)

    def decode(key_ns: bytes, value: bytes):
        r = fc.ByteReader(key_ns, prefix)
        key = key_codec.decode(r)
        yield (key, fc.decode_list_state(value, element_codec, ttl=ttl))

    def fast(key_ns, values):
        got = vz.decode_list_fixed(
            key_ns, values, key_codec, element_codec, max_parallelism, ttl=ttl
        )
        if got is None:
            return None
        keys, elements, counts = got
        starts = np.cumsum(counts) - counts
        return keys[starts], np.split(elements, starts[1:])

    schema = StructType(
        [
            StructField("key", spark_type_for(key_codec), True),
            StructField("value", ArrayType(spark_type_for(element_codec)), True),
        ]
    )
    fixed = vz.is_fixed(key_codec) and vz.is_fixed(element_codec)
    return _reader(rows, state_name, decode, schema, fast if fixed else None)


def read_map_entries(
    rows: DataFrame,
    state_name: str,
    key_codec: fc.Codec,
    map_key_codec: fc.Codec,
    value_codec: fc.Codec,
    *,
    max_parallelism: int = 128,
    ttl: bool = False,
) -> DataFrame:
    """P5 — map state as (key, map_key, value) triplets
    (reader/MapStateKKVReader.java:51-82). Null map values are rejected, as
    in the reference (:78-80)."""
    key_codec = fc.unwrap_tuple1_key(key_codec)  # reference Tuple1 parity
    prefix = fc.key_group_prefix_bytes(max_parallelism)

    def decode(key_ns: bytes, value: bytes):
        r = fc.ByteReader(key_ns, prefix)
        key = key_codec.decode(r)
        fc.VOID_NAMESPACE.decode(r)
        map_key = map_key_codec.decode(r)
        v = fc.decode_map_value(value, value_codec, ttl=ttl)
        if v is None:
            raise ValueError("MapStates with null values are not supported")
        yield (key, map_key, v)

    schema = StructType(
        [
            StructField("key", spark_type_for(key_codec), True),
            StructField("map_key", spark_type_for(map_key_codec), True),
            StructField("value", spark_type_for(value_codec), True),
        ]
    )
    return _reader(rows, state_name, decode, schema)


def read_map_values(
    rows: DataFrame,
    state_name: str,
    value_codec: fc.Codec,
    *,
    ttl: bool = False,
) -> DataFrame:
    """P6 — map state values only (reader/MapStateValueReader.java:35-56)."""

    def decode(_key_ns: bytes, value: bytes):
        v = fc.decode_map_value(value, value_codec, ttl=ttl)
        if v is None:
            raise ValueError("MapStates with null values are not supported")
        yield (v,)

    schema = StructType([StructField("value", spark_type_for(value_codec), True)])
    return _reader(rows, state_name, decode, schema)


WINDOW_STATE_NAME = "window-contents"


def read_window_kv(
    rows: DataFrame,
    key_codec: fc.Codec,
    value_codec: fc.Codec,
    *,
    max_parallelism: int = 128,
    ttl: bool = False,
) -> DataFrame:
    """P7 — window operator state under the fixed name 'window-contents'
    (reader/KeyedStateReader.java:46-48,258-273). The window namespace bytes
    (TimeWindow start/end longs) follow the key; we skip them like the
    reference's value reader does."""
    key_codec = fc.unwrap_tuple1_key(key_codec)  # reference Tuple1 parity
    prefix = fc.key_group_prefix_bytes(max_parallelism)

    def decode(key_ns: bytes, value: bytes):
        r = fc.ByteReader(key_ns, prefix)
        key = key_codec.decode(r)
        yield (key, fc.decode_value_state(value, value_codec, ttl=ttl))

    schema = StructType(
        [
            StructField("key", spark_type_for(key_codec), True),
            StructField("value", spark_type_for(value_codec), True),
        ]
    )
    return _reader(rows, WINDOW_STATE_NAME, decode, schema)


# ---------------------------------------------------------------------------
# inverse projection (SURVEY §2.2 P9): typed (key, value) -> state rows
# ---------------------------------------------------------------------------


def kv_to_state_rows(
    kv: DataFrame,
    state_name: str,
    key_codec: fc.Codec,
    value_codec: fc.Codec,
    *,
    max_parallelism: int = 128,
    kind: str = "value",
    map_key_codec: fc.Codec | None = None,
    ttl_ts: int | None = None,
    ttl_col: str | None = None,
) -> DataFrame:
    """(key, value) → KeyedStateRow with Flink-parity key-group routing
    (writer/functions/ValueStateToKeyedStateRow.java:34-68). ``kind`` selects
    the value payload layout: 'value' | 'list' | 'map' (map expects columns
    key, map_key, value).

    TTL write-back — BEYOND the reference, whose writer throws on
    TTL-wrapped descriptors (writer/OperatorStateWriter.java:182-184):
    ``ttl_ts`` stamps every value with one last-access timestamp (epoch
    millis — the bootstrap semantic: all entries freshly written at T);
    ``ttl_col`` names a per-row millis column instead. The payload gains
    the 8-byte prefix P8 readers strip (``ttl=True``), for value, list
    (per element), and map (per entry) states alike."""
    if ttl_ts is not None and ttl_col is not None:
        raise ValueError("pass ttl_ts or ttl_col, not both")
    key_codec = fc.unwrap_tuple1_key(key_codec)  # reference Tuple1 parity

    def encode(batches: Iterator[pd.DataFrame]):
        for pdf in batches:
            if (
                kind == "value"
                and ttl_ts is None
                and ttl_col is None
                and vz.is_fixed(key_codec)
                and vz.is_fixed(value_codec)
            ):
                fast = vz.encode_kv_fixed(
                    pdf["key"].to_numpy(),
                    pdf["value"].to_numpy(),
                    key_codec,
                    value_codec,
                    max_parallelism,
                )
                if fast is not None:
                    kns_list, val_list = fast
                    yield pd.DataFrame(
                        {
                            "state_name": [state_name] * len(kns_list),
                            "key_ns": kns_list,
                            "value": val_list,
                        },
                        columns=["state_name", "key_ns", "value"],
                    )
                    continue
            names, keys, vals = [], [], []
            ttls = pdf[ttl_col] if ttl_col is not None else None
            if kind == "map":
                it: Any = zip(pdf["key"], pdf["map_key"], pdf["value"])
            else:
                it = zip(pdf["key"], pdf["value"])
            for i, rec in enumerate(it):
                ts = ttl_ts if ttls is None else int(ttls.iloc[i])
                if kind == "map":
                    k, mk, v = rec
                    kns = fc.encode_key_ns(
                        _py(k), key_codec, max_parallelism,
                        map_key=_py(mk), map_key_codec=map_key_codec,
                    )
                    payload = fc.encode_map_value(_py(v), value_codec, ttl_ts=ts)
                elif kind == "list":
                    k, v = rec
                    kns = fc.encode_key_ns(_py(k), key_codec, max_parallelism)
                    payload = fc.encode_list_state(list(v), value_codec, ttl_ts=ts)
                else:
                    k, v = rec
                    kns = fc.encode_key_ns(_py(k), key_codec, max_parallelism)
                    payload = fc.encode_value_state(_py(v), value_codec, ttl_ts=ts)
                names.append(state_name)
                keys.append(kns)
                vals.append(payload)
            yield pd.DataFrame(
                {"state_name": names, "key_ns": keys, "value": vals},
                columns=["state_name", "key_ns", "value"],
            )

    return kv.mapInPandas(encode, schema=STATE_ROW_SCHEMA)


def _py(v):
    """numpy scalar → python scalar for the codec layer."""
    return v.item() if hasattr(v, "item") else v


def reroute_state_rows(
    rows: DataFrame,
    key_codecs: dict[str, fc.Codec],
    *,
    old_max_parallelism: int,
    new_max_parallelism: int,
) -> DataFrame:
    """Re-route state rows to the key-group function of a new
    max_parallelism WITHOUT interpreting payloads.

    Only the key-group prefix of ``key_ns`` depends on max_parallelism; the
    serialized key, namespace, map-key, and the whole value payload are
    invariant. So we decode just enough of ``key_ns`` to recover the key
    object (to recompute Flink's assignment hash, E1), then splice
    ``[new prefix][original bytes after old prefix]`` — value/list/map/TTL
    payloads all pass through byte-for-byte, making the operation safe for
    every state kind (reference KeyGroupRangeAssignment semantics).
    """
    old_pfx = fc.key_group_prefix_bytes(old_max_parallelism)
    new_pfx = fc.key_group_prefix_bytes(new_max_parallelism)

    def reroute(batches: Iterator[pd.DataFrame]):
        from bravo_spark.codecs import hashes

        kinds = {
            n: (c.name if c.name in ("int", "long", "string") else None)
            for n, c in key_codecs.items()
        }
        for pdf in batches:
            out_kns = []
            for name, kns in zip(pdf["state_name"], pdf["key_ns"]):
                codec = key_codecs.get(name)
                if codec is None:
                    raise ValueError(
                        f"no key codec for state {name!r}; have "
                        f"{sorted(key_codecs)}"
                    )
                buf = bytes(kns)
                r = fc.ByteReader(buf, old_pfx)
                key = codec.decode(r)
                kg = hashes.assign_to_key_group(
                    key, new_max_parallelism, kinds[name]
                )
                out_kns.append(
                    fc.write_key_group(kg, new_pfx) + buf[old_pfx:]
                )
            yield pd.DataFrame(
                {
                    "state_name": pdf["state_name"],
                    "key_ns": out_kns,
                    "value": pdf["value"],
                },
                columns=["state_name", "key_ns", "value"],
            )

    return rows.mapInPandas(reroute, schema=STATE_ROW_SCHEMA)


# ---------------------------------------------------------------------------
# routing columns (SURVEY §2.9 E1/E2) as JVM-side expressions
# ---------------------------------------------------------------------------


def with_key_group_column(
    rows: DataFrame, *, max_parallelism: int = 128, col: str = "key_ns", out: str = "key_group"
) -> DataFrame:
    """Decode the key-group prefix bytes (1-2 big-endian bytes, flag bit
    masked) without touching Python — stays in whole-stage codegen."""
    prefix = fc.key_group_prefix_bytes(max_parallelism)
    raw = F.conv(F.hex(F.substring(F.col(col), 1, prefix)), 16, 10).cast("int")
    # mask the metadata-follows flag bit (always the MSB of byte 0)
    mask = 0x7F if prefix == 1 else 0x7FFF
    return rows.withColumn(out, raw.bitwiseAND(F.lit(mask)))


def with_operator_index_column(
    rows: DataFrame,
    *,
    max_parallelism: int,
    parallelism: int,
    key_group_col: str = "key_group",
    out: str = "op_index",
) -> DataFrame:
    """E2 — keyGroup * parallelism / maxParallelism (types/KeyedStateRow.java:65-68)."""
    return rows.withColumn(
        out,
        F.floor(F.col(key_group_col) * F.lit(parallelism) / F.lit(max_parallelism)).cast("int"),
    )


def read_custom(rows: DataFrame, state_name: str, decode_row, schema: StructType) -> DataFrame:
    """X1 — user-defined reader: ``decode_row(key_ns, value) -> iterable of
    tuples`` matching ``schema`` (the reference's custom-KeyedStateReader
    extension point, reader/KeyedStateReader.java:40-41: one row → 0..n
    typed rows). Runs Arrow-batched like the built-in readers."""
    return _reader(rows, state_name, decode_row, schema)


def read_window_kv_with_bounds(
    rows: DataFrame,
    key_codec: fc.Codec,
    value_codec: fc.Codec,
    *,
    max_parallelism: int = 128,
    ttl: bool = False,
) -> DataFrame:
    """P7 (full) — window-contents rows with the TimeWindow namespace
    decoded: the 16 namespace bytes after the key are (start, end) epoch-ms
    longs (Flink TimeWindow.Serializer layout)."""
    key_codec = fc.unwrap_tuple1_key(key_codec)  # reference Tuple1 parity
    prefix = fc.key_group_prefix_bytes(max_parallelism)

    def decode(key_ns: bytes, value: bytes):
        r = fc.ByteReader(key_ns, prefix)
        key = key_codec.decode(r)
        w_start = fc.read_long(r)
        w_end = fc.read_long(r)
        yield (key, w_start, w_end, fc.decode_value_state(value, value_codec, ttl=ttl))

    schema = StructType(
        [
            StructField("key", spark_type_for(key_codec), True),
            StructField("window_start", LongType(), True),
            StructField("window_end", LongType(), True),
            StructField("value", spark_type_for(value_codec), True),
        ]
    )
    return _reader(rows, WINDOW_STATE_NAME, decode, schema)
