"""TFRecord shard source/sink over Spark — the training-data SINK path.

A cleaned corpus leaves the lake as TFRecord shards of
``tf.train.Example`` messages (the standard TF/JAX training input
format); this module is the Spark half over ``codecs/tfrecord.py``:

- :func:`encode_examples` — typed columns → an ``example`` binary
  column (one Arrow-batched map stage, deterministic bytes);
- :func:`write_tfrecord_shards` / :func:`read_tfrecords` /
  :func:`read_tfrecord_stream` — record framing over the shared shard
  IO path (``sources/shards.py``);
- :func:`decode_examples` — record bytes → typed columns under an
  explicit, caller-declared schema (a reader must state what it
  expects; silent schema drift is how training runs ingest garbage).

Shard-size control is the Spark way: ``repartition(n)`` upstream picks
the shard count. Determinism: same input partitioning → byte-identical
shards (sorted feature keys, packed lists, no timestamps anywhere in
the container format).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bravo_spark.sources.shards import read_shards, write_shards

RECORD_SCHEMA = "archive string, rec_index long, record binary"


def encode_examples(
    df: DataFrame,
    feature_cols: list[str],
    *,
    out_col: str = "example",
) -> DataFrame:
    """Append ``out_col``: the ``tf.train.Example`` bytes of each row's
    ``feature_cols`` (string → bytes_list UTF-8, binary → bytes_list,
    integral → int64_list, float/double → float_list, and ARRAYS of
    those → multi-value lists). NULL in any feature column refuses by
    name — an Example cannot represent null, and silently dropping the
    feature would desync the reader's schema. Map-only Arrow stage."""
    from pyspark.sql import types as T

    if out_col in df.columns:
        raise ValueError(f"out_col {out_col!r} already exists")
    missing = [c for c in feature_cols if c not in df.columns]
    if missing:
        raise ValueError(f"feature_cols not in DataFrame: {missing}")
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.BinaryType())]
    )
    cols = df.columns

    def encode(batches):
        import pandas as _pd

        from bravo_spark.codecs.tfrecord import TfRecordError, encode_example

        def pyval(v, col):
            if v is None:
                raise TfRecordError(
                    f"NULL in feature column {col!r} — Example has no "
                    "null; filter or fill upstream")
            if isinstance(v, (bytes, bytearray)):
                return bytes(v)
            if isinstance(v, str):
                return v
            # numpy from Arrow: an ndarray (spark array column) recurses
            # per element; a numpy SCALAR (shape ()) normalizes via
            # .item() — testing hasattr(tolist) would misread scalars as
            # lists, since numpy scalars carry tolist() too
            shape = getattr(v, "shape", None)
            if shape is not None and shape != ():
                return [pyval(x, col) for x in v.tolist()]
            item = getattr(v, "item", None)
            if item is not None and not isinstance(v, (int, float)):
                v = item()
            if isinstance(v, bool):
                # bool is an int subclass — letting it launder into an
                # Int64List here would bypass the codec's own by-name
                # refusal (tf.train has no bool kind; cast upstream)
                raise TfRecordError(
                    f"bool feature values in column {col!r} are not a "
                    "tf.train type — cast to int upstream")
            if isinstance(v, float):
                if v != v:  # a Spark NULL int/float lands as NaN here
                    raise TfRecordError(
                        f"NULL/NaN in feature column {col!r} — Example "
                        "has no null; filter or fill upstream")
                return v
            if isinstance(v, int):
                return int(v)
            if isinstance(v, (list, tuple)):
                return [pyval(x, col) for x in v]
            raise TfRecordError(
                f"unsupported feature value type {type(v).__name__} "
                f"in column {col!r}")

        for pdf in batches:
            out = _pd.DataFrame({c: pdf[c] for c in cols})
            if len(pdf):
                out[out_col] = [
                    encode_example(
                        {c: pyval(v, c)
                         for c, v in zip(feature_cols, row)})
                    for row in zip(*(pdf[c] for c in feature_cols))
                ]
            else:
                out[out_col] = []
            yield out

    return df.mapInPandas(encode, schema)


def write_tfrecord_shards(
    records: DataFrame,
    path: str,
    *,
    payload_col: str = "example",
    compression: str = "none",
) -> int:
    """Each partition becomes ONE ``shard_{partition:05d}.tfrecord[.gz]``
    under ``path`` (plain path or filesystem URI) through
    :func:`~bravo_spark.sources.shards.write_shards`.
    ``compression="gzip"`` emits whole-file gzip (TF's
    ``TFRecordOptions(compression_type="GZIP")`` layout) with mtime
    pinned to 0 so shards stay byte-deterministic. NULL payloads are
    skipped. Returns the number of records written."""
    if compression not in ("none", "gzip"):
        raise ValueError(f"unsupported TFRecord compression {compression!r}")
    suffix = "tfrecord.gz" if compression == "gzip" else "tfrecord"

    def encode(rows, out):
        import contextlib
        import gzip

        from bravo_spark.codecs.tfrecord import write_tfrecords

        n = 0
        with (gzip.GzipFile(filename="", fileobj=out, mode="wb", mtime=0)
              if compression == "gzip" else contextlib.nullcontext(out)) as f:
            for r in rows:
                if r["rec"] is not None:
                    f.write(write_tfrecords([r["rec"]]))
                    n += 1
        return n

    return write_shards(records.select(F.col(payload_col).alias("rec")),
                        path, "shard_{:05d}." + suffix, encode)


def _parse_batches(batches):
    import pandas as pd

    from bravo_spark.codecs.tfrecord import TfRecordError, read_all_tfrecords
    # the bounded multi-member gunzip (512x/64MiB output cap) already
    # exists for WARC archives — one implementation of the bomb policy,
    # not a third copy
    from bravo_spark.codecs.warc import WarcError, _gunzip_members

    for pdf in batches:
        archives, idxs, recs = [], [], []
        for path, blob in zip(pdf["path"], pdf["content"]):
            data = bytes(blob)
            # keyed off the SUFFIX the writer controls, not a magic-byte
            # sniff: an uncompressed shard whose first record length's
            # low bytes happen to be 1f 8b must not be mis-inflated
            if str(path).endswith(".gz"):
                try:
                    data = _gunzip_members(data)
                except WarcError as exc:
                    raise TfRecordError(f"{path}: {exc}") from exc
            shard_recs = read_all_tfrecords(data)
            archives.extend([path] * len(shard_recs))
            idxs.extend(range(len(shard_recs)))
            recs.extend(shard_recs)
        yield pd.DataFrame(
            {"archive": archives, "rec_index": idxs, "record": recs}
        )


def read_tfrecords(
    spark: SparkSession,
    path: str,
    *,
    glob: str = "*.tfrecord*",
) -> DataFrame:
    """Batch TFRecord ingest: one row per record, archive-grain tasks
    (binaryFile never splits a file — matching TFRecord reality: the
    container has no sync markers, so a shard IS the parallelism
    grain), zero shuffles. CRCs verified per record; torn shards fail
    the task loudly."""
    return read_shards(spark, path, glob, _parse_batches, RECORD_SCHEMA)


def read_tfrecord_stream(
    spark: SparkSession,
    path: str,
    *,
    glob: str = "*.tfrecord*",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming TFRecord ingest — the drop-directory twin of
    :func:`read_tfrecords` (the warc/avro streaming posture): each
    micro-batch processes newly landed shards exactly once per
    checkpoint (Structured Streaming's file-source log), through the
    SAME Arrow parse stage as the batch reader — a continuously
    arriving training-shard feed consumed without a rescan.
    ``max_files_per_trigger`` bounds a batch for backfill."""
    return read_shards(spark, path, glob, _parse_batches, RECORD_SCHEMA,
                       stream=True,
                       max_files_per_trigger=max_files_per_trigger)


def decode_examples(
    df: DataFrame,
    record_col: str,
    feature_schema: dict[str, str],
) -> DataFrame:
    """Decode an Example binary column into typed columns under an
    explicit schema: ``{name: "bytes" | "string" | "int" | "float" |
    "bytes_list" | "string_list" | "int_list" | "float_list"}``.
    Scalar kinds take the list's single element and REFUSE by name on
    arity != 1 or a missing feature — silent schema drift is how a
    training run ingests garbage. Map-only Arrow stage; returns ``df``'s
    columns plus one column per schema entry."""
    from pyspark.sql import types as T

    spark_t = {
        "bytes": T.BinaryType(), "string": T.StringType(),
        "int": T.LongType(), "float": T.DoubleType(),
        "bytes_list": T.ArrayType(T.BinaryType()),
        "string_list": T.ArrayType(T.StringType()),
        "int_list": T.ArrayType(T.LongType()),
        "float_list": T.ArrayType(T.DoubleType()),
    }
    bad = {k: v for k, v in feature_schema.items() if v not in spark_t}
    if bad:
        raise ValueError(f"unknown feature kinds: {bad}")
    clash = [k for k in feature_schema if k in df.columns]
    if clash:
        raise ValueError(f"feature names collide with columns: {clash}")
    schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(k, spark_t[v]) for k, v in feature_schema.items()]
    )
    cols = df.columns
    items = sorted(feature_schema.items())

    def decode(batches):
        import pandas as _pd

        from bravo_spark.codecs.tfrecord import TfRecordError, decode_example

        _want = {"bytes": bytes, "string": bytes, "int": int, "float": float}

        def pick(feats, name, kind):
            if name not in feats:
                raise TfRecordError(f"feature {name!r} missing from Example")
            vals = feats[name]
            # the decoded KIND must match the declared one — an int64
            # feature declared "string" must refuse by name here, not
            # crash in pandas/Arrow three layers down
            want = _want[kind.split("_", 1)[0]]
            wrong = [v for v in vals if not isinstance(v, want)]
            if wrong:
                raise TfRecordError(
                    f"feature {name!r} holds "
                    f"{type(wrong[0]).__name__} values, declared kind "
                    f"is {kind!r}")
            if kind.startswith("string"):
                vals = [v.decode("utf-8") for v in vals]
            if kind.endswith("_list"):
                return vals
            if len(vals) != 1:
                raise TfRecordError(
                    f"feature {name!r} has {len(vals)} values, scalar "
                    f"kind {kind!r} needs exactly 1")
            return vals[0]

        for pdf in batches:
            out = _pd.DataFrame({c: pdf[c] for c in cols})
            decoded = [decode_example(bytes(b)) for b in pdf[record_col]]
            for name, kind in items:
                out[name] = [pick(d, name, kind) for d in decoded]
            yield out

    return df.mapInPandas(decode, schema)
