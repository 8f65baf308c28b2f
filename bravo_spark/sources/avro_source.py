"""Avro OCF relation over Spark's ``binaryFile`` — batch, streaming,
and a distributed writer.

This distribution bundles the Avro jar but not the spark-avro SQL
source, so these helpers supply the missing surface through the repo's
pure-Python OCF codec (``codecs/avro.py``, real-jar cross-validated):

* :func:`read_avro` — every ``.avro`` shard under ``path`` → rows.
* :func:`read_avro_stream` — the same relation as a Structured
  Streaming file source: newly landed shards flow exactly-once per
  checkpoint (the Kafka-dump drop-directory shape).
* :func:`write_avro` — distributed write, one OCF shard per partition.

Reads are schema-ON-READ: the caller declares the Spark row schema
(string DDL) and field values are taken from the decoded records by
name — schema inference over 100 TB would be a full extra pass, the
same rule the flat-file roundtrips follow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bravo_spark.sources.shards import read_shards, write_shards


def _parse_batches_factory(columns: list[str]):
    def _parse(batches):
        import pandas as pd

        from bravo_spark.codecs.avro import read_ocf

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                _, recs = read_ocf(bytes(blob))
                rows.extend(recs)
            yield pd.DataFrame(
                {c: [r.get(c) for r in rows] for c in columns}
            )

    return _parse


def _columns_of(ddl_schema: str) -> list[str]:
    # a real DDL parse — naive comma-splitting breaks on parameterized
    # and nested types (decimal(10,2), map<...>, struct<...>)
    from pyspark.sql.types import StructType

    return StructType.fromDDL(ddl_schema).fieldNames()


def read_avro(
    spark: SparkSession, path: str, schema: str, *, glob: str = "*.avro"
) -> DataFrame:
    """Batch OCF ingest: shard-grain tasks, Arrow-batched decode, zero
    shuffles. ``schema`` is Spark DDL (``"id long, s string"``)."""
    return read_shards(spark, path, glob,
                       _parse_batches_factory(_columns_of(schema)), schema)


def read_avro_stream(
    spark: SparkSession,
    path: str,
    schema: str,
    *,
    glob: str = "*.avro",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming OCF ingest: each micro-batch decodes newly landed
    shards exactly once per checkpoint."""
    return read_shards(spark, path, glob,
                       _parse_batches_factory(_columns_of(schema)), schema,
                       stream=True,
                       max_files_per_trigger=max_files_per_trigger)


def write_avro(
    df: DataFrame,
    path: str,
    avro_schema: dict,
    *,
    codec: str = "deflate",
) -> None:
    """Distributed OCF write: one ``part_{partition:05d}.avro`` shard per
    non-empty partition, each produced executor-side by the pure-Python
    writer, which streams OCF blocks into the shard as they are encoded.
    ``avro_schema`` is the Avro record schema (dict form); its field
    names must exist as DataFrame columns."""
    fields = [f["name"] for f in avro_schema["fields"]]
    missing = [f for f in fields if f not in df.columns]
    if missing:
        raise ValueError(f"DataFrame lacks Avro schema fields: {missing}")

    def encode(rows, out):
        from bravo_spark.codecs.avro import write_ocf

        count = 0

        def counted():
            nonlocal count
            for r in rows:
                count += 1
                yield r

        write_ocf(avro_schema, counted(), codec=codec, out=out)
        return count

    write_shards(df.select(*fields), path, "part_{:05d}.avro", encode)
