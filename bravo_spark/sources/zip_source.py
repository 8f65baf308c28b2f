"""ZIP shard source/sink — Spark plumbing over ``codecs/zipfmt.py``.

The third training-shard container after TFRecord and WebDataset tar:
image sets, code dumps, and scraped-document drops ship as ``.zip``
shards. The container framing, integrity rules, and named refusals live
in the pure-Python codec; this module is only the scale shape:

- a shard IS the parallelism grain (``binaryFile`` never splits a
  file, and a ZIP's central directory makes the whole-shard read the
  honest unit anyway), so shard count — set upstream by the writer's
  partitioning — is the knob, exactly as for the tar and TFRecord
  surfaces;
- reading and writing go through the shared shard IO path
  (``sources/shards.py``): zero shuffles, zero joins at any corpus
  size, each shard committed by temp name + rename.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bravo_spark.sources.shards import read_shards, write_shards


def write_zip_shards(
    df: DataFrame,
    path: str,
    name_col: str,
    data_col: str,
    *,
    method: str = "deflate",
) -> int:
    """Each partition becomes ONE ``shard_{partition:05d}.zip`` under
    ``path`` (plain path or filesystem URI). Row ``r`` becomes member
    ``r[name_col]`` holding ``r[data_col]``'s bytes (strings encode
    UTF-8). NULL names/payloads refuse by name (filter upstream);
    duplicate names within a shard and zip64-scale inputs refuse inside
    the codec. Returns members written."""
    src = df.select(
        F.col(name_col).cast("string").alias("name"),
        F.col(data_col).alias("data"),
    )

    def encode(rows, out):
        from bravo_spark.codecs.zipfmt import ZipError, write_zip

        count = 0

        def entries():
            nonlocal count
            for r in rows:
                if r["name"] is None:
                    raise ZipError("NULL member name — filter upstream")
                v = r["data"]
                if v is None:
                    raise ZipError(f"NULL payload for member {r['name']!r} "
                                   "— filter upstream")
                count += 1
                yield r["name"], (v.encode("utf-8") if isinstance(v, str)
                                  else bytes(v))

        write_zip(entries(), method=method, out=out)
        return count

    return write_shards(src, path, "shard_{:05d}.zip", encode)


_MEMBER_SCHEMA = "archive string, name string, data binary"


def _parse_batches(batches):
    from bravo_spark.codecs.zipfmt import ZipError, iter_zip
    import pandas as pd

    for pdf in batches:
        out = {"archive": [], "name": [], "data": []}
        for apath, blob in zip(pdf["path"], pdf["content"]):
            try:
                for name, data in iter_zip(bytes(blob)):
                    out["archive"].append(apath)
                    out["name"].append(name)
                    out["data"].append(data)
            except ZipError as exc:
                raise ZipError(f"{apath}: {exc}") from exc
        yield pd.DataFrame(out)


def read_zip_shards(
    spark: SparkSession,
    path: str,
    *,
    glob: str = "*.zip",
) -> DataFrame:
    """One row per member: ``(archive string, name string, data
    binary)``, in central-directory order within each shard, every
    payload CRC-verified by the codec. Torn/encrypted shards refuse by
    name; foreign zip64 archives (>65535 members / >4 GiB — the
    ImageNet shape) READ fine. Shard-grain binaryFile tasks, one
    Arrow-batched map stage, zero shuffles."""
    return read_shards(spark, path, glob, _parse_batches, _MEMBER_SCHEMA)


def read_zip_stream(
    spark: SparkSession,
    path: str,
    *,
    glob: str = "*.zip",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming ZIP ingest — the drop-directory twin of
    :func:`read_zip_shards` (the warc/avro streaming posture): each
    micro-batch processes newly landed shards exactly once per
    checkpoint (Structured Streaming's file-source log), through the
    SAME Arrow parse stage as the batch reader.
    ``max_files_per_trigger`` bounds a batch for backfill over a large
    drop directory."""
    return read_shards(spark, path, glob, _parse_batches, _MEMBER_SCHEMA,
                       stream=True,
                       max_files_per_trigger=max_files_per_trigger)


__all__ = ["write_zip_shards", "read_zip_shards", "read_zip_stream"]
