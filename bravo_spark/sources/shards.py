"""The one shard-container IO path: the TFRecord, WebDataset, WARC, ZIP
and Avro modules write through :func:`write_shards` and read through
:func:`read_shards`, keeping only their codec call and input checks.

Commit rule: a task streams its shard into a hidden
``.<name>.<attempt>.tmp`` and renames it to the final name only after
the codec finished; a failing task deletes its temp file. A reader
never sees a partial shard under a final name (Spark's file listing
skips dot-files, so even a killed task's leftover temp stays unread),
and a retried or speculative attempt writes its own temp file.
"""

from __future__ import annotations

import contextlib
import itertools
import re
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

_BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def _resolve_fs(path: str):
    """``(pyarrow FileSystem, fs-internal path)`` for a plain path or a
    filesystem URI (``file:/...``, ``s3://...``, ``hdfs://...``, ...).

    This is the EXECUTOR-SAFE half of the repo's filesystem plumbing:
    ``llmops._hadoop_fs`` goes through the driver's py4j gateway into
    the JVM Hadoop FS API, which a Python task does not have —
    executors are plain Python workers. ``pyarrow.fs`` resolves the
    same URI schemes natively in-process, so shard writers inside tasks
    reach object storage instead of silently scattering output across
    executor-local disks (the multi-node failure a bare ``open()``
    invites)."""
    from pyarrow import fs as pafs

    if path.startswith("file:/") and not path.startswith("file://"):
        # Hadoop-style single-slash file URI → proper RFC 3986 form
        path = "file://" + path[len("file:"):]
    if re.match(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://", path):
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def write_shards(
    df: DataFrame,
    path: str,
    name_fmt: str,
    encode: Callable[[Iterator[dict], object], int],
) -> int:
    """Write each non-empty partition of ``df`` as ONE shard
    ``name_fmt.format(partition_id)`` under ``path`` and return the sum
    of ``encode``'s per-shard counts.

    ``encode(rows, out)`` receives the partition's rows as dicts (Arrow
    batches, native Python values, None for nulls) and the open output
    stream, writes its container into ``out`` as it goes, and returns
    the number of records written. A shard whose ``encode`` returns 0
    is discarded, as is an empty partition: neither leaves a file. On
    any exception the temp file is deleted and the exception re-raised,
    so the task fails loudly and no partial shard is published."""
    fs, base = _resolve_fs(path)
    fs.create_dir(base, recursive=True)

    def _write(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        rows = itertools.chain.from_iterable(b.to_pylist() for b in batches)
        try:
            first = next(rows)
        except StopIteration:
            return
        ctx = TaskContext.get()
        name = name_fmt.format(ctx.partitionId())
        # resolve from the path STRING inside the task: executors never
        # receive driver-side filesystem handles
        tfs, tbase = _resolve_fs(path)
        final = f"{tbase.rstrip('/')}/{name}"
        tmp = f"{tbase.rstrip('/')}/.{name}.{ctx.attemptNumber()}.tmp"
        try:
            # compression=None: the codecs emit their own gzip/zstd, and
            # pyarrow's extension sniffing would double-compress a .gz name
            with tfs.open_output_stream(tmp, compression=None,
                                        buffer_size=1 << 20) as out:
                n = encode(itertools.chain([first], rows), out)
            if n:
                tfs.move(tmp, final)
            else:
                tfs.delete_file(tmp)
        except BaseException:
            with contextlib.suppress(OSError):
                tfs.delete_file(tmp)
            raise
        yield pa.RecordBatch.from_pydict({"n": [n]})

    return sum(r.n for r in df.mapInArrow(_write, "n long").collect())


def read_shards(
    spark: SparkSession,
    path: str,
    glob: str,
    parse: Callable,
    schema: str,
    *,
    stream: bool = False,
    recursive: bool = False,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Files under ``path`` whose NAME matches ``glob`` (pathGlobFilter)
    → ``parse`` over Arrow batches of ``(path, content)`` → rows of the
    DDL ``schema``. binaryFile never splits a file, so a shard is the
    parallelism grain. ``stream=True`` returns the same relation over
    the Structured Streaming file source (newly landed shards, exactly
    once per checkpoint; ``max_files_per_trigger`` bounds a micro-batch
    for backfill). ``recursive=True`` descends into subdirectories
    (batch only)."""
    if stream:
        reader = spark.readStream.format("binaryFile").schema(
            _BINARYFILE_SCHEMA)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger",
                                   max_files_per_trigger)
    else:
        reader = spark.read.format("binaryFile").option(
            "recursiveFileLookup", str(recursive).lower())
    files = reader.option("pathGlobFilter", glob).load(path)
    return files.select("path", "content").mapInPandas(parse, schema)


__all__ = ["write_shards", "read_shards"]
