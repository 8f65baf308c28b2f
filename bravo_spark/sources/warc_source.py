"""WARC record source over Spark's ``binaryFile`` — batch and streaming.

Batch: :func:`read_warc` — archives under ``path`` become one row per
WARC record. Streaming: :func:`read_warc_stream` — the same relation as
an incremental stream; ``binaryFile`` participates in Structured
Streaming's file-source protocol (explicit schema required), so newly
LANDED archives flow through exactly-once per checkpoint — the
continuous-crawl ingest shape (Common Crawl drops arrive as whole
``.warc.gz`` shards, so file grain IS record-batch grain).

Both return the same schema: ``(archive string, uri string,
warc_type string, n_bytes long, payload binary)``. The parse is the
strict pure-Python codec (``codecs/warc.py``) in Arrow-batched
``mapInPandas`` — a torn archive fails the task loudly rather than
silently dropping tail records.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bravo_spark.sources.shards import _resolve_fs, read_shards, write_shards

RECORD_SCHEMA = (
    "archive string, uri string, warc_type string,"
    " n_bytes long, payload binary"
)


def _parse_batches(batches):
    import pandas as pd

    from bravo_spark.codecs.warc import parse_warc

    for pdf in batches:
        archives, uris, types, sizes, payloads = [], [], [], [], []
        for path, blob in zip(pdf["path"], pdf["content"]):
            for headers, payload in parse_warc(bytes(blob)):
                archives.append(path)
                uris.append(headers.get("WARC-Target-URI", ""))
                types.append(headers.get("WARC-Type", ""))
                sizes.append(len(payload))
                payloads.append(payload)
        yield pd.DataFrame(
            {
                "archive": archives, "uri": uris, "warc_type": types,
                "n_bytes": sizes, "payload": payloads,
            }
        )


def read_warc(
    spark: SparkSession,
    path: str,
    *,
    glob: str = "*.warc.gz",
    recursive: bool = False,
) -> DataFrame:
    """Batch WARC ingest: archive-grain tasks (binaryFile never splits a
    file — matching gzip-member reality), zero shuffles. ``glob``
    matches FILENAMES (pathGlobFilter); ``recursive=True`` descends into
    subdirectories — e.g. the ``batch_*/`` tree
    :func:`wet_convert_stream` writes."""
    return read_shards(spark, path, glob, _parse_batches, RECORD_SCHEMA,
                       recursive=recursive)


def read_warc_stream(
    spark: SparkSession,
    path: str,
    *,
    glob: str = "*.warc.gz",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming WARC ingest: each micro-batch processes newly landed
    archives exactly once per checkpoint (Structured Streaming's file
    source log). ``max_files_per_trigger`` bounds a batch for backfill
    over a large drop directory."""
    return read_shards(spark, path, glob, _parse_batches, RECORD_SCHEMA,
                       stream=True,
                       max_files_per_trigger=max_files_per_trigger)


def write_warc_shards(
    records: DataFrame,
    path: str,
    *,
    uri_col: str = "uri",
    payload_col: str = "payload",
    warc_type: str = "conversion",
    warc_date: str = "2026-01-01T00:00:00Z",
    compression: str = "gzip",
    extra_headers: dict[str, str] | None = None,
) -> int:
    """Distributed WARC writer: each partition of ``records`` becomes
    ONE ``shard_{partition:05d}.warc.{gz,zst,warc}`` under ``path`` —
    the splittable one-member-per-record layout ``codecs/warc.py``
    emits, so :func:`read_warc` (and any spec reader) gets archive-grain
    parallelism back. Returns the number of records written.

    ``warc_date`` is an explicit parameter (not wall-clock) so output
    archives are byte-deterministic — same input, same bytes, which is
    what makes the WET-conversion round trip oracle-checkable. Shard
    size is controlled the Spark way: ``repartition(n)`` upstream picks
    the shard count (keep archives ~1 GiB at crawl scale).

    ``path`` may be a plain path or a filesystem URI — the shards go
    through :func:`~bravo_spark.sources.shards.write_shards`, so a WET
    conversion at crawl scale writes to object storage, not just a
    shared POSIX mount."""
    from bravo_spark.codecs.warc import write_warc

    ext = {"gzip": "warc.gz", "zstd": "warc.zst", "none": "warc"}
    if compression not in ext:
        raise ValueError(f"unsupported WARC compression {compression!r}")
    base_headers = {"WARC-Type": warc_type, "WARC-Date": warc_date}
    base_headers.update(extra_headers or {})
    src = records.select(
        F.col(uri_col).cast("string").alias("uri"),
        F.col(payload_col).alias("payload"),
    )

    def encode(rows, out):
        n = 0
        for r in rows:
            payload = r["payload"]
            if isinstance(payload, str):
                payload = payload.encode("utf-8")
            # one gzip member / zstd frame per record: record-at-a-time
            # writes are byte-identical to encoding the shard at once
            out.write(write_warc(
                [({**base_headers, "WARC-Target-URI": r["uri"]},
                  bytes(payload) if payload is not None else b"")],
                compression=compression))
            n += 1
        return n

    return write_shards(src, path, "shard_{:05d}." + ext[compression], encode)


def wet_convert(
    spark: SparkSession,
    src: str,
    dst: str,
    *,
    glob: str = "*.warc.gz",
    quarantine: bool = True,
    warc_date: str = "2026-01-01T00:00:00Z",
    compression: str = "gzip",
) -> dict:
    """The Common Crawl WET extraction, end to end: raw ``.warc.gz``
    response archives under ``src`` → HTTP head/body split + framing +
    charset decode (``codecs/http.py``) → ``llmops.strip_markup`` →
    WET-style ``WARC-Type: conversion`` archives under ``dst`` that
    :func:`read_warc` (or any WET consumer, e.g. the warc_ingest path)
    reads back. Returns ``{"converted": n, "quarantined": m,
    "quarantine_reasons": {reason_class: count}}`` — the reason profile
    (refusal messages with digits collapsed to ``#`` so byte offsets
    don't explode the cardinality) makes the drop rate OBSERVABLE per
    cause: a crawl whose quarantine is 1% torn captures is healthy, one
    that is 30% "unsupported Content-Encoding" needs a codec, and a
    bare total cannot tell them apart.

    ``quarantine=True`` (the crawl default) isolates torn HTTP captures
    instead of failing the job; ``False`` fails loudly on the first.
    Scale shape: archive-grain read tasks, two map-only Arrow stages,
    a JVM regex chain, and a partition-grain shard write — ZERO
    shuffles (the reason profile aggregates the quarantined sliver
    only); shard count follows the input partitioning (repartition
    upstream of ``src`` file layout to resize output archives)."""
    from bravo_spark import llmops

    recs = read_warc(spark, src, glob=glob)
    parsed = llmops.extract_http_html(
        recs.filter(F.col("warc_type") == "response"),
        "payload",
        quarantine=quarantine,
    )
    stripped = llmops.strip_markup(
        parsed.withColumnRenamed("http_html", "t"), "t"
    ).persist()  # counted AND written: one materialization, not two plans
    try:
        ok = stripped.filter(F.col("http_status") != -1)
        reasons = {
            r["reason"]: r["n"]
            for r in stripped.filter(F.col("http_status") == -1)
            .groupBy(
                F.regexp_replace("http_error", "[0-9]+", "#").alias(
                    "reason")
            )
            .agg(F.count("*").alias("n"))
            .collect()
        }
        n = write_warc_shards(
            ok.select("uri", F.col("clean_text").alias("payload")),
            dst,
            warc_type="conversion",
            warc_date=warc_date,
            compression=compression,
        )
    finally:
        stripped.unpersist()
    return {
        "converted": n,
        "quarantined": sum(reasons.values()),
        "quarantine_reasons": reasons,
    }


def wet_convert_stream(
    spark: SparkSession,
    src: str,
    dst: str,
    checkpoint: str,
    *,
    glob: str = "*.warc.gz",
    quarantine: bool = True,
    warc_date: str = "2026-01-01T00:00:00Z",
    compression: str = "gzip",
    max_files_per_trigger: int | None = None,
):
    """The CONTINUOUS form of :func:`wet_convert`: tail a crawl drop
    directory with the Structured Streaming file source and write each
    micro-batch's extractions as WET conversion archives under
    ``dst/batch_{epoch:06d}/`` — how a live crawl actually lands.

    Exactly-once: the file-source log (``checkpoint``) guarantees each
    archive enters exactly one micro-batch, and the epoch-keyed output
    directory makes the foreachBatch WRITE idempotent — a batch retried
    after a crash overwrites its own directory (cleared first) instead
    of appending duplicates, so restart-from-checkpoint yields each
    record exactly once in the output tree. Readers consume the whole
    tree with ``read_warc(spark, dst, recursive=True)`` — and when a
    non-default ``compression`` was chosen, the matching filename glob
    too (``glob="*.warc.zst"`` for zstd, ``"*.warc"`` for none; the
    reader's default only matches ``.warc.gz``).

    Returns the started ``StreamingQuery`` (availableNow trigger — the
    drain-and-restart model every streaming surface here uses; the
    caller awaits termination, drops more archives, and calls again
    with the same ``checkpoint`` to process only what is new)."""
    from pyspark.sql import functions as _F

    from bravo_spark import llmops

    def _batch(records: DataFrame, epoch_id: int) -> None:
        from pyarrow import fs as _pafs

        parsed = llmops.extract_http_html(
            records.filter(_F.col("warc_type") == "response"),
            "payload",
            quarantine=quarantine,
        )
        ok = llmops.strip_markup(
            parsed.withColumnRenamed("http_html", "t"), "t"
        ).filter(_F.col("http_status") != -1)
        batch_dir = dst.rstrip("/") + f"/batch_{epoch_id:06d}"
        # idempotent under batch REPLAY: the epoch names the directory,
        # so a crash-retried batch replaces its own output — the delete
        # goes through the same pyarrow filesystem as the shard writes,
        # so replay stays idempotent on object storage too
        bfs, bpath = _resolve_fs(batch_dir)
        if bfs.get_file_info(bpath).type != _pafs.FileType.NotFound:
            bfs.delete_dir(bpath)
        write_warc_shards(
            ok.select("uri", _F.col("clean_text").alias("payload")),
            batch_dir,
            warc_type="conversion",
            warc_date=warc_date,
            compression=compression,
        )

    return (
        read_warc_stream(spark, src, glob=glob,
                         max_files_per_trigger=max_files_per_trigger)
        .writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
