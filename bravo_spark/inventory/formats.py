"""Source/sink format breadth: JSON-lines and CSV round-trips.

The reference's only source is the savepoint binary; a migrating user's
pipelines also ingest flat files. Each query writes a projection of
``events`` through the format under test (distributed write — no
collect), reads it back with an EXPLICIT schema (never inferSchema: schema
inference is a full extra pass over 100 TB), and aggregates — so the
oracle, which aggregates the original parquet table directly, catches any
round-trip loss in either direction.

Timestamps travel as epoch-micros longs: both formats are lossy/ambiguous
around timezone rendering, and integer transport sidesteps the whole
class (the same rule the fixture's nanos columns follow).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from bravo_spark import catalog
from bravo_spark.inventory.registry import query
from bravo_spark.inventory.scratch import scratch_dir, scratch_path

_AGG_ORACLE = (
    "SELECT event_type, count(*) AS cnt,"
    " CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,"
    " max(user_id) AS max_user"
    " FROM events GROUP BY event_type"
)

_COLS = ("event_id", "user_id", "event_type", "value")
_SCHEMA = "event_id long, user_id long, event_type string, value double"


def _roundtrip(spark, sf_dir, fmt: str):
    ev = catalog.table(spark, sf_dir, "events").select(*_COLS)
    out = scratch_dir(f"fmt_{fmt}")
    writer = ev.write.mode("overwrite")
    if fmt == "csv":
        writer = writer.option("header", "true")
    getattr(writer, fmt)(out)
    reader = spark.read.schema(_SCHEMA)
    if fmt == "csv":
        reader = reader.option("header", "true")
    back = getattr(reader, fmt)(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        F.max("user_id").alias("max_user"),
    )


@query("json_source_roundtrip", oracle=_AGG_ORACLE)
def json_source_roundtrip(spark, sf_dir):
    return _roundtrip(spark, sf_dir, "json")


@query("csv_source_roundtrip", oracle=_AGG_ORACLE)
def csv_source_roundtrip(spark, sf_dir):
    return _roundtrip(spark, sf_dir, "csv")


_BUCKET_ORACLE = (
    "SELECT a.user_id, a.n_clicks, b.n_purchases FROM"
    " (SELECT user_id, count(*) AS n_clicks FROM events"
    "  WHERE event_type = 'click' GROUP BY user_id) a"
    " JOIN"
    " (SELECT user_id, count(*) AS n_purchases FROM events"
    "  WHERE event_type = 'purchase' GROUP BY user_id) b"
    " ON a.user_id = b.user_id"
)


@query("bucketed_join", oracle=_BUCKET_ORACLE)
def bucketed_join(spark, sf_dir):
    """Co-located join via bucketing — the 100 TB answer to repeated joins
    on the same key: both sides are written ``bucketBy(user_id)`` +
    ``sortBy`` once, after which every join on user_id is Exchange-free
    (bucket pruning gives each task matching buckets; pinned in
    test_plans). The write pays one shuffle; every downstream join pays
    none."""
    ev = catalog.table(spark, sf_dir, "events")
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    names = []
    for etype in ("click", "purchase"):
        name = f"bravo_bucketed_{etype}_{tag}"
        names.append(name)
        if not spark.catalog.tableExists(name):
            # a previous session may have left the managed location behind
            # without a catalog entry — clear it or saveAsTable refuses
            wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
            loc = os.path.join(wh.removeprefix("file:"), name)
            shutil.rmtree(loc, ignore_errors=True)
            (
                ev.filter(F.col("event_type") == etype)
                .groupBy("user_id")
                .agg(F.count("*").alias(f"n_{etype}s"))
                .write.bucketBy(8, "user_id")
                .sortBy("user_id")
                .mode("overwrite")
                .format("parquet")
                .saveAsTable(name)
            )
    a = spark.table(names[0])
    b = spark.table(names[1])
    return a.join(b, "user_id").select("user_id", "n_clicks", "n_purchases")


@query("orc_source_roundtrip", oracle=_AGG_ORACLE)
def orc_source_roundtrip(spark, sf_dir):
    return _roundtrip(spark, sf_dir, "orc")


_PRUNE_ORACLE = (
    "SELECT event_type, count(*) AS cnt, max(user_id) AS max_user"
    " FROM events WHERE event_type IN ('click', 'purchase')"
    " GROUP BY event_type"
)


@query("partitioned_prune_scan", oracle=_PRUNE_ORACLE)
def partitioned_prune_scan(spark, sf_dir):
    """Hive-style partitioned layout + partition pruning — the first lever
    at 100 TB: a predicate on the partition column never touches the other
    partitions' files (directory-level pruning, before any parquet footer
    is read). The write uses partitionBy(event_type); the read's IN filter
    shows up as PartitionFilters in the scan (pinned in test_plans), so the
    scan reads 2 of 5 directories."""
    ev = catalog.table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = scratch_path(f"part_events_{tag}")
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).filter(
        F.col("event_type").isin("click", "purchase")
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("cnt"), F.max("user_id").alias("max_user")
    )


_MERGE_ORACLE = """
WITH bucketed AS (
  SELECT doc_id, text, n_chars,
    CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 20 AS b
  FROM documents),
changeset AS (
  SELECT doc_id AS key, 'delete' AS op, NULL AS new_text
  FROM bucketed WHERE b = 0
  UNION ALL
  SELECT doc_id AS key, 'update' AS op, text || ' [rev2]' AS new_text
  FROM bucketed WHERE b = 1
  UNION ALL
  SELECT doc_id + 10000000 AS key, 'insert' AS op, 'new: ' || text AS new_text
  FROM bucketed WHERE b = 2),
merged AS (
  SELECT
    CASE
      WHEN c.op IS NULL THEN 'kept'
      WHEN c.op = 'delete' THEN 'deleted'
      WHEN c.op = 'update' THEN 'updated'
      ELSE 'inserted' END AS status,
    CASE
      WHEN c.op IS NULL THEN t.text
      WHEN c.op = 'delete' THEN NULL
      ELSE c.new_text END AS final_text
  FROM bucketed t
  FULL OUTER JOIN changeset c ON t.doc_id = c.key)
SELECT status, count(*) AS n_docs,
  CAST(COALESCE(SUM(length(final_text)), 0) AS BIGINT) AS sum_chars
FROM merged GROUP BY status
"""


@query("corpus_merge_upsert", oracle=_MERGE_ORACLE)
def corpus_merge_upsert(spark, sf_dir):
    """MERGE INTO semantics without a table format: apply a changeset
    (deletes / updates / inserts, here md5-derived so the oracle can
    recompute it) to the corpus via ONE full-outer join on the key —
    matched+delete drops the row, matched+update rewrites it, unmatched
    source rows insert, unmatched target rows pass through. This is the
    dataset-versioning primitive (tombstone + rewrite + append) that
    Delta/Iceberg MERGE compiles to; on plain parquet you run exactly
    this join and rewrite the partition.

    Scale shape: one shuffle on the merge key for each side of the join
    (the changeset side is usually far smaller — broadcast it when it
    fits); output here is the O(4)-row audit summary with an integer
    content checksum per status, so the driver hash-checks the full
    merge decision table. Cf. reference transform flow
    (bravo/README.md:127-166) — read, modify, write back — generalized
    to row-level changesets."""
    docs = catalog.table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    b = (
        F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10).cast("long")
        % 20
    )
    bucketed = docs.withColumn("b", b)
    deletes = bucketed.filter(F.col("b") == 0).select(
        F.col("doc_id").alias("key"),
        F.lit("delete").alias("op"),
        F.lit(None).cast("string").alias("new_text"),
    )
    updates = bucketed.filter(F.col("b") == 1).select(
        F.col("doc_id").alias("key"),
        F.lit("update").alias("op"),
        F.concat(F.col("text"), F.lit(" [rev2]")).alias("new_text"),
    )
    inserts = bucketed.filter(F.col("b") == 2).select(
        (F.col("doc_id") + 10_000_000).alias("key"),
        F.lit("insert").alias("op"),
        F.concat(F.lit("new: "), F.col("text")).alias("new_text"),
    )
    changeset = deletes.unionByName(updates).unionByName(inserts)
    merged = bucketed.join(
        changeset, bucketed["doc_id"] == changeset["key"], "full_outer"
    ).select(
        F.when(F.col("op").isNull(), F.lit("kept"))
        .when(F.col("op") == "delete", F.lit("deleted"))
        .when(F.col("op") == "update", F.lit("updated"))
        .otherwise(F.lit("inserted"))
        .alias("status"),
        F.when(F.col("op").isNull(), F.col("text"))
        .when(F.col("op") == "delete", F.lit(None).cast("string"))
        .otherwise(F.col("new_text"))
        .alias("final_text"),
    )
    return merged.groupBy("status").agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum(F.length("final_text")), F.lit(0)).alias("sum_chars"),
    )


_EVOLUTION_ORACLE = (
    "SELECT event_type, count(*) AS n_total,"
    " CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)"
    " AS n_with_value,"
    " CAST(sum(CASE WHEN event_id % 2 = 1"
    " THEN CAST(value AS DECIMAL(12,2)) ELSE 0 END) AS DOUBLE) AS sum_value"
    " FROM events GROUP BY event_type"
)


@query("schema_evolution_merge", oracle=_EVOLUTION_ORACLE)
def schema_evolution_merge(spark, sf_dir):
    """Schema evolution on a growing parquet dataset: batch 1 was
    written before the ``value`` column existed, batch 2 after. Reading
    the directory with ``mergeSchema`` must union the schemas and
    null-fill the missing column for old files — the exact situation a
    long-lived 100 TB corpus is always in (columns arrive mid-life;
    rewriting history is off the table). The aggregate separates
    per-type totals from value-bearing rows, so a reader that dropped
    old batches, dropped the new column, or zero-filled instead of
    null-filling diverges from the oracle, which recomputes straight
    from the source table.

    Scale note: mergeSchema pays a footer read per file at planning —
    on a real lake you pin the merged schema in the metastore and pass
    it explicitly; this query is the correctness contract for that
    merged read either way."""
    ev = catalog.table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    out = scratch_dir("fmt_evolve")
    ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "event_type"
    ).write.mode("overwrite").parquet(os.path.join(out, "batch=1"))
    ev.filter(F.col("event_id") % 2 == 1).write.mode("overwrite").parquet(
        os.path.join(out, "batch=2")
    )
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_total"),
        F.count("value").alias("n_with_value"),
        F.coalesce(
            F.sum(F.col("value").cast("decimal(12,2)")),
            F.lit(0).cast("decimal(12,2)"),
        )
        .cast("double")
        .alias("sum_value"),
    )


@query("xml_source_roundtrip", oracle=_AGG_ORACLE)
def xml_source_roundtrip(spark, sf_dir):
    """XML round-trip through Spark 4's built-in xml source (rowTag
    framing) — the config/feed interchange format enterprise pipelines
    still ingest. Same explicit-schema discipline as json/csv: schema
    inference over XML is a full extra parse of the corpus, so the read
    declares the schema. Scale shape: identical to the other flat-file
    formats — distributed write, splittable-by-file read, one shuffle
    for the verification aggregate."""
    ev = catalog.table(spark, sf_dir, "events").select(*_COLS)
    out = scratch_dir("fmt_xml")
    ev.write.mode("overwrite").format("xml").option("rowTag", "event").save(out)
    back = (
        spark.read.schema(_SCHEMA).option("rowTag", "event").format("xml").load(out)
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        F.max("user_id").alias("max_user"),
    )


_BINARY_INGEST_ORACLE = (
    "SELECT doc_id, octet_length(encode(text)) AS n_bytes,"
    " md5(text) AS digest FROM documents"
)


@query("binary_file_ingest", oracle=_BINARY_INGEST_ORACLE)
def binary_file_ingest(spark, sf_dir):
    """The multimodal corpus's real ingest path: opaque payload files on
    disk → Spark's ``binaryFile`` source → (path, length, content) rows
    that feed the decode tiers (inventory/multimodal.py). The fixture
    materializes one file per document (executor-side writes via
    foreachPartition — never a driver loop), then the read proves
    identity: per-file byte length and md5 must match the source text's
    UTF-8 bytes exactly, so any content or framing corruption in either
    direction fails the oracle.

    Scale shape: binaryFile is listing-bound — at 100 TB the levers are
    a partitioned directory layout + ``pathGlobFilter`` (prune before
    listing), ``recursiveFileLookup`` for nested drops, and
    ``spark.sql.files.maxPartitionBytes`` to pack small files into
    sane tasks; content bytes stay in executor memory per-file, so
    multi-GB payloads belong in sliced object-store reads instead.

    LOCAL-MODE ASSUMPTION (fixture only): the foreachPartition writers
    resolve ``out`` on each executor, which lands on the DRIVER's
    filesystem only because local mode shares it. On a real cluster the
    files would scatter across executor-local disks and the driver-side
    ``_SUCCESS`` marker + ``binaryFile`` read would see an empty or
    partial directory — production ingest writes payloads to a SHARED
    filesystem / object store (s3a://, hdfs://) where every executor's
    path resolves to the same namespace, and this function's read half
    works unchanged. The write half here exists only to manufacture the
    fixture in-sandbox."""
    import hashlib

    docs = catalog.table(spark, sf_dir, "documents").select("doc_id", "text")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = scratch_path(f"binfiles_{tag}")
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out, exist_ok=True)

        def _write(rows):
            for r in rows:
                with open(os.path.join(out, f"doc_{r.doc_id}.txt"), "wb") as f:
                    f.write(r.text.encode("utf-8"))

        docs.foreachPartition(_write)
        open(marker, "w").close()
    back = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(out)
    )
    return back.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.txt$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("digest"),
    )


_WARC_INGEST_ORACLE = (
    "SELECT doc_id, octet_length(encode(text)) AS n_bytes,"
    " md5(text) AS digest FROM documents"
)


def _write_fixture_shards(docs, out, name_fmt, write, record) -> None:
    """Pack each ``docs`` partition into ONE shard ``write([record(row),
    ...])`` under ``out`` through sources/shards.py (executor-side —
    never a driver loop), then mark the directory complete."""
    from bravo_spark.sources.shards import write_shards

    def encode(rows, f):
        recs = [record(r) for r in rows]
        f.write(write(recs))
        return len(recs)

    write_shards(docs, out, name_fmt, encode)
    open(os.path.join(out, "_SUCCESS"), "w").close()


def _warc_fixture(spark, sf_dir) -> str:
    """Write-once-per-process WET-style archive fixture: each
    ``documents`` partition packed into ONE .warc.gz (executor-side —
    never a driver loop), completeness-marked. Shared by the batch and
    streaming ingest rows so both drive the same archives."""
    import hashlib

    from bravo_spark.codecs.warc import write_warc

    # 8 shards: read-parallel at archive grain (the fixture scan is one
    # split, which packed EVERYTHING into a single archive read by one
    # task), while staying one availableNow micro-batch for the
    # streaming twin (max_files_per_trigger=8) and keeping each archive
    # at realistic hundreds-of-records density
    docs = (catalog.table(spark, sf_dir, "documents")
            .select("doc_id", "text").repartition(8))
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = scratch_path(f"warcfiles_{tag}")
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        _write_fixture_shards(docs, out, "shard_{:05d}.warc.gz", write_warc,
                              lambda r: ({
                                  "WARC-Type": "conversion",
                                  "WARC-Target-URI": f"doc://{r['doc_id']}",
                                  "WARC-Date": "2026-01-01T00:00:00Z",
                              }, r["text"].encode("utf-8")))
    return out


@query("warc_ingest", oracle=_WARC_INGEST_ORACLE)
def warc_ingest(spark, sf_dir):
    """Common Crawl-shaped ingest: ``.warc.gz`` archives (WET-style
    ``WARC-Type: conversion`` records, one gzip member per record — the
    splittable layout crawlers emit) → Spark's ``binaryFile`` source →
    Arrow-batched pure-Python WARC parse (``codecs/warc.py``, ISO 28500
    framing with strict Content-Length/terminator checks) → one row per
    record. The oracle proves payload identity both directions: per-doc
    byte length and md5 must equal the source text's UTF-8 bytes.

    The fixture packs each ``documents`` partition into ONE archive
    (executor-side foreachPartition — never a driver loop), mirroring
    real WET shards (~thousands of records per .warc.gz).

    Scale shape: archive-grain parallelism — one task per WARC file
    (binaryFile never splits inside a file, which matches gzip-member
    reality); at 100 TB the levers are shard size at WRITE time (keep
    archives ~1 GiB), ``pathGlobFilter`` pruning, and
    ``maxPartitionBytes`` packing of small shards. The parse is
    mapInPandas (Arrow batches of whole archives), zero shuffles; the
    same LOCAL-MODE fixture caveat as binary_file_ingest applies to the
    write half only (production archives live on shared storage)."""
    out = _warc_fixture(spark, sf_dir)

    # read half: the library source (sources/warc_source.py) — ONE
    # parser path shared with read_warc_stream and every user of the
    # batch reader; JVM-side md5/length on the payload column
    from bravo_spark.sources.warc_source import read_warc

    return read_warc(spark, out).select(
        F.regexp_extract(F.col("uri"), r"^doc://(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        "n_bytes",
        F.md5(F.col("payload")).alias("digest"),
    )


@query("avro_source_roundtrip", oracle=_AGG_ORACLE)
def avro_source_roundtrip(spark, sf_dir):
    """Avro OCF round-trip — the Kafka-dump / data-lake interchange
    format. This distribution bundles avro-1.12.1.jar but NOT the
    spark-avro SQL source, so the round-trip drives the repo's pure-
    Python OCF codec (``codecs/avro.py``, cross-validated both
    directions against the real jar in ``tests/test_avro.py``): events
    projection → one deflate-coded ``.avro`` file per partition
    (executor-side) → ``binaryFile`` → Arrow-batched ``mapInPandas``
    decode → the same verification aggregate as the other flat-format
    round-trips, so loss in either direction fails the oracle.

    Scale shape: file-grain parallelism on read (OCF blocks are
    sync-marker-delimited, but binaryFile reads whole files — keep
    shards ~1 GiB at write time, the same lever as WARC); the parse is
    mapInPandas, zero shuffles before the verification aggregate."""
    from bravo_spark.sources.avro_source import read_avro, write_avro

    # table_spread: the fixture parquet is one row group, so the scan is
    # ONE split and the pure-Python OCF encode (and the decode of the
    # single resulting shard) ran on one core; production events carry
    # many splits and the spread is a no-op (the web_link_graph
    # precedent). Shards also land read-parallel this way.
    ev = catalog.table_spread(spark, sf_dir, "events").select(*_COLS)
    out = scratch_dir("fmt_avro")
    # ONE writer and ONE reader path — the library source
    # (sources/avro_source.py), shared with read_avro_stream — and ONE
    # schema + verification aggregate shared with the streaming row
    write_avro(ev, out, _AVRO_EVENT_SCHEMA)
    back = read_avro(spark, out, _SCHEMA)
    return _event_verification_agg(back)


_AVRO_EVENT_SCHEMA = {
    "type": "record",
    "name": "Event",
    "fields": [
        {"name": "event_id", "type": "long"},
        {"name": "user_id", "type": "long"},
        {"name": "event_type", "type": "string"},
        {"name": "value", "type": "double"},
    ],
}


def _event_verification_agg(df):
    """The shared flat-format verification aggregate (_AGG_ORACLE's
    Spark twin) — one definition for the batch and streaming rows."""
    return df.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("value").cast("decimal(12,2)"))
        .cast("double")
        .alias("sum_value"),
        F.max("user_id").alias("max_user"),
    )


def _drain_to_memory(spark, stream, name: str):
    """availableNow drain into a memory sink with a FIXED per-row table
    name: the previous invocation's temp view (one full result copy on
    the driver) is dropped first so repeated bench/correctness runs
    never accrete sink tables. A drain that does not finish within the
    timeout is stopped and FAILS loudly — returning a partial table
    would misdiagnose as a decode bug downstream."""
    spark.catalog.dropTempView(name)
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError(
            f"streaming drain into {name!r} did not finish in 300 s"
        )
    return spark.table(name)


@query("warc_stream_ingest", oracle=_WARC_INGEST_ORACLE)
def warc_stream_ingest(spark, sf_dir):
    """The STREAMING half of the WARC ingest surface
    (sources/warc_source.py:read_warc_stream): the same archives as
    warc_ingest, consumed as a Structured Streaming file source
    (availableNow drain into a memory sink) — each micro-batch parses
    newly listed archives exactly once per checkpoint, which is how a
    production crawl drop-directory is actually tailed. Restart
    continuation (a shard landing AFTER the first drain processed
    exactly once by a restarted query) is pinned in
    tests/test_warc_source.py; this row puts the streaming read path —
    schema, glob pruning, maxFilesPerTrigger batching, Arrow-batched
    parse inside micro-batch tasks — in front of the driver's oracle.

    Scale shape: identical to warc_ingest per batch (archive-grain
    tasks, zero shuffles); maxFilesPerTrigger bounds a backfill batch so
    a million-archive drop never becomes one giant micro-batch."""
    from bravo_spark.sources.warc_source import read_warc_stream

    out = _warc_fixture(spark, sf_dir)
    proj = read_warc_stream(spark, out, max_files_per_trigger=8).select(
        F.regexp_extract(F.col("uri"), r"^doc://(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        "n_bytes",
        F.md5(F.col("payload")).alias("digest"),
    )
    return _drain_to_memory(spark, proj, "warc_stream_sink")


# ---------------------------------------------------------------------------
# Full-WARC (response-record) HTML extraction — r18. warc_ingest consumes
# WET conversion records (pre-extracted text); REAL raw Common Crawl
# .warc.gz is mostly WARC-Type: response records whose payload is the
# captured HTTP/1.1 message. This row drives the missing link: HTTP
# head/body split + framing + charset decode (codecs/http.py) feeding
# llmops.strip_markup. The fixture wraps each document in a deterministic
# HTML template and captures it under four message shapes (doc_id % 4):
# Content-Length + explicit UTF-8; chunked (with a chunk extension and a
# trailer field) + charset ABSENT (the UTF-8 fallback); Content-Length +
# ISO-8859-1 on a 404 (the latin-1 'café' marker proves a real non-UTF-8
# decode); and a no-framing connection-close capture. The oracle replays
# status, resolved charset, and the FULL strip chain closed-form.
# ---------------------------------------------------------------------------

_HTTP_HTML_PREFIX = "<html><head><title>Doc "
_HTTP_HTML_MID = (
    "</title><style>p{margin:0}</style></head>"
    "<body><!-- captured --><p>"
)
_HTTP_HTML_SUFFIX = "</p><p>café &amp; co</p></body></html>"


def _http_response_bytes(doc_id: int, text: str) -> bytes:
    """The captured HTTP/1.1 message for one document — variant by
    ``doc_id % 4`` (see the block comment above)."""
    html = (f"{_HTTP_HTML_PREFIX}{doc_id}{_HTTP_HTML_MID}{text}"
            f"{_HTTP_HTML_SUFFIX}")
    v = doc_id % 4
    if v == 2:
        # latin-1 body: the corpus is ASCII, the template's é is not —
        # a UTF-8 misread of this capture changes clean_text and
        # hash-fails
        body = html.encode("latin-1")
        return (b"HTTP/1.1 404 Not Found\r\n"
                b"Content-Type: text/html; charset=ISO-8859-1\r\n"
                + f"Content-Length: {len(body)}\r\n".encode()
                + b"\r\n" + body)
    body = html.encode("utf-8")
    if v == 0:
        return (b"HTTP/1.1 200 OK\r\n"
                b"Content-Type: text/html; charset=UTF-8\r\n"
                + f"Content-Length: {len(body)}\r\n".encode()
                + b"\r\n" + body)
    if v == 3:
        # connection-close capture: neither Content-Length nor
        # Transfer-Encoding — body is everything after the head
        return (b"HTTP/1.0 200 OK\r\n"
                b"Content-Type: text/html; charset=utf-8\r\n"
                b"\r\n" + body)
    # v == 1: chunked transfer coding, charset ABSENT (UTF-8 fallback),
    # a chunk extension on the first chunk and a trailer field after
    # the zero chunk — the full RFC 9112 §7.1 surface
    chunks = [body[i:i + 64] for i in range(0, len(body), 64)]
    enc = b""
    for i, c in enumerate(chunks):
        ext = b";cc=1" if i == 0 else b""
        enc += b"%x" % len(c) + ext + b"\r\n" + c + b"\r\n"
    enc += b"0\r\nX-Digest: fixture\r\n\r\n"
    return (b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/html\r\n"
            b"Transfer-Encoding: chunked\r\n"
            b"\r\n" + enc)


def _warc_response_fixture(spark, sf_dir) -> str:
    """Write-once-per-process raw-crawl fixture: each ``documents``
    partition packed into ONE .warc.gz of ``WARC-Type: response``
    records (executor-side — never a driver loop)."""
    import hashlib

    from bravo_spark.codecs.warc import write_warc

    # 8 shards, same rationale as _warc_fixture
    docs = (catalog.table(spark, sf_dir, "documents")
            .select("doc_id", "text").repartition(8))
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = scratch_path(f"warcresp_{tag}")
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        _write_fixture_shards(docs, out, "shard_{:05d}.warc.gz", write_warc,
                              lambda r: ({
                                  "WARC-Type": "response",
                                  "WARC-Target-URI": f"doc://{r['doc_id']}",
                                  "WARC-Date": "2026-01-01T00:00:00Z",
                                  "Content-Type":
                                      "application/http; msgtype=response",
                              }, _http_response_bytes(r["doc_id"], r["text"])))
    return out


def _warc_html_oracle() -> str:
    from bravo_spark.inventory.textops import _sql_quote, _strip_chain_sql

    q = _sql_quote
    html = (
        f"'{q(_HTTP_HTML_PREFIX)}' || CAST(doc_id AS VARCHAR) || "
        f"'{q(_HTTP_HTML_MID)}' || text || '{q(_HTTP_HTML_SUFFIX)}'"
    )
    return (
        f"WITH h AS (SELECT doc_id, {html} AS t FROM documents)\n"
        "SELECT doc_id,\n"
        "  CAST(CASE WHEN doc_id % 4 = 2 THEN 404 ELSE 200 END"
        " AS INTEGER) AS http_status,\n"
        "  CASE WHEN doc_id % 4 = 2 THEN 'iso8859-1' ELSE 'utf-8' END"
        " AS charset,\n"
        f"  trim({_strip_chain_sql('t')}) AS clean_text\n"
        "FROM h"
    )


@query("warc_html_extract", oracle=_warc_html_oracle())
def warc_html_extract(spark, sf_dir):
    """Raw-crawl HTML extraction end-to-end: ``.warc.gz`` RESPONSE
    records → binaryFile → WARC record split → HTTP head/body split
    (status line, headers, chunked/Content-Length framing, charset from
    Content-Type with UTF-8 fallback — ``codecs/http.py``) →
    ``llmops.strip_markup``. The oracle replays status, resolved
    charset, and the full strip chain closed-form, so a framing or
    charset defect in ANY of the four captured message shapes
    hash-fails.

    Scale shape: archive-grain binaryFile tasks, two map-only
    Arrow-batched stages (WARC split, HTTP parse) and a JVM-side regex
    chain — zero shuffles at any corpus size; the write-once fixture
    keeps the timed surface the READ+extract path."""
    from bravo_spark import llmops as lo
    from bravo_spark.sources.warc_source import read_warc

    out = _warc_response_fixture(spark, sf_dir)
    recs = read_warc(spark, out)
    parsed = lo.extract_http_html(
        recs.filter(F.col("warc_type") == "response"), "payload")
    stripped = lo.strip_markup(
        parsed.select(
            F.regexp_extract(F.col("uri"), r"^doc://(\d+)$", 1)
            .cast("long").alias("doc_id"),
            "http_status",
            F.col("http_charset").alias("charset"),
            F.col("http_html").alias("t"),
        ),
        "t",
    )
    return stripped.select("doc_id", "http_status", "charset", "clean_text")


@query("avro_stream_ingest", oracle=_AGG_ORACLE)
def avro_stream_ingest(spark, sf_dir):
    """The STREAMING half of the Avro OCF surface
    (sources/avro_source.py:read_avro_stream): a write-once shard
    fixture (the library's own distributed write_avro, deflate codec),
    tailed as a Structured Streaming file source with an availableNow
    drain into a memory sink, then the standard verification aggregate
    over the sink — so decode loss in any micro-batch fails the oracle.
    Restart continuation is pinned in tests/test_avro_source.py; this
    row puts the streaming decode path in front of the driver.

    Scale shape: shard-grain micro-batch tasks, Arrow-batched pure-
    Python OCF decode, zero shuffles before the batch-side aggregate;
    maxFilesPerTrigger bounds backfill batches."""
    import hashlib

    from bravo_spark.sources.avro_source import read_avro_stream, write_avro

    ev = catalog.table(spark, sf_dir, "events").select(*_COLS)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = scratch_path(f"avrostream_{tag}")
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        # 8 shards = exactly one availableNow micro-batch at
        # max_files_per_trigger=8 below, with the per-shard decode
        # spread across cores instead of one single-file task
        write_avro(ev.repartition(8), out, _AVRO_EVENT_SCHEMA)
        open(marker, "w").close()

    stream = read_avro_stream(spark, out, _SCHEMA, max_files_per_trigger=8)
    return _event_verification_agg(
        _drain_to_memory(spark, stream, "avro_stream_sink")
    )


# ---------------------------------------------------------------------------
# TFRecord / tf.train.Example — r19. The training-shard SINK format: a
# cleaned corpus leaves the lake as TFRecord shards of Example messages
# (the standard TF/JAX training input). codecs/tfrecord.py implements the
# container framing (the SAME masked-crc32c primitive RocksDB trailers
# use — cross-validated against rocksdbjni elsewhere) and the Example
# protobuf wire subset by hand (no protobuf runtime in this env); the
# fixture writes shards ONCE per process (executor-side), so the timed
# surface is the read+decode path. The oracle proves the int64 AND bytes
# feature kinds roundtrip: doc_id and n_bytes come back from Int64List
# features, the digest from the BytesList payload.
# ---------------------------------------------------------------------------

_TFRECORD_ORACLE = (
    "SELECT doc_id, octet_length(encode(text)) AS n_bytes,"
    " md5(text) AS digest FROM documents"
)


def _tfrecord_fixture(spark, sf_dir) -> str:
    """Write-once-per-process TFRecord shard fixture: each ``documents``
    partition packed into ONE .tfrecord of Example records
    (executor-side — never a driver loop), completeness-marked."""
    import hashlib

    docs = catalog.table(spark, sf_dir, "documents").select("doc_id", "text")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = scratch_path(f"tfrec_{tag}")
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        from bravo_spark.codecs.tfrecord import encode_example, write_tfrecords

        shutil.rmtree(out, ignore_errors=True)
        _write_fixture_shards(docs, out, "shard_{:05d}.tfrecord",
                              write_tfrecords,
                              lambda r: encode_example({
                                  "doc_id": r["doc_id"],
                                  "text": r["text"].encode("utf-8"),
                                  "n_bytes": len(r["text"].encode("utf-8")),
                              }))
    return out


@query("tfrecord_example_roundtrip", oracle=_TFRECORD_ORACLE)
def tfrecord_example_roundtrip(spark, sf_dir):
    """TFRecord training-shard ingest: ``.tfrecord`` shards of
    ``tf.train.Example`` records → ``binaryFile`` → Arrow-batched
    record split (per-record masked-crc32c verification,
    ``codecs/tfrecord.py``) → Example decode under an EXPLICIT feature
    schema → typed columns. The oracle proves both feature kinds
    roundtrip: ``doc_id``/``n_bytes`` return from Int64List features
    and the md5 digest from the BytesList payload — a framing, varint,
    or CRC defect in either direction hash-fails.

    Scale shape: shard-grain binaryFile tasks (TFRecord has no sync
    markers — a shard IS the parallelism grain, so shard count is the
    knob, set upstream at write time), two Arrow-batched map stages,
    zero shuffles at any corpus size."""
    from bravo_spark.sources import tfrecord_source as tfs

    out = _tfrecord_fixture(spark, sf_dir)
    typed = tfs.decode_examples(
        tfs.read_tfrecords(spark, out),
        "record",
        {"doc_id": "int", "text": "bytes", "n_bytes": "int"},
    )
    return typed.select(
        "doc_id", "n_bytes", F.md5("text").alias("digest"))


# ---------------------------------------------------------------------------
# WebDataset tar shards — r19. The MULTIMODAL training-shard container
# (one sample = adjacent tar members sharing a basename key), the
# image/audio counterpart of the TFRecord sink. The fixture writes the
# shards ONCE per process through the engine's own writer
# (sources/webdataset_source.py — deterministic USTAR bytes via
# pyarrow.fs); the timed surface is the shard read + sample grouping.
# The oracle proves BOTH parts of every sample roundtrip: the text
# payload by byte length + md5, the JSON sidecar by extracting its
# doc_id and matching it against the key-derived one.
# ---------------------------------------------------------------------------

_WEBDATASET_ORACLE = (
    "SELECT doc_id, octet_length(encode(text)) AS n_bytes,"
    " md5(text) AS digest, doc_id AS json_doc_id FROM documents"
)


def _webdataset_fixture(spark, sf_dir) -> str:
    """Write-once-per-process WebDataset shard fixture: each
    ``documents`` partition becomes ONE .tar of (key.txt, key.json)
    samples, written through the engine's own deterministic writer."""
    import hashlib

    from bravo_spark.sources.webdataset_source import (
        write_webdataset_shards,
    )

    docs = catalog.table(spark, sf_dir, "documents").select(
        F.format_string("%010d", F.col("doc_id")).alias("key"),
        F.col("text").alias("txt"),
        F.concat(F.lit('{"doc_id": '), F.col("doc_id").cast("string"),
                 F.lit("}")).alias("meta"),
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = scratch_path(f"wds_{tag}")
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        write_webdataset_shards(docs, out, "key",
                                {"txt": "txt", "meta": "json"})
        open(marker, "w").close()
    return out


@query("webdataset_roundtrip", oracle=_WEBDATASET_ORACLE)
def webdataset_roundtrip(spark, sf_dir):
    """WebDataset ingest: ``.tar`` shards of (key.txt, key.json)
    samples → ``binaryFile`` → Arrow-batched tar parse with the
    WebDataset grouping rules (key up to the first dot, ADJACENT
    members form a sample, non-adjacency refuses) → one row per sample
    with both declared parts. The oracle proves the text payload
    (byte length + md5) AND the JSON sidecar (its doc_id must equal
    the key-derived one) — a grouping, adjacency, or payload defect
    hash-fails.

    Scale shape: shard-grain binaryFile tasks (tar streams
    sequentially — a shard IS the parallelism grain, set upstream by
    the writer's partitioning), one Arrow-batched map stage, JVM
    projections, zero shuffles at any corpus size."""
    from bravo_spark.sources.webdataset_source import read_webdataset

    out = _webdataset_fixture(spark, sf_dir)
    samples = read_webdataset(spark, out, ["txt", "json"])
    return samples.select(
        F.col("key").cast("long").alias("doc_id"),
        F.length("txt").alias("n_bytes"),
        F.md5("txt").alias("digest"),
        F.get_json_object(F.col("json").cast("string"), "$.doc_id")
        .cast("long").alias("json_doc_id"),
    )


# ---------------------------------------------------------------------------
# ZIP shards — r19. The third training-shard container (image sets, code
# dumps, and scraped-document drops ship as .zip): central directory at
# the tail, per-member CRC-32, deflate payloads. codecs/zipfmt.py parses
# the framing by the spec (strict EOCD tail scan, stub-offset
# adjustment, local/central cross-check, bounded inflate — stdlib
# zipfile is only the test-side foreign validator). The fixture writes
# the shards ONCE per process through the engine's own deterministic
# writer with DEFLATE members, so the timed surface is the read path
# the codec actually earns: directory walk + inflate + CRC verify.
# ---------------------------------------------------------------------------

_ZIP_ORACLE = (
    "SELECT doc_id, octet_length(encode(text)) AS n_bytes,"
    " md5(text) AS digest FROM documents"
)


def _zip_fixture(spark, sf_dir) -> str:
    """Write-once-per-process ZIP shard fixture: each ``documents``
    partition becomes ONE .zip of ``{doc_id:010d}.txt`` members,
    written through the engine's own deterministic writer (deflate)."""
    import hashlib

    from bravo_spark.sources.zip_source import write_zip_shards

    docs = catalog.table(spark, sf_dir, "documents").select(
        F.format_string("%010d.txt", F.col("doc_id")).alias("name"),
        F.col("text").alias("body"),
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = scratch_path(f"zipshard_{tag}")
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        write_zip_shards(docs, out, "name", "body", method="deflate")
        open(marker, "w").close()
    return out


@query("zip_shard_roundtrip", oracle=_ZIP_ORACLE)
def zip_shard_roundtrip(spark, sf_dir):
    """ZIP ingest: ``.zip`` shards of ``{doc_id:010d}.txt`` members →
    ``binaryFile`` → Arrow-batched central-directory walk with
    per-member inflate + CRC-32 verification (``codecs/zipfmt.py``) →
    one row per member. The oracle proves the deflate payloads
    roundtrip byte-exactly (length + md5) and the member names carry
    the key — a framing, inflate, or CRC defect in either direction
    hash-fails.

    Scale shape: shard-grain binaryFile tasks (a ZIP's central
    directory makes the whole-shard read the honest unit; shard count
    is the writer's partitioning knob, set upstream), one Arrow-batched
    map stage, JVM projections, zero shuffles at any corpus size."""
    from bravo_spark.sources.zip_source import read_zip_shards

    out = _zip_fixture(spark, sf_dir)
    members = read_zip_shards(spark, out)
    return members.select(
        F.regexp_extract("name", r"^(\d+)\.txt$", 1).cast("long")
        .alias("doc_id"),
        F.length("data").alias("n_bytes"),
        F.md5("data").alias("digest"),
    )
