"""Table catalog over the driver's parquet fixtures (TESTDATA.md).

``load`` returns plain DataFrames — scans stay declarative so Catalyst can
push filters/projections into the parquet reader (check with
``df.explain``: PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast in star joins at any realistic
# scale factor (region/nation are bounded; supplier/customer/part grow with
# sf but stay orders of magnitude under the fact tables).
BROADCASTABLE = ("region", "nation", "supplier")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# columns stored as TIMESTAMP(NANOS) in the fixture parquet; read as
# epoch-nanos longs (spark.sql.legacy.parquet.nanosAsLong) and converted
# here to microsecond timestamps (Spark's native precision)
TIMESTAMP_COLS = {
    "events": ("ts",),
    "lineitem": ("l_shipdate",),
    "orders": ("o_orderdate",),
}


# DataFrame plans are immutable; cache them per (session, sf_dir, table) so
# repeated query invocations don't re-pay parquet footer/schema analysis
# (~100 ms × 10 tables per call otherwise — dominates small-SF benchmarks).
_table_cache: dict[tuple[int, str, str], DataFrame] = {}


def _session_key(spark: SparkSession) -> int:
    return id(spark._jsparkSession) if hasattr(spark, "_jsparkSession") else id(spark)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    key = (_session_key(spark), sf_dir, name)
    if key in _table_cache:
        return _table_cache[key]
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for c in TIMESTAMP_COLS.get(name, ()):
        if c in df.columns and dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    _table_cache[key] = df
    return df


_SIZE_SUFFIX = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
    "p": 1 << 50, "pb": 1 << 50,
}


def _size_bytes(value, default: int) -> int:
    """Parse a Spark byte-size conf string ('128MB', '4m', '134217728b')."""
    import re

    try:
        m = re.fullmatch(r"(\d+)\s*([a-z]*)", str(value).strip().lower())
        return int(m.group(1)) * _SIZE_SUFFIX[m.group(2)]
    except (AttributeError, KeyError, ValueError):
        return default


def estimated_scan_splits(spark: SparkSession, path: str) -> int | None:
    """The number of scan partitions Spark's FilePartition packing would
    produce for the parquet files under ``path``, computed driver-side
    from file sizes alone (os.scandir + two conf reads). Replays the real
    algorithm: maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    totalBytes / minPartitionNum)); files sliced into maxSplitBytes
    ranges; ranges greedily packed largest-first with openCost padding.
    Returns None when ``path`` is not locally listable or holds a
    subdirectory (a partitioned or nested layout this flat listing does
    not replay); the caller then falls back to the RDD probe."""
    try:
        if os.path.isfile(path):
            sizes = [os.path.getsize(path)]
        else:
            entries = [e for e in os.scandir(path)
                       if not e.name.startswith(("_", "."))]
            if any(e.is_dir() for e in entries):
                return None
            sizes = [e.stat().st_size for e in entries if e.is_file()]
        # Spark's file index drops zero-byte files before the split math
        sizes = [s for s in sizes if s]
    except OSError:
        return None
    if not sizes:
        return None
    max_pb = _size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"), 128 << 20
    )
    open_cost = _size_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4m"), 4 << 20
    )
    min_pn = spark.conf.get("spark.sql.files.minPartitionNum", None)
    try:
        min_pn = int(min_pn)
    except (TypeError, ValueError):
        min_pn = spark.sparkContext.defaultParallelism
    total = sum(s + open_cost for s in sizes)
    bytes_per_core = total // max(1, min_pn)
    max_split = max(1, min(max_pb, max(open_cost, bytes_per_core)))
    chunks: list[int] = []
    for s in sizes:
        whole, rest = divmod(s, max_split)
        chunks.extend([max_split] * whole)
        if rest:
            chunks.append(rest)
    parts, cur = 1, 0
    for c in sorted(chunks, reverse=True):
        if cur + c > max_split and cur > 0:
            parts += 1
            cur = 0
        cur += c + open_cost
    return parts


# spread decisions are deterministic per (session, dir, table) for the
# process lifetime (fixture files don't change underneath a session), so
# cache them: repeat table_spread calls cost zero py4j round trips.
_spread_cache: dict[tuple[int, str, str], int] = {}


def table_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``table`` + a round-robin repartition to the session's parallelism,
    applied ONLY when the scan yields fewer splits than cores/2. The
    fixture parquet is a single row group, so Spark's byte-range splitting
    cannot parallelize it and every map stage above it runs on one core —
    fatal for CPU-heavy per-document work (digests, regex shingling). At
    production scale inputs carry many row groups/files, the condition is
    false, and this is a plain scan with no extra shuffle.

    r20 (guide §1.2 per-call work): the split count comes from
    ``estimated_scan_splits`` — file sizes listed driver-side — instead
    of ``df.rdd.getNumPartitions()``, which instantiated a full RDD
    conversion (plan analysis + py4j) on every call of every spread
    consumer. Non-local paths fall back to the RDD probe; either way the
    decision is cached per (session, sf_dir, table)."""
    df = table(spark, sf_dir, name)
    key = (_session_key(spark), sf_dir, name)
    target = _spread_cache.get(key)
    if target is None:
        cores = spark.sparkContext.defaultParallelism
        splits = estimated_scan_splits(
            spark, os.path.join(sf_dir, f"{name}.parquet")
        )
        if splits is None:
            splits = df.rdd.getNumPartitions()
        target = cores if splits < max(2, cores // 2) else 0
        _spread_cache[key] = target
    return df.repartition(target) if target else df


def load(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Point the session's temp views at ``sf_dir``'s tables —
    unconditionally. Temp views are session-global mutable state anyone
    (a test, a user notebook cell) may clobber with a same-named frame;
    a "last registered dir" guard here turned that into a silent
    wrong-dataset read (the r7 suite-order failure). Re-registering is
    driver-only and cheap because the expensive parquet analysis is
    memoized per (session, sf_dir, table) in ``_table_cache`` —
    ``createOrReplaceTempView`` on a cached plan is a catalog-map update,
    ~1 ms × 10 tables."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
