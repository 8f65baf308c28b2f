"""SparkSession factory tuned for the engine's workload.

Scale posture: these configs are the local-mode analog of what we'd set on a
1000-executor cluster — AQE on (runtime re-planning, skew-join splitting,
partition coalescing), generous broadcast threshold for star-schema dims,
Arrow for any Python exchange, and shuffle partitions sized to the
parallelism at hand rather than the 200 default.

Python workers start through ``bravo_worker.py`` (beside this package),
which drops PySpark's zip archives from the worker's import path when the
interpreter has the same PySpark installed, so no task pays the per-task
``importlib.invalidate_caches()`` re-read of those archives.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

APP_NAME = "bravo_spark"
WORKER_DAEMON = "bravo_worker"
_WORKER_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    except ValueError:
        return 32


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an existing session (e.g. the
    driver's session passed into ``queries()`` callables)."""
    conf = spark.conf
    safe = {
        # deterministic timestamp semantics vs the DuckDB oracle (parquet
        # stores UTC instants; DuckDB reads them as naive-UTC)
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # star-schema dims (region/nation/customer/supplier/part) stay well
        # under this even at sf100 for the small dims; Catalyst still picks
        # SMJ for anything bigger.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.shuffle.partitions": str(max(_cpus(), 8)),
        # fixture parquet uses TIMESTAMP(NANOS); read as epoch-nanos long
        # and convert in the catalog (catalog.table)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # r19: PySpark's per-DataFrame-op call-site capture (error
        # attribution for query contexts) costs a Python stack walk + a
        # py4j round trip on EVERY DataFrame method; across a
        # construction-heavy plan that is tens of ms per query build
        # (measured: ~30% of _lloyd_refine's driver-side build time).
        # Purely an error-message nicety — results are unaffected.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }
    for k, v in safe.items():
        try:
            conf.set(k, v)
        except Exception:
            pass  # immutable in this deployment — fine, it's advisory
    # the flag above is read ONCE and cached process-wide at the first
    # DataFrame op; clear the cache so a session tuned after some prior
    # activity (the driver's own session) still picks it up.
    # PRIVATE-API NOTE (pyspark 4.1.x, pyspark/errors/utils.py): guarded
    # with hasattr so a rename in a future PySpark degrades to a no-op
    # of the cache reset only — the conf above still applies to any
    # DataFrame created after tune() — instead of silently creating a
    # dead attribute.
    try:
        from pyspark.errors import utils as _err_utils

        if hasattr(_err_utils, "_enable_debugging_cache"):
            _err_utils._enable_debugging_cache = None
    except Exception:
        pass
    return spark


def _worker_daemon_importable(master: str) -> bool:
    """Whether Spark's Python workers can import ``bravo_worker``: in local
    mode they start in this process's working directory with its
    ``PYTHONPATH``; elsewhere the stock daemon runs."""
    if not master.startswith("local"):
        return False
    dirs = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return os.path.realpath(_WORKER_DIR) in {os.path.realpath(d) for d in dirs}


def get_spark(app_name: str = APP_NAME, master: str | None = None) -> SparkSession:
    cpus = _cpus()
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", os.environ.get("BRAVO_SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(256 * 1024 * 1024))
    )
    if _worker_daemon_importable(master):
        builder = builder.config("spark.python.daemon.module", WORKER_DAEMON)
    spark = builder.getOrCreate()
    return tune(spark)
