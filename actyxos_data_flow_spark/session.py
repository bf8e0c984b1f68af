"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]``; the config is
written so the same code scales to a multi-executor cluster: AQE handles
runtime re-planning/skew, shuffle partitions sized to cores locally (set
to ~2-3x total cores on a real cluster), Arrow enabled for the Pandas-UDF
slow path.

The generated-code cache holds ``CODEGEN_CACHE_MAX_ENTRIES`` compiled
classes instead of Spark's default of 100. One pass of a registry query
plus a mutable-store ingest → retract → upsert lifecycle compiles about
165, so at 100 every pass evicted its own classes and compiled them
again, on the driver and on executor threads alike. The cache is static
and JVM-wide, so it can only be sized when the session is built.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Compiled-class cache size. Measured working set (perfbench, warm JVM):
# a batch_queries pass compiles ~165 classes at 100 entries and ~10 at
# 2,000, so 2,000 holds every plan shape a session runs, with headroom.
CODEGEN_CACHE_MAX_ENTRIES = 2000


def get_spark(app_name: str = "actyxos_data_flow_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0)
    master = f"local[{cpus}]" if cpus else "local[*]"
    n_shuffle = str(cpus if cpus else (os.cpu_count() or 8))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # size shuffles to cores in local mode (cluster: ~2-3x total cores)
        .config("spark.sql.shuffle.partitions", n_shuffle)
        .config("spark.default.parallelism", n_shuffle)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        # AQE: runtime coalescing, skew-join splitting, broadcast demotion
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # deterministic oracle comparison: duckdb timestamps are UTC-naive
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for Pandas UDF / applyInPandas / toPandas
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # keep stdout machine-readable: progress bars interleave with
        # bench.py's single JSON line and break the driver's parser
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
