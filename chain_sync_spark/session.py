"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point (SURVEY.md §4):
  - AQE on: runtime re-planning (skew-join splitting, dynamic
    coalescing of shuffle partitions, broadcast conversion).
  - UTC session timezone: keeps Spark/DuckDB/parquet timestamp
    semantics aligned (SURVEY.md §7 hard part d).
  - Arrow enabled: pandas_udf / applyInPandas run vectorized.
  - codegen cache sized above one live sync round's working set
    (CODEGEN_CACHE_ENTRIES), so a warm round reuses its compiled
    classes instead of recompiling them.
  - shuffle.partitions sized by env for local runs; on a real
    cluster this is superseded by AQE coalescing + initial
    partition num.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries in the JVM-wide generated-class cache (a static conf: it is
# read once, when the session is built). Spark's default of 100 is
# below the ~135 classes one live sync round compiles, so at 100 every
# warm round recompiled them all. Performance only: no result depends
# on it.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(app_name: str = "chain-sync-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet carries TIMESTAMP(NANOS); set once here for
        # our own sessions (tables.table keeps a runtime fallback
        # because the external driver builds a vanilla session)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # testdata timestamps are micros with isAdjustedToUTC=false;
        # read them as TIMESTAMP (LTZ) — with the UTC session timezone
        # the values are identical to DuckDB's naive timestamps, and
        # instant functions (unix_micros, window, ...) stay valid
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
