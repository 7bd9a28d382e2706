"""Named-table loader over the testdata parquet layout.

The testdata directory (TESTDATA.md) holds one parquet file per
table. At the 100 TB design point each of these becomes a
partitioned/bucketed table root; readers here only ever name
columns they need so Catalyst prunes the parquet scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
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
]

DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one named table. Plain parquet scan — filters/projections
    applied by callers are pushed down by Catalyst.

    The events table is written with TIMESTAMP(NANOS) which Spark's
    parquet reader rejects; read nanos as long
    (spark.sql.legacy.parquet.nanosAsLong) and convert to a
    microsecond timestamp (truncation — matches DuckDB's ns→µs cast).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    # testdata timestamp columns are parquet TIMESTAMP(MICROS,
    # isAdjustedToUTC=false); with NTZ inference on (Spark 4 default)
    # they'd read as TIMESTAMP_NTZ and instant functions reject them.
    # Read as TIMESTAMP (LTZ): under the UTC session timezone the
    # values match DuckDB's naive timestamps bit-for-bit. Runtime
    # fallback for externally-built vanilla sessions (driver contract);
    # no-op on our own sessions (session.get_spark sets it at build).
    if spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true") != "false":
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Every oracle (and the LTZ-reading choice above) assumes the UTC
    # session timezone: collected TIMESTAMP values render in session
    # TZ, so a vanilla driver session on a non-UTC host would shift
    # every timestamp output against DuckDB's naive values. Same
    # runtime-fallback pattern as the parquet flags; no-op on our own
    # sessions (session.get_spark sets it at build).
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # session.get_spark sets this at build time; this runtime
        # fallback exists ONLY for externally-built vanilla sessions
        # (the driver contract) and is a no-op on our own sessions
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register each table as a temp view so spark.sql() queries work."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
