"""Driver-built relations: rows the driver already holds → a DataFrame.

``spark.createDataFrame(list_of_tuples)`` pickles the rows into a
Python-backed RDD, so every scan of the result starts Python-worker
tasks to unpickle them again — and a sync round scans its batch about
15 times (the ``max(block_num)`` pre-scan, the stats fold, every
handler and merge plan). A ``pyarrow.Table`` takes PySpark's Arrow
path instead, in any session: the rows cross into the JVM once, as a
local relation, and no scan runs Python. Every relation the sync path
builds from driver-side rows goes through ``driver_frame``.

Timestamps: pass them as ISO strings in a ``string`` column and cast
in Spark (see ``sources.rpc.ops_from_rpc``). The cast parses in the
session time zone, exactly as the JSON reader does; a Python
``datetime`` would instead carry the driver process's local zone.
"""

from __future__ import annotations

from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def driver_frame(spark: SparkSession, rows: Iterable[tuple], ddl: str) -> DataFrame:
    """``rows`` (tuples in the column order of the DDL schema ``ddl``;
    none gives a typed empty frame) as a JVM-resident DataFrame."""
    struct = StructType.fromDDL(ddl)
    arrow = to_arrow_schema(struct)
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.table(
        [pa.array(col, type=field.type) for col, field in zip(columns, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)
