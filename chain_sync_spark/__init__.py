"""chain_sync_spark — a PySpark-native analytics engine.

Re-expresses the query/data-processing capabilities of the reference
ETL service (hive-discover/chain-sync, see SURVEY.md) as an idiomatic
Spark DataFrame engine, plus the large-scale training-data-pipeline
operators (dedup, similarity search, text analysis, multimodal
columns) the 100 TB north star requires.

Layout:
    session     — SparkSession factory with scale-oriented defaults
    tables      — named-table loader over the testdata parquet layout
    operators/  — relational + LLM-pipeline operators (each returns a DataFrame)
    functions/  — scalar/column function library (JSON, hashing, text)
    sources/    — block-op source, checkpoint table
    sync/       — the batch-sync engine (classify → handlers → MERGE)
"""

from chain_sync_spark.session import get_spark
from chain_sync_spark.tables import load_tables, TABLE_NAMES

__all__ = ["get_spark", "load_tables", "TABLE_NAMES"]
__version__ = "0.1.0"
