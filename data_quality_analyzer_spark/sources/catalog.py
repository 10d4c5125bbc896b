"""Table catalog over the driver-provided parquet test tables.

The reference scans one MongoDB collection per check (collection scan S1,
``claim_analysis.py:9`` et al.); here every table is a parquet DataFrame and
Catalyst handles predicate pushdown / column pruning — the Spark replacement
for the reference's secondary indexes (S6, ``scripts/load_data.py:116-120``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
