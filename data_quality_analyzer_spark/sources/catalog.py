"""Table catalog over the driver-provided parquet test tables.

The reference scans one MongoDB collection per check (collection scan S1,
``claim_analysis.py:9`` et al.); here every table is a parquet DataFrame and
Catalyst handles predicate pushdown / column pruning — the Spark replacement
for the reference's secondary indexes (S6, ``scripts/load_data.py:116-120``).
"""

from __future__ import annotations

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
