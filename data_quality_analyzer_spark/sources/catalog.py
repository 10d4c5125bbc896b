"""Table catalog over the driver-provided parquet test tables.

The reference scans one MongoDB collection per check (collection scan S1,
``claim_analysis.py:9`` et al.); here every table is a parquet DataFrame and
Catalyst handles predicate pushdown / column pruning — the Spark replacement
for the reference's secondary indexes (S6, ``scripts/load_data.py:116-120``).

:func:`read_table` is the one reader of a catalog table.  Parquet schema
inference costs one Spark job per read, so each table's schema is inferred
once per SparkContext (through :func:`session.per_context`) and every later
read passes it to ``spark.read.schema(...)``, which runs no job.  The memo
key is the table path plus the ``(file, size, mtime_ns)`` listing of its
files, so a table rewritten in place is inferred again; a path that cannot
be stat'ed (a remote filesystem) is read with plain inference.  The schema
is always the inferred one, never a hand-written ``StructType``: Spark reads
file sources all-nullable, and a non-nullable schema would let Catalyst
drop ``IS NOT NULL`` filters and change results on NULL data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..session import per_context

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


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def table_files(path: str) -> tuple[tuple[str, int, int], ...] | None:
    """``(file, size, mtime_ns)`` of every file of a table (one file or a
    directory of part files), or None when the path cannot be stat'ed."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return ((path, st.st_size, st.st_mtime_ns),)
        files = []
        for root, _, names in os.walk(path):
            for f in names:
                st = os.stat(os.path.join(root, f))
                files.append((os.path.join(root, f), st.st_size, st.st_mtime_ns))
        return tuple(sorted(files))
    except OSError:
        return None


@per_context
def _schema(spark: SparkSession, path: str, files):
    """The inferred schema of ``path`` as its ``files`` stand (the listing
    is only the memo key)."""
    return spark.read.parquet(path).schema


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = table_path(sf_dir, name)
    files = table_files(path)
    if files is None:
        return spark.read.parquet(path)
    return spark.read.schema(_schema(spark, path, files)).parquet(path)
