"""The catalog reader: each table's schema is inferred once per
SparkContext and reused, a table rewritten in place is inferred again,
and the reused schema is the inferred, all-nullable one."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_quality_analyzer_spark.sources.catalog import TABLES, read_table, table_files

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", TABLES)
def test_memoized_schema_is_the_inferred_one(spark, count_jobs, name):
    """A repeated read runs no job, and its schema equals what plain
    inference gives: every field nullable."""
    read_table(spark, SF, name)
    df, jobs = count_jobs(lambda: read_table(spark, SF, name))
    assert jobs == 0
    assert df.schema == spark.read.parquet(f"{SF}/{name}.parquet").schema
    assert all(f.nullable for f in df.schema.fields), df.schema


def test_table_rewritten_in_place_is_inferred_again(spark, tmp_path):
    """A table rewritten at the same path with one more column shows that
    column on the next read, in the same SparkContext."""
    region = pq.read_table(f"{SF}/region.parquet")
    pq.write_table(region, tmp_path / "region.parquet")
    assert read_table(spark, str(tmp_path), "region").columns == region.column_names

    extra = pa.array(range(region.num_rows), pa.int64())
    pq.write_table(region.append_column("r_extra", extra), tmp_path / "region.parquet")
    df = read_table(spark, str(tmp_path), "region")
    assert df.columns == region.column_names + ["r_extra"]
    assert sorted(r.r_extra for r in df.collect()) == list(range(region.num_rows))


def test_unlisted_path_falls_back_to_inference(spark):
    """A path the driver cannot stat (here a URI) is read with plain
    schema inference."""
    uri = f"file://{SF}"
    assert table_files(f"{uri}/region.parquet") is None
    assert read_table(spark, uri, "region").count() == pq.read_metadata(
        f"{SF}/region.parquet"
    ).num_rows
