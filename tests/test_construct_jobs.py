"""Construction job budget: building a catalog query may run no more
Spark jobs than ``construct_jobs.json`` pins for it.

Most builders are lazy and run none; the rest run eager driver-side
actions (checkpoints, probes, collects), each costing one job plus one per
query stage below it.  A planted extra action (a stray ``.count()``) fails
here even when the results stay right.  Each count is of a warm build:
every catalog table has been read once, so the schema memo is filled and
no build pays a table's one-off schema inference (a second build of each
query ran the same counts as this one for all of them, at twice the
cost).  After a change that lowers a count, refresh the pins with

    python tests/test_construct_jobs.py
"""

from __future__ import annotations

import json
import os

import pytest

from data_quality_analyzer_spark.plans import entry_queries as EQ
from data_quality_analyzer_spark.sources.catalog import TABLES, read_table

SF = "/root/testdata/sf0.001"
PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "construct_jobs.json")
with open(PINS) as f:
    BUDGET: dict[str, int] = json.load(f)


def fill_schema_memo(spark) -> None:
    for table in TABLES:
        read_table(spark, SF, table)


@pytest.fixture(scope="module")
def warm(spark):
    fill_schema_memo(spark)


def build_jobs(spark, count_jobs, fn) -> int:
    return count_jobs(lambda: fn(spark, SF))[1]


def test_every_query_has_a_budget():
    assert set(BUDGET) == set(EQ.queries())


@pytest.mark.parametrize("name", sorted(BUDGET))
def test_construction_job_budget(spark, warm, count_jobs, name):
    jobs = build_jobs(spark, count_jobs, EQ.queries()[name])
    assert jobs <= BUDGET[name], (
        f"{name} builds with {jobs} Spark jobs, over its pinned {BUDGET[name]}"
    )


def test_budget_sees_a_planted_action(spark, warm, count_jobs):
    """The counter sees one extra eager action in a builder."""
    q01 = EQ.queries()["q01_pricing_summary"]

    def planted(spark, sf_dir):
        df = q01(spark, sf_dir)
        df.count()
        return df

    assert build_jobs(spark, count_jobs, planted) > BUDGET["q01_pricing_summary"]


if __name__ == "__main__":
    from conftest import job_counter
    from data_quality_analyzer_spark.session import get_spark

    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    count = job_counter(s)
    fill_schema_memo(s)
    pins = {n: build_jobs(s, count, fn) for n, fn in sorted(EQ.queries().items())}
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1)
        f.write("\n")
    print(f"{len(pins)} queries, {sum(pins.values())} construction jobs")
