from __future__ import annotations

import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_quality_analyzer_spark.session import get_spark  # noqa: E402

FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "..", ".fixtures")
SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    yield s


def job_counter(spark):
    """A function ``count(fn)`` that returns ``(fn(), the number of Spark
    jobs fn ran)``, counted through a job group of its own."""
    sc = spark.sparkContext
    seq = itertools.count()

    def run(fn):
        group = f"count-jobs-{next(seq)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def count_jobs(spark):
    return job_counter(spark)


@pytest.fixture(scope="session")
def corpus_path():
    """Deterministic 2k-row image+caption fixture corpus (t1 smoke tier)."""
    from data_quality_analyzer_spark.sources.fixtures import write_corpus

    out = os.path.join(FIXTURE_DIR, "t1")
    return write_corpus(out, 2000, seed=42)


@pytest.fixture(scope="session")
def corpus_pdf():
    from data_quality_analyzer_spark.sources.fixtures import generate_corpus

    return generate_corpus(2000, seed=42)
