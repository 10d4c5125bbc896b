"""Physical-plan pins for the shapes PLANS.md documents — a plan that
silently regresses from broadcast to sort-merge, or grows a second
Python node, is a 100×-scale problem that value tests cannot see.
Each pin asserts the property, not the full plan string, so harmless
optimizer changes don't break it."""

from __future__ import annotations

import pytest

from data_quality_analyzer_spark.plans import entry_queries as EQ

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = EQ.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_near_dup_input_scans_documents_once(spark):
    """q37/q44/q45's input makes each twin in the same pass as its base
    row: one documents scan under one round-robin spread, no Union of a
    second scan."""
    plan = EQ._q37_input(spark, SF)._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 1 and "/documents.parquet" in scans[0], plan
    assert plan.count("RoundRobinPartitioning") == 1, plan
    assert "Union" not in plan, plan


def test_near_dup_input_keeps_text_not_null_filter(spark):
    """The catalog reader's schema is all-nullable, so Catalyst keeps the
    ``text IS NOT NULL`` filter of the near-dup input."""
    df = EQ._q37_input(spark, SF)
    assert "isnotnull(text" in df._jdf.queryExecution().optimizedPlan().toString()


def test_q07_topk_uses_take_ordered(spark):
    """Server-side top-k must stay TakeOrderedAndProject — a global sort
    of the corpus for a k-row answer is the classic scale killer."""
    assert "TakeOrderedAndProject" in _plan(spark, "q07_topk_revenue")


def test_q14_join_is_broadcast(spark):
    """The dimension joins must broadcast; SortMergeJoin on a dim table
    means the broadcast threshold or the plan shape regressed."""
    plan = _plan(spark, "q14_multi_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q49_decontamination_broadcasts_eval_grams(spark):
    """q49's eval-gram side is tiny by construction: both joins must be
    broadcast (PLANS.md: 2 BHJ / 0 SMJ after the HOF let-binding fix)."""
    plan = _plan(spark, "q49_decontamination")
    assert "SortMergeJoin" not in plan, plan


def test_q51_single_arrow_node(spark):
    """The trained classifier is ONE vectorized scorer: exactly one
    ArrowEvalPython, zero row-at-a-time BatchEvalPython."""
    plan = _plan(spark, "q51_quality_classifier")
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "q90_image_structural_integrity",
        "q91_fetch_plan",
        "q93_phash_bucket_layout",
        "q96_recrawl_schedule",
    ],
)
def test_round5_queries_stay_jvm_side(spark, name):
    """The round-5 crawl/image queries are pure Catalyst by design —
    any Python node appearing is a regression."""
    plan = _plan(spark, name)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_q88_funnel_single_aggregate(spark):
    """The round-6 funnel is ONE session-keyed collect_list aggregate
    reusing the sessionize window's partitioning: no join anywhere, and
    no exchange beyond the session hash + the single-row final agg —
    a reappearing per-step join chain is the regression this pins."""
    plan = _plan(spark, "q88_session_funnel")
    assert "Join" not in plan, plan
    import re

    assert len(re.findall(r"\bExchange (hash|Single)", plan)) <= 2, plan


def test_q93_salt_in_partial_aggregate(spark):
    """The phash layout audit must aggregate on (bucket, salt) before
    merging — if the salt vanishes from the plan the hot bucket lands
    on one reducer again."""
    assert "_salt" in _plan(spark, "q93_phash_bucket_layout")
