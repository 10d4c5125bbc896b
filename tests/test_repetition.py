"""Gopher n-gram repetition metrics: the native sorted-RLE form equals
its DuckDB twin exactly and the map-only Arrow kernel agrees with both;
a phrase loop that EVADES the distinct-token-ratio heuristic is caught;
edge cases."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_quality_analyzer_spark.operators import repetition as RP

ROWS = [
    (1, "the cat sat on the mat and then the cat sat on the mat again"),
    (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (3, "spam spam spam spam"),
    (4, None),
    (5, "one two"),
    (6, "buy now limited offer buy now limited offer buy now limited offer"),
    (7, ""),
    (8, "  leading   and trailing   spaces  "),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


def test_native_matches_duckdb(docs):
    native = (
        RP.token_ngram_metrics(docs)
        .orderBy("doc_id", "n")
        .toPandas()
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(ROWS, columns=["doc_id", "text"]))
    duck = (
        con.sql(RP.token_ngram_metrics_duck_sql())
        .df()
        .sort_values(["doc_id", "n"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(native, duck, check_exact=True)


def test_udf_matches_native(docs):
    native = RP.token_ngram_metrics(docs).toPandas()
    got = (
        docs.select(
            "doc_id", RP.repetition_metrics_udf()(F.col("text")).alias("m")
        )
        .select("doc_id", "m.*")
        .toPandas()
        .set_index("doc_id")
    )
    for _, r in native.iterrows():
        n = int(r["n"])
        g = got.loc[r["doc_id"]]
        assert abs(g[f"top_frac_{n}"] - r["top_frac"]) < 1e-6
        assert abs(g[f"dup_frac_{n}"] - r["dup_frac"]) < 1e-6
    # rows the native form omits (null / < n tokens) read 0.0 in the UDF
    assert (got.loc[4] == 0.0).all()
    assert got.loc[5, "top_frac_3"] == 0.0 and got.loc[5, "dup_frac_5"] == 0.0


def test_phrase_loop_evades_distinct_ratio_but_not_gopher(spark):
    """The planted adversary: an 8-word sentence repeated 10× has
    distinct-token ratio 8/80 = 0.1 — caught — but a 20-word TEMPLATE
    with rotating slots keeps the ratio above the 0.2 floor while the
    duplicated-5-gram fraction nails it."""
    from data_quality_analyzer_spark.functions import text as TX

    template = (
        "dear {} thank you for your purchase of {} your order number is {} "
        "and it will ship soon"
    )
    doc = " ".join(
        template.format(f"user{i}", f"item{i}", f"num{i}") for i in range(6)
    )
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    ratio = df.select(
        TX.distinct_token_ratio(F.col("text")).alias("r")
    ).collect()[0]["r"]
    assert ratio > 0.2, "adversary must evade the heuristic rule"
    m = {
        r["n"]: r
        for r in RP.token_ngram_metrics(df).collect()
    }
    assert m[5]["dup_frac"] > RP.GOPHER_DUP_THRESHOLDS[5]
    # most of the doc is duplicated 5-grams — the decisive signal
    assert m[5]["dup_frac"] > 0.5


def test_udf_chunk_boundaries(spark):
    """Rows spanning numpy chunk boundaries score identically to a
    single-row call (chunk-global arrays must not leak across docs)."""
    doc = "alpha beta alpha beta alpha beta gamma"
    many = [(i, doc) for i in range(RP._SCORE_CHUNK - 2, RP._SCORE_CHUNK + 2)]
    df = spark.createDataFrame(many + [(0, doc)], "doc_id long, text string")
    got = (
        df.select("doc_id", RP.repetition_metrics_udf()(F.col("text")).alias("m"))
        .select("doc_id", "m.*")
        .toPandas()
    )
    assert got.drop(columns="doc_id").nunique().max() == 1  # all rows equal


def test_prep_gopher_gate(spark):
    """prep_text_corpus(max_dup5_frac=...): the template adversary that
    passes every heuristic is dropped by the phrase-repetition stage,
    attributed in the funnel; clean docs pass."""
    from data_quality_analyzer_spark.plans.prep import prep_text_corpus
    from data_quality_analyzer_spark.sources import seed_corpus as SC

    template = (
        "dear {} thank you for your purchase of {} your order number is {} "
        "and it will ship soon"
    )
    spammy = " ".join(
        template.format(f"user{i}", f"item{i}", f"num{i}") for i in range(6)
    )
    clean = " ".join(SC.sentences("en", 4, seed=55))
    docs = spark.createDataFrame(
        [(1, clean, "en"), (2, spammy, "en")],
        "doc_id long, text string, lang string",
    )
    funnel: list = []
    out = prep_text_corpus(
        spark, docs, max_dup5_frac=0.15, funnel=funnel
    )
    assert {r["doc_id"] for r in out.collect()} == {1}
    by = {e["stage"]: e for e in funnel}
    assert by["heuristics"]["dropped"] == 0   # the adversary passes rules
    assert by["gopher_repetition"]["dropped"] == 1


def test_udf_matches_native_on_unicode_whitespace(spark):
    """Java \\s is ASCII-only: U+00A0 (non-breaking space, ubiquitous in
    crawled HTML) must be part of a TOKEN, not a separator, in BOTH the
    native form and the numpy kernel (round-5 review finding)."""
    doc = "buy now buy now buy now and buy now today"
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    native = {
        int(r["n"]): r for r in RP.token_ngram_metrics(df).collect()
    }
    got = (
        df.select(RP.repetition_metrics_udf()(F.col("text")).alias("m"))
        .select("m.*")
        .collect()[0]
    )
    for n in (2, 3, 5):
        assert abs(got[f"top_frac_{n}"] - native[n]["top_frac"]) < 1e-6, n
        assert abs(got[f"dup_frac_{n}"] - native[n]["dup_frac"]) < 1e-6, n
    # and the repeated token really is 'buy\xa0now' (one token, 4 copies
    # of a 2-gram would differ if \xa0 split)
    assert native[1 + 1]["dup_frac"] > 0


def test_crossdoc_dup_metrics(spark):
    """Planted cross-doc template spam: shared licence boilerplate is
    flagged, unique docs score 0, short docs emit no row."""
    boiler = "this content is licensed under the creative commons license"
    rows = [
        (1, boiler + " alpha beta gamma delta epsilon unique tail one"),
        (2, boiler + " zeta eta theta iota kappa different tail two"),
        (3, "completely original sentence with no shared phrases at all"),
        (4, "too short"),          # < 5 words -> no row
        (5, None),                 # null -> no row
        (6, boiler),               # the boilerplate alone
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in RP.crossdoc_dup_metrics(docs).collect()
    }
    assert set(got) == {1, 2, 3, 6}
    # boiler = 9 words -> 5 distinct 5-grams, shared by docs 1, 2 and 6
    assert got[6]["n_grams"] == 5 and got[6]["n_dup_grams"] == 5
    assert got[6]["dup_frac"] == 1.0
    assert got[3]["n_dup_grams"] == 0 and got[3]["dup_frac"] == 0.0
    # docs 1/2: 17 words -> 13 grams each; the 5 boiler grams are
    # shared, the 8 grams crossing into the unique tails are not
    for d in (1, 2):
        assert got[d]["n_grams"] == 13
        assert got[d]["n_dup_grams"] == 5
        assert got[d]["dup_frac"] == round(5 / 13, 4)

    kept = RP.crossdoc_dup_filter(docs, max_dup_frac=0.3)
    assert {r["doc_id"] for r in kept.select("doc_id").collect()} == {
        3, 4, 5,
    }


def test_prep_crossdoc_stage(spark):
    """max_crossdoc_dup_frac as a prep stage: planted mirrors with
    sub-Jaccard overlap are dropped after near-dedup, with a funnel
    row."""
    from data_quality_analyzer_spark.plans.prep import prep_text_corpus
    from data_quality_analyzer_spark.sources import seed_corpus as SC

    sents = SC.sentences("en", 16, seed=23)
    boiler = " ".join(sents[0:3])
    a = boiler + " " + " ".join(sents[3:8])
    b = boiler + " " + " ".join(sents[8:13])   # shares only the boiler
    c = " ".join(sents[13:16]) + " entirely distinct closing words here"
    docs = spark.createDataFrame(
        [(1, a, "en"), (2, b, "en"), (3, c, "en")],
        "doc_id long, text string, lang string",
    )
    funnel: list = []
    out = prep_text_corpus(
        spark, docs, max_crossdoc_dup_frac=0.25, funnel=funnel
    )
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert kept == {3}
    by = {e["stage"]: e for e in funnel}
    assert by["near_dedup"]["dropped"] == 0   # overlap below Jaccard 0.8
    assert by["crossdoc_dup"]["dropped"] == 2  # both mirrors gated


def test_crossdoc_plan_broadcasts_dup_grams(spark):
    """The join-back's build side (duplicated grams only) must broadcast
    at test scale, and the plan must never sort-merge the corpus side."""
    docs = spark.createDataFrame(
        [(i, "one two three four five six seven") for i in range(50)],
        "doc_id long, text string",
    )
    out = RP.crossdoc_dup_metrics(docs)
    out.collect()  # AQE decides the join strategy at RUNTIME
    plan = out._jdf.queryExecution().executedPlan().toString()
    # AQE's toString prints final AND initial plans; judge the final one
    final = plan.split("Initial Plan")[0]
    assert "isFinalPlan=true" in final, plan
    assert "BroadcastHashJoin" in final, plan
    assert "SortMergeJoin" not in final, plan
