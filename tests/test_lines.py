"""Line-quality filter (operators/lines.py): three-engine agreement on
planted multi-line documents, including the edge cases the synthetic
corpus cannot produce (tabs, VT, NBSP edges, empty lines, cookie banners,
all-lines-dropped documents)."""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from data_quality_analyzer_spark.operators import lines as LN

GOOD = (
    "the quick brown fox jumps over a lazy dog while the river runs "
    "past the old mill and the miller waves at the fox again today"
)  # 25 words, has stopwords, no boilerplate
COOKIE = (
    "the site uses a cookie banner so that the pages can remember the "
    "choices you make while browsing the catalog of parts available here"
)  # >= 20 words, stopwords present -> must be dropped as boilerplate
NO_STOP = (
    "quick brown foxes jump over lazy dogs while rivers run past old "
    "mills and millers wave at foxes once more during bright mornings"
)  # >= 20 words but no 'the'/'a' token
LONG = " ".join(["the"] + ["word"] * 100)  # 101 words
# exactly MIN_WORDS words, one of them VT-separated: RE2's \s omits VT
VT_LINE = " ".join(GOOD.split()[:20]).replace(" ", "\x0b", 1)
# the only stopword carries an NBSP edge, which is no whitespace here
NBSP_LINE = f"{NO_STOP} a\xa0"

DOCS = [
    f"{GOOD}\n{COOKIE}\nshort line\n{GOOD}",
    f"\t {GOOD} \t\n\n   \n{NO_STOP}",
    f"{LONG}\nshort",
    "short\nalso short",  # everything dropped -> NULL text
    f"{VT_LINE}\n{NBSP_LINE}",
    None,
]


def _expected(text):
    return LN.filter_lines_python(text)


def test_python_twin_reasons():
    cleaned, counts = _expected(DOCS[0])
    assert counts == {
        "keep": 2,
        "short": 1,
        "boilerplate": 1,
        "long": 0,
        "no_stopword": 0,
    }
    assert cleaned == f"{GOOD}\n{GOOD}"
    cleaned, counts = _expected(DOCS[1])
    # tab-edged GOOD line still keeps (regex edge-trim), blanks are short
    assert counts["keep"] == 1 and counts["no_stopword"] == 1
    assert counts["short"] == 2
    cleaned, counts = _expected(DOCS[2])
    assert counts["long"] == 1 and counts["short"] == 1 and cleaned is None
    cleaned, counts = _expected(DOCS[3])
    assert cleaned is None and counts["short"] == 2
    cleaned, counts = _expected(DOCS[4])
    assert cleaned == VT_LINE
    assert counts["keep"] == 1 and counts["no_stopword"] == 1
    assert _expected(None) == (
        None,
        {"short": 0, "long": 0, "no_stopword": 0, "boilerplate": 0, "keep": 0},
    )


def test_spark_matches_python(spark):
    pdf = pd.DataFrame({"doc_id": range(len(DOCS)), "text": DOCS})
    sdf = spark.createDataFrame(pdf)
    got = (
        LN.filter_lines(sdf, "text", out_col="clean")
        .orderBy("doc_id")
        .toPandas()
    )
    for i, text in enumerate(DOCS):
        want_clean, want_counts = _expected(text)
        row = got.iloc[i]
        if text is None:
            # NULL text: split -> NULL, counts are NULL-propagated
            assert pd.isna(row["clean"])
            continue
        gv = None if pd.isna(row["clean"]) else row["clean"]
        assert gv == want_clean, (i, gv)
        assert row["lines_kept"] == want_counts["keep"], i
        for reason in ("short", "long", "no_stopword", "boilerplate"):
            assert row[f"lines_{reason}"] == want_counts[reason], (i, reason)
        assert row["lines_in"] == len(text.split("\n")), i


def test_duckdb_twin_matches_python():
    con = duckdb.connect()
    con.register(
        "t", pd.DataFrame({"text": [d for d in DOCS if d is not None]})
    )
    kept = f"list_filter(string_split(text, chr(10)), x -> {LN.line_flag_sql('x', 'keep')})"
    reasons = ", ".join(
        f"len([x FOR x IN string_split(text, chr(10)) "
        f"IF {LN.line_flag_sql('x', r)}]) AS n_{r}"
        for r in ("short", "long", "no_stopword", "boilerplate")
    )
    rows = con.sql(
        f"SELECT CASE WHEN len({kept}) > 0 "
        f"THEN array_to_string({kept}, chr(10)) END AS clean, {reasons} FROM t"
    ).fetchall()
    for text, (clean, *counts) in zip(
        [d for d in DOCS if d is not None], rows
    ):
        want_clean, want_counts = _expected(text)
        assert clean == want_clean, text
        assert list(counts) == [
            want_counts[r]
            for r in ("short", "long", "no_stopword", "boilerplate")
        ], text


def test_map_only_plan(spark):
    """The operator itself must add no exchange: single-partition input ->
    no Exchange node in the optimized plan."""
    sdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": [GOOD]})
    ).coalesce(1)
    plan = (
        LN.filter_lines(sdf, "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
