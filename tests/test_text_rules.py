"""Rule-expression unit tests on hand-built micro-DataFrames, covering the
reference's null/empty/blank quirks (SURVEY §1.3) plus the three-engine
agreement of the scrub (Java regex / RE2 / Python re)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_quality_analyzer_spark.functions import scrub as SC
from data_quality_analyzer_spark.functions import text as TX
from data_quality_analyzer_spark.operators import rules as RU

# 2,600 distinct-ish tokens, ~18k chars: fails max_length only
_LONG_VARIED = " ".join(f"the word{i}" for i in range(1300))

EDGE_TEXTS = [
    "Contact me at john.doe@example.com or (555) 123-4567 today",
    "SSN 123-45-6789 and phone 555-123-4567 plus 555.123.4567",
    "the quick brown fox and the lazy dog run over the hill",
    "",
    "   ",
    None,
    "aaa aaa aaa aaa aaa aaa",
    "@@@@ #### !!!! %%%%",
    "swearword1 in the middle of the text here",
    "x",
    "the  double   spaces \t tabs \n newlines here and there",
    "email@no-tld@double.at@x.com mixed 123-45-6789-extra",
    # the catalog fixtures hold no text over MAX_CHARS / MAX_TOKENS:
    _LONG_VARIED,
    _LONG_VARIED[: TX.MAX_CHARS],  # exactly at the char bound
    "ab " * 2600,  # 5,200 tokens of two words: over every upper bound
    # planted whitespace: the class is ASCII [ \t\n\x0b\f\r], trimmed
    # from both ends; NBSP is content
    "the cat\x0bsat on the mat",
    "\tleading tab on the caption",
    "kittens napping\n",
    "\xa0",
    "\xa0the nbsp edged caption\xa0",
    "\t",
    # a final line separator is content, not a token boundary
    "the swearword1\u2028",
    "a cat on the\u0085",
]


@pytest.fixture(scope="module")
def frames(spark):
    pdf = pd.DataFrame({"text": EDGE_TEXTS})
    sdf = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("t", pdf)
    return sdf, con


def test_heuristics_match_duckdb(frames):
    sdf, con = frames
    c = F.col("text")
    got = sdf.select(
        TX.n_tokens(c).alias("nt"),
        F.round(TX.symbol_ratio(c), 6).alias("sr"),
        F.round(TX.stopword_ratio(c), 6).alias("swr"),
        F.round(TX.distinct_token_ratio(c), 6).alias("dtr"),
        F.round(TX.mean_word_len(c), 6).alias("mwl"),
        TX.has_toxicity(c).alias("tox"),
        TX.is_blank(c).alias("blank"),
        F.coalesce(RU.keep_verdict(c), F.lit(False)).alias("keep"),
    ).toPandas()
    want = con.sql(
        f"""SELECT {TX.n_tokens_sql('text')} nt,
        round({TX.symbol_ratio_sql('text')}, 6) sr,
        round({TX.stopword_ratio_sql('text')}, 6) swr,
        round({TX.distinct_token_ratio_sql('text')}, 6) dtr,
        round({TX.mean_word_len_sql('text')}, 6) mwl,
        {TX.has_toxicity_sql('text')} tox,
        {TX.is_blank_sql('text')} blank,
        coalesce({RU.keep_verdict_sql('text')}, FALSE) keep
        FROM t"""
    ).df()
    for col in want.columns:
        a = got[col].fillna(-999).tolist()
        b = want[col].fillna(-999).tolist()
        assert a == b, f"{col}: spark={a} duck={b}"


def _nullable(values) -> list:
    return [None if pd.isna(v) else bool(v) for v in values]


def test_caption_rule_twins_agree(frames):
    """Every registry rule's Spark predicate equals its DuckDB predicate,
    NULL for NULL, on the edge texts (NULL, '', blank, over-long)."""
    sdf, con = frames
    c = F.col("text")
    got = sdf.select(
        *[r.spark_pred(c).alias(r.key) for r in RU.CAPTION_RULES]
    ).toPandas()
    want = con.sql(
        "SELECT "
        + ", ".join(f"{r.sql_pred('text')} AS {r.key}" for r in RU.CAPTION_RULES)
        + " FROM t"
    ).df()
    for r in RU.CAPTION_RULES:
        a, b = _nullable(got[r.key]), _nullable(want[r.key])
        assert a == b, f"{r.key}: spark={a} duck={b}"


def test_keep_verdict_is_and_of_heuristic_rules(frames):
    """On both engines the keep verdict is exactly the row-wise AND of
    the heuristic rules (NULL predicate = fail), and the PII rules take
    no part in it."""
    sdf, con = frames
    c = F.col("text")
    keys = [r.key for r in RU.HEURISTIC_RULES]
    got = sdf.select(
        F.coalesce(RU.keep_verdict(c), F.lit(False)).alias("keep"),
        *[
            F.coalesce(r.spark_pred(c), F.lit(False)).alias(r.key)
            for r in RU.HEURISTIC_RULES
        ],
    ).toPandas()
    want = con.sql(
        f"SELECT coalesce({RU.keep_verdict_sql('text')}, FALSE) AS keep, "
        + ", ".join(
            f"coalesce({r.sql_pred('text')}, FALSE) AS {r.key}"
            for r in RU.HEURISTIC_RULES
        )
        + " FROM t"
    ).df()
    for frame in (got, want):
        assert frame["keep"].tolist() == frame[keys].all(axis=1).tolist()
    assert got["keep"].tolist() == want["keep"].tolist()
    # the planted texts reach both outcomes and each upper bound
    assert any(got["keep"]) and not all(got["keep"])
    assert not got["max_length"].all() and not got["token_bounds"].all()
    assert set(RU.CAPTION_RULES) - set(RU.HEURISTIC_RULES) == set(RU.PII_RULES)


def test_rule_metrics_twins_agree(frames):
    sdf, con = frames
    got = (
        RU.rule_metrics(sdf, "text").toPandas()
        .sort_values("rule_key").reset_index(drop=True)
    )
    want = (
        con.sql(RU.rule_metrics_sql("t", "text")).df()
        .sort_values("rule_key").reset_index(drop=True)
    )
    assert got.columns.tolist() == want.columns.tolist()
    for col in got.columns:
        assert got[col].tolist() == want[col].tolist(), col
    assert len(got) == len(RU.CAPTION_RULES)
    assert (got["pass_count"] + got["fail_count"] == len(EDGE_TEXTS)).all()


def test_scrub_three_engines(frames):
    sdf, con = frames
    spark_out = sdf.select(SC.scrub(F.col("text")).alias("s")).toPandas()["s"]
    duck_out = con.sql(f"SELECT {SC.scrub_sql('text')} s FROM t").df()["s"]
    py_out = [SC.scrub_python(t) for t in EDGE_TEXTS]
    for a, b, c_ in zip(spark_out, duck_out, py_out):
        av = None if pd.isna(a) else a
        bv = None if pd.isna(b) else b
        assert av == bv == c_, (av, bv, c_)


def test_blank_collapse_quirk():
    """SURVEY §1.3 quirk 1: missing ∨ null ∨ '' all count as blank."""
    assert SC.scrub_python(None) is None
    for t, expect in [
        (None, True), ("", True), ("  ", True), ("\t\n", True),
        ("x", False), ("\xa0", False),
    ]:
        assert TX.is_blank_python(t) is expect


def test_pii_patterns_precise():
    cases = {
        "a@b.co": "[EMAIL]",
        "123-45-6789": "[SSN]",
        "(555) 123-4567": "[PHONE]",
        "555-123-4567": "[PHONE]",
        "555.123.4567": "[PHONE]",
        "12-34-5678": "12-34-5678",  # not an SSN shape
        "5551234567": "5551234567",  # no separators -> not scrubbed
    }
    for raw, want in cases.items():
        assert SC.scrub_python(raw) == want, raw


# ---------------------------------------------------------------------------
# Luhn credit-card kernel (round 5): three-engine agreement + planted text
# ---------------------------------------------------------------------------

LUHN_CASES = [
    ("4532015112830366", True),   # valid Visa test number
    ("4532015112830367", False),  # off-by-one check digit
    ("4111111111111111", True),
    ("79927398713", False),       # valid Luhn but only 11 digits
    ("799273987131", False),      # 12 digits, below the card minimum
    ("1234567890123452", True),   # 16-digit synthetic, checksum 0
    ("0000000000000", True),      # 13 zeros: sum 0 -> valid shape
    ("123456789012345678X", False),
    ("", False),
    (None, False),
]


def test_luhn_three_engine_agreement(spark):
    pdf = pd.DataFrame({"s": [c for c, _ in LUHN_CASES]})
    sdf = spark.createDataFrame(pdf)
    got_spark = sdf.select(
        SC.luhn_valid(F.col("s")).alias("v")
    ).toPandas()["v"].tolist()
    con = duckdb.connect()
    con.register("t", pdf)
    got_duck = con.sql(
        f"SELECT {SC.luhn_valid_sql('s')} v FROM t"
    ).df()["v"].tolist()
    for (raw, want), a, b in zip(LUHN_CASES, got_spark, got_duck):
        assert bool(a) is want, (raw, "spark", a)
        assert bool(b) is want, (raw, "duck", b)
        assert SC.luhn_valid_python(raw) is want, (raw, "python")


CC_TEXTS = [
    # valid card, space-separated -> redacted
    ("pay 4532 0151 1283 0366 now", "pay [CC] now"),
    # same digits dashed -> redacted; trailing order id fails Luhn -> kept
    ("card 4532-0151-1283-0366 order 1234567890123", "card [CC] order 1234567890123"),
    # invalid checksum -> untouched
    ("num 4532015112830367 stays", "num 4532015112830367 stays"),
    # two occurrences of one valid card both redacted
    ("4111111111111111 and again 4111111111111111", "[CC] and again [CC]"),
    # phone-shaped run is too short for a card and stays for the phone rule
    ("call 555-123-4567 plz", "call 555-123-4567 plz"),
    ("no digits at all", "no digits at all"),
    (None, None),
]


def test_scrub_cc_spark_matches_python(spark):
    pdf = pd.DataFrame({"text": [t for t, _ in CC_TEXTS]})
    sdf = spark.createDataFrame(pdf)
    got = sdf.select(SC.scrub_cc(F.col("text")).alias("s")).toPandas()["s"]
    for (raw, want), g in zip(CC_TEXTS, got):
        gv = None if pd.isna(g) else g
        assert gv == want, (raw, gv)
        assert SC.scrub_cc_python(raw) == want, raw


# ---------------------------------------------------------------------------
# One whitespace definition (functions/text.py)
# ---------------------------------------------------------------------------


def _code_strings(path):
    """(lineno, value) of every string constant in ``path`` that is not
    a docstring."""
    import ast

    tree = ast.parse(path.read_text())
    docs = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        )
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    return [
        (node.lineno, node.value)
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and id(node) not in docs
    ]


def test_one_whitespace_definition():
    """No package string spells the engine-dependent regex escape ``\\s``,
    and only functions/text.py spells the whitespace class (VT, its
    member no engine default agrees on, is the tell)."""
    import pathlib

    import data_quality_analyzer_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    escapes, classes = [], []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for lineno, value in _code_strings(path):
            if "\\s" in value:
                escapes.append(f"{rel}:{lineno}")
            if ("\\x0b" in value or "\x0b" in value) and rel != "functions/text.py":
                classes.append(f"{rel}:{lineno}")
    assert escapes == []
    assert classes == []
