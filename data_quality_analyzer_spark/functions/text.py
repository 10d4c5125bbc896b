"""Text-quality column expressions (Gopher/C4-style heuristics).

These are the Spark recast of the reference's validity predicates — the
"present AND non-null AND non-empty" family (``diagnosis_analysis.py:41-46``,
``cpt_code_analysis.py:14``; SURVEY §1.3 quirk 1) and the validity
conjunction ``_validate_stats`` (``additional_charge_checks.py:840-868``,
SURVEY F14) — extended with the north-star heuristic rules: token counts,
symbol/stopword ratios, repetition, length bounds.

Everything here is a **pure Column expression** (JVM-side, whole-stage
codegen; zero Python in the hot path).  For every expression there is a
``*_sql`` twin that renders the semantically identical DuckDB SQL, generated
from the same constants, so the correctness oracle cannot drift from the
engine.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# English stopwords used for the stopword-ratio rule. Small closed-class list
# (C4 uses a similar tiny list); order matters nowhere, membership only.
STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
    "was", "were", "be", "on", "for", "with", "that", "this", "it", "as",
)

# Toxicity blocklist (placeholder tokens; real deployments swap the list —
# the mechanism, token-membership matching, is what is under test).
TOXICITY_WORDS: tuple[str, ...] = ("swearword1", "swearword2", "slur1", "slur2", "curse")

# Default keep/drop thresholds (analogue of MAppSettings defaults,
# ``ai_core/feature_readiness/appsettings.py:51-128``).
MIN_CHARS = 10
MAX_CHARS = 10_000
MIN_TOKENS = 3
MAX_TOKENS = 5_000
MAX_SYMBOL_RATIO = 0.30
MIN_STOPWORD_RATIO = 0.01
MIN_DISTINCT_RATIO = 0.20
MAX_MEAN_WORD_LEN = 15.0
MIN_MEAN_WORD_LEN = 2.0

_NON_ALNUM_SPACE = "[^a-zA-Z0-9 ]"

# ---------------------------------------------------------------------------
# Whitespace: the ONE definition every Spark, Spark-SQL, DuckDB and Python
# tokenizer in the package renders.  Trim the class from both ends, split
# on its runs; a text empty after the trim is blank and has no tokens (so
# no token is ever '').  The ASCII class is spelled out because no engine
# default agrees: `\s` omits VT in RE2 and adds Unicode spaces in Python;
# Spark's trim() strips spaces only, DuckDB's also NBSP, Python's strip()
# all Unicode whitespace.
# ---------------------------------------------------------------------------

WS_CLASS = r"[ \t\n\x0b\f\r]"
_WS_RUN = WS_CLASS + "+"
_WS_CHARS = WS_CLASS[1:-1].encode().decode("unicode_escape")  # the trim set
_WS_RE = re.compile(_WS_RUN)


def ws_trim(col: Column) -> Column:
    """``col`` with the whitespace class stripped from both ends."""
    return F.btrim(col, F.lit(_WS_CHARS))


def tokens(col: Column) -> Column:
    """Whitespace tokens of ``col`` (blank → empty array, NULL → NULL)."""
    t = ws_trim(col)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, _WS_RUN)
    )


def tokens_python(text: str | None) -> list[str]:
    """Python twin of :func:`tokens` (NULL → no tokens)."""
    t = text.strip(_WS_CHARS) if isinstance(text, str) else ""
    return _WS_RE.split(t) if t else []


def is_blank_python(text: str | None) -> bool:
    """Python twin of :func:`is_blank`."""
    return not tokens_python(text)


def n_tokens(col: Column) -> Column:
    return F.size(tokens(col))


def n_chars(col: Column) -> Column:
    return F.coalesce(F.length(col), F.lit(0))


# BPE-ish subword tokenizer pattern (GPT-2 family, lookahead-free so the
# same pattern is valid in both Java regex and RE2): contraction suffixes,
# space-prefixed letter runs, digit runs, punctuation runs, whitespace runs
# (the WS_CLASS runs).
# This is THE token unit training pipelines budget with (q42 fertility, q54
# token-budget sampling).
BPE_PAT = (
    r"'(?:[sdmt]|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^"
    + WS_CLASS[1:-1] + r"\p{L}\p{N}]+|" + _WS_RUN
)


def bpe_token_count(col: Column) -> Column:
    """Subword token count via ``regexp_count`` — JVM-side codegen, no
    UDF; NULL text → 0 (the pinned NULL-cost rule of the samplers)."""
    return F.coalesce(
        F.regexp_count(col, F.lit(BPE_PAT)).cast("long"), F.lit(0)
    )


def bpe_token_count_sql(c: str) -> str:
    """DuckDB twin of :func:`bpe_token_count`."""
    pat = BPE_PAT.replace("'", "''")
    return (
        f"COALESCE(CAST(len(regexp_extract_all({c}, '{pat}')) AS BIGINT), 0)"
    )


_ALNUM_SPACE = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 "
)


def symbol_ratio(col: Column) -> Column:
    """Fraction of characters that are not [a-zA-Z0-9 ] (0.0 for empty).
    translate() deletes the allowed alphabet via table lookup — ~6x faster
    than a per-character regexp."""
    total = F.length(col)
    symbols = F.length(F.translate(col, _ALNUM_SPACE, ""))
    return F.when(
        total.isNull() | (total == 0), F.lit(0.0)
    ).otherwise(symbols.cast("double") / total.cast("double"))


def token_set_pattern(words: tuple[str, ...]) -> str:
    """Java-regex pattern matching a whole :data:`WS_CLASS` token from `words`.
    Zero-width boundaries (lookaround) so consecutive stopword tokens are
    all counted.  Counting via regexp_count is whole-stage-codegen-friendly;
    the higher-order-function formulation (filter + isin) is a
    CodegenFallback expression that re-evaluates its split() child
    interpreted on every call — ~10× slower in the fused rule projection."""
    alternatives = "|".join(sorted(words))
    # \z, not $: Java's $ also matches before a final U+0085/U+2028/U+2029
    return f"(?<=^|{WS_CLASS})({alternatives})(?={WS_CLASS}|\\z)"


def stopword_count(col: Column, words: tuple[str, ...] = STOPWORDS) -> Column:
    """Number of (lowercased) tokens that are in `words` (the pattern's
    boundaries already match at the class, so no trim is needed)."""
    return F.regexp_count(F.lower(col), F.lit(token_set_pattern(words)))


def stopword_ratio(col: Column) -> Column:
    """Fraction of (lowercased) tokens that are in STOPWORDS (0.0 for empty)."""
    n = n_tokens(col)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        stopword_count(col).cast("double") / n.cast("double")
    )


def distinct_token_ratio(col: Column) -> Column:
    """|distinct tokens| / |tokens| — repetition detector (1.0 for empty)."""
    toks = tokens(F.lower(col))
    n = F.size(toks)
    return F.when(n == 0, F.lit(1.0)).otherwise(
        F.size(F.array_distinct(toks)).cast("double") / n.cast("double")
    )


def mean_word_len(col: Column) -> Column:
    """Mean token length (0.0 for empty).  Σ|token| == |trimmed text| minus
    its whitespace chars — pure counting, no intermediate string."""
    n = n_tokens(col)
    t = ws_trim(col)
    total = F.length(t) - F.regexp_count(t, F.lit(WS_CLASS))
    return F.when(n == 0, F.lit(0.0)).otherwise(
        total.cast("double") / n.cast("double")
    )


def has_toxicity(col: Column) -> Column:
    return F.lower(col).rlike(token_set_pattern(TOXICITY_WORDS))


def is_blank(col: Column) -> Column:
    """The reference's tri-state missing/null/'' collapse (SURVEY §1.2):
    missing ∨ null ∨ '' → one predicate (blank = no tokens after the
    whitespace trim).  diagnosis_analysis.py:41-46."""
    return col.isNull() | (ws_trim(col) == "")


# ---------------------------------------------------------------------------
# DuckDB SQL twins — rendered from the SAME constants.  The rule
# predicates and the keep verdict built on these live in the one registry,
# ``operators/rules.py`` (``RU.HEURISTIC_RULES``, ``RU.keep_verdict_sql``).
# ---------------------------------------------------------------------------

# RE2 reads the class as is; DuckDB's E'' literal unescapes it to the trim set
def _trim_sql(c: str) -> str:
    return f"trim({c}, E'{WS_CLASS[1:-1]}')"


def ws_split_sql(c: str) -> str:
    """Trim + split without the blank arm: a blank text yields one ''
    token (the SimHash twin's fold)."""
    return f"string_split_regex({_trim_sql(c)}, '{_WS_RUN}')"


def tokens_sql(c: str) -> str:
    return (
        f"CASE WHEN {_trim_sql(c)} = '' THEN []::VARCHAR[] "
        f"ELSE {ws_split_sql(c)} END"
    )


def n_tokens_sql(c: str) -> str:
    return f"len({tokens_sql(c)})"


def symbol_ratio_sql(c: str) -> str:
    return (
        f"CASE WHEN {c} IS NULL OR length({c}) = 0 THEN 0.0 "
        f"ELSE (length({c}) - length(regexp_replace({c}, '{_NON_ALNUM_SPACE}', '', 'g')))"
        f"::DOUBLE / length({c}) END"
    )


def _sql_in_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def stopword_ratio_sql(c: str) -> str:
    toks = tokens_sql(f"lower({c})")
    return (
        f"CASE WHEN len({toks}) = 0 THEN 0.0 "
        f"ELSE len(list_filter({toks}, t -> t IN ({_sql_in_list(STOPWORDS)})))::DOUBLE"
        f" / len({toks}) END"
    )


def distinct_token_ratio_sql(c: str) -> str:
    toks = tokens_sql(f"lower({c})")
    return (
        f"CASE WHEN len({toks}) = 0 THEN 1.0 "
        f"ELSE len(list_distinct({toks}))::DOUBLE / len({toks}) END"
    )


def mean_word_len_sql(c: str) -> str:
    toks = tokens_sql(c)
    return (
        f"CASE WHEN len({toks}) = 0 THEN 0.0 "
        f"ELSE list_sum(list_transform({toks}, t -> length(t)))::DOUBLE / len({toks}) END"
    )


def has_toxicity_sql(c: str) -> str:
    toks = tokens_sql(f"lower({c})")
    return f"len(list_filter({toks}, t -> t IN ({_sql_in_list(TOXICITY_WORDS)}))) > 0"


def is_blank_sql(c: str) -> str:
    return f"({c} IS NULL OR {_trim_sql(c)} = '')"


# ---------------------------------------------------------------------------
# Lower-cased tokens as templates over ``{c}`` — shared by the repetition
# metrics, the caption-alignment gate, decontamination and the q94 TF-IDF
# (a drift here would silently desynchronize their token streams).
# ---------------------------------------------------------------------------

def _spark_sql_str(s: str) -> str:
    """``s`` as a Spark-SQL string literal.  The SQL parser unescapes
    backslash sequences (and knows neither ``\\f`` nor ``\\x0b``), so
    backslashes are doubled and control characters written ``\\uXXXX``."""
    body = "".join(
        "\\\\" if ch == "\\" else f"\\u{ord(ch):04x}" if ch < " " else ch
        for ch in s
    )
    return f"'{body}'"


def _tokens_spark_sql(c: str) -> str:
    t = f"btrim({c}, {_spark_sql_str(_WS_CHARS)})"
    return (
        f"CASE WHEN {t} = '' THEN cast(array() AS array<string>) "
        f"ELSE split({t}, {_spark_sql_str(_WS_RUN)}) END"
    )


WS_TOKENS_SPARK = _tokens_spark_sql("lower({c})")
WS_TOKENS_DUCK = tokens_sql("lower({c})")
