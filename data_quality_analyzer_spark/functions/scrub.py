"""PII scrubbing (emails / phones / SSNs) + toxicity flagging.

North-star surface (BASELINE.json): "compiled-regex PII scrubbing (emails,
phones, SSNs) plus toxicity wordlist filtering".  The reference has no regex
anywhere (SURVEY §2.8) — this is new work, designed Spark-first:

* The scrub itself is **native `regexp_replace`** (JVM, whole-stage codegen)
  — strictly faster than any Python/pandas UDF because it never crosses the
  JVM/Python boundary.  :func:`scrub_python` is its pure-Python twin for
  the pandas oracle.
* Patterns are RE2-compatible (no lookarounds/backrefs) so the same pattern
  string runs identically under Java regex (Spark), RE2 (DuckDB oracle) and
  Python `re` (pandas oracle).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Order matters: email first (contains digits/dots), SSN before phone so the
# 3-2-4 digit shape is not half-eaten by the phone pattern.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "[SSN]"),
    # word-boundary note: \b does not hold between ' ' and '(' so the
    # parenthesized area code is its own alternative.
    ("phone", r"(\([0-9]{3}\)[-. ]?|\b[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}\b", "[PHONE]"),
)


def scrub(col: Column) -> Column:
    """caption → caption_scrubbed as a chain of native regexp_replace.

    Guarded by a single combined rlike: the overwhelmingly common PII-free
    row pays one scan and zero string allocations instead of three
    replace-and-copy passes."""
    any_pii = "|".join(f"(?:{pat})" for _n, pat, _r in PII_PATTERNS)
    out = col
    for _name, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return F.when(col.rlike(any_pii), out).otherwise(col)


def pii_flags(col: Column) -> dict[str, Column]:
    """Per-kind boolean hit columns (metrics layer counts these)."""
    return {
        f"has_{name}": col.rlike(pat) for name, pat, _repl in PII_PATTERNS
    }


def scrub_sql(c: str) -> str:
    """DuckDB twin of :func:`scrub` (same pattern constants)."""
    out = c
    for _name, pat, repl in PII_PATTERNS:
        # DuckDB plain '...' strings pass backslashes through to RE2 verbatim
        out = f"regexp_replace({out}, '{pat}', '{repl}', 'g')"
    return out


def pii_flag_sql(c: str, name: str) -> str:
    for n, pat, _repl in PII_PATTERNS:
        if n == name:
            return f"regexp_matches({c}, '{pat}')"
    raise KeyError(name)


# ---------------------------------------------------------------------------
# Credit-card numbers: candidate regex + Luhn checksum validation.
#
# A bare 13-19-digit regex false-positives on order numbers, timestamps and
# phone-number runs; production scrubbers validate candidates with the Luhn
# check digit before redacting.  The kernel below is PURE whole-stage-codegen
# (reverse + sequence + aggregate HOF) — no UDF, no explode — and has an
# exact DuckDB twin (list comprehension + list_sum) so the q57 oracle can
# value-hash the verdicts.  Reference ancestor: the U1 row validator
# (`additional_charge_checks.py` per-row rule loop), re-expressed as one
# vectorized boolean column.
# ---------------------------------------------------------------------------

# 13-19 digits, optionally single-space/dash separated (the common card
# formatting).  RE2-compatible; \b holds in Java regex and RE2 alike.
CC_CANDIDATE_PATTERN = r"\b[0-9](?:[ -]?[0-9]){12,18}\b"


def luhn_valid(col: Column) -> Column:
    """True iff ``col`` is a digits-only string of 13-19 chars whose Luhn
    checksum is 0.  NULL/garbage input → False (never NULL).

    Plan shape: `reverse` + `sequence(1, length)` + one `aggregate` HOF —
    all inside WholeStageCodegen; cost is O(len) per row with zero Python.
    """
    rev = F.reverse(col)
    # i is 1-indexed from the RIGHT (reversed string); even positions double.
    digit = lambda i: rev.substr(i, F.lit(1)).cast("int")  # noqa: E731
    term = lambda i: F.when(  # noqa: E731
        i % 2 == 0,
        F.when(digit(i) * 2 > 9, digit(i) * 2 - 9).otherwise(digit(i) * 2),
    ).otherwise(digit(i))
    total = F.aggregate(
        F.sequence(F.lit(1), F.length(rev)),
        F.lit(0),
        lambda acc, i: acc + term(i),
    )
    shape_ok = col.rlike(r"^[0-9]{13,19}$")
    return F.coalesce(shape_ok & (total % 10 == 0), F.lit(False))


def luhn_valid_sql(c: str) -> str:
    """DuckDB twin of :func:`luhn_valid` (same math, list comprehension)."""
    rev = f"reverse({c})"
    # TRY_CAST: DuckDB evaluates both AND branches, so a non-digit char must
    # yield NULL (as Spark's cast does), not a conversion error.
    d = f"TRY_CAST(substr({rev}, i, 1) AS INTEGER)"
    term = (
        f"CASE WHEN i % 2 = 0 THEN "
        f"CASE WHEN {d} * 2 > 9 THEN {d} * 2 - 9 ELSE {d} * 2 END "
        f"ELSE {d} END"
    )
    total = f"list_sum([{term} FOR i IN generate_series(1, length({rev}))])"
    return (
        f"COALESCE(regexp_matches({c}, '^[0-9]{{13,19}}$') "
        f"AND {total} % 10 = 0, FALSE)"
    )


def luhn_valid_python(s: str | None) -> bool:
    """Pure-Python twin (tests / pandas oracle)."""
    if s is None or not re.fullmatch(r"[0-9]{13,19}", s):
        return False
    total = 0
    for i, ch in enumerate(reversed(s), start=1):
        d = int(ch)
        if i % 2 == 0:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return total % 10 == 0


def scrub_cc(col: Column) -> Column:
    """Redact Luhn-VALID card numbers in free text; leave invalid digit runs
    (order ids, phone runs) untouched.

    Two-step, still UDF-free: `regexp_extract_all` lifts the candidates,
    `filter` keeps the Luhn-valid ones, and one `aggregate` folds a literal
    `replace` per distinct valid candidate over the text.  The common
    card-free row short-circuits on a single rlike scan.
    """
    cands = F.array_distinct(
        F.regexp_extract_all(col, F.lit(CC_CANDIDATE_PATTERN), 0)
    )
    valid = F.filter(
        cands, lambda c: luhn_valid(F.regexp_replace(c, r"[ -]", ""))
    )
    redacted = F.aggregate(
        valid, col, lambda acc, c: F.replace(acc, c, F.lit("[CC]"))
    )
    return F.when(col.rlike(CC_CANDIDATE_PATTERN), redacted).otherwise(col)


def scrub_cc_python(text: str | None) -> str | None:
    """Pure-Python twin of :func:`scrub_cc` (tests only)."""
    if text is None:
        return None
    seen = []
    for m in re.finditer(CC_CANDIDATE_PATTERN, text):
        cand = m.group(0)
        if cand not in seen and luhn_valid_python(re.sub(r"[ -]", "", cand)):
            seen.append(cand)
    for cand in seen:
        text = text.replace(cand, "[CC]")
    return text


_COMPILED = [(re.compile(pat), repl) for _n, pat, repl in PII_PATTERNS]


def scrub_python(text: str | None) -> str | None:
    """Pure-Python twin used by the pandas oracle (tests/oracle only)."""
    if text is None:
        return None
    for rx, repl in _COMPILED:
        text = rx.sub(repl, text)
    return text
