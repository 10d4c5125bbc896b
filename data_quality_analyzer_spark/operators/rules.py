"""Declarative rule registry + one-pass evaluation + readiness scoring.

The Spark recast of the reference's check architecture:

* ``CheckResult {key, status, severity, solution}``
  (``ai_core/feature_readiness/base_standalone.py:44-66``) becomes a
  :class:`Rule` — a named boolean *pass predicate* column with a severity.
* The reference runs ~60 independent full-collection queries
  (``main.py:20-25`` sequential awaits; SURVEY §4.2 N+1 scans).  Here the
  whole registry is evaluated in **one scan**: every rule becomes a
  ``sum(when(pred,1))`` conditional aggregate in a single ``agg()``
  (map-side partial aggregation, no data leaves executors but the counts).
* ``calculate_readiness_score`` / ``get_readiness_status``
  (``base_standalone.py:300-376``): failed checks weigh by severity
  (critical .4 / high .3 / medium .2 / low .1), passed checks weigh 0.2,
  score = passed_weight/total_weight*100; bands ≥80 Ready / ≥50 Partial.

This module is the one owner of the caption rule set and its scoring:
``HEURISTIC_RULES`` (whose AND is :func:`keep_verdict`) + ``PII_RULES``
(one per ``scrub.PII_PATTERNS`` kind), the one agg + ``stack`` counter
:func:`pass_fail_counts`, and the severity weights and status bands.
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Callable, Iterable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import scrub as SC
from ..functions import text as TX

SEVERITY_WEIGHTS = {"critical": 0.4, "high": 0.3, "medium": 0.2, "low": 0.1}
UNKNOWN_SEVERITY_WEIGHT = 0.2  # a failed check whose severity is not listed
PASSED_WEIGHT = 0.2
STATUS_BANDS = ((80, "Ready"), (50, "Partial"))  # (lowest score, status)
NOT_READY = "Not Ready"  # below every band

# severity of each no_<kind> rule, keyed by the scrub.PII_PATTERNS kind
PII_SEVERITY = {"email": "high", "ssn": "critical", "phone": "high"}


@dataclass(frozen=True)
class Rule:
    """One data-quality rule: pass-predicate twins for Spark and DuckDB."""

    key: str
    severity: str  # critical | high | medium | low
    spark_pred: Callable[[Column], Column]  # col -> BooleanType "passes"
    sql_pred: Callable[[str], str]  # col name -> SQL boolean "passes"


# Text/caption heuristic rules (north-star heuristics + reference
# completeness/validity semantics, SURVEY §1.3 quirk 1: blank =
# missing ∨ null ∨ '').  Their AND is the keep verdict.
HEURISTIC_RULES: tuple[Rule, ...] = (
    Rule(
        "caption_present",
        "critical",
        lambda c: ~TX.is_blank(c),
        lambda c: f"NOT {TX.is_blank_sql(c)}",
    ),
    Rule(
        "min_length",
        "high",
        lambda c: TX.n_chars(c) >= TX.MIN_CHARS,
        lambda c: f"coalesce(length({c}), 0) >= {TX.MIN_CHARS}",
    ),
    Rule(
        "max_length",
        "medium",
        lambda c: TX.n_chars(c) <= TX.MAX_CHARS,
        lambda c: f"coalesce(length({c}), 0) <= {TX.MAX_CHARS}",
    ),
    Rule(
        "token_bounds",
        "high",
        lambda c: TX.n_tokens(c).between(TX.MIN_TOKENS, TX.MAX_TOKENS),
        lambda c: (
            f"{TX.n_tokens_sql(c)} BETWEEN {TX.MIN_TOKENS} AND {TX.MAX_TOKENS}"
        ),
    ),
    Rule(
        "symbol_ratio",
        "medium",
        lambda c: TX.symbol_ratio(c) <= TX.MAX_SYMBOL_RATIO,
        lambda c: f"{TX.symbol_ratio_sql(c)} <= {TX.MAX_SYMBOL_RATIO}",
    ),
    Rule(
        "stopword_ratio",
        "medium",
        lambda c: TX.stopword_ratio(c) >= TX.MIN_STOPWORD_RATIO,
        lambda c: f"{TX.stopword_ratio_sql(c)} >= {TX.MIN_STOPWORD_RATIO}",
    ),
    Rule(
        "repetition",
        "medium",
        lambda c: TX.distinct_token_ratio(c) >= TX.MIN_DISTINCT_RATIO,
        lambda c: f"{TX.distinct_token_ratio_sql(c)} >= {TX.MIN_DISTINCT_RATIO}",
    ),
    Rule(
        "word_length",
        "low",
        lambda c: TX.mean_word_len(c).between(
            TX.MIN_MEAN_WORD_LEN, TX.MAX_MEAN_WORD_LEN
        ),
        lambda c: (
            f"{TX.mean_word_len_sql(c)} BETWEEN {TX.MIN_MEAN_WORD_LEN}"
            f" AND {TX.MAX_MEAN_WORD_LEN}"
        ),
    ),
    Rule(
        "toxicity",
        "critical",
        lambda c: ~F.coalesce(TX.has_toxicity(c), F.lit(False)),
        lambda c: f"NOT coalesce({TX.has_toxicity_sql(c)}, FALSE)",
    ),
)


def _pii_rule(kind: str) -> Rule:
    return Rule(
        f"no_{kind}",
        PII_SEVERITY[kind],
        lambda c: ~F.coalesce(SC.pii_flags(c)[f"has_{kind}"], F.lit(False)),
        lambda c: f"NOT coalesce({SC.pii_flag_sql(c, kind)}, FALSE)",
    )


PII_RULES: tuple[Rule, ...] = tuple(
    _pii_rule(kind) for kind, _pat, _repl in SC.PII_PATTERNS
)

CAPTION_RULES: tuple[Rule, ...] = HEURISTIC_RULES + PII_RULES


def keep_verdict(col: Column) -> Column:
    """Gopher/C4-style keep/drop verdict over a text column: the AND of
    every heuristic rule — the record-level analogue of the reference's
    CheckResult pass/fail (``base_standalone.py:44-66``).  NULL text
    reads False (its ``caption_present`` conjunct is False)."""
    return functools.reduce(
        operator.and_, (r.spark_pred(col) for r in HEURISTIC_RULES)
    )


def keep_verdict_sql(c: str) -> str:
    """DuckDB twin of :func:`keep_verdict`."""
    return "(" + " AND ".join(f"({r.sql_pred(c)})" for r in HEURISTIC_RULES) + ")"


def pass_fail_counts(
    df: DataFrame,
    checks: Iterable[tuple[str, str, Column]],
    group_cols: list[str] | None = None,
    totals: dict[str, Column] | None = None,
) -> DataFrame:
    """ONE-PASS per-rule pass/fail counts in long format (group_cols…,
    rule_key, severity, pass_count, fail_count, totals…).  ``checks`` are
    (key, severity, pass Column) triples; ``totals`` are named aggregates
    carried beside every long row.  The fusion of the reference's ~60
    separate count_documents() calls (SURVEY §4.2 item 1) into a single
    agg + stack; ``group_cols`` makes it one grouped aggregation."""
    checks = list(checks)
    totals = totals or {}
    aggs = []
    for key, _sev, p in checks:
        aggs.append(F.sum(F.when(p, 1).otherwise(0)).cast("long").alias(f"p_{key}"))
        aggs.append(F.sum(F.when(p, 0).otherwise(1)).cast("long").alias(f"f_{key}"))
    aggs += [agg.alias(name) for name, agg in totals.items()]
    wide = df.groupBy(*(group_cols or [])).agg(*aggs)
    stack_args = ", ".join(f"'{k}', '{sev}', p_{k}, f_{k}" for k, sev, _p in checks)
    return wide.selectExpr(
        *(group_cols or []),
        f"stack({len(checks)}, {stack_args}) AS "
        "(rule_key, severity, pass_count, fail_count)",
        *totals,
    )


def rule_metrics(
    df: DataFrame, text_col: str, rules: tuple[Rule, ...] = CAPTION_RULES
) -> DataFrame:
    """ONE-PASS per-rule pass/fail counts of a text column (long format:
    rule_key, severity, pass_count, fail_count); a NULL predicate fails."""
    c = F.col(text_col)
    return pass_fail_counts(
        df,
        ((r.key, r.severity, F.coalesce(r.spark_pred(c), F.lit(False))) for r in rules),
    )


def rule_metrics_sql(table: str, text_col: str, rules: tuple[Rule, ...] = CAPTION_RULES) -> str:
    """DuckDB twin of :func:`rule_metrics` (UNION ALL of one-pass sums)."""
    branches = []
    for r in rules:
        p = f"coalesce({r.sql_pred(text_col)}, FALSE)"
        branches.append(
            f"SELECT '{r.key}' AS rule_key, '{r.severity}' AS severity, "
            f"CAST(SUM(CASE WHEN {p} THEN 1 ELSE 0 END) AS BIGINT) AS pass_count, "
            f"CAST(SUM(CASE WHEN {p} THEN 0 ELSE 1 END) AS BIGINT) AS fail_count "
            f"FROM {table}"
        )
    return " UNION ALL ".join(branches)


def _case(pairs: Iterable[tuple[Column, Any]], default: Any) -> Column:
    """CASE WHEN cond THEN value … ELSE default END."""
    out = None
    for cond, value in pairs:
        out = F.when(cond, value) if out is None else out.when(cond, value)
    return out.otherwise(default)


def readiness_score(metrics: DataFrame) -> DataFrame:
    """Severity-weighted readiness score over a rule-metrics DataFrame.

    A rule 'passes' when it has zero failures (the reference's CheckResult
    granularity).  Reference semantics base_standalone.py:300-376: failed →
    ``SEVERITY_WEIGHTS[severity]``, passed → ``PASSED_WEIGHT``; score =
    passed/total*100, banded by ``STATUS_BANDS`` (else ``NOT_READY``).
    """
    sev = F.col("severity")
    weight_expr = F.when(
        F.col("fail_count") > 0,
        _case(
            ((sev == k, F.lit(w)) for k, w in SEVERITY_WEIGHTS.items()),
            F.lit(UNKNOWN_SEVERITY_WEIGHT),
        ),
    ).otherwise(F.lit(PASSED_WEIGHT))
    scored = metrics.select(
        weight_expr.alias("w"),
        F.when(F.col("fail_count") == 0, weight_expr).otherwise(F.lit(0.0)).alias("pw"),
    ).agg(
        F.round(F.sum("pw") / F.sum("w") * 100, 4).alias("score"),
    )
    return scored.withColumn(
        "status",
        _case(((F.col("score") >= lo, name) for lo, name in STATUS_BANDS), NOT_READY),
    )


def score_check_results(results: list[dict[str, Any]]) -> tuple[float, str]:
    """Driver-side :func:`readiness_score` over CheckResult dicts
    (``status``, ``severity``) → (score, status); no results score 0.0."""
    total = passed = 0.0
    for r in results:
        ok = r["status"] == "passed"
        w = PASSED_WEIGHT if ok else SEVERITY_WEIGHTS.get(
            r["severity"], UNKNOWN_SEVERITY_WEIGHT
        )
        total += w
        passed += w if ok else 0.0
    score = round(passed / total * 100, 4) if total else 0.0
    return score, next((n for lo, n in STATUS_BANDS if score >= lo), NOT_READY)
