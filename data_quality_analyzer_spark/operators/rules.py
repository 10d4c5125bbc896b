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
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import scrub as SC
from ..functions import text as TX

SEVERITY_WEIGHTS = {"critical": 0.4, "high": 0.3, "medium": 0.2, "low": 0.1}
PASSED_WEIGHT = 0.2


@dataclass(frozen=True)
class Rule:
    """One data-quality rule: pass-predicate twins for Spark and DuckDB."""

    key: str
    severity: str  # critical | high | medium | low
    spark_pred: Callable[[Column], Column]  # col -> BooleanType "passes"
    sql_pred: Callable[[str], str]  # col name -> SQL boolean "passes"


def _caption_rules() -> tuple[Rule, ...]:
    """Text/caption rule registry (north-star heuristics + reference
    completeness/validity semantics, SURVEY §1.3 quirk 1: blank =
    missing ∨ null ∨ '')."""
    return (
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
        Rule(
            "no_email",
            "high",
            lambda c: ~F.coalesce(c.rlike(SC.PII_PATTERNS[0][1]), F.lit(False)),
            lambda c: f"NOT coalesce({SC.pii_flag_sql(c, 'email')}, FALSE)",
        ),
        Rule(
            "no_ssn",
            "critical",
            lambda c: ~F.coalesce(c.rlike(SC.PII_PATTERNS[1][1]), F.lit(False)),
            lambda c: f"NOT coalesce({SC.pii_flag_sql(c, 'ssn')}, FALSE)",
        ),
        Rule(
            "no_phone",
            "high",
            lambda c: ~F.coalesce(c.rlike(SC.PII_PATTERNS[2][1]), F.lit(False)),
            lambda c: f"NOT coalesce({SC.pii_flag_sql(c, 'phone')}, FALSE)",
        ),
    )


CAPTION_RULES: tuple[Rule, ...] = _caption_rules()


def rule_metrics(
    df: DataFrame, text_col: str, rules: tuple[Rule, ...] = CAPTION_RULES
) -> DataFrame:
    """ONE-PASS per-rule pass/fail counts (long format: rule_key, severity,
    pass_count, fail_count).  The fusion of the reference's ~60 separate
    count_documents() calls (SURVEY §4.2 item 1) into a single agg + stack."""
    c = F.col(text_col)
    aggs = []
    for r in rules:
        passed = F.coalesce(r.spark_pred(c), F.lit(False))
        aggs.append(
            F.sum(F.when(passed, 1).otherwise(0)).cast("long").alias(f"p_{r.key}")
        )
        aggs.append(
            F.sum(F.when(passed, 0).otherwise(1)).cast("long").alias(f"f_{r.key}")
        )
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{r.key}', '{r.severity}', p_{r.key}, f_{r.key}" for r in rules
    )
    return wide.selectExpr(
        f"stack({len(rules)}, {stack_args}) AS "
        "(rule_key, severity, pass_count, fail_count)"
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


def readiness_score(metrics: DataFrame) -> DataFrame:
    """Severity-weighted readiness score over a rule-metrics DataFrame.

    A rule 'passes' when it has zero failures (the reference's CheckResult
    granularity).  Reference semantics base_standalone.py:300-376: failed →
    severity weight, passed → 0.2; score = passed/total*100; bands ≥80
    Ready / ≥50 Partial / else Not Ready.
    """
    weight_expr = F.when(
        F.col("fail_count") > 0,
        F.when(F.col("severity") == "critical", F.lit(0.4))
        .when(F.col("severity") == "high", F.lit(0.3))
        .when(F.col("severity") == "medium", F.lit(0.2))
        .when(F.col("severity") == "low", F.lit(0.1))
        .otherwise(F.lit(0.2)),
    ).otherwise(F.lit(PASSED_WEIGHT))
    scored = metrics.select(
        weight_expr.alias("w"),
        F.when(F.col("fail_count") == 0, weight_expr).otherwise(F.lit(0.0)).alias("pw"),
    ).agg(
        F.round(F.sum("pw") / F.sum("w") * 100, 4).alias("score"),
    )
    return scored.withColumn(
        "status",
        F.when(F.col("score") >= 80, "Ready")
        .when(F.col("score") >= 50, "Partial")
        .otherwise("Not Ready"),
    )
