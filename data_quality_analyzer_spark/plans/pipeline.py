"""The flagship pipeline: language-ID + quality-filter + PII/toxicity scrub
over image+caption tables (BASELINE.json north_rule).

One declarative DataFrame plan per batch of rows:

1. **Caption heuristics** — native JVM column expressions (whole-stage
   codegen; zero Python): blank/length/token/symbol/repetition/word-length/
   toxicity rules + PII scrub via ``regexp_replace``.
2. **Model scores** — one fused Arrow-batched pandas UDF returning
   (langid, perplexity, quality-classifier) as a struct, weights
   broadcast once per SparkContext.
3. **Language-aware stopword rule** — native expression selected by the
   predicted language (per-language stopword lists baked as literals).
4. **Image validation** — one pandas UDF over exactly (bytes,w,h,fmt);
   `bytes` passes through JVM-side untouched (byte-exact invariant).
5. **Verdict** — keep = AND of all rule flags; fail_rules = sorted failed
   keys (the record-level CheckResult, base_standalone.py:44-66).

**Critical short-circuit** (SURVEY §4.3 "deterministic costing of rules";
reference semantics: a critical failure stops further checks,
charge_analysis_checks.py:87-90): the expensive stages (langid, perplexity,
image decode) only see rows that passed every *cheap native critical* rule
(caption_present, toxicity, bytes_present).  Masking is a ``when(gate, x)``
on the UDF *input*, so for dropped rows the bytes/caption never cross the
JVM→Python Arrow boundary at all; the UDFs fast-path the resulting nulls.
Downstream rule flags of a gated row read False ("not evaluated"), exactly
like the reference's skipped checks — mirrored by the pandas oracle.

Every threshold comes from :class:`..config.PipelineSettings` (the
app-settings singleton analogue, appsettings.py:14-160) and lands in the
plan as a constant-folded literal.

**The Column program is built once per (SparkContext, settings)** and
replayed on each input.  Building it is pure driver work: ~4,800 py4j
round trips (PySpark wraps each of the ~260 ``F.*`` calls in call-site
capture) plus the fused scorer's three model broadcasts — 0.7-1.2 s per call on 4 cores,
paid again by every benchmark operation, lineage chunk, streaming
micro-batch and ``prep_*`` run.  The replay is six ``withColumns`` and
two ``drop`` calls (~130 round trips, ~0.15 s) and yields the same
executed plan.  Do not build Columns per call here.

The matching pure-pandas oracle is ``oracle/pandas_oracle.py``; both are
exercised by tests/test_pipeline_oracle.py (F1 ≥ 0.99 gate — in practice
exact agreement).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import caption_scores as CS
from ..functions import scrub as SC
from ..functions import text as TX
from ..operators import images as IM
from ..operators import rules as RU
from ..sources import seed_corpus as SCorp

from .. import config as CFG
from ..session import per_context

# Per-language stopword lists = the 40 most common vocabulary words.
STOPWORDS_BY_LANG = {lang: SCorp.VOCAB[lang][:40] for lang in SCorp.LANGS}

# (rule_key, severity) — severities feed the readiness score
# (base_standalone.py:300-353 weights).
PIPELINE_RULES: tuple[tuple[str, str], ...] = (
    ("caption_present", "critical"),
    ("min_length", "high"),
    ("max_length", "medium"),
    ("token_bounds", "high"),
    ("symbol_ratio", "medium"),
    ("stopword_lang", "medium"),
    ("repetition", "medium"),
    ("word_length", "low"),
    ("toxicity", "critical"),
    ("lang_confident", "high"),
    ("ppl_bound", "high"),
    ("quality_clf", "medium"),
    ("bytes_present", "critical"),
    ("magic_ok", "high"),
    ("decodable", "critical"),
    ("dims_match", "high"),
    ("dims_bounds", "medium"),
    # lossy-format generation fidelity (vacuously true for lossless rows;
    # active for DQJ since the codec landed — sources/codecs.py)
    ("psnr_ok", "high"),
)

RULE_KEYS = tuple(k for k, _ in PIPELINE_RULES)


def _stopword_ratio_for(c: Column, words: tuple[str, ...]) -> Column:
    n = TX.n_tokens(c)
    hits = TX.stopword_count(c, words)
    return F.when(n == 0, F.lit(0.0)).otherwise(hits.cast("double") / n.cast("double"))


def _lang_aware_stopword_ratio(c: Column, lang_pred: Column) -> Column:
    """Stopword ratio against the predicted language's list (falls back to
    English for unknown predictions)."""
    expr = None
    for lang, words in STOPWORDS_BY_LANG.items():
        ratio = _stopword_ratio_for(c, words)
        expr = F.when(lang_pred == lang, ratio) if expr is None else expr.when(
            lang_pred == lang, ratio
        )
    return expr.otherwise(_stopword_ratio_for(c, STOPWORDS_BY_LANG["en"]))


def run_pipeline(
    spark: SparkSession,
    images: DataFrame,
    settings: CFG.PipelineSettings | None = None,
) -> DataFrame:
    """images(input_hint schema) → verdict table.

    Output: all input columns (bytes untouched) + caption_scrubbed,
    lang_pred, lang_conf, perplexity, quality_score, has_email/ssn/phone,
    pass_<rule> flags, keep, fail_rules.

    One plan shape: the critical gate always masks the UDF inputs, the
    three caption scorers run as one fused struct UDF, and the image
    decoder sees every gated row's bytes.  The plan has exactly one
    ``ArrowEvalPython`` node and no exchange (pinned in
    tests/test_pipeline_oracle.py).

    The Column program is built once per SparkContext and settings
    (:func:`_program`) and replayed here on ``images``: building it makes
    ~4,800 py4j round trips (~1 s of driver time, no Spark job), while the
    replay makes ~130.
    """
    df = images
    for cols, drop in _program(spark, settings or CFG.DEFAULT_SETTINGS):
        df = df.withColumns(cols)
        if drop:
            df = df.drop(drop)
    return df


@per_context
def _program(
    spark: SparkSession, s: CFG.PipelineSettings
) -> tuple[tuple[dict[str, Column], str | None], ...]:
    """The pipeline as ``(columns to add, column to drop after)`` steps.

    Every Column is unresolved (``F.col`` references), so one program
    serves any input with the ``images`` schema.  A step's columns read
    only columns of earlier steps; each step costs one eager analysis, so
    independent columns share a step.  Memoized per context because its
    two UDF columns hold that context's model broadcasts."""
    c = F.col("caption")

    # -- stage 1: native caption heuristics + scrub (pure JVM) -------------
    heuristics = {
        "caption_scrubbed": SC.scrub(c),
        **{
            name: F.coalesce(hit, F.lit(False))
            for name, hit in SC.pii_flags(c).items()
        },
        "pass_caption_present": ~TX.is_blank(c),
        # NULL caption fails every caption rule (missing ∨ null ∨ ''
        # collapse, SURVEY §1.3) — hence raw length, not coalesced-to-0.
        "pass_min_length": F.coalesce(F.length(c) >= s.min_chars, F.lit(False)),
        "pass_max_length": F.coalesce(F.length(c) <= s.max_chars, F.lit(False)),
        "pass_token_bounds": F.coalesce(
            TX.n_tokens(c).between(s.min_tokens, s.max_tokens), F.lit(False)
        ),
        "pass_symbol_ratio": F.coalesce(
            c.isNotNull() & (TX.symbol_ratio(c) <= s.max_symbol_ratio),
            F.lit(False),
        ),
        "pass_repetition": F.coalesce(
            TX.distinct_token_ratio(c) >= s.min_distinct_ratio, F.lit(False)
        ),
        "pass_word_length": F.coalesce(
            TX.mean_word_len(c).between(s.min_mean_word_len, s.max_mean_word_len),
            F.lit(False),
        ),
        "pass_toxicity": ~F.coalesce(TX.has_toxicity(c), F.lit(False)),
        "pass_bytes_present": F.col("bytes").isNotNull() & (F.length("bytes") > 0),
    }

    # critical gate: the cheap native critical rules.  Rows that fail any of
    # them are already dropped, so the expensive stages skip them entirely
    # (their UDF input is masked to NULL → never serialized into the Arrow
    # batch payload; UDFs fast-path nulls).
    gate = (
        F.col("pass_caption_present")
        & F.col("pass_toxicity")
        & F.col("pass_bytes_present")
    )

    # -- stage 2: model scores.  ONE fused struct-returning pandas UDF —
    # the caption batch crosses the Arrow channel once for all three
    # scorers (langid, perplexity, quality classifier) ---------------------
    scores = CS.caption_scores_udf(spark)
    score_fields = {
        "lang_pred": F.col("_cs.lang_pred"),
        "lang_conf": F.col("_cs.lang_conf"),
        "perplexity": F.col("_cs.perplexity"),
        "quality_score": F.col("_cs.quality"),
    }
    score_rules = {
        "pass_lang_confident": F.coalesce(
            F.col("lang_conf") >= s.min_lang_confidence, F.lit(False)
        ),
        "pass_ppl_bound": F.coalesce(
            F.col("perplexity") <= s.max_perplexity, F.lit(False)
        ),
        "pass_quality_clf": F.coalesce(
            F.col("quality_score") >= s.min_quality_score, F.lit(False)
        ),
    }

    # -- stage 3: language-aware stopword rule (native, after langid) ------
    stopword_rule = F.coalesce(
        _lang_aware_stopword_ratio(c, F.col("lang_pred")) >= s.min_stopword_ratio,
        F.lit(False),
    )

    # -- stage 4: image validation (bytes cross Python exactly once, and
    # only for rows that survived the critical gate) ------------------------
    validator = IM.image_validator_udf(min_dim=s.min_dim, max_dim=s.max_dim)
    image_rules = {
        "pass_magic_ok": F.coalesce(F.col("_img.magic_ok"), F.lit(False)),
        "pass_decodable": F.coalesce(F.col("_img.decodable"), F.lit(False)),
        "pass_dims_match": F.coalesce(F.col("_img.dims_match"), F.lit(False)),
        "pass_dims_bounds": F.coalesce(F.col("_img.dims_bounds"), F.lit(False)),
        "pass_psnr_ok": F.coalesce(F.col("_img.psnr_ok"), F.lit(False)),
    }

    # -- stage 5: verdict ---------------------------------------------------
    keep = F.lit(True)
    for key in RULE_KEYS:
        keep = keep & F.col(f"pass_{key}")
    # sort_array + array_compact instead of a filter() lambda: whole-stage
    # codegen keeps working (higher-order functions are CodegenFallback)
    fails = F.sort_array(
        F.array_compact(
            F.array(
                *[
                    F.when(~F.col(f"pass_{k}"), F.lit(k)).otherwise(
                        F.lit(None).cast("string")
                    )
                    for k in RULE_KEYS
                ]
            )
        )
    )
    return (
        (heuristics, None),
        ({"_cs": scores(F.when(gate, c))}, None),
        (score_fields, "_cs"),
        (
            {
                **score_rules,
                "pass_stopword_lang": stopword_rule,
                "_img": validator(
                    F.when(gate, F.col("bytes")), F.col("w"), F.col("h"), F.col("fmt")
                ),
            },
            None,
        ),
        (image_rules, "_img"),
        ({"keep": keep, "fail_rules": fails}, None),
    )


def pipeline_metrics(
    verdicts: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """ONE-PASS per-rule pass/fail counts over a verdict table (long format:
    rule_key, severity, pass_count, fail_count) — SURVEY A2-fusion.

    ``group_cols`` produces the per-partition variant (e.g. ["bucket"] for
    the transactional per-bucket quality-metric tables the north rule asks
    for): one grouped aggregation, still a single scan."""
    return RU.pass_fail_counts(
        verdicts,
        ((key, sev, F.col(f"pass_{key}")) for key, sev in PIPELINE_RULES),
        group_cols,
        totals={
            "n_keep": F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long"),
            "n_total": F.count("*"),
        },
    )


def langid_histogram(
    verdicts: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Per-language keep/drop histogram (A14 shape; north-star metric).
    ``group_cols`` prepends partition keys (per-bucket lineage variant)."""
    return (
        verdicts.groupBy(*(group_cols or []), "lang_pred")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_keep"),
        )
        .orderBy(F.desc("n"), F.asc_nulls_last("lang_pred"))
    )
