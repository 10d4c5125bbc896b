"""Settings-object parity + Check 1 (App Settings Validation) semantics.

Reference analogues: appsettings.py:14-160 (MAppSettings defaults),
charge_analysis_checks.py:135-350 (Check 1 five-step validation).
"""

from __future__ import annotations

import dataclasses

import pytest

from data_quality_analyzer_spark import config as CFG
from data_quality_analyzer_spark.oracle.pandas_oracle import oracle_verdicts
from data_quality_analyzer_spark.plans.pipeline import RULE_KEYS, run_pipeline

STRICT = CFG.PipelineSettings(
    min_chars=20,
    max_chars=120,
    min_tokens=5,
    max_tokens=24,
    max_symbol_ratio=0.10,
    min_stopword_ratio=0.05,
    min_distinct_ratio=0.5,
    min_mean_word_len=3.0,
    max_mean_word_len=9.0,
    min_lang_confidence=0.10,
    max_perplexity=6.0,
    min_dim=8,
    max_dim=512,
)


def _aligned(spark, corpus_path, corpus_pdf, settings):
    images = spark.read.parquet(corpus_path)
    m = (
        run_pipeline(spark, images, settings=settings)
        .drop("bytes")
        .toPandas()
        .sort_values(["image_id", "caption"], na_position="first")
        .reset_index(drop=True)
    )
    o = (
        oracle_verdicts(corpus_pdf, settings=settings)
        .join(corpus_pdf[["caption"]])
        .sort_values(["image_id", "caption"], na_position="first")
        .reset_index(drop=True)
    )
    assert (m["image_id"] == o["image_id"]).all()
    return m, o


def test_pipeline_under_nondefault_settings(spark, corpus_path, corpus_pdf):
    """Every rule flag + keep verdict must track the oracle twin when every
    threshold is changed away from its default (settings are actually
    consumed, not silently ignored)."""
    m, o = _aligned(spark, corpus_path, corpus_pdf, STRICT)
    for k in RULE_KEYS:
        assert (m[f"pass_{k}"] == o[f"pass_{k}"]).all(), k
    assert (m["keep"] == o["keep"]).all()
    # strict settings must actually change the verdicts vs defaults
    d, _ = _aligned(spark, corpus_path, corpus_pdf, None)
    assert (m["keep"] != d["keep"]).any()


# ---------------------------------------------------------------------------
# Check 1: App Settings Validation (charge_analysis_checks.py:135-350)
# ---------------------------------------------------------------------------

def test_check1_pass():
    res = CFG.validate_settings(CFG.default_doc())
    assert res["status"] == "passed"
    assert res["severity"] is None
    assert res["description"] == "All validations passed"


def test_check1_document_missing():
    res = CFG.validate_settings(None)
    assert res["status"] == "failed"
    assert res["severity"] == "critical"
    assert "not found" in res["description"]


def test_check1_section_missing():
    doc = CFG.default_doc()
    del doc["readiness_settings"]
    res = CFG.validate_settings(doc)
    assert res["status"] == "failed"
    assert "readiness_settings missing" in res["description"]


def test_check1_field_missing():
    doc = CFG.default_doc()
    del doc["readiness_settings"]["max_perplexity"]
    res = CFG.validate_settings(doc)
    assert res["status"] == "failed"
    assert "max_perplexity missing" in res["description"]


def test_check1_invalid_values():
    doc = CFG.default_doc()
    doc["readiness_settings"]["min_chars"] = 0
    doc["readiness_settings"]["max_symbol_ratio"] = 1.5
    res = CFG.validate_settings(doc)
    assert res["status"] == "failed"
    assert "min_chars must be > 0" in res["description"]
    assert "max_symbol_ratio must be between 0 and 1" in res["description"]


def test_check1_payer_field_empty():
    doc = CFG.default_doc()
    doc["stats_settings"]["payer_field"] = ""
    res = CFG.validate_settings(doc)
    assert res["status"] == "failed"
    assert "payer_field" in res["description"]


def test_settings_from_doc_roundtrip():
    doc = CFG.default_doc()
    assert CFG.settings_from_doc(doc) == CFG.DEFAULT_SETTINGS
    doc["readiness_settings"]["min_chars"] = 20
    assert CFG.settings_from_doc(doc).min_chars == 20
    with pytest.raises(ValueError):
        CFG.settings_from_doc({"stats_settings": {}})


def test_defaults_mirror_module_constants():
    """config.py defaults must never drift from the module constants the
    standalone expressions (rules.py registry, text.py SQL twins) use."""
    from data_quality_analyzer_spark.functions import langid as LI
    from data_quality_analyzer_spark.functions import perplexity as PX
    from data_quality_analyzer_spark.functions import text as TX
    from data_quality_analyzer_spark.operators import images as IM

    d = dataclasses.asdict(CFG.DEFAULT_SETTINGS)
    assert d["min_chars"] == TX.MIN_CHARS
    assert d["max_perplexity"] == PX.MAX_PERPLEXITY
    assert d["min_lang_confidence"] == LI.MIN_CONFIDENCE
    assert d["min_dim"] == IM.MIN_DIM and d["max_dim"] == IM.MAX_DIM
