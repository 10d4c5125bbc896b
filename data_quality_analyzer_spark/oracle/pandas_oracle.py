"""Pure-pandas reference-semantics oracle for the flagship pipeline.

Recomputes, driver-local and Spark-free, every column the pipeline emits:
per-rule pass flags, keep verdict, fail_rules, scrubbed caption, langid,
perplexity.  Shares the *model objects* (langid / char-LM / codecs / regex
patterns) with the engine but reimplements the rule *expressions* in plain
Python — so a Spark expression bug cannot hide in the oracle (SURVEY §5
test strategy item 1).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from ..config import DEFAULT_SETTINGS, PipelineSettings
from ..functions import langid as LI
from ..functions import perplexity as PX
from ..functions import quality_clf as QC
from ..functions import scrub as SC
from ..functions import text as TX
from ..operators import images as IM
from ..plans.pipeline import PIPELINE_RULES, RULE_KEYS, STOPWORDS_BY_LANG

_NON_ALNUM_SPACE = re.compile(r"[^a-zA-Z0-9 ]")


def _symbol_ratio(text: str | None) -> float:
    if not text:
        return 0.0
    kept = _NON_ALNUM_SPACE.sub("", text)
    return (len(text) - len(kept)) / len(text)


def _distinct_ratio(text: str | None) -> float:
    toks = TX.tokens_python(text.lower() if text else text)
    if not toks:
        return 1.0
    return len(set(toks)) / len(toks)


def _mean_word_len(text: str | None) -> float:
    toks = TX.tokens_python(text)
    if not toks:
        return 0.0
    return sum(len(t) for t in toks) / len(toks)


def _stopword_ratio(text: str | None, words: tuple[str, ...]) -> float:
    toks = TX.tokens_python(text.lower() if text else text)
    if not toks:
        return 0.0
    sw = set(words)
    return sum(t in sw for t in toks) / len(toks)


def oracle_verdicts(
    images: pd.DataFrame,
    settings: PipelineSettings | None = None,
) -> pd.DataFrame:
    """images pdf (input_hint schema) → oracle verdict pdf (same columns as
    plans.pipeline.run_pipeline output, minus the passthrough bytes).

    Mirrors the engine's critical short-circuit: rows failing a cheap
    critical rule (caption_present, toxicity, bytes_present) never reach
    langid / perplexity / image decode — their model columns are the null
    fast-path values and their downstream flags read False (skipped)."""
    s = settings or DEFAULT_SETTINGS
    n = len(images)
    cap = images["caption"]

    tox = set(TX.TOXICITY_WORDS)

    def _gate(i: int) -> bool:
        t = cap.iloc[i]
        if TX.is_blank_python(t):
            return False  # caption_present fails
        if any(tok in tox for tok in TX.tokens_python(t.lower())):
            return False  # toxicity fails
        b = images["bytes"].iloc[i]
        return b is not None and len(b) > 0  # bytes_present

    gate = pd.Series([_gate(i) for i in range(n)], index=images.index)
    cap_gated = cap.where(gate)

    li_model = LI.get_model()
    lm = PX.get_model()
    li = LI.predict_batch(cap_gated, li_model)
    ppl = PX.score_batch(cap_gated, lm)
    qscore = QC.score_batch(cap_gated, QC.get_model())
    img_flags = IM.validate_batch(
        images["bytes"].where(gate),
        images["w"],
        images["h"],
        images["fmt"],
        s.min_dim,
        s.max_dim,
    )

    out = pd.DataFrame({"image_id": images["image_id"]})
    out["caption_scrubbed"] = cap.map(SC.scrub_python, na_action="ignore")
    for name, pat, _repl in SC.PII_PATTERNS:
        rx = re.compile(pat)
        out[f"has_{name}"] = cap.map(
            lambda t: bool(rx.search(t)) if isinstance(t, str) else False
        )
    out["lang_pred"] = li["lang_pred"]
    out["lang_conf"] = li["lang_conf"]
    out["perplexity"] = ppl.values
    out["quality_score"] = qscore.values

    def passes(row_i: int) -> dict[str, bool]:
        t = cap.iloc[row_i]
        is_str = isinstance(t, str)
        nc = len(t) if is_str else 0
        toks = TX.tokens_python(t)
        nt = len(toks)
        lang = out["lang_pred"].iloc[row_i]
        sw_words = STOPWORDS_BY_LANG.get(lang, STOPWORDS_BY_LANG["en"])
        return {
            "caption_present": not TX.is_blank_python(t),
            "min_length": is_str and nc >= s.min_chars,
            "max_length": is_str and nc <= s.max_chars,
            "token_bounds": s.min_tokens <= nt <= s.max_tokens,
            "symbol_ratio": is_str and _symbol_ratio(t) <= s.max_symbol_ratio,
            "stopword_lang": is_str
            and _stopword_ratio(t, sw_words) >= s.min_stopword_ratio,
            "repetition": is_str and _distinct_ratio(t) >= s.min_distinct_ratio,
            "word_length": is_str
            and s.min_mean_word_len <= _mean_word_len(t) <= s.max_mean_word_len,
            "toxicity": not any(tok in tox for tok in TX.tokens_python(t.lower() if is_str else None)),
            "lang_confident": out["lang_conf"].iloc[row_i] >= s.min_lang_confidence,
            "ppl_bound": out["perplexity"].iloc[row_i] <= s.max_perplexity,
            "quality_clf": out["quality_score"].iloc[row_i]
            >= s.min_quality_score,
            "bytes_present": images["bytes"].iloc[row_i] is not None
            and len(images["bytes"].iloc[row_i]) > 0,
            "magic_ok": bool(img_flags["magic_ok"].iloc[row_i]),
            "decodable": bool(img_flags["decodable"].iloc[row_i]),
            "dims_match": bool(img_flags["dims_match"].iloc[row_i]),
            "dims_bounds": bool(img_flags["dims_bounds"].iloc[row_i]),
            "psnr_ok": bool(img_flags["psnr_ok"].iloc[row_i]),
        }

    flags = [passes(i) for i in range(n)]
    for key in RULE_KEYS:
        out[f"pass_{key}"] = [f[key] for f in flags]
    out["keep"] = [all(f[k] for k in RULE_KEYS) for f in flags]
    out["fail_rules"] = [
        sorted(k for k in RULE_KEYS if not f[k]) for f in flags
    ]
    return out


def oracle_metrics(verdicts: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for key, sev in PIPELINE_RULES:
        p = int(verdicts[f"pass_{key}"].sum())
        rows.append(
            {
                "rule_key": key,
                "severity": sev,
                "pass_count": p,
                "fail_count": len(verdicts) - p,
            }
        )
    return pd.DataFrame(rows)


def f1_keep(pred: pd.Series, truth: pd.Series) -> float:
    tp = int(((pred) & (truth)).sum())
    fp = int(((pred) & (~truth)).sum())
    fn = int(((~pred) & (truth)).sum())
    if tp == 0:
        return 0.0
    prec = tp / (tp + fp)
    rec = tp / (tp + fn)
    return 2 * prec * rec / (prec + rec)
