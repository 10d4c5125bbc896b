"""Image–caption alignment gate (operators/alignment.py): the Spark
sorted-RLE fold must agree with an independent pure-Python scorer, keep
exactly the pairs the rational-threshold rule admits, and stay map-only."""

from __future__ import annotations

import hashlib

from data_quality_analyzer_spark.functions import text as TX
from data_quality_analyzer_spark.operators import alignment as AL


def _h60(tok: str) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)


def _py_score(caption: str | None, p: int) -> tuple[int, int]:
    """Independent Python twin: (dot, nrm) per the module's pinned rule."""
    if caption is None:
        return 0, 0
    v: dict[int, int] = {}
    for t in TX.tokens_python(caption.lower()):
        h = _h60(t)
        b = h % AL.ALIGN_DIM
        s = 1 - 2 * ((h >> 6) & 1)
        v[b] = v.get(b, 0) + s
    dot = sum(vb * (1 - 2 * ((p >> b) & 1)) for b, vb in v.items())
    nrm = sum(vb * vb for vb in v.values())
    return dot, nrm


def _aligned_hash(caption: str) -> int:
    """Image hash whose ±1 vector matches the sign of every caption
    bucket (u_b = sign(v_b)) — the maximally-aligned image."""
    v: dict[int, int] = {}
    for t in TX.tokens_python(caption.lower()):
        h = _h60(t)
        v[h % AL.ALIGN_DIM] = v.get(h % AL.ALIGN_DIM, 0) + 1 - 2 * ((h >> 6) & 1)
    p = 0
    for b, vb in v.items():
        if vb < 0:  # u_b = -1 ⟺ bit set
            p |= 1 << b
    return p


def test_alignment_matches_python_twin(spark):
    rows = [
        (0, "a photo of a red fox", 12345),
        (1, "the quick brown fox jumps over the lazy dog", 999999999),
        (2, "", 42),
        (3, None, 42),
        (4, "repeated repeated repeated words words", 7),
        (5, "x", 2**59 + 17),
    ]
    df = spark.createDataFrame(rows, "doc_id long, caption string, p long")
    out = {
        r["doc_id"]: r
        for r in AL.alignment_scores(
            df, caption_col="caption", image_hash_col="p"
        ).collect()
    }
    for i, cap, p in rows:
        dot, nrm = _py_score(cap, p)
        r = out[i]
        assert (r["align_dot"], r["align_nrm"]) == (dot, nrm), (i, r)
        want_keep = dot > 0 and 25 * dot * dot >= AL.ALIGN_DIM * nrm
        assert r["align_keep"] == want_keep, (i, r)
    # unscorable rows are never kept
    assert out[2]["align_keep"] is False
    assert out[3]["align_keep"] is False


def test_alignment_planted_pairs(spark):
    """A caption scored against ITS aligned image hash passes the 1/5
    threshold once it has ≥3 distinct buckets; the bit-complemented hash
    (anti-aligned image) always fails."""
    cap = "sunset over mountain lake"
    p_good = _aligned_hash(cap)
    p_bad = p_good ^ ((1 << AL.ALIGN_DIM) - 1)
    df = spark.createDataFrame(
        [(0, cap, p_good), (1, cap, p_bad)],
        "doc_id long, caption string, p long",
    )
    out = {
        r["doc_id"]: r
        for r in AL.alignment_scores(
            df, caption_col="caption", image_hash_col="p"
        ).collect()
    }
    assert out[0]["align_keep"] is True, out[0]
    assert out[0]["align_dot"] > 0
    assert out[1]["align_keep"] is False, out[1]
    assert out[1]["align_dot"] == -out[0]["align_dot"]


def test_alignment_map_only_plan(spark):
    df = spark.createDataFrame(
        [(0, "some caption text", 5)], "doc_id long, caption string, p long"
    )
    plan = (
        AL.alignment_scores(df.coalesce(1), "caption", "p")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan  # zero UDFs: pure Catalyst fold


def test_alignment_gate_in_prep_corpus(spark):
    """prep_corpus(alignment_threshold=(1,5)) drops a kept-quality row
    whose image hash is anti-aligned with its caption and keeps the
    aligned twin."""
    from data_quality_analyzer_spark.plans.prep import prep_corpus
    from data_quality_analyzer_spark.sources.fixtures import generate_corpus

    pdf = generate_corpus(60, seed=11)
    base_ids = {
        r["image_id"]
        for r in prep_corpus(spark, spark.createDataFrame(pdf))
        .select("image_id").collect()
    }
    assert len(base_ids) >= 2
    keep_a, keep_b = sorted(base_ids)[:2]
    for iid, align in ((keep_a, True), (keep_b, False)):
        i = pdf.index[pdf["image_id"] == iid][0]
        p = _aligned_hash(pdf.at[i, "caption"])
        pdf.at[i, "phash"] = p if align else p ^ ((1 << AL.ALIGN_DIM) - 1)
    out_ids = {
        r["image_id"]
        for r in prep_corpus(
            spark, spark.createDataFrame(pdf), alignment_threshold=(1, 5)
        ).select("image_id").collect()
    }
    assert keep_a in out_ids
    assert keep_b not in out_ids
