"""The correctness gate: Spark pipeline vs pure-pandas oracle on the
deterministic fixture corpus (BASELINE.md targets: keep/drop F1 ≥ 0.99 —
achieved exactly — caption/scrub equality, byte-exact passthrough), plus
property-based invariants (SURVEY §5 item 3)."""

from __future__ import annotations

import dataclasses
from collections import Counter, defaultdict

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_quality_analyzer_spark import config as CFG
from data_quality_analyzer_spark.oracle.pandas_oracle import (
    f1_keep,
    oracle_metrics,
    oracle_verdicts,
)
from data_quality_analyzer_spark.plans.pipeline import (
    PIPELINE_RULES,
    RULE_KEYS,
    langid_histogram,
    pipeline_metrics,
    run_pipeline,
)


@pytest.fixture(scope="module")
def spark_verdicts(spark, corpus_path):
    images = spark.read.parquet(corpus_path)
    return run_pipeline(spark, images)


@pytest.fixture(scope="module")
def aligned(spark_verdicts, corpus_pdf):
    m = (
        spark_verdicts.drop("bytes")
        .toPandas()
        .sort_values(["image_id", "caption"], na_position="first")
        .reset_index(drop=True)
    )
    orc = oracle_verdicts(corpus_pdf)
    o = (
        orc.join(corpus_pdf[["caption"]])
        .sort_values(["image_id", "caption"], na_position="first")
        .reset_index(drop=True)
    )
    assert (m["image_id"] == o["image_id"]).all()
    return m, o


def test_keep_f1(aligned):
    m, o = aligned
    f1 = f1_keep(m["keep"], o["keep"])
    assert f1 >= 0.99  # BASELINE target; exact agreement in practice
    assert (m["keep"] == o["keep"]).all()


def test_every_rule_flag_matches(aligned):
    m, o = aligned
    for k in RULE_KEYS:
        assert (m[f"pass_{k}"] == o[f"pass_{k}"]).all(), k


# captions whose only difficulty is whitespace: a trailing newline, an NBSP
# or a tab alone, tab-separated and tab-ended words, a VT separator
PLANTED_CAPTIONS = [
    "kittens napping\n",
    "\xa0",
    "\t",
    "the dog\tand the cat\t",
    "a photo of\x0ba cat on the sofa",
]


def test_planted_whitespace_captions_match_oracle(spark, corpus_path, corpus_pdf):
    """Engine and pandas oracle agree on every rule flag and the keep
    verdict when fixture rows carry the planted whitespace captions."""
    schema = spark.read.parquet(corpus_path).schema
    rows = (
        corpus_pdf.drop_duplicates("image_id")
        .head(len(PLANTED_CAPTIONS))
        .reset_index(drop=True)
    )
    rows["caption"] = PLANTED_CAPTIONS
    got = (
        run_pipeline(spark, spark.createDataFrame(rows[schema.fieldNames()], schema))
        .drop("bytes")
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    want = oracle_verdicts(rows).sort_values("image_id").reset_index(drop=True)
    for col in [f"pass_{k}" for k in RULE_KEYS] + ["keep"]:
        assert got[col].tolist() == want[col].tolist(), col


def test_fail_rules_match(aligned):
    m, o = aligned
    for a, b in zip(m["fail_rules"], o["fail_rules"]):
        assert list(a) == list(b)


def test_scrubbed_caption_equality(aligned):
    m, o = aligned
    a = m["caption_scrubbed"].fillna("<NULL>")
    b = o["caption_scrubbed"].fillna("<NULL>")
    assert (a == b).all()


def test_langid_matches(aligned):
    m, o = aligned
    assert (m["lang_pred"].fillna("<N>") == o["lang_pred"].fillna("<N>")).all()


def test_every_rule_has_failures(aligned):
    """The fixture plants a violation cohort for every rule."""
    _, o = aligned
    for k in RULE_KEYS:
        assert (~o[f"pass_{k}"]).sum() > 0, f"rule {k} never fails in fixture"


def test_fused_scores_identical_and_single_arrow_node(spark, corpus_path):
    """Round-5 UDF fusion contract: the verdict plan stays ONE
    ArrowEvalPython node with zero exchanges (the caption batch crosses
    the Arrow channel once).  The fused scores themselves are pinned to
    the pandas oracle by the flag tests above."""
    import re

    images = spark.read.parquet(corpus_path)
    # the second call replays the memoized Column program: same shape
    for _ in range(2):
        plan = (
            run_pipeline(spark, images)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert len(re.findall(r"ArrowEvalPython", plan)) == 1
        assert "Exchange" not in plan


def _counting(monkeypatch, targets):
    """Wrap each ``(owner, attr)`` in a call counter; returns the counts."""
    calls = Counter()

    def wrap(name, fn):
        def counted(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)

        return counted

    for owner, attr in targets:
        monkeypatch.setattr(owner, attr, wrap(attr, getattr(owner, attr)))
    return calls


def test_program_built_once_per_context_and_settings(
    spark, corpus_path, monkeypatch
):
    """``run_pipeline`` builds its Column program (and the two UDFs with
    their model broadcasts) once per SparkContext and settings value, then
    replays it; a different settings value builds its own."""
    from pyspark import SparkContext

    from data_quality_analyzer_spark.functions import caption_scores as CS
    from data_quality_analyzer_spark.operators import images as IM

    calls = _counting(
        monkeypatch,
        [
            (CS, "caption_scores_udf"),
            (IM, "image_validator_udf"),
            (SparkContext, "broadcast"),
        ],
    )
    images = spark.read.parquet(corpus_path)
    cold = dataclasses.replace(CFG.DEFAULT_SETTINGS, max_chars=9_999)
    first = run_pipeline(spark, images, settings=cold)
    assert calls["caption_scores_udf"] == calls["image_validator_udf"] == 1
    broadcasts = calls["broadcast"]
    second = run_pipeline(spark, images, settings=cold)
    assert calls["caption_scores_udf"] == calls["image_validator_udf"] == 1
    assert calls["broadcast"] == broadcasts
    assert _verdict_rows(first) == _verdict_rows(second)
    run_pipeline(spark, images, settings=dataclasses.replace(cold, max_chars=9_998))
    assert calls["caption_scores_udf"] == calls["image_validator_udf"] == 2


def test_quality_udf_broadcasts_once_per_context(spark, monkeypatch):
    """Two ``quality_udf`` calls share one UDF and one weight broadcast
    (none at all when an earlier query already made it)."""
    from pyspark import SparkContext

    from data_quality_analyzer_spark.functions import quality_clf as QC

    calls = _counting(monkeypatch, [(SparkContext, "broadcast")])
    assert QC.quality_udf(spark) is QC.quality_udf(spark)
    assert calls["broadcast"] <= 1


_VERDICT_COLS = ["image_id", "caption", "keep", "fail_rules", "lang_pred"]


def _verdict_rows(df, cols=_VERDICT_COLS):
    """The rows of ``df[cols]`` as a multiset (arrays as tuples)."""
    return Counter(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.select(*cols).collect()
    )


def test_reused_program_on_disjoint_halves(spark, corpus_path):
    """The replayed UDF expressions keep their result ids across
    DataFrames; a union of two runs over disjoint halves still equals one
    run over the whole corpus, row for row."""
    images = spark.read.parquet(corpus_path)
    half = F.pmod(F.hash("image_id", "caption", "w", "h"), 2) == 0
    halves = run_pipeline(spark, images.filter(half)).unionByName(
        run_pipeline(spark, images.filter(~half))
    )
    whole = _verdict_rows(run_pipeline(spark, images))
    assert sum(whole.values()) == images.count()
    assert _verdict_rows(halves) == whole


def test_reused_program_self_join(spark, corpus_path):
    """A self-join of two runs (same replayed UDF expressions on both
    sides) resolves each side's columns and returns the rows a
    driver-side self-merge of one run's output gives."""
    images = spark.read.parquet(corpus_path)
    a = run_pipeline(spark, images).alias("a")
    b = run_pipeline(spark, images).alias("b")
    joined = a.join(b, F.col("a.image_id") == F.col("b.image_id")).select(
        F.col("a.image_id").alias("image_id"),
        *[
            F.col(f"{side}.{c}").alias(f"{c}_{side}")
            for side in ("a", "b")
            for c in _VERDICT_COLS[1:]
        ],
    )
    by_id = defaultdict(list)
    for r in _verdict_rows(run_pipeline(spark, images)).elements():
        by_id[r[0]].append(r[1:])
    want = Counter(
        (i, *x, *y)
        for i, rs in by_id.items()
        if i is not None
        for x in rs
        for y in rs
    )
    assert _verdict_rows(joined, joined.columns) == want


def test_bytes_passthrough(spark, corpus_path, spark_verdicts):
    """Byte-exact passthrough invariant (input_hint)."""
    src = (
        spark.read.parquet(corpus_path)
        .select("image_id", F.md5("bytes").alias("fp"))
        .toPandas()
    )
    out = spark_verdicts.select("image_id", F.md5("bytes").alias("fp")).toPandas()
    a = src.sort_values(["image_id", "fp"], na_position="first").reset_index(drop=True)
    b = out.sort_values(["image_id", "fp"], na_position="first").reset_index(drop=True)
    assert a.equals(b)


def test_metrics_match_oracle(spark_verdicts, corpus_pdf):
    got = (
        pipeline_metrics(spark_verdicts)
        .select("rule_key", "severity", "pass_count", "fail_count")
        .toPandas()
        .sort_values("rule_key")
        .reset_index(drop=True)
    )
    want = (
        oracle_metrics(oracle_verdicts(corpus_pdf))
        .sort_values("rule_key")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({"pass_count": "int64", "fail_count": "int64"}), want
    )


def test_invariants(spark_verdicts):
    """keep+drop = total; pass+fail = total per rule; histogram sums."""
    met = pipeline_metrics(spark_verdicts).toPandas()
    total = met["n_total"].iloc[0]
    assert ((met["pass_count"] + met["fail_count"]) == total).all()
    assert 0 <= met["n_keep"].iloc[0] <= total
    hist = langid_histogram(spark_verdicts).toPandas()
    assert hist["n"].sum() == total
    assert (hist["n_keep"] <= hist["n"]).all()


def test_verdict_invariant_under_repartition(spark, corpus_path):
    """Verdicts must not depend on physical partitioning (SURVEY §5 item 3)."""
    images = spark.read.parquet(corpus_path)
    a = (
        run_pipeline(spark, images.repartition(17))
        .select("image_id", "caption", "keep")
        .toPandas()
        .sort_values(["image_id", "caption"], na_position="first")
        .reset_index(drop=True)
    )
    b = (
        run_pipeline(spark, images.coalesce(1))
        .select("image_id", "caption", "keep")
        .toPandas()
        .sort_values(["image_id", "caption"], na_position="first")
        .reset_index(drop=True)
    )
    assert a.equals(b)


def test_readiness_score_semantics(spark):
    """base_standalone.py:300-376 semantics on a crafted metrics table,
    through both the Spark scorer and the driver-side scorer over the
    equivalent CheckResult dicts."""
    from data_quality_analyzer_spark.operators.rules import (
        readiness_score,
        score_check_results,
    )

    pdf = pd.DataFrame(
        {
            "rule_key": ["a", "b", "c", "d"],
            "severity": ["critical", "high", "medium", "low"],
            "pass_count": [10, 10, 10, 10],
            "fail_count": [0, 1, 0, 1],
        }
    )
    got = readiness_score(spark.createDataFrame(pdf)).collect()[0]
    # weights: a passed 0.2, b failed 0.3, c passed 0.2, d failed 0.1
    # score = (0.2+0.2)/(0.2+0.3+0.2+0.1)*100 = 50.0 -> Partial
    assert got["score"] == 50.0
    assert got["status"] == "Partial"
    # the driver-side scorer agrees on this table and on one per band,
    # including a severity outside the weight table
    for sevs, fails in [
        (pdf["severity"], pdf["fail_count"]),
        (["critical", "low", "high"], [0, 1, 0]),  # 0.4/0.5 -> Ready
        (["critical", "bogus", "high"], [1, 1, 0]),  # 0.2/0.8 -> Not Ready
    ]:
        rows = pd.DataFrame({"severity": sevs, "fail_count": fails})
        want = readiness_score(spark.createDataFrame(rows)).collect()[0]
        results = [
            {"severity": sev, "status": "passed" if n == 0 else "failed"}
            for sev, n in zip(rows["severity"], rows["fail_count"])
        ]
        assert score_check_results(results) == (want["score"], want["status"])


def test_prep_corpus_composition(spark, corpus_path):
    """prep_corpus = filter+scrub keeps, then image near-dedup: every
    returned row is a pipeline keep, the planted base/variant perceptual
    cluster keeps exactly one row, and the hot fingerprint collapses."""
    from pyspark.sql import functions as F

    from data_quality_analyzer_spark.plans.pipeline import run_pipeline
    from data_quality_analyzer_spark.plans.prep import prep_corpus
    from data_quality_analyzer_spark.sources.fixtures import (
        _block_image,
        ahash64,
    )

    images = spark.read.parquet(corpus_path)
    prepped = prep_corpus(spark, images).cache()
    keep_ids = {
        r["image_id"]
        for r in run_pipeline(spark, images)
        .filter(F.col("keep"))
        .select("image_id")
        .collect()
    }
    got_ids = [r["image_id"] for r in prepped.select("image_id").collect()]
    assert set(got_ids) <= keep_ids
    # one keeper per perceptual (fingerprint) cluster — the operator's
    # contract; image_id itself is NOT unique in the fixture (planted
    # ~0.5% id collisions), so uniqueness is asserted on phash
    dup_fps = prepped.groupBy("phash").count().filter("count > 1").count()
    assert dup_fps == 0
    fp_base, fp_var = ahash64(_block_image(0)), ahash64(_block_image(2))
    assert prepped.filter(F.col("phash").isin(fp_base, fp_var)).count() == 1
    hot_fp = (
        images.groupBy("phash").count().orderBy(F.desc("count")).first()["phash"]
    )
    assert prepped.filter(F.col("phash") == hot_fp).count() <= 1
    assert "caption_scrubbed" in prepped.columns
    prepped.unpersist()


def test_prep_corpus_with_decontamination(spark, corpus_path, tmp_path):
    """The optional decontamination stage: a kept caption committed to the
    contamination ledger is dropped by prep_corpus; everything else is
    unchanged vs the no-ledger run; an empty ledger is a no-op."""
    from pyspark.sql import functions as F

    from data_quality_analyzer_spark.plans import lineage as LN
    from data_quality_analyzer_spark.plans.prep import prep_corpus

    images = spark.read.parquet(corpus_path)
    base = prep_corpus(spark, images).select("image_id", "caption").cache()
    victim = base.filter(
        F.col("caption").isNotNull() & (F.length("caption") > 30)
    ).first()
    store = str(tmp_path / "contam")
    # empty ledger: identical output
    assert prep_corpus(
        spark, images, contamination_dir=store
    ).count() == base.count()
    # commit the victim caption as "benchmark text"
    ev = spark.createDataFrame(
        [(1, victim["caption"])], "doc_id long, text string"
    )
    LN.commit_contamination(spark, ev, store, batch_id="evalset")
    got = prep_corpus(spark, images, contamination_dir=store)
    got_ids = {r["image_id"] for r in got.select("image_id").collect()}
    assert victim["image_id"] not in got_ids
    # only rows carrying the contaminated caption were dropped
    dropped = base.filter(~F.col("image_id").isin(got_ids))
    assert dropped.filter(
        F.col("caption") != victim["caption"]
    ).count() == 0


def test_prep_text_corpus_every_stage(spark, tmp_path):
    """The composed document pipeline: one planted row per stage proves
    each stage fires — heuristic filter, trained classifier,
    decontamination, line dedup, exact dedup, near dedup, mixing, shard
    write — and the good rows come through untouched."""
    import os

    from pyspark.sql import functions as F

    from data_quality_analyzer_spark.functions import quality_clf as QC
    from data_quality_analyzer_spark.plans import lineage as LN
    from data_quality_analyzer_spark.plans.prep import prep_text_corpus
    from data_quality_analyzer_spark.sources import seed_corpus as SC

    sents = SC.sentences("en", 16, seed=2024)
    good_a = " ".join(sents[0:4])
    good_d = " ".join(sents[4:8])
    eval_snippet = " ".join(sents[8:10])
    bp = "subscribe to our newsletter for daily updates"
    mash = (
        "the xkcd qwrtz plmnb the vzxcq wertyu asdfgh the zxcvbn qpwoei "
        "the rutyq mznxbc the lkjhgf"
    )
    rows = [
        (1, good_a, "en"),                       # survives
        (2, good_a, "en"),                       # exact dup of 1 -> dropped
        (3, good_a + " trailing extra words appended here", "en"),  # near dup
        (4, good_d, "en"),                       # survives
        (5, good_d + " plus " + eval_snippet, "en"),  # contaminated
        (6, " ".join(sents[10:12]) + "\n" + bp, "en"),   # keeps its BP line
        (7, "x", "en"),                          # heuristic drop (too short)
        (8, mash, "en"),                         # classifier drop
        (9, good_d.replace("the", "die") + " completely other words", "zz"),
        (10, " ".join(sents[12:15]) + "\n" + bp, "en"),  # loses its BP line
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    # sanity: the mash row passes heuristics but fails the classifier
    from data_quality_analyzer_spark.operators import rules as RU
    import pandas as pd

    assert docs.filter(
        (F.col("doc_id") == 8) & RU.keep_verdict(F.col("text"))
    ).count() == 1
    assert QC.score_batch(pd.Series([mash]), QC.get_model()).iloc[0] < 0.3

    contam = str(tmp_path / "contam")
    LN.commit_contamination(
        spark,
        spark.createDataFrame([(1, eval_snippet)], "doc_id long, text string"),
        contam,
        batch_id="bench",
    )
    shards = str(tmp_path / "shards")
    funnel: list = []
    out = prep_text_corpus(
        spark,
        docs,
        contamination_dir=contam,
        contamination_threshold=0.8,
        min_quality_score=0.3,
        mixing={"en": 1.0},
        shards_path=shards,
        num_shards=4,
        funnel=funnel,
    )
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert set(got) == {1, 4, 6, 10}
    assert got[1] == good_a and got[4] == good_d
    assert got[6].endswith(bp)  # first BP occurrence (min doc id) kept
    assert bp not in got[10]    # later occurrence removed, doc survives
    # shards written and consistent with the returned rows
    written = spark.read.parquet(shards)
    assert {r["doc_id"] for r in written.select("doc_id").collect()} == {
        1, 4, 6, 10,
    }
    assert os.path.isdir(shards)
    # funnel audit (round-4 VERDICT task 8): every stage explains its drop
    assert [e["stage"] for e in funnel] == [
        "input", "heuristics", "quality_clf", "decontamination",
        "line_dedup", "exact_dedup", "near_dedup", "mixing",
    ]
    by = {e["stage"]: e for e in funnel}
    assert by["input"]["rows"] == 10
    assert by["heuristics"]["dropped"] == 1        # row 7
    assert by["quality_clf"]["dropped"] == 1       # row 8
    assert by["decontamination"]["dropped"] == 1   # row 5 (contam hits)
    # row 2 (byte-identical to row 1) is EMPTIED here: every one of its
    # lines is a repeat of row 1's — the "docs emptied" funnel metric.
    # (Cross-doc line dedup subsumes exact doc dedup on identical docs.)
    assert by["line_dedup"]["dropped"] == 1
    # two repeated lines removed: row 2's only line + row 10's bp copy
    assert by["line_dedup"]["lines_in"] - by["line_dedup"]["lines_out"] == 2
    assert by["exact_dedup"]["dropped"] == 0       # already eaten above
    # rows 3 AND 9: 9's "die"-substituted text is still J≈0.81 to row 4,
    # so it falls to near-dedup before mixing's zz-weight-0 could drop it
    assert by["near_dedup"]["dropped"] == 2
    assert by["mixing"]["dropped"] == 0
    assert by["mixing"]["rows"] == 4
    from data_quality_analyzer_spark.plans.prep import funnel_metrics_df

    fdf = funnel_metrics_df(spark, funnel)
    assert fdf.count() == 8
    assert fdf.filter(F.col("stage") == "line_dedup").collect()[0][
        "lines_in"
    ] == by["line_dedup"]["lines_in"]


def test_prep_text_corpus_cross_run_lines(spark, tmp_path):
    """prep_text_corpus in cross-run mode: boilerplate kept by run 1 is
    dropped from run 2's documents via the line ledger."""
    from data_quality_analyzer_spark.plans.prep import prep_text_corpus
    from data_quality_analyzer_spark.sources import seed_corpus as SC
    import pytest as _pt

    sents = SC.sentences("en", 8, seed=77)
    bp = " ".join(SC.sentences("en", 1, seed=78))  # boilerplate that passes filters
    ledger = str(tmp_path / "lines")
    run1 = spark.createDataFrame(
        [(1, " ".join(sents[0:3]) + "\n" + bp, "en")],
        "doc_id long, text string, lang string",
    )
    # without a shards_path there is no durable output to order the
    # ledger commit behind: the commit policy must be chosen explicitly
    with _pt.raises(ValueError, match="finalize_line_ledger"):
        prep_text_corpus(spark, run1, line_ledger_dir=ledger, batch_id="r1")
    out1 = prep_text_corpus(
        spark, run1, line_ledger_dir=ledger, batch_id="r1",
        finalize_line_ledger=True,
    ).collect()
    assert bp in out1[0]["text"]
    run2 = spark.createDataFrame(
        [(2, " ".join(sents[3:6]) + "\n" + bp, "en")],
        "doc_id long, text string, lang string",
    )
    out2 = prep_text_corpus(
        spark, run2, line_ledger_dir=ledger, batch_id="r2",
        finalize_line_ledger=True,
    ).collect()
    assert len(out2) == 1 and bp not in out2[0]["text"]
    with _pt.raises(ValueError, match="batch_id"):
        prep_text_corpus(spark, run2, line_ledger_dir=ledger)


def test_line_ledger_finalize_after_shard_write(spark, tmp_path, monkeypatch):
    """Round-4 ADVICE (medium): the line ledger must commit AFTER the
    shard write.  A crash between prepare and the shard write leaves the
    batch UNCOMMITTED — the archive is unchanged, and a clean retry with
    the SAME batch_id succeeds instead of silently dropping the batch's
    content as 'already seen'."""
    import pytest as _pt

    from data_quality_analyzer_spark.plans import lineage as LN
    from data_quality_analyzer_spark.plans.prep import prep_text_corpus
    from data_quality_analyzer_spark.sources import seed_corpus as SC

    sents = SC.sentences("en", 6, seed=31)
    docs = spark.createDataFrame(
        [(1, " ".join(sents[0:3]), "en"), (2, " ".join(sents[3:6]), "en")],
        "doc_id long, text string, lang string",
    )
    ledger = str(tmp_path / "lines")
    # inject a crash in the shard write — AFTER the line stage prepared
    from data_quality_analyzer_spark.plans import shards as SH_mod

    def boom(*a, **kw):
        raise RuntimeError("injected shard-write failure")

    monkeypatch.setattr(SH_mod, "write_training_shards", boom)
    with _pt.raises(RuntimeError, match="injected"):
        prep_text_corpus(
            spark, docs, line_ledger_dir=ledger, batch_id="b1",
            shards_path=str(tmp_path / "never_written"),
        )
    monkeypatch.undo()
    # the crash left the batch UNCOMMITTED (manifest rule): torn
    # fingerprints are invisible and the archive is empty
    assert LN.read_line_manifest(ledger)["batches"] == []
    assert LN.read_committed_line_fps(spark, ledger) is None
    # clean retry with the SAME batch_id: succeeds, all content present
    shards = str(tmp_path / "shards")
    out = prep_text_corpus(
        spark, docs, line_ledger_dir=ledger, batch_id="b1",
        shards_path=shards,
    )
    assert {r["doc_id"] for r in out.collect()} == {1, 2}
    assert LN.read_line_manifest(ledger)["batches"] == ["b1"]
    assert {
        r["doc_id"] for r in spark.read.parquet(shards).collect()
    } == {1, 2}
    # finalize without prepare refuses loudly
    with _pt.raises(ValueError, match="prepare"):
        LN.finalize_incremental_lines(ledger, "never_prepared")


def test_prep_text_corpus_mixture_parts(spark):
    """prep_text_corpus(mixture_parts=...) plans the mixture over the
    SURVIVING corpus: the binding stratum is kept whole (fraction 1.0 is
    exact) and the abundant stratum is sampled toward the ratio; passing
    both mixing and mixture_parts raises."""
    import pytest as _pytest

    from data_quality_analyzer_spark.plans.prep import prep_text_corpus
    from data_quality_analyzer_spark.sources import seed_corpus as SC

    en = SC.sentences("en", 60, seed=5)
    de = SC.sentences("de", 8, seed=6)
    rows = [(i, " ".join(en[i:i + 3]), "en") for i in range(56)] + [
        (100 + i, " ".join(de[i:i + 3]), "de") for i in range(5)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = prep_text_corpus(
        spark, docs, mixture_parts={"en": 1, "de": 1}, sample_seed=3
    )
    got = {r["doc_id"] for r in out.select("doc_id").collect()}
    de_ids = {100 + i for i in range(5)}
    # every de doc that survives the filters is in the mixture (binding
    # stratum, fraction exactly 1.0) and en was sampled DOWN
    base = prep_text_corpus(spark, docs)
    base_ids = {r["doc_id"] for r in base.select("doc_id").collect()}
    assert de_ids & base_ids == de_ids & got
    assert de_ids & got  # the binding stratum did survive
    assert len(got - de_ids) < len(base_ids - de_ids)

    with _pytest.raises(ValueError, match="not both"):
        prep_text_corpus(
            spark, docs, mixing={"en": 1.0}, mixture_parts={"en": 1}
        )
