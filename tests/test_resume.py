"""Checkpoint/resume: a crashed run resumes from the manifest and converges
to the same output as an uninterrupted run (SURVEY §7.4 hard part 4).

Also pins the round-2 scale fixes: the pipeline's expensive stages execute
exactly once per row (no lineage double-compute), the bucket modulus is
guarded across resumes, and the writer seam is swappable (Iceberg drop-in,
SURVEY §7.0)."""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_quality_analyzer_spark.plans import lineage as LN

OUT = os.path.join(os.path.dirname(__file__), "..", ".fixtures", "resume_out")


@pytest.fixture()
def clean_out():
    for sub in ("a", "b", "c"):
        shutil.rmtree(os.path.join(OUT, sub), ignore_errors=True)
    yield


def _summary(spark, path):
    return (
        LN.read_committed(spark, path)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("rows"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("keep"),
        )
        .orderBy("bucket")
        .toPandas()
    )


def test_crash_resume_converges(spark, corpus_path, clean_out):
    images = spark.read.parquet(corpus_path).limit(400)

    # uninterrupted run — default single-pass mode
    full_dir = os.path.join(OUT, "a")
    m1 = LN.run_with_checkpoints(spark, images, full_dir, "run1", num_buckets=8)
    assert len(m1["committed"]) == 8

    # crashed-then-resumed run — chunked mode (commit granularity)
    crash_dir = os.path.join(OUT, "b")
    with pytest.raises(RuntimeError, match="injected failure"):
        LN.run_with_checkpoints(
            spark, images, crash_dir, "run2", num_buckets=8, chunk_size=2,
            fail_after_chunks=2,
        )
    partial = LN.read_manifest(crash_dir)
    assert 0 < len(partial["committed"]) < 8  # torn state is bounded...
    m2 = LN.run_with_checkpoints(spark, images, crash_dir, "run2", num_buckets=8, chunk_size=2)
    assert len(m2["committed"]) == 8

    # ...and the final data is identical
    a = _summary(spark, full_dir)
    b = _summary(spark, crash_dir)
    assert a.equals(b)

    # single-pass resume of a chunked crash also converges
    c_dir = os.path.join(OUT, "c")
    with pytest.raises(RuntimeError, match="injected failure"):
        LN.run_with_checkpoints(
            spark, images, c_dir, "run3", num_buckets=8, chunk_size=2,
            fail_after_chunks=1,
        )
    LN.run_with_checkpoints(spark, images, c_dir, "run3", num_buckets=8)
    assert a.equals(_summary(spark, c_dir))


def test_manifest_guards_foreign_run(spark, corpus_path, clean_out):
    images = spark.read.parquet(corpus_path).limit(50)
    d = os.path.join(OUT, "a")
    LN.run_with_checkpoints(spark, images, d, "run1", num_buckets=2)
    with pytest.raises(ValueError, match="holds run"):
        LN.run_with_checkpoints(spark, images, d, "other", num_buckets=2)


def test_manifest_guards_num_buckets(spark, corpus_path, clean_out):
    """Resuming with a different bucket modulus would silently duplicate or
    drop rows (buckets committed under the old modulus cover different row
    sets) — it must be rejected."""
    images = spark.read.parquet(corpus_path).limit(100)
    d = os.path.join(OUT, "a")
    with pytest.raises(RuntimeError, match="injected failure"):
        LN.run_with_checkpoints(
            spark, images, d, "run1", num_buckets=8, chunk_size=2,
            fail_after_chunks=1,
        )
    with pytest.raises(ValueError, match="num_buckets=8"):
        LN.run_with_checkpoints(spark, images, d, "run1", num_buckets=16)
    # original modulus still resumes fine
    m = LN.run_with_checkpoints(spark, images, d, "run1", num_buckets=8)
    assert len(m["committed"]) == 8


def test_pipeline_executes_once_per_row(spark, corpus_path, clean_out):
    """The round-1 scale-killer: lineage stats used to re-execute the whole
    pipeline (UDFs ran 2x per chunk).  A per-row tick UDF on the caption
    column proves each row now crosses the Python stages exactly once —
    stats come from the written parquet, not a re-run."""
    acc = spark.sparkContext.accumulator(0)

    @F.pandas_udf("string")
    def tick(s: pd.Series) -> pd.Series:
        acc.add(len(s))
        return s

    # pre-materialize the slice: a `limit` in the measured plan would make
    # Spark close the Arrow stream early and drop accumulator updates
    small = os.path.join(OUT, "small_input")
    shutil.rmtree(small, ignore_errors=True)
    spark.read.parquet(corpus_path).limit(300).write.parquet(small)
    images = spark.read.parquet(small).withColumn(
        "caption", tick(F.col("caption"))
    )
    n = 300

    d = os.path.join(OUT, "a")
    LN.run_with_checkpoints(spark, images, d, "run1", num_buckets=8)
    assert acc.value == n, f"pipeline executed {acc.value / n:.1f}x per row"

    # chunked mode: each chunk's rows tick once — still n total, because the
    # tick sits above the bucket filter and stats never re-run the pipeline
    acc.value = 0
    d2 = os.path.join(OUT, "b")
    LN.run_with_checkpoints(spark, images, d2, "run2", num_buckets=8, chunk_size=2)
    assert acc.value == n, f"chunked mode executed {acc.value / n:.1f}x per row"


def test_writer_seam_is_swappable(spark, corpus_path, clean_out, monkeypatch):
    """Iceberg drop-in seam (SURVEY §7.0): run_with_checkpoints talks to
    storage only through _write_buckets/_written_bucket_stats/_commit_manifest
    — swapping them for a fake catalog leaves the pipeline code untouched."""
    images = spark.read.parquet(corpus_path).limit(120)
    fake_tables: list[pd.DataFrame] = []
    fake_commits: list[dict] = []

    def fake_write(verdicts, out_dir):
        fake_tables.append(verdicts.select("bucket", "keep").toPandas())

    def fake_stats(spark_, out_dir, buckets):
        df = pd.concat(fake_tables, ignore_index=True)
        df = df[df["bucket"].isin(buckets)]
        g = df.groupby("bucket")["keep"].agg(["count", "sum"])
        return {
            str(int(b)): {"rows": int(r["count"]), "n_keep": int(r["sum"])}
            for b, r in g.iterrows()
        }

    def fake_commit(out_dir, manifest):
        fake_commits.append({k: dict(v) if isinstance(v, dict) else v for k, v in manifest.items()})

    monkeypatch.setattr(LN, "_write_buckets", fake_write)
    monkeypatch.setattr(LN, "_written_bucket_stats", fake_stats)
    monkeypatch.setattr(LN, "_commit_manifest", fake_commit)
    monkeypatch.setattr(LN, "_clear_bucket_dirs", lambda *a: None)
    monkeypatch.setattr(LN, "_write_bucket_metrics", lambda *a: None)

    m = LN.run_with_checkpoints(spark, images, os.path.join(OUT, "a"), "r", num_buckets=4)
    assert len(m["committed"]) == 4
    assert sum(v["rows"] for v in m["committed"].values()) == 120
    assert fake_commits, "manifest commit went through the seam"


def test_per_bucket_metric_tables_committed(spark, corpus_path, clean_out):
    """North rule: per-partition quality-metric tables (per-rule pass/fail
    counts + langid histogram) are written transactionally — they exist for
    every committed bucket, follow the manifest snapshot rule, and agree
    with metrics recomputed from the committed data."""
    from data_quality_analyzer_spark.plans.pipeline import pipeline_metrics

    images = spark.read.parquet(corpus_path).limit(400)
    d = os.path.join(OUT, "a")
    m = LN.run_with_checkpoints(spark, images, d, "run1", num_buckets=8)

    rm = LN.read_committed_metrics(spark, d, LN.RULE_METRICS_DIR).toPandas()
    assert set(rm["bucket"].unique()) == set(range(8)) - {
        b for b in range(8) if m["committed"][str(b)]["rows"] == 0
    }
    # per-bucket metrics agree with a recomputation over committed data
    want = (
        pipeline_metrics(LN.read_committed(spark, d), group_cols=["bucket"])
        .toPandas()
        .sort_values(["bucket", "rule_key"])
        .reset_index(drop=True)
    )
    got = rm.sort_values(["bucket", "rule_key"]).reset_index(drop=True)
    assert got[["bucket", "rule_key", "pass_count", "fail_count"]].equals(
        want[["bucket", "rule_key", "pass_count", "fail_count"]]
    )
    # langid histogram rows exist and respect keep <= n
    lh = LN.read_committed_metrics(spark, d, LN.LANGID_HIST_DIR).toPandas()
    assert (lh["n_keep"] <= lh["n"]).all() and len(lh) > 0
    # crash before commit leaves NO trusted metric rows for torn buckets
    d2 = os.path.join(OUT, "b")
    with pytest.raises(RuntimeError):
        LN.run_with_checkpoints(
            spark, images, d2, "run2", num_buckets=8, chunk_size=2,
            fail_after_chunks=1,
        )
    partial = LN.read_manifest(d2)
    committed = {int(b) for b in partial["committed"]}
    rm2 = LN.read_committed_metrics(spark, d2, LN.RULE_METRICS_DIR).toPandas()
    assert set(rm2["bucket"].unique()) <= committed


def test_run_pipeline_script_end_to_end(
    spark, corpus_path, clean_out, monkeypatch, capsys
):
    """scripts/run_pipeline.py on the fixture corpus: the printed summary
    matches the committed verdicts, and both committed per-bucket metric
    tables still read back afterwards and sum to the run-level metrics
    of the committed data."""
    import importlib.util
    import json

    from data_quality_analyzer_spark.plans.pipeline import (
        langid_histogram,
        pipeline_metrics,
    )

    script = os.path.join(
        os.path.dirname(__file__), "..", "scripts", "run_pipeline.py"
    )
    spec = importlib.util.spec_from_file_location("run_pipeline_script", script)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    d = os.path.join(OUT, "a")
    monkeypatch.setattr(
        "sys.argv",
        ["run_pipeline.py", "--input", corpus_path, "--output", d,
         "--run-id", "r1", "--num-buckets", "4"],
    )
    mod.main()
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    verdicts = LN.read_committed(spark, d)
    assert out["buckets_committed"] == 4
    assert out["rows"] == verdicts.count() == 2000
    assert out["kept"] == verdicts.filter("keep").count()

    def summed(df, keys, cols):
        return (
            df.groupBy(*keys)
            .agg(*[F.sum(c).cast("long").alias(c) for c in cols])
            .toPandas()
            .sort_values(keys, na_position="first")
            .reset_index(drop=True)
        )

    keys, cols = ["rule_key", "severity"], [
        "pass_count", "fail_count", "n_keep", "n_total",
    ]
    pd.testing.assert_frame_equal(
        summed(LN.read_committed_metrics(spark, d, LN.RULE_METRICS_DIR),
               keys, cols),
        summed(pipeline_metrics(verdicts), keys, cols),
    )
    keys, cols = ["lang_pred"], ["n", "n_keep"]
    pd.testing.assert_frame_equal(
        summed(LN.read_committed_metrics(spark, d, LN.LANGID_HIST_DIR),
               keys, cols),
        summed(langid_histogram(verdicts), keys, cols),
    )


def test_incremental_dedup_across_runs(spark, tmp_path):
    """Cross-run dedup via the committed fingerprint ledger: batch 2 keeps
    only content unseen in committed batches; re-ingesting an
    already-committed batch keeps ZERO rows (idempotent replay)."""
    from data_quality_analyzer_spark.plans import lineage as LN

    store = str(tmp_path / "fp_store")
    schema = "doc_id long, text string"
    b1 = spark.createDataFrame(
        [(1, "alpha doc"), (2, "bravo doc"), (3, "alpha doc"), (4, None)],
        schema,
    )
    kept1 = LN.dedup_incremental(spark, b1, store, "b1").collect()
    ids1 = sorted(r["doc_id"] for r in kept1)
    assert ids1 == [1, 2], ids1  # in-batch dup 3 dropped, null row excluded

    # batch 2: one cross-run dup, one new doc
    b2 = spark.createDataFrame(
        [(10, "alpha doc"), (11, "charlie doc")], schema
    )
    kept2 = sorted(
        r["doc_id"] for r in LN.dedup_incremental(spark, b2, store, "b2").collect()
    )
    assert kept2 == [11], kept2

    # replaying committed batch 1 keeps nothing
    assert LN.dedup_incremental(spark, b1, store, "b1").count() == 0
    # and a fresh batch with only seen content keeps nothing either
    b3 = spark.createDataFrame([(20, "charlie doc")], schema)
    assert LN.dedup_incremental(spark, b3, store, "b3").count() == 0
    # ledger lists exactly the committed batches
    assert LN.read_fp_manifest(store)["batches"] == ["b1", "b2", "b3"]


def test_incremental_near_dedup_across_runs(spark, tmp_path):
    """Cross-run NEAR-dup dedup via the committed signature ledger: batch 2
    drops a near-copy (not byte-identical) of committed batch-1 content,
    keeps novel docs, and replaying a committed batch keeps ZERO rows."""
    from data_quality_analyzer_spark.plans import lineage as LN

    store = str(tmp_path / "near_store")
    schema = "doc_id long, text string"
    base = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "while the morning sun rises slowly over the quiet valley and the "
        "farmers begin their long day of work in the golden wheat fields"
    )
    near = base.replace("golden", "amber")  # within-batch near-dup
    other = (
        "completely different content about spark aggregation pipelines "
        "shuffle partitioning broadcast joins and adaptive query execution"
    )
    b1 = spark.createDataFrame(
        [(1, base), (2, near), (3, other), (4, None)], schema
    )
    ids1 = sorted(
        r["doc_id"]
        for r in LN.dedup_incremental_near(spark, b1, store, "b1").collect()
    )
    assert ids1 == [1, 3, 4], ids1  # 2 collapsed into 1; null passes through

    # batch 2: a near-copy of COMMITTED base (different bytes), one novel doc
    b2 = spark.createDataFrame(
        [
            (10, base.replace("fox", "cat")),
            (11, "fresh unrelated text about parquet column pruning and row groups"),
        ],
        schema,
    )
    kept2 = sorted(
        r["doc_id"]
        for r in LN.dedup_incremental_near(spark, b2, store, "b2").collect()
    )
    assert kept2 == [11], kept2

    # idempotent replay of a committed batch
    assert LN.dedup_incremental_near(spark, b1, store, "b1").count() == 0
    assert LN.read_near_manifest(store)["batches"] == ["b1", "b2"]

    # the ledger grows only by survivors: novel doc 11's signature is
    # committed, the dropped near-copy's is not
    sigs = LN.read_committed_signatures(spark, store)
    assert sigs.filter(F.col("batch_id") == "b2").count() == 1


def test_incremental_image_dedup_across_runs(spark, tmp_path):
    """Cross-run image near-dup dedup via the committed phash ledger: a
    batch-2 image whose fingerprint is within Hamming 2 of committed
    batch-1 content is dropped; novel fingerprints survive; replay keeps
    zero rows."""
    from data_quality_analyzer_spark.plans import lineage as LN

    store = str(tmp_path / "img_store")
    schema = "image_id string, phash long"
    a = 0x1234_5678_9ABC_DEF0
    far = 0x0F0F_0F0F_0F0F_0F0F
    b1 = spark.createDataFrame(
        [("a1", a), ("a2", a), ("b1", a ^ 0b11), ("c1", far)], schema
    )
    kept1 = sorted(
        r["image_id"]
        for r in LN.dedup_incremental_image(spark, b1, store, "r1").collect()
    )
    # a1/a2 exact-collapse, b1 (hamming 2) joins their cluster: one keeper
    assert kept1 == ["a1", "c1"], kept1

    b2 = spark.createDataFrame(
        [("d1", a ^ 0b100), ("e1", 0x7654_3210_0123_4567)], schema
    )
    kept2 = sorted(
        r["image_id"]
        for r in LN.dedup_incremental_image(spark, b2, store, "r2").collect()
    )
    assert kept2 == ["e1"], kept2  # d1 is hamming-1 from committed fp a

    assert LN.dedup_incremental_image(spark, b1, store, "r1").count() == 0
    assert LN.read_img_manifest(store)["batches"] == ["r1", "r2"]
    fps = LN.read_committed_phashes(spark, store)
    assert fps.filter(F.col("batch_id") == "r2").count() == 1


def test_incremental_embedding_dedup_across_runs(spark, tmp_path):
    """Cross-run EMBEDDING near-dup dedup via the committed vector ledger:
    a batch-2 vector that is a positive scaling of committed batch-1
    content (cosine exactly 1, different bits) is dropped via the
    band-join + archived-vector cosine verify; novel directions survive;
    replay keeps zero rows."""
    import numpy as np

    from data_quality_analyzer_spark.plans import lineage as LN

    store = str(tmp_path / "emb_store")
    schema = "vec_id long, embedding array<float>"
    rng = np.random.default_rng(11)
    u = [float(x) for x in rng.standard_normal(64)]
    w = [float(x) for x in rng.standard_normal(64)]
    b1 = spark.createDataFrame(
        [(1, u), (2, u), (3, [x * 2.0 for x in u]), (10, w)], schema
    )
    kept1 = sorted(
        r["vec_id"]
        for r in LN.dedup_incremental_embedding(spark, b1, store, "r1").collect()
    )
    # 1/2 exact-collapse; 3 (scaled, cos 1.0) joins their cluster: one keeper
    assert kept1 == [1, 10], kept1

    z = [float(x) for x in rng.standard_normal(64)]
    b2 = spark.createDataFrame(
        [(20, [x * 0.5 for x in u]), (21, z)], schema
    )
    kept2 = sorted(
        r["vec_id"]
        for r in LN.dedup_incremental_embedding(spark, b2, store, "r2").collect()
    )
    assert kept2 == [21], kept2  # 20 is a scaling of committed u

    assert LN.dedup_incremental_embedding(spark, b1, store, "r1").count() == 0
    assert LN.read_emb_manifest(store)["batches"] == ["r1", "r2"]
    ledger = LN.read_committed_embeddings(spark, store)
    assert ledger.filter(F.col("batch_id") == "r2").count() == 1


def test_incremental_line_dedup_across_runs(spark, tmp_path):
    """The 5th ledger: a boilerplate line committed by batch 1 is dropped
    outright from batch 2 (its first occurrence is archival), within-batch
    first-occurrence dedup still applies, replay is idempotent, and torn
    writes are invisible."""
    import os

    from data_quality_analyzer_spark.plans import lineage as LN

    BP = "accept all cookies to continue browsing"
    store = str(tmp_path / "lines")
    b1 = spark.createDataFrame(
        [
            (1, f"first article body text\n{BP}\nmore unique prose"),
            (2, f"{BP}\nsecond article entirely different words"),
        ],
        "doc_id long, text string",
    )
    out1 = {r["doc_id"]: r["text"] for r in
            LN.dedup_incremental_lines(spark, b1, store, "b1").collect()}
    assert BP in out1[1] and BP not in out1[2]   # within-batch first-only

    b2 = spark.createDataFrame(
        [
            (10, f"third page fresh content\n{BP}\ntrailing fresh line"),
            (11, BP),                            # 100% archived -> dropped
            (12, "more unique prose"),           # line kept by batch 1 -> doc emptied
            (13, "genuinely new standalone line"),
        ],
        "doc_id long, text string",
    )
    out2 = {r["doc_id"]: r["text"] for r in
            LN.dedup_incremental_lines(spark, b2, store, "b2").collect()}
    assert out2[10] == "third page fresh content\ntrailing fresh line"
    assert 11 not in out2
    assert 12 not in out2                        # archived line, doc emptied
    assert out2[13] == "genuinely new standalone line"

    # idempotent replay: re-running a committed batch returns empty and
    # does not grow the ledger
    n_fps = LN.read_committed_line_fps(spark, store).count()
    assert LN.dedup_incremental_lines(spark, b2, store, "b2").count() == 0
    assert LN.read_committed_line_fps(spark, store).count() == n_fps

    # torn write invisible: parquet without manifest entry is ignored
    torn_dir = os.path.join(store, LN.LINE_FP_DIR, "batch_id=torn")
    spark.createDataFrame([(999,)], "fp long").write.parquet(torn_dir)
    assert LN.read_committed_line_fps(spark, store).count() == n_fps


def test_empty_input_reads_back_zero_rows(spark, corpus_path, clean_out):
    """An empty increment commits every bucket with 0 rows and writes no
    parquet; the committed readers still return 0-row frames with the
    columns and types of a non-empty run."""
    images = spark.read.parquet(corpus_path)
    full, empty = os.path.join(OUT, "a"), os.path.join(OUT, "b")
    LN.run_with_checkpoints(spark, images.limit(40), full, "r", num_buckets=4)
    m = LN.run_with_checkpoints(
        spark, images.limit(0), empty, "r", num_buckets=4
    )
    assert {b: v["rows"] for b, v in m["committed"].items()} == {
        str(b): 0 for b in range(4)
    }
    readers = (
        lambda d: LN.read_committed(spark, d),
        lambda d: LN.read_committed_metrics(spark, d, LN.RULE_METRICS_DIR),
        lambda d: LN.read_committed_metrics(spark, d, LN.LANGID_HIST_DIR),
    )
    for read in readers:
        got = read(empty)
        assert got.count() == 0
        assert got.dtypes == read(full).dtypes


@pytest.mark.parametrize("reader", ["metrics", "stats"])
def test_storage_error_at_commit_is_not_swallowed(
    spark, corpus_path, clean_out, monkeypatch, reader
):
    """Only the no-data-files case of the post-write read means 'no rows';
    any other storage error fails the run before the manifest commits."""
    from pyspark.sql import DataFrameReader

    images = spark.read.parquet(corpus_path).limit(60)
    d = os.path.join(OUT, "a")
    real = DataFrameReader.parquet

    def flaky(self, *paths, **kw):
        if os.path.abspath(paths[0]) == os.path.abspath(d):
            raise RuntimeError("injected storage error")
        return real(self, *paths, **kw)

    with monkeypatch.context() as mp:
        mp.setattr(DataFrameReader, "parquet", flaky)
        if reader == "stats":  # reach the stats read with metrics skipped
            mp.setattr(LN, "_write_bucket_metrics", lambda *a: None)
        with pytest.raises(RuntimeError, match="injected storage error"):
            LN.run_with_checkpoints(spark, images, d, "r", num_buckets=4)
    assert LN.read_manifest(d)["committed"] == {}


# ---------------------------------------------------------------------------
# Fault injection over every cross-run ledger.  Each case maps a batch id to
# a tiny input and returns (run, read): ``run(store, batch_id)`` commits the
# batch and returns its collected output, ``read(store)`` the collected
# committed state.
# ---------------------------------------------------------------------------


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


def _frames(spark, schema, batches):
    return {b: spark.createDataFrame(rows, schema) for b, rows in batches.items()}


def _case_fp(spark):
    docs = _frames(spark, "doc_id long, text string", {
        "b1": [(1, "alpha doc"), (2, "bravo doc"), (3, "alpha doc")],
        "b2": [(10, "alpha doc"), (11, "charlie doc")],
    })
    return (
        lambda s, b: _rows(LN.dedup_incremental(spark, docs[b], s, b)),
        lambda s: _rows(LN.read_committed_fingerprints(spark, s)),
    )


_BASE = (
    "the quick brown fox jumps over the lazy dog near the river bank while "
    "the morning sun rises slowly over the quiet valley"
)


def _case_near(spark):
    docs = _frames(spark, "doc_id long, text string", {
        "b1": [(1, _BASE), (2, "spark shuffle partitioning broadcast joins")],
        "b2": [(10, _BASE.replace("fox", "cat")), (11, "parquet row groups")],
    })
    return (
        lambda s, b: _rows(LN.dedup_incremental_near(spark, docs[b], s, b)),
        lambda s: _rows(LN.read_committed_signatures(spark, s)),
    )


def _case_image(spark):
    a = 0x1234_5678_9ABC_DEF0
    imgs = _frames(spark, "image_id string, phash long", {
        "b1": [("a1", a), ("c1", 0x0F0F_0F0F_0F0F_0F0F)],
        "b2": [("d1", a ^ 0b100), ("e1", 0x7654_3210_0123_4567)],
    })
    return (
        lambda s, b: _rows(LN.dedup_incremental_image(spark, imgs[b], s, b)),
        lambda s: _rows(LN.read_committed_phashes(spark, s)),
    )


def _case_embedding(spark):
    def vec(seed, scale=1.0):
        return [scale * float((i * seed) % 11 - 5) for i in range(64)]

    vecs = _frames(spark, "vec_id long, embedding array<float>", {
        "b1": [(1, vec(3)), (2, vec(7))],
        "b2": [(20, vec(3, 0.5)), (21, vec(5))],
    })
    return (
        lambda s, b: _rows(LN.dedup_incremental_embedding(spark, vecs[b], s, b)),
        lambda s: _rows(LN.read_committed_embeddings(spark, s)),
    )


def _case_contam(spark):
    evals = _frames(spark, "doc_id long, text string", {
        "b1": [(1, "what is the capital city of france")],
        "b2": [(2, "name the largest planet in the solar system")],
    })

    def read(s):
        grams, n = LN.read_contamination(spark, s)
        return _rows(grams), n

    return lambda s, b: LN.commit_contamination(spark, evals[b], s, b), read


def _case_lines(spark):
    bp = "accept all cookies to continue browsing"
    docs = _frames(spark, "doc_id long, text string", {
        "b1": [(1, f"first article body\n{bp}"), (2, f"{bp}\nsecond article")],
        "b2": [(10, f"third page\n{bp}"), (11, "genuinely new line")],
    })
    return (
        lambda s, b: _rows(LN.dedup_incremental_lines(spark, docs[b], s, b)),
        lambda s: _rows(LN.read_committed_line_fps(spark, s)),
    )


def _case_kmv(spark):
    vals = _frames(spark, "grp string, v string", {
        "b1": [("g", f"a{i}") for i in range(20)],
        "b2": [("g", f"a{i}") for i in range(10, 30)] + [("h", "x")],
    })
    return (
        lambda s, b: LN.commit_kmv_sketch(spark, vals[b], s, b, "v", ["grp"], k=8),
        lambda s: _rows(LN.kmv_ledger_estimate(spark, s)),
    )


def _toks(spark):
    return _frames(spark, "tok string", {
        "b1": [(f"w{i % 5}",) for i in range(50)],
        "b2": [(f"w{i % 9}",) for i in range(90)],
    })


def _case_cms(spark):
    toks = _toks(spark)
    return (
        lambda s, b: LN.commit_cms_sketch(spark, toks[b], s, b, "tok"),
        lambda s: LN.cms_ledger_cells(spark, s),
    )


def _case_stats(spark):
    frames = _frames(spark, "lang string, k boolean", {
        "b1": [("en", True)] * 6 + [("de", False)] * 2,
        "b2": [("en", True)] * 3 + [("de", True)] * 5,
    })
    keep = F.col("k")
    return (
        lambda s, b: LN.commit_corpus_stats(spark, frames[b], s, b, keep),
        lambda s: [
            _rows(LN.drift_vs_committed(spark, frames["b1"], s, keep, base))
            for base in LN.read_stats_manifest(s)["batches"]
        ],
    )


def _case_bloom(spark):
    keys = _frames(spark, "k string", {
        "b1": [(f"url-a-{i}",) for i in range(40)],
        "b2": [(f"url-b-{i}",) for i in range(30)],
    })
    return (
        lambda s, b: LN.commit_bloom(spark, keys[b], s, b, "k", m=512),
        lambda s: LN.bloom_ledger_words(spark, s),
    )


def _case_sessions(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, user, offset_s):
        return (eid, t0 + dt.timedelta(seconds=offset_s), user, 1.0)

    events = _frames(
        spark, "event_id long, ts timestamp_ntz, user_id long, value double", {
            # user 1 stitches across the batch boundary, user 2 does not
            "b1": [ev(1, 1, 0), ev(2, 1, 60), ev(3, 2, 0)],
            "b2": [ev(4, 1, 600), ev(5, 2, 9000), ev(6, 3, 9000)],
        },
    )
    return (
        lambda s, b: _rows(LN.sessionize_incremental(spark, events[b], s, b)),
        lambda s: _rows(LN._SESS.read(spark, s)),
    )


def _case_edges(spark):
    from data_quality_analyzer_spark.plans.entry_queries import _q89_pages

    d = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    pages = {
        "b1": _q89_pages(d.filter(F.col("doc_id") % 2 == 0)),
        "b2": _q89_pages(d.filter(F.col("doc_id") % 2 == 1)),
    }
    return (
        lambda s, b: LN.commit_link_edges(spark, pages[b], s, b),
        lambda s: _rows(LN.link_ledger_edges(spark, s)),
    )


def _case_recrawl(spark):
    snaps = _frames(spark, "url string, content_fp string", {
        "b1": [("A", "fp1"), ("B", "fp1")],
        "b2": [("A", "fp2"), ("C", "fp1")],
    })
    return (
        lambda s, b: LN.recrawl_incremental(spark, snaps[b], s, b),
        lambda s: _rows(LN.recrawl_ledger_rates(spark, s)),
    )


_LEDGER_CASES = {
    "fingerprints": _case_fp,
    "near_signatures": _case_near,
    "image_phashes": _case_image,
    "embeddings": _case_embedding,
    "contamination": _case_contam,
    "lines": _case_lines,
    "kmv": _case_kmv,
    "cms": _case_cms,
    "corpus_stats": _case_stats,
    "bloom": _case_bloom,
    "sessions": _case_sessions,
    "link_edges": _case_edges,
    "recrawl": _case_recrawl,
}


@pytest.mark.parametrize("name", list(_LEDGER_CASES))
def test_ledger_crash_before_manifest_converges(spark, tmp_path, monkeypatch, name):
    """A crash after a batch's data write but before its manifest replace
    leaves the batch invisible; re-running the same batch id gives the
    output and committed state of an uninterrupted run — additive ledgers
    count nothing twice, KMV stays a set union, and the session/recrawl
    state continues from the previous batch."""
    run, read = _LEDGER_CASES[name](spark)
    ref, torn = str(tmp_path / "ref"), str(tmp_path / "torn")
    run(ref, "b1")
    want_out = run(ref, "b2")
    want = read(ref)

    run(torn, "b1")
    before = read(torn)

    def crash(self, store_dir, manifest, batch_id):
        raise RuntimeError("injected crash before the manifest replace")

    with monkeypatch.context() as mp:
        mp.setattr(LN.Ledger, "commit", crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            run(torn, "b2")
    assert read(torn) == before
    assert run(torn, "b2") == want_out
    assert read(torn) == want
    run(torn, "b2")  # replay of the now-committed batch
    assert read(torn) == want


_COMPACT = {
    "cms": (LN.compact_cms_ledger, LN.read_cms_manifest),
    "bloom": (LN.compact_bloom_ledger, LN.read_bloom_manifest),
    "link_edges": (LN.compact_link_ledger, LN.read_edges_manifest),
}


@pytest.mark.parametrize("point", ["before_swap", "after_swap"])
@pytest.mark.parametrize("name", list(_COMPACT))
def test_compaction_crash_keeps_merged_read(
    spark, tmp_path, monkeypatch, name, point
):
    """A compaction that crashes after the base write but before the
    manifest swap, or after the swap but before the superseded segments
    are removed, leaves the merged read unchanged; finishing it (or the
    no-op rerun after the swap) and replaying a compacted batch do too."""
    run, read = _LEDGER_CASES[name](spark)
    compact, manifest = _COMPACT[name]
    store = str(tmp_path / "store")
    run(store, "b1")
    run(store, "b2")
    want = read(store)
    real = LN.atomic_write_json

    def crash(path, doc):
        if point == "after_swap":
            real(path, doc)
        raise RuntimeError("injected compaction crash")

    with monkeypatch.context() as mp:
        mp.setattr(LN, "atomic_write_json", crash)
        with pytest.raises(RuntimeError, match="injected compaction crash"):
            compact(spark, store)
    assert read(store) == want
    compact(spark, store)
    assert manifest(store)["segments"] == ["__base_2__"]
    assert read(store) == want
    run(store, "b1")
    assert read(store) == want
