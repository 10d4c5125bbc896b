"""The banded candidate join (``dedup._band_pairs``) and its hot-bucket
cap, seen through every caller that takes a cap: a planted hot bucket
loses its pairs under the cap (loudly, naming the caller), and a cap of
0 means off, the same as no cap."""

from __future__ import annotations

import ast
import logging
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

import data_quality_analyzer_spark as PKG
from data_quality_analyzer_spark.operators import dedup as DD
from data_quality_analyzer_spark.operators import similarity as SIM
from data_quality_analyzer_spark.plans import lineage as LN

CAP = 10  # every plant below puts more than CAP rows in its hot bucket


def _hot_band_fps(n: int) -> list[int]:
    """n distinct fingerprints sharing band 0 (low 16 bits 0xBEEF) whose
    upper bits are seeded-random, so no two are within Hamming 3."""
    his = {int(h) for h in np.random.default_rng(7).integers(0, 1 << 46, n)}
    assert len(his) == n
    return [(h << 16) | 0xBEEF for h in sorted(his)]


HOT = _hot_band_fps(40)
# Hamming 3 from HOT[0], one flipped bit in each of bands 1-3: the hot
# band 0 is the pair's only shared bucket
ONLY_HOT = HOT[0] ^ (1 << 20) ^ (1 << 36) ^ (1 << 52)
# a Hamming-1 pair that shares the healthy bands 1-3
CLEAN_A, CLEAN_B = 0x0123_4567_89AB_0001, 0x0123_4567_89AB_0003


def _fingerprint(spark, tmp_path, cap):
    rows = [(i, fp) for i, fp in enumerate(HOT)]
    rows += [(7000, ONLY_HOT), (9000, CLEAN_A), (9001, CLEAN_B)]
    df = spark.createDataFrame(rows, "vid long, fp long")
    got = DD.fingerprint_near_duplicates(df, "fp", "vid", max_band_size=cap)
    return {(r["id_a"], r["id_b"]) for r in got.collect()}


def _unit(seed: int, dim: int) -> list[float]:
    v = np.random.default_rng(seed).standard_normal(dim)
    return [float(x) for x in v / np.linalg.norm(v)]


def _sign_buckets(spark, tmp_path, cap):
    """20 copies of v fill one sign bucket; u = -v and 2u share the
    complementary bucket."""
    v = _unit(1, 8)
    u = [-x for x in v]
    rows = [(i, v) for i in range(20)]
    rows += [(100, u), (101, [2 * x for x in u])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = SIM.pairwise_topk_within_buckets(df, k=1000, max_bucket_size=cap)
    return {(r["id_a"], r["id_b"]) for r in got.collect()}


def _ledger(run, schema, archive_rows, batch_rows, id_col):
    """Commit ``archive_rows`` as batch "a", run batch "b"; the ids of
    batch "b" that the ledger dropped."""

    def go(spark, tmp_path, cap):
        store = str(tmp_path / f"store_{cap}")
        a = spark.createDataFrame(archive_rows, schema)
        run(spark, a, store, "a", max_band_size=cap).count()
        b = spark.createDataFrame(batch_rows, schema)
        kept = run(spark, b, store, "b", max_band_size=cap).collect()
        return {r[0] for r in batch_rows} - {r[id_col] for r in kept}

    return go


_image_ledger = _ledger(
    LN.dedup_incremental_image, "image_id long, phash long",
    [(i, fp) for i, fp in enumerate(HOT)] + [(500, CLEAN_A)],
    [(1000, ONLY_HOT), (1001, CLEAN_B), (1002, 0x7654_3210_0123_4567)],
    "image_id",
)

_T = " ".join(f"tee{i:02d} word" for i in range(30))
_S = " ".join(f"ess{i:02d} text" for i in range(30))
_W = " ".join(f"dbl{i:02d} item" for i in range(30))
# 20 copies of T in the new batch put T's every band bucket over the cap
_near_ledger = _ledger(
    LN.dedup_incremental_near, "doc_id long, text string",
    [(1, _T), (2, _S)],
    [(100 + i, _T) for i in range(20)] + [(200, _S), (300, _W)],
    "doc_id",
)

_V = _unit(3, 64)
_U = [-x for x in _V]  # complementary fingerprint: no band in common with V
_embedding_ledger = _ledger(
    LN.dedup_incremental_embedding, "vec_id long, embedding array<float>",
    [(1, _V), (2, _U)],
    [(100 + i, _V) for i in range(20)] + [(200, _U), (300, _unit(4, 64))],
    "vec_id",
)

_HOT_PAIRS = {(i, j) for i in range(20) for j in range(i + 1, 20)}
_COPIES = set(range(101, 120))  # within-batch copies of the kept id 100

# (caller, run, found under the cap, found without it)
CASES = [
    ("fingerprint_near_duplicates", _fingerprint,
     {(9000, 9001)}, {(9000, 9001), (0, 7000)}),
    ("pairwise_topk_within_buckets", _sign_buckets,
     {(100, 101)}, {(100, 101)} | _HOT_PAIRS),
    ("dedup_incremental_image", _image_ledger, {1001}, {1000, 1001}),
    ("dedup_incremental_near", _near_ledger,
     {200} | _COPIES, {200, 100} | _COPIES),
    ("dedup_incremental_embedding", _embedding_ledger,
     {200} | _COPIES, {200, 100} | _COPIES),
]


@pytest.mark.parametrize(
    "what, run, capped, uncapped", CASES, ids=[c[0] for c in CASES]
)
def test_hot_bucket_cap(spark, tmp_path, caplog, what, run, capped, uncapped):
    """Under the cap the planted hot bucket yields no pair, healthy
    buckets still do, and the warning names the caller."""
    with caplog.at_level(logging.WARNING):
        assert run(spark, tmp_path, CAP) == capped
    assert any(
        what in r.message and f"max_band_size={CAP}" in r.message
        for r in caplog.records
    )


@pytest.mark.parametrize(
    "what, run, capped, uncapped", CASES, ids=[c[0] for c in CASES]
)
def test_zero_cap_is_off(spark, tmp_path, caplog, what, run, capped, uncapped):
    """``0`` turns the cap off on every caller: the hot bucket's pairs
    come back and nothing is excluded."""
    with caplog.at_level(logging.WARNING):
        assert run(spark, tmp_path, 0) == uncapped
    assert not any("oversized" in r.message for r in caplog.records)


def test_only_band_pairs_caps():
    """The hot-bucket exclusion has one call site per join shape:
    ``dedup._band_pairs`` for every band/bucket join, and
    ``mirrors.mirror_pairs``, which groups before it pairs."""
    root = Path(PKG.__file__).parent
    sites = set()
    for path in sorted(root.rglob("*.py")):
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                if isinstance(node, ast.Call) and "exclude_hot_band_buckets" in (
                    getattr(node.func, "attr", None), getattr(node.func, "id", None)
                ):
                    name = getattr(top, "name", "<module>")
                    sites.add((path.relative_to(root).as_posix(), name))
    assert sites == {
        ("operators/dedup.py", "_band_pairs"),
        ("operators/mirrors.py", "mirror_pairs"),
    }, sites


def test_embedding_ledger_passes_null_vectors(spark, tmp_path):
    """A NULL embedding neither probes the archive nor commits: the
    ledger holds no NULL row, and NULL rows come back kept in every
    batch."""
    store = str(tmp_path / "emb")
    schema = "vec_id long, embedding array<float>"

    def run(rows, batch):
        df = spark.createDataFrame(rows, schema)
        out = LN.dedup_incremental_embedding(spark, df, store, batch)
        return sorted(r["vec_id"] for r in out.collect())

    v = _unit(5, 64)
    assert run([(1, v), (2, None)], "r1") == [1, 2]
    emb = LN.read_committed_embeddings(spark, store)
    assert emb.filter(F.col("embedding").isNull()).count() == 0
    assert emb.count() == 1
    assert run([(3, v), (4, None), (5, None)], "r2") == [4, 5]
