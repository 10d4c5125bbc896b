"""Dedup + similarity operator tests with planted duplicates/near-dups."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_quality_analyzer_spark.functions import text as TX
from data_quality_analyzer_spark.operators import dedup as DD
from data_quality_analyzer_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog near the river bank today"
    )
    near = base.replace("today", "tonight")  # high jaccard
    other = "completely different content about spark aggregation pipelines and shuffles"
    rows = [
        (1, base),
        (2, base),          # exact dup of 1
        (3, near),          # near dup of 1
        (4, other),
        (5, other + " with a small suffix appended"),
        (6, None),
        (7, "tiny"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_exact_duplicates(docs):
    groups = DD.exact_duplicates(docs, "text", "doc_id").collect()
    assert len(groups) == 1
    assert groups[0]["cnt"] == 2
    assert groups[0]["ids"] == [1, 2]


def test_dedup_exact_action(docs):
    kept = DD.dedup_exact(docs, "text", "doc_id")
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [1, 3, 4, 5, 6, 7]  # doc 2 removed, null row retained


def test_minhash_lsh_finds_near_dups(docs):
    pairs = DD.near_duplicates(docs, "text", "doc_id", jaccard_threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert (1, 2) in got and got[(1, 2)] == 1.0  # exact dup
    assert (1, 3) in got and got[(1, 3)] >= 0.5  # near dup
    assert (1, 4) not in got and (2, 4) not in got


def test_simhash_property(docs):
    out = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", DD.simhash_udf()(F.col("text")).alias("sh")
    ).collect()
    by_id = {r["doc_id"]: r["sh"] for r in out}
    assert by_id[1] == by_id[2]  # identical text -> identical simhash
    # near-dup -> small hamming distance
    ham = bin(by_id[1] ^ by_id[3]).count("1")
    ham_far = bin(by_id[1] ^ by_id[4]).count("1")
    assert ham < ham_far


def test_minhash_param_validation(docs):
    from data_quality_analyzer_spark.functions import hashing as HH

    with pytest.raises(ValueError, match="num_hashes"):
        DD.minhash_signature_poly_udf(num_hashes=99)
    with pytest.raises(ValueError, match="bands must divide"):
        DD.lsh_candidate_pairs(docs, "text", "doc_id", num_hashes=16, bands=5)
    with pytest.raises(ValueError, match="num_hashes"):
        DD.minhash_signature_poly_udf(num_hashes=0)
    with pytest.raises(ValueError, match="k must be"):
        DD.minhash_signature_poly_udf(k=HH.POLY_MAX_K + 1)


def test_simhash_banded_hamming_search(spark):
    """Planted near-dups at Hamming distance ≤ 3 are found via the BUCKETED
    band join (never all-pairs); pairs beyond the threshold are not."""
    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four five"
    )
    rows = [(1, base), (2, base)]  # exact: hamming 0
    # perturbations: swap one word → a handful of bit flips
    rows.append((3, base.replace("delta", "dxlta")))
    rows.append((4, "totally different corpus about catalyst optimizer internals"))
    rows.append((5, "another unrelated sentence mentioning shuffle partitions"))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    fp = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", DD.simhash_udf()(F.col("text")).alias("s")
        ).collect()
    }
    ham13 = bin(fp[1] ^ fp[3]).count("1")
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in DD.simhash_near_duplicates(
            df, "text", "doc_id", bands=4, max_hamming=3
        ).collect()
    }
    assert pairs.get((1, 2)) == 0  # exact twin found at hamming 0
    if ham13 <= 3:  # pigeonhole guarantees recall within bands-1 flips
        assert pairs.get((1, 3)) == ham13
    assert (1, 4) not in pairs and (1, 5) not in pairs and (4, 5) not in pairs


def test_near_duplicates_broadcasts_candidates(docs):
    """The candidate side must carry broadcast hints (no full-table shuffle
    at the verification joins)."""
    plan = DD.near_duplicates(docs, "text", "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_knn_and_lsh(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(50, 16)).astype("float32")
    vecs[7] = vecs[0] + rng.normal(scale=0.01, size=16)  # planted neighbor
    pdf = pd.DataFrame(
        {"vec_id": range(50), "embedding": [v.tolist() for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    q = df.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    top = SIM.knn_bruteforce(df.filter("vec_id <> 0"), q, k=3).collect()
    assert top[0]["vec_id"] == 7 and top[0]["cos_sim"] > 0.99
    # LSH bucket contains the planted neighbor (same signs region)
    ann = SIM.knn_lsh(df.filter("vec_id <> 0"), q, k=3, bits=4).collect()
    assert any(r["vec_id"] == 7 for r in ann)
    pairs = SIM.pairwise_topk_within_buckets(df, k=5, bits=4).collect()
    assert (pairs[0]["id_a"], pairs[0]["id_b"]) == (0, 7)


def test_random_projection_ann(spark):
    """knn_rp: the valid hyperplane family for trained embeddings — the
    planted neighbor lands in the query's bucket and is retrieved."""
    import numpy as np

    rng = np.random.default_rng(7)
    dim = 16
    vecs = rng.normal(size=(80, dim)).astype("float32")
    vecs[11] = vecs[0] + rng.normal(scale=0.01, size=dim)  # planted neighbor
    pdf = pd.DataFrame(
        {"vec_id": range(80), "embedding": [v.tolist() for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    q = df.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    ann = SIM.knn_rp(df.filter("vec_id <> 0"), q, k=3, bits=4, dim=dim).collect()
    assert any(r["vec_id"] == 11 for r in ann)
    assert ann[0]["vec_id"] == 11 and ann[0]["cos_sim"] > 0.99
    # spark and duck SQL render from the SAME literal matrix
    ss = SIM.rp_bucket_spark_sql("embedding", 4, dim)
    ds = SIM.rp_bucket_duck_sql("embedding", 4, dim)
    for row in SIM.rp_matrix(4, dim):
        assert str(row[0]) in ss and str(row[0]) in ds


@pytest.mark.parametrize("bits", [4, 6, 8])
def test_lsh_bucket_duck_twin(spark, bits):
    """lsh_bucket_expr and its DuckDB twin lsh_bucket_duck_sql give the
    same bucket for positive, negative, exactly-zero and NULL components
    (zero and NULL both read as a 0 bit) and for a NULL vector."""
    import duckdb

    vecs = [
        [0.5, -0.25, 0.0, None, 1.0, -1.0, 0.0, 2.0, 0.125],
        [-0.5] * 8,
        [1.5] * 8,
        [0.0] * 8,
        [None] * 8,
        [0.0, None, 0.3, -0.3, None, 0.0, 7.0, -7.0],
        [None, 0.1, -0.0, 0.2, 0.0, 0.4, None, 0.9],
        None,
    ]
    rows = list(enumerate(vecs))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    got = {
        r["vec_id"]: r["b"]
        for r in df.select(
            "vec_id", SIM.lsh_bucket_expr("embedding", bits).alias("b")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE e (vec_id INTEGER, embedding FLOAT[])")
    con.executemany("INSERT INTO e VALUES (?, ?)", rows)
    duck = dict(
        con.execute(
            f"SELECT vec_id, {SIM.lsh_bucket_duck_sql('embedding', bits)} FROM e"
        ).fetchall()
    )
    want = {
        i: sum(1 << j for j, x in enumerate((v or [])[:bits]) if x and x > 0)
        for i, v in rows
    }
    assert got == want
    assert duck == want


def test_ivf_ann(spark):
    """knn_ivf: the planted neighbor shares the query's nearest-anchor list
    and is retrieved; nprobe widens the scan instead of failing."""
    import numpy as np

    rng = np.random.default_rng(11)
    dim = 16
    vecs = rng.normal(size=(100, dim)).astype("float32")
    vecs[23] = vecs[0] + rng.normal(scale=0.005, size=dim)  # planted neighbor
    pdf = pd.DataFrame({"vec_id": range(100), "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf)
    q = df.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    ann = SIM.knn_ivf(df.filter("vec_id <> 0"), q, topk=3, k=8, dim=dim).collect()
    assert ann[0]["vec_id"] == 23 and ann[0]["cos_sim"] > 0.99
    # every result row comes from the probed list only
    assert len({r["ivf_list"] for r in ann}) == 1
    # nprobe=8 == probe everything: brute-force-equivalent top result
    full = SIM.knn_ivf(df.filter("vec_id <> 0"), q, topk=3, k=8, dim=dim, nprobe=8).collect()
    assert full[0]["vec_id"] == 23


def test_simhash_udf_twin_whitespace_edges(spark):
    """The kernel and its DuckDB twin tokenize alike on whitespace-edge
    texts (the one class and edge trim of functions/text.py): leading
    tab and trailing newline are trimmed, NBSP stays inside its token
    (also at the edges), VT separates tokens, a blank text folds to one
    '' token."""
    import duckdb

    from data_quality_analyzer_spark.plans import entry_queries as EQ

    rows = [
        (1, "\tleading tab text"),
        (2, "trailing newline text\n"),
        (3, "non\xa0breaking space inside"),
        (4, "  padded  with   spaces  "),
        (5, "mixed \t\n whitespace \x0b runs"),
        (6, "\xa0nbsp edged text\xa0"),
        (7, " \t "),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    udf = {
        r["doc_id"]: r["s"]
        for r in df.select("doc_id", DD.simhash_udf()(F.col("text")).alias("s")).collect()
    }
    con = duckdb.connect()
    con.register("base", pd.DataFrame(rows, columns=["doc_id", "text"]))
    duck = dict(
        con.execute(f"WITH {EQ._simhash_oracle_ctes()} SELECT doc_id, fp FROM sh").fetchall()
    )
    assert udf == duck


def test_ivf_assign_null_guard(spark):
    """A null or wrong-dimension embedding yields a null ivf_list instead
    of failing the whole Arrow batch."""
    import numpy as np

    rng = np.random.default_rng(5)
    good = rng.normal(size=16).tolist()
    rows = [(1, good), (2, None), (3, [0.5, 0.5]), (4, good)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = {
        r["vec_id"]: r["ivf_list"]
        for r in SIM.with_ivf_bucket(df, k=8, dim=16).collect()
    }
    assert out[2] is None and out[3] is None
    assert out[1] is not None and out[1] == out[4]


def test_near_duplicates_broadcast_side_is_slim(docs):
    """No BroadcastExchange may carry a shingle-array column: broadcast
    size must be bounded by the candidate-pair count alone (VERDICT r2 —
    candidates×shingles is unbounded on a dup-heavy corpus)."""
    import contextlib
    import io

    df = DD.near_duplicates(docs, "text", "doc_id")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    txt = buf.getvalue()
    # formatted explain: each node is "(n) BroadcastExchange" followed by
    # an "Input [k]: [...]" line listing the columns it ships
    blocks = txt.split("\n\n")
    bx = [b for b in blocks if "BroadcastExchange" in b]
    assert bx, "expected broadcast joins in the verify stage"
    for b in bx:
        assert "_sh" not in b and "sh_a" not in b and "sh_b" not in b, (
            "broadcast side ships shingle arrays:\n" + b
        )


def test_poly_minhash_udf_matches_python_reference(spark):
    """The vectorized polynomial shingle hash (the one MinHash kernel) is
    bit-identical to its pure-python reference, including non-ASCII text
    and len == k, with the signature's affine per-seed mixes."""
    from data_quality_analyzer_spark.functions import hashing as HH

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "ünïcode — naïve café text with €uro signs",
        "short",
        "exact",  # len == k → exactly one window
    ]
    k, num = 5, 8
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    got = {
        r["doc_id"]: list(r["sig"])
        for r in df.select(
            "doc_id", DD.minhash_signature_poly_udf(num, k)(F.col("text")).alias("sig")
        ).collect()
    }
    for i, t in enumerate(texts):
        hs = HH.poly60_python(t, k)
        want = [min(HH.mix_python(h, s) for h in hs) for s in range(num)]
        assert got[i] == want, f"doc {i}"


def test_poly60_np_matches_python_and_duck():
    """numpy fast path == python reference == DuckDB SQL twin."""
    import duckdb
    import numpy as np

    from data_quality_analyzer_spark.functions import hashing as HH

    t = "polynomial hashing over unicode: ünïcode € ok"
    k = 7
    ref = HH.poly60_python(t, k)
    cps = np.fromiter(map(ord, t), dtype=np.int64, count=len(t))
    assert HH.poly60_np(cps, k).tolist() == ref
    q = f"""
    WITH cp AS (SELECT ? AS s),
    c AS (SELECT length(s) AS n,
            list_transform(range(1, length(s)+1), i -> unicode(substr(s, i, 1))) AS cps
          FROM cp)
    SELECT list_transform(range(1, n - {k - 1} + 1), i -> {HH.poly60_duck_sql(k)}) AS hs
    FROM c
    """
    duck = duckdb.connect().execute(q, [t]).fetchone()[0]
    assert list(duck) == ref


def test_connected_components_chain(spark):
    """A~B, B~C, C~D without A~D etc. (a chain) resolves to ONE component
    labeled by the min id; disjoint pairs stay separate components."""
    pairs = spark.createDataFrame(
        [(2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["label"]
        for r in DD.connected_components(pairs).collect()
    }
    assert got == {2: 2, 3: 2, 4: 2, 5: 2, 10: 10, 11: 10}


def test_dedup_near_collapses_transitive_cluster(spark):
    """Planted 3-doc chain A~B~C (A and C NOT direct near-dups) collapses
    to the single canonical doc A; unrelated and null rows pass through."""
    words = [f"w{i:03d}" for i in range(40)]
    a = " ".join(words)
    b = " ".join(words[:34] + [f"x{i}" for i in range(6)])       # ~0.7 vs A
    c = " ".join([f"y{i}" for i in range(6)] + words[6:34] + [f"x{i}" for i in range(6)])
    other = " ".join(f"z{i:03d}" for i in range(40))
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (4, other), (5, None)],
        "doc_id long, text string",
    )
    # verify the planted geometry: A~B and B~C above threshold, A!~C below
    jac = {}
    import itertools

    from data_quality_analyzer_spark.operators.dedup import ngram_jaccard
    pairs_df = spark.createDataFrame(
        [(x, y, tx, ty) for (x, tx), (y, ty) in
         itertools.combinations([(1, a), (2, b), (3, c)], 2)],
        "ia long, ib long, ta string, tb string",
    ).select("ia", "ib", ngram_jaccard("ta", "tb", k=9).alias("j"))
    for r in pairs_df.collect():
        jac[(r["ia"], r["ib"])] = r["j"]
    thr = 0.65
    assert jac[(1, 2)] >= thr and jac[(2, 3)] >= thr and jac[(1, 3)] < thr, jac

    kept = DD.dedup_near(
        df, "text", "doc_id", jaccard_threshold=thr,
        num_hashes=16, bands=8, k=9,
    )
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [1, 4, 5], f"expected canonical A + unrelated + null, got {ids}"


def test_minhash_mix_is_unbiased_jaccard_estimator():
    """Signature agreement must estimate Jaccard (the property LSH recall
    rests on).  Regression for the round-3 finding: the old affine mix
    ((hi·A + lo·B + C) mod 2^61, A,B,C < 2^30) could never wrap the
    modulus, so all seeds were correlated and agreement did NOT track J
    (measured 0.06 on a true-J=0.78 pair).  The Mersenne mix is exact
    (a·h+b) mod 2^61-1 — verified against big-int math here too."""
    import numpy as np

    from data_quality_analyzer_spark.functions import hashing as HH

    rng = np.random.default_rng(99)
    # mix == exact big-int (a·h+b) mod P
    for s in (0, 7, 15):
        a, b = HH.MINHASH_PARAMS[s]
        for h in rng.integers(0, 1 << 60, size=200):
            assert HH.mix_python(int(h), s) == (a * int(h) + b) % HH.MERSENNE_P
    # agreement ≈ jaccard over random set pairs (j = 2/3, 16 seeds)
    errs = []
    for _ in range(120):
        u = rng.integers(0, 1 << 60, size=300).astype(np.int64)
        sa = np.concatenate([u[:200], u[200:250]])
        sb = np.concatenate([u[:200], u[250:300]])
        agree = (
            HH.mix_np(sa, 16).min(axis=1) == HH.mix_np(sb, 16).min(axis=1)
        ).mean()
        errs.append(agree - 2 / 3)
    mean_err = float(np.mean(errs))
    assert abs(mean_err) < 0.04, f"biased estimator: mean err {mean_err}"


def test_ivf_kmeans_training_improves_recall(spark):
    """Lloyd's-trained centroids adapt to clustered data: mean recall@10
    at nprobe=1 (vs brute-force ground truth) must be high and at least
    match the seeded-random anchors, and trained list sizes must track the
    planted clusters (balanced) while random anchors fracture/starve cells
    — the data-adaptive cell shapes are the point of training."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(17)
    dim, n_clusters, per = 16, 6, 120
    centers = rng.normal(scale=3.0, size=(n_clusters, dim))
    vecs = np.concatenate(
        [centers[c] + rng.normal(scale=1.2, size=(per, dim)) for c in range(n_clusters)]
    )
    pdf = pd.DataFrame(
        {"vec_id": range(len(vecs)), "embedding": [v.tolist() for v in vecs]}
    )
    df = spark.createDataFrame(pdf).cache()
    k = n_clusters
    trained = SIM.train_ivf_kmeans(df, k=k, dim=dim, iters=4)

    def mean_recall(anchors):
        recs = []
        for qid in (0, 150, 300, 450, 600):
            q = df.filter(F.col("vec_id") == qid).select(
                F.col("embedding").alias("qvec")
            )
            base = df.filter(F.col("vec_id") != qid)
            truth = {r["vec_id"] for r in SIM.knn_bruteforce(base, q, k=10).collect()}
            got = {
                r["vec_id"]
                for r in SIM.knn_ivf(
                    base, q, topk=10, k=k, dim=dim, nprobe=1, anchors=anchors
                ).collect()
            }
            recs.append(len(got & truth) / len(truth))
        return sum(recs) / len(recs)

    r_rand, r_trained = mean_recall(None), mean_recall(trained)
    assert r_trained >= 0.9, f"trained recall@10 too low: {r_trained}"
    assert r_trained >= r_rand, (r_trained, r_rand)

    # trained cells track the planted clusters: all k populated, balanced;
    # random anchors leave cells empty or badly skewed on the same data
    def sizes(anchors):
        return sorted(
            r["count"]
            for r in SIM.with_ivf_bucket(df, k=k, dim=dim, anchors=anchors)
            .groupBy("ivf_list").count().collect()
        )
    t_sizes, r_sizes = sizes(trained), sizes(None)
    assert len(t_sizes) == k and t_sizes[-1] <= 2 * t_sizes[0], t_sizes
    assert len(r_sizes) < k or r_sizes[-1] > 2 * r_sizes[0], r_sizes
    df.unpersist()


def test_fingerprint_near_duplicates_signed_int64(spark):
    """The generic banded-Hamming core works on raw int64 fingerprints,
    including negative values (top-band sign extension must band
    identically on both join sides)."""
    def s64(x: int) -> int:  # two's-complement int64 view of a uint64
        x &= (1 << 64) - 1
        return x - (1 << 64) if x >= (1 << 63) else x

    base = (1 << 63) | 12345  # sign bit set
    rows = [
        (1, s64(base)),
        (2, s64(base ^ 0b101)),            # hamming 2
        (3, s64(base ^ (1 << 63))),        # sign bit flipped: hamming 1
        (4, 0x0F0F0F0F0F0F0F0F),           # far from everything
    ]
    df = spark.createDataFrame(rows, "id int, fp long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in DD.fingerprint_near_duplicates(
            df, "fp", "id", bands=4, bits=64, max_hamming=3
        ).collect()
    }
    assert got == {(1, 2): 2, (1, 3): 1, (2, 3): 3}


def test_image_near_duplicates_on_fixture_corpus(spark, corpus_path):
    """End-to-end over the planted fixture: the two block-image cohorts
    (ahash Hamming exactly 2 apart) surface as ONE representative pair;
    the 25% hot fingerprint is collapsed by the groupBy, never paired
    quadratically."""
    from data_quality_analyzer_spark.sources.fixtures import (
        _block_image,
        ahash64,
    )

    images = spark.read.parquet(corpus_path)
    pairs = DD.image_near_duplicates(images).collect()
    fp_base, fp_var = ahash64(_block_image(0)), ahash64(_block_image(2))
    # mask to 64 bits: ahash64 values are signed, XOR may be negative
    assert bin((fp_base ^ fp_var) & ((1 << 64) - 1)).count("1") == 2
    assert all(r["hamming"] <= 3 for r in pairs)
    reps = {
        r["image_id"]: (r["phash"], r["n"])
        for r in images.groupBy("phash")
        .agg(F.min("image_id").alias("image_id"), F.count("*").alias("n"))
        .filter(F.col("phash").isin(fp_base, fp_var))
        .collect()
    }
    planted = [
        r
        for r in pairs
        if {reps.get(r["id_a"], (None,))[0], reps.get(r["id_b"], (None,))[0]}
        == {fp_base, fp_var}
    ]
    assert len(planted) == 1
    assert planted[0]["hamming"] == 2
    # group sizes ride along: both cohorts have many byte-identical rows
    assert planted[0]["n_rows_a"] >= 10 and planted[0]["n_rows_b"] >= 10


def test_dedup_image_near_action(spark, corpus_path):
    """The image dedup ACTION on the fixture corpus: the base+variant
    cohorts (two fingerprint groups within Hamming 2) collapse to ONE
    surviving row; the hot exact group collapses to one.  The transitive
    chain and NULL cases are in test_dedup_action_keep_set."""
    from data_quality_analyzer_spark.sources.fixtures import (
        _block_image,
        ahash64,
    )

    images = spark.read.parquet(corpus_path).filter(F.col("bytes").isNotNull())
    kept = DD.dedup_image_near(images)
    fp_base, fp_var = ahash64(_block_image(0)), ahash64(_block_image(2))
    planted_kept = kept.filter(F.col("phash").isin(fp_base, fp_var)).count()
    assert planted_kept == 1
    # the hot fingerprint (the most common phash) keeps exactly one row
    hot_fp = (
        images.groupBy("phash").count().orderBy(F.desc("count")).first()["phash"]
    )
    assert kept.filter(F.col("phash") == hot_fp).count() == 1


def test_dedup_embedding_near_action(spark):
    """The embedding dedup ACTION (similarity.dedup_embedding_near):
    bit-identical copies collapse in the exact-vector aggregate; a
    positively-scaled copy (cosine exactly 1, different bits) clusters via
    the banded-Hamming + cosine path; near-orthogonal rows all survive."""
    import numpy as np

    from data_quality_analyzer_spark.operators import similarity as SIM

    rng = np.random.default_rng(7)
    base = [[float(x) for x in rng.standard_normal(64)] for _ in range(6)]
    rows = [(i, v) for i, v in enumerate(base)]
    rows.append((100, base[0]))                       # exact copy of 0
    rows.append((101, base[0]))                       # another exact copy
    rows.append((102, [x * 1.5 for x in base[1]]))    # scaled copy of 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = SIM.dedup_embedding_near(df, dim=64)
    ids = {r["vec_id"] for r in kept.collect()}
    assert 100 not in ids and 101 not in ids          # exact dups dropped
    assert 102 not in ids                             # scaled near-dup dropped
    assert {0, 1, 2, 3, 4, 5} <= ids                  # originals survive
    # pair surface agrees: scaled copy is Hamming 0 from its original
    pairs = SIM.embedding_near_duplicates(df, dim=64).collect()
    assert any(
        {p["id_a"], p["id_b"]} == {1, 102} and p["cos_sim"] == 1.0
        for p in pairs
    )


def test_ivf_centroid_persistence_roundtrip(spark, tmp_path):
    """Trained centroids survive a save/load roundtrip bit-exactly and the
    loaded quantizer produces the same list assignments."""
    import numpy as np

    from data_quality_analyzer_spark.operators import similarity as SIM

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    trained = SIM.train_ivf_kmeans(df, k=4, dim=8, iters=2)
    path = str(tmp_path / "centroids")
    SIM.save_ivf_centroids(spark, trained, path)
    loaded = SIM.load_ivf_centroids(spark, path)
    assert loaded == trained
    a = SIM.with_ivf_bucket(df, k=4, dim=8, anchors=trained).select("vec_id", "ivf_list")
    b = SIM.with_ivf_bucket(df, k=4, dim=8, anchors=loaded).select("vec_id", "ivf_list")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_ivf_centroid_persistence_guards(spark, tmp_path):
    """Empty anchors / empty tables fail fast with descriptive errors
    instead of a bare max()-of-empty-sequence ValueError."""
    import pytest

    from data_quality_analyzer_spark.operators import similarity as SIM

    with pytest.raises(ValueError, match="empty anchor list"):
        SIM.save_ivf_centroids(spark, [], str(tmp_path / "c0"))
    empty_path = str(tmp_path / "c1")
    spark.createDataFrame(
        [], "list_id int, pos int, value double"
    ).write.parquet(empty_path)
    with pytest.raises(ValueError, match="no centroids at"):
        SIM.load_ivf_centroids(spark, empty_path)


def test_dedup_lines_boilerplate_survives_once(spark):
    """A boilerplate line planted across N docs survives exactly once, at
    its globally-first (doc_id, line_no); unique lines are untouched;
    blank lines pass through; all-boilerplate docs are dropped."""
    from data_quality_analyzer_spark.operators import dedup as DD

    BP = "accept all cookies to continue"
    rows = [
        (1, f"unique alpha line\n{BP}\nunique beta line"),
        (2, f"{BP}\nunique gamma line\n\nunique delta line"),
        (3, BP),                      # 100% boilerplate -> dropped
        (4, "unique epsilon line"),
        (5, None),                    # null passthrough
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in DD.dedup_lines(df).collect()}
    assert out[1] == f"unique alpha line\n{BP}\nunique beta line"
    # doc 2 loses the boilerplate but keeps its blank line
    assert out[2] == "unique gamma line\n\nunique delta line"
    assert 3 not in out
    assert out[4] == "unique epsilon line"
    assert 5 in out and out[5] is None
    # with drop_blank_docs=False the all-boilerplate doc survives empty
    out2 = {
        r["doc_id"]: r["text"]
        for r in DD.dedup_lines(df, drop_blank_docs=False).collect()
    }
    assert out2[3] == ""


def test_dedup_lines_identity_without_duplicates(spark):
    """No shared lines -> byte-identical roundtrip (split+reassemble must
    preserve interior blank lines and ordering)."""
    from data_quality_analyzer_spark.operators import dedup as DD

    rows = [
        (1, "first line\n\nthird line after a blank"),
        (2, "solo line"),
        (3, "x\ny\nz"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in DD.dedup_lines(df).collect()}
    assert out == dict(rows)


def test_simhash_poly_family(spark):
    """The poly token family: engine fingerprints match the pure-python
    token-hash reference fold, and the banded search still finds exact
    twins at Hamming 0."""
    import numpy as np

    from data_quality_analyzer_spark.functions import hashing as HH
    from data_quality_analyzer_spark.operators import dedup as DD

    texts = [
        "the quick brown fox jumps over the dog",
        "pack my box with five dozen liquor jugs",
        "  leading spaces\tand tabs here",
        "xyzzy plugh quux corge grault",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["fp"]
        for r in df.select(
            "doc_id", DD.simhash_udf()(F.col("text")).alias("fp")
        ).collect()
    }

    def ref_fp(t):
        toks = TX.tokens_python(t.lower()) or [""]
        hv = np.array([HH.poly60_token_python(tok) for tok in toks], dtype=np.int64)
        shifts = np.arange(60, dtype=np.int64)
        votes = (2 * ((hv[:, None] >> shifts[None, :]) & 1) - 1).sum(axis=0)
        return int(((votes > 0).astype(np.int64) << shifts).sum())

    for i, t in enumerate(texts):
        assert got[i] == ref_fp(t), t

    twins = df.union(
        df.filter(F.col("doc_id") == 0).select(
            (F.col("doc_id") + 100).alias("doc_id"), "text"
        )
    )
    pairs = DD.simhash_near_duplicates(twins, "text", "doc_id").collect()
    assert any(
        {p["id_a"], p["id_b"]} == {0, 100} and p["hamming"] == 0 for p in pairs
    )


def test_one_hash_family_per_sketch():
    """MinHash and SimHash have one (polynomial) hash family each: no
    package function takes a ``hash_family`` parameter, the dedup module
    never calls the md5 token hash, and the md5 MinHash kernel and the
    HOF SimHash are gone."""
    import ast
    from pathlib import Path

    import data_quality_analyzer_spark as PKG

    root = Path(PKG.__file__).parent
    family_params, md5_calls = [], []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                names = [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]
                if "hash_family" in names:
                    family_params.append((rel, node.name))
            if (
                rel == "operators/dedup.py"
                and isinstance(node, ast.Call)
                and "h60_python"
                in (getattr(node.func, "attr", None), getattr(node.func, "id", None))
            ):
                md5_calls.append(node.lineno)
    assert family_params == [], family_params
    assert md5_calls == [], md5_calls
    assert not hasattr(DD, "minhash_signature_udf")
    assert not hasattr(DD, "simhash")


def test_materialize_seam_reliable_checkpoint(spark, tmp_path):
    """materialize() upgrades localCheckpoint to reliable checkpoint()
    when a checkpoint dir is configured: dedup_near output is identical
    and the checkpoint dir receives RDD blocks (the cluster fault-
    tolerance seam, mirror of test_resume's writer seam)."""
    import os

    from data_quality_analyzer_spark.operators import dedup as DD

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and agaiN"),
        (3, "a completely different document about spark physical plans"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = sorted(
        r["doc_id"] for r in DD.dedup_near(df, "text", "doc_id").collect()
    )
    ckpt = str(tmp_path / "ckpt")
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(ckpt)
    try:
        assert sc.getCheckpointDir() is not None
        with_ckpt = sorted(
            r["doc_id"]
            for r in DD.dedup_near(df, "text", "doc_id").collect()
        )
        assert with_ckpt == base
        # reliable checkpoint actually wrote into the configured dir
        found = []
        for root, _dirs, files in os.walk(ckpt):
            found += files
        assert found, "no checkpoint files written under the checkpoint dir"
    finally:
        sc.setCheckpointDir(None)
        assert sc.getCheckpointDir() is None


def test_connected_components_driver_path_equivalence(spark):
    """The small-graph union-find fast path returns EXACTLY the same
    (node, min-label) relation as the distributed propagation loop, on a
    random graph with chains, isolated pairs and a star."""
    import random

    rng = random.Random(99)
    edges = set()
    # random components of various shapes
    for base in range(0, 500, 50):
        kind = rng.choice(["chain", "star", "pair"])
        ids = [base + i for i in range(rng.randint(2, 12))]
        rng.shuffle(ids)
        if kind == "chain":
            edges |= {(a, b) for a, b in zip(ids, ids[1:])}
        elif kind == "star":
            edges |= {(ids[0], x) for x in ids[1:]}
        else:
            edges.add((ids[0], ids[1]))
    df = spark.createDataFrame(
        [(a, b) for a, b in edges], "id_a long, id_b long"
    )
    from data_quality_analyzer_spark.operators import dedup as DD

    fast = {
        (r["node"], r["label"])
        for r in DD.connected_components(df).collect()
    }
    dist = {
        (r["node"], r["label"])
        for r in DD.connected_components(df, driver_max_edges=0).collect()
    }
    assert fast == dist and fast
    # every label is the component minimum (spot property)
    by_label: dict[int, list[int]] = {}
    for n, l in fast:
        by_label.setdefault(l, []).append(n)
    for l, nodes in by_label.items():
        assert l == min(nodes)
    # empty edge list -> empty labels on both paths
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert DD.connected_components(empty).count() == 0
    assert DD.connected_components(empty, driver_max_edges=0).count() == 0


def test_connected_components_distributed_path_on_q44_graph(spark):
    """Round-4 VERDICT task 6: the union-find fast path now serves every
    bench/test graph, so the distributed min-label loop must be pinned on
    the REAL q44 near-dup pair graph (not just synthetic shapes) or it
    rots.  Forces ``driver_max_edges=0`` on the exact q37/q44 pair
    pipeline and asserts label-identical output.  Timing for both paths
    at bench scale lives in PLANS.md."""
    from data_quality_analyzer_spark.operators import dedup as DD
    from data_quality_analyzer_spark.plans import entry_queries as EQ

    pairs = DD.near_duplicates(
        EQ._q37_input(spark, "/root/testdata/sf0.001"), "text", "doc_id",
        jaccard_threshold=0.8, num_hashes=EQ._NUM_HASHES_37,
        bands=EQ._BANDS_37, k=EQ._K_37,
    ).transform(
        __import__(
            "data_quality_analyzer_spark.exec_utils", fromlist=["materialize"]
        ).materialize
    )
    assert pairs.count() > 0  # the fixture plants near-dup twins
    fast = {
        (r["node"], r["label"])
        for r in DD.connected_components(pairs).collect()
    }
    dist = {
        (r["node"], r["label"])
        for r in DD.connected_components(
            pairs, driver_max_edges=0
        ).collect()
    }
    assert fast == dist and fast


def _keep_set_rows(payload):
    """(id, key) rows for one dedup action: exact copies (1, 2) and a near
    variant (3) of one item, a chain 10~11~12 whose ends are NOT near each
    other, a singleton (20) and two NULL keys (30, 31).  Each action must
    keep {1, 10, 20, 30, 31}."""
    import numpy as np

    if payload == "text":
        words = [f"w{i:03d}" for i in range(40)]
        a = " ".join(f"m{i:03d}" for i in range(40))
        near = " ".join([f"m{i:03d}" for i in range(38)] + ["p0", "p1"])
        # the chain of test_dedup_near_collapses_transitive_cluster, whose
        # geometry (A~B, B~C, A!~C at k=9, threshold 0.65) that test checks
        c0 = " ".join(words)
        c1 = " ".join(words[:34] + [f"x{i}" for i in range(6)])
        c2 = " ".join(
            [f"y{i}" for i in range(6)] + words[6:34] + [f"x{i}" for i in range(6)]
        )
        single = " ".join(f"z{i:03d}" for i in range(40))
        keys = [a, a, near, c0, c1, c2, single]
    elif payload == "image":
        a, c = 0x1234_5678_9ABC_DEF0, 0x0F0F_0F0F_0F0F_0F0F
        # chain: Hamming 2, then 2 more bits; ends are 4 > max_hamming apart
        keys = [a, a, a ^ 1, c, c ^ 0b11, c ^ 0b1111, 0x7654_3210_0123_4567]
    else:
        rng = np.random.default_rng(0)
        v, u, w, s = rng.standard_normal((4, 64))
        u /= np.linalg.norm(u)
        w -= (w @ u) * u
        w /= np.linalg.norm(w)
        t = np.radians(5)  # cos 5° ≥ 0.995 > cos 10°: the chain ends are not near
        chain = [np.cos(k * t) * u + np.sin(k * t) * w for k in range(3)]
        keys = [v, v, 1.5 * v, *chain, s]  # 1.5·v: cosine 1, different bits
        keys = [[float(x) for x in k] for k in keys]
    ids = [1, 2, 3, 10, 11, 12, 20]
    return list(zip(ids, keys)) + [(30, None), (31, None)]


@pytest.mark.parametrize("payload", ["text", "image", "embedding"])
def test_dedup_action_keep_set(spark, payload):
    """Every near-dup dedup action resolves clusters the same way: one
    keeper per cluster (its min id) over exact copies, near variants and a
    transitive chain; singletons kept; NULL-key rows pass through
    untouched (the image action used to delete them)."""
    rows = _keep_set_rows(payload)
    if payload == "text":
        df = spark.createDataFrame(rows, "doc_id long, text string")
        kept = DD.dedup_near(
            df, "text", "doc_id", jaccard_threshold=0.65,
            num_hashes=16, bands=8, k=9,
        )
    elif payload == "image":
        df = spark.createDataFrame(rows, "image_id long, phash long")
        kept = DD.dedup_image_near(df)
    else:
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        kept = SIM.dedup_embedding_near(df)
    assert kept.columns == df.columns
    id_col = df.columns[0]
    assert sorted(r[id_col] for r in kept.collect()) == [1, 10, 20, 30, 31]


def test_image_ledger_passes_null_phash(spark, tmp_path):
    """NULL-phash rows survive both batches of the cross-run image ledger
    untouched, and the ledger commits no NULL fingerprint."""
    from data_quality_analyzer_spark.plans import lineage as LN

    store = str(tmp_path / "img_store")
    schema = "image_id long, phash long"
    a = 0x1234_5678_9ABC_DEF0

    def run(rows, batch):
        b = spark.createDataFrame(rows, schema)
        return sorted(
            r["image_id"]
            for r in LN.dedup_incremental_image(spark, b, store, batch).collect()
        )

    assert run([(1, a), (2, a), (3, None)], "r1") == [1, 3]
    assert run([(4, a ^ 1), (5, None), (6, None)], "r2") == [5, 6]
    fps = LN.read_committed_phashes(spark, store)
    assert fps.filter(F.col("phash").isNull()).count() == 0


def test_ivf_assign_malformed_vectors(spark):
    """Round-5 review: wrong-dimension vectors, vectors with NULL
    elements, and NaN components get a NULL list id (never a failed
    Arrow batch or a silent wrong assignment), and k-means training
    skips them instead of crashing on the driver."""
    from pyspark.sql import functions as F

    from data_quality_analyzer_spark.operators import similarity as SIM

    good = [float(i) for i in range(64)]
    rows = [
        (1, good),
        (2, good[:10]),                      # wrong dimension
        (3, [None] + good[1:]),              # null element
        (4, [float("nan")] + good[1:]),      # NaN component
        (5, None),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["vec_id"]: r["ivf_list"]
        for r in SIM.with_ivf_bucket(df).collect()
    }
    assert got[1] is not None
    assert got[2] is None and got[3] is None and got[4] is None
    assert got[5] is None
    # training over the same rows completes and returns k centroids
    anchors = SIM.train_ivf_kmeans(df, k=4, iters=1)
    assert len(anchors) == 4
    # trained anchors of a NON-default dimension: knn_ivf derives dim
    # from the table instead of nulling every assignment
    v32 = [float(i) for i in range(32)]
    df32 = spark.createDataFrame(
        [(i, [x + i for x in v32]) for i in range(1, 6)],
        "vec_id long, embedding array<float>",
    )
    q32 = spark.createDataFrame([( [x + 2.0 for x in v32],)], "qvec array<float>")
    a32 = [[float(i + j) for j in range(32)] for i in range(4)]
    res = SIM.knn_ivf(df32, q32, topk=3, k=4, anchors=a32, nprobe=4)
    assert res.count() == 3


def test_consolidate_captions_elects_best(spark):
    """Every perceptual cluster keeps its best-scored caption (ties →
    lowest id); NULL-scored captions never beat judged ones; singletons
    pass through."""
    from pyspark.sql import functions as F

    from data_quality_analyzer_spark.operators import dedup as DD

    fa, fb, fc, fd = (
        0x123456789ABCDEF0, 0x0FEDCBA987654321,
        0x55AA55AA55AA55AA, 0x7777000011110F0F,
    )  # pairwise Hamming far above the threshold
    rows = [
        # cluster A: exact-fp dups + a Hamming-1 variant: richest wins
        (1, fa, "short one"),
        (2, fa, "a much richer caption with many descriptive tokens"),
        (3, fa ^ 2, "medium caption here"),
        # cluster B: tie on score -> lowest id wins
        (10, fb, "three word caption"),
        (11, fb, "other word caption"),
        # cluster C: NULL caption loses to any judged caption
        (20, fc, None),
        (21, fc ^ 2, "real caption"),
        # singleton
        (30, fd, "alone"),
    ]
    df = spark.createDataFrame(rows, "id long, fp long, caption string")
    score = F.size(F.split(F.col("caption"), " "))
    out = {
        r["cluster_id"]: r
        for r in DD.consolidate_captions(df, "fp", "id", "caption", score)
        .collect()
    }
    assert set(out) == {1, 10, 20, 30}
    assert out[1]["winner_id"] == 2 and out[1]["n_members"] == 3
    assert out[10]["winner_id"] == 10  # tie -> lowest id
    assert out[20]["winner_id"] == 21
    assert out[20]["winner_caption"] == "real caption"
    assert out[30]["winner_id"] == 30 and out[30]["n_members"] == 1
