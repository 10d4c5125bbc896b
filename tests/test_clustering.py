"""Deterministic k-means: planted separable clusters recovered, invalid
vectors excluded, empty-cluster fallback, determinism across runs."""

from __future__ import annotations

import pytest

from data_quality_analyzer_spark.operators import clustering as CL

DIM = 8


def _vec(center: float, jitter: float) -> list[float]:
    return [center + jitter] + [center] * (DIM - 1)


@pytest.fixture(scope="module")
def vectors(spark):
    rows = []
    # three tight planted clusters far apart
    for i in range(10):
        rows.append((100 + i, _vec(0.0, 0.01 * i)))
        rows.append((200 + i, _vec(10.0, 0.01 * i)))
        rows.append((300 + i, _vec(-10.0, 0.01 * i)))
    rows.append((900, None))                    # null vector
    rows.append((901, [1.0] * (DIM - 1)))       # wrong dim
    rows.append((902, [None] + [1.0] * (DIM - 1)))  # null element
    return spark.createDataFrame(
        rows, f"vec_id long, embedding array<float>"
    )


def test_planted_clusters_recovered(vectors):
    assigned, centroids = CL.kmeans_fit_assign(
        vectors, k=3, iters=3, dim=DIM
    )
    rows = assigned.collect()
    # invalid vectors never assigned
    ids = {r["vec_id"] for r in rows}
    assert ids == {100 + i for i in range(10)} | {
        200 + i for i in range(10)
    } | {300 + i for i in range(10)}
    # each planted group lands in exactly one cluster, groups disjoint
    by_group = {}
    for r in rows:
        by_group.setdefault(r["vec_id"] // 100, set()).add(r["cluster"])
    assert all(len(cs) == 1 for cs in by_group.values())
    assert len(set().union(*by_group.values())) == 3
    # centroids converge to the planted centers (first coord carries
    # the mean jitter 0.045)
    firsts = sorted(round(c[0], 3) for c in centroids)
    assert firsts == [-9.955, 0.045, 10.045]


def test_deterministic_across_runs(vectors):
    a1, c1 = CL.kmeans_fit_assign(vectors, k=3, iters=2, dim=DIM)
    a2, c2 = CL.kmeans_fit_assign(
        vectors.repartition(7), k=3, iters=2, dim=DIM
    )
    assert c1 == c2  # decimal-sum update: bit-equal on any partitioning
    assert sorted(map(tuple, a1.collect())) == sorted(
        map(tuple, a2.collect())
    )


@pytest.mark.parametrize("init", ["farthest", "hash"])
def test_driver_fit_matches_distributed(vectors, init):
    """The round-6 bounded driver fast path for the fit must be
    bit-identical to the distributed job chain: same centroids (exact
    float equality, decimal-sum replication included) and the same
    assignment, for both init modes.  driver_max_rows=0 forces the
    distributed chain (the DRIVER_CC_MAX_EDGES pin idiom)."""
    fast_a, fast_c = CL.kmeans_fit_assign(
        vectors, k=3, iters=2, dim=DIM, init=init
    )
    dist_a, dist_c = CL.kmeans_fit_assign(
        vectors, k=3, iters=2, dim=DIM, init=init, driver_max_rows=0
    )
    assert fast_c == dist_c
    assert sorted(map(tuple, fast_a.collect())) == sorted(
        map(tuple, dist_a.collect())
    )


def test_dec12_scaled_matches_decimal_exact():
    """_dec12_scaled (the vectorized decimal(38,12) cast replica) must
    equal the exact Decimal HALF_UP quantize on adversarial values:
    midpoints, negatives, float32 promotions, tiny magnitudes."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    vals = [
        0.0, -0.0, 1.0, -1.0, 0.1, -0.1, 1 / 3, -1 / 3,
        5e-13, -5e-13, 1.5e-12, -1.5e-12, 2.5e-12,
        0.019056066870689392, -0.1842859387397766,
        float(np.float32(0.123456)), float(np.float32(-9.87654)),
        15.999999999999, -15.999999999999,
        1e-15, -1e-15, 0.0000000000005, -0.0000000000005,
    ]
    xs = np.array(vals, dtype=np.float64)
    got = CL._dec12_scaled(xs)
    q = Decimal("1E-12")
    for v, g in zip(vals, got):
        want = int(Decimal(repr(v)).quantize(q, ROUND_HALF_UP).scaleb(12))
        assert g == want, (v, g, want)


def test_k_exceeds_corpus(vectors, spark):
    with pytest.raises(ValueError, match="only"):
        CL.kmeans_fit_assign(vectors, k=50, iters=1, dim=DIM)
    with pytest.raises(ValueError, match="k >= 1"):
        CL.kmeans_fit_assign(vectors, k=0, iters=1, dim=DIM)


def test_cluster_profile(vectors):
    prof = {
        r["cluster"]: r
        for r in CL.cluster_profile(vectors, k=3, iters=2, dim=DIM).collect()
    }
    assert sum(p["n_vecs"] for p in prof.values()) == 30
    assert sum(p["id_checksum"] for p in prof.values()) == sum(
        g + i for g in (100, 200, 300) for i in range(10)
    )


def test_empty_cluster_keeps_centroid(spark):
    # hash init can seed two near-identical vectors + k=3: a seed that
    # never wins a member must keep its centroid (no NaN, no crash)
    rows = [(i, [0.0] * DIM) for i in range(5)] + [
        (10 + i, [100.0] * DIM) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned, centroids = CL.kmeans_fit_assign(
        df, k=3, iters=2, dim=DIM, init="hash"
    )
    assert len(centroids) == 3
    assert all(all(x == x for x in c) for c in centroids)  # no NaN
    assert assigned.count() == 10


def test_farthest_refuses_degenerate_k(spark):
    # farthest-point init cannot place 3 seeds on 2 distinct positions
    rows = [(i, [0.0] * DIM) for i in range(5)] + [
        (10 + i, [100.0] * DIM) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="distinct"):
        CL.kmeans_fit_assign(df, k=3, iters=1, dim=DIM)


def test_semantic_dedup(spark):
    eps = 1e-4
    rows = [
        (1, [1.0] + [0.0] * (DIM - 1)),
        (2, [1.0 + eps] + [eps] * (DIM - 1)),   # near-dup of 1 -> dropped
        (3, [2.0] + [0.0] * (DIM - 1)),         # same DIRECTION as 1 ->
                                                # cosine ~1 -> dropped too
        (4, [0.0] * (DIM - 1) + [5.0]),         # orthogonal -> kept
        (5, [-3.0] + [0.0] * (DIM - 1)),        # opposite -> kept
        (6, None),                              # invalid -> passes through
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = CL.semantic_dedup(
        df, k=2, iters=2, cos_threshold=0.99, dim=DIM
    )
    assert {r["vec_id"] for r in kept.select("vec_id").collect()} == {
        1, 4, 5, 6,
    }
    # original schema preserved
    assert kept.columns == df.columns


def _duck_emb(df):
    """DuckDB connection with ``df``'s rows registered as the view
    ``emb`` — read back from Spark, so both engines see the same
    float32-rounded values."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.register(
        "emb",
        pd.DataFrame(
            [(r["vec_id"], list(r["embedding"])) for r in df.collect()],
            columns=["vec_id", "embedding"],
        ),
    )
    return con


def test_arrow_and_hof_paths_bit_identical(spark):
    """The numpy kernels accumulate dim-sequentially, so the engine must
    reproduce the DuckDB unrolled k-means chain (left-to-right
    ``list_sum`` folds, decimal(38,12) centroid sums) BIT-exactly —
    centroids, assignments and SemDeDup keeps all equal, on both the
    driver fast path and the distributed fit."""
    import numpy as np

    from data_quality_analyzer_spark.plans import entry_queries as EQ

    rng = np.random.default_rng(7)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=DIM).astype("float32")])
        for i in range(80)
    ]
    # a couple of planted near-pairs so semantic_dedup drops something
    rows.append((900, [x * 1.0001 for x in rows[3][1]]))
    rows.append((901, [x for x in rows[10][1]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    con = _duck_emb(df)
    cte = EQ._kmeans_oracle_cte(k=4, iters=2, dim=DIM, src="emb")
    want_a = sorted(
        con.sql(cte + " SELECT vec_id, CAST(cluster AS INT) FROM af")
        .fetchall()
    )
    want_c = [
        list(e)
        for _, e in sorted(con.sql(cte + " SELECT cluster, e FROM c2").fetchall())
    ]
    for driver_max_rows in (None, 0):
        a, c = CL.kmeans_fit_assign(
            df, k=4, iters=2, dim=DIM, driver_max_rows=driver_max_rows
        )
        assert c == want_c  # bit-equal centroids
        assert sorted(map(tuple, a.collect())) == want_a
    kept = CL.semantic_dedup(df, k=4, iters=2, cos_threshold=0.99, dim=DIM)
    ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
    want_ids = {
        r[0]
        for r in con.sql(
            EQ._semdedup_oracle_sql(4, 2, DIM, "emb", 0.99)
        ).fetchall()
    }
    assert ids == want_ids
    assert 900 not in ids and 901 not in ids  # drops happened


def test_semantic_dedup_chunked_blocks_match_hof(spark):
    """Round-6 optimization: the Arrow pair scan splits each cluster into
    C id-hash chunks and scans chunk-pair blocks as independent groups.
    With k=1 every pair crosses the chunking (C is maximal), so this
    pins the off-diagonal drop-the-larger-id rule and the diagonal
    triangle against the unchunked DuckDB in-cluster self-join."""
    import numpy as np

    from data_quality_analyzer_spark.plans import entry_queries as EQ

    rng = np.random.default_rng(13)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=DIM).astype("float32")])
        for i in range(60)
    ]
    # planted near-pairs spread across the id space so blocks of every
    # (chunk_a, chunk_b) combination carry real drops
    for j, src in enumerate((0, 7, 21, 33, 44, 59)):
        rows.append((800 + j, [x * 1.0001 for x in rows[src][1]]))
        rows.append((900 + j, list(rows[src][1])))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = CL.semantic_dedup(df, k=1, iters=1, cos_threshold=0.99, dim=DIM)
    ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
    con = _duck_emb(df)
    want = {
        r[0]
        for r in con.sql(
            EQ._semdedup_oracle_sql(1, 1, DIM, "emb", 0.99)
        ).fetchall()
    }
    assert ids == want
    # every planted twin lost to its (lower-id) source
    assert ids.isdisjoint(set(range(800, 806)) | set(range(900, 906)))


def test_driver_fit_refuses_int64_overflow(spark):
    """A caller may raise ``driver_max_rows`` past the default cap.  The
    driver fit's exact decimal(38,12) sums are int64, so 599,995 values
    of 15.9 in one cluster (Σ·1e12 ≈ 9.5e18 > 2^63) must not take the
    driver path: the result must equal the distributed fit."""
    from pyspark.sql import functions as F

    n = 600_000
    df = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            F.when(F.col("id") < 5, F.lit(-15.9)).otherwise(F.lit(15.9))
        ).alias("embedding"),
    )
    fast_a, fast_c = CL.kmeans_fit_assign(
        df, k=2, iters=1, dim=1, driver_max_rows=2 * n
    )
    dist_a, dist_c = CL.kmeans_fit_assign(
        df, k=2, iters=1, dim=1, driver_max_rows=0
    )
    assert fast_c == dist_c
    assert sorted(round(c[0], 9) for c in fast_c) == [-15.9, 15.9]
    joined = fast_a.alias("f").join(dist_a.alias("d"), "vec_id")
    assert joined.count() == n
    assert joined.filter(F.col("f.cluster") != F.col("d.cluster")).count() == 0


def test_prep_embedding_corpus(spark):
    """The composed embedding pipeline: invalid vectors dropped and
    counted, planted near-dups removed by either method, cluster quota
    applied deterministically."""
    from data_quality_analyzer_spark.plans.prep import prep_embedding_corpus

    import numpy as np

    rng = np.random.default_rng(11)
    # distinct random DIRECTIONS (colinear vectors would all be cosine-1
    # duplicates of each other — correct SemDeDup behavior, wrong test)
    rows = [
        (i, [float(x) for x in rng.normal(size=DIM).astype("float32")])
        for i in range(20)
    ]
    rows += [(100 + i, [100.0 + 0.00001 * i] + [0.0] * (DIM - 1))
             for i in range(5)]               # 5 colinear -> 1 kept
    rows += [(900, None), (901, [1.0] * (DIM - 1))]  # invalid -> dropped
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    funnel: list = []
    out = prep_embedding_corpus(
        spark, df, dim=DIM, method="semantic", k=2, iters=1,
        cos_threshold=0.9999, funnel=funnel,
    )
    kept = {r["vec_id"] for r in out.select("vec_id").collect()}
    assert 100 in kept and not ({101, 102, 103, 104} & kept)
    assert 900 not in kept and 901 not in kept
    by = {e["stage"]: e for e in funnel}
    assert by["valid"]["dropped"] == 2
    assert by["near_dedup"]["dropped"] == 4

    # LSH method agrees on the planted cohort
    out2 = prep_embedding_corpus(
        spark, df, dim=DIM, method="lsh", lsh_min_cos=0.9999,
    )
    kept2 = {r["vec_id"] for r in out2.select("vec_id").collect()}
    assert not ({101, 102, 103, 104} & kept2) and 100 in kept2

    # cluster quota: keep all of one cluster, none of the other
    funnel2: list = []
    out3 = prep_embedding_corpus(
        spark, df, dim=DIM, method="semantic", k=2, iters=1,
        cos_threshold=0.9999,
        cluster_quota={0: 1.0, 1: 0.0}, funnel=funnel2,
    )
    rows3 = out3.collect()
    assert "cluster" in out3.columns
    assert {r["cluster"] for r in rows3} == {"0"}
    assert {e["stage"] for e in funnel2} >= {"cluster_quota"}

    import pytest as _pt

    with _pt.raises(ValueError, match="method"):
        prep_embedding_corpus(spark, df, dim=DIM, method="ann")
