"""Similarity search over embedding columns (array<float>).

* :func:`cosine_expr` — the one Spark cosine fold (JVM higher-order
  functions, zero Python) every kNN operator scores with.
* :func:`knn_bruteforce` — exact cosine top-k: broadcast the query vector,
  TakeOrderedAndProject for the k.  O(N) scan — the correctness baseline
  (q29).
* :func:`with_lsh_bucket` / :func:`knn_lsh` — sign-hyperplane LSH bucket as
  a *partition-prunable column*: at 10^12 rows the table is written
  partitioned by bucket and a query touches ~1/2^bits of the data (q30).
* :func:`with_rp_bucket` / :func:`knn_rp` — the same bucket over seeded
  random projections, valid for trained embeddings (q39).
* :func:`with_ivf_bucket` / :func:`knn_ivf` — IVF coarse-quantizer lists,
  untrained anchors or :func:`train_ivf_kmeans` centroids (q41).
* :func:`pairwise_topk_within_buckets` — near-dup pair search restricted to
  LSH buckets: the self-join is on the bucket key, never all-pairs.

DuckDB twins for the oracles: :func:`lsh_bucket_duck_sql`,
:func:`rp_bucket_duck_sql` and :func:`ivf_dists_duck_sql`.  Both engines'
bucket ids come from one renderer, ``_sign_bucket_sql``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from . import dedup as DD

RP_SEED = 20260816

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)


def cosine_expr(a: str, b: str, decimals: int = 6):
    dot = _DOT.format(a=a, b=b)
    na = _DOT.format(a=a, b=a)
    nb = _DOT.format(a=b, b=b)
    return F.expr(f"round({dot} / sqrt({na}) / sqrt({nb}), {decimals})")


def knn_bruteforce(
    df: DataFrame, query: DataFrame, k: int = 10, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """query: single-row DataFrame with column `qvec` (the query vector)."""
    return (
        df.crossJoin(F.broadcast(query))
        .select(id_col, cosine_expr(vec_col, "qvec").alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def _sign_bucket_sql(projections: list[str]) -> str:
    """Bucket id Σ 2^i over the projections i that are > 0 — the one
    rendering of the sign-LSH bucket for both engines and both families."""
    terms = [
        f"(CASE WHEN {p} > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(projections)
    ]
    return "(" + " + ".join(terms) + ")"


def lsh_bucket_expr(vec_col: str, bits: int = 8):
    """Sign of the first `bits` components → integer bucket id.
    (First-components signs are a valid random-hyperplane family when the
    embedding basis is itself unstructured; swap in a broadcast random
    projection matrix for trained embeddings.)"""
    return F.expr(_sign_bucket_sql(
        [f"CAST(element_at({vec_col}, {i + 1}) AS DOUBLE)" for i in range(bits)]
    ))


def with_lsh_bucket(df: DataFrame, vec_col: str = "embedding", bits: int = 8) -> DataFrame:
    return df.withColumn("bucket", lsh_bucket_expr(vec_col, bits))


# ---------------------------------------------------------------------------
# Random-hyperplane projection — the trained-embeddings-safe LSH family.
# ---------------------------------------------------------------------------

def rp_matrix(bits: int, dim: int, seed: int = RP_SEED) -> list[list[float]]:
    """Deterministic random-hyperplane matrix (bits × dim), rounded to 4 dp
    so the very same literals appear in the Spark plan and the DuckDB
    oracle.  At cluster scale the matrix is a plan literal — a few KB folded
    into codegen; nothing is shipped per row."""
    rng = np.random.default_rng(seed)
    m = rng.standard_normal((bits, dim))
    return [[round(float(x), 4) for x in row] for row in m]


def _rp_dot_spark(vec_col: str, row: list[float]) -> str:
    lits = ", ".join(f"CAST({x} AS DOUBLE)" for x in row)
    return (
        f"aggregate(zip_with({vec_col}, array({lits}), "
        "(x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def rp_bucket_spark_sql(vec_col: str, bits: int = 8, dim: int = 64) -> str:
    """Spark-SQL expression: sign of each random projection → bucket id."""
    return _sign_bucket_sql(
        [_rp_dot_spark(vec_col, row) for row in rp_matrix(bits, dim)]
    )


def _rp_dot_duck(vec_col: str, row: list[float]) -> str:
    lits = ", ".join(f"CAST({x} AS DOUBLE)" for x in row)
    return (
        f"list_sum(list_transform({vec_col}, (x, i) -> "
        f"CAST(x AS DOUBLE) * ([{lits}])[i]))"
    )


def rp_bucket_duck_sql(vec_col: str, bits: int = 8, dim: int = 64) -> str:
    """DuckDB twin of :func:`rp_bucket_spark_sql` — same literals."""
    return _sign_bucket_sql(
        [_rp_dot_duck(vec_col, row) for row in rp_matrix(bits, dim)]
    )


def lsh_bucket_duck_sql(vec_col: str, bits: int = 8) -> str:
    """DuckDB twin of :func:`lsh_bucket_expr` (1-indexed lists)."""
    return _sign_bucket_sql(
        [f"CAST({vec_col}[{i + 1}] AS DOUBLE)" for i in range(bits)]
    )


def with_rp_bucket(
    df: DataFrame, vec_col: str = "embedding", bits: int = 8, dim: int = 64
) -> DataFrame:
    """Random-projection LSH bucket column (partition-prunable key for
    trained embeddings, where sign-of-first-components is NOT a valid
    hyperplane family — see lsh_bucket_expr caveat)."""
    return df.withColumn("bucket", F.expr(rp_bucket_spark_sql(vec_col, bits, dim)))


def knn_rp(
    df: DataFrame, query: DataFrame, k: int = 10, id_col: str = "vec_id",
    vec_col: str = "embedding", bits: int = 8, dim: int = 64,
) -> DataFrame:
    """ANN via random-projection bucket: restrict the scan to the query's
    bucket, then exact cosine (same shape as knn_lsh, valid family)."""
    q = query.withColumn("qbucket", F.expr(rp_bucket_spark_sql("qvec", bits, dim)))
    return (
        with_rp_bucket(df, vec_col, bits, dim)
        .join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
        .select(id_col, "bucket", cosine_expr(vec_col, "qvec").alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def knn_lsh(
    df: DataFrame, query: DataFrame, k: int = 10, id_col: str = "vec_id",
    vec_col: str = "embedding", bits: int = 8,
) -> DataFrame:
    """ANN: restrict the scan to the query's LSH bucket, then exact cosine.
    With the table partitioned by `bucket`, Catalyst prunes partitions."""
    q = query.withColumn("qbucket", lsh_bucket_expr("qvec", bits))
    return (
        with_lsh_bucket(df, vec_col, bits)
        .join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
        .select(id_col, "bucket", cosine_expr(vec_col, "qvec").alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse-quantizer buckets, the FAISS-style family.
# ---------------------------------------------------------------------------

def ivf_anchors(k: int, dim: int, seed: int = RP_SEED) -> list[list[float]]:
    """Deterministic coarse-quantizer anchors (k × dim), rounded to 4 dp so
    both engines embed identical literals.  These seeded-random anchors are
    the UNTRAINED default (and the k-means INITIALIZATION —
    :func:`train_ivf_kmeans` runs distributed Lloyd's from here); the
    oracle queries keep them because they are reproducible plan literals
    on both engines, while data-adaptive deployments pass trained
    centroids through the ``anchors`` parameter everywhere."""
    rng = np.random.default_rng(seed + 1)
    m = rng.standard_normal((k, dim))
    return [[round(float(x), 4) for x in row] for row in m]


def _sq_dist_spark(vec_col: str, row: list[float]) -> str:
    lits = ", ".join(f"CAST({x} AS DOUBLE)" for x in row)
    return (
        f"aggregate(zip_with({vec_col}, array({lits}), "
        "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def ivf_dists_spark_sql(
    vec_col: str, k: int = 16, dim: int = 64,
    anchors: list[list[float]] | None = None,
) -> str:
    """array<double> of squared distances to every anchor."""
    m = anchors if anchors is not None else ivf_anchors(k, dim)
    k = len(m)
    return "array(" + ", ".join(_sq_dist_spark(vec_col, m[i]) for i in range(k)) + ")"


def _sq_dist_duck(vec_col: str, row: list[float]) -> str:
    lits = ", ".join(f"CAST({x} AS DOUBLE)" for x in row)
    return (
        f"list_sum(list_transform({vec_col}, (x, i) -> "
        f"(CAST(x AS DOUBLE) - ([{lits}])[i]) * (CAST(x AS DOUBLE) - ([{lits}])[i])))"
    )


def ivf_dists_duck_sql(vec_col: str, k: int = 16, dim: int = 64) -> str:
    m = ivf_anchors(k, dim)
    return "[" + ", ".join(_sq_dist_duck(vec_col, m[i]) for i in range(k)) + "]"


def ivf_assign_udf(
    k: int = 16, dim: int = 64, anchors: list[list[float]] | None = None
):
    """Arrow-batched numpy assignment: argmin_i ||x - anchor_i||² via the
    ||x||² - 2x·Aᵀ + ||A||² expansion — one matmul per batch (the FAISS
    coarse-quantizer hot loop).  The HOF form (ivf_dists_spark_sql) is the
    oracle-portable reference; anchor gaps are O(0.1) so the ulp-level
    summation-order differences can never flip the argmin.

    ``anchors`` overrides the seeded-random table with trained k-means
    centroids (:func:`train_ivf_kmeans`) — the literals ship once in the
    serialized UDF, nothing per row."""
    anchors = np.array(
        anchors if anchors is not None else ivf_anchors(k, dim),
        dtype=np.float64,
    )  # k×dim
    # BOTH shape params come from the trained table when one is passed —
    # an anchors/dim mismatch would otherwise null every assignment and
    # silently return empty probe results
    k, dim = anchors.shape
    a_sq = (anchors**2).sum(axis=1)  # ||A||²

    def _clean(v):
        # null/shape/element guard: null embeddings, wrong-dimension
        # vectors, vectors containing null elements (TypeError in
        # asarray) and NaN components (argmin would silently return
        # list 1) all yield a null list id, never a failed Arrow batch
        if v is None or len(v) != dim or any(x is None for x in v):
            return None
        arr = np.asarray(v, dtype=np.float64)
        return None if np.isnan(arr).any() else arr

    @F.pandas_udf("int")
    def _assign(s: pd.Series) -> pd.Series:
        vals = [_clean(v) for v in s]
        out = pd.array([None] * len(vals), dtype="Int32")
        idx = [i for i, v in enumerate(vals) if v is not None]
        if idx:
            x = np.stack([vals[i] for i in idx])
            d = (x**2).sum(axis=1)[:, None] - 2.0 * (x @ anchors.T) + a_sq[None, :]
            lists = (d.argmin(axis=1) + 1).astype("int32")
            for j, i in enumerate(idx):
                out[i] = int(lists[j])
        return pd.Series(out, dtype="Int32")

    return _assign


def with_ivf_bucket(
    df: DataFrame, vec_col: str = "embedding", k: int = 16, dim: int = 64,
    anchors: list[list[float]] | None = None,
) -> DataFrame:
    """IVF list id = argmin distance to the anchor table (1-based).  At
    100 TB the table is written partitioned by this column; a query probes
    nprobe lists and prunes the rest at the source."""
    return df.withColumn(
        "ivf_list", ivf_assign_udf(k, dim, anchors)(F.col(vec_col))
    )


def train_ivf_kmeans(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    dim: int = 64,
    iters: int = 5,
    sample_fraction: float | None = None,
    seed: int = RP_SEED,
) -> list[list[float]]:
    """Distributed Lloyd's k-means for the IVF coarse quantizer — the
    data-adaptive cell shapes are the whole point of IVF over LSH (FAISS
    trains its quantizer the same way; seeded-random anchors skew list
    sizes badly on clustered real embeddings).

    Each iteration is ONE distributed pass: assign every (sampled) vector
    to its nearest current centroid (the same one-matmul-per-batch Arrow
    UDF the query path uses), `posexplode` the vectors and average per
    (list, component) — a map-side-combinable aggregate — then collect the
    k×dim centroid table (a few KB) to the driver for the next round.
    Empty cells keep their previous centroid.  The result is rounded to
    4 dp and used as PLAN LITERALS, exactly like the seeded anchor table
    (nothing is shipped per row; the oracle convention is unchanged).

    ``sample_fraction`` trains on a Bernoulli sample — at 10^12 rows a
    ~10^-6 sample is the standard quantizer-training regime."""
    data = df.filter(F.col(vec_col).isNotNull()).select(vec_col)
    if sample_fraction is not None:
        data = data.sample(fraction=sample_fraction, seed=seed)
    data = data.cache()
    try:
        anchors = ivf_anchors(k, dim, seed=seed)
        for _ in range(iters):
            assigned = data.withColumn(
                "_list", ivf_assign_udf(k, dim, anchors)(F.col(vec_col))
            )
            rows = (
                assigned.select("_list", F.posexplode(vec_col))
                .groupBy("_list", "pos")
                .agg(F.avg("col").alias("mean"))
                .collect()
            )
            new = [list(a) for a in anchors]  # empty cells keep their anchor
            for r in rows:
                if r["_list"] is None:
                    # wrong-dimension / null-element vectors assign to no
                    # list; skip their exploded rows instead of crashing
                    continue
                new[r["_list"] - 1][r["pos"]] = round(float(r["mean"]), 4)
            anchors = new
        return anchors
    finally:
        data.unpersist()


def knn_ivf(
    df: DataFrame, query: DataFrame, topk: int = 10, id_col: str = "vec_id",
    vec_col: str = "embedding", k: int = 16, dim: int = 64, nprobe: int = 1,
    anchors: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN: probe the query's `nprobe` nearest lists, exact cosine
    inside them.  nprobe trades recall for scanned fraction (~nprobe/k).
    Pass trained centroids via ``anchors`` (train_ivf_kmeans)."""
    if anchors is not None:
        k = len(anchors)
        dim = len(anchors[0])  # keep BOTH params consistent with the table
    q = query.withColumn(
        "_qds", F.expr(ivf_dists_spark_sql("qvec", k, dim, anchors))
    ).withColumn(
        "_probes",
        F.expr(
            "transform(slice(array_sort(zip_with(_qds, "
            f"sequence(1, {k}), (d, i) -> struct(d, i))), 1, {nprobe}), s -> s.i)"
        ),
    ).drop("_qds")
    return (
        with_ivf_bucket(df, vec_col, k, dim, anchors)
        .join(F.broadcast(q), F.expr("array_contains(_probes, ivf_list)"))
        .select(id_col, "ivf_list", cosine_expr(vec_col, "qvec").alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(topk)
    )


def pairwise_topk_within_buckets(
    df: DataFrame, k: int = 20, id_col: str = "vec_id",
    vec_col: str = "embedding", bits: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Top-k most-similar pairs, candidates restricted to same LSH bucket
    (embedding-cosine near-dup detection; the self-join key is the bucket).

    NULL embeddings are excluded up front — the sign-LSH CASE would map
    every one of them to bucket 0 and the self-join would pay quadratic
    pairs with NULL cosines.  The self-join is ``dedup._band_pairs``, so
    ``max_bucket_size`` is the same loud hot-bucket exclusion the
    banded-Hamming paths use, for when a hot identical vector degenerates
    a bucket (``None`` or ``0`` is off)."""
    rows = with_lsh_bucket(
        df.filter(F.col(vec_col).isNotNull()), vec_col, bits
    ).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        "bucket",
        # per-ROW norm (N evaluations, not N² — guide §2.3/§4: hoist the
        # two self-dot HOF folds out of the pair projection; the division
        # sequence round(dot / sqrt(na) / sqrt(nb), 6) is unchanged, so
        # every pair's cosine is bit-identical to the three-fold form)
        F.expr(f"sqrt({_DOT.format(a='_v', b='_v')})").alias("_nrm"),
    )
    dot = _DOT.format(a="a._v", b="b._v")
    pairs = DD._band_pairs(
        rows, ["bucket"], max_bucket_size, "pairwise_topk_within_buckets"
    ).select(
        F.col("a._id").alias("id_a"),
        F.col("b._id").alias("id_b"),
        F.expr(f"round({dot} / a._nrm / b._nrm, 6)").alias("cos_sim"),
    )
    return pairs.orderBy(F.desc("cos_sim"), F.asc("id_a"), F.asc("id_b")).limit(k)


# ---------------------------------------------------------------------------
# Embedding near-dup dedup — the keep-one ACTION for the embedding payload
# (completes the family symmetry: text = dedup.dedup_near, image =
# dedup.dedup_image_near, embeddings = this).
# ---------------------------------------------------------------------------

def embedding_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 16,
    dim: int = 64,
    bands: int = 4,
    max_hamming: int = 2,
    min_cos: float = 0.995,
) -> DataFrame:
    """Near-duplicate embedding pairs: RP sign fingerprint (`bits`
    hyperplanes — a plan literal, valid for trained embeddings) →
    banded-Hamming candidate equi-join (full recall for Hamming < bands by
    pigeonhole) → exact-cosine verify on the candidates only.  Shuffle
    volume is rows × bands, never rows².  Pass exact-duplicate-collapsed
    rows (:func:`dedup_embedding_near` does) or a hot identical vector
    degenerates to quadratic pairs, exactly like the image phash path.
    Returns (id_a, id_b, hamming, cos_sim)."""
    fp = df.select(id_col, vec_col).withColumn(
        "_efp", F.expr(rp_bucket_spark_sql(vec_col, bits, dim))
    )
    pairs = DD.fingerprint_near_duplicates(
        fp, "_efp", id_col, bands=bands, bits=bits, max_hamming=max_hamming
    )
    # per-ROW norms (the q47 hoist): candidate volume can be large when
    # the fingerprint is coarse, and the naive cosine_expr pays three
    # interpreted HOF folds per PAIR; with sqrt(Σv²) precomputed per side
    # each pair costs one dot fold, and round(dot / na / nb, 6) keeps the
    # exact division sequence — bit-identical cos_sim.
    nrm = "sqrt({n})"
    va = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        F.expr(nrm.format(n=_DOT.format(a=vec_col, b=vec_col))).alias("_na"),
    )
    vb = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        F.expr(nrm.format(n=_DOT.format(a=vec_col, b=vec_col))).alias("_nb"),
    )
    dot = _DOT.format(a="_va", b="_vb")
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos_sim", F.expr(f"round({dot} / _na / _nb, 6)"))
        .filter(F.col("cos_sim") >= min_cos)
        .select("id_a", "id_b", "hamming", "cos_sim")
    )


def dedup_embedding_near(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 16,
    dim: int = 64,
    bands: int = 4,
    max_hamming: int = 2,
    min_cos: float = 0.995,
) -> DataFrame:
    """Embedding near-dup dedup ACTION: keep exactly one row per cluster.

    Bit-identical vectors collapse to their min-id representative first
    (ONE hash aggregate — a hot duplicated vector costs one group, never
    quadratic pairs), then representatives whose fingerprints are within
    ``max_hamming`` AND whose exact cosine ≥ ``min_cos`` cluster
    transitively (connected components over the verified pair graph) and
    only the canonical (min-id) representative of each cluster survives.
    Rows with NULL embeddings pass through UNTOUCHED (they cannot be
    near anything; the final equi-join's NULL-never-matches semantics
    would otherwise silently delete them).  Mirrors the reference's
    duplicate-resolution intent (claim_analysis.py:225-247) on the
    embedding payload."""
    return DD._keep_canonical(
        df, id_col,
        lambda reps: embedding_near_duplicates(
            reps.select(F.col("_rep").alias(id_col), F.col("_key").alias(vec_col)),
            id_col=id_col,
            vec_col=vec_col,
            bits=bits,
            dim=dim,
            bands=bands,
            max_hamming=max_hamming,
            min_cos=min_cos,
        ),
        key_col=vec_col,
    )


# ---------------------------------------------------------------------------
# Trained-quantizer persistence: centroids are a tiny versioned table.
# ---------------------------------------------------------------------------

def save_ivf_centroids(
    spark, anchors: list[list[float]], path: str
) -> None:
    """Persist a trained coarse quantizer as a (list_id, pos, value)
    parquet table (a few KB — the FAISS `.index` analogue for the plan-
    literal convention: jobs LOAD the table once on the driver and fold
    the centroids into the plan, nothing is shipped per row or re-trained
    per job).  Overwrite = atomic-enough for a driver-side artifact this
    small; at cluster scale the table lives next to the embedding table
    and is versioned by directory name (e.g. centroids/v=3)."""
    if not anchors or not anchors[0]:
        raise ValueError(
            "save_ivf_centroids: empty anchor list — refusing to write an "
            f"empty centroid table to {path!r}"
        )
    rows = [
        (li + 1, pos, float(v))
        for li, vec in enumerate(anchors)
        for pos, v in enumerate(vec)
    ]
    df = spark.createDataFrame(rows, "list_id int, pos int, value double")
    df.coalesce(1).write.mode("overwrite").parquet(path)


def load_ivf_centroids(spark, path: str) -> list[list[float]]:
    """Inverse of :func:`save_ivf_centroids` — returns the k×dim anchor
    table ready to pass to knn_ivf / with_ivf_bucket / ivf_dists_*_sql."""
    rows = spark.read.parquet(path).collect()
    if not rows:
        raise ValueError(f"load_ivf_centroids: no centroids at {path!r}")
    k = max(r["list_id"] for r in rows)
    dim = max(r["pos"] for r in rows) + 1
    anchors = [[0.0] * dim for _ in range(k)]
    for r in rows:
        anchors[r["list_id"] - 1][r["pos"]] = r["value"]
    return anchors
