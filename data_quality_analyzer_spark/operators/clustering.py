"""Deterministic Lloyd's k-means over an embedding column — corpus
clustering for diversity analysis and cluster-balanced sampling
(SemDeDup / DataComp-style: cluster the corpus, then dedup or quota
WITHIN clusters).

Design for the 1000-executor case, mirroring what Spark MLlib's KMeans
does under the hood but kept oracle-twinnable:

* **Assignment is MAP-ONLY**: the k×dim centroid matrix rides into an
  Arrow-batched pandas UDF (k·dim ≤ a few thousand doubles), which
  computes squared L2 distances with an ORDER-EXACT numpy kernel and
  takes the first minimal cluster.  Zero shuffle.
* **Update is ONE hash aggregate per iteration**: ``posexplode`` the
  vector, ``groupBy(cluster, pos)`` with map-side partial aggregation
  (k·dim grouping keys — tiny), and the k·dim (sum, count) rows come
  back to the driver to form the next centroids.  This
  driver-synchronization point is inherent to Lloyd's algorithm (MLlib
  ``collectAsMap``s the same reduction); the collected relation is
  k·dim rows regardless of corpus size.
* **Driver fast path for the fit**: below
  :data:`KMEANS_DRIVER_MAX_ROWS` valid vectors the whole init + Lloyd
  chain runs on one driver-side collect with the same kernels and the
  same exact decimal sums (see the note above :func:`_fit_driver`);
  above it the distributed job chain runs.
* **Cross-engine float discipline** (the repo rule): element sums are
  accumulated as ``DECIMAL(38,12)`` — exact, ORDER-INDEPENDENT decimal
  addition — so Spark's unordered partial aggs and DuckDB's sequential
  sum produce the same centroid to the last bit; only then one
  double division per element.  The numpy kernels accumulate distances
  and dot products dimension by dimension, the same left-to-right order
  as DuckDB's ``list_sum`` (the q29 cosine oracle precedent), so argmin
  ties and cosine thresholds cannot diverge; ties on equal distance
  break by cluster index in both engines.
* **Deterministic, portable init** (no RNG): ``init="farthest"``
  (default) is farthest-point traversal — seed 0 is the row with the
  smallest ``(vec_id * 2654435761) % 2147483647`` (Knuth multiplicative
  hash — plain bigint arithmetic both engines can run), each next seed
  maximizes its distance to the chosen set (ties → smallest vec_id).
  That is the deterministic sibling of k-means++ (Gonzalez 1985
  farthest-first traversal): well-separated groups each receive exactly
  one seed, which plain hash sampling cannot promise.  Costs k-1 extra
  map-only top-1 passes (k-means|| is the big-k upgrade).
  ``init="hash"`` skips those passes and seeds with the k smallest
  hashes.  Either way: same seed set on any cluster size, any retry —
  the reproducibility contract of the mixing/sampling stages
  (operators/sampling.py) applied to init.

NULL / ragged vectors are excluded up front (same guard as the
embedding dedup path, operators/similarity.py).

Reference ancestor: the grouped-aggregation shapes of A6
(base_standalone.py) — k-means' update step IS a grouped mean; the
reference has no iterative operator, this is part of the beyond-SURVEY
LLM-pipeline surface.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

KNUTH = 2654435761
MOD31 = 2147483647


# ---------------------------------------------------------------------------
# Order-exact numpy kernels
#
# Higher-order-function folds are CodegenFallback-INTERPRETED in Spark —
# measured ~100× slower than these kernels.  The kernels vectorize over
# rows but accumulate DIM-SEQUENTIALLY (`acc += term_d` for
# d = 0..dim-1), reproducing a left-to-right IEEE double fold
# BIT-EXACTLY — so the engine and the DuckDB twin (`list_sum`) agree to
# the last ulp and the equality is testable, not hoped for.  No np.sum /
# matmul / einsum in the comparisons: pairwise-summation order would
# break the bit contract at threshold boundaries.
# ---------------------------------------------------------------------------


def _to_mat(series: pd.Series, dim: int) -> np.ndarray:
    if len(series) == 0:
        return np.empty((0, dim), dtype=np.float64)
    return np.vstack(
        [np.asarray(v, dtype=np.float64) for v in series]
    )


def _sq_dists(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(k, m) squared L2 distances, dim-sequential accumulation."""
    k, m = C.shape[0], X.shape[0]
    out = np.empty((k, m), dtype=np.float64)
    for j in range(k):
        acc = np.zeros(m, dtype=np.float64)
        for d in range(X.shape[1]):
            t = X[:, d] - C[j, d]
            acc += t * t
        out[j] = acc
    return out


def _assign_arrow(centroids: list[list[float]], dim: int):
    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("int")
    def _f(s: pd.Series) -> pd.Series:
        X = _to_mat(s, dim)
        if X.shape[0] == 0:
            return pd.Series(np.empty(0, dtype=np.int32))
        # argmin axis 0 returns the FIRST minimal index — the
        # array_min(struct(d, c)) tie rule
        return pd.Series(np.argmin(_sq_dists(X, C), axis=0).astype("int32"))

    return _f


def _min_dist_arrow(centroids: list[list[float]], dim: int):
    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("double")
    def _f(s: pd.Series) -> pd.Series:
        X = _to_mat(s, dim)
        if X.shape[0] == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        return pd.Series(np.min(_sq_dists(X, C), axis=0))

    return _f


def _init_order(id_col: str):
    return (
        F.pmod(F.col(id_col) * F.lit(KNUTH), F.lit(MOD31)).asc(),
        F.col(id_col).asc(),
    )


# ---------------------------------------------------------------------------
# Bounded driver fast path for the FIT (round 6).
#
# The fit is a driver-SEQUENCED job chain by nature (seed scan, k−1
# farthest-point scans, one stats aggregate per Lloyd iteration — every
# step needs the previous step's result on the driver).  On a small
# valid-vector relation that chain is pure job-scheduling latency, so —
# exactly like the union-find fast path in operators/dedup.py
# (DRIVER_CC_MAX_EDGES) — when the relation fits a bounded driver cap we
# collect (id, vec) ONCE and run the SAME arithmetic driver-side:
# `_sq_dists` is the very function the Arrow kernels call, orderings
# replicate the (hash, id) / (dist desc, id) sort keys with integer /
# exact-double keys, and the decimal(38,12) centroid sums are replayed
# with exact scaled-int arithmetic (`_dec12_scaled`).  Those int64 sums
# are exact only while no per-cluster sum can overflow, so the fast path
# also requires (max|x|·1e12 + 1)·n < 2^63 for the probe's n rows
# (`_dec12_fits`); a probe outside that envelope takes the distributed
# path.  Distributed path unchanged and still the default above the cap;
# `driver_max_rows=0` forces it (how the equality test pins the two paths
# to the bit).
# ---------------------------------------------------------------------------

KMEANS_DRIVER_MAX_ROWS = 100_000  # ~64 MB of 64-dim float64 on the driver


def _dec12_scaled(xs: np.ndarray) -> np.ndarray:
    """int64 of ``cast(x as decimal(38,12)) × 1e12`` — Spark rounds the
    double's shortest decimal repr HALF_UP at 12 dp.  Vectorized
    float64 product with an EXACT ``decimal.Decimal(repr(x))`` recheck
    on every value whose product rounding is within a few ulp of a tie
    boundary, so the result is exact for every element."""
    from decimal import ROUND_HALF_UP, Decimal

    m = xs * 1e12
    am = np.abs(m)
    r = np.floor(am + 0.5)
    frac = am + 0.5 - r
    eps = np.maximum(am, 1.0) * 4e-16
    unsure = (frac <= eps) | (frac >= 1.0 - eps)
    out = (np.sign(xs) * r).astype(np.int64)
    if unsure.any():
        q = Decimal("1E-12")
        for i in np.nonzero(unsure)[0]:
            d = Decimal(repr(float(xs[i]))).quantize(q, ROUND_HALF_UP)
            out[i] = int(d.scaleb(12))
    return out


def _dec12_fits(vals: np.ndarray, n: int) -> bool:
    """True iff every ``_dec12_scaled`` sum over at most ``n`` of
    ``vals`` fits int64: each scaled term is at most
    ceil(max|x|·1e12) + 1 in magnitude (the +1 covers HALF_UP rounding
    and the float product's error), summed in exact Python ints."""
    if not len(vals):
        return True
    if not np.isfinite(vals).all():
        return False
    term = int(np.ceil(float(np.abs(vals).max()) * 1e12)) + 1
    return term * n < 2**63


def _fit_driver(
    rows, k: int, iters: int, id_col: str, vec_col: str, init: str
) -> list[list[float]]:
    """The init + Lloyd chain of :func:`kmeans_fit_assign` on collected
    rows — every comparison, fold and rounding mirrors the distributed
    form (see the fast-path note above)."""
    ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    X = np.vstack(
        [np.asarray(r[vec_col], dtype=np.float64) for r in rows]
    )
    # Spark long multiplication wraps mod 2^64; uint64 replays the wrap,
    # and numpy's floored % equals Spark's pmod for positive modulus
    h = (ids.astype(np.uint64) * np.uint64(KNUTH)).astype(np.int64) % MOD31
    order = np.lexsort((ids, h))  # (h asc, id asc)
    n_seeds = k if init == "hash" else 1
    centroids = [[float(x) for x in X[i]] for i in order[:n_seeds]]
    while len(centroids) < k:  # farthest-point traversal
        d = np.min(_sq_dists(X, np.asarray(centroids)), axis=0)
        # orderBy(dist desc, id asc).limit(1)
        best = np.lexsort((ids, -d))[0]
        cand = [float(x) for x in X[best]]
        if cand in centroids:
            raise ValueError(
                f"k={k} but only {len(centroids)} distinct vectors"
            )
        centroids.append(cand)
    dim = X.shape[1]
    for _ in range(iters):
        assign = np.argmin(_sq_dists(X, np.asarray(centroids)), axis=0)
        new = {}
        for j in range(k):
            member = X[assign == j]
            if member.shape[0] == 0:
                continue
            n = member.shape[0]
            for p in range(dim):
                s = int(_dec12_scaled(member[:, p]).sum())
                # float(decimal(38,12)) then the same double division
                new[(j, p)] = (s / 10**12) / n
        centroids = [
            [new.get((j, p), centroids[j][p]) for p in range(dim)]
            for j in range(k)
        ]
    return centroids


def _valid(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    return df.filter(
        F.col(vec_col).isNotNull()
        & (F.size(vec_col) == dim)
        & ~F.exists(vec_col, lambda x: x.isNull())
    )


def kmeans_fit_assign(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    init: str = "farthest",
    driver_max_rows: int | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """Run ``iters`` Lloyd iterations from the deterministic init and
    return ``(assignments, centroids)`` where assignments is
    ``(id_col, cluster)`` and centroids the final k×dim list.  The
    returned assignment plan is map-only (centroids ride inside the
    Arrow kernel) — write it, sample against it, or join it without
    re-clustering.  ``driver_max_rows`` caps the driver fast path for
    the fit (None → :data:`KMEANS_DRIVER_MAX_ROWS`, 0 → always
    distributed)."""
    if k < 1 or iters < 0:
        raise ValueError(f"need k >= 1 and iters >= 0, got {k=} {iters=}")
    if init not in ("farthest", "hash"):
        raise ValueError(f"init must be 'farthest' or 'hash', got {init!r}")
    if driver_max_rows is None:
        driver_max_rows = KMEANS_DRIVER_MAX_ROWS

    from ..exec_utils import materialize

    # fitting consumes the valid-vector relation once per init pass and
    # twice per iteration — materialize it (MLlib's persist-before-KMeans
    # advice; localCheckpoint here, reliable checkpoint on clusters)
    v = materialize(
        _valid(vectors, vec_col, dim).select(id_col, vec_col)
    )
    n_seeds = k if init == "hash" else 1
    # bounded driver fast path (see the note above _fit_driver): one
    # probe-collect replaces the whole driver-sequenced fit job chain
    # when the valid-vector relation is small; over the cap (or with
    # values outside the exact-decimal envelope) the probe rows are
    # discarded and the distributed chain below runs unchanged
    probe = (
        v.limit(driver_max_rows + 1).collect() if driver_max_rows else []
    )
    if driver_max_rows and len(probe) <= driver_max_rows:
        vals = np.array(
            [x for r in probe for x in r[vec_col]], dtype=np.float64
        )
        if _dec12_fits(vals, len(probe)):
            if len(probe) < n_seeds:
                raise ValueError(
                    f"k={k} but only {len(probe)} valid vectors"
                )
            centroids = _fit_driver(
                probe, k, iters, id_col, vec_col, init
            )
            out = v.select(
                id_col,
                _assign_arrow(centroids, dim)(F.col(vec_col)).alias("cluster"),
            )
            return out, centroids
    seed_rows = v.orderBy(*_init_order(id_col)).limit(n_seeds).collect()
    if len(seed_rows) < n_seeds:
        raise ValueError(
            f"k={k} but only {len(seed_rows)} valid vectors"
        )
    centroids = [[float(x) for x in r[vec_col]] for r in seed_rows]
    while len(centroids) < k:  # farthest-point traversal
        nxt = (
            v.orderBy(
                _min_dist_arrow(centroids, dim)(F.col(vec_col)).desc(),
                F.col(id_col).asc(),
            )
            .limit(1)
            .collect()
        )
        cand = [float(x) for x in nxt[0][vec_col]]
        if cand in centroids:
            raise ValueError(
                f"k={k} but only {len(centroids)} distinct vectors"
            )
        centroids.append(cand)
    for _ in range(iters):
        assigned = v.select(
            id_col,
            vec_col,
            _assign_arrow(centroids, dim)(F.col(vec_col)).alias("cluster"),
        )
        stats = (
            assigned.select(
                "cluster",
                F.posexplode(vec_col).alias("pos", "x"),
            )
            .groupBy("cluster", "pos")
            .agg(
                F.sum(F.col("x").cast("double").cast("decimal(38,12)"))
                .alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        new = {
            (r["cluster"], r["pos"]): float(r["s"]) / r["n"] for r in stats
        }
        # a cluster that lost every member keeps its previous centroid
        centroids = [
            [new.get((j, p), centroids[j][p]) for p in range(dim)]
            for j in range(k)
        ]
    out = v.select(
        id_col, _assign_arrow(centroids, dim)(F.col(vec_col)).alias("cluster")
    )
    return out, centroids


def cluster_profile(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """(cluster, n_vecs, id_checksum) summary of the final assignment —
    the audit table a cluster-balanced sampler reads."""
    assigned, _ = kmeans_fit_assign(vectors, k, iters, id_col, vec_col, dim)
    return assigned.groupBy("cluster").agg(
        F.count("*").alias("n_vecs"),
        F.sum(id_col).cast("long").alias("id_checksum"),
    )


def semantic_dedup(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 2,
    cos_threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    init: str = "farthest",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cluster the corpus, then
    drop rows whose EXACT cosine similarity to a lower-id member of the
    same cluster reaches ``cos_threshold``.  Clustering makes the
    quadratic step tractable: pairs are only formed WITHIN a cluster, so
    the pair scan's key is the cluster id and its cost is
    Σ|cluster|² — the paper's trick, with k as the knob (production:
    k ≈ corpus/⟨a few thousand⟩; the LSH-banded path in
    operators/similarity.py is the alternative when no clustering is
    wanted).  Keep rule: lowest ``id_col`` in any qualifying pair wins —
    the ledger min-winner convention, deterministic on any partitioning.

    Returns the KEPT rows of ``vectors`` (original schema) — invalid
    vectors (NULL / ragged / null-element) pass through unexamined,
    the similarity.py convention.

    Scale notes: the pair scan shuffles on (cluster, chunk pair); a
    degenerate mega-cluster (all-identical corpus) degrades to the
    quadratic worst case — the same failure mode as a hot LSH band, and
    the same remedy (raise k, or pre-collapse bit-identical vectors, as
    similarity.dedup_embedding_near does first).  Cosine is computed in
    double with left-to-right folds and IEEE sqrt — bit-identical across
    engines, so the threshold verdict itself is oracle-checkable.

    The in-cluster pair scan runs as ``applyInPandas`` groups with the
    order-exact numpy kernel (tiled cosine slabs — memory bounded even
    for large clusters; each group's member matrix must fit an
    executor, the SemDeDup operating assumption)."""
    assigned, _ = kmeans_fit_assign(
        vectors, k, iters, id_col, vec_col, dim, init
    )
    v = _valid(vectors, vec_col, dim)
    tau = float(cos_threshold)
    # Parallelize the Σ|cluster|² pair scan beyond k tasks (guide
    # §2.5/§2.6: one group per cluster leaves cores idle whenever
    # k < cores).  Each cluster's members are hash-chunked into C
    # id-buckets; every unordered chunk pair (ga ≤ gb) becomes an
    # independent applyInPandas group, so the scan runs as
    # k·C(C+1)/2 tasks.  A row joins exactly C groups, so shuffle
    # duplication is C× the (id, vec) rows — bounded and chosen
    # from the session parallelism.  Pair verdicts are unchanged:
    # every (i, j) pair is examined exactly once (in the block
    # owning its two chunks) with the same dim-sequential fold.
    par = vectors.sparkSession.sparkContext.defaultParallelism
    C = 1
    while C * (C + 1) // 2 * max(k, 1) < 2 * par and C < 12:
        C += 1
    TI = TJ = 512  # cache-resident cosine tiles (TI×TJ float64)

    def _nrm(X: np.ndarray) -> np.ndarray:
        nrm2 = np.zeros(X.shape[0], dtype=np.float64)
        for d in range(X.shape[1]):
            nrm2 += X[:, d] * X[:, d]
        return np.sqrt(nrm2)

    def _cos_tile(A: np.ndarray, B: np.ndarray) -> np.ndarray:
        """A·Bᵀ with the dim-sequential (bit-exact) fold order."""
        acc = np.zeros((A.shape[0], B.shape[0]), dtype=np.float64)
        tmp = np.empty_like(acc)
        for d in range(A.shape[1]):
            np.multiply(A[:, d, None], B[None, :, d], out=tmp)
            acc += tmp
        return acc

    def _dropped(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ga, gb = int(key[1]), int(key[2])
        if ga == gb:  # diagonal block: triangular scan within chunk
            pdf = pdf.sort_values("_id").reset_index(drop=True)
            X = _to_mat(pdf["_v"], dim)
            m = X.shape[0]
            ids = pdf["_id"].to_numpy()
            nrm = _nrm(X)
            dropped = np.zeros(m, dtype=bool)
            for j0 in range(1, m, TJ):
                j1 = min(j0 + TJ, m)
                bn = nrm[j0:j1]
                for i0 in range(0, j1, TI):
                    i1 = min(i0 + TI, j1)
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = _cos_tile(X[i0:i1], X[j0:j1]) / np.outer(
                            nrm[i0:i1], bn
                        )
                    ok = (
                        (np.arange(i0, i1)[:, None]
                         < np.arange(j0, j1)[None, :])
                        & (nrm[i0:i1, None] > 0)
                        & (bn[None, :] > 0)
                    )
                    dropped[j0:j1] |= (ok & (cos >= tau)).any(axis=0)
            return pd.DataFrame({"_id": ids[dropped]})
        A = pdf[pdf["_side"] == 0]
        B = pdf[pdf["_side"] == 1]
        XA = _to_mat(A["_v"], dim)
        XB = _to_mat(B["_v"], dim)
        ia = A["_id"].to_numpy()
        ib = B["_id"].to_numpy()
        na = _nrm(XA)
        nb = _nrm(XB)
        da = np.zeros(len(ia), dtype=bool)
        db = np.zeros(len(ib), dtype=bool)
        for i0 in range(0, XA.shape[0], TI):
            i1 = min(i0 + TI, XA.shape[0])
            for j0 in range(0, XB.shape[0], TJ):
                j1 = min(j0 + TJ, XB.shape[0])
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = _cos_tile(XA[i0:i1], XB[j0:j1]) / np.outer(
                        na[i0:i1], nb[j0:j1]
                    )
                qual = (
                    (na[i0:i1, None] > 0)
                    & (nb[None, j0:j1] > 0)
                    & (cos >= tau)
                )
                lt = ia[i0:i1, None] < ib[None, j0:j1]
                db[j0:j1] |= (qual & lt).any(axis=0)
                da[i0:i1] |= (qual & ~lt).any(axis=1)
        return pd.DataFrame(
            {"_id": np.concatenate([ia[da], ib[db]])}
        )

    members = v.join(assigned, id_col).select(
        F.col(id_col).alias("_id"),
        F.col("cluster"),
        F.col(vec_col).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(C)).alias("_c"),
    )
    blocks = members.select(
        "_id",
        "cluster",
        "_v",
        F.explode(
            F.expr(
                f"transform(sequence(0, {C - 1}), x -> "
                "IF(x >= _c, named_struct('ga', _c, 'gb', bigint(x), 'side', 0), "
                "named_struct('ga', bigint(x), 'gb', _c, 'side', 1)))"
            )
        ).alias("_blk"),
    ).select(
        "_id",
        "cluster",
        "_v",
        F.col("_blk.ga").alias("_ga"),
        F.col("_blk.gb").alias("_gb"),
        F.col("_blk.side").alias("_side"),
    )
    dropped = (
        blocks.groupBy("cluster", "_ga", "_gb")
        .applyInPandas(_dropped, schema="_id long")
        .select(F.col("_id").alias(id_col))
    )
    # a node may be dropped by several blocks — the anti join is
    # duplicate-insensitive, no distinct needed
    return vectors.join(dropped, id_col, "left_anti")
