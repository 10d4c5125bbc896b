"""Deterministic corpus sampling / mixing — the stage that turns a
filtered, deduplicated pool into a training mixture.

Why not ``df.sample()``/``sampleBy()``: Spark's samplers are seeded
per-partition, so the selected SET changes with partitioning, retries,
and cluster size — poison for exactly-once pipelines and for audits
("why is this doc in the corpus?").  Everything here selects by a
**content-independent deterministic hash of the row key** (the portable
60-bit md5 of ``functions/hashing.py``, so the DuckDB oracle reproduces
the exact selection):

* :func:`deterministic_sample` — keep iff ``h60(seed || key) mod D <
  fraction·D``.  Map-only, no shuffle, no RNG state; rerunning anywhere
  yields the same set, and different seeds give independent samples.
* :func:`stratified_sample` — per-stratum fractions (the corpus-mixing
  weights: "3% code, 60% web, …") via one CASE expression folded into the
  same map-only filter.  Unknown strata default to fraction 0 LOUDLY
  (listed in the plan, not silently kept).
* :func:`sample_token_budget` — "take documents until the token budget is
  met", the common mixture-building primitive.  The selection order is
  the deterministic hash order, so the result is a PREFIX of a global
  pseudo-random permutation.  Scalable two-phase plan: (1) one hash
  aggregate of token sums per hash bucket (B rows to the driver — B is a
  dial, not data-sized); the driver prefix-sums bucket totals to find the
  cutoff bucket; (2) full buckets pass with a plain filter, and ONLY the
  single cutoff bucket pays a within-bucket cumulative-sum window (its
  rows ≈ corpus/B).  No global sort, no corpus-sized window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import hashing as HH
from . import lines as LN

SAMPLE_DENOM = 1_000_000  # fraction resolution: 1e-6


def seeded_key_hash(key_col: str, seed: int):
    """h60 of ``seed || key`` — THE key-selection hash shared by every
    sampler and the shard writer (one derivation; a drift here would
    silently desynchronize samplers from sharders).  NULL keys hash as
    the empty string — deterministic and never NULL, matching DuckDB's
    NULL-ignoring ``concat`` (Spark's concat would null the hash and
    silently drop the row from every filter)."""
    return F.expr(
        HH.h60_spark_sql(
            f"concat('{seed}:', coalesce(CAST({key_col} AS STRING), ''))"
        )
    )


# back-compat internal alias
_h60_key = seeded_key_hash


def _h60_key_sql(key_col: str, seed: int) -> str:
    # DuckDB concat ignores NULL args natively == the coalesce above
    return HH.h60_sql(f"concat('{seed}:', CAST({key_col} AS VARCHAR))")


def deterministic_sample(
    df: DataFrame, fraction: float, key_col: str, seed: int = 0
) -> DataFrame:
    """Keep each row iff its key hashes under ``fraction`` — deterministic
    across runs, partitionings, and engines."""
    if not (0.0 <= fraction <= 1.0):
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    thr = int(round(fraction * SAMPLE_DENOM))
    return df.filter(
        F.pmod(_h60_key(key_col, seed), F.lit(SAMPLE_DENOM)) < F.lit(thr)
    )


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str,
    key_col: str,
    seed: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling — corpus-mixing weights.

    Strata absent from ``fractions`` get fraction 0 (dropped); that
    default is visible in the plan's CASE expression, not silent."""
    if not fractions:
        raise ValueError(
            "stratified_sample: empty fractions map (would drop every "
            "row); pass at least one stratum weight"
        )
    for s_name, frac in fractions.items():
        if not (0.0 <= frac <= 1.0):
            raise ValueError(
                f"fraction for stratum {s_name!r} must be in [0, 1], got {frac}"
            )
        if "'" in s_name or "\\" in s_name:
            # stratum names are folded into a CASE literal; quotes would
            # corrupt the expression (clear error beats a parse failure)
            raise ValueError(f"stratum name {s_name!r} contains a quote")
    arms = " ".join(
        f"WHEN {strata_col} = '{s_name}' THEN {int(round(frac * SAMPLE_DENOM))}"
        for s_name, frac in sorted(fractions.items())
    )
    thr = F.expr(f"CASE {arms} ELSE 0 END")
    return df.filter(
        F.pmod(_h60_key(key_col, seed), F.lit(SAMPLE_DENOM)) < thr
    )


def sample_token_budget(
    df: DataFrame,
    budget: int,
    token_col: str,
    key_col: str,
    seed: int = 0,
    num_buckets: int = 1024,
) -> DataFrame:
    """Smallest deterministic-hash-order PREFIX of rows whose token sum
    reaches ``budget`` (i.e. every selected row except possibly the last
    fits; the first row crossing the budget is the last one included, so
    the sum is ≥ budget unless the corpus is smaller).

    Global order = (bucket, h60, key) — a pseudo-random permutation, so
    the prefix is an unbiased sample.  See module docstring for the
    two-phase scalable shape.

    NULL-cost semantics (pinned; mirrored by the q53 oracle's COALESCE):
    a row whose ``token_col`` is NULL counts as cost **0 and stays
    eligible** — it consumes no budget, so it is kept whenever its hash
    position falls inside the selected prefix.  Filter such rows upstream
    if "unknown cost" should mean "excluded"."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if num_buckets <= 0:
        raise ValueError(f"num_buckets must be positive, got {num_buckets}")
    h = F.pmod(seeded_key_hash(key_col, seed), F.lit(SAMPLE_DENOM))
    bucketed = df.withColumn("_tb_h", h).withColumn(
        "_tb_bkt", F.pmod(F.col("_tb_h"), F.lit(num_buckets))
    )
    totals = {
        r["_tb_bkt"]: r["_tok"]
        for r in bucketed.groupBy("_tb_bkt")
        .agg(F.sum(F.coalesce(F.col(token_col), F.lit(0))).alias("_tok"))
        .collect()
    }
    acc = 0
    cutoff = None
    for b in range(num_buckets):
        t = totals.get(b, 0)
        if acc + t < budget:
            acc += t
        else:
            cutoff = b
            break
    if cutoff is None:  # whole corpus fits inside the budget
        return df
    from pyspark.sql import Window

    remaining = budget - acc
    # full buckets are exactly the prefix below the cutoff
    full_part = (
        bucketed.filter(F.col("_tb_bkt") < cutoff) if cutoff > 0 else None
    )
    # ROWS frame, not the default RANGE: duplicate keys tie on
    # (_tb_h, key) and a RANGE frame would give every tied row the
    # COMBINED running sum, under-filling the budget and diverging from
    # the oracle's pinned ROWS UNBOUNDED PRECEDING rule.
    w = (
        Window.partitionBy("_tb_bkt")
        .orderBy("_tb_h", key_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cut_part = (
        bucketed.filter(F.col("_tb_bkt") == cutoff)
        .withColumn(
            "_tb_cum",
            F.sum(F.coalesce(F.col(token_col), F.lit(0))).over(w),
        )
        # prefix until the budget is crossed, INCLUDING the crossing row
        .filter(
            F.col("_tb_cum") - F.coalesce(F.col(token_col), F.lit(0))
            < F.lit(remaining)
        )
        .drop("_tb_cum")
    )
    out = (
        full_part.unionByName(cut_part) if full_part is not None else cut_part
    )
    return out.drop("_tb_h", "_tb_bkt")


def stratified_sample_duck_sql(
    fractions: dict[str, float], strata_col: str, key_col: str, seed: int = 0
) -> str:
    """DuckDB WHERE-clause twin of :func:`stratified_sample`."""
    arms = " ".join(
        f"WHEN {strata_col} = '{s_name}' THEN {int(round(frac * SAMPLE_DENOM))}"
        for s_name, frac in sorted(fractions.items())
    )
    return (
        f"({_h60_key_sql(key_col, seed)}) % {SAMPLE_DENOM} < "
        f"(CASE {arms} ELSE 0 END)"
    )


def _split_thresholds(splits: dict[str, float]) -> list[tuple[str, int]]:
    """(name, cumulative integer threshold) per split, in the caller's
    insertion order (pinned: reordering the dict REASSIGNS rows).  The
    last split's threshold is forced to SAMPLE_DENOM so the partition is
    exhaustive by construction — float rounding can never orphan a row."""
    if not splits:
        raise ValueError("split_corpus: empty splits map")
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(
            f"split fractions must sum to 1 (got {total}); an unassigned "
            "remainder would silently leak rows out of every split"
        )
    out, cum = [], 0.0
    for name, frac in splits.items():
        if not (0.0 <= frac <= 1.0):
            raise ValueError(f"fraction for split {name!r} out of [0, 1]")
        if "'" in name or "\\" in name:
            raise ValueError(f"split name {name!r} contains a quote")
        cum += frac
        out.append((name, int(round(cum * SAMPLE_DENOM))))
    out[-1] = (out[-1][0], SAMPLE_DENOM)
    return out


def _split_case(thresholds: list[tuple[str, int]], u: str) -> str:
    """Shared CASE text for both engines (u = the hash-mod expression)."""
    arms = " ".join(
        f"WHEN {u} < {thr} THEN '{name}'" for name, thr in thresholds[:-1]
    )
    return f"CASE {arms} ELSE '{thresholds[-1][0]}' END"


def split_corpus(
    df: DataFrame,
    splits: dict[str, float],
    key_col: str,
    seed: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test partition: every row gets exactly one
    split label from its key hash's position in the cumulative-fraction
    intervals — disjoint and exhaustive by construction, stable across
    partitionings, retries, cluster sizes, and engines (same
    ``seeded_key_hash`` as every sampler, so a row sampled at fraction f
    and a row split at fraction f agree).  MAP-ONLY: one hash + one CASE
    per row; use a fresh ``seed`` per experiment to re-randomize.

    Holdout-safety note: the split key should be the DEDUP key (or
    computed after dedup) — hashing a raw doc id puts near-duplicates in
    different splits and leaks train into test."""
    thresholds = _split_thresholds(splits)
    # sign-free temp name: f"__u_{seed}" with a negative seed parses as
    # `__u_ - N` inside the CASE expression (confirmed AnalysisException)
    u = "__split_u"
    case = _split_case(thresholds, u)
    return df.withColumn(
        u, F.pmod(_h60_key(key_col, seed), F.lit(SAMPLE_DENOM))
    ).withColumn(split_col, F.expr(case)).drop(u)


def split_corpus_duck_sql(
    splits: dict[str, float], key_col: str, seed: int = 0
) -> str:
    """DuckDB twin: the split-label expression for one row."""
    u = f"(({_h60_key_sql(key_col, seed)}) % {SAMPLE_DENOM})"
    return _split_case(_split_thresholds(splits), u)


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling") — score every raw document
# by how target-like its hashed-n-gram distribution is:
#
#     weight(doc) = mean over tokens t of
#                   [ log p_target(bucket(t)) - log p_raw(bucket(t)) ]
#
# with Laplace-smoothed bucket probabilities over ``num_buckets`` hashed
# unigram buckets.  Mixture builders then select/resample by weight.
#
# Scale shape (the reason this is two explicit passes):
#   pass 1 — bucket counts: one explode + ONE hash aggregate whose key
#            space is ``num_buckets`` (bounded, partial-agg friendly);
#            only ``num_buckets`` rows ever reach the driver — a dial,
#            not data-sized.
#   pass 2 — scoring is MAP-ONLY: the bucket→log-ratio table rides into
#            the plan as a literal map and each doc folds its token
#            array through it with HOF transform+aggregate — zero
#            shuffle, zero join, zero UDF on the 10^12-row side.
# The bucket hash is the portable h60 (md5), so the DuckDB oracle
# reproduces the exact buckets; per-bucket ratios are rounded to 6 dp on
# both sides (identical libm on one host; far below the 4 dp the oracle
# compares at).
#
# Float portability: the per-doc mean is NOT a double fold (summation
# order differs between Spark's array fold and DuckDB's group SUM, and
# the 6 dp ratio grid can park the true mean exactly on a 4 dp rounding
# boundary, where a 1-ulp association difference flips the rounded
# value).  Instead both engines sum the 6 dp ratios as DECIMAL(28,6) —
# exact and order-independent — cast the one exact sum to double, and
# divide by the same integer token count: bit-identical input to the
# final ROUND on both sides.  (4 dp ties of a *shared* double are safe:
# (2k+1)/20000 is never dyadic, so no double sits exactly on a tie.)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 512


def _dsir_bucket(tok, num_buckets: int):
    return F.pmod(HH.h60(tok), F.lit(num_buckets))


def _dsir_bucket_py(tok: str, num_buckets: int) -> int:
    """Python twin of :func:`_dsir_bucket`."""
    return HH.h60_python(tok) % num_buckets


def _dsir_bucket_counts_arrow(tt: DataFrame, num_buckets: int):
    """Pass-1 kernel (round 6, guide §4.2): per-task partial
    (bucket, target_count, row_count) histograms over the pre-split
    token arrays, replacing ``explode + md5-per-token + hash agg``.

    Tokens are dictionary-encoded per batch at C level (no
    per-occurrence Python object is ever created), md5 runs once per
    DISTINCT token with a per-task cache (token frequencies are
    Zipfian, so the cache absorbs almost every occurrence), and the
    histogram is two ``bincount`` calls.  Counts are exact integers —
    identical to the exploded aggregate (pinned by
    test_dsir_pass1_kernel_matches_explode).  Each task emits
    ≤ ``num_buckets`` rows, so the downstream aggregate keeps the old
    partial-agg scale shape while the corpus-sized side loses the
    explode entirely — measured 1.35 → 0.98 s on a 10× corpus and the
    per-token slope is ~4× shallower (OPTIMIZATION_r06.md)."""

    def part(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        tc = np.zeros(num_buckets, np.int64)
        rc = np.zeros(num_buckets, np.int64)
        cache: dict[str, int] = {}
        seen = False
        for b in batches:
            seen = True
            t_np = b.column(0).to_numpy(zero_copy_only=False)
            toks = b.column(1)
            lens = np.asarray(
                pc.fill_null(pc.list_value_length(toks), 0)
            ).astype(np.int64)
            flat = toks.flatten()
            if len(flat) == 0:
                continue
            de = pc.dictionary_encode(flat)
            codes = de.indices.to_numpy(zero_copy_only=False)
            uniques = de.dictionary.to_pylist()
            ub = np.empty(len(uniques), np.int64)
            for i, u in enumerate(uniques):
                v = cache.get(u)
                if v is None:
                    v = _dsir_bucket_py(u, num_buckets)
                    if len(cache) < 1_000_000:
                        cache[u] = v
                ub[i] = v
            buckets = ub[codes]
            t_rep = np.repeat(np.asarray(t_np, dtype=bool), lens)
            rc += np.bincount(buckets, minlength=num_buckets)
            if t_rep.any():
                tc += np.bincount(buckets[t_rep], minlength=num_buckets)
        if seen:
            import pyarrow as pa  # noqa: F811 — worker-side re-import

            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.arange(num_buckets, dtype=np.int64)),
                    pa.array(tc),
                    pa.array(rc),
                ],
                names=["_b", "tc", "rc"],
            )

    return (
        tt.mapInArrow(part, "_b long, tc long, rc long")
        .groupBy("_b")
        .agg(F.sum("tc").alias("tc"), F.sum("rc").alias("rc"))
        # only buckets that actually occur, matching the exploded
        # groupBy's key set exactly (absent buckets must stay absent —
        # their ratio is defined as 0.0, not the Laplace log-ratio)
        .filter(F.col("rc") > 0)
    )


def _dsir_bucket_sql(tok: str, num_buckets: int) -> str:
    return f"({HH.h60_sql(tok)}) % {num_buckets}"


def dsir_weights(
    df: DataFrame,
    target,
    text_col: str = "text",
    weight_col: str = "dsir_weight",
    num_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Annotate every row with its DSIR importance weight (rounded to
    4 dp; a NULL or blank text has no tokens → NULL weight).  ``target``
    is a boolean Column marking the in-domain exemplar rows *within*
    ``df`` (e.g. "kept English docs"); the raw distribution is all of
    ``df``."""
    import math

    toks = LN.tokens(F.col(text_col))
    # pass 1 via the Arrow histogram kernel: tokenization and the target
    # conjunction stay JVM-side (the _t projection BELOW the kernel
    # matters for the same reason it sat below the explode — a shared
    # SELECT with the per-token stage would re-evaluate the full
    # keep_verdict conjunction per token); only (_t, _toks) crosses the
    # boundary and each task returns a ≤ num_buckets partial histogram.
    # Counts are exact ints, so `ratio` is identical to the explode form
    # (pass 2 below stays the pure-Catalyst O(1) array fold — measured
    # FASTER than an Arrow twin up to ~30× the local bench corpus,
    # OPTIMIZATION_r06.md).
    counts = _dsir_bucket_counts_arrow(
        df.filter(F.col(text_col).isNotNull()).select(
            F.coalesce(target, F.lit(False)).alias("_t"),
            toks.alias("_toks"),
        ),
        num_buckets,
    ).collect()  # bounded: ≤ num_buckets rows
    t_tot = sum(r["tc"] for r in counts)
    r_tot = sum(r["rc"] for r in counts)
    ratio = {
        r["_b"]: round(
            math.log((r["tc"] + 1) / (t_tot + num_buckets))
            - math.log((r["rc"] + 1) / (r_tot + num_buckets)),
            6,
        )
        for r in counts
    }
    # dense ARRAY literal indexed by bucket, not a literal map:
    # GetMapValue on a 512-entry literal map is a linear key scan per
    # TOKEN (512 comparisons each — measured as the dominant cost of
    # pass 2), while element_at on a constant-folded array is one O(1)
    # index.  Absent buckets hold the same 0.0 the old coalesce
    # supplied, so every token contributes the identical 6 dp value.
    dense = [0.0] * num_buckets
    for b in ratio:
        dense[int(b)] = float(ratio[b])
    m = F.array(*[F.lit(v) for v in dense])
    dec = "decimal(28,6)"
    w_sum = F.aggregate(
        F.transform(
            toks,
            lambda t: F.coalesce(
                F.element_at(
                    m, (_dsir_bucket(t, num_buckets) + 1).cast("int")
                ),
                F.lit(0.0),
            ).cast(dec),
        ),
        F.lit(0).cast(dec),
        lambda acc, x: (acc + x).cast(dec),
    )
    w = w_sum.cast("double") / F.size(toks)
    return df.withColumn(weight_col, F.when(F.size(toks) > 0, F.round(w, 4)))


def dsir_weights_duck_sql(
    table: str,
    target_sql: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = DSIR_BUCKETS,
) -> str:
    """DuckDB twin: per-doc (id, weight) relation equivalent to
    :func:`dsir_weights` (unnest+join instead of the literal map; the
    mean is over the same per-token 6 dp ratios)."""
    toks = LN.tokens_sql(text_col)
    b = _dsir_bucket_sql("tk", num_buckets)
    return f"""
    WITH _dsir_docs AS (
      SELECT {id_col} AS _id, COALESCE({target_sql}, FALSE) AS _t,
             {toks} AS _toks
      FROM {table} WHERE {text_col} IS NOT NULL
    ),
    tok AS (SELECT _id, _t, unnest(_toks) AS tk FROM _dsir_docs),
    bt AS (SELECT _id, _t, {b} AS _b FROM tok),
    counts AS (
      SELECT _b, SUM(CASE WHEN _t THEN 1 ELSE 0 END) AS tc,
             COUNT(*) AS rc
      FROM bt GROUP BY _b
    ),
    tots AS (SELECT SUM(tc) AS tt, SUM(rc) AS rt FROM counts),
    ratios AS (
      SELECT _b,
             ROUND(ln((tc + 1.0) / (tt + {num_buckets}))
                   - ln((rc + 1.0) / (rt + {num_buckets})), 6) AS r
      FROM counts, tots
    )
    SELECT bt._id AS _id,
           ROUND(CAST(SUM(CAST(r AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*), 4) AS w
    FROM bt JOIN ratios USING (_b) GROUP BY bt._id
    """


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    fraction: float,
    key_col: str,
    seed: int = 0,
) -> DataFrame:
    """Deterministic IMPORTANCE sampling (the selection half of DSIR,
    Xie et al. 2023): accept each row with probability
    ``min(1, fraction · exp(w) / mean(exp(w)))`` — rows a log-weight
    above average are kept proportionally more often, the expected kept
    fraction stays ≈ ``fraction`` — decided by the same deterministic
    key hash as every other sampler here (same set on any partitioning
    / retry / engine).

    NULL-weight rows are EXCLUDED (an importance sampler cannot price
    an unscored row; coalesce upstream to include them at weight 0).

    Portability of the acceptance threshold (no RNG, no rounding at the
    compare): ``h/DENOM < fraction·exp(w)/m`` compares two doubles built
    from identical inputs — ``w`` is the 4 dp weight column, ``m`` is
    the mean of 6 dp-rounded ``exp(w)`` accumulated as DECIMAL(28,6)
    (exact, order-independent — the DSIR float discipline above) and
    folded in as one literal.  One bounded driver scalar; the selection
    itself is MAP-ONLY."""
    if not (0.0 <= fraction <= 1.0):
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    eligible = df.filter(F.col(weight_col).isNotNull())
    dec = "decimal(28,6)"
    row = eligible.agg(
        F.sum(F.round(F.exp(weight_col), 6).cast(dec)).alias("s"),
        F.count("*").alias("n"),
    ).collect()[0]
    if not row["n"]:
        return eligible  # empty in, empty out
    m = round(float(row["s"]) / row["n"], 6)
    h = F.pmod(seeded_key_hash(key_col, seed), F.lit(SAMPLE_DENOM))
    return eligible.filter(
        h.cast("double") / F.lit(float(SAMPLE_DENOM))
        < F.lit(float(fraction)) * F.exp(weight_col) / F.lit(m)
    )


def weighted_sample_duck_sql(
    rel: str,
    weight_col: str,
    fraction: float,
    key_col: str,
    seed: int = 0,
) -> str:
    """DuckDB twin of :func:`weighted_sample`: SELECT over ``rel``
    (a relation/CTE name with ``weight_col`` and ``key_col``)."""
    m = (
        f"(SELECT ROUND(CAST(SUM(CAST(ROUND(exp({weight_col}), 6) "
        f"AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) "
        f"FROM {rel} WHERE {weight_col} IS NOT NULL)"
    )
    h = f"({_h60_key_sql(key_col, seed)}) % {SAMPLE_DENOM}"
    return (
        f"SELECT * FROM {rel} WHERE {weight_col} IS NOT NULL AND "
        f"CAST({h} AS DOUBLE) / {SAMPLE_DENOM}.0 "
        f"< {fraction} * exp({weight_col}) / {m}"
    )


def plan_mixture(
    df: DataFrame,
    parts: dict[str, int],
    strata_col: str,
    token_col,
) -> DataFrame:
    """MIXTURE PLANNING (the Pile/Dolma construction step): given target
    mixture PARTS per stratum (integers — "60 web : 30 books : 3 code")
    and the available token mass, compute the LARGEST feasible corpus
    honoring the ratio and the per-stratum sampling plan that builds it.

    Exact integer rule (pinned; P = Σ parts over strata present in the
    map): N* = min over strata of (avail_s · P) div parts_s — the
    binding stratum caps the corpus; selected_s = (N* · parts_s) div P
    (≤ avail_s by construction); fraction_ppm = (selected_s · 10^6) div
    avail_s feeds :func:`deterministic_sample`/`sample_token_budget`
    directly.  Strata absent from ``parts`` are reported with parts 0 /
    selected 0 — excluded LOUDLY, not silently.  Symmetrically, a
    ``parts`` stratum with NO corpus rows still appears (avail 0) and
    drives N* to 0 — an infeasible ratio yields an empty plan, never a
    silently ratio-violating one.

    Scale shape: ONE corpus aggregate (per-stratum token sums),
    materialized (|strata| rows) so the single-row min and the output
    reuse it without a second corpus scan; no window, no collect."""
    if not parts:
        raise ValueError("plan_mixture: empty parts map")
    for s_name, p in parts.items():
        if not isinstance(p, int) or p <= 0:
            raise ValueError(
                f"parts for stratum {s_name!r} must be a positive int, got {p}"
            )
        if "'" in s_name or "\\" in s_name:
            raise ValueError(f"stratum name {s_name!r} contains a quote")
    from ..exec_utils import materialize

    P = sum(parts.values())
    arms = " ".join(
        f"WHEN {strata_col} = '{s}' THEN {p}" for s, p in sorted(parts.items())
    )
    part = F.expr(f"CASE {arms} ELSE 0 END")
    spark = df.sparkSession
    # every parts stratum must appear even with zero corpus rows —
    # otherwise an exhausted stratum silently vanishes from the min and
    # the "feasible" corpus violates the requested ratio
    part_rows = spark.createDataFrame(
        [(s,) for s in sorted(parts)], f"{strata_col} string"
    )
    avail = (
        df.groupBy(strata_col)
        .agg(F.sum(F.coalesce(token_col, F.lit(0))).cast("long").alias("avail_tokens"))
        .join(part_rows, strata_col, "full_outer")
        .withColumn("avail_tokens", F.coalesce("avail_tokens", F.lit(0)))
        .withColumn("parts", part)
        .transform(materialize)  # one corpus scan, reused by min + output
    )
    cap = F.expr(f"(avail_tokens * {P}) div parts")
    nstar = (
        avail.filter(F.col("parts") > 0)
        .select(F.min(cap).alias("_nstar"))
    )
    sel = F.expr(f"(_nstar * parts) div {P}")
    return (
        avail.crossJoin(F.broadcast(nstar))
        .withColumn(
            "selected_tokens",
            F.when(F.col("parts") > 0, sel).otherwise(F.lit(0)).cast("long"),
        )
        .withColumn(
            "fraction_ppm",
            F.when(
                (F.col("parts") > 0) & (F.col("avail_tokens") > 0),
                F.expr(f"(selected_tokens * {SAMPLE_DENOM}) div avail_tokens"),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .withColumn(
            "is_binding",
            F.when(F.col("parts") > 0, cap == F.col("_nstar")).otherwise(
                F.lit(False)
            ),
        )
        .drop("_nstar")
    )


def plan_mixture_duck_sql(
    rel: str,
    parts: dict[str, int],
    strata_col: str,
    token_sql: str,
) -> str:
    """DuckDB twin of :func:`plan_mixture` (same pinned integer rule,
    including the full-outer parts join that keeps corpus-absent
    strata in the plan)."""
    P = sum(parts.values())
    key = f"COALESCE(corpus.{strata_col}, p.{strata_col})"
    arms = " ".join(
        f"WHEN {key} = '{s}' THEN {p}" for s, p in sorted(parts.items())
    )
    values = ", ".join(f"('{s}')" for s in sorted(parts))
    return f"""
    WITH corpus AS (
      SELECT {strata_col},
             CAST(SUM(COALESCE({token_sql}, 0)) AS BIGINT) AS avail_tokens
      FROM {rel} GROUP BY {strata_col}
    ), avail AS (
      SELECT {key} AS {strata_col},
             COALESCE(avail_tokens, 0) AS avail_tokens,
             CAST(CASE {arms} ELSE 0 END AS INT) AS parts
      FROM corpus FULL OUTER JOIN (VALUES {values}) p({strata_col})
        ON corpus.{strata_col} = p.{strata_col}
    ), nstar AS (
      SELECT MIN((avail_tokens * {P}) // parts) AS _n
      FROM avail WHERE parts > 0
    )
    SELECT {strata_col}, avail_tokens, parts,
           CAST(CASE WHEN parts > 0 THEN (_n * parts) // {P}
                ELSE 0 END AS BIGINT) AS selected_tokens,
           CAST(CASE WHEN parts > 0 AND avail_tokens > 0
                THEN (((_n * parts) // {P}) * {SAMPLE_DENOM}) // avail_tokens
                ELSE 0 END AS BIGINT) AS fraction_ppm,
           CASE WHEN parts > 0
                THEN (avail_tokens * {P}) // parts = _n
                ELSE FALSE END AS is_binding
    FROM avail CROSS JOIN nstar
    """


def sample_exact_k(
    df: DataFrame,
    k: int,
    key_col: str,
    seed: int = 0,
    strata_col: str | None = None,
) -> DataFrame:
    """EXACTLY-K deterministic sample: the k rows whose seeded key hash
    is smallest — a fixed-SIZE sample where :func:`deterministic_sample`
    gives a fixed RATE (the classic reservoir-sample use case, without
    reservoir state: the bottom-k of a pseudo-random permutation is a
    uniform k-subset, reproducible on any partitioning/engine).  Ties
    are impossible at distinct keys (the hash is keyed) and broken by
    ``key_col`` otherwise.

    The permutation key is the RAW 60-bit seeded hash — unlike the
    fraction samplers there is no reason to quantize to SAMPLE_DENOM,
    and a 10^6 codomain would birthday-collide at ~10^3 keys, letting
    the key_col tie-break bias the boundary bucket toward small keys.

    With ``strata_col``, k rows PER STRATUM (balanced eval sets, per-
    language probes).  Scale shape: global form plans as
    TakeOrderedAndProject (per-partition top-k, then a k-bounded merge —
    no full sort); stratified form is one rank window partitioned by the
    stratum (per-key parallel, the q74 window discipline)."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    h = seeded_key_hash(key_col, seed)
    if strata_col is None:
        return (
            df.withColumn("_xk_h", h)
            .orderBy("_xk_h", key_col)
            .limit(k)
            .drop("_xk_h")
        )
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy("_xk_h", key_col)
    return (
        df.withColumn("_xk_h", h)
        .withColumn("_xk_rn", F.row_number().over(w))
        .filter(F.col("_xk_rn") <= k)
        .drop("_xk_h", "_xk_rn")
    )
