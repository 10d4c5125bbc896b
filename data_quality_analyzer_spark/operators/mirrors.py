"""Site-mirror detection: domains that serve the same content.

Web corpora are full of mirrors — the same site under several hosts
(CDN aliases, country TLDs, scrapers).  Document-level dedup removes
the copies one fingerprint at a time, but the SITE-level signal is
worth surfacing on its own: a curator wants to see "these two domains
share 90% of their content" and pick a canonical host before the next
crawl even fetches the mirror.

Construction: fingerprint → the set of domains carrying it → one row
per unordered domain PAIR per shared fingerprint → count per pair,
joined against each domain's document count so the overlap is a
fraction of the SMALLER side (containment, not Jaccard — a small
mirror fully contained in a big portal should score 1.0, the q49
asymmetric-containment argument).

Skew discipline: a boilerplate fingerprint carried by THOUSANDS of
domains would explode into a quadratic pair blow-up — exactly the
q37/q43 hot-band problem — so fingerprint groups larger than
``max_group`` are EXCLUDED with a loud log.  That is the same recall
contract as the banded-LSH cap: boilerplate shared by everyone is not
mirror evidence anyway (it's the opposite — evidence the fingerprint
is not discriminative).

Scale shape: one hash aggregate to domain-sets (collect_set bounded by
``max_group``), one explode of C(k,2) pairs per surviving group
(k ≤ max_group, so per-group work is bounded), one pair-level hash
aggregate.  Never corpus × corpus.  Reference ancestor: A13's
distinct-claims-with-issue existence analysis (claim_analysis.py) on
the (fingerprint, domain) incidence relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import exclude_hot_band_buckets

#: default cap on how many domains may share one fingerprint before the
#: group is dropped as boilerplate (quadratic-pair guard)
MAX_FP_GROUP = 50


def mirror_pairs(
    df: DataFrame,
    domain_col: str = "source",
    fp_col: str = "fp",
    max_group: int = MAX_FP_GROUP,
) -> DataFrame:
    """(domain_a, domain_b, n_shared, n_fps_a, n_fps_b, containment)
    for every unordered domain pair sharing at least one fingerprint,
    with domain_a < domain_b and containment = n_shared / min(distinct
    fingerprints of either side), rounded to 4 dp on both engines.
    Fingerprints carried by more than ``max_group`` domains are dropped
    loudly (boilerplate guard — see module docstring)."""
    if max_group < 2:
        raise ValueError(f"max_group must be >= 2, got {max_group}")
    inc = df.select(
        F.col(domain_col).alias("domain"), F.col(fp_col).alias("_fp")
    ).filter(F.col("_fp").isNotNull()).distinct()
    # the SAME loud hot-key guard as the banded-LSH paths (one census
    # pass, worst offenders logged, broadcast anti-join) — and, crucially,
    # the DENOMINATOR below is computed over this same guarded incidence:
    # a true mirror carrying sitewide boilerplate must still score 1.0,
    # so guard-excluded fingerprints count in NEITHER numerator NOR
    # denominator (review finding: a numerator-only guard silently
    # deflated every boilerplate-carrying mirror below the threshold)
    inc = exclude_hot_band_buckets(inc, ["_fp"], max_group, "mirror_pairs")
    groups = inc.groupBy("_fp").agg(
        F.sort_array(F.collect_set("domain")).alias("domains")
    )
    usable = groups.filter(F.size("domains") >= 2)
    # C(k,2) unordered pairs per group, k bounded by max_group
    pairs = usable.select(
        F.explode(
            F.expr(
                "flatten(transform(domains, (a, i) -> "
                "transform(slice(domains, i + 2, size(domains)), "
                "b -> struct(a AS domain_a, b AS domain_b))))"
            )
        ).alias("p")
    ).select("p.domain_a", "p.domain_b")
    shared = pairs.groupBy("domain_a", "domain_b").agg(
        F.count("*").cast("long").alias("n_shared")
    )
    per_dom = inc.groupBy("domain").agg(
        F.count("*").cast("long").alias("n_fps")
    )
    return (
        shared.join(
            per_dom.withColumnsRenamed(
                {"domain": "domain_a", "n_fps": "n_fps_a"}
            ),
            "domain_a",
        )
        .join(
            per_dom.withColumnsRenamed(
                {"domain": "domain_b", "n_fps": "n_fps_b"}
            ),
            "domain_b",
        )
        .select(
            "domain_a",
            "domain_b",
            "n_shared",
            "n_fps_a",
            "n_fps_b",
            F.round(
                F.col("n_shared") / F.least("n_fps_a", "n_fps_b"), 4
            ).alias("containment"),
        )
    )


def mirror_pairs_duck_sql(
    rel: str,
    domain_col: str = "source",
    fp_col: str = "fp",
    max_group: int = MAX_FP_GROUP,
) -> str:
    """DuckDB twin of :func:`mirror_pairs` — an independent SELF-JOIN
    decomposition (incidence ⋈ incidence on the fingerprint with
    a < b) instead of the Spark side's set-explode, so the pair
    construction itself is value-proven."""
    if max_group < 2:
        raise ValueError(f"max_group must be >= 2, got {max_group}")
    return f"""
    WITH inc0 AS (
      SELECT DISTINCT {domain_col} AS domain, {fp_col} AS fp
      FROM {rel} WHERE {fp_col} IS NOT NULL
    ),
    grp AS (SELECT fp, COUNT(*) AS c FROM inc0 GROUP BY fp),
    -- guarded incidence: hot (boilerplate) fps out of BOTH numerator
    -- and denominator, matching the Spark side
    inc AS (
      SELECT inc0.* FROM inc0
      JOIN grp ON grp.fp = inc0.fp
      WHERE grp.c <= {max_group}
    ),
    ok AS (SELECT fp FROM grp WHERE c BETWEEN 2 AND {max_group}),
    pairs AS (
      SELECT a.domain AS domain_a, b.domain AS domain_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM inc a
      JOIN inc b ON a.fp = b.fp AND a.domain < b.domain
      JOIN ok ON ok.fp = a.fp
      GROUP BY 1, 2
    ),
    per_dom AS (
      SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_fps
      FROM inc GROUP BY 1
    )
    SELECT p.domain_a, p.domain_b, p.n_shared,
           da.n_fps AS n_fps_a, db.n_fps AS n_fps_b,
           ROUND(CAST(p.n_shared AS DOUBLE)
                 / least(da.n_fps, db.n_fps), 4) AS containment
    FROM pairs p
    JOIN per_dom da ON da.domain = p.domain_a
    JOIN per_dom db ON db.domain = p.domain_b
    """


def collapse_mirrors(
    df: DataFrame,
    domain_col: str = "source",
    fp_col: str = "fp",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    max_group: int = MAX_FP_GROUP,
) -> DataFrame:
    """One-round mirror COLLAPSE action: for every pair whose (4 dp)
    containment clears ``threshold``, the domain with FEWER distinct
    fingerprints loses (tie → lexicographically larger name loses), and
    each losing doc whose fingerprint the canonical side also carries is
    dropped.  Returns the per-domain action report
    (domain, n_docs, n_dropped, dropped_checksum), counted over
    DISTINCT (domain, id) docs — duplicate input rows and
    multi-fingerprint docs count once — which a curator reviews before
    the drop is applied, exactly like the q45/q48 keep-one actions.  The rule is ONE round, not transitive: an A→B→C mirror
    chain collapses fully only on iteration (documented; chains are rare
    and a second pass is cheap on the already-shrunk corpus).
    Thresholding happens on the ROUNDED containment (the q86 grid rule),
    so both engines decide every pair identically."""
    pairs = mirror_pairs(
        df, domain_col=domain_col, fp_col=fp_col, max_group=max_group
    ).filter(F.col("containment") >= threshold)
    a_wins = (F.col("n_fps_a") > F.col("n_fps_b")) | (
        (F.col("n_fps_a") == F.col("n_fps_b"))
        & (F.col("domain_a") < F.col("domain_b"))
    )
    losers = pairs.select(
        F.when(a_wins, F.col("domain_b")).otherwise(F.col("domain_a")).alias(
            "loser"
        ),
        F.when(a_wins, F.col("domain_a")).otherwise(F.col("domain_b")).alias(
            "canon"
        ),
    )
    rows = df.select(
        F.col(domain_col).alias("domain"),
        F.col(fp_col).alias("_fp"),
        F.col(id_col).alias("_id"),
    )
    canon_inc = (
        rows.select(F.col("domain").alias("canon"), "_fp").distinct()
    )
    # a doc is dropped iff ANY canonical of its domain carries any of
    # its fps; the REPORT is per DOC, not per row — duplicate input rows
    # or multi-fingerprint docs must count once, or the XOR checksum
    # folds ids in twice and cancels them (review finding)
    docs = rows.select("domain", "_id").distinct()
    doomed = (
        rows.join(
            F.broadcast(losers), rows["domain"] == losers["loser"]
        )
        .join(canon_inc, ["canon", "_fp"], "left_semi")
        .select("domain", "_id")
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        docs.join(doomed, ["domain", "_id"], "left")
        .groupBy("domain")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("_dropped"), 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
            F.bit_xor(
                F.when(F.col("_dropped"), F.col("_id")).otherwise(0)
            ).alias("dropped_checksum"),
        )
    )


def collapse_mirrors_duck_sql(
    rel: str,
    domain_col: str = "source",
    fp_col: str = "fp",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    max_group: int = MAX_FP_GROUP,
) -> str:
    """DuckDB twin of :func:`collapse_mirrors` (same rounded-grid
    threshold, same loser rule, EXISTS-decomposed drop predicate)."""
    base = mirror_pairs_duck_sql(
        rel, domain_col=domain_col, fp_col=fp_col, max_group=max_group
    )
    return f"""
    WITH pairs_full AS ({base}),
    losers AS (
      SELECT CASE WHEN n_fps_a > n_fps_b
                  OR (n_fps_a = n_fps_b AND domain_a < domain_b)
             THEN domain_b ELSE domain_a END AS loser,
             CASE WHEN n_fps_a > n_fps_b
                  OR (n_fps_a = n_fps_b AND domain_a < domain_b)
             THEN domain_a ELSE domain_b END AS canon
      FROM pairs_full WHERE containment >= {threshold}
    ),
    rows_ AS (
      SELECT {domain_col} AS domain, {fp_col} AS _fp, {id_col} AS _id
      FROM {rel}
    ),
    docs_ AS (
      SELECT DISTINCT domain, _id FROM rows_
    ),
    doomed AS (
      SELECT DISTINCT r.domain, r._id
      FROM rows_ r
      JOIN losers l ON l.loser = r.domain
      WHERE EXISTS (
        SELECT 1 FROM rows_ c
        WHERE c.domain = l.canon AND c._fp = r._fp
      )
    )
    SELECT r.domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN d._id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           bit_xor(CASE WHEN d._id IS NOT NULL THEN r._id ELSE 0 END)
             AS dropped_checksum
    FROM docs_ r
    LEFT JOIN doomed d ON d.domain = r.domain AND d._id = r._id
    GROUP BY 1
    """
