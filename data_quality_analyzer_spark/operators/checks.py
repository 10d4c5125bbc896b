"""Feature-readiness checks: dynamic severity bands + critical early-exit.

The Spark recast of the reference's check layer
(``ai_core/feature_readiness/checks/``):

* a *check* is a function → one CheckResult dict
  {key, name, status, severity, description, solution, metrics}
  (``base_standalone.py:44-66``);
* **dynamic severity**: how bad the metric is decides the severity —
  diversity bands (``additional_charge_checks.py:501-508``), coverage bands
  (``additional_charge_checks.py:661-670``), stats bands
  (``charge_analysis_checks.py:858-873``), claims-volume escalation
  (``charge_analysis_checks.py:563-567``);
* **critical early-exit**: :func:`run_readiness_checks` stops the remaining
  checks after a critical failure (``charge_analysis_checks.py:87-90``) —
  driver-side control flow between Spark jobs, so a failed cheap check
  means the expensive jobs never launch.

One Spark action per check: its conditional aggregates and distinct counts
fuse into one collected plan — the reference's fan-out fused per SURVEY §4.2.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class ReadinessSettings:
    """readiness_settings thresholds, reference defaults
    (appsettings.py:51-128)."""

    claims_with_charges_threshold: int = 10
    cpt_diversity_threshold: int = 5
    claims_minimum_total: int = 100
    claims_with_charges_percentage: float = 0.8
    claims_with_diagnoses_percentage: float = 0.7
    cpt_minimum_unique_codes: int = 5
    stats_coverage_threshold: float = 0.5
    stats_minimum_record_count: int = 3
    stats_minimum_cpts_per_payer: int = 3
    stats_minimum_avg_record_count: float = 5.0
    stats_maximum_staleness_days: int = 30
    data_quality_threshold: float = 0.8


DEFAULT_READINESS = ReadinessSettings()


def create_check_result(
    key: str,
    name: str,
    status: str,
    severity: str | None = None,
    description: str = "",
    solution: str | None = None,
    metrics: dict[str, Any] | None = None,
) -> dict[str, Any]:
    """CheckResult shape (base_standalone.py:44-66)."""
    return {
        "key": key,
        "name": name,
        "status": status,
        "severity": severity if status == "failed" else None,
        "description": description,
        "solution": solution,
        "metrics": metrics or {},
    }


# ---------------------------------------------------------------------------
# dynamic severity bands
# ---------------------------------------------------------------------------

def diversity_severity(count: float, threshold: float) -> str:
    """additional_charge_checks.py:501-508: <50% of threshold critical,
    <80% high, else medium."""
    if count < threshold * 0.5:
        return "critical"
    if count < threshold * 0.8:
        return "high"
    return "medium"


def coverage_severity(coverage_pct: float) -> str:
    """additional_charge_checks.py:661-670: <30% critical, <60% high,
    else medium."""
    if coverage_pct < 30:
        return "critical"
    if coverage_pct < 60:
        return "high"
    return "medium"


def claims_volume_severity(total_claims: int, min_total: int) -> str:
    """charge_analysis_checks.py:563-567: high, escalated to critical when
    the total-volume floor itself is broken."""
    return "critical" if total_claims < min_total else "high"


def stats_severity(
    total_stats: int,
    coverage_pct: float,
    quality_pct: float,
    issues: list[str],
) -> str:
    """charge_analysis_checks.py:858-873: empty/very-low-coverage/-quality
    → critical; a single payer-distribution or freshness issue → medium;
    else high."""
    if total_stats == 0:
        return "critical"
    if coverage_pct < 25 or quality_pct < 25:
        return "critical"
    if len(issues) == 1 and ("payers" in issues[0].lower() or "days old" in issues[0].lower()):
        return "medium"
    return "high"


def sampled_quality_severity(valid_pct: float) -> str:
    """additional_charge_checks.py:811: high when <60% valid, else medium."""
    return "high" if valid_pct < 60 else "medium"


# ---------------------------------------------------------------------------
# array-existential helpers (P8; quirk-1 blank collapse)
# ---------------------------------------------------------------------------

def _blank(c: Column) -> Column:
    return c.isNull() | (c == "")


def _has_valid_elem(arr: str, field: str) -> Column:
    """$elemMatch {field: exists, != null, != ''} (charge_analysis_checks.py
    :410-422) as one null-safe array existential (NULL/empty array → False)."""
    return F.coalesce(F.exists(arr, lambda x: ~_blank(x[field])), F.lit(False))


def _valid_cpts() -> Column:
    """Non-blank ``charges[].cpt_hcpcs`` codes, duplicates kept (:530-560)."""
    valid = F.filter("charges", lambda c: ~_blank(c["cpt_hcpcs"]))
    return F.transform(valid, lambda c: c["cpt_hcpcs"])


# ---------------------------------------------------------------------------
# Check 2: Claims Data Analysis (charge_analysis_checks.py:352-620)
# ---------------------------------------------------------------------------

def check_claims_data(
    claims: DataFrame, rs: ReadinessSettings = DEFAULT_READINESS
) -> dict[str, Any]:
    """Volume + charge/diagnosis coverage + eligibility + CPT diversity in
    one Spark action: ``posexplode_outer`` of the valid CPT codes gives each
    claim rows ``pos`` 0, 1, … (or one NULL row); claim totals count first
    rows only, by ``count(when)`` so an empty table gives 0, beside
    ``countDistinct(cpt)``."""
    first = F.coalesce(F.col("pos"), F.lit(0)) == 0
    charged = F.col("pos") == 0  # first row of a claim with a valid CPT
    row = (
        claims.select(
            _has_valid_elem("diagnoses", "code").alias("has_dx"),
            F.posexplode_outer(_valid_cpts()).alias("pos", "cpt"),
        )
        .agg(
            F.count(F.when(first, 1)).alias("total"),
            F.count(F.when(charged, 1)).alias("with_charges"),
            F.count(F.when(first & F.col("has_dx"), 1)).alias("with_dx"),
            F.count(F.when(charged & F.col("has_dx"), 1)).alias("eligible"),
            F.countDistinct("cpt").alias("unique_cpt"),
        )
        .collect()[0]
    )
    total = row["total"]
    metrics: dict[str, Any] = {"total_claims": total}

    if total == 0:  # :389-398 — immediate critical
        return create_check_result(
            "claims_data_analysis", "Claims Data Analysis", "failed",
            severity="critical",
            description="Claims collection is empty",
            solution="Import claims data into the collection",
            metrics=metrics,
        )

    issues: list[str] = []
    if total < rs.claims_minimum_total:
        issues.append(
            f"Only {total} claims found, need at least {rs.claims_minimum_total}"
        )

    charges_pct = row["with_charges"] / total * 100
    metrics["claims_with_charges"] = row["with_charges"]
    metrics["charges_percentage"] = round(charges_pct, 2)
    if charges_pct < rs.claims_with_charges_percentage * 100:
        issues.append(
            f"Only {charges_pct:.1f}% of claims have charges, "
            f"need {rs.claims_with_charges_percentage * 100:.1f}%"
        )

    dx_pct = row["with_dx"] / total * 100
    metrics["claims_with_diagnoses"] = row["with_dx"]
    metrics["diagnoses_percentage"] = round(dx_pct, 2)
    if dx_pct < rs.claims_with_diagnoses_percentage * 100:
        issues.append(
            f"Only {dx_pct:.1f}% of claims have diagnoses, "
            f"need {rs.claims_with_diagnoses_percentage * 100:.1f}%"
        )

    metrics["eligible_claims"] = row["eligible"]
    metrics["eligible_percentage"] = round(row["eligible"] / total * 100, 2)

    # Step 5: CPT diversity (:530-560) — unwind → match valid → distinct
    unique_cpt = row["unique_cpt"]
    metrics["unique_cpt_count"] = unique_cpt
    if unique_cpt < rs.cpt_minimum_unique_codes:
        issues.append(
            f"Only {unique_cpt} unique CPT codes, need at least "
            f"{rs.cpt_minimum_unique_codes}"
        )

    if issues:
        return create_check_result(
            "claims_data_analysis", "Claims Data Analysis", "failed",
            severity=claims_volume_severity(total, rs.claims_minimum_total),
            description="; ".join(issues),
            solution=(
                "Verify data import/population; check data quality; ensure "
                "charges and diagnoses are properly populated"
            ),
            metrics=metrics,
        )
    return create_check_result(
        "claims_data_analysis", "Claims Data Analysis", "passed",
        description=(
            f"{total} claims, {charges_pct:.1f}% with charges, "
            f"{dx_pct:.1f}% with diagnoses, {unique_cpt} unique CPT codes"
        ),
        metrics=metrics,
    )


# ---------------------------------------------------------------------------
# Check 3: Historical Stats Availability (charge_analysis_checks.py:617-905)
# ---------------------------------------------------------------------------

def check_stats_quality(
    claims: DataFrame,
    stats: DataFrame,
    rs: ReadinessSettings = DEFAULT_READINESS,
    stats_age_days: int | None = None,
) -> dict[str, Any]:
    """Coverage + quality + avg record count + per-payer distribution +
    freshness, with the reference's stats severity bands, in one Spark
    action: one row per payer (rows, rows with enough ``record_count``,
    Σ/count of non-NULL ``record_count``) cross-joined with the distinct CPT
    counts of stats and claims; the driver sums and sorts these few rows.

    ``stats_age_days``: age of the most recent stats update; the parquet
    stats table carries no timestamp column, so the age is supplied by the
    caller (manifest/commit metadata).  None mirrors the reference's
    "no last_updated timestamp found" branch (is_fresh = None).
    """
    metrics: dict[str, Any] = {}
    issues: list[str] = []

    rc = F.col("record_count")
    per_payer = stats.groupBy("payer_mco").agg(
        F.count("*").alias("n"),
        F.count(F.when(rc >= rs.stats_minimum_record_count, 1)).alias("sufficient"),
        F.sum(rc).alias("rc_sum"),
        F.count(rc).alias("rc_n"),
    )
    stats_cpts = stats.agg(F.countDistinct("cpt_code").alias("cpt_with_stats"))
    claims_cpts = claims.select(F.explode(_valid_cpts()).alias("cpt")).agg(
        F.countDistinct("cpt").alias("total_cpt")
    )
    rows = per_payer.crossJoin(stats_cpts).crossJoin(claims_cpts).collect()

    total_stats = sum(r["n"] for r in rows)
    metrics["total_stats"] = total_stats
    if total_stats == 0:  # :655-666 — immediate critical
        return create_check_result(
            "historical_stats_availability", "Historical Stats Availability",
            "failed", severity="critical",
            description="Stats collection is empty",
            solution="Generate stats collection from claims data",
            metrics=metrics,
        )

    # Step 2: coverage — distinct CPTs in claims vs in stats (:668-699)
    total_cpt = rows[0]["total_cpt"]
    cpt_with_stats = rows[0]["cpt_with_stats"]
    coverage_pct = (cpt_with_stats / total_cpt * 100) if total_cpt else 0.0
    metrics["total_cpt_codes_in_claims"] = total_cpt
    metrics["cpt_codes_with_stats"] = cpt_with_stats
    metrics["coverage_percentage"] = round(coverage_pct, 2)
    if coverage_pct < rs.stats_coverage_threshold * 100:
        issues.append(
            f"Only {coverage_pct:.1f}% of CPT codes have stats, need "
            f"{rs.stats_coverage_threshold * 100:.1f}%"
        )

    # Step 3: quality + avg record count (:708-750)
    sufficient = sum(r["sufficient"] for r in rows)
    quality_pct = sufficient / total_stats * 100
    metrics["sufficient_stats"] = sufficient
    metrics["quality_percentage"] = round(quality_pct, 2)
    if quality_pct < 50:  # hardcoded 50% in the reference (:733-738)
        issues.append(
            f"Only {quality_pct:.1f}% of stats have record_count >= "
            f"{rs.stats_minimum_record_count}"
        )
    rc_n = sum(r["rc_n"] for r in rows)
    avg_rc = sum(r["rc_sum"] or 0 for r in rows) / rc_n if rc_n else 0.0
    metrics["avg_record_count"] = round(avg_rc, 2)
    if avg_rc < rs.stats_minimum_avg_record_count:
        issues.append(
            f"Average record count is {avg_rc:.1f}, need at least "
            f"{rs.stats_minimum_avg_record_count}"
        )

    # Step 4: per-payer quality-stat counts (:755-806): count desc, payer asc, NULL last
    payer_rows = [r for r in rows if r["sufficient"] > 0]
    payer_rows.sort(key=lambda r: (-r["sufficient"], r["payer_mco"] is None, r["payer_mco"] or ""))
    insufficient = [
        f"{r['payer_mco']} ({r['sufficient']} CPTs)"
        for r in payer_rows
        if r["sufficient"] < rs.stats_minimum_cpts_per_payer
    ]
    metrics["total_payers"] = len(payer_rows)
    metrics["payers_with_sufficient_coverage"] = len(payer_rows) - len(insufficient)
    metrics["payers_with_insufficient_coverage"] = len(insufficient)
    if insufficient:
        metrics["problematic_payers"] = insufficient[:10]
        issues.append(
            f"{len(insufficient)} payers have < "
            f"{rs.stats_minimum_cpts_per_payer} CPT codes with stats"
        )

    # Step 5: freshness (:810-852)
    if stats_age_days is not None:
        metrics["age_days"] = stats_age_days
        fresh = stats_age_days <= rs.stats_maximum_staleness_days
        metrics["is_fresh"] = fresh
        if not fresh:
            issues.append(
                f"Stats are {stats_age_days} days old, should be updated "
                f"within {rs.stats_maximum_staleness_days} days"
            )
    else:
        metrics["is_fresh"] = None

    if issues:
        return create_check_result(
            "historical_stats_availability", "Historical Stats Availability",
            "failed",
            severity=stats_severity(total_stats, coverage_pct, quality_pct, issues),
            description="; ".join(issues),
            solution=(
                "Consider regenerating stats or improving data quality; "
                "ensure all payers have sufficient historical data"
            ),
            metrics=metrics,
        )
    return create_check_result(
        "historical_stats_availability", "Historical Stats Availability",
        "passed",
        description=(
            f"Stats ready: {total_stats} documents, {coverage_pct:.1f}% CPT "
            f"coverage, avg {avg_rc:.1f} records/stat"
        ),
        metrics=metrics,
    )


# ---------------------------------------------------------------------------
# Diagnosis diversity (additional_charge_checks.py:450-520) — band demo
# ---------------------------------------------------------------------------

def check_diagnosis_diversity(
    claims: DataFrame, rs: ReadinessSettings = DEFAULT_READINESS
) -> dict[str, Any]:
    threshold = rs.cpt_diversity_threshold
    unique_dx = (
        claims.select(F.explode("diagnoses").alias("d"))
        .filter(~_blank(F.col("d.code")))
        .agg(F.countDistinct("d.code"))
        .collect()[0][0]
    )
    metrics = {"unique_diagnoses": unique_dx, "threshold": threshold}
    if unique_dx < threshold:
        return create_check_result(
            "diagnosis_diversity", "Diagnosis Code Diversity", "failed",
            severity=diversity_severity(unique_dx, threshold),
            description=(
                f"Insufficient unique diagnosis codes: {unique_dx} < {threshold}"
            ),
            solution="Import more diverse claims data",
            metrics=metrics,
        )
    return create_check_result(
        "diagnosis_diversity", "Diagnosis Code Diversity", "passed",
        description=f"{unique_dx} unique diagnosis codes",
        metrics=metrics,
    )


# ---------------------------------------------------------------------------
# Sampled Data Quality (additional_charge_checks.py:720-838; S7 + F14)
# ---------------------------------------------------------------------------

def valid_stats_expr() -> Column:
    """_validate_stats (additional_charge_checks.py:840-868) as one native
    boolean conjunction (F14): non-negative measures, record_count >= 3,
    paid <= billed, adjusted <= billed."""
    billed = F.coalesce(F.col("billed_avg"), F.lit(0.0))
    paid = F.coalesce(F.col("paid_avg"), F.lit(0.0))
    adj = F.coalesce(F.col("adj_avg"), F.lit(0.0))
    rc = F.coalesce(F.col("record_count"), F.lit(0))
    return (
        (billed >= 0) & (paid >= 0) & (adj >= 0)
        & (rc >= 3) & (paid <= billed) & (adj <= billed)
    )


def check_data_quality_sampled(
    stats: DataFrame,
    rs: ReadinessSettings = DEFAULT_READINESS,
    sample_n: int = 100,
    deterministic: bool = False,
) -> dict[str, Any]:
    """Validate a ``limit(sample_n)`` sample of the stats table (S7 sampling
    scan: CollectLimit terminates the scan after n rows — it never reads the
    full table).  ``deterministic=True`` orders by key first (top-k scan)
    for reproducible tests."""
    base = stats.filter(~_blank(F.col("payer_mco")) & ~_blank(F.col("cpt_code")))
    if deterministic:
        base = base.orderBy("payer_mco", "cpt_code")
    sample = base.limit(sample_n)
    row = sample.agg(
        F.count("*").alias("n"),
        F.sum(F.when(valid_stats_expr(), 1).otherwise(0)).cast("long").alias("valid"),
        F.sum(F.when(F.coalesce(F.col("paid_avg"), F.lit(0.0)) <= 0, 1).otherwise(0))
        .cast("long")
        .alias("paid_zero"),
    ).collect()[0]
    n = row["n"]
    if n == 0:
        return create_check_result(
            "data_quality", "Data Quality", "failed", severity="critical",
            description="No stats available to validate",
            solution="Generate stats first",
            metrics={"total_sampled": 0},
        )
    valid_pct = row["valid"] / n * 100
    paid_pct = (n - row["paid_zero"]) / n * 100
    metrics = {
        "total_sampled": n,
        "valid_count": row["valid"],
        "invalid_count": n - row["valid"],
        "valid_percentage": round(valid_pct, 2),
        "paid_zero_count": row["paid_zero"],
        "paid_percentage": round(paid_pct, 2),
    }
    issues = []
    if valid_pct < rs.data_quality_threshold * 100:
        issues.append(
            f"Too many invalid stats: {n - row['valid']}/{n} "
            f"({100 - valid_pct:.2f}%)"
        )
    if paid_pct < 80:
        issues.append(
            f"Too many stats with paid = 0: {row['paid_zero']}/{n} "
            f"({100 - paid_pct:.2f}%)"
        )
    if issues:
        return create_check_result(
            "data_quality", "Data Quality", "failed",
            severity=sampled_quality_severity(valid_pct),
            description="; ".join(issues),
            solution="Review stats generation process",
            metrics=metrics,
        )
    return create_check_result(
        "data_quality", "Data Quality", "passed",
        description=f"Data quality is good ({valid_pct:.1f}% valid)",
        metrics=metrics,
    )


# ---------------------------------------------------------------------------
# driver: run checks with critical early-exit
# ---------------------------------------------------------------------------

def run_readiness_checks(
    checks: list[Callable[[], dict[str, Any]]],
) -> list[dict[str, Any]]:
    """Run checks in order; a failed+critical result stops the rest
    (charge_analysis_checks.py:87-90) — the expensive downstream Spark jobs
    are never even submitted."""
    results: list[dict[str, Any]] = []
    for check in checks:
        result = check()
        results.append(result)
        if result["status"] == "failed" and result["severity"] == "critical":
            break
    return results
