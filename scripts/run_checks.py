#!/usr/bin/env python
"""Readiness-gate entry point — the EP2 analogue (SURVEY §3:
``run_checks(client)`` → ordered checks → critical early-exit → summary).

    python scripts/run_checks.py --claims .fixtures/claims/claims.parquet \
        [--settings settings.json] [--stats-age-days 1] [--cpus 8]

Order mirrors the reference (charge_analysis_checks.py:73-131): Check 1
app-settings validation (critical failure stops everything before any
Spark job), Check 2 claims data analysis, Check 3 historical stats
availability (stats generated on the fly from the claims table, EP3),
diagnosis diversity, sampled data quality.  Prints one JSON document with
the CheckResult list + the severity-weighted readiness score.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--claims", required=True, help="claims parquet path")
    ap.add_argument("--settings", help="settings-document JSON (default: built-in defaults)")
    ap.add_argument("--stats-age-days", type=int, default=None)
    ap.add_argument("--cpus", type=int, default=8)
    args = ap.parse_args()

    from data_quality_analyzer_spark import config as CFG
    from data_quality_analyzer_spark.operators import checks as CK
    from data_quality_analyzer_spark.operators import claims as CL
    from data_quality_analyzer_spark.operators import rules as RU
    from data_quality_analyzer_spark.session import get_spark

    doc = (
        json.load(open(args.settings)) if args.settings else CFG.default_doc()
    )
    rs = CK.DEFAULT_READINESS

    spark = get_spark(app_name="readiness_checks", cpus=args.cpus)
    claims = spark.read.parquet(args.claims)
    stats = CL.generate_stats(claims)

    checks = [
        lambda: CFG.validate_settings(doc),
        lambda: CK.check_claims_data(claims, rs),
        lambda: CK.check_stats_quality(
            claims, stats, rs, stats_age_days=args.stats_age_days
        ),
        lambda: CK.check_diagnosis_diversity(claims, rs),
        lambda: CK.check_data_quality_sampled(stats, rs),
    ]
    results = CK.run_readiness_checks(checks)
    # severity-weighted readiness score (base_standalone.py:300-376)
    score, status = RU.score_check_results(results)

    print(json.dumps({
        "checks": results,
        "checks_run": len(results),
        "early_exit": len(results) < len(checks),
        "readiness_score": score,
        "readiness_status": status,
    }, default=str))


if __name__ == "__main__":
    main()
