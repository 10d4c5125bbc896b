"""Readiness-check layer: dynamic severity bands, critical early-exit,
per-payer stats distribution, the sampled data-quality check, one Spark
action per check, and the EP2 script end to end — cross-checked against
DuckDB on the deterministic claims fixture and planted edge inputs.

Reference band boundaries under test:
- diversity: <50% of threshold critical / <80% high / else medium
  (additional_charge_checks.py:501-508)
- coverage: <30 critical / <60 high / else medium (:661-670)
- stats: empty or coverage<25 or quality<25 critical; single payer/staleness
  issue medium; else high (charge_analysis_checks.py:858-873)
- claims volume: below claims_minimum_total escalates high→critical
  (charge_analysis_checks.py:563-567)
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from data_quality_analyzer_spark.operators import checks as CK
from data_quality_analyzer_spark.operators import claims as CL
from data_quality_analyzer_spark.sources.claims_fixture import write_claims

FIX = os.path.join(os.path.dirname(__file__), "..", ".fixtures", "claims")


@pytest.fixture(scope="module")
def claims(spark):
    path = write_claims(FIX, 1500, seed=42)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def stats(claims):
    return CL.generate_stats(claims).cache()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW claims AS SELECT * FROM read_parquet('{os.path.join(FIX, 'claims.parquet')}')"
    )
    return con


# ---------------------------------------------------------------------------
# severity-band boundaries (pure functions, reference-exact)
# ---------------------------------------------------------------------------

def test_diversity_severity_bands():
    t = 10
    assert CK.diversity_severity(4, t) == "critical"   # < 5 (= 0.5*t)
    assert CK.diversity_severity(5, t) == "high"       # boundary: not < 5
    assert CK.diversity_severity(7, t) == "high"       # < 8 (= 0.8*t)
    assert CK.diversity_severity(8, t) == "medium"     # boundary: not < 8
    assert CK.diversity_severity(9, t) == "medium"


def test_coverage_severity_bands():
    assert CK.coverage_severity(29.9) == "critical"
    assert CK.coverage_severity(30.0) == "high"
    assert CK.coverage_severity(59.9) == "high"
    assert CK.coverage_severity(60.0) == "medium"


def test_claims_volume_severity():
    assert CK.claims_volume_severity(99, 100) == "critical"
    assert CK.claims_volume_severity(100, 100) == "high"


def test_stats_severity_bands():
    assert CK.stats_severity(0, 100, 100, ["x"]) == "critical"
    assert CK.stats_severity(10, 24.9, 100, ["x"]) == "critical"
    assert CK.stats_severity(10, 100, 24.9, ["x"]) == "critical"
    assert CK.stats_severity(10, 50, 50, ["3 payers have < 3 CPT codes with stats"]) == "medium"
    assert CK.stats_severity(10, 50, 50, ["Stats are 40 days old, should be updated"]) == "medium"
    assert CK.stats_severity(10, 50, 50, ["coverage low"]) == "high"
    assert CK.stats_severity(10, 50, 50, ["payers issue", "coverage low"]) == "high"


def test_sampled_quality_severity():
    assert CK.sampled_quality_severity(59.9) == "high"
    assert CK.sampled_quality_severity(60.0) == "medium"


# ---------------------------------------------------------------------------
# Check 2 vs DuckDB
# ---------------------------------------------------------------------------

def _duck_check2_metrics(duck, src: str) -> dict:
    """Every check_claims_data metric, computed by DuckDB over ``src``."""
    total, charges, dx, eligible = duck.sql(
        f"""
        WITH f AS (SELECT
          coalesce(len(list_filter(charges, x -> x.cpt_hcpcs IS NOT NULL AND x.cpt_hcpcs <> '')), 0) > 0 AS ch,
          coalesce(len(list_filter(diagnoses, x -> x.code IS NOT NULL AND x.code <> '')), 0) > 0 AS dx
          FROM {src})
        SELECT COUNT(*), COUNT(*) FILTER (ch), COUNT(*) FILTER (dx), COUNT(*) FILTER (ch AND dx)
        FROM f
        """
    ).fetchone()
    uniq = duck.sql(
        f"""SELECT COUNT(DISTINCT c.cpt_hcpcs) FROM
           (SELECT unnest(charges) AS c FROM {src})
           WHERE c.cpt_hcpcs IS NOT NULL AND c.cpt_hcpcs <> ''"""
    ).fetchone()[0]
    return {
        "total_claims": total,
        "claims_with_charges": charges,
        "charges_percentage": round(charges / total * 100, 2),
        "claims_with_diagnoses": dx,
        "diagnoses_percentage": round(dx / total * 100, 2),
        "eligible_claims": eligible,
        "eligible_percentage": round(eligible / total * 100, 2),
        "unique_cpt_count": uniq,
    }


def test_check2_metrics_match_duckdb(claims, duck):
    res = CK.check_claims_data(claims)
    assert res["metrics"] == _duck_check2_metrics(duck, "claims")
    # the fixture plants a charges-coverage shortfall (79.5% < 80%): the
    # check fails at plain high (volume floor is met, so no escalation)
    assert res["status"] == "failed" and res["severity"] == "high"
    assert "% of claims have charges" in res["description"]
    # relaxed coverage thresholds: passes
    rs = CK.ReadinessSettings(
        claims_with_charges_percentage=0.5, claims_with_diagnoses_percentage=0.5
    )
    assert CK.check_claims_data(claims, rs)["status"] == "passed"


def test_check2_edge_inputs_match_duckdb(spark, tmp_path):
    """The fused posexplode scan on the array edge cases: NULL / empty
    charges, only blank CPTs, a NULL element, a CPT repeated in one claim,
    NULL diagnoses."""
    schema = (
        "claim_id string, charges array<struct<cpt_hcpcs:string,amount:double>>, "
        "diagnoses array<struct<code:string>>"
    )
    dx = [{"code": "D1"}]
    rows = [
        ("null_charges", None, dx),
        ("empty_charges", [], dx),
        ("blank_cpts", [{"cpt_hcpcs": None, "amount": 1.0}, {"cpt_hcpcs": "", "amount": 2.0}], dx),
        ("null_element", [None, {"cpt_hcpcs": "A", "amount": 3.0}], [{"code": ""}]),
        ("repeat_cpt", [{"cpt_hcpcs": "B", "amount": 1.0}, {"cpt_hcpcs": "B", "amount": 2.0}], dx),
        ("null_dx", [{"cpt_hcpcs": "A", "amount": 1.0}, {"cpt_hcpcs": "C", "amount": 1.0}], None),
        ("ok", [{"cpt_hcpcs": "D", "amount": 1.0}], [{"code": None}, {"code": "D2"}]),
    ]
    path = str(tmp_path / "edge_claims.parquet")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
    con = duckdb.connect()
    want = _duck_check2_metrics(con, f"read_parquet('{path}/*.parquet')")
    assert want["unique_cpt_count"] == 4 and want["eligible_claims"] == 2
    assert CK.check_claims_data(spark.read.parquet(path))["metrics"] == want


def test_check2_volume_escalation(claims):
    """Below claims_minimum_total the severity escalates to critical."""
    rs = CK.ReadinessSettings(claims_minimum_total=10**6)
    res = CK.check_claims_data(claims, rs)
    assert res["status"] == "failed"
    assert res["severity"] == "critical"
    assert "need at least 1000000" in res["description"]
    # impossible coverage threshold alone: fails at plain high
    rs2 = CK.ReadinessSettings(claims_with_charges_percentage=1.0)
    res2 = CK.check_claims_data(claims, rs2)
    assert res2["status"] == "failed"
    assert res2["severity"] == "high"


def test_check2_empty_collection(spark, claims):
    empty = claims.filter(F.lit(False))
    res = CK.check_claims_data(empty)
    assert res["status"] == "failed"
    assert res["severity"] == "critical"
    assert res["description"] == "Claims collection is empty"


# ---------------------------------------------------------------------------
# Check 3 vs DuckDB (incl. per-payer distribution)
# ---------------------------------------------------------------------------

def test_check3_passes_and_metrics(claims, stats, duck):
    res = CK.check_stats_quality(claims, stats, stats_age_days=1)
    m = res["metrics"]
    want_payers = duck.sql(
        """
        SELECT COUNT(*) FROM (
          SELECT payer_mco, c.cpt_hcpcs FROM
            (SELECT payer_mco, unnest(charges) AS c FROM claims)
          WHERE payer_mco IS NOT NULL AND payer_mco <> ''
            AND c.cpt_hcpcs IS NOT NULL AND c.cpt_hcpcs <> ''
          GROUP BY payer_mco, c.cpt_hcpcs
          HAVING COUNT(*) >= 3)
        """
    ).fetchone()[0]
    assert m["total_stats"] == stats.count()
    assert m["sufficient_stats"] == want_payers
    assert m["is_fresh"] is True
    assert res["status"] in ("passed", "failed")  # threshold-dependent


def test_check3_staleness_is_medium_alone(claims, stats):
    """A lone freshness issue lands at medium severity (:868-873)."""
    rs = CK.ReadinessSettings(
        stats_coverage_threshold=0.0001,
        stats_minimum_avg_record_count=0.0001,
        stats_minimum_cpts_per_payer=0,
    )
    res = CK.check_stats_quality(claims, stats, rs, stats_age_days=90)
    if res["status"] == "failed":
        assert [i for i in res["description"].split("; ")] and res["severity"] == "medium"
        assert "days old" in res["description"]


def test_check3_empty_stats_critical(claims, stats):
    empty = stats.filter(F.lit(False))
    res = CK.check_stats_quality(claims, empty)
    assert res["status"] == "failed" and res["severity"] == "critical"


STATS_SCHEMA = "payer_mco string, cpt_code string, record_count long"


def test_check3_all_null_record_count(spark, claims):
    """An all-NULL record_count averages to 0.0 (the non-NULL mean, 0 when
    there is none) and raises the average-record-count issue."""
    stats = spark.createDataFrame(
        [("P1", "99201", None), ("P1", "99202", None), ("P2", "99201", None)],
        STATS_SCHEMA,
    )
    res = CK.check_stats_quality(claims, stats)
    m = res["metrics"]
    assert m["total_stats"] == 3 and m["sufficient_stats"] == 0
    assert m["avg_record_count"] == 0.0 and m["total_payers"] == 0
    assert res["status"] == "failed" and res["severity"] == "critical"
    assert "Average record count is 0.0" in res["description"]


def test_check3_payer_order_matches_spark_sort(spark, claims):
    """The driver-side payer sort equals the reference's
    groupBy → orderBy(desc cpt_count, asc_nulls_last payer): ties broken by
    binary string order, NULL payer last among its tie, the top-10 cut
    falling inside a tie."""
    payers = {  # payer → quality-stat count (record_count >= 3)
        "Z": 2, "B": 2, None: 2, "b": 2, "": 1, "M": 1, "a": 1, "A": 1,
        "P1": 1, "P2": 1, "P3": 1, "P4": 5, "P5": 3, "P6": 3,
    }
    rows = []
    for payer, k in payers.items():
        rows += [(payer, f"C{i}", 3 + i) for i in range(k)]
        rows.append((payer, "LOW", 1))  # below the quality floor
    rows += [("ONLY_LOW", "C0", 2), ("P1", "C9", None)]
    stats = spark.createDataFrame(rows, STATS_SCHEMA)
    ref = (
        stats.filter(F.col("record_count") >= 3)
        .groupBy("payer_mco")
        .agg(F.count("*").alias("cpt_count"))
        .orderBy(F.desc("cpt_count"), F.asc_nulls_last("payer_mco"))
        .collect()
    )
    insufficient = [f"{r['payer_mco']} ({r['cpt_count']} CPTs)" for r in ref if r["cpt_count"] < 3]
    assert len(insufficient) == 11  # the [:10] cut drops one of the tied 1s

    m = CK.check_stats_quality(claims, stats)["metrics"]
    assert m["problematic_payers"] == insufficient[:10]
    assert m["total_payers"] == len(ref) == len(payers)
    assert m["payers_with_insufficient_coverage"] == len(insufficient)
    assert m["payers_with_sufficient_coverage"] == len(ref) - len(insufficient)
    assert m["total_stats"] == len(rows)
    assert m["avg_record_count"] == round(stats.agg(F.avg("record_count")).first()[0], 2)
    assert m["cpt_codes_with_stats"] == stats.select("cpt_code").distinct().count()


def test_payer_bands_match_duckdb(stats, duck, claims):
    got = {
        r["payer_mco"]: r
        for r in CL.stats_quality_bands_by_payer(CL.generate_stats(claims)).collect()
    }
    want = duck.sql(
        """
        SELECT payer_mco,
          COUNT(*) AS total,
          SUM(CASE WHEN n >= 10 THEN 1 ELSE 0 END) AS high_q,
          SUM(CASE WHEN n >= 3 AND n < 10 THEN 1 ELSE 0 END) AS med_q,
          SUM(CASE WHEN n < 3 THEN 1 ELSE 0 END) AS low_q
        FROM (
          SELECT payer_mco, c.cpt_hcpcs, COUNT(*) AS n FROM
            (SELECT payer_mco, unnest(charges) AS c FROM claims)
          WHERE payer_mco IS NOT NULL AND payer_mco <> ''
            AND c.cpt_hcpcs IS NOT NULL AND c.cpt_hcpcs <> ''
          GROUP BY payer_mco, c.cpt_hcpcs)
        GROUP BY payer_mco
        """
    ).fetchall()
    assert len(got) == len(want)
    for payer, total, hi, med, lo in want:
        g = got[payer]
        assert g["total_combinations"] == total
        assert g["high_quality"] == hi
        assert g["medium_quality"] == med
        assert g["low_quality"] == lo
        assert (
            g["high_quality"] + g["medium_quality"] + g["low_quality"]
            == g["total_combinations"]
        )


# ---------------------------------------------------------------------------
# Sampled data-quality check (S7 sampling scan + F14 conjunction)
# ---------------------------------------------------------------------------

def test_sampled_check_deterministic_oracle(stats, duck, claims):
    res = CK.check_data_quality_sampled(stats, sample_n=100, deterministic=True)
    m = res["metrics"]
    want = duck.sql(
        """
        WITH s AS (
          SELECT payer_mco, c.cpt_hcpcs AS cpt_code, COUNT(*) AS record_count,
                 round(AVG(c.amount), 2) AS billed_avg,
                 round(AVG(c.amount_paid), 2) AS paid_avg,
                 round(AVG(c.adjustment_amount), 2) AS adj_avg
          FROM (SELECT payer_mco, unnest(charges) AS c FROM claims)
          WHERE payer_mco IS NOT NULL AND payer_mco <> ''
            AND c.cpt_hcpcs IS NOT NULL AND c.cpt_hcpcs <> ''
          GROUP BY payer_mco, c.cpt_hcpcs
          ORDER BY payer_mco, cpt_code LIMIT 100)
        SELECT COUNT(*),
          SUM(CASE WHEN coalesce(billed_avg,0) >= 0 AND coalesce(paid_avg,0) >= 0
                    AND coalesce(adj_avg,0) >= 0 AND coalesce(record_count,0) >= 3
                    AND coalesce(paid_avg,0) <= coalesce(billed_avg,0)
                    AND coalesce(adj_avg,0) <= coalesce(billed_avg,0)
               THEN 1 ELSE 0 END)
        FROM s
        """
    ).fetchone()
    assert m["total_sampled"] == want[0] == 100
    assert m["valid_count"] == want[1]


def test_sampled_check_is_a_limit_scan(stats):
    """S7: the plan must contain a limit — the full table is never read."""
    base = stats.filter(
        F.col("payer_mco").isNotNull() & F.col("cpt_code").isNotNull()
    ).limit(100)
    plan = base._jdf.queryExecution().executedPlan().toString()
    assert "Limit" in plan or "CollectLimit" in plan


def test_sampled_check_empty_critical(stats):
    res = CK.check_data_quality_sampled(stats.filter(F.lit(False)))
    assert res["status"] == "failed" and res["severity"] == "critical"


# ---------------------------------------------------------------------------
# one Spark action per check
# ---------------------------------------------------------------------------

def test_each_spark_check_issues_one_action(claims, monkeypatch):
    """Each Spark-backed check makes exactly one driver action; nested
    calls (``first`` → ``take`` → ``collect``) count once."""
    cls = type(claims)
    calls: list[str] = []
    depth = [0]

    def counting(name):
        orig = getattr(cls, name)

        def wrapper(self, *args, **kwargs):
            if depth[0] == 0:
                calls.append(name)
            depth[0] += 1
            try:
                return orig(self, *args, **kwargs)
            finally:
                depth[0] -= 1
        return wrapper

    for name in ("collect", "count", "first", "take", "toPandas"):
        monkeypatch.setattr(cls, name, counting(name))
    stats = CL.generate_stats(claims)  # uncached, as the gate runs it
    checks = {
        "claims_data": lambda: CK.check_claims_data(claims),
        "stats_quality": lambda: CK.check_stats_quality(claims, stats),
        "diagnosis_diversity": lambda: CK.check_diagnosis_diversity(claims),
        "data_quality_sampled": lambda: CK.check_data_quality_sampled(stats),
    }
    for key, check in checks.items():
        calls.clear()
        check()
        assert calls == ["collect"], (key, calls)


# ---------------------------------------------------------------------------
# critical early-exit (charge_analysis_checks.py:87-90)
# ---------------------------------------------------------------------------

def test_early_exit_on_critical():
    calls = []

    def mk(key, status, sev):
        def _c():
            calls.append(key)
            return CK.create_check_result(key, key, status, severity=sev)
        return _c

    results = CK.run_readiness_checks([
        mk("c1", "passed", None),
        mk("c2", "failed", "high"),      # non-critical failure: continue
        mk("c3", "failed", "critical"),  # critical: stop here
        mk("c4", "passed", None),
    ])
    assert calls == ["c1", "c2", "c3"]
    assert [r["key"] for r in results] == ["c1", "c2", "c3"]


def test_full_check_sequence_with_settings_gate(claims, stats):
    """Check 1 (settings validation) gates the expensive checks: an invalid
    settings doc means the claims/stats Spark jobs never launch."""
    from data_quality_analyzer_spark import config as CFG

    launched = []

    def check1_bad():
        return CFG.validate_settings(None)

    def check2():
        launched.append("check2")
        return CK.check_claims_data(claims)

    results = CK.run_readiness_checks([check1_bad, check2])
    assert len(results) == 1 and results[0]["severity"] == "critical"
    assert launched == []  # early exit before any Spark job

    results = CK.run_readiness_checks(
        [lambda: CFG.validate_settings(CFG.default_doc()), check2]
    )
    assert len(results) == 2 and launched == ["check2"]


def test_run_checks_script_end_to_end(spark, claims, monkeypatch, capsys):
    """scripts/run_checks.py (the EP2 gate) on the 1,500-claim fixture: all
    five checks run and each reports the result, metrics included, of a
    direct call."""
    import importlib.util
    import json

    from data_quality_analyzer_spark import config as CFG

    script = os.path.join(os.path.dirname(__file__), "..", "scripts", "run_checks.py")
    spec = importlib.util.spec_from_file_location("run_checks_script", script)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    monkeypatch.setattr(
        "sys.argv", ["run_checks.py", "--claims", os.path.join(FIX, "claims.parquet")]
    )
    mod.main()
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["checks_run"] == 5 and out["early_exit"] is False

    stats = CL.generate_stats(claims)
    direct = [
        CFG.validate_settings(CFG.default_doc()),
        CK.check_claims_data(claims),
        CK.check_stats_quality(claims, stats),
        CK.check_diagnosis_diversity(claims),
        CK.check_data_quality_sampled(stats),
    ]
    assert out["checks"] == json.loads(json.dumps(direct, default=str))
