"""Every queries()/oracle_sql() pair must agree with DuckDB — the same
comparison the driver's correctness gate runs (here at sf0.001 for speed;
the driver re-runs at sf0.01)."""

from __future__ import annotations

import pytest

from data_quality_analyzer_spark.oracle.compare import run_compare
from data_quality_analyzer_spark.plans import entry_queries as EQ

SF_DIR = "/root/testdata/sf0.001"


def test_registry_complete():
    qs, oracles = EQ.queries(), EQ.oracle_sql()
    assert len(qs) >= 30
    assert set(oracles) == set(qs)


@pytest.mark.parametrize("name", sorted(EQ.queries()))
def test_query_matches_oracle(spark, name):
    results = run_compare(spark, SF_DIR, [name])
    r = results[0]
    assert r.ok, f"{name}: {r.issues}"


def test_flagship_entry(spark):
    df = EQ.flagship(spark, SF_DIR)
    rows = df.collect()
    assert len(rows) > 0
    assert {"lang", "n_docs", "n_keep", "n_drop"} == set(df.columns)


# `_spread` readers among the near-dup, decontamination, sampling and
# clustering builders
_SPREAD_QUERIES = [
    "q26_minhash_signatures", "q27_simhash", "q37_near_dup_pairs",
    "q38_simhash_hamming", "q43_minhash_poly_signatures",
    "q44_near_dup_clusters", "q45_near_dup_dedup_action",
    "q46_fingerprint_group_near_dup", "q48_embedding_dedup_action",
    "q49_decontamination", "q62_dsir_importance", "q64_crossdoc_dup_ngrams",
    "q66_kmeans_clusters", "q67_semantic_dedup", "q68_dsir_weighted_sample",
]


@pytest.mark.parametrize("name", _SPREAD_QUERIES)
def test_big_table_is_not_spread(spark, monkeypatch, name):
    """A table big enough to scan wide is read as is: no round-robin
    exchange anywhere in the plan, and the oracle still agrees (the
    spread-on side is test_query_matches_oracle at sf0.001)."""
    monkeypatch.setattr(EQ, "_table_bytes", lambda sf_dir, table: 1 << 60)
    r = run_compare(spark, SF_DIR, [name])[0]
    assert r.ok, f"{name}: {r.issues}"
    df = EQ.queries()[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" not in plan, plan


def test_only_spread_repartitions():
    """The input-spread decision has one owner: no builder in
    entry_queries.py calls ``.repartition(`` outside ``_spread``."""
    import ast
    import inspect

    tree = ast.parse(inspect.getsource(EQ))
    offenders = [
        f"{getattr(top, 'name', '<module>')}:{node.lineno}"
        for top in tree.body
        if getattr(top, "name", None) != "_spread"
        for node in ast.walk(top)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "repartition"
    ]
    assert not offenders, offenders


def test_only_read_table_reads():
    """Every catalog table comes through ``sources.catalog.read_table``:
    entry_queries.py touches no ``spark.read`` and calls no ``.parquet(``."""
    import ast
    import inspect

    offenders = [
        node.lineno
        for node in ast.walk(ast.parse(inspect.getsource(EQ)))
        if isinstance(node, ast.Attribute) and node.attr in ("read", "parquet")
    ]
    assert not offenders, offenders



def _event_rows(extra) -> list[dict]:
    """Rows of the events table for (event_id, second, user_id,
    event_type) tuples, ``second`` counted from 2024-02-01."""
    import datetime as dt

    t0 = dt.datetime(2024, 2, 1)
    return [
        {"event_id": eid, "ts": t0 + dt.timedelta(seconds=s), "user_id": uid,
         "event_type": typ, "value": 1.0, "props": "{}"}
        for eid, s, uid, typ in extra
    ]


def _tables_with_events(tmp_path, extra) -> str:
    """The sf0.001 tables copied to ``tmp_path`` with ``extra`` events
    appended to the events table (see :func:`_event_rows`)."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    for f in os.listdir(SF_DIR):
        shutil.copy(os.path.join(SF_DIR, f), tmp_path / f)
    events = pq.read_table(tmp_path / "events.parquet")
    extra_t = pa.Table.from_pylist(_event_rows(extra), schema=events.schema)
    pq.write_table(
        pa.concat_tables([events, extra_t]), tmp_path / "events.parquet"
    )
    return str(tmp_path)


def test_q88_drops_null_user_sessions(spark, tmp_path):
    """Events without a user form no session: a NULL-user_id view →
    click → purchase run must not add a (converted) session, matching
    the oracle's staged USING-joins.  The copy is read once before its
    events are rewritten at the same path, so the NULL-user rows come
    through a table the catalog reader has already seen."""
    q88 = ["q88_session_funnel"]
    sf = _tables_with_events(tmp_path, [])
    assert run_compare(spark, sf, q88)[0].ok
    steps = ["view", "click", "purchase"]
    _tables_with_events(
        tmp_path, [(10_000 + i, 60 * i, None, t) for i, t in enumerate(steps)]
    )
    r = run_compare(spark, sf, q88)[0]
    assert r.ok, r.issues


def test_q88_mega_session_collects_only_funnel_events(spark, tmp_path):
    """One 20,003-event session with three funnel events: its collected
    list holds those three, not the session's length, it converts, and
    a session without any funnel event still counts in n_sessions."""
    uid_a, uid_b = 1_000, 1_001  # users the fixture does not have
    extra = [(20_000 + i, i, uid_a, "error") for i in range(20_000)]
    extra += [(40_000, 100, uid_a, "view"), (40_001, 200, uid_a, "click"),
              (40_002, 300, uid_a, "purchase"), (40_003, 50, uid_b, "error")]
    events = spark.createDataFrame(
        _event_rows(extra),
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )
    sizes = {
        r["user_id"]: r["n"]
        for r in EQ._q88_sessions(events)
        .selectExpr("user_id", "size(_ev) AS n").collect()
    }
    assert sizes == {uid_a: 3, uid_b: 0}

    q88 = EQ.queries()["q88_session_funnel"]
    sf = _tables_with_events(tmp_path, extra)
    r = run_compare(spark, sf, ["q88_session_funnel"])[0]
    assert r.ok, r.issues
    base, out = q88(spark, SF_DIR).first(), q88(spark, sf).first()
    assert out["n_sessions"] == base["n_sessions"] + 2
    for col in ("n_step1", "n_step2", "n_step3"):
        assert out[col] == base[col] + 1
    assert out["converted_checksum"] == base["converted_checksum"] ^ (
        uid_a * 1000003 + 1
    )
