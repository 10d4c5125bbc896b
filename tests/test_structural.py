"""Structural (magic/trailer) integrity pre-gate: planted corruption
cases per format, tri-state semantics, duck-twin parity, and the
plan-level guarantee that the check never leaves the JVM."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from data_quality_analyzer_spark.operators import images as IM

GOOD_JPEG = bytes.fromhex("ffd8") + b"payload" + bytes.fromhex("ffd9")
GOOD_PNG = (
    bytes.fromhex("89504e470d0a1a0a")
    + b"chunks"
    + bytes.fromhex("49454e44ae426082")
)
GOOD_GIF = bytes.fromhex("47494638") + b"39aXYZ" + bytes.fromhex("3b")

ROWS = [
    (0, "jpeg", GOOD_JPEG),
    (1, "jpeg", GOOD_JPEG[:-1]),          # truncated: trailer gone
    (2, "jpeg", b"\x00" + GOOD_JPEG[1:]),  # stomped magic
    (3, "png", GOOD_PNG),
    (4, "png", GOOD_PNG[:-3]),            # truncated mid-IEND
    (5, "gif", GOOD_GIF),
    (6, "gif", GOOD_GIF[:-1]),            # trailer byte gone
    (7, "ppm", b"P6 1 1 255 xxx"),        # no framing rule -> NULL verdicts
    (8, "jpeg", None),                     # NULL bytes -> NULL verdicts
    (9, "JPEG ", GOOD_JPEG),               # case/space-insensitive fmt
    (10, "jpeg", bytes.fromhex("ffd8ffd9")),  # header+trailer only: intact
    (11, "jpeg", bytes.fromhex("ffd9")),   # lone trailer: header fails
]


@pytest.fixture(scope="module")
def imgs(spark):
    return spark.createDataFrame(
        ROWS, "doc_id long, fmt string, bytes binary"
    )


def test_structural_flags_planted(imgs):
    got = {
        r["doc_id"]: (
            r["framing"]["header_ok"],
            r["framing"]["trailer_ok"],
            r["framing"]["intact"],
        )
        for r in IM.structural_gate(imgs, "bytes", "fmt").collect()
    }
    assert got[0] == (True, True, True)
    assert got[1] == (True, False, False)
    assert got[2] == (False, True, False)
    assert got[3] == (True, True, True)
    assert got[4] == (True, False, False)
    assert got[5] == (True, True, True)
    assert got[6] == (True, False, False)
    assert got[7] == (None, None, None)
    assert got[8] == (None, None, None)
    assert got[9] == (True, True, True)  # 'JPEG ' normalizes to jpeg
    assert got[10] == (True, True, True)  # min length == hdr+tl: framing-only gate
    assert got[11] == (False, True, False)


def test_structural_duck_twin_parity(imgs):
    """The hex-string DuckDB decomposition must agree with the Spark
    binary path on every planted row and every flag."""
    spark_rows = {
        r["doc_id"]: (
            r["framing"]["header_ok"],
            r["framing"]["trailer_ok"],
            r["framing"]["intact"],
        )
        for r in IM.structural_gate(imgs, "bytes", "fmt").collect()
    }
    con = duckdb.connect()
    con.register(
        "imgs",
        pd.DataFrame(ROWS, columns=["doc_id", "fmt", "bytes"]),
    )
    sql = ", ".join(
        IM.structural_flag_sql("bytes", "fmt", w) + f" AS {w}"
        for w in ("header_ok", "trailer_ok", "intact")
    )
    duck_rows = {
        int(i): (h, t, k)
        for i, h, t, k in con.execute(
            f"SELECT doc_id, {sql} FROM imgs"
        ).fetchall()
    }
    assert spark_rows == duck_rows


def test_structural_gate_stays_jvm_side(imgs):
    """Whole-stage codegen only: no Python/Arrow node may appear — the
    entire point of the pre-gate is that rejected bytes never cross."""
    plan = (
        IM.structural_gate(imgs, "bytes", "fmt")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
