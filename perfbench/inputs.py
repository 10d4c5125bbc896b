"""Seeded, cached, versioned inputs for the benchmark workloads.

Every input is a pure function of (generator version, parameters, seed).
A generated input is kept under ``perfbench/.work/inputs/<key>`` with a
``_READY`` marker, so a second run with the same seed reuses it.  The key
carries a digest of the generator sources (the package's ``sources/``
modules and this file): a changed generator can never serve a stale input.

The catalog tables mimic the shape of the repo's star-schema test tables
(``sources.catalog.TABLES``): same columns, types, value domains and planted
near-duplicate documents.  Their seed is fixed, so the 102 DuckDB twins are
checked against one data set; the run seed only orders the catalog.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import os
import shutil

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
INPUT_DIR = os.path.join(HERE, ".work", "inputs")
GEN_VERSION = 1
CATALOG_SEED = 42
KEEP_CACHED = 8  # newest cached inputs kept; older ones are evicted


def _source_digest() -> str:
    h = hashlib.sha256()
    paths = sorted(glob.glob(os.path.join(REPO, "data_quality_analyzer_spark", "sources", "*.py")))
    for p in paths + [os.path.abspath(__file__)]:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def cached(kind: str, params: str, seed: int, build) -> tuple[str, bool]:
    """Return (directory, cache_hit) for the input ``kind`` built by
    ``build(directory)``; builds into a temp dir and renames it in place."""
    key = f"{kind}-v{GEN_VERSION}-{_source_digest()}-{params}-s{seed}"
    d = os.path.join(INPUT_DIR, key)
    if os.path.exists(os.path.join(d, "_READY")):
        os.utime(d)
        return d, True
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_READY"), "w").close()
    os.replace(tmp, d)
    _evict()
    return d, False


def _evict() -> None:
    entries = [
        os.path.join(INPUT_DIR, e) for e in os.listdir(INPUT_DIR) if not e.endswith(".tmp")
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[KEEP_CACHED:]:
        shutil.rmtree(old, ignore_errors=True)


def corpus(rows: int, files: int, seed: int) -> tuple[str, bool]:
    """The image+caption corpus (``sources.fixtures.write_corpus``)."""
    from data_quality_analyzer_spark.sources.fixtures import write_corpus

    d, hit = cached(
        "corpus", f"{rows}x{files}", seed,
        lambda out: write_corpus(out, rows, seed=seed, n_files=files),
    )
    return os.path.join(d, "images.parquet"), hit


def claims(n_claims: int, seed: int) -> tuple[str, bool]:
    """The nested claims table (``sources.claims_fixture.write_claims``)."""
    from data_quality_analyzer_spark.sources.claims_fixture import write_claims

    d, hit = cached(
        "claims", str(n_claims), seed,
        lambda out: write_claims(out, n_claims, seed=seed),
    )
    return os.path.join(d, "claims.parquet"), hit


def catalog(sf: float) -> tuple[str, bool]:
    """The ten catalog tables at scale factor ``sf`` (fixed seed)."""
    return cached("catalog", f"sf{sf}", CATALOG_SEED, lambda out: write_catalog(out, sf))


# ---------------------------------------------------------------------------
# catalog tables
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "fr", "es", "zh", "de"]
_WORDS = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()


def _days(rng, n: int, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def write_catalog(out_dir: str, sf: float, seed: int = CATALOG_SEED) -> None:
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
    n_docs = n_vecs = 500

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [f"{rng.choice(_ADJ)} {rng.choice(_NOUN)}" for _ in range(n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": money(900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }),
        "events": _events(rng, n_ev, n_users),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }
    for name, df in tables.items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.cast(pa.schema([
                ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32()),
            ]))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _events(rng, n: int, n_users: int):
    import pandas as pd

    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype="int64"),
        "ts": start + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n).astype("int64"),
        "event_type": rng.choice(_EVENTS, n),
        "value": np.round(np.maximum(rng.exponential(50.0, n), 0.01), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng, n: int):
    """Random-word documents; 5% are planted near-duplicates (an earlier
    document with one to three ``dup`` tokens appended)."""
    import pandas as pd

    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 4)))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def _embeddings(rng, n: int, dim: int = 64):
    import pandas as pd

    v = rng.standard_normal((n, dim)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": list(v),
        "label": rng.integers(0, 10, n).astype("int32"),
    })
