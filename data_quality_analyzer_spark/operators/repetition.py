"""Gopher-style n-gram repetition metrics — the published repetition
rules of large-scale corpus filtering (Rae et al. 2021, "Scaling Language
Models: ... Gopher", Table A1: drop documents whose most frequent
2/3/4-gram covers too large a character fraction, or whose duplicated
5..10-grams cover too large a fraction).  The engine's heuristic
``repetition`` rule (``TX.distinct_token_ratio``) catches single-token
loops; these metrics catch PHRASE-level loops (repeated sentences,
navigation blocks, template spam) that keep distinct-token ratio high.

Metric definitions (pinned, identical in Spark / numpy / DuckDB):

* tokens = the whitespace tokens of ``lower(text)`` (the one class and
  edge trim of ``functions/text.py``);
* an n-gram's text is ``concat_ws(' ', window)`` — its char length is
  the token lengths plus the n-1 joining spaces;
* ``L`` = char length of ``concat_ws(' ', tokens)`` (the normalized doc);
* ``top_frac(n)``  = min(1, max over distinct n-grams of
  count·len(gram) / L) — the character fraction the single most
  repeated phrase covers;
* ``dup_frac(n)``  = min(1, Σ over n-grams with count ≥ 2 of
  count·len(gram) / L) — the character fraction covered by ALL repeated
  phrases.  Both capped: overlapping windows ("spam spam spam spam")
  can nominally exceed the doc length.

Docs with fewer than n tokens emit no row for that n.

Two physical forms, equal by test (and to the DuckDB twin
:func:`token_ngram_metrics_duck_sql`):

* :func:`token_ngram_metrics` — the NATIVE analytics form: each doc's
  gram array is sorted and run-length-encoded by one ``aggregate`` HOF,
  map-only (no gram-row shuffle); right for audits and for the q56
  oracle-checked query.
* :func:`repetition_metrics_udf` — the MAP-ONLY Arrow kernel for
  filter-stage use at 10^12 rows (no shuffle): chunk-global numpy —
  one utf-32-free token hash pass (``hashing.poly60_token_np``),
  windowed gram hashes combined with the Mersenne mix, per-(doc, gram)
  counts via one lexsort + run-length encoding, per-doc max/sum via
  ``reduceat``.  Gram identity is the 60-bit hash (collision odds
  ~1e-18 per pair — distinct grams colliding would merge two counts).

Reference ancestor: the reference's duplicate-detection quirk-5 path
(A12 re-aggregation, ``additional_charge_checks.py``) — upgraded from
exact-row duplicates to phrase-level repetition statistics.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import hashing as HH
from ..functions import text as TXF

# (n, Gopher Table A1 threshold) — top-n-gram char fraction for small n,
# duplicated-n-gram char fraction for n ≥ 5.
GOPHER_TOP_THRESHOLDS = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_THRESHOLDS = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
DEFAULT_NS = (2, 3, 5)

_TOKS = TXF.WS_TOKENS_SPARK


# sorted-RLE fold pieces of the native form: finalize the run
# that just ended (cover = count × gram chars)
_RLE_COVER = (
    "IF(s.prev IS NULL, s.best, "
    "greatest(s.best, s.cnt * CAST(length(s.prev) AS BIGINT)))"
)
_RLE_DUP = (
    "s.dup + IF(s.prev IS NOT NULL AND s.cnt >= 2, "
    "s.cnt * CAST(length(s.prev) AS BIGINT), CAST(0 AS BIGINT))"
)
_RLE_ZERO = (
    "named_struct('prev', CAST(NULL AS STRING), 'cnt', CAST(0 AS BIGINT), "
    "'tot', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT), "
    "'dup', CAST(0 AS BIGINT))"
)
_RLE_STEP = (
    "(s, g) -> IF(s.prev IS NOT NULL AND g = s.prev, "
    "named_struct('prev', g, 'cnt', s.cnt + CAST(1 AS BIGINT), "
    "'tot', s.tot + CAST(1 AS BIGINT), 'best', s.best, 'dup', s.dup), "
    "named_struct('prev', g, 'cnt', CAST(1 AS BIGINT), "
    "'tot', s.tot + CAST(1 AS BIGINT), "
    f"'best', {_RLE_COVER}, 'dup', {_RLE_DUP}))"
)


def token_ngram_metrics(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ns: tuple[int, ...] = DEFAULT_NS,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [carry_cols...], n, top_frac, dup_frac) per document — the
    native MAP-ONLY form.  NULL/blank texts and docs with < n tokens
    emit no row for that n.  ``carry_cols`` ride through unchanged.

    Both metrics are within-document statistics, so exploding grams
    into a corpus-wide groupBy buys nothing but a gram-row shuffle;
    instead each doc sorts its own gram array and one ``aggregate`` HOF
    run-length-encodes it — top cover = max run·chars, dup cover = Σ
    runs ≥ 2 — entirely inside whole-stage codegen, zero exchange on the
    corpus-sized side (measured 5.8 s → 1.6 s for q56 at sf0.1 against
    the explode + two-aggregate form it replaced).

    Grams are built by a ``zip_with`` LADDER: gram_k[i] = gram_{k-1}[i]
    + ' ' + toks[i+k-1], one elementwise concat of two aligned slices
    per level (a ``slice`` per window inside a ``transform`` lambda
    measured 10× slower per gram).  Short docs fall out naturally: size
    < k makes both slices empty.  Exact equality with the DuckDB twin
    and the Arrow kernel is pinned in tests/test_repetition.py."""
    toks = F.expr(_TOKS.format(c=text_col))
    levels: dict[int, str] = {1: "_toks"}
    for k in range(2, max(ns) + 1):
        m = f"greatest(size(_toks) - {k - 1}, 0)"
        levels[k] = (
            f"zip_with(slice({levels[k - 1]}, 1, {m}), "
            f"slice(_toks, {k}, {m}), (a, b) -> concat(a, ' ', b))"
        )
    per_n = ", ".join(
        # greatest(_L, 1): a blank doc has zero windows and is filtered
        # below, but ANSI mode still evaluates 0/_L inside the filtered
        # row — the clamp never changes a surviving row's value
        f"aggregate(array_sort({levels[n]}), {_RLE_ZERO}, {_RLE_STEP}, "
        f"s -> named_struct('n', {n}, 'wins', s.tot, "
        f"'top_frac', round(least(1.0D, {_RLE_COVER} / greatest(_L, 1)), 6), "
        f"'dup_frac', round(least(1.0D, ({_RLE_DUP}) / greatest(_L, 1)), 6)))"
        for n in ns
    )
    rows = f"filter(array({per_n}), x -> x.wins > 0)"
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), *[F.col(c) for c in carry_cols],
                toks.alias("_toks"))
        .select(F.col(id_col), *[F.col(c) for c in carry_cols],
                F.col("_toks"),
                F.expr("length(concat_ws(' ', _toks))").alias("_L"))
        .select(id_col, *carry_cols, F.explode(F.expr(rows)).alias("_m"))
        .select(
            id_col, *carry_cols,
            F.col("_m.n").alias("n"),
            F.col("_m.top_frac").alias("top_frac"),
            F.col("_m.dup_frac").alias("dup_frac"),
        )
    )


def token_ngram_metrics_duck_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    ns: tuple[int, ...] = DEFAULT_NS,
) -> str:
    """DuckDB twin of :func:`token_ngram_metrics` (same pinned
    definitions; used by the q56 oracle)."""
    toks = TXF.WS_TOKENS_DUCK.format(c=text_col)
    per_n = " UNION ALL ".join(
        f"SELECT {id_col}, length(array_to_string(toks, ' ')) AS L, {n} AS n, "
        f"unnest(list_transform(range(1, greatest(len(toks) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(toks[CAST(i AS INT):CAST(i + {n - 1} AS INT)], ' '))) AS gram "
        f"FROM (SELECT {id_col}, {toks} AS toks FROM {table} "
        f"WHERE {text_col} IS NOT NULL)"
        for n in ns
    )
    return f"""
    WITH grams AS ({per_n}),
    counts AS (
      SELECT {id_col}, L, n, gram, COUNT(*) AS cnt
      FROM grams GROUP BY {id_col}, L, n, gram
    )
    SELECT {id_col}, n,
           ROUND(LEAST(1.0, MAX(cnt * length(gram)) / ANY_VALUE(L)), 6)
             AS top_frac,
           ROUND(LEAST(1.0, SUM(CASE WHEN cnt >= 2
                                THEN cnt * length(gram) ELSE 0 END)
                 / ANY_VALUE(L)), 6) AS dup_frac
    FROM counts GROUP BY {id_col}, n
    """


# ---------------------------------------------------------------------------
# Map-only Arrow kernel (the filter-stage form).
# ---------------------------------------------------------------------------

_SCORE_CHUNK = 2048
# per-position mix weights for combining consecutive token hashes into a
# window hash: h_g = (Σ_j mix_j(h_tok)) mod P with the library's Mersenne
# affine mixes — windows differing in any position get independent hashes.


def _metrics_chunk(
    texts: list[str], ns: tuple[int, ...]
) -> dict[int, np.ndarray]:
    """(top_frac, dup_frac) arrays per n for one chunk of non-null texts.
    Fully vectorized: one token-hash pass, per-n window combine, one
    lexsort per n, run-length counts, per-doc reduceat.  Tokens are
    ``TXF.tokens_python``'s, the native form's rule (``str.split()``
    would also split on NBSP)."""
    toks_per_doc = [TXF.tokens_python(t.lower()) for t in texts]
    n_docs = len(texts)
    doc_ntok = np.array([len(t) for t in toks_per_doc], dtype=np.int64)
    flat = [tok for toks in toks_per_doc for tok in toks]
    tok_len = np.array([len(t) for t in flat], dtype=np.int64)
    tok_doc = np.repeat(np.arange(n_docs), doc_ntok)
    th = HH.poly60_token_np(flat) if flat else np.empty(0, dtype=np.int64)
    # normalized doc char length L = Σ token lens + (ntok - 1) spaces
    L = np.zeros(n_docs, dtype=np.int64)
    if flat:
        np.add.at(L, tok_doc, tok_len)
    L += np.maximum(doc_ntok - 1, 0)
    starts = np.cumsum(doc_ntok) - doc_ntok
    out: dict[int, np.ndarray] = {}
    # prefix char sums for O(1) windowed gram lengths
    pref = np.concatenate(([0], np.cumsum(tok_len)))
    for n in ns:
        cnt = np.maximum(doc_ntok - (n - 1), 0)  # windows per doc
        total = int(cnt.sum())
        res = np.zeros((2, n_docs), dtype=np.float64)
        if total:
            # window start indices into the flat arrays
            wdoc = np.repeat(np.arange(n_docs), cnt)
            woff = np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)
            wstart = starts[wdoc] + woff
            # combine the n token hashes with n distinct affine mixes
            # (one mix pass over all token hashes, then windowed gather;
            # running mod keeps every partial sum < 2·P < 2^63)
            mixes = HH.mix_np(th, n)
            gh = np.zeros(total, dtype=np.int64)
            for j in range(n):
                gh = (gh + mixes[j, wstart + j]) % HH.MERSENNE_P
            glen = pref[wstart + n] - pref[wstart] + (n - 1)
            # per-(doc, gram-hash) runs
            order = np.lexsort((gh, wdoc))
            sd, sh, sl = wdoc[order], gh[order], glen[order]
            runs = np.concatenate(
                ([True], (sd[1:] != sd[:-1]) | (sh[1:] != sh[:-1]))
            )
            run_idx = np.flatnonzero(runs)
            run_cnt = np.diff(np.concatenate((run_idx, [total])))
            run_doc = sd[run_idx]
            cover = run_cnt * sl[run_idx]
            # per-doc segments over the run arrays (runs are doc-sorted)
            seg = np.concatenate(
                ([True], run_doc[1:] != run_doc[:-1])
            )
            seg_idx = np.flatnonzero(seg)
            seg_doc = run_doc[seg_idx]
            top = np.maximum.reduceat(cover, seg_idx)
            dup = np.add.reduceat(np.where(run_cnt >= 2, cover, 0), seg_idx)
            res[0, seg_doc] = np.minimum(1.0, top / L[seg_doc])
            res[1, seg_doc] = np.minimum(1.0, dup / L[seg_doc])
        out[n] = res
    return out


def repetition_metrics_udf(ns: tuple[int, ...] = DEFAULT_NS):
    """Arrow-vectorized map-only twin of :func:`token_ngram_metrics`:
    struct<top_frac_<n> double, dup_frac_<n> double, ...> per row (0.0
    where the doc has < n tokens or is NULL — the native form emits no
    row there; the flat 0.0 is the filter-stage convention, matching
    'nothing repeated')."""
    fields = ", ".join(
        f"top_frac_{n} double, dup_frac_{n} double" for n in ns
    )

    @F.pandas_udf(fields)
    def _rep(s: pd.Series) -> pd.DataFrame:
        m = len(s)
        cols = {}
        for n in ns:
            cols[f"top_frac_{n}"] = np.zeros(m, dtype=np.float64)
            cols[f"dup_frac_{n}"] = np.zeros(m, dtype=np.float64)
        vals = s.to_numpy(dtype=object)
        for lo in range(0, m, _SCORE_CHUNK):
            chunk = vals[lo : lo + _SCORE_CHUNK]
            idx = [j for j, t in enumerate(chunk) if isinstance(t, str)]
            if not idx:
                continue
            res = _metrics_chunk([chunk[j] for j in idx], ns)
            rows = lo + np.asarray(idx)
            for n in ns:
                cols[f"top_frac_{n}"][rows] = np.round(res[n][0], 6)
                cols[f"dup_frac_{n}"][rows] = np.round(res[n][1], 6)
        return pd.DataFrame(cols)

    return _rep


# ---------------------------------------------------------------------------
# CROSS-document duplicated n-grams (RefinedWeb-style corpus-level signal)
# ---------------------------------------------------------------------------


def crossdoc_dup_metrics(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Per-document CROSS-document duplicated n-gram fraction: of a doc's
    DISTINCT word-``n``-grams, the fraction that also appear in at least
    one OTHER document (RefinedWeb/MassiveText's corpus-level repetition
    signal — template spam, mirrored articles and licence boilerplate
    score high while staying invisible to every within-doc metric in this
    module and sub-threshold for MinHash near-dup).

    Returns ``(id_col, n_grams, n_dup_grams, dup_frac)`` — one row per
    document with at least one gram (< ``n`` words ⇒ no row, same
    convention as :func:`token_ngram_metrics`).  ``dup_frac`` rounded to
    4 dp.

    Scale shape (the deliberate one, not the first one that works):

    * gram derivation reuses ``decontam.word_gram_hashes`` — pure
      codegen, ``array_distinct`` BEFORE the explode;
    * per-doc gram counts come from ``size()`` of the un-exploded array
      (map-only), NOT from re-aggregating the exploded relation;
    * the gram document-frequency table is filtered to ``count ≥ 2``
      BEFORE joining back, so the big gram⋈gram join's build side holds
      only *duplicated* grams — at production dup rates a small fraction
      of the distinct-gram space;
    * total: one shuffle to count grams, one to join hits, one slim
      id-keyed join to attach counts.  No window, no collect.

    Reference ancestor: A12 re-aggregation duplicate detection
    (additional_charge_checks.py), lifted from exact rows to cross-doc
    phrases.
    """
    from . import decontam as DC
    from ..exec_utils import materialize

    # materialize the (id, gram-hash array) relation: it feeds the size
    # projection, the gram-frequency aggregate AND the dup join-back —
    # without this the tokenize+gram+hash derivation (the expensive
    # codegen chain over the full text) runs three times in the physical
    # plan (the two downstream exchanges differ, so nothing is reused).
    # The checkpointed rows are hashes + ids, far smaller than the text.
    grams = materialize(
        docs.select(
            F.col(id_col), DC.word_gram_hashes(text_col, n).alias("_grams")
        )
    )
    sizes = grams.select(
        id_col, F.size("_grams").alias("n_grams")
    ).filter(F.col("n_grams") > 0)
    exploded = grams.select(id_col, F.explode("_grams").alias("gram"))
    dup_grams = (
        exploded.groupBy("gram")
        .agg(F.count("*").alias("_docs"))
        .filter(F.col("_docs") >= 2)
        .select("gram")
    )
    dup_per_doc = (
        exploded.join(dup_grams, "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_dup_grams"))
    )
    return (
        sizes.join(dup_per_doc, id_col, "left")
        .select(
            id_col,
            "n_grams",
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            F.round(
                F.coalesce("n_dup_grams", F.lit(0)) / F.col("n_grams"), 4
            ).alias("dup_frac"),
        )
    )


def crossdoc_dup_filter(
    docs: DataFrame,
    max_dup_frac: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Drop documents whose cross-doc duplicated n-gram fraction exceeds
    ``max_dup_frac``; docs too short to produce grams pass through (they
    carry no cross-doc evidence either way)."""
    flagged = (
        crossdoc_dup_metrics(docs, text_col, id_col, n)
        .filter(F.col("dup_frac") > max_dup_frac)
        .select(id_col)
    )
    return docs.join(flagged, id_col, "left_anti")
