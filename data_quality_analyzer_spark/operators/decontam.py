"""Eval-set decontamination: drop training documents that contain
benchmark/eval text, verified by word-n-gram CONTAINMENT.

Every production training-data pipeline must remove documents overlapping
its eval/benchmark sets (GPT-3 §C / PaLM-style n-gram decontamination).
The reference repo's closest analogue is the set-coverage anti-join of
``charge_analysis_checks.py:666-699`` ("claims whose codes all appear in
the reference set"); decontamination is the same shape with the reference
set = eval n-grams and a *fractional* coverage verdict.

Why containment, not Jaccard: eval docs are short and may be fully embedded
inside a much larger training document — symmetric Jaccard of the two
n-gram sets would be near zero there, while containment
``|eval ∩ doc| / |eval|`` is 1.0.  The asymmetric ratio is the correct
contamination signal.

Scale design (100 TB corpus, MB-scale eval ledger):

* The gram derivation is pure Catalyst (``split``/``transform``/``slice``/
  ``xxhash64`` + ``array_distinct`` BEFORE explode — per-doc dedup costs no
  shuffle) and stays inside whole-stage codegen; no Python touches the hot
  path.
* Eval sets are bounded by construction (benchmarks are thousands of
  documents, not billions), so the eval-gram relation is **broadcast**:
  the overlap join is map-side; the only shuffle is the
  ``groupBy(doc_id, eval_id)`` overlap count, whose input is already
  filtered to grams that actually hit the ledger (a tiny fraction of the
  corpus' grams).  If an eval ledger ever outgrew broadcast, drop the
  ``broadcast()`` hint and the same plan runs as a shuffle join — shape
  unchanged.
* Documents with fewer than ``n`` words produce no grams and can never be
  flagged — they pass through :func:`decontaminate` untouched by
  construction (no special-casing needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX

DEFAULT_N = 3
DEFAULT_THRESHOLD = 0.8


def word_gram_hashes(text_col: str, n: int = DEFAULT_N):
    """array<bigint> of DISTINCT hashed word-``n``-gram ids of a text
    column: its lower-cased whitespace tokens (``TX.WS_TOKENS_SPARK``),
    each n-token window hashed with ``xxhash64``.  Pure Catalyst — codegen'd,
    Arrow never involved.  Rows with fewer than ``n`` words yield an empty
    array."""
    if n < 1:
        # n=0 would reduce EVERY doc to the single gram xxhash64('') and
        # flag the whole corpus as contaminated — refuse loudly
        raise ValueError(f"gram size n must be >= 1, got {n}")
    words = TX.WS_TOKENS_SPARK.format(c=text_col)
    # HOF let-binding: evaluate the words array ONCE per row and bind it
    # as the lambda variable `w` — higher-order functions are
    # CodegenFallback-interpreted, so without the binding the
    # tokenization would re-run for the size check, the sequence bound,
    # and every slice.  Null text → null words array; the
    # explicit IS NULL arm matters because ANSI size(NULL) is NULL, which
    # would fall through to the ELSE and null the whole result.
    return F.expr(
        f"transform(array({words}), w -> "
        f"CASE WHEN w IS NULL OR size(w) < {n} "
        f"THEN cast(array() as array<bigint>) "
        f"ELSE array_distinct(transform(sequence(1, size(w) - {n} + 1), "
        f"i -> xxhash64(concat_ws(' ', slice(w, i, {n}))))) END)[0]"
    )


def _exploded_grams(
    df: DataFrame, text_col: str, id_col: str, out_id: str, n: int
) -> DataFrame:
    """(out_id, gram) — one row per distinct gram per document.  The
    within-doc distinct happens in ``array_distinct`` before the explode,
    so no shuffle is spent deduplicating."""
    return (
        df.select(
            F.col(id_col).alias(out_id),
            F.explode(word_gram_hashes(text_col, n)).alias("gram"),
        )
    )


def contamination_hits(
    docs: DataFrame,
    eval_grams: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = DEFAULT_N,
) -> DataFrame:
    """Per (document, eval-doc) containment audit table.

    ``eval_grams`` must be a ``(eval_id, gram)`` relation of distinct
    grams per eval doc — from :func:`eval_gram_table` or read back from a
    committed contamination ledger (``plans.lineage.read_contamination``).

    Returns ``(doc_id, eval_id, overlap, eval_grams, containment)`` where
    ``containment = overlap / eval_grams`` ∈ (0, 1].  Only pairs with at
    least one shared gram appear.
    """
    doc_grams = _exploded_grams(docs, text_col, id_col, "_doc_id", n)
    sizes = eval_grams.groupBy("eval_id").agg(
        F.count("*").alias("eval_grams")
    )
    overlap = (
        doc_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy("_doc_id", "eval_id")
        .agg(F.count("*").alias("overlap"))
    )
    return (
        overlap.join(F.broadcast(sizes), "eval_id")
        .select(
            F.col("_doc_id").alias("doc_id"),
            "eval_id",
            "overlap",
            "eval_grams",
            (F.col("overlap") / F.col("eval_grams")).alias("containment"),
        )
    )


def eval_gram_table(
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = DEFAULT_N,
) -> DataFrame:
    """(eval_id, gram) distinct-gram relation of an eval corpus — the
    in-memory form of the contamination ledger."""
    return _exploded_grams(eval_docs, text_col, id_col, "eval_id", n)


def decontaminate(
    docs: DataFrame,
    eval_grams: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = DEFAULT_N,
    threshold: float = DEFAULT_THRESHOLD,
) -> DataFrame:
    """Drop every document whose n-gram containment of ANY eval doc is
    ≥ ``threshold``.  Documents too short to produce grams pass through.
    """
    hits = (
        contamination_hits(docs, eval_grams, text_col, id_col, n)
        .filter(F.col("containment") >= threshold)
        .select(F.col("doc_id").alias(id_col))
        .distinct()
    )
    return docs.join(hits, on=id_col, how="left_anti")
