"""End-to-end training-corpus preparation: the composed user story.

One call chains the engine's stages in cost order — cheapest per-row
rejection first, pair-producing work on the smallest possible set:

1. **quality filter + scrub** (``pipeline.run_pipeline``): caption
   heuristics, langid, perplexity, PII scrub, image decode/validate —
   map-only, keep rows survive;
2. **eval-set decontamination** (optional, ``contamination_dir``):
   captions containing benchmark text — verified by n-gram CONTAINMENT
   against the committed gram ledger — are dropped before any pair work
   (``lineage.decontaminate_committed``).  Runs on keeps only and before
   dedup on purpose: a contaminated doc must not survive as its dedup
   cluster's canonical representative.
3. **image near-dedup** (``dedup.dedup_image_near`` within one batch, or
   the committed cross-run phash ledger ``lineage.dedup_incremental_image``
   when a store/batch is given): byte-identical and small-Hamming
   perceptual duplicates collapse to one keeper.

Caption-text near-dedup is deliberately NOT part of image-corpus prep:
distinct images legitimately share captions (alt-text boilerplate), so
dropping rows on caption similarity would delete valid pairs — text
near-dedup belongs to document pipelines (``dedup.dedup_near`` /
``lineage.dedup_incremental_near``).

Reference analogue: the repo-wide analysis entry point that chains every
analysis stage and combines the results (``main.py:17-45``
``run_data_quality``), recast as a linear DataFrame pipeline.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import config as CFG
from ..exec_utils import materialize
from .pipeline import run_pipeline


def _funnel_boundary(funnel, out, stage, prev_rows, line_count=None):
    """One audited stage boundary of the prep funnel: with ``funnel=None``
    a no-op; else materialize, count, and append ``{stage, rows,
    dropped}`` (plus ``lines_out``, the sum of the per-row ``line_count``
    Column, when given).  Returns (out, rows_at_boundary)."""
    if funnel is None:
        return out, None
    out = materialize(out)
    entry = {"stage": stage, "rows": out.count()}
    if prev_rows is not None:
        entry["dropped"] = prev_rows - entry["rows"]
    if line_count is not None:
        entry["lines_out"] = out.agg(
            F.sum(line_count).cast("long")
        ).collect()[0][0] or 0
    funnel.append(entry)
    return out, entry["rows"]


def prep_corpus(
    spark: SparkSession,
    images: DataFrame,
    settings: CFG.PipelineSettings | None = None,
    store_dir: str | None = None,
    batch_id: str | None = None,
    max_hamming: int = 3,
    contamination_dir: str | None = None,
    contamination_threshold: float = 0.8,
    metadata_gate: bool = False,
    alignment_threshold: tuple[int, int] | None = None,
) -> DataFrame:
    """images(input_hint schema) → deduplicated keep-verdict rows.

    ``metadata_gate=True`` prepends the stage-0 catalog-column reject
    (``images.metadata_gate``: min-side/aspect/bytes-per-pixel bounds,
    pure codegen) so implausible rows never pay the decode UDF.  Off by
    default: the gate's keep dials (``META_MIN_SIDE`` etc.) are corpus
    policy, not correctness, and the F1-vs-reference invariant is defined
    on the ungated corpus.

    ``alignment_threshold=(num, den)`` adds the image–caption alignment
    gate (operators/alignment.py: keep ⟺ cos(caption BoW, phash bits)
    ≥ num/den, exact int64 — the CLIP-score filter slot) on the kept
    rows, between the quality verdict and decontamination/dedup: cheap
    map-only scoring runs only on survivors, and dedup then never keeps
    a misaligned canonical.  Off by default for the same F1-invariant
    reason as the metadata gate.

    Returns the verdict-table columns of ``run_pipeline`` restricted to
    kept, deduplicated rows (bytes untouched, caption_scrubbed present).
    With ``store_dir``+``batch_id``, image dedup goes through the
    committed cross-run ledger (drops near-copies of previously committed
    batches, commits this batch's surviving fingerprints atomically);
    without, it dedups within the batch only; rows with a NULL ``phash``
    pass through either dedup untouched.  With ``contamination_dir``,
    rows whose captions contain committed eval/benchmark text are dropped
    between the filter and the dedup (an empty ledger is a no-op).
    """
    if (store_dir is None) != (batch_id is None):
        raise ValueError("store_dir and batch_id must be given together")
    from ..operators import dedup as DD
    from ..operators import images as IM
    from . import lineage as LN

    if metadata_gate:
        images = IM.metadata_gate(images)
    verdicts = run_pipeline(spark, images, settings=settings)
    keeps = verdicts.filter(F.col("keep"))
    if alignment_threshold is not None:
        from ..operators import alignment as AL

        num, den = alignment_threshold
        keeps = (
            AL.alignment_scores(
                keeps, caption_col="caption", image_hash_col="phash",
                num=num, den=den,
            )
            .filter(F.col("align_keep"))
            .drop("align_dot", "align_nrm", "align_keep")
        )
    if contamination_dir is not None:
        keeps = LN.decontaminate_committed(
            spark, keeps, contamination_dir,
            text_col="caption", id_col="image_id",
            threshold=contamination_threshold,
        )
    if store_dir is not None:
        return LN.dedup_incremental_image(
            spark, keeps, store_dir, batch_id, max_hamming=max_hamming
        )
    return DD.dedup_image_near(keeps, max_hamming=max_hamming)


def prep_text_corpus(
    spark: SparkSession,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    contamination_dir: str | None = None,
    contamination_threshold: float = 0.8,
    min_quality_score: float | None = None,
    jaccard_threshold: float = 0.8,
    mixing: dict[str, float] | None = None,
    mixture_parts: dict[str, int] | None = None,
    strata_col: str = "lang",
    sample_seed: int = 0,
    shards_path: str | None = None,
    num_shards: int = 64,
    line_ledger_dir: str | None = None,
    batch_id: str | None = None,
    blocked_sources: list[str] | None = None,
    source_col: str = "source",
    max_dup5_frac: float | None = None,
    funnel: list | None = None,
    finalize_line_ledger: bool | None = None,
    html_col: str | None = None,
    max_link_density: float | None = None,
    max_crossdoc_dup_frac: float | None = None,
    normalize_unicode: bool = False,
) -> DataFrame:
    """The composed DOCUMENT-corpus pipeline — every text stage the engine
    ships, chained in cost order (cheapest per-row rejection first, pair-
    producing work on the smallest surviving set):

    0. **domain/source blocklist** (``domains.apply_blocklist``) when
       ``blocked_sources`` is given — the cheapest reject of all: a
       plan-literal membership filter, before any content is read;
    0b. **HTML → text extraction** (``html.extract_pages``) when
       ``html_col`` is given — the raw-crawl entry point: derives
       ``text_col`` (plus ``title`` and ``link_density`` annotations)
       from the page markup, map-only regexp chains in codegen; when
       ``max_link_density`` is also given, pages whose anchor-text
       fraction exceeds it are rejected here (the jusText
       boilerplate-page gate) before any text stage runs;
    0c. **Unicode normalization** (``normalize_unicode=True``: NFC +
       input-masked mojibake repair, functions/normalize.py) — before
       any fingerprinting stage, independent of ``html_col``;
    1. **heuristic quality filter** (``RU.keep_verdict``: length/token/
       symbol/stopword/repetition bounds) — map-only;
    1b. **Gopher phrase-repetition gate** (``repetition_metrics_udf``)
       when ``max_dup5_frac`` is given — drops docs whose duplicated
       5-gram character fraction exceeds the bound (phrase loops that
       evade the distinct-token-ratio heuristic); map-only Arrow kernel;
    2. **trained quality classifier** (``quality_clf`` Arrow UDF,
       broadcast weights) when ``min_quality_score`` is given — map-only,
       runs after the cheap rules so junk never reaches the model;
    3. **eval-set decontamination** vs a committed gram ledger (optional)
       — broadcast join, before any dedup so a contaminated doc cannot
       become a cluster representative;
    4. **line-level exact dedup** (``dedup_lines``, C4-style boilerplate
       removal) — BEFORE doc-level dedup so two docs differing only in
       boilerplate collapse to byte-identical texts the next stage
       catches;
    5. **document exact dedup** (``dedup_exact``) — one fingerprint
       groupBy;
    6. **document near-dedup** (``dedup_near``: MinHash-LSH → exact
       Jaccard verify → connected components → keep one per cluster);
    6b. **cross-doc repetition gate** (``repetition.
       crossdoc_dup_filter``) when ``max_crossdoc_dup_frac`` is given —
       drops docs whose distinct-5-gram overlap with OTHER documents
       exceeds the bound (mirrors/templates below the Jaccard
       threshold); deliberately after near-dedup: the heaviest text
       shuffle runs on the smallest surviving set;
    7. **corpus mixing** (``stratified_sample``) when ``mixing`` weights
       are given — deterministic hash selection; OR ``mixture_parts``
       (integer ratio, e.g. ``{"en": 60, "de": 20}``) to PLAN the
       fractions from the surviving corpus's token mass via
       ``plan_mixture`` (q79) before sampling — the two are mutually
       exclusive;
    8. **shard write** (``shards.write_training_shards``) when
       ``shards_path`` is given — reproducible layout.

    Returns the surviving rows (post-mixing, pre-shard-write schema).
    Each stage is individually oracle-proven (q23/q49/q50/q25/q37/q44/
    q52); this composition is the user story and is tested with planted
    rows exercising every stage (tests/test_pipeline_oracle.py).

    **Funnel audit** (round-4 VERDICT task 8): pass ``funnel=[]`` and the
    list fills with one dict per executed stage — ``{"stage", "rows",
    "dropped"}`` plus ``lines_in``/``lines_out`` on the line-dedup stage
    (boilerplate lines removed; docs emptied show up in its ``dropped``)
    and the contamination stage's ``dropped`` = contamination hits — so
    the lineage explains the whole funnel, not just the end count.  Each
    audited stage boundary is materialized and counted (one extra action
    per stage; the default ``funnel=None`` adds zero work).
    ``funnel_metrics_df`` turns the list into a DataFrame for writing
    next to the corpus.

    **Ledger commit ordering** (round-4 ADVICE): in cross-run mode the
    line ledger is PREPARED before and FINALIZED only after the shard
    write succeeds, so a crash mid-write leaves the batch uncommitted and
    cleanly retryable instead of permanently swallowed.  Without a
    ``shards_path`` there is no durable output to order the commit
    behind — the caller must choose: pass ``finalize_line_ledger=True``
    to commit at return (the returned survivors are materialized but
    only process-durable), or leave it unset and call
    ``lineage.finalize_incremental_lines(line_ledger_dir, batch_id)``
    yourself AFTER persisting the result; the un-chosen case raises.
    """
    from ..functions import quality_clf as QC
    from ..operators import dedup as DD
    from ..operators import domains as DM
    from ..operators import rules as RU
    from ..operators import sampling as SP
    from . import lineage as LN
    from . import shards as SH

    n_lines = F.size(
        F.filter(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n"),
            lambda ln: F.trim(ln) != "",
        )
    )

    audit = functools.partial(_funnel_boundary, funnel)

    out, n = audit(docs, "input", None)
    if blocked_sources is not None:
        out = DM.apply_blocklist(out, blocked_sources, source_col)
        out, n = audit(out, "blocklist", n)
    if html_col is not None:
        from ..operators import html as HT

        out = HT.extract_pages(out, html_col=html_col, text_col=text_col)
        if max_link_density is not None:
            # NULL density (NULL page) falls through to the heuristics
            # stage, which drops blank text anyway
            out = out.filter(
                F.coalesce(
                    F.col("link_density") <= max_link_density, F.lit(True)
                )
            )
        out, n = audit(out, "html_extract", n)
    elif max_link_density is not None:
        raise ValueError("max_link_density requires html_col")
    if normalize_unicode:
        # stage 0c: NFC + gated mojibake repair (functions/normalize.py)
        # BEFORE any hashing stage — composed/decomposed twins of the
        # same visible text must fingerprint identically downstream
        from ..functions import normalize as NZ

        out = NZ.normalize_text(out, text_col)
        out, n = audit(out, "normalize_unicode", n)
    out = out.filter(
        F.coalesce(RU.keep_verdict(F.col(text_col)), F.lit(False))
    )
    out, n = audit(out, "heuristics", n)
    if max_dup5_frac is not None:
        from ..operators import repetition as RP

        rep = RP.repetition_metrics_udf(ns=(5,))
        out = out.withColumn("_rep", rep(F.col(text_col))).filter(
            F.col("_rep.dup_frac_5") <= max_dup5_frac
        ).drop("_rep")
        out, n = audit(out, "gopher_repetition", n)
    if min_quality_score is not None:
        q = QC.quality_udf(spark)
        out = out.withColumn("_qs", q(F.col(text_col))).filter(
            F.col("_qs") >= min_quality_score
        ).drop("_qs")
        out, n = audit(out, "quality_clf", n)
    if contamination_dir is not None:
        out = LN.decontaminate_committed(
            spark, out, contamination_dir,
            text_col=text_col, id_col=id_col,
            threshold=contamination_threshold,
        )
        # dropped here = contamination hits
        out, n = audit(out, "decontamination", n)
    if mixing is not None and mixture_parts is not None:
        raise ValueError(
            "pass either mixing (explicit fractions) or "
            "mixture_parts (planned ratio), not both"
        )
    if (line_ledger_dir is None) != (batch_id is None):
        raise ValueError(
            "line_ledger_dir and batch_id must be given together"
        )
    if (
        line_ledger_dir is not None
        and shards_path is None
        and finalize_line_ledger is None
    ):
        raise ValueError(
            "line_ledger_dir without shards_path leaves no durable "
            "output to order the ledger commit behind; pass "
            "finalize_line_ledger=True to commit at return, or "
            "finalize_line_ledger=False and call "
            "lineage.finalize_incremental_lines(...) after persisting "
            "the returned rows"
        )
    lines_in = (
        None
        if funnel is None
        else out.agg(F.sum(n_lines).cast("long")).collect()[0][0] or 0
    )
    if line_ledger_dir is not None:
        # cross-run mode: boilerplate committed by previous crawls is
        # dropped outright; this batch's kept lines are PREPARED now and
        # the ledger manifest is finalized only after the shard write
        # succeeds (commit-ordering rule, docstring).  A replayed
        # batch_id would return an EMPTY relation (the ledger's
        # idempotence contract) and then OVERWRITE the shard output with
        # nothing — refuse loudly instead: the batch's outputs already
        # exist from the committed run.
        if batch_id in LN.read_line_manifest(line_ledger_dir)["batches"]:
            raise ValueError(
                f"batch_id {batch_id!r} is already committed to the line "
                f"ledger at {line_ledger_dir!r}; re-prepping it would "
                "emit an empty corpus over existing outputs — use a new "
                "batch_id or read the committed outputs"
            )
        out = LN.prepare_incremental_lines(
            spark, out, line_ledger_dir, batch_id,
            text_col=text_col, id_col=id_col,
        )
    else:
        out = DD.dedup_lines(out, text_col=text_col, id_col=id_col)
    # dropped here = docs emptied by line removal (drop_blank_docs)
    out, n = audit(out, "line_dedup", n, line_count=n_lines)
    if funnel is not None:
        funnel[-1]["lines_in"] = lines_in
    out = DD.dedup_exact(out, text_col, id_col)
    out, n = audit(out, "exact_dedup", n)
    out = DD.dedup_near(
        out, text_col, id_col, jaccard_threshold=jaccard_threshold
    )
    out, n = audit(out, "near_dedup", n)
    if max_crossdoc_dup_frac is not None:
        # 6b. RefinedWeb cross-doc repetition gate — AFTER near-dedup so
        # surviving mirrors/templates (sub-Jaccard-threshold overlap)
        # are caught; runs on the smallest surviving set because it is
        # the shuffle-heaviest text stage (gram doc-frequency join)
        from ..operators import repetition as RP

        out = RP.crossdoc_dup_filter(
            out, max_crossdoc_dup_frac, text_col, id_col
        )
        out, n = audit(out, "crossdoc_dup", n)
    if mixture_parts is not None:
        # integer mixture planning (q79): derive the per-stratum
        # fractions from the SURVIVING corpus's token mass so the ratio
        # is honored over what actually remains after filtering/dedup —
        # planning on the raw corpus would overdraw filtered strata.
        # |strata| rows collected (bounded — a dial, not data).
        from ..functions.text import bpe_token_count

        plan = SP.plan_mixture(
            out, mixture_parts, strata_col, bpe_token_count(F.col(text_col))
        ).collect()
        mixing = {
            r[strata_col]: r["fraction_ppm"] / SP.SAMPLE_DENOM
            for r in plan
            if r["parts"] > 0
        }
    if mixing is not None:
        out = SP.stratified_sample(
            out, mixing, strata_col, id_col, seed=sample_seed
        )
        out, n = audit(out, "mixing", n)
    if shards_path is not None:
        SH.write_training_shards(
            out, shards_path, num_shards, id_col, seed=sample_seed
        )
    if line_ledger_dir is not None and (
        shards_path is not None or finalize_line_ledger
    ):
        # the durable output exists (shards written) or the caller
        # explicitly accepted commit-at-return: the ledger commit point
        LN.finalize_incremental_lines(line_ledger_dir, batch_id)
    return out


def funnel_metrics_df(spark: SparkSession, funnel: list) -> DataFrame:
    """The collected funnel as a writable DataFrame (stage order kept via
    an explicit index column)."""
    rows = [
        (
            i,
            e["stage"],
            e["rows"],
            e.get("dropped"),
            e.get("lines_in"),
            e.get("lines_out"),
        )
        for i, e in enumerate(funnel)
    ]
    return spark.createDataFrame(
        rows,
        "stage_idx int, stage string, rows long, dropped long, "
        "lines_in long, lines_out long",
    )


def prep_embedding_corpus(
    spark: SparkSession,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    method: str = "semantic",
    k: int = 8,
    iters: int = 1,
    cos_threshold: float = 0.99,
    lsh_bits: int = 16,
    lsh_bands: int = 4,
    lsh_max_hamming: int = 2,
    lsh_min_cos: float = 0.995,
    cluster_quota: dict[int, float] | None = None,
    sample_seed: int = 0,
    funnel: list | None = None,
) -> DataFrame:
    """The EMBEDDING-corpus pipeline — the third composition next to
    ``prep_corpus`` (images) and ``prep_text_corpus`` (documents):

    1. **validity gate** — NULL / ragged / null-element vectors are
       DROPPED (and counted): a training corpus cannot carry them, so
       the prep pins drop-semantics where the underlying operators pin
       pass-through;
    2. **near-duplicate removal** — ``method="semantic"`` runs SemDeDup
       (``clustering.semantic_dedup``: k-means bounds the candidates,
       exact cosine decides); ``method="lsh"`` runs the RP-fingerprint
       banded path (``similarity.dedup_embedding_near``) — the
       semantics-free alternative when no clustering is wanted;
    3. **cluster-balanced quota sampling** (optional) — k-means
       assignment + per-cluster deterministic fractions
       (``sampling.stratified_sample`` over the cluster id): the
       DataComp diversity move, downweighting over-dense regions.
       Output keeps the ``cluster`` column for audit.

    Funnel contract identical to ``prep_text_corpus`` (pass
    ``funnel=[]``)."""
    from ..operators import clustering as CL
    from ..operators import sampling as SP
    from ..operators import similarity as SIM

    if method not in ("semantic", "lsh"):
        raise ValueError(f"method must be 'semantic' or 'lsh', got {method!r}")

    audit = functools.partial(_funnel_boundary, funnel)

    out, n = audit(vectors, "input", None)
    out = CL._valid(out, vec_col, dim)
    out, n = audit(out, "valid", n)
    if method == "semantic":
        out = CL.semantic_dedup(
            out, k=k, iters=iters, cos_threshold=cos_threshold,
            id_col=id_col, vec_col=vec_col, dim=dim,
        )
    else:
        out = SIM.dedup_embedding_near(
            out, id_col=id_col, vec_col=vec_col, bits=lsh_bits, dim=dim,
            bands=lsh_bands, max_hamming=lsh_max_hamming,
            min_cos=lsh_min_cos,
        )
    out, n = audit(out, "near_dedup", n)
    if cluster_quota is not None:
        assigned, _ = CL.kmeans_fit_assign(
            out, k=k, iters=iters, id_col=id_col, vec_col=vec_col, dim=dim
        )
        out = out.join(assigned, id_col).withColumn(
            "cluster", F.col("cluster").cast("string")
        )
        out = SP.stratified_sample(
            out,
            {str(c): f for c, f in cluster_quota.items()},
            "cluster",
            id_col,
            seed=sample_seed,
        )
        out, n = audit(out, "cluster_quota", n)
    return out
