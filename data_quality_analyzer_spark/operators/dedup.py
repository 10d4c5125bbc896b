"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (10^12 rows):

* **exact** — fingerprint (md5) group-by; one shuffle on the fingerprint,
  AQE handles skew.  Quirk-5 semantics available (duplicate_rows counts
  rows, not groups — ``claim_analysis.py:225-247``).
* **MinHash+LSH** — signatures are computed per-row by one vectorized
  Arrow UDF over the polynomial shingle hash (no explode, no shuffle);
  :func:`_signatures` and :func:`band_fp_explode` are the one place that
  decides which rows get a signature and how it becomes band keys, for
  the batch, cross-run ledger and streaming paths alike.  Banding turns
  near-dup search into an equi-join on (band, band_signature) — the only
  shuffle, on a key whose cardinality we control via bands×rows-per-band.
  :func:`_band_pairs` is that join for every batch and ledger path
  (MinHash, banded Hamming, sign buckets), with the one optional
  hot-bucket cap.
* **SimHash** — per-row 60-bit fingerprint (Arrow bit-vote fold),
  near-dups = equal fingerprints (or banded Hamming buckets).
* **n-gram Jaccard** — exact verification for candidate pairs produced by
  LSH: computed only on the (tiny) candidate set, never all-pairs.
* **cluster resolution** — one step turns any verified pair list into a
  keep-set: :func:`_keep_canonical` (optionally after the exact-key
  :func:`_collapse` to min-id representatives) → :func:`connected_components`
  → keep each cluster's min id.  The text (:func:`dedup_near`), image
  (:func:`dedup_image_near`) and embedding
  (``similarity.dedup_embedding_near``) actions differ only in their pair
  finder; rows whose key is NULL pass through all three untouched.

MinHash and SimHash have one hash family each, the polynomial one
(``hashing.poly60_np`` over k-char shingles, ``hashing.poly60_token_np``
over whitespace tokens); md5 is only the exact-dup fingerprint and the
LSH band key.  All hashing is deterministic integer arithmetic with
exact DuckDB twins.
"""

from __future__ import annotations

import logging
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..exec_utils import materialize
from ..functions import hashing as HH
from ..functions import text as TX

DEFAULT_SHINGLE = 5
DEFAULT_NUM_HASHES = 16
DEFAULT_BANDS = 4  # 4 bands x 4 rows -> catches jaccard ≳ 0.7


def exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Groups of byte-identical texts: (fp, cnt, ids) for cnt > 1."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .groupBy(F.md5(text_col).alias("fp"))
        .agg(
            F.count("*").alias("cnt"),
            F.sort_array(F.collect_list(id_col)).alias("ids"),
        )
        .filter(F.col("cnt") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row (min id) per distinct text — the dedup *action*."""
    w_min = (
        df.filter(F.col(text_col).isNotNull())
        .groupBy(F.md5(text_col).alias("fp"))
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(w_min, on=id_col, how="left_semi").unionByName(
        df.filter(F.col(text_col).isNull())
    )


def _check_minhash_params(num_hashes: int, bands: int | None = None) -> None:
    """Validate against the fixed seed table (hashing.MINHASH_PARAMS) and
    the banding arithmetic — a clear error at plan-build time instead of an
    IndexError from seed lookup."""
    if not (0 < num_hashes <= HH.NUM_SEEDS):
        raise ValueError(
            f"num_hashes must be in [1, {HH.NUM_SEEDS}] "
            f"(fixed seed table), got {num_hashes}"
        )
    if bands is not None:
        if not (0 < bands <= num_hashes) or num_hashes % bands != 0:
            raise ValueError(
                f"bands must divide num_hashes ({num_hashes}), got {bands}"
            )


def minhash_signature_poly_udf(
    num_hashes: int = DEFAULT_NUM_HASHES, k: int = DEFAULT_SHINGLE
):
    """The MinHash signature kernel: polynomial 60-bit shingle hash
    (functions/hashing.py:poly60_np — two int64 matmuls over the
    codepoint window matrix, no Python call per shingle) + the affine
    per-seed mixes of functions/hashing.py.  Exact DuckDB twin:
    hashing.poly60_duck_sql + hashing.mix_sql."""
    _check_minhash_params(num_hashes)
    if k > HH.POLY_MAX_K:
        raise ValueError(f"k must be ≤ {HH.POLY_MAX_K} for the poly family")

    # chunk-global batching (the simhash/_SIMHASH_CHUNK_TOKENS idiom):
    # per-doc numpy calls on ~300-window docs are call-overhead bound, so
    # docs are concatenated and hashed in one sliding-window pass per
    # chunk, boundary-crossing windows dropped by index, and the per-seed
    # minima taken with one reduceat.  All-integer ops on identical
    # inputs — signatures are bit-identical to the per-doc form.
    MAXW = 200_000  # windows per numpy slab — bounds (num_hashes × MAXW) temporaries

    @F.pandas_udf("array<long>")
    def _mh(texts: pd.Series) -> pd.Series:
        out = [None] * len(texts)
        idxs: list[int] = []
        cps_list: list[np.ndarray] = []
        for i, t in enumerate(texts):
            if not isinstance(t, str) or len(t) < k:
                continue
            try:
                cps = np.frombuffer(
                    t.encode("utf-32-le"), dtype="<u4"
                ).astype(np.int64)
            except UnicodeEncodeError:  # lone surrogates: slow exact path
                cps = np.fromiter(map(ord, t), dtype=np.int64, count=len(t))
            idxs.append(i)
            cps_list.append(cps)
        j = 0
        while j < len(idxs):
            j2, tot = j, 0
            while j2 < len(idxs) and (
                tot == 0 or tot + len(cps_list[j2]) - k + 1 <= MAXW
            ):
                tot += len(cps_list[j2]) - k + 1
                j2 += 1
            chunk = cps_list[j:j2]
            lens = np.array([len(c) for c in chunk], dtype=np.int64)
            offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
            nw = lens - k + 1
            hs_all = HH.poly60_np(np.concatenate(chunk), k)
            valid = np.concatenate(
                [np.arange(o, o + n) for o, n in zip(offs, nw)]
            )
            mixed = HH.mix_np(hs_all[valid], num_hashes)
            starts = np.concatenate(([0], np.cumsum(nw)[:-1]))
            sigs = np.minimum.reduceat(mixed, starts, axis=1)
            for d in range(j2 - j):
                out[idxs[j + d]] = sigs[:, d]
            j = j2
        return pd.Series(out, dtype=object)

    return _mh


# poly60_token_* hashes are < 2^60, so a wider fingerprint would only add
# bits that are always 0
SIMHASH_BITS = 60

_SIMHASH_CHUNK_TOKENS = 200_000  # bounds the (tokens × bits) vote slab


def simhash_udf():
    """Arrow-batched numpy SimHash: a ``SIMHASH_BITS``-bit fingerprint
    over the polynomial token family (``hashing.poly60_token_np``).

    Tokens are ``TX.tokens_python`` of ``lower(text)`` (the one
    whitespace class of ``functions/text.py``, trimmed and split); a
    blank text folds to the one token '' so every row votes.  Each
    distinct token of an Arrow batch is hashed once, fully vectorized,
    and the bit-vote fold is chunk-global (one reduceat per chunk instead
    of one numpy round-trip per row).  Exact DuckDB twin:
    ``hashing.poly60_token_duck_sql`` under the same tokenizer
    (plans/entry_queries.py:_simhash_oracle_ctes).
    """
    shifts = np.arange(SIMHASH_BITS, dtype=np.int64)

    @F.pandas_udf("long")
    def _shp(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        vals = texts.to_numpy(dtype=object)
        # one vocabulary per Arrow batch: hash each distinct token ONCE,
        # vectorized (no hashlib, no per-token Python hashing)
        vocab: dict[str, int] = {}
        row_tok_ids: list[np.ndarray | None] = []
        for t in vals:
            if not isinstance(t, str):
                row_tok_ids.append(None)
                continue
            toks = TX.tokens_python(t.lower()) or [""]
            ids = np.fromiter(
                (
                    vocab[tok] if tok in vocab
                    else vocab.setdefault(tok, len(vocab))
                    for tok in toks
                ),
                dtype=np.int64,
                count=len(toks),
            )
            row_tok_ids.append(ids)
        vocab_h = HH.poly60_token_np(list(vocab))
        # chunk-global vote fold: rows grouped so the ±1 slab stays small;
        # every row has ≥1 token (the blank fold above), so reduceat offsets
        # are strictly increasing and in-bounds.
        i = 0
        n = len(vals)
        while i < n:
            j = i
            tok_total = 0
            rows: list[np.ndarray] = []
            row_pos: list[int] = []
            while j < n and tok_total < _SIMHASH_CHUNK_TOKENS:
                ids = row_tok_ids[j]
                if ids is not None:
                    rows.append(ids)
                    row_pos.append(j)
                    tok_total += ids.size
                j += 1
            if rows:
                hv = vocab_h[np.concatenate(rows)]
                pm = (
                    2 * ((hv[:, None] >> shifts[None, :]) & 1) - 1
                ).astype(np.int32)
                cnt = np.array([r.size for r in rows], dtype=np.int64)
                offs = np.zeros(len(rows), dtype=np.int64)
                np.cumsum(cnt[:-1], out=offs[1:])
                votes = np.add.reduceat(pm, offs, axis=0)
                fps = ((votes > 0).astype(np.int64) << shifts[None, :]).sum(
                    axis=1
                )
                out[np.asarray(row_pos)] = fps
            i = j
        return pd.Series(out)

    return _shp


def _signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int, bands: int,
    k: int,
) -> DataFrame:
    """(_id, _sig) over the rows that can be fingerprinted (non-NULL text
    of at least one shingle): the one signature step of the batch
    (:func:`lsh_candidate_pairs`), cross-run ledger
    (plans/lineage.py:dedup_incremental_near) and streaming
    (streaming/stream.py:streaming_near_dup_candidates) paths, so all
    three sign the same rows with the same family and validate the same
    banding.  Not materialized: each caller decides (a stream cannot
    checkpoint)."""
    _check_minhash_params(num_hashes, bands)
    sig = minhash_signature_poly_udf(num_hashes, k)(F.col(text_col))
    return df.filter(
        F.col(text_col).isNotNull() & (F.length(text_col) >= k)
    ).select(F.col(id_col).alias("_id"), sig.alias("_sig"))


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    k: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """MinHash+LSH near-dup candidates: (id_a, id_b, n_bands_shared).

    Plan: per-row signature (map-only, Arrow/numpy UDF over the
    polynomial shingle hash, :func:`_signatures`) → explode into `bands`
    rows (:func:`band_fp_explode`) → the banded self-join on (band,
    band_fp) (:func:`_band_pairs`, no hot-bucket cap) → count shared
    bands per pair.  The self-join is on the *bucket*, so shuffle volume
    is rows×bands, never rows².

    **Shingle size is the candidate-volume dial**: same-domain corpora
    share many common k-grams, so small k inflates the background Jaccard
    and the band-collision rate explodes toward all-pairs (measured: k=5 on
    the 5k-doc template corpus → 5.4M candidate pairs ≈ 43% of all pairs;
    k=9 → a few hundred).  Pick k large enough that unrelated documents'
    shingle sets are nearly disjoint."""
    rows_per_band = num_hashes // bands
    # materialize (id, signature) ONCE: the banded self-join consumes it on
    # both sides, and when the planner broadcasts one side the two
    # exchanges differ, so without this the signature UDF — the dominant
    # cost — runs over the full corpus twice.  The relation is slim
    # (id + num_hashes ints, no text).  On a real cluster prefer a
    # reliable checkpoint dir for fault tolerance; localCheckpoint blocks
    # are lost with their executor.
    with_sig = _signatures(df, text_col, id_col, num_hashes, bands, k).transform(
        materialize
    )
    band_rows = with_sig.select(
        "_id", band_fp_explode("_sig", bands, rows_per_band).alias("bf")
    ).select("_id", F.col("bf.band").alias("band"), F.col("bf.fp").alias("fp"))
    return (
        _band_pairs(band_rows, ["band", "fp"], None, "lsh_candidate_pairs")
        .groupBy(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        .agg(F.count("*").alias("n_bands_shared"))
    )


def int_band_explode(fp_col: str, bands: int, band_bits: int) -> Column:
    """Explode an int64 fingerprint into its (band, band_bits) structs —
    the Hamming-banding twin of :func:`band_fp_explode`, shared by the
    within-corpus self-join (:func:`fingerprint_near_duplicates`) and the
    cross-run image ledger (plans/lineage.py:dedup_incremental_image).
    `pmod` keeps band values non-negative for signed fingerprints."""
    return F.explode(
        F.expr(
            f"transform(sequence(0, {bands - 1}), b -> named_struct("
            f"'band', b, 'bb', pmod(shiftright({fp_col}, b * {band_bits}), "
            f"{1 << band_bits})))"
        )
    )


def band_fp_explode(sig_col: str, bands: int, rows_per_band: int) -> Column:
    """Explode a minhash signature array into its LSH band fingerprints:
    one (band, fp=md5-of-band-slice) struct per band.  Shared by the
    within-batch self-join (:func:`lsh_candidate_pairs`) and the
    cross-run ledger (plans/lineage.py:dedup_incremental_near) so both
    derive IDENTICAL band keys from a signature."""
    return F.explode(
        F.expr(
            f"transform(sequence(0, {bands - 1}), b -> "
            f"named_struct('band', b, 'fp', md5(concat_ws(',', "
            f"slice({sig_col}, b * {rows_per_band} + 1, {rows_per_band})))))"
        )
    )


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bands: int = 4,
    max_hamming: int = 3,
    max_band_size: int | None = None,
) -> DataFrame:
    """Banded-Hamming SimHash near-dup search (the bucketed search promised
    by the module docstring): split the fingerprint into `bands` bit-bands;
    by pigeonhole, two fingerprints within Hamming distance < `bands` agree
    on at least one whole band, so candidates = equi-join on (band,
    band_bits) — shuffle volume rows×bands, never all-pairs — then verify
    with an exact popcount on the XOR.

    Fingerprints are :func:`simhash_udf`'s.

    Returns (id_a, id_b, hamming ≤ max_hamming).  Callers should keep
    max_hamming < bands for full recall (pigeonhole guarantee).
    """
    fp = simhash_udf()(F.col(text_col))
    # materialized once for the same both-sides reason as lsh_candidate_pairs
    with_fp = (
        df.filter(~TX.is_blank(F.col(text_col)))
        .select(F.col(id_col).alias("_id"), fp.alias("_fp"))
        .transform(materialize)
    )
    return fingerprint_near_duplicates(
        with_fp, "_fp", "_id", bands=bands, bits=SIMHASH_BITS,
        max_hamming=max_hamming, max_band_size=max_band_size,
    )


# default hot-band cap for the UNATTENDED cross-run ledger joins
# (plans/lineage.py): incremental dedup runs across crawls with nobody
# watching the plan, which is exactly where a degenerate band bucket
# accretes (round-4 VERDICT task 7; the C(400,2)=79,800-pair blowup is
# measured in tests/test_skew.py).  5k distinct keys in one bucket caps
# the worst per-bucket join at ~2.5×10^7 comparisons while staying far
# above any plausible true near-dup cluster of DISTINCT fingerprints.
# Interactive/batch paths keep opt-in (None) — their plans are watched
# and the pigeonhole recall guarantee stays unconditional there.
LEDGER_MAX_BAND_SIZE = 5_000


def exclude_hot_band_buckets(
    band_rows: DataFrame,
    key_cols: list[str],
    max_band_size: int,
    what: str,
    extra_rows: DataFrame | None = None,
) -> DataFrame:
    """Drop rows of ``band_rows`` whose bucket key holds more than
    ``max_band_size`` rows of ``band_rows`` plus ``extra_rows`` (a census
    only) — LOUDLY (count + worst sizes logged, never a silent cap).  One
    aggregation pass: oversized buckets are few by definition
    (≤ rows/max_band_size), so they collect to the driver and broadcast
    back as an anti-join relation."""
    census = band_rows.select(*key_cols)
    if extra_rows is not None:
        census = census.unionByName(extra_rows.select(*key_cols))
    hot_rows = (
        census.groupBy(*key_cols)
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > max_band_size)
        .collect()
    )
    if not hot_rows:
        return band_rows
    worst = sorted(hot_rows, key=lambda r: -r["_n"])[:5]
    logging.getLogger(__name__).warning(
        "%s: excluding %d oversized band bucket(s) > max_band_size=%d "
        "from candidate generation (worst: %s) — pairs whose ONLY shared "
        "bands are these buckets will be missed; raise bits/bands for "
        "more band entropy if this matters",
        what,
        len(hot_rows),
        max_band_size,
        [(r[key_cols[0]], r["_n"]) for r in worst],
    )
    spark = band_rows.sparkSession
    schema = ", ".join(
        f"{c} {band_rows.schema[c].dataType.simpleString()}" for c in key_cols
    )
    hot_df = spark.createDataFrame(
        [tuple(r[c] for c in key_cols) for r in hot_rows], schema
    )
    return band_rows.join(F.broadcast(hot_df), on=key_cols, how="left_anti")


def _band_pairs(
    rows: DataFrame,
    keys: list[str],
    max_band_size: int | None,
    what: str,
    archive: DataFrame | None = None,
) -> DataFrame:
    """The one banded candidate join of the near-dup paths: ``rows`` (side
    ``a``) equi-joined on the bucket ``keys`` with side ``b`` — ``rows``
    again, each unordered pair once (``a._id < b._id``), or a cross-run
    ledger's ``archive`` band rows.  The caller verifies the joined rows.

    A truthy ``max_band_size`` first drops, loudly under the label
    ``what``, every bucket holding more rows than that in ``rows`` and
    ``archive`` together (:func:`exclude_hot_band_buckets`); filtering
    ``rows`` alone suffices, as a bucket missing from one side yields no
    pair.  A falsy cap is off."""
    if max_band_size:
        rows = exclude_hot_band_buckets(
            rows, keys, max_band_size, what, extra_rows=archive
        )
    a = rows.alias("a")
    b = (rows if archive is None else archive).alias("b")
    pairs = a.join(b, [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys])
    if archive is None:
        pairs = pairs.filter(F.col("a._id") < F.col("b._id"))
    return pairs


def fingerprint_near_duplicates(
    df: DataFrame,
    fp_col: str,
    id_col: str,
    bands: int = 4,
    bits: int = 64,
    max_hamming: int = 3,
    max_band_size: int | None = None,
) -> DataFrame:
    """Banded-Hamming near-dup search over an EXISTING int64 fingerprint
    column (the generic core of :func:`simhash_near_duplicates`; also the
    image path, where `phash` already is the fingerprint).  Signed int64 is
    fine: both join sides band identically (`pmod` keeps band values
    non-negative) and the verify is a popcount on the XOR.

    Returns (id_a, id_b, hamming).  Keep max_hamming < bands for full
    recall (pigeonhole).  Input rows should carry DISTINCT fingerprints
    when duplicate-heavy data is possible — collapse exact-equal
    fingerprints with a groupBy first (see :func:`image_near_duplicates`),
    or a hot fingerprint degenerates to quadratic pairs.

    **Hot-BAND guard** (distinct from the hot-fingerprint guard above): a
    low-entropy corpus can put MANY distinct fingerprints into one
    (band, band_bits) bucket — e.g. phashes whose low 16 bits are constant
    because every image shares a border.  That bucket joins quadratically
    even though verify rejects almost all of it.  ``max_band_size=N``
    excludes buckets holding more than N fingerprints from candidate
    generation (:func:`_band_pairs`; ``None`` or ``0`` is off) and logs
    them LOUDLY (count + worst sizes — never a silent cap).  Recall
    contract: a pair is lost only if oversized buckets were its ONLY
    shared bands, so choose N well above the plausible true near-dup
    cluster size; an oversized band carries almost no
    discriminative signal (it says "shares a constant region", not "is a
    near duplicate").  Widening ``bits``/``bands`` is the structural fix
    (more band entropy); the cap is the operational guard.
    """
    band_bits = bits // bands
    with_fp = df.select(F.col(id_col).alias("_id"), F.col(fp_col).alias("_fp"))
    band_rows = with_fp.select(
        "_id", "_fp", int_band_explode("_fp", bands, band_bits).alias("bf")
    ).select("_id", "_fp", F.col("bf.band").alias("band"), F.col("bf.bb").alias("bb"))
    # verify (popcount) BEFORE the dedup exchange, not after (guide §2.3:
    # shuffle fewer bytes): the raw band join can emit orders of magnitude
    # more candidate rows than true near-dups (low-entropy bands — e.g.
    # 4-bit bands of a 16-bit fingerprint), and the old
    # groupBy(id_a, id_b, fp_a, fp_b) shuffled every one of them just to
    # deduplicate.  Hamming is a function of the pair, so
    # filter-then-distinct returns exactly the same (id_a, id_b, hamming)
    # set while the exchange carries only verified pairs.
    return (
        _band_pairs(
            band_rows, ["band", "bb"], max_band_size,
            "fingerprint_near_duplicates",
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.bit_count(F.col("a._fp").bitwiseXOR(F.col("b._fp"))).alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def image_near_duplicates(
    images: DataFrame,
    id_col: str = "image_id",
    fp_col: str = "phash",
    bands: int = 4,
    max_hamming: int = 3,
    bits: int = 64,
    max_band_size: int | None = None,
) -> DataFrame:
    """Near-duplicate IMAGE pairs by perceptual-hash Hamming distance —
    the image-payload twin of the text near-dup path, over the corpus's
    own `phash` column (input_hint: int64 pixel-content hash).

    Scale design: identical fingerprints are collapsed FIRST (one groupBy
    → one representative per fingerprint + group size), and only DISTINCT
    fingerprints enter the banded self-join.  A duplicate-heavy corpus (the
    fixture plants a 25% hot fingerprint) therefore costs one hash
    aggregate, never C(n,2) pairs — pairing 15k byte-identical crawl
    copies as "near dups" would be quadratic for information the groupBy
    already has.  Exact-dup resolution inside a fingerprint group is
    :func:`dedup_image_near`'s job.

    Returns (id_a, id_b, hamming, n_rows_a, n_rows_b): representative ids
    of fingerprint groups within `max_hamming`, with group sizes.
    """
    reps = _collapse(images, fp_col, id_col, F.count("*").alias("_n"))
    pairs = fingerprint_near_duplicates(
        reps, "_key", "_rep", bands=bands, bits=bits, max_hamming=max_hamming,
        max_band_size=max_band_size,
    )
    sizes = reps.select("_rep", "_n")
    return (
        pairs.join(sizes.withColumnsRenamed({"_rep": "id_a", "_n": "n_rows_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"_rep": "id_b", "_n": "n_rows_b"}), "id_b")
        .select("id_a", "id_b", "hamming", "n_rows_a", "n_rows_b")
    )


def dedup_image_near(
    images: DataFrame,
    id_col: str = "image_id",
    fp_col: str = "phash",
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """The image near-dup dedup ACTION: keep exactly one row per
    perceptual cluster (byte-identical copies AND small-Hamming variants
    collapse together, transitively).  Mirror of :func:`dedup_near` for
    the image payload.

    A row survives iff (1) it is its fingerprint group's representative
    (min id — the exact-dup collapse) and (2) its representative is its
    Hamming-cluster's canonical node (connected components over the
    representative pair graph) — :func:`_keep_canonical`.  Rows with a
    NULL fingerprint pass through untouched.  Rows should be pre-filtered
    to valid images — fingerprints of undecodable rows are not meaningful.
    """
    return _keep_canonical(
        images, id_col,
        lambda reps: fingerprint_near_duplicates(
            reps, "_key", "_rep", bands=bands, bits=64, max_hamming=max_hamming
        ),
        key_col=fp_col,
    )


def consolidate_captions(
    df: DataFrame,
    fp_col: str,
    id_col: str,
    caption_col: str,
    score: Column,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Caption CONSOLIDATION per perceptual cluster — the LAION-style
    "same image, many captions" resolution: instead of merely keeping
    the min-id row (:func:`dedup_image_near`), every near-dup image
    cluster elects its BEST caption by ``score`` (e.g. the BPE token
    count as a richness proxy, or the trained ``quality_clf`` score),
    ties broken by lowest id — so re-crawled images keep their most
    informative caption rather than their first-seen one.

    Returns one row per cluster: ``cluster_id`` (canonical min node),
    ``n_members`` (ALL rows incl. exact-fp copies), ``winner_id``,
    ``winner_caption``.  Scores compare as DOUBLE (fractional
    quality_clf scores keep their order — a long cast would truncate
    [0, 1) to a universal tie); NULL scores rank as −∞, below every
    real score.  Rows with a NULL fingerprint are EXCLUDED up front
    (an unjudgeable image belongs to no perceptual cluster — count
    them upstream); the dedup actions pass such rows through instead,
    but a table of clusters has no row to put them in.

    Scale shape: identical to the dedup action it extends — exact-fp
    collapse (one hash agg) → banded Hamming over DISTINCT fps → CC on
    the tiny rep graph → one join back + one ``max(struct)``
    combiner-friendly agg per cluster.  Election is a map-side-combining
    hash aggregate, never a window."""
    df = df.filter(F.col(fp_col).isNotNull())
    reps = _collapse(df, fp_col, id_col)
    pairs = fingerprint_near_duplicates(
        reps, "_key", "_rep", bands=bands, bits=64, max_hamming=max_hamming
    )
    labels = connected_components(pairs)
    rows = (
        df.join(reps.withColumnRenamed("_key", fp_col), fp_col)
        .join(labels, F.col("_rep") == F.col("node"), "left")
        .withColumn("_label", F.coalesce(F.col("label"), F.col("_rep")))
    )
    best = F.max(
        F.struct(
            F.coalesce(score.cast("double"), F.lit(float("-inf"))).alias("s"),
            (-F.col(id_col)).alias("negid"),
            F.col(caption_col).alias("cap"),
        )
    ).alias("_w")
    return (
        rows.groupBy("_label")
        .agg(F.count("*").alias("n_members"), best)
        .select(
            F.col("_label").alias("cluster_id"),
            "n_members",
            (-F.col("_w.negid")).alias("winner_id"),
            F.col("_w.cap").alias("winner_caption"),
        )
    )


def _shingle_set_sql(c: str, k: int) -> str:
    """Spark-SQL array of the distinct k-char shingles of ``c``."""
    return (
        f"array_distinct(transform(sequence(1, greatest(length({c}), {k}) - {k - 1}), "
        f"i -> substring({c}, i, {k})))"
    )


def ngram_jaccard(a_col: str, b_col: str, k: int = DEFAULT_SHINGLE) -> Column:
    """Exact Jaccard of k-shingle sets of two text columns — the per-pair
    form of the shingle sets :func:`verify_candidate_pairs` builds once
    per candidate document."""
    sa, sb = _shingle_set_sql(a_col, k), _shingle_set_sql(b_col, k)
    inter = f"size(array_intersect({sa}, {sb}))"
    union = f"size(array_union({sa}, {sb}))"
    return F.expr(f"CAST({inter} AS DOUBLE) / {union}")


def near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    jaccard_threshold: float = 0.8,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    k: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """Full MinHash-LSH → exact-Jaccard verification pipeline.

    Returns (id_a, id_b, jaccard ≥ threshold).  The expensive exact Jaccard
    runs only on LSH candidates (slim pair ids broadcast back to the texts).
    """
    # no materialize here: verify_candidate_pairs immediately
    # materializes the slim distinct pair relation, which is the only
    # consumer — a second checkpoint of the same rows would be pure
    # added latency (the signature relation inside lsh_candidate_pairs
    # is already checkpointed, so the UDF still runs once)
    cands = lsh_candidate_pairs(df, text_col, id_col, num_hashes, bands, k)
    return verify_candidate_pairs(
        df, cands, text_col, id_col, jaccard_threshold, k
    )


def verify_candidate_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    jaccard_threshold: float = 0.8,
    k: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """The exact-Jaccard VERIFY stage on its own: given candidate
    ``pairs`` (id_a, id_b — from LSH, a ledger band-join, or the streaming
    candidate stage) and the document relation, return the pairs whose
    exact shingle Jaccard clears the threshold.  Extracted from
    :func:`near_duplicates` so the streaming path can reuse the identical
    batch verify inside ``foreachBatch``."""
    slim = pairs.select("id_a", "id_b").distinct().transform(materialize)
    # precompute each CANDIDATE document's distinct shingle set ONCE (the
    # naive per-pair ngram_jaccard(text_a, text_b) would rebuild both
    # shingle arrays twice per candidate — once in the intersection, once
    # in the union: 4 constructions per pair instead of 1 per doc), in ONE
    # corpus scan: the broadcast candidate-id semi-join restricts the scan
    # to candidate docs, and the materialized result is what both side
    # lookups consume — previously each side re-scanned the full corpus
    # and re-built every doc's shingles.
    shingles = F.expr(_shingle_set_sql(text_col, k))
    cand_ids = (
        slim.select(F.col("id_a").alias("_tid"))
        .unionByName(slim.select(F.col("id_b").alias("_tid")))
        .distinct()
    )
    sets = (
        df.filter(F.col(text_col).isNotNull() & (F.length(text_col) >= k))
        .join(F.broadcast(cand_ids), F.col(id_col) == F.col("_tid"))
        .select(F.col(id_col).alias("_tid"), shingles.alias("_sh"))
        .transform(materialize)
    )
    # broadcast ONLY the slim (id_a, id_b) pair relation at both lookups —
    # never a join result carrying shingle arrays: broadcast size must
    # stay bounded by the pair count alone (candidate volume × shingle-set
    # size is unbounded on a dup-heavy corpus and would blow the broadcast
    # cap / driver).  The two sides then meet in a shuffle keyed by the
    # pair — shuffle volume = 2 × candidates × avg-shingle-set,
    # distributed, never driver-resident.
    side_a = sets.join(
        F.broadcast(slim), F.col("_tid") == F.col("id_a")
    ).select("id_a", "id_b", F.col("_sh").alias("sh_a"))
    side_b = sets.join(
        F.broadcast(slim), F.col("_tid") == F.col("id_b")
    ).select(
        F.col("id_a").alias("_ja"),
        F.col("id_b").alias("_jb"),
        F.col("_sh").alias("sh_b"),
    )
    joined = side_a.join(
        side_b,
        (F.col("id_a") == F.col("_ja")) & (F.col("id_b") == F.col("_jb")),
    )
    jac = F.expr(
        "CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE)"
        " / size(array_union(sh_a, sh_b))"
    )
    return (
        joined.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


DRIVER_CC_MAX_EDGES = 1_000_000  # ~32 MB of int64 pairs on the driver
# backstop of the distributed loop: it converges in O(log diameter) rounds
CC_MAX_ROUNDS = 25


def _driver_union_find(edge_rows) -> list[tuple[int, int]]:
    """Union-find with min-root tracking — exact same (node, min-label)
    contract as the distributed loop, for small graphs."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for s, d in edge_rows:
        for n in (s, d):
            if n not in parent:
                parent[n] = n
        rs, rd = find(s), find(d)
        if rs != rd:
            # union by MIN so the root IS the canonical min label
            lo, hi = (rs, rd) if rs < rd else (rd, rs)
            parent[hi] = lo
    return [(n, find(n)) for n in parent]


def connected_components(
    pairs: DataFrame, driver_max_edges: int = DRIVER_CC_MAX_EDGES
) -> DataFrame:
    """Connected components of the undirected (id_a, id_b) pair graph →
    (node, label) with label = the MINIMUM node id in the component (the
    canonical doc).

    **Small-graph fast path**: verified near-dup edge lists are tiny by
    construction (bounded by the true duplicate population, not the
    corpus), so when the distinct edge count is ≤ ``driver_max_edges``
    (default 10^6 ≈ 32 MB of int64 pairs) the graph is collected and
    resolved with driver-side union-find — one job instead of 2-4
    iterative rounds of join+agg+jump+count, each with its own
    materialization barrier.  The output contract is identical
    (label = min node id per component; equivalence pinned by tests).

    **Distributed path** (larger graphs, or ``driver_max_edges=0``):
    min-label propagation with pointer jumping: each round (1) every node
    takes the min of its own label and its neighbors' labels (one shuffle
    join + one aggregate), then (2) follows its label's label (path
    halving) — so convergence is O(log diameter) rounds, not
    O(diameter).  No external graph library; every step is a plain
    DataFrame join, so AQE/skew handling applies as everywhere else.
    ``CC_MAX_ROUNDS`` is a loud backstop — non-convergence raises instead
    of returning a wrong clustering.  Lineage is cut per round (the
    iterative plan would otherwise grow exponentially).
    """
    edges = pairs.select(F.col("id_a").alias("_s"), F.col("id_b").alias("_d"))
    sym_plan = edges.unionByName(
        edges.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
    ).distinct()
    if driver_max_edges:
        # ONE probe job decides AND feeds the fast path:
        # limit(cap+1).collect() replaces the old
        # materialize → count → collect sequence (three driver-sequenced
        # jobs) for the common small-graph case — verified near-dup edge
        # lists are tiny by construction.  Driver memory bound is
        # unchanged (the old path collected up to the same cap); an
        # over-cap graph discards the probe and falls through to the
        # checkpointed distributed loop, paying one extra job — the
        # rare case by design.
        probe = sym_plan.limit(driver_max_edges + 1).collect()
        if len(probe) <= driver_max_edges:
            spark = pairs.sparkSession
            rows = _driver_union_find((r["_s"], r["_d"]) for r in probe)
            schema = sym_plan.schema["_s"].dataType.simpleString()
            return spark.createDataFrame(
                rows, f"node {schema}, label {schema}"
            )
    # materialize the edge list ONCE: it feeds a join in EVERY round, and
    # without the checkpoint each round would re-execute the whole
    # upstream pair-producing pipeline (measured: q44 8.1 s → 3.7 s)
    sym = sym_plan.transform(materialize)
    labels = (
        sym.select(F.col("_s").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .transform(materialize)
    )
    for _ in range(CC_MAX_ROUNDS):
        # (1) neighbor-min: candidate labels flow one hop along edges
        nbr = sym.join(
            labels.select(F.col("node").alias("_d"), "label"), "_d"
        ).select(F.col("_s").alias("node"), "label")
        new = (
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # (2) pointer jump: label <- label(label) (path halving)
        lut = new.select(F.col("node").alias("label"), F.col("label").alias("_ll"))
        new = new.join(lut, "label", "left").select(
            "node", F.coalesce("_ll", "label").alias("label")
        ).transform(materialize)
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in CC_MAX_ROUNDS="
        f"{CC_MAX_ROUNDS} rounds (pathologically long chain?)"
    )


def _collapse(df: DataFrame, key_col: str, id_col: str, *aggs: Column) -> DataFrame:
    """The exact-key collapse of the keyed near-dup paths: one row per
    distinct ``key_col`` value — (``_key``, ``_rep`` = its min
    ``id_col``, then ``aggs``).  One hash aggregate, so a hot duplicated
    key costs one group instead of quadratic pairs.  Materialized: the
    banded self-join reads it on both sides and the caller reads it
    again, and without the checkpoint each read is a full corpus scan
    (broadcast and shuffle exchanges don't reuse each other)."""
    return (
        df.groupBy(F.col(key_col).alias("_key"))
        .agg(F.min(id_col).alias("_rep"), *aggs)
        .transform(materialize)
    )


def _keep_canonical(
    df: DataFrame,
    id_col: str,
    find_pairs: Callable[[DataFrame], DataFrame],
    key_col: str | None = None,
) -> DataFrame:
    """The one cluster-resolution step of the near-dup dedup actions:
    ``find_pairs`` → :func:`connected_components` → drop every cluster
    member but its canonical (min) id.

    Without ``key_col`` the pair finder runs over ``df`` itself and the
    drop is an anti-join on ``id_col`` (the text path, where collapsing
    identical texts first would shuffle full texts).  With ``key_col``
    the rows first collapse to one representative per exact key
    (:func:`_collapse`), the same step resolves those (``_key``,
    ``_rep``) rows with ``_rep`` as their id, and a row survives iff it
    is a surviving representative.

    Rows whose key is NULL pass through untouched on both paths: they
    are in no pair, and the keyed path unions them back instead of
    letting the final equi-join (NULL never matches) delete them."""
    if key_col is not None:
        passthrough = df.filter(F.col(key_col).isNull())
        df = df.filter(F.col(key_col).isNotNull())
        reps = _keep_canonical(_collapse(df, key_col, id_col), "_rep", find_pairs)
        # the semi-join's `on` columns come out first: restore df's order
        return df.join(
            reps.withColumnsRenamed({"_key": key_col, "_rep": id_col}),
            on=[key_col, id_col],
            how="left_semi",
        ).select(*df.columns).unionByName(passthrough)
    labels = connected_components(find_pairs(df))
    drop = labels.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drop, on=id_col, how="left_anti")


def dedup_near(
    df: DataFrame,
    text_col: str,
    id_col: str,
    jaccard_threshold: float = 0.8,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    k: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """The near-dup dedup *action*: LSH pairs → connected components →
    keep ONE canonical doc (min id) per near-dup cluster, drop the rest.
    Mirror of :func:`dedup_exact` for the near-dup graph (a pair list is
    not a dedup — clusters must resolve transitively: A~B~C collapses to
    one keeper even when A≁C directly).  Rows that are in no cluster
    (including NULL/short texts) pass through untouched.  No exact-text
    collapse runs first: it would shuffle the full texts."""
    return _keep_canonical(
        df, id_col,
        lambda rows: near_duplicates(
            rows, text_col, id_col, jaccard_threshold, num_hashes, bands, k
        ),
    )


# ---------------------------------------------------------------------------
# Line-level exact dedup (C4-style boilerplate removal).
# ---------------------------------------------------------------------------

def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    drop_blank_docs: bool = True,
    archived_fps: DataFrame | None = None,
) -> DataFrame:
    """C4-style LINE-level exact dedup: every non-blank line is kept only
    at its globally-first occurrence (min ``(doc_id, line_no)``), documents
    are reassembled from their surviving lines, and documents reduced to
    nothing are dropped.  This removes boilerplate repeated across
    millions of pages (navigation text, cookie banners, footers) that
    document-level :func:`dedup_exact` cannot see.

    Semantics:

    * Lines are exact ``\\n``-split segments; a line participates in dedup
      iff it is non-blank after trim.  Blank lines pass through (deduping
      the empty line globally would mangle every multi-paragraph doc).
    * "First" is the lexicographic min of ``(doc_id, line_no)`` — total,
      deterministic, and computed as a hash aggregate over ``min(struct)``
      (the A10 no-window-sort shape), never a global sort.
    * Null-text rows pass through untouched.  With ``drop_blank_docs``
      (default), documents whose surviving text is blank are removed —
      a doc that was 100% boilerplate carries no information.

    Scale shape (the one that matters at 10^12 docs): the explode produces
    rows = total lines; the winner computation is ONE groupBy on the line
    fingerprint with map-side partial aggregation, so a cookie banner
    repeated in 10^8 docs costs one combiner row per input partition, not
    a 10^8-row reduce skew; the keep-decision is a fingerprint equi-join
    (AQE skew-split safe) and the reassembly groups by doc_id — bounded by
    lines-per-doc.  No window over the fingerprint is used precisely
    because a hot fingerprint would pile one partition high.
    """
    keep_other = df.filter(F.col(text_col).isNull())
    lines = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias(
                "_line_no", "_line"
            ),
        )
        .withColumn("_blank", F.trim("_line") == "")
        .withColumn("_fp", F.xxhash64("_line"))
    )
    if archived_fps is not None:
        # cross-run mode (lineage.dedup_incremental_lines): lines whose
        # fingerprint is already committed are dropped OUTRIGHT — their
        # first occurrence happened in a previous run.  Blank lines keep
        # their passthrough.
        arch = archived_fps.select(F.col("fp").alias("_fp"))
        non_blank = lines.filter(~F.col("_blank")).join(
            arch, on="_fp", how="left_anti"
        )
        lines = non_blank.unionByName(lines.filter(F.col("_blank")))
    winners = (
        lines.filter(~F.col("_blank"))
        .groupBy("_fp")
        .agg(F.min(F.struct("_id", "_line_no")).alias("_w"))
        .select("_fp", F.col("_w._id").alias("_wid"),
                F.col("_w._line_no").alias("_wno"))
    )
    kept_lines = (
        lines.join(winners, on="_fp", how="left")
        .filter(
            F.col("_blank")
            | ((F.col("_id") == F.col("_wid"))
               & (F.col("_line_no") == F.col("_wno")))
        )
    )
    rebuilt = (
        kept_lines.groupBy("_id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_line_no", "_line"))
                    ),
                    lambda s: s["_line"],
                ),
            ).alias("_new_text")
        )
    )
    out = (
        df.filter(F.col(text_col).isNotNull())
        # left join: a doc whose every line was deduplicated away has no
        # surviving rows — it must still appear (as empty text) when
        # drop_blank_docs=False rather than silently vanish.
        .join(rebuilt, F.col(id_col) == F.col("_id"), "left")
        .drop("_id")
        .withColumn(text_col, F.coalesce(F.col("_new_text"), F.lit("")))
        .drop("_new_text")
    )
    if drop_blank_docs:
        out = out.filter(F.trim(F.col(text_col)) != "")
    return out.unionByName(keep_other)
