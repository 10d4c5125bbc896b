"""Trained quality classifier: fastText-style linear model over hashed
character-trigram features — the standard learned good/bad stage of an LLM
training-data pipeline, complementing the heuristic ``TX.*`` rules and the
char-LM perplexity gate.

Same train-once / broadcast / numpy-inner-loop design as ``langid`` and
``perplexity``: a deterministic seed corpus (good = the embedded
multilingual sentences, bad = synthesized gibberish / repetition / symbol
spam / keyboard mash), multinomial-NB log-likelihood-ratio weights over
hashed buckets, and an Arrow-batched pandas UDF whose weights travel via
``SparkContext.broadcast``.

Feature hashing uses the **poly60 codepoint-window hash**
(``functions/hashing.py:poly60_np``) — the same family the MinHash
production path uses — specifically because it is bit-exact across numpy,
Spark SQL, and DuckDB BIGINT arithmetic.  That makes the classifier
DuckDB-twinnable: ``score_duck_sql`` emits a plain-SQL scorer whose
(rounded) weight table is embedded as a list literal, so the q51 entry
query gets a REAL value-hash oracle instead of a rows-only check.  Weights
are rounded to 6 dp at train time so all three paths read identical
numbers; only float summation order can differ (round scores to 4 dp when
comparing).

Score: ``sigmoid(TEMP · mean over trigram windows of w[bucket])`` ∈ (0, 1)
(the temperature sharpens per-window NB margins, which are small, into a
usable 0/1 separation); texts with fewer than 3 codepoints (or null) score
0.0 — too short to assess is low quality, consistently in every engine.

Scope (division of labor with the heuristics): the classifier learns junk
a trigram BAG can see — gibberish, symbol/digit spam, keyboard mash.
Single-token REPETITION is deliberately not a training class: repeated
words are built from perfectly natural trigrams, so no bag-of-character-
n-grams model can separate them (fastText included) — that signal is
distributional and the heuristic ``repetition`` rule
(``TX.distinct_token_ratio``) already owns it (a word repeated 30× has
distinct ratio 1/30, far under the 0.2 floor).  Tested explicitly in
tests/test_quality_clf.py.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from ..session import per_context
from ..sources import seed_corpus
from . import hashing as HH

N_BUCKETS = 1 << 12  # 4096: small enough to embed as a SQL literal (~40 KB)
K = 3                # codepoint trigrams
ALPHA = 0.5
TRAIN_SENTENCES_PER_LANG = 400
TRAIN_BAD_PER_KIND = 300
TRAIN_SEED = 5678
# keep/drop gate: good text scores ≥ ~0.7, synthesized junk ≤ ~0.3 (pinned
# by the holdout test); 0.30 is conservative so the learned rule refines —
# not fights — the heuristic keep set.
MIN_QUALITY_SCORE = 0.30
TEMP = 4.0  # margin temperature: sigmoid(TEMP · mean NB margin)

_W1, _W2 = HH.poly_weights(K)

_SHIFT29 = 1 << 29
_MASK29 = _SHIFT29 - 1


def _bucket_from_poly60(h: np.ndarray) -> np.ndarray:
    """Feature bucket from the combined 60-bit poly hash
    ``h = h1·2^29 + (h2 mod 2^29)``: XOR-fold the two halves BEFORE the
    mod so both component hashes reach the bucket.  (The previous
    ``h % N_BUCKETS`` silently dropped h1 — N_BUCKETS divides 2^29, so
    only h2's low bits survived; round-4 ADVICE finding.)"""
    return ((h >> 29) ^ (h & _MASK29)) % N_BUCKETS


@dataclass(frozen=True)
class QualityModel:
    weights: np.ndarray  # float64 [N_BUCKETS], log P(b|good) - log P(b|bad)

    def score_text(self, text: str | None) -> float:
        """Per-row reference twin of :func:`score_batch` (tests pin
        equality)."""
        if not isinstance(text, str) or len(text) < K:
            return 0.0
        cps = np.array([ord(c) for c in text], dtype=np.int64)
        buckets = _bucket_from_poly60(HH.poly60_np(cps, K))
        margin = float(self.weights[buckets].mean())
        return float(1.0 / (1.0 + np.exp(-TEMP * margin)))


def bad_corpus(per_kind: int = TRAIN_BAD_PER_KIND, seed: int = TRAIN_SEED) -> list[str]:
    """Deterministic synthesized low-quality texts — the junk classes a
    trigram bag can learn: uniform gibberish, symbol/digit spam, spaced
    keyboard mash.  (Repetition is out of scope by design — module
    docstring.)"""
    rng = np.random.default_rng(seed)
    out: list[str] = list(seed_corpus.gibberish(per_kind, seed + 1))
    letters = "abcdefghijklmnopqrstuvwxyz"
    symbols = "!@#$%^&*()_+-=[]{}|;:<>/~0123456789"
    for _ in range(per_kind):  # symbol/digit spam
        n = int(rng.integers(30, 90))
        out.append("".join(symbols[i] for i in rng.integers(0, len(symbols), n)))
    for _ in range(per_kind):  # spaced keyboard mash
        words = []
        for _w in range(int(rng.integers(5, 14))):
            ln = int(rng.integers(3, 9))
            words.append(
                "".join(letters[i] for i in rng.integers(0, 26, ln))
            )
        out.append(" ".join(words))
    return out


def _bucket_counts(texts: list[str]) -> tuple[np.ndarray, int]:
    counts = np.zeros(N_BUCKETS, dtype=np.float64)
    total = 0
    for t in texts:
        if len(t) < K:
            continue
        cps = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(
            np.int64
        )
        b = _bucket_from_poly60(HH.poly60_np(cps, K))
        np.add.at(counts, b, 1.0)
        total += b.size
    return counts, total


def train_quality(
    sentences_per_lang: int = TRAIN_SENTENCES_PER_LANG,
    bad_per_kind: int = TRAIN_BAD_PER_KIND,
    seed: int = TRAIN_SEED,
) -> QualityModel:
    """Deterministic NB training; weights ROUNDED to 6 dp so the numpy,
    Spark-literal, and DuckDB-literal paths read identical values."""
    good: list[str] = []
    for lang in seed_corpus.LANGS:
        good += seed_corpus.sentences(lang, sentences_per_lang, seed)
    bad = bad_corpus(bad_per_kind, seed)
    gc, gt = _bucket_counts(good)
    bc, bt = _bucket_counts(bad)
    w = np.log((gc + ALPHA) / (gt + ALPHA * N_BUCKETS)) - np.log(
        (bc + ALPHA) / (bt + ALPHA * N_BUCKETS)
    )
    return QualityModel(weights=np.round(w, 6))


_MODEL: QualityModel | None = None


def get_model() -> QualityModel:
    global _MODEL
    if _MODEL is None:
        _MODEL = train_quality()
    return _MODEL


_SCORE_CHUNK = 4096


def score_batch(texts: pd.Series, model: QualityModel) -> pd.Series:
    """Chunk-global vectorized scorer (the langid/perplexity recipe): one
    utf-32 decode + three shifted int64 dot products per chunk, boundary-
    crossing windows masked, per-row sums via ``add.reduceat`` over the
    offsets of scoring rows only (every scoring row has ≥1 window, so the
    offsets are strictly increasing and in-bounds — no clamp)."""
    n = len(texts)
    out = np.zeros(n, dtype=np.float64)
    vals = texts.to_numpy(dtype=object)
    w1 = np.asarray(_W1, dtype=np.int64)
    w2 = np.asarray(_W2, dtype=np.int64)
    for lo in range(0, n, _SCORE_CHUNK):
        chunk = vals[lo : lo + _SCORE_CHUNK]
        idx = [
            j for j, t in enumerate(chunk)
            if isinstance(t, str) and len(t) >= K
        ]
        if not idx:
            continue
        enc = [chunk[j].encode("utf-32-le") for j in idx]
        lens = np.array([len(e) // 4 for e in enc], dtype=np.int64)
        big = np.frombuffer(b"".join(enc), dtype=np.uint32).astype(np.int64)
        cnt = lens - (K - 1)  # all ≥ 1 by the idx filter
        starts = np.cumsum(lens) - lens
        tid = np.repeat(np.arange(len(enc)), lens)
        t_n = big.size - (K - 1)
        valid = (np.arange(big.size) - starts[tid])[:t_n] < cnt[tid[:t_n]]
        b0 = big[:-2][valid]
        b1 = big[1:-1][valid]
        b2 = big[2:][valid]
        h1 = (b0 * w1[0] + b1 * w1[1] + b2 * w1[2]) % HH.POLY_M1
        h2 = (b0 * w2[0] + b1 * w2[1] + b2 * w2[2]) % HH.POLY_M2
        # == _bucket_from_poly60(h1·2^29 + h2 mod 2^29): h1 < 2^31 is the
        # top half verbatim, so the XOR-fold applies to (h1, h2 mod 2^29)
        bucket = (h1 ^ (h2 % _SHIFT29)) % N_BUCKETS
        lg = model.weights[bucket]
        offs = np.zeros(len(enc), dtype=np.int64)
        np.cumsum(cnt[:-1], out=offs[1:])
        sums = np.add.reduceat(lg, offs) if lg.size else np.zeros(len(enc))
        margin = sums / cnt
        out[lo + np.asarray(idx)] = 1.0 / (1.0 + np.exp(-TEMP * margin))
    return pd.Series(out)


@per_context
def quality_udf(spark):
    """Arrow-vectorized quality scorer (double).  Made once per
    SparkContext, so its weights are broadcast once per context, not once
    per query that scores text (q51, q86, ``prep_text_corpus``)."""
    from pyspark.sql import functions as F

    bc = spark.sparkContext.broadcast(get_model())

    @F.pandas_udf("double")
    def _q(s: pd.Series) -> pd.Series:
        return score_batch(s, bc.value)

    return _q


def weights_duck_literal(model: QualityModel | None = None) -> str:
    """The rounded weight table as a DuckDB DOUBLE[] literal (~20 KB)."""
    m = model or get_model()
    return "[" + ", ".join(f"{w:.6f}" for w in m.weights) + "]"


def score_duck_sql(text_expr: str, model: QualityModel | None = None) -> str:
    """DuckDB scalar expression computing the SAME quality score for
    ``text_expr`` — poly60 trigram hash per window, bucket lookup in the
    embedded literal weight table, sigmoid of the mean.  Bit-identical
    bucket ids (integer arithmetic) and identical weights; scores agree
    with :func:`score_batch` to float summation order (round to 4 dp)."""
    poly = HH.poly60_duck_sql(K, cps="cps", i="i")
    wl = weights_duck_literal(model)
    # XOR-fold bucket (see _bucket_from_poly60); the single-element
    # list_transform let-binds the poly hash so it is evaluated once per
    # window, not once per half
    bucket = (
        f"list_transform([({poly})], "
        f"h -> CAST(xor(h // {_SHIFT29}, h % {_SHIFT29}) % {N_BUCKETS} "
        f"AS INT))[1]"
    )
    return (
        f"CASE WHEN {text_expr} IS NULL OR length({text_expr}) < {K} "
        f"THEN 0.0 ELSE ("
        f"SELECT 1.0 / (1.0 + exp(-{TEMP} * (list_sum(list_transform("
        f"range(1, length({text_expr}) - {K - 2}), "
        f"i -> wl[({bucket}) + 1])) "
        f"/ (length({text_expr}) - {K - 1}))))"
        f" FROM (SELECT {wl}::DOUBLE[] AS wl, "
        f"list_transform(range(1, length({text_expr}) + 1), "
        f"i -> unicode(substr({text_expr}, i, 1))) AS cps)"
        f") END"
    )
