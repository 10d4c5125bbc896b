"""fastText-style language identification: hashed char-n-gram features +
linear (multinomial naive Bayes) classifier, trained deterministically from
the embedded seed corpus (no external models exist in the sandbox;
SURVEY §7.0).

Engine side: the fused caption scorer (``functions/caption_scores.py``),
an Arrow-batched ``pandas_udf`` whose weights travel via
``SparkContext.broadcast`` — one deserialization per executor, zero per-row
Python beyond the string walk (inner loops are numpy).  Oracle side: the
same :func:`predict_batch` run in plain pandas — engine-vs-oracle parity is
exact because the model object is byte-identical (seeded training).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from ..sources import seed_corpus

N_BUCKETS = 1 << 15
_MULT = 2654435761  # Knuth multiplicative hash
TRAIN_SENTENCES_PER_LANG = 400
TRAIN_SEED = 1234
ALPHA = 0.5
MIN_CONFIDENCE = 0.05  # per-char top1-top2 log-margin for "confident"


def _ngram_buckets(text: str) -> np.ndarray:
    """Hashed 1/2/3-gram bucket ids of the UTF-8 bytes of ``text``."""
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.int64)
    feats = [b]
    if len(b) >= 2:
        feats.append((b[:-1] << 8) | b[1:])
    if len(b) >= 3:
        feats.append((b[:-2] << 16) | (b[1:-1] << 8) | b[2:])
    ids = np.concatenate(feats) if feats else np.empty(0, dtype=np.int64)
    return (ids * _MULT) & (N_BUCKETS - 1)


@dataclass(frozen=True)
class LangIdModel:
    langs: tuple[str, ...]
    log_likelihood: np.ndarray  # (n_langs, N_BUCKETS) float32

    def score_text(self, text: str) -> np.ndarray:
        buckets = _ngram_buckets(text)
        if buckets.size == 0:
            return np.zeros(len(self.langs), dtype=np.float64)
        return self.log_likelihood[:, buckets].sum(axis=1) / buckets.size


def train_langid(
    sentences_per_lang: int = TRAIN_SENTENCES_PER_LANG, seed: int = TRAIN_SEED
) -> LangIdModel:
    """Deterministic NB training over the embedded seed corpus."""
    langs = seed_corpus.LANGS
    counts = np.zeros((len(langs), N_BUCKETS), dtype=np.float64)
    for li, lang in enumerate(langs):
        for s in seed_corpus.sentences(lang, sentences_per_lang, seed):
            buckets = _ngram_buckets(s.lower())
            np.add.at(counts[li], buckets, 1.0)
    totals = counts.sum(axis=1, keepdims=True)
    loglik = np.log((counts + ALPHA) / (totals + ALPHA * N_BUCKETS))
    return LangIdModel(langs=langs, log_likelihood=loglik.astype(np.float32))


_MODEL: LangIdModel | None = None


def get_model() -> LangIdModel:
    global _MODEL
    if _MODEL is None:
        _MODEL = train_langid()
    return _MODEL


_SCORE_CHUNK = 2048  # rows per gather: bounds the (n_langs × Σngrams) slab


def _score_chunk(chunk_texts: list[str], ll: np.ndarray) -> np.ndarray:
    """Scores (n_langs, n_rows) for non-blank lowered texts — fully
    vectorized: the chunk's UTF-8 bytes are concatenated once, 1/2/3-gram
    ids are computed by three global shifts, boundary-crossing grams are
    masked out, and per-row sums come from ``add.reduceat`` (one weight
    gather per n-size for the whole chunk; zero per-row numpy)."""
    enc = [t.encode("utf-8") for t in chunk_texts]
    lens = np.array([len(e) for e in enc], dtype=np.int64)
    big = np.frombuffer(b"".join(enc), dtype=np.uint8).astype(np.int64)
    n_rows, total = len(enc), big.size
    ends = np.cumsum(lens)
    starts = ends - lens
    tid_full = np.repeat(np.arange(n_rows), lens)
    pos_in_text = np.arange(total) - starts[tid_full]
    sums = np.zeros((ll.shape[0], n_rows), dtype=np.float64)
    counts = np.zeros(n_rows, dtype=np.int64)
    grams_by_n = (
        big,
        (big[:-1] << 8) | big[1:] if total >= 2 else big[:0],
        (big[:-2] << 16) | (big[1:-1] << 8) | big[2:] if total >= 3 else big[:0],
    )
    for n, grams in zip((1, 2, 3), grams_by_n):
        cnt = np.maximum(lens - (n - 1), 0)
        t_n = grams.size
        if t_n <= 0:
            continue
        valid = pos_in_text[:t_n] < cnt[tid_full[:t_n]]
        bucket = (grams[valid] * _MULT) & (N_BUCKETS - 1)
        if bucket.size == 0:
            continue
        offs = np.zeros(n_rows, dtype=np.int64)
        np.cumsum(cnt[:-1], out=offs[1:])
        # reduceat only over rows with cnt>0: offsets strictly increasing and
        # < bucket.size by construction.  Clamping ALL offsets truncates the
        # last nonzero row's segment when a trailing row has no n-grams of
        # this size (its offset == bucket.size).
        nonzero = cnt > 0
        part = np.add.reduceat(ll[:, bucket], offs[nonzero], axis=1)
        sums[:, nonzero] += part
        counts += cnt
    np.maximum(counts, 1, out=counts)  # blank rows are filtered by caller
    return sums / counts


def predict_batch(texts: pd.Series, model: LangIdModel) -> pd.DataFrame:
    """(lang, confidence) per text — shared by the UDF and the oracle.

    Batch-vectorized (see :func:`_score_chunk`); chunked so the gathered
    (n_langs, Σngrams) float32 slab stays ~20 MB regardless of Arrow batch
    size."""
    langs = np.array(model.langs)
    n = len(texts)
    out_lang = np.empty(n, dtype=object)
    out_lang[:] = None
    out_conf = np.zeros(n, dtype=np.float64)
    vals = texts.to_numpy(dtype=object)
    for lo in range(0, n, _SCORE_CHUNK):
        chunk = vals[lo : lo + _SCORE_CHUNK]
        idx = [
            j
            for j, t in enumerate(chunk)
            if t is not None and isinstance(t, str) and t.strip()
        ]
        if not idx:
            continue
        scores = _score_chunk(
            [chunk[j].lower() for j in idx], model.log_likelihood
        )
        order = np.argsort(scores, axis=0)
        best, second = order[-1], order[-2]
        cols = np.arange(scores.shape[1])
        rows = lo + np.asarray(idx)
        out_lang[rows] = langs[best]
        out_conf[rows] = scores[best, cols] - scores[second, cols]
    return pd.DataFrame({"lang_pred": out_lang, "lang_conf": out_conf})

