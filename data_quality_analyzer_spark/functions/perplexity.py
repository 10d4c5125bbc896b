"""KenLM-style char-trigram language model for gibberish detection.

Hash-bucketed trigram/bigram counts with add-k smoothing, trained
deterministically from the embedded seed corpus (all languages pooled).
Perplexity here = 2^(mean neg log2 P(c3 | c1 c2)) over the byte stream.

Same train-once / broadcast / numpy-inner-loop design as ``langid``; the
pandas oracle calls the identical :func:`score_batch`.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from ..sources import seed_corpus

TRI_BUCKETS = 1 << 18
BI_BUCKETS = 1 << 16
_MULT = 2654435761
ADD_K = 0.05
VOCAB_SIZE = 256
TRAIN_SENTENCES_PER_LANG = 400
TRAIN_SEED = 1234
# keep/drop threshold for the gibberish rule: in-domain text scores ≤ ~4,
# uniform-letter gibberish ≥ ~29 — 12 sits far from both tails.
MAX_PERPLEXITY = 12.0


def _tri_bi_ids(text: str) -> tuple[np.ndarray, np.ndarray]:
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.int64)
    if len(b) < 3:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    tri = (b[:-2] << 16) | (b[1:-1] << 8) | b[2:]
    bi = (b[:-2] << 8) | b[1:-1]
    return (tri * _MULT) & (TRI_BUCKETS - 1), (bi * _MULT) & (BI_BUCKETS - 1)


@dataclass(frozen=True)
class CharLM:
    tri_counts: np.ndarray  # float32 [TRI_BUCKETS]
    bi_counts: np.ndarray  # float32 [BI_BUCKETS]

    def perplexity(self, text: str) -> float:
        tri, bi = _tri_bi_ids(text.lower())
        if tri.size == 0:
            return float("inf")
        p = (self.tri_counts[tri] + ADD_K) / (
            self.bi_counts[bi] + ADD_K * VOCAB_SIZE
        )
        return float(2.0 ** (-np.mean(np.log2(p))))


def train_charlm(
    sentences_per_lang: int = TRAIN_SENTENCES_PER_LANG, seed: int = TRAIN_SEED
) -> CharLM:
    tri_counts = np.zeros(TRI_BUCKETS, dtype=np.float64)
    bi_counts = np.zeros(BI_BUCKETS, dtype=np.float64)
    for lang in seed_corpus.LANGS:
        for s in seed_corpus.sentences(lang, sentences_per_lang, seed):
            tri, bi = _tri_bi_ids(s.lower())
            np.add.at(tri_counts, tri, 1.0)
            np.add.at(bi_counts, bi, 1.0)
    return CharLM(tri_counts.astype(np.float32), bi_counts.astype(np.float32))


_MODEL: CharLM | None = None


def get_model() -> CharLM:
    global _MODEL
    if _MODEL is None:
        _MODEL = train_charlm()
    return _MODEL


_SCORE_CHUNK = 4096  # rows per gather: bounds the per-chunk trigram slab


def score_batch(texts: pd.Series, model: CharLM) -> pd.Series:
    """Batch-vectorized twin of :meth:`CharLM.perplexity`: the chunk's
    UTF-8 bytes are concatenated once, trigram/bigram ids come from global
    shifts with boundary-crossing grams masked out, and per-row log-prob
    sums from one ``add.reduceat`` — zero per-row numpy."""
    n = len(texts)
    out = np.full(n, np.inf, dtype=np.float64)
    vals = texts.to_numpy(dtype=object)
    for lo in range(0, n, _SCORE_CHUNK):
        chunk = vals[lo : lo + _SCORE_CHUNK]
        idx = [j for j, t in enumerate(chunk) if isinstance(t, str) and t]
        if not idx:
            continue
        enc = [chunk[j].lower().encode("utf-8") for j in idx]
        lens = np.array([len(e) for e in enc], dtype=np.int64)
        big = np.frombuffer(b"".join(enc), dtype=np.uint8).astype(np.int64)
        t_n = big.size - 2
        if t_n <= 0:
            continue
        cnt = np.maximum(lens - 2, 0)
        starts = np.cumsum(lens) - lens
        tid = np.repeat(np.arange(len(enc)), lens)
        valid = (np.arange(big.size) - starts[tid])[:t_n] < cnt[tid[:t_n]]
        b0, b1, b2 = big[:-2][valid], big[1:-1][valid], big[2:][valid]
        if b0.size == 0:
            continue
        pre = (b0 << 8) | b1
        tri = ((((pre << 8) | b2) * _MULT)) & (TRI_BUCKETS - 1)
        bi = (pre * _MULT) & (BI_BUCKETS - 1)
        p = (model.tri_counts[tri] + ADD_K) / (
            model.bi_counts[bi] + ADD_K * VOCAB_SIZE
        )
        lg = np.log2(p)
        offs = np.zeros(len(enc), dtype=np.int64)
        np.cumsum(cnt[:-1], out=offs[1:])
        # reduceat only over rows with cnt>0: those offsets are strictly
        # increasing and < lg.size by construction.  A clamp over ALL offsets
        # would truncate the last nonzero row's segment whenever a trailing
        # row has zero trigrams (its offset == lg.size).
        nonzero = cnt > 0
        sums_nz = np.add.reduceat(lg, offs[nonzero])
        ppl = np.full(len(enc), np.inf)
        ppl[nonzero] = 2.0 ** (-(sums_nz / cnt[nonzero]))
        out[lo + np.asarray(idx)] = ppl
    return pd.Series(out)

