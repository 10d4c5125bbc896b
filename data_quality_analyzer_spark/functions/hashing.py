"""Portable deterministic hashing shared by the dedup operators and their
DuckDB oracle twins.

Base hash: first 15 hex chars of md5 → 60-bit non-negative int64 — identical
in Spark (``conv(substring(md5(x),1,15),16,10)``) and DuckDB
(``('0x'||substr(md5(x),1,15))::BIGINT``).

Per-seed MinHash permutations avoid re-hashing the shingle per seed (the
base hash is the expensive part): one base hash per shingle, then the Carter-Wegman mix
    h_s = (a_s·h + b_s) mod P,   P = 2^61 - 1 (Mersenne prime)
computed overflow-free in signed 64-bit via a split mulmod (DuckDB BIGINT
errors on overflow, so the naive product would not be portable):
    t  = (a·(h >> 30)) mod P          -- a < 2^31, h >> 30 < 2^30 → < 2^61
    t  = ((t >> 31) + ((t & (2^31-1)) << 30)) mod P   -- t·2^30 mod P,
                                          using 2^61 ≡ 1 (mod P)
    h_s = (t + a·(h & (2^30-1)) + b) mod P            -- < 3·2^61 < 2^63
Verified equal to exact big-integer (a·h+b) mod P in tests.

A genuinely-wrapping modular mix is load-bearing for MinHash QUALITY, not
just portability: the previous family ((hi·A + lo·B + C) mod 2^61 with
A,B,C < 2^30) could never exceed 2^61, so the mod never wrapped and every
"permutation" was the same positive linear functional of (hi, lo) — all
seeds picked correlated argmin shingles and signature agreement did NOT
estimate Jaccard (measured: agreement 0.06 on a pair with true J = 0.78).
With the Mersenne mix, agreement is unbiased with the textbook
√(J(1-J)/num_hashes) deviation (pinned by tests/test_dedup.py).
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

NUM_SEEDS = 16
_LO_MASK = (1 << 30) - 1
_M31 = (1 << 31) - 1
MERSENNE_P = (1 << 61) - 1

_rng = np.random.default_rng(20260816)
MINHASH_PARAMS: tuple[tuple[int, int], ...] = tuple(
    (
        int(_rng.integers(1, 1 << 31)) | 1,
        int(_rng.integers(0, MERSENNE_P)),
    )
    for _ in range(NUM_SEEDS)
)


def h60_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def h60_spark_sql(expr: str) -> str:
    """Spark-SQL (expression string) form of the same 60-bit hash."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def h60(col: Column) -> Column:
    """Column form of the same 60-bit hash."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def h60_python(s: str) -> int:
    """Python twin of the same 60-bit hash (60 bits, always non-negative,
    so ``% n`` equals Spark's ``pmod``)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def mix_sql(h: str, seed: int) -> str:
    """DuckDB form of the per-seed Mersenne mix (a·h + b) mod 2^61-1,
    via the overflow-free split mulmod (module docstring)."""
    a, b = MINHASH_PARAMS[seed]
    t1 = f"(({a} * (({h}) >> 30)) % {MERSENNE_P})"
    t2 = f"(((({t1}) >> 31) + ((({t1}) & {_M31}) << 30)) % {MERSENNE_P})"
    return f"((({t2}) + {a} * (({h}) & {_LO_MASK}) + {b}) % {MERSENNE_P})"


def mix_spark_sql(h: str, seed: int) -> str:
    """Spark-SQL form: same math via shiftright/shiftleft/pmod — Spark's
    expression parser rejects `>>`/`&` inside (some) nested lambdas, the
    function forms always parse.  h ≥ 0 so `& mask` ≡ `pmod(·, 2^k)`."""
    a, b = MINHASH_PARAMS[seed]
    t1 = f"pmod({a} * shiftright({h}, 30), {MERSENNE_P})"
    t2 = (
        f"pmod(shiftright({t1}, 31) + shiftleft(pmod({t1}, {_M31 + 1}), 30), "
        f"{MERSENNE_P})"
    )
    return f"pmod({t2} + {a} * pmod({h}, {_LO_MASK + 1}) + {b}, {MERSENNE_P})"


def mix_python(h: int, seed: int) -> int:
    """Python reference — identical arithmetic to the SQL/numpy forms
    (and, by the Mersenne identity, to exact (a·h+b) mod P)."""
    a, b = MINHASH_PARAMS[seed]
    t = (a * (h >> 30)) % MERSENNE_P
    t = ((t >> 31) + ((t & _M31) << 30)) % MERSENNE_P
    return (t + a * (h & _LO_MASK) + b) % MERSENNE_P


def mix_np(hs: "np.ndarray", num_hashes: int) -> "np.ndarray":
    """Vectorized mix of a base-hash array (n,) for the first
    ``num_hashes`` seeds → (num_hashes, n).  Same split mulmod; every
    intermediate < 3·2^61 < 2^63 (int64-safe)."""
    params = np.array(MINHASH_PARAMS[:num_hashes], dtype=np.int64)
    A = params[:, 0][:, None]
    B = params[:, 1][:, None]
    xh = hs >> 30
    xl = hs & _LO_MASK
    t = (A * xh[None, :]) % MERSENNE_P
    t = ((t >> 31) + ((t & _M31) << 30)) % MERSENNE_P
    return (t + A * xl[None, :] + B) % MERSENNE_P


# ---------------------------------------------------------------------------
# Polynomial 60-bit shingle hash — the one MinHash shingle hash (its
# variable-length token form below is the one SimHash token hash).
#
# md5-per-shingle (h60 above) is engine-portable but pays one interpreter
# round-trip per shingle in a numpy kernel (~1000 hashlib calls for a
# 1000-char doc) — the single largest CPU line of the dedup stage at scale
# (round-2 VERDICT finding 1).  The polynomial form hashes EVERY window of
# a document with two int64 matmuls: two independent base/modulus pairs
#     h1 = (Σ_j cp[i+j]·P1^(k-1-j)) mod M1,   h2 = (… P2 … ) mod M2
# combined into a 60-bit value  h = h1·2^29 + (h2 mod 2^29).
#
# Overflow audit (holds in numpy int64, DuckDB BIGINT, and Spark long —
# DuckDB errors on signed-64 overflow, so this is load-bearing):
#   codepoint < 2^21, weight < 2^31  →  term < 2^52; k ≤ 64 terms → Σ < 2^58;
#   h1 < 2^31, h1·2^29 < 2^60  →  h < 2^60, the same range as h60, so the
#   per-seed affine mixes above apply unchanged.
# ---------------------------------------------------------------------------

POLY_P1, POLY_M1 = 1_000_003, 2_147_483_647  # M1 = 2^31 - 1 (prime)
POLY_P2, POLY_M2 = 1_000_033, 2_147_483_629  # M2 = 2^31 - 19 (prime)
_POLY_SHIFT = 1 << 29
POLY_MAX_K = 64  # keeps Σ terms < 2^58 (see overflow audit)


def poly_weights(k: int) -> tuple[list[int], list[int]]:
    """Window weights P^(k-1-j) mod M for j = 0..k-1 (highest power first,
    i.e. Horner order — the rolling-update form uses the same weights)."""
    if not (0 < k <= POLY_MAX_K):
        raise ValueError(f"shingle size k must be in [1, {POLY_MAX_K}], got {k}")
    w1 = [pow(POLY_P1, k - 1 - j, POLY_M1) for j in range(k)]
    w2 = [pow(POLY_P2, k - 1 - j, POLY_M2) for j in range(k)]
    return w1, w2


def poly60_np(cps: "np.ndarray", k: int) -> "np.ndarray":
    """60-bit polynomial hash of every k-codepoint window of ``cps``
    (int64 array, len ≥ k) — two vectorized matmuls, no per-window Python."""
    from numpy.lib.stride_tricks import sliding_window_view

    w1, w2 = poly_weights(k)
    win = sliding_window_view(cps, k)
    h1 = (win @ np.asarray(w1, dtype=np.int64)) % POLY_M1
    h2 = (win @ np.asarray(w2, dtype=np.int64)) % POLY_M2
    return h1 * _POLY_SHIFT + (h2 % _POLY_SHIFT)


def poly60_python(s: str, k: int) -> list[int]:
    """Pure-python reference of :func:`poly60_np` (tests pin equality)."""
    w1, w2 = poly_weights(k)
    cps = [ord(c) for c in s]
    out = []
    for i in range(len(cps) - k + 1):
        h1 = sum(cps[i + j] * w1[j] for j in range(k)) % POLY_M1
        h2 = sum(cps[i + j] * w2[j] for j in range(k)) % POLY_M2
        out.append(h1 * _POLY_SHIFT + (h2 % _POLY_SHIFT))
    return out


def poly60_duck_sql(k: int, cps: str = "cps", i: str = "i") -> str:
    """DuckDB twin: the same 60-bit hash for the window starting at 1-based
    index ``i`` of the codepoint list ``cps`` (build it once per document
    with ``list_transform(range(1, length(text)+1), i -> unicode(substr(
    text, i, 1)))``).  Every intermediate fits BIGINT — see overflow audit."""
    w1, w2 = poly_weights(k)

    def term(j: int, w: int) -> str:
        # unicode() yields INT32 and the weights fit INT32 too — force the
        # multiplication into BIGINT or DuckDB overflows at 32 bits
        idx = i if j == 0 else f"{i}+{j}"
        return f"CAST({cps}[{idx}] AS BIGINT)*{w}"

    t1 = " + ".join(term(j, w1[j]) for j in range(k))
    t2 = " + ".join(term(j, w2[j]) for j in range(k))
    return (
        f"(({t1}) % {POLY_M1}) * {_POLY_SHIFT} + ((({t2}) % {POLY_M2}) % {_POLY_SHIFT})"
    )


# ---------------------------------------------------------------------------
# Variable-length TOKEN hash — the poly family for SimHash.
#
# SimHash hashes whitespace tokens (variable length), not fixed-k windows.
# Family definition (portable across numpy / DuckDB BIGINT / Python):
#     p  = min(len(tok), 64)                       -- hashed prefix
#     h1 = (Σ_{j<p} cp[j]·P1^(p-1-j)) mod M1,  h2 = (… P2 … ) mod M2
#     h  = (h1·2^29 + (h2 mod 2^29) + P1·len(tok)) mod 2^60
# The length term separates tokens sharing a 64-codepoint prefix; the
# overflow audit of the windowed form applies unchanged (≤64 terms < 2^58;
# h1·2^29 < 2^60; P1·len < 2^47 for any realistic token → sum < 2^61).
# ---------------------------------------------------------------------------

TOKEN_MAX_K = POLY_MAX_K  # 64-codepoint hashed prefix
_TOKEN_MOD = 1 << 60

# powers P^(e) mod M for e = 0..TOKEN_MAX_K-1 (weight of position j in a
# p-long prefix is P^(p-1-j))
_PW1 = [pow(POLY_P1, e, POLY_M1) for e in range(TOKEN_MAX_K)]
_PW2 = [pow(POLY_P2, e, POLY_M2) for e in range(TOKEN_MAX_K)]


def poly60_token_python(s: str) -> int:
    """Pure-python reference of the token family (tests pin equality)."""
    cps = [ord(c) for c in s[:TOKEN_MAX_K]]
    p = len(cps)
    h1 = sum(c * _PW1[p - 1 - j] for j, c in enumerate(cps)) % POLY_M1
    h2 = sum(c * _PW2[p - 1 - j] for j, c in enumerate(cps)) % POLY_M2
    return (h1 * _POLY_SHIFT + (h2 % _POLY_SHIFT) + POLY_P1 * len(s)) % _TOKEN_MOD


def poly60_token_np(tokens: list[str]) -> "np.ndarray":
    """Vectorized token-family hash of a list of (typically distinct)
    tokens: one utf-32 decode + two weighted segment sums via
    ``add.reduceat`` — no per-token Python beyond the encode."""
    n = len(tokens)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    full_lens = np.array([len(t) for t in tokens], dtype=np.int64)
    enc = [t[:TOKEN_MAX_K].encode("utf-32-le") for t in tokens]
    plens = np.array([len(e) // 4 for e in enc], dtype=np.int64)
    big = np.frombuffer(b"".join(enc), dtype=np.uint32).astype(np.int64)
    starts = np.cumsum(plens) - plens
    tid = np.repeat(np.arange(n), plens)
    pos = np.arange(big.size) - starts[tid]
    exp = plens[tid] - 1 - pos  # P^(p-1-j)
    pw1 = np.asarray(_PW1, dtype=np.int64)
    pw2 = np.asarray(_PW2, dtype=np.int64)
    t1 = big * pw1[exp]
    t2 = big * pw2[exp]
    # rows with empty prefix (empty token) contribute no terms; their
    # offsets coincide with the next row's — reduceat only over non-empty
    # rows (strictly increasing, in-bounds), then scatter.
    offs = np.zeros(n, dtype=np.int64)
    np.cumsum(plens[:-1], out=offs[1:])
    nonzero = plens > 0
    h1 = np.zeros(n, dtype=np.int64)
    h2 = np.zeros(n, dtype=np.int64)
    if big.size:
        h1[nonzero] = np.add.reduceat(t1, offs[nonzero]) % POLY_M1
        h2[nonzero] = np.add.reduceat(t2, offs[nonzero]) % POLY_M2
    return (
        h1 * _POLY_SHIFT + (h2 % _POLY_SHIFT) + POLY_P1 * full_lens
    ) % _TOKEN_MOD


def poly60_token_duck_sql(tok: str) -> str:
    """DuckDB twin of the token family for a token expression ``tok`` —
    the position weights are embedded power-table literals, every
    intermediate fits BIGINT (overflow audit above)."""
    pw1 = "[" + ", ".join(str(v) for v in _PW1) + "]"
    pw2 = "[" + ", ".join(str(v) for v in _PW2) + "]"
    p = f"least(length({tok}), {TOKEN_MAX_K})"

    # DuckDB's list_sum over BIGINT promotes to DOUBLE (precision loss past
    # 2^53) — accumulate in HUGEINT (exact 128-bit) and cast back after the
    # mod.  Weight of 1-based position j is P^(p-j) = PW[p-j+1].
    def term_sum(pw: str, m: int) -> str:
        return (
            f"CAST(list_sum(list_transform(range(1, {p} + 1), "
            f"j -> CAST(unicode(substr({tok}, CAST(j AS INT), 1)) AS HUGEINT) * "
            f"({pw})[CAST({p} - j + 1 AS INT)])) % {m} AS BIGINT)"
        )

    t1 = term_sum(pw1, POLY_M1)
    t2 = term_sum(pw2, POLY_M2)
    return (
        f"(COALESCE({t1}, 0) * {_POLY_SHIFT} "
        f"+ (COALESCE({t2}, 0) % {_POLY_SHIFT}) "
        f"+ {POLY_P1} * length({tok})) % {_TOKEN_MOD}"
    )
