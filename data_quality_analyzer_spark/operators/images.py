"""Image validation stage: decode / verify inside an Arrow-batched UDF.

Design for 100 TB: the `bytes` column is the dominant cost.  The validator
is a **scalar pandas UDF over exactly (bytes, w, h, fmt)** returning a
struct of booleans — the caption and passthrough columns never cross the
JVM/Python boundary, and `bytes` itself crosses once, in Arrow batches
bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``.  The original
`bytes` column is passed through untouched JVM-side (byte-exact invariant).

Reference analogue: the sampled row-validator ``_validate_stats``
(``additional_charge_checks.py:758-792,840-868``) — here run on every row,
vectorized.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..sources import codecs as C

MIN_DIM, MAX_DIM = 2, 16384

# ---------------------------------------------------------------------------
# Metadata gate: the CHEAPEST image reject — decided from catalog columns
# (w, h, fmt, len(bytes)) alone, before any byte ever crosses to the
# decoder.  DataComp/LAION pipelines run exactly this class of filter
# (min side, extreme aspect ratio, implausible compression ratio) ahead
# of download/decode; at 10^12 images the decode UDF is the dominant cost
# and every row rejected here never pays it.  Pure whole-stage codegen —
# a handful of comparisons — with a DuckDB twin for the q60 oracle.
# ---------------------------------------------------------------------------

META_MIN_SIDE = 64        # keep-side floor (stricter than decode MIN_DIM)
META_MAX_SIDE = MAX_DIM
META_MAX_ASPECT = 3.0
# bytes-per-pixel plausibility: below → almost certainly a thumbnail
# stub/truncation; above → not a compressed raster at all.
META_MIN_BPP, META_MAX_BPP = 0.05, 20.0

#: first-fail order, shared by every engine twin
META_REASONS = (
    "bad_metadata",
    "too_small",
    "too_large",
    "extreme_aspect",
    "implausible_bytes",
)


def metadata_flags(w, h, n_bytes) -> dict:
    """First-fail drop-reason booleans from metadata Columns (mutually
    exclusive; ``keep`` = none fired).  NULL/non-positive metadata is its
    own reason — an unjudgeable row must surface in the funnel, not
    silently pass."""
    from pyspark.sql import functions as F

    bad = (
        w.isNull() | h.isNull() | n_bytes.isNull()
        | (w <= 0) | (h <= 0) | (n_bytes <= 0)
    )
    small = ~bad & (F.least(w, h) < META_MIN_SIDE)
    large = ~bad & ~small & (F.greatest(w, h) > META_MAX_SIDE)
    aspect = (
        ~bad & ~small & ~large
        & (F.greatest(w, h) > F.lit(META_MAX_ASPECT) * F.least(w, h))
    )
    bpp = n_bytes / (w * h)
    implaus = (
        ~bad & ~small & ~large & ~aspect
        & ((bpp < META_MIN_BPP) | (bpp > META_MAX_BPP))
    )
    keep = ~bad & ~small & ~large & ~aspect & ~implaus
    return {
        "keep": keep,
        "bad_metadata": bad,
        "too_small": small,
        "too_large": large,
        "extreme_aspect": aspect,
        "implausible_bytes": implaus,
    }


def metadata_flag_sql(w: str, h: str, n_bytes: str, reason: str) -> str:
    """DuckDB twin of :func:`metadata_flags` (same constants, same
    first-fail order)."""
    bad = (
        f"({w} IS NULL OR {h} IS NULL OR {n_bytes} IS NULL "
        f"OR {w} <= 0 OR {h} <= 0 OR {n_bytes} <= 0)"
    )
    small = f"(NOT {bad} AND least({w}, {h}) < {META_MIN_SIDE})"
    large = f"(NOT {bad} AND NOT {small} AND greatest({w}, {h}) > {META_MAX_SIDE})"
    aspect = (
        f"(NOT {bad} AND NOT {small} AND NOT {large} "
        f"AND greatest({w}, {h}) > {META_MAX_ASPECT} * least({w}, {h}))"
    )
    bpp = f"(CAST({n_bytes} AS DOUBLE) / ({w} * {h}))"
    implaus = (
        f"(NOT {bad} AND NOT {small} AND NOT {large} AND NOT {aspect} "
        f"AND ({bpp} < {META_MIN_BPP} OR {bpp} > {META_MAX_BPP}))"
    )
    keep = (
        f"(NOT {bad} AND NOT {small} AND NOT {large} "
        f"AND NOT {aspect} AND NOT {implaus})"
    )
    return {
        "keep": keep,
        "bad_metadata": bad,
        "too_small": small,
        "too_large": large,
        "extreme_aspect": aspect,
        "implausible_bytes": implaus,
    }[reason]


def metadata_gate(
    df,
    w_col: str = "w",
    h_col: str = "h",
    bytes_col: str = "bytes",
    reason_col: str | None = None,
):
    """Filter rows passing the metadata gate (map-only, codegen, runs
    BEFORE the decode UDF).  With ``reason_col``, instead returns ALL
    rows annotated with the first-failing reason ('keep' when none) so
    the funnel metrics can count rejects per reason."""
    from pyspark.sql import functions as F

    flags = metadata_flags(
        F.col(w_col), F.col(h_col), F.length(F.col(bytes_col)).cast("long")
    )
    if reason_col is None:
        return df.filter(flags["keep"])
    reason = F.lit("keep")
    for r in reversed(META_REASONS):
        reason = F.when(flags[r], F.lit(r)).otherwise(reason)
    return df.withColumn(reason_col, reason)

# ---------------------------------------------------------------------------
# Aspect-ratio bucketing (NovelAI / SDXL bucketed batching): every image is
# assigned to the pinned bucket whose aspect ratio is nearest its own, so a
# training batch contains ONE resolution and no image is destructively
# squashed to a global square.  At 10^12 images this is a MAP-ONLY literal
# fold — the bucket table is ~17 rows folded into the plan as constants;
# assignment, resize dims and crop offsets are pure int64 codegen (no UDF,
# no join, no shuffle), and the only exchange in the q72 report is the
# per-bucket count agg.
#
# Portability rule (pinned; both engine twins share it bit-for-bit):
#   a = w·bh, b = h·bw           (int64; a==b ⟺ exact aspect match)
#   key = (max(a,b) · 2^20) div min(a,b)   — a monotone integer surrogate
#   for |log(w/h) − log(bw/bh)|; argmin over buckets, ties → lowest index
#   (encoded as combined = key·64 + idx, take min, idx = combined mod 64).
# Resolution 2^-20 in the ratio is ~10^5× finer than adjacent-bucket
# spacing, and with dims ≤ 2^14 and bucket sides ≤ 2^11 every intermediate
# is < 2^46 — int64-safe with a wide margin.
#
# Resize rule (cover + center crop, all integer): if a ≥ b the image is
# wider than the bucket — scale height to bh (resize_w = a div h ≥ bw,
# truncation-safe by the a ≥ b inequality), crop the width overflow
# centered; symmetrically otherwise.
# ---------------------------------------------------------------------------

#: pinned SDXL-1024 bucket family (w, h): multiples of 64, area ≈ 1024².
AR_BUCKETS: tuple[tuple[int, int], ...] = (
    (512, 2048), (576, 1792), (640, 1536), (704, 1408), (768, 1344),
    (832, 1216), (896, 1152), (960, 1088), (1024, 1024), (1088, 960),
    (1152, 896), (1216, 832), (1344, 768), (1408, 704), (1536, 640),
    (1792, 576), (2048, 512),
)
_AR_SHIFT = 1 << 20


def _ar_combined_terms(w: str, h: str, cast: str) -> list[str]:
    """Shared generator of the per-bucket combined (key·64 + idx) integer
    expressions — identical text modulo the engine's BIGINT cast syntax,
    so the Spark and DuckDB twins cannot drift."""
    terms = []
    for i, (bw, bh) in enumerate(AR_BUCKETS):
        a = f"(CAST({w} AS {cast}) * {bh})"
        b = f"(CAST({h} AS {cast}) * {bw})"
        key = f"((greatest({a}, {b}) * {_AR_SHIFT}) {{div}} least({a}, {b}))"
        terms.append(f"({key} * 64 + {i})")
    return terms


def ar_bucket_idx_spark_sql(w: str, h: str) -> str:
    """Spark-SQL expression: index into AR_BUCKETS (NULL for NULL or
    non-positive dims)."""
    terms = [t.format(div="div") for t in _ar_combined_terms(w, h, "BIGINT")]
    arr = "array(" + ", ".join(terms) + ")"
    guard = f"({w} IS NULL OR {h} IS NULL OR {w} <= 0 OR {h} <= 0)"
    return f"IF({guard}, CAST(NULL AS INT), CAST(pmod(array_min({arr}), 64) AS INT))"


def ar_bucket_idx_duck_sql(w: str, h: str) -> str:
    """DuckDB twin of :func:`ar_bucket_idx_spark_sql` — same pinned
    integer rule."""
    terms = [t.format(div="//") for t in _ar_combined_terms(w, h, "BIGINT")]
    arr = "list_min([" + ", ".join(terms) + "])"
    guard = f"({w} IS NULL OR {h} IS NULL OR {w} <= 0 OR {h} <= 0)"
    return f"CASE WHEN {guard} THEN NULL ELSE CAST({arr} % 64 AS INT) END"


def assign_ar_buckets(
    df,
    w_col: str = "w",
    h_col: str = "h",
):
    """Annotate every row with its aspect-ratio bucket and the integer
    resize + center-crop recipe that maps the image into it:
    ``bucket_idx, bucket_w, bucket_h, resize_w, resize_h, crop_x, crop_y``.
    Map-only whole-stage codegen; invalid dims yield NULL bucket columns
    so the metadata gate's funnel owns the reject decision."""
    from pyspark.sql import functions as F

    idx = F.expr(ar_bucket_idx_spark_sql(w_col, h_col))
    bw_arr = F.array(*[F.lit(bw) for bw, _ in AR_BUCKETS])
    bh_arr = F.array(*[F.lit(bh) for _, bh in AR_BUCKETS])

    # element_at(arr, NULL) does NOT reliably yield NULL (observed: last
    # element under constant-index folding) — guard the NULL bucket row
    # explicitly.
    def _at(arr):
        return F.when(
            F.col("bucket_idx").isNotNull(),
            F.element_at(arr, F.col("bucket_idx") + 1),
        )

    out = (
        df.withColumn("bucket_idx", idx)
        .withColumn("bucket_w", _at(bw_arr))
        .withColumn("bucket_h", _at(bh_arr))
    )
    a = F.col(w_col).cast("long") * F.col("bucket_h")
    b = F.col(h_col).cast("long") * F.col("bucket_w")
    # nullif guards: with NULL/non-positive dims bucket_idx is already
    # NULL, but ANSI mode would still raise on the dead `div 0` branch.
    wider = a >= b
    resize_w = F.when(wider, F.expr(
        f"(CAST({w_col} AS BIGINT) * bucket_h) div nullif({h_col}, 0)"
    ).cast("int")).otherwise(F.col("bucket_w"))
    resize_h = F.when(wider, F.col("bucket_h")).otherwise(F.expr(
        f"(CAST({h_col} AS BIGINT) * bucket_w) div nullif({w_col}, 0)"
    ).cast("int"))
    return (
        out.withColumn("resize_w", resize_w)
        .withColumn("resize_h", resize_h)
        .withColumn(
            "crop_x", ((F.col("resize_w") - F.col("bucket_w")) / 2).cast("int")
        )
        .withColumn(
            "crop_y", ((F.col("resize_h") - F.col("bucket_h")) / 2).cast("int")
        )
    )


def ar_bucket_report_duck_sql(rel: str, w: str, h: str, id_col: str) -> str:
    """DuckDB twin of the q72 per-bucket report over relation ``rel``."""
    idx = ar_bucket_idx_duck_sql(w, h)
    bw = "[" + ", ".join(str(bw) for bw, _ in AR_BUCKETS) + "]"
    bh = "[" + ", ".join(str(bh) for _, bh in AR_BUCKETS) + "]"
    return f"""
    WITH assigned AS (
      SELECT {id_col} AS _id, {w} AS _w, {h} AS _h, {idx} AS bucket_idx
      FROM {rel}
    ), dims AS (
      SELECT *,
             ({bw})[bucket_idx + 1] AS bucket_w,
             ({bh})[bucket_idx + 1] AS bucket_h
      FROM assigned WHERE bucket_idx IS NOT NULL
    )
    SELECT bucket_w, bucket_h,
           COUNT(*) AS n_images,
           CAST(SUM(CASE WHEN CAST(_w AS BIGINT) * bucket_h
                              = CAST(_h AS BIGINT) * bucket_w
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_ar,
           CAST(SUM(CASE WHEN CAST(_w AS BIGINT) * bucket_h
                              >= CAST(_h AS BIGINT) * bucket_w
                         THEN (CAST(_w AS BIGINT) * bucket_h) // _h - bucket_w
                         ELSE (CAST(_h AS BIGINT) * bucket_w) // _w - bucket_h
                    END) AS BIGINT) AS sum_crop_px,
           bit_xor(_id) AS id_checksum
    FROM dims GROUP BY bucket_w, bucket_h
    """


_FLAG_SCHEMA = (
    "magic_ok boolean, decodable boolean, dims_match boolean, "
    "dims_bounds boolean, psnr_ok boolean"
)


def validate_batch(
    data: pd.Series,
    w: pd.Series,
    h: pd.Series,
    fmt: pd.Series,
    min_dim: int = MIN_DIM,
    max_dim: int = MAX_DIM,
) -> pd.DataFrame:
    """Shared by the Spark UDF and the pandas oracle (engine parity).
    Dimension bounds come from PipelineSettings (config.py)."""
    n = len(data)
    magic_ok = np.zeros(n, dtype=bool)
    decodable = np.zeros(n, dtype=bool)
    dims_match = np.zeros(n, dtype=bool)
    dims_bounds = np.zeros(n, dtype=bool)
    psnr_ok = np.ones(n, dtype=bool)  # lossless formats are byte-exact
    for i in range(n):
        b = data.iloc[i]
        if b is None or (isinstance(b, float) and pd.isna(b)) or len(b) == 0:
            continue
        b = bytes(b)
        f = fmt.iloc[i]
        sniffed = C.sniff_format(b)
        magic_ok[i] = sniffed is not None and sniffed == f
        try:
            if f == "jpeg":  # reserved hook: no jpeg library in sandbox
                C.decode_jpeg_stub(b)
            img = C.decode(b, sniffed)
        except (C.CodecError, NotImplementedError):
            continue
        decodable[i] = True
        ih, iw = img.shape[:2]
        dims_match[i] = (iw == w.iloc[i]) and (ih == h.iloc[i])
        dims_bounds[i] = min_dim <= iw <= max_dim and min_dim <= ih <= max_dim
        if sniffed in C.LOSSY_FORMATS:
            # the north rule's lossy invariant, made real by the DQJ codec:
            # the stream's own quantization tables must guarantee ≥ 40 dB
            # worst-case fidelity (LAION/DataComp-style quality-factor
            # filtering; see codecs.dqj_psnr_floor).  Header-only — no
            # re-encode in the hot path.  Lossless formats skip this:
            # byte-exact by construction.
            try:
                psnr_ok[i] = C.LOSSY_PSNR_FLOOR[sniffed](b) >= 40.0
            except C.CodecError:
                psnr_ok[i] = False
    return pd.DataFrame(
        {
            "magic_ok": magic_ok,
            "decodable": decodable,
            "dims_match": dims_match,
            "dims_bounds": dims_bounds,
            "psnr_ok": psnr_ok,
        }
    )


def image_validator_udf(min_dim: int = MIN_DIM, max_dim: int = MAX_DIM):
    """pandas_udf (bytes, w, h, fmt) -> struct of validity flags.  The
    dimension bounds are closed over (tiny ints shipped with the UDF)."""
    from pyspark.sql import functions as F

    @F.pandas_udf(_FLAG_SCHEMA)
    def _validate(
        data: pd.Series, w: pd.Series, h: pd.Series, fmt: pd.Series
    ) -> pd.DataFrame:
        return validate_batch(data, w, h, fmt, min_dim, max_dim)

    return _validate


# ---------------------------------------------------------------------------
# Structural integrity flags: magic + trailer framing decided JVM-SIDE,
# without any byte crossing to the Arrow decoder.  A truncated download
# is the single most common corruption in crawled image corpora (the
# connection died mid-transfer; the header is pristine, the end-of-image
# marker is gone).  Spark's substring/length/equality all operate on
# BinaryType natively, so this check is pure whole-stage codegen over the
# bytes column.  The decoder's own sniff (validate_batch above) remains
# the authority on DECODABILITY; these flags only certify framing and
# feed q90's corruption report, never the pipeline's decode input.
# Format constants are the public file-format magics (ISO/IEC 10918 JPEG
# SOI/EOI, RFC 2083 PNG signature + IEND chunk, GIF89a trailer).
# ---------------------------------------------------------------------------

#: fmt (lowercased) -> (header_hex, trailer_hex)
STRUCTURAL_MAGIC = {
    "jpeg": ("ffd8", "ffd9"),
    "png": ("89504e470d0a1a0a", "49454e44ae426082"),
    "gif": ("47494638", "3b"),
}


def structural_flags(bytes_col, fmt_col) -> dict:
    """Tri-state framing verdicts from a binary column: header_ok /
    trailer_ok / intact as BooleanType Columns.  NULL bytes or a format
    without a known framing rule (e.g. ppm, bmp — no trailer) yield NULL
    verdicts: "can't check" must stay distinct from "checked and failed"
    or unknown formats would pollute corruption-rate dashboards.
    ``intact`` additionally requires the file to be at least
    header+trailer bytes long, so a file that IS just a trailer cannot
    pass by overlap."""
    from pyspark.sql import functions as F

    f = F.lower(F.trim(fmt_col))
    known = bytes_col.isNotNull() & f.isin(*STRUCTURAL_MAGIC)
    hdr_ok = F.lit(None).cast("boolean")
    tl_ok = F.lit(None).cast("boolean")
    min_len = F.lit(None).cast("int")
    for name, (hh, th) in STRUCTURAL_MAGIC.items():
        hb, tb = bytes.fromhex(hh), bytes.fromhex(th)
        hdr_ok = F.when(
            f == name, F.substring(bytes_col, 1, len(hb)) == F.lit(hb)
        ).otherwise(hdr_ok)
        tl_ok = F.when(
            f == name, F.substring(bytes_col, -len(tb), len(tb)) == F.lit(tb)
        ).otherwise(tl_ok)
        min_len = F.when(f == name, F.lit(len(hb) + len(tb))).otherwise(
            min_len
        )
    null_b = F.lit(None).cast("boolean")
    hdr_ok = F.when(known, hdr_ok).otherwise(null_b)
    tl_ok = F.when(known, tl_ok).otherwise(null_b)
    intact = F.when(
        known, hdr_ok & tl_ok & (F.length(bytes_col) >= min_len)
    ).otherwise(null_b)
    return {"header_ok": hdr_ok, "trailer_ok": tl_ok, "intact": intact}


def structural_flag_sql(bytes_sql: str, fmt_sql: str, which: str) -> str:
    """DuckDB twin of :func:`structural_flags` — decided in HEX-STRING
    space (``hex(blob)`` + left/right) because DuckDB has no blob
    substring; an independent decomposition of the same framing rule."""
    f = f"lower(trim({fmt_sql}))"
    hexb = f"hex({bytes_sql})"
    arms = {"header_ok": [], "trailer_ok": [], "intact": []}
    for name, (hh, th) in STRUCTURAL_MAGIC.items():
        h_ok = f"(left({hexb}, {len(hh)}) = '{hh.upper()}')"
        t_ok = f"(right({hexb}, {len(th)}) = '{th.upper()}')"
        long_enough = f"(octet_length({bytes_sql}) >= {(len(hh) + len(th)) // 2})"
        arms["header_ok"].append(f"WHEN '{name}' THEN {h_ok}")
        arms["trailer_ok"].append(f"WHEN '{name}' THEN {t_ok}")
        arms["intact"].append(
            f"WHEN '{name}' THEN ({h_ok} AND {t_ok} AND {long_enough})"
        )
    body = " ".join(arms[which])
    return (
        f"(CASE WHEN {bytes_sql} IS NULL THEN NULL "
        f"ELSE CASE {f} {body} ELSE NULL END END)"
    )


def structural_gate(df, bytes_col: str, fmt_col: str, out_col: str = "framing"):
    """Annotate ``df`` with a struct<header_ok, trailer_ok, intact>
    column — a REPORTING/triage signal (q90's corruption dashboard), not
    a decode mask.  Do NOT mask decoder input on ``intact``: decode_png
    is deliberately lenient about a missing IEND (as libpng is), so a
    trailer-broken file can still be decodable and an intact-based mask
    would flip keep verdicts."""
    from pyspark.sql import functions as F

    flags = structural_flags(F.col(bytes_col), F.col(fmt_col))
    return df.withColumn(
        out_col,
        F.struct(*(v.alias(k) for k, v in flags.items())),
    )
