"""Per-partition lineage, checkpoint/resume, and the cross-run ledgers, all
committed under one atomic-manifest protocol.

Reference analogue: the clear-then-reload idempotence pattern
(``scripts/load_data.py:69-77``, ``generate_stats_collection.py:87-108``
delete-and-recreate) upgraded to partition-granular atomic commits
(SURVEY §2.9, §4.3 checkpoint/resume row).  Iceberg-style transactional
semantics without the Iceberg jar (absent in this sandbox — SURVEY §7.0):
swap this layer for a real Iceberg catalog when the runtime jar exists —
the pipeline code does not change (see
tests/test_resume.py::test_writer_seam_is_swappable).

The commit protocol (every table in this module follows it):

* **The manifest is the commit point.**  A JSON manifest next to the data
  is only ever replaced whole, by :func:`atomic_write_json` (temp file,
  then an atomic rename): a reader sees the old manifest or the new one.
* **Data before manifest.**  A batch's parquet lands first; the manifest
  that lists it is replaced last.  Readers trust only listed partitions,
  so a crash in between leaves a torn directory nobody reads.
* **Torn-directory cleanup.**  Re-running an uncommitted batch first
  removes what the failed attempt left in its directory
  (:meth:`Ledger.batch_dir`; ``_clear_bucket_dirs`` for the verdict
  table), then rewrites it — restart converges to the uninterrupted run.
* **Ledger manifest fields.**  ``batches`` lists every batch ever
  committed: it is the permanent *replay guard* — re-running a committed
  batch is a no-op (or returns the stored result), and compaction never
  shrinks it.  ``segments`` (compactable additive ledgers only) lists the
  LIVE partitions the merged read scans.  *Pins* (``k``,
  ``depth``/``width``, ``gap_us`` …) are parameters every batch must
  share because partitions built under different values do not merge:
  the first commit sets them, a mismatch raises — checked before the
  replay guard, so a replay under different pins raises instead of
  silently no-opping.
* **Compaction crash ordering** (:meth:`Ledger.compact`).  The merged
  base partition ``__base_<len(batches)>__`` (deterministic: no wall
  clock, never collides with a crawl id, and a rerun at the same ledger
  state overwrites its own torn attempt) is written first; the manifest
  swap makes it the only segment; superseded segment directories are
  removed only after the swap.  A crash before the swap leaves an
  unlisted base directory, a crash after it unlisted orphan segments
  (harmless, reclaimable by hand) — the merged read never changes.
* **State ledgers** (sessions, recrawl: partition column ``state_batch``)
  read only the state the last committed batch wrote, so their
  ``batches`` keep commit order and superseded state partitions are
  removed after each swap, in compaction's order.
* **Near-dup ledgers' hot-band cap.**  The minhash, phash and embedding
  ledgers join new band rows to the archive's through
  ``dedup._band_pairs``, with the cap ON by default (they run unattended
  across crawls, where a degenerate bucket accretes): ``max_band_size=
  None`` reads ``dedup.LEDGER_MAX_BAND_SIZE`` at call time, ``0`` is off.

The verdict table (:func:`run_with_checkpoints`) keys its manifest by
**phash bucket** (`pmod(phash, NB)` — the north rule; the key the 100 TB
table would be bucket-partitioned by) instead of batch:
``committed`` maps bucket → lineage row, ``num_buckets`` is its pin, and
``schema`` records the written verdict schema so a read of an all-empty
commit still has columns.

Scale design of the verdict table:

* **One input scan, one pipeline execution per run** in the default
  single-pass mode: all pending buckets are filtered in one pass, written
  with ``partitionBy("bucket")`` in one job, and only then committed.
  Per-bucket lineage stats are derived from the **just-written parquet**
  (columnar scan of bucket+keep only — no second UDF execution).
* The chunked mode (``chunk_size=k``) trades scans for commit granularity:
  k buckets commit per snapshot, so a crash loses at most one chunk of
  work.  Use it when the *input itself* is bucket-partitioned (then the
  per-chunk ``filter(bucket.isin(chunk))`` prunes at the source and each
  chunk reads only its own partitions, not the full table).  Its stats are
  also read back from the written parquet — the expensive UDF stages run
  exactly once per row in both modes.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..config import PipelineSettings
from ..exec_utils import materialize
from ..operators import dedup as DD
from .pipeline import langid_histogram, pipeline_metrics, run_pipeline

# underscore prefix: Spark's parquet reader skips _-prefixed files, so the
# manifest can live inside the table directory.
MANIFEST = "_manifest.json"
# per-partition quality-metric tables (north rule: "per-partition lineage +
# quality-metric tables (pass/fail counts per rule, langid histogram)
# written transactionally"): they live NEXT TO the data table and follow
# the same commit rule — a reader trusts only manifest-committed buckets.
# underscore prefix again: the data-table reader must skip these subtrees
# (mixed partition layouts under one root break partition discovery).
RULE_METRICS_DIR = "_rule_metrics"
LANGID_HIST_DIR = "_langid_histogram"


def read_json(path: str) -> dict | None:
    """The JSON document at ``path``; None when it does not exist."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def atomic_write_json(path: str, doc: dict) -> None:
    """Replace ``path`` with ``doc`` atomically — the one commit point of
    every manifest and pointer in the package."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def _clear(path: str) -> str:
    """``path`` with whatever is there removed: a torn earlier attempt, or
    a partition no manifest lists any more."""
    if os.path.exists(path):
        shutil.rmtree(path)
    return path


def _check_pins(where: str, manifest: dict, pins: dict) -> None:
    pinned = {k: manifest.get(k) for k in pins}
    if any(v is not None for v in pinned.values()) and pinned != pins:
        have, got = (
            " ".join(f"{k}={v!r}" for k, v in d.items()) for d in (pinned, pins)
        )
        raise ValueError(f"ledger at {where!r} is pinned to {have}; got {got}")


@dataclass(frozen=True)
class Ledger:
    """One cross-run ledger under the module's commit protocol: the
    manifest file and data directory inside a store, the data directory's
    partition column, whether the ledger keeps live ``segments``, and the
    names of its pins.  The ledger functions below keep only their
    transforms; every protocol step is a method here."""

    manifest_name: str
    data_dir: str
    pins: tuple[str, ...] = ()
    segments: bool = False
    part_col: str = "batch_id"

    @property
    def _is_state(self) -> bool:
        return self.part_col == "state_batch"

    def manifest(self, store_dir: str) -> dict:
        m = read_json(os.path.join(store_dir, self.manifest_name))
        if m is None:
            m = {"batches": [], **dict.fromkeys(self.pins)}
        if self.segments:
            m.setdefault("segments", list(m["batches"]))  # pre-compaction
        return m

    def committed(self, store_dir: str) -> dict:
        """The manifest of a ledger that must hold a committed batch."""
        m = self.manifest(store_dir)
        if not m["batches"]:
            raise ValueError(f"no committed batches at {store_dir!r}")
        return m

    def begin(self, store_dir: str, batch_id: str, **pins) -> dict | None:
        """The manifest to commit ``batch_id`` into, pins set; None when
        the batch is already committed (replay)."""
        m = self.manifest(store_dir)
        _check_pins(store_dir, m, pins)
        if batch_id in m["batches"]:
            return None
        m.update(pins)
        return m

    def path(self, store_dir: str, batch_id: str) -> str:
        return os.path.join(
            store_dir, self.data_dir, f"{self.part_col}={batch_id}"
        )

    def batch_dir(self, store_dir: str, batch_id: str) -> str:
        """The empty directory to write ``batch_id``'s data into."""
        os.makedirs(store_dir, exist_ok=True)
        return _clear(self.path(store_dir, batch_id))

    def commit(self, store_dir: str, manifest: dict, batch_id: str) -> None:
        """Commit ``batch_id``, whose data is already written."""
        superseded = manifest["batches"] if self._is_state else []
        batches = manifest["batches"] + [batch_id]
        manifest["batches"] = batches if self._is_state else sorted(batches)
        if self.segments:
            manifest["segments"] = sorted(manifest["segments"] + [batch_id])
        self._swap(store_dir, manifest, superseded)

    def _swap(self, store_dir: str, manifest: dict, drop: list[str]) -> None:
        atomic_write_json(os.path.join(store_dir, self.manifest_name), manifest)
        for batch_id in drop:
            _clear(self.path(store_dir, batch_id))

    def read(
        self, spark: SparkSession, store_dir: str, manifest: dict | None = None
    ) -> DataFrame | None:
        """The committed live partitions — the segments, the last state,
        or every batch; None when nothing is committed."""
        m = manifest or self.manifest(store_dir)
        if not m["batches"]:
            return None
        live = (
            m["segments"] if self.segments
            else m["batches"][-1:] if self._is_state
            else m["batches"]
        )
        return spark.read.parquet(os.path.join(store_dir, self.data_dir)).filter(
            F.col(self.part_col).isin(live)
        )

    def compact(
        self,
        spark: SparkSession,
        store_dir: str,
        merge: Callable[[DataFrame], DataFrame],
    ) -> None:
        """Fold the live segments into one base partition whose rows are
        ``merge`` of their union (additive ledgers only: the merged read
        must be a pure sum/union over partitions)."""
        m = self.committed(store_dir)
        if len(m["segments"]) <= 1:
            return  # already compact
        base = f"__base_{len(m['batches'])}__"
        # materialize BEFORE writing into the same directory tree the lazy
        # plan would otherwise scan mid-write
        merged = merge(self.read(spark, store_dir, m)).localCheckpoint()
        merged.write.parquet(self.batch_dir(store_dir, base))
        old = [s for s in m["segments"] if s != base]
        m["segments"] = [base]
        self._swap(store_dir, m, old)


# ---------------------------------------------------------------------------
# The verdict table: filter+scrub verdicts with per-bucket commits.
# ---------------------------------------------------------------------------


def phash_bucket(num_buckets: int):
    return F.pmod(F.col("phash"), F.lit(num_buckets)).cast("int")


def read_manifest(out_dir: str) -> dict:
    return read_json(os.path.join(out_dir, MANIFEST)) or {
        "run_id": None, "num_buckets": None, "committed": {},
    }


def _commit_manifest(out_dir: str, manifest: dict) -> None:
    atomic_write_json(os.path.join(out_dir, MANIFEST), manifest)


def _clear_bucket_dirs(out_dir: str, buckets: list[int]) -> None:
    """Idempotent re-execution: drop torn data AND metric files of
    uncommitted buckets before rewriting them."""
    for base in (out_dir,
                 os.path.join(out_dir, RULE_METRICS_DIR),
                 os.path.join(out_dir, LANGID_HIST_DIR)):
        for b in buckets:
            _clear(os.path.join(base, f"bucket={b}"))


def _no_data_files(e: AnalysisException) -> bool:
    return e.getCondition() in ("UNABLE_TO_INFER_SCHEMA", "PATH_NOT_FOUND")


def _read_written(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The written verdict parquet; None when no data file exists yet (all
    pending buckets were empty).  Any other storage error propagates, so
    the manifest is never committed over data it could not read."""
    try:
        return spark.read.parquet(out_dir)
    except AnalysisException as e:
        if not _no_data_files(e):
            raise
        return None


def _write_bucket_metrics(
    spark: SparkSession, out_dir: str, buckets: list[int]
) -> None:
    """Per-bucket quality-metric tables from the just-written verdict
    parquet (columnar scan of bucket + flags + lang_pred only — the UDF
    stages never re-run): per-rule pass/fail counts and the langid
    keep/drop histogram, partitioned by bucket so each bucket's metric
    rows commit (and are cleaned on re-execution) with its data."""
    df = _read_written(spark, out_dir)
    if df is None:
        return
    df = df.filter(F.col("bucket").isin(buckets))
    (
        pipeline_metrics(df, group_cols=["bucket"])
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(os.path.join(out_dir, RULE_METRICS_DIR))
    )
    (
        langid_histogram(df, group_cols=["bucket"])
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(os.path.join(out_dir, LANGID_HIST_DIR))
    )


def _written_bucket_stats(
    spark: SparkSession, out_dir: str, buckets: list[int]
) -> dict[str, dict[str, int]]:
    """Per-bucket lineage stats from the just-written parquet — a columnar
    scan of (bucket, keep) only.  This is what replaced the round-1
    double-compute: the UDF stages never run a second time."""
    df = _read_written(spark, out_dir)
    if df is None:
        return {}
    df = df.filter(F.col("bucket").isin(buckets))
    return {
        str(r["bucket"]): {"rows": r["rows"], "n_keep": r["n_keep"]}
        for r in df.groupBy("bucket")
        .agg(
            F.count("*").alias("rows"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_keep"),
        )
        .collect()
    }


def _write_buckets(verdicts: DataFrame, out_dir: str) -> None:
    # no repartition: every task writes its rows into per-bucket
    # subdirectories in parallel (hash-repartitioning to 1 file per
    # bucket would serialize the write and shuffle the whole chunk)
    verdicts.drop("bytes").write.mode("append").partitionBy("bucket").parquet(
        out_dir
    )


def run_with_checkpoints(
    spark: SparkSession,
    images: DataFrame,
    out_dir: str,
    run_id: str,
    num_buckets: int = 16,
    chunk_size: int | None = None,
    fail_after_chunks: int | None = None,
    commit_ts: str = "1970-01-01T00:00:00Z",
    settings: PipelineSettings | None = None,
) -> dict:
    """Run the filter+scrub pipeline with atomic per-bucket commits.

    ``chunk_size=None`` (default): single-pass mode — ONE input scan, ONE
    pipeline execution, one partitioned write, then every pending bucket
    commits from that write.  ``chunk_size=k``: chunked mode — k buckets
    per snapshot commit; requires bucket-partitioned input to avoid
    re-scanning (see module docstring).

    ``fail_after_chunks`` injects a crash for the resume test.
    Returns the final manifest.  Idempotent: re-invoking after a crash
    recomputes only pending buckets and converges to the same output.
    """
    os.makedirs(out_dir, exist_ok=True)
    manifest = read_manifest(out_dir)
    if manifest["run_id"] not in (None, run_id):
        raise ValueError(f"out_dir holds run {manifest['run_id']!r}")
    # a resumed run MUST use the original bucket modulus: buckets committed
    # under a different num_buckets cover different row sets, so mixing
    # moduli would silently duplicate or drop rows.
    _check_pins(out_dir, manifest, {"num_buckets": num_buckets})
    manifest["run_id"] = run_id
    manifest["num_buckets"] = num_buckets

    pending = [
        b for b in range(num_buckets) if str(b) not in manifest["committed"]
    ]
    if not pending:
        _commit_manifest(out_dir, manifest)
        return manifest
    bucketed = images.withColumn("bucket", phash_bucket(num_buckets))

    if chunk_size is None:
        chunks = [pending]  # single pass: one scan, one pipeline execution
    else:
        chunks = [
            pending[i : i + chunk_size]
            for i in range(0, len(pending), chunk_size)
        ]

    for ci, chunk in enumerate(chunks):
        if fail_after_chunks is not None and ci >= fail_after_chunks:
            raise RuntimeError("injected failure (resume test)")
        part = (
            bucketed.filter(F.col("bucket").isNotNull())
            if len(chunk) == num_buckets
            else bucketed.filter(F.col("bucket").isin(chunk))
        )
        verdicts = run_pipeline(spark, part, settings=settings)
        _clear_bucket_dirs(out_dir, chunk)
        _write_buckets(verdicts, out_dir)
        # per-bucket quality-metric tables + lineage rows, all derived from
        # the completed write (cheap columnar re-reads, no UDFs), then the
        # atomic manifest commit that makes data AND metrics visible
        _write_bucket_metrics(spark, out_dir, chunk)
        stats = _written_bucket_stats(spark, out_dir, chunk)
        for b in chunk:
            s = stats.get(str(b), {"rows": 0, "n_keep": 0})
            manifest["committed"][str(b)] = {
                "rows": int(s["rows"]),
                "n_keep": int(s["n_keep"]),
                "status": "committed",
                "committed_ts": commit_ts,
            }
        manifest["schema"] = verdicts.drop("bytes").schema.jsonValue()
        _commit_manifest(out_dir, manifest)
    return manifest


def _read_committed_buckets(
    spark: SparkSession,
    out_dir: str,
    table_dir: str,
    shape: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """The manifest-committed buckets of ``table_dir``.  When every
    committed bucket was empty there is no parquet to infer a schema from:
    ``shape`` of a 0-row frame with the verdict schema recorded at commit
    stands in (bucket last, as partition discovery orders it)."""
    manifest = read_manifest(out_dir)
    try:
        df = spark.read.parquet(table_dir)
    except AnalysisException as e:
        if "schema" not in manifest or not _no_data_files(e):
            raise
        empty = spark.createDataFrame(
            [], StructType.fromJson(manifest["schema"])
        )
        df = shape(empty)
        df = df.select(*[c for c in df.columns if c != "bucket"], "bucket")
    committed = sorted(int(b) for b in manifest["committed"])
    return df.filter(F.col("bucket").isin(committed))


def read_committed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read back only manifest-committed buckets (snapshot isolation)."""
    return _read_committed_buckets(spark, out_dir, out_dir, lambda v: v)


def read_committed_metrics(
    spark: SparkSession, out_dir: str, which: str = RULE_METRICS_DIR
) -> DataFrame:
    """Committed per-bucket quality-metric rows (same snapshot rule as the
    data: only manifest-listed buckets are trusted)."""
    build = langid_histogram if which == LANGID_HIST_DIR else pipeline_metrics
    return _read_committed_buckets(
        spark, out_dir, os.path.join(out_dir, which),
        lambda v: build(v, group_cols=["bucket"]),
    )


# ---------------------------------------------------------------------------
# The cross-run ledgers.  Each stores only what the next batch must be
# checked against (fingerprints, signatures, sketch cells, state), never
# corpus text, partitioned by batch under the protocol above.
# ---------------------------------------------------------------------------

FINGERPRINT_DIR = "_fingerprints"
NEAR_SIG_DIR = "_near_sigs"
IMG_FP_DIR = "_image_fps"
EMB_DIR = "_embedding_ledger"
CONTAM_DIR = "_contam_grams"
LINE_FP_DIR = "_line_fps"
KMV_DIR = "kmv_sketches"
CMS_DIR = "cms_sketches"
STATS_DIR = "corpus_stats"
BLOOM_DIR = "bloom_positions"
SESS_STATE_DIR = "session_state"
SESS_OUT_DIR = "session_batches"
EDGES_DIR = "link_edges"
RECRAWL_STATE_DIR = "recrawl_state"

_FP = Ledger("_fp_manifest.json", FINGERPRINT_DIR)
_NEAR = Ledger("_near_manifest.json", NEAR_SIG_DIR)
_IMG = Ledger("_image_fp_manifest.json", IMG_FP_DIR)
_EMB = Ledger("_embedding_manifest.json", EMB_DIR)
_CONTAM = Ledger("_contam_manifest.json", CONTAM_DIR, pins=("n",))
_LINES = Ledger("_line_fp_manifest.json", LINE_FP_DIR)
_KMV = Ledger("_kmv_manifest.json", KMV_DIR, pins=("k", "group_cols"))
_CMS = Ledger(
    "_cms_manifest.json", CMS_DIR, pins=("depth", "width"), segments=True
)
_STATS = Ledger("_stats_manifest.json", STATS_DIR, pins=("group_col",))
_BLOOM = Ledger("_bloom_manifest.json", BLOOM_DIR, pins=("k", "m"), segments=True)
_SESS = Ledger(
    "_sessions_manifest.json", SESS_STATE_DIR, pins=("gap_us",),
    part_col="state_batch",
)
_EDGES = Ledger("_edges_manifest.json", EDGES_DIR, segments=True)
_RECRAWL = Ledger(
    "_recrawl_manifest.json", RECRAWL_STATE_DIR, part_col="state_batch"
)

read_fp_manifest = _FP.manifest
read_near_manifest = _NEAR.manifest
read_img_manifest = _IMG.manifest
read_emb_manifest = _EMB.manifest
read_contam_manifest = _CONTAM.manifest
read_line_manifest = _LINES.manifest
read_kmv_manifest = _KMV.manifest
read_cms_manifest = _CMS.manifest
read_stats_manifest = _STATS.manifest
read_bloom_manifest = _BLOOM.manifest
read_sessions_manifest = _SESS.manifest
read_edges_manifest = _EDGES.manifest
read_recrawl_manifest = _RECRAWL.manifest


# ---------------------------------------------------------------------------
# Exact-text fingerprint ledger.  Without it every run dedups only within
# itself — the first thing a user hits when a 100 TB corpus arrives in
# increments (round-2 VERDICT, missing #3).
# ---------------------------------------------------------------------------


def read_committed_fingerprints(
    spark: SparkSession, store_dir: str
) -> DataFrame | None:
    """(fp, batch_id) of every committed batch; None when empty."""
    return _FP.read(spark, store_dir)


def dedup_incremental(
    spark: SparkSession,
    docs: DataFrame,
    store_dir: str,
    batch_id: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-run exact dedup with a persistent fingerprint ledger.

    1. anti-join the new batch's content fingerprints against every
       committed batch's fingerprints (the ledger side is (fp, batch_id)
       only — a few bytes per historic row, shuffled by fp; at 10^12 rows
       the store is bucketed by fp so this is a co-located join);
    2. dedup within the surviving batch (keep min id per fp);
    3. commit the SURVIVORS' fingerprints as this batch.

    Re-ingesting an already-committed batch keeps NOTHING.  Returns the
    kept rows."""
    m = _FP.begin(store_dir, batch_id)
    if m is None:
        # replay of a committed batch: nothing new by definition
        return docs.filter(F.lit(False))
    fresh = docs.filter(F.col(text_col).isNotNull()).withColumn(
        "_fp", F.md5(text_col)
    )
    seen = read_committed_fingerprints(spark, store_dir)
    if seen is not None:
        fresh = fresh.join(
            seen.select(F.col("fp").alias("_fp")), on="_fp", how="left_anti"
        )
    # within-batch keep-one (min id per fingerprint): same recast as
    # dedup_exact — a hash aggregate then a semi join, no window sort
    keep_ids = fresh.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    kept = fresh.join(keep_ids, on=[id_col, "_fp"], how="left_semi")
    kept.select("_fp").distinct().select(
        F.col("_fp").alias("fp")
    ).write.parquet(_FP.batch_dir(store_dir, batch_id))
    _FP.commit(store_dir, m, batch_id)
    return kept.drop("_fp")


# ---------------------------------------------------------------------------
# Near-dup minhash-signature ledger.
# ---------------------------------------------------------------------------


def read_committed_signatures(
    spark: SparkSession, store_dir: str
) -> DataFrame | None:
    """(sid, sig, batch_id) of every committed batch; None when empty."""
    return _NEAR.read(spark, store_dir)


def _archive_hits(
    new: DataFrame,
    new_fp: str,
    old: DataFrame,
    old_fp: str,
    bands: int,
    bits: int,
    max_hamming: int,
    max_band_size: int | None,
    what: str,
) -> DataFrame:
    """The Hamming ledgers' cross-run candidate step: band the new and
    the archived int64 fingerprints identically
    (``dedup.int_band_explode``), join them on (band, bb) through
    ``dedup._band_pairs`` with the ledger hot-band cap (see the module
    docstring), and keep the pairs within ``max_hamming`` (popcount of
    the XOR).  Returns the joined rows with every column of both sides
    (``band``/``bb`` twice, as ``a.`` and ``b.``); the caller adds any
    further verify and picks the key it drops."""
    band_bits = bits // bands

    def banded(rows: DataFrame, fp: str) -> DataFrame:
        return rows.select(
            *rows.columns, DD.int_band_explode(fp, bands, band_bits).alias("bf")
        ).select(*rows.columns, "bf.band", "bf.bb")

    return DD._band_pairs(
        banded(new, new_fp), ["band", "bb"],
        DD.LEDGER_MAX_BAND_SIZE if max_band_size is None else max_band_size,
        what, archive=banded(old, old_fp),
    ).filter(
        F.bit_count(F.col(new_fp).bitwiseXOR(F.col(old_fp))) <= max_hamming
    )


def dedup_incremental_near(
    spark: SparkSession,
    docs: DataFrame,
    store_dir: str,
    batch_id: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 5,
    max_band_size: int | None = None,
) -> DataFrame:
    """Cross-run NEAR-dup dedup with a persistent minhash-SIGNATURE ledger
    (the near-dup sibling of :func:`dedup_incremental` — an incremental
    corpus must drop new documents that are near-copies of *previously
    committed* content, not just byte-identical ones).

    The ledger stores only (sid, sig): the signature array, never text —
    num_hashes×8 bytes per committed doc, proportional to the corpus and
    partitioned by batch.  A new batch:

    1. band-joins its LSH band fingerprints against the committed
       signatures' bands (identical band derivation on both sides —
       ``dedup.band_fp_explode``) → candidate (new doc, archived sig)
       pairs, shuffle = rows×bands, never rows×archive;
    2. verifies candidates with the UNBIASED minhash Jaccard estimate
       (fraction of agreeing signature components — the text is gone, so
       the exact-Jaccard verify of the within-batch path is impossible by
       design; the estimator's std is ≈ sqrt(J(1-J)/num_hashes), so size
       num_hashes to the tolerance you need) and drops new docs at or
       above the threshold;
    3. near-dedups WITHIN the surviving batch via :func:`dedup.dedup_near`
       (exact-Jaccard verify — the texts are present here);
    4. commits the survivors' distinct signatures as this batch.

    Rows that cannot be fingerprinted (null / shorter than one shingle)
    pass through untouched, mirroring ``dedup_near``.  At 10^12 rows
    a production deployment materializes the archive's band index as a
    table partitioned by (band, fp-prefix) instead of deriving it per run.

    **Hot-band cap is ON by default here** (module docstring): ledger
    joins run unattended across crawls, exactly where a degenerate band
    bucket accretes.  Pass ``max_band_size=0`` to disable (restores the
    unconditional recall of the band join)."""
    m = _NEAR.begin(store_dir, batch_id)
    if m is None:
        return docs.filter(F.lit(False))
    rows_per_band = num_hashes // bands
    eligible = docs.filter(
        F.col(text_col).isNotNull() & (F.length(text_col) >= k)
    )
    passthrough = docs.filter(
        F.col(text_col).isNull() | (F.length(text_col) < k)
    )
    # (id, sig) feeds the band join, the estimate join and the ledger
    # write — materialize once (same both-sides rule as lsh_candidate_pairs)
    sigs = DD._signatures(docs, text_col, id_col, num_hashes, bands, k).transform(
        materialize
    )
    archive = read_committed_signatures(spark, store_dir)
    drop_ids = None
    if archive is not None:
        new_bands = sigs.select(
            "_id", DD.band_fp_explode("_sig", bands, rows_per_band).alias("bf")
        ).select("_id", "bf.band", "bf.fp")
        old_bands = archive.select(
            "sid", DD.band_fp_explode("sig", bands, rows_per_band).alias("bf")
        ).select("sid", "bf.band", "bf.fp")
        cand = (
            DD._band_pairs(
                new_bands, ["band", "fp"],
                DD.LEDGER_MAX_BAND_SIZE if max_band_size is None
                else max_band_size,
                "dedup_incremental_near", archive=old_bands,
            )
            .select("_id", "sid")
            .distinct()
        )
        est = (
            cand.join(sigs, "_id")
            .join(archive.select("sid", "sig"), "sid")
            .withColumn(
                "_est_j",
                F.expr(
                    "aggregate(zip_with(_sig, sig, (a, b) -> "
                    "CASE WHEN a = b THEN 1 ELSE 0 END), 0, "
                    "(acc, x) -> acc + x)"
                )
                / F.lit(num_hashes),
            )
        )
        drop_ids = (
            est.filter(F.col("_est_j") >= jaccard_threshold)
            .select(F.col("_id").alias(id_col))
            .distinct()
        )
    survivors = eligible
    if drop_ids is not None:
        survivors = survivors.join(drop_ids, on=id_col, how="left_anti")
    survivors = DD.dedup_near(
        survivors, text_col, id_col, jaccard_threshold,
        num_hashes=num_hashes, bands=bands, k=k,
    )
    kept_sigs = (
        survivors.select(id_col)
        .join(sigs, F.col(id_col) == F.col("_id"))
        .select(
            F.md5(F.concat_ws(",", F.col("_sig"))).alias("sid"),
            F.col("_sig").alias("sig"),
        )
        .dropDuplicates(["sid"])
    )
    kept_sigs.write.parquet(_NEAR.batch_dir(store_dir, batch_id))
    _NEAR.commit(store_dir, m, batch_id)
    return survivors.unionByName(passthrough)


# ---------------------------------------------------------------------------
# Image phash ledger.
# ---------------------------------------------------------------------------


def read_committed_phashes(
    spark: SparkSession, store_dir: str
) -> DataFrame | None:
    """(phash, batch_id) of every COMMITTED batch; None when empty."""
    return _IMG.read(spark, store_dir)


def dedup_incremental_image(
    spark: SparkSession,
    images: DataFrame,
    store_dir: str,
    batch_id: str,
    id_col: str = "image_id",
    fp_col: str = "phash",
    bands: int = 4,
    max_hamming: int = 3,
    bits: int = 64,
    max_band_size: int | None = None,
) -> DataFrame:
    """Cross-run IMAGE near-dup dedup with a persistent phash ledger — the
    image-payload sibling of :func:`dedup_incremental_near`.  The ledger
    stores only the committed survivors' distinct perceptual fingerprints
    (8 bytes per distinct image): a new batch

    1. collapses its own identical fingerprints (groupBy — the hot-crawl
       guard of ``dedup.image_near_duplicates``),
    2. band-joins its distinct fingerprints against the archive's on
       (band, band_bits) — identical banding on both sides via
       ``dedup.int_band_explode`` — and drops every fingerprint group
       within ``max_hamming`` (popcount verify) of committed content,
    3. near-dedups WITHIN the surviving batch (``dedup.dedup_image_near``),
    4. commits the survivors' fingerprints as this batch.

    Pass rows pre-filtered to valid images (decodable, the pipeline's keep
    set) — fingerprints of undecodable rows are not meaningful.  Rows with
    a NULL fingerprint pass through untouched and commit nothing.

    Hot-band cap ON by default (``max_band_size=0`` disables) — same
    rationale as :func:`dedup_incremental_near`.
    """
    m = _IMG.begin(store_dir, batch_id)
    if m is None:
        return images.filter(F.lit(False))
    survivors = images
    archive = read_committed_phashes(spark, store_dir)
    if archive is not None:
        hit = _archive_hits(
            images.select(F.col(fp_col).alias("_fp")).distinct(), "_fp",
            archive.select(F.col(fp_col).alias("_ofp")).distinct(), "_ofp",
            bands, bits, max_hamming, max_band_size, "dedup_incremental_image",
        ).select(F.col("_fp").alias(fp_col)).distinct()
        survivors = images.join(hit, on=fp_col, how="left_anti")
    survivors = DD.dedup_image_near(
        survivors, id_col=id_col, fp_col=fp_col, bands=bands,
        max_hamming=max_hamming,
    )
    kept_fps = survivors.select(fp_col).filter(F.col(fp_col).isNotNull())
    kept_fps.distinct().write.parquet(_IMG.batch_dir(store_dir, batch_id))
    _IMG.commit(store_dir, m, batch_id)
    return survivors


# ---------------------------------------------------------------------------
# Embedding near-dup ledger.
# ---------------------------------------------------------------------------


def read_committed_embeddings(
    spark: SparkSession, store_dir: str
) -> DataFrame | None:
    """(embedding, efp, batch_id) of every COMMITTED batch; None if empty."""
    return _EMB.read(spark, store_dir)


def dedup_incremental_embedding(
    spark: SparkSession,
    df: DataFrame,
    store_dir: str,
    batch_id: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 16,
    dim: int = 64,
    bands: int = 4,
    max_hamming: int = 2,
    min_cos: float = 0.995,
    max_band_size: int | None = None,
) -> DataFrame:
    """Cross-run EMBEDDING near-dup dedup with a persistent ledger — the
    embedding-payload sibling of :func:`dedup_incremental_image`.

    Unlike the phash ledger (8 B/row, Hamming IS the decision), the
    fingerprint here is only the CANDIDATE filter — the decision is exact
    cosine — so the ledger stores the committed survivors' distinct
    (embedding, fingerprint) pairs (dim×4 B + 8 B per distinct vector: at
    10^12 rows with ~10^9 distinct survivors and d=64 that is ~260 GB,
    partitioned by fingerprint so the candidate join co-locates).  A new
    batch:

    1. band-joins its distinct fingerprints against the archive's
       (identical banding both sides via ``dedup.int_band_explode``),
       popcount-verifies Hamming ≤ ``max_hamming``, then exact-cosine
       verifies against the ARCHIVED VECTOR — rows near-dup with committed
       content are dropped;
    2. near-dedups WITHIN the surviving batch
       (``similarity.dedup_embedding_near``);
    3. commits the survivors' (embedding, fingerprint) as this batch.

    Rows with a NULL embedding pass through untouched: they neither probe
    the archive nor commit.  Hot-band cap ON by default
    (``max_band_size=0`` disables), as in :func:`dedup_incremental_near`.
    """
    from ..operators import similarity as SIM

    m = _EMB.begin(store_dir, batch_id)
    if m is None:
        return df.filter(F.lit(False))
    fp_expr = F.expr(SIM.rp_bucket_spark_sql(vec_col, bits, dim))
    survivors = df
    archive = read_committed_embeddings(spark, store_dir)
    if archive is not None:
        new_rows = df.filter(F.col(vec_col).isNotNull()).select(
            id_col, F.col(vec_col).alias("_v"), fp_expr.alias("_efp")
        ).transform(materialize)
        hit = (
            _archive_hits(
                new_rows, "_efp",
                archive.select(F.col(vec_col).alias("_ov"), "efp"), "efp",
                bands, bits, max_hamming, max_band_size,
                "dedup_incremental_embedding",
            )
            .filter(SIM.cosine_expr("_v", "_ov") >= min_cos)
            .select(id_col)
            .distinct()
        )
        survivors = df.join(hit, on=id_col, how="left_anti")
    survivors = SIM.dedup_embedding_near(
        survivors,
        id_col=id_col,
        vec_col=vec_col,
        bits=bits,
        dim=dim,
        bands=bands,
        max_hamming=max_hamming,
        min_cos=min_cos,
    )
    survivors.filter(F.col(vec_col).isNotNull()).select(
        F.col(vec_col), fp_expr.alias("efp")
    ).distinct().write.parquet(_EMB.batch_dir(store_dir, batch_id))
    _EMB.commit(store_dir, m, batch_id)
    return survivors


# ---------------------------------------------------------------------------
# Contamination ledger: committed eval/benchmark n-gram fingerprints.
# ---------------------------------------------------------------------------


def commit_contamination(
    spark: SparkSession,
    eval_docs: DataFrame,
    store_dir: str,
    batch_id: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> None:
    """Commit an eval/benchmark corpus's word-n-gram fingerprints as a
    FIXED contamination ledger batch.

    Stores only ``(eval_id, gram)`` hashed grams — never eval text, so the
    ledger can ship next to a training corpus without leaking benchmark
    content.  The gram size ``n`` is pinned: mixed gram sizes would
    silently under-count containment.
    """
    from ..operators import decontam as DC

    m = _CONTAM.begin(store_dir, batch_id, n=n)
    if m is None:
        return
    DC.eval_gram_table(eval_docs, text_col, id_col, n).write.parquet(
        _CONTAM.batch_dir(store_dir, batch_id)
    )
    _CONTAM.commit(store_dir, m, batch_id)


def read_contamination(
    spark: SparkSession, store_dir: str
) -> tuple[DataFrame, int] | None:
    """((eval_id, gram) relation of every COMMITTED batch, gram size n);
    None when the ledger is empty."""
    m = _CONTAM.manifest(store_dir)
    grams = _CONTAM.read(spark, store_dir, m)
    return None if grams is None else (grams.select("eval_id", "gram"), m["n"])


def decontaminate_committed(
    spark: SparkSession,
    docs: DataFrame,
    store_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Drop documents contaminated against the COMMITTED eval ledger at
    ``store_dir`` (gram size comes from the ledger manifest so the doc
    side always matches the committed derivation).  An empty ledger is a
    no-op — the corpus passes through unchanged."""
    from ..operators import decontam as DC

    loaded = read_contamination(spark, store_dir)
    if loaded is None:
        return docs
    grams, n = loaded
    return DC.decontaminate(
        docs, grams, text_col=text_col, id_col=id_col, n=n,
        threshold=threshold,
    )


# ---------------------------------------------------------------------------
# Line-fingerprint ledger: cross-run C4-style boilerplate removal.
# ---------------------------------------------------------------------------


def read_committed_line_fps(
    spark: SparkSession, store_dir: str
) -> DataFrame | None:
    """(fp) of every COMMITTED batch's kept lines; None when empty."""
    fps = _LINES.read(spark, store_dir)
    return None if fps is None else fps.select("fp")


def prepare_incremental_lines(
    spark: SparkSession,
    docs: DataFrame,
    store_dir: str,
    batch_id: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    drop_blank_docs: bool = True,
) -> DataFrame:
    """PREPARE half of the cross-run line-level dedup: runs the dedup
    against the committed archive and writes this batch's surviving line
    fingerprints to the ledger's data directory — but does NOT commit the
    manifest.  Call :func:`finalize_incremental_lines` once the batch's
    downstream outputs (shards, verdict tables) are durable.

    Why the split (round-4 ADVICE): committing the ledger before the
    corpus output exists means a crash in between loses the batch — a
    retry with the same batch_id is refused (idempotence contract) and a
    retry with a new batch_id drops every line as 'already seen'.  With
    prepare/finalize, a crash before finalize leaves the batch
    UNCOMMITTED and a clean retry re-prepares from scratch.

    Idempotent replay of a COMMITTED batch still returns the empty
    relation here."""
    if _LINES.begin(store_dir, batch_id) is None:
        return docs.filter(F.lit(False))
    archive = read_committed_line_fps(spark, store_dir)
    survivors = DD.dedup_lines(
        docs,
        text_col=text_col,
        id_col=id_col,
        drop_blank_docs=drop_blank_docs,
        archived_fps=archive,
    ).transform(materialize)
    kept_fps = (
        survivors.filter(F.col(text_col).isNotNull())
        .select(
            F.explode(F.split(F.col(text_col), "\n")).alias("_line")
        )
        .filter(F.trim("_line") != "")
        .select(F.xxhash64("_line").alias("fp"))
        .distinct()
    )
    kept_fps.write.parquet(_LINES.batch_dir(store_dir, batch_id))
    return survivors


def finalize_incremental_lines(store_dir: str, batch_id: str) -> None:
    """FINALIZE half: commit ``batch_id`` to the line ledger.  Refuses if
    the prepare phase's parquet is absent (nothing to commit); replaying
    an already-committed batch is a no-op."""
    m = _LINES.begin(store_dir, batch_id)
    if m is None:
        return
    batch_dir = _LINES.path(store_dir, batch_id)
    if not os.path.exists(batch_dir):
        raise ValueError(
            f"finalize_incremental_lines: no prepared fingerprints at "
            f"{batch_dir!r} — run prepare_incremental_lines first"
        )
    _LINES.commit(store_dir, m, batch_id)


def dedup_incremental_lines(
    spark: SparkSession,
    docs: DataFrame,
    store_dir: str,
    batch_id: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    drop_blank_docs: bool = True,
) -> DataFrame:
    """Cross-run LINE-level dedup with a persistent line-fingerprint
    ledger — the C4-boilerplate sibling of the document/image/embedding
    ledgers.  Boilerplate (navigation text, cookie banners) recurs across
    CRAWLS, not just within one: a line whose fingerprint any committed
    batch already kept is dropped OUTRIGHT from the new batch (its first
    occurrence happened in a previous run); the remaining lines then go
    through the within-batch first-occurrence dedup and documents are
    reassembled (``dedup.dedup_lines(archived_fps=...)``).

    The ledger stores 8 bytes per distinct kept line (xxhash64), never
    text.  Scale shape: the archive join is an equi-join on the line
    fingerprint (shuffle = new batch's distinct lines), and the commit
    writes only the SURVIVING lines' distinct fingerprints — the archive
    grows with unique content, not crawls.

    This convenience form commits IMMEDIATELY (prepare + finalize in one
    call) — correct when the survivors relation itself is the output.
    When downstream durable outputs follow (shard writes), use
    :func:`prepare_incremental_lines` + :func:`finalize_incremental_lines`
    around them instead (``prep_text_corpus`` does)."""
    survivors = prepare_incremental_lines(
        spark, docs, store_dir, batch_id,
        text_col=text_col, id_col=id_col, drop_blank_docs=drop_blank_docs,
    )
    finalize_incremental_lines(store_dir, batch_id)  # no-op on replay
    return survivors


# ---------------------------------------------------------------------------
# KMV sketch ledger: distinct-cardinality tracking across crawls WITHOUT
# rescanning history.  The mergeability of bottom-k sketches
# (operators/sketches.py) is exactly what a ledger needs: each crawl
# commits only its per-group bottom-k hash sets (k · |groups| rows — KB,
# not corpus-sized), and the union's estimate is recomputed from the
# merged bottom-k sets alone.  k is pinned: sketches of different k do not
# merge at full precision — refuse loudly rather than silently degrade.
# ---------------------------------------------------------------------------


def commit_kmv_sketch(
    spark: SparkSession,
    df: DataFrame,
    store_dir: str,
    batch_id: str,
    value_col: str,
    group_cols: list[str],
    k: int = 256,
) -> None:
    """Commit one crawl's per-group bottom-k hash sketch to the ledger.
    Replaying a committed ``batch_id`` is a no-op (set union with itself
    — the sketch algebra makes replay naturally idempotent); committing
    with a different ``k`` or group columns than the ledger was created
    with raises."""
    from ..functions import hashing as HH
    from pyspark.sql import Window

    m = _KMV.begin(store_dir, batch_id, k=k, group_cols=list(group_cols))
    if m is None:
        return  # sketch union is idempotent; nothing to add
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    h = F.expr(HH.h60_spark_sql(f"CAST({value_col} AS STRING)"))
    distinct = (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, h.alias("h"))
        .distinct()
    )
    w = Window.partitionBy(*group_cols).orderBy("h")
    bottom = distinct.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    ).drop("_rn")
    bottom.write.parquet(_KMV.batch_dir(store_dir, batch_id))
    _KMV.commit(store_dir, m, batch_id)


def kmv_ledger_estimate(spark: SparkSession, store_dir: str) -> DataFrame:
    """Per-group distinct-cardinality estimate over the UNION of every
    committed crawl — computed from the merged bottom-k sketches alone
    (k · |groups| · |batches| rows read; the corpora themselves are
    never rescanned).  Groups whose merged sketch holds fewer than k
    hashes report the exact union count."""
    from ..operators import sketches as SK
    from pyspark.sql import Window

    m = _KMV.committed(store_dir)
    k, group_cols = m["k"], m["group_cols"]
    rel = _KMV.read(spark, store_dir, m).select(*group_cols, "h").distinct()
    w = Window.partitionBy(*group_cols).orderBy("h")
    sk = (
        rel.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .groupBy(*group_cols)
        .agg(F.count("*").alias("_cnt"), F.max("h").alias("_hk"))
    )
    est = F.when(
        F.col("_cnt") < k, F.col("_cnt").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(float(SK.H_SPACE)) / F.col("_hk")
    )
    return sk.select(
        *group_cols, F.round(est, 2).alias("est_distinct")
    )


# ---------------------------------------------------------------------------
# COUNT-MIN frequency ledger: per-crawl CMS cell tables; the merged
# corpus-union sketch is the CELL-WISE SUM of committed sketches, so
# token-frequency estimates over every crawl ever seen cost depth·width
# rows per crawl — history is never rescanned.  Unlike the KMV ledger
# (set union — naturally idempotent), CMS merge is ADDITIVE: replaying a
# committed batch would double its counts, so the replay guard is the
# correctness mechanism here, not just bookkeeping.  Geometry is pinned:
# cells from different depth/width cannot be summed.
# ---------------------------------------------------------------------------


def commit_cms_sketch(
    spark: SparkSession,
    df: DataFrame,
    store_dir: str,
    batch_id: str,
    value_col: str,
    depth: int | None = None,
    width: int | None = None,
) -> None:
    """Commit one crawl's count-min cells.  Replaying a committed
    ``batch_id`` is a guarded no-op; different depth/width than the
    ledger pin raises."""
    from ..operators import sketches as SK

    depth = SK.CMS_DEPTH if depth is None else depth
    width = SK.CMS_WIDTH if width is None else width
    m = _CMS.begin(store_dir, batch_id, depth=depth, width=width)
    if m is None:
        return
    SK.count_min_sketch(df, value_col, depth=depth, width=width).write.parquet(
        _CMS.batch_dir(store_dir, batch_id)
    )
    _CMS.commit(store_dir, m, batch_id)


def _cms_merge(cells: DataFrame) -> DataFrame:
    return cells.groupBy("row_idx", "col").agg(F.sum("cnt").alias("cnt"))


def cms_ledger_cells(
    spark: SparkSession, store_dir: str
) -> tuple[dict, int, int]:
    """The merged (cell-wise summed) sketch over every committed crawl:
    ``(cells, depth, width)`` — the LEDGER's pinned geometry rides along
    because estimating with mismatched defaults would probe cells that
    were never counted and silently UNDERestimate (breaking the
    one-sided contract); pass depth/width straight into
    :func:`..operators.sketches.cms_estimate_expr`."""
    m = _CMS.committed(store_dir)
    merged = _cms_merge(_CMS.read(spark, store_dir, m)).collect()
    cells = {(r["row_idx"], r["col"]): r["cnt"] for r in merged}
    return cells, m["depth"], m["width"]


def compact_cms_ledger(spark: SparkSession, store_dir: str) -> None:
    """Fold the CMS ledger's live segments into one base partition —
    cell counts are pure sums, so the merged cells are unchanged."""
    _CMS.compact(spark, store_dir, _cms_merge)


# ---------------------------------------------------------------------------
# CORPUS-STATS baseline (drift ledger): per-group (n, kept) stats of each
# crawl, so the q76 drift check can run "this crawl vs the last COMMITTED
# one" without rescanning history — the operational form of the
# reference's historical-stats comparison (charge_analysis_checks.py:
# 617-905, which reads a PERSISTED stats collection, exactly this).
# ---------------------------------------------------------------------------


def commit_corpus_stats(
    spark: SparkSession,
    df: DataFrame,
    store_dir: str,
    batch_id: str,
    keep,
    group_col: str = "lang",
) -> None:
    """Commit one crawl's per-group (n, kept) stats (|groups| rows —
    bytes, not data).  Replay of a committed batch_id is a no-op; a
    different group column than the ledger pin raises."""
    from ..operators.drift import _group_stats

    m = _STATS.begin(store_dir, batch_id, group_col=group_col)
    if m is None:
        return
    _group_stats(df, group_col, keep).write.parquet(
        _STATS.batch_dir(store_dir, batch_id)
    )
    _STATS.commit(store_dir, m, batch_id)


def drift_vs_committed(
    spark: SparkSession,
    cur: DataFrame,
    store_dir: str,
    keep,
    baseline_batch: str | None = None,
) -> DataFrame:
    """q76's drift report with the BASELINE side read from the committed
    stats ledger (default: the lexicographically last committed batch —
    crawl ids sort chronologically by convention; pass
    ``baseline_batch`` to compare against any earlier crawl).  The
    current corpus is scanned once; the baseline costs |groups| rows."""
    from ..operators import drift as DR

    m = _STATS.committed(store_dir)
    batch = baseline_batch or m["batches"][-1]
    if batch not in m["batches"]:
        raise ValueError(
            f"baseline batch {batch!r} not committed (have "
            f"{m['batches']})"
        )
    group_col = m["group_col"]
    base = (
        _STATS.read(spark, store_dir, m)
        .filter(F.col("batch_id") == batch)
        .select(group_col, "n", "kept")
    )
    c = DR._group_stats(cur, group_col, keep)
    j = (
        c.withColumnRenamed("n", "n_cur")
        .withColumnRenamed("kept", "kept_cur")
        .join(
            base.withColumnRenamed("n", "n_base")
            .withColumnRenamed("kept", "kept_base"),
            group_col,
            "full_outer",
        )
    )
    return DR._drift_report(j, group_col)


# ---------------------------------------------------------------------------
# BLOOM frontier ledger: each crawl commits the distinct bit POSITIONS its
# keys set; the merged frontier filter is the plain set union of committed
# positions — like the KMV ledger (and unlike the CMS), union is naturally
# idempotent, and the merged filter keeps the no-false-negative guarantee
# over every crawl ever committed.  ≤ m ints per crawl; k/m are pinned.
# ---------------------------------------------------------------------------


def commit_bloom(
    spark: SparkSession,
    df: DataFrame,
    store_dir: str,
    batch_id: str,
    value_col: str,
    k: int | None = None,
    m: int | None = None,
) -> None:
    """Commit one crawl's set positions (geometry pinned; replay no-op)."""
    from ..operators import sketches as SK

    k = SK.BLOOM_K if k is None else k
    m = SK.BLOOM_BITS if m is None else m
    manifest = _BLOOM.begin(store_dir, batch_id, k=k, m=m)
    if manifest is None:
        return
    SK.bloom_build(df, value_col, k=k, m=m).write.parquet(
        _BLOOM.batch_dir(store_dir, batch_id)
    )
    _BLOOM.commit(store_dir, manifest, batch_id)


def _bloom_merge(positions: DataFrame) -> DataFrame:
    return positions.select("pos").distinct()


def bloom_ledger_words(
    spark: SparkSession, store_dir: str
) -> tuple[list[int], int, int]:
    """(packed words, k, m) of the UNION filter over every committed
    crawl — feed straight into sketches.bloom_probe."""
    from ..operators import sketches as SK

    m = _BLOOM.committed(store_dir)
    rows = _bloom_merge(_BLOOM.read(spark, store_dir, m)).collect()
    words = SK.bloom_words((r["pos"] for r in rows), m=m["m"])
    return words, m["k"], m["m"]


def compact_bloom_ledger(spark: SparkSession, store_dir: str) -> None:
    """Fold the bloom ledger's live segments into one base partition —
    set positions are a pure union (≤ m rows after distinct)."""
    _BLOOM.compact(spark, store_dir, _bloom_merge)


# ---------------------------------------------------------------------------
# SESSIONIZATION ledger: gap-based sessions over an append-only event log
# that arrives in daily/hourly batches — the batch operator
# (operators/sessions.py) needs a user's full history in one frame; this
# needs only |users| rows of committed state: each user's last event time
# and running session count.  A batch's first session STITCHES onto the
# archived tail when the cross-batch gap is within the threshold;
# everything else offsets by the archived count.  Events inside a batch
# may arrive in any order (the window sorts them), but BATCHES must be
# time-ordered per user (append-only log contract — a late batch would
# need reprocessing from its own time forward, exactly as in any
# event-time system).  Replaying a committed batch returns its stored
# annotation without touching state.
# ---------------------------------------------------------------------------


def sessionize_incremental(
    spark: SparkSession,
    events: DataFrame,
    store_dir: str,
    batch_id: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
    gap_us: int | None = None,
) -> DataFrame:
    """Annotate this batch's events with GLOBAL ``session_idx`` values
    that continue across every previously committed batch, then commit
    the updated per-user state.  Returns the annotated batch (read back
    from the written parquet — what was durably written is what
    downstream sees)."""
    from ..operators import sessions as SN

    gap_us = SN.DEFAULT_GAP_US if gap_us is None else gap_us
    m = _SESS.begin(store_dir, batch_id, gap_us=gap_us)
    out_dir = os.path.join(store_dir, SESS_OUT_DIR, f"batch_id={batch_id}")
    if m is None:
        return spark.read.parquet(out_dir)  # replay: stored annotation

    local = SN.sessionize(
        events, user_col=user_col, ts_col=ts_col,
        order_col=order_col, gap_us=gap_us,
    ).withColumn("_us", F.unix_micros(F.col(ts_col).cast("timestamp")))

    prev_state = _SESS.read(spark, store_dir, m)
    if prev_state is None:
        prev_state = spark.createDataFrame(
            [], f"{user_col} long, last_ts_us long, n_sessions long"
        )
    prev_state = prev_state.select(user_col, "last_ts_us", "n_sessions")

    firsts = local.groupBy(user_col).agg(F.min("_us").alias("_first_us"))
    stitch = (
        firsts.join(prev_state, user_col, "left")
        .select(
            user_col,
            F.coalesce("n_sessions", F.lit(0)).alias("_base"),
            (
                F.col("last_ts_us").isNotNull()
                & (F.col("_first_us") - F.col("last_ts_us") <= gap_us)
            ).cast("int").alias("_stitched"),
        )
    )
    annotated = (
        local.join(F.broadcast(stitch), user_col)
        .withColumn(
            "session_idx",
            F.col("_base") + F.col("session_idx") - F.col("_stitched"),
        )
        .drop("_base", "_stitched")
    )
    annotated.drop("_us").write.parquet(_clear(out_dir))

    new_state = (
        annotated.groupBy(user_col)
        .agg(
            F.max("_us").alias("last_ts_us"),
            F.max("session_idx").alias("n_sessions"),
        )
        # carry forward users absent from this batch
        .unionByName(
            prev_state.join(
                firsts.select(user_col), user_col, "left_anti"
            )
        )
    )
    new_state.write.parquet(_SESS.batch_dir(store_dir, batch_id))
    _SESS.commit(store_dir, m, batch_id)
    return spark.read.parquet(out_dir)


# ---------------------------------------------------------------------------
# LINK-GRAPH edge ledger: each crawl's weighted domain→domain edge list.
# Edge weights are pure counts, so the merged graph is an ADDITIVE
# cell-wise sum over committed batches (the CMS-ledger property; the
# replay guard again prevents double counts) — by construction identical
# to extracting edges from the concatenated crawls, which the equivalence
# test pins.  Authority (q89's degree/PageRank report) then recomputes
# over the merged graph without re-parsing a single page: storage and
# merge cost are GRAPH-sized (|domains|² bound), never corpus-sized.
# Reference ancestor: the persisted historical-stats collection
# (charge_analysis_checks.py:617-905) as accumulating cross-run state
# under commit discipline.
# ---------------------------------------------------------------------------


def commit_link_edges(
    spark: SparkSession,
    pages: DataFrame,
    store_dir: str,
    batch_id: str,
    src_domain_col: str = "src_domain",
    html_col: str = "html",
) -> None:
    """Extract this crawl's weighted domain edges and commit them.
    Replaying a committed ``batch_id`` is a guarded no-op."""
    from ..operators import linkgraph as LG

    m = _EDGES.begin(store_dir, batch_id)
    if m is None:
        return
    LG.domain_edges(pages, src_domain_col, html_col).write.parquet(
        _EDGES.batch_dir(store_dir, batch_id)
    )
    _EDGES.commit(store_dir, m, batch_id)


def _edges_merge(edges: DataFrame) -> DataFrame:
    return edges.groupBy("src_domain", "dst_domain").agg(
        F.sum("weight").cast("long").alias("weight")
    )


def link_ledger_edges(spark: SparkSession, store_dir: str) -> DataFrame:
    """The merged (weight-summed) edge list over every committed crawl —
    one graph-sized hash aggregate over the LIVE segments (post-
    compaction: a single base partition)."""
    m = _EDGES.committed(store_dir)
    return _edges_merge(_EDGES.read(spark, store_dir, m))


def compact_link_ledger(spark: SparkSession, store_dir: str) -> None:
    """Fold every live segment into ONE base partition — after N crawls
    the merged read otherwise lists/scans N directories for the same
    graph-sized result."""
    _EDGES.compact(spark, store_dir, _edges_merge)


def link_ledger_authority(
    spark: SparkSession,
    store_dir: str,
    iters: int = 1,
    damping: float = 0.85,
) -> DataFrame:
    """q89's degree/PageRank authority report over the union of every
    committed crawl's edges — no page HTML is ever re-read."""
    from ..operators import linkgraph as LG

    return LG.authority_from_edges(
        link_ledger_edges(spark, store_dir), iters=iters, damping=damping
    )


# ---------------------------------------------------------------------------
# RECRAWL-STATE ledger: the incremental form of
# operators/frontier.estimate_change_rates.  The batch operator needs a
# URL's full snapshot history in one frame; this needs only |urls| rows
# of committed state — (last_fp, n_snapshots, n_changes) per URL — and
# each crawl updates it with one broadcast-shaped join.  Batches must be
# time-ordered (append-only crawl log contract, as the session ledger)
# and each batch is ONE crawl: a URL may appear at most once per batch
# (enforced loudly — two fingerprints for one URL in one crawl is a
# corrupt feed, and silently picking one would corrupt change counts
# forever).
# ---------------------------------------------------------------------------


def recrawl_incremental(
    spark: SparkSession,
    snapshot: DataFrame,
    store_dir: str,
    batch_id: str,
    url_col: str = "url",
    fp_col: str = "content_fp",
) -> None:
    """Fold one crawl's (url, content_fp) snapshot into the committed
    per-URL change state.  New URLs start at (1 snapshot, 0 changes);
    revisited URLs bump n_snapshots and bump n_changes iff the
    fingerprint moved; URLs absent from this crawl carry forward
    untouched."""
    m = _RECRAWL.begin(store_dir, batch_id)
    if m is None:
        return

    snap = snapshot.select(
        F.col(url_col).alias("url"), F.col(fp_col).alias("last_fp")
    )
    dup = snap.groupBy("url").count().filter(F.col("count") > 1)
    if dup.limit(1).count():
        raise ValueError(
            f"batch {batch_id!r} contains a URL more than once — one "
            "crawl must carry one fingerprint per URL"
        )
    # a NULL fingerprint (failed refetch) is not a snapshot, and the
    # batch estimator and this ledger would DISAGREE about it (the lag
    # window counts the row; carry-forward state cannot) — reject loudly
    # rather than silently desynchronize the equivalence contract
    if snap.filter(F.col("last_fp").isNull()).limit(1).count():
        raise ValueError(
            f"batch {batch_id!r} contains NULL content fingerprints — "
            "drop failed fetches before committing a crawl snapshot"
        )

    prev = _RECRAWL.read(spark, store_dir, m)
    if prev is None:
        # fingerprint type follows the CALLER's column (md5 strings are
        # the repo's standard fingerprint; int64 works too) — a
        # hard-coded type here would ANSI-cast-crash the first commit
        fp_t = snap.schema["last_fp"].dataType.simpleString()
        prev = spark.createDataFrame(
            [],
            f"url string, last_fp {fp_t}, n_snapshots long, n_changes long",
        )

    joined = snap.join(
        prev.select("url", "last_fp", "n_snapshots", "n_changes")
        .withColumnsRenamed(
            {"last_fp": "_prev_fp", "n_snapshots": "_ns", "n_changes": "_nc"}
        ),
        "url",
        "full_outer",
    )
    new_state = joined.select(
        "url",
        F.coalesce("last_fp", "_prev_fp").alias("last_fp"),
        (
            F.coalesce("_ns", F.lit(0))
            + F.when(F.col("last_fp").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_snapshots"),
        (
            F.coalesce("_nc", F.lit(0))
            + F.when(
                F.col("last_fp").isNotNull()
                & F.col("_prev_fp").isNotNull()
                & (F.col("last_fp") != F.col("_prev_fp")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_changes"),
    )
    new_state.write.parquet(_RECRAWL.batch_dir(store_dir, batch_id))
    _RECRAWL.commit(store_dir, m, batch_id)


def recrawl_ledger_rates(spark: SparkSession, store_dir: str) -> DataFrame:
    """The committed per-URL state with the same recrawl tier the batch
    operator assigns — (url, n_snapshots, n_changes, recrawl_tier)."""
    from ..operators.frontier import recrawl_tier_col

    m = _RECRAWL.committed(store_dir)
    state = _RECRAWL.read(spark, store_dir, m).select(
        "url", "n_snapshots", "n_changes"
    )
    # the SAME tier expression as the batch estimator — the two forms
    # can never disagree on a boundary
    return state.withColumn("recrawl_tier", recrawl_tier_col())
