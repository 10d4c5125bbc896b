"""Structured Streaming variants of the metric layer.

The reference is batch-only (SURVEY §2.9) — its closest analogues are the
staleness/freshness gate (F11) and the clear-then-reload idempotence
pattern, which the batch engine upgrades to checkpoint/resume
(plans/lineage.py).  This module adds the *streaming* recast for
continuously-arriving data: the same declarative rule expressions evaluated
over event-time windows with watermarked late-data handling, and a
``foreachBatch`` verdict sink that reuses the batch pipeline unchanged
(exactly-once per micro-batch when paired with idempotent writes).

Micro-batch quality monitoring (rule pass/fail counts per window) is the
streaming twin of ``operators.rules.rule_metrics``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import hashing as HH

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_events_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream over the events table layout (one file per
    micro-batch in tests; kafka/socket in production — same downstream
    plan)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )


def windowed_quality_metrics(
    events: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    low_value_threshold: float = 10.0,
) -> DataFrame:
    """Per-(window, event_type) conditional-aggregate rule counts — the
    one-pass A2-fusion applied to event-time windows.  The watermark bounds
    state: late rows beyond it are dropped deterministically."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("value") < low_value_threshold, 1).otherwise(0))
            .cast("long")
            .alias("low_value_fails"),
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("null_value_fails"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "low_value_fails",
            "null_value_fails",
            "avg_value",
        )
    )


def run_metrics_stream_once(
    spark: SparkSession, input_dir: str, query_name: str = "quality_metrics"
) -> DataFrame:
    """Drive the stream to completion over the files currently in
    ``input_dir`` (memory sink; test/demo harness) and return the result."""
    events = read_events_stream(spark, input_dir)
    agg = windowed_quality_metrics(events)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def make_dedup_fn(
    text_col: str = "text",
    id_col: str = "doc_id",
    timeout_minutes: float | None = None,
):
    """The per-group state-update function behind :func:`streaming_dedup`,
    exposed so its timeout protocol is unit-testable against a fake
    GroupState (driving a real ProcessingTimeTimeout inside a test is
    wall-clock-flaky: once timers are armed the engine busy-loops empty
    micro-batches).  Contract:

    * ``state.hasTimedOut`` invocation → ``state.remove()``, yield nothing,
      and crucially do NOT ``update``/``setTimeoutDuration`` — otherwise
      idle state is refreshed forever and ``timeout_minutes`` is a no-op;
    * data invocation → emit first sighting of each fingerprint, persist
      the merged seen-set, re-arm the timeout.
    """
    import pandas as pd  # noqa: PLC0415

    def dedup_fn(key, pdf_iter, state):
        if state.hasTimedOut:
            # idle-bucket expiry: drop the seen-set and emit nothing; a
            # fingerprint arriving later is treated as new (bounded-state
            # trade).  No update/re-arm here — state must actually die.
            state.remove()
            return
        seen: set[str] = set()
        if state.exists:
            (blob,) = state.get
            seen = set(blob.split(",")) if blob else set()
        out = []
        for pdf in pdf_iter:
            first = pdf[~pdf["_fp"].isin(seen)].drop_duplicates(subset=["_fp"])
            seen.update(first["_fp"].tolist())
            out.append(first[[id_col, text_col, "_fp"]])
        state.update((",".join(sorted(seen)),))
        if timeout_minutes is not None:
            state.setTimeoutDuration(int(timeout_minutes * 60 * 1000))
        out = [f for f in out if len(f)]
        if out:  # yielding nothing is valid when every row was a duplicate
            yield pd.concat(out)

    return dedup_fn


def streaming_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 64,
    timeout_minutes: float | None = None,
) -> DataFrame:
    """Custom STATEFUL streaming operator: cross-micro-batch exact dedup via
    ``applyInPandasWithState`` — the first arrival of each content
    fingerprint is emitted, every later duplicate (same batch or any later
    batch) is dropped.

    Scale design: state is keyed by a *bucket* of the md5 fingerprint
    (``pmod(h60, num_buckets)``), so state rows distribute uniformly over
    partitions regardless of content skew; each bucket's state is the set
    of fingerprints seen, stored as one binary-ish string column (16-byte
    hex fps, concatenated) — GroupState supports only struct-of-scalars.
    At 10^12-row scale the same operator runs with num_buckets ~ O(10^5)
    and RocksDB state store; the logic is unchanged.

    ``timeout_minutes`` optionally expires idle buckets (processing-time
    timeout) to bound state for unbounded streams: when a bucket receives
    no data for that long, the next micro-batch invokes ``dedup_fn`` with
    ``state.hasTimedOut`` and the bucket's seen-set is dropped — a
    fingerprint arriving after expiry is treated as new (the standard
    bounded-state / at-least-once-emission trade).  The timeout is
    re-armed only on data invocations; the timed-out invocation itself
    must remove the state (updating it there would refresh idle state
    forever and the bound would be a no-op).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: PLC0415

    with_fp = docs.filter(F.col(text_col).isNotNull()).withColumn(
        "_fp", F.md5(text_col)
    ).withColumn(
        "_bucket",
        F.pmod(HH.h60(F.col(text_col)), F.lit(num_buckets)).cast("int"),
    )
    out_schema = f"{id_col} long, {text_col} string, _fp string"
    state_schema = "seen string"
    dedup_fn = make_dedup_fn(text_col, id_col, timeout_minutes)

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_minutes is not None
        else GroupStateTimeout.NoTimeout
    )
    return with_fp.groupBy("_bucket").applyInPandasWithState(
        dedup_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout,
    )


def make_near_dup_fn(timeout_minutes: float | None = None):
    """State-update function for :func:`streaming_near_dup_candidates`:
    state per bucket is the map band_fp → first-seen doc id (serialized
    "fp:id,fp:id,…" — GroupState is struct-of-scalars only).  Rows are
    processed in (doc id, band) order so the kept "first" is the min id —
    deterministic across retries.  Timeout contract identical to
    :func:`make_dedup_fn` (timed-out invocation removes state)."""
    import pandas as pd  # noqa: PLC0415

    def fn(key, pdf_iter, state):
        if state.hasTimedOut:
            state.remove()
            return
        seen: dict[str, int] = {}
        if state.exists:
            (blob,) = state.get
            if blob:
                seen = {
                    f: int(i)
                    for f, i in (kv.split(":") for kv in blob.split(","))
                }
        out = []
        for pdf in pdf_iter:
            for _, row in pdf.sort_values(["doc_id", "band"]).iterrows():
                fp, did = row["fp"], int(row["doc_id"])
                first = seen.get(fp)
                if first is None:
                    seen[fp] = did
                elif first != did:
                    out.append((first, did, int(row["band"]), fp))
        state.update((",".join(f"{f}:{i}" for f, i in sorted(seen.items())),))
        if timeout_minutes is not None:
            state.setTimeoutDuration(int(timeout_minutes * 60 * 1000))
        if out:
            yield pd.DataFrame(
                out, columns=["id_first", "id_new", "band", "fp"]
            )

    return fn


def streaming_near_dup_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 5,
    num_buckets: int = 64,
    timeout_minutes: float | None = None,
) -> DataFrame:
    """Cross-micro-batch NEAR-dup candidate detection — the streaming
    recast of ``dedup.lsh_candidate_pairs``: minhash band fingerprints are
    computed in-stream by the batch path's own signature and band-key
    steps (``dedup._signatures``, ``dedup.band_fp_explode``), then a
    stateful operator keyed by a uniform hash bucket of the band
    fingerprint registers first sightings and emits (id_first, id_new,
    band, fp) whenever a later document collides on a band — across
    micro-batches, unbounded.

    Scale design: state holds band_fp → doc id ONLY (a few dozen bytes per
    registered band, never texts or signatures), sharded uniformly by
    fingerprint bucket, expirable via ``timeout_minutes``.  Verification
    (exact Jaccard) joins the candidate ids back to a document store
    downstream — exactly the batch pipeline's verify stage, which never
    belongs in stream state.  A pair sharing b bands emits b rows; the
    downstream verify deduplicates by (id_first, id_new) — streaming
    append mode cannot re-aggregate without a watermark, and the verify
    join has to deduplicate anyway.
    """
    from ..operators import dedup as DD  # noqa: PLC0415
    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: PLC0415

    band_rows = (
        DD._signatures(docs, text_col, id_col, num_hashes, bands, k)
        .select(
            F.col("_id").alias("doc_id"),
            DD.band_fp_explode("_sig", bands, num_hashes // bands).alias("bf"),
        )
        .select(
            "doc_id",
            F.col("bf.band").alias("band"),
            F.col("bf.fp").alias("fp"),
            F.pmod(
                F.conv(F.substring("bf.fp", 1, 15), 16, 10).cast("long"),
                F.lit(num_buckets),
            ).cast("int").alias("_bucket"),
        )
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_minutes is not None
        else GroupStateTimeout.NoTimeout
    )
    return band_rows.groupBy("_bucket").applyInPandasWithState(
        make_near_dup_fn(timeout_minutes),
        outputStructType="id_first long, id_new long, band int, fp string",
        stateStructType="seen string",
        outputMode="append",
        timeoutConf=timeout,
    )


def run_streaming_dedup_once(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    query_name: str = "dedup_stream",
    checkpoint_dir: str | None = None,
    timeout_minutes: float | None = None,
    num_buckets: int = 64,
) -> DataFrame:
    """Drive the stateful dedup over the files in ``input_dir`` (one file
    per micro-batch) and return the deduped rows (memory sink)."""
    docs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    deduped = streaming_dedup(
        docs, num_buckets=num_buckets, timeout_minutes=timeout_minutes
    )
    writer = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def stream_verdicts_foreach_batch(
    spark: SparkSession,
    images_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
):
    """Streaming filter+scrub: each micro-batch goes through the SAME batch
    pipeline (plans/pipeline.run_pipeline) inside foreachBatch; the sink
    partitions by epoch for idempotent replay (exactly-once effect)."""
    from ..plans.pipeline import run_pipeline

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        verdicts = run_pipeline(spark, batch_df)
        (
            verdicts.drop("bytes")
            .withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .parquet(f"{out_dir}/epoch={epoch_id}")
        )

    return (
        images_stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def streaming_near_dup_verified(
    spark: SparkSession,
    docs_stream: DataFrame,
    doc_store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 5,
    num_buckets: int = 64,
    timeout_minutes: float | None = None,
):
    """END-TO-END streaming near-dup: the stateful candidate stage
    (:func:`streaming_near_dup_candidates`) composed with the batch
    pipeline's exact-Jaccard verify (``dedup.verify_candidate_pairs``)
    inside ``foreachBatch`` — candidates are flagged across micro-batches
    by band-fingerprint state, then each micro-batch of candidate pairs is
    CONFIRMED (or rejected as a band collision) against the committed
    document store before anything is reported.

    Why verify lives in foreachBatch, not stream state: the verify needs
    both documents' shingle sets — pulling texts into stream state would
    make state corpus-sized.  The store at ``doc_store_dir`` is the
    ingest-side parquet of everything streamed so far.  Per batch the
    store scan is pruned to candidate ids by the broadcast semi-join
    inside the shared verify.

    **Pending-pair retry** (round-4 ADVICE): the ingest path that writes
    the store gives NO ordering guarantee against the candidate stream —
    a pair can emit before one of its documents is committed to the
    store.  Dropping such a pair would be permanent recall loss (the
    stateful candidate stage never re-emits a seen band collision).
    Instead, pairs with either id absent from the store are DIVERTED to a
    pending relation and retried on every subsequent batch until both
    docs appear.  The pending set is committed per epoch under the same
    atomic-pointer rule as the lineage ledgers (torn writes invisible;
    idempotent epoch replay).  A missing or still-empty store no longer
    kills the first batch — everything diverts to pending.

    Sink: verified (id_a, id_b, jaccard) parquet partitioned by epoch —
    idempotent replay (overwrite per epoch), exactly-once effect.
    """
    import logging  # noqa: PLC0415
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    from pyspark.errors import AnalysisException  # noqa: PLC0415

    from ..operators import dedup as DD  # noqa: PLC0415
    from ..plans.lineage import atomic_write_json, read_json  # noqa: PLC0415

    cands = streaming_near_dup_candidates(
        docs_stream,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        k=k,
        num_buckets=num_buckets,
        timeout_minutes=timeout_minutes,
    )
    pending_base = os.path.join(out_dir, "_pending_pairs")
    pointer = os.path.join(pending_base, "_current.json")

    def _read_pending() -> DataFrame | None:
        current = read_json(pointer)
        if current is None:
            return None
        return spark.read.parquet(os.path.join(pending_base, current["dir"]))

    def _commit_pending(df: DataFrame, epoch_id: int) -> None:
        d = f"v{epoch_id}"
        target = os.path.join(pending_base, d)
        if (read_json(pointer) or {}).get("dir") == d:
            # epoch replay AFTER a completed commit: this epoch's pending
            # set is already the committed current dir.  Recomputing
            # would rmtree the very dir the lazy `df` plan reads from
            # (self-destruct); the replayed computation is idempotent by
            # construction, so skip.
            return
        if os.path.exists(target):  # torn attempt (pointer not swapped)
            shutil.rmtree(target)
        df.write.parquet(target)
        atomic_write_json(pointer, {"dir": d})  # commit point
        for old in os.listdir(pending_base):  # best-effort GC
            if old.startswith("v") and old != d:
                shutil.rmtree(os.path.join(pending_base, old), ignore_errors=True)

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        os.makedirs(pending_base, exist_ok=True)
        pairs = batch_df.select(
            F.col("id_first").alias("id_a"), F.col("id_new").alias("id_b")
        )
        prev = _read_pending()
        if prev is not None:
            pairs = pairs.unionByName(prev)
        pairs = pairs.distinct()
        try:
            store = spark.read.parquet(doc_store_dir)
        except AnalysisException:
            # store dir absent or empty (PATH_NOT_FOUND /
            # UNABLE_TO_INFER_SCHEMA): no docs committed yet — divert all
            # pairs to pending.  Anything else (corrupt footer,
            # permissions) surfaces at execution time and fails the
            # batch LOUDLY rather than masquerading as an empty store.
            logging.getLogger(__name__).warning(
                "doc store %s not readable yet (epoch %d): diverting "
                "%s candidate pairs to pending",
                doc_store_dir, epoch_id, "all",
            )
            store = None
        if store is not None:
            # presence check at store scale: prune the store's id column
            # by the SMALL candidate-id set (broadcast), then broadcast
            # the intersection back — the store never shuffles
            ids = (
                pairs.select(F.col("id_a").alias("_cid"))
                .unionByName(pairs.select(F.col("id_b").alias("_cid")))
                .distinct()
            )
            present = (
                store.select(F.col(id_col).alias("_cid"))
                .join(F.broadcast(ids), "_cid", "left_semi")
                .distinct()
            )
            ready = pairs.join(
                F.broadcast(present.withColumnRenamed("_cid", "id_a")),
                "id_a", "left_semi",
            ).join(
                F.broadcast(present.withColumnRenamed("_cid", "id_b")),
                "id_b", "left_semi",
            )
            still_pending = pairs.join(ready, ["id_a", "id_b"], "left_anti")
            verified = DD.verify_candidate_pairs(
                store, ready, text_col, id_col, jaccard_threshold, k
            )
            # the directory name IS the epoch (partition discovery
            # exposes it as a column on read); embedding it as a data
            # column too would store it twice and shadow ambiguously
            verified.write.mode("overwrite").parquet(
                f"{out_dir}/epoch={epoch_id}"
            )
        else:
            still_pending = pairs
        _commit_pending(still_pending, epoch_id)

    return (
        cands.writeStream.foreachBatch(_sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def streaming_session_stats(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Native Structured-Streaming SESSIONIZATION: Spark's built-in
    ``session_window`` merges a user's events whose gaps are under
    ``gap`` into one growing window — the streaming counterpart of the
    batch ``operators/sessions.sessionize`` (which needs the full
    history; this needs only in-flight state bounded by the watermark).

    Semantics note (pinned): ``session_window`` is HALF-OPEN — an event
    exactly ``gap`` after the previous one starts a NEW session, where
    the batch operator's strict ``diff > gap`` rule keeps it.  The two
    agree on every gap that is not exactly the threshold (test pins
    agreement on such data); callers needing bit-identical boundary
    behavior pass the batch gap minus one microsecond.

    Scale shape: state per (user, open session) only; the watermark
    closes sessions and frees state — without it a 10^12-event stream
    would accrete state forever.  In append mode closed sessions emit
    exactly once (exactly-once session rows downstream); complete mode
    re-emits all — tests use complete so trailing sessions surface
    without post-watermark traffic."""
    # watermarks require TIMESTAMP: cast NTZ wall clock under the
    # pinned-UTC session (same convention as operators/sessions.py)
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", gap).alias("w"),
            "user_id",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def streaming_link_edges(
    spark: SparkSession,
    pages_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    src_domain_col: str = "src_domain",
    html_col: str = "html",
    batch_prefix: str = "epoch",
):
    """Crawl pages arrive as a stream; each micro-batch's domain→domain
    edges fold into the cross-crawl edge LEDGER (plans/lineage.py:
    commit_link_edges) inside ``foreachBatch``.  Exactly-once WITHOUT an
    epoch-partitioned sink: the ledger's batch_id replay guard IS the
    idempotence mechanism — a replayed epoch re-presents batch_id
    'epoch-K', which the manifest already lists, and commits nothing
    (the additive merge would double-count otherwise, so the guard is
    correctness, not hygiene — same argument as the CMS ledger).  The
    merged graph and its q89 authority report stay queryable mid-stream
    via link_ledger_edges / link_ledger_authority.

    CAUTION: the guard keys on (prefix, epoch id), and epoch ids restart
    at 0 under a fresh checkpoint — a different SEQUENTIAL stream
    reusing the store needs its own ``batch_prefix`` or its epochs
    silently no-op against the committed ids.  CONCURRENT streams must
    use SEPARATE stores regardless of prefix: the manifest commit is a
    read-modify-write with no lock, so two simultaneous writers would
    lose each other's batches (data present but never scanned, replay
    guard gone).  Keep one stream, one checkpoint, one store."""
    from ..plans import lineage as LN

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        LN.commit_link_edges(
            spark,
            batch_df,
            store_dir,
            f"{batch_prefix}-{epoch_id}",
            src_domain_col=src_domain_col,
            html_col=html_col,
        )

    return (
        pages_stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def run_streaming_link_edges_once(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    store_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drive :func:`streaming_link_edges` over the files in ``input_dir``
    (one file per micro-batch) to completion."""
    pages = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    q = streaming_link_edges(spark, pages, store_dir, checkpoint_dir)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
