"""Training-shard output: deterministic, reproducible shard layout.

The last stage of a corpus pipeline writes shards that training loaders
address by number ("shard 00042 of 4096").  Two properties matter and
neither comes from a plain ``df.write``:

* **Deterministic membership** — which shard a document lands in must be
  a pure function of the document key, not of the cluster's partitioning
  (speculative retries, AQE coalescing and executor counts all reshape
  default output files).  Shard id = ``h60(seed || key) mod num_shards``
  — the same portable hash family the sampling operators use, so a
  rewrite on any cluster produces byte-comparable shard contents.
* **Deterministic order within a shard** — rows are written sorted by
  (hash, key) inside each shard: a pseudo-random-but-reproducible
  shuffle of the corpus (what training wants).  The ON-DISK order is the
  contract — a loader streaming the shard's files in lexicographic name
  order sees exactly that order.  (A distributed re-READ of a multi-file
  shard may interleave files; order-sensitive consumers are sequential
  loaders, which don't.)

Plan shape: one ``repartition(num_shards, shard)`` shuffle +
``sortWithinPartitions`` (sort is per-shard, never global) + a
``partitionBy(shard)`` parquet write — shard dirs are the unit a loader
requests.  ``maxRecordsPerFile`` optionally splits giant shards into
multiple files without changing membership or order (files sort
lexicographically within the dir).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.sampling import seeded_key_hash

SHARD_COL = "shard"


def write_training_shards(
    df: DataFrame,
    path: str,
    num_shards: int,
    key_col: str,
    seed: int = 0,
    max_records_per_file: int | None = None,
) -> None:
    """Write ``df`` as ``num_shards`` shard directories under ``path``:
    shard = h60(seed || key) mod num_shards, rows sorted by (hash, key)
    inside each shard.  The hash is
    :func:`..operators.sampling.seeded_key_hash` — ONE derivation shared
    with every sampler, and NULL keys hash as the empty string, so a
    NULL-key row lands in a real numbered shard instead of the invisible
    __HIVE_DEFAULT_PARTITION__ directory that no ``read_shard`` call ever
    requests (silent loss)."""
    if num_shards <= 0:
        raise ValueError(f"num_shards must be positive, got {num_shards}")
    h = seeded_key_hash(key_col, seed)
    out = (
        df.withColumn("_sh_h", h)
        .withColumn(
            SHARD_COL, F.pmod(F.col("_sh_h"), F.lit(num_shards)).cast("int")
        )
        .repartition(num_shards, F.col(SHARD_COL))
        .sortWithinPartitions(SHARD_COL, "_sh_h", key_col)
        .drop("_sh_h")
    )
    writer = out.write.mode("overwrite").partitionBy(SHARD_COL)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def read_shard(spark, path: str, shard: int) -> DataFrame:
    """One shard, partition-pruned at the source (the loader's view)."""
    return spark.read.parquet(path).filter(F.col(SHARD_COL) == shard)


def assign_token_shards(
    df: DataFrame,
    target_tokens: int,
    token_col: str,
    key_col: str,
    seed: int = 0,
    num_buckets: int = 1024,
) -> DataFrame:
    """Token-BALANCED shard assignment: hash-mod sharding equalizes row
    COUNTS, but training loaders want ≈equal-token shards when document
    lengths skew.  Rule (pinned, engine-portable): order the corpus by
    the deterministic pseudo-random permutation (bucket, h60, key) —
    the same order the samplers and writer use — and assign
    ``shard = tokens_before(row) div target_tokens``: every shard except
    the last holds ≥ target_tokens, and membership is a pure function of
    corpus content, never of partitioning.

    Two-phase plan (the q53 sample_token_budget shape, applied to ALL
    buckets instead of one): (1) ONE hash aggregate of token sums per
    hash bucket — ``num_buckets`` rows to the driver, prefix-summed into
    per-bucket base offsets that ride back as a literal map; (2) one
    shuffle on the bucket id + a per-bucket cumulative-sum window
    (~corpus/num_buckets rows each — the dial that bounds the sort), so
    no global sort and no corpus-sized window partition ever exists.
    NOTE: ``num_buckets`` is part of the permutation DEFINITION (the
    order is (bucket, h, key)), not a free performance dial — pin it
    alongside ``seed`` in any reproducibility contract.
    Shard arithmetic is pure integer (``div``), so there is no float
    boundary to diverge on.

    NULL ``token_col`` counts as 0 and stays eligible (the q53
    convention).  Returns ``df`` + ``shard`` (int) — feed to
    ``write_training_shards``-style partitioned writes or downstream
    accounting."""
    if target_tokens <= 0:
        raise ValueError(
            f"target_tokens must be positive, got {target_tokens}"
        )
    if num_buckets <= 0:
        raise ValueError(f"num_buckets must be positive, got {num_buckets}")
    from ..operators.sampling import SAMPLE_DENOM

    cost = F.coalesce(F.col(token_col), F.lit(0)).cast("long")
    h = F.pmod(seeded_key_hash(key_col, seed), F.lit(SAMPLE_DENOM))
    bucketed = df.withColumn("_ts_h", h).withColumn(
        "_ts_bkt", F.pmod(F.col("_ts_h"), F.lit(num_buckets))
    )
    totals = {
        r["_ts_bkt"]: r["_tok"]
        for r in bucketed.groupBy("_ts_bkt")
        .agg(F.sum(cost).alias("_tok"))
        .collect()
    }
    bases, acc = [], 0
    for b in range(num_buckets):
        bases.append(acc)
        acc += int(totals.get(b, 0))
    # dense ARRAY literal indexed by bucket (buckets are exactly
    # 0..num_buckets-1): element_at on a constant-folded array is one
    # O(1) index per row, where GetMapValue on the literal map scanned
    # its keys linearly (the DSIR literal-map lesson).  Same value per
    # row.
    base = F.element_at(
        F.array(*[F.lit(v) for v in bases]),
        (F.col("_ts_bkt") + 1).cast("int"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("_ts_bkt")
        .orderBy("_ts_h", key_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    before = F.sum(cost).over(w) - cost
    # integer `div`, not `/`: long/long in Spark is DOUBLE division —
    # exact only below 2^53 and a float boundary the oracle's `//`
    # never has
    return (
        bucketed.withColumn("_ts_pos", base + before)
        .withColumn(
            SHARD_COL,
            F.expr(f"CAST(_ts_pos div {int(target_tokens)} AS INT)"),
        )
        .drop("_ts_h", "_ts_bkt", "_ts_pos")
    )


def bucket_batches(
    df: DataFrame,
    batch_size: int,
    group_cols: tuple[str, ...],
    key_col: str,
    seed: int = 0,
    num_buckets: int = 128,
) -> DataFrame:
    """BATCH assembly within groups — the second half of aspect-ratio
    bucketed training (SDXL/NovelAI): inside each group (e.g. each
    (bucket_w, bucket_h) resolution), rows are laid out in the
    deterministic pseudo-random (h60, key) permutation and numbered into
    fixed-size batches; the per-group remainder (< batch_size rows) is
    flagged so loaders can drop or pad it explicitly.

    Same two-phase shape as :func:`assign_token_shards`, restarted per
    group: (1) one hash aggregate of counts per (group, hash-sub-bucket)
    — |groups|·num_buckets tiny rows to the driver, prefix-summed into
    base offsets that ride back as ONE literal map keyed by
    'group:sub'; (2) a cumulative count window per (group, sub-bucket)
    partition (~|group|/num_buckets rows each), so no group-sized sort
    ever exists — the property that matters when one resolution holds
    10^11 images.  ``num_buckets`` is part of the permutation definition
    (pin with seed), and position arithmetic is pure integer.

    Returns df + ``batch_idx`` (int, 0-based per group) +
    ``in_full_batch`` (false for the per-group remainder rows)."""
    if batch_size <= 0:
        raise ValueError(f"batch_size must be positive, got {batch_size}")
    if num_buckets <= 0:
        raise ValueError(f"num_buckets must be positive, got {num_buckets}")
    from ..operators.sampling import SAMPLE_DENOM

    h = F.pmod(seeded_key_hash(key_col, seed), F.lit(SAMPLE_DENOM))
    # NULL group values are encoded as a \x03 sentinel BEFORE
    # concat_ws (which silently SKIPS null args: ('a', NULL) and
    # (NULL, 'a') would otherwise both collapse to 'a' and
    # interleave two distinct groups into one batch permutation)
    gkey = F.concat_ws(
        "",
        *[
            F.when(F.col(c).isNull(), F.lit("")).otherwise(
                F.col(c).cast("string")
            )
            for c in group_cols
        ],
    )
    bucketed = (
        df.withColumn("_bb_h", h)
        .withColumn("_bb_sub", F.pmod(F.col("_bb_h"), F.lit(num_buckets)))
        .withColumn("_bb_g", gkey)
    )
    counts = {
        (r["_bb_g"], r["_bb_sub"]): r["_n"]
        for r in bucketed.groupBy("_bb_g", "_bb_sub")
        .agg(F.count("*").alias("_n"))
        .collect()
    }
    groups = sorted({g for g, _ in counts})
    base_rows, total_rows = [], []
    for g in groups:
        acc = 0
        for sub in range(num_buckets):
            n = int(counts.get((g, sub), 0))
            if n:
                base_rows.append((g, int(sub), int(acc)))
            acc += n
        total_rows.append((g, int(acc)))
    # offsets ride back as BROADCAST hash joins, not literal maps:
    # GetMapValue on a literal map is a linear key scan per ROW, and
    # with |groups|*num_buckets string keys the lookup dominated the
    # stage (the DSIR literal-map lesson; string keys rule out the
    # dense-array form -- the broadcast hash relation is the O(1)
    # equivalent).  Per-row values are identical; both relations are
    # driver-built and tiny by construction.
    spark = df.sparkSession
    base_df = spark.createDataFrame(
        base_rows, "_bb_g string, _bb_sub bigint, _bb_base bigint"
    )
    total_df = spark.createDataFrame(
        total_rows, "_bb_g string, _bb_tot bigint"
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("_bb_g", "_bb_sub")
        .orderBy("_bb_h", key_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    before = F.count("*").over(w) - 1
    return (
        bucketed.join(F.broadcast(base_df), ["_bb_g", "_bb_sub"], "left")
        .join(F.broadcast(total_df), ["_bb_g"], "left")
        .withColumn("_bb_pos", F.col("_bb_base") + before)
        .drop("_bb_base")
        .withColumn(
            "batch_idx", F.expr(f"CAST(_bb_pos div {int(batch_size)} AS INT)")
        )
        .withColumn(
            "in_full_batch",
            F.expr(
                f"_bb_pos div {int(batch_size)} < "
                f"_bb_tot div {int(batch_size)}"
            ),
        )
        .drop("_bb_h", "_bb_sub", "_bb_g", "_bb_pos", "_bb_tot")
    )
