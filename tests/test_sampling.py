"""Deterministic sampling / corpus mixing: partitioning-invariance (the
whole point vs df.sample), fraction accuracy, stratified weights, and the
token-budget prefix contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_quality_analyzer_spark.operators import lines as LN
from data_quality_analyzer_spark.operators import sampling as SP


@pytest.fixture(scope="module")
def docs(spark):
    return spark.range(5000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 4 == 0, "en")
        .when(F.col("id") % 4 == 1, "de")
        .when(F.col("id") % 4 == 2, "fr")
        .otherwise("zz")
        .alias("lang"),
        (F.col("id") % 300 + 10).alias("n_tok"),
    )


def test_sample_is_partitioning_invariant(docs):
    a = {
        r["doc_id"]
        for r in SP.deterministic_sample(docs, 0.3, "doc_id", seed=1).collect()
    }
    b = {
        r["doc_id"]
        for r in SP.deterministic_sample(
            docs.repartition(17), 0.3, "doc_id", seed=1
        ).collect()
    }
    c = {
        r["doc_id"]
        for r in SP.deterministic_sample(
            docs.coalesce(1), 0.3, "doc_id", seed=1
        ).collect()
    }
    assert a == b == c
    # fraction accuracy: binomial(5000, 0.3) → ±4 sigma ≈ ±130
    assert abs(len(a) - 1500) < 150
    # different seeds → different (roughly independent) sets
    d = {
        r["doc_id"]
        for r in SP.deterministic_sample(docs, 0.3, "doc_id", seed=2).collect()
    }
    assert d != a
    assert abs(len(a & d) - 450) < 150  # ~0.09 of corpus

    with pytest.raises(ValueError, match="fraction"):
        SP.deterministic_sample(docs, 1.5, "doc_id")


def test_stratified_mixing_weights(docs):
    out = (
        SP.stratified_sample(
            docs, {"en": 0.8, "de": 0.2, "fr": 0.0}, "lang", "doc_id", seed=3
        )
        .groupBy("lang")
        .count()
        .collect()
    )
    by = {r["lang"]: r["count"] for r in out}
    assert abs(by["en"] - 1000) < 120      # 1250 × 0.8
    assert abs(by.get("de", 0) - 250) < 100
    assert "fr" not in by                  # explicit zero
    assert "zz" not in by                  # absent stratum defaults to 0
    with pytest.raises(ValueError, match="stratum"):
        SP.stratified_sample(docs, {"en": 2.0}, "lang", "doc_id")


def test_token_budget_prefix_contract(docs):
    budget = 200_000
    got = SP.sample_token_budget(
        docs, budget, "n_tok", "doc_id", seed=4, num_buckets=64
    )
    rows = got.agg(
        F.sum("n_tok").alias("s"), F.count("*").alias("n")
    ).collect()[0]
    total = rows["s"]
    # the prefix crosses the budget by at most one document
    assert total >= budget
    max_tok = 309
    assert total - max_tok < budget
    # deterministic: same selection again, and invariant to partitioning
    a = {r["doc_id"] for r in got.collect()}
    b = {
        r["doc_id"]
        for r in SP.sample_token_budget(
            docs.repartition(13), budget, "n_tok", "doc_id",
            seed=4, num_buckets=64,
        ).collect()
    }
    assert a == b
    # whole corpus fits → everything returned
    assert (
        SP.sample_token_budget(
            docs, 10**9, "n_tok", "doc_id", seed=4
        ).count()
        == docs.count()
    )
    with pytest.raises(ValueError, match="budget"):
        SP.sample_token_budget(docs, 0, "n_tok", "doc_id")


def test_token_budget_null_cost_rows_kept(spark):
    """Pinned NULL-cost semantic (round-4 ADVICE): NULL token counts cost
    0 and stay ELIGIBLE — the engine must keep exactly the rows a global
    COALESCE(cost, 0) running-sum prefix would keep, so the q53 oracle's
    COALESCE mirrors the engine rather than diverging on NULLs."""
    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        # every 5th row has an unknown cost
        F.when(F.col("id") % 5 != 0, F.col("id") % 97 + 5).alias("n_tok"),
    )
    budget = 20_000
    got = SP.sample_token_budget(
        docs, budget, "n_tok", "doc_id", seed=9, num_buckets=32
    )
    rows = got.collect()
    picked = {r["doc_id"] for r in rows}
    # NULL-cost rows do appear in the selection
    assert any(r["n_tok"] is None for r in rows)
    # reference: global prefix over (bucket, hash, key) order with
    # COALESCE(cost, 0) — computed driver-side from the same hash exprs
    hashed = docs.withColumn(
        "_h", F.pmod(SP._h60_key("doc_id", 9), F.lit(SP.SAMPLE_DENOM))
    ).withColumn("_b", F.pmod(F.col("_h"), F.lit(32))).collect()
    acc, want = 0, set()
    for r in sorted(hashed, key=lambda r: (r["_b"], r["_h"], r["doc_id"])):
        if acc >= budget:
            break
        want.add(r["doc_id"])
        acc += r["n_tok"] or 0
    assert picked == want


def test_training_shards_reproducible(spark, tmp_path):
    """Shard membership and within-shard order are pure functions of the
    key: two writes from differently-partitioned inputs produce identical
    per-shard contents in identical order; every row lands in exactly one
    shard; reading one shard prunes to it."""
    import pandas as pd

    from data_quality_analyzer_spark.plans import shards as SH

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text-"), F.col("id")).alias("text"),
    )
    p1, p2, p3 = (str(tmp_path / d) for d in ("a", "b", "c"))
    SH.write_training_shards(df, p1, num_shards=8, key_col="doc_id", seed=5)
    SH.write_training_shards(
        df.repartition(23), p3, num_shards=8, key_col="doc_id", seed=5
    )
    SH.write_training_shards(
        df.repartition(7), p2, num_shards=8, key_col="doc_id", seed=5,
        max_records_per_file=50,
    )
    a = spark.read.parquet(p1)
    b = spark.read.parquet(p2)
    assert a.count() == b.count() == 2000
    assert a.select("shard").distinct().count() == 8
    for shard in (0, 3, 7):
        pa = SH.read_shard(spark, p1, shard).toPandas().reset_index(drop=True)
        pc = SH.read_shard(spark, p3, shard).toPandas().reset_index(drop=True)
        # single-file shards: same membership AND same order despite
        # different input partitioning
        pd.testing.assert_frame_equal(
            pa[["doc_id", "text"]], pc[["doc_id", "text"]]
        )
        # multi-file shard (maxRecordsPerFile split): membership identical;
        # cross-file read order is a reader property, not a write contract
        pb = SH.read_shard(spark, p2, shard).toPandas()
        assert sorted(pb["doc_id"]) == sorted(pa["doc_id"])
    # membership is a partition of the corpus
    assert a.select("doc_id").distinct().count() == 2000
    import pytest as _pt

    with _pt.raises(ValueError, match="num_shards"):
        SH.write_training_shards(df, str(tmp_path / "c"), 0, "doc_id")


def test_token_budget_duplicate_keys_rows_frame(spark):
    """Round-5 review (empirically confirmed bug): duplicate keys tie in
    the cutoff-bucket window; the default RANGE frame gave tied rows the
    COMBINED running sum and under-filled the budget.  With the ROWS
    frame the prefix contract holds even when every key collides."""
    docs = spark.range(200).select(
        F.lit(7).alias("doc_id"),  # every row has the SAME key
        F.lit(100).alias("n_tok"),
    )
    budget = 1000
    got = SP.sample_token_budget(
        docs, budget, "n_tok", "doc_id", seed=1, num_buckets=8
    )
    total = got.agg(F.sum("n_tok")).collect()[0][0]
    assert total >= budget            # budget reached
    assert total - 100 < budget       # crossed by at most one row


def test_token_budget_num_buckets_guard(spark):
    docs = spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit(5).alias("n_tok")
    )
    import pytest as _pt

    with _pt.raises(ValueError, match="num_buckets"):
        SP.sample_token_budget(docs, 10, "n_tok", "doc_id", num_buckets=0)


def test_null_keys_hash_deterministically(spark):
    """NULL keys hash as the empty string (never NULL): they are
    eligible for selection and every engine agrees on their hash."""
    docs = spark.createDataFrame(
        [(None,), ("a",), ("b",)], "k string"
    )
    h = docs.select(SP.seeded_key_hash("k", 3).alias("h")).collect()
    assert all(r["h"] is not None for r in h)


def test_shards_null_key_lands_in_real_shard(spark, tmp_path):
    """Round-5 review: a NULL-key row must land in a numbered shard a
    loader can read, not the invisible default partition."""
    from data_quality_analyzer_spark.plans import shards as SH

    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (3, "c")], "doc_id long, text string"
    )
    p = str(tmp_path / "s")
    SH.write_training_shards(df, p, num_shards=4, key_col="doc_id", seed=2)
    back = spark.read.parquet(p)
    assert back.count() == 3
    assert back.filter(F.col("shard").isNull()).count() == 0
    # the NULL-key row is reachable through read_shard
    found = sum(
        SH.read_shard(spark, p, s).filter(F.col("doc_id").isNull()).count()
        for s in range(4)
    )
    assert found == 1


# ---------------------------------------------------------------------------
# DSIR importance weighting
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def dsir_docs(spark):
    """Two vocabularies: target-ish rows speak 'clean', off-target rows
    speak 'spam'; a few mixed rows sit in between, one NULL text."""
    rows = []
    clean = "the quiet library holds careful essays about science history"
    spam = "click free offer buy now winner prize cash deal claim"
    for i in range(60):
        if i % 3 == 0:
            rows.append((i, clean + f" volume {i}", True))
        elif i % 3 == 1:
            rows.append((i, spam + f" code {i}", False))
        else:
            rows.append((i, clean.split()[i % 5] + " " + spam, False))
    rows.append((60, None, False))
    return spark.createDataFrame(
        rows, "doc_id long, text string, is_target boolean"
    )


def test_dsir_weights_match_duckdb(dsir_docs):
    got = {
        r["doc_id"]: r["dsir_weight"]
        for r in SP.dsir_weights(
            dsir_docs, F.col("is_target"), text_col="text"
        ).collect()
    }
    import duckdb

    pdf = dsir_docs.toPandas()
    con = duckdb.connect()
    con.register("docs", pdf)
    sql = SP.dsir_weights_duck_sql("docs", "is_target", "text", "doc_id")
    duck = dict(con.execute(sql).fetchall())
    # NULL text never reaches the twin; Spark carries it as NULL weight
    assert got.pop(60) is None
    assert set(duck) == set(got)
    for k in got:
        assert duck[k] == pytest.approx(got[k], abs=0), (k, duck[k], got[k])


def test_dsir_separates_target_like_text(dsir_docs):
    w = {
        r["doc_id"]: r["dsir_weight"]
        for r in SP.dsir_weights(
            dsir_docs, F.col("is_target"), text_col="text"
        ).collect()
    }
    clean_ids = [i for i in range(60) if i % 3 == 0]
    spam_ids = [i for i in range(60) if i % 3 == 1]
    mixed_ids = [i for i in range(60) if i % 3 == 2]
    avg = lambda ids: sum(w[i] for i in ids) / len(ids)  # noqa: E731
    # target-vocabulary docs score strictly above mixed, mixed above spam
    assert avg(clean_ids) > avg(mixed_ids) > avg(spam_ids)
    assert min(w[i] for i in clean_ids) > max(w[i] for i in spam_ids)


def test_dsir_weight_is_partitioning_invariant(dsir_docs):
    a = {
        (r["doc_id"], r["dsir_weight"])
        for r in SP.dsir_weights(
            dsir_docs.repartition(1), F.col("is_target")
        ).collect()
    }
    b = {
        (r["doc_id"], r["dsir_weight"])
        for r in SP.dsir_weights(
            dsir_docs.repartition(7, "text"), F.col("is_target")
        ).collect()
    }
    assert a == b


def test_dsir_pass1_kernel_matches_explode(spark, dsir_docs):
    """The round-6 Arrow histogram kernel must return exactly the
    (bucket, target_count, row_count) rows of the explode + md5 + hash
    aggregate it replaces — including unicode tokens, empty/whitespace
    text (the empty-string token), and NULL text exclusion."""
    rows = [
        (0, "", True),
        (1, "   ", False),
        (2, None, True),
        (3, "répété répété RÉPÉTÉ café 東京 東京 naïve", True),
        (4, "a a a a a b", False),
    ]
    extra = spark.createDataFrame(
        rows, "doc_id long, text string, is_target boolean"
    )
    for df in (dsir_docs, extra):
        tt = df.filter(F.col("text").isNotNull()).select(
            F.coalesce(F.col("is_target"), F.lit(False)).alias("_t"),
            LN.tokens(F.col("text")).alias("_toks"),
        )
        kernel = {
            r["_b"]: (r["tc"], r["rc"])
            for r in SP._dsir_bucket_counts_arrow(tt, 512).collect()
        }
        explode = {
            r["_b"]: (r["tc"], r["rc"])
            for r in tt.select(
                "_t", F.explode(F.col("_toks")).alias("_tok")
            )
            .groupBy(SP._dsir_bucket(F.col("_tok"), 512).alias("_b"))
            .agg(
                F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("tc"),
                F.count("*").alias("rc"),
            )
            .collect()
        }
        assert kernel == explode


# ---------------------------------------------------------------------------
# weighted_sample (DSIR importance resampling)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def weighted_rows(spark):
    rows = [(i, 1.5 if i % 2 == 0 else -1.5) for i in range(400)]
    rows += [(1000, None), (1001, None)]
    return spark.createDataFrame(rows, "doc_id long, w double")


def test_weighted_sample_prefers_heavy_rows(weighted_rows):
    kept = {
        r["doc_id"]
        for r in SP.weighted_sample(
            weighted_rows, "w", 0.4, "doc_id", seed=3
        ).collect()
    }
    heavy = sum(1 for i in kept if i < 1000 and i % 2 == 0)
    light = sum(1 for i in kept if i < 1000 and i % 2 == 1)
    # exp(1.5)/exp(-1.5) = e^3 ~ 20x acceptance ratio
    assert heavy > 5 * max(light, 1)
    # NULL-weight rows are excluded, never sampled
    assert 1000 not in kept and 1001 not in kept


def test_weighted_sample_deterministic(weighted_rows):
    a = {
        r["doc_id"]
        for r in SP.weighted_sample(
            weighted_rows, "w", 0.4, "doc_id", seed=3
        ).collect()
    }
    b = {
        r["doc_id"]
        for r in SP.weighted_sample(
            weighted_rows.repartition(13), "w", 0.4, "doc_id", seed=3
        ).collect()
    }
    assert a == b
    # a different seed selects a genuinely different set
    c = {
        r["doc_id"]
        for r in SP.weighted_sample(
            weighted_rows, "w", 0.4, "doc_id", seed=4
        ).collect()
    }
    assert a != c


def test_weighted_sample_uniform_weights_match_rate(weighted_rows):
    flat = weighted_rows.filter(F.col("w").isNotNull()).withColumn(
        "w", F.lit(0.0)
    )
    kept = SP.weighted_sample(flat, "w", 0.5, "doc_id", seed=1).count()
    # exp(0)/mean(exp(0)) = 1 -> plain deterministic_sample at 0.5
    assert abs(kept / 400 - 0.5) < 0.1


def test_weighted_sample_validation(weighted_rows, spark):
    with pytest.raises(ValueError, match="fraction"):
        SP.weighted_sample(weighted_rows, "w", 1.5, "doc_id")
    empty = spark.createDataFrame([], "doc_id long, w double")
    assert SP.weighted_sample(empty, "w", 0.5, "doc_id").count() == 0


# ---------------------------------------------------------------------------
# assign_token_shards (token-balanced layout)
# ---------------------------------------------------------------------------


def test_token_shards_balanced_and_deterministic(spark):
    from data_quality_analyzer_spark.plans import shards as SH

    # heavily skewed doc sizes: 10 giants + 400 small + NULL costs
    rows = (
        [(i, 5000) for i in range(10)]
        + [(100 + i, 50) for i in range(400)]
        + [(900, None), (901, None)]
    )
    df = spark.createDataFrame(rows, "doc_id long, tok int")
    out = SH.assign_token_shards(
        df, target_tokens=10000, token_col="tok", key_col="doc_id",
        seed=2, num_buckets=16,
    )
    rows1 = out.collect()
    # every input row got a shard; NULL cost rows included at cost 0
    assert len(rows1) == 412
    sums = {}
    for r in rows1:
        sums[r["shard"]] = sums.get(r["shard"], 0) + (r["tok"] or 0)
    # total = 10*5000 + 400*50 = 70000 -> shards 0..6
    assert set(sums) == set(range(7))
    # every shard but the last reaches the target despite skew: a giant
    # can overshoot the boundary it lands on, but the NEXT shard starts
    # at the running position, so per-shard sums stay within one giant
    # of the target
    for sh, s in sums.items():
        if sh != max(sums):
            assert s >= 10000 - 5000 and s <= 10000 + 5000
    # determinism across partitionings
    out2 = SH.assign_token_shards(
        df.repartition(17), target_tokens=10000, token_col="tok",
        key_col="doc_id", seed=2, num_buckets=16,
    )
    assert sorted((r["doc_id"], r["shard"]) for r in out2.collect()) == \
        sorted((r["doc_id"], r["shard"]) for r in rows1)
    # num_buckets is PART of the permutation definition (order is
    # (bucket, h, key)) — changing it legitimately reshapes shards, so
    # reproducibility contracts must pin it alongside the seed
    out3 = SH.assign_token_shards(
        df, target_tokens=10000, token_col="tok", key_col="doc_id",
        seed=2, num_buckets=4,
    )
    assert {r["doc_id"] for r in out3.collect()} == {
        r["doc_id"] for r in rows1
    }
    import pytest as _pt

    with _pt.raises(ValueError, match="target_tokens"):
        SH.assign_token_shards(df, 0, "tok", "doc_id")


def test_split_corpus_partition_properties(spark):
    """Splits are disjoint+exhaustive, partitioning-invariant, and
    consistent with deterministic_sample at the same seed (a row is in
    'train' iff the 0.8-fraction sampler would keep it)."""
    from data_quality_analyzer_spark.operators import sampling as SP

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = SP.split_corpus(df, splits, "doc_id", seed=9)
    rows = out.collect()
    assert len(rows) == 500
    by_split: dict[str, set] = {}
    for r in rows:
        by_split.setdefault(r["split"], set()).add(r["doc_id"])
    assert set(by_split) <= {"train", "val", "test"}
    assert sum(len(v) for v in by_split.values()) == 500  # exhaustive
    # consistency with the plain sampler
    sampled = {
        r["doc_id"]
        for r in SP.deterministic_sample(df, 0.8, "doc_id", seed=9).collect()
    }
    assert sampled == by_split["train"]
    # partitioning invariance
    again = {
        (r["doc_id"], r["split"])
        for r in SP.split_corpus(
            df.repartition(13), splits, "doc_id", seed=9
        ).collect()
    }
    assert again == {(r["doc_id"], r["split"]) for r in rows}


def test_split_corpus_contracts(spark):
    from data_quality_analyzer_spark.operators import sampling as SP

    df = spark.range(3).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="sum to 1"):
        SP.split_corpus(df, {"a": 0.5, "b": 0.2}, "doc_id")
    with pytest.raises(ValueError, match="empty"):
        SP.split_corpus(df, {}, "doc_id")
    with pytest.raises(ValueError, match="quote"):
        SP.split_corpus(df, {"a'b": 1.0}, "doc_id")
    # negative seeds must work (regression: f"__u_{seed}" parsed as
    # `__u_ - 1` inside the CASE expression)
    got = SP.split_corpus(df, {"a": 0.5, "b": 0.5}, "doc_id", seed=-1)
    assert got.count() == 3


def test_bucket_batches_properties(spark):
    """Every full batch has exactly batch_size rows, leftovers = total
    mod B per group, assignment is partitioning-invariant, and the
    two-phase plan equals a driver-side global-permutation replay."""
    import hashlib

    from data_quality_analyzer_spark.plans.shards import bucket_batches

    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3]) for i in range(200)],
        "doc_id long, grp string",
    )
    out = bucket_batches(df, 7, ("grp",), "doc_id", seed=2, num_buckets=16)
    rows = out.collect()
    sizes: dict[tuple, int] = {}
    totals: dict[str, int] = {}
    for r in rows:
        sizes[(r["grp"], r["batch_idx"])] = (
            sizes.get((r["grp"], r["batch_idx"]), 0) + 1
        )
        totals[r["grp"]] = totals.get(r["grp"], 0) + 1
    for (g, b), n in sizes.items():
        full = b < totals[g] // 7
        assert n == 7 if full else n == totals[g] % 7, (g, b, n)
    leftovers = {g: t % 7 for g, t in totals.items()}
    got_left = {}
    for r in rows:
        if not r["in_full_batch"]:
            got_left[r["grp"]] = got_left.get(r["grp"], 0) + 1
    assert got_left == {g: v for g, v in leftovers.items() if v}

    # python replay of the pinned permutation (sub, h, key) per group
    denom = 1_000_000
    def h60(key):
        return int(hashlib.md5(f"2:{key}".encode()).hexdigest()[:15], 16) % denom
    want = {}
    for g in totals:
        ids = [i for i in range(200) if ["a", "b", "c"][i % 3] == g]
        perm = sorted(ids, key=lambda i: (h60(i) % 16, h60(i), i))
        for p, i in enumerate(perm):
            want[i] = (g, p // 7)
    got = {r["doc_id"]: (r["grp"], r["batch_idx"]) for r in rows}
    assert got == want

    again = {
        r["doc_id"]: (r["grp"], r["batch_idx"])
        for r in bucket_batches(
            df.repartition(11), 7, ("grp",), "doc_id", seed=2, num_buckets=16
        ).collect()
    }
    assert again == got


def test_bucket_batches_contracts(spark):
    import pytest as _pytest

    from data_quality_analyzer_spark.plans.shards import bucket_batches

    df = spark.range(3).withColumnRenamed("id", "doc_id")
    with _pytest.raises(ValueError, match="batch_size"):
        bucket_batches(df, 0, (), "doc_id")
    with _pytest.raises(ValueError, match="num_buckets"):
        bucket_batches(df, 4, (), "doc_id", num_buckets=0)


def test_bucket_batches_null_groups_stay_distinct(spark):
    """NULL group values must not merge distinct groups (concat_ws skips
    NULL args; the operator encodes them as a sentinel)."""
    from data_quality_analyzer_spark.plans.shards import bucket_batches

    df = spark.createDataFrame(
        [(i, "a" if i < 40 else None, None if i < 40 else "a")
         for i in range(80)],
        "doc_id long, g1 string, g2 string",
    )
    out = bucket_batches(df, 8, ("g1", "g2"), "doc_id", seed=1, num_buckets=8)
    per_group: dict[tuple, list] = {}
    for r in out.collect():
        per_group.setdefault((r["g1"], r["g2"]), []).append(r["batch_idx"])
    assert set(per_group) == {("a", None), (None, "a")}
    for ids in per_group.values():  # each group numbered independently 0..4
        assert sorted(set(ids)) == [0, 1, 2, 3, 4]
        assert sum(1 for b in ids if b < 5) == 40


def test_plan_mixture_hand_computed(spark):
    from data_quality_analyzer_spark.operators import sampling as SP

    rows = [("a", 100)] * 10 + [("b", 10)] * 10 + [("zz", 7)] * 3
    df = spark.createDataFrame(rows, "lang string, tok long")
    out = {
        r["lang"]: r
        for r in SP.plan_mixture(
            df, {"a": 1, "b": 1}, "lang", F.col("tok")
        ).collect()
    }
    # avail: a=1000, b=100; P=2; caps a=2000, b=200 → N*=200
    assert out["a"]["avail_tokens"] == 1000 and out["b"]["avail_tokens"] == 100
    assert out["a"]["selected_tokens"] == 100
    assert out["b"]["selected_tokens"] == 100
    assert not out["a"]["is_binding"] and out["b"]["is_binding"]
    assert out["a"]["fraction_ppm"] == 100_000
    assert out["b"]["fraction_ppm"] == 1_000_000
    # stratum outside the mixture: loud zeros
    assert out["zz"]["parts"] == 0
    assert out["zz"]["selected_tokens"] == 0
    assert out["zz"]["fraction_ppm"] == 0
    assert out["zz"]["is_binding"] is False
    # a parts stratum with NO corpus rows makes the ratio infeasible:
    # it must appear (avail 0, binding) and drive EVERY selection to 0
    empty = {
        r["lang"]: r
        for r in SP.plan_mixture(
            df, {"a": 1, "b": 1, "ghost": 1}, "lang", F.col("tok")
        ).collect()
    }
    assert empty["ghost"]["avail_tokens"] == 0
    assert empty["ghost"]["is_binding"]
    assert all(empty[s]["selected_tokens"] == 0 for s in ("a", "b", "ghost"))


def test_plan_mixture_contracts(spark):
    import pytest as _pytest

    from data_quality_analyzer_spark.operators import sampling as SP

    df = spark.createDataFrame([("a", 5)], "lang string, tok long")
    with _pytest.raises(ValueError, match="empty"):
        SP.plan_mixture(df, {}, "lang", F.col("tok"))
    with _pytest.raises(ValueError, match="positive int"):
        SP.plan_mixture(df, {"a": 0}, "lang", F.col("tok"))
    with _pytest.raises(ValueError, match="positive int"):
        SP.plan_mixture(df, {"a": 1.5}, "lang", F.col("tok"))


def test_plan_mixture_composes_with_sampler(spark):
    """Feeding plan_mixture's fraction_ppm into stratified_sample
    realizes the target ratio (within hash-sampling noise) and never
    overdraws a stratum — the end-to-end mixture construction path."""
    from data_quality_analyzer_spark.operators import sampling as SP

    rows = (
        [(i, "en", 10) for i in range(4000)]
        + [(i + 10_000, "de", 10) for i in range(1000)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string, tok long")
    plan = {
        r["lang"]: r
        for r in SP.plan_mixture(
            df, {"en": 1, "de": 1}, "lang", F.col("tok")
        ).collect()
    }
    # de binds (10k tokens): selected 10k tokens per side
    assert plan["de"]["is_binding"]
    fr = {s: plan[s]["fraction_ppm"] / 1_000_000 for s in ("en", "de")}
    assert fr["de"] == 1.0 and abs(fr["en"] - 0.25) < 0.001
    sampled = SP.stratified_sample(df, fr, "lang", "doc_id", seed=4)
    got = {
        r["lang"]: r["n"]
        for r in sampled.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert got["de"] == 1000                     # fraction 1.0 is exact
    assert abs(got["en"] - 1000) < 120           # hash noise ~±3σ


def test_split_on_cluster_key_prevents_holdout_leak(spark):
    """The split_corpus docstring's warning, demonstrated: splitting on
    the raw doc id can put near-duplicates on opposite sides of the
    train/test fence, while splitting on the dedup CLUSTER id never
    does."""
    from pyspark.sql import functions as F

    from data_quality_analyzer_spark.operators import dedup as DD
    from data_quality_analyzer_spark.operators import sampling as SP

    fa = 0x123456789ABCDEF0
    # 60 clusters of 2 near-dup docs each (fps differ by 1 bit)
    rows = []
    for c in range(60):
        base_fp = fa ^ (c << 8)
        rows.append((2 * c, base_fp, c))
        rows.append((2 * c + 1, base_fp ^ 1, c))
    df = spark.createDataFrame(rows, "doc_id long, fp long, cluster long")
    pairs = DD.fingerprint_near_duplicates(df, "fp", "doc_id", max_hamming=3)
    labels = DD.connected_components(pairs)
    with_label = df.join(labels, df.doc_id == labels.node, "left").withColumn(
        "label", F.coalesce("label", "doc_id")
    )
    splits = {"train": 0.5, "test": 0.5}

    def leaks(key):
        s = SP.split_corpus(with_label, splits, key, seed=11)
        sides = s.groupBy("cluster").agg(
            F.countDistinct("split").alias("k")
        )
        return sides.filter(F.col("k") > 1).count()

    assert leaks("doc_id") > 0      # the hazard is real
    assert leaks("label") == 0      # keyed on the cluster: no leak


def test_sample_exact_k_properties(spark):
    """Global form returns exactly k rows, plans as a bounded top-k (no
    global sort materialization), matches a python bottom-k replay, and
    is partitioning-invariant; stratified form caps per stratum."""
    import hashlib

    from data_quality_analyzer_spark.operators import sampling as SP

    df = spark.createDataFrame(
        [(i, ["a", "b"][i % 2]) for i in range(300)],
        "doc_id long, lang string",
    )
    got = sorted(
        r["doc_id"] for r in SP.sample_exact_k(df, 25, "doc_id", seed=3).collect()
    )
    assert len(got) == 25

    def h(i):
        # RAW 60-bit hash — the sampler deliberately does NOT quantize
        return int(hashlib.md5(f"3:{i}".encode()).hexdigest()[:15], 16)

    want = sorted(sorted(range(300), key=lambda i: (h(i), i))[:25])
    assert got == want
    again = sorted(
        r["doc_id"]
        for r in SP.sample_exact_k(df.repartition(7), 25, "doc_id", seed=3).collect()
    )
    assert again == got
    plan = (
        SP.sample_exact_k(df, 25, "doc_id", seed=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan, plan

    strat = SP.sample_exact_k(df, 10, "doc_id", seed=3, strata_col="lang")
    counts = {r["lang"]: r["n"] for r in strat.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts == {"a": 10, "b": 10}
    # k above stratum size: whole stratum, exactly once
    small = SP.sample_exact_k(
        df.filter("doc_id < 6"), 10, "doc_id", seed=3, strata_col="lang"
    )
    assert small.count() == 6
