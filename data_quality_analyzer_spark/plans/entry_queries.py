"""Query registry: every SURVEY.md §2 operator shape, Spark-first, with a
semantically identical DuckDB oracle twin.

Each entry is ``name -> (builder(spark, sf_dir) -> DataFrame, oracle_sql)``.
The driver runs both at sf=0.01 and compares row-count + schema +
order-insensitive value hash, so:

* every computed column is aliased identically on both sides;
* float aggregates are made bit-deterministic: money-like sums go through
  ``DECIMAL(18,2)`` (exact, order-independent) and are cast back to double;
  genuinely floating results (stddev, ratios, cosines) are rounded to 4-6
  decimals on both sides — far below either engine's ulp drift;
* every LIMIT query carries a total tie-break ordering.

SURVEY §2 operator IDs are cited per query (e.g. A6 = hash group-by
multi-aggregate, ``payer_analysis.py:17-77``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import hashing as HH
from ..functions import scrub as SC
from ..functions import text as TX
from ..operators import dedup as DD
from ..operators import rules as RU
from ..operators import similarity as SIM
from ..sources.catalog import read_table, table_files, table_path

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLE: dict[str, str] = {}


def _register(name: str, sql):
    """``sql`` may be the DuckDB string, None (rows-only check), or a
    zero-arg callable rendered lazily on first ``oracle_sql()`` — used
    when building the string is expensive (q51 trains the quality model
    to embed its weight literal; importers that never touch the oracle
    should not pay that at import time)."""

    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if sql is not None:
            _ORACLE[name] = sql
        return fn

    return deco


def _table_bytes(sf_dir: str, name: str) -> int:
    """On-disk size of a table, or 'huge' when it cannot be cheaply
    stat'ed (remote filesystem) — callers treat unknown as big."""
    files = table_files(table_path(sf_dir, name))
    return 1 << 60 if files is None else sum(size for _, size, _ in files)


def _spread(spark: SparkSession, sf_dir: str, name: str, *cols) -> DataFrame:
    """The single owner of the input-spread decision: every heavy
    per-row builder reads its catalog input through here, and no builder
    repartitions on its own.

    The table is round-robin repartitioned to the session parallelism
    WHEN the scan itself cannot reach it (small single-row-group files:
    one parquet row group = one scan task no matter how many cores are
    idle — guide §2.5 input skew).  Scale-adaptive: a table already big
    enough to scan wide (>= parallelism x 128 MB split size) passes
    through untouched, so on a production cluster this is a no-op and
    the payload is never shuffled.  ``cols`` projects before the
    exchange (guide §2.3: shuffle only the columns the stage needs);
    filters may follow the call, as Catalyst pushes them below the
    exchange."""
    df = read_table(spark, sf_dir, name)
    if cols:
        df = df.select(*cols)
    par = spark.sparkContext.defaultParallelism
    if _table_bytes(sf_dir, name) < par * 128 * 1024 * 1024:
        df = df.repartition(par)
    return df


def _dsum(col, alias: str):
    """Order-independent exact sum of a 2-decimal money column → double."""
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double").alias(alias)


# ---------------------------------------------------------------------------
# Relational core (TPC-H-ish) — the generic aggregation layer that backs the
# reference's ~60 checks (SURVEY §2.4).
# ---------------------------------------------------------------------------


@_register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01(spark, sf_dir):
    """A6+A8 hash group-by multi-aggregate (payer_analysis.py:17-77 shape) —
    TPC-H Q1 over lineitem; one scan, partial aggregation map-side."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity", "sum_qty"),
            _dsum("l_extendedprice", "sum_base_price"),
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_qty"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@_register(
    "q02_filtered_count",
    """
    SELECT COUNT(*) AS n_open,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount
    FROM orders
    WHERE o_orderstatus IN ('O', 'P') AND o_totalprice BETWEEN 1000 AND 200000
    """,
)
def q02(spark, sf_dir):
    """P1+P2+P3+A2 equality/membership/range filter + filtered count
    (claim_analysis.py:14-35, count_documents shape)."""
    o = read_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("O", "P")
        & F.col("o_totalprice").between(1000, 200000)
    ).agg(F.count("*").alias("n_open"), _dsum("o_totalprice", "total_amount"))


@_register(
    "q03_conditional_agg",
    """
    SELECT o_orderpriority,
           COUNT(*) AS total_orders,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
           CAST(SUM(CASE WHEN o_orderstatus = 'F'
                         THEN CAST(o_totalprice AS DECIMAL(18,2))
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS finished_amount,
           ROUND(CASE WHEN SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) > 0
                 THEN CAST(SUM(CASE WHEN o_orderstatus = 'F'
                               THEN CAST(o_totalprice AS DECIMAL(18,2))
                               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                      / SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                 ELSE 0.0 END, 6) AS avg_finished_amount
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q03(spark, sf_dir):
    """A7 conditional aggregates + F3 safe-divide (payer_analysis.py:26-74:
    $cond count/sum then avg_denied_amount with divide-by-zero guard)."""
    o = read_table(spark, sf_dir, "orders")
    fin = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    fin_amt = F.sum(
        F.when(
            F.col("o_orderstatus") == "F", F.col("o_totalprice").cast("decimal(18,2)")
        ).otherwise(F.lit(0).cast("decimal(18,2)"))
    ).cast("double")
    n_fin = F.sum(fin)
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("total_orders"),
        n_fin.alias("n_finished"),
        fin_amt.alias("finished_amount"),
        F.round(
            F.when(n_fin > 0, fin_amt / n_fin).otherwise(F.lit(0.0)), 6
        ).alias("avg_finished_amount"),
    )


@_register(
    "q04_global_stats",
    """
    SELECT COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS mean,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price,
           ROUND(STDDEV_POP(l_extendedprice), 4) AS std_price
    FROM lineitem
    """,
)
def q04(spark, sf_dir):
    """A8+A9 global aggregate block incl. stddev_pop
    (chargespattern_analysis.py:31-58, generate_stats_collection.py:143-187)."""
    li = read_table(spark, sf_dir, "lineitem")
    s = F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
    return li.agg(
        F.count("*").alias("n"),
        s.alias("total"),
        F.round(s / F.count("*"), 6).alias("mean"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.round(F.stddev_pop("l_extendedprice"), 4).alias("std_price"),
    )


@_register(
    "q05_distinct_values",
    "SELECT DISTINCT c_mktsegment AS segment FROM customer",
)
def q05(spark, sf_dir):
    """A4 distinct values (payer_analysis.py:9-10 distinct('payerMCO'))."""
    return (
        read_table(spark, sf_dir, "customer")
        .select(F.col("c_mktsegment").alias("segment"))
        .distinct()
    )


@_register(
    "q06_distinct_count",
    """
    SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q06(spark, sf_dir):
    """A5 distinct count via group ($group _id:$code → $count,
    diagnosis_analysis.py:197-213)."""
    return (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
        )
    )


@_register(
    "q07_topk_revenue",
    """
    SELECT p_brand,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    ORDER BY revenue DESC, p_brand
    LIMIT 10
    """,
)
def q07(spark, sf_dir):
    """T1+T2 sort+limit top-k over a J2 broadcast equi-join
    (cpt_code_analysis.py:100-114 top revenue CPTs; stats join shape)."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("p_brand"))
        .limit(10)
    )


@_register(
    "q08_rank_assignment",
    """
    SELECT p_type, n_items,
           ROW_NUMBER() OVER (ORDER BY n_items DESC, p_type) AS rnk
    FROM (SELECT p_type, COUNT(*) AS n_items FROM part GROUP BY p_type)
    QUALIFY rnk <= 15
    """,
)
def q08(spark, sf_dir):
    """T4 rank assignment (cpt_code_analysis.py:39-48 enumerate→rank) as a
    window row_number with total tie-break."""
    counts = read_table(spark, sf_dir, "part").groupBy("p_type").agg(
        F.count("*").alias("n_items")
    )
    w = Window.orderBy(F.desc("n_items"), F.asc("p_type"))
    return counts.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 15
    )


@_register(
    "q09_rare_codes",
    """
    SELECT p_brand AS code, COUNT(*) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand HAVING COUNT(*) <= 200
    """,
)
def q09(spark, sf_dir):
    """T5 threshold slice — 'rare codes' with usage ≤ k
    (cpt_code_analysis.py:50-60)."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("code"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") <= 200)
    )


_BUCKETS = ((0, 50000), (50000, 100000), (100000, 200000), (200000, 300000))


def _bucket_label_spark(c):
    expr = F.when(F.col(c) < 0, F.lit("negative"))
    for lo, hi in _BUCKETS:
        expr = expr.when(
            (F.col(c) >= lo) & (F.col(c) < hi), F.lit(f"[{lo},{hi})")
        )
    return expr.otherwise(F.lit(f"[{_BUCKETS[-1][1]},inf)"))


def _bucket_label_sql(c: str) -> str:
    parts = [f"WHEN {c} < 0 THEN 'negative'"]
    for lo, hi in _BUCKETS:
        parts.append(f"WHEN {c} >= {lo} AND {c} < {hi} THEN '[{lo},{hi})'")
    return (
        "CASE "
        + " ".join(parts)
        + f" ELSE '[{_BUCKETS[-1][1]},inf)' END"
    )


@_register(
    "q10_histogram",
    f"""
    SELECT {_bucket_label_sql('o_totalprice')} AS bucket, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS amount
    FROM orders GROUP BY bucket
    """,
)
def q10(spark, sf_dir):
    """A16 bucketed histogram — the reference runs 6 scans, one per charge
    range (chargespattern_analysis.py:60-97); here ONE pass with half-open
    buckets (SURVEY §1.3 quirk 2: gapped [0,500],[501,1000] → [lo,hi))."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.withColumn("bucket", _bucket_label_spark("o_totalprice"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), _dsum("o_totalprice", "amount"))
    )


@_register(
    "q11_duplicate_rows",
    """
    SELECT COALESCE(CAST(SUM(cnt) AS BIGINT), 0) AS duplicate_rows,
           COUNT(*) AS duplicate_groups
    FROM (SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem
          GROUP BY l_orderkey HAVING COUNT(*) > 1)
    """,
)
def q11(spark, sf_dir):
    """A12 re-aggregation duplicates — Σ(count) over groups with count>1,
    counting ROWS not groups (claim_analysis.py:225-247, SURVEY quirk 5)."""
    li = read_table(spark, sf_dir, "lineitem")
    groups = li.groupBy("l_orderkey").agg(F.count("*").alias("cnt")).filter(
        F.col("cnt") > 1
    )
    return groups.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("duplicate_rows"),
        F.count("*").alias("duplicate_groups"),
    )


@_register(
    "q12_coverage_semi_join",
    """
    SELECT CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT) AS covered,
           COUNT(*) AS total,
           ROUND(CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*) * 100, 6) AS coverage_pct
    FROM (SELECT DISTINCT l_partkey,
                 l_partkey IN (SELECT p_partkey FROM part) AS covered
          FROM lineitem)
    """,
)
def q12(spark, sf_dir):
    """J1 set-coverage semi/anti join — |stats ∩ claims| / |claims| CPT
    coverage (charge_analysis_checks.py:666-699) as ONE distributed plan:
    distinct keys, broadcast left join marker, conditional count."""
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey").distinct()
    p = (
        read_table(spark, sf_dir, "part")
        .select("p_partkey")
        .distinct()
        .withColumn("m", F.lit(1))
    )
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left")
    covered = F.sum(F.when(F.col("m").isNotNull(), 1).otherwise(0)).cast("long")
    total = F.count("*")
    return joined.agg(
        covered.alias("covered"),
        total.alias("total"),
        F.round(covered.cast("double") / total * 100, 6).alias("coverage_pct"),
    )


@_register(
    "q13_anti_join",
    """
    SELECT COUNT(*) AS n_customers_without_orders
    FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def q13(spark, sf_dir):
    """J1 anti-join — the uncovered set (charge_analysis_checks.py:666-699)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").select("o_custkey")
    n = c.join(o, c.c_custkey == o.o_custkey, "left_anti").agg(
        F.count("*").alias("n_customers_without_orders")
    )
    return n


@_register(
    "q14_multi_join",
    """
    SELECT r_name,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q14(spark, sf_dir):
    """J2 multi-way equi-join with broadcast dims (Catalyst join reordering;
    the stats-join-back shape of generate_stats_collection.py:143-148)."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n_orders"), _dsum("o_totalprice", "revenue"))
    )


@_register(
    "q15_quality_bands",
    """
    SELECT event_type,
           CAST(SUM(CASE WHEN value >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS high_quality,
           CAST(SUM(CASE WHEN value >= 10 AND value < 100 THEN 1 ELSE 0 END) AS BIGINT) AS medium_quality,
           CAST(SUM(CASE WHEN value < 10 THEN 1 ELSE 0 END) AS BIGINT) AS low_quality
    FROM events GROUP BY event_type
    """,
)
def q15(spark, sf_dir):
    """A15 per-group quality bands (generate_stats_collection.py:278-306:
    record_count ≥10 / 3-9 / <3 quality histogram) in ONE pass."""
    e = read_table(spark, sf_dir, "events")
    v = F.col("value")
    return e.groupBy("event_type").agg(
        F.sum(F.when(v >= 100, 1).otherwise(0)).alias("high_quality"),
        F.sum(F.when((v >= 10) & (v < 100), 1).otherwise(0)).alias("medium_quality"),
        F.sum(F.when(v < 10, 1).otherwise(0)).alias("low_quality"),
    )


@_register(
    "q16_bottom_k",
    """
    SELECT c_custkey, c_acctbal FROM customer
    ORDER BY c_acctbal ASC, c_custkey ASC LIMIT 10
    """,
)
def q16(spark, sf_dir):
    """T3 bottom-10 slice (payer_analysis.py:124 payer_table[-10:]) done as
    an ascending TakeOrderedAndProject, never a driver-side slice."""
    return (
        read_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_acctbal")
        .orderBy(F.asc("c_acctbal"), F.asc("c_custkey"))
        .limit(10)
    )


@_register(
    "q17_events_daily",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_value
    FROM events GROUP BY day
    """,
)
def q17(spark, sf_dir):
    """F10 date bucketing + A6 (events daily rollup; date_format shapes of
    shared/utils.py:50-51)."""
    e = read_table(spark, sf_dir, "events")
    s = F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
    return (
        e.withColumn("day", F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd"))
        .groupBy("day")
        .agg(
            F.count("*").alias("n_events"),
            F.round(s / F.count("*"), 6).alias("avg_value"),
        )
    )


@_register(
    "q18_staleness",
    """
    SELECT strftime(MAX(ts), '%Y-%m-%d') AS latest,
           CAST(datediff('day', CAST(MAX(ts) AS DATE), DATE '2026-01-01') AS INTEGER) AS days_stale,
           datediff('day', CAST(MAX(ts) AS DATE), DATE '2026-01-01') > 30 AS is_stale
    FROM events
    """,
)
def q18(spark, sf_dir):
    """S8 point lookup max-by + F11 staleness gate
    (charge_analysis_checks.py:813-846: find_one(sort last_updated desc),
    datediff > threshold). Fixed anchor date keeps the test deterministic."""
    e = read_table(spark, sf_dir, "events")
    latest = F.max("ts").cast("date")
    days = F.datediff(F.lit("2026-01-01").cast("date"), latest)
    return e.agg(
        F.date_format(F.max("ts"), "yyyy-MM-dd").alias("latest"),
        days.alias("days_stale"),
        (days > 30).alias("is_stale"),
    )


@_register(
    "q19_first_per_group",
    """
    SELECT ROUND(CAST(SUM(CAST(first_price AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6)
             AS avg_first_price,
           COUNT(*) AS n_orders
    FROM (
      SELECT l_orderkey, l_extendedprice AS first_price,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
               ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """,
)
def q19(spark, sf_dir):
    """A10 $first within group (claim_analysis.py:196-205) made deterministic
    via a lexicographic struct-min AGGREGATE: min(struct(tie-break cols)) ≡
    the row_number()=1 window but runs as a hash aggregate with map-side
    partial aggregation — one shuffle of pre-aggregated groups instead of a
    full sort of every row within partitions (the round-1 window form)."""
    li = read_table(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in the test data — the full
    # tie-break makes $first deterministic on both engines.
    firsts = (
        li.groupBy("l_orderkey")
        .agg(
            F.min(
                F.struct("l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice")
            ).alias("m")
        )
        .select(F.col("m.l_extendedprice").alias("first_price"))
    )
    s = F.sum(F.col("first_price").cast("decimal(18,2)")).cast("double")
    return firsts.agg(
        F.round(s / F.count("*"), 6).alias("avg_first_price"),
        F.count("*").alias("n_orders"),
    )


@_register(
    "q20_grouping_sets",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def q20(spark, sf_dir):
    """Per-dimension + global metrics in one pass via GROUPING SETS — the
    rebuild's generalization of the reference's separate per-dimension
    queries (SURVEY §2.4 note)."""
    li = read_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


# ---------------------------------------------------------------------------
# Text-analysis / quality-filter layer over `documents` — the flagship
# pipeline's caption-side rules (north_rule) expressed with full SQL oracles.
# ---------------------------------------------------------------------------


@_register(
    "q21_lang_histogram",
    "SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang",
)
def q21(spark, sf_dir):
    """A14 group-count distribution — the langid histogram metric
    (cpt_code_analysis.py:11-32 shape; north-star langid histogram)."""
    return read_table(spark, sf_dir, "documents").groupBy("lang").agg(
        F.count("*").alias("n")
    )


@_register(
    "q22_token_stats",
    f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(AVG({TX.n_tokens_sql('text')}), 6) AS avg_tokens,
           ROUND(AVG({TX.symbol_ratio_sql('text')}), 6) AS avg_symbol_ratio,
           ROUND(AVG({TX.distinct_token_ratio_sql('text')}), 6) AS avg_distinct_ratio
    FROM documents GROUP BY lang
    """,
)
def q22(spark, sf_dir):
    """Token counting + quality scoring aggregates (north-star text
    analysis; A6 shape). All heuristics are JVM column expressions."""
    d = _spread(spark, sf_dir, "documents", "lang", "text")
    c = F.col("text")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(TX.n_tokens(c)), 6).alias("avg_tokens"),
        F.round(F.avg(TX.symbol_ratio(c)), 6).alias("avg_symbol_ratio"),
        F.round(F.avg(TX.distinct_token_ratio(c)), 6).alias("avg_distinct_ratio"),
    )


def _keep_counts_by_lang(d: DataFrame) -> DataFrame:
    """Per-language document, keep and drop counts (q23, flagship)."""
    keep = F.coalesce(RU.keep_verdict(F.col("text")), F.lit(False))
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_keep"),
        F.sum(F.when(keep, 0).otherwise(1)).cast("long").alias("n_drop"),
    )


@_register(
    "q23_quality_verdict",
    f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN {RU.keep_verdict_sql('text')} THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           CAST(SUM(CASE WHEN {RU.keep_verdict_sql('text')} THEN 0 ELSE 1 END) AS BIGINT) AS n_drop
    FROM documents GROUP BY lang
    """,
)
def q23(spark, sf_dir):
    """The keep/drop verdict aggregate — Gopher/C4 heuristic conjunction
    (F14 _validate_stats shape, additional_charge_checks.py:840-868)."""
    return _keep_counts_by_lang(
        _spread(spark, sf_dir, "documents", "lang", "text")
    )


@_register(
    "q24_pii_scrub",
    f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN {SC.pii_flag_sql('text', 'email')} THEN 1 ELSE 0 END) AS BIGINT) AS n_email,
           CAST(SUM(CASE WHEN {SC.pii_flag_sql('text', 'ssn')} THEN 1 ELSE 0 END) AS BIGINT) AS n_ssn,
           CAST(SUM(CASE WHEN {SC.pii_flag_sql('text', 'phone')} THEN 1 ELSE 0 END) AS BIGINT) AS n_phone,
           CAST(SUM(CASE WHEN {SC.scrub_sql('text')} <> text THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
           bit_xor({HH.h60_sql(SC.scrub_sql('text'))}) AS scrub_checksum
    FROM documents GROUP BY source
    """,
)
def q24(spark, sf_dir):
    """North-star PII scrub as native regexp_replace (JVM codegen, zero
    Python); per-source hit counts + order-independent XOR checksum of the
    scrubbed text proves byte-exact scrubbing."""
    d = _spread(spark, sf_dir, "documents", "source", "text")
    c = F.col("text")
    scrubbed = SC.scrub(c)
    flags = SC.pii_flags(c)
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(flags["has_email"], 1).otherwise(0)).cast("long").alias("n_email"),
        F.sum(F.when(flags["has_ssn"], 1).otherwise(0)).cast("long").alias("n_ssn"),
        F.sum(F.when(flags["has_phone"], 1).otherwise(0)).cast("long").alias("n_phone"),
        F.sum(F.when(scrubbed != c, 1).otherwise(0)).cast("long").alias("n_changed"),
        F.bit_xor(HH.h60(scrubbed)).alias("scrub_checksum"),
    )


@_register(
    "q25_exact_dedup",
    """
    SELECT COALESCE(CAST(SUM(cnt) AS BIGINT), 0) AS duplicate_rows,
           COUNT(*) AS duplicate_groups,
           COALESCE(CAST(SUM(cnt - 1) AS BIGINT), 0) AS removable_rows
    FROM (SELECT md5(text) AS fp, COUNT(*) AS cnt FROM documents
          WHERE text IS NOT NULL GROUP BY fp HAVING COUNT(*) > 1)
    """,
)
def q25(spark, sf_dir):
    """Exact deduplication by content fingerprint (hash-groupBy) — quirk-5
    row-counting semantics (claim_analysis.py:225-247): Σcount over groups
    with count>1, plus the removable surplus."""
    d = read_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    groups = (
        d.groupBy(F.md5("text").alias("fp"))
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 1)
    )
    return groups.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("duplicate_rows"),
        F.count("*").alias("duplicate_groups"),
        F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).cast("long").alias("removable_rows"),
    )


_K_43 = 5
_POLY_SEEDS_43 = 8


def _q43_oracle() -> str:
    mins = ", ".join(
        f"list_min(list_transform(hs, h -> {HH.mix_sql('h', s)})) AS mh{s}"
        for s in range(_POLY_SEEDS_43)
    )
    return f"""
    WITH cp AS (
      SELECT doc_id, length(text) AS n,
             list_transform(range(1, length(text) + 1),
                            i -> unicode(substr(text, i, 1))) AS cps
      FROM documents WHERE text IS NOT NULL AND length(text) >= {_K_43}
    )
    SELECT doc_id, {mins}
    FROM (SELECT doc_id,
                 list_transform(range(1, n - {_K_43 - 1} + 1),
                                i -> {HH.poly60_duck_sql(_K_43)}) AS hs
          FROM cp)
    """


def _minhash_signatures(spark, sf_dir):
    """``doc_id, mh0..mh7`` over 5-char shingles through the production
    signature kernel (dedup.minhash_signature_poly_udf): polynomial
    shingle hash by two int64 matmuls over the codepoint window matrix
    (functions/hashing.py:poly60_np) plus the affine per-seed mixes.
    Map-only: no explode, no shuffle.  The DuckDB oracle
    (:func:`_q43_oracle`) computes the identical hash in plain BIGINT
    arithmetic (poly60_duck_sql), so agreement is exact."""
    d = _spread(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") >= _K_43)
    )
    d = d.withColumn(
        "_sig", DD.minhash_signature_poly_udf(_POLY_SEEDS_43, _K_43)(F.col("text"))
    )
    cols = [F.col("doc_id")]
    for s in range(_POLY_SEEDS_43):
        cols.append(F.element_at("_sig", s + 1).alias(f"mh{s}"))
    return d.select(*cols)


@_register("q26_minhash_signatures", _q43_oracle)
def q26(spark, sf_dir):
    """MinHash signatures over 5-char shingles: the same signature as
    q43 (:func:`_minhash_signatures`), kept under its catalog name."""
    return _minhash_signatures(spark, sf_dir)


def _simhash_oracle_ctes() -> str:
    """DuckDB twin of dedup.simhash_udf as the CTEs ``toks, h, bits, sh``
    over a ``base(doc_id, text)`` CTE the caller defines; ``sh(doc_id,
    fp)`` holds the fingerprints.  Same tokens (``TX.ws_split_sql`` of
    ``lower(text)``: a blank text folds to one '' token, as in the
    kernel), same token hash (hashing.poly60_token_duck_sql), same
    bit-vote fold."""
    return f"""
    toks AS (
      SELECT doc_id,
             unnest({TX.ws_split_sql('lower(text)')}) AS t
      FROM base
    ),
    h AS (
      SELECT doc_id, {HH.poly60_token_duck_sql('t')} AS hv FROM toks
    ),
    bits AS (
      SELECT doc_id, j, SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM h, range({DD.SIMHASH_BITS}) r(j) GROUP BY doc_id, j
    ),
    sh AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER)) ELSE 0 END) AS BIGINT) AS fp
      FROM bits GROUP BY doc_id
    )"""


@_register(
    "q27_simhash",
    f"""
    WITH base AS (
      SELECT doc_id, text FROM documents
      WHERE NOT {TX.is_blank_sql('text')}
    ),{_simhash_oracle_ctes()}
    SELECT doc_id, fp AS simhash FROM sh
    """,
)
def q27(spark, sf_dir):
    """SimHash (60-bit) document fingerprint for near-dup detection, via
    the Arrow-batched numpy bit-vote fold over the polynomial token
    family (operators/dedup.py:simhash_udf) — the fingerprint q38 bands.
    Integer arithmetic ⇒ exact agreement with the oracle's unnest+group
    formulation (:func:`_simhash_oracle_ctes`)."""
    d = _spread(spark, sf_dir, "documents").filter(
        ~TX.is_blank(F.col("text"))
    )
    return d.select("doc_id", DD.simhash_udf()(F.col("text")).alias("simhash"))


_BOW_SQL = (
    "array_to_string(list_sort(list_distinct("
    + TX.tokens_sql("lower(text)")
    + ")), ' ')"
)


@_register(
    "q28_ngram_fingerprint",
    f"""
    SELECT doc_id,
           {HH.h60_sql("substr(text, 1, 64)")} AS prefix_fp,
           CAST({TX.n_tokens_sql("text")} AS BIGINT) AS n_tokens,
           {HH.h60_sql(_BOW_SQL)} AS bow_fp
    FROM documents WHERE text IS NOT NULL
    """,
)
def q28(spark, sf_dir):
    """Document fingerprinting: prefix hash + sorted bag-of-words hash
    (rolling-hash analogue; n-gram Jaccard prefilter for dedup)."""
    d = _spread(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = TX.tokens(F.col("text"))
    toks_l = TX.tokens(F.lower(F.col("text")))
    bow = F.array_join(F.array_sort(F.array_distinct(toks_l)), " ")
    return d.select(
        "doc_id",
        HH.h60(F.substring("text", 1, 64)).alias("prefix_fp"),
        F.size(toks).cast("long").alias("n_tokens"),
        HH.h60(bow).alias("bow_fp"),
    )

# ---------------------------------------------------------------------------
# Similarity search over `embeddings` (array<float> column) — ANN layer.
# ---------------------------------------------------------------------------


def _dot_sql(a: str, b: str) -> str:
    """Sequential-fold dot product in double (deterministic order)."""
    return (
        f"list_sum(list_transform({a}, (x, i) -> "
        f"CAST(x AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _cos_sql(a: str, b: str) -> str:
    return f"ROUND({_dot_sql(a, b)} / sqrt({_dot_sql(a, a)}) / sqrt({_dot_sql(b, b)}), 6)"


@_register(
    "q29_knn_bruteforce",
    f"""
    SELECT e.vec_id, {_cos_sql("e.embedding", "q.embedding")} AS cos_sim
    FROM embeddings e
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id ASC
    LIMIT 10
    """,
)
def q29(spark, sf_dir):
    """Brute-force cosine top-k ANN baseline: broadcast the query vector,
    score every row with a JVM higher-order-function dot product (no Python,
    no shuffle except the final top-k), TakeOrderedAndProject for the k."""
    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    return SIM.knn_bruteforce(e.filter(F.col("vec_id") != 0), q, k=10)


@_register(
    "q30_ann_lsh_bucket",
    f"""
    SELECT e.vec_id, {SIM.lsh_bucket_duck_sql("e.embedding", 8)} AS bucket,
           {_cos_sql("e.embedding", "q.embedding")} AS cos_sim
    FROM embeddings e
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    WHERE e.vec_id <> 0
      AND {SIM.lsh_bucket_duck_sql("e.embedding", 8)} = {SIM.lsh_bucket_duck_sql("q.embedding", 8)}
    ORDER BY cos_sim DESC, e.vec_id ASC
    LIMIT 5
    """,
)
def q30(spark, sf_dir):
    """LSH-bucketed ANN scale path: sign-bit bucket (8 hyperplane signs) is
    a partition-prunable key — at 100 TB the bucket column is a partition
    key and only ~1/256 of the data is scanned; here the broadcast
    bucket equi-join expresses the same pruning."""
    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    return SIM.knn_lsh(e.filter(F.col("vec_id") != 0), q, k=5, bits=8)


@_register(
    "q31_array_predicates",
    """
    SELECT CAST(SUM(CASE WHEN len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0.4)) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_has_large,
           CAST(SUM(CASE WHEN len(list_filter(embedding,
                         x -> NOT (CAST(x AS DOUBLE) BETWEEN -0.45 AND 0.45))) = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_all_bounded,
           COUNT(*) AS total
    FROM embeddings
    """,
)
def q31(spark, sf_dir):
    """P8 array-element existential + P9 negated-existential predicates
    ($elemMatch / $nor, charge_analysis_checks.py:410-422,
    diagnosis_analysis.py:31-36) via higher-order exists/forall — no
    explode."""
    e = read_table(spark, sf_dir, "embeddings")
    has_large = F.exists("embedding", lambda x: x.cast("double") > 0.4)
    all_bounded = F.forall(
        "embedding", lambda x: x.cast("double").between(-0.45, 0.45)
    )
    return e.agg(
        F.sum(F.when(has_large, 1).otherwise(0)).cast("long").alias("n_has_large"),
        F.sum(F.when(all_bounded, 1).otherwise(0)).cast("long").alias("n_all_bounded"),
        F.count("*").alias("total"),
    )


@_register(
    "q32_explode_stats",
    """
    SELECT label,
           COUNT(*) AS n_elems,
           ROUND(AVG(CAST(x AS DOUBLE)), 5) AS mean_elem,
           ROUND(MIN(CAST(x AS DOUBLE)), 6) AS min_elem,
           ROUND(MAX(CAST(x AS DOUBLE)), 6) AS max_elem,
           ROUND(STDDEV_POP(CAST(x AS DOUBLE)), 5) AS std_elem
    FROM (SELECT label, unnest(embedding) AS x FROM embeddings)
    GROUP BY label
    """,
)
def q32(spark, sf_dir):
    """P15 unnest/$unwind + A9 full stats block per group
    (generate_stats_collection.py:120-187: unwind→group→mean/min/max/
    stddev_pop) — explode then one-pass aggregate, no collect_list."""
    e = read_table(spark, sf_dir, "embeddings")
    x = F.col("x").cast("double")
    return (
        e.select("label", F.explode("embedding").alias("x"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_elems"),
            F.round(F.avg(x), 5).alias("mean_elem"),
            F.round(F.min(x), 6).alias("min_elem"),
            F.round(F.max(x), 6).alias("max_elem"),
            F.round(F.stddev_pop(x), 5).alias("std_elem"),
        )
    )


# ---------------------------------------------------------------------------
# Metrics / readiness layer (the reference's check+score semantics).
# ---------------------------------------------------------------------------


@_register(
    "q33_rule_metrics",
    RU.rule_metrics_sql("documents", "text"),
)
def q33(spark, sf_dir):
    """The fused rule-metrics pass: every registry rule evaluated as a
    conditional aggregate in ONE scan (vs the reference's ~60 sequential
    count_documents calls, main.py:20-25; SURVEY §4.2)."""
    return RU.rule_metrics(_spread(spark, sf_dir, "documents", "text"), "text")


@_register(
    "q34_readiness_score",
    f"""
    WITH m AS ({RU.rule_metrics_sql("documents", "text")}),
    w AS (
      SELECT CASE WHEN fail_count > 0 THEN
               CASE severity WHEN 'critical' THEN 0.4 WHEN 'high' THEN 0.3
                             WHEN 'medium' THEN 0.2 WHEN 'low' THEN 0.1
                             ELSE 0.2 END
             ELSE 0.2 END AS w,
             CASE WHEN fail_count = 0 THEN 0.2 ELSE 0.0 END AS pw
      FROM m)
    SELECT ROUND(SUM(pw) / SUM(w) * 100, 4) AS score,
           CASE WHEN ROUND(SUM(pw) / SUM(w) * 100, 4) >= 80 THEN 'Ready'
                WHEN ROUND(SUM(pw) / SUM(w) * 100, 4) >= 50 THEN 'Partial'
                ELSE 'Not Ready' END AS status
    FROM w
    """,
)
def q34(spark, sf_dir):
    """Severity-weighted readiness score + band (base_standalone.py:300-376:
    failed→severity weight, passed→0.2, ≥80 Ready / ≥50 Partial)."""
    metrics = RU.rule_metrics(
        _spread(spark, sf_dir, "documents", "text"), "text"
    )
    return RU.readiness_score(metrics)


@_register(
    "q35_stats_materialization",
    """
    SELECT lang, source,
           COUNT(*) AS record_count,
           ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS avg_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars,
           ROUND(STDDEV_POP(n_chars), 4) AS std_chars
    FROM documents GROUP BY lang, source
    """,
)
def q35(spark, sf_dir):
    """EP3 materialized stats table (generate_stats_collection.py:120-197:
    group by composite key → mean/min/max/stddev_pop + record_count) —
    direct partial+final aggregation, no $push/collect_list intermediate."""
    d = read_table(spark, sf_dir, "documents")
    s = F.sum("n_chars").cast("double")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("record_count"),
        F.round(s / F.count("*"), 6).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.round(F.stddev_pop("n_chars"), 4).alias("std_chars"),
    )


@_register(
    "q36_doc_verdicts",
    f"""
    SELECT doc_id,
           {RU.keep_verdict_sql('text')} AS keep,
           CAST({TX.n_tokens_sql('text')} AS BIGINT) AS n_tokens,
           ROUND({TX.symbol_ratio_sql('text')}, 6) AS symbol_ratio,
           md5({SC.scrub_sql('text')}) AS scrub_fp
    FROM documents
    """,
)
def q36(spark, sf_dir):
    """Per-record verdict + scrubbed-caption fingerprint — the strongest
    oracle check: row-level equality of the whole filter+scrub surface."""
    d = _spread(spark, sf_dir, "documents", "doc_id", "text")
    c = F.col("text")
    return d.select(
        "doc_id",
        RU.keep_verdict(c).alias("keep"),
        TX.n_tokens(c).cast("long").alias("n_tokens"),
        F.round(TX.symbol_ratio(c), 6).alias("symbol_ratio"),
        F.md5(SC.scrub(c)).alias("scrub_fp"),
    )


# ---------------------------------------------------------------------------
# End-to-end near-dup pipelines (LSH → verify) and the random-projection ANN.
# The sf tables carry no planted near-dups, so both engines derive the SAME
# deterministic twin rows inside the query (suffix-perturbed / exact copies)
# — the pipelines then have real work to find.
# ---------------------------------------------------------------------------

_NUM_HASHES_37 = 16
_BANDS_37 = 4
_RPB_37 = _NUM_HASHES_37 // _BANDS_37
# Shingle size is the candidate-volume dial (see lsh_candidate_pairs):
# with the template corpus's shared vocabulary, 5-char shingles give
# unrelated documents a background Jaccard high enough that 4-minhash
# bands collide toward all-pairs (measured at sf0.1: k=5 → 5.4M candidate
# pairs, k=9 → 240k, k=20 → 1.2k — with the verified ≥0.8 output set
# essentially unchanged), while the suffix-perturbed twins stay at
# jaccard ≈ 0.93.  k=20 keeps the verification stage proportional to the
# true near-dup population.
_K_37 = 20


def _near_dup_cte() -> str:
    """Shared DuckDB CTE chain of the MinHash-LSH near-dup pipeline
    (ends at `jac`: verified candidate pairs with exact Jaccard) — q37
    selects the pairs, q44 stacks a recursive connected-components CTE on
    top."""
    mins = ", ".join(
        f"list_min(list_transform(hs, h -> {HH.mix_sql('h', s)}))"
        for s in range(_NUM_HASHES_37)
    )
    # polynomial shingle-hash family (hashing.poly60_duck_sql) — the exact
    # DuckDB twin of the production numpy fast path the Spark side runs
    # (dedup.minhash_signature_poly_udf): codepoint list built once per
    # document, then each k-window hashed with plain BIGINT arithmetic.
    shingles = (
        f"list_distinct(list_transform(range(1, length({{c}}) - {_K_37 - 2}), "
        f"i -> substr({{c}}, i, {_K_37})))"
    )
    return f"""
    base AS (
      SELECT doc_id, text FROM documents
      WHERE text IS NOT NULL AND length(text) >= {_K_37}
      UNION ALL
      SELECT doc_id + 1000000, text || ' near dup twin' FROM documents
      WHERE text IS NOT NULL AND length(text) >= {_K_37} AND doc_id % 20 = 0
    ),
    cp AS (
      SELECT doc_id, text, length(text) AS n,
             list_transform(range(1, length(text) + 1),
                            i -> unicode(substr(text, i, 1))) AS cps
      FROM base
    ),
    sig AS (
      SELECT doc_id, text, [{mins}] AS sig
      FROM (SELECT doc_id, text,
                   list_transform(range(1, n - {_K_37 - 1} + 1),
                                  i -> {HH.poly60_duck_sql(_K_37)}) AS hs
            FROM cp)
    ),
    bandrows AS (
      SELECT doc_id, text, r.b AS band,
             list_slice(sig, r.b * {_RPB_37} + 1, r.b * {_RPB_37} + {_RPB_37}) AS bs
      FROM sig, range({_BANDS_37}) r(b)
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                      x.text AS text_a, y.text AS text_b
      FROM bandrows x JOIN bandrows y
        ON x.band = y.band AND x.bs = y.bs AND x.doc_id < y.doc_id
    ),
    jac AS (
      SELECT id_a, id_b,
             CAST(len(list_intersect(sa, sb)) AS DOUBLE)
               / len(list_distinct(list_concat(sa, sb))) AS j
      FROM (SELECT id_a, id_b,
                   {shingles.format(c='text_a')} AS sa,
                   {shingles.format(c='text_b')} AS sb
            FROM cand)
    )
    """


def _q37_oracle() -> str:
    return (
        "WITH "
        + _near_dup_cte()
        + "SELECT id_a, id_b, ROUND(j, 6) AS jaccard FROM jac WHERE j >= 0.8"
    )


# Connected components of the oracles' undirected ``pairs(id_a, id_b)``
# relation (q44, q45, q48, q80; the query must open WITH RECURSIVE): the
# recursive CTE computes full reachability, then each node's label is the
# minimum reachable id — the textbook SQL form of the min-label clustering
# dedup.connected_components computes.  Plain SQL, no engine code.
_COMPONENTS_CTE = """edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    nodes AS (SELECT DISTINCT s AS node FROM edges),
    reach(node, r) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.node
    ),
    labels AS (SELECT node, MIN(r) AS label FROM reach GROUP BY node)"""


def _q44_oracle() -> str:
    """Connected components over the verified near-dup pair graph
    (``_COMPONENTS_CTE``), one row per cluster."""
    return (
        "WITH RECURSIVE "
        + _near_dup_cte()
        + f"""
    , pairs AS (SELECT id_a, id_b FROM jac WHERE j >= 0.8),
    {_COMPONENTS_CTE}
    SELECT label AS cluster_id,
           COUNT(*) AS n_members,
           array_to_string(list_sort(list(node)), ',') AS members
    FROM labels GROUP BY label
    """
    )


def _q37_input(spark, sf_dir):
    """The near-dup input corpus shared by q37/q44: sf documents plus
    deterministically synthesized suffix-perturbed twins (the sf tables
    carry no planted near-dups).  Each twin is made in the same pass as
    its base row (an exploded two-slot array whose second slot is NULL
    for non-twins), so the table is scanned and spread once, not once per
    branch of a union."""
    d = _spread(spark, sf_dir, "documents", "doc_id", "text").filter(
        F.col("text").isNotNull() & (F.length("text") >= _K_37)
    )
    twin = F.when(
        F.col("doc_id") % 20 == 0,
        F.struct(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" near dup twin")).alias("text"),
        ),
    )
    rows = F.explode(F.array(F.struct("doc_id", "text"), twin)).alias("r")
    return d.select(rows).filter(F.col("r").isNotNull()).select("r.doc_id", "r.text")


@_register("q37_near_dup_pairs", _q37_oracle())
def q37(spark, sf_dir):
    """END-TO-END MinHash-LSH near-dup pipeline: signature (map-only,
    vectorized polynomial shingle hash — no per-shingle Python) → band
    explode → bucket self-join (shuffle = rows×bands, never rows²) → exact
    n-gram-Jaccard verification on the candidate set only, with the slim
    candidate-pair ids broadcast back to the texts (operators/dedup.py:
    near_duplicates).  Twin rows are synthesized deterministically so the
    pipeline has genuine near-dups to find at every SF."""
    return DD.near_duplicates(
        _q37_input(spark, sf_dir), "text", "doc_id",
        jaccard_threshold=0.8, num_hashes=_NUM_HASHES_37, bands=_BANDS_37,
        k=_K_37,
    )


@_register("q44_near_dup_clusters", _q44_oracle())
def q44(spark, sf_dir):
    """Near-dup CLUSTER RESOLUTION: the q37 pair graph collapsed to
    connected components (operators/dedup.py:connected_components).  At
    every catalog scale the verified graph is far below
    ``DRIVER_CC_MAX_EDGES``, so this runs the driver union-find path: one
    probe job collects the edges.  Graphs above that cap take the
    distributed min-label propagation with pointer jumping (DataFrame
    joins, O(log diameter) rounds, a checkpoint per round).  A pair list
    is not a dedup: A~B~C must resolve to ONE canonical doc even when
    A≁C directly; the cluster label (min id) is the keeper `dedup_near`
    retains.  Oracle: DuckDB recursive-CTE reachability."""
    pairs = DD.near_duplicates(
        _q37_input(spark, sf_dir), "text", "doc_id",
        jaccard_threshold=0.8, num_hashes=_NUM_HASHES_37, bands=_BANDS_37,
        k=_K_37,
    )
    labels = DD.connected_components(pairs)
    return labels.groupBy(F.col("label").alias("cluster_id")).agg(
        F.count("*").alias("n_members"),
        F.expr(
            "array_join(transform(sort_array(collect_list(node)), "
            "x -> cast(x AS string)), ',')"
        ).alias("members"),
    )


def _q38_oracle() -> str:

    return f"""
    WITH base AS (
      SELECT doc_id, text FROM documents
      WHERE NOT {TX.is_blank_sql('text')}
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents
      WHERE NOT {TX.is_blank_sql('text')} AND doc_id % 25 = 0
    ),
    {_simhash_oracle_ctes()},
    bandrows AS (
      SELECT doc_id, fp, r.b AS band, (fp >> (r.b * 15)) % 32768 AS bb
      FROM sh, range(4) r(b)
    ),
    pairs AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b, x.fp AS fa, y.fp AS fb
      FROM bandrows x JOIN bandrows y
        ON x.band = y.band AND x.bb = y.bb AND x.doc_id < y.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
    FROM pairs WHERE bit_count(xor(fa, fb)) <= 3
    """


@_register("q38_simhash_hamming", _q38_oracle())
def q38(spark, sf_dir):
    """Banded-Hamming SimHash near-dup search: 60-bit fingerprint split
    into 4×15-bit bands; pigeonhole guarantees any pair within Hamming
    distance 3 shares a whole band, so candidates come from an equi-join
    on (band, band_bits) — shuffle = rows×4, never all-pairs — verified by
    an exact popcount on the XOR (operators/dedup.py:
    simhash_near_duplicates).  Exact twin rows guarantee hamming-0 hits."""
    d = _spread(spark, sf_dir, "documents", "doc_id", "text").filter(
        ~TX.is_blank(F.col("text"))
    )
    twins = d.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), F.col("text")
    )
    full = d.unionByName(twins)
    out = DD.simhash_near_duplicates(
        full, "text", "doc_id", bands=4, max_hamming=3
    )
    return out.withColumn("hamming", F.col("hamming").cast("int"))


_RP_BITS = 6
_RP_DIM = 64


@_register(
    "q39_ann_rp_bucket",
    f"""
    SELECT e.vec_id, {SIM.rp_bucket_duck_sql("e.embedding", _RP_BITS, _RP_DIM)} AS bucket,
           {_cos_sql("e.embedding", "q.embedding")} AS cos_sim
    FROM embeddings e
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    WHERE e.vec_id <> 0
      AND {SIM.rp_bucket_duck_sql("e.embedding", _RP_BITS, _RP_DIM)}
        = {SIM.rp_bucket_duck_sql("q.embedding", _RP_BITS, _RP_DIM)}
    ORDER BY cos_sim DESC, e.vec_id ASC
    LIMIT 5
    """,
)
def q39(spark, sf_dir):
    """Random-hyperplane-projection ANN — the LSH family that stays valid
    for TRAINED embeddings (q30's sign-of-first-components shortcut is only
    valid for unstructured bases).  The seeded projection matrix is a plan
    literal on both engines (operators/similarity.py:rp_matrix); the bucket
    is a partition-prunable key at 100 TB, exactly like q30."""
    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    return SIM.knn_rp(
        e.filter(F.col("vec_id") != 0), q, k=5, bits=_RP_BITS, dim=_RP_DIM
    )


_IVF_K = 16


@_register(
    "q41_ann_ivf",
    f"""
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    e AS (SELECT vec_id, embedding,
                 {SIM.ivf_dists_duck_sql("embedding", _IVF_K, _RP_DIM)} AS ds
          FROM embeddings WHERE vec_id <> 0),
    qa AS (SELECT embedding,
                  {SIM.ivf_dists_duck_sql("embedding", _IVF_K, _RP_DIM)} AS qds
           FROM q)
    SELECT e.vec_id,
           CAST(list_position(e.ds, list_min(e.ds)) AS INTEGER) AS ivf_list,
           {_cos_sql("e.embedding", "qa.embedding")} AS cos_sim
    FROM e CROSS JOIN qa
    WHERE list_position(e.ds, list_min(e.ds)) = list_position(qa.qds, list_min(qa.qds))
    ORDER BY cos_sim DESC, e.vec_id ASC
    LIMIT 5
    """,
)
def q41(spark, sf_dir):
    """IVF (inverted-file) ANN — the FAISS-style coarse-quantizer family
    the task brief names alongside LSH: every vector is assigned to its
    nearest anchor (ivf_list = argmin distance over a broadcast anchor
    table, a plan literal here), the query probes nprobe lists, exact
    cosine runs inside them.  At 100 TB the table is written partitioned
    by ivf_list and a probe prunes ~(1 - nprobe/k) of the scan, exactly
    like q30/q39's LSH buckets but with data-adaptive cell shapes once the
    anchor table is swapped for trained k-means|| centroids
    (operators/similarity.py:ivf_anchors)."""
    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    return SIM.knn_ivf(
        e.filter(F.col("vec_id") != 0), q, topk=5, k=_IVF_K, dim=_RP_DIM, nprobe=1
    )


@_register(
    "q42_token_stats_bpe",
    f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM({TX.bpe_token_count_sql('text')}) AS BIGINT) AS bpe_tokens,
           CAST(SUM(CAST({TX.n_tokens_sql('text')} AS BIGINT)) AS BIGINT) AS ws_tokens,
           ROUND(CAST(SUM({TX.bpe_token_count_sql('text')}) AS DOUBLE)
             / SUM(CAST({TX.n_tokens_sql('text')} AS BIGINT)), 6) AS bpe_per_ws_token
    FROM documents WHERE text IS NOT NULL
    GROUP BY lang
    """,
)
def q42(spark, sf_dir):
    """Token counting, both ways the task brief asks for: whitespace tokens
    AND a BPE-ish subword regex (GPT-2-family pattern, lookahead-free so
    Java regex and RE2 agree).  Pure regexp_count — JVM-side, codegen, no
    UDF; the per-language bpe/ws ratio is the fertility metric training
    pipelines budget token counts with."""
    d = read_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    bpe = TX.bpe_token_count(F.col("text"))
    ws = TX.n_tokens(F.col("text")).cast("long")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(bpe).alias("bpe_tokens"),
        F.sum(ws).alias("ws_tokens"),
        F.round(
            F.sum(bpe).cast("double") / F.sum(ws), 6
        ).alias("bpe_per_ws_token"),
    )


@_register(
    "q40_payer_quality_bands",
    """
    SELECT lang AS payer,
           COUNT(*) AS total_combinations,
           CAST(SUM(CASE WHEN n >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS high_quality,
           CAST(SUM(CASE WHEN n >= 3 AND n < 10 THEN 1 ELSE 0 END) AS BIGINT) AS medium_quality,
           CAST(SUM(CASE WHEN n < 3 THEN 1 ELSE 0 END) AS BIGINT) AS low_quality,
           CAST(SUM(CASE WHEN n >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS combos_with_sufficient_stats
    FROM (SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY lang, source)
    GROUP BY lang
    """,
)
def q40(spark, sf_dir):
    """Per-payer stats-quality distribution (Check 3 step 4,
    charge_analysis_checks.py:758-806): quality bands of the materialized
    stats table GROUPED BY the payer dimension (here lang over the
    documents stats of q35) — two cascaded hash aggregations, the second on
    the strictly-smaller stats table."""
    d = read_table(spark, sf_dir, "documents")
    stats = d.groupBy("lang", "source").agg(F.count("*").alias("n"))
    n = F.col("n")
    return (
        stats.groupBy(F.col("lang").alias("payer"))
        .agg(
            F.count("*").alias("total_combinations"),
            F.sum(F.when(n >= 10, 1).otherwise(0)).cast("long").alias("high_quality"),
            F.sum(F.when((n >= 3) & (n < 10), 1).otherwise(0))
            .cast("long")
            .alias("medium_quality"),
            F.sum(F.when(n < 3, 1).otherwise(0)).cast("long").alias("low_quality"),
            F.sum(F.when(n >= 3, 1).otherwise(0))
            .cast("long")
            .alias("combos_with_sufficient_stats"),
        )
    )


def _q45_oracle() -> str:
    """The dedup ACTION's keep-set: every doc except non-canonical members
    of near-dup clusters (label = min reachable id over the verified pair
    graph)."""
    return (
        "WITH RECURSIVE "
        + _near_dup_cte()
        + f"""
    , pairs AS (SELECT id_a, id_b FROM jac WHERE j >= 0.8),
    {_COMPONENTS_CTE}
    SELECT b.doc_id FROM base b
    WHERE b.doc_id NOT IN (SELECT node FROM labels WHERE node != label)
    """
    )


@_register("q45_near_dup_dedup_action", _q45_oracle())
def q45(spark, sf_dir):
    """The near-dup dedup ACTION end-to-end (operators/dedup.py:
    dedup_near): LSH pairs → connected components → drop every
    non-canonical cluster member, keep everything else — the keep-set a
    training-data pipeline actually materializes.  Every synthesized twin
    must vanish (its cluster's canonical doc is the original) and every
    unclustered doc must survive; the oracle recomputes the keep-set with
    recursive-CTE reachability."""
    kept = DD.dedup_near(
        _q37_input(spark, sf_dir), "text", "doc_id",
        jaccard_threshold=0.8, num_hashes=_NUM_HASHES_37, bands=_BANDS_37,
        k=_K_37,
    )
    return kept.select("doc_id")


@_register("q43_minhash_poly_signatures", _q43_oracle)
def q43(spark, sf_dir):
    """MinHash signatures over 5-char shingles, the signature stage of
    MinHash+LSH near-dup detection (:func:`_minhash_signatures`)."""
    return _minhash_signatures(spark, sf_dir)


def _q46_oracle() -> str:
    fp = HH.h60_sql("text")
    return f"""
    WITH base AS (
      SELECT doc_id, {fp} AS fp FROM documents
      WHERE NOT {TX.is_blank_sql('text')}
    ),
    allrows AS (
      SELECT doc_id, fp FROM base
      UNION ALL
      SELECT doc_id + 1000000, xor(fp, 3) FROM base WHERE doc_id % 25 = 0
      UNION ALL
      SELECT doc_id + 2000000, fp FROM base WHERE doc_id % 40 = 0
    ),
    reps AS (
      SELECT fp, min(doc_id) AS rid, count(*) AS n FROM allrows GROUP BY fp
    ),
    bandrows AS (
      SELECT rid, fp, n, r.b AS band,
             (fp >> (CAST(r.b AS INTEGER) * 16)) % 65536 AS bb
      FROM reps, range(4) r(b)
    ),
    pairs AS (
      SELECT DISTINCT x.rid AS id_a, y.rid AS id_b, x.fp AS fa, y.fp AS fb,
                      x.n AS na, y.n AS nb
      FROM bandrows x JOIN bandrows y
        ON x.band = y.band AND x.bb = y.bb AND x.rid < y.rid
    )
    SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming,
           na AS n_rows_a, nb AS n_rows_b
    FROM pairs WHERE bit_count(xor(fa, fb)) <= 3
    """


@_register("q46_fingerprint_group_near_dup", _q46_oracle())
def q46(spark, sf_dir):
    """Fingerprint-GROUP near-dup search — the image-payload dedup path
    (operators/dedup.py:image_near_duplicates) proven against a DuckDB
    oracle: identical fingerprints collapse to one representative via a
    groupBy BEFORE the banded self-join (a hot fingerprint costs one hash
    aggregate, never quadratic pairs), then only DISTINCT fingerprints are
    banded (4×16-bit, pigeonhole recall for Hamming ≤ 3) and verified by
    popcount.  The fingerprint here is the portable 60-bit md5 hash of the
    text (functions/hashing.py:h60) standing in for `phash` — the operator
    is column-generic; planted twins (fp XOR 0b11 → Hamming exactly 2) and
    exact copies exercise both the pairing and the collapse."""
    base = (
        _spread(spark, sf_dir, "documents", "doc_id", "text")
        .filter(~TX.is_blank(F.col("text")))
        .select("doc_id", F.expr(HH.h60_spark_sql("text")).alias("fp"))
    )
    twins = base.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr("fp ^ 3").alias("fp"),
    )
    copies = base.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), F.col("fp")
    )
    full = base.unionByName(twins).unionByName(copies)
    out = DD.image_near_duplicates(
        full, id_col="doc_id", fp_col="fp", bands=4, max_hamming=3, bits=64
    )
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming"),
        "n_rows_a", "n_rows_b",
    )


@_register(
    "q47_embedding_near_dup",
    f"""
    WITH b AS (
      SELECT vec_id, embedding, {SIM.lsh_bucket_duck_sql("embedding", 6)} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           {_cos_sql("a.embedding", "c.embedding")} AS cos_sim
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    ORDER BY cos_sim DESC, id_a ASC, id_b ASC
    LIMIT 20
    """,
)
def q47(spark, sf_dir):
    """Embedding-cosine near-dup pair search (the brief's fifth dedup
    family): candidates restricted to the same sign-LSH bucket so the
    self-join key is `bucket` — never an all-pairs cross join — then exact
    cosine on candidates only and a global top-k
    (operators/similarity.py:pairwise_topk_within_buckets).  At 100 TB the
    table is written partitioned by `bucket`, the self-join co-locates
    partitions, and per-bucket pair volume is bounded by bucket size; the
    bits dial (6 → 64 buckets here) trades recall vs candidate volume
    exactly like the minhash band count (q37).  Mirrors the reference's
    duplicate detection intent (claim_analysis.py:225-247) on the embedding
    payload."""
    e = _spread(spark, sf_dir, "embeddings", "vec_id", "embedding")
    return SIM.pairwise_topk_within_buckets(
        e, k=20, id_col="vec_id", vec_col="embedding", bits=6
    )


def _q48_oracle() -> str:
    """Keep-set of the embedding dedup ACTION: exact-vector collapse →
    16-bit RP fingerprint → 4×4-bit banded Hamming ≤ 2 → cosine ≥ 0.995
    verify → connected components (recursive CTE) → canonical reps."""

    fp = SIM.rp_bucket_duck_sql("v", 16, 64)
    cos = _cos_sql("va", "vb")
    return f"""
    WITH RECURSIVE base AS (
      SELECT vec_id, embedding FROM embeddings
    ),
    allrows AS (
      SELECT vec_id, embedding FROM base
      UNION ALL
      SELECT vec_id + 1000000, embedding FROM base WHERE vec_id % 20 = 0
      UNION ALL
      SELECT vec_id + 2000000,
             list_transform(embedding, x -> CAST(x * CAST(1.5 AS REAL) AS REAL))
      FROM base WHERE vec_id % 30 = 0
    ),
    reps AS (
      SELECT embedding AS v, MIN(vec_id) AS rep FROM allrows GROUP BY embedding
    ),
    fps AS (SELECT rep, v, {fp} AS fp FROM reps),
    bandrows AS (
      SELECT rep, v, fp, r.b AS band,
             (fp >> (CAST(r.b AS INTEGER) * 4)) % 16 AS bb
      FROM fps, range(4) r(b)
    ),
    cands AS (
      SELECT DISTINCT x.rep AS id_a, y.rep AS id_b, x.v AS va, y.v AS vb,
                      x.fp AS fa, y.fp AS fb
      FROM bandrows x JOIN bandrows y
        ON x.band = y.band AND x.bb = y.bb AND x.rep < y.rep
    ),
    pairs AS (
      SELECT id_a, id_b FROM cands
      WHERE bit_count(xor(fa, fb)) <= 2 AND {cos} >= 0.995
    ),
    {_COMPONENTS_CTE}
    SELECT rep AS vec_id FROM reps
    WHERE rep NOT IN (SELECT node FROM labels WHERE node != label)
    """


@_register("q48_embedding_dedup_action", _q48_oracle())
def q48(spark, sf_dir):
    """Embedding near-dup dedup ACTION (keep one row per cluster) —
    completes the family symmetry: text q45, image q46, embeddings here
    (operators/similarity.py:dedup_embedding_near).  Planted cohorts
    exercise both collapse stages: bit-identical copies (vec_id%20)
    collapse in the exact-vector hash aggregate; 1.5×-scaled copies
    (vec_id%30 — same direction, different bits, cosine exactly 1.0)
    must survive to the banded-Hamming + cosine-verify path and cluster
    with their originals.  Scale shape: exact collapse is one shuffle,
    candidates are rows×bands, cosine runs on candidates only, and CC
    converges in O(log diameter) rounds over the tiny verified graph."""

    base = _spread(spark, sf_dir, "embeddings", "vec_id", "embedding")
    copies = base.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    scaled = base.filter(F.col("vec_id") % 30 == 0).select(
        (F.col("vec_id") + 2000000).alias("vec_id"),
        F.expr(
            "transform(embedding, x -> CAST(x * CAST(1.5 AS FLOAT) AS FLOAT))"
        ).alias("embedding"),
    )
    full = base.unionByName(copies).unionByName(scaled)
    kept = SIM.dedup_embedding_near(
        full, id_col="vec_id", vec_col="embedding",
        bits=16, dim=64, bands=4, max_hamming=2, min_cos=0.995,
    )
    return kept.select("vec_id")


@_register(
    "q49_decontamination",
    f"""
    WITH ev AS (
      SELECT doc_id AS eval_id,
             {TX.WS_TOKENS_DUCK.format(c='text')} AS w
      FROM documents WHERE doc_id % 101 = 7 AND text IS NOT NULL
    ),
    ev_grams AS (
      SELECT DISTINCT eval_id, g FROM (
        SELECT eval_id,
               unnest(list_transform(range(1, len(w) - 1),
                                     i -> array_to_string(w[i:i+2], ' '))) AS g
        FROM ev WHERE len(w) >= 3)
    ),
    ev_sizes AS (
      SELECT eval_id, COUNT(*) AS eval_grams FROM ev_grams GROUP BY eval_id
    ),
    dw AS (
      SELECT doc_id,
             {TX.WS_TOKENS_DUCK.format(c='text')} AS w
      FROM documents WHERE text IS NOT NULL
    ),
    doc_grams AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w) - 1),
                                     i -> array_to_string(w[i:i+2], ' '))) AS g
        FROM dw WHERE len(w) >= 3)
    ),
    ovl AS (
      SELECT d.doc_id, e.eval_id, COUNT(*) AS overlap
      FROM doc_grams d JOIN ev_grams e ON d.g = e.g
      GROUP BY d.doc_id, e.eval_id
    ),
    cont AS (
      SELECT o.doc_id, o.eval_id,
             o.overlap * 1.0 / s.eval_grams AS containment
      FROM ovl o JOIN ev_sizes s ON o.eval_id = s.eval_id
    )
    SELECT doc_id, COUNT(*) AS n_eval_hits,
           ROUND(MAX(containment), 4) AS max_containment
    FROM cont WHERE containment >= 0.8
    GROUP BY doc_id
    """,
)
def q49(spark, sf_dir):
    """Eval-set DECONTAMINATION (operators/decontam.py): drop/flag training
    documents containing benchmark text, verified by word-3-gram
    CONTAINMENT (|eval ∩ doc| / |eval| — asymmetric because eval docs are
    short and may be embedded in large documents; symmetric Jaccard would
    miss that).  The eval set here is a deterministic corpus slice
    (doc_id % 101 = 7) so both engines construct it from the same table;
    each eval doc flags at least itself (containment 1.0) and any
    near-verbatim sibling.  Reference analogue: the set-coverage anti-join
    of charge_analysis_checks.py:666-699 with a fractional-coverage
    verdict.  Scale shape: gram derivation is pure codegen (split/slice/
    xxhash64, array_distinct BEFORE explode), the eval-gram relation is
    broadcast (eval sets are MBs), the only shuffle is the overlap count
    over ledger-hit grams."""
    from ..operators import decontam as DC

    d = _spread(spark, sf_dir, "documents")
    ev = d.filter((F.col("doc_id") % 101 == 7) & F.col("text").isNotNull())
    grams = DC.eval_gram_table(ev, "text", "doc_id", n=3)
    hits = DC.contamination_hits(d, grams, "text", "doc_id", n=3)
    return (
        hits.filter(F.col("containment") >= 0.8)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_eval_hits"),
            F.round(F.max("containment"), 4).alias("max_containment"),
        )
    )


_Q50_HDR = "subscribe to our newsletter for updates today"


@_register(
    "q50_line_level_dedup",
    f"""
    WITH synth AS (
      SELECT CAST(FLOOR(doc_id / 5) AS BIGINT) AS g,
             string_agg(text, chr(10) ORDER BY doc_id) AS body
      FROM documents WHERE text IS NOT NULL GROUP BY 1
    ),
    docs AS (
      SELECT g AS doc_id, '{_Q50_HDR}' || chr(10) || body AS text FROM synth
    ),
    lines AS (
      SELECT doc_id, s.no AS line_no, s.line AS line FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(l)+1),
               i -> {{'no': i, 'line': l[i]}})) AS s
        FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM docs))
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY line
                                   ORDER BY doc_id, line_no) AS rn
      FROM lines WHERE TRIM(line) <> ''
    ),
    kept AS (
      SELECT doc_id, line_no, line FROM ranked WHERE rn = 1
      UNION ALL
      SELECT doc_id, line_no, line FROM lines WHERE TRIM(line) = ''
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text
      FROM kept GROUP BY doc_id
    )
    SELECT doc_id, len(string_split(text, chr(10))) AS n_lines,
           md5(text) AS text_md5
    FROM rebuilt WHERE TRIM(text) <> ''
    """,
)
def q50(spark, sf_dir):
    """LINE-level exact dedup, C4-style (operators/dedup.py:dedup_lines):
    boilerplate lines repeated across pages survive only at their globally
    first (doc_id, line_no) occurrence and documents are reassembled from
    surviving lines.  The fixture corpus is single-line, so both engines
    deterministically synthesize multi-line pages (5 consecutive docs per
    page, each prefixed with a shared boilerplate header) — after dedup the
    header survives exactly once, in page 0; duplicated body texts (the
    q25 exact-dup group) collapse to their first page too.  Composes the
    proven P15 explode + A10 min(struct) first-occurrence + A12 re-group
    shapes (reference ancestors: the double-unnest of
    charge_analysis_checks.py and the duplicate detection of
    claim_analysis.py:225-247, recast at line granularity); the winner
    groupBy is a map-side-combining hash agg on the line fingerprint precisely so a hot boilerplate line costs one
    combiner row per partition, never a window-sort pile-up.  The oracle
    expresses the same semantics with a ROW_NUMBER window (fine at DuckDB
    test scale; the Spark side deliberately avoids it)."""
    d = read_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    body = F.transform(
        F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
        lambda s: s["text"],
    )
    pages = (
        d.groupBy(F.floor(F.col("doc_id") / 5).alias("doc_id"))
        .agg(
            F.concat_ws(
                "\n", F.concat(F.array(F.lit(_Q50_HDR)), body)
            ).alias("text")
        )
    )
    deduped = DD.dedup_lines(pages, text_col="text", id_col="doc_id")
    return deduped.select(
        "doc_id",
        F.size(F.split("text", "\n", -1)).alias("n_lines"),
        F.md5("text").alias("text_md5"),
    )


def _q51_oracle() -> str:
    from ..functions import quality_clf as QC

    score = QC.score_duck_sql("text")
    return f"""
    WITH scored AS (
      SELECT doc_id, lang, {score} AS s FROM documents WHERE text IS NOT NULL
    )
    SELECT CAST(FLOOR(s * 10) AS INT) AS score_decile,
           COUNT(*) AS n_docs,
           ROUND(AVG(s), 4) AS avg_score,
           CAST(SUM(CASE WHEN s >= {QC.MIN_QUALITY_SCORE} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pass
    FROM scored GROUP BY 1
    """


@_register("q51_quality_classifier", _q51_oracle)
def q51(spark, sf_dir):
    """TRAINED quality classifier (functions/quality_clf.py): fastText-
    style NB linear model over hashed poly60 codepoint trigrams,
    deterministic seed training (good = embedded multilingual sentences,
    bad = synthesized gibberish/symbol-spam/keyboard-mash), scored by an
    Arrow-batched pandas UDF with broadcast numpy weights — the
    production path.  The DuckDB oracle runs a plain-SQL twin whose
    rounded weight table is embedded as a literal and whose bucket ids
    are bit-exact (the q43 poly60 recipe applied to model features), so
    the learned scores get a real value-hash check, not rows-only.
    Returns the score-decile histogram + pass counts at the pipeline's
    min_quality_score gate.  Reference ancestor: the rule-based
    completeness/validity verdicts (additional_charge_checks.py:840-868)
    upgraded from hand-written rules to a trained model."""
    from ..functions import quality_clf as QC

    d = _spread(spark, sf_dir, "documents", "doc_id", "lang", "text").filter(
        F.col("text").isNotNull()
    )
    q = QC.quality_udf(spark)
    scored = d.select("doc_id", "lang", q(F.col("text")).alias("s"))
    return scored.groupBy(
        F.floor(F.col("s") * 10).cast("int").alias("score_decile")
    ).agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("s"), 4).alias("avg_score"),
        F.sum(
            F.when(F.col("s") >= QC.MIN_QUALITY_SCORE, 1).otherwise(0)
        ).cast("long").alias("n_pass"),
    )


_Q52_MIX = {"en": 0.6, "de": 0.3, "fr": 0.25, "es": 0.1}  # zh absent → 0


def _q52_oracle() -> str:
    from ..operators import sampling as SP

    where = SP.stratified_sample_duck_sql(_Q52_MIX, "lang", "doc_id", seed=7)
    return f"""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents WHERE {where} GROUP BY lang
    """


@_register("q52_corpus_mixing", _q52_oracle())
def q52(spark, sf_dir):
    """Deterministic STRATIFIED sampling — the corpus-mixing stage
    (operators/sampling.py): per-language mixing weights applied as
    ``h60(seed || key) mod 1e6 < weight·1e6`` in one map-only filter.
    Unlike ``df.sample``/``sampleBy`` (per-partition RNG: the selected
    SET changes with partitioning, retries, and cluster size), the
    selection is a pure function of the row key — identical on reruns,
    any cluster size, and in the DuckDB oracle, which reproduces the
    exact same set (this query hash-compares it).  Strata without a
    weight (zh here) default to 0 visibly in the plan's CASE.  Reference
    ancestor: the cost-bounding sampling scan (S7,
    additional_charge_checks.py:741 `find(query).limit(100)`) upgraded
    from "any 100 docs" to a deterministic, auditable selection."""
    from ..operators import sampling as SP

    d = read_table(spark, sf_dir, "documents")
    return (
        SP.stratified_sample(d, _Q52_MIX, "lang", "doc_id", seed=7)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


_Q53_BUDGET = 100_000  # chars — lands mid-corpus at every test SF


def _q53_oracle() -> str:
    from ..operators import sampling as SP

    key = "concat('7:', CAST(doc_id AS VARCHAR))"
    h = f"({HH.h60_sql(key)}) % {SP.SAMPLE_DENOM}"
    return f"""
    WITH o AS (
      SELECT doc_id, COALESCE(n_chars, 0) AS n_chars,
             {h} AS hh, ({h}) % 1024 AS bkt FROM documents
    ),
    c AS (
      SELECT doc_id, n_chars,
             SUM(n_chars) OVER (ORDER BY bkt, hh, doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
      FROM o
    )
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           bit_xor(doc_id) AS id_checksum
    FROM c WHERE cum - n_chars < {_Q53_BUDGET}
    """


@_register("q53_token_budget_sample", _q53_oracle())
def q53(spark, sf_dir):
    """TOKEN-BUDGET sampling (operators/sampling.py:sample_token_budget):
    the smallest deterministic-hash-order prefix whose additive cost
    (chars here) reaches the budget — the "take N tokens of web text"
    mixture primitive.  Scalable two-phase plan: per-bucket token sums
    (one hash agg, num_buckets rows to the driver), full buckets pass by
    plain filter, and ONLY the single cutoff bucket pays a within-bucket
    cumulative window (corpus/num_buckets rows) — no global sort, no
    corpus-sized window state.  The oracle expresses the same selection
    as one global running sum over (bucket, hash, key) order, which is
    provably the identical set (full buckets: every prefix < budget;
    cutoff bucket: same remainder rule; later buckets: prefix ≥ budget);
    the driver hash-compares count + sum + id-XOR."""
    from ..operators import sampling as SP

    d = read_table(spark, sf_dir, "documents")
    got = SP.sample_token_budget(
        d, _Q53_BUDGET, "n_chars", "doc_id", seed=7, num_buckets=1024
    )
    return got.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.bit_xor("doc_id").alias("id_checksum"),
    )


_Q54_BUDGET = 15_000  # BPE tokens — lands mid-corpus at every test SF


def _q54_oracle() -> str:
    from ..operators import sampling as SP

    key = "concat('11:', CAST(doc_id AS VARCHAR))"
    h = f"({HH.h60_sql(key)}) % {SP.SAMPLE_DENOM}"
    tok = TX.bpe_token_count_sql("text")
    return f"""
    WITH o AS (
      SELECT doc_id, {tok} AS n_tok,
             {h} AS hh, ({h}) % 512 AS bkt FROM documents
    ),
    c AS (
      SELECT doc_id, n_tok,
             SUM(n_tok) OVER (ORDER BY bkt, hh, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM o
    )
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           bit_xor(doc_id) AS id_checksum
    FROM c WHERE cum - n_tok < {_Q54_BUDGET}
    """


@_register("q54_token_budget_bpe", _q54_oracle())
def q54(spark, sf_dir):
    """TOKEN-denominated budget sampling (round-4 VERDICT task 4): "take
    N **tokens** of web text", with tokens counted by the q42 BPE-ish
    subword regex (``TX.bpe_token_count`` — pure ``regexp_count``, JVM
    codegen).  The count column is derived ONCE upstream of the sampler —
    ``sample_token_budget`` accepts any additive cost column, so the
    budget unit is now the unit mixtures are actually specified in
    (closing the q53 gap where the budget was chars).  Same two-phase
    scalable plan as q53: per-bucket sums to the driver, plain filter for
    full buckets, a window over ONLY the cutoff bucket.  The oracle is
    the equivalent global-prefix rule over (bucket, hash, key) order with
    the identical DuckDB token count."""
    from ..operators import sampling as SP

    d = read_table(spark, sf_dir, "documents").withColumn(
        "_tok", TX.bpe_token_count(F.col("text"))
    )
    got = SP.sample_token_budget(
        d, _Q54_BUDGET, "_tok", "doc_id", seed=11, num_buckets=512
    )
    return got.agg(
        F.count("*").alias("n_docs"),
        F.sum("_tok").cast("long").alias("total_tokens"),
        F.bit_xor("doc_id").alias("id_checksum"),
    )


_Q55_BLOCKED = ("src3", "src7", "src15")


@_register(
    "q55_domain_blocklist",
    f"""
    SELECT lower(trim(source)) AS domain,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN lower(trim(source)) IN {_Q55_BLOCKED}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
           CAST(SUM(CASE WHEN lower(trim(source)) IN {_Q55_BLOCKED}
                    THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
    FROM documents GROUP BY lower(trim(source))
    """,
)
def q55(spark, sf_dir):
    """DOMAIN/SOURCE blocklist audit (operators/domains.py, round-4
    VERDICT task 5): per-domain keep/drop counts under a curated
    blocklist — the cheapest reject in the pipeline, run BEFORE any
    content analysis.  The blocklist folds into the plan as an ``isin``
    literal (pure map-side codegen, zero shuffle; DataFrame-sized lists
    go through a broadcast anti-join instead — same operator).  One hash
    aggregate produces the audit table a curator reviews before trusting
    a blocklist change.  Reference ancestor: the P2 membership filter
    (claim_analysis.py:30-35 ``$in`` over a category column)."""
    from ..operators import domains as DM

    d = read_table(spark, sf_dir, "documents")
    return DM.domain_keep_stats(d, list(_Q55_BLOCKED), "source")


def _q56_thresholds() -> dict[int, float]:
    """One gate per n from the operator's published dials (top-fraction
    for small n, duplicated-fraction for n ≥ 5) — the SINGLE source both
    the Spark query and the DuckDB oracle render from."""
    from ..operators import repetition as RP

    return {
        n: (
            RP.GOPHER_TOP_THRESHOLDS[n]
            if n < 5
            else RP.GOPHER_DUP_THRESHOLDS[n]
        )
        for n in RP.DEFAULT_NS
    }


def _q56_oracle() -> str:
    from ..operators import repetition as RP

    metrics = RP.token_ngram_metrics_duck_sql()
    arms = " ".join(
        f"WHEN {n} THEN {thr}" for n, thr in _q56_thresholds().items()
    )
    return f"""
    WITH m AS ({metrics})
    SELECT d.lang, m.n,
           COUNT(*) AS n_docs,
           ROUND(AVG(m.top_frac), 4) AS avg_top_frac,
           ROUND(AVG(m.dup_frac), 4) AS avg_dup_frac,
           CAST(SUM(CASE WHEN (CASE WHEN m.n < 5 THEN m.top_frac
                                    ELSE m.dup_frac END)
                         > (CASE m.n {arms} END)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_over_gopher
    FROM m JOIN documents d USING (doc_id)
    GROUP BY d.lang, m.n
    """


@_register("q56_gopher_repetition", _q56_oracle())
def q56(spark, sf_dir):
    """GOPHER n-gram repetition metrics (operators/repetition.py): the
    published phrase-level repetition rules — top-n-gram character
    fraction (n=2,3) and duplicated-n-gram character fraction (n=5),
    Rae et al. 2021 Table A1 thresholds — aggregated per language with
    over-threshold counts.  This is the analytics (explode + two hash
    aggregates) form; the map-only Arrow kernel twin for filter-stage
    use at 10^12 rows is ``repetition_metrics_udf`` (equality pinned in
    tests/test_repetition.py).  Complements the heuristic ``repetition``
    rule (distinct-token ratio), which phrase loops evade.  Reference
    ancestor: the duplicate re-aggregation quirk (A12) upgraded from
    exact rows to phrase statistics."""
    from ..operators import repetition as RP

    d = _spread(spark, sf_dir, "documents", "doc_id", "lang", "text")
    # lang rides through the metric aggregations as a group key — no
    # corpus-to-corpus join at any scale
    m = RP.token_ngram_metrics(d, carry_cols=("lang",))
    gate = F.when(F.col("n") < 5, F.col("top_frac")).otherwise(
        F.col("dup_frac")
    )
    thr = None
    for n, t in _q56_thresholds().items():
        thr = (
            F.when(F.col("n") == n, F.lit(t))
            if thr is None
            else thr.when(F.col("n") == n, F.lit(t))
        )
    return (
        m.groupBy("lang", "n")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("top_frac"), 4).alias("avg_top_frac"),
            F.round(F.avg("dup_frac"), 4).alias("avg_dup_frac"),
            F.sum(F.when(gate > thr, 1).otherwise(0))
            .cast("long")
            .alias("n_over_gopher"),
        )
    )


def _q57_cand_sql() -> str:
    """DuckDB twin of the deterministic candidate derivation in q57."""
    digits18 = (
        "lpad(CAST((doc_id * 7919 + 11) % 1000000000000000000 AS VARCHAR),"
        " 18, '0')"
    )
    return (
        f"substr({digits18}, 1, CAST(12 + doc_id % 7 AS INTEGER))"
        " || CAST(doc_id % 10 AS VARCHAR)"
    )


def _q57_oracle() -> str:
    valid = SC.luhn_valid_sql(_q57_cand_sql())
    return f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN {valid} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_luhn_valid,
           ROUND(CAST(SUM(CASE WHEN {valid} THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS pct_valid,
           bit_xor(CASE WHEN {valid} THEN doc_id ELSE 0 END) AS id_checksum
    FROM documents GROUP BY source
    """


@_register("q57_luhn_card_audit", _q57_oracle)
def q57(spark, sf_dir):
    """LUHN credit-card validation kernel (functions/scrub.py
    ``luhn_valid``): a bare 13-19-digit regex false-positives on order
    numbers and timestamps, so the scrubber validates candidates with the
    Luhn check digit before redacting (``scrub_cc``).  The checksum is
    PURE whole-stage codegen — ``reverse`` + ``sequence`` + one
    ``aggregate`` HOF, zero UDF/explode — i.e. O(len) per row entirely
    JVM-side, which is the 10^12-row shape.  The synthetic corpus carries
    no digit runs (planted-text extraction is pinned in
    tests/test_text_rules.py), so the oracle drives the kernel over a
    DERIVED 13-19-digit candidate per doc (varying length AND check
    digit; both engines derive it with identical integer arithmetic) and
    value-hashes the per-source valid/invalid split.  Reference ancestor:
    U1 row validator (additional_charge_checks.py) as one boolean
    column."""
    d = _spread(spark, sf_dir, "documents")
    digits18 = F.lpad(
        ((F.col("doc_id") * 7919 + 11) % F.lit(10**18)).cast("string"),
        18,
        "0",
    )
    cand = F.concat(
        digits18.substr(F.lit(1), (F.lit(12) + F.col("doc_id") % 7).cast("int")),
        (F.col("doc_id") % 10).cast("string"),
    )
    valid = SC.luhn_valid(cand)
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(valid, 1).otherwise(0)).cast("long").alias("n_luhn_valid"),
        F.round(
            F.sum(F.when(valid, 1).otherwise(0)) / F.count("*"), 4
        ).alias("pct_valid"),
        F.bit_xor(F.when(valid, F.col("doc_id")).otherwise(0)).alias(
            "id_checksum"
        ),
    )


# 24 words incl. the stopword 'the', so the line passes the short/long and
# stopword gates and is dropped by the BOILERPLATE rule specifically.
_Q58_HDR = (
    "please subscribe to the newsletter so that the site can keep sending "
    "the latest updates and announcements about the data products we "
    "publish here"
)


def _q58_oracle() -> str:
    from ..operators import lines as LN

    def n_where(reason: str) -> str:
        return (
            f"CAST(len([x FOR x IN l IF {LN.line_flag_sql('x', reason)}]) "
            f"AS BIGINT) AS lines_{reason}"
        )

    kept = f"list_filter(l, x -> {LN.line_flag_sql('x', 'keep')})"
    return f"""
    WITH synth AS (
      SELECT CAST(FLOOR(doc_id / 5) AS BIGINT) AS g,
             string_agg(text, chr(10) ORDER BY doc_id) AS body
      FROM documents WHERE text IS NOT NULL GROUP BY 1
    ),
    pages AS (
      SELECT g AS page_id,
             string_split('{_Q58_HDR}' || chr(10) || body, chr(10)) AS l
      FROM synth
    )
    SELECT page_id,
           CAST(len(l) AS BIGINT) AS lines_in,
           CAST(len({kept}) AS BIGINT) AS lines_kept,
           {n_where('short')},
           {n_where('long')},
           {n_where('no_stopword')},
           {n_where('boilerplate')},
           CASE WHEN len({kept}) > 0
                THEN md5(array_to_string({kept}, chr(10))) END AS text_md5
    FROM pages
    """


@_register("q58_line_quality_filter", _q58_oracle)
def q58(spark, sf_dir):
    """C4-style LINE-QUALITY filter (operators/lines.py): drop
    boilerplate/junk lines inside a document — word-count bounds,
    stopword evidence, blacklist regex — and rebuild the document from
    survivors, attributing every dropped line to its first-failing rule.
    Unlike line DEDUP (q50: global groupBy state), line QUALITY is a
    per-document decision, so the operator is MAP-ONLY: split + HOF
    filter + array_join, zero explode, zero shuffle — the only exchange
    in this query is the page-synthesis groupBy both engines share
    (the fixture corpus is single-line, so pages are synthesized exactly
    as in q50, with a 24-word subscribe header that the BOILERPLATE rule
    — not the short rule — must catch).  Reference ancestor: F14
    validity conjunction per line; C4 §2.2 Raffel et al. 2020."""
    from ..operators import lines as LN

    d = read_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    body = F.transform(
        F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
        lambda s: s["text"],
    )
    pages = d.groupBy(F.floor(F.col("doc_id") / 5).alias("page_id")).agg(
        F.concat_ws("\n", F.concat(F.array(F.lit(_Q58_HDR)), body)).alias(
            "text"
        )
    )
    out = LN.filter_lines(pages, "text", out_col="clean")
    return out.select(
        "page_id",
        "lines_in",
        "lines_kept",
        "lines_short",
        "lines_long",
        "lines_no_stopword",
        "lines_boilerplate",
        F.md5("clean").alias("text_md5"),
    )


def _q59_oracle() -> str:
    from ..operators import domains as DM

    return DM.domain_reputation_sql(
        "documents", RU.keep_verdict_sql("text"), "source"
    )


@_register("q59_domain_reputation", _q59_oracle)
def q59(spark, sf_dir):
    """DOMAIN REPUTATION prior (operators/domains.py:domain_reputation):
    per-domain keep-rate under the heuristic verdict, Bayesian-shrunk
    toward the corpus-global rate (Beta-binomial posterior mean, K=20
    pseudo-docs) so tiny domains cannot earn extreme reputations from
    luck.  This is the source-quality TIER feed for the q55 blocklist's
    allow mode — the cheapest next-crawl reject after the literal list.
    Plan: ONE corpus scan + hash aggregate; the global rate re-aggregates
    the tiny per-domain frame and broadcast-cross-joins back (single
    row — no second corpus pass, no window over the corpus).  Reference
    ancestor: A15 quality bands (payer_analysis.py) on the domain axis."""
    from ..operators import domains as DM

    d = _spread(spark, sf_dir, "documents", "source", "text")
    return DM.domain_reputation(d, RU.keep_verdict(F.col("text")), "source")


def _q60_oracle() -> str:
    from ..operators import images as IM

    w, h, nb = (
        "(16 + (doc_id * 37) % 1200)",
        "(16 + (doc_id * 61) % 1200)",
        "(n_chars * 211 + doc_id % 7919)",
    )
    fmt = (
        "CASE doc_id % 4 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' "
        "WHEN 2 THEN 'ppm' ELSE 'gif' END"
    )

    def n_where(reason: str) -> str:
        return (
            f"CAST(SUM(CASE WHEN {IM.metadata_flag_sql(w, h, nb, reason)} "
            f"THEN 1 ELSE 0 END) AS BIGINT) AS n_{reason}"
        )

    keep = IM.metadata_flag_sql(w, h, nb, "keep")
    reasons = ",\n           ".join(n_where(r) for r in IM.META_REASONS)
    return f"""
    SELECT {fmt} AS fmt,
           COUNT(*) AS n_images,
           CAST(SUM(CASE WHEN {keep} THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           {reasons},
           bit_xor(CASE WHEN {keep} THEN doc_id ELSE 0 END) AS id_checksum
    FROM documents GROUP BY 1
    """


@_register("q60_image_metadata_gate", _q60_oracle)
def q60(spark, sf_dir):
    """IMAGE METADATA gate (operators/images.py:metadata_gate): the
    cheapest image reject — min-side / max-side / extreme-aspect /
    bytes-per-pixel plausibility decided from catalog columns (w, h,
    fmt, len(bytes)) BEFORE any byte reaches the decode UDF, exactly the
    pre-download filter class DataComp/LAION run.  Pure codegen
    comparisons, first-fail reason attribution for the funnel.  The
    oracle views have no image table (the real gate runs on the seed
    corpus in tests/test_multimodal.py and prep_corpus), so both engines
    derive (w, h, fmt, n_bytes) from doc_id/n_chars with identical
    integer arithmetic — per the BASELINE.json input-table hint — and
    value-hash per-format keep/reason counts.  Reference ancestor: the
    S7 sampled stats validator (additional_charge_checks.py:758) as a
    full-corpus metadata rule."""
    from ..operators import images as IM

    d = read_table(spark, sf_dir, "documents")
    w = F.lit(16) + (F.col("doc_id") * 37) % 1200
    h = F.lit(16) + (F.col("doc_id") * 61) % 1200
    nb = F.col("n_chars") * 211 + F.col("doc_id") % 7919
    fmt = (
        F.when(F.col("doc_id") % 4 == 0, "jpeg")
        .when(F.col("doc_id") % 4 == 1, "png")
        .when(F.col("doc_id") % 4 == 2, "ppm")
        .otherwise("gif")
    )
    flags = IM.metadata_flags(w, h, nb)
    aggs = [
        F.count("*").alias("n_images"),
        F.sum(F.when(flags["keep"], 1).otherwise(0)).cast("long").alias("n_keep"),
    ]
    aggs += [
        F.sum(F.when(flags[r], 1).otherwise(0)).cast("long").alias(f"n_{r}")
        for r in IM.META_REASONS
    ]
    aggs.append(
        F.bit_xor(F.when(flags["keep"], F.col("doc_id")).otherwise(0)).alias(
            "id_checksum"
        )
    )
    return d.groupBy(fmt.alias("fmt")).agg(*aggs)


def _q61_oracle() -> str:
    from ..operators import domains as DM

    page = "CAST(FLOOR(doc_id / 4) AS VARCHAR)"
    url = f"""
    CASE doc_id % 4
      WHEN 0 THEN 'https://' || source || '.example.com/Page/' || {page}
      WHEN 1 THEN 'HTTP://WWW.' || source || '.EXAMPLE.COM/Page/' || {page} || '/'
      WHEN 2 THEN 'https://' || source || '.example.com:443/Page/' || {page}
                  || '?utm_source=feed&utm_campaign=x#frag'
      ELSE 'https://' || source || '.example.com/Page/' || {page}
                  || '?ref=tw&id=7&b=1'
    END
    """
    canon = DM.canonicalize_url_sql(f"({url})")
    return f"""
    WITH c AS (
      SELECT source, doc_id, {canon} AS canonical FROM documents
    )
    SELECT source,
           COUNT(*) AS n_urls,
           CAST(COUNT(DISTINCT canonical) AS BIGINT) AS n_canonical,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           bit_xor(CASE WHEN rn = 1 THEN doc_id ELSE 0 END) AS id_checksum
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY canonical
                                   ORDER BY doc_id) AS rn
      FROM c
    ) GROUP BY source
    """


@_register("q61_url_canonical_dedup", _q61_oracle)
def q61(spark, sf_dir):
    """URL CANONICALIZATION + canonical-URL dedup (operators/domains.py:
    canonicalize_url): the FIRST dedup key of a crawl pipeline — collapse
    refetches whose URLs differ only in scheme, host case, default port,
    www., trailing slash, tracking params (utm_*/gclid/fbclid/ref/...),
    parameter order, or fragment — long before any content fingerprint.
    Canonicalization is pure string/array codegen (regex decompose + HOF
    filter + array_sort + concat, zero UDF); the winner-per-canonical is
    the A10 ``min(struct)`` hash agg (map-side combining — a hot URL
    costs one combiner row per partition, never a window pile-up; the
    oracle states the same rule as ROW_NUMBER, fine at DuckDB scale).
    The corpus has no URL column, so both engines derive four planted
    variants per page from (source, doc_id) with identical string
    arithmetic: variants 0-2 canonicalize identically (scheme/case/port/
    slash/utm differences only), variant 3 keeps real params — 2
    canonical URLs per page group of 4.  Reference ancestor: A4 distinct
    + A10 first-per-group (claim_analysis.py) on the canonical-URL axis."""
    from ..operators import domains as DM

    d = read_table(spark, sf_dir, "documents")
    page = F.floor(F.col("doc_id") / 4).cast("string")
    m = F.col("doc_id") % 4
    url = (
        F.when(m == 0, F.concat(F.lit("https://"), F.col("source"),
                                F.lit(".example.com/Page/"), page))
        .when(m == 1, F.concat(F.lit("HTTP://WWW."), F.col("source"),
                               F.lit(".EXAMPLE.COM/Page/"), page, F.lit("/")))
        .when(m == 2, F.concat(F.lit("https://"), F.col("source"),
                               F.lit(".example.com:443/Page/"), page,
                               F.lit("?utm_source=feed&utm_campaign=x#frag")))
        .otherwise(F.concat(F.lit("https://"), F.col("source"),
                            F.lit(".example.com/Page/"), page,
                            F.lit("?ref=tw&id=7&b=1")))
    )
    c = d.select("source", "doc_id", DM.canonicalize_url(url).alias("canonical"))
    # the min(struct) winners ARE the kept rows — no join back to the
    # corpus (a kept-set join would broadcast a corpus-sized relation)
    winners = (
        c.groupBy("canonical")
        .agg(F.min(F.struct("doc_id", "source")).alias("w"))
        .select(F.col("w.doc_id").alias("doc_id"), F.col("w.source").alias("source"))
    )
    per_all = c.groupBy("source").agg(
        F.count("*").alias("n_urls"),
        F.countDistinct("canonical").alias("n_canonical"),
    )
    per_kept = winners.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.bit_xor("doc_id").alias("id_checksum"),
    )
    # both sides are domain-cardinality relations (tiny); broadcast
    return per_all.join(F.broadcast(per_kept), "source", "left").select(
        "source",
        "n_urls",
        "n_canonical",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("id_checksum", F.lit(0)).alias("id_checksum"),
    )


def _q62_oracle() -> str:
    from ..operators import sampling as SP

    w = SP.dsir_weights_duck_sql(
        "documents", RU.keep_verdict_sql("text"), "text", "doc_id"
    )
    return f"""
    WITH w AS ({w})
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(COUNT(w.w) AS BIGINT) AS n_scored,
           COALESCE(CAST(SUM(CAST(w.w AS DECIMAL(18,4))) AS DOUBLE), 0.0)
             AS sum_w,
           CAST(SUM(CASE WHEN w.w > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_target_like,
           bit_xor(CASE WHEN w.w > 0 THEN d.doc_id ELSE 0 END) AS id_checksum
    FROM documents d LEFT JOIN w ON d.doc_id = w._id
    GROUP BY d.source
    """


@_register("q62_dsir_importance", _q62_oracle)
def q62(spark, sf_dir):
    """DSIR IMPORTANCE WEIGHTING (operators/sampling.py:dsir_weights —
    Xie et al. 2023): score every raw document by how target-like its
    hashed-unigram distribution is (mean log p_target/p_raw over 512 h60
    buckets, Laplace-smoothed), the standard upgrade from binary
    keep/drop filtering to *importance-resampled* mixture building.  The
    target exemplar set here is "docs the q36 heuristic keeps" — i.e.
    the learned re-weighting is bootstrapped from the rule verdict, the
    same self-distillation loop as the q51 classifier.  Plan: pass 1 is
    one explode + ONE hash aggregate over a key space of 512 buckets
    (partial-agg friendly; 512 rows to the driver — a dial, not
    data-sized); pass 2 is MAP-ONLY — the bucket→ratio table rides in as
    a literal map and each doc folds its token array through HOF
    transform+aggregate (zero join, zero UDF, zero shuffle on the
    corpus-sized side), then one per-source hash agg for the report.
    Both engines sum the 6 dp ratios as DECIMAL(28,6) (exact,
    order-independent) before the one double division, so the 4 dp
    weights are bit-portable.  Reference ancestor: S7 sampling scan
    (additional_charge_checks.py:741) upgraded from uniform to
    importance-weighted selection."""
    from ..operators import sampling as SP

    d = _spread(spark, sf_dir, "documents")
    w = SP.dsir_weights(d, RU.keep_verdict(F.col("text")), text_col="text")
    pos = F.col("dsir_weight") > 0
    return w.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count("dsir_weight").alias("n_scored"),
        F.coalesce(
            F.sum(F.col("dsir_weight").cast("decimal(18,4)")).cast("double"),
            F.lit(0.0),
        ).alias("sum_w"),
        F.sum(F.when(pos, 1).otherwise(0)).cast("long").alias("n_target_like"),
        F.bit_xor(F.when(pos, F.col("doc_id")).otherwise(0)).alias(
            "id_checksum"
        ),
    )


def _q63_oracle() -> str:
    from ..operators import html as HT

    frag = (
        "CASE doc_id % 3 WHEN 0 THEN '<script>var x = 1 < 2;</script>' "
        "WHEN 1 THEN '<!-- hidden -->' ELSE '<style>p {margin: 0}</style>' END"
    )
    html = (
        "CASE WHEN text IS NULL THEN NULL ELSE "
        "'<html><head><title>' || COALESCE(source, '') || ' #' || "
        "(doc_id % 50) || ' &amp; notes</title></head><body>' || "
        f"{frag} || '<p>' || replace(text, chr(10), '</p><p>') || "
        "'</p><div>See <a href=\"/a\">' || COALESCE(source, '') || "
        "' &nbsp;index</a> &lt;here&gt;</div></body></html>' END"
    )
    ext, ttl = HT.strip_html_sql("html"), HT.extract_title_sql("html")
    ld = HT.link_density_sql("html", "extracted")
    return f"""
    WITH pages AS (
      SELECT source, doc_id, {html} AS html FROM documents
    ),
    x AS (
      SELECT source, doc_id, html, {ext} AS extracted, {ttl} AS title
      FROM pages
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(COUNT(html) AS BIGINT) AS n_pages,
           COALESCE(CAST(SUM(length(extracted)) AS BIGINT), 0) AS sum_chars,
           COALESCE(bit_xor({HH.h60_sql('extracted')}), 0) AS text_checksum,
           COALESCE(bit_xor({HH.h60_sql('title')}), 0) AS title_checksum,
           COALESCE(CAST(SUM(CAST({ld} AS DECIMAL(18,4))) AS DOUBLE), 0.0)
             AS sum_link_density
    FROM x GROUP BY source
    """


@_register("q63_html_extract", _q63_oracle)
def q63(spark, sf_dir):
    """HTML → TEXT extraction (operators/html.py): the stage between the
    raw crawl and every text operator here — script/style/comment
    removal, block tags → line breaks, tag strip, entity decode,
    whitespace normalization, plus <title> and link density (the jusText
    boilerplate-page signal).  Entirely MAP-ONLY regexp_replace chains in
    whole-stage codegen (zero UDF; the patterns are pinned to the
    Java∩RE2∩Python regex dialect, see the module docstring) followed by
    one per-source hash agg.  The corpus has no HTML column, so both
    engines synthesize the same page around each document's text
    (title/script/comment/style variants by doc_id, real newlines →
    <p> breaks, planted anchors and entities) with identical string
    arithmetic, and value-hash the EXTRACTED text and title via h60
    checksums — a byte-exact extraction proof, not a length heuristic.
    Reference ancestor: P12 computed column (claim_analysis.py) as a
    derived-text stage."""
    from ..operators import html as HT

    d = _spread(spark, sf_dir, "documents", "source", "doc_id", "text")
    m = F.col("doc_id") % 3
    frag = (
        F.when(m == 0, "<script>var x = 1 < 2;</script>")
        .when(m == 1, "<!-- hidden -->")
        .otherwise("<style>p {margin: 0}</style>")
    )
    src = F.coalesce(F.col("source"), F.lit(""))
    html = F.when(
        F.col("text").isNotNull(),
        F.concat(
            F.lit("<html><head><title>"), src, F.lit(" #"),
            (F.col("doc_id") % 50).cast("string"),
            F.lit(" &amp; notes</title></head><body>"), frag, F.lit("<p>"),
            F.replace(F.col("text"), F.lit("\n"), F.lit("</p><p>")),
            F.lit('</p><div>See <a href="/a">'), src,
            F.lit(" &nbsp;index</a> &lt;here&gt;</div></body></html>"),
        ),
    )
    x = d.select("source", "doc_id", html.alias("html")).select(
        "source",
        "html",
        HT.strip_html(F.col("html")).alias("extracted"),
        HT.extract_title(F.col("html")).alias("title"),
    )
    x = x.withColumn("ld", HT.link_density(F.col("html"), F.col("extracted")))
    h60 = lambda c: F.expr(HH.h60_spark_sql(c))  # noqa: E731
    return x.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count("html").alias("n_pages"),
        F.coalesce(F.sum(F.length("extracted")), F.lit(0)).alias("sum_chars"),
        F.coalesce(F.bit_xor(h60("extracted")), F.lit(0)).alias(
            "text_checksum"
        ),
        F.coalesce(F.bit_xor(h60("title")), F.lit(0)).alias("title_checksum"),
        F.coalesce(
            F.sum(F.col("ld").cast("decimal(18,4)")).cast("double"),
            F.lit(0.0),
        ).alias("sum_link_density"),
    )


@_register(
    "q64_crossdoc_dup_ngrams",
    f"""
    WITH dw AS (
      SELECT doc_id,
             {TX.WS_TOKENS_DUCK.format(c='text')} AS w
      FROM documents WHERE text IS NOT NULL
    ),
    doc_grams AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w) - 3),
                                     i -> array_to_string(w[i:i+4], ' '))) AS g
        FROM dw WHERE len(w) >= 5)
    ),
    dup_grams AS (
      SELECT g FROM doc_grams GROUP BY g HAVING COUNT(*) >= 2
    ),
    sizes AS (
      SELECT doc_id, COUNT(*) AS n_grams FROM doc_grams GROUP BY doc_id
    ),
    dups AS (
      SELECT doc_id, COUNT(*) AS n_dup
      FROM doc_grams JOIN dup_grams USING (g) GROUP BY doc_id
    )
    SELECT s.doc_id,
           CAST(s.n_grams AS INT) AS n_grams,
           CAST(COALESCE(d.n_dup, 0) AS BIGINT) AS n_dup_grams,
           ROUND(COALESCE(d.n_dup, 0) * 1.0 / s.n_grams, 4) AS dup_frac
    FROM sizes s LEFT JOIN dups d USING (doc_id)
    """,
)
def q64(spark, sf_dir):
    """CROSS-document duplicated 5-gram fraction
    (operators/repetition.py:crossdoc_dup_metrics): of each doc's
    distinct word-5-grams, the share appearing in ≥ 1 other document —
    the RefinedWeb corpus-level repetition signal that catches template
    spam and mirrored boilerplate invisible to within-doc metrics (q56)
    and sub-threshold for MinHash near-dup (q37).  Scale shape: grams
    are codegen-derived and distinct'd BEFORE the explode, per-doc
    totals come map-only from size(), and the join-back's build side is
    pre-filtered to duplicated grams only.  Spark joins on xxhash64 gram
    ids, the oracle on raw gram strings — identical counts barring a
    ~1e-18 collision.  Reference ancestor: A12 re-aggregation duplicate
    detection (additional_charge_checks.py), lifted to cross-doc
    phrases."""
    from ..operators import repetition as RP

    d = _spread(spark, sf_dir, "documents")
    return RP.crossdoc_dup_metrics(d, "text", "doc_id", n=5)


@_register(
    "q65_length_percentiles",
    """
    SELECT source,
           COUNT(*) AS n_docs,
           ROUND(quantile_cont(length(text), 0.25), 4) AS p25_chars,
           ROUND(quantile_cont(length(text), 0.50), 4) AS p50_chars,
           ROUND(quantile_cont(length(text), 0.75), 4) AS p75_chars,
           ROUND(quantile_cont(length(text), 0.90), 4) AS p90_chars
    FROM documents WHERE text IS NOT NULL
    GROUP BY source
    """,
)
def q65(spark, sf_dir):
    """Per-source EXACT length-percentile profile — the corpus report
    behind every length-bound decision (MIN/MAX_CHARS in the heuristic
    rules are picked off exactly this table).  Exact interpolated
    percentiles (`percentile`, the sort-based agg) match DuckDB's
    `quantile_cont` bit-for-bit under 4 dp rounding, giving the
    percentile OPERATOR a value-hash oracle — unlike the bucketed
    histogram (q10/A16), which trades exactness for one pass.  Scale
    note: per-group exact percentiles sort within each group; at
    100 TB swap `percentile` → `approx_percentile(c, p, accuracy)`
    (t-digest, map-side-combining, bounded error) — same plan shape,
    no oracle equality.  Reference ancestor: A8 global stats
    (base_standalone.py) extended to order statistics."""
    d = read_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    nc = F.length("text")
    pct = lambda p, a: F.round(  # noqa: E731
        F.percentile(nc, F.lit(p)), 4
    ).alias(a)
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        pct(0.25, "p25_chars"),
        pct(0.50, "p50_chars"),
        pct(0.75, "p75_chars"),
        pct(0.90, "p90_chars"),
    )


def _kmeans_oracle_cte(
    k: int, iters: int, dim: int, src: str = "embeddings"
) -> str:
    """The unrolled k-means WITH-chain shared by q66/q67: valid vectors
    ``v``, farthest-point seeds, ``iters`` Lloyd rounds, final
    assignment CTE ``af(vec_id, e, cluster)``."""
    from ..operators import clustering as CL
    dist = (
        "list_sum(list_transform(v.e, (x, i) -> "
        "(x - c.e[i]) * (x - c.e[i])))"
    )
    sdist = dist.replace("c.e[i]", "s.e[i]")
    # farthest-point init chain: seed 0 = smallest Knuth hash, each next
    # seed maximizes min-distance to the chosen set (ties -> vec_id)
    parts = [
        f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM {src}
      WHERE embedding IS NOT NULL AND len(embedding) = {dim}
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
    ),
    seeds1 AS (
      SELECT e, 0 AS seq FROM (
        SELECT e, row_number() OVER (
          ORDER BY (vec_id * {CL.KNUTH}) % {CL.MOD31}, vec_id) AS rn
        FROM v) WHERE rn = 1
    )"""
    ]
    for j in range(1, k):
        parts.append(f""",
    n{j} AS (
      SELECT e, {j} AS seq FROM (
        SELECT vec_id, e,
               row_number() OVER (ORDER BY mind DESC, vec_id) AS rn
        FROM (
          SELECT v.vec_id, ANY_VALUE(v.e) AS e, MIN({sdist}) AS mind
          FROM v, seeds{j} s GROUP BY v.vec_id
        ) v
      ) WHERE rn = 1
    ),
    seeds{j + 1} AS (
      SELECT * FROM seeds{j} UNION ALL SELECT * FROM n{j}
    )""")
    parts.append(f""",
    c0 AS (SELECT seq AS cluster, e FROM seeds{k})""")
    for it in range(iters):
        parts.append(f""",
    a{it} AS (
      SELECT vec_id, e, cluster FROM (
        SELECT v.vec_id, v.e, c.cluster,
               row_number() OVER (
                 PARTITION BY v.vec_id ORDER BY {dist}, c.cluster) AS rn
        FROM v, c{it} c) WHERE rn = 1
    ),
    u{it} AS (
      SELECT cluster, pos,
             CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*)
               AS val
      FROM (SELECT cluster, unnest(e) AS x,
                   unnest(range(1, {dim} + 1)) AS pos FROM a{it})
      GROUP BY cluster, pos
    ),
    c{it + 1} AS (
      SELECT cluster, list(val ORDER BY pos) AS e
      FROM u{it} GROUP BY cluster
      UNION ALL
      SELECT c.cluster, c.e FROM c{it} c
      WHERE c.cluster NOT IN (SELECT cluster FROM u{it})
    )""")
    # final assignment against c{iters}, exposed for reuse by q67
    parts.append(f""",
    af AS (
      SELECT vec_id, e, cluster FROM (
        SELECT v.vec_id, v.e, c.cluster,
               row_number() OVER (
                 PARTITION BY v.vec_id ORDER BY {dist}, c.cluster) AS rn
        FROM v, c{iters} c) WHERE rn = 1
    )""")
    return "".join(parts)


def _q66_oracle() -> str:
    return (
        _kmeans_oracle_cte(k=4, iters=2, dim=64)
        + """
    SELECT vec_id, CAST(cluster AS INT) AS cluster FROM af
    """
    )


@_register("q66_kmeans_clusters", _q66_oracle)
def q66(spark, sf_dir):
    """Deterministic Lloyd's k-means over the embedding corpus
    (operators/clustering.py) — SemDeDup/DataComp-style clustering for
    diversity audits and cluster-balanced sampling.  The oracle unrolls
    the SAME algorithm in SQL: the deterministic farthest-point init
    chain (Knuth-hash seed 0, then argmax-min-distance), identical
    left-to-right distance folds, and ORDER-INDEPENDENT decimal(38,12)
    centroid sums, so the per-vector assignment — the output of an
    ITERATIVE algorithm — is value-hash comparable.  Scale shape:
    init is k-1 map-only top-1 passes, assignment is map-only (centroid
    literals), each update is one k·dim-key hash agg; the driver sees
    k·dim rows per iteration (Lloyd's inherent sync point, same as
    MLlib's collectAsMap)."""
    from ..operators import clustering as CL

    v = _spread(spark, sf_dir, "embeddings")
    assigned, _ = CL.kmeans_fit_assign(v, k=4, iters=2, dim=64)
    return assigned


_Q67_SRC = (
    "(SELECT vec_id, embedding FROM embeddings "
    "UNION ALL SELECT vec_id + 10000, embedding "
    "FROM embeddings WHERE vec_id < 50)"
)


def _semdedup_oracle_sql(
    k: int, iters: int, dim: int, src: str, cos_threshold: float
) -> str:
    """SemDeDup over ``src``: the unrolled k-means chain, then the
    in-cluster pair self-join; returns the kept ``vec_id``s."""
    return (
        _kmeans_oracle_cte(k=k, iters=iters, dim=dim, src=src)
        + f""",
    m AS (
      SELECT vec_id, cluster, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM af
    ),
    drp AS (
      SELECT DISTINCT b.vec_id
      FROM m a JOIN m b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE a.nrm > 0 AND b.nrm > 0
        AND list_sum(list_transform(a.e, (x, i) -> x * b.e[i]))
            / (a.nrm * b.nrm) >= {cos_threshold}
    )
    SELECT e0.vec_id FROM {src} e0
    WHERE e0.vec_id NOT IN (SELECT vec_id FROM drp)
    """
    )


def _q67_oracle() -> str:
    return _semdedup_oracle_sql(4, 1, 64, _Q67_SRC, 0.995)


@_register("q67_semantic_dedup", _q67_oracle)
def q67(spark, sf_dir):
    """SemDeDup (operators/clustering.py:semantic_dedup, Abbas et al.
    2023): k-means-cluster the embeddings, then drop rows whose exact
    cosine to a lower-id member of the SAME cluster is ≥ 0.995 — the
    clustering bounds the quadratic step to Σ|cluster|² (the paper's
    tractability trick; k is the knob).  Contrast with q47/q48, which
    bound candidates by RP-fingerprint LSH instead of semantics.  The
    oracle replays the full unrolled k-means chain plus the in-cluster
    pair join; cosine folds left-to-right in double with IEEE sqrt on
    both engines, so the threshold verdict is bit-portable.  Keep rule:
    lowest vec_id in any qualifying pair (ledger min-winner
    convention); invalid vectors pass through unexamined.  Both engines
    plant identical exact copies (vec_id+10000 for vec_id < 50) so the
    drop path is exercised, not just vacuously green — the q48
    planted-copy pattern."""
    from ..operators import clustering as CL

    base = _spread(spark, sf_dir, "embeddings", "vec_id", "embedding")
    copies = base.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    v = base.unionByName(copies)
    # ONE Lloyd round: the clustering only bounds the candidate pairs
    # (recall knob), it never decides a drop — exact cosine does
    kept = CL.semantic_dedup(v, k=4, iters=1, cos_threshold=0.995, dim=64)
    return kept.select("vec_id")


def _q68_oracle() -> str:
    from ..operators import sampling as SP

    w = SP.dsir_weights_duck_sql(
        "documents", RU.keep_verdict_sql("text"), "text", "doc_id"
    )
    sel = SP.weighted_sample_duck_sql("d", "dsir_weight", 0.3, "doc_id", 5)
    return f"""
    WITH w AS ({w}),
    d AS (
      SELECT doc.doc_id, doc.source, w.w AS dsir_weight
      FROM documents doc JOIN w ON doc.doc_id = w._id
    ),
    s AS ({sel})
    SELECT source,
           COUNT(*) AS n_kept,
           bit_xor(doc_id) AS id_checksum,
           COALESCE(CAST(SUM(CAST(dsir_weight AS DECIMAL(18,4)))
                         AS DOUBLE), 0.0) AS sum_w
    FROM s GROUP BY source
    """


@_register("q68_dsir_weighted_sample", _q68_oracle)
def q68(spark, sf_dir):
    """DSIR importance RESAMPLING (operators/sampling.py:
    weighted_sample) — the selection half that q62's weights exist for:
    accept each doc with probability min(1, f·exp(w)/mean(exp(w))),
    decided by the deterministic key hash shared with every sampler and
    the shard writer — same kept SET on any partitioning, retry, or
    engine, auditable row by row.  The acceptance compare is two
    doubles built from identical inputs on both engines (4 dp weight
    column, 6 dp decimal-summed mean literal, no rounding at the
    compare).  Plan: the weighting is q62's two passes; the selection
    adds ONE bounded driver scalar + a map-only filter.  Reference
    ancestor: S7 sampling scan upgraded from uniform to
    importance-proportional."""
    from ..operators import sampling as SP

    from ..exec_utils import materialize

    d = _spread(spark, sf_dir, "documents")
    # materialize the annotated frame: the sampler consumes the weight
    # column twice (mean scalar + accept filter) and the DSIR fold is
    # the expensive part (at 100 TB weights would be a stored column)
    w = materialize(
        SP.dsir_weights(d, RU.keep_verdict(F.col("text")), text_col="text")
    )
    kept = SP.weighted_sample(w, "dsir_weight", 0.3, "doc_id", seed=5)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.bit_xor("doc_id").alias("id_checksum"),
        F.coalesce(
            F.sum(F.col("dsir_weight").cast("decimal(18,4)")).cast(
                "double"
            ),
            F.lit(0.0),
        ).alias("sum_w"),
    )


def _q69_oracle() -> str:
    from ..operators import sampling as SP

    tok = TX.bpe_token_count_sql("text")
    h = (
        "(" + HH.h60_sql("concat('9:', CAST(doc_id AS VARCHAR))") + ")"
        f" % {SP.SAMPLE_DENOM}"
    )
    return f"""
    WITH d AS (
      SELECT doc_id, source, COALESCE({tok}, 0) AS tok, {h} AS h
      FROM documents
    ),
    pos AS (
      SELECT doc_id, source, tok,
             COALESCE(SUM(tok) OVER (
               ORDER BY h % 64, h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS before
      FROM d
    )
    SELECT CAST(before // 20000 AS INT) AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS sum_tokens,
           bit_xor(doc_id) AS id_checksum
    FROM pos GROUP BY shard
    """


@_register("q69_token_balanced_shards", _q69_oracle)
def q69(spark, sf_dir):
    """Token-BALANCED shard assignment (plans/shards.py:
    assign_token_shards): order the corpus by the deterministic
    (bucket, hash, key) permutation and give each row
    ``shard = tokens_before div target`` — every shard except the last
    carries ≥ target tokens regardless of document-length skew, and
    membership is a pure function of content.  The Spark side runs the
    scalable two-phase plan (bucket token sums → driver prefix offsets
    as a literal map → per-bucket window); the oracle runs the
    GLOBAL-window definition — their equality IS the proof the
    two-phase decomposition implements the global rule (the q53 proof
    shape).  Integer `div` arithmetic end-to-end: no float boundary.
    Reference ancestor: S3 batched-insert sink, upgraded to
    size-balanced deterministic layout."""
    from ..plans import shards as SH

    d = read_table(spark, sf_dir, "documents").withColumn(
        "_tok", F.coalesce(TX.bpe_token_count(F.col("text")), F.lit(0))
    )
    out = SH.assign_token_shards(
        d, target_tokens=20000, token_col="_tok", key_col="doc_id",
        seed=9, num_buckets=64,
    )
    return out.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("_tok").alias("sum_tokens"),
        F.bit_xor("doc_id").alias("id_checksum"),
    )


def _q70_oracle() -> str:
    from ..operators import lines as LN
    from ..operators import sketches as SK

    toks = LN.tokens_sql("text")
    rel = (
        f"(SELECT source, unnest({toks}) AS tok "
        f"FROM documents WHERE text IS NOT NULL)"
    )
    return SK.kmv_distinct_sql(rel, "tok", ["source"], k=64)


@_register("q70_kmv_vocabulary", _q70_oracle)
def q70(spark, sf_dir):
    """KMV bottom-k cardinality sketch (operators/sketches.py) over the
    per-source token vocabulary — the DISTINCT-count estimator that,
    unlike HLL ``approx_count_distinct``, is deterministic across
    engines: both sides see the same portable h60 values, the same k-th
    minimum, the same estimate to the bit — a SKETCH with a value-hash
    oracle, and mergeable across crawls (union's bottom-k = bottom-k of
    merged sketches).  Groups under k report exact counts by contract.
    The query also carries the true distinct count so the estimate
    error is visible in the result, not asserted blindly.  Reference
    ancestor: A4/A5 distinct counts upgraded to bounded memory."""
    from ..operators import lines as LN
    from ..operators import sketches as SK

    d = _spread(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = d.select(
        "source", F.explode(LN.tokens(F.col("text"))).alias("tok")
    )
    return SK.kmv_distinct(toks, "tok", ["source"], k=64)


def _q71_oracle() -> str:
    from ..operators import chunking as CH

    chunks = CH.chunk_documents_sql(
        "documents", 400, 80, extra_cols="source"
    )
    return f"""
    WITH c AS ({chunks})
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           COUNT(*) AS n_chunks,
           CAST(SUM(length(chunk_text)) AS BIGINT) AS sum_chunk_chars,
           CAST(MAX(n_chunks) AS INT) AS max_chunks,
           bit_xor({HH.h60_sql(
               "concat(CAST(doc_id AS VARCHAR), ':', "
               "CAST(chunk_idx AS VARCHAR), ':', chunk_text)"
           )}) AS chunk_checksum
    FROM c GROUP BY source
    """


@_register("q71_context_chunking", _q71_oracle)
def q71(spark, sf_dir):
    """Context-window document chunking (operators/chunking.py): split
    each document into 400-char windows advancing by 320 (80-char
    overlap) — the stage between a cleaned corpus and a fixed-context
    trainer / RAG indexer.  MAP-ONLY: sequence + transform + posexplode,
    no shuffle before the per-source report agg.  The value-hash runs
    over an h60 checksum of every (doc, idx, chunk_text) triple, so the
    exact chunk boundaries — including the shorter final window — are
    byte-proven against the oracle's integer-arithmetic twin.
    Reference ancestor: P15 unnest applied to derived windows."""
    from ..operators import chunking as CH

    d = read_table(spark, sf_dir, "documents")
    c = CH.chunk_documents(d, chunk_chars=400, overlap=80)
    chk = F.expr(
        HH.h60_spark_sql(
            "concat(CAST(doc_id AS STRING), ':', "
            "CAST(chunk_idx AS STRING), ':', chunk_text)"
        )
    )
    return c.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_chunks"),
        F.sum(F.length("chunk_text")).alias("sum_chunk_chars"),
        F.max("n_chunks").alias("max_chunks"),
        F.bit_xor(chk).alias("chunk_checksum"),
    )


def _q72_oracle() -> str:
    from ..operators import images as IM

    return IM.ar_bucket_report_duck_sql(
        "documents",
        "(16 + (doc_id * 37) % 1200)",
        "(16 + (doc_id * 61) % 1200)",
        "doc_id",
    )


@_register("q72_aspect_ratio_buckets", _q72_oracle)
def q72(spark, sf_dir):
    """ASPECT-RATIO bucketing (operators/images.py:assign_ar_buckets):
    every image is assigned to the nearest of 17 pinned SDXL-1024
    buckets by a pure-int64 surrogate for |log(w/h) − log(bw/bh)| —
    the NovelAI/SDXL batching primitive that keeps one resolution per
    training batch.  Assignment + resize dims + center-crop offsets are
    a MAP-ONLY literal fold (17 constants in the plan, zero UDF/join);
    the only exchange is the per-bucket report agg.  Both engines derive
    (w, h) from doc_id with the q60 integer recipe and value-hash
    per-bucket counts, exact-ratio counts, total cropped pixels, and an
    id checksum — so the argmin rule, the tie-break, and the integer
    resize math are all bit-proven.  Reference ancestor: A16 one-pass
    bucketed histogram (payer_analysis.py) on the aspect axis."""
    from ..operators import images as IM

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(16) + (F.col("doc_id") * 37) % 1200).alias("w"),
        (F.lit(16) + (F.col("doc_id") * 61) % 1200).alias("h"),
    )
    a = IM.assign_ar_buckets(d)
    crop = F.when(
        F.col("w").cast("long") * F.col("bucket_h")
        >= F.col("h").cast("long") * F.col("bucket_w"),
        F.col("resize_w").cast("long") - F.col("bucket_w"),
    ).otherwise(F.col("resize_h").cast("long") - F.col("bucket_h"))
    return (
        a.filter(F.col("bucket_idx").isNotNull())
        .groupBy("bucket_w", "bucket_h")
        .agg(
            F.count("*").alias("n_images"),
            F.sum(
                F.when(
                    F.col("w").cast("long") * F.col("bucket_h")
                    == F.col("h").cast("long") * F.col("bucket_w"),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_exact_ar"),
            F.sum(crop).alias("sum_crop_px"),
            F.bit_xor("doc_id").alias("id_checksum"),
        )
    )


def _q73_oracle() -> str:
    from ..operators import alignment as AL

    p = HH.h60_sql("concat('img:', CAST(doc_id AS VARCHAR))")
    return AL.alignment_report_duck_sql(
        "documents", "text", p, "doc_id", "source"
    )


@_register("q73_caption_alignment", _q73_oracle)
def q73(spark, sf_dir):
    """IMAGE–CAPTION alignment gate (operators/alignment.py): the
    CLIP-score filter class with deterministic stand-in towers — hashed
    bag-of-words caption embedding vs the image hash's ±1 bit vector,
    keep ⟺ cos ≥ 1/5 decided in EXACT int64 arithmetic (den²·dot² vs
    num²·60·‖v‖²), so the learned-scorer plumbing gets a value-hash
    oracle.  Spark side is MAP-ONLY: one sorted-RLE fold per caption
    (zero UDF/join/explode — the only exchange is the per-source report
    agg); the oracle proves the fold with an independent unnest+groupBy
    decomposition.  Reference ancestor: F14 validity conjunction as a
    cross-modal consistency rule."""
    from ..operators import alignment as AL

    d = _spread(
        spark, sf_dir, "documents", "doc_id", "source", "text"
    ).withColumn(
        "img_hash",
        F.expr(HH.h60_spark_sql("concat('img:', CAST(doc_id AS STRING))")),
    )
    s = AL.alignment_scores(d, caption_col="text", image_hash_col="img_hash")
    return s.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("align_nrm") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_scored"),
        F.sum(F.when(F.col("align_keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_keep"),
        F.sum("align_dot").alias("sum_dot"),
        F.bit_xor(
            F.when(F.col("align_keep"), F.col("doc_id")).otherwise(0)
        ).alias("id_checksum"),
    )


def _q74_oracle() -> str:
    from ..operators import sessions as SN

    sess = SN.sessionize_duck_sql("events")
    return f"""
    WITH sess AS ({sess})
    SELECT n_events,
           COUNT(*) AS n_sessions,
           CAST(SUM(duration_s) AS BIGINT) AS sum_duration_s,
           ROUND(CAST(SUM(session_value) AS DOUBLE) / SUM(n_events), 6)
             AS avg_value,
           bit_xor(CAST(user_id * 1000003 + session_idx AS BIGINT))
             AS session_checksum
    FROM sess GROUP BY n_events
    """


@_register("q74_sessionization", _q74_oracle)
def q74(spark, sf_dir):
    """Gap-based SESSIONIZATION (operators/sessions.py): 30-minute-gap
    sessions per user via lag + cumulative-sum windows PARTITIONED BY
    user_id — ordering pinned to (ts, event_id), time arithmetic exact
    unix_micros int64, cumulative frame pinned to ROWS (the q53 lesson).
    One hash-by-user Exchange serves the lag window, the session-number
    window, AND the per-session aggregate; the size-distribution rollup
    is the only further shuffle.  The checksum over (user, session_idx)
    pairs value-proves every session boundary.  Reference ancestor:
    F10/F11 freshness windows upgraded to run structure."""
    from ..operators import sessions as SN

    e = read_table(spark, sf_dir, "events")
    sess = SN.session_stats(e)
    return sess.groupBy("n_events").agg(
        F.count("*").alias("n_sessions"),
        F.sum("duration_s").alias("sum_duration_s"),
        F.round(
            F.sum("session_value").cast("double") / F.sum("n_events"), 6
        ).alias("avg_value"),
        F.bit_xor(
            F.col("user_id") * 1000003 + F.col("session_idx")
        ).alias("session_checksum"),
    )


_Q75_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _q75_oracle() -> str:
    from ..operators import sampling as SP

    label = SP.split_corpus_duck_sql(_Q75_SPLITS, "doc_id", seed=3)
    return f"""
    SELECT {label} AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           bit_xor(doc_id) AS id_checksum
    FROM documents GROUP BY 1
    """


@_register("q75_corpus_split", _q75_oracle)
def q75(spark, sf_dir):
    """Deterministic TRAIN/VAL/TEST split (operators/sampling.py:
    split_corpus): every doc labeled by its key hash's cumulative-
    fraction interval — disjoint ∧ exhaustive by construction (the last
    threshold is forced to the full denominator), reproducible on any
    partitioning/cluster size/engine, and consistent with every other
    sampler via the shared seeded_key_hash.  MAP-ONLY labeling; the
    only exchange is the per-split report agg.  The checksum over ALL
    doc ids per split value-proves the exact membership of each side.
    Reference ancestor: S7 sampling scan
    (additional_charge_checks.py:741) upgraded to a partition."""
    from ..operators import sampling as SP

    d = read_table(spark, sf_dir, "documents")
    s = SP.split_corpus(d, _Q75_SPLITS, "doc_id", seed=3)
    return s.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.bit_xor("doc_id").alias("id_checksum"),
    )


def _q76_oracle() -> str:
    from ..operators import drift as DR

    keep = RU.keep_verdict_sql("text")
    return DR.stats_drift_duck_sql(
        "(SELECT * FROM documents WHERE doc_id % 2 = 1)",
        "(SELECT * FROM documents WHERE doc_id % 2 = 0)",
        keep,
        keep,
        "lang",
    )


@_register("q76_stats_drift", _q76_oracle)
def q76(spark, sf_dir):
    """SNAPSHOT STATS DRIFT (operators/drift.py): per-language keep-rate
    and volume of the current crawl vs a baseline snapshot, with
    ok/warning/critical severity decided by EXACT integer
    cross-multiplication (|Δrate| and volume-floor bands never touch a
    rounded double; the displayed rates are cosmetic).  Two corpus
    aggregates + a small full-outer join of |groups|-row frames (full
    outer cannot broadcast-hash in Spark and does not need to) —
    groups that appear/vanish are critical by definition.  Both engines
    derive the snapshots as the odd/even doc_id halves.  Reference
    ancestor: Check 3 historical stats (charge_analysis_checks.py:
    617-905) — the same ok/warning/critical escalation contract over
    "stats now vs stats expected"."""
    from ..operators import drift as DR

    d = _spread(spark, sf_dir, "documents")
    keep = RU.keep_verdict(F.col("text"))
    return DR.stats_drift(
        d.filter(F.col("doc_id") % 2 == 1),
        d.filter(F.col("doc_id") % 2 == 0),
        keep,
        keep,
        "lang",
    )


def _q77_oracle() -> str:
    from ..operators import images as IM
    from ..operators import sampling as SP

    idx = IM.ar_bucket_idx_duck_sql(
        "(16 + (doc_id * 37) % 1200)", "(16 + (doc_id * 61) % 1200)"
    )
    bw = "[" + ", ".join(str(bw) for bw, _ in IM.AR_BUCKETS) + "]"
    bh = "[" + ", ".join(str(bh) for _, bh in IM.AR_BUCKETS) + "]"
    h = (
        "(" + HH.h60_sql("concat('5:', CAST(doc_id AS VARCHAR))") + ")"
        f" % {SP.SAMPLE_DENOM}"
    )
    return f"""
    WITH assigned AS (
      SELECT doc_id, {idx} AS bucket_idx, {h} AS h FROM documents
    ), dims AS (
      SELECT doc_id, h,
             ({bw})[bucket_idx + 1] AS bucket_w,
             ({bh})[bucket_idx + 1] AS bucket_h
      FROM assigned
    ), pos AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY bucket_w, bucket_h
                                ORDER BY h % 64, h, doc_id) - 1 AS p,
             COUNT(*) OVER (PARTITION BY bucket_w, bucket_h) AS tot
      FROM dims
    )
    SELECT bucket_w, bucket_h,
           COUNT(*) AS n_images,
           CAST(MAX(p // 32) + 1 AS INT) AS n_batches,
           CAST(SUM(CASE WHEN p // 32 < tot // 32 THEN 0 ELSE 1 END)
                AS BIGINT) AS n_leftover,
           bit_xor(doc_id * 65536 + p // 32) AS assign_checksum
    FROM pos GROUP BY bucket_w, bucket_h
    """


@_register("q77_bucket_batches", _q77_oracle)
def q77(spark, sf_dir):
    """BATCH assembly inside aspect-ratio buckets (plans/shards.py:
    bucket_batches): each resolution group's rows are laid out in the
    deterministic (h60, key) permutation and numbered into batches of
    32, remainder rows flagged — the loader-facing half of SDXL
    bucketed batching.  Spark runs the scalable two-phase plan (per
    (group, hash-sub-bucket) counts → driver prefix offsets as one
    literal map → per-sub-bucket count window, so no group-sized sort
    exists); the oracle runs the GLOBAL per-group window — equality
    value-proves the decomposition, batch ids and remainder flags bit
    for bit (the q69 proof pattern).  Reference ancestor: S3 batched
    insert sink (claim_analysis.py) as a deterministic layout."""
    from ..operators import images as IM
    from ..plans import shards as SH

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(16) + (F.col("doc_id") * 37) % 1200).alias("w"),
        (F.lit(16) + (F.col("doc_id") * 61) % 1200).alias("h"),
    )
    a = IM.assign_ar_buckets(d).select("doc_id", "bucket_w", "bucket_h")
    b = SH.bucket_batches(
        a, 32, ("bucket_w", "bucket_h"), "doc_id", seed=5, num_buckets=64
    )
    return b.groupBy("bucket_w", "bucket_h").agg(
        F.count("*").alias("n_images"),
        (F.max("batch_idx") + 1).cast("int").alias("n_batches"),
        F.sum(F.when(F.col("in_full_batch"), 0).otherwise(1))
        .cast("long")
        .alias("n_leftover"),
        F.bit_xor(
            F.col("doc_id") * 65536 + F.col("batch_idx").cast("long")
        ).alias("assign_checksum"),
    )


def _q78_oracle() -> str:
    from ..operators import lines as LN
    from ..operators import sketches as SK

    toks = LN.tokens_sql("text")
    rel = (
        f"(SELECT unnest({toks}) AS tok FROM documents "
        f"WHERE text IS NOT NULL)"
    )
    probes = " UNION ALL ".join(
        f"SELECT tok, n_exact, {i} AS row_idx, "
        f"{SK._cms_col_duck('CAST(tok AS VARCHAR)', i, SK.CMS_WIDTH)} AS col "
        f"FROM topk"
        for i in range(SK.CMS_DEPTH)
    )
    return f"""
    WITH tokrel AS (SELECT tok FROM {rel} t),
    cms AS ({SK.count_min_sketch_sql("tokrel", "tok")}),
    topk AS (
      SELECT tok, COUNT(*) AS n_exact FROM tokrel
      GROUP BY tok ORDER BY n_exact DESC, tok LIMIT 20
    ),
    probes AS ({probes})
    SELECT p.tok, p.n_exact,
           CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est_count,
           CAST(MIN(COALESCE(c.cnt, 0)) - p.n_exact AS BIGINT) AS overcount
    FROM probes p LEFT JOIN cms c USING (row_idx, col)
    GROUP BY p.tok, p.n_exact
    """


@_register("q78_count_min_heavy_hitters", _q78_oracle)
def q78(spark, sf_dir):
    """COUNT-MIN frequency sketch (operators/sketches.py): per-token
    count estimates from depth·width = 4·1024 bounded cells — heavy-
    hitter detection whose only corpus-sized operation is ONE hash
    aggregate over a 4096-key space (vs a vocabulary-sized groupBy);
    estimates are then literal-map lookups, the DSIR scoring shape.
    Row hashes are the Carter-Wegman Mersenne mix family, so both
    engines compute identical cells and identical estimates — a
    frequency sketch with a value-hash oracle (the q70 KMV claim, on
    the frequency axis).  The query reports the exact top-20 tokens
    next to their sketch estimates; the one-sided error contract
    (estimate ≥ truth) is visible in the overcount column and pinned in
    tests.  Reference ancestor: A14 group-count distribution upgraded
    to bounded memory."""
    from ..operators import lines as LN
    from ..operators import sketches as SK

    from ..exec_utils import materialize

    d = _spread(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # materialized: the token relation feeds BOTH the sketch build and
    # the exact top-20 — without the cut the corpus tokenizes twice
    toks = materialize(
        d.select(F.explode(LN.tokens(F.col("text"))).alias("tok"))
    )
    cells = {
        (r["row_idx"], r["col"]): r["cnt"]
        for r in SK.count_min_sketch(toks, "tok").collect()
    }
    top = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("tok"))
        .limit(20)
    )
    est = SK.cms_estimate_expr(cells, "tok").cast("long")
    return top.select(
        "tok",
        "n_exact",
        est.alias("est_count"),
        (est - F.col("n_exact")).alias("overcount"),
    )


_Q79_PARTS = {"en": 60, "de": 20, "fr": 15, "es": 5}  # zh absent → excluded


def _q79_oracle() -> str:
    from ..operators import sampling as SP

    return SP.plan_mixture_duck_sql(
        "documents", _Q79_PARTS, "lang", TX.bpe_token_count_sql("text")
    )


@_register("q79_mixture_plan", _q79_oracle)
def q79(spark, sf_dir):
    """MIXTURE PLANNING (operators/sampling.py:plan_mixture): given
    target mixture PARTS (60:20:15:5 over languages here — the
    Pile/Dolma construction step) and the available BPE-token mass,
    compute the largest feasible corpus honoring the ratio, which
    stratum BINDS it, and the per-stratum sampling fractions (ppm) that
    feed deterministic_sample / sample_token_budget directly.  Exact
    integer rule: N* = min_s (avail_s·P div parts_s); selected_s =
    N*·parts_s div P — no float ratio ever decides anything.  ONE
    corpus aggregate + a single-row broadcast cross-join; strata
    outside the mixture are reported with parts 0, excluded loudly.
    Reference ancestor: A15/A18 grand-total quality planning
    (payer_analysis.py) on the mixture axis."""
    from ..operators import sampling as SP

    d = _spread(spark, sf_dir, "documents", "lang", "text")
    return SP.plan_mixture(
        d, _Q79_PARTS, "lang", TX.bpe_token_count(F.col("text"))
    )


_Q80_EXT = " extended with richer descriptive detail tokens"


def _q80_oracle() -> str:
    fp = HH.h60_sql("text")
    score = TX.bpe_token_count_sql("caption")
    chk = HH.h60_sql(
        "concat(CAST(label AS VARCHAR), ':', CAST(id AS VARCHAR), ':', caption)"
    )
    return f"""
    WITH RECURSIVE base AS (
      SELECT doc_id, text, {fp} AS fp FROM documents
      WHERE NOT {TX.is_blank_sql('text')}
    ),
    allrows AS (
      SELECT doc_id AS id, text AS caption, fp FROM base
      UNION ALL
      SELECT doc_id + 1000000, text || '{_Q80_EXT}', fp
      FROM base WHERE doc_id % 25 = 0
      UNION ALL
      SELECT doc_id + 2000000, substr(text, 1, 24), xor(fp, 3)
      FROM base WHERE doc_id % 40 = 0
    ),
    reps AS (SELECT fp, MIN(id) AS rep FROM allrows GROUP BY fp),
    bandrows AS (
      SELECT rep, fp, r.b AS band,
             (fp >> (CAST(r.b AS INTEGER) * 16)) % 65536 AS bb
      FROM reps, range(4) r(b)
    ),
    pairs AS (
      SELECT DISTINCT x.rep AS id_a, y.rep AS id_b
      FROM bandrows x JOIN bandrows y
        ON x.band = y.band AND x.bb = y.bb AND x.rep < y.rep
      WHERE bit_count(xor(x.fp, y.fp)) <= 3
    ),
    {_COMPONENTS_CTE},
    rows_l AS (
      SELECT a.id, a.caption, COALESCE(l.label, r.rep) AS label,
             COALESCE({score}, -1) AS s
      FROM allrows a
      JOIN reps r USING (fp)
      LEFT JOIN labels l ON r.rep = l.node
    ),
    winners AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY label ORDER BY s DESC, id ASC
      ) AS rn,
      COUNT(*) OVER (PARTITION BY label) AS n_members
      FROM rows_l
    )
    SELECT n_members,
           COUNT(*) AS n_clusters,
           CAST(SUM(s) AS BIGINT) AS sum_winner_score,
           bit_xor({chk}) AS winner_checksum
    FROM winners WHERE rn = 1 GROUP BY n_members
    """


@_register("q80_caption_consolidation", _q80_oracle)
def q80(spark, sf_dir):
    """Caption CONSOLIDATION per image near-dup cluster
    (operators/dedup.py:consolidate_captions): every perceptual cluster
    elects its BEST caption (BPE-token richness score here;
    quality_clf in production) instead of its first-seen one — the
    LAION "same image, many captions" resolution.  Planted cohorts
    prove both paths: doc_id%25 exact-fp copies carry a LONGER caption
    (must win over the original), doc_id%40 Hamming-3 variants carry a
    truncated one (must lose).  Election is a map-side-combining
    max(struct) hash agg — never a window; the oracle replays the whole
    chain (banding, recursive-CTE components, winner rule) and
    value-hashes (cluster, winner, caption) triples.  Reference
    ancestor: A10 $first-in-group upgraded to a scored election."""
    base = (
        _spread(spark, sf_dir, "documents")
        .filter(~TX.is_blank(F.col("text")))
        .select(
            "doc_id", "text", F.expr(HH.h60_spark_sql("text")).alias("fp")
        )
    )
    allrows = (
        base.select(
            F.col("doc_id").alias("id"), F.col("text").alias("caption"), "fp"
        )
        .unionByName(
            base.filter(F.col("doc_id") % 25 == 0).select(
                (F.col("doc_id") + 1000000).alias("id"),
                F.concat(F.col("text"), F.lit(_Q80_EXT)).alias("caption"),
                "fp",
            )
        )
        .unionByName(
            base.filter(F.col("doc_id") % 40 == 0).select(
                (F.col("doc_id") + 2000000).alias("id"),
                F.substring("text", 1, 24).alias("caption"),
                F.expr("fp ^ 3").alias("fp"),
            )
        )
    )
    cons = DD.consolidate_captions(
        allrows, "fp", "id", "caption", TX.bpe_token_count(F.col("caption"))
    )
    chk = F.expr(
        HH.h60_spark_sql(
            "concat(CAST(cluster_id AS STRING), ':', "
            "CAST(winner_id AS STRING), ':', winner_caption)"
        )
    )
    score = F.coalesce(
        TX.bpe_token_count(F.col("winner_caption")), F.lit(-1)
    ).cast("long")
    return cons.groupBy("n_members").agg(
        F.count("*").alias("n_clusters"),
        F.sum(score).alias("sum_winner_score"),
        F.bit_xor(chk).alias("winner_checksum"),
    )


_Q81_FMTS = "('jpeg', 'png', 'gif', 'ppm', 'bmp')"


def _q81_json(engine: str) -> str:
    """Shared derivation of the planted JSON metadata string (identical
    concat text per engine; only the int→string cast differs)."""
    cast = "STRING" if engine == "spark" else "VARCHAR"
    w = f"CAST(16 + (event_id * 13) % 2000 AS {cast})"
    h = f"CAST(16 + (event_id * 29) % 2000 AS {cast})"
    return f"""
    CASE event_id % 5
      WHEN 0 THEN concat('{{"w": ', {w}, ', "h": ', {h}, ', "fmt": "jpeg"}}')
      WHEN 1 THEN concat('{{"h": ', {h}, ', "fmt": "png"}}')
      WHEN 2 THEN concat('{{"w": "x', {w}, '", "h": ', {h}, ', "fmt": "gif"}}')
      WHEN 3 THEN concat('{{"w": ', {w}, ', "h": ')
      ELSE concat('{{"w": ', {w}, ', "h": ', {h},
                  ', "fmt": "tiff", "extra": 1}}')
    END
    """


@_register(
    "q81_json_metadata_audit",
    lambda: f"""
    WITH j AS (
      SELECT event_id, event_type, ({_q81_json("duck")}) AS s FROM events
    ), g AS (
      -- DuckDB does NOT short-circuit AND: json_extract on a malformed
      -- string raises even behind json_valid(s) AND ... — so the guard
      -- must null the INPUT, not the conjunction
      SELECT event_id, event_type, json_valid(s) AS valid,
             CASE WHEN json_valid(s) THEN s END AS sv
      FROM j
    ), flags AS (
      SELECT event_id, event_type,
             NOT valid AS malformed,
             valid AND json_extract_string(sv, '$.w') IS NULL AS missing_w,
             valid AND json_extract_string(sv, '$.w') IS NOT NULL
               AND TRY_CAST(json_extract_string(sv, '$.w') AS BIGINT) IS NULL
               AS bad_type_w,
             valid AND NOT COALESCE(json_extract_string(sv, '$.fmt')
                                    IN {_Q81_FMTS}, FALSE) AS fmt_unknown,
             TRY_CAST(json_extract_string(sv, '$.w') AS BIGINT) AS w_val
      FROM g
    )
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN malformed THEN 1 ELSE 0 END) AS BIGINT)
             AS n_malformed,
           CAST(SUM(CASE WHEN NOT malformed AND missing_w THEN 1 ELSE 0 END)
                AS BIGINT) AS n_missing_w,
           CAST(SUM(CASE WHEN NOT malformed AND NOT missing_w AND bad_type_w
                THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_type_w,
           CAST(SUM(CASE WHEN NOT malformed AND NOT missing_w
                AND NOT bad_type_w AND fmt_unknown THEN 1 ELSE 0 END)
                AS BIGINT) AS n_fmt_unknown,
           CAST(SUM(CASE WHEN NOT malformed AND NOT missing_w
                AND NOT bad_type_w AND NOT fmt_unknown THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ok,
           CAST(SUM(CASE WHEN NOT malformed AND NOT missing_w
                AND NOT bad_type_w AND NOT fmt_unknown THEN w_val
                ELSE 0 END) AS BIGINT) AS sum_ok_w,
           bit_xor(CASE WHEN NOT malformed AND NOT missing_w
                AND NOT bad_type_w AND NOT fmt_unknown THEN event_id
                ELSE 0 END) AS id_checksum
    FROM flags GROUP BY event_type
    """,
)
def q81(spark, sf_dir):
    """JSON METADATA audit — the P11 nested-document extraction class
    (the reference validates nested claim documents; web pipelines
    validate sidecar JSON metadata) over a derived string with planted
    malformations: truncated JSON, missing key, string-typed number,
    out-of-vocabulary format.  Pure JVM codegen: ``get_json_object`` +
    ``try_cast`` (never an ANSI cast error on dirty data), first-fail
    attribution mirrors the q60 metadata gate.  DuckDB twins via
    json_valid/json_extract_string/TRY_CAST — the engines must agree on
    every malformation class AND on the extracted values (sum + id
    checksum).  Malformation detection is get_json_object(s, '$') IS
    NULL (the whole-document probe), identical to json_valid."""
    e = _spread(spark, sf_dir, "events", "event_id", "event_type").select(
        "event_id", "event_type", F.expr(_q81_json("spark")).alias("s")
    )
    valid = F.expr("get_json_object(s, '$') IS NOT NULL")
    w_raw = F.expr("get_json_object(s, '$.w')")
    w_val = F.expr("try_cast(get_json_object(s, '$.w') AS BIGINT)")
    fmt_ok = F.expr(
        f"COALESCE(get_json_object(s, '$.fmt') IN {_Q81_FMTS}, FALSE)"
    )
    malformed = ~valid
    missing = valid & w_raw.isNull()
    bad_type = valid & w_raw.isNotNull() & w_val.isNull()
    fmt_unknown = valid & ~fmt_ok
    ok = ~malformed & ~missing & ~bad_type & ~fmt_unknown

    def n(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)

    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        n(malformed, "n_malformed"),
        n(~malformed & missing, "n_missing_w"),
        n(~malformed & ~missing & bad_type, "n_bad_type_w"),
        n(~malformed & ~missing & ~bad_type & fmt_unknown, "n_fmt_unknown"),
        n(ok, "n_ok"),
        F.sum(F.when(ok, w_val).otherwise(0)).cast("long").alias("sum_ok_w"),
        F.bit_xor(F.when(ok, F.col("event_id")).otherwise(0)).alias(
            "id_checksum"
        ),
    )


_Q82_M = 256  # deliberately undersized (see q82 docstring)


def _q82_oracle() -> str:
    from ..operators import sketches as SK

    key = "concat('u/p', CAST(doc_id // 3 AS VARCHAR))"
    pkey = "concat('u/p', CAST((doc_id * 2) // 3 AS VARCHAR))"
    build = f"(SELECT {key} AS k FROM documents WHERE doc_id % 2 = 0)"
    probe = f"(SELECT DISTINCT {pkey} AS k FROM documents WHERE doc_id % 2 = 1)"
    positions = SK.bloom_positions_duck_sql(build, "k", m=_Q82_M)
    h = HH.h60_sql("CAST(k AS VARCHAR)")
    probe_pos = " UNION ALL ".join(
        f"SELECT k, CAST(({HH.mix_sql(h, i)}) % {_Q82_M} AS INT) AS pos "
        f"FROM probe"
        for i in range(SK.BLOOM_K)
    )
    kchk = HH.h60_sql("k")
    return f"""
    WITH probe AS ({probe}),
    bits AS ({positions}),
    pp AS ({probe_pos}),
    hits AS (
      SELECT pp.k,
             CAST(SUM(CASE WHEN bits.pos IS NULL THEN 0 ELSE 1 END) AS INT)
               = {SK.BLOOM_K} AS hit
      FROM pp LEFT JOIN bits USING (pos) GROUP BY pp.k
    ),
    members AS (SELECT DISTINCT k FROM {build} b),
    j AS (
      SELECT h.k, h.hit, m.k IS NOT NULL AS member
      FROM hits h LEFT JOIN members m USING (k)
    )
    SELECT COUNT(*) AS n_probed,
           CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_members,
           CAST(SUM(CASE WHEN hit AND NOT member THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positives,
           CAST(SUM(CASE WHEN member AND NOT hit THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_negatives,
           bit_xor(CASE WHEN hit AND NOT member THEN {kchk} ELSE 0 END)
             AS fp_checksum
    FROM j
    """


@_register("q82_bloom_seen_filter", _q82_oracle)
def q82(spark, sf_dir):
    """Deterministic BLOOM "seen URL" filter (operators/sketches.py):
    the crawl-frontier membership primitive — m = 2^16 bits, k = 4
    Mersenne-mix positions over the portable h60, so unlike Spark's
    native bloom the bit layout is engine-reproducible and the FALSE-
    POSITIVE SET itself gets a value-hash oracle (fp_checksum) while
    n_false_negatives is PROVEN zero, not assumed.  Build = one bounded
    distinct of set positions (≤ m keys); probe = map-only bit tests
    against the packed words literal with the h60 bound once per row.
    The oracle probes via an independent positions-JOIN decomposition.
    m is deliberately UNDERSIZED (256 bits for ~84 keys) so the
    false-positive path is genuinely exercised — ~40% of non-members
    hit, and their exact identity set must match the oracle;
    production sizes m ≈ n·k/ln 2 for the target FP rate.  Reference ancestor: P2
    membership filter (claim_analysis.py:30-35) in bounded memory."""
    from ..operators import sketches as SK

    key = F.concat(F.lit("u/p"), F.expr("CAST(doc_id div 3 AS STRING)"))
    # probes span DOUBLE the build keyspace: ~half are members, the
    # rest exercise the false-positive path for real
    pkey = F.concat(
        F.lit("u/p"), F.expr("CAST((doc_id * 2) div 3 AS STRING)")
    )
    d = read_table(spark, sf_dir, "documents")
    build = d.filter(F.col("doc_id") % 2 == 0).select(key.alias("k"))
    words = SK.bloom_words(
        (r["pos"] for r in SK.bloom_build(build, "k", m=_Q82_M).collect()),
        m=_Q82_M,
    )
    probe = (
        d.filter(F.col("doc_id") % 2 == 1).select(pkey.alias("k")).distinct()
    )
    probed = SK.bloom_probe(probe, "k", words, m=_Q82_M, out_col="hit")
    j = probed.join(
        build.distinct().withColumn("member", F.lit(True)), "k", "left"
    ).withColumn("member", F.coalesce("member", F.lit(False)))
    kchk = F.expr(HH.h60_spark_sql("k"))
    return j.agg(
        F.count("*").alias("n_probed"),
        F.sum(F.when(F.col("hit"), 1).otherwise(0)).cast("long").alias("n_hits"),
        F.sum(F.when(F.col("member"), 1).otherwise(0))
        .cast("long")
        .alias("n_members"),
        F.sum(F.when(F.col("hit") & ~F.col("member"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_positives"),
        F.sum(F.when(F.col("member") & ~F.col("hit"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_negatives"),
        F.bit_xor(
            F.when(F.col("hit") & ~F.col("member"), kchk).otherwise(0)
        ).alias("fp_checksum"),
    )


def _q83_oracle() -> str:
    from ..operators import sampling as SP

    h = f"({SP._h60_key_sql('doc_id', 6)})"
    return f"""
    WITH ranked AS (
      SELECT lang, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY {h}, doc_id) AS rn
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_selected,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           bit_xor(doc_id) AS id_checksum
    FROM ranked WHERE rn <= 30 GROUP BY lang
    """


@_register("q83_exact_k_sample", _q83_oracle)
def q83(spark, sf_dir):
    """EXACTLY-K deterministic sampling (operators/sampling.py:
    sample_exact_k): the 30 lowest-hash rows PER LANGUAGE — a fixed-
    SIZE uniform sample (balanced eval probes) where q52's stratified
    sampler gives a fixed RATE; reservoir semantics with zero reservoir
    state, reproducible on any partitioning/engine because the
    permutation is the shared seeded key hash.  Stratified form = one
    rank window partitioned by the stratum; the global form (tested)
    plans as TakeOrderedAndProject — no full sort.  The per-lang
    membership is value-proven by the id checksum.  Reference ancestor:
    S7 sampling scan (additional_charge_checks.py:741) with an exact
    size contract."""
    from ..operators import sampling as SP

    d = read_table(spark, sf_dir, "documents")
    s = SP.sample_exact_k(d, 30, "doc_id", seed=6, strata_col="lang")
    return s.groupBy("lang").agg(
        F.count("*").alias("n_selected"),
        F.sum("n_chars").alias("sum_chars"),
        F.bit_xor("doc_id").alias("id_checksum"),
    )


_Q84_SUFFIX = " résumé français"  # decomposed accents


def _q84_oracle() -> str:

    t = f"(text || '{_Q84_SUFFIX}')"
    return f"""
    WITH n AS (
      SELECT doc_id, {t} AS raw, nfc_normalize({t}) AS norm
      FROM documents WHERE text IS NOT NULL
    )
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN norm <> raw THEN 1 ELSE 0 END) AS BIGINT)
             AS n_changed,
           CAST(SUM(length(raw) - length(norm)) AS BIGINT)
             AS chars_composed,
           bit_xor({HH.h60_sql("norm")}) AS norm_checksum
    FROM n
    """


@_register("q84_nfc_normalization", _q84_oracle)
def q84(spark, sf_dir):
    """Unicode NFC NORMALIZATION audit (functions/normalize.py): the
    ftfy-lite cleanup stage — un-normalized text poisons every
    fingerprint downstream (composed vs decomposed "é" hash
    differently, so exact/line/MinHash dedup and decontamination grams
    silently miss).  Spark has no built-in normalizer, so this is a
    justified Arrow-UDF path (stdlib ``unicodedata``), and the oracle
    is unusually strong for a UDF column: DuckDB's independent
    ``nfc_normalize`` implementation must produce the BYTE-IDENTICAL
    normalized text (h60 checksum over every normalized doc).  Both
    engines append a decomposed-accent suffix so every doc exercises
    composition.  The mojibake-repair half has no SQL twin (codec
    round-trips) and is pinned by Python-twin tests instead.
    Reference ancestor: U1 row validator as a repair."""
    from ..functions import normalize as NZ

    d = (
        _spread(spark, sf_dir, "documents", "text")
        .filter(F.col("text").isNotNull())
        .withColumn("raw", F.concat(F.col("text"), F.lit(_Q84_SUFFIX)))
    )
    # NFC alone — the oracle's exact scope; the mojibake-repair half is
    # python-twin-tested, and including it here would diverge the
    # moment a corpus doc carries a repairable marker sequence
    n = d.withColumn("norm", NZ.nfc_udf(spark)(F.col("raw")))
    return n.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("norm") != F.col("raw"), 1).otherwise(0))
        .cast("long")
        .alias("n_changed"),
        F.sum(F.length("raw") - F.length("norm"))
        .cast("long")
        .alias("chars_composed"),
        F.bit_xor(F.expr(HH.h60_spark_sql("norm"))).alias("norm_checksum"),
    )


def _q85_robots_txt(engine: str) -> str:
    """Shared synthesized robots.txt per source domain: a non-star group
    that must be ignored, then a star group with allow/disallow pairs
    and one per-domain varying rule."""
    nl = "chr(10)" if engine == "duck" else "char(10)"
    cast = "VARCHAR" if engine == "duck" else "STRING"
    k = (
        f"CAST(({HH.h60_sql('source') if engine == 'duck' else HH.h60_spark_sql('source')})"
        f" % 7 AS {cast})"
    )
    parts = [
        "'User-agent: evilbot'",
        "'Disallow: /'",
        "''",
        "'User-agent: *'",
        "'Disallow: /private'",
        "'Allow: /private/ok'",
        f"concat('Disallow: /p', {k})",
    ]
    return f"concat_ws({nl}, {', '.join(parts)})"


def _q85_url(engine: str) -> str:
    cast = "VARCHAR" if engine == "duck" else "STRING"
    did = f"CAST(doc_id AS {cast})"
    mod12 = f"CAST(doc_id % 12 AS {cast})"
    return f"""
    concat('https://', source, '.example.com',
      CASE doc_id % 5
        WHEN 0 THEN concat('/p', {mod12}, '/page')
        WHEN 1 THEN concat('/private/doc', {did})
        WHEN 2 THEN concat('/private/ok/doc', {did})
        WHEN 3 THEN concat('/public/', {did})
        ELSE ''
      END)
    """


def _q85_oracle() -> str:
    txt = _q85_robots_txt("duck")
    url = _q85_url("duck")
    from ..operators import robots as RB

    path = RB.url_path_sql("url")
    return f"""
    WITH robots AS (
      SELECT DISTINCT source || '.example.com' AS domain, {txt} AS txt
      FROM documents
    ),
    lines AS (
      -- generate_subscripts zips with unnest positionally (range() is
      -- not lateral-capable in DuckDB)
      SELECT domain,
             CAST(generate_subscripts(string_split(txt, chr(10)), 1)
                  AS INT) AS idx,
             trim(regexp_replace(regexp_replace(
               unnest(string_split(txt, chr(10))),
               '#.*$', ''), chr(13), '')) AS line
      FROM robots
    ),
    typed AS (
      SELECT domain, idx,
             lower(trim(split_part(line, ':', 1))) AS key,
             trim(substr(line, strpos(line, ':') + 1)) AS value
      FROM lines WHERE strpos(line, ':') > 0
    ),
    lagged AS (
      SELECT *, COALESCE(lag(key = 'user-agent')
               OVER (PARTITION BY domain ORDER BY idx), FALSE) AS prev_ua
      FROM typed
    ),
    blocked AS (
      SELECT *, SUM(CASE WHEN key = 'user-agent' AND NOT prev_ua
                 THEN 1 ELSE 0 END)
               OVER (PARTITION BY domain ORDER BY idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS block_id
      FROM lagged
    ),
    star AS (
      SELECT DISTINCT domain, block_id FROM blocked
      WHERE key = 'user-agent' AND value = '*'
    ),
    rules AS (
      SELECT b.domain, b.key = 'allow' AS allow,
             CASE WHEN b.key = 'allow' THEN
               CASE WHEN strpos(b.value, '*') = 0
                     AND strpos(b.value, '$') = 0 THEN b.value END
             ELSE
               CASE WHEN split_part(regexp_replace(b.value, '\\$$', ''),
                                    '*', 1) = '' THEN '/'
                    ELSE split_part(regexp_replace(b.value, '\\$$', ''),
                                    '*', 1) END
             END AS prefix
      FROM blocked b JOIN star USING (domain, block_id)
      WHERE b.key IN ('allow', 'disallow') AND b.value <> ''
    ),
    clean_rules AS (
      SELECT * FROM rules WHERE prefix IS NOT NULL
    ),
    urls AS (
      SELECT doc_id, source, {url} AS url FROM documents
    ),
    pathed AS (
      SELECT doc_id, source, url, source || '.example.com' AS domain,
             {path} AS path
      FROM urls
    ),
    verdict AS (
      SELECT p.doc_id, p.source,
             COALESCE(
               (SELECT r.allow FROM clean_rules r
                WHERE r.domain = p.domain
                  AND starts_with(p.path, r.prefix)
                ORDER BY length(r.prefix) DESC, r.allow DESC LIMIT 1),
               TRUE) AS allowed
      FROM pathed p
    )
    SELECT source,
           COUNT(*) AS n_urls,
           CAST(SUM(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT)
             AS n_allowed,
           CAST(SUM(CASE WHEN allowed THEN 0 ELSE 1 END) AS BIGINT)
             AS n_blocked,
           bit_xor(CASE WHEN allowed THEN doc_id ELSE 0 END) AS id_checksum
    FROM verdict GROUP BY source
    """


@_register("q85_robots_policy", _q85_oracle)
def q85(spark, sf_dir):
    """robots.txt PARSE + URL permission matching (operators/robots.py)
    — RFC 9309's User-agent-* groups as the crawl politeness layer.
    Parsing is pure Catalyst: comment/CR strip, key:value split,
    User-agent header-run blocks via the q74 lag+cumsum window pattern
    per domain, directives joined to star blocks; matching is a
    broadcast rules join + ONE max(struct(prefix_len, allow)) hash agg
    per URL (longest prefix wins, Allow beats Disallow at ties, no
    match ⇒ allowed).  Both engines synthesize the same robots text —
    including a non-star group that must be IGNORED and a per-domain
    varying rule — and the oracle replays the entire parse +
    longest-prefix election in SQL; the allowed-set id checksum proves
    every verdict.  Reference ancestor: P2 membership filter as a
    per-domain policy."""
    from ..operators import robots as RB

    d = read_table(spark, sf_dir, "documents")
    robots = (
        d.select("source").distinct().select(
            F.concat(F.col("source"), F.lit(".example.com")).alias("domain"),
            F.expr(_q85_robots_txt("spark")).alias("robots_txt"),
        )
    )
    rules = RB.parse_robots(robots)
    urls = d.select(
        "doc_id", "source", F.expr(_q85_url("spark")).alias("url")
    )
    v = RB.apply_robots(
        urls, rules, url_col="url", id_cols=("doc_id", "source")
    )
    return v.groupBy("source").agg(
        F.count("*").alias("n_urls"),
        F.sum(F.when(F.col("robots_allowed"), 1).otherwise(0))
        .cast("long")
        .alias("n_allowed"),
        F.sum(F.when(F.col("robots_allowed"), 0).otherwise(1))
        .cast("long")
        .alias("n_blocked"),
        F.bit_xor(
            F.when(F.col("robots_allowed"), F.col("doc_id")).otherwise(0)
        ).alias("id_checksum"),
    )


def _q86_oracle() -> str:
    from ..functions import quality_clf as QC

    keep = RU.keep_verdict_sql("text")
    score = QC.score_duck_sql("text")
    return f"""
    WITH v AS (
      SELECT doc_id, lang,
             COALESCE({keep}, FALSE) AS heur,
             ROUND({score}, 4) >= {QC.MIN_QUALITY_SCORE} AS clf
      FROM documents WHERE text IS NOT NULL
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN heur AND clf THEN 1 ELSE 0 END) AS BIGINT)
             AS n_both_keep,
           CAST(SUM(CASE WHEN NOT heur AND NOT clf THEN 1 ELSE 0 END)
                AS BIGINT) AS n_both_drop,
           CAST(SUM(CASE WHEN heur AND NOT clf THEN 1 ELSE 0 END) AS BIGINT)
             AS n_heur_only,
           CAST(SUM(CASE WHEN clf AND NOT heur THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clf_only,
           bit_xor(CASE WHEN heur <> clf THEN doc_id ELSE 0 END)
             AS disagree_checksum
    FROM v GROUP BY lang
    """


@_register("q86_rule_vs_model_agreement", _q86_oracle)
def q86(spark, sf_dir):
    """RULE-vs-MODEL agreement audit: the confusion matrix between the
    heuristic keep verdict (Gopher/C4 rules) and the trained quality
    classifier at the pipeline gate — the calibration check a team runs
    before trusting a learned filter to replace (or veto) hand rules,
    and the reference's Check-3 "two stats sources must agree" contract
    applied to the two quality engines.  BOTH columns have exact DuckDB
    twins (q23's rule SQL, q51's embedded-weight scorer), so every cell
    AND the exact disagreement membership (checksum) are value-proven.
    One scan, one ArrowEvalPython (the classifier), one exchange."""
    from ..functions import quality_clf as QC

    d = _spread(spark, sf_dir, "documents", "doc_id", "lang", "text").filter(
        F.col("text").isNotNull()
    )
    q = QC.quality_udf(spark)
    v = d.select(
        "doc_id",
        "lang",
        F.coalesce(RU.keep_verdict(F.col("text")), F.lit(False)).alias("heur"),
        # threshold on the 4 dp-rounded score: the scorer twins agree
        # on the rounded grid, so a boundary-straddling raw float can
        # never flip the verdict between engines
        (F.round(q(F.col("text")), 4) >= QC.MIN_QUALITY_SCORE).alias("clf"),
    )
    return v.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("heur") & F.col("clf"), 1).otherwise(0))
        .cast("long")
        .alias("n_both_keep"),
        F.sum(F.when(~F.col("heur") & ~F.col("clf"), 1).otherwise(0))
        .cast("long")
        .alias("n_both_drop"),
        F.sum(F.when(F.col("heur") & ~F.col("clf"), 1).otherwise(0))
        .cast("long")
        .alias("n_heur_only"),
        F.sum(F.when(F.col("clf") & ~F.col("heur"), 1).otherwise(0))
        .cast("long")
        .alias("n_clf_only"),
        F.bit_xor(
            F.when(F.col("heur") != F.col("clf"), F.col("doc_id")).otherwise(0)
        ).alias("disagree_checksum"),
    )


# no backslash classes: Spark's SQL literal parser eats a single
# backslash ('\\s' -> 's'), silently truncating URLs that end in
# 's' while DuckDB keeps them — whitespace is handled by the
# explicit trim on both sides instead
# the single source of the <loc> capture — plan_crawl's discovery stage
# and this oracle-certified query must parse identically
from .crawl import SITEMAP_LOC_PATTERN as _Q87_LOC  # noqa: E402


def _q87_sitemap(engine: str) -> str:
    """Synthesized per-source sitemap XML: four <url> entries per source
    page id, two of which are tracking-param/WWW variants of the same
    canonical URL, plus whitespace padding inside <loc> (the spec allows
    it; extraction must trim)."""
    cast = "VARCHAR" if engine == "duck" else "STRING"
    div = "//" if engine == "duck" else "div"
    pg = f"CAST(doc_id {div} 4 AS {cast})"
    base = f"concat('https://', source, '.example.com/page/', {pg})"
    return f"""
    concat(
      '<?xml version="1.0"?><urlset>',
      '<url><loc>', {base}, '</loc></url>',
      '<url><loc> ', {base}, '?utm_source=map </loc></url>',
      '<url><loc>', 'https://www.', source, '.example.com/page/', {pg},
        '</loc></url>',
      '<url><loc>', {base}, '/extra</loc></url>',
      '</urlset>')
    """


def _q87_oracle() -> str:
    from ..operators import domains as DM

    canon = DM.canonicalize_url_sql("loc")
    return f"""
    WITH maps AS (
      SELECT doc_id, source, {_q87_sitemap("duck")} AS xml FROM documents
    ),
    locs AS (
      SELECT doc_id, source,
             trim(unnest(regexp_extract_all(xml, '{_Q87_LOC}', 1))) AS loc
      FROM maps
    ),
    canon AS (
      SELECT doc_id, source, loc, {canon} AS canonical FROM locs
    )
    SELECT source,
           COUNT(*) AS n_locs,
           CAST(COUNT(DISTINCT canonical) AS BIGINT) AS n_canonical,
           bit_xor({HH.h60_sql("canonical")}) AS canon_checksum
    FROM canon GROUP BY source
    """


@_register("q87_sitemap_discovery", _q87_oracle)
def q87(spark, sf_dir):
    """SITEMAP URL discovery — the crawl-frontier feed that pairs with
    the q85 robots gate and the q82 seen-filter: extract every
    ``<loc>`` from sitemap XML (regexp_extract_all, pure codegen — the
    q63 HTML machinery's dialect discipline), trim the spec-permitted
    whitespace, and CANONICALIZE each URL with the q61 operator so
    tracking-param and www variants collapse before they enter the
    frontier.  Both engines synthesize the same per-source sitemaps
    (with planted variant pairs that must collapse: 4 locs → 2
    canonicals per entry) and value-hash every canonical form.
    MAP-ONLY until the per-source report agg.  Reference ancestor: P15
    unnest over derived arrays."""
    from ..operators import domains as DM

    d = _spread(spark, sf_dir, "documents", "doc_id", "source")
    maps = d.select(
        "doc_id", "source", F.expr(_q87_sitemap("spark")).alias("xml")
    )
    locs = maps.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(f"regexp_extract_all(xml, '{_Q87_LOC}', 1)")
        ).alias("loc"),
    ).withColumn("loc", F.trim("loc"))
    canon = locs.withColumn("canonical", DM.canonicalize_url(F.col("loc")))
    return canon.groupBy("source").agg(
        F.count("*").alias("n_locs"),
        F.countDistinct("canonical").alias("n_canonical"),
        F.bit_xor(F.expr(HH.h60_spark_sql("canonical"))).alias(
            "canon_checksum"
        ),
    )


_Q88_STEPS = ("view", "click", "purchase")
# 24h funnel window: the fixture's event density (~2 events/user/day)
# needs day-scale sessions for multi-step journeys; the 30-min default
# yields 1-event sessions and a vacuous funnel (0 conversions)
_Q88_GAP_US = 24 * 3600 * 1_000_000


def _q88_oracle() -> str:
    from ..operators import sessions as SN

    rows = SN.sessionize_rows_duck_sql(
        "events", extra_cols="event_type", gap_us=_Q88_GAP_US
    )
    a, b, c = _Q88_STEPS
    return f"""
    WITH r AS ({rows}),
    s1 AS (
      SELECT user_id, session_idx,
             MIN(CASE WHEN event_type = '{a}' THEN epoch_us(ts) END) AS t1
      FROM r GROUP BY user_id, session_idx
    ),
    s2 AS (
      SELECT r.user_id, r.session_idx, MAX(s1.t1) AS t1,
             MIN(CASE WHEN event_type = '{b}' AND epoch_us(ts) >= s1.t1
                 THEN epoch_us(ts) END) AS t2
      FROM r JOIN s1 USING (user_id, session_idx)
      GROUP BY r.user_id, r.session_idx
    ),
    s3 AS (
      SELECT r.user_id, r.session_idx, MAX(s2.t1) AS t1, MAX(s2.t2) AS t2,
             MIN(CASE WHEN event_type = '{c}' AND epoch_us(ts) >= s2.t2
                 THEN epoch_us(ts) END) AS t3
      FROM r JOIN s2 USING (user_id, session_idx)
      GROUP BY r.user_id, r.session_idx
    )
    SELECT COUNT(*) AS n_sessions,
           CAST(COUNT(t1) AS BIGINT) AS n_step1,
           CAST(COUNT(t2) AS BIGINT) AS n_step2,
           CAST(COUNT(t3) AS BIGINT) AS n_step3,
           bit_xor(CASE WHEN t3 IS NOT NULL
                   THEN CAST(user_id * 1000003 + session_idx AS BIGINT)
                   ELSE 0 END) AS converted_checksum
    FROM s3
    """


def _q88_sessions(events: DataFrame) -> DataFrame:
    """(user_id, session_idx, _ev): one row per session of ``events``,
    with ``_ev`` the session's timestamped funnel events as (us, t)
    structs.  A NULL user_id is no user: the oracle's staged `JOIN …
    USING (user_id, session_idx)` drops those events, while the groupBy
    below would keep them as one (all-NULL-users) session."""
    from ..operators import sessions as SN

    r = SN.sessionize(
        events.filter(F.col("user_id").isNotNull()), gap_us=_Q88_GAP_US
    ).withColumn("_us", F.unix_micros(F.col("ts").cast("timestamp")))
    # ONE aggregation instead of the step-wise `r ⋈ s1 ⋈ s2` chain
    # (round-6, guide §2.4): the sessionize window already hash-
    # partitions by user_id, which clusters (user_id, session_idx), so
    # this groupBy adds NO exchange — the old form recomputed the
    # sessionize window three times and re-exchanged per step.  Only
    # funnel events with a timestamp are collected (collect_list skips
    # the NULL `when` yields), so a list is bounded by its session's
    # funnel events, not by the session's length; the aggregate still
    # runs over every row, so a session without funnel events keeps its
    # row (and counts in n_sessions).
    return r.groupBy("user_id", "session_idx").agg(
        F.collect_list(
            F.when(
                F.col("event_type").isin(*_Q88_STEPS)
                & F.col("_us").isNotNull(),
                F.struct(
                    F.col("_us").alias("us"), F.col("event_type").alias("t")
                ),
            )
        ).alias("_ev")
    )


@_register("q88_session_funnel", _q88_oracle)
def q88(spark, sf_dir):
    """In-session FUNNEL conversion (view → click → purchase): the
    ordered-sequence analytics family — a session converts step k only
    if step k's event occurs AT OR AFTER the first completion of step
    k−1 (strictly ordered funnel, exact unix_micros comparisons).
    Composition: q74 sessionization → one hash agg per step, each
    keyed on (user, session) so the session partitioning is reused —
    no window over event sequences, no UDF state machine.  The
    converted-session checksum value-proves exactly WHICH sessions
    completed all three steps.  Reference ancestor: Check-2's staged
    escalation (charge_analysis_checks.py:352-620) as an ordered
    event-sequence rule."""
    a, b, c = _Q88_STEPS
    # Each step-k time is a min over the session's funnel events filtered
    # by "step-k type AND at/after step k−1's time" — a pure min, so the
    # collected event list needs no ordering, and a NULL threshold drops
    # out of the HOF filter exactly as it dropped out of the old
    # `min(when(...))` (null predicate ⇒ row excluded ⇒ min over the
    # empty set is NULL).  Step-by-step equality with the old join chain
    # is pinned by the q88 oracle (unchanged) which still computes the
    # three staged joins.
    step = lambda lst, typ, thr: F.array_min(  # noqa: E731
        F.transform(
            F.filter(lst, lambda x: (x["t"] == typ) & (x["us"] >= thr)),
            lambda x: x["us"],
        )
    )
    s3 = (
        _q88_sessions(read_table(spark, sf_dir, "events"))
        .withColumn(
            "t1",
            F.array_min(
                F.transform(
                    F.filter(F.col("_ev"), lambda x: x["t"] == a),
                    lambda x: x["us"],
                )
            ),
        )
        .withColumn("t2", step(F.col("_ev"), b, F.col("t1")))
        .withColumn("t3", step(F.col("_ev"), c, F.col("t2")))
    )
    return s3.agg(
        F.count("*").alias("n_sessions"),
        F.count("t1").cast("long").alias("n_step1"),
        F.count("t2").cast("long").alias("n_step2"),
        F.count("t3").cast("long").alias("n_step3"),
        F.bit_xor(
            F.when(
                F.col("t3").isNotNull(),
                F.col("user_id") * 1000003 + F.col("session_idx"),
            ).otherwise(0)
        ).alias("converted_checksum"),
    )


_Q89_SITES = 23  # synthetic domain universe: siteK.example.com, K in [0, 23)


def _q89_pages(d: DataFrame) -> DataFrame:
    """Deterministic page synthesis shared (by construction) with the
    q89 oracle: doc i lives on site (i % 23) and carries
    (i % 4) + 1 anchors, link j pointing at site (7i + 13j) % 23 —
    self-links occur whenever 6i + 13j ≡ 0 (mod 23), deliberately, so
    the self-loop drop is exercised.  src_domain goes through the REAL
    extractor (q55/q59/q61's), not a shortcut."""
    did = F.col("doc_id")

    def url(e) -> Column:
        return F.concat(
            F.lit("https://site"),
            e.cast("string"),
            F.lit(".example.com/p"),
            did.cast("string"),
        )

    frags = [
        F.when(
            (did % 4) + 1 >= j,
            F.concat(
                F.lit('<a href="'),
                url((did * 7 + j * 13) % _Q89_SITES),
                F.lit('">x</a>'),
            ),
        ).otherwise(F.lit(""))
        for j in range(1, 5)
    ]
    from ..operators import domains as DM

    return d.select(
        DM.extract_domain(url(did % _Q89_SITES)).alias("src_domain"),
        F.concat(*frags).alias("html"),
    )


def _q89_oracle() -> str:
    from ..operators import domains as DM
    from ..operators import linkgraph as LG

    def url(e: str) -> str:
        return (
            f"'https://site' || CAST({e} AS VARCHAR) || '.example.com/p' "
            "|| CAST(doc_id AS VARCHAR)"
        )

    frags = " || ".join(
        f"""CASE WHEN (doc_id % 4) + 1 >= {j}
             THEN '<a href="' || {url(f"(doc_id * 7 + {j} * 13) % {_Q89_SITES}")} || '">x</a>'
             ELSE '' END"""
        for j in (1, 2, 3, 4)
    )
    return f"""
    WITH pages AS (
      SELECT {DM.extract_domain_sql(url(f"doc_id % {_Q89_SITES}"))} AS src_domain,
             {frags} AS html
      FROM documents
    ),
    edges AS ({LG.domain_edges_duck_sql("pages")}),
    {LG.pagerank_duck_ctes("edges", iters=1)},
    indeg AS (
      SELECT dst_domain AS domain,
             CAST(SUM(weight) AS BIGINT) AS n_inlinks,
             CAST(COUNT(DISTINCT src_domain) AS BIGINT) AS n_src_domains
      FROM edges GROUP BY 1
    ),
    outd AS (
      SELECT src_domain AS domain,
             CAST(SUM(weight) AS BIGINT) AS n_outlinks
      FROM edges GROUP BY 1
    )
    SELECT p.domain,
           COALESCE(i.n_inlinks, 0) AS n_inlinks,
           COALESCE(i.n_src_domains, 0) AS n_src_domains,
           COALESCE(o.n_outlinks, 0) AS n_outlinks,
           ROUND(p.pr, 6) AS pr
    FROM pr1 p
    LEFT JOIN indeg i USING (domain)
    LEFT JOIN outd o USING (domain)
    """


@_register("q89_link_graph_authority", _q89_oracle)
def q89(spark, sf_dir):
    """LINK-GRAPH source authority (operators/linkgraph.py): href
    extraction (one regexp_extract_all, pure Catalyst) → weighted
    domain→domain edges (self-loops dropped, targets normalized by the
    SAME extract_domain as q55/q59/q61) → damped PageRank, plus inlink /
    referring-domain / outlink tallies — the citation-structure
    reputation prior that complements q59's content-based one.  Scale
    shape: the corpus is touched ONCE (projection before the explode,
    one graph-sized hash agg); every PageRank round after that is one
    join + one agg over |domains|² ≪ corpus edges.  The oracle unrolls
    the iteration into CTEs — an independent decomposition — and
    value-checks all 23 domains' degrees AND scores at 6 dp.  Reference
    ancestor: per-payer historical stats tiers
    (charge_analysis_checks.py:758-806) as an upstream source-reputation
    prior; Page et al. 1999 for the recurrence."""
    from ..operators import linkgraph as LG

    d = _spread(spark, sf_dir, "documents")
    return LG.domain_authority(_q89_pages(d), "src_domain", "html", iters=1)


def _q90_images(d: DataFrame) -> DataFrame:
    """Deterministic binary-image synthesis shared with the q90 oracle:
    doc i is a (i%4)-chosen format (jpeg/png/gif/bin) whose body is the
    md5 hex of its text wrapped in the format's REAL framing bytes; every
    11th doc gets its first byte stomped to 0x00 (bad magic), every 7th
    loses its final byte (truncated download — the common crawl failure).
    GIF's 1-byte trailer means a truncated gif can still end in 0x3b by
    md5 luck; both engines share the synthesis, so that realism is
    oracle-safe."""
    from ..operators.images import STRUCTURAL_MAGIC

    did = F.col("doc_id")
    payload = F.md5(F.coalesce(F.col("text"), F.lit("")))
    fmt = (
        F.when(did % 4 == 0, F.lit("jpeg"))
        .when(did % 4 == 1, F.lit("png"))
        .when(did % 4 == 2, F.lit("gif"))
        .otherwise(F.lit("bin"))
    )
    hx = F.lit(None).cast("string")
    for name, (hh, th) in STRUCTURAL_MAGIC.items():
        hx = F.when(
            fmt == name, F.concat(F.lit(hh), payload, F.lit(th))
        ).otherwise(hx)
    hx = F.coalesce(hx, payload)  # 'bin': no framing rule
    hx = F.when(
        did % 11 == 0, F.concat(F.lit("00"), F.substring(hx, 3, 1_000_000))
    ).otherwise(hx)
    hx = F.when(
        did % 7 == 0, F.substring(hx, F.lit(1), F.length(hx) - 2)
    ).otherwise(hx)
    return d.select("doc_id", fmt.alias("fmt"), F.unhex(hx).alias("bytes"))


def _q90_oracle() -> str:
    from ..operators import images as IM

    arms = " ".join(
        f"WHEN '{name}' THEN '{hh}' || payload || '{th}'"
        for name, (hh, th) in IM.STRUCTURAL_MAGIC.items()
    )

    def n_true(which: str) -> str:
        flag = IM.structural_flag_sql("bytes", "fmt", which)
        return (
            f"CAST(SUM(CASE WHEN {flag} THEN 1 ELSE 0 END) AS BIGINT) "
            f"AS n_{which}"
        )

    intact = IM.structural_flag_sql("bytes", "fmt", "intact")
    return f"""
    WITH base AS (
      SELECT doc_id,
             CASE doc_id % 4 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
                  WHEN 2 THEN 'gif' ELSE 'bin' END AS fmt,
             md5(COALESCE(text, '')) AS payload
      FROM documents
    ),
    hx0 AS (
      SELECT doc_id, fmt,
             CASE fmt {arms} ELSE payload END AS hx
      FROM base
    ),
    hx1 AS (
      SELECT doc_id, fmt,
             CASE WHEN doc_id % 11 = 0 THEN '00' || substring(hx, 3)
                  ELSE hx END AS hx
      FROM hx0
    ),
    imgs AS (
      SELECT doc_id, fmt,
             unhex(CASE WHEN doc_id % 7 = 0 THEN left(hx, length(hx) - 2)
                        ELSE hx END) AS bytes
      FROM hx1
    )
    SELECT fmt,
           COUNT(*) AS n_images,
           CAST(SUM(CASE WHEN {intact} IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_checked,
           {n_true("header_ok")},
           {n_true("trailer_ok")},
           {n_true("intact")},
           bit_xor(CASE WHEN {intact} = FALSE THEN doc_id ELSE 0 END)
             AS corrupt_checksum
    FROM imgs GROUP BY 1
    """


@_register("q90_image_structural_integrity", _q90_oracle)
def q90(spark, sf_dir):
    """Image STRUCTURAL-INTEGRITY pre-gate (operators/images.py:
    structural_flags): magic + end-of-image trailer framing decided
    JVM-side on the binary column — substring/length/equality on
    BinaryType are pure whole-stage codegen, so a truncated download
    (header pristine, trailer gone: the dominant crawl corruption) is
    reported without its bytes ever crossing to Python.  Tri-state
    semantics: formats with no framing rule stay NULL-verdict, distinct
    from "checked and failed".  The corrupt-set
    checksum value-proves exactly WHICH files each engine rejected.
    Oracle: an independent hex-string decomposition (DuckDB has no blob
    substring — left/right over hex(blob)).  Reference ancestor: U1's
    per-row validator (additional_charge_checks.py:758-792) as the
    cheap structural half of the q60→decode cost ladder."""
    from ..operators import images as IM

    d = read_table(spark, sf_dir, "documents")
    imgs = IM.structural_gate(_q90_images(d), "bytes", "fmt")
    fl = F.col("framing")
    return imgs.groupBy("fmt").agg(
        F.count("*").alias("n_images"),
        F.sum(F.when(fl["intact"].isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_checked"),
        F.sum(F.when(fl["header_ok"], 1).otherwise(0))
        .cast("long")
        .alias("n_header_ok"),
        F.sum(F.when(fl["trailer_ok"], 1).otherwise(0))
        .cast("long")
        .alias("n_trailer_ok"),
        F.sum(F.when(fl["intact"], 1).otherwise(0))
        .cast("long")
        .alias("n_intact"),
        F.bit_xor(
            F.when(fl["intact"] == False, F.col("doc_id")).otherwise(0)  # noqa: E712
        ).alias("corrupt_checksum"),
    )


_Q91_CAP = 8  # politeness: at most 8 of a domain's URLs per fetch wave


def _q91_oracle() -> str:
    from ..operators import frontier as FR

    urls = (
        "SELECT 'https://' || source || '.example.com/p' "
        "|| CAST(doc_id AS VARCHAR) AS url FROM documents"
    )
    return f"WITH urls AS ({urls})\n" + FR.fetch_plan_duck_sql(
        "urls", "url", _Q91_CAP
    )


@_register("q91_fetch_plan", _q91_oracle)
def q91(spark, sf_dir):
    """Crawl-frontier POLITENESS plan (operators/frontier.py): every URL
    gets a deterministic per-domain rank (ordered by the portable h60
    hash — same waves on any cluster size, retry, or engine) and a fetch
    slot = (rank−1) div cap, so wave k carries at most cap URLs per
    domain; the report's max_per_domain column IS the politeness proof
    and the per-wave h60 checksum value-pins wave membership.  This is
    the dispatch stage after the q85 robots gate, q87 sitemap discovery,
    q61 canonical collapse, and q82 seen-filter.  Plan: one
    hash-by-domain exchange feeds the ordered window (hot-domain cost =
    that domain's URL count; the q69 two-phase rank is the 10^9-URL
    escape hatch, per the operator docstring), then two graph-sized hash
    aggs.  Reference ancestor: S7 sampling scan
    (additional_charge_checks.py:741) as bounded-batch work dispatch."""
    from ..operators import frontier as FR

    d = read_table(spark, sf_dir, "documents")
    urls = d.select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/p"),
            F.col("doc_id").cast("string"),
        ).alias("url")
    )
    return FR.fetch_plan(urls, "url", _Q91_CAP)


def _q92_pages(d: DataFrame) -> DataFrame:
    """q89's deterministic link topology with anchor TEXT from a 5-word
    vocabulary ('anchor-{(i+3j) % 5}'), so per-target-domain text
    elections have real frequency structure and ties."""
    did = F.col("doc_id")

    def url(e) -> Column:
        return F.concat(
            F.lit("https://site"),
            e.cast("string"),
            F.lit(".example.com/p"),
            did.cast("string"),
        )

    frags = [
        F.when(
            (did % 4) + 1 >= j,
            F.concat(
                F.lit('<a href="'),
                url((did * 7 + j * 13) % _Q89_SITES),
                F.lit('">anchor-'),
                ((did + 3 * j) % 5).cast("string"),
                F.lit("</a>"),
            ),
        ).otherwise(F.lit(""))
        for j in range(1, 5)
    ]
    from ..operators import domains as DM

    return d.select(
        DM.extract_domain(url(did % _Q89_SITES)).alias("src_domain"),
        F.concat(*frags).alias("html"),
    )


def _q92_oracle() -> str:
    from ..operators import domains as DM
    from ..operators import linkgraph as LG

    def url(e: str) -> str:
        return (
            f"'https://site' || CAST({e} AS VARCHAR) || '.example.com/p' "
            "|| CAST(doc_id AS VARCHAR)"
        )

    frags = " || ".join(
        f"""CASE WHEN (doc_id % 4) + 1 >= {j}
             THEN '<a href="' || {url(f"(doc_id * 7 + {j} * 13) % {_Q89_SITES}")}
                  || '">anchor-' || CAST((doc_id + 3 * {j}) % 5 AS VARCHAR) || '</a>'
             ELSE '' END"""
        for j in (1, 2, 3, 4)
    )
    pat = LG.ANCHOR_PATTERN
    return f"""
    WITH pages AS (
      SELECT {DM.extract_domain_sql(url(f"doc_id % {_Q89_SITES}"))} AS src_domain,
             {frags} AS html
      FROM documents
    ),
    anchors AS (
      SELECT src_domain, z[1] AS link_url, trim(z[2]) AS anchor_text
      FROM (
        SELECT src_domain,
               UNNEST(list_zip(regexp_extract_all(html, '{pat}', 1),
                               regexp_extract_all(html, '{pat}', 2))) AS z
        FROM pages
      )
    ),
    f AS (
      SELECT {DM.extract_domain_sql('link_url')} AS domain,
             anchor_text, COUNT(*) AS n
      FROM anchors
      WHERE {DM.extract_domain_sql('link_url')} IS NOT NULL
        AND {DM.extract_domain_sql('link_url')} <> src_domain
        AND anchor_text <> ''
      GROUP BY 1, 2
    ),
    r AS (
      SELECT domain, anchor_text, n,
             ROW_NUMBER() OVER (PARTITION BY domain
                                ORDER BY n DESC, anchor_text) AS rn
      FROM f
    )
    SELECT r.domain,
           s.n_anchors,
           s.n_distinct_texts,
           r.anchor_text AS top_text,
           CAST(r.n AS BIGINT) AS top_text_n
    FROM r
    JOIN (
      SELECT domain, CAST(SUM(n) AS BIGINT) AS n_anchors,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_texts
      FROM f GROUP BY 1
    ) s USING (domain)
    WHERE rn = 1
    """


@_register("q92_anchor_text_profile", _q92_oracle)
def q92(spark, sf_dir):
    """ANCHOR-TEXT profile per target domain (operators/linkgraph.py:
    anchor_text_profile): what OTHER sites call a page — the classic
    relevance/quality complement to q89's structural authority.  Pairs
    come from ONE pattern read twice (group 1 = href, group 2 = text) so
    arrays_zip is positionally exact; election of the top text is the
    q19 min(struct(-n, text)) hash aggregate — most-frequent wins, ties
    to the lexicographically smallest, never a window.  Self-links and
    empty (image-only) anchors are excluded.  Oracle: independent
    ROW_NUMBER decomposition over a DuckDB list_zip replay of the same
    parse.  Reference ancestor: A10 $first-in-group election
    (claim_analysis.py:196-205) lifted to the link graph's text axis."""
    from ..operators import linkgraph as LG

    d = _spread(spark, sf_dir, "documents")
    return LG.anchor_text_profile(_q92_pages(d), "src_domain", "html")


_Q93_BUCKETS = 64  # phash-bucket layout width
_Q93_HOT = 7  # the planted hot bucket (~1/3 of the corpus lands here)


def _q93_bucket_sql(engine: str) -> str:
    """Shared bucket rule: every third image collapses into one hot
    bucket (the 'language/format hot spot' of the north rule), the rest
    spread by a multiplicative mix."""
    assert engine in ("spark", "duck")
    return (
        f"CASE WHEN doc_id % 3 = 0 THEN {_Q93_HOT} "
        f"ELSE (doc_id * 31) % {_Q93_BUCKETS} END"
    )


def _q93_oracle() -> str:
    bucket = _q93_bucket_sql("duck")
    return f"""
    WITH per AS (
      SELECT {bucket} AS phash_bucket,
             COUNT(*) AS n_images,
             bit_xor(doc_id) AS id_checksum
      FROM documents GROUP BY 1
    ),
    tot AS (SELECT SUM(n_images) AS total FROM per)
    SELECT phash_bucket,
           CAST(n_images AS BIGINT) AS n_images,
           id_checksum,
           (n_images * {_Q93_BUCKETS} > 2 * total) AS hot
    FROM per, tot
    """


@_register("q93_phash_bucket_layout", _q93_oracle)
def q93(spark, sf_dir):
    """pHash-bucket LAYOUT audit under EXPLICIT SALTING (operators/
    skew.py:two_phase_agg): the per-bucket image counts + membership
    checksums that a phash-partitioned Iceberg writer reviews before
    committing a layout, computed with the salt → partial(key, salt) →
    merge(key) two-phase aggregate so the planted hot bucket (a third of
    the corpus) spreads over n salt reducers instead of landing on one
    task — the north rule's 'explicit salting for skewed hot spots'
    mechanism, here under an oracle instead of only test_skew.  The
    oracle is the PLAIN single-phase GROUP BY: value equality (counts
    AND bit_xor membership) proves the salted decomposition exact.
    Buckets >2x the mean are flagged hot via a single-row broadcast
    cross-join (q59's pattern — no second corpus pass).  Reference
    ancestor: S6 index/partitioning discipline (database.py init_indexes)
    + A16 bucketed histogram (payer_analysis.py)."""
    from ..operators import skew as SK

    d = read_table(spark, sf_dir, "documents")
    buckets = d.select(
        F.expr(_q93_bucket_sql("spark")).alias("phash_bucket"), "doc_id"
    )
    per = SK.two_phase_agg(
        buckets,
        "phash_bucket",
        partial_aggs=[
            F.count("*").alias("_n"),
            F.bit_xor("doc_id").alias("_ck"),
        ],
        final_aggs=[
            F.sum("_n").cast("long").alias("n_images"),
            F.bit_xor("_ck").alias("id_checksum"),
        ],
        n=8,
        salt_cols=["doc_id"],
    )
    tot = per.agg(F.sum("n_images").alias("_total"))
    return per.crossJoin(F.broadcast(tot)).select(
        "phash_bucket",
        "n_images",
        "id_checksum",
        (F.col("n_images") * _Q93_BUCKETS > 2 * F.col("_total")).alias("hot"),
    )


_Q94_TOPK = 3  # terms reported per domain


def _q94_oracle() -> str:
    toks = TX.WS_TOKENS_DUCK.format(c="text")
    return f"""
    WITH toks AS (
      SELECT source, UNNEST({toks}) AS term
      FROM documents WHERE text IS NOT NULL
    ),
    tf AS (
      SELECT source, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ),
    df AS (
      SELECT term, COUNT(*) AS df_domains FROM tf GROUP BY 1
    ),
    nd AS (
      SELECT COUNT(DISTINCT source) AS n_domains FROM tf
    ),
    scored AS (
      SELECT tf.source, tf.term, tf.tf, df.df_domains,
             ROUND(tf.tf * ln(CAST(nd.n_domains AS DOUBLE) / df.df_domains),
                   4) AS tfidf
      FROM tf JOIN df USING (term), nd
    )
    SELECT source, term, CAST(tf AS BIGINT) AS tf,
           CAST(df_domains AS BIGINT) AS df_domains, tfidf,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY source
        ORDER BY tfidf DESC, tf DESC, df_domains ASC, term ASC
      ) AS rnk
      FROM scored
    )
    WHERE rnk <= {_Q94_TOPK}
    """


@_register("q94_domain_top_terms", _q94_oracle)
def q94(spark, sf_dir):
    """TF-IDF TOP TERMS per source domain — the per-source vocabulary
    profile curators read before trusting a domain tier (and the
    feature feed a q62-style importance sampler would use).  tf = term
    count within the domain, idf = ln(N_domains / df_domains), both from
    ONE tokenize-explode pass (projection before the generator) and two
    graph-sized hash aggregates; N_domains rides in as a single-row
    broadcast cross-join (q59's pattern).  Ranking is grid-stable across
    engines (the q86 lesson): ROUND(score, 4) first, then the EXACT
    integer chain (tf DESC, df ASC, term ASC) so a 1-ulp ln() divergence
    cannot reorder rows; the per-domain window is bounded by that
    domain's vocabulary.  Reference ancestor: A14 group-count
    distribution (payer_analysis.py) lifted to the term axis with an
    inverse-document weight."""
    d = _spread(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = d.select(
        "source",
        F.explode(F.expr(TX.WS_TOKENS_SPARK.format(c="text"))).alias("term"),
    )
    tf = toks.groupBy("source", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df_domains"))
    nd = tf.agg(F.countDistinct("source").alias("n_domains"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "source",
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df_domains").cast("long").alias("df_domains"),
            F.round(
                F.col("tf")
                * F.log(
                    F.col("n_domains").cast("double") / F.col("df_domains")
                ),
                4,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("tfidf").desc(),
        F.col("tf").desc(),
        F.col("df_domains").asc(),
        F.col("term").asc(),
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _Q94_TOPK)
    )


def _q95_keys(engine: str) -> tuple[str, str]:
    """Shared (img_key, cap_key) synthesis: per 8-block, residues {0,1}
    share BOTH fingerprints (true duplicate pair), {2,3} share only the
    image (re-captioned dup), {4,5} share only the caption (stock
    caption), {6,7} are unique — every crosstab class is planted with
    known mass.  Unique keys are NEGATIVE (−1−2·doc_id / −2−2·doc_id):
    disjoint from the non-negative shared keys AND from each other at
    EVERY scale factor — a fixed additive offset would collide with
    block keys once doc_id outgrew it (review finding)."""
    div = "doc_id // 8" if engine == "duck" else "doc_id div 8"
    img = (
        f"CASE WHEN doc_id % 8 IN (0, 1) THEN ({div}) * 10 + 1 "
        f"WHEN doc_id % 8 IN (2, 3) THEN ({div}) * 10 + 2 "
        "ELSE -1 - 2 * doc_id END"
    )
    cap = (
        f"CASE WHEN doc_id % 8 IN (0, 1) THEN ({div}) * 10 + 3 "
        f"WHEN doc_id % 8 IN (4, 5) THEN ({div}) * 10 + 4 "
        "ELSE -2 - 2 * doc_id END"
    )
    return img, cap


def _q95_oracle() -> str:
    img, cap = _q95_keys("duck")
    return f"""
    WITH rows_ AS (
      SELECT doc_id, {img} AS img_key, {cap} AS cap_key FROM documents
    ),
    ni AS (SELECT img_key, COUNT(*) AS n_img FROM rows_ GROUP BY 1),
    nc AS (SELECT cap_key, COUNT(*) AS n_cap FROM rows_ GROUP BY 1),
    np AS (
      SELECT img_key, cap_key, COUNT(*) AS n_pair
      FROM rows_ GROUP BY 1, 2
    ),
    labeled AS (
      SELECT r.doc_id, r.img_key,
             CASE WHEN np.n_pair > 1 THEN 'exact_pair'
                  WHEN ni.n_img > 1 THEN 'recaptioned_image'
                  WHEN nc.n_cap > 1 THEN 'stock_caption'
                  ELSE 'unique' END AS dup_class
      FROM rows_ r
      JOIN ni USING (img_key)
      JOIN nc USING (cap_key)
      JOIN np USING (img_key, cap_key)
    )
    SELECT dup_class,
           COUNT(*) AS n_rows,
           CAST(COUNT(DISTINCT img_key) AS BIGINT) AS n_image_groups,
           bit_xor(doc_id) AS id_checksum
    FROM labeled GROUP BY 1
    """


@_register("q95_pair_dup_crosstab", _q95_oracle)
def q95(spark, sf_dir):
    """DUPLICATE-TYPE crosstab for image+caption pairs — the curator
    report that decides WHICH dedup to run: 'exact_pair' (both
    fingerprints shared → q25-style drop), 'recaptioned_image' (same
    image, different captions → q80 caption consolidation, NOT a drop),
    'stock_caption' (same caption on different images → a caption-
    quality signal, the images are fine), 'unique'.  First-match class
    order is pinned and shared with the oracle.  Plan: three hash
    aggregates on fingerprint keys + keyed joins back — the standard
    dedup shuffle shape, group tables ≪ corpus; no window, no UDF.
    Reference ancestor: A12's duplicate-rows quirk analysis
    (claim_analysis.py re-aggregation) lifted to the two-modality key
    lattice."""
    img, cap = _q95_keys("spark")
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(img).alias("img_key"),
        F.expr(cap).alias("cap_key"),
    )
    ni = d.groupBy("img_key").agg(F.count("*").alias("n_img"))
    nc = d.groupBy("cap_key").agg(F.count("*").alias("n_cap"))
    np_ = d.groupBy("img_key", "cap_key").agg(F.count("*").alias("n_pair"))
    labeled = (
        d.join(ni, "img_key")
        .join(nc, "cap_key")
        .join(np_, ["img_key", "cap_key"])
        .select(
            "doc_id",
            "img_key",
            F.when(F.col("n_pair") > 1, "exact_pair")
            .when(F.col("n_img") > 1, "recaptioned_image")
            .when(F.col("n_cap") > 1, "stock_caption")
            .otherwise("unique")
            .alias("dup_class"),
        )
    )
    return labeled.groupBy("dup_class").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("img_key").cast("long").alias("n_image_groups"),
        F.bit_xor("doc_id").alias("id_checksum"),
    )


_Q96_SNAPSHOTS = 4  # crawls observed per URL


def _q96_oracle() -> str:
    from ..operators import frontier as FR

    n = _Q96_SNAPSHOTS
    snaps = f"""
      SELECT 'https://' || source || '.example.com/p'
               || CAST(doc_id AS VARCHAR) AS url,
             k AS crawl_idx,
             (k * (doc_id % 5)) // 4 AS content_fp
      FROM documents, range(0, {n}) t(k)
    """
    rates = FR.estimate_change_rates_duck_sql("snaps")
    return f"""
    WITH snaps AS ({snaps}),
    rates AS ({rates})
    SELECT recrawl_tier,
           COUNT(*) AS n_urls,
           CAST(SUM(n_changes) AS BIGINT) AS total_changes,
           bit_xor({FR.h60_sql('url')}) AS url_checksum
    FROM rates GROUP BY 1
    """


@_register("q96_recrawl_schedule", _q96_oracle)
def q96(spark, sf_dir):
    """ADAPTIVE RECRAWL scheduling (operators/frontier.py:
    estimate_change_rates): per-URL content-fingerprint transitions
    across consecutive crawl snapshots → an EXACT-integer recrawl tier
    (static/slow/medium/fast) — revisit pages at their observed change
    rate, not uniformly (Cho & Garcia-Molina 2000); the tier feeds
    wave priority in plan_crawl.  The synthesis plants every rate:
    version(k) = (k · (doc_id mod 5)) div 4 gives 0–3 transitions over
    4 snapshots.  Tier index = (changes · 3) div (snapshots − 1) — the
    q76 integer-band rule, never a rounded rate, so the twins cannot
    drift.  Plan: ONE hash-by-URL exchange serves the lag window and
    the per-URL aggregate (the q74 shape), then a tier-sized report
    agg.  Reference ancestor: F11 staleness (q18's date-diff freshness
    check) upgraded from 'how old' to 'how fast does it change'."""
    from ..operators import frontier as FR

    d = read_table(spark, sf_dir, "documents")
    snaps = d.select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/p"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.explode(
            F.sequence(F.lit(0), F.lit(_Q96_SNAPSHOTS - 1))
        ).alias("crawl_idx"),
        "doc_id",
    ).select(
        "url",
        "crawl_idx",
        F.expr("(crawl_idx * (doc_id % 5)) div 4").alias("content_fp"),
    )
    rates = FR.estimate_change_rates(snaps)
    return rates.groupBy("recrawl_tier").agg(
        F.count("*").alias("n_urls"),
        F.sum("n_changes").cast("long").alias("total_changes"),
        F.bit_xor(F.expr(FR.h60_spark_sql("url"))).alias("url_checksum"),
    )


def _q97_oracle() -> str:
    content = (
        "CASE WHEN doc_id % 4 < 2 "
        "THEN 'shared-' || CAST(doc_id // 4 AS VARCHAR) "
        "ELSE text END"
    )
    return f"""
    WITH rows_ AS (
      SELECT doc_id, {content} AS content
      FROM documents WHERE text IS NOT NULL
    ),
    g AS (
      SELECT md5(content) AS fp,
             COUNT(*) AS cnt,
             CAST(SUM(length(content)) AS BIGINT) AS chars_total,
             CAST(MIN(length(content)) AS BIGINT) AS chars_one,
             MIN(doc_id) AS winner
      FROM rows_ GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_groups,
           CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT) AS rows_removed,
           CAST(COALESCE(SUM(chars_total - chars_one), 0) AS BIGINT)
             AS chars_saved,
           CAST(COALESCE(MAX(cnt), 0) AS BIGINT) AS biggest_group,
           bit_xor(winner) AS winner_checksum
    FROM g WHERE cnt > 1
    """


@_register("q97_dedup_savings", _q97_oracle)
def q97(spark, sf_dir):
    """DEDUP SAVINGS accounting — the capacity-planning report behind
    every dedup decision: how many rows AND how many content bytes does
    exact dedup reclaim, how pathological is the worst group, and
    (checksummed) which winners survive under the keep-lowest-id rule.
    At 100 TB this number IS the business case for running q25 at all.
    Synthesis plants a 2-of-4 duplication pattern over the corpus so
    the savings are nonzero at every SF.  One md5-groupBy (the q25
    shuffle) + a single-row report agg; all outputs exact integers.
    Reference ancestor: quirk-5 duplicate-row counting
    (claim_analysis.py:225-247) extended to byte accounting."""
    d = read_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    content = F.when(
        F.col("doc_id") % 4 < 2,
        F.concat(
            F.lit("shared-"), F.expr("doc_id div 4").cast("string")
        ),
    ).otherwise(F.col("text"))
    g = (
        d.select("doc_id", content.alias("content"))
        .groupBy(F.md5("content").alias("fp"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.length("content")).cast("long").alias("chars_total"),
            F.min(F.length("content")).cast("long").alias("chars_one"),
            F.min("doc_id").alias("winner"),
        )
        .filter(F.col("cnt") > 1)
    )
    return g.agg(
        F.count("*").cast("long").alias("n_dup_groups"),
        F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0))
        .cast("long")
        .alias("rows_removed"),
        F.coalesce(F.sum(F.col("chars_total") - F.col("chars_one")), F.lit(0))
        .cast("long")
        .alias("chars_saved"),
        F.coalesce(F.max("cnt"), F.lit(0)).cast("long").alias("biggest_group"),
        F.bit_xor("winner").alias("winner_checksum"),
    )


def _q98_oracle() -> str:
    from ..operators import domains as DM
    from ..operators import linkgraph as LG

    def url(e: str) -> str:
        return (
            f"'https://site' || CAST({e} AS VARCHAR) || '.example.com/p' "
            "|| CAST(doc_id AS VARCHAR)"
        )

    frags = " || ".join(
        f"""CASE WHEN (doc_id % 4) + 1 >= {j}
             THEN '<a href="' || {url(f"(doc_id * 7 + {j} * 13) % {_Q89_SITES}")} || '">x</a>'
             ELSE '' END"""
        for j in (1, 2, 3, 4)
    )
    return f"""
    WITH pages AS (
      SELECT {DM.extract_domain_sql(url(f"doc_id % {_Q89_SITES}"))} AS src_domain,
             {frags} AS html
      FROM documents
    ),
    edges AS ({LG.domain_edges_duck_sql("pages")}),
    pairs AS (SELECT DISTINCT src_domain, dst_domain FROM edges)
    SELECT p.src_domain AS domain,
           CAST(COUNT(*) AS BIGINT) AS n_neighbors,
           CAST(SUM(CASE WHEN r.src_domain IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_reciprocal
    FROM pairs p
    LEFT JOIN pairs r
      ON r.src_domain = p.dst_domain AND r.dst_domain = p.src_domain
    GROUP BY 1
    """


@_register("q98_link_reciprocity", _q98_oracle)
def q98(spark, sf_dir):
    """LINK RECIPROCITY per domain (operators/linkgraph.py:reciprocity):
    of each domain's distinct outbound neighbors, how many link back —
    the classic link-farm/exchange-ring spam signal that complements
    q89's authority (a farm inflates PageRank; reciprocity exposes the
    ring).  One self-join of the distinct edge list on the reversed key
    + one hash aggregate, all graph-sized; exact integers so the twins
    cannot drift.  Reference ancestor: P6's column-vs-column θ
    (claim_analysis.py cross-field consistency) lifted to the edge
    relation joined against its own transpose."""
    from ..operators import linkgraph as LG

    d = read_table(spark, sf_dir, "documents")
    edges = LG.domain_edges(_q89_pages(d), "src_domain", "html")
    return LG.reciprocity(edges)


_Q99_MAX_GROUP = 10  # boilerplate guard: >10 domains sharing one fp


def _q99_fp_sql(engine: str) -> str:
    """Shared fingerprint synthesis: page 2 is sitewide boilerplate
    (every domain carries it → dropped by the guard), src0/src1 mirror
    each other on every other page, src2/src3 share only even pages
    (partial mirror), everything else is unique."""
    div = "doc_id // 20" if engine == "duck" else "doc_id div 20"
    cast = "VARCHAR" if engine == "duck" else "STRING"
    return (
        f"CASE WHEN {div} = 2 THEN 'boiler' "
        f"WHEN doc_id % 20 IN (0, 1) THEN 'm-' || CAST({div} AS {cast}) "
        f"WHEN doc_id % 20 IN (2, 3) AND ({div}) % 2 = 0 "
        f"THEN 'h-' || CAST({div} AS {cast}) "
        f"ELSE 'u-' || CAST(doc_id AS {cast}) END"
    )


def _q99_oracle() -> str:
    from ..operators import mirrors as MI

    # the twin opens its own WITH, so the synthesis rides in as an
    # inline subquery relation
    rel = f"(SELECT source, {_q99_fp_sql('duck')} AS fp FROM documents)"
    return MI.mirror_pairs_duck_sql(rel, "source", "fp", _Q99_MAX_GROUP)


@_register("q99_site_mirrors", _q99_oracle)
def q99(spark, sf_dir):
    """SITE-MIRROR detection (operators/mirrors.py): domain pairs
    sharing content fingerprints, scored by containment of the SMALLER
    side (the q49 asymmetric rule: a mirror fully inside a portal is
    1.0) — the curator report that picks a canonical host before the
    next crawl fetches the copy.  Fingerprints carried by more than
    max_group domains are dropped LOUDLY (the q37/q43 hot-band
    discipline: sitewide boilerplate is a quadratic pair blow-up and
    anti-evidence of mirroring — the synthesis plants exactly such a
    page).  Plan: incidence distinct → bounded collect_set per fp →
    C(k,2) explode (k ≤ max_group) → pair hash agg; never corpus².
    Oracle: an independent SELF-JOIN decomposition of the pair
    construction.  Reference ancestor: A13 distinct-entity existence
    analysis (claim_analysis.py) on the (fingerprint, domain)
    incidence."""
    from ..operators import mirrors as MI

    d = read_table(spark, sf_dir, "documents").select(
        "source", F.expr(_q99_fp_sql("spark")).alias("fp")
    )
    return MI.mirror_pairs(
        d, domain_col="source", fp_col="fp", max_group=_Q99_MAX_GROUP
    )


_Q100_THRESHOLD = 0.9


def _q100_oracle() -> str:
    from ..operators import mirrors as MI

    rel = f"(SELECT doc_id, source, {_q99_fp_sql('duck')} AS fp FROM documents)"
    return MI.collapse_mirrors_duck_sql(
        rel,
        "source",
        "fp",
        "doc_id",
        threshold=_Q100_THRESHOLD,
        max_group=_Q99_MAX_GROUP,
    )


@_register("q100_mirror_collapse", _q100_oracle)
def q100(spark, sf_dir):
    """Mirror COLLAPSE action report (operators/mirrors.py:
    collapse_mirrors): q99's detected pairs above the (rounded-grid)
    containment threshold elect a canonical host — more distinct
    fingerprints wins, ties to the lexicographically smaller name — and
    every losing doc whose fingerprint the canonical side carries is
    marked dropped; per-domain kept/dropped counts plus the dropped-id
    checksum value-prove exactly WHICH docs each engine would remove,
    the same action discipline as q45/q48.  One-round rule (chains
    collapse on iteration, documented).  On the shared synthesis the
    full mirror pair fires (src0 keeps, src1 drops its shared pages);
    the partial src2/src3 pair sits BELOW the threshold and must drop
    nothing.  Reference ancestor: the A10/A12 duplicate-resolution
    family lifted from rows to SITES."""
    from ..operators import mirrors as MI

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr(_q99_fp_sql("spark")).alias("fp")
    )
    return MI.collapse_mirrors(
        d,
        domain_col="source",
        fp_col="fp",
        id_col="doc_id",
        threshold=_Q100_THRESHOLD,
        max_group=_Q99_MAX_GROUP,
    )


def _q101_oracle() -> str:
    from ..operators import frontier as FR

    urls = """
      SELECT 'https://' || source || '.example.com/page/'
               || CAST(doc_id AS VARCHAR) AS url
      FROM documents
      UNION ALL
      SELECT 'https://' || source || '.example.com/s/'
               || md5(COALESCE(text, ''))
      FROM documents WHERE doc_id % 4 = 3
      UNION ALL
      SELECT 'https://' || source || '.example.com/cal/'
               || CAST(2000 + doc_id % 25 AS VARCHAR)
               || '/' || CAST(k AS VARCHAR)
      FROM documents, range(0, 6) t(k) WHERE source = 'src3'
    """
    return f"WITH urls AS ({urls})\n" + FR.url_templates_duck_sql(
        "urls", "url"
    )


@_register("q101_url_templates", _q101_oracle)
def q101(spark, sf_dir):
    """URL-TEMPLATE mining / crawler-trap detection (operators/
    frontier.py:url_templates): variable path segments (digit runs,
    long hex ids) normalize to placeholders, and a template exploding
    into a disproportionate per-domain URL count is the spider-trap
    signal (calendars, session ids, faceted search — infinite URL
    spaces) a frontier must throttle before it drowns the fetch budget.
    The synthesis plants all three shapes: /page/{d} (benign, one per
    doc), /s/{hex} (session ids — md5 runs collapse to ONE template),
    and a /cal/{d}/{d} calendar on a single domain fanned 6× per doc so
    only IT crosses the trap threshold.  One distinct + one hash agg,
    map-side combining; DuckDB regexp_replace 'g'-flag gotcha pinned in
    the twin.  Reference ancestor: A14 group-count distribution
    (payer_analysis.py) on the normalized-path axis."""
    from ..operators import frontier as FR

    d = read_table(spark, sf_dir, "documents")
    host = F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com"))
    base = d.select(
        F.concat(host, F.lit("/page/"), F.col("doc_id").cast("string")).alias(
            "url"
        )
    )
    sess = d.filter(F.col("doc_id") % 4 == 3).select(
        F.concat(
            host, F.lit("/s/"), F.md5(F.coalesce(F.col("text"), F.lit("")))
        ).alias("url")
    )
    trap = (
        d.filter(F.col("source") == "src3")
        .select(
            "source",
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(5))).alias("k"),
        )
        .select(
            F.concat(
                F.lit("https://"),
                F.col("source"),
                F.lit(".example.com/cal/"),
                (F.lit(2000) + F.col("doc_id") % 25).cast("string"),
                F.lit("/"),
                F.col("k").cast("string"),
            ).alias("url")
        )
    )
    return FR.url_templates(base.unionByName(sess).unionByName(trap), "url")


_Q102_CAP = 6


def _q102_oracle() -> str:
    from ..functions.hashing import h60_sql
    from ..operators.domains import extract_domain_sql

    h = h60_sql("url")
    return f"""
    WITH urls AS (
      SELECT 'https://' || source || '.example.com/p'
               || CAST(doc_id AS VARCHAR) AS url,
             CAST(doc_id % 3 AS BIGINT) AS prio
      FROM documents
    ),
    slots AS (
      SELECT prio,
             CAST((ROW_NUMBER() OVER (
               PARTITION BY domain
               ORDER BY prio DESC, {h}, url
             ) - 1) // {_Q102_CAP} AS BIGINT) AS fetch_slot,
             url
      FROM (SELECT url, prio,
                   {extract_domain_sql('url')} AS domain
            FROM urls)
    )
    SELECT fetch_slot, prio,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           bit_xor({h}) AS url_checksum
    FROM slots GROUP BY 1, 2
    """


@_register("q102_priority_fetch_plan", _q102_oracle)
def q102(spark, sf_dir):
    """PRIORITY-AWARE dispatch (assign_fetch_slots(priority_col=...)):
    the q96 recrawl-tier style priority prepends a DESC key to the
    deterministic wave order, so fast-changing URLs land in the earliest
    waves while the (h60, url) tail keeps every wave reproducible on any
    cluster size/retry/engine.  The report crosses wave × priority with
    a per-cell URL-hash checksum, value-proving not just wave SIZES but
    exactly which priority tier occupies which wave.  Same plan as q91:
    one hash-by-domain exchange feeding the ordered window, then one
    hash agg.  The oracle partitions by the SAME extract_domain twin as
    every frontier oracle (a hand-rolled host regex would drift on
    www/case normalization), and the checksum reuses the window's _h
    column rather than re-hashing every URL (frontier's bind-once
    rule).  Reference ancestor: T4 rank assignment
    (charge_analysis_checks.py severity-ordered processing) on the
    dispatch axis."""
    from ..operators import frontier as FR

    d = read_table(spark, sf_dir, "documents")
    urls = d.select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/p"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        (F.col("doc_id") % 3).cast("long").alias("prio"),
    )
    slots = FR._slots_with_hash(
        urls, "url", _Q102_CAP, priority_col="prio"
    )
    return slots.groupBy("fetch_slot", "prio").agg(
        F.count("*").cast("long").alias("n_urls"),
        F.bit_xor("_h").alias("url_checksum"),
    )


# ---------------------------------------------------------------------------
# Public API consumed by __spark_entry__.py
# ---------------------------------------------------------------------------


def queries() -> dict[str, QueryFn]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    for k, v in list(_ORACLE.items()):
        if callable(v):
            _ORACLE[k] = v()  # render once, cache
    return dict(_ORACLE)


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """Flagship: the one-pass rule-metrics + verdict summary over documents
    (the caption half of the image+caption quality filter)."""
    return _keep_counts_by_lang(read_table(spark, sf_dir, "documents"))
