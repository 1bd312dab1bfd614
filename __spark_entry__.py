"""Driver contract for the spark-graft builder (PySpark target).

Every entry in ``queries()`` is an operator from SURVEY.md SS2 re-expressed
Spark-first via the engine library
(``automated_ohlcv_data_pipeline_for_algorithmic_trading_spark``), applied
to the driver's synthetic tables (TESTDATA.md; FIXTURES.md SS5 maps them to
the reference's OHLCV tables: events ~ the candle fact table with
user_id ~ symbol and value ~ price, orders/customer/... ~ the declared
dimension joins, documents/embeddings ~ the training-data operators).

Determinism contract with the DuckDB oracle: per-row IEEE-754 double math
is bit-identical across engines; only reduction ORDER differs. So every
unordered reduction (groupBy sum/avg/stddev) runs through exact
DecimalType sums cast back to double (functions/exact.py), making results
bit-stable under any partitioning — the same property that keeps checksums
stable on a 1000-executor cluster.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import tune
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.tables import (
    load_table,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.functions.exact import (
    davg,
    dstddev,
    dsum,
    q6,
    sql_davg,
    sql_dstddev,
    sql_dsum,
    sql_q6,
    sql_u6,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators import (
    dedup_by_key,
    dispersion_stats,
    latest_snapshot,
    resample_series,
    symbol_stats,
    daily_rollup,
    tail_limit,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.topk import (
    daily_summary_with_movers,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.windows import (
    daily_window_summary,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.text import (
    bpe_ish_tokens,
    chunk_documents,
    fingerprint,
    kgram_bottomk_fingerprint,
    language_guess,
    quality_score,
    token_stats,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
    exact_dedup_groups,
    exact_jaccard_pairs,
    minhash_near_dup_pairs,
    simhash32,
    simhash_near_dup_pairs,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.similarity import (
    brute_force_knn,
    embedding_near_dup_pairs,
    ivf_knn,
    lsh_knn,
    sq8_knn,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.joins import (
    asof_join,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.windows import (
    rsi,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.multimodal import (
    extract_features,
    text_as_media,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators import (
    dedup_similarity as _dedup_similarity_mod,
    similarity as _similarity_mod,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.etl import (
    bronze_to_silver,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.persisted import (
    artifact_dir,
    build_once,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.schemas import (
    RAW_ENVELOPE_SCHEMA,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(tune(spark), sf_dir, name)


def _scratch_ckpt():
    """Context manager: a temp streaming-checkpoint dir removed when the
    stream has drained. availableNow + memory/foreachBatch sinks never
    re-read the checkpoint after awaitTermination, so repeated
    bench/verify runs must not accumulate orphaned checkpoint state."""
    import contextlib
    import shutil
    import tempfile

    @contextlib.contextmanager
    def _cm():
        d = tempfile.mkdtemp(prefix="ckpt_")
        try:
            yield d
        finally:
            shutil.rmtree(d, ignore_errors=True)

    return _cm()


# ---------------------------------------------------------------------------
# TPC-H-shaped relational queries (scan / filter / agg / join / top-k)
# ---------------------------------------------------------------------------

def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-shaped pricing summary over lineitem.

    Exercises scan -> pushed filter -> 8-agg groupBy (A1/A2 class,
    reference sql/athena_parquet_tables.sql:77-88)."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") < F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_Q01_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity')} AS sum_qty,
       {sql_dsum('l_extendedprice')} AS sum_base_price,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {sql_davg('l_quantity')} AS avg_qty,
       {sql_davg('l_extendedprice')} AS avg_price,
       {sql_davg('l_discount')} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q03_top_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped: customer x orders x lineitem, top-10 orders by
    revenue (J1 broadcast-dim join + O3 top-k)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


_Q03_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q05_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped: 6-table star join, revenue per nation. Small dims
    broadcast; the lineitem-orders join is the only real shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(revenue, "revenue"))
    )


_Q05_SQL = f"""
SELECT n_name, {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


def q02_min_unit_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2-shaped: cheapest observed supplier per large part —
    argmin-per-group after a fact join (window rank over join, the shape
    the reference's "best offer" lookup uses). Dims broadcast; the only
    shuffle is the window partition on p_partkey."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") >= 40)
    supp = _t(spark, sf_dir, "supplier")
    unit_cost = F.col("l_extendedprice") / F.col("l_quantity")
    w = Window.partitionBy("p_partkey").orderBy(
        unit_cost.asc(), F.col("l_suppkey").asc()
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            unit_cost.alias("unit_cost"),
        )
    )


_Q02_SQL = """
SELECT p_partkey, p_name, s_name, l_extendedprice / l_quantity AS unit_cost
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE p_size >= 40
QUALIFY row_number() OVER (
    PARTITION BY p_partkey
    ORDER BY l_extendedprice / l_quantity ASC, l_suppkey ASC) = 1
ORDER BY p_partkey
"""


def q04_priority_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped: order count per priority where EXISTS a returned
    lineitem — left-semi join then agg (never materializes the fact
    columns past the join)."""
    orders = _t(spark, sf_dir, "orders")
    returned = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return (
        orders.join(returned, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


_Q04_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q06_revenue_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-shaped: pure filter + single agg. All three predicates
    reach the parquet scan (PushedFilters); the agg is a one-row
    map-side-partial sum — the minimal-IO plan at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_Q06_SQL = f"""
SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped: top-20 customers by revenue lost to returns.
    lineitem filters early (returnflag pushdown), dims broadcast, one
    shuffle for the orderkey join + one for the customer rollup."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(revenue, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


_Q10_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-shaped: promo revenue share for one month — conditional
    aggregate ratio over a broadcast part join. Both sums run through the
    exact-decimal path so the double ratio is partitioning-invariant."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            dsum(promo, "promo_revenue"),
            dsum(disc_price, "total_revenue"),
        )
        .select(
            (
                F.lit(100.0)
                * (F.col("promo_revenue") / F.col("total_revenue"))
            ).alias("promo_share_pct"),
            "promo_revenue",
            "total_revenue",
        )
    )


_Q14_SQL = f"""
SELECT 100.0 * (promo_revenue / total_revenue) AS promo_share_pct,
       promo_revenue, total_revenue
FROM (
  SELECT
    {sql_dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")} AS promo_revenue,
    {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-03-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
)
"""


def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16-shaped: distinct supplier count per part class, minus a
    NOT-IN supplier blocklist (negative-acctbal suppliers). The blocklist
    is a broadcast anti join; countDistinct expands to a two-phase
    partial-distinct agg — no extra shuffle beyond the group keys."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#1")
    blocked = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(blocked), "l_suppkey", "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_Q16_SQL = """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
"""


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shaped: orders whose total quantity clears a threshold
    (HAVING over a grouped fact), joined back to orders + customer. The
    grouped fact is the only big shuffle; the join back is on its key so
    AQE keeps it co-partitioned."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity", "total_qty"))
        .filter(F.col("total_qty") > 250.0)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "total_qty",
        )
        .orderBy(
            F.col("o_totalprice").desc(),
            F.col("o_orderdate").asc(),
            F.col("o_orderkey").asc(),
        )
        .limit(100)
    )


_Q18_SQL = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM (
  SELECT l_orderkey, {sql_dsum('l_quantity')} AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING {sql_dsum('l_quantity')} > 250.0
)
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC
LIMIT 100
"""


def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-shaped: per-nation count + balance of customers richer
    than the positive-balance average yet with no recent orders. The
    scalar average is a one-row broadcast cross join (no recompute per
    row); the no-recent-orders test is a broadcast-able anti join whose
    date filter pushes into the orders scan."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(davg("c_acctbal", "avg_bal"))
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, "c_custkey", "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", "total_bal"),
        )
    )


_Q22_SQL = f"""
SELECT n_name, count(*) AS n_customers, {sql_dsum('c_acctbal')} AS total_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT {sql_davg('c_acctbal')} FROM customer
                   WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY n_name
ORDER BY n_name
"""


def q07_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-shaped: shipping volume between two nations by year, in
    both directions. Dims broadcast; the only real shuffle is
    lineitem-orders; the paired-nation predicate collapses to a residual
    filter over two broadcast joins."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pair_ok = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair_ok)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(dsum(revenue, "revenue"))
    )


_Q07_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8-shaped: one nation's share of ECONOMY-part revenue inside
    one region's market, by order year — a conditional-sum ratio where
    BOTH sums run exact-decimal so the double division is
    partitioning-invariant."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n_cust = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n_supp = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    national = F.when(F.col("supp_nation") == "NATION_10", volume).otherwise(
        F.lit(0.0)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(region), F.col("c_rkey") == region.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("s_nkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            dsum(national, "national_revenue"),
            dsum(volume, "market_revenue"),
        )
        .withColumn(
            "mkt_share", F.col("national_revenue") / F.col("market_revenue")
        )
    )


_Q08_SQL = f"""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       {sql_dsum("CASE WHEN n2.n_name = 'NATION_10' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")} AS national_revenue,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS market_revenue,
       {sql_dsum("CASE WHEN n2.n_name = 'NATION_10' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
         / {sql_dsum('l_extendedprice * (1 - l_discount)')} AS mkt_share
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
GROUP BY o_year
ORDER BY o_year
"""


def q09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9-shaped: profit by supplier nation and order year over a
    name-matched part subset. No partsupp table in this dataset, so cost
    is proxied per-row as 0.5 * p_retailprice * l_quantity — the operator
    shape (5-way join, LIKE filter, two-level group) is what matters."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.5
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(dsum(amount, "profit"))
    )


_Q09_SQL = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       {sql_dsum('l_extendedprice * (1 - l_discount) - 0.5 * p_retailprice * l_quantity')} AS profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, o_year
ORDER BY nation ASC, o_year DESC
"""


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11-shaped: parts whose traded value from one nation's
    suppliers exceeds a fraction of the GLOBAL total — the global scalar
    comes from a second aggregate broadcast back as a one-row cross join,
    not a per-row subquery."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    value = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    national = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
    )
    per_part = national.groupBy("l_partkey").agg(dsum(value, "part_value"))
    total = national.agg(dsum(value, "total_value"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.lit(0.002) * F.col("total_value"))
        .select("l_partkey", "part_value")
    )


_Q11_SQL = f"""
WITH national AS (
  SELECT l_partkey, l_extendedprice * (1 - l_discount) AS value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3')
SELECT l_partkey, {sql_dsum('value')} AS part_value
FROM national
GROUP BY l_partkey
HAVING {sql_dsum('value')} > 0.002 * (SELECT {sql_dsum('value')} FROM national)
ORDER BY part_value DESC, l_partkey ASC
"""


def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12-shaped: urgent-vs-other order counts per line status for
    one ship year — conditional integer counts after the fact join (the
    orders side carries only the priority column into the join)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


_Q12_SQL = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-shaped: histogram of per-customer order counts — a LEFT
    join with a join-side predicate (so zero-order customers survive with
    count 0) feeding a second aggregation over the first's result."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "5-LOW")
        .select(F.col("o_custkey").alias("c_custkey"), "o_orderkey")
    )
    per_cust = cust.join(orders, "c_custkey", "left").groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


_Q13_SQL = """
WITH per_cust AS (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer
  LEFT JOIN orders ON o_custkey = c_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-shaped: supplier(s) with the maximum quarterly revenue.
    The max is a window over the aggregated (100-row) supplier revenue
    table — never a re-aggregation — and equality on exact-decimal
    revenue is bit-safe on both engines."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_supp = li.groupBy(F.col("l_suppkey").alias("s_suppkey")).agg(
        dsum(revenue, "total_revenue")
    )
    # the max is a one-row scalar aggregate EQUI-joined back on the
    # exact-decimal revenue (bit-safe equality on both engines) — a
    # BroadcastHashJoin, not an ungrouped window over the 100-row table
    mx = per_supp.agg(F.max("total_revenue").alias("_mx"))
    return (
        per_supp.join(
            F.broadcast(mx), F.col("total_revenue") == F.col("_mx")
        )
        .join(F.broadcast(supp), "s_suppkey")
        .select("s_suppkey", "s_name", "total_revenue")
    )


_Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey AS s_suppkey,
         {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
    AND l_shipdate <  TIMESTAMP '1998-04-01'
  GROUP BY l_suppkey)
SELECT r.s_suppkey, s_name, total_revenue
FROM revenue r JOIN supplier ON r.s_suppkey = supplier.s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY r.s_suppkey
"""


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-shaped: revenue under an OR-of-ANDs brand/size/quantity
    predicate. The disjunction stays a residual filter on ONE equi-join
    (never three scans unioned), and Catalyst extracts the common
    p_partkey conjunct."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    disj = (
        (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#7")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(disj)
        .agg(dsum(revenue, "revenue"))
    )


_Q19_SQL = f"""
SELECT {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#7' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""


def q20_heavy_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20-shaped: suppliers who moved serious volume of some
    ECONOMY part in one year — a LEFT SEMI join against an aggregated,
    HAVING-filtered inner table (the no-partsupp adaptation of the
    nested-IN shape)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    supp = _t(spark, sf_dir, "supplier")
    heavy = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50.0)
        .select(F.col("l_suppkey").alias("s_suppkey"))
    )
    return (
        supp.join(heavy, "s_suppkey", "left_semi")
        .select("s_suppkey", "s_name")
    )


_Q20_SQL = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'ECONOMY'
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
  GROUP BY l_suppkey, l_partkey
  HAVING sum(l_quantity) > 50.0)
ORDER BY s_suppkey
"""


def q21_sole_blockers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21-shaped: suppliers who are the ONLY supplier with a
    returned line inside multi-supplier orders. The classic
    EXISTS/NOT-EXISTS pair re-expressed as ONE aggregation over
    (order, supplier) flags plus a per-order rollup — two shuffles total,
    no correlated re-scans of lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("ret")
    )
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("ret").alias("n_ret_supp")
    )
    return (
        per_os.join(per_o, "l_orderkey")
        .filter(
            (F.col("ret") == 1) & (F.col("n_supp") >= 2) & (F.col("n_ret_supp") == 1)
        )
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supp), "s_suppkey")
        .select("s_name", "numwait")
    )


_Q21_SQL = """
WITH per_os AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
  FROM lineitem GROUP BY l_orderkey, l_suppkey),
per_o AS (
  SELECT l_orderkey, count(*) AS n_supp, sum(ret) AS n_ret_supp
  FROM per_os GROUP BY l_orderkey)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM per_os
JOIN per_o USING (l_orderkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE ret = 1 AND n_supp >= 2 AND n_ret_supp = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
"""


# ---------------------------------------------------------------------------
# OHLCV query surface on the events stream table
# (user_id ~ symbol, value ~ price; FIXTURES.md SS5)
# ---------------------------------------------------------------------------

def e_symbol_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — per-key totals: SUM, AVG, COUNT, MAX(ts)
    (sql/athena_parquet_tables.sql:77-88)."""
    ev = _t(spark, sf_dir, "events")
    return symbol_stats(ev, ["user_id"], "value", "ts")


_E_SYMBOL_STATS_SQL = f"""
SELECT user_id,
       {sql_dsum('value')} AS total_value,
       {sql_davg('value')} AS avg_value,
       count(*) AS record_count,
       max(ts) AS latest_timestamp
FROM events GROUP BY user_id ORDER BY user_id
"""


def e_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — the core daily OHLCV rollup: open = value at earliest ts,
    close = value at latest ts, high/low, avg, count per (key, day)
    (analytics/lambda_analytics.py:146-166)."""
    ev = _t(spark, sf_dir, "events")
    return daily_rollup(
        ev, ["user_id"], "ts", "value", tiebreak="event_id"
    )


#: Composite (ts, event_id) ordering key for arg_min/arg_max: DuckDB 1.0
#: has no struct sort keys, so encode both into one HUGEINT — monotone in
#: (ts, event_id) for non-negative ids < 1e12. Mirrors the Spark side's
#: min_by(value, struct(ts, event_id)) tiebreak exactly; without it, two
#: events sharing a timestamp would make the oracle nondeterministic.
_SQL_TS_EVENT_KEY = "CAST(epoch_us(ts) AS HUGEINT) * 1000000000000 + event_id"

_E_DAILY_ROLLUP_SQL = f"""
SELECT user_id, CAST(ts AS DATE) AS trade_date,
       arg_min(value, {_SQL_TS_EVENT_KEY}) AS open,
       max(value) AS high,
       min(value) AS low,
       arg_max(value, {_SQL_TS_EVENT_KEY}) AS close,
       {sql_davg('value')} AS avg_price,
       count(*) AS num_records
FROM events
GROUP BY user_id, CAST(ts AS DATE)
ORDER BY user_id, trade_date
"""


def e_resample_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — epoch-aligned tumbling-window resample of the value series to
    15-minute buckets per event_type (api/api_handler.py:788-834
    semantics; Spark F.window is epoch-aligned like the reference's
    ``(ts // bucket) * bucket``)."""
    ev = _t(spark, sf_dir, "events")
    out = resample_series(ev, 15, ["event_type"], "ts", "value", tiebreak="event_id")
    return out.select(
        "event_type", "bucket_start", "open", "high", "low", "close",
        "total_value", "num_records",
    )


_E_RESAMPLE_SQL = f"""
SELECT event_type,
       time_bucket(INTERVAL '15 minutes', ts, TIMESTAMP '2000-01-01 00:00:00') AS bucket_start,
       arg_min(value, {_SQL_TS_EVENT_KEY}) AS open,
       max(value) AS high,
       min(value) AS low,
       arg_max(value, {_SQL_TS_EVENT_KEY}) AS close,
       {sql_dsum('value')} AS total_value,
       count(*) AS num_records
FROM events
GROUP BY event_type, bucket_start
ORDER BY event_type, bucket_start
"""


def e_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled 15-minute resample: the dense series a charting or
    backtesting layer needs — empty buckets between each key's first and
    last observation carry the previous close forward and are flagged.
    Grid generated per key via sequence()+explode (no driver loop), one
    ignore-nulls carry window (operators/resample.resample_gapfill)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.resample import (
        resample_gapfill,
    )

    ev = _t(spark, sf_dir, "events")
    out = resample_gapfill(ev, 15, ["event_type"], "ts", "value", tiebreak="event_id")
    return out


_E_GAPFILL_SQL = f"""
WITH agg AS (
  SELECT event_type,
         time_bucket(INTERVAL '15 minutes', ts, TIMESTAMP '2000-01-01 00:00:00') AS bucket_start,
         arg_min(value, {_SQL_TS_EVENT_KEY}) AS open,
         max(value) AS high,
         min(value) AS low,
         arg_max(value, {_SQL_TS_EVENT_KEY}) AS close,
         {sql_dsum('value')} AS total_value,
         count(*) AS num_records
  FROM events
  GROUP BY event_type, bucket_start),
bounds AS (
  SELECT event_type, min(bucket_start) AS lo, max(bucket_start) AS hi
  FROM agg GROUP BY event_type),
grid AS (
  SELECT event_type,
         unnest(generate_series(lo, hi, INTERVAL 15 MINUTE)) AS bucket_start
  FROM bounds),
joined AS (
  SELECT g.event_type, g.bucket_start, a.open, a.high, a.low, a.close,
         a.total_value, a.num_records
  FROM grid g LEFT JOIN agg a
    ON a.event_type = g.event_type AND a.bucket_start = g.bucket_start)
SELECT event_type, bucket_start,
       coalesce(open, carry) AS open,
       coalesce(high, carry) AS high,
       coalesce(low, carry) AS low,
       coalesce(close, carry) AS close,
       coalesce(total_value, 0.0) AS total_value,
       coalesce(num_records, 0) AS num_records,
       close IS NULL AS filled
FROM (
  SELECT *, last_value(close IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY bucket_start
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carry
  FROM joined)
ORDER BY event_type, bucket_start
"""


def o_rollup_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-rollup maintenance driven end-to-end: the
    daily rollup table is BOOTSTRAPPED from all days but the last, then a
    second refresh lands the final day's batch (recomputing ONLY that
    day, dynamic partition overwrite). The returned table is the
    maintained artifact read back from parquet — and the oracle is the
    plain from-scratch daily-rollup SQL, so the hash check IS the
    maintenance invariant: incrementally-maintained == rebuilt
    (plans/rollup_refresh.refresh_daily_rollup)."""
    import shutil
    import tempfile

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.rollup_refresh import (
        read_daily_rollup,
        refresh_daily_rollup,
    )

    ev = _t(spark, sf_dir, "events").localCheckpoint()
    last_day = ev.agg(F.max(F.to_date("ts"))).collect()[0][0]
    path = tempfile.mkdtemp(prefix="rollup_refresh_")
    try:
        old = ev.filter(F.to_date("ts") < F.lit(last_day))
        refresh_daily_rollup(
            spark, old, path, ["user_id"], "ts", "value", tiebreak="event_id"
        )
        batch = ev.filter(F.to_date("ts") == F.lit(last_day))
        refresh_daily_rollup(
            spark, ev, path, ["user_id"], "ts", "value",
            tiebreak="event_id", batch=batch,
        )
        out = (
            read_daily_rollup(spark, path)
            .orderBy("user_id", "trade_date")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


def e_dedup_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — last-wins dedup (api/api_handler.py:418-424): one event per
    (user_id, day, event_type), keeping the latest by (ts, event_id)."""
    ev = _t(spark, sf_dir, "events").withColumn("trade_date", F.to_date("ts"))
    out = dedup_by_key(
        ev, ["user_id", "trade_date", "event_type"], ["ts", "event_id"], keep="last"
    )
    return out.select("event_id", "user_id", "ts", "event_type", "value")


def e_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — first-wins dedup (api/api_handler_csv.py:169-184)."""
    ev = _t(spark, sf_dir, "events").withColumn("trade_date", F.to_date("ts"))
    out = dedup_by_key(
        ev, ["user_id", "trade_date", "event_type"], ["ts", "event_id"], keep="first"
    )
    return out.select("event_id", "user_id", "ts", "event_type", "value")


def _dedup_sql(direction: str) -> str:
    return f"""
SELECT event_id, user_id, ts, event_type, value
FROM events
QUALIFY row_number() OVER (
    PARTITION BY user_id, CAST(ts AS DATE), event_type
    ORDER BY ts {direction}, event_id {direction}) = 1
ORDER BY event_id
"""


def e_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — latest full row per key via single-shuffle max_by(struct)
    (api/api_handler.py:479-514)."""
    ev = _t(spark, sf_dir, "events")
    return latest_snapshot(ev, ["user_id"], "ts", tiebreak="event_id")


_E_LATEST_SQL = """
SELECT event_id, ts, user_id, event_type, value, props
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
ORDER BY user_id
"""


def e_top_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4/F8 — daily summary + derived price_change_percent, top-10
    gainers (analytics/lambda_analytics.py:360-430)."""
    ev = _t(spark, sf_dir, "events")
    daily = daily_rollup(ev, ["user_id"], "ts", "value", tiebreak="event_id")
    summary = daily_summary_with_movers(daily)
    return (
        summary.select(
            "user_id", "trade_date", "open", "close",
            q6("price_change_percent", "price_change_percent"),
        )
        .orderBy(F.col("price_change_percent").desc(), "user_id", "trade_date")
        .limit(10)
    )


_E_TOP_MOVERS_SQL = f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS trade_date,
         arg_min(value, {_SQL_TS_EVENT_KEY}) AS open,
         arg_max(value, {_SQL_TS_EVENT_KEY}) AS close
  FROM events GROUP BY 1, 2
)
SELECT user_id, trade_date, open, close,
       floor(CASE WHEN open <> 0 THEN (close - open) / open * 100
                  ELSE 0.0 END * 1e6 + 0.5) / 1e6
           AS price_change_percent
FROM daily
ORDER BY price_change_percent DESC, user_id, trade_date
LIMIT 10
"""


def e_sma20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 — 20-row trailing moving average per key. Decimal-routed window
    sum / count keeps it bit-deterministic."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(-19, 0)
    )
    sma_col = (
        F.sum(F.col("value").cast("decimal(38,6)")).over(w).cast("double")
        / F.count("value").over(w)
    )
    return (
        ev.withColumn("sma_20", sma_col)
        .select("event_id", "user_id", "ts", "value", "sma_20")
    )


_E_SMA_SQL = """
SELECT event_id, user_id, ts, value,
       CAST(sum(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE)
           / count(value) OVER w AS sma_20
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


def e_window_daily_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1-W4 — the Athena window-function daily summary
    (sql/athena_parquet_tables.sql:117-144): first_value/last_value over
    ordered day partitions, partition-frame SUM, DISTINCT collapse."""
    ev = _t(spark, sf_dir, "events")
    out = daily_window_summary(
        ev, ["user_id"], "ts", open_col="value", close_col="value", volume_col="value"
    )
    return out.select(
        "user_id", "trade_date", "day_open", "day_close", "day_volume",
        q6("daily_return_percent", "daily_return_percent"),
    )


_E_WINDOW_DAILY_SQL = """
WITH windowed AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS trade_date,
         first_value(value) OVER w AS day_open,
         last_value(value) OVER
             (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS day_close,
         CAST(sum(CAST(value AS DECIMAL(38,6))) OVER
             (PARTITION BY user_id, CAST(ts AS DATE)) AS DOUBLE) AS day_volume
  FROM events
  WINDOW w AS (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts)
)
SELECT user_id, trade_date, day_open, day_close, day_volume,
       floor(CASE WHEN day_open <> 0
                  THEN (day_close - day_open) / day_open * 100
                  ELSE 0.0 END * 1e6 + 0.5) / 1e6
           AS daily_return_percent
FROM windowed
ORDER BY user_id, trade_date
"""


def e_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — AVG/STDDEV/MAX/MIN dispersion per event_type
    (sql/athena_parquet_tables.sql:104-114); sample stddev like Presto."""
    ev = _t(spark, sf_dir, "events")
    return dispersion_stats(ev, ["event_type"], "value")


_E_DISPERSION_SQL = f"""
SELECT event_type,
       {sql_davg('value')} AS avg_value,
       {sql_dstddev('value')} AS stddev_value,
       max(value) AS max_value,
       min(value) AS min_value,
       count(*) AS record_count
FROM events GROUP BY event_type ORDER BY event_type
"""


def e_conditional_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — COUNT(CASE WHEN ...) monitoring rollup
    (sql/rds_schema.sql:112-125)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("total_count"),
            F.count_if(F.col("value") > 30.0).alias("high_value_count"),
            F.count_if(F.col("user_id") % 2 == 0).alias("even_user_count"),
        )
    )


_E_COND_SQL = """
SELECT event_type,
       count(*) AS total_count,
       count(CASE WHEN value > 30.0 THEN 1 END) AS high_value_count,
       count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS even_user_count
FROM events GROUP BY event_type ORDER BY event_type
"""


def e_period_lookback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 — period-token lookback ('7d' -> cutoff) relative to the data's
    max timestamp (api/api_handler.py:746-769; anchored to max(ts) so the
    query is deterministic rather than wall-clock-dependent)."""
    ev = _t(spark, sf_dir, "events")
    cutoff = ev.agg((F.max("ts") - F.expr("INTERVAL 7 DAYS")).alias("_cutoff"))
    return (
        ev.join(F.broadcast(cutoff))
        .filter(F.col("ts") >= F.col("_cutoff"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("recent_events"), dsum("value", "recent_value"))
    )


_E_PERIOD_SQL = f"""
SELECT user_id, count(*) AS recent_events, {sql_dsum('value')} AS recent_value
FROM events
WHERE ts >= (SELECT max(ts) - INTERVAL 7 DAY FROM events)
GROUP BY user_id ORDER BY user_id
"""


def e_tail_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 — most recent 50 rows globally, ascending output
    (api/api_handler.py:437-443 tail-limit semantics)."""
    ev = _t(spark, sf_dir, "events")
    return tail_limit(ev, "ts", 50, tiebreak="event_id").select(
        "event_id", "ts", "user_id", "value"
    )


_E_TAIL_SQL = """
SELECT event_id, ts, user_id, value FROM events
ORDER BY ts DESC, event_id DESC LIMIT 50
"""


# ---------------------------------------------------------------------------
# Joins (SURVEY.md SS2.7), set ops, indicators, ETL round-trip, SQL surface
# ---------------------------------------------------------------------------

def j_asof_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 as-of semantics — for every event, the customer's latest order
    with o_orderdate <= ts (union + ordered window fill: one shuffle, no
    quadratic range join; sql/rds_schema.sql marketcap-snapshot shape)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    orders = (
        _t(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("user_id"),
            "o_orderdate",
            "o_orderkey",
            "o_totalprice",
        )
    )
    out = asof_join(
        ev, orders, ["user_id"], "ts", "o_orderdate", tiebreak="o_orderkey"
    )
    return out.select(
        "event_id", "user_id", "ts", "value",
        F.col("o_orderkey_asof").alias("order_key_asof"),
        F.col("o_totalprice_asof").alias("order_price_asof"),
    )


_J_ASOF_SQL = """
SELECT event_id, user_id, ts, value,
       o_orderkey AS order_key_asof,
       o_totalprice AS order_price_asof
FROM events e
LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
QUALIFY row_number() OVER (
    PARTITION BY event_id ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
ORDER BY event_id
"""


def j_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a max-staleness bound (pandas merge_asof
    tolerance semantics): the latest order per customer, but only if it
    is at most 30 days older than the event — staler matches yield
    NULLs. Because the backward as-of match is always the NEWEST
    candidate, tolerance-checking the single matched row is equivalent
    to restricting the join — so the plan stays the one union+window
    fill of asof_join plus a per-row comparison
    (operators/joins.asof_join(tolerance=...))."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    orders = (
        _t(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("user_id"),
            "o_orderdate",
            "o_orderkey",
            "o_totalprice",
        )
    )
    out = asof_join(
        ev, orders, ["user_id"], "ts", "o_orderdate",
        tiebreak="o_orderkey", tolerance="30 days",
    )
    return out.select(
        "event_id", "user_id", "ts", "value",
        F.col("o_orderkey_asof").alias("order_key_asof"),
        F.col("o_totalprice_asof").alias("order_price_asof"),
    )


_J_ASOF_TOL_SQL = """
SELECT event_id, user_id, ts, value,
       o_orderkey AS order_key_asof,
       o_totalprice AS order_price_asof
FROM events e
LEFT JOIN orders o ON o.o_custkey = e.user_id
  AND o.o_orderdate <= e.ts
  AND o.o_orderdate >= e.ts - INTERVAL 30 DAY
QUALIFY row_number() OVER (
    PARTITION BY event_id ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
ORDER BY event_id
"""


def j_semi_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join — customers that have events (EXISTS)."""
    cust = _t(spark, sf_dir, "customer")
    ev = _t(spark, sf_dir, "events").select(F.col("user_id").alias("c_custkey"))
    return (
        cust.join(ev, "c_custkey", "left_semi")
        .select("c_custkey", "c_name", "c_acctbal")
    )


_J_SEMI_SQL = """
SELECT c_custkey, c_name, c_acctbal FROM customer
WHERE EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
ORDER BY c_custkey
"""


def j_anti_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join — customers with no events (NOT EXISTS), count per
    nation with the nation dim broadcast."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    ev = _t(spark, sf_dir, "events").select(F.col("user_id").alias("c_custkey"))
    return (
        cust.join(ev, "c_custkey", "left_anti")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("inactive_customers"))
    )


_J_ANTI_SQL = """
SELECT n_name, count(*) AS inactive_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
GROUP BY n_name ORDER BY n_name
"""


def u_union_mixed_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/J4 — union of two differently-shaped extracts via
    unionByName(allowMissingColumns) (the reference's old-vs-new raw
    format fallback, api/api_handler.py:380-386), then a rollup."""
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_id") % 2 == 0).select("event_id", "ts", "user_id", "value")
    b = ev.filter(F.col("event_id") % 2 == 1).select("event_id", "ts", "user_id", "event_type")
    u = a.unionByName(b, allowMissingColumns=True)
    return (
        u.groupBy(F.coalesce("event_type", F.lit("_none")).alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("value", "total_value"),
            F.count("value").alias("n_with_value"),
        )
    )


_U_UNION_SQL = f"""
WITH u AS (
  SELECT event_id, ts, user_id, value, NULL AS event_type
  FROM events WHERE event_id % 2 = 0
  UNION ALL BY NAME
  SELECT event_id, ts, user_id, event_type FROM events WHERE event_id % 2 = 1
)
SELECT coalesce(event_type, '_none') AS event_type,
       count(*) AS n_rows,
       {sql_dsum('value')} AS total_value,
       count(value) AS n_with_value
FROM u GROUP BY 1 ORDER BY event_type
"""


def e_rsi14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 — RSI-14 (declared indicator, examples/README.md:100-104) per
    key over the value series; NULL during warm-up, 100/0 at the
    all-gain/all-loss edges."""
    ev = _t(spark, sf_dir, "events")
    out = rsi(ev, ["user_id"], "ts", "value", n=14)
    return out.select(
        "event_id", "user_id", "ts",
        q6("rsi_14", "rsi_14"),
    )


_E_RSI_SQL = """
WITH d AS (
  SELECT event_id, user_id, ts,
         value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS delta
  FROM events
),
g AS (
  SELECT event_id, user_id, ts,
         count(delta) OVER w AS n_deltas,
         avg(CASE WHEN delta IS NOT NULL THEN
               CASE WHEN delta > 0 THEN delta ELSE 0.0 END END) OVER w AS avg_gain,
         avg(CASE WHEN delta IS NOT NULL THEN
               CASE WHEN delta < 0 THEN -delta ELSE 0.0 END END) OVER w AS avg_loss
  FROM d
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ts,
       floor(CASE WHEN n_deltas < 14 THEN NULL
                  WHEN avg_loss = 0 THEN 100.0
                  ELSE 100.0 - 100.0 / (1.0 + avg_gain / avg_loss) END
             * 1e6 + 0.5) / 1e6 AS rsi_14
FROM g ORDER BY event_id
"""


def o_bronze_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ETL round-trip through the REAL bronze->silver code path: events are
    folded into raw ingestion envelopes (to_json of the nested map/struct/
    positional-candle shape, FIXTURES.md SS1), re-parsed with the canonical
    schema, exploded and DQ-filtered by plans.etl, then daily-rolled-up.
    The oracle computes the same rollup directly — proving the envelope
    encode/decode/explode pipeline is lossless."""
    ev = _t(spark, sf_dir, "events")
    # one envelope per (user, day): candles = [[epoch, v, v, v, v, event_id]...]
    candles = (
        ev.withColumn("sym", F.concat(F.lit("NSE:U"), F.col("user_id"), F.lit("-EQ")))
        .groupBy("sym", F.to_date("ts").alias("d"))
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("ts").alias("o1"),
                        F.col("event_id").alias("o2"),
                        F.array(
                            F.unix_timestamp("ts").cast("double"),
                            "value", "value", "value", "value",
                            F.col("event_id").cast("double"),
                        ).alias("candle"),
                    )
                )
            ).alias("sorted")
        )
        .select(
            "sym",
            F.to_json(
                F.create_map(
                    F.col("sym"),
                    F.struct(
                        F.col("sym").alias("symbol"),
                        F.lit("5").alias("resolution"),
                        F.transform(F.col("sorted"), lambda s: s["candle"]).alias("candles"),
                        F.lit("2024-01-31T00:00:00Z").alias("timestamp"),
                        F.create_map(F.lit("k"), F.lit("v")).alias("metadata"),
                    ),
                )
            ).alias("env_json"),
        )
    )
    raw = candles.select(
        F.from_json(
            F.concat(F.lit('{"data":'), F.col("env_json"), F.lit(',"metadata":{}}')),
            RAW_ENVELOPE_SCHEMA,
        ).alias("env")
    ).select(F.col("env.data").alias("data"), F.col("env.metadata").alias("metadata"))
    silver = bronze_to_silver(raw, dedup=None)
    return (
        silver.groupBy("symbol_clean", F.to_date("timestamp_iso").alias("trade_date"))
        .agg(
            F.min_by("open", F.struct("timestamp_unix", "volume")).alias("first_value"),
            F.max_by("close", F.struct("timestamp_unix", "volume")).alias("last_value"),
            F.max("high").alias("max_value"),
            F.min("low").alias("min_value"),
            F.count(F.lit(1)).alias("num_candles"),
        )
    )


_O_ROUNDTRIP_SQL = """
WITH ranked AS (
  SELECT user_id, CAST(ts AS DATE) AS d, value,
         row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
             ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS rf,
         row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
             ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC, event_id DESC) AS rl
  FROM events WHERE value > 0
)
SELECT 'U' || CAST(user_id AS VARCHAR) AS symbol_clean,
       d AS trade_date,
       max(CASE WHEN rf = 1 THEN value END) AS first_value,
       max(CASE WHEN rl = 1 THEN value END) AS last_value,
       max(value) AS max_value,
       min(value) AS min_value,
       count(*) AS num_candles
FROM ranked GROUP BY 1, 2
ORDER BY symbol_clean, trade_date
"""


def e_percentiles_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based approximate percentiles per event_type — the
    deterministic, mergeable quantile scale path (two map-side-combined
    shuffles at any data size). Integer bin counts make even this
    APPROXIMATE operator value-hash-checkable; percentile_approx's GK
    sketch is merge-order dependent and could never be."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.rollup import (
        approx_percentiles_hist,
    )

    ev = _t(spark, sf_dir, "events")
    out = approx_percentiles_hist(
        ev, ["event_type"], "value", probs=(0.5, 0.9, 0.99), bins=64
    )
    return out


_E_PCT_HIST_SQL = """
WITH stats AS (
  SELECT event_type, min(value) AS lo, max(value) AS hi, count(value) AS n
  FROM events GROUP BY event_type),
binned AS (
  SELECT e.event_type,
         CASE WHEN hi = lo THEN 0
              ELSE CAST(least(floor((value - lo) / ((hi - lo) / 64.0)), 63)
                   AS BIGINT) END AS b
  FROM events e JOIN stats USING (event_type)),
c AS (SELECT event_type, b, count(*) AS c FROM binned GROUP BY event_type, b),
cum AS (
  SELECT event_type, b, c,
         CAST(sum(c) OVER (PARTITION BY event_type ORDER BY b
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM c),
j AS (SELECT cum.*, lo, hi, n FROM cum JOIN stats USING (event_type)),
est AS (
  -- CAST the probabilities to DOUBLE: DuckDB parses 0.99 as DECIMAL and
  -- would compute n * 0.99 exactly, while Spark multiplies doubles
  SELECT event_type, b, c, cum, n,
         lo + (b + greatest(0.0, least(1.0,
               (n * CAST(0.5 AS DOUBLE) - (cum - c)) / c)))
            * ((hi - lo) / 64.0) AS e50,
         lo + (b + greatest(0.0, least(1.0,
               (n * CAST(0.9 AS DOUBLE) - (cum - c)) / c)))
            * ((hi - lo) / 64.0) AS e90,
         lo + (b + greatest(0.0, least(1.0,
               (n * CAST(0.99 AS DOUBLE) - (cum - c)) / c)))
            * ((hi - lo) / 64.0) AS e99
  FROM j)
SELECT event_type,
       arg_min(e50, b) FILTER (WHERE cum >= n * CAST(0.5 AS DOUBLE))  AS p50,
       arg_min(e90, b) FILTER (WHERE cum >= n * CAST(0.9 AS DOUBLE))  AS p90,
       arg_min(e99, b) FILTER (WHERE cum >= n * CAST(0.99 AS DOUBLE)) AS p99
FROM est GROUP BY event_type ORDER BY event_type
"""


def q17_small_quantity_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-shaped: revenue of lineitems below 20% of their part's
    average quantity (correlated scalar-subquery pattern -> per-part agg +
    self-join; the per-part averages are exact-decimal so the filter
    boundary is engine-stable)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        davg("l_quantity", "avg_qty")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(per_part), li.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            dsum("l_extendedprice", "total_price"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_Q17_SQL = f"""
WITH per_part AS (
  SELECT l_partkey AS pk, {sql_davg('l_quantity')} AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT {sql_dsum('l_extendedprice')} AS total_price,
       count(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN per_part ON l_partkey = pk
WHERE p_brand = 'Brand#1' AND l_quantity < 0.2 * avg_qty
"""


def s_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming with an oracle: the events table replayed
    through a file-source stream, watermarked tumbling-hour aggregation
    per event_type, driven to completion with availableNow into a memory
    sink — then compared against the equivalent batch SQL. Decimal-routed
    sums keep the streamed result bit-identical to the batch oracle."""
    import uuid

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.streaming.pipeline import (
        events_stream_demo,
    )

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import (
        stateful_partitions,
    )

    tune(spark)
    with stateful_partitions(spark):
        agg = events_stream_demo(spark, sf_dir, minutes=60)
        name = f"stream_hourly_{uuid.uuid4().hex[:8]}"
        with _scratch_ckpt() as ckpt:
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
    return spark.table(name)


_S_STREAM_SQL = """
SELECT event_type,
       time_bucket(INTERVAL '60 minutes', ts, TIMESTAMP '2000-01-01 00:00:00')
           AS bucket_start,
       count(*) AS num_events,
       CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type, bucket_start
ORDER BY event_type, bucket_start
"""


def s_stateful_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator WITH an exact oracle: running
    per-symbol VWAP via groupBy().applyInPandasWithState (state = one
    (price*volume, volume) pair per symbol, surviving micro-batches),
    driven to completion with availableNow into a memory sink. The fold
    accumulates integer micro-units (the decimal(38,6) quantum), so the
    streamed result is bit-identical to the batch windowed-SQL replay —
    an oracle most engines can't offer for stateful streaming at all.
    Synthetic per-event volume = event_id % 100 + 1 (SQL-replayable)."""
    import uuid

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.streaming.pipeline import (
        events_stream_source,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.streaming.stateful import (
        streaming_vwap_exact,
    )

    tune(spark)
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import (
        stateful_partitions,
    )

    with stateful_partitions(spark):
        ev = events_stream_source(spark, sf_dir).select(
            F.col("user_id").cast("string").alias("symbol_clean"),
            "event_id",
            F.unix_micros(F.col("ts")).alias("timestamp_unix"),
            F.col("value").alias("close"),
            F.expr("event_id % 100 + 1").cast("long").alias("volume"),
        )
        name = f"stateful_vwap_{uuid.uuid4().hex[:8]}"
        with _scratch_ckpt() as ckpt:
            q = (
                streaming_vwap_exact(ev)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
    return spark.table(name)


_S_VWAP_SQL = """
WITH src AS (
  SELECT CAST(user_id AS VARCHAR) AS symbol_clean, event_id,
         epoch_us(ts) AS timestamp_unix, value AS close,
         event_id % 100 + 1 AS volume
  FROM events)
SELECT symbol_clean, event_id, timestamp_unix, close, volume,
       CAST(sum(CAST(floor(close * volume * 1e6 + 0.5) AS BIGINT)) OVER w
            AS DOUBLE) / 1e6
           / CAST(sum(volume) OVER w AS BIGINT) AS vwap,
       CAST(sum(volume) OVER w AS BIGINT) AS cum_volume
FROM src
WINDOW w AS (PARTITION BY symbol_clean ORDER BY timestamp_unix, event_id
             ROWS UNBOUNDED PRECEDING)
ORDER BY symbol_clean, timestamp_unix, event_id
"""


def x_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map pandas extension point (SS2.9) WITH an exact oracle:
    Bollinger bands (rolling mean +/- 2 sample stddev, 20-row window) per
    user series via applyInPandas. The pandas side uses exact integer
    micro-unit sums (bollinger_bands_exact), so it replays bit-identically
    as windowed decimal SQL."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.extension import (
        apply_per_symbol,
        bollinger_bands_exact,
    )

    ev = _t(spark, sf_dir, "events")
    src = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("timestamp_unix"),
        F.col("value").alias("close"),
    )
    out = apply_per_symbol(
        src,
        bollinger_bands_exact(window=20, num_std=2.0),
        "user_id bigint, event_id bigint, timestamp_unix bigint, close double,"
        " bb_mid double, bb_upper double, bb_lower double",
        keys=("user_id",),
        ts_col=("timestamp_unix", "event_id"),
    )
    return out


_X_BOLLINGER_SQL = """
WITH src AS (
  SELECT user_id, event_id, epoch_us(ts) AS timestamp_unix, value AS close
  FROM events),
w AS (
  SELECT user_id, event_id, timestamp_unix, close,
         CAST(sum(CAST(floor(close * 1e6 + 0.5) AS BIGINT)) OVER win
              AS DOUBLE) / 1e6 AS sx,
         CAST(sum(CAST(floor(close * close * 1e6 + 0.5) AS BIGINT)) OVER win
              AS DOUBLE) / 1e6 AS sxx,
         count(*) OVER win AS cnt
  FROM src
  WINDOW win AS (PARTITION BY user_id ORDER BY timestamp_unix, event_id
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
s AS (
  SELECT *, sx / cnt AS bb_mid,
         CASE WHEN cnt >= 2
              THEN sqrt(greatest((cnt * sxx - sx * sx) / (cnt * (cnt - 1)), 0.0))
              ELSE 0.0 END AS sd
  FROM w)
SELECT user_id, event_id, timestamp_unix, close, bb_mid,
       bb_mid + 2.0 * sd AS bb_upper,
       bb_mid - 2.0 * sd AS bb_lower
FROM s ORDER BY user_id, timestamp_unix, event_id
"""


def x_ema_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-oracle EMA(12)/EMA(26)/MACD per user series: a sequential
    recurrence most engines can only approximate cross-engine, made
    bit-exact by folding integer micro-units (operators/extension.py
    ema_macd_exact) — the DuckDB twin replays the identical fold as a
    recursive CTE. Grouped-map pandas per instrument: one shuffle on the
    group key, Arrow both ways; group size is one instrument's history,
    so 100 TB parallelism scales with instrument count."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.extension import (
        apply_per_symbol,
        ema_macd_exact,
    )

    ev = _t(spark, sf_dir, "events")
    src = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("timestamp_unix"),
        F.col("value").alias("close"),
    )
    out = apply_per_symbol(
        src,
        ema_macd_exact(fast=12, slow=26),
        "user_id bigint, event_id bigint, timestamp_unix bigint, close double,"
        " ema_fast double, ema_slow double, macd double",
        keys=("user_id",),
        ts_col=("timestamp_unix", "event_id"),
    )
    return out


_X_EMA_MACD_SQL = """
WITH RECURSIVE src AS (
  SELECT user_id, event_id, epoch_us(ts) AS timestamp_unix, value AS close,
         CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events),
ema AS (
  SELECT user_id, event_id, timestamp_unix, close, v, rn,
         v AS e12, v AS e26
  FROM src WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.event_id, s.timestamp_unix, s.close, s.v, s.rn,
         e.e12 + CAST(floor(2.0 * (s.v - e.e12) / 13.0) AS BIGINT),
         e.e26 + CAST(floor(2.0 * (s.v - e.e26) / 27.0) AS BIGINT)
  FROM src s JOIN ema e ON s.user_id = e.user_id AND s.rn = e.rn + 1)
SELECT user_id, event_id, timestamp_unix, close,
       CAST(e12 AS DOUBLE) / 1000000.0 AS ema_fast,
       CAST(e26 AS DOUBLE) / 1000000.0 AS ema_slow,
       CAST(e12 - e26 AS DOUBLE) / 1000000.0 AS macd
FROM ema
ORDER BY user_id, timestamp_unix, event_id
"""


def e_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly screen: events whose value sits more than
    3 sample standard deviations from the user's trailing 50-row mean
    (>= 10 trailing observations). Mean/stddev come from exact decimal
    window sums (operators/windows.rolling_zscore), so the double z-score
    replays bit-identically in the DuckDB oracle."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.windows import (
        rolling_zscore,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("timestamp_unix"),
        "value",
    )
    z = rolling_zscore(
        ev, ["user_id"], ("timestamp_unix", "event_id"), "value", n=50, min_obs=10
    )
    return (
        z.filter(F.abs(F.col("zscore")) > 3.0)
        .select("user_id", "event_id", "timestamp_unix", "value", "zscore")
    )


_E_ZSCORE_SQL = """
WITH src AS (
  SELECT user_id, event_id, epoch_us(ts) AS timestamp_unix, value FROM events),
w AS (
  SELECT user_id, event_id, timestamp_unix, value,
         CAST(count(value) OVER win AS DOUBLE) AS n,
         CAST(sum(CAST(value AS DECIMAL(38,6))) OVER win AS DOUBLE) AS sx,
         CAST(sum(CAST(value * value AS DECIMAL(38,6))) OVER win AS DOUBLE) AS sxx
  FROM src
  WINDOW win AS (PARTITION BY user_id ORDER BY timestamp_unix, event_id
                 ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)),
z AS (
  SELECT user_id, event_id, timestamp_unix, value,
         CASE WHEN n < 10.0 OR (n * sxx - sx * sx) / (n * (n - 1.0)) <= 0
              THEN NULL
              ELSE (value - sx / n) / sqrt((n * sxx - sx * sx) / (n * (n - 1.0)))
         END AS zscore
  FROM w)
SELECT user_id, event_id, timestamp_unix, value, zscore
FROM z WHERE abs(zscore) > 3.0
ORDER BY user_id, timestamp_unix, event_id
"""


def x_rolling_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based rolling aggregate: per event, the count / exact sum /
    avg of the same user's values over the trailing 30 minutes — a RANGE
    window frame on the epoch-micros order key (not ROWS: peers at the
    same timestamp enter the frame together on both engines). The sum is
    decimal-routed, so the frame result is accumulation-order-free."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-30 * 60 * 1_000_000, 0)
    )
    roll_sum = (
        F.sum(F.col("value").cast("decimal(38,6)")).over(w).cast("double")
    )
    roll_n = F.count(F.lit(1)).over(w)
    return ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("timestamp_unix"),
        roll_sum.alias("roll_sum"),
        roll_n.alias("roll_n"),
        (roll_sum / roll_n).alias("roll_avg"),
    )


_X_ROLLING_SQL = """
SELECT user_id, event_id, epoch_us(ts) AS timestamp_unix,
       CAST(sum(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS roll_sum,
       count(*) OVER w AS roll_n,
       CAST(sum(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE)
           / (count(*) OVER w) AS roll_avg
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)
ORDER BY user_id, timestamp_unix, event_id
"""


def e_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 — JSON property access in the hot path as a native expression
    (get_json_object, JVM-side; reference parses payload dicts in Python
    per row). Extracts props.k and aggregates per event type."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
        .withColumn(
            "k_avg", F.col("k_sum").cast("double") / F.col("n_with_k")
        )
    )


_E_PROPS_JSON_SQL = """
WITH src AS (
  SELECT event_type, CAST(props ->> 'k' AS BIGINT) AS k FROM events)
SELECT event_type,
       count(*) AS n_events,
       count(k) AS n_with_k,
       CAST(sum(k) AS BIGINT) AS k_sum,
       min(k) AS k_min,
       max(k) AS k_max,
       CAST(CAST(sum(k) AS BIGINT) AS DOUBLE) / count(k) AS k_avg
FROM src
GROUP BY event_type
ORDER BY event_type
"""


def s_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization via Spark's native session_window (the
    streaming twin of the batch lag-gap e_sessionize): merge events with
    <= 30-minute gaps per user inside a real streaming query
    (availableNow -> memory sink). Output avoids the gap-extended
    window end (session bounds = min/max event ts) so the batch SQL
    oracle replays it exactly."""
    import uuid

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.streaming.pipeline import (
        events_stream_source,
    )

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import (
        stateful_partitions,
    )

    tune(spark)
    with stateful_partitions(spark):
        ev = events_stream_source(spark, sf_dir)
        agg = (
            ev.withWatermark("ts", "1 hour")
            .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
            .agg(
                F.min("ts").alias("session_start"),
                F.max("ts").alias("session_end"),
                F.count(F.lit(1)).alias("n_events"),
            )
            .select("user_id", "session_start", "session_end", "n_events")
        )
        name = f"stream_sessions_{uuid.uuid4().hex[:8]}"
        with _scratch_ckpt() as ckpt:
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
    return spark.table(name)


#: Batch replay of session_window semantics: same >30-min gap split as
#: e_sessionize, aggregated to session bounds. session_window treats a
#: gap of EXACTLY the duration as a new session (merge iff
#: ts < prev_end + gap), matching the strict > comparison here.
_S_SESSIONS_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
  FROM flagged
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM sessions GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


def s_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: each view event joined to
    the same user's purchases within the next 30 minutes — the funnel
    attribution shape. Both sides are real file-source streams with
    watermarks; the time-bound join condition lets Spark expire state, so
    at 100 TB state size is bounded by (watermark window x arrival rate),
    not the stream length. availableNow drives it to completion and the
    batch SQL interval join replays it exactly (inner joins emit on
    match, so the result set is watermark-invariant for in-order data)."""
    import uuid

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.streaming.pipeline import (
        events_stream_source,
    )

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import (
        stateful_partitions,
    )

    tune(spark)
    with stateful_partitions(spark):
        views = (
            events_stream_source(spark, sf_dir)
            .filter(F.col("event_type") == "view")
            .select(
                F.col("user_id").alias("view_user"),
                F.col("event_id").alias("view_id"),
                F.col("ts").alias("view_ts"),
            )
            .withWatermark("view_ts", "2 hours")
        )
        buys = (
            events_stream_source(spark, sf_dir)
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("buy_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"),
            )
            .withWatermark("purchase_ts", "2 hours")
        )
        joined = views.join(
            buys,
            (F.col("view_user") == F.col("buy_user"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (
                F.col("purchase_ts")
                < F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")
            ),
            "inner",
        ).select(
            F.col("view_user").alias("user_id"),
            "view_id",
            "purchase_id",
            "view_ts",
            "purchase_ts",
            (
                F.unix_micros(F.col("purchase_ts"))
                - F.unix_micros(F.col("view_ts"))
            ).alias("lag_us"),
        )
        name = f"stream_join_{uuid.uuid4().hex[:8]}"
        with _scratch_ckpt() as ckpt:
            q = (
                joined.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
    return spark.table(name)


_S_JOIN_SQL = """
SELECT a.user_id, a.event_id AS view_id, b.event_id AS purchase_id,
       a.ts AS view_ts, b.ts AS purchase_ts,
       epoch_us(b.ts) - epoch_us(a.ts) AS lag_us
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL 30 MINUTE
WHERE a.event_type = 'view' AND b.event_type = 'purchase'
ORDER BY a.user_id, view_id, purchase_id
"""


def x_pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot — per-user event-type count matrix (beyond-reference OLAP;
    compiles to one groupBy with conditional aggregates)."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "error", "signup"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    # pivot emits NULL for absent combos; normalize to 0 for the oracle
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types]
    )


_X_PIVOT_SQL = """
SELECT user_id,
       count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
       count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
       count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
       count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup
FROM events GROUP BY user_id ORDER BY user_id
"""


def x_cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE — grouping-set totals over (event_type, day): every
    combination incl. grand total, one pass (beyond-reference OLAP)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.cube("event_type", F.to_date("ts").alias("trade_date"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
    )


_X_CUBE_SQL = f"""
SELECT event_type, CAST(ts AS DATE) AS trade_date,
       count(*) AS n_events, {sql_dsum('value')} AS total_value
FROM events
GROUP BY CUBE (event_type, CAST(ts AS DATE))
ORDER BY event_type ASC NULLS FIRST, trade_date ASC NULLS FIRST
"""


def e_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization — per-user sessions split on >30-minute gaps
    (lag + cumulative-sum window; `session_window` is the streaming twin).
    Output: one row per session with bounds and event count."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts", 1).over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = (
        ev.withColumn("_new", new_sess)
        .withColumn(
            "session_id",
            F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    return sess


_E_SESSION_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR CAST(floor(epoch(ts)) AS BIGINT)
                      - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM sessions GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


def e_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p50/p90/p99) per key — Spark
    `percentile` == DuckDB `quantile_cont` (both linear interpolation on
    the sorted values; rounded to absorb last-ulp interpolation-formula
    differences). `percentile_approx` is the documented scale path when
    exact sort-based percentiles get too heavy."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            q6(F.percentile("value", F.lit(0.5)), "p50"),
            q6(F.percentile("value", F.lit(0.9)), "p90"),
            q6(F.percentile("value", F.lit(0.99)), "p99"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_E_PERCENTILES_SQL = """
SELECT event_type,
       floor(quantile_cont(value, 0.5) * 1e6 + 0.5) / 1e6 AS p50,
       floor(quantile_cont(value, 0.9) * 1e6 + 0.5) / 1e6 AS p90,
       floor(quantile_cont(value, 0.99) * 1e6 + 0.5) / 1e6 AS p99,
       count(*) AS n
FROM events GROUP BY event_type ORDER BY event_type
"""


def e_distinct_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 at query level — exact distinct active users per day (the
    `approx_count_distinct` scale variant lives in the library; exact here
    for the oracle)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").alias("trade_date"))
        .agg(
            F.countDistinct("user_id").alias("distinct_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


_E_DISTINCT_SQL = """
SELECT CAST(ts AS DATE) AS trade_date,
       count(DISTINCT user_id) AS distinct_users,
       count(*) AS n_events
FROM events GROUP BY 1 ORDER BY trade_date
"""


#: One SQL text, two engines: executed verbatim by spark.sql AND DuckDB —
#: the SS3.3 "same queries, a real engine" story, with the decimal-exact
#: aggregation idiom embedded in portable ANSI SQL.
_SQL_SHARED_DAILY = """
SELECT user_id,
       CAST(ts AS DATE) AS trade_date,
       max(value) AS day_high,
       min(value) AS day_low,
       CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
       count(*) AS candle_count
FROM events
GROUP BY user_id, CAST(ts AS DATE)
ORDER BY user_id, trade_date
"""


def sql_passthrough_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SS3.3 — the SQL surface: register the table as a view and run the
    exact same ANSI text the oracle runs."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_SQL_SHARED_DAILY)


#: Second declared-SQL pin: the VOLATILITY_STATS dispersion shape
#: (plans/sql_views.py:74-83, reference sql/athena_parquet_tables.sql
#: dispersion query) as ONE ANSI text both engines execute verbatim —
#: stddev routed through the exact decimal formula (functions/exact.py)
#: so the shared text is bit-deterministic in Spark AND DuckDB.
_SQL_SHARED_VOLATILITY = f"""
SELECT user_id AS symbol_key,
       {sql_davg('value')} AS avg_volatility,
       {sql_dstddev('value')} AS stddev_change,
       max(value) AS max_gain,
       min(value) AS min_loss,
       count(*) AS record_count
FROM events
GROUP BY user_id
ORDER BY avg_volatility DESC, symbol_key
"""


def sql_passthrough_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SS3.3 — dispersion-stats SQL passthrough: the same ANSI text as
    the oracle, verbatim, over the registered events view (the reference's
    VOLATILITY_STATS query shape: avg/stddev/extremes per group)."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_SQL_SHARED_VOLATILITY)


def m_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing — documents wrapped as binary payloads with
    typed metadata, features extracted by an Arrow-batched mapInPandas
    operator (deterministic md5-derived stand-in for the decoder). The
    oracle recomputes byte length + md5 in SQL, validating the
    binary-column round trip through Arrow."""
    docs = _t(spark, sf_dir, "documents")
    media = text_as_media(docs)
    feats = extract_features(media, fake=True)
    return feats.select(
        "media_id", "n_bytes", "content_md5",
        # feat0 is md5int / 2^32 — ALWAYS dyadic, so round() half-ties
        # are guaranteed somewhere in a large corpus; q6 is tie-free.
        q6(F.element_at("feat", 1), "feat0"),
    )


_M_BINARY_SQL = """
SELECT doc_id AS media_id,
       octet_length(CAST(text AS BLOB)) AS n_bytes,
       md5(text) AS content_md5,
       floor(CAST(CAST('0x' || substr(md5(text || '#0'), 1, 8) AS BIGINT) AS DOUBLE)
             / 4294967296.0 * 1e6 + 0.5) / 1e6 AS feat0
FROM documents ORDER BY media_id
"""


# ---------------------------------------------------------------------------
# Training-data pipeline operators: documents (text analysis, dedup family)
# and embeddings (similarity search). Beyond-reference surface per
# BASELINE.json north star.
# ---------------------------------------------------------------------------

#: Shared SQL fragment: lowercase whitespace token ARRAY of a document.
#: Mirrors Spark tokens() exactly: strip ALL edge whitespace via regexp
#: (SQL trim only removes spaces, so 'a\n' would split into ['a','']),
#: and blank/whitespace-only text yields [] — a bare
#: regexp_split_to_array returns [''] (one empty token) and every
#: count/ratio downstream would diverge. The 'g' flag matters: DuckDB
#: regexp_replace replaces only the first match by default.
_SQL_STRIPPED = r"regexp_replace(lower(text), '^\s+|\s+$', '', 'g')"
_SQL_TOKS = (
    rf"CASE WHEN {_SQL_STRIPPED} = '' THEN []::VARCHAR[] "
    rf"ELSE regexp_split_to_array({_SQL_STRIPPED}, '\s+') END"
)

#: Shared SQL fragment: lowercase whitespace token set of a document.
_SQL_TOKSET = rf"list_distinct({_SQL_TOKS})"


def d_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting over documents (native array exprs, no UDF)."""
    docs = _t(spark, sf_dir, "documents")
    return token_stats(docs)


_D_TOKEN_STATS_SQL = rf"""
SELECT doc_id,
       n_chars_computed,
       len(ts) AS n_tokens,
       len(list_distinct(ts)) AS n_unique_tokens,
       CASE WHEN len(ts) > 0
            THEN CAST(list_sum(list_transform(ts, t -> length(t))) AS DOUBLE) / len(ts)
            ELSE 0.0 END AS mean_token_len
FROM (SELECT doc_id, length(text) AS n_chars_computed,
             {_SQL_TOKS} AS ts
      FROM documents)
ORDER BY doc_id
"""


def d_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword/distinct ratios + composite score."""
    docs = _t(spark, sf_dir, "documents")
    return quality_score(docs)


_D_QUALITY_SQL = rf"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS ts
           FROM documents),
r AS (
  SELECT doc_id, len(ts) AS n,
         CASE WHEN len(ts) > 0 THEN
           CAST(len(list_filter(ts, t -> list_contains(
               ['the','a','of','and','to','in','is'], t))) AS DOUBLE) / len(ts)
         ELSE 0.0 END AS stop_ratio,
         CASE WHEN len(ts) > 0 THEN
           CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts)
         ELSE 0.0 END AS distinct_ratio
  FROM t)
SELECT doc_id, n AS n_tokens,
       floor(stop_ratio * 1e6 + 0.5) / 1e6 AS stopword_ratio,
       floor(distinct_ratio * 1e6 + 0.5) / 1e6 AS distinct_ratio,
       floor(least(CAST(n AS DOUBLE) / 100.0, 1.0) * (1.0 - stop_ratio)
             * distinct_ratio * 1e6 + 0.5) / 1e6 AS quality_score
FROM r ORDER BY doc_id
"""


def d_language_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: per-profile function-word hits + argmax."""
    docs = _t(spark, sf_dir, "documents")
    return language_guess(docs)


def _lang_sql() -> str:
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.text import (
        LANG_PROFILES,
    )

    hits = ",\n         ".join(
        "len(list_filter(ts, t -> list_contains(["
        + ", ".join(f"'{w}'" for w in words)
        + f"], t))) AS hits_{lang}"
        for lang, words in LANG_PROFILES.items()
    )
    langs = list(LANG_PROFILES)
    mx = "greatest(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    cases = " ".join(f"WHEN hits_{lang} = {mx} THEN '{lang}'" for lang in langs)
    # hits are counted over the token MULTISET (with repetition), matching
    # text._hits over the raw token array.
    return rf"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS ts
           FROM documents),
h AS (SELECT doc_id,
         {hits}
      FROM t)
SELECT *, CASE WHEN {mx} = 0 THEN 'und' {cases} ELSE 'und' END AS lang_guess
FROM h ORDER BY doc_id
"""


def d_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: exact md5 + order-insensitive content md5."""
    docs = _t(spark, sf_dir, "documents")
    return fingerprint(docs)


_D_FINGERPRINT_SQL = rf"""
SELECT doc_id,
       md5(text) AS exact_fingerprint,
       md5(array_to_string(list_sort({_SQL_TOKSET}), chr(31))) AS content_fingerprint
FROM documents ORDER BY doc_id
"""


def d_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: hash-groupBy on md5(text)."""
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup_groups(docs)


_D_EXACT_DEDUP_SQL = """
SELECT md5(text) AS text_hash, count(*) AS copies, min(doc_id) AS keeper_id
FROM documents GROUP BY 1 ORDER BY text_hash
"""


def d_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force token-set Jaccard near-dup pairs (threshold 0.95).
    O(n^2) exact baseline — the LSH variant below is the scale path."""
    docs = _t(spark, sf_dir, "documents")
    return exact_jaccard_pairs(docs, threshold=0.95)


_D_JACCARD_SQL = rf"""
WITH t AS (SELECT doc_id, {_SQL_TOKSET} AS ts FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       floor(CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
             / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))
             * 1e6 + 0.5) / 1e6 AS jaccard
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
      / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) >= 0.95
ORDER BY doc_a, doc_b
"""


def d_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate generation (threshold-adaptive banding:
    32 hashes, 4 bands x 8 rows at 0.95), exact-verified at 0.95.
    md5-keyed permutations are deterministic across engines, so the oracle
    reproduces the identical candidate set."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_near_dup_pairs(docs, threshold=0.95)


def _minhash_ctes(threshold: float, where: str = "") -> str:
    """Shared DuckDB replay of the MinHash chain for ``threshold`` —
    token sets -> one 48-bit md5 base hash per token (mod P) -> k affine
    mixes -> band keys -> DISTINCT candidates -> CTEs ``t`` (doc_id, ts)
    and ``cand`` (doc_a, doc_b). The exact scheme minhash_signatures
    computes JVM-side; threshold-adaptive banding mirrors
    lsh_banding_for. ONE generator for every minhash oracle (the recall
    report and the near-dup query must never drift apart)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
        MINHASH_P,
        _uhash_coeffs,
        lsh_banding_for,
    )

    k, bands, rows = lsh_banding_for(threshold)
    coeffs = _uhash_coeffs(k)
    base = r"CAST('0x' || substr(md5(t), 1, 12) AS BIGINT) % 2147483647"
    assert MINHASH_P == 2147483647
    sigs = ",\n         ".join(
        f"list_min(list_transform(mh, m -> ({a} * m + {b}) % 2147483647)) AS sig{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_exprs = ", ".join(
        "md5(concat_ws('|', '{b}', {cols}))".format(
            b=b, cols=", ".join(f"sig{b * rows + r}" for r in range(rows))
        )
        for b in range(bands)
    )
    return rf"""t AS (SELECT doc_id, {_SQL_TOKSET} AS ts FROM documents {where}),
tm AS (SELECT doc_id, list_transform(ts, t -> {base}) AS mh FROM t),
sig AS (SELECT doc_id,
         {sigs}
        FROM tm),
bands AS (SELECT doc_id, unnest([{band_exprs}]) AS band FROM sig),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id)"""


def _minhash_sql() -> str:
    return rf"""
WITH {_minhash_ctes(0.95)},
verified AS (
  SELECT doc_a, doc_b,
         CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE)
         / (len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts))) AS j
  FROM cand JOIN t ta ON ta.doc_id = doc_a JOIN t tb ON tb.doc_id = doc_b)
SELECT doc_a, doc_b, floor(j * 1e6 + 0.5) / 1e6 AS jaccard
FROM verified WHERE j >= 0.95 ORDER BY doc_a, doc_b
"""


def d_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the continuous-ingestion shape: 90% of the
    documents table plays the already-indexed corpus (minhash_index: one
    persistable row per doc), the other 10% plays the landing batch
    probed against it (dedup_against_index: band join at distinct-set
    level, broadcast batch, exact-Jaccard verify). The corpus is never
    re-hashed per batch; tests pin probe == batch-run cross pairs and
    index update == row append."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
        dedup_against_index,
        minhash_index,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    # materialize the index once — standing in for the parquet artifact a
    # production probe reads; the probe consumes it on three sides
    # (bands, verify, membership) and would otherwise recompute the
    # corpus signatures per consumer (measured 7.7 -> 5.8 s at sf0.1)
    index = minhash_index(corpus, threshold=0.9).localCheckpoint()
    return dedup_against_index(new, index, threshold=0.9)


def _incremental_dedup_sql(threshold: float = 0.9) -> str:
    """DuckDB replay of the batch-vs-index probe: per-doc minhash over
    all documents, band join restricted to (new x corpus), exact Jaccard
    — same md5 scheme, same banding as lsh_banding_for(threshold)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
        _uhash_coeffs,
        lsh_banding_for,
    )

    k, bands, rows = lsh_banding_for(threshold)
    coeffs = _uhash_coeffs(k)
    base = r"CAST('0x' || substr(md5(t), 1, 12) AS BIGINT) % 2147483647"
    sigs = ",\n         ".join(
        f"list_min(list_transform(mh, m -> ({a} * m + {b}) % 2147483647)) AS sig{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_exprs = ", ".join(
        "md5(concat_ws('|', '{b}', {cols}))".format(
            b=b, cols=", ".join(f"sig{b * rows + r}" for r in range(rows))
        )
        for b in range(bands)
    )
    return rf"""
WITH t AS (SELECT doc_id, {_SQL_TOKSET} AS ts FROM documents),
tm AS (SELECT doc_id, list_transform(ts, t -> {base}) AS mh FROM t),
sig AS (SELECT doc_id,
         {sigs}
        FROM tm),
bands AS (SELECT doc_id, unnest([{band_exprs}]) AS band FROM sig),
cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS index_id
         FROM bands a JOIN bands b ON a.band = b.band
         WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
verified AS (
  SELECT new_id, index_id,
         CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE)
         / (len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts))) AS j
  FROM cand JOIN t ta ON ta.doc_id = new_id JOIN t tb ON tb.doc_id = index_id)
SELECT new_id, index_id, floor(j * 1e6 + 0.5) / 1e6 AS jaccard
FROM verified WHERE j >= {threshold} ORDER BY new_id, index_id
"""


def d_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair graph -> dedup DECISIONS: connected components run to
    CONVERGENCE over the distinct-set rep graph (driver union-find under
    the edge bound, distributed pointer jumping above it — no round
    budget that a longer-chained corpus could silently outgrow), keeper
    = the component-minimum doc id. Pairs come from the MinHash-LSH path;
    the converged fixed point is round-count independent, so the oracle
    is a WITH RECURSIVE reachability query (min label over each vertex's
    reachable set) — exact for any component diameter."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
        minhash_dup_decisions,
    )

    docs = _t(spark, sf_dir, "documents")
    # rep-level components (exact same fixed point, proven in the
    # operator docstring + pinned by test): the member-pair expansion —
    # quadratic in replica count — is never materialized
    return minhash_dup_decisions(docs, threshold=0.95)


def _reach_ctes(pairs_cte: str = "pairs") -> list[str]:
    """Recursive-reachability CTEs over a ``(doc_a, doc_b)`` pair CTE:
    vertex/edge lists -> recursive reach -> ``comp(doc_id, keeper_id)``
    where keeper is the exact component minimum (round-count
    independent, any diameter). Requires a WITH RECURSIVE block."""
    return [
        f"""verts AS (SELECT DISTINCT v FROM (
  SELECT doc_a AS v FROM {pairs_cte} UNION ALL SELECT doc_b AS v FROM {pairs_cte}))""",
        f"""edges AS (SELECT doc_a AS v, doc_b AS n FROM {pairs_cte}
           UNION ALL SELECT doc_b AS v, doc_a AS n FROM {pairs_cte})""",
        """reach(v, label) AS (
  SELECT v, v FROM verts
  UNION
  SELECT e.v, r.label FROM edges e JOIN reach r ON r.v = e.n)""",
        """comp AS (
  SELECT v AS doc_id, min(label) AS keeper_id FROM reach GROUP BY v)""",
    ]


def _components_ctes() -> str:
    """CTE chain (for a WITH RECURSIVE block): minhash pairs -> exact
    component keepers via ``_reach_ctes``. Shared by ``_components_sql``
    and ``_curation_sql``."""
    inner = _minhash_sql().strip().removeprefix("WITH").strip()
    order_clause = "ORDER BY doc_a, doc_b"
    assert inner.endswith(order_clause)
    inner = inner[: -len(order_clause)].strip()
    # wrap the minhash pair query as a CTE chain prefix; rsplit — the
    # FINAL top-level select becomes the `pairs` CTE (earlier CTE bodies
    # also start with SELECT doc_a)
    prefix, final_select = inner.rsplit("SELECT doc_a", 1)
    ctes = [
        prefix.rstrip().rstrip(","),
        "pairs AS (SELECT doc_a" + final_select + ")",
        *_reach_ctes("pairs"),
    ]
    return ",\n".join(ctes)


def _components_sql() -> str:
    return f"""
WITH RECURSIVE {_components_ctes()}
SELECT doc_id, keeper_id FROM comp ORDER BY doc_id
"""


def d_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash sketch per document (md5-derived bit votes)."""
    docs = _t(spark, sf_dir, "documents")
    return simhash32(docs)


def _simhash_sql(bits: int = 32) -> str:
    sums = ",\n       ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(bits)
    )
    recomb = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END)" for j in range(bits)
    )
    return rf"""
WITH toks AS (SELECT doc_id, unnest({_SQL_TOKSET}) AS t FROM documents),
h AS (SELECT doc_id, CAST('0x' || substr(md5(t), 1, {bits // 4}) AS BIGINT) AS h FROM toks),
s AS (SELECT doc_id,
       {sums}
      FROM h GROUP BY doc_id)
SELECT doc_id, {recomb} AS simhash FROM s ORDER BY doc_id
"""


def d_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: hamming <= 3 over 60-bit sketches via the
    4-chunk pigeonhole equi-join (one shuffle on (chunk, 15-bit value)
    keys — NOT all-pairs; hamming <= 3 guarantees some chunk matches, so
    the result equals the exhaustive answer, which the all-pairs DuckDB
    oracle independently verifies). 60-bit, not 32: 8-bit chunks have
    256 values and template-heavy corpora put half the corpus in one hot
    bucket (19M intermediate join rows at sf0.1); 15-bit chunks keep the
    equi-join output-proportional."""
    docs = _t(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(docs, max_hamming=3, bits=60)


def _simhash_pairs_sql() -> str:
    inner = _simhash_sql(bits=60).replace("ORDER BY doc_id", "")
    return f"""
WITH sk AS ({inner})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sk a JOIN sk b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY doc_a, doc_b
"""


def emb_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-table hyperplane
    LSH buckets — the scale path: candidates come from bucket equi-joins
    (one shuffle, ~n/2^planes per table), exact cosine only on candidates.
    The md5-derived planes regenerate inside the DuckDB oracle, so even
    the approximate candidate set is value-hash-checked. The exact
    all-pairs variant (lsh_planes=None) stays as the recall baseline in
    tests/test_text_dedup.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        emb, threshold=0.5, lsh_planes=8, lsh_tables=8
    )


def _lsh_bucket_ctes(n_planes: int, n_tables: int, dim: int) -> str:
    """CTEs replaying hyperplane_weights + hyperplane_buckets bit-for-bit
    in DuckDB: e (double embeddings), lw (md5-derived plane weights),
    lel (exploded dims), ld (exact integer micro-unit plane dots), lb
    (vec_id, bucket) one row per table."""
    total = n_tables * n_planes
    return f"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
     FROM embeddings),
lw AS (SELECT plane, pos,
              CAST('0x' || substr(md5('p' || CAST(plane AS VARCHAR)
                                        || 'd' || CAST(pos AS VARCHAR)), 1, 8)
                    AS BIGINT) % 20001 - 10000 AS w
       FROM generate_series(0, {total - 1}) p(plane),
            generate_series(0, {dim - 1}) q(pos)),
lel AS (SELECT vec_id, i - 1 AS pos, emb[i] AS val
        FROM e, generate_series(1, {dim}) t(i)),
ld AS (SELECT vec_id, plane,
              sum(CAST(floor(val * 1e6 + 0.5) AS BIGINT) * w) AS dot
       FROM lel JOIN lw USING (pos) GROUP BY vec_id, plane),
lb AS (SELECT vec_id,
              (plane // {n_planes}) * {2 ** n_planes}
              + CAST(sum(CASE WHEN dot > 0
                              THEN (1 << (plane % {n_planes})) ELSE 0 END)
                     AS BIGINT) AS bucket
       FROM ld GROUP BY vec_id, plane // {n_planes})"""


def _emb_neardup_sql(
    threshold: float = 0.5, n_planes: int = 8, n_tables: int = 8, dim: int = 64
) -> str:
    return f"""
WITH {_lsh_bucket_ctes(n_planes, n_tables, dim)},
cand AS (SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
         FROM lb a JOIN lb b USING (bucket) WHERE a.vec_id < b.vec_id),
n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e)
SELECT doc_a, doc_b,
       floor(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) * 1e6 + 0.5) / 1e6 AS cosine
FROM cand JOIN n a ON a.vec_id = doc_a JOIN n b ON b.vec_id = doc_b
WHERE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) >= {threshold}
ORDER BY doc_a, doc_b
"""


def d_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, BPE-ish regex variant: letter/digit/punct runs via
    regexp_extract_all (whitespace counting lives in d_token_stats)."""
    docs = _t(spark, sf_dir, "documents")
    toks = bpe_ish_tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_bpe_tokens"),
    )


_D_BPE_SQL = r"""
SELECT doc_id,
       len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+'))
           AS n_bpe_tokens,
       len(list_distinct(regexp_extract_all(
           text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')))
           AS n_unique_bpe_tokens
FROM documents ORDER BY doc_id
"""


def d_kgram_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint: bottom-4 sketch of char-8-gram
    hashes, plus the collapsed md5 fingerprint (sketch array kept out of
    the comparison — engines stringify arrays differently)."""
    # small parquet = 1 input split; the per-row work (~1k md5 grams/doc)
    # is the cost, so spread rows across cores before the transform
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    out = kgram_bottomk_fingerprint(docs)
    return out.select(
        "doc_id",
        F.size("fingerprint_sketch").cast("long").alias("sketch_size"),
        "fingerprint",
    )


_D_KGRAM_SQL = """
WITH g AS (
  SELECT doc_id,
         list_transform(
             generate_series(1, greatest(length(lower(text)) - 7, 1)),
             i -> substr(lower(text), CAST(i AS INTEGER), 8)) AS grams
  FROM documents
),
h AS (
  SELECT doc_id,
         list_sort(list_distinct(list_transform(
             grams, x -> CAST('0x' || substr(md5(x), 1, 12) AS BIGINT)))) AS hs
  FROM g
),
s AS (SELECT doc_id, hs[1:4] AS sketch FROM h)
SELECT doc_id,
       len(sketch) AS sketch_size,
       md5(array_to_string(list_transform(sketch, x -> CAST(x AS VARCHAR)), ','))
           AS fingerprint
FROM s ORDER BY doc_id
"""


def d_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based stratified sampling (training-data
    curation): downsample dominant event classes, keep rare ones whole.
    md5-derived coin -> same rows selected on any cluster/engine; the
    oracle replays the predicate verbatim. One codegen'd filter, no
    shuffle, no RNG state."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.sampling import (
        stratified_sample,
    )

    ev = _t(spark, sf_dir, "events")
    out = stratified_sample(
        ev,
        "event_type",
        {"click": 500, "view": 250, "purchase": 10000, "signup": 10000},
        id_col="event_id",
        default_permyriad=2000,
    )
    return out.select("event_id", "user_id", "event_type", "value")


_D_SAMPLE_SQL = """
SELECT event_id, user_id, event_type, value
FROM events
WHERE CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000
      < CASE event_type WHEN 'click' THEN 500 WHEN 'view' THEN 250
                        WHEN 'purchase' THEN 10000 WHEN 'signup' THEN 10000
                        ELSE 2000 END
ORDER BY event_id
"""


def d_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking of documents (64-token chunks,
    16-token overlap) — pure per-row array exprs, no shuffle; the model-
    sized-pieces step of a training-data pipeline."""
    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=64, overlap=16)


_D_CHUNKS_SQL = rf"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS ts FROM documents),
n AS (SELECT doc_id, ts, len(ts) AS n FROM t WHERE len(ts) > 0),
c AS (SELECT doc_id, ts, n,
             CAST(ceil(greatest(n - 16, 1) / 48.0) AS BIGINT) AS nc
      FROM n),
e0 AS (SELECT doc_id, ts, unnest(generate_series(0, nc - 1)) AS chunk_idx
       FROM c),
e AS (SELECT doc_id, chunk_idx,
             ts[chunk_idx * 48 + 1 : chunk_idx * 48 + 64] AS chunk
      FROM e0)
SELECT doc_id, chunk_idx, len(chunk) AS n_chunk_tokens,
       array_to_string(chunk, ' ') AS chunk_text
FROM e ORDER BY doc_id, chunk_idx
"""


def d_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data cleaning: mask email-shaped tokens and long digit
    runs, per-doc match counts + md5 of the redacted text. Chained
    regexp expressions, codegen'd, shuffle-free."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.text import (
        redact_pii,
    )

    docs = _t(spark, sf_dir, "documents")
    return redact_pii(docs)


_D_REDACT_SQL = r"""
SELECT doc_id,
       len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
       len(regexp_extract_all(text, '[0-9]{9,}')) AS n_long_numbers,
       md5(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '[0-9]{9,}', '<NUM>', 'g')) AS redacted_md5
FROM documents ORDER BY doc_id
"""


def d_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split: md5(salt|id) % 10000 against
    cumulative weights. Pure per-row expression — reproducible on any
    cluster size / engine, no shuffle."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.sampling import (
        hash_split,
    )

    docs = _t(spark, sf_dir, "documents")
    return hash_split(docs, "doc_id")


_D_SPLIT_SQL = r"""
SELECT doc_id, split_bucket,
       CASE WHEN split_bucket < 9000 THEN 'train'
            WHEN split_bucket < 9500 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id,
             CAST('0x' || substr(md5('split-v1|' || CAST(doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 10000 AS split_bucket
      FROM documents)
ORDER BY doc_id
"""


def d_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: duplicate-line fraction
    and most-frequent-bigram fraction. Per-row array exprs, no shuffle."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.text import (
        repetition_signals,
    )

    docs = _t(spark, sf_dir, "documents")
    return repetition_signals(docs)


#: Token bigram list from the shared token fragment (DuckDB
#: generate_series(1, 0) is empty, matching Spark's size>=2 guard).
_SQL_BIGRAMS = (
    r"list_transform(generate_series(1, len(ts) - 1),"
    r" i -> ts[i] || ' ' || ts[i + 1])"
)

_D_REPETITION_SQL = rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(
           list_transform(string_split(text, chr(10)),
                          l -> regexp_replace(l, '^\s+|\s+$', '', 'g')),
           l -> l <> '') AS lines,
         {_SQL_BIGRAMS} AS bg
  FROM (SELECT doc_id, text, {_SQL_TOKS} AS ts FROM documents)
),
top AS (SELECT doc_id, max(c) AS top_c
        FROM (SELECT doc_id, gram, count(*) AS c
              FROM (SELECT doc_id, unnest(bg) AS gram FROM t)
              GROUP BY doc_id, gram)
        GROUP BY doc_id)
SELECT t.doc_id,
       len(lines) AS n_lines,
       floor((CASE WHEN len(lines) > 0
             THEN 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines)
             ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS dup_line_frac,
       len(bg) AS n_bigrams,
       floor((CASE WHEN len(bg) > 0
             THEN CAST(coalesce(top.top_c, 0) AS DOUBLE) / len(bg)
             ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS top_bigram_frac
FROM t LEFT JOIN top ON t.doc_id = top.doc_id
ORDER BY t.doc_id
"""


def d_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide most frequent token bigrams: explode -> partial-agg
    count -> TakeOrderedAndProject top-20 (count desc, gram asc)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        top_ngrams,
    )

    docs = _t(spark, sf_dir, "documents")
    return top_ngrams(docs, n=2, k=20)


_D_TOP_BIGRAMS_SQL = rf"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS ts FROM documents),
g AS (SELECT unnest({_SQL_BIGRAMS}) AS gram FROM t)
SELECT gram, count(*) AS n_occurrences
FROM g GROUP BY gram
ORDER BY n_occurrences DESC, gram LIMIT 20
"""


def d_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF. Integer ranking
    keys (tf desc, df asc, term asc) — the float score is reported, never
    the sort key (cross-engine ln() ulp differences)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        tf_idf_topk,
    )

    docs = _t(spark, sf_dir, "documents")
    return tf_idf_topk(docs, k=3)


_D_TFIDF_SQL = rf"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS ts FROM documents),
toks AS (SELECT doc_id, unnest(ts) AS term FROM t),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
s AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
             round(tf.tf * ln(CAST(n_docs + 1 AS DOUBLE) / (dfq.df + 1)), 6)
                 AS tf_idf,
             row_number() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf DESC, dfq.df ASC, tf.term ASC)
                 AS rnk
      FROM tf JOIN dfq USING (term) CROSS JOIN n)
SELECT doc_id, term, tf, df, tf_idf
FROM s WHERE rnk <= 3
ORDER BY doc_id, tf DESC, df, term
"""


def d_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-level exact substring dedup (Lee et al. 2022): maximal
    per-document spans of token 8-grams occurring >=2 times corpus-wide
    — the cut-list a pipeline applies where doc-level dedup misses
    shared boilerplate. Gram-hash counting replaces the paper's
    suffix array: one partial-aggregable shuffle + semi-join + islands
    merge (operators/dedup_similarity.duplicated_spans)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
        duplicated_spans,
    )

    docs = _t(spark, sf_dir, "documents")
    return duplicated_spans(docs, width=8, min_count=2)


_D_SPANS_SQL = rf"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS ts FROM documents),
g0 AS (SELECT doc_id, ts,
              unnest(generate_series(1, len(ts) - 7)) AS pos
       FROM t WHERE len(ts) >= 8),
g AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
             CAST('0x' || substr(md5(array_to_string(ts[pos:pos+7], ' ')),
                                 1, 15) AS BIGINT) AS gh
      FROM g0),
dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
f AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gh)),
gaps AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL
               OR pos - lag(pos) OVER w > 8 THEN 1 ELSE 0 END AS new_span
  FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
i AS (SELECT doc_id, pos,
             sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS isl
      FROM gaps)
SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
       CAST(count(*) AS BIGINT) AS n_dup_grams
FROM i GROUP BY doc_id, isl
ORDER BY doc_id, span_start
"""


def d_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-frequency dedup (Raffel et al. 2020 §2.2,
    operators/corpus.line_frequency_filter): drop every line occurring
    in more than 2 distinct documents — the boilerplate filter that
    doc-level (exact/MinHash/SimHash) and span-level (d_dup_spans)
    dedup both miss. The synthetic documents have no newline structure,
    so lines are deterministic 3-token windows (231 of 7460 distinct
    lines at sf0.01 are boilerplate under this rule — the filter has
    real work to do). Per-doc output: line counts + the reassembled
    clean text (array_sort(struct) == string_agg ORDER BY)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        line_frequency_filter,
    )

    docs = _t(spark, sf_dir, "documents")
    return line_frequency_filter(docs, max_docs=2, line_tokens=3)


_D_LINE_DEDUP_SQL = rf"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS ts FROM documents),
l0 AS (SELECT doc_id, ts,
              unnest(generate_series(0, CAST(ceil(len(ts) / 3.0) AS BIGINT) - 1))
                AS ln
       FROM t WHERE len(ts) > 0),
l AS (SELECT doc_id, CAST(ln AS BIGINT) AS ln,
             array_to_string(ts[ln * 3 + 1:ln * 3 + 3], ' ') AS line
      FROM l0),
f AS (SELECT line, count(DISTINCT doc_id) <= 2 AS keep FROM l GROUP BY line),
j AS (SELECT l.doc_id, l.ln, l.line, f.keep FROM l JOIN f USING (line)),
s AS (SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             coalesce(string_agg(CASE WHEN keep THEN line END, ' '
                                 ORDER BY ln), '') AS clean_text
      FROM j GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(n_lines, 0) AS n_lines,
       coalesce(n_kept, 0) AS n_kept,
       coalesce(n_lines, 0) - coalesce(n_kept, 0) AS n_dropped,
       coalesce(clean_text, '') AS clean_text
FROM documents d LEFT JOIN s USING (doc_id)
ORDER BY doc_id
"""


def e_cost_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 — the cost-monitor rollup (reference
    monitoring/cost_monitor.py:26-77 get_current_month_costs): filter a
    usage ledger to the CURRENT month and a fixed service whitelist,
    group by service, sum cost, and band each service against the
    budget thresholds (the reference's FREE/GOOD/CAUTION/WARNING
    report, re-expressed on the share of total since absolute dollar
    bands don't transfer to synthetic values). Ledger = events (service
    = event_type, cost = value); "current month" = the month of the
    newest event, derived in-query (one tiny agg broadcast back — no
    wall-clock dependence, replayable). Costs are exact decimal sums;
    shares are one IEEE division of exact operands."""
    ev = _t(spark, sf_dir, "events")
    services = ["click", "view", "purchase", "signup"]
    cur = ev.agg(F.date_trunc("month", F.max("ts")).alias("_m0"))
    led = ev.join(
        F.broadcast(cur),
        F.date_trunc("month", F.col("ts")) == F.col("_m0"),
    ).filter(F.col("event_type").isin(services))
    per = led.groupBy(F.col("event_type").alias("service")).agg(
        F.sum(F.col("value").cast("decimal(38,6)")).alias("_c"),
        F.count(F.lit(1)).cast("long").alias("n_records"),
    )
    tot = per.agg(F.sum("_c").alias("_t"))
    share = F.col("_c").cast("double") / F.col("_t").cast("double")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "service",
            F.col("_c").cast("double").alias("cost"),
            "n_records",
            share.alias("share"),
            F.when(F.col("_c") <= 0, F.lit("FREE"))
            .when(share < 0.10, F.lit("GOOD"))
            .when(share < 0.35, F.lit("CAUTION"))
            .otherwise(F.lit("WARNING"))
            .alias("band"),
        )
    )


_E_COST_ROLLUP_SQL = """
WITH m AS (SELECT date_trunc('month', max(ts)) AS m0 FROM events),
led AS (
  SELECT event_type AS service, CAST(value AS DECIMAL(38,6)) AS v
  FROM events, m
  WHERE date_trunc('month', ts) = m0
    AND event_type IN ('click', 'view', 'purchase', 'signup')),
per AS (
  SELECT service, sum(v) AS c, CAST(count(*) AS BIGINT) AS n_records
  FROM led GROUP BY service),
tot AS (SELECT sum(c) AS t FROM per)
SELECT service,
       CAST(c AS DOUBLE) AS cost,
       n_records,
       CAST(c AS DOUBLE) / CAST(t AS DOUBLE) AS share,
       CASE WHEN c <= 0 THEN 'FREE'
            WHEN CAST(c AS DOUBLE) / CAST(t AS DOUBLE) < 0.10 THEN 'GOOD'
            WHEN CAST(c AS DOUBLE) / CAST(t AS DOUBLE) < 0.35 THEN 'CAUTION'
            ELSE 'WARNING' END AS band
FROM per, tot
ORDER BY service
"""


def d_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis reservoir, md5-derived uniforms): top-20
    documents per source with inclusion probability proportional to
    length — the weighted-mixture construction step next to the
    Bernoulli/stratified/mixture samplers. One window per stratum; the
    float key is ln-based so it stays INTERNAL (selection is robust,
    the value itself is last-ulp-engine-dependent)
    (operators/sampling.weighted_sample)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.sampling import (
        weighted_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample(
        docs.select("source", "doc_id", "n_chars"),
        "doc_id", "n_chars", k=20, strata="source",
    )
    return out.select("source", "doc_id", "n_chars", "ws_rank")


_D_WSAMPLE_SQL = """
WITH s AS (
  SELECT source, doc_id, n_chars,
         ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#ws-v1'),
                                 1, 12) AS BIGINT) + 1.0)
            / 281474976710657.0)
           / greatest(CAST(n_chars AS DOUBLE), CAST(1e-9 AS DOUBLE))
             AS ws_key
  FROM documents),
r AS (SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY ws_key DESC, doc_id ASC) AS ws_rank
      FROM s)
SELECT source, doc_id, n_chars, CAST(ws_rank AS BIGINT) AS ws_rank
FROM r WHERE ws_rank <= 20
ORDER BY source, ws_rank
"""


def m_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate MEDIA detection: perceptual hash per binary
    payload (Arrow mapInPandas; deterministic md5 stand-in here, PIL
    aHash on real images) into the SAME 4-chunk pigeonhole hamming join
    as text simhash (dedup_similarity.hamming_near_dup_pairs) — one
    bucketed shuffle, exactly the all-pairs answer, so the oracle is
    the plain all-pairs SQL. Every 100th document is replayed as a
    re-ingested copy (id + 1e7) so the corpus contains byte-identical
    payloads — the scenario the detector exists for."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
        hamming_near_dup_pairs,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.multimodal import (
        media_phash,
        text_as_media,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    replay = docs.filter(F.col("doc_id") % 100 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000_000)
    )
    ph = media_phash(
        text_as_media(docs.unionByName(replay)), fake=True
    ).localCheckpoint()
    return hamming_near_dup_pairs(
        ph, id_col="media_id", hash_col="phash", bits=60
    )


_M_PHASH_SQL = """
WITH src AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 100 = 0),
h AS (SELECT doc_id,
             CAST('0x' || substr(md5(text || '#ph'), 1, 15) AS BIGINT) AS ph
      FROM src)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
FROM h a JOIN h b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.ph, b.ph)) <= 3
ORDER BY doc_a, doc_b
"""


def d_unigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram cross-entropy under the corpus's own unigram
    LM — the perplexity-proxy quality filter (KenLM stand-in). Tokens
    collapse to per-(doc, token) counts before anything wide; the only
    wide join is token-keyed; the corpus total broadcasts
    (operators/corpus.unigram_xent)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        unigram_xent,
    )

    docs = _t(spark, sf_dir, "documents")
    return unigram_xent(docs)


_D_XENT_SQL = rf"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS ts FROM documents),
dt AS (SELECT doc_id, t AS tok, count(*) AS c
       FROM (SELECT doc_id, unnest(ts) AS t FROM t) GROUP BY doc_id, tok),
freq AS (SELECT tok, CAST(sum(c) AS BIGINT) AS f FROM dt GROUP BY tok),
tot AS (SELECT CAST(sum(f) AS BIGINT) AS tt FROM freq),
scored AS (
  SELECT dt.doc_id, dt.c,
         round(ln(CAST(freq.f AS DOUBLE) / CAST(tot.tt AS DOUBLE)), 6) AS lp
  FROM dt JOIN freq USING (tok) CROSS JOIN tot)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       (-CAST(sum(CAST(CAST(c AS DOUBLE) * lp AS DECIMAL(38,6))) AS DOUBLE))
         / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) AS xent
FROM scored GROUP BY doc_id
ORDER BY doc_id
"""


def d_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing token 3-grams
    with a benchmark set (here: every 50th document). Benchmark shingles
    are distinct'd + broadcast; clean corpus docs never shuffle."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        decontaminate,
    )

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corp = docs.filter(F.col("doc_id") % 50 != 0)
    return decontaminate(corp, bench, ngram=3)


_SQL_TRIGRAMS = (
    r"list_transform(generate_series(1, len(ts) - 2),"
    r" i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])"
)

_D_DECONTAM_SQL = rf"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS ts FROM documents),
g AS (SELECT doc_id, unnest(list_distinct({_SQL_TRIGRAMS})) AS gram FROM t),
bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
hits AS (SELECT g.doc_id, count(*) AS n_shared_grams
         FROM g JOIN bg USING (gram)
         WHERE g.doc_id % 50 <> 0 GROUP BY g.doc_id)
SELECT d.doc_id,
       coalesce(h.n_shared_grams, 0) AS n_shared_grams,
       coalesce(h.n_shared_grams, 0) > 0 AS is_contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % 50 <> 0
ORDER BY doc_id
"""


def d_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document contamination fractions
    (operators/corpus.contamination_report) — the triage view over the
    binary d_decontaminate verdict: what SHARE of each flagged doc's
    distinct 3-grams appears in the benchmark (GPT-3 appendix C's
    dirtiness measure; near-1.0 = verbatim copy, a few percent = shared
    boilerplate). Broadcast benchmark shingles, map-side filter for the
    clean majority, BIGINT floor-div fraction, bounded top-50."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        contamination_report,
    )

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corp = docs.filter(F.col("doc_id") % 50 != 0)
    return contamination_report(corp, bench, ngram=3, top=50)


_D_CONTAM_REPORT_SQL = rf"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS ts FROM documents),
g AS (SELECT doc_id, unnest(list_distinct({_SQL_TRIGRAMS})) AS gram FROM t),
bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
per AS (
  SELECT g.doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(count(bg.gram) AS BIGINT) AS n_shared_grams
  FROM g LEFT JOIN bg USING (gram)
  WHERE g.doc_id % 50 <> 0 GROUP BY g.doc_id)
SELECT doc_id, n_grams, n_shared_grams,
       CAST((n_shared_grams * 1000000) // n_grams AS DOUBLE) / 1e6
         AS overlap_frac
FROM per WHERE n_shared_grams > 0
ORDER BY overlap_frac DESC, doc_id ASC
LIMIT 50
"""


def j_interval_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join as a bucketed equi-join: every click inside
    a 2-hour window opened by the same user's signup event. The theta
    predicate becomes an equi-join on (user, hour-bucket) + residual
    filter — shuffle-join scale instead of broadcast-nested-loop."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.joins import (
        interval_join,
    )

    ev = _t(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("signup_event_id"),
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("win_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_event_id"), "ts"
    )
    out = interval_join(
        clicks, signups, ["user_id"], "ts", "win_start", "win_end",
        bucket_seconds=3600,
    )
    return out.select(
        "signup_event_id",
        "click_event_id",
        "user_id",
        (F.unix_micros("ts") - F.unix_micros("win_start")).alias("micros_into_window"),
    )


_J_INTERVAL_SQL = """
SELECT s.event_id AS signup_event_id, c.event_id AS click_event_id, s.user_id,
       epoch_us(c.ts) - epoch_us(s.ts) AS micros_into_window
FROM events s JOIN events c
  ON s.user_id = c.user_id
 AND s.event_type = 'signup' AND c.event_type = 'click'
 AND c.ts >= s.ts AND c.ts < s.ts + INTERVAL 2 HOUR
ORDER BY signup_event_id, click_event_id
"""


def emb_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate kNN: deterministic Lloyd's k-means coarse quantizer
    (md5-seeded init + fixed iterations + decimal-exact means — see
    seeded_centroids), search limited to n_probe nearest cells. Because
    the fit is engine-independent, even this *approximate*, iterative
    operator has an exact SQL oracle: _ivf_ann_sql unrolls the same
    iterations in DuckDB. Recall vs brute force is asserted in
    tests/test_ivf_fingerprint.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return ivf_knn(
        emb.filter(F.col("vec_id") < 10), emb, k=5, n_lists=8, n_probe=3, dim=64
    )


def _ivf_assign_ctes(
    n_lists: int = 8, n_iter: int = 2, dim: int = 64, where: str = ""
) -> tuple[list[str], str]:
    """DuckDB replay of the seeded-k-means corpus assignment: same
    md5-bottom-k init, same unrolled Lloyd iterations with decimal-exact
    means, same sequential-fold distances -> bit-identical centroids and
    cell assignments. Returns ``(ctes, names)`` where the final CTEs are
    ``af`` (vec_id, emb, cell) and the last centroid table name (for
    probing). Shared by ``_ivf_ann_sql`` and ``_semdedup_sql``."""
    d2 = (
        "list_dot_product(s.emb, s.emb) + list_dot_product(c.centroid, c.centroid)"
        " - 2.0 * list_dot_product(s.emb, c.centroid)"
    )

    def assign(src: str, cents: str) -> str:
        return f"""(
  SELECT vec_id, emb, cell FROM (
    SELECT s.vec_id, s.emb, c.cell,
           row_number() OVER (PARTITION BY s.vec_id
                              ORDER BY {d2} ASC, c.cell ASC) AS rn
    FROM {src} s CROSS JOIN {cents} c)
  WHERE rn = 1)"""

    def means(assigned: str) -> str:
        return f"""(
  SELECT cell, list(m ORDER BY pos) AS centroid FROM (
    SELECT cell, i AS pos,
           CAST(sum(CAST(emb[i] AS DECIMAL(38,6))) AS DOUBLE) / count(emb[i]) AS m
    FROM {assigned}, generate_series(1, {dim}) t(i)
    GROUP BY cell, i)
  GROUP BY cell)"""

    ctes = [
        "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))"
        f" AS emb FROM embeddings {where})",
        f"""c0 AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
             AS cell,
         emb AS centroid
  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_lists})""",
    ]
    cur = "c0"
    for i in range(n_iter):
        ctes.append(f"a{i} AS {assign('e', cur)}")
        cur = f"c{i + 1}"
        ctes.append(f"{cur} AS {means(f'a{i}')}")
    ctes.append(f"af AS {assign('e', cur)}")
    return ctes, cur


def _ivf_ann_sql(
    n_lists: int = 8, n_probe: int = 3, k: int = 5, n_iter: int = 2, dim: int = 64
) -> str:
    """DuckDB replay of the seeded-k-means IVF search (assignment chain
    from ``_ivf_assign_ctes``)."""
    d2 = (
        "list_dot_product(s.emb, s.emb) + list_dot_product(c.centroid, c.centroid)"
        " - 2.0 * list_dot_product(s.emb, c.centroid)"
    )
    ctes, cur = _ivf_assign_ctes(n_lists, n_iter, dim)
    ctes.append(f"""probes AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT s.vec_id, c.cell,
           row_number() OVER (PARTITION BY s.vec_id
                              ORDER BY {d2} ASC, c.cell ASC) AS rn
    FROM e s CROSS JOIN {cur} c WHERE s.vec_id < 10)
  WHERE rn <= {n_probe})""")
    ctes.append(
        "n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e)"
    )
    ctes.append("""cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM af a JOIN probes p ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id)""")
    ctes.append("""scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(q.emb, c.emb) / (q.nrm * c.nrm) AS cos
  FROM cand JOIN n q ON q.vec_id = query_id JOIN n c ON c.vec_id = neighbor_id)""")
    with_block = ",\n".join(ctes)
    return f"""
WITH {with_block}
SELECT query_id, neighbor_id, floor(cos * 1e6 + 0.5) / 1e6 AS cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= {k} ORDER BY query_id, rank
"""


def emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the embeddings table
    (operators/similarity.semdedup): deterministic seeded-k-means
    clustering, quantized-cosine >= 0.4 pairs WITHIN each cluster only
    (the bucketing that bounds pairwise work to sum(|cell|^2) at
    100 TB), keeper = converged component-minimum id. The pair scorer
    is the per-cell BLAS GEMM (the scale path) — exact and
    oracle-replayable because the quantized inputs make every dot an
    order-independent integer. The hot-cell hyperplane
    split guard is ON (default max_cell_size=4096 — no cell at gate
    SFs trips it; the split-engaged path is oracle-pinned by
    tests/test_finance_sketch_scd.py with max_cell_size=32). The
    cluster fit, the split, the within-cell pair set, and the
    component search all replay exactly in the oracle (_semdedup_sql:
    unrolled Lloyd iterations + integer-exact hyperplane re-key + WITH
    RECURSIVE reachability), so even this doubly-approximate operator
    gets a value-hash check."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.similarity import (
        semdedup,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return semdedup(emb, threshold=0.4, n_lists=8, n_iter=2)


def _semdedup_sql(
    threshold: float = 0.5,
    n_lists: int = 8,
    n_iter: int = 2,
    dim: int = 64,
    max_cell_size: int | None = 4096,
) -> str:
    """DuckDB replay of semdedup INCLUDING the hot-cell hyperplane
    split guard (similarity._split_hot_cells): per-cell bit counts via
    the same pure-integer smallest-b rule, the same md5 plane weights
    (plane < measured bmax of up to 16), the same
    ``cell·2^bmax + (bucket & mask)`` re-keying — so the oracle stays
    green with the guard ON by default. With no hot cell, bmax=0 and
    the re-key degenerates to ``cell·1`` (bit-equal to the unsplit
    plan)."""
    ctes, _ = _ivf_assign_ctes(n_lists, n_iter, dim)
    src = "af"
    if max_cell_size is not None:
        ctes.append(
            f"szs AS (SELECT cell, count(*) AS n FROM af GROUP BY cell)"
        )
        ctes.append(f"""hotc AS (
  SELECT cell, n,
         coalesce((SELECT min(b) FROM generate_series(1, 16) s(b)
                   WHERE ({max_cell_size} * (CAST(1 AS BIGINT) << b)) >= n),
                  16) AS bits
  FROM szs WHERE n > {max_cell_size})""")
        ctes.append(
            "hotm AS (SELECT cell, bits,"
            " (CAST(1 AS BIGINT) << bits) - 1 AS mask FROM hotc)"
        )
        ctes.append(
            "bparam AS (SELECT coalesce(max(bits), 0) AS bmax FROM hotm)"
        )
        ctes.append(f"""sw AS (
  SELECT plane, pos,
         CAST('0x' || substr(md5('p' || CAST(plane AS VARCHAR)
                                   || 'd' || CAST(pos AS VARCHAR)), 1, 8)
               AS BIGINT) % 20001 - 10000 AS w
  FROM generate_series(0, 15) p(plane), generate_series(0, {dim - 1}) q(pos)
  WHERE plane < (SELECT bmax FROM bparam))""")
        ctes.append(f"""sel AS (
  SELECT a.vec_id, i - 1 AS pos,
         CAST(floor(a.emb[i] * 1e6 + 0.5) AS BIGINT) AS ival
  FROM af a JOIN hotm h ON a.cell = h.cell,
       generate_series(1, {dim}) t(i))""")
        ctes.append("""sd AS (
  SELECT vec_id, plane, sum(ival * w) AS dot
  FROM sel JOIN sw USING (pos) GROUP BY vec_id, plane)""")
        ctes.append("""sb AS (
  SELECT vec_id,
         sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << plane)
                  ELSE 0 END) AS bbits
  FROM sd GROUP BY vec_id)""")
        ctes.append("""af2 AS (
  SELECT a.vec_id, a.emb,
         CAST(a.cell AS BIGINT) * (CAST(1 AS BIGINT) << (SELECT bmax FROM bparam))
           + CASE WHEN h.cell IS NOT NULL THEN (sb.bbits & h.mask) ELSE 0 END
           AS cell
  FROM af a LEFT JOIN hotm h ON a.cell = h.cell
            LEFT JOIN sb ON a.vec_id = sb.vec_id)""")
        src = "af2"
    # pair predicate = cosine of the 1e-6-QUANTIZED vectors: q holds
    # integer-valued doubles, so list_dot_product is the exact integer
    # the Spark GEMM/fold scorers compute (order-independent < 2^53),
    # and dq/(sqrt(sa)*sqrt(sb)) is the same three correctly-rounded
    # IEEE ops in both engines.
    ctes.append(
        "n AS (SELECT vec_id, cell,"
        " list_transform(emb, x -> CAST(floor(x * 1e6 + 0.5) AS DOUBLE))"
        f" AS q FROM {src})"
    )
    ctes.append(
        "nn AS (SELECT vec_id, cell, q, list_dot_product(q, q) AS sq FROM n)"
    )
    ctes.append(f"""pairs AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM nn a JOIN nn b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE a.sq > 0 AND b.sq > 0
    AND list_dot_product(a.q, b.q) / (sqrt(a.sq) * sqrt(b.sq))
        >= {threshold})""")
    ctes.extend(_reach_ctes("pairs"))
    with_block = ",\n".join(ctes)
    return f"""
WITH RECURSIVE {with_block}
SELECT doc_id AS vec_id, keeper_id, doc_id = keeper_id AS is_kept
FROM comp ORDER BY vec_id
"""


def emb_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors vec_id < 10
    (broadcast queries x partitioned corpus — the exact-kNN scale plan)."""
    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_knn(
        emb.filter(F.col("vec_id") < 10), emb, k=5
    )


_EMB_ANN_SQL = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings),
n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.emb, c.emb) / (q.nrm * c.nrm) AS cos
  FROM n q JOIN n c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 10)
SELECT query_id, neighbor_id, floor(cos * 1e6 + 0.5) / 1e6 AS cosine,
       rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM pairs)
WHERE rank <= 5 ORDER BY query_id, rank
"""


def e_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase: a user advances a stage
    only with an event STRICTLY AFTER their previous-stage entry (the
    standard product-analytics funnel, not mere set intersection).

    Shape at scale: each stage is filter -> partial-aggregable min per
    user, then an equi-join on user_id against the (already reduced,
    one-row-per-user) previous stage — the joins carry only (user, ts)
    pairs, never raw events, and each stage's input shrinks
    monotonically. Final counts are three tiny one-row aggregates
    cross-joined; rates are IEEE divisions of exact counts."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n1 = v.agg(F.count(F.lit(1)).alias("n_view"))
    n2 = c.agg(F.count(F.lit(1)).alias("n_click"))
    n3 = p.agg(F.count(F.lit(1)).alias("n_purchase"))
    out = n1.crossJoin(n2).crossJoin(n3)
    return out.select(
        "n_view",
        "n_click",
        "n_purchase",
        (F.col("n_click").cast("double") / F.col("n_view").cast("double")).alias(
            "view_to_click"
        ),
        (
            F.col("n_purchase").cast("double") / F.col("n_click").cast("double")
        ).alias("click_to_purchase"),
        (
            F.col("n_purchase").cast("double") / F.col("n_view").cast("double")
        ).alias("overall_conversion"),
    )


_E_FUNNEL_SQL = """
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id),
c AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
SELECT (SELECT count(*) FROM v) AS n_view,
       (SELECT count(*) FROM c) AS n_click,
       (SELECT count(*) FROM p) AS n_purchase,
       CAST((SELECT count(*) FROM c) AS DOUBLE)
         / CAST((SELECT count(*) FROM v) AS DOUBLE) AS view_to_click,
       CAST((SELECT count(*) FROM p) AS DOUBLE)
         / CAST((SELECT count(*) FROM c) AS DOUBLE) AS click_to_purchase,
       CAST((SELECT count(*) FROM p) AS DOUBLE)
         / CAST((SELECT count(*) FROM v) AS DOUBLE) AS overall_conversion
"""


def e_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-N retention by signup cohort: users grouped by their
    first-seen date; for offsets 0..7, the fraction of the cohort
    active again on cohort_date + offset.

    Shape at scale: activity first collapses to DISTINCT (user, day) —
    one partial-aggregable shuffle that takes the fact table out of
    play — then joins the one-row-per-user cohort map (equi-join on
    user_id), aggregates to (cohort, offset) cells, and broadcasts the
    tiny per-cohort size table back for the rate."""
    ev = _t(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("activity_date")
    ).distinct()
    cohort = days.groupBy("user_id").agg(
        F.min("activity_date").alias("cohort_date")
    )
    joined = days.join(cohort, "user_id").withColumn(
        "day_offset", F.datediff("activity_date", "cohort_date")
    )
    cells = (
        joined.filter(F.col("day_offset").between(0, 7))
        .groupBy("cohort_date", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    sizes = cohort.groupBy("cohort_date").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        cells.join(F.broadcast(sizes), "cohort_date")
        .select(
            "cohort_date",
            F.col("day_offset").cast("long").alias("day_offset"),
            "n_active",
            "cohort_size",
            (
                F.col("n_active").cast("double")
                / F.col("cohort_size").cast("double")
            ).alias("retention"),
        )
    )


_E_RETENTION_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS activity_date FROM events),
cohort AS (
  SELECT user_id, min(activity_date) AS cohort_date
  FROM days GROUP BY user_id),
cells AS (
  SELECT c.cohort_date,
         CAST(datediff('day', c.cohort_date, d.activity_date) AS BIGINT)
           AS day_offset,
         count(*) AS n_active
  FROM days d JOIN cohort c USING (user_id)
  WHERE datediff('day', c.cohort_date, d.activity_date) BETWEEN 0 AND 7
  GROUP BY 1, 2),
sizes AS (
  SELECT cohort_date, count(*) AS cohort_size
  FROM cohort GROUP BY cohort_date)
SELECT cohort_date, day_offset, n_active, cohort_size,
       CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention
FROM cells JOIN sizes USING (cohort_date)
ORDER BY cohort_date, day_offset
"""


#: Daily OHLCV bars from the tick stream — the shared CTE for the ORC
#: round-trip and indicator oracles. Volume is the same SQL-replayable
#: synthetic as s_stateful_vwap (event_id % 100 + 1).
_SQL_DAILY_OHLCV = f"""
  SELECT user_id, CAST(ts AS DATE) AS trade_date,
         arg_min(value, {_SQL_TS_EVENT_KEY}) AS open,
         max(value) AS high, min(value) AS low,
         arg_max(value, {_SQL_TS_EVENT_KEY}) AS close,
         CAST(sum(event_id % 100 + 1) AS BIGINT) AS volume
  FROM events GROUP BY user_id, CAST(ts AS DATE)"""


def _daily_ohlcv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _SQL_DAILY_OHLCV: one composite-key shuffle reduces
    ticks to (user, day) bars — min_by/max_by ordered first/last, exact
    integer volume."""
    ev = _t(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return ev.groupBy("user_id", F.to_date("ts").alias("trade_date")).agg(
        F.min_by("value", key).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", key).alias("close"),
        F.sum(F.expr("event_id % 100 + 1")).cast("long").alias("volume"),
    )


def o_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/source round-trip: the daily OHLCV rollup is written as
    ORC (zstd, bloom filter on user_id), read back, filtered (predicate
    pushes into ORC stripe indexes) and aggregated to a per-user monthly
    summary. The oracle computes the same summary straight from events —
    the hash equality proves the ORC write/read is lossless for every
    type in the bar schema (bigint/date/double). Avro's external module
    is not in this image (sources/orc.py docstring); ORC is the
    built-in second columnar format."""
    import shutil
    import tempfile

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.orc import (
        read_orc,
        write_orc,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="orc_roundtrip_")
    try:
        write_orc(daily, path, bloom_columns=["user_id"])
        back = read_orc(spark, path).filter(F.col("close") > 0)
        out = (
            back.groupBy(
                "user_id", F.trunc("trade_date", "month").alias("month")
            )
            .agg(
                F.count(F.lit(1)).alias("n_days"),
                F.max("high").alias("max_high"),
                F.min("low").alias("min_low"),
                davg("close", "avg_close"),
                F.sum("volume").cast("long").alias("total_volume"),
            )
            .orderBy("user_id", "month")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


_O_ORC_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV})
SELECT user_id, date_trunc('month', trade_date) AS month,
       count(*) AS n_days, max(high) AS max_high, min(low) AS min_low,
       {sql_davg('close')} AS avg_close,
       CAST(sum(volume) AS BIGINT) AS total_volume
FROM daily WHERE close > 0
GROUP BY user_id, date_trunc('month', trade_date)
ORDER BY user_id, month
"""


def emb_sq8_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization ANN: approximate cosine over per-vector
    symmetric int8 codes (4x smaller scan, integer dots), top-20
    shortlist per query, EXACT cosine rescore to top-5. Quantization is
    floor(x/max|x|*127+0.5) — pure IEEE ops, so even the approximate
    stage replays exactly in SQL (operators/similarity.sq8_knn). The
    corpus quantization plan is shared with the query side via
    query_filter (ReuseExchange)."""
    emb = _t(spark, sf_dir, "embeddings")
    return sq8_knn(
        emb, emb, k=5, rerank=20, query_filter=F.col("vec_id") < 10
    )


_EMB_SQ8_SQL = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings),
s AS (SELECT vec_id, emb,
             list_max(list_transform(emb, x -> abs(x))) AS mx FROM e),
qz AS (SELECT vec_id, emb,
              CASE WHEN mx > 0
                   THEN list_transform(emb, x -> floor(x / mx * 127.0 + 0.5))
                   ELSE list_transform(emb, x -> CAST(0.0 AS DOUBLE)) END AS q
       FROM s),
nz0 AS (SELECT vec_id, emb, q, sqrt(list_dot_product(q, q)) AS qn FROM qz),
nz AS (SELECT * FROM nz0 WHERE qn > 0),
approx AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         list_dot_product(a.q, b.q) / (a.qn * b.qn) AS acos_
  FROM nz a JOIN nz b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 10),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY acos_ DESC, neighbor_id ASC) AS r
    FROM approx) WHERE r <= 20),
n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
exact AS (
  SELECT s.query_id, s.neighbor_id,
         list_dot_product(q.emb, c.emb) / (q.nrm * c.nrm) AS cos
  FROM short s
  JOIN n q ON q.vec_id = s.query_id
  JOIN n c ON c.vec_id = s.neighbor_id)
SELECT query_id, neighbor_id, floor(cos * 1e6 + 0.5) / 1e6 AS cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM exact)
WHERE rank <= 5 ORDER BY query_id, rank
"""


def emb_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN via deterministic random-hyperplane LSH buckets —
    the 2^planes-cheaper scale path. The hyperplanes are md5-derived, so
    even this *approximate* operator has an exact oracle: the SQL twin
    regenerates identical planes/buckets/candidates."""
    emb = _t(spark, sf_dir, "embeddings")
    return lsh_knn(
        emb, emb, k=5, n_planes=4, n_tables=8,
        query_filter=F.col("vec_id") < 10,
    )


def _lsh_ann_sql(n_planes: int = 4, n_tables: int = 8, dim: int = 64) -> str:
    """DuckDB replay of lsh_knn: same md5 plane weights, same decimal-exact
    plane dots, same bucket ids -> identical candidate sets and ranking."""
    return f"""
WITH {_lsh_bucket_ctes(n_planes, n_tables, dim)},
qb AS (SELECT vec_id AS query_id, bucket FROM lb WHERE vec_id < 10),
cb AS (SELECT vec_id AS neighbor_id, bucket FROM lb),
cand AS (SELECT DISTINCT query_id, neighbor_id
         FROM cb JOIN qb USING (bucket) WHERE neighbor_id <> query_id),
n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(q.emb, c.emb) / (q.nrm * c.nrm) AS cos
  FROM cand JOIN n q ON q.vec_id = query_id JOIN n c ON c.vec_id = neighbor_id)
SELECT query_id, neighbor_id, floor(cos * 1e6 + 0.5) / 1e6 AS cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= 5 ORDER BY query_id, rank
"""


def x_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worst peak-to-trough drawdown per user (value as price series).
    Registers the SKEW-ROBUST chunked form (operators/finance.
    max_drawdown_chunked: running max decomposed over (user, day) chunks
    with a prefix-max carry, trough picked by a map-side-combinable
    min(struct)) — output bit-identical to the plain two-window form
    (pinned by tests/property tests), so the oracle is the plain
    running-max SQL. Extends the reference's indicator analytics
    (examples/README.md:100-104) with the portfolio-risk stat its users
    compute downstream."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        max_drawdown_chunked,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("timestamp_unix"),
        "value",
    )
    return max_drawdown_chunked(
        ev, ["user_id"], "timestamp_unix", "event_id", "value",
        chunk_width=86_400_000_000,
    )


_X_DRAWDOWN_SQL = """
WITH src AS (
  SELECT user_id, event_id, epoch_us(ts) AS timestamp_unix, value
  FROM events WHERE value > 0),
dd AS (
  SELECT user_id, event_id, timestamp_unix, value,
         value / max(value) OVER (PARTITION BY user_id
             ORDER BY timestamp_unix, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS drawdown,
         count(*) OVER (PARTITION BY user_id) AS n_obs
  FROM src),
r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
               ORDER BY drawdown, timestamp_unix, event_id) AS rn
  FROM dd)
SELECT user_id, drawdown AS max_drawdown, timestamp_unix AS trough_ts,
       event_id AS trough_id, value AS trough_value, n_obs
FROM r WHERE rn = 1 ORDER BY user_id
"""


def x_atr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average True Range over the per-user daily OHLC series — Wilder's
    volatility indicator next to SMA/RSI/Bollinger. Ticks reduce to one
    (user, day) bar (single shuffle, composite-key arg_max close), then
    the lag and rolling-mean windows share ONE per-user exchange; the
    rolling mean routes through exact decimal sums
    (operators/finance.true_range / atr)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        atr,
    )

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("trade_date")
    ).agg(
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", F.struct(F.col("ts"), F.col("event_id"))).alias(
            "close"
        ),
    )
    out = atr(daily, ["user_id"], "trade_date", n=14)
    return out.select(
        "user_id", "trade_date", q6("tr", "tr"), "atr"
    )


_X_ATR_SQL = f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS trade_date,
         max(value) AS high, min(value) AS low,
         arg_max(value, {_SQL_TS_EVENT_KEY}) AS close
  FROM events GROUP BY user_id, CAST(ts AS DATE)),
tr AS (
  SELECT user_id, trade_date,
         CASE WHEN lag(close) OVER w IS NULL THEN high - low
              ELSE greatest(high - low,
                            abs(high - lag(close) OVER w),
                            abs(low - lag(close) OVER w)) END AS tr
  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY trade_date))
SELECT user_id, trade_date, floor(tr * 1e6 + 0.5) / 1e6 AS tr,
       floor(CAST(sum(CAST(tr AS DECIMAL(38,6))) OVER f AS DOUBLE)
             / count(*) OVER f * 1e6 + 0.5) / 1e6 AS atr
FROM tr
WINDOW f AS (PARTITION BY user_id ORDER BY trade_date
             ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
ORDER BY user_id, trade_date
"""


def x_corr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise daily-return correlation over a bounded universe — the
    portfolio/risk correlation matrix. Daily mean price per user (exact
    decimal), close-to-close returns, then ONE date-equi self-join and a
    map-side-combinable decimal moment aggregate per pair
    (operators/finance.pairwise_corr). The output is O(k^2) by nature,
    so the universe is bounded upstream (user_id < 30 here)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        pairwise_corr,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("trade_date")
    ).agg(davg("value", "px"))
    w = Window.partitionBy("user_id").orderBy("trade_date")
    prev = F.lag("px").over(w)
    rets = (
        daily.withColumn("_prev", prev)
        .filter(F.col("_prev").isNotNull() & (F.col("_prev") != 0))
        .select(
            "user_id",
            "trade_date",
            ((F.col("px") - F.col("_prev")) / F.col("_prev")).alias("ret"),
        )
    )
    return pairwise_corr(rets, "user_id")


_X_CORR_SQL = f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS trade_date, {sql_davg('value')} AS px
  FROM events WHERE user_id < 30 GROUP BY user_id, CAST(ts AS DATE)),
rets AS (
  SELECT user_id, trade_date,
         (px - lag(px) OVER w) / lag(px) OVER w AS ret
  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)
  QUALIFY lag(px) OVER w IS NOT NULL AND lag(px) OVER w <> 0),
agg AS (
  SELECT a.user_id AS key_a, b.user_id AS key_b,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(a.ret AS DECIMAL(38,6))) AS DOUBLE) AS sa,
         CAST(sum(CAST(b.ret AS DECIMAL(38,6))) AS DOUBLE) AS sb,
         CAST(sum(CAST((a.ret * b.ret) AS DECIMAL(38,6))) AS DOUBLE) AS sab,
         CAST(sum(CAST((a.ret * a.ret) AS DECIMAL(38,6))) AS DOUBLE) AS saa,
         CAST(sum(CAST((b.ret * b.ret) AS DECIMAL(38,6))) AS DOUBLE) AS sbb
  FROM rets a JOIN rets b ON a.trade_date = b.trade_date
  WHERE a.user_id < b.user_id
  GROUP BY a.user_id, b.user_id)
SELECT key_a, key_b, CAST(n AS BIGINT) AS n_days,
       floor((n * sab - sa * sb)
             / sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))
             * 1e6 + 0.5) / 1e6 AS corr
FROM agg
WHERE n >= 2 AND (n * saa - sa * sa) > 0 AND (n * sbb - sb * sb) > 0
ORDER BY key_a, key_b
"""


def x_beta_market(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user beta / alpha / market correlation of daily close-to-close
    returns vs the equal-weight market factor. Ticks reduce to
    symbol-days first (single-shuffle ordered-last), the per-day market
    factor is broadcast back, and every regression moment is an exact
    decimal sum — bit-identical across partitionings and in the oracle
    (operators/finance.daily_returns / beta_vs_market)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        beta_vs_market,
        daily_returns,
    )

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    rets = daily_returns(ev, ["user_id"], "ts", "event_id", "value")
    return beta_vs_market(rets, ["user_id"])


_X_BETA_SQL = f"""
WITH src AS (
  SELECT user_id, event_id, ts, value FROM events WHERE value > 0),
daily AS (
  SELECT user_id, CAST(ts AS DATE) AS trade_date,
         arg_max(value, {_SQL_TS_EVENT_KEY}) AS close
  FROM src GROUP BY user_id, CAST(ts AS DATE)),
rets AS (
  SELECT user_id, trade_date, close,
         close / lag(close) OVER (PARTITION BY user_id ORDER BY trade_date)
           - 1.0 AS ret
  FROM daily),
r AS (SELECT user_id, trade_date,
             CAST(floor(ret * 1e6 + 0.5) AS BIGINT) AS ru
      FROM rets WHERE ret IS NOT NULL AND abs(ret) <= 10.0),
mkt AS (
  SELECT trade_date,
         CAST(floor(CAST(sum(ru) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                    + 0.5) AS BIGINT) AS mu
  FROM r GROUP BY trade_date),
j AS (SELECT r.user_id, r.ru, m.mu FROM r JOIN mkt m USING (trade_date)),
agg AS (
  SELECT user_id,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(ru) AS DOUBLE) AS sx,
         CAST(sum(mu) AS DOUBLE) AS sm,
         CAST(sum(ru * mu) AS DOUBLE) AS sxm,
         CAST(sum(mu * mu) AS DOUBLE) AS smm,
         CAST(sum(ru * ru) AS DOUBLE) AS sxx
  FROM j GROUP BY user_id)
SELECT user_id,
       CAST(n AS BIGINT) AS n_days,
       (n * sxm - sx * sm) / (n * smm - sm * sm) AS beta,
       (sx - ((n * sxm - sx * sm) / (n * smm - sm * sm)) * sm) / n / 1e6
           AS alpha,
       CASE WHEN (n * sxx - sx * sx) > 0
            THEN (n * sxm - sx * sm)
                   / sqrt((n * sxx - sx * sx) * (n * smm - sm * sm))
       END AS corr_mkt
FROM agg
WHERE n >= 2.0 AND (n * smm - sm * sm) > 0
ORDER BY user_id
"""

def x_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian channel (20-bar rolling extremes) + breakout flag: close
    crossing above the PREVIOUS bar's upper channel — the turtle-trader
    entry signal. Rolling max/min/lag all share one per-user
    exchange+sort; mid = (upper+lower)/2 is IEEE-exact; flags are pure
    comparisons. Warm-up bars use the bars seen so far (ROWS frame)."""
    daily = _daily_ohlcv(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("trade_date")
    f = w.rowsBetween(-19, 0)
    upper = F.max("high").over(f)
    lower = F.min("low").over(f)
    out = (
        daily.withColumn("upper", upper)
        .withColumn("lower", lower)
        .withColumn("mid", (F.col("upper") + F.col("lower")) / F.lit(2.0))
        .withColumn("prev_upper", F.lag("upper").over(w))
        .withColumn(
            "breakout",
            F.coalesce(F.col("close") > F.col("prev_upper"), F.lit(False)),
        )
    )
    return out.select(
        "user_id", "trade_date", "close", "upper", "lower", "mid", "breakout"
    )


_X_DONCHIAN_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
c AS (
  SELECT user_id, trade_date, close,
         max(high) OVER f AS upper, min(low) OVER f AS lower
  FROM daily
  WINDOW f AS (PARTITION BY user_id ORDER BY trade_date
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
SELECT user_id, trade_date, close, upper, lower,
       (upper + lower) / 2.0 AS mid,
       coalesce(close > lag(upper) OVER w, FALSE) AS breakout
FROM c WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)
ORDER BY user_id, trade_date
"""


def x_underwater_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest underwater streak per user: the maximum run of
    consecutive TRADING days with close strictly below the running peak
    — drawdown DURATION, the risk stat next to max_drawdown's depth.
    Running max, day index, and the islands merge (idx - rank is
    constant within a run) all ride one per-user exchange; the longest
    run is picked by a map-side-combinable max_by(struct) with a
    (length, earliest-start) total order."""
    daily = _daily_ohlcv(spark, sf_dir).filter(F.col("close") > 0)
    w = Window.partitionBy("user_id").orderBy("trade_date")
    run_max = F.max("close").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    idx = F.row_number().over(w)
    flagged = daily.select(
        "user_id",
        "trade_date",
        idx.alias("_idx"),
        (F.col("close") < run_max).alias("_uw"),
    ).filter(F.col("_uw"))
    w2 = Window.partitionBy("user_id").orderBy("_idx")
    isl = (F.col("_idx") - F.row_number().over(w2)).alias("_isl")
    runs = (
        flagged.select("user_id", "trade_date", "_idx", isl)
        .groupBy("user_id", "_isl")
        .agg(
            F.count(F.lit(1)).cast("long").alias("streak_days"),
            F.min("trade_date").alias("streak_start"),
            F.max("trade_date").alias("streak_end"),
        )
    )
    # longest streak, earliest start on ties: max_by over a struct whose
    # ordering is (length asc, date desc) inverted via negated datediff
    pick = F.max_by(
        F.struct("streak_days", "streak_start", "streak_end"),
        F.struct(
            F.col("streak_days"),
            -F.datediff("streak_start", F.lit("1970-01-01").cast("date")),
        ),
    )
    return (
        runs.groupBy("user_id")
        .agg(pick.alias("_s"))
        .select(
            "user_id",
            F.col("_s.streak_days").alias("streak_days"),
            F.col("_s.streak_start").alias("streak_start"),
            F.col("_s.streak_end").alias("streak_end"),
        )
    )


_X_UNDERWATER_SQL = f"""
WITH daily AS (
  SELECT user_id, trade_date, close FROM ({_SQL_DAILY_OHLCV})
  WHERE close > 0),
m AS (
  SELECT user_id, trade_date,
         row_number() OVER w AS idx,
         close < max(close) OVER (PARTITION BY user_id ORDER BY trade_date
                                  ROWS UNBOUNDED PRECEDING) AS uw
  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)),
f AS (SELECT user_id, trade_date, idx FROM m WHERE uw),
i AS (SELECT user_id, trade_date, idx,
             idx - row_number() OVER (PARTITION BY user_id ORDER BY idx)
               AS isl
      FROM f),
runs AS (
  SELECT user_id, isl, CAST(count(*) AS BIGINT) AS streak_days,
         min(trade_date) AS streak_start, max(trade_date) AS streak_end
  FROM i GROUP BY user_id, isl),
r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                ORDER BY streak_days DESC, streak_start ASC) AS rn
      FROM runs)
SELECT user_id, streak_days, streak_start, streak_end
FROM r WHERE rn = 1 ORDER BY user_id
"""


def x_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 60-day beta per user vs the equal-weight market factor —
    the time-varying version of x_beta_market. Returns and the market
    factor are quantized to integer micro-units (floor(x*1e6+0.5) — no
    decimal-cast tie-breaking; returns ARE dyadic, see NOTES #10), so
    all four frame moments are exact BIGINT sums; the final moment
    ratio is IEEE-exact double (micro² scales cancel in beta). Ticks
    reduce to symbol-days first; the per-day factor broadcasts; windows
    share one per-user exchange. Frames with < 10 days or zero market
    variance yield NULL."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        daily_returns,
    )

    ev = _t(spark, sf_dir, "events")
    rets = daily_returns(ev, ["user_id"], "ts", "event_id", "value").filter(
        F.abs(F.col("ret")) <= 10.0
    )
    q = lambda c: F.floor(c * F.lit(1000000.0) + F.lit(0.5)).cast("long")  # noqa: E731
    rets = rets.withColumn("rq", q(F.col("ret"))).localCheckpoint()
    # market factor in MICRO-UNITS from the already-quantized returns —
    # exact BIGINT sum, then one IEEE divide + floor; no decimal cast
    # anywhere (dyadic rets would hit its cross-engine tie-breaking)
    market = rets.groupBy("trade_date").agg(
        F.floor(
            F.sum("rq").cast("double") / F.count("rq").cast("double")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("mq")
    )
    j = rets.join(F.broadcast(market), "trade_date")
    w = Window.partitionBy("user_id").orderBy("trade_date")
    f = w.rowsBetween(-59, 0)
    n = F.count("rq").over(f).cast("double")
    sr = F.sum("rq").over(f).cast("double")
    sm = F.sum("mq").over(f).cast("double")
    srm = F.sum(F.col("rq") * F.col("mq")).over(f).cast("double")
    smm = F.sum(F.col("mq") * F.col("mq")).over(f).cast("double")
    var_m = n * smm - sm * sm
    beta = F.when((n >= 10.0) & (var_m > 0), (n * srm - sr * sm) / var_m)
    return (
        j.withColumn("n_days", n.cast("long"))
        .withColumn("beta_60d", beta)
        .select("user_id", "trade_date", "n_days", "beta_60d")
    )


_X_ROLLBETA_SQL = f"""
WITH src AS (
  SELECT user_id, event_id, ts, value FROM events WHERE value > 0),
daily AS (
  SELECT user_id, CAST(ts AS DATE) AS trade_date,
         arg_max(value, {_SQL_TS_EVENT_KEY}) AS close
  FROM src GROUP BY user_id, CAST(ts AS DATE)),
rets AS (
  SELECT user_id, trade_date,
         close / lag(close) OVER (PARTITION BY user_id ORDER BY trade_date)
           - 1.0 AS ret
  FROM daily QUALIFY ret IS NOT NULL AND abs(ret) <= 10.0),
rq AS (
  SELECT user_id, trade_date,
         CAST(floor(ret * 1000000.0 + 0.5) AS BIGINT) AS rq
  FROM rets),
mkt AS (
  SELECT trade_date,
         CAST(floor(CAST(sum(rq) AS DOUBLE) / CAST(count(rq) AS DOUBLE)
                    + 0.5) AS BIGINT) AS mq
  FROM rq GROUP BY trade_date),
j AS (
  SELECT r.user_id, r.trade_date, r.rq, m.mq
  FROM rq r JOIN mkt m USING (trade_date)),
m AS (
  SELECT user_id, trade_date,
         CAST(count(rq) OVER f AS DOUBLE) AS n,
         CAST(sum(rq) OVER f AS DOUBLE) AS sr,
         CAST(sum(mq) OVER f AS DOUBLE) AS sm,
         CAST(sum(rq * mq) OVER f AS DOUBLE) AS srm,
         CAST(sum(mq * mq) OVER f AS DOUBLE) AS smm
  FROM j
  WINDOW f AS (PARTITION BY user_id ORDER BY trade_date
               ROWS BETWEEN 59 PRECEDING AND CURRENT ROW))
SELECT user_id, trade_date, CAST(n AS BIGINT) AS n_days,
       CASE WHEN n >= 10.0 AND (n * smm - sm * sm) > 0
            THEN (n * srm - sr * sm) / (n * smm - sm * sm) END AS beta_60d
FROM m ORDER BY user_id, trade_date
"""


def x_ichimoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ichimoku lines over per-user daily bars: tenkan (9-bar midpoint),
    kijun (26), senkou B (52) shifted forward 26, chikou (close shifted
    back 26). Rolling extremes + lead/lag all share ONE per-user
    exchange; midpoints divide by 2.0 (IEEE-exact), so every line
    replays bit-identically unrounded."""
    daily = _daily_ohlcv(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("trade_date")

    def midpoint(n: int):
        f = w.rowsBetween(-(n - 1), 0)
        return (F.max("high").over(f) + F.min("low").over(f)) / F.lit(2.0)

    out = (
        daily.withColumn("tenkan", midpoint(9))
        .withColumn("kijun", midpoint(26))
        .withColumn(
            "senkou_a_raw", (F.col("tenkan") + F.col("kijun")) / F.lit(2.0)
        )
        .withColumn("senkou_a", F.lag("senkou_a_raw", 26).over(w))
        .withColumn("senkou_b", F.lag(midpoint(52), 26).over(w))
        .withColumn("chikou", F.lead("close", 26).over(w))
    )
    return out.select(
        "user_id", "trade_date", "close", "tenkan", "kijun",
        "senkou_a", "senkou_b", "chikou",
    )


_X_ICHIMOKU_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
c AS (
  SELECT user_id, trade_date, close,
         (max(high) OVER f9 + min(low) OVER f9) / 2.0 AS tenkan,
         (max(high) OVER f26 + min(low) OVER f26) / 2.0 AS kijun,
         (max(high) OVER f52 + min(low) OVER f52) / 2.0 AS mid52
  FROM daily
  WINDOW f9 AS (PARTITION BY user_id ORDER BY trade_date
                ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
         f26 AS (PARTITION BY user_id ORDER BY trade_date
                 ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
         f52 AS (PARTITION BY user_id ORDER BY trade_date
                 ROWS BETWEEN 51 PRECEDING AND CURRENT ROW))
SELECT user_id, trade_date, close, tenkan, kijun,
       lag((tenkan + kijun) / 2.0, 26) OVER w AS senkou_a,
       lag(mid52, 26) OVER w AS senkou_b,
       lead(close, 26) OVER w AS chikou
FROM c WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)
ORDER BY user_id, trade_date
"""


def x_volume_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume profile: traded volume histogrammed into 20 equal price
    buckets per user — where the volume actually traded, the
    market-structure view behind support/resistance levels. Per-user
    price bounds come from the daily-bar reduction (tiny) joined back;
    bucket index is exact integer arithmetic on micro-unit prices so
    bucket edges are engine-invariant (no float width_bucket)."""
    daily = _daily_ohlcv(spark, sf_dir)
    bounds = daily.groupBy("user_id").agg(
        F.min("low").alias("p_lo"), F.max("high").alias("p_hi")
    )
    j = daily.join(F.broadcast(bounds), "user_id")
    # micro-unit integer bucketing: floor((close-lo)*1e6) * 20 div
    # ((hi-lo)*1e6) clamped to 19 — all INTEGER ops after the one float
    # subtraction (identical IEEE on both engines). True integer
    # division (`div`) on both sides — double `/`+floor can land one
    # bucket off when the quotient is exact.
    micro = lambda c: F.floor(c * F.lit(1000000.0) + F.lit(0.5)).cast("long")  # noqa: E731
    j = j.withColumn("_span", micro(F.col("p_hi") - F.col("p_lo"))).withColumn(
        "_off", micro(F.col("close") - F.col("p_lo"))
    )
    bucket = F.least(
        F.lit(19).cast("long"),
        F.when(
            F.col("_span") > 0, F.expr("(_off * 20) div _span")
        ).otherwise(F.lit(0).cast("long")),
    )
    return (
        j.withColumn("bucket", bucket)
        .groupBy("user_id", "bucket")
        .agg(
            F.sum("volume").cast("long").alias("volume"),
            F.count(F.lit(1)).alias("n_bars"),
        )
    )


_X_VOLPROFILE_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
bounds AS (
  SELECT user_id, min(low) AS p_lo, max(high) AS p_hi
  FROM daily GROUP BY user_id),
b AS (
  SELECT d.user_id, d.volume,
         least(19, CASE WHEN CAST(floor((p_hi - p_lo) * 1000000.0 + 0.5)
                                  AS BIGINT) > 0
               THEN CAST(CAST(floor((close - p_lo) * 1000000.0 + 0.5)
                              AS BIGINT) * 20
                    // CAST(floor((p_hi - p_lo) * 1000000.0 + 0.5) AS BIGINT)
                    AS BIGINT)
               ELSE 0 END) AS bucket
  FROM daily d JOIN bounds USING (user_id))
SELECT user_id, bucket, CAST(sum(volume) AS BIGINT) AS volume,
       count(*) AS n_bars
FROM b GROUP BY user_id, bucket
ORDER BY user_id, bucket
"""


def x_sma_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized SMA(5/20)-crossover backtest per user — signal,
    next-bar position, clamped micro-unit arithmetic P&L, trade count
    and hit rate, all in window functions on ONE per-user exchange; the
    per-user reduction is exact BIGINT sums
    (operators/finance.sma_crossover_backtest)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        sma_crossover_backtest,
    )

    daily = _daily_ohlcv(spark, sf_dir).select(
        "user_id", "trade_date", "close"
    )
    return sma_crossover_backtest(
        daily, ["user_id"], "trade_date", fast=5, slow=20
    )


_X_BACKTEST_SQL = f"""
WITH daily AS (
  SELECT user_id, trade_date, close FROM ({_SQL_DAILY_OHLCV})),
base AS (
  SELECT user_id, trade_date, close,
         CASE WHEN CAST(sum(CAST(close AS DECIMAL(38,6))) OVER f5 AS DOUBLE)
                     / CAST(count(close) OVER f5 AS DOUBLE)
                   > CAST(sum(CAST(close AS DECIMAL(38,6))) OVER f20 AS DOUBLE)
                     / CAST(count(close) OVER f20 AS DOUBLE)
              THEN 1 ELSE 0 END AS sig,
         lag(close) OVER w AS prev
  FROM daily WHERE close > 0
  WINDOW w AS (PARTITION BY user_id ORDER BY trade_date),
         f5 AS (PARTITION BY user_id ORDER BY trade_date
                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         f20 AS (PARTITION BY user_id ORDER BY trade_date
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
scored AS (
  SELECT user_id, trade_date,
         coalesce(lag(sig) OVER w, 0) AS pos,
         CASE WHEN prev IS NOT NULL THEN
           greatest(least(CAST(floor((close / prev - 1.0) * 1000000.0 + 0.5)
                               AS BIGINT), 10000000), -10000000)
         END AS rq,
         CASE WHEN coalesce(lag(sig) OVER w, 0)
                   <> coalesce(lag(sig, 2) OVER w, 0)
              THEN 1 ELSE 0 END AS flip
  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY trade_date))
SELECT user_id,
       CAST(count(rq) AS BIGINT) AS n_days,
       CAST(sum(flip) AS BIGINT) AS n_trades,
       CAST(sum(CASE WHEN rq IS NOT NULL THEN pos ELSE 0 END) AS BIGINT)
         AS n_positioned,
       CAST(sum(CASE WHEN rq IS NOT NULL AND pos = 1 AND rq > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_wins,
       CAST(CAST(sum(CASE WHEN pos = 1 THEN rq ELSE 0 END) AS BIGINT)
            AS DOUBLE) / 1000000.0 AS total_return,
       CASE WHEN sum(CASE WHEN rq IS NOT NULL THEN pos ELSE 0 END) > 0 THEN
         CAST(sum(CASE WHEN rq IS NOT NULL AND pos = 1 AND rq > 0
                       THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(CAST(sum(CASE WHEN rq IS NOT NULL THEN pos ELSE 0 END)
                       AS BIGINT) AS DOUBLE)
       END AS hit_rate
FROM scored GROUP BY user_id ORDER BY user_id
"""


def x_vwap_anchored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchored intraday VWAP: cumulative price*volume / volume per
    (user, trading day), resetting at the day boundary — the batch twin
    of s_stateful_vwap with the day anchor a real execution desk uses.
    The anchor splits each symbol's ticks into bounded chunks, so no
    task ever sorts a symbol's full history (skew-robust by
    construction); both cumulative sums share one exchange+sort
    (operators/finance.anchored_vwap)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        anchored_vwap,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.to_date("ts").alias("trade_date"),
        F.unix_micros(F.col("ts")).alias("timestamp_unix"),
        F.col("value").alias("close"),
        F.expr("event_id % 100 + 1").cast("long").alias("volume"),
    )
    out = anchored_vwap(
        ev, ["user_id"], "trade_date", "timestamp_unix", "event_id",
        price_col="close", volume_col="volume",
    )
    # vwap stays UNROUNDED: decimal sums are exact on both engines and
    # IEEE division of identical operands is bit-identical — rounding a
    # quotient can only ADD divergence (engine round() impls differ at
    # 7th-decimal .5 boundaries).
    return out.select(
        "user_id", "trade_date", "event_id", "timestamp_unix", "close",
        "volume", "vwap", "cum_volume",
    )


_X_VWAP_SQL = """
WITH src AS (
  SELECT user_id, CAST(ts AS DATE) AS trade_date, event_id,
         epoch_us(ts) AS timestamp_unix, value AS close,
         event_id % 100 + 1 AS volume
  FROM events)
SELECT user_id, trade_date, event_id, timestamp_unix, close, volume,
       CASE WHEN sum(volume) OVER w > 0 THEN
         CAST(sum(CAST(close * volume AS DECIMAL(38,6))) OVER w AS DOUBLE)
               / CAST(sum(volume) OVER w AS BIGINT) END AS vwap,
       CAST(sum(volume) OVER w AS BIGINT) AS cum_volume
FROM src
WINDOW w AS (PARTITION BY user_id, trade_date
             ORDER BY timestamp_unix, event_id
             ROWS UNBOUNDED PRECEDING)
ORDER BY user_id, timestamp_unix, event_id
"""


def x_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator %K(14) / %D(3) over per-user daily OHLC bars
    — the momentum indicator next to SMA/RSI/Bollinger/ATR. Ticks reduce
    to bars first (single shuffle); all rolling frames then share ONE
    per-user exchange+sort. %K is raw IEEE arithmetic and the %D sum is
    an exact decimal, so both replay bit-identically as unrounded
    doubles (operators/finance.stochastic_oscillator)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        stochastic_oscillator,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    out = stochastic_oscillator(daily, ["user_id"], "trade_date", n=14, d=3)
    return out.select(
        "user_id", "trade_date", "high", "low", "close", "pct_k", "pct_d"
    )


_X_STOCH_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
k AS (
  SELECT user_id, trade_date, high, low, close,
         CASE WHEN max(high) OVER f > min(low) OVER f
              THEN (close - min(low) OVER f)
                   / (max(high) OVER f - min(low) OVER f) * 100.0 END
           AS pct_k
  FROM daily
  WINDOW f AS (PARTITION BY user_id ORDER BY trade_date
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
SELECT user_id, trade_date, high, low, close, pct_k,
       CAST(sum(CAST(floor(pct_k * 1000000.0 + 0.5) AS BIGINT)) OVER d
            AS DOUBLE)
             / count(pct_k) OVER d / 1000000.0 AS pct_d
FROM k
WINDOW d AS (PARTITION BY user_id ORDER BY trade_date
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
ORDER BY user_id, trade_date
"""


def x_obv_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume over per-user daily bars: cumulative
    sign(close - prev_close) * volume. All-integer ledger — no floating
    point anywhere, exact on any engine/partitioning; the lag and the
    running sum share one exchange+sort
    (operators/finance.on_balance_volume)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        on_balance_volume,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    out = on_balance_volume(daily, ["user_id"], "trade_date")
    return out.select(
        "user_id", "trade_date", "close", "volume", "obv"
    )


_X_OBV_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
s AS (
  SELECT user_id, trade_date, close, volume,
         CASE WHEN lag(close) OVER w IS NULL THEN 0
              WHEN close > lag(close) OVER w THEN volume
              WHEN close < lag(close) OVER w THEN -volume
              ELSE 0 END AS signed_vol
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY trade_date))
SELECT user_id, trade_date, close, volume,
       CAST(sum(signed_vol) OVER (PARTITION BY user_id ORDER BY trade_date
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS obv
FROM s ORDER BY user_id, trade_date
"""


def x_returns_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily return ledger: simple return, log return, and
    since-inception cumulative return. cum_ret divides by the series'
    FIRST close (IEEE-exact, no accumulated rounding) rather than
    exp(sum(log)); all three windows share one exchange+sort
    (operators/finance.returns_ledger)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        returns_ledger,
    )

    daily = _daily_ohlcv(spark, sf_dir).select(
        "user_id", "trade_date", "close"
    )
    return returns_ledger(daily, ["user_id"], "trade_date")


_X_RETLEDGER_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV})
SELECT user_id, trade_date, close,
       lag(close) OVER w AS prev_close,
       floor((close / lag(close) OVER w - 1.0) * 1e6 + 0.5) / 1e6 AS ret,
       floor(ln(close / lag(close) OVER w) * 1e6 + 0.5) / 1e6 AS log_ret,
       floor((close / first_value(close) OVER (PARTITION BY user_id
                 ORDER BY trade_date ROWS UNBOUNDED PRECEDING) - 1.0)
             * 1e6 + 0.5) / 1e6 AS cum_ret
FROM daily WHERE close > 0
WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)
ORDER BY user_id, trade_date
"""


def x_rolling_sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-day rolling Sharpe (rf=0) of per-user daily close-to-close
    returns: rolling mean / rolling sample stddev from exact integer
    micro-unit frame sums (shifted moments; quantization sidesteps the
    engines' double->decimal tie-breaking divergence on dyadic
    returns), sqrt correctly rounded — bit-stable across engines.
    Ticks reduce to symbol-days before any window runs
    (operators/finance.daily_returns + rolling_sharpe)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        daily_returns,
        rolling_sharpe,
    )

    ev = _t(spark, sf_dir, "events")
    rets = daily_returns(ev, ["user_id"], "ts", "event_id", "value")
    out = rolling_sharpe(rets, ["user_id"], "trade_date", n=20)
    return out.select(
        "user_id", "trade_date", "ret", "sharpe"
    )


_X_SHARPE_SQL = f"""
WITH src AS (
  SELECT user_id, event_id, ts, value FROM events WHERE value > 0),
daily AS (
  SELECT user_id, CAST(ts AS DATE) AS trade_date,
         arg_max(value, {_SQL_TS_EVENT_KEY}) AS close
  FROM src GROUP BY user_id, CAST(ts AS DATE)),
rets AS (
  SELECT user_id, trade_date,
         close / lag(close) OVER (PARTITION BY user_id ORDER BY trade_date)
           - 1.0 AS ret
  FROM daily QUALIFY ret IS NOT NULL),
q AS (
  SELECT user_id, trade_date, ret,
         CAST(floor(ret * 1000000.0 + 0.5) AS BIGINT) AS rq
  FROM rets WHERE abs(ret) <= 10.0),
m AS (
  SELECT user_id, trade_date, ret,
         CAST(count(ret) OVER f AS DOUBLE) AS n,
         CAST(sum(rq) OVER f AS DOUBLE) AS s1,
         CAST(sum(rq * rq) OVER f AS DOUBLE) AS s2
  FROM q
  WINDOW f AS (PARTITION BY user_id ORDER BY trade_date
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
SELECT user_id, trade_date, ret,
       CASE WHEN n >= 2.0 AND (s2 - s1 * s1 / n) / (n - 1.0) > 0
            THEN (s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1.0)) END
         AS sharpe
FROM m ORDER BY user_id, trade_date
"""


def x_candle_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candlestick pattern flags (doji / hammer / shooting star /
    bullish / bearish engulfing) over per-user daily bars — the
    rule-based signal layer an algo-trading stack derives from OHLC.
    Pure per-bar comparisons plus two lags on the single per-user
    exchange — exact booleans in any engine
    (operators/finance.candle_patterns)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        candle_patterns,
    )

    daily = _daily_ohlcv(spark, sf_dir).drop("volume")
    out = candle_patterns(daily, ["user_id"], "trade_date")
    return out.filter(
        F.col("is_doji")
        | F.col("is_hammer")
        | F.col("is_shooting_star")
        | F.col("is_bullish_engulfing")
        | F.col("is_bearish_engulfing")
    )


_X_CANDLE_SQL = f"""
WITH daily AS (
  SELECT user_id, trade_date, open, high, low, close
  FROM ({_SQL_DAILY_OHLCV})),
c AS (
  SELECT user_id, trade_date, open, high, low, close,
         abs(close - open) AS body, high - low AS rng,
         high - greatest(open, close) AS upper,
         least(open, close) - low AS lower,
         lag(open) OVER w AS po, lag(close) OVER w AS pc
  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)),
f AS (
  SELECT user_id, trade_date, open, high, low, close,
         (rng > 0 AND body <= 0.1 * rng) AS is_doji,
         (body > 0 AND lower >= 2.0 * body AND upper <= body) AS is_hammer,
         (body > 0 AND upper >= 2.0 * body AND lower <= body)
           AS is_shooting_star,
         coalesce(pc IS NOT NULL AND pc < po AND close > open
                  AND open <= pc AND close >= po
                  AND (open < pc OR close > po), FALSE)
           AS is_bullish_engulfing,
         coalesce(pc IS NOT NULL AND pc > po AND close < open
                  AND open >= pc AND close <= po
                  AND (open > pc OR close < po), FALSE)
           AS is_bearish_engulfing
  FROM c)
SELECT * FROM f
WHERE is_doji OR is_hammer OR is_shooting_star
   OR is_bullish_engulfing OR is_bearish_engulfing
ORDER BY user_id, trade_date
"""


def d_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog register table (p=8) over event user
    ids — md5-derived hash, integer div/mod bucket split, bin()-based
    rank, one 256-group hash aggregate (operators/sketch.hll_registers).
    Unlike approx_count_distinct, the registers are engine-portable and
    merge across days by element-wise max; the oracle rebuilds them
    exactly in SQL."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.sketch import (
        hll_registers,
    )

    ev = _t(spark, sf_dir, "events")
    return hll_registers(ev, "user_id", p=8)


#: 2^52: the low 52 bits of the 60-bit md5 hash after the p=8 bucket split.
_HLL_WIDTH = 1 << 52

_D_HLL_SQL = f"""
WITH h AS (
  SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
           AS h
  FROM events WHERE user_id IS NOT NULL),
b AS (SELECT h // {_HLL_WIDTH} AS bucket, h % {_HLL_WIDTH} AS rem FROM h),
rk AS (
  SELECT bucket,
         CASE WHEN rem = 0 THEN 53 ELSE 52 - length(bin(rem)) + 1 END AS r
  FROM b)
SELECT bucket, CAST(max(r) AS INTEGER) AS r
FROM rk GROUP BY bucket ORDER BY bucket
"""


#: alpha(256) * 256^2 * 2^53 — the HLL raw-estimate numerator constant,
#: one shared float literal on both engines (NOTES #9: inline the SAME
#: repr; per-engine arithmetic on sub-constants could differ in the ulp).
_HLL_WAU_C = "4.2399330249068963e+20"


def e_rolling_hll_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users via HLL register ALGEBRA — the sketch
    capability that matters at 100 TB: persist one <=2^p-row register
    set per day, then answer any sliding-window distinct count by
    merging registers (explode-to-target-days + max), never rescanning
    facts. The estimate's harmonic sum is an EXACT BIGINT numerator
    (hll_estimate_cols), so even this approximate sketch replays
    bit-identically; the exact WAU is computed alongside (tiny
    day x (day,user) range join) so the output shows sketch vs truth
    (operators/sketch.hll_daily_registers / hll_rolling_merge)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.sketch import (
        hll_daily_registers,
        hll_estimate_cols,
        hll_rolling_merge,
    )

    ev = _t(spark, sf_dir, "events")
    pairs = (
        ev.filter(F.col("user_id").isNotNull())
        .select(
            F.datediff(
                F.to_date("ts"), F.lit("1970-01-01").cast("date")
            ).cast("long").alias("day"),
            "user_id",
        )
        .distinct()
        .localCheckpoint()
    )
    daily = hll_daily_registers(pairs, "user_id", "day", p=8)
    merged = hll_rolling_merge(daily, window_days=7)
    est = merged.groupBy("day").agg(*hll_estimate_cols(p=8))
    m = 256
    z_total = (
        F.col("z_num")
        + (F.lit(m).cast("long") - F.col("n_present"))
        * F.shiftleft(F.lit(1).cast("long"), 53)
    ).cast("double")
    raw = F.expr(_HLL_WAU_C) / z_total
    zeros = (F.lit(m).cast("long") - F.col("n_present")).cast("double")
    wau_hll = F.round(
        F.when(
            (zeros > 0) & (raw <= F.lit(2.5 * m)),
            F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
        ).otherwise(raw),
        6,
    )
    sketch = est.select("day", wau_hll.alias("wau_hll"))
    days = pairs.select("day").distinct().withColumnRenamed("day", "d")
    exact = (
        days.join(
            pairs,
            (F.col("day") >= F.col("d") - 6) & (F.col("day") <= F.col("d")),
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("wau_exact"))
        .withColumnRenamed("d", "day")
    )
    return (
        exact.join(sketch, "day")
        .select("day", "wau_exact", "wau_hll")
    )


_E_ROLLING_HLL_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT (CAST(ts AS DATE) - DATE '1970-01-01') AS day, user_id
  FROM events WHERE user_id IS NOT NULL),
h AS (
  SELECT day,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
           AS h
  FROM pairs),
rk AS (
  SELECT day, h // {1 << 52} AS bucket,
         CASE WHEN h % {1 << 52} = 0 THEN 53
              ELSE 52 - length(bin(h % {1 << 52})) + 1 END AS r
  FROM h),
daily AS (
  SELECT day, bucket, max(r) AS r FROM rk GROUP BY day, bucket),
mx AS (SELECT max(day) AS mx FROM daily),
spread AS (
  SELECT unnest(generate_series(day, least(day + 6, mx))) AS day,
         bucket, r
  FROM daily, mx),
merged AS (
  SELECT day, bucket, max(r) AS r FROM spread GROUP BY day, bucket),
est AS (
  SELECT day, count(*) AS n_present,
         sum(CAST(1 AS BIGINT) << (53 - r)) AS z_num
  FROM merged GROUP BY day),
sk AS (
  SELECT day,
         round(CASE WHEN (256 - n_present) > 0
                     AND {_HLL_WAU_C}
                         / CAST(z_num + (256 - n_present)
                                * (CAST(1 AS BIGINT) << 53) AS DOUBLE)
                         <= 640.0
               THEN 256.0 * ln(256.0 / CAST(256 - n_present AS DOUBLE))
               ELSE {_HLL_WAU_C}
                    / CAST(z_num + (256 - n_present)
                           * (CAST(1 AS BIGINT) << 53) AS DOUBLE)
               END, 6) AS wau_hll
  FROM est),
days AS (SELECT DISTINCT day AS d FROM pairs),
exact AS (
  SELECT d AS day, count(DISTINCT p.user_id) AS wau_exact
  FROM days JOIN pairs p ON p.day BETWEEN d - 6 AND d
  GROUP BY d)
SELECT e.day, CAST(e.wau_exact AS BIGINT) AS wau_exact, s.wau_hll
FROM exact e JOIN sk s USING (day)
ORDER BY day
"""


def x_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension build: collapse the event changelog into versioned
    (valid_from, valid_to, is_current) rows per user, tracking
    event_type as the attribute (operators/scd.scd2_history). The
    row-level complement of the MERGE upsert (plans/merge.py) — both
    windows share one partition key, so one shuffle total."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.scd import (
        scd2_history,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("timestamp_unix"),
        "event_type",
    )
    out = scd2_history(
        ev, ["user_id"], "timestamp_unix", "event_id", ["event_type"]
    )
    # valid_to is nullable (open versions): surface it as double so both
    # engines materialize the same float64 through pandas — a nullable
    # int64 silently becomes float64 on the DuckDB side only, which
    # breaks the driver's value hash (same class of issue as the
    # round-1 e_sessionize HUGEINT->float64 fix). Micros < 2^53, exact.
    return out.withColumn("valid_to", F.col("valid_to").cast("double"))


_X_SCD2_SQL = """
WITH src AS (
  SELECT user_id, event_id, epoch_us(ts) AS tu, event_type FROM events),
c AS (
  SELECT user_id, event_id, tu, event_type,
         row_number() OVER w AS rn,
         lag(event_type) OVER w AS prev_attr
  FROM src WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)),
v AS (SELECT * FROM c WHERE rn = 1 OR event_type IS DISTINCT FROM prev_attr),
o AS (
  SELECT user_id, tu AS valid_from,
         lead(tu) OVER w2 AS valid_to,
         row_number() OVER w2 AS version,
         event_type
  FROM v WINDOW w2 AS (PARTITION BY user_id ORDER BY tu, event_id))
SELECT user_id, valid_from, CAST(valid_to AS DOUBLE) AS valid_to, version,
       valid_to IS NULL AS is_current, event_type
FROM o ORDER BY user_id, version
"""


def j_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup: each click event joined to the
    SCD2 state (operators/scd.scd2_history over the user's NON-click
    events) that was valid at the click's timestamp — the "as of time T"
    feature join a training pipeline runs against dimension history.

    Executed as the non-quadratic as-of join (union + ordered window
    fill, one shuffle on user_id — operators/joins.asof_join), not a
    range join: because SCD2 intervals tile half-open, "the newest
    version starting <= ts" IS the interval containing ts. The oracle
    replays it as an explicit interval join."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.joins import (
        asof_join,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.scd import (
        scd2_history,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("tu"),
        "event_type",
    )
    dim = scd2_history(
        ev.filter(F.col("event_type") != "click"),
        ["user_id"],
        "tu",
        "event_id",
        ["event_type"],
    ).select(
        "user_id",
        "valid_from",
        F.col("version"),
        F.col("event_type").alias("state"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", F.col("tu").alias("click_ts")
    )
    out = asof_join(
        clicks, dim, ["user_id"], "click_ts", "valid_from", tiebreak="version"
    )
    return (
        out.filter(F.col("version_asof").isNotNull())
        .select(
            "user_id",
            "event_id",
            "click_ts",
            F.col("state_asof").alias("state"),
            F.col("version_asof").alias("state_version"),
        )
    )


_J_SCD2_LOOKUP_SQL = """
WITH src AS (
  SELECT user_id, event_id, epoch_us(ts) AS tu, event_type FROM events),
c AS (
  SELECT user_id, event_id, tu, event_type,
         row_number() OVER w AS rn,
         lag(event_type) OVER w AS prev_attr
  FROM src WHERE event_type <> 'click'
  WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)),
v AS (SELECT * FROM c WHERE rn = 1 OR event_type IS DISTINCT FROM prev_attr),
dim AS (
  SELECT user_id, tu AS valid_from,
         lead(tu) OVER w2 AS valid_to,
         row_number() OVER w2 AS version,
         event_type AS state
  FROM v WINDOW w2 AS (PARTITION BY user_id ORDER BY tu, event_id)),
clicks AS (
  SELECT user_id, event_id, tu AS click_ts FROM src
  WHERE event_type = 'click')
SELECT k.user_id, k.event_id, k.click_ts, d.state,
       d.version AS state_version
FROM clicks k JOIN dim d
  ON k.user_id = d.user_id
 AND d.valid_from <= k.click_ts
 AND (d.valid_to IS NULL OR k.click_ts < d.valid_to)
ORDER BY k.user_id, k.click_ts, k.event_id
"""


def d_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-curation pipeline as ONE query — what a
    training-data team actually runs, composed from this engine's
    operators: near-dup keeper selection (MinHash-LSH pairs ->
    connected-components, run over ALL documents so duplicates OF
    benchmark docs are also caught), benchmark decontamination (3-gram
    overlap vs the held-out set), quality floor, and the deterministic
    train/val/test hash split for survivors.

    Every corpus doc gets one verdict: drop_reason in
    (duplicate | contaminated | low_quality), first match in that
    priority order, or its split assignment. All stages are doc_id
    equi-joins over md5-deterministic signals, so the ENTIRE pipeline
    (including the iterative component search) replays as one SQL
    statement in the oracle."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        decontaminate,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
        minhash_dup_decisions,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.sampling import (
        hash_split,
    )

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.text import (
        tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    # ONE tokenize for all four stages: project the token array behind a
    # repartition exchange and checkpoint it — the minhash stage consumes
    # it in ITS OWN checkpoint job (ReuseExchange cannot reach across
    # jobs, so the un-checkpointed variant re-tokenized once per job:
    # 14.9 s vs 5.0 s cold, equal warm). The quality branch and both
    # decontamination sides then read the same materialized rows in the
    # final plan. Hashes unchanged — the token array is byte-identical to
    # what each stage computed for itself before.
    par = spark.sparkContext.defaultParallelism
    base = (
        docs.select("doc_id", tokens("text").alias("_ts"))
        .repartition(par, "doc_id")
        .localCheckpoint()
    )
    corpus_t = base.filter(F.col("doc_id") % 50 != 0)
    bench_t = base.filter(F.col("doc_id") % 50 == 0)
    comp = minhash_dup_decisions(base, threshold=0.95, tokens_col="_ts")
    q = quality_score(corpus_t, tokens_col="_ts").select("doc_id", "quality_score")
    cont = decontaminate(corpus_t, bench_t, ngram=3, tokens_col="_ts").select(
        "doc_id", "is_contaminated"
    )
    split = hash_split(corpus.select("doc_id"), "doc_id").select(
        "doc_id", "split"
    )
    joined = (
        corpus.select("doc_id")
        .join(comp, "doc_id", "left")
        .join(cont, "doc_id")
        .join(q, "doc_id")
        .join(split, "doc_id")
    )
    reason = (
        F.when(
            F.col("keeper_id").isNotNull()
            & (F.col("keeper_id") != F.col("doc_id")),
            F.lit("duplicate"),
        )
        .when(F.col("is_contaminated"), F.lit("contaminated"))
        .when(F.col("quality_score") < 0.15, F.lit("low_quality"))
    )
    return joined.select(
        "doc_id",
        reason.alias("drop_reason"),
        F.when(reason.isNull(), F.col("split")).alias("split"),
    )


def _curation_sql(q_thresh: float = 0.15) -> str:
    return rf"""
WITH RECURSIVE {_components_ctes()},
corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0),
qt AS (SELECT doc_id, {_SQL_TOKS} AS ts FROM corpus),
q AS (
  SELECT doc_id,
         floor(least(CAST(len(ts) AS DOUBLE) / 100.0, 1.0)
           * (1.0 - CASE WHEN len(ts) > 0 THEN
                CAST(len(list_filter(ts, t -> list_contains(
                    ['the','a','of','and','to','in','is'], t))) AS DOUBLE)
                  / len(ts) ELSE 0.0 END)
           * CASE WHEN len(ts) > 0 THEN
                CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts)
             ELSE 0.0 END * 1e6 + 0.5) / 1e6 AS quality_score
  FROM qt),
dt AS (SELECT doc_id, {_SQL_TOKS} AS ts FROM documents),
dg AS (SELECT doc_id, unnest(list_distinct({_SQL_TRIGRAMS})) AS gram FROM dt),
dbg AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 50 = 0),
dhits AS (SELECT dg.doc_id, count(*) AS n_shared
          FROM dg JOIN dbg USING (gram)
          WHERE dg.doc_id % 50 <> 0 GROUP BY dg.doc_id),
verdict AS (
  SELECT c.doc_id,
         CASE WHEN comp.keeper_id IS NOT NULL
                   AND comp.keeper_id <> c.doc_id THEN 'duplicate'
              WHEN coalesce(h.n_shared, 0) > 0 THEN 'contaminated'
              WHEN q.quality_score < {q_thresh} THEN 'low_quality'
         END AS drop_reason,
         CAST('0x' || substr(md5('split-v1' || '|' || CAST(c.doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 10000 AS bkt
  FROM corpus c
  LEFT JOIN comp USING (doc_id)
  LEFT JOIN dhits h ON h.doc_id = c.doc_id
  JOIN q ON q.doc_id = c.doc_id)
SELECT doc_id, drop_reason,
       CASE WHEN drop_reason IS NULL THEN
         CASE WHEN bkt < 9000 THEN 'train'
              WHEN bkt < 9500 THEN 'val'
              ELSE 'test' END
       END AS split
FROM verdict ORDER BY doc_id
"""


def d_cms_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency sketch over the corpus token multiset
    (operators/sketch.cms_sketch, depth 4 x width 1024, md5-derived
    cells): estimated vs exact counts for the 20 most frequent tokens.
    The sketch collapses map-side to <=4096 cells regardless of corpus
    size and merges across days by cell-wise sum; estimates only ever
    over-count. Frequency twin of the HLL distinct sketch — and like it,
    the whole structure replays exactly in the SQL oracle."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.sketch import (
        cms_estimate,
        cms_sketch,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.text import (
        tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    toks = (
        docs.select("doc_id", "text")
        .repartition(par, "doc_id")
        .select(F.explode(tokens("text")).alias("token"))
    )
    # the sketch and the exact top-20 both consume the token multiset;
    # cut the tokenizer lineage once
    toks = toks.localCheckpoint()
    cells = cms_sketch(toks, "token")
    exact = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), "token")
        .limit(20)
    )
    est = cms_estimate(cells, exact.select("token"), "token")
    return (
        exact.join(est, exact["token"] == est["value"])
        .select("token", "n_exact", "cms_count")
    )


_D_CMS_SQL = rf"""
WITH tok AS (SELECT unnest({_SQL_TOKS}) AS token FROM documents),
top AS (SELECT token, count(*) AS n_exact FROM tok
        GROUP BY token ORDER BY n_exact DESC, token LIMIT 20),
salts AS (SELECT unnest([0, 1, 2, 3]) AS r),
cells AS (
  SELECT r, c, count(*) AS n FROM (
    SELECT s.r AS r,
           CAST('0x' || substr(md5('cms' || CAST(s.r AS VARCHAR)
                || '|' || token), 1, 8) AS BIGINT) % 1024 AS c
    FROM tok, salts s)
  GROUP BY r, c),
probe AS (
  SELECT t.token, s.r AS r,
         CAST('0x' || substr(md5('cms' || CAST(s.r AS VARCHAR)
              || '|' || t.token), 1, 8) AS BIGINT) % 1024 AS c
  FROM top t, salts s),
est AS (SELECT p.token, min(coalesce(cl.n, 0)) AS cms_count
        FROM probe p LEFT JOIN cells cl USING (r, c) GROUP BY p.token)
SELECT t.token, t.n_exact, CAST(e.cms_count AS BIGINT) AS cms_count
FROM top t JOIN est e USING (token)
ORDER BY n_exact DESC, token
"""


def s_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sketch maintenance on a real stream: the events table
    replayed as 8 micro-batches (file source, maxFilesPerTrigger=1),
    each batch's HLL registers merged into the running register table in
    foreachBatch — the "one tiny sketch artifact per day, never rescan
    the facts" pattern a 100 TB pipeline runs for distinct counts.

    Because HLL registers merge by element-wise max, the final table is
    provably independent of how the input was batched — so the streamed
    result hash-matches the BATCH SQL oracle (the same _D_HLL_SQL as
    d_hll_users), turning the merge law itself into a checked property."""
    import tempfile

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import (
        stateful_partitions,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.sketch import (
        hll_registers,
        merge_registers,
    )

    import shutil

    tune(spark)
    # both dirs are scratch for this invocation only; the final sketch is
    # localCheckpoint'ed, so everything on disk can go as soon as the
    # stream drains (repeated bench/verify runs must not accumulate
    # orphaned source copies + checkpoints)
    src_dir = tempfile.mkdtemp(prefix="hll_stream_src_")
    ckpt_dir = tempfile.mkdtemp(prefix="ckpt_")
    try:
        _t(spark, sf_dir, "events").select("user_id").repartition(8).write.mode(
            "overwrite"
        ).parquet(src_dir)
        stream = (
            spark.readStream.schema("user_id long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        state: dict[str, DataFrame] = {}

        def _merge_batch(batch_df: DataFrame, _bid: int) -> None:
            regs = hll_registers(batch_df, "user_id", p=8)
            merged = (
                regs if "r" not in state else merge_registers(state["r"], regs)
            )
            # checkpoint the (<=256-row) running sketch so lineage never
            # chains across micro-batches
            state["r"] = merged.localCheckpoint()

        with stateful_partitions(spark):
            q = (
                stream.writeStream.foreachBatch(_merge_batch)
                .option("checkpointLocation", ckpt_dir)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
        return state["r"]
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ckpt_dir, ignore_errors=True)


def d_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget sequence packing (512 tokens, 8 shards):
    curated documents -> fixed-budget training sequences
    (operators/corpus.pack_sequences). The fill counter resets at each
    overflow — a non-associative prefix scan, so it runs as the
    sanctioned Arrow applyInPandas integer loop per shard; the oracle
    replays the scan as a per-shard recursive CTE (same pattern as the
    exact EMA fold)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        pack_sequences,
    )

    docs = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    return pack_sequences(
        docs.repartition(par, "doc_id"), "doc_id", "text", budget=512, n_shards=8
    )


_PACK_CTES = rf"""src AS (
  SELECT doc_id AS id, least(len(ts), 512) AS t, doc_id % 8 AS shard,
         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
  FROM (SELECT doc_id, {_SQL_TOKS} AS ts FROM documents)),
pack AS (
  SELECT shard, id, t, rn, t AS fill, CAST(0 AS BIGINT) AS seq_idx
  FROM src WHERE rn = 1
  UNION ALL
  SELECT s.shard, s.id, s.t, s.rn,
         CASE WHEN p.fill + s.t > 512 AND p.fill > 0
              THEN s.t ELSE p.fill + s.t END,
         CASE WHEN p.fill + s.t > 512 AND p.fill > 0
              THEN p.seq_idx + 1 ELSE p.seq_idx END
  FROM src s JOIN pack p ON s.shard = p.shard AND s.rn = p.rn + 1)"""

_D_PACK_SQL = rf"""
WITH RECURSIVE {_PACK_CTES}
SELECT id, shard, seq_idx, t AS n_tokens
FROM pack ORDER BY id
"""

_D_PACK_EFF_SQL = rf"""
WITH RECURSIVE {_PACK_CTES}
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(max(seq_idx) + 1 AS BIGINT) AS n_sequences,
       CAST(sum(t) AS BIGINT) AS total_tokens,
       floor(CAST(sum(t) AS DOUBLE)
             / CAST((max(seq_idx) + 1) * 512 AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS fill_ratio,
       CAST((max(seq_idx) + 1) * 512 - sum(t) AS BIGINT) AS pad_tokens
FROM pack GROUP BY shard ORDER BY shard
"""


def d_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency report (operators/corpus.packing_efficiency)
    over the d_pack_sequences output: per shard, sequence count, fill
    ratio against the 512-token budget, and the padding a trainer would
    burn — the go/no-go metric for a packing config before a 100 TB
    tokenization run. One groupBy over the fold output; the oracle
    reuses the per-shard recursive packing CTE and aggregates it."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        pack_sequences,
        packing_efficiency,
    )

    docs = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    packed = pack_sequences(
        docs.repartition(par, "doc_id"), "doc_id", "text", budget=512, n_shards=8
    )
    return packing_efficiency(packed, budget=512)


def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (class prototypes): posexplode ->
    one (label, dim) hash aggregate with exact decimal per-dimension
    sums -> sort-rebuilt mean vector (operators/similarity.
    label_centroids). The centroid is serialized as exact BIGINT
    micro-units so the float array hash-compares across engines."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.similarity import (
        label_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = label_centroids(emb, "label", "embedding")
    u6 = F.concat_ws(
        ",",
        F.transform(
            F.col("centroid"),
            lambda m: F.floor(m * 1000000.0).cast("long").cast("string"),
        ),
    )
    return cents.select(
        "label", "n_vectors", u6.alias("centroid_u6")
    )


_EMB_CENTROIDS_SQL = """
WITH d AS (
  SELECT label, i AS dim, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) s),
pd AS (
  SELECT label, dim,
         CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS mean,
         count(*) AS n
  FROM d GROUP BY label, dim)
SELECT label, CAST(min(n) AS BIGINT) AS n_vectors,
       array_to_string(
         list(CAST(CAST(floor(mean * 1000000.0) AS BIGINT) AS VARCHAR)
              ORDER BY dim), ',') AS centroid_u6
FROM pd GROUP BY label ORDER BY label
"""


def e_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (plans/quality.py): five predicate
    rules in ONE aggregate pass over one scan plus a keyed uniqueness
    rule — the reference's ad-hoc ETL checks (close>0, monitoring view
    conditional counts) generalized into a reusable report of
    (rule, n_violations, n_rows)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.quality import (
        dq_report,
        dq_unique_report,
    )

    ev = _t(spark, sf_dir, "events")
    rules = {
        "value_nonnull": F.col("value").isNull(),
        "value_positive": F.col("value") <= 0,
        "ts_in_window": (F.col("ts") < F.lit("2020-01-01").cast("timestamp"))
        | (F.col("ts") >= F.lit("2030-01-01").cast("timestamp")),
        "event_type_domain": ~F.col("event_type").isin(
            "click", "error", "purchase", "signup", "view"
        ),
        # string-shape check, NOT a JSON parse: Spark get_json_object and
        # DuckDB json_valid disagree on edge inputs ('null', bare
        # scalars), so the rule uses an expression with identical
        # semantics in both engines
        "props_shape": F.col("props").isNotNull()
        & ~(F.col("props").like("{%") | F.col("props").like("[%")),
    }
    report = dq_report(ev, rules).unionByName(
        dq_unique_report(ev, ["event_id"])
    )
    return report


_E_DQ_SQL = """
WITH base AS (SELECT * FROM events),
wide AS (
  SELECT count(*) AS n_rows,
         count(*) FILTER (WHERE value IS NULL) AS value_nonnull,
         count(*) FILTER (WHERE value <= 0) AS value_positive,
         count(*) FILTER (WHERE ts < TIMESTAMP '2020-01-01'
                             OR ts >= TIMESTAMP '2030-01-01') AS ts_in_window,
         count(*) FILTER (WHERE event_type NOT IN
             ('click','error','purchase','signup','view')) AS event_type_domain,
         count(*) FILTER (WHERE props IS NOT NULL
                            AND NOT (props LIKE '{%' OR props LIKE '[%'))
             AS props_shape
  FROM base),
uniq AS (
  SELECT CAST(sum(c - 1) AS BIGINT) AS n_violations,
         CAST(sum(c) AS BIGINT) AS n_rows
  FROM (SELECT count(*) AS c FROM base GROUP BY event_id))
SELECT rule, n_violations, n_rows FROM (
  SELECT 'value_nonnull' AS rule, CAST(value_nonnull AS BIGINT) AS n_violations, CAST(n_rows AS BIGINT) AS n_rows FROM wide
  UNION ALL SELECT 'value_positive', CAST(value_positive AS BIGINT), CAST(n_rows AS BIGINT) FROM wide
  UNION ALL SELECT 'ts_in_window', CAST(ts_in_window AS BIGINT), CAST(n_rows AS BIGINT) FROM wide
  UNION ALL SELECT 'event_type_domain', CAST(event_type_domain AS BIGINT), CAST(n_rows AS BIGINT) FROM wide
  UNION ALL SELECT 'props_shape', CAST(props_shape AS BIGINT), CAST(n_rows AS BIGINT) FROM wide
  UNION ALL SELECT 'unique_event_id', n_violations, n_rows FROM uniq)
ORDER BY rule
"""


def e_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift report (plans/quality.psi_drift): PSI of the
    event-value histogram, first half of the month vs second, per
    event_type — the train-vs-serve stability check, with each side
    collapsed to (key, bin) counts map-side and the PSI reduction routed
    through decimal so the score is engine- and partitioning-stable."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.quality import (
        psi_drift,
    )

    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    out = psi_drift(
        ev.filter(F.col("ts") < cut),
        ev.filter(F.col("ts") >= cut),
        "value",
        keys=["event_type"],
        bins=20,
        lo=0.0,
        hi=1000.0,
    )
    return out


_E_DRIFT_SQL = """
WITH src AS (
  SELECT event_type, value, ts < TIMESTAMP '2024-01-16' AS is_base
  FROM events WHERE value IS NOT NULL),
binned AS (
  SELECT event_type, is_base,
         CAST(least(greatest(floor((value - 0.0) / 50.0), 0), 19) AS INTEGER)
             AS bin,
         count(*) AS c
  FROM src GROUP BY event_type, is_base, bin),
a AS (SELECT event_type, bin, c FROM binned WHERE is_base),
cur AS (SELECT event_type, bin, c FROM binned WHERE NOT is_base),
j AS (
  SELECT coalesce(a.event_type, cur.event_type) AS event_type,
         coalesce(a.bin, cur.bin) AS bin,
         coalesce(a.c, 0) AS c_a, coalesce(cur.c, 0) AS c_b
  FROM a FULL JOIN cur ON a.event_type = cur.event_type AND a.bin = cur.bin),
t AS (
  SELECT event_type, c_a, c_b,
         sum(c_a) OVER (PARTITION BY event_type) AS n_a,
         sum(c_b) OVER (PARTITION BY event_type) AS n_b
  FROM j),
terms AS (
  SELECT event_type, n_a, n_b,
         (CAST(c_a + 1 AS DOUBLE) / CAST(n_a + 20 AS DOUBLE)
          - CAST(c_b + 1 AS DOUBLE) / CAST(n_b + 20 AS DOUBLE))
         * ln((CAST(c_a + 1 AS DOUBLE) / CAST(n_a + 20 AS DOUBLE))
              / (CAST(c_b + 1 AS DOUBLE) / CAST(n_b + 20 AS DOUBLE))) AS term
  FROM t)
SELECT event_type,
       round(CAST(sum(CAST(term AS DECIMAL(38,12))) AS DOUBLE), 6) AS psi,
       CAST(min(n_a) AS BIGINT) AS n_base,
       CAST(min(n_b) AS BIGINT) AS n_current
FROM terms GROUP BY event_type ORDER BY event_type
"""


def d_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset mixture composition (operators/sampling.mixture_sample):
    fixed per-source quotas filled by deterministic md5-hash rank — the
    'N docs of web, M of code' step of assembling a training mixture.
    One shuffle on the source key; the oracle replays the ranked pick
    exactly."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.sampling import (
        mixture_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    quotas = {"src0": 12, "src1": 8, "src2": 5, "src3": 2}
    out = mixture_sample(docs.select("doc_id", "source"), "source", "doc_id", quotas)
    return out.select("doc_id", "source", "pick_rank")


_D_MIXTURE_SQL = """
WITH h AS (
  SELECT doc_id, source,
         CAST('0x' || substr(md5('mix-v1' || '|' || CAST(doc_id AS VARCHAR)),
                             1, 12) AS BIGINT) AS hk
  FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3')),
r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY hk, doc_id)
             AS pick_rank
  FROM h)
SELECT doc_id, source, pick_rank
FROM r
WHERE pick_rank <= CASE source WHEN 'src0' THEN 12 WHEN 'src1' THEN 8
                               WHEN 'src2' THEN 5 ELSE 2 END
ORDER BY source, pick_rank
"""


# ---------------------------------------------------------------------------
# Contract functions
# ---------------------------------------------------------------------------

def x_keltner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keltner channels over per-user daily bars: SMA(typical price, 20)
    midline +/- 2 x SMA(true range, 10) — the range-driven volatility
    envelope next to Bollinger (operators/finance.keltner_channels).
    Typical price, TR lag, and both rolling frames share ONE per-user
    exchange+sort; rolling means are exact decimal sums, so the
    unrounded doubles replay bit-identically in window SQL."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        keltner_channels,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    out = keltner_channels(daily, ["user_id"], "trade_date", n=20, m=10, mult=2.0)
    return out.select(
        "user_id", "trade_date", "tp", "tr", "kc_mid", "kc_upper", "kc_lower"
    )


_X_KELTNER_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
t AS (
  SELECT user_id, trade_date, high, low, close,
         (high + low + close) / 3.0 AS tp,
         CASE WHEN lag(close) OVER w IS NULL THEN high - low
              ELSE greatest(high - low,
                            abs(high - lag(close) OVER w),
                            abs(low - lag(close) OVER w)) END AS tr
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY trade_date))
SELECT user_id, trade_date, tp, tr,
       CAST(sum(CAST(tp AS DECIMAL(38,6))) OVER f20 AS DOUBLE)
           / CAST(count(*) OVER f20 AS DOUBLE) AS kc_mid,
       CAST(sum(CAST(tp AS DECIMAL(38,6))) OVER f20 AS DOUBLE)
           / CAST(count(*) OVER f20 AS DOUBLE)
         + CAST(sum(CAST(tr AS DECIMAL(38,6))) OVER f10 AS DOUBLE)
           / CAST(count(*) OVER f10 AS DOUBLE) * 2.0 AS kc_upper,
       CAST(sum(CAST(tp AS DECIMAL(38,6))) OVER f20 AS DOUBLE)
           / CAST(count(*) OVER f20 AS DOUBLE)
         - CAST(sum(CAST(tr AS DECIMAL(38,6))) OVER f10 AS DOUBLE)
           / CAST(count(*) OVER f10 AS DOUBLE) * 2.0 AS kc_lower
FROM t
WINDOW f20 AS (PARTITION BY user_id ORDER BY trade_date
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
       f10 AS (PARTITION BY user_id ORDER BY trade_date
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
ORDER BY user_id, trade_date
"""


def x_heikin_ashi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heikin-Ashi candles per user-day: ha_open averages the PREVIOUS
    HA candle, a true sequential recurrence no window expression can
    express (operators/finance.heikin_ashi — Arrow grouped-map fold in
    integer micro-units with floor halving, the ema_macd_exact
    determinism scheme). The DuckDB twin replays the identical BIGINT
    fold as a recursive CTE, so even this stateful transform gets a
    value-hash oracle."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        heikin_ashi,
    )

    daily = _daily_ohlcv(spark, sf_dir).drop("volume")
    out = heikin_ashi(daily, ["user_id"], "trade_date")
    return out.select(
        "user_id", "trade_date", "open", "high", "low", "close",
        "ha_open", "ha_high", "ha_low", "ha_close",
    )


_X_HEIKIN_SQL = f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_OHLCV}),
b AS (
  SELECT user_id, trade_date, open, high, low, close,
         CAST(floor(open * 1e6 + 0.5) AS BIGINT) AS ou,
         CAST(floor(high * 1e6 + 0.5) AS BIGINT) AS hu,
         CAST(floor(low * 1e6 + 0.5) AS BIGINT) AS lu,
         CAST(floor(close * 1e6 + 0.5) AS BIGINT) AS cu,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM daily),
ha AS (
  SELECT user_id, trade_date, open, high, low, close, hu, lu, rn,
         CAST(floor((ou + cu) / 2.0) AS BIGINT) AS ho,
         CAST(floor((ou + hu + lu + cu) / 4.0) AS BIGINT) AS hc
  FROM b WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.trade_date, s.open, s.high, s.low, s.close,
         s.hu, s.lu, s.rn,
         CAST(floor((h.ho + h.hc) / 2.0) AS BIGINT),
         CAST(floor((s.ou + s.hu + s.lu + s.cu) / 4.0) AS BIGINT)
  FROM b s JOIN ha h ON s.user_id = h.user_id AND s.rn = h.rn + 1)
SELECT user_id, trade_date, open, high, low, close,
       CAST(ho AS DOUBLE) / 1000000.0 AS ha_open,
       CAST(greatest(hu, ho, hc) AS DOUBLE) / 1000000.0 AS ha_high,
       CAST(least(lu, ho, hc) AS DOUBLE) / 1000000.0 AS ha_low,
       CAST(hc AS DOUBLE) / 1000000.0 AS ha_close
FROM ha ORDER BY user_id, trade_date
"""


def d_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary induction (Sennrich et al. 2016) over the corpus:
    6 merge-learning rounds, each = adjacent-symbol pair counts weighted
    by word frequency -> deterministic argmax (freq DESC, lhs, rhs) ->
    EXACT greedy merge application via island-parity window algebra
    (operators/corpus.bpe_learn). The corpus reduces once to the word
    table; every iteration is vocabulary-sized. All-integer counts and
    string symbols, so the unrolled 6-round SQL replay hash-matches —
    the third oracle-checked ITERATIVE algorithm after dup-components
    and semdedup."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        bpe_learn,
    )

    docs = _t(spark, sf_dir, "documents")
    return bpe_learn(docs, rounds=6)


def _bpe_sql(rounds: int = 6) -> str:
    """Unrolled DuckDB replay of bpe_learn: per round, the pair-count /
    argmax / island-parity merge CTEs — the same window algebra the
    Spark operator runs, so the merge table matches bit-for-bit.
    (CTEs are AS MATERIALIZED: DuckDB otherwise inlines each reference
    and re-evaluates the whole prefix — a 3^rounds blowup.)"""
    ctes = [
        f"w0 AS (SELECT unnest({_SQL_TOKS}) AS w FROM documents)",
        "words AS (SELECT w, count(*) AS cnt FROM w0 GROUP BY w)",
        "seq0 AS MATERIALIZED (SELECT w, cnt, list_transform(range(1, length(w) + 1),"
        " i -> substr(w, i, 1)) AS syms FROM words)",
    ]
    finals = []
    for r in range(1, rounds + 1):
        q = r - 1
        ctes.append(f"""t{r} AS MATERIALIZED (
  SELECT s.w, s.cnt, u.i + 1 AS p, s.syms[u.i + 1] AS sym,
         lead(s.syms[u.i + 1]) OVER (PARTITION BY s.w ORDER BY u.i) AS nxt
  FROM seq{q} s, unnest(range(len(s.syms))) u(i))""")
        ctes.append(f"""pc{r} AS MATERIALIZED (
  SELECT sym AS a, nxt AS b, sum(cnt) AS freq FROM t{r}
  WHERE nxt IS NOT NULL GROUP BY sym, nxt)""")
        ctes.append(
            f"best{r} AS MATERIALIZED (SELECT a, b, CAST(freq AS BIGINT) AS freq "
            f"FROM pc{r} ORDER BY freq DESC, a, b LIMIT 1)"
        )
        ctes.append(f"""m{r} AS MATERIALIZED (
  SELECT w, p FROM (
    SELECT w, p, row_number() OVER (PARTITION BY w, p - rn ORDER BY p) AS krn
    FROM (
      SELECT t.w, t.p, row_number() OVER (PARTITION BY t.w ORDER BY t.p) AS rn
      FROM t{r} t, best{r} x WHERE t.sym = x.a AND t.nxt = x.b))
  WHERE krn % 2 = 1)""")
        ctes.append(f"""seq{r} AS MATERIALIZED (
  SELECT w, cnt, list(s2 ORDER BY p) AS syms FROM (
    SELECT t.w, t.cnt, t.p,
           CASE WHEN k.p IS NOT NULL THEN t.sym || x.b ELSE t.sym END AS s2
    FROM t{r} t
    CROSS JOIN best{r} x
    LEFT JOIN m{r} k ON k.w = t.w AND k.p = t.p
    LEFT JOIN m{r} c ON c.w = t.w AND c.p + 1 = t.p
    WHERE c.p IS NULL)
  GROUP BY w, cnt)""")
        finals.append(
            f"SELECT {r} AS round, a AS lhs, b AS rhs, freq FROM best{r}"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\n"
        + "\nUNION ALL\n".join(finals)
        + "\nORDER BY round"
    )


def _bpe_tokcount_sql(rounds: int = 6) -> str:
    """Apply-side twin: per-doc word + subword counts from the fitted
    seq{rounds} table of the same unrolled chain."""
    chain = _bpe_sql(rounds)
    # reuse the full CTE chain; swap the final merge-table select for
    # the per-doc join against the fitted word segmentation
    cut = chain.index("SELECT 1 AS round")
    ctes = chain[:cut].rstrip().rstrip(",")
    return f"""{ctes},
d0 AS (SELECT doc_id, unnest({_SQL_TOKS}) AS w FROM documents)
SELECT doc_id, count(*) AS n_words,
       CAST(sum(len(s.syms)) AS BIGINT) AS n_bpe_tokens
FROM d0 JOIN seq{rounds} s USING (w)
GROUP BY doc_id ORDER BY doc_id
"""


def d_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY side of the learned BPE vocabulary: per-document word and
    subword counts under the 6-merge segmentation — the token-budget
    statistic a packing pipeline computes for every document. The
    corpus is never re-segmented per merge: merges fold on the word
    table during the fit and each document joins its words to the
    broadcast per-word subword length (operators/corpus.
    bpe_token_counts)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        bpe_token_counts,
    )

    docs = _t(spark, sf_dir, "documents")
    return bpe_token_counts(docs, rounds=6)


def d_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language — subword tokens per word under
    the learned 6-merge BPE segmentation, grouped by the guessed
    document language. THE cross-lingual tokenizer-quality metric
    (fertility >> 1 for a language means its text costs proportionally
    more sequence budget). Pure composition of two oracle-checked
    operators (bpe_token_counts ⋈ language_guess) with exact integer
    sums and one IEEE division per language row."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        bpe_token_counts,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.text import (
        language_guess,
    )

    docs = _t(spark, sf_dir, "documents")
    bc = bpe_token_counts(docs, rounds=6)
    lg = language_guess(docs).select("doc_id", "lang_guess")
    return (
        bc.join(lg, "doc_id")
        .groupBy("lang_guess")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            "lang_guess",
            "n_docs",
            "n_words",
            "n_bpe_tokens",
            (
                F.col("n_bpe_tokens").cast("double")
                / F.col("n_words").cast("double")
            ).alias("fertility"),
        )
    )


def _bpe_fertility_sql() -> str:
    return f"""
WITH bc AS ({_bpe_tokcount_sql()}),
lg AS ({_lang_sql()}),
j AS (SELECT bc.doc_id, lg.lang_guess, bc.n_words, bc.n_bpe_tokens
      FROM bc JOIN lg USING (doc_id))
SELECT lang_guess,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS n_words,
       CAST(sum(n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
       CAST(sum(n_bpe_tokens) AS DOUBLE) / CAST(sum(n_words) AS DOUBLE)
         AS fertility
FROM j GROUP BY lang_guess ORDER BY lang_guess
"""


def s_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3 through a REAL stream with a driver oracle: watermarked
    dropDuplicates over (user, event_type, day) inside an availableNow
    streaming query (the exactly-once dedup state the micro-batch
    pipeline runs in streaming_silver), then counted per (user, day)
    after the stream completes. Dedup state is bounded by the 1-day
    watermark horizon; the batch twin is COUNT(DISTINCT event_type)."""
    import uuid

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.streaming.pipeline import (
        events_stream_source,
    )

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import (
        stateful_partitions,
    )

    tune(spark)
    with stateful_partitions(spark):
        ev = events_stream_source(spark, sf_dir)
        deduped = (
            ev.withColumn("day", F.to_date("ts"))
            .withWatermark("ts", "1 day")
            .dropDuplicates(["user_id", "event_type", "day"])
            .select("user_id", "event_type", "day")
        )
        name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
        with _scratch_ckpt() as ckpt:
            q = (
                deduped.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
    return (
        spark.table(name)
        .groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).alias("n_types"))
    )


_S_DEDUP_SQL = """
SELECT user_id, CAST(ts AS DATE) AS day,
       count(DISTINCT event_type) AS n_types
FROM events
GROUP BY user_id, CAST(ts AS DATE)
ORDER BY user_id, day
"""


def x_supertrend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supertrend bands + trend flips over per-user daily bars — the
    CONDITIONALLY-stateful recurrence class (band ratchets and trend
    flips compare against prior state; no closed form exists). Integer
    micro-unit grouped-map fold (operators/finance.supertrend); the
    oracle replays the identical BIGINT state machine as a recursive
    CTE with the same CASE logic — the third recurrence family with an
    exact oracle after EMA and Heikin-Ashi."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        supertrend,
    )

    daily = _daily_ohlcv(spark, sf_dir).drop("volume", "open")
    out = supertrend(daily, ["user_id"], "trade_date", n=10, mult=3)
    # trend is cast DOUBLE: a nullable INTEGER materializes as float64
    # on the DuckDB/pandas side only (see x_scd2_history's valid_to)
    return out.select(
        "user_id", "trade_date", "high", "low", "close",
        "atr", "st_upper", "st_lower",
        F.col("trend").cast("double").alias("trend"), "supertrend",
    )


def _supertrend_sql(n: int = 10, mult: int = 3) -> str:
    """Recursive-CTE replay of the supertrend state machine: Wilder ATR
    (integer floor recursion, nonnegative so DuckDB's truncating // IS
    floor), band ratchets via exact floor(x/2.0) (power-of-two division
    — exact for any sign), trend flips with the same CASE logic as the
    pandas fold."""
    atru2 = f"((p.atru * {n - 1} + c.tru) // {n})"
    ub = f"(CAST(floor((c.hu + c.lu + {2 * mult} * {atru2}) / 2.0) AS BIGINT))"
    lb = f"(CAST(floor((c.hu + c.lu - {2 * mult} * {atru2}) / 2.0) AS BIGINT))"
    fu = f"(CASE WHEN {ub} < p.fub OR p.cu > p.fub THEN {ub} ELSE p.fub END)"
    fl = f"(CASE WHEN {lb} > p.flb OR p.cu < p.flb THEN {lb} ELSE p.flb END)"
    tr_ = (
        f"(CASE WHEN p.trend = 1 AND c.cu < {fl} THEN -1 "
        f"WHEN p.trend = -1 AND c.cu > {fu} THEN 1 ELSE p.trend END)"
    )
    ub0 = f"(CAST(floor((t.hu + t.lu + {2 * mult} * s.atr0) / 2.0) AS BIGINT))"
    lb0 = f"(CAST(floor((t.hu + t.lu - {2 * mult} * s.atr0) / 2.0) AS BIGINT))"
    return f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_OHLCV}),
b AS (
  SELECT user_id, trade_date, high, low, close,
         CAST(floor(high * 1e6 + 0.5) AS BIGINT) AS hu,
         CAST(floor(low * 1e6 + 0.5) AS BIGINT) AS lu,
         CAST(floor(close * 1e6 + 0.5) AS BIGINT) AS cu,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM daily),
t AS MATERIALIZED (
  SELECT *, CASE WHEN lag(cu) OVER w IS NULL THEN hu - lu
       ELSE greatest(hu - lu, abs(hu - lag(cu) OVER w),
                     abs(lu - lag(cu) OVER w)) END AS tru
  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY rn)),
seed AS MATERIALIZED (
  SELECT user_id, sum(tru) // {n} AS atr0
  FROM t WHERE rn <= {n} GROUP BY user_id HAVING count(*) = {n}),
st AS (
  SELECT t.user_id, t.rn, t.cu, s.atr0 AS atru,
         {ub0} AS fub, {lb0} AS flb,
         CASE WHEN t.cu > {ub0} THEN 1
              WHEN t.cu < {lb0} THEN -1 ELSE 1 END AS trend
  FROM t JOIN seed s USING (user_id) WHERE t.rn = {n}
  UNION ALL
  SELECT c.user_id, c.rn, c.cu, {atru2} AS atru,
         {fu} AS fub, {fl} AS flb, {tr_} AS trend
  FROM t c JOIN st p ON c.user_id = p.user_id AND c.rn = p.rn + 1)
SELECT b.user_id, b.trade_date, b.high, b.low, b.close,
       CAST(st.atru AS DOUBLE) / 1000000.0 AS atr,
       CAST(st.fub AS DOUBLE) / 1000000.0 AS st_upper,
       CAST(st.flb AS DOUBLE) / 1000000.0 AS st_lower,
       CAST(st.trend AS DOUBLE) AS trend,
       CAST(CASE WHEN st.trend = 1 THEN st.flb ELSE st.fub END AS DOUBLE)
           / 1000000.0 AS supertrend
FROM b LEFT JOIN st ON b.user_id = st.user_id AND b.rn = st.rn
ORDER BY b.user_id, b.trade_date
"""


def e_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition matrix: lag the type over each
    user's (ts, event_id) order, count (prev_type -> type) transitions
    corpus-wide, and derive each row's conditional probability. One
    per-user window + one global groupBy (map-side combinable); the
    probability is an IEEE division of exact integer counts, so the
    doubles replay bit-identically."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    trans = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_tot = Window.partitionBy("prev_type")
    return (
        trans.withColumn(
            "p",
            F.col("n").cast("double")
            / F.sum("n").over(w_tot).cast("double"),
        )
        .select("prev_type", "next_type", "n", "p")
    )


_E_MARKOV_SQL = """
WITH t AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events),
c AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n
  FROM t WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type)
SELECT prev_type, next_type, n,
       CAST(n AS DOUBLE)
         / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
FROM c ORDER BY prev_type, next_type
"""


def x_williams_r(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Williams %R over per-user daily bars — the stochastic's inverted
    twin, -100 * (HH - close) / (HH - LL) over 14 bars; NULL on flat
    windows; unrounded IEEE quotient (operators/finance.williams_r)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        williams_r,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    return williams_r(daily, ["user_id"], "trade_date", n=14)


_X_WILLIAMS_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV})
SELECT user_id, trade_date, close,
       max(high) OVER f AS hh, min(low) OVER f AS ll,
       CASE WHEN max(high) OVER f > min(low) OVER f
            THEN (max(high) OVER f - close)
                 / (max(high) OVER f - min(low) OVER f) * -100.0 END
           AS williams_r
FROM daily
WINDOW f AS (PARTITION BY user_id ORDER BY trade_date
             ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
ORDER BY user_id, trade_date
"""


def x_mfi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money Flow Index (volume-weighted RSI, 14 bars) per user.
    Typical-price money flow is quantized to integer micro-units, so
    the rolling positive/negative sums are partition-invariant BIGINT
    reductions and MFI is one exact IEEE division — no rounding step
    anywhere (operators/finance.money_flow_index)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        money_flow_index,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    return money_flow_index(daily, ["user_id"], "trade_date", n=14)


_X_MFI_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
t AS (
  SELECT user_id, trade_date, close, volume,
         (high + low + close) / 3.0 AS tp FROM daily),
c AS (
  SELECT user_id, trade_date, close, volume, tp,
         lag(tp) OVER (PARTITION BY user_id ORDER BY trade_date) AS ptp,
         CAST(floor(tp * CAST(volume AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
             AS imf
  FROM t),
s AS (
  SELECT user_id, trade_date, close, volume,
         sum(CASE WHEN ptp IS NOT NULL AND tp > ptp THEN imf ELSE 0 END)
             OVER f AS sp,
         sum(CASE WHEN ptp IS NOT NULL AND tp < ptp THEN imf ELSE 0 END)
             OVER f AS sn
  FROM c
  WINDOW f AS (PARTITION BY user_id ORDER BY trade_date
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
SELECT user_id, trade_date, close, volume,
       CASE WHEN sp + sn > 0
            THEN 100.0 * CAST(sp AS DOUBLE) / CAST(sp + sn AS DOUBLE) END
           AS mfi
FROM s ORDER BY user_id, trade_date
"""


def x_roc_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-bar Rate of Change (q6-quantized — dyadic-return class) and
    raw momentum close - close_10_ago (IEEE-exact subtraction) per user
    (operators/finance.rate_of_change)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        rate_of_change,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    return rate_of_change(daily, ["user_id"], "trade_date", n=10)


_X_ROC_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV})
SELECT user_id, trade_date, close,
       lag(close, 10) OVER w AS prior_close,
       CASE WHEN lag(close, 10) OVER w <> 0 THEN
           floor((close / lag(close, 10) OVER w - 1.0) * 100.0 * 1e6 + 0.5)
           / 1e6 END AS roc,
       close - lag(close, 10) OVER w AS momentum
FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)
ORDER BY user_id, trade_date
"""


def x_pivot_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic floor-trader pivot levels from the previous daily bar:
    P/R1/S1/R2/S2. Fixed IEEE arithmetic chains on lagged values — no
    rounding, no decimal casts (operators/finance.pivot_points)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        pivot_points,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    return pivot_points(daily, ["user_id"], "trade_date")


_X_PIVOTPTS_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
l AS (
  SELECT user_id, trade_date, close,
         lag(high) OVER w AS ph, lag(low) OVER w AS pl,
         lag(close) OVER w AS pc
  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY trade_date))
SELECT user_id, trade_date, close,
       (ph + pl + pc) / 3.0 AS pivot,
       2.0 * ((ph + pl + pc) / 3.0) - pl AS r1,
       2.0 * ((ph + pl + pc) / 3.0) - ph AS s1,
       (ph + pl + pc) / 3.0 + (ph - pl) AS r2,
       (ph + pl + pc) / 3.0 - (ph - pl) AS s2
FROM l ORDER BY user_id, trade_date
"""


def x_chaikin_ad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chaikin A/D line (cumulative) + 20-bar Chaikin Money Flow per
    user. The money-flow volume is quantized to integer micro-units
    once; both outputs are fixed IEEE division chains over BIGINT sums
    (operators/finance.chaikin_ad)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        chaikin_ad,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    return chaikin_ad(daily, ["user_id"], "trade_date", n=20)


_X_CHAIKIN_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
m AS (
  SELECT user_id, trade_date, close, volume,
         CAST(floor(CASE WHEN high > low
                         THEN ((close - low) - (high - close)) / (high - low)
                         ELSE 0.0 END
                    * CAST(volume AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
             AS imfv
  FROM daily)
SELECT user_id, trade_date, close, volume,
       CAST(sum(imfv) OVER c AS DOUBLE) / 1e6 AS ad,
       CASE WHEN sum(volume) OVER f > 0
            THEN CAST(sum(imfv) OVER f AS DOUBLE) / 1e6
                 / CAST(sum(volume) OVER f AS DOUBLE) END AS cmf
FROM m
WINDOW c AS (PARTITION BY user_id ORDER BY trade_date
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       f AS (PARTITION BY user_id ORDER BY trade_date
             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
ORDER BY user_id, trade_date
"""


def x_aroon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aroon up/down/oscillator (25-bar) per user. Bars-since-extreme
    is recovered from an all-integer packed argmax (micro-unit price *
    2^21 + row number) so the rolling MAX is deterministic with
    latest-bar tie-breaking in both engines; outputs are exact
    integer-valued doubles (operators/finance.aroon)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        aroon,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    return aroon(daily, ["user_id"], "trade_date", n=25)


_X_AROON_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
r AS (
  SELECT user_id, trade_date,
         row_number() OVER w AS rn,
         CAST(floor(high * 1e6 + 0.5) AS BIGINT) AS ih,
         CAST(floor(low * 1e6 + 0.5) AS BIGINT) AS il
  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)),
e AS (
  SELECT user_id, trade_date, rn,
         max((1099511627776 + ih) * 2097152 + rn) OVER f % 2097152 AS rn_hh,
         max((1099511627776 - il) * 2097152 + rn) OVER f % 2097152 AS rn_ll
  FROM r
  WINDOW f AS (PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN 25 PRECEDING AND CURRENT ROW))
SELECT user_id, trade_date,
       CAST(25 - (rn - rn_hh) AS DOUBLE) * 4.0 AS aroon_up,
       CAST(25 - (rn - rn_ll) AS DOUBLE) * 4.0 AS aroon_down,
       CAST(25 - (rn - rn_hh) AS DOUBLE) * 4.0
         - CAST(25 - (rn - rn_ll) AS DOUBLE) * 4.0 AS aroon_osc
FROM e ORDER BY user_id, trade_date
"""


def x_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overnight gap ledger per user: open vs previous close (q6 —
    dyadic-return class), direction sign, and whether the session
    traded back through the prior close
    (operators/finance.overnight_gaps)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        overnight_gaps,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    return overnight_gaps(daily, ["user_id"], "trade_date")


_X_GAPS_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
l AS (
  SELECT user_id, trade_date, open, high, low,
         lag(close) OVER (PARTITION BY user_id ORDER BY trade_date)
             AS prev_close
  FROM daily),
g AS (
  SELECT user_id, trade_date, prev_close, open,
         floor((open / prev_close - 1.0) * 100.0 * 1e6 + 0.5) / 1e6
             AS gap_pct,
         high, low
  FROM l WHERE prev_close > 0)
SELECT user_id, trade_date, prev_close, open, gap_pct,
       CAST(sign(gap_pct) AS INTEGER) AS direction,
       low <= prev_close AND prev_close <= high AS filled
FROM g ORDER BY user_id, trade_date
"""


def x_adx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilder DMI/ADX over per-user daily bars — the TWO-LEVEL-seeded
    recurrence class: three chained Wilder-smoothed integer sums
    (+DM/-DM/TR) feed DX, and ADX is a second Wilder recurrence over
    DX seeded by a running sum carried through the first recursion.
    Exact BIGINT state in micro-units (operators/finance.adx); the
    oracle replays the identical machine as a recursive CTE — the
    fifth recurrence family with an exact oracle (EMA, Heikin-Ashi,
    Supertrend, SMA-carry ... )."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        adx,
    )

    daily = _daily_ohlcv(spark, sf_dir).drop("volume", "open")
    out = adx(daily, ["user_id"], "trade_date", n=14)
    return out.select(
        "user_id", "trade_date", "close", "pdi", "mdi", "adx"
    )


def _adx_sql(n: int = 14) -> str:
    """Recursive-CTE replay of the DMI/ADX state machine: nonnegative
    BIGINT Wilder sums (DuckDB's truncating // IS floor there), DX
    carried at 1e4 scale by integer floor division, the ADX seed sum
    threaded through the recursion state."""
    sp = f"(p.sp - p.sp // {n} + c.pdm)"
    sn = f"(p.sn - p.sn // {n} + c.ndm)"
    st = f"(p.st - p.st // {n} + c.tru)"
    dx = (
        f"(CASE WHEN {sp} + {sn} > 0"
        f" THEN (1000000 * abs({sp} - {sn})) // ({sp} + {sn}) ELSE 0 END)"
    )
    dx0 = (
        "(CASE WHEN sp0 + sn0 > 0"
        " THEN (1000000 * abs(sp0 - sn0)) // (sp0 + sn0) ELSE 0 END)"
    )
    return f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_OHLCV}),
b AS (
  SELECT user_id, trade_date, close,
         CAST(floor(high * 1e6 + 0.5) AS BIGINT) AS hu,
         CAST(floor(low * 1e6 + 0.5) AS BIGINT) AS lu,
         CAST(floor(close * 1e6 + 0.5) AS BIGINT) AS cu,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM daily),
t AS MATERIALIZED (
  SELECT *,
     CASE WHEN rn = 1 THEN 0
          WHEN hu - lag(hu) OVER w > lag(lu) OVER w - lu
               AND hu - lag(hu) OVER w > 0
          THEN hu - lag(hu) OVER w ELSE 0 END AS pdm,
     CASE WHEN rn = 1 THEN 0
          WHEN lag(lu) OVER w - lu > hu - lag(hu) OVER w
               AND lag(lu) OVER w - lu > 0
          THEN lag(lu) OVER w - lu ELSE 0 END AS ndm,
     CASE WHEN rn = 1 THEN 0
          ELSE greatest(hu - lu, abs(hu - lag(cu) OVER w),
                        abs(lu - lag(cu) OVER w)) END AS tru
  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY rn)),
seed AS MATERIALIZED (
  SELECT user_id, sum(pdm) AS sp0, sum(ndm) AS sn0, sum(tru) AS st0
  FROM t WHERE rn BETWEEN 2 AND {n + 1}
  GROUP BY user_id HAVING count(*) = {n}),
st AS (
  SELECT t.user_id, t.rn, sp0 AS sp, sn0 AS sn, st0 AS st,
         {dx0} AS dxsum,
         CAST(NULL AS BIGINT) AS au
  FROM t JOIN seed USING (user_id) WHERE t.rn = {n + 1}
  UNION ALL
  SELECT c.user_id, c.rn, {sp} AS sp, {sn} AS sn, {st} AS st,
         CASE WHEN c.rn <= {2 * n} THEN p.dxsum + {dx}
              ELSE p.dxsum END AS dxsum,
         CASE WHEN c.rn = {2 * n} THEN (p.dxsum + {dx}) // {n}
              WHEN c.rn > {2 * n} THEN (p.au * {n - 1} + {dx}) // {n}
              ELSE NULL END AS au
  FROM t c JOIN st p ON c.user_id = p.user_id AND c.rn = p.rn + 1)
SELECT b.user_id, b.trade_date, b.close,
       CASE WHEN st.st > 0
            THEN 100.0 * CAST(st.sp AS DOUBLE) / CAST(st.st AS DOUBLE) END
           AS pdi,
       CASE WHEN st.st > 0
            THEN 100.0 * CAST(st.sn AS DOUBLE) / CAST(st.st AS DOUBLE) END
           AS mdi,
       CAST(st.au AS DOUBLE) / 10000.0 AS adx
FROM b LEFT JOIN st ON b.user_id = st.user_id AND b.rn = st.rn
ORDER BY b.user_id, b.trade_date
"""


def emb_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN over the embeddings table
    (operators/similarity.pq_index/pq_probe): fused seeded-Lloyd
    codebooks over unit-NORMALIZED vectors (16 x 4-dim subspaces, 16
    codes each — on the unit sphere integer-ADC order tracks cosine
    order, so the shortlist no longer drops true neighbors),
    asymmetric-distance scan over the compressed codes with an integer
    micro-unit LUT, exact cosine rescore of a 16x shortlist. Completes
    the ANN family's compression axis (brute -> LSH -> IVF -> SQ8 ->
    PQ); the oracle regenerates the fused Lloyd fit and replays the
    identical BIGINT ADC in DuckDB, so even this doubly-approximate
    index has a value-hash check. Recall contract:
    tests/test_ivf_fingerprint.py (>=0.8 vs brute force at sf0.001 AND
    sf0.01)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.similarity import (
        pq_index,
        pq_probe,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cb, codes, vectors = pq_index(emb, m=16, k=16, n_iter=2, dim=64)
    queries_df = emb.filter(F.col("vec_id") < 10)
    return pq_probe(
        queries_df, cb, codes, vectors, k=5, shortlist_mult=16, m=16, dim=64
    )


def _ann_index_dir(sf_dir: str, kind: str, **params) -> str:
    """Location of the persisted ANN index ``kind`` over ``sf_dir``'s
    embeddings table, built by ``operators/similarity.py`` with
    ``params`` (``sources/persisted.artifact_dir``: a regenerated table,
    another parameter or edited builder code is another location)."""
    return artifact_dir(
        "ann_index",
        kind,
        f"{sf_dir}/embeddings.parquet",
        params,
        code=(_similarity_mod,),
    )


def emb_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe against the PERSISTED index — the number a 100 TB
    deployment actually lives on. ``ivf_index`` is the one-off build
    (here run only when the on-disk artifact is missing or the source
    table changed); the query itself reads the stored
    (centroids, assignments) parquet — assignments written
    ``partitionBy(cell)`` so the probe's cell equi-join prunes unprobed
    cell partitions at the scan — and ranks the ``n_probe`` nearest
    cells' members by exact cosine. Same params as ``emb_ivf_ann``, so
    the probe output is bit-identical to the one-shot path (the
    lifecycle contract tests pin) and shares its SQL oracle; the bench
    delta between the two rows IS the amortized fit cost."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.similarity import (
        ivf_index,
        ivf_probe,
    )

    fit = dict(n_lists=8, n_iter=2, dim=64)
    idx = _ann_index_dir(sf_dir, "ivf", partition="cell", **fit)
    emb = _t(spark, sf_dir, "embeddings")

    def build(tmp: str) -> None:
        cdf, assignments = ivf_index(emb, **fit)
        cdf.write.parquet(f"{tmp}/centroids")
        assignments.write.partitionBy("cell").parquet(f"{tmp}/assignments")

    build_once(idx, build)
    cdf = spark.read.parquet(f"{idx}/centroids")
    assignments = spark.read.parquet(f"{idx}/assignments")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return ivf_probe(queries_df, cdf, assignments, k=5, n_probe=3)


def emb_pq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ probe against the PERSISTED index (codebooks + compressed
    codes + rescore vectors): the fused Lloyd fit runs only when the
    artifact is missing or its source changed; the measured query is
    the broadcast integer-ADC LUT join over the stored codes plus the
    exact rescore of the 16x shortlist. Codes are written
    ``partitionBy(sub)`` (the natural layout for the (sub, cell)
    equi-join). Same params as ``emb_pq_ann`` — bit-identical output,
    shared oracle; the bench delta between the rows is the amortized
    fit."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.similarity import (
        pq_index,
        pq_probe,
    )

    fit = dict(m=16, k=16, n_iter=2, dim=64)
    idx = _ann_index_dir(sf_dir, "pq", partition="sub", **fit)
    emb = _t(spark, sf_dir, "embeddings")

    def build(tmp: str) -> None:
        cb, codes, vectors = pq_index(emb, **fit)
        cb.write.parquet(f"{tmp}/codebooks")
        codes.write.partitionBy("sub").parquet(f"{tmp}/codes")
        vectors.write.parquet(f"{tmp}/vectors")

    build_once(idx, build)
    cb = spark.read.parquet(f"{idx}/codebooks")
    codes = spark.read.parquet(f"{idx}/codes")
    vectors = spark.read.parquet(f"{idx}/vectors")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return pq_probe(
        queries_df, cb, codes, vectors, k=5, shortlist_mult=16, m=16, dim=64
    )


def _pq_ann_sql(
    m: int = 16,
    k: int = 16,
    n_iter: int = 2,
    dim: int = 64,
    topk: int = 5,
    mult: int = 16,
) -> str:
    """DuckDB replay of the PQ pipeline: unit normalization, FUSED
    md5-bottom-k seeded Lloyd over all subspaces at once (decimal-exact
    means, one CTE chain instead of m), micro-unit ADC LUT, BIGINT
    candidate sums, exact cosine rescore on the raw vectors — mirrors
    pq_index/pq_probe op-for-op."""
    d = dim // m
    d2 = (
        "list_dot_product(s.semb, s.semb)"
        " + list_dot_product(c.centroid, c.centroid)"
        " - 2.0 * list_dot_product(s.semb, c.centroid)"
    )

    def assign(src: str, cents: str) -> str:
        return f"""(
  SELECT sub, vec_id, semb, cell FROM (
    SELECT s.sub, s.vec_id, s.semb, c.cell,
           row_number() OVER (PARTITION BY s.vec_id, s.sub
                              ORDER BY {d2} ASC, c.cell ASC) AS rn
    FROM {src} s JOIN {cents} c ON c.sub = s.sub)
  WHERE rn = 1)"""

    def means(assigned: str) -> str:
        return f"""(
  SELECT sub, cell, list(mn ORDER BY pos) AS centroid FROM (
    SELECT sub, cell, i AS pos,
           CAST(sum(CAST(semb[i] AS DECIMAL(38,6))) AS DOUBLE) / count(semb[i]) AS mn
    FROM {assigned}, generate_series(1, {d}) t(i)
    GROUP BY sub, cell, i)
  GROUP BY sub, cell)"""

    ctes = [
        "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))"
        " AS raw FROM embeddings)",
        "en AS (SELECT vec_id, raw, CASE WHEN nrm > 0.0"
        " THEN list_transform(raw, x -> x / nrm) ELSE raw END AS emb"
        " FROM (SELECT vec_id, raw, sqrt(list_dot_product(raw, raw)) AS nrm"
        " FROM e))",
        f"s AS (SELECT vec_id, j AS sub, emb[j*{d}+1 : j*{d}+{d}] AS semb"
        f" FROM en, generate_series(0, {m - 1}) t(j))",
        f"""seed AS (
  SELECT vec_id,
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
             AS cell
  FROM (SELECT vec_id FROM en
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k}))""",
        "c0 AS MATERIALIZED (SELECT s.sub, seed.cell, s.semb AS centroid"
        " FROM s JOIN seed USING (vec_id))",
    ]
    cur = "c0"
    for i in range(n_iter):
        ctes.append(f"a{i} AS MATERIALIZED {assign('s', cur)}")
        cur = f"c{i + 1}"
        ctes.append(f"{cur} AS MATERIALIZED {means(f'a{i}')}")
    ctes.append(f"af AS MATERIALIZED {assign('s', cur)}")
    ctes.append(f"""lut AS (
  SELECT s.vec_id AS query_id, s.sub, c.cell,
         CAST(floor(({d2}) * 1e6 + 0.5) AS BIGINT) AS id2
  FROM s JOIN {cur} c ON c.sub = s.sub WHERE s.vec_id < 10)""")
    ctes.append("""adc AS (
  SELECT l.query_id, a.vec_id AS neighbor_id, sum(l.id2) AS iadc
  FROM af a JOIN lut l ON l.sub = a.sub AND l.cell = a.cell
  WHERE a.vec_id <> l.query_id
  GROUP BY l.query_id, a.vec_id)""")
    ctes.append(f"""short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY iadc ASC, neighbor_id ASC) AS rn
    FROM adc)
  WHERE rn <= {mult * topk})""")
    ctes.append(
        "nv AS (SELECT vec_id, raw AS emb, sqrt(list_dot_product(raw, raw))"
        " AS nrm FROM e)"
    )
    with_block = ",\n".join(ctes)
    return f"""
WITH {with_block}
SELECT query_id, neighbor_id, floor(cos * 1e6 + 0.5) / 1e6 AS cosine,
       rank FROM (
  SELECT s.query_id, s.neighbor_id,
         list_dot_product(q.emb, c.emb) / (q.nrm * c.nrm) AS cos,
         row_number() OVER (PARTITION BY s.query_id
                            ORDER BY list_dot_product(q.emb, c.emb)
                                     / (q.nrm * c.nrm) DESC,
                                     s.neighbor_id ASC) AS rank
  FROM short s
  JOIN nv q ON q.vec_id = s.query_id
  JOIN nv c ON c.vec_id = s.neighbor_id)
WHERE rank <= {topk} ORDER BY query_id, rank
"""


def x_psar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilder's Parabolic SAR over per-user daily bars — the FOURTH
    true-recurrence family (after EMA, Heikin-Ashi, Supertrend) and the
    most state-heavy: SAR/EP/AF/trend all update behind comparisons
    against prior state (operators/finance.parabolic_sar). Integer
    micro-unit fold; the oracle replays the identical BIGINT state
    machine as a recursive CTE (acceleration in integer hundredths,
    both floor divisions provably nonnegative so DuckDB's truncating
    ``//`` is floor)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        parabolic_sar,
    )

    daily = _daily_ohlcv(spark, sf_dir).drop("volume", "open")
    out = parabolic_sar(daily, ["user_id"], "trade_date")
    return out.select(
        "user_id", "trade_date", "high", "low", "close", "psar",
        F.col("trend").cast("double").alias("trend"),
        "ep", F.col("af").cast("double").alias("af"),
    )


def _psar_sql(af_step: int = 2, af_max: int = 20) -> str:
    """Recursive-CTE replay of the PSAR state machine: same seed (bar 2,
    trend from the first close pair), same clamp against the prior two
    bars, same reversal/EP/AF CASE logic as the pandas fold — all in
    BIGINT micro-units with nonnegative floor divisions."""
    up_cl = (
        f"least(p.sar + (p.af * (p.ep - p.sar)) // 100, c.l1u, c.l2u)"
    )
    dn_cl = (
        f"greatest(p.sar - (p.af * (p.sar - p.ep)) // 100, c.h1u, c.h2u)"
    )
    up_rev = f"c.lu < {up_cl}"
    dn_rev = f"c.hu > {dn_cl}"
    trend_ = (
        f"(CASE WHEN p.trend = 1 THEN (CASE WHEN {up_rev} THEN -1 ELSE 1 END) "
        f"ELSE (CASE WHEN {dn_rev} THEN 1 ELSE -1 END) END)"
    )
    sar_ = (
        f"(CASE WHEN p.trend = 1 THEN (CASE WHEN {up_rev} THEN p.ep ELSE {up_cl} END) "
        f"ELSE (CASE WHEN {dn_rev} THEN p.ep ELSE {dn_cl} END) END)"
    )
    ep_ = (
        f"(CASE WHEN p.trend = 1 THEN (CASE WHEN {up_rev} THEN c.lu "
        f"ELSE greatest(p.ep, c.hu) END) "
        f"ELSE (CASE WHEN {dn_rev} THEN c.hu ELSE least(p.ep, c.lu) END) END)"
    )
    af_ = (
        f"(CASE WHEN p.trend = 1 THEN (CASE WHEN {up_rev} THEN {af_step} "
        f"WHEN c.hu > p.ep THEN least(p.af + {af_step}, {af_max}) ELSE p.af END) "
        f"ELSE (CASE WHEN {dn_rev} THEN {af_step} "
        f"WHEN c.lu < p.ep THEN least(p.af + {af_step}, {af_max}) ELSE p.af END) END)"
    )
    return f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_OHLCV}),
b AS (
  SELECT user_id, trade_date, high, low, close,
         CAST(floor(high * 1e6 + 0.5) AS BIGINT) AS hu,
         CAST(floor(low * 1e6 + 0.5) AS BIGINT) AS lu,
         CAST(floor(close * 1e6 + 0.5) AS BIGINT) AS cu,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM daily),
t AS MATERIALIZED (
  SELECT *, lag(hu) OVER w AS h1u, lag(hu, 2) OVER w AS h2u,
         lag(lu) OVER w AS l1u, lag(lu, 2) OVER w AS l2u,
         lag(cu) OVER w AS c1u
  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY rn)),
st AS (
  SELECT user_id, rn,
         CASE WHEN cu >= c1u THEN 1 ELSE -1 END AS trend,
         CASE WHEN cu >= c1u THEN least(lu, l1u)
              ELSE greatest(hu, h1u) END AS sar,
         CASE WHEN cu >= c1u THEN greatest(hu, h1u)
              ELSE least(lu, l1u) END AS ep,
         {af_step} AS af
  FROM t WHERE rn = 2
  UNION ALL
  SELECT c.user_id, c.rn, {trend_} AS trend, {sar_} AS sar,
         {ep_} AS ep, {af_} AS af
  FROM t c JOIN st p ON c.user_id = p.user_id AND c.rn = p.rn + 1)
SELECT b.user_id, b.trade_date, b.high, b.low, b.close,
       CAST(st.sar AS DOUBLE) / 1000000.0 AS psar,
       CAST(st.trend AS DOUBLE) AS trend,
       CAST(st.ep AS DOUBLE) / 1000000.0 AS ep,
       CAST(st.af AS DOUBLE) AS af
FROM b LEFT JOIN st ON b.user_id = st.user_id AND b.rn = st.rn
ORDER BY b.user_id, b.trade_date
"""


def x_trix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIX(15) over per-user daily closes: three CHAINED exact EMA
    recurrences (e2 folds over e1's integer states, e3 over e2's —
    operators/finance.trix), then the 1-bar rate of change of e3 as an
    IEEE quotient of exact integers. The oracle carries all three
    BIGINT states through one recursive CTE and lags e3 in the final
    select."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        trix,
    )

    daily = _daily_ohlcv(spark, sf_dir).select("user_id", "trade_date", "close")
    out = trix(daily, ["user_id"], "trade_date", n=15)
    return out.select(
        "user_id", "trade_date", "close", "trix_ema", "trix"
    )


def _trix_sql(n: int = 15) -> str:
    d = float(n + 1)
    return f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_OHLCV}),
src AS (
  SELECT user_id, trade_date, close,
         CAST(floor(close * 1e6 + 0.5) AS BIGINT) AS v,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM daily),
ema AS (
  SELECT user_id, trade_date, close, v, rn, v AS e1, v AS e2, v AS e3
  FROM src WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.trade_date, s.close, s.v, s.rn,
         e.e1 + CAST(floor(2.0 * (s.v - e.e1) / {d}) AS BIGINT) AS e1,
         e.e2 + CAST(floor(2.0 * ((e.e1 + CAST(floor(2.0 * (s.v - e.e1) / {d}) AS BIGINT)) - e.e2) / {d}) AS BIGINT) AS e2,
         e.e3 + CAST(floor(2.0 * ((e.e2 + CAST(floor(2.0 * ((e.e1 + CAST(floor(2.0 * (s.v - e.e1) / {d}) AS BIGINT)) - e.e2) / {d}) AS BIGINT)) - e.e3) / {d}) AS BIGINT) AS e3
  FROM src s JOIN ema e ON s.user_id = e.user_id AND s.rn = e.rn + 1)
SELECT user_id, trade_date, close,
       CAST(e3 AS DOUBLE) / 1000000.0 AS trix_ema,
       CASE WHEN lag(e3) OVER w IS NOT NULL AND lag(e3) OVER w <> 0
            THEN 100.0 * CAST(e3 - lag(e3) OVER w AS DOUBLE)
                 / CAST(lag(e3) OVER w AS DOUBLE) END AS trix
FROM ema
WINDOW w AS (PARTITION BY user_id ORDER BY rn)
ORDER BY user_id, trade_date
"""


def x_cci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCI(20) over per-user daily bars — mean absolute deviation of
    typical price around the window's OWN mean, a window aggregate Spark
    has no built-in for, composed natively: exact integer window sums +
    a higher-order aggregate over the n-row collect_list
    (operators/finance.cci). NULL during warm-up and on flat windows."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        cci,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    out = cci(daily, ["user_id"], ["trade_date"], n=20)
    return out.select("user_id", "trade_date", "close", "cci")


def _cci_sql(n: int = 20) -> str:
    return f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
b AS (
  SELECT user_id, trade_date, close,
         CAST(floor(high * 1e6 + 0.5) AS BIGINT)
         + CAST(floor(low * 1e6 + 0.5) AS BIGINT)
         + CAST(floor(close * 1e6 + 0.5) AS BIGINT) AS tp3
  FROM daily),
w AS (
  SELECT user_id, trade_date, close, tp3,
         count(*) OVER f AS cnt, sum(tp3) OVER f AS s,
         list(tp3) OVER f AS lst
  FROM b WINDOW f AS (PARTITION BY user_id ORDER BY trade_date
                      ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)),
m AS (
  SELECT *, list_sum(list_transform(lst, x -> abs({n} * x - s))) AS madnum
  FROM w)
SELECT user_id, trade_date, close,
       CASE WHEN cnt = {n} AND madnum > 0
            THEN ({n}.0 * CAST({n} * tp3 - s AS DOUBLE))
                 / (0.015 * CAST(madnum AS DOUBLE)) END AS cci
FROM m ORDER BY user_id, trade_date
"""


def x_vortex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vortex VI+/VI-(14) over per-user daily bars: lag + three bounded
    window sums on exact BIGINT micro-units sharing one exchange
    (operators/finance.vortex); the VI values are IEEE quotients of
    exact integers."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        vortex,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    out = vortex(daily, ["user_id"], ["trade_date"], n=14)
    return out.select(
        "user_id", "trade_date", "close", "vi_plus", "vi_minus"
    )


def _vortex_sql(n: int = 14) -> str:
    return f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
b AS (
  SELECT user_id, trade_date, close,
         CAST(floor(high * 1e6 + 0.5) AS BIGINT) AS hu,
         CAST(floor(low * 1e6 + 0.5) AS BIGINT) AS lu,
         CAST(floor(close * 1e6 + 0.5) AS BIGINT) AS cu
  FROM daily),
v AS (
  SELECT user_id, trade_date, close,
         abs(hu - lag(lu) OVER w) AS vmp,
         abs(lu - lag(hu) OVER w) AS vmm,
         CASE WHEN lag(cu) OVER w IS NULL THEN hu - lu
              ELSE greatest(hu - lu, abs(hu - lag(cu) OVER w),
                            abs(lu - lag(cu) OVER w)) END AS tru
  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)),
s AS (
  SELECT user_id, trade_date, close,
         count(vmp) OVER f AS k, sum(vmp) OVER f AS svp,
         sum(vmm) OVER f AS svm, sum(tru) OVER f AS str
  FROM v WINDOW f AS (PARTITION BY user_id ORDER BY trade_date
                      ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW))
SELECT user_id, trade_date, close,
       CASE WHEN k = {n} AND str > 0
            THEN CAST(svp AS DOUBLE) / CAST(str AS DOUBLE) END AS vi_plus,
       CASE WHEN k = {n} AND str > 0
            THEN CAST(svm AS DOUBLE) / CAST(str AS DOUBLE) END AS vi_minus
FROM s ORDER BY user_id, trade_date
"""


def d_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023) over documents:
    hashed-bigram bag likelihood ratio between the TARGET slice
    (lang = 'en') and the raw corpus, add-one-smoothed over 4096
    md5-hashed buckets (operators/corpus.dsir_weights). One conditional
    bucket-model aggregation pass, broadcast totals, bucket-keyed
    scoring join — the unigram_xent shape."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        dsir_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    out = dsir_weights(docs, F.col("lang") == F.lit("en"))
    return out.select(
        "doc_id",
        F.col("is_target").cast("int").alias("is_target"),
        "n_grams", "logw", "avg_logw",
    )


_D_DSIR_SQL = rf"""
WITH toks AS (
  SELECT doc_id, (lang = 'en') AS is_target, {_SQL_TOKS} AS ts
  FROM documents),
h AS (
  SELECT doc_id, is_target,
         list_transform(ts, t -> CAST('0x' || substr(md5(t), 1, 12)
                                      AS BIGINT)) AS th
  FROM toks WHERE len(ts) >= 2),
g AS (
  SELECT doc_id, is_target,
         unnest(list_transform(range(1, len(th)),
                               i -> (th[i] * 31 + th[i + 1]) % 4096)) AS bucket
  FROM h),
dt AS (
  SELECT doc_id, is_target, bucket, count(*) AS c
  FROM g GROUP BY ALL),
bs AS (
  SELECT bucket,
         sum(CASE WHEN is_target THEN c ELSE 0 END) AS ct,
         sum(c) AS cr
  FROM dt GROUP BY bucket),
tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM bs),
model AS (
  SELECT bucket,
         floor((ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + 4096 AS DOUBLE))
                - ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + 4096 AS DOUBLE)))
               * 1e6 + 0.5) / 1e6 AS lw
  FROM bs, tot)
SELECT dt.doc_id, CAST(dt.is_target AS INT) AS is_target,
       CAST(sum(dt.c) AS BIGINT) AS n_grams,
       CAST(sum(CAST(CAST(dt.c AS DOUBLE) * model.lw
                     AS DECIMAL(38,6))) AS DOUBLE) AS logw,
       CAST(sum(CAST(CAST(dt.c AS DOUBLE) * model.lw
                     AS DECIMAL(38,6))) AS DOUBLE)
         / CAST(sum(dt.c) AS DOUBLE) AS avg_logw
FROM dt JOIN model USING (bucket)
GROUP BY dt.doc_id, dt.is_target
ORDER BY dt.doc_id
"""



#: Fixed BM25 query set for d_bm25_topk — terms drawn from the synthetic
#: corpus vocabulary; shared by the Spark query and the SQL oracle.
_BM25_QUERIES = [
    (1, ["hash", "join", "scan"]),
    (2, ["window", "agg", "sort"]),
    (3, ["customer", "order", "line"]),
    (4, ["vector", "batch"]),
    (5, ["slow", "query", "filter"]),
]


def d_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval over documents for a fixed 5-query set
    (operators/corpus.bm25_topk) — the lexical-search primitive for
    decontamination lookups / retrieval-augmented curation. Per-(doc,
    term) counts + doc lengths in one pass, broadcast query terms and
    corpus stats, quantized per-term contributions into an exact
    decimal sum; ranking keys are (score desc, doc_id asc)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        bm25_topk,
    )

    docs = _t(spark, sf_dir, "documents")
    out = bm25_topk(docs, _BM25_QUERIES, k=10)
    return out


def _bm25_sql(k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    vals = ", ".join(
        f"({qid}, '{t}')"
        for qid, terms in _BM25_QUERIES
        for t in dict.fromkeys(terms)
    )
    idf = (
        "floor(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)"
        " / (CAST(df AS DOUBLE) + 0.5)) * 1e6 + 0.5) / 1e6"
    )
    frac = (
        f"(CAST(tf AS DOUBLE) * {k1 + 1.0}) / (CAST(tf AS DOUBLE)"
        f" + {k1} * ({1.0 - b} + {b} * CAST(dl AS DOUBLE)"
        f" / (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))"
    )
    return f"""
WITH q(query_id, term) AS (VALUES {vals}),
toks AS (SELECT doc_id, {_SQL_TOKS} AS ts FROM documents),
dt AS (SELECT doc_id, unnest(ts) AS term FROM toks),
tfs AS (SELECT doc_id, term, count(*) AS tf FROM dt GROUP BY ALL),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tfs GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(dl) FROM dl) AS total_len),
dfreq AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
cand AS (
  SELECT q.query_id, t.doc_id, t.tf, dl.dl, f.df, s.n_docs, s.total_len
  FROM tfs t JOIN q USING (term) JOIN dl USING (doc_id)
  JOIN dfreq f USING (term), stats s),
sc AS (
  SELECT query_id, doc_id,
         CAST(sum(CAST(floor((({idf}) * ({frac})) * 1e6 + 0.5) / 1e6
                       AS DECIMAL(38,6))) AS DOUBLE) AS score
  FROM cand GROUP BY query_id, doc_id)
SELECT query_id, rank, doc_id, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, doc_id ASC) AS rank
  FROM sc)
WHERE rank <= {k} ORDER BY query_id, rank
"""



def x_kama(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaufman Adaptive MA over per-user daily closes — the FIFTH
    recurrence family and the only one whose smoothing coefficient is
    DATA-DEPENDENT per step (operators/finance.kama). The efficiency
    ratio / squared smoothing constant are window-computable, so the
    oracle precomputes them as window columns and the recursive CTE
    carries only the single BIGINT state."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        kama,
    )

    daily = _daily_ohlcv(spark, sf_dir).select("user_id", "trade_date", "close")
    out = kama(daily, ["user_id"], "trade_date", n=10, fast=2, slow=30)
    return out.select("user_id", "trade_date", "close", "er", "kama")


def _kama_sql(n: int = 10, fast: int = 2, slow: int = 30) -> str:
    cf6 = 2_000_000 // (fast + 1)
    cs6 = 2_000_000 // (slow + 1)
    er6 = (
        "(CASE WHEN den = 0 OR den IS NULL THEN 0 "
        "ELSE (abs(pu - pn) * 1000000) // den END)"
    )
    sc2 = (
        f"((({er6} * {cf6 - cs6}) // 1000000 + {cs6})"
        f" * (({er6} * {cf6 - cs6}) // 1000000 + {cs6})) // 1000000"
    )
    return f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_OHLCV}),
b AS (
  SELECT user_id, trade_date, close,
         CAST(floor(close * 1e6 + 0.5) AS BIGINT) AS pu,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM daily),
d AS (
  SELECT *, lag(pu, {n}) OVER v AS pn,
         abs(pu - lag(pu) OVER v) AS dd
  FROM b WINDOW v AS (PARTITION BY user_id ORDER BY rn)),
w AS MATERIALIZED (
  SELECT *, sum(dd) OVER (PARTITION BY user_id ORDER BY rn
                          ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)
            AS den
  FROM d),
g AS MATERIALIZED (
  SELECT user_id, trade_date, close, pu, rn,
         CASE WHEN rn > {n} THEN {er6} END AS er6,
         CASE WHEN rn > {n} THEN {sc2} END AS sc2
  FROM w),
st AS (
  SELECT user_id, rn, pu AS e FROM g WHERE rn = {n}
  UNION ALL
  SELECT c.user_id, c.rn,
         CASE WHEN c.pu >= p.e
              THEN p.e + (c.sc2 * (c.pu - p.e)) // 1000000
              ELSE p.e - (c.sc2 * (p.e - c.pu)) // 1000000 END AS e
  FROM g c JOIN st p ON c.user_id = p.user_id AND c.rn = p.rn + 1)
SELECT g.user_id, g.trade_date, g.close,
       CAST(g.er6 AS DOUBLE) / 1000000.0 AS er,
       CAST(st.e AS DOUBLE) / 1000000.0 AS kama
FROM g LEFT JOIN st ON g.user_id = st.user_id AND g.rn = st.rn
ORDER BY g.user_id, g.trade_date
"""


def x_vidya(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chande's VIDYA over per-user daily closes
    (operators/finance.vidya): the KAMA-family adaptive EMA whose
    per-step coefficient is the 9-bar Chande Momentum Oscillator. su/sd
    are window-computable BIGINT frame sums, so the oracle precomputes
    cmo6/a6 as window columns and its recursive CTE carries one BIGINT
    state — the data-dependent-coefficient recipe shared with x_kama."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        vidya,
    )

    daily = _daily_ohlcv(spark, sf_dir).select("user_id", "trade_date", "close")
    out = vidya(daily, ["user_id"], "trade_date", n=9, s=12)
    return out.select("user_id", "trade_date", "close", "cmo", "vidya")


def _vidya_sql(n: int = 9, s: int = 12) -> str:
    f6 = 2_000_000 // (s + 1)
    cmo6 = (
        "(CASE WHEN tot = 0 OR tot IS NULL THEN 0 "
        "ELSE (abs(su - sd) * 1000000) // tot END)"
    )
    a6 = f"(({cmo6} * {f6}) // 1000000)"
    return f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_OHLCV}),
b AS (
  SELECT user_id, trade_date, close,
         CAST(floor(close * 1e6 + 0.5) AS BIGINT) AS pu,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM daily),
d AS (
  SELECT *,
         CASE WHEN pu - lag(pu) OVER v > 0
              THEN pu - lag(pu) OVER v ELSE 0 END AS up,
         CASE WHEN lag(pu) OVER v - pu > 0
              THEN lag(pu) OVER v - pu ELSE 0 END AS dn
  FROM b WINDOW v AS (PARTITION BY user_id ORDER BY rn)),
w AS MATERIALIZED (
  SELECT *,
         sum(up) OVER f AS su, sum(dn) OVER f AS sd,
         sum(up) OVER f + sum(dn) OVER f AS tot
  FROM d WINDOW f AS (PARTITION BY user_id ORDER BY rn
                      ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)),
g AS MATERIALIZED (
  SELECT user_id, trade_date, close, pu, rn,
         CASE WHEN rn > {n} THEN {cmo6} END AS cmo6,
         CASE WHEN rn > {n} THEN {a6} END AS a6
  FROM w),
st AS (
  SELECT user_id, rn, pu AS v FROM g WHERE rn = {n}
  UNION ALL
  SELECT c.user_id, c.rn,
         CASE WHEN c.pu >= p.v
              THEN p.v + (c.a6 * (c.pu - p.v)) // 1000000
              ELSE p.v - (c.a6 * (p.v - c.pu)) // 1000000 END AS v
  FROM g c JOIN st p ON c.user_id = p.user_id AND c.rn = p.rn + 1)
SELECT g.user_id, g.trade_date, g.close,
       CAST(g.cmo6 AS DOUBLE) / 1000000.0 AS cmo,
       CAST(st.v AS DOUBLE) / 1000000.0 AS vidya
FROM g LEFT JOIN st ON g.user_id = st.user_id AND g.rn = st.rn
ORDER BY g.user_id, g.trade_date
"""


def x_klinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Klinger Volume Oscillator over per-user daily bars
    (operators/finance.klinger): integer trend/cumulative-measurement
    state machine feeding a micro-unit volume force, smoothed by
    34/55-bar integer EMA folds with a 13-bar signal EMA — four BIGINT
    states in ONE grouped-map pass. trend/dm/lag(dm) are
    window-computable, so the recursive oracle carries only the four
    states (the x_kama data-dependent recipe, deeper state)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        klinger,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    out = klinger(daily, ["user_id"], "trade_date")
    return out.select("user_id", "trade_date", "kvo", "signal")


def _klinger_sql(fast: int = 34, slow: int = 55, sig: int = 13) -> str:
    def ema_case(prev: str, v: str, n: int) -> str:
        return (
            f"(CASE WHEN {v} >= {prev} THEN {prev} + (2 * ({v} - {prev})) // {n + 1}"
            f" ELSE {prev} - (2 * ({prev} - {v})) // {n + 1} END)"
        )

    def vf(cm: str) -> str:
        r6 = f"((2 * c.dm * 1000000) // {cm})"
        return (
            f"(CASE WHEN {cm} > 0"
            f" THEN c.trend * c.vol * abs({r6} - 1000000) * 100 ELSE 0 END)"
        )

    cm_step = "(CASE WHEN c.trend = c.lt THEN p.cm + c.dm ELSE c.ld + c.dm END)"
    cm_seed = "(c.ld + c.dm)"
    return f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_OHLCV}),
b AS (
  SELECT user_id, trade_date, volume AS vol,
         CAST(floor(high * 1e6 + 0.5) AS BIGINT)
           + CAST(floor(low * 1e6 + 0.5) AS BIGINT)
           + CAST(floor(close * 1e6 + 0.5) AS BIGINT) AS hlc,
         CAST(floor(high * 1e6 + 0.5) AS BIGINT)
           - CAST(floor(low * 1e6 + 0.5) AS BIGINT) AS dm,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM daily),
t AS (
  SELECT *,
         CASE WHEN hlc > lag(hlc) OVER v THEN 1 ELSE -1 END AS trend,
         lag(dm) OVER v AS ld
  FROM b WINDOW v AS (PARTITION BY user_id ORDER BY rn)),
g AS MATERIALIZED (
  SELECT user_id, trade_date, vol, dm, rn, trend, ld,
         lag(trend) OVER (PARTITION BY user_id ORDER BY rn) AS lt
  FROM t),
st AS (
  SELECT c.user_id, c.rn, {cm_seed} AS cm,
         {vf(cm_seed)} AS e_f, {vf(cm_seed)} AS e_s,
         CAST(0 AS BIGINT) AS e_g
  FROM g c WHERE c.rn = 2
  UNION ALL
  SELECT user_id, rn, cm, e_f, e_s,
         {ema_case("e_g0", "(e_f - e_s)", sig)} AS e_g
  FROM (
    SELECT q.user_id, q.rn, q.cm, q.e_g AS e_g0,
           {ema_case("q.e_f0", "q.vf6", fast)} AS e_f,
           {ema_case("q.e_s0", "q.vf6", slow)} AS e_s
    FROM (
      SELECT c.user_id, c.rn, {cm_step} AS cm, {vf(cm_step)} AS vf6,
             p.e_f AS e_f0, p.e_s AS e_s0, p.e_g
      FROM g c JOIN st p ON c.user_id = p.user_id AND c.rn = p.rn + 1) q
  ) r)
SELECT g.user_id, g.trade_date,
       CAST(st.e_f - st.e_s AS DOUBLE) / 1000000.0 AS kvo,
       CAST(st.e_g AS DOUBLE) / 1000000.0 AS signal
FROM g LEFT JOIN st ON g.user_id = st.user_id AND g.rn = st.rn
ORDER BY g.user_id, g.trade_date
"""


def x_garch_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GARCH(1,1) conditional volatility over per-user daily closes
    (operators/finance.garch_vol): σ²_t = ω + α·r²_{t−1} + β·σ²_{t−1}
    with fixed textbook parameters — the volatility-FORECAST recurrence
    the risk family (hist_var, mc_var, rolling_sharpe) was missing.
    The return is one window lag, so the recursive oracle carries a
    single BIGINT variance state (pico-scaled; the x_kama integer
    recipe one scale deeper); even σ = sqrt(v) is deterministic
    (correctly-rounded IEEE sqrt of an integer-valued double)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        garch_vol,
    )

    daily = _daily_ohlcv(spark, sf_dir).select("user_id", "trade_date", "close")
    out = garch_vol(daily, ["user_id"], "trade_date")
    return (
        out.filter(F.col("ret").isNotNull())
        .select("user_id", "trade_date", "ret", "cond_var", "sigma")
    )


def _garch_sql(
    omega12: int = 5_000_000, alpha6: int = 100_000, beta6: int = 850_000
) -> str:
    return f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_OHLCV}),
b AS (
  SELECT user_id, trade_date,
         CAST(floor(close * 1e6 + 0.5) AS BIGINT) AS cu,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM daily),
g AS MATERIALIZED (
  SELECT user_id, trade_date, rn,
         greatest(-10000000, least(10000000,
         CASE WHEN lag(cu) OVER v IS NULL THEN NULL
              WHEN lag(cu) OVER v <= 0 THEN 0
              WHEN cu >= lag(cu) OVER v
              THEN ((cu - lag(cu) OVER v) * 1000000) // lag(cu) OVER v
              ELSE -(((lag(cu) OVER v - cu) * 1000000) // lag(cu) OVER v)
         END)) AS r6
  FROM b WINDOW v AS (PARTITION BY user_id ORDER BY rn)),
st AS (
  SELECT user_id, rn, r6, r6 * r6 AS v FROM g WHERE rn = 2
  UNION ALL
  SELECT c.user_id, c.rn, c.r6,
         {omega12} + {alpha6} * ((p.r6 * p.r6) // 1000000)
                   + {beta6} * (p.v // 1000000) AS v
  FROM g c JOIN st p ON c.user_id = p.user_id AND c.rn = p.rn + 1)
SELECT g.user_id, g.trade_date,
       CAST(g.r6 AS DOUBLE) / 1e6 AS ret,
       CAST(st.v AS DOUBLE) / 1e12 AS cond_var,
       floor(sqrt(CAST(st.v AS DOUBLE)) + 0.5) / 1e6 AS sigma
FROM g JOIN st ON g.user_id = st.user_id AND g.rn = st.rn
ORDER BY g.user_id, g.trade_date
"""


def d_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup quality report: recall of the MinHash+LSH near-dup path
    against the exact all-pairs Jaccard ground truth at 0.8, on a 10 %
    document sample — the acceptance metric for the dedup family,
    mirroring emb_recall_report for ANN. The sample bound is explicit
    BY DESIGN (the ground-truth side is the guarded O(n²) verification
    twin, exact_jaccard_pairs — recall is estimated on the sample, the
    production path runs on the full corpus). Both sides replay the
    identical md5 hashing, so even the recall NUMBER has an exact
    oracle. Detected ⊆ truth by construction (the LSH path
    exact-verifies its candidates), so n_hit = n_detected — the report
    asserts that containment numerically rather than assuming it."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
        exact_jaccard_pairs,
        minhash_near_dup_pairs,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    truth = exact_jaccard_pairs(docs, threshold=0.8).select(
        "doc_a", "doc_b", F.lit(1).alias("_t")
    )
    found = minhash_near_dup_pairs(docs, threshold=0.8).select(
        "doc_a", "doc_b", F.lit(1).alias("_f")
    )
    # ONE full-outer pass: each expensive subtree (the all-pairs twin,
    # the LSH chain) appears exactly once in the plan — a separate
    # count(found) cross-joined back would re-run the band self-join
    # and verification a second time. Full outer never broadcasts
    # (Spark plans it as a SortMergeJoin regardless of hints), but both
    # sides are bounded near-dup pair sets, so the shuffle is tiny.
    # All aggregates coalesce to 0 AFTER the agg: sum over an empty
    # join is NULL, and the n_truth == 0 -> recall 1.0 branch must see
    # a real zero, matching the oracle's count(*) semantics.
    joined = truth.join(found, ["doc_a", "doc_b"], "full_outer")
    report = joined.agg(
        F.coalesce(F.sum("_t"), F.lit(0)).cast("long").alias("n_truth"),
        F.coalesce(F.sum("_f"), F.lit(0)).cast("long").alias("n_detected"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("_t").isNotNull() & F.col("_f").isNotNull(), 1
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_hit"),
    )
    return report.select(
        "n_truth",
        "n_detected",
        "n_hit",
        F.when(F.col("n_truth") == 0, F.lit(1.0))
        .otherwise(F.col("n_hit").cast("double") / F.col("n_truth"))
        .alias("recall"),
    )


def _minhash_recall_sql(threshold: float = 0.8) -> str:
    return rf"""
WITH {_minhash_ctes(threshold, "WHERE doc_id % 10 = 0")},
truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM t a JOIN t b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
        / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))
        >= {threshold}),
found AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c JOIN t ta ON ta.doc_id = c.doc_a
              JOIN t tb ON tb.doc_id = c.doc_b
  WHERE CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE)
        / (len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts)))
        >= {threshold}),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_truth,
         CAST(count(f.doc_a) AS BIGINT) AS n_hit
  FROM truth tr LEFT JOIN found f
    ON tr.doc_a = f.doc_a AND tr.doc_b = f.doc_b),
det AS (SELECT CAST(count(*) AS BIGINT) AS n_detected FROM found)
SELECT n_truth, n_detected, n_hit,
       CASE WHEN n_truth = 0 THEN 1.0
            ELSE CAST(n_hit AS DOUBLE) / n_truth END AS recall
FROM agg, det
"""


def s_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join — the
    abandoned-funnel shape (views with NO purchase in the next 30 min
    emit a NULL row once the watermark proves no match can arrive).
    Distinct state semantics from the inner s_stream_join: unmatched
    left rows are held in state and flushed by watermark advance, so
    the emitted set depends on the FINAL GLOBAL watermark — which Spark
    computes as min over BOTH inputs of (max event time − delay). The
    oracle replays exactly that: a batch left interval join keeping
    unmatched views only where view_ts + 30 min < min(max view_ts,
    max purchase_ts) − 2 h (rows newer than the final watermark stay
    unflushed in state at availableNow termination — measured, not
    assumed: the one-sided purchase-stream max is what gates the
    watermark on this data). Nullable ids/lag cast to DOUBLE on both
    sides (the x_scd2_history nullable-int rule)."""
    import uuid

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.streaming.pipeline import (
        events_stream_source,
    )

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import (
        stateful_partitions,
    )

    tune(spark)
    with stateful_partitions(spark):
        views = (
            events_stream_source(spark, sf_dir)
            .filter(F.col("event_type") == "view")
            .select(
                F.col("user_id").alias("view_user"),
                F.col("event_id").alias("view_id"),
                F.col("ts").alias("view_ts"),
            )
            .withWatermark("view_ts", "2 hours")
        )
        buys = (
            events_stream_source(spark, sf_dir)
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("buy_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"),
            )
            .withWatermark("purchase_ts", "2 hours")
        )
        joined = views.join(
            buys,
            (F.col("view_user") == F.col("buy_user"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (
                F.col("purchase_ts")
                < F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")
            ),
            "leftOuter",
        ).select(
            F.col("view_user").alias("user_id"),
            "view_id",
            F.col("purchase_id").cast("double").alias("purchase_id"),
            "view_ts",
            "purchase_ts",
            (
                F.unix_micros(F.col("purchase_ts"))
                - F.unix_micros(F.col("view_ts"))
            ).cast("double").alias("lag_us"),
        )
        name = f"stream_join_outer_{uuid.uuid4().hex[:8]}"
        with _scratch_ckpt() as ckpt:
            q = (
                joined.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
    return spark.table(name)


_S_JOIN_OUTER_SQL = """
WITH v AS (
  SELECT user_id AS view_user, event_id AS view_id, ts AS view_ts
  FROM events WHERE event_type = 'view'),
b AS (
  SELECT user_id AS buy_user, event_id AS purchase_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'),
wm AS (
  SELECT least((SELECT max(view_ts) FROM v),
               (SELECT max(purchase_ts) FROM b))
         - INTERVAL 2 HOUR AS final_wm)
SELECT v.view_user AS user_id, v.view_id,
       CAST(b.purchase_id AS DOUBLE) AS purchase_id,
       v.view_ts, b.purchase_ts,
       CAST(epoch_us(b.purchase_ts) - epoch_us(v.view_ts) AS DOUBLE)
         AS lag_us
FROM v LEFT JOIN b
  ON v.view_user = b.buy_user
 AND b.purchase_ts >= v.view_ts
 AND b.purchase_ts < v.view_ts + INTERVAL 30 MINUTE
WHERE b.purchase_id IS NOT NULL
   OR v.view_ts + INTERVAL 30 MINUTE < (SELECT final_wm FROM wm)
ORDER BY user_id, view_id, purchase_id NULLS FIRST
"""



def emb_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster simplified silhouette over the seeded-k-means cells
    (operators/similarity.silhouette) — the clustering-quality metric
    for the IVF/SemDeDup bucketing. b = second-smallest centroid
    distance (each vector sees each centroid once), so the whole metric
    is one broadcast cross join + two partial-agg groupBys — no n x n
    work. The oracle regenerates the identical centroids
    (_ivf_assign_ctes) and replays the sorted-distance-pair math."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.similarity import (
        silhouette,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return silhouette(emb, n_lists=8, n_iter=2, dim=64)


def _silhouette_sql(n_lists: int = 8, n_iter: int = 2, dim: int = 64) -> str:
    ctes, cur = _ivf_assign_ctes(n_lists, n_iter, dim)
    d2 = (
        "list_dot_product(a.emb, a.emb)"
        " + list_dot_product(c.centroid, c.centroid)"
        " - 2.0 * list_dot_product(a.emb, c.centroid)"
    )
    ctes.append(f"""pv AS (
  SELECT a.vec_id, a.cell AS own, list_sort(list({d2})) AS ds
  FROM af a CROSS JOIN {cur} c
  GROUP BY a.vec_id, a.cell)""")
    ctes.append("""sv AS (
  SELECT own AS cell,
         floor((CASE WHEN greatest(sqrt(greatest(ds[1], 0.0)),
                                   sqrt(greatest(ds[2], 0.0))) > 0.0
                     THEN (sqrt(greatest(ds[2], 0.0))
                           - sqrt(greatest(ds[1], 0.0)))
                          / greatest(sqrt(greatest(ds[1], 0.0)),
                                     sqrt(greatest(ds[2], 0.0)))
                     ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS s
  FROM pv)"""
    )
    with_block = ",\n".join(ctes)
    return f"""
WITH {with_block}
SELECT cell, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(s AS DECIMAL(38,6))) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS mean_sil
FROM sv GROUP BY cell ORDER BY cell
"""



def x_cmo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chande Momentum Oscillator (14) over per-user daily bars: n-bar
    up-sum vs down-sum ratio with no Wilder smoothing — one window pass,
    exact BIGINT micro-unit frame sums, one exact-operand IEEE division
    (operators/finance.chande_momentum)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        chande_momentum,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    return chande_momentum(daily, ["user_id"], "trade_date", n=14)


_X_CMO_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
d AS (
  SELECT user_id, trade_date, close,
         {sql_u6("close")}
           - lag({sql_u6("close")})
             OVER (PARTITION BY user_id ORDER BY trade_date) AS dm
  FROM daily),
s AS (
  SELECT user_id, trade_date, close,
         sum(CASE WHEN dm > 0 THEN dm ELSE 0 END) OVER f AS su,
         sum(CASE WHEN dm < 0 THEN -dm ELSE 0 END) OVER f AS sd
  FROM d
  WINDOW f AS (PARTITION BY user_id ORDER BY trade_date
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
SELECT user_id, trade_date, close,
       CASE WHEN su + sd > 0
            THEN 100.0 * CAST(su - sd AS DOUBLE) / CAST(su + sd AS DOUBLE)
       END AS cmo
FROM s ORDER BY user_id, trade_date
"""


def x_ulcer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ulcer Index (14) over per-user daily bars: RMS percent drawdown
    from the running all-time high — downside-only volatility. Running
    max + RMS ride one per-key exchange+sort; drawdowns quantize to
    micro-units so the square-sum is an exact BIGINT reduction
    (operators/finance.ulcer_index)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        ulcer_index,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    return ulcer_index(daily, ["user_id"], "trade_date", n=14)


_X_ULCER_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
p AS (
  SELECT user_id, trade_date, close,
         {sql_u6("close")} AS cu,
         max({sql_u6("close")})
           OVER (PARTITION BY user_id ORDER BY trade_date
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM daily),
d AS (
  SELECT user_id, trade_date, close,
         CASE WHEN peak > 0
              THEN 100.0 * CAST(cu - peak AS DOUBLE) / CAST(peak AS DOUBLE)
         END AS dd,
         CAST(floor((CASE WHEN peak > 0
                          THEN 100.0 * CAST(cu - peak AS DOUBLE)
                               / CAST(peak AS DOUBLE) END) * 1e6 + 0.5)
              AS BIGINT) AS q
  FROM p),
s AS (
  SELECT user_id, trade_date, close, dd,
         count(q) OVER f AS cnt, sum(q * q) OVER f AS sq
  FROM d
  WINDOW f AS (PARTITION BY user_id ORDER BY trade_date
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
SELECT user_id, trade_date, close, dd AS drawdown_pct,
       CASE WHEN cnt > 0
            THEN sqrt(CAST(sq AS DOUBLE) / CAST(cnt AS DOUBLE)) / 1e6
       END AS ulcer
FROM s ORDER BY user_id, trade_date
"""


def x_sortino(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-day rolling Sortino (MAR=0) of per-user daily returns: rolling
    mean over downside deviation — rolling_sharpe's loss-only twin, same
    exact integer micro-unit frame moments, no rounding step
    (operators/finance.sortino)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        daily_returns,
        sortino,
    )

    ev = _t(spark, sf_dir, "events")
    rets = daily_returns(ev, ["user_id"], "ts", "event_id", "value")
    out = sortino(rets, ["user_id"], "trade_date", n=20)
    return out.select("user_id", "trade_date", "ret", "sortino")


_X_SORTINO_SQL = f"""
WITH src AS (
  SELECT user_id, event_id, ts, value FROM events WHERE value > 0),
daily AS (
  SELECT user_id, CAST(ts AS DATE) AS trade_date,
         arg_max(value, {_SQL_TS_EVENT_KEY}) AS close
  FROM src GROUP BY user_id, CAST(ts AS DATE)),
rets AS (
  SELECT user_id, trade_date,
         close / lag(close) OVER (PARTITION BY user_id ORDER BY trade_date)
           - 1.0 AS ret
  FROM daily QUALIFY ret IS NOT NULL),
q AS (
  SELECT user_id, trade_date, ret,
         CAST(floor(ret * 1000000.0 + 0.5) AS BIGINT) AS rq
  FROM rets WHERE abs(ret) <= 10.0),
m AS (
  SELECT user_id, trade_date, ret,
         CAST(count(ret) OVER f AS DOUBLE) AS n,
         CAST(sum(rq) OVER f AS DOUBLE) AS s1,
         CAST(sum(CASE WHEN rq < 0 THEN rq * rq ELSE 0 END) OVER f
              AS DOUBLE) AS s2d
  FROM q
  WINDOW f AS (PARTITION BY user_id ORDER BY trade_date
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
SELECT user_id, trade_date, ret,
       CASE WHEN n >= 2.0 AND s2d > 0
            THEN (s1 / n) / sqrt(s2d / n) END AS sortino
FROM m ORDER BY user_id, trade_date
"""


def x_hull_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hull Moving Average (16) over per-user daily bars:
    WMA(2·WMA(8) − WMA(16), 4) as pure native window algebra — fixed
    lag chains of BIGINT micro-unit products, the intermediate series
    carried in scaled-integer form over the common denominator, ONE
    IEEE divide at the end (operators/finance.hull_ma)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        hull_ma,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    return hull_ma(daily, ["user_id"], "trade_date", n=16)


def _hull_sql(n: int = 16) -> str:
    import math

    h, s = n // 2, math.isqrt(n)
    dn, dh, ds = n * (n + 1) // 2, h * (h + 1) // 2, s * (s + 1) // 2
    lcm = math.lcm(dh, dn)
    ch, cn = 2 * lcm // dh, lcm // dn

    def chain(col: str, k: int) -> str:
        terms = [f"{k} * {col}"] + [
            f"{k - j} * lag({col}, {j}) OVER w" for j in range(1, k)
        ]
        return " + ".join(terms)

    return f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
b AS (
  SELECT user_id, trade_date, close, {sql_u6("close")} AS cu FROM daily),
l1 AS (
  SELECT user_id, trade_date, close,
         {ch} * ({chain("cu", h)}) - {cn} * ({chain("cu", n)}) AS ds
  FROM b
  WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)),
l2 AS (
  SELECT user_id, trade_date, close,
         CAST(({chain("ds", s)}) AS DOUBLE) / {float(ds * lcm) * 1e6} AS hma
  FROM l1
  WINDOW w AS (PARTITION BY user_id ORDER BY trade_date))
SELECT user_id, trade_date, close, hma
FROM l2 ORDER BY user_id, trade_date
"""


def x_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1 autocorrelation of daily returns — the
    mean-reversion/momentum diagnostic. beta_vs_market's exact-moment
    contract on (ret_t, ret_{t-1}) pairs: BIGINT linear sums,
    decimal(38,0) second moments (overflow = cross-engine divergence,
    not just a wrong number), fixed-order IEEE Pearson combination
    (operators/finance.return_autocorr)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        daily_returns,
        return_autocorr,
    )

    ev = _t(spark, sf_dir, "events")
    rets = daily_returns(ev, ["user_id"], "ts", "event_id", "value")
    return return_autocorr(
        rets, ["user_id"], "trade_date", lag=1, min_pairs=3
    )


_X_AUTOCORR_SQL = f"""
WITH src AS (
  SELECT user_id, event_id, ts, value FROM events WHERE value > 0),
daily AS (
  SELECT user_id, CAST(ts AS DATE) AS trade_date,
         arg_max(value, {_SQL_TS_EVENT_KEY}) AS close
  FROM src GROUP BY user_id, CAST(ts AS DATE)),
rets AS (
  SELECT user_id, trade_date,
         close / lag(close) OVER (PARTITION BY user_id ORDER BY trade_date)
           - 1.0 AS ret
  FROM daily QUALIFY ret IS NOT NULL),
q AS (
  SELECT user_id, trade_date,
         CAST(floor(ret * 1000000.0 + 0.5) AS BIGINT) AS x
  FROM rets WHERE abs(ret) <= 10.0),
p AS (
  SELECT user_id, x,
         lag(x) OVER (PARTITION BY user_id ORDER BY trade_date) AS y
  FROM q QUALIFY y IS NOT NULL),
m AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy
  FROM p GROUP BY user_id)
SELECT user_id, n_pairs,
       (CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
         / sqrt((CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
                * (CAST(n_pairs AS DOUBLE) * syy - sy * sy)) AS autocorr
FROM m
WHERE n_pairs >= 3
  AND CAST(n_pairs AS DOUBLE) * sxx - sx * sx > 0
  AND CAST(n_pairs AS DOUBLE) * syy - sy * sy > 0
ORDER BY user_id
"""


def x_force_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elder's Force Index (13) over per-user daily bars: EMA of
    price-change × volume. The raw series is one native lag window;
    the smoothing reuses the shared exact EMA fold at scale 1.0
    (operators/finance.force_index / ema_fold) — a recursive-CTE
    oracle carries the one BIGINT state."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        force_index,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    out = force_index(daily, ["user_id"], "trade_date", n=13)
    return out.select(
        "user_id", "trade_date", "close", "volume", "fi_1", "fi_n"
    )


def _force_index_sql(n: int = 13) -> str:
    d = float(n + 1)
    return f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_OHLCV}),
b AS (
  SELECT user_id, trade_date, close, volume,
         (close - lag(close) OVER (PARTITION BY user_id ORDER BY trade_date))
           * CAST(volume AS DOUBLE) AS fi_raw
  FROM daily),
src AS (
  SELECT user_id, trade_date, close, volume,
         CAST(floor(fi_raw * 1.0 + 0.5) AS BIGINT) AS v,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM b WHERE fi_raw IS NOT NULL),
ema AS (
  SELECT user_id, trade_date, close, volume, v, rn, v AS e
  FROM src WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.trade_date, s.close, s.volume, s.v, s.rn,
         e.e + CAST(floor(2.0 * (s.v - e.e) / {d}) AS BIGINT)
  FROM src s JOIN ema e ON s.user_id = e.user_id AND s.rn = e.rn + 1)
SELECT user_id, trade_date, close, volume,
       CAST(v AS DOUBLE) AS fi_1, CAST(e AS DOUBLE) AS fi_n
FROM ema ORDER BY user_id, trade_date
"""


def x_elder_ray(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elder Ray bull/bear power over per-user daily bars: high/low
    minus EMA(13) of close, both differences taken on the exact BIGINT
    states before the single rescale divide
    (operators/finance.elder_ray / ema_fold)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        elder_ray,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    return elder_ray(daily, ["user_id"], "trade_date", n=13)


def _elder_ray_sql(n: int = 13) -> str:
    d = float(n + 1)
    return f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_OHLCV}),
src AS (
  SELECT user_id, trade_date, close,
         {sql_u6("close")} AS v, {sql_u6("high")} AS hu,
         {sql_u6("low")} AS lu,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM daily),
ema AS (
  SELECT user_id, trade_date, close, hu, lu, rn, v, v AS e
  FROM src WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.trade_date, s.close, s.hu, s.lu, s.rn, s.v,
         e.e + CAST(floor(2.0 * (s.v - e.e) / {d}) AS BIGINT)
  FROM src s JOIN ema e ON s.user_id = e.user_id AND s.rn = e.rn + 1)
SELECT user_id, trade_date, close,
       CAST(e AS DOUBLE) / 1000000.0 AS ema,
       CAST(hu - e AS DOUBLE) / 1e6 AS bull_power,
       CAST(lu - e AS DOUBLE) / 1e6 AS bear_power
FROM ema ORDER BY user_id, trade_date
"""


def x_nvi_pvi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative/Positive Volume Index over per-user daily bars — the
    SIXTH oracle-checked recurrence family, and the first MULTIPLICATIVE
    one: state compounds the day's return only on falling- (NVI) or
    rising- (PVI) volume days. BIGINT micro-unit states updated with
    floor(double(state)·ret + 0.5) and SATURATED at ±(2^53−1) — a
    total fold whose LEAST/GREATEST clamp the recursive-CTE oracle
    mirrors exactly (operators/finance.volume_index)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        volume_index,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    return volume_index(daily, ["user_id"], "trade_date")


_X_NVI_SQL = f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_OHLCV}),
src AS (
  SELECT user_id, trade_date, close, volume,
         {sql_u6("close")} AS cu,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM daily),
vi AS (
  SELECT user_id, trade_date, close, volume, cu, rn,
         CAST(1000000000 AS BIGINT) AS nvi,
         CAST(1000000000 AS BIGINT) AS pvi
  FROM src WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.trade_date, s.close, s.volume, s.cu, s.rn,
         CASE WHEN s.volume < e.volume AND e.cu > 0
              THEN CAST(LEAST(GREATEST(
                   CAST(e.nvi AS DOUBLE) + floor(CAST(e.nvi AS DOUBLE)
                   * (CAST(s.cu - e.cu AS DOUBLE) / CAST(e.cu AS DOUBLE))
                   + 0.5), -CAST(9007199254740991 AS DOUBLE)),
                   CAST(9007199254740991 AS DOUBLE))
                   AS BIGINT)
              ELSE e.nvi END,
         CASE WHEN s.volume > e.volume AND e.cu > 0
              THEN CAST(LEAST(GREATEST(
                   CAST(e.pvi AS DOUBLE) + floor(CAST(e.pvi AS DOUBLE)
                   * (CAST(s.cu - e.cu AS DOUBLE) / CAST(e.cu AS DOUBLE))
                   + 0.5), -CAST(9007199254740991 AS DOUBLE)),
                   CAST(9007199254740991 AS DOUBLE))
                   AS BIGINT)
              ELSE e.pvi END
  FROM src s JOIN vi e ON s.user_id = e.user_id AND s.rn = e.rn + 1)
SELECT user_id, trade_date, close, volume,
       CAST(nvi AS DOUBLE) / 1000000.0 AS nvi,
       CAST(pvi AS DOUBLE) / 1000000.0 AS pvi
FROM vi ORDER BY user_id, trade_date
"""


def d_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail perplexity terciles over the corpus
    (Wenzek et al. 2020) — the bucketing stage of the CommonCrawl
    curation pipeline, with the corpus's own unigram LM standing in for
    KenLM. Exact discrete terciles of the micro-unit xent: two cut
    scalars read off the lazy distributed rank, broadcast to every doc,
    no single-partition sort (operators/corpus.ccnet_buckets)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        ccnet_buckets,
    )

    docs = _t(spark, sf_dir, "documents")
    return ccnet_buckets(docs)


_D_CCNET_SQL = rf"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS ts FROM documents),
dt AS (SELECT doc_id, t AS tok, count(*) AS c
       FROM (SELECT doc_id, unnest(ts) AS t FROM t) GROUP BY doc_id, tok),
freq AS (SELECT tok, CAST(sum(c) AS BIGINT) AS f FROM dt GROUP BY tok),
tot AS (SELECT CAST(sum(f) AS BIGINT) AS tt FROM freq),
scored AS (
  SELECT dt.doc_id, dt.c,
         round(ln(CAST(freq.f AS DOUBLE) / CAST(tot.tt AS DOUBLE)), 6) AS lp
  FROM dt JOIN freq USING (tok) CROSS JOIN tot),
x AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         (-CAST(sum(CAST(CAST(c AS DOUBLE) * lp AS DECIMAL(38,6))) AS DOUBLE))
           / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) AS xent
  FROM scored GROUP BY doc_id),
q AS (
  SELECT doc_id, n_tokens, xent,
         CAST(floor(xent * 1e6 + 0.5) AS BIGINT) AS xq
  FROM x),
h AS (SELECT xq, count(*) AS cnt FROM q GROUP BY xq),
cm AS (SELECT xq, sum(cnt) OVER (ORDER BY xq
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccum FROM h),
n AS (SELECT count(*) AS nn FROM q),
cuts AS (SELECT
  (SELECT min(xq) FROM cm, n WHERE ccum * 3 >= nn) AS c1,
  (SELECT min(xq) FROM cm, n WHERE ccum * 3 >= 2 * nn) AS c2)
SELECT doc_id, n_tokens, xent,
       CASE WHEN xq <= c1 THEN 'head'
            WHEN xq <= c2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM q CROSS JOIN cuts ORDER BY doc_id
"""


def emb_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed 64×64 covariance matrix of the embedding corpus —
    the one-pass Gram reduction behind PCA/whitening/drift monitoring.
    One Arrow mapInPandas pass emits d(d+1)/2-row integer Gram partials
    per batch (BLAS q.T@q, never rows×d² shuffle rows); cross-partition
    sums route through decimal(38,0)
    (operators/similarity.embedding_covariance)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.similarity import (
        embedding_covariance,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_covariance(emb)


_EMB_COV_SQL = """
WITH x AS (
  SELECT vec_id, i - 1 AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS q
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) s),
g AS (
  SELECT a.dim AS i, b.dim AS j, sum(a.q * b.q) AS sxy
  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.dim <= b.dim
  GROUP BY a.dim, b.dim),
sm AS (
  SELECT dim, sum(q) AS sv, CAST(count(*) AS BIGINT) AS n
  FROM x GROUP BY dim)
SELECT g.i, g.j, si.n,
       (CAST(si.n AS DOUBLE) * CAST(g.sxy AS DOUBLE)
        - CAST(si.sv AS DOUBLE) * CAST(sj.sv AS DOUBLE))
       / (CAST(si.n AS DOUBLE) * (CAST(si.n AS DOUBLE) - 1.0)) / 1e12 AS cov
FROM g JOIN sm si ON g.i = si.dim JOIN sm sj ON g.j = sj.dim
ORDER BY i, j
"""


def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-label hard-negative mining: for each label centroid, the 5
    nearest vectors of a DIFFERENT label — the contrastive-training
    sampler. Centroids broadcast against the partitioned corpus; one
    shard scan scores |labels| prototypes per vector
    (operators/similarity.hard_negatives)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.similarity import (
        hard_negatives,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return hard_negatives(emb, k=5)


_EMB_HARDNEG_SQL = """
WITH d AS (
  SELECT label, vec_id, i AS dim, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) s),
pd AS (
  SELECT label, dim,
         CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS mean
  FROM d GROUP BY label, dim),
c AS (
  SELECT label AS c_label, list(mean ORDER BY dim) AS c_vec
  FROM pd GROUP BY label),
v AS (
  SELECT vec_id, label,
         list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v_vec
  FROM embeddings),
p AS (
  SELECT c.c_label, v.vec_id AS neighbor_id, v.label AS neighbor_label,
         list_dot_product(c.c_vec, v.v_vec)
           / (sqrt(list_dot_product(c.c_vec, c.c_vec))
              * sqrt(list_dot_product(v.v_vec, v.v_vec))) AS cos
  FROM c JOIN v ON v.label <> c.c_label),
r AS (
  SELECT c_label AS label, neighbor_id, neighbor_label, cos,
         row_number() OVER (PARTITION BY c_label
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM p)
SELECT label, CAST(rank AS BIGINT) AS rank, neighbor_id, neighbor_label,
       floor(cos * 1e6 + 0.5) / 1e6 AS cosine
FROM r WHERE rank <= 5 ORDER BY label, rank
"""


def x_dema_tema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEMA/TEMA (10) over per-user daily closes: lag-reduced EMAs as
    exact BIGINT linear combinations of the trix-style triple-chained
    states; recursive-CTE oracle carries (e1, e2, e3)
    (operators/finance.dema_tema)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        dema_tema,
    )

    daily = _daily_ohlcv(spark, sf_dir).select(
        "user_id", "trade_date", "close"
    )
    return dema_tema(daily, ["user_id"], "trade_date", n=10)


def _dema_sql(n: int = 10) -> str:
    d = float(n + 1)
    e1s = f"e.e1 + CAST(floor(2.0 * (s.v - e.e1) / {d}) AS BIGINT)"
    e2s = f"e.e2 + CAST(floor(2.0 * (({e1s}) - e.e2) / {d}) AS BIGINT)"
    e3s = f"e.e3 + CAST(floor(2.0 * (({e2s}) - e.e3) / {d}) AS BIGINT)"
    return f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_OHLCV}),
src AS (
  SELECT user_id, trade_date, close,
         {sql_u6("close")} AS v,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM daily),
ema AS (
  SELECT user_id, trade_date, close, v, rn, v AS e1, v AS e2, v AS e3
  FROM src WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.trade_date, s.close, s.v, s.rn,
         {e1s} AS e1, {e2s} AS e2, {e3s} AS e3
  FROM src s JOIN ema e ON s.user_id = e.user_id AND s.rn = e.rn + 1)
SELECT user_id, trade_date, close,
       CAST(2 * e1 - e2 AS DOUBLE) / 1000000.0 AS dema,
       CAST(3 * e1 - 3 * e2 + e3 AS DOUBLE) / 1000000.0 AS tema
FROM ema ORDER BY user_id, trade_date
"""


def x_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 14-bar OLS of price on bar index (the linear-regression
    indicator): slope + end-of-window fitted value. With the regressor
    fixed at 0..n−1, the only data moment is Σxy — a fused lag chain of
    BIGINT micro-unit products; slope/fit are fixed-order IEEE over
    exact integers (operators/finance.linreg_slope)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        linreg_slope,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    return linreg_slope(daily, ["user_id"], "trade_date", n=14)


def _linreg_sql(n: int = 14) -> str:
    sx = n * (n - 1) // 2
    sxx = n * (n - 1) * (2 * n - 1) // 6
    denom = float(n * sxx - sx * sx)
    fit_c = float(n - 1) - sx / float(n)
    cu = sql_u6("close")
    sy = " + ".join(
        [cu] + [f"lag({cu}, {j}) OVER w" for j in range(1, n)]
    )
    sxy = " + ".join(
        [f"{n - 1} * {cu}"]
        + [f"{n - 1 - j} * lag({cu}, {j}) OVER w" for j in range(1, n)]
    )
    return f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
m AS (
  SELECT user_id, trade_date, close,
         ({sy}) AS sy, ({sxy}) AS sxy
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)),
s AS (
  SELECT user_id, trade_date, close,
         ({float(n)} * CAST(sxy AS DOUBLE) - {float(sx)} * CAST(sy AS DOUBLE))
           / {denom} AS slope_u,
         CAST(sy AS DOUBLE) / {float(n)} AS mean_u
  FROM m)
SELECT user_id, trade_date, close,
       slope_u / 1e6 AS slope,
       (mean_u + slope_u * {fit_c}) / 1e6 AS fit_end
FROM s ORDER BY user_id, trade_date
"""


def x_hist_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical 5% Value-at-Risk per user: the ceil(n/20)-th smallest
    daily return — exact discrete quantile by rank selection on one
    per-key exchange, ceil-division in pure integer arithmetic
    (operators/finance.hist_var)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        daily_returns,
        hist_var,
    )

    ev = _t(spark, sf_dir, "events")
    rets = daily_returns(ev, ["user_id"], "ts", "event_id", "value")
    return hist_var(rets, ["user_id"], "trade_date", min_obs=10)


_X_HISTVAR_SQL = f"""
WITH src AS (
  SELECT user_id, event_id, ts, value FROM events WHERE value > 0),
daily AS (
  SELECT user_id, CAST(ts AS DATE) AS trade_date,
         arg_max(value, {_SQL_TS_EVENT_KEY}) AS close
  FROM src GROUP BY user_id, CAST(ts AS DATE)),
rets AS (
  SELECT user_id, trade_date,
         close / lag(close) OVER (PARTITION BY user_id ORDER BY trade_date)
           - 1.0 AS ret
  FROM daily QUALIFY ret IS NOT NULL),
r AS (
  SELECT user_id, trade_date, ret,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ret, trade_date) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM rets)
SELECT user_id, CAST(n AS BIGINT) AS n_obs, ret AS var_ret,
       -ret AS var_loss
FROM r
WHERE rn = CAST(floor((n * 1 + 19) / 20.0) AS BIGINT) AND n >= 10
ORDER BY user_id
"""


def e_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation over the event stream: per-user
    recency / frequency / monetary quintiles (1 = lowest) via the exact
    order-statistic quantile operator — no single-partition ntile sort;
    each cut is the ⌈N·b/5⌉-th smallest value, picked off the lazy
    distributed rank, and all 12 cut scalars broadcast in one row
    (operators/quantiles.quantile_bucket)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.quantiles import (
        quantile_bucket,
    )

    ev = _t(spark, sf_dir, "events")
    ref = ev.agg(F.max(F.to_date("ts")).alias("_ref"))
    pu = (
        ev.groupBy("user_id")
        .agg(
            F.max(F.to_date("ts")).alias("_last"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(
                F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5))
                .cast("long")
                .cast("decimal(38,0)")
            ).alias("_mon"),
        )
        .crossJoin(F.broadcast(ref))
        .withColumn(
            "recency_days",
            F.datediff(F.col("_ref"), F.col("_last")).cast("long"),
        )
        # the three cut plans and the final classify all consume this
        # per-user table: cut the lineage once
        .localCheckpoint()
    )
    # one call for all three: the cuts come from the same pu and attach
    # in one broadcast cross join (chained calls would nest each earlier
    # call's cross join inside the next call's cut plan)
    b = quantile_bucket(
        pu,
        {"recency_days": "r_bucket", "frequency": "f_bucket", "_mon": "m_bucket"},
    )
    return b.select(
        "user_id",
        "recency_days",
        "frequency",
        (F.col("_mon").cast("double") / F.lit(1e6)).alias("monetary"),
        "r_bucket",
        "f_bucket",
        "m_bucket",
        F.concat(
            F.col("r_bucket").cast("string"),
            F.col("f_bucket").cast("string"),
            F.col("m_bucket").cast("string"),
        ).alias("segment"),
    )


def _rfm_cut_block(name: str, col: str) -> str:
    cuts = ", ".join(
        f"min(CASE WHEN ccum * 5 >= n * {b} THEN v END) AS c{b}"
        for b in range(1, 5)
    )
    return f"""h_{name} AS (
  SELECT {col} AS v, count(*) AS cnt FROM pu GROUP BY {col}),
c_{name} AS (
  SELECT v,
         sum(cnt) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccum,
         sum(cnt) OVER () AS n
  FROM h_{name}),
cut_{name} AS (SELECT {cuts} FROM c_{name})"""


def _rfm_bucket_expr(name: str, col: str) -> str:
    terms = " + ".join(
        f"CAST({col} > cut_{name}.c{b} AS INT)" for b in range(1, 5)
    )
    return f"1 + {terms}"


_E_RFM_SQL = f"""
WITH pu AS (
  SELECT user_id,
         date_diff('day', max(CAST(ts AS DATE)),
                   (SELECT max(CAST(ts AS DATE)) FROM events))
           AS recency_days,
         count(*) AS frequency,
         sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS mon
  FROM events GROUP BY user_id),
{_rfm_cut_block("r", "recency_days")},
{_rfm_cut_block("f", "frequency")},
{_rfm_cut_block("m", "mon")}
SELECT user_id, recency_days, CAST(frequency AS BIGINT) AS frequency,
       CAST(mon AS DOUBLE) / 1e6 AS monetary,
       {_rfm_bucket_expr("r", "recency_days")} AS r_bucket,
       {_rfm_bucket_expr("f", "frequency")} AS f_bucket,
       {_rfm_bucket_expr("m", "mon")} AS m_bucket,
       CAST({_rfm_bucket_expr("r", "recency_days")} AS VARCHAR)
         || CAST({_rfm_bucket_expr("f", "frequency")} AS VARCHAR)
         || CAST({_rfm_bucket_expr("m", "mon")} AS VARCHAR) AS segment
FROM pu
CROSS JOIN cut_r CROSS JOIN cut_f CROSS JOIN cut_m
ORDER BY user_id
"""


def x_kalman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Kalman price filter per user — the SEVENTH recurrence family
    and the first with PURE DOUBLE state: per-row IEEE trees need no
    quantization to replay bit-identically, the recursive-CTE oracle
    carries (x DOUBLE, p DOUBLE) (operators/finance.kalman_1d)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        kalman_1d,
    )

    daily = _daily_ohlcv(spark, sf_dir).select(
        "user_id", "trade_date", "close"
    )
    return kalman_1d(daily, ["user_id"], "trade_date")


def _kalman_sql(q: float = 1e-5, r: float = 1e-2) -> str:
    pp = f"(e.p + {q!r})"
    kg = f"({pp} / ({pp} + {r!r}))"
    return f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_OHLCV}),
src AS (
  SELECT user_id, trade_date, close,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM daily),
kf AS (
  SELECT user_id, trade_date, close, rn,
         close AS x, CAST(1.0 AS DOUBLE) AS p
  FROM src WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.trade_date, s.close, s.rn,
         e.x + {kg} * (s.close - e.x) AS x,
         (1.0 - {kg}) * {pp} AS p
  FROM src s JOIN kf e ON s.user_id = e.user_id AND s.rn = e.rn + 1)
SELECT user_id, trade_date, close, x AS kf_x, p AS kf_p
FROM kf ORDER BY user_id, trade_date
"""


def s_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k: the events table replayed through a file-source
    stream into a watermarked per-(day, user) rollup (decimal-routed
    sums — streaming state stays keyed, never global), run in APPEND
    mode so the watermark actually evicts state: a day's rows emit
    once the global watermark (max ts − 1 h) passes the window end,
    and the final trailing day(s) stay unflushed in state at
    availableNow termination — the oracle replays exactly that cutoff
    in SQL (s_stream_join_outer's measured-watermark rule). The
    top-3-users-per-day RANK runs as a batch post-pass over the
    completed sink (rank is not an append-mode streaming operator —
    the composite is the standard pattern)."""
    import uuid

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.streaming.pipeline import (
        events_stream_daily_user,
    )

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import (
        stateful_partitions,
    )

    tune(spark)
    with stateful_partitions(spark):
        agg = events_stream_daily_user(spark, sf_dir)
        name = f"stream_topk_{uuid.uuid4().hex[:8]}"
        with _scratch_ckpt() as ckpt:
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
    w = Window.partitionBy("bucket_start").orderBy(
        F.col("total_value").desc(), F.col("user_id").asc()
    )
    return (
        spark.table(name)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("bucket_start", "rank", "user_id", "num_events", "total_value")
    )


_S_TOPK_SQL = """
WITH wm AS (
  SELECT max(ts) - INTERVAL 1 HOUR AS watermark FROM events),
g AS (
  SELECT time_bucket(INTERVAL '1 day', ts, TIMESTAMP '2000-01-01 00:00:00')
           AS bucket_start,
         user_id, count(*) AS num_events,
         CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
  FROM events
  WHERE time_bucket(INTERVAL '1 day', ts, TIMESTAMP '2000-01-01 00:00:00')
          + INTERVAL 1 DAY <= (SELECT watermark FROM wm)
  GROUP BY bucket_start, user_id),
r AS (
  SELECT bucket_start, user_id, num_events, total_value,
         row_number() OVER (PARTITION BY bucket_start
                            ORDER BY total_value DESC, user_id) AS rank
  FROM g)
SELECT bucket_start, CAST(rank AS BIGINT) AS rank, user_id, num_events,
       total_value
FROM r WHERE rank <= 3 ORDER BY bucket_start, rank
"""


def d_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption over the corpus: deterministic md5
    position masking (15%), consecutive masks merged into sentinel
    spans, corrupted input + denoising targets emitted per doc — the
    pretraining-objective sampler, reproducible across engines and
    re-runs (operators/corpus.span_corruption)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        span_corruption,
    )

    docs = _t(spark, sf_dir, "documents")
    return span_corruption(docs)


_D_SPANCORRUPT_SQL = rf"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS ts FROM documents),
pos AS (
  SELECT doc_id, i - 1 AS p, ts[i] AS tok,
         CAST('0x' || substr(md5('span-v1|' || CAST(doc_id AS VARCHAR)
                || '|' || CAST(i - 1 AS VARCHAR)), 1, 8) AS BIGINT)
           % 10000 < 1500 AS m
  FROM t, LATERAL (SELECT unnest(generate_series(1, len(ts))) AS i)),
mk AS (
  SELECT doc_id, p, tok,
         row_number() OVER (PARTITION BY doc_id ORDER BY p) AS rn
  FROM pos WHERE m),
sp AS (
  SELECT doc_id, p, tok,
         dense_rank() OVER (PARTITION BY doc_id ORDER BY p - rn) - 1 AS k
  FROM mk),
unm AS (SELECT doc_id, p, tok AS piece FROM pos WHERE NOT m),
sent AS (
  SELECT doc_id, min(p) AS p,
         '<extra_id_' || CAST(k AS VARCHAR) || '>' AS piece
  FROM sp GROUP BY doc_id, k),
corr AS (
  SELECT doc_id, string_agg(piece, ' ' ORDER BY p) AS corrupted
  FROM (SELECT * FROM unm UNION ALL SELECT * FROM sent) GROUP BY doc_id),
tgt_span AS (
  SELECT doc_id, k,
         '<extra_id_' || CAST(k AS VARCHAR) || '> '
           || string_agg(tok, ' ' ORDER BY p) AS tpiece
  FROM sp GROUP BY doc_id, k),
tgt AS (
  SELECT doc_id, string_agg(tpiece, ' ' ORDER BY k) AS targets,
         max(k) + 1 AS n_spans
  FROM tgt_span GROUP BY doc_id),
cnt AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked
  FROM pos GROUP BY doc_id)
SELECT cnt.doc_id, n_tokens, n_masked,
       CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
       coalesce(corrupted, '') AS corrupted,
       coalesce(targets, '') AS targets
FROM cnt LEFT JOIN corr ON cnt.doc_id = corr.doc_id
LEFT JOIN tgt ON cnt.doc_id = tgt.doc_id
ORDER BY cnt.doc_id
"""


def x_coppock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coppock Curve over per-user daily bars: WMA(ROC14+ROC11, 10) —
    exact-operand ROC quotients through a fixed-order integer-weighted
    lag chain; two Window levels, one exchange+sort
    (operators/finance.coppock_curve)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        coppock_curve,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    return coppock_curve(daily, ["user_id"], "trade_date")


def _coppock_sql(
    roc_long: int = 14, roc_short: int = 11, wma_n: int = 10
) -> str:
    cu = sql_u6("close")

    def roc(n: int) -> str:
        return (
            f"CASE WHEN lag({cu}, {n}) OVER w > 0 THEN "
            f"100.0 * CAST({cu} - lag({cu}, {n}) OVER w AS DOUBLE)"
            f" / CAST(lag({cu}, {n}) OVER w AS DOUBLE) END"
        )

    chain = " + ".join(
        [f"{wma_n} * s"]
        + [f"{wma_n - j} * lag(s, {j}) OVER w" for j in range(1, wma_n)]
    )
    return f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
l1 AS (
  SELECT user_id, trade_date, close,
         ({roc(roc_long)}) + ({roc(roc_short)}) AS s
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY trade_date))
SELECT user_id, trade_date, close,
       ({chain}) / {float(wma_n * (wma_n + 1) // 2)} AS coppock
FROM l1
WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)
ORDER BY user_id, trade_date
"""


def x_kst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Know Sure Thing over per-user daily bars: four smoothed ROCs
    weighted 1..4 plus the 9-bar signal line — each ROC quantized to
    micro-units before its SMA so every frame sum is an exact BIGINT
    reduction; KST re-quantized before the signal SMA
    (operators/finance.kst)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        kst,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    return kst(daily, ["user_id"], "trade_date")


def _kst_sql(
    rocs=(10, 15, 20, 30), smooths=(10, 10, 10, 15), signal_n: int = 9
) -> str:
    cu = sql_u6("close")

    def roc_q(n: int) -> str:
        r = (
            f"CASE WHEN lag({cu}, {n}) OVER w > 0 THEN "
            f"100.0 * CAST({cu} - lag({cu}, {n}) OVER w AS DOUBLE)"
            f" / CAST(lag({cu}, {n}) OVER w AS DOUBLE) END"
        )
        return f"CAST(floor(({r}) * 1e6 + 0.5) AS BIGINT)"

    rq = ",\n         ".join(
        f"{roc_q(n)} AS rq{i}" for i, n in enumerate(rocs)
    )
    smas = ",\n         ".join(
        f"CAST(sum(rq{i}) OVER f{i} AS DOUBLE)"
        f" / CAST(count(rq{i}) OVER f{i} AS DOUBLE) AS s{i}"
        for i in range(len(smooths))
    )
    frames = ",\n        ".join(
        f"f{i} AS (PARTITION BY user_id ORDER BY trade_date"
        f" ROWS BETWEEN {m - 1} PRECEDING AND CURRENT ROW)"
        for i, m in enumerate(smooths)
    )
    combo = " + ".join(f"{float(i + 1)} * s{i}" for i in range(len(smooths)))
    return f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
l1 AS (
  SELECT user_id, trade_date, close,
         {rq}
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)),
l2 AS (
  SELECT user_id, trade_date, close,
         {smas}
  FROM l1
  WINDOW {frames}),
l3 AS (
  SELECT user_id, trade_date, close,
         CAST(floor(({combo}) * 1e6 + 0.5) AS BIGINT) AS kq
  FROM l2)
SELECT user_id, trade_date, close,
       CAST(kq AS DOUBLE) / 1e6 AS kst,
       CAST(sum(kq) OVER fs AS DOUBLE)
         / CAST(count(kq) OVER fs AS DOUBLE) / 1e6 AS kst_signal
FROM l3
WINDOW fs AS (PARTITION BY user_id ORDER BY trade_date
              ROWS BETWEEN {signal_n - 1} PRECEDING AND CURRENT ROW)
ORDER BY user_id, trade_date
"""


def emb_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection of the embedding corpus onto its top-8 principal
    components: one distributed Gram pass (embedding_covariance), a
    driver-side 64×64 eigh (constant in corpus size), broadcast
    component literals folded per row. SCALAR p0..p7 layout (driver-
    canonicalizable — the r5 array<double> shape crashed the gate's
    pandas sort). Full SQL oracle: the fit's covariance/means are
    exact-integer reductions, so pca_fit_local replays the SAME eigh
    input from a local pyarrow read and the oracle pins (mu, comps,
    explained) as literals — only eigh itself stays outside SQL
    (operators/similarity.pca_project_scalar)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.similarity import (
        pca_project_scalar,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return pca_project_scalar(emb, k=8)


def _emb_pca_sql(k: int = 8) -> str:
    """DuckDB twin of emb_pca, generated AT CALL TIME: replays the
    exact-integer fit locally (pca_fit_local — bit-identical cov/mu to
    the distributed fit), pins mu/components/explained as double
    literals, and replays the projection as the same left-to-right
    fold Spark's dot() uses: 0.0 + (e[1]−mu0)·c0 + … per component,
    1e-6-quantized with the tie-safe floor rule. The fit data comes
    from $SPARK_GRAFT_ORACLE_SF_DIR (default the driver's sf0.01) —
    verify_local sets it per-SF."""
    import math
    import os

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.similarity import (
        pca_fit_local,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    mu, comps, _evals, explained = pca_fit_local(
        f"{sf_dir}/embeddings.parquet", k=k
    )
    exq = math.floor(explained * 1e6 + 0.5) / 1e6
    projs = []
    for i, comp in enumerate(comps):
        terms = " + ".join(
            f"(CAST(embedding[{d + 1}] AS DOUBLE) - {mu[d]!r}) * {comp[d]!r}"
            for d in range(len(mu))
        )
        projs.append(
            f"floor((0.0 + {terms}) * 1e6 + 0.5) / 1e6 AS p{i}"
        )
    proj_sql = ",\n       ".join(projs)
    return f"""
SELECT vec_id,
       {proj_sql},
       {exq!r} AS explained
FROM embeddings
ORDER BY vec_id
"""


def x_mc_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo VaR with a DETERMINISTIC simulation: per-user (μ,σ)
    from exact integer moments, 200 md5-seeded Box–Muller normal draws
    (pure function of salt|user|path — no RNG state), empirical 5%
    quantile by integer rank. The DuckDB oracle replays the ENTIRE
    simulation bit-for-bit (operators/finance.monte_carlo_var)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        daily_returns,
        monte_carlo_var,
    )

    ev = _t(spark, sf_dir, "events")
    rets = daily_returns(ev, ["user_id"], "ts", "event_id", "value")
    return monte_carlo_var(rets, ["user_id"], n_paths=200)


def _mc_var_sql(
    n_paths: int = 200,
    alpha_num: int = 1,
    alpha_den: int = 20,
    min_obs: int = 10,
    salt: str = "mc-v1",
) -> str:
    import math

    k_target = (n_paths * alpha_num + alpha_den - 1) // alpha_den
    two_pi = repr(2.0 * math.pi)

    def unit(tag: str) -> str:
        return (
            f"CAST(CAST('0x' || substr(md5('{salt}|'"
            f" || CAST(user_id AS VARCHAR) || '|' || CAST(p AS VARCHAR)"
            f" || '|{tag}'), 1, 8) AS BIGINT)"
            f" % 1000000000 + 1 AS DOUBLE) / 1e9"
        )

    return f"""
WITH src AS (
  SELECT user_id, event_id, ts, value FROM events WHERE value > 0),
daily AS (
  SELECT user_id, CAST(ts AS DATE) AS trade_date,
         arg_max(value, {_SQL_TS_EVENT_KEY}) AS close
  FROM src GROUP BY user_id, CAST(ts AS DATE)),
rets AS (
  SELECT user_id, trade_date,
         close / lag(close) OVER (PARTITION BY user_id ORDER BY trade_date)
           - 1.0 AS ret
  FROM daily QUALIFY ret IS NOT NULL),
q AS (
  SELECT user_id, CAST(floor(ret * 1000000.0 + 0.5) AS BIGINT) AS q
  FROM rets WHERE abs(ret) <= 10.0),
m AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_obs,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(q) AS DOUBLE) AS s1,
         CAST(sum(CAST(q * q AS DECIMAL(38,0))) AS DOUBLE) AS s2
  FROM q GROUP BY user_id),
f AS (
  SELECT user_id, n_obs, s1 / n AS mu,
         sqrt((s2 - s1 * s1 / n) / (n - 1.0)) AS sd
  FROM m
  WHERE n_obs >= {min_obs} AND (s2 - s1 * s1 / n) / (n - 1.0) > 0),
pth AS (
  SELECT user_id, n_obs, mu, sd, pp AS p
  FROM f, LATERAL (SELECT unnest(generate_series(0, {n_paths - 1})) AS pp)),
z AS (
  SELECT user_id, n_obs, mu, sd, p,
         floor(sqrt(-2.0 * ln({unit("a")}))
               * cos({two_pi} * {unit("b")}) * 1e6 + 0.5) / 1e6 AS zq
  FROM pth),
s AS (
  SELECT user_id, n_obs, mu, sd, p, (mu + sd * zq) / 1e6 AS sim FROM z),
r AS (
  SELECT user_id, n_obs, mu, sd, sim,
         row_number() OVER (PARTITION BY user_id ORDER BY sim, p) AS rn
  FROM s)
SELECT user_id, n_obs, mu / 1e6 AS mu, sd / 1e6 AS sigma,
       sim AS var_sim, -sim AS var_loss
FROM r WHERE rn = {k_target} ORDER BY user_id
"""


def x_mass_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mass Index (25-bar sum of the 9-bar EMA-of-range over its own
    EMA): one fold carries both chained integer states, the per-bar
    ratio quantizes to micro-units so the window sum stays BIGINT
    (operators/finance.mass_index)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        mass_index,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    return mass_index(daily, ["user_id"], "trade_date")


def _mass_index_sql(ema_n: int = 9, sum_n: int = 25) -> str:
    d = float(ema_n + 1)
    e1s = f"e.e1 + CAST(floor(2.0 * (s.v - e.e1) / {d}) AS BIGINT)"
    e2s = f"e.e2 + CAST(floor(2.0 * (({e1s}) - e.e2) / {d}) AS BIGINT)"
    return f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_OHLCV}),
src AS (
  SELECT user_id, trade_date,
         CAST(floor((high - low) * 1e6 + 0.5) AS BIGINT) AS v,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM daily),
ema AS (
  SELECT user_id, trade_date, v, rn, v AS e1, v AS e2
  FROM src WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.trade_date, s.v, s.rn, {e1s} AS e1, {e2s} AS e2
  FROM src s JOIN ema e ON s.user_id = e.user_id AND s.rn = e.rn + 1),
rq AS (
  SELECT user_id, trade_date,
         CAST(floor((CASE WHEN e2 > 0
                          THEN CAST(e1 AS DOUBLE) / CAST(e2 AS DOUBLE) END)
                    * 1e6 + 0.5) AS BIGINT) AS rq
  FROM ema)
SELECT user_id, trade_date,
       CAST(rq AS DOUBLE) / 1e6 AS mass_ratio,
       CASE WHEN count(rq) OVER f = {sum_n}
            THEN CAST(sum(rq) OVER f AS DOUBLE) / 1e6 END AS mass_index
FROM rq
WINDOW f AS (PARTITION BY user_id ORDER BY trade_date
             ROWS BETWEEN {sum_n - 1} PRECEDING AND CURRENT ROW)
ORDER BY user_id, trade_date
"""


def x_stoch_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic RSI (14,14) over per-user daily closes: the
    oscillator applied to the RSI series, with the RSI quantized to
    micro-units before the m-bar min/max/ratio so the extremes and the
    final division are exact integer ops
    (operators/windows.stoch_rsi)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.windows import (
        stoch_rsi,
    )

    daily = _daily_ohlcv(spark, sf_dir).select(
        "user_id", "trade_date", "close"
    )
    out = stoch_rsi(daily, ["user_id"], "trade_date", "close", n=14, m=14)
    return out.select(
        "user_id",
        "trade_date",
        "close",
        q6("rsi_14", "rsi_14"),
        "stoch_rsi",
    )


_X_STOCHRSI_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
d AS (
  SELECT user_id, trade_date, close,
         close - lag(close) OVER (PARTITION BY user_id ORDER BY trade_date)
           AS delta
  FROM daily),
g AS (
  SELECT user_id, trade_date, close,
         count(delta) OVER w AS n_deltas,
         avg(CASE WHEN delta IS NOT NULL THEN
               CASE WHEN delta > 0 THEN delta ELSE 0.0 END END)
           OVER w AS avg_gain,
         avg(CASE WHEN delta IS NOT NULL THEN
               CASE WHEN delta < 0 THEN -delta ELSE 0.0 END END)
           OVER w AS avg_loss
  FROM d
  WINDOW w AS (PARTITION BY user_id ORDER BY trade_date
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
r AS (
  SELECT user_id, trade_date, close,
         CAST(floor((CASE WHEN n_deltas < 14 THEN NULL
                          WHEN avg_loss = 0 THEN 100.0
                          ELSE 100.0 - 100.0 / (1.0 + avg_gain / avg_loss)
                     END) * 1e6 + 0.5) AS BIGINT) AS rq
  FROM g),
s AS (
  SELECT user_id, trade_date, close, rq,
         min(rq) OVER f AS lo, max(rq) OVER f AS hi, count(rq) OVER f AS cnt
  FROM r
  WINDOW f AS (PARTITION BY user_id ORDER BY trade_date
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
SELECT user_id, trade_date, close,
       CAST(rq AS DOUBLE) / 1e6 AS rsi_14,
       CASE WHEN cnt = 14 AND hi > lo
            THEN 100.0 * CAST(rq - lo AS DOUBLE) / CAST(hi - lo AS DOUBLE)
       END AS stoch_rsi
FROM s ORDER BY user_id, trade_date
"""


def x_event_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event study around 'purchase' events: the average per-user
    return curve at trading-day offsets −3..+3 plus the cumulative
    abnormal return — anchors map to row numbers and the ±window is an
    anchor × 7-offset equi-join, never a theta join
    (operators/finance.event_study)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        daily_returns,
        event_study,
    )

    ev = _t(spark, sf_dir, "events")
    rets = daily_returns(ev, ["user_id"], "ts", "event_id", "value")
    anchors = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.to_date("ts").alias("anchor_date"))
        .distinct()
    )
    return event_study(
        rets, anchors, ["user_id"], pre=3, post=3
    )


_X_EVENT_STUDY_SQL = f"""
WITH src AS (
  SELECT user_id, event_id, ts, value FROM events WHERE value > 0),
daily AS (
  SELECT user_id, CAST(ts AS DATE) AS trade_date,
         arg_max(value, {_SQL_TS_EVENT_KEY}) AS close
  FROM src GROUP BY user_id, CAST(ts AS DATE)),
rets AS (
  SELECT user_id, trade_date,
         close / lag(close) OVER (PARTITION BY user_id ORDER BY trade_date)
           - 1.0 AS ret
  FROM daily QUALIFY ret IS NOT NULL),
q AS (
  SELECT user_id, trade_date,
         CAST(floor(ret * 1000000.0 + 0.5) AS BIGINT) AS q,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM rets WHERE abs(ret) <= 10.0),
anch AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS trade_date
  FROM events WHERE event_type = 'purchase'),
arn AS (
  SELECT a.user_id, q.rn AS arn
  FROM anch a JOIN q ON a.user_id = q.user_id
                    AND a.trade_date = q.trade_date),
probe AS (
  SELECT user_id, arn, o AS "offset", arn + o AS rn
  FROM arn, LATERAL (SELECT unnest(generate_series(-3, 3)) AS o)),
j AS (
  SELECT p."offset" AS "offset", q.q
  FROM probe p JOIN q ON p.user_id = q.user_id AND p.rn = q.rn),
agg AS (
  SELECT "offset", CAST(count(*) AS BIGINT) AS n_obs,
         CAST(sum(q) AS BIGINT) AS s
  FROM j GROUP BY "offset")
SELECT "offset", n_obs,
       CAST(s AS DOUBLE) / CAST(n_obs AS DOUBLE) / 1e6 AS avg_ret,
       CAST(sum(CAST(floor(CAST(s AS DOUBLE) / CAST(n_obs AS DOUBLE) + 0.5)
                     AS BIGINT))
            OVER (ORDER BY "offset"
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) / 1e6 AS car
FROM agg ORDER BY "offset"
"""


def emb_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift between the even- and odd-id halves
    of the corpus: per-dimension standardized mean difference from
    exact integer moments — the embedding-space twin of e_drift_psi
    (operators/similarity.embedding_drift)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.similarity import (
        embedding_drift,
    )

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    return embedding_drift(a, b)


_EMB_DRIFT_SQL = """
WITH x AS (
  SELECT vec_id, i - 1 AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS q
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)),
ma AS (
  SELECT dim, CAST(count(*) AS BIGINT) AS n_a,
         CAST(sum(q) AS DOUBLE) AS s1a,
         CAST(sum(CAST(q * q AS DECIMAL(38,0))) AS DOUBLE) AS s2a
  FROM x WHERE vec_id % 2 = 0 GROUP BY dim),
mb AS (
  SELECT dim, CAST(count(*) AS BIGINT) AS n_b,
         CAST(sum(q) AS DOUBLE) AS s1b,
         CAST(sum(CAST(q * q AS DECIMAL(38,0))) AS DOUBLE) AS s2b
  FROM x WHERE vec_id % 2 = 1 GROUP BY dim),
j AS (SELECT * FROM ma JOIN mb USING (dim))
SELECT dim, n_a, n_b,
       s1a / CAST(n_a AS DOUBLE) / 1e6 AS mean_a,
       s1b / CAST(n_b AS DOUBLE) / 1e6 AS mean_b,
       CASE WHEN ((s2a - s1a * s1a / CAST(n_a AS DOUBLE))
                    / (CAST(n_a AS DOUBLE) - 1.0)
                  + (s2b - s1b * s1b / CAST(n_b AS DOUBLE))
                    / (CAST(n_b AS DOUBLE) - 1.0)) / 2.0 > 0
            THEN (s1b / CAST(n_b AS DOUBLE) - s1a / CAST(n_a AS DOUBLE))
                 / sqrt(((s2a - s1a * s1a / CAST(n_a AS DOUBLE))
                           / (CAST(n_a AS DOUBLE) - 1.0)
                         + (s2b - s1b * s1b / CAST(n_b AS DOUBLE))
                           / (CAST(n_b AS DOUBLE) - 1.0)) / 2.0)
       END AS smd
FROM j ORDER BY dim
"""


def x_seasonality_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week return seasonality across the whole market: mean
    daily return, dispersion and a t-statistic per weekday — the
    calendar-anomaly screen. Weekday comes from pure integer date
    arithmetic (days since a known Monday, mod 7) — engine-proof,
    unlike dayofweek() whose origin differs between Spark (1=Sunday)
    and DuckDB (0=Sunday). Returns quantize to micro-units; the
    per-weekday reduction is one map-side-combinable exact-moment
    aggregate; t = mean / (sd / sqrt(n)) in fixed-order IEEE."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        daily_returns,
    )

    ev = _t(spark, sf_dir, "events")
    rets = daily_returns(ev, ["user_id"], "ts", "event_id", "value")
    rets = rets.filter(F.abs(F.col("ret")) <= F.lit(10.0))
    q = F.floor(F.col("ret") * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    # 2000-01-03 is a Monday: dow 0=Mon .. 6=Sun in BOTH engines
    dow = F.pmod(
        F.datediff(F.col("trade_date"), F.lit("2000-01-03").cast("date")),
        F.lit(7),
    ).cast("int")
    agg = (
        rets.withColumn("_q", q)
        .groupBy(dow.alias("dow"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            F.sum("_q").alias("s1"),
            F.sum((F.col("_q") * F.col("_q")).cast("decimal(38,0)")).alias(
                "s2"
            ),
        )
    )
    n, s1, s2 = (
        F.col(c).cast("double") for c in ("n_obs", "s1", "s2")
    )
    mean_u = s1 / n
    var_u = (s2 - s1 * s1 / n) / (n - F.lit(1.0))
    tstat = F.when(var_u > 0, mean_u / F.sqrt(var_u / n))
    return agg.select(
        "dow",
        "n_obs",
        (mean_u / F.lit(1e6)).alias("mean_ret"),
        F.when(var_u > 0, F.sqrt(var_u) / F.lit(1e6)).alias("sd_ret"),
        tstat.alias("t_stat"),
    )


_X_SEASONALITY_SQL = f"""
WITH src AS (
  SELECT user_id, event_id, ts, value FROM events WHERE value > 0),
daily AS (
  SELECT user_id, CAST(ts AS DATE) AS trade_date,
         arg_max(value, {_SQL_TS_EVENT_KEY}) AS close
  FROM src GROUP BY user_id, CAST(ts AS DATE)),
rets AS (
  SELECT user_id, trade_date,
         close / lag(close) OVER (PARTITION BY user_id ORDER BY trade_date)
           - 1.0 AS ret
  FROM daily QUALIFY ret IS NOT NULL),
q AS (
  SELECT CAST(((date_diff('day', DATE '2000-01-03', trade_date) % 7) + 7)
              % 7 AS INT) AS dow,
         CAST(floor(ret * 1000000.0 + 0.5) AS BIGINT) AS q
  FROM rets WHERE abs(ret) <= 10.0),
m AS (
  SELECT dow, CAST(count(*) AS BIGINT) AS n_obs,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(q) AS DOUBLE) AS s1,
         CAST(sum(CAST(q * q AS DECIMAL(38,0))) AS DOUBLE) AS s2
  FROM q GROUP BY dow)
SELECT dow, n_obs,
       (s1 / n) / 1e6 AS mean_ret,
       CASE WHEN (s2 - s1 * s1 / n) / (n - 1.0) > 0
            THEN sqrt((s2 - s1 * s1 / n) / (n - 1.0)) / 1e6 END AS sd_ret,
       CASE WHEN (s2 - s1 * s1 / n) / (n - 1.0) > 0
            THEN (s1 / n)
                 / sqrt(((s2 - s1 * s1 / n) / (n - 1.0)) / n) END AS t_stat
FROM m ORDER BY dow
"""


def d_bigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under an interpolated BIGRAM model of
    the corpus (Jelinek-Mercer λ=0.7) — catches word-order anomalies
    the unigram proxy cannot. Bigrams collapse to per-(doc, bigram)
    counts before anything wide; scoring joins are bigram-/unigram-
    keyed (operators/corpus.bigram_xent)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        bigram_xent,
    )

    docs = _t(spark, sf_dir, "documents")
    return bigram_xent(docs)


def _bigram_xent_sql(lam: float = 0.7) -> str:
    return rf"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS ts FROM documents),
pairs AS (
  SELECT doc_id, ts[i] || chr(31) || ts[i + 1] AS bg
  FROM t, LATERAL (SELECT unnest(generate_series(1, len(ts) - 1)) AS i)),
dt AS (SELECT doc_id, bg, count(*) AS c FROM pairs GROUP BY doc_id, bg),
big AS (SELECT bg, CAST(sum(c) AS BIGINT) AS c2 FROM dt GROUP BY bg),
fst AS (
  SELECT split_part(bg, chr(31), 1) AS w1, CAST(sum(c2) AS BIGINT) AS c1
  FROM big GROUP BY split_part(bg, chr(31), 1)),
uni AS (
  SELECT tk AS tok, CAST(count(*) AS BIGINT) AS f
  FROM (SELECT unnest(ts) AS tk FROM t) GROUP BY tk),
tot AS (SELECT CAST(sum(f) AS BIGINT) AS tt FROM uni),
scored AS (
  SELECT dt.doc_id, dt.c,
         round(ln({lam!r} * (CAST(big.c2 AS DOUBLE)
                             / CAST(fst.c1 AS DOUBLE))
                  + {1.0 - lam!r} * (CAST(uni.f AS DOUBLE)
                                     / CAST(tot.tt AS DOUBLE))), 6) AS lp
  FROM dt JOIN big USING (bg)
  JOIN fst ON split_part(dt.bg, chr(31), 1) = fst.w1
  JOIN uni ON split_part(dt.bg, chr(31), 2) = uni.tok
  CROSS JOIN tot)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
       (-CAST(sum(CAST(CAST(c AS DOUBLE) * lp AS DECIMAL(38,6))) AS DOUBLE))
         / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) AS xent2
FROM scored GROUP BY doc_id
ORDER BY doc_id
"""


def e_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bin histogram of event values — the dashboard
    distribution primitive. Bin assignment is PURE INTEGER arithmetic
    over micro-unit values (((q − qmin) · 20) // span with a
    nonnegative numerator — `//` is floor == truncate here, both
    engines agree), min/max are two broadcast scalars, the bin rollup
    is one map-side-combinable aggregate with decimal-exact value
    sums."""
    ev = _t(spark, sf_dir, "events")
    q = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long")
    src = ev.select(q.alias("_q"), "value")
    bounds = src.agg(
        F.min("_q").alias("_qmin"), F.max("_q").alias("_qmax")
    )
    j = src.crossJoin(F.broadcast(bounds))
    span = F.col("_qmax") - F.col("_qmin") + F.lit(1)
    bin_ = F.floor(
        ((F.col("_q") - F.col("_qmin")) * F.lit(20)).cast("double")
        / span.cast("double")
    ).cast("int")
    return (
        j.withColumn("bin", bin_)
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            dsum("value", "sum_value"),
            (F.min("_q").cast("double") / F.lit(1e6)).alias("bin_min"),
            (F.max("_q").cast("double") / F.lit(1e6)).alias("bin_max"),
        )
    )


_E_VALUE_HIST_SQL = f"""
WITH src AS (
  SELECT CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS q, value FROM events),
b AS (SELECT min(q) AS qmin, max(q) AS qmax FROM src),
j AS (
  SELECT CAST(floor(CAST((q - qmin) * 20 AS DOUBLE)
                    / CAST(qmax - qmin + 1 AS DOUBLE)) AS INT) AS bin,
         q, value
  FROM src CROSS JOIN b)
SELECT bin, CAST(count(*) AS BIGINT) AS n_rows,
       {sql_dsum("value")} AS sum_value,
       CAST(min(q) AS DOUBLE) / 1e6 AS bin_min,
       CAST(max(q) AS DOUBLE) / 1e6 AS bin_max
FROM j GROUP BY bin ORDER BY bin
"""


def x_risk_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user distribution-shape risk ratios: Omega (gross gains over
    gross losses — exact BIGINT micro-unit sums, one IEEE division) and
    the tail ratio (95th-percentile gain over 5th-percentile loss
    magnitude, both exact discrete rank selections on ONE per-key
    sorted exchange — hist_var's integer ceil-division rule)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        daily_returns,
    )

    ev = _t(spark, sf_dir, "events")
    rets = daily_returns(ev, ["user_id"], "ts", "event_id", "value")
    rets = rets.filter(F.abs(F.col("ret")) <= F.lit(10.0))
    q = F.floor(F.col("ret") * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ret").asc(), F.col("trade_date").asc()
    )
    cw = Window.partitionBy("user_id")
    ranked = (
        rets.withColumn("_q", q)
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(cw))
        .localCheckpoint()
    )
    k5 = F.floor(
        (F.col("_n") * F.lit(1) + F.lit(19)) / F.lit(20.0)
    ).cast("long")
    k95 = F.floor(
        (F.col("_n") * F.lit(19) + F.lit(19)) / F.lit(20.0)
    ).cast("long")
    lo = ranked.filter(F.col("_rn") == k5).select(
        "user_id", F.col("ret").alias("r5")
    )
    hi = ranked.filter(F.col("_rn") == k95).select(
        "user_id", F.col("ret").alias("r95")
    )
    agg = ranked.groupBy("user_id").agg(
        F.max("_n").cast("long").alias("n_obs"),
        F.sum(F.when(F.col("_q") > 0, F.col("_q")).otherwise(F.lit(0))).alias(
            "_su"
        ),
        F.sum(
            F.when(F.col("_q") < 0, -F.col("_q")).otherwise(F.lit(0))
        ).alias("_sd"),
    )
    omega = F.when(
        F.col("_sd") > 0,
        F.col("_su").cast("double") / F.col("_sd").cast("double"),
    )
    tail = F.when(
        F.col("r5") < 0, F.col("r95") / (-F.col("r5"))
    )
    return (
        agg.join(lo, "user_id")
        .join(hi, "user_id")
        .filter(F.col("n_obs") >= 20)
        .select(
            "user_id",
            "n_obs",
            omega.alias("omega"),
            F.col("r5").alias("p5_ret"),
            F.col("r95").alias("p95_ret"),
            tail.alias("tail_ratio"),
        )
    )


_X_RISK_RATIOS_SQL = f"""
WITH src AS (
  SELECT user_id, event_id, ts, value FROM events WHERE value > 0),
daily AS (
  SELECT user_id, CAST(ts AS DATE) AS trade_date,
         arg_max(value, {_SQL_TS_EVENT_KEY}) AS close
  FROM src GROUP BY user_id, CAST(ts AS DATE)),
rets AS (
  SELECT user_id, trade_date,
         close / lag(close) OVER (PARTITION BY user_id ORDER BY trade_date)
           - 1.0 AS ret
  FROM daily QUALIFY ret IS NOT NULL),
r AS (
  SELECT user_id, trade_date, ret,
         CAST(floor(ret * 1000000.0 + 0.5) AS BIGINT) AS q,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ret, trade_date) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM rets WHERE abs(ret) <= 10.0),
agg AS (
  SELECT user_id, CAST(max(n) AS BIGINT) AS n_obs,
         sum(CASE WHEN q > 0 THEN q ELSE 0 END) AS su,
         sum(CASE WHEN q < 0 THEN -q ELSE 0 END) AS sd
  FROM r GROUP BY user_id),
lo AS (SELECT user_id, ret AS r5 FROM r
       WHERE rn = CAST(floor((n * 1 + 19) / 20.0) AS BIGINT)),
hi AS (SELECT user_id, ret AS r95 FROM r
       WHERE rn = CAST(floor((n * 19 + 19) / 20.0) AS BIGINT))
SELECT agg.user_id, n_obs,
       CASE WHEN sd > 0
            THEN CAST(su AS DOUBLE) / CAST(sd AS DOUBLE) END AS omega,
       r5 AS p5_ret, r95 AS p95_ret,
       CASE WHEN r5 < 0 THEN r95 / (-r5) END AS tail_ratio
FROM agg JOIN lo ON agg.user_id = lo.user_id
JOIN hi ON agg.user_id = hi.user_id
WHERE n_obs >= 20
ORDER BY agg.user_id
"""


def x_win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest win and loss streaks per user (consecutive positive /
    negative daily returns; flat days break both): the island trick —
    global row number minus per-sign row number labels each run, one
    per-(user, sign, island) count, one per-user max. All integer
    algebra on two windows sharing one exchange."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        daily_returns,
    )

    ev = _t(spark, sf_dir, "events")
    rets = daily_returns(ev, ["user_id"], "ts", "event_id", "value")
    q = F.floor(F.col("ret") * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    sgn = (
        F.when(q > 0, F.lit(1)).when(q < 0, F.lit(-1)).otherwise(F.lit(0))
    )
    w = Window.partitionBy("user_id").orderBy("trade_date")
    ws = Window.partitionBy("user_id", "_sgn").orderBy("trade_date")
    base = (
        rets.withColumn("_sgn", sgn)
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_rns", F.row_number().over(ws))
        .localCheckpoint()
    )
    runs = (
        base.filter(F.col("_sgn") != 0)
        .groupBy("user_id", "_sgn", (F.col("_rn") - F.col("_rns")).alias("_i"))
        .agg(F.count(F.lit(1)).cast("long").alias("_len"))
    )
    streaks = runs.groupBy("user_id").agg(
        F.max(F.when(F.col("_sgn") == 1, F.col("_len"))).alias("_wmax"),
        F.max(F.when(F.col("_sgn") == -1, F.col("_len"))).alias("_lmax"),
    )
    totals = base.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    return (
        totals.join(streaks, "user_id", "left")
        .select(
            "user_id",
            "n_days",
            F.coalesce(F.col("_wmax"), F.lit(0).cast("long")).alias(
                "max_win_streak"
            ),
            F.coalesce(F.col("_lmax"), F.lit(0).cast("long")).alias(
                "max_loss_streak"
            ),
        )
    )


_X_STREAKS_SQL = f"""
WITH src AS (
  SELECT user_id, event_id, ts, value FROM events WHERE value > 0),
daily AS (
  SELECT user_id, CAST(ts AS DATE) AS trade_date,
         arg_max(value, {_SQL_TS_EVENT_KEY}) AS close
  FROM src GROUP BY user_id, CAST(ts AS DATE)),
rets AS (
  SELECT user_id, trade_date,
         close / lag(close) OVER (PARTITION BY user_id ORDER BY trade_date)
           - 1.0 AS ret
  FROM daily QUALIFY ret IS NOT NULL),
s AS (
  SELECT user_id, trade_date,
         CASE WHEN CAST(floor(ret * 1000000.0 + 0.5) AS BIGINT) > 0 THEN 1
              WHEN CAST(floor(ret * 1000000.0 + 0.5) AS BIGINT) < 0 THEN -1
              ELSE 0 END AS sgn,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM rets),
i AS (
  SELECT user_id, sgn, rn,
         row_number() OVER (PARTITION BY user_id, sgn
                            ORDER BY trade_date) AS rns
  FROM s),
runs AS (
  SELECT user_id, sgn, rn - rns AS island,
         CAST(count(*) AS BIGINT) AS len
  FROM i WHERE sgn <> 0 GROUP BY user_id, sgn, rn - rns),
st AS (
  SELECT user_id,
         max(CASE WHEN sgn = 1 THEN len END) AS wmax,
         max(CASE WHEN sgn = -1 THEN len END) AS lmax
  FROM runs GROUP BY user_id),
tot AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_days
        FROM rets GROUP BY user_id)
SELECT tot.user_id, n_days,
       CAST(coalesce(wmax, 0) AS BIGINT) AS max_win_streak,
       CAST(coalesce(lmax, 0) AS BIGINT) AS max_loss_streak
FROM tot LEFT JOIN st ON tot.user_id = st.user_id
ORDER BY tot.user_id
"""


def d_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct token
    3-grams never seen in any EARLIER doc (doc_id order) — the
    curriculum/dedup monitoring curve ("is the crawl still adding new
    content?"). One gram-keyed first-seen aggregate (min doc_id per
    gram, map-side combinable) joined back to per-doc gram sets; the
    ratio is an exact-operand IEEE division of counts."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.text import (
        token_ngrams,
        tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    # the n-gram expression tree is CPU-heavy per doc and the docs
    # table is one small parquet file (one input partition at
    # maxPartitionBytes) — spread the compute BEFORE the projection
    # (measured 13.6 s -> 1.3 s at sf0.1 on local[32])
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    g = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(token_ngrams(tokens("text"), 3))
        ).alias("gram"),
    ).localCheckpoint()
    first = g.groupBy("gram").agg(F.min("doc_id").alias("_first"))
    j = g.join(first, "gram")
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("_first") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            (
                F.col("n_novel").cast("double")
                / F.col("n_grams").cast("double")
            ).alias("novelty"),
        )
    )


_D_NOVELTY_SQL = rf"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS ts FROM documents),
g AS (SELECT doc_id, unnest(list_distinct({_SQL_TRIGRAMS})) AS gram FROM t),
f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram),
j AS (SELECT g.doc_id,
             CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END AS novel
      FROM g JOIN f USING (gram))
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(novel) AS BIGINT) AS n_novel,
       CAST(sum(novel) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
FROM j GROUP BY doc_id ORDER BY doc_id
"""


def d_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope of
    log-frequency on log-rank (healthy natural text sits near −1;
    template/boilerplate corpora flatten). The frequency table is
    vocabulary-sized, ranked by (count desc, token) for a total order
    via the lazy distributed row_number (operators/rank.py) — a
    100 TB corpus has a ~10⁸-type vocabulary, too big for a one-task
    sort; both logs round to the 1e-6 quantum (transcendental-output
    rule) and the regression moments are decimal-exact sums — one-row
    output."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.rank import (
        distributed_row_number,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.text import (
        tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    ranked = distributed_row_number(
        freq, [F.col("f").desc(), F.col("tok").asc()], rank_col="r"
    )
    lx = F.round(F.log(F.col("r").cast("double")), 6)
    ly = F.round(F.log(F.col("f").cast("double")), 6)
    m = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(lx.cast("decimal(38,6)")).alias("sx"),
        F.sum(ly.cast("decimal(38,6)")).alias("sy"),
        F.sum((lx * ly).cast("decimal(38,6)")).alias("sxy"),
        F.sum((lx * lx).cast("decimal(38,6)")).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (
        F.col(c).cast("double") for c in ("n_types", "sx", "sy", "sxy", "sxx")
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        F.col("n_types"),
        slope.alias("zipf_slope"),
        ((sy - slope * sx) / n).alias("intercept"),
    )


_D_ZIPF_SQL = rf"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS ts FROM documents),
freq AS (
  SELECT tk AS tok, CAST(count(*) AS BIGINT) AS f
  FROM (SELECT unnest(ts) AS tk FROM t) GROUP BY tk),
ranked AS (
  SELECT tok, f,
         row_number() OVER (ORDER BY f DESC, tok) AS r
  FROM freq),
l AS (
  SELECT round(ln(CAST(r AS DOUBLE)), 6) AS lx,
         round(ln(CAST(f AS DOUBLE)), 6) AS ly
  FROM ranked),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(CAST(lx AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(ly AS DECIMAL(38,6))) AS DOUBLE) AS sy,
         CAST(sum(CAST(lx * ly AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(lx * lx AS DECIMAL(38,6))) AS DOUBLE) AS sxx
  FROM l)
SELECT n_types,
       (CAST(n_types AS DOUBLE) * sxy - sx * sy)
         / (CAST(n_types AS DOUBLE) * sxx - sx * sx) AS zipf_slope,
       (sy - ((CAST(n_types AS DOUBLE) * sxy - sx * sy)
              / (CAST(n_types AS DOUBLE) * sxx - sx * sx)) * sx)
         / CAST(n_types AS DOUBLE) AS intercept
FROM m
"""


def d_lang_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the corpus's DECLARED language tags against
    the heuristic language-ID guess — the metadata-trust audit a
    curation pipeline runs before filtering by either signal. One
    doc-keyed join + one bounded (declared × guessed) rollup; shares
    the language_guess operator with d_language_guess."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.text import (
        language_guess,
    )

    docs = _t(spark, sf_dir, "documents")
    g = language_guess(docs).select("doc_id", "lang_guess")
    j = docs.select("doc_id", F.col("lang").alias("declared")).join(
        g, "doc_id"
    )
    agg = j.groupBy("declared", "lang_guess").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    tot = agg.groupBy("declared").agg(
        F.sum("n_docs").cast("long").alias("_t")
    )
    return (
        agg.join(tot, "declared")
        .select(
            "declared",
            "lang_guess",
            "n_docs",
            (
                F.col("n_docs").cast("double") / F.col("_t").cast("double")
            ).alias("frac_of_declared"),
        )
    )


def _lang_agreement_sql() -> str:
    inner = _lang_sql().replace("ORDER BY doc_id", "")
    return f"""
WITH g AS (SELECT doc_id, lang_guess FROM ({inner})),
j AS (
  SELECT d.lang AS declared, g.lang_guess
  FROM documents d JOIN g ON d.doc_id = g.doc_id),
agg AS (
  SELECT declared, lang_guess, CAST(count(*) AS BIGINT) AS n_docs
  FROM j GROUP BY declared, lang_guess),
tot AS (
  SELECT declared, CAST(sum(n_docs) AS BIGINT) AS t
  FROM agg GROUP BY declared)
SELECT agg.declared, lang_guess, n_docs,
       CAST(n_docs AS DOUBLE) / CAST(t AS DOUBLE) AS frac_of_declared
FROM agg JOIN tot ON agg.declared = tot.declared
ORDER BY agg.declared, lang_guess
"""


def e_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap statistics (max / exact-mean gap in
    seconds, event count) — the inactivity/liveness audit behind
    sessionization thresholds. Gaps are exact integer micro-second
    diffs of consecutive timestamps on one per-user exchange+sort;
    the mean is one IEEE division of exact sums."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    g = ev.withColumn("_gap", gap).filter(F.col("_gap").isNotNull())
    return (
        g.groupBy("user_id")
        .agg(
            (F.count(F.lit(1)) + F.lit(1)).cast("long").alias("n_events"),
            (F.max("_gap").cast("double") / F.lit(1e6)).alias(
                "max_gap_sec"
            ),
            (
                F.sum("_gap").cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(1e6)
            ).alias("mean_gap_sec"),
        )
    )


_E_EVENT_GAPS_SQL = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events QUALIFY gap IS NOT NULL)
SELECT user_id,
       CAST(count(*) + 1 AS BIGINT) AS n_events,
       CAST(max(gap) AS DOUBLE) / 1e6 AS max_gap_sec,
       CAST(sum(gap) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6
         AS mean_gap_sec
FROM g GROUP BY user_id ORDER BY user_id
"""


def x_drawdown_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 drawdown EPISODES per user (depth, length, span) — richer
    than the single max_drawdown scalar: every underwater run is an
    island (row number minus per-flag row number), the running peak is
    CONSTANT within an episode (no new high while underwater), so
    depth is an exact integer min over the island. Ranked by depth
    with date tie-break."""
    daily = _daily_ohlcv(spark, sf_dir).select(
        "user_id", "trade_date", "close"
    )
    w = Window.partitionBy("user_id").orderBy("trade_date")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    cu = F.floor(F.col("close") * F.lit(1e6) + F.lit(0.5)).cast("long")
    base = (
        daily.withColumn("_cu", cu)
        .withColumn("_peak", F.max(cu).over(run))
        .withColumn("_uw", (F.col("_cu") < F.col("_peak")).cast("int"))
        .withColumn("_rn", F.row_number().over(w))
    )
    wu = Window.partitionBy("user_id", "_uw").orderBy("trade_date")
    base = base.withColumn("_rnu", F.row_number().over(wu))
    episodes = (
        base.filter(F.col("_uw") == 1)
        .groupBy("user_id", (F.col("_rn") - F.col("_rnu")).alias("_i"))
        .agg(
            F.min("trade_date").alias("start_date"),
            F.max("trade_date").alias("end_date"),
            F.count(F.lit(1)).cast("long").alias("length_days"),
            F.min("_cu").alias("_trough"),
            F.max("_peak").alias("_pk"),
        )
    )
    depth = (
        F.lit(100.0)
        * (F.col("_trough") - F.col("_pk")).cast("double")
        / F.col("_pk").cast("double")
    )
    wr = Window.partitionBy("user_id").orderBy(
        F.col("depth_pct").asc(), F.col("start_date").asc()
    )
    return (
        episodes.withColumn("depth_pct", depth)
        .withColumn("episode_rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("episode_rank") <= 3)
        .select(
            "user_id",
            "episode_rank",
            "start_date",
            "end_date",
            "length_days",
            "depth_pct",
        )
    )


_X_DD_EPISODES_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
b AS (
  SELECT user_id, trade_date,
         CAST(floor(close * 1e6 + 0.5) AS BIGINT) AS cu,
         max(CAST(floor(close * 1e6 + 0.5) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY trade_date
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM daily),
u AS (
  SELECT user_id, trade_date, cu, peak, rn,
         CASE WHEN cu < peak THEN 1 ELSE 0 END AS uw
  FROM b),
i AS (
  SELECT user_id, trade_date, cu, peak, rn, uw,
         row_number() OVER (PARTITION BY user_id, uw
                            ORDER BY trade_date) AS rnu
  FROM u),
ep AS (
  SELECT user_id, rn - rnu AS island,
         min(trade_date) AS start_date, max(trade_date) AS end_date,
         CAST(count(*) AS BIGINT) AS length_days,
         min(cu) AS trough, max(peak) AS pk
  FROM i WHERE uw = 1 GROUP BY user_id, rn - rnu),
d AS (
  SELECT user_id, start_date, end_date, length_days,
         100.0 * CAST(trough - pk AS DOUBLE) / CAST(pk AS DOUBLE)
           AS depth_pct
  FROM ep),
r AS (
  SELECT user_id, start_date, end_date, length_days, depth_pct,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY depth_pct, start_date)
           AS episode_rank
  FROM d)
SELECT user_id, CAST(episode_rank AS BIGINT) AS episode_rank,
       start_date, end_date, length_days, depth_pct
FROM r WHERE episode_rank <= 3
ORDER BY user_id, episode_rank
"""


def x_info_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information ratio per user vs the equal-weight market factor:
    mean active return over tracking error — beta_vs_market's
    excess-return companion. The market factor is the same per-day
    broadcast aggregate; active returns are exact integer micro-unit
    differences, the IR one fixed-order IEEE combination of BIGINT /
    decimal(38,0) moments."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        daily_returns,
    )

    ev = _t(spark, sf_dir, "events")
    rets = daily_returns(ev, ["user_id"], "ts", "event_id", "value")
    rets = rets.filter(F.abs(F.col("ret")) <= F.lit(10.0))
    q = F.floor(F.col("ret") * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    src = rets.withColumn("_ru", q).localCheckpoint()
    market = src.groupBy("trade_date").agg(
        F.floor(
            F.sum("_ru").cast("double") / F.count(F.lit(1)).cast("double")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("_mu")
    )
    j = src.join(F.broadcast(market), "trade_date")
    a = F.col("_ru") - F.col("_mu")  # active return, exact BIGINT
    agg = j.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(a).alias("sa"),
        F.sum((a * a).cast("decimal(38,0)")).alias("saa"),
    )
    n, sa, saa = (
        F.col(c).cast("double") for c in ("n_days", "sa", "saa")
    )
    var_n = (saa - sa * sa / n) / (n - F.lit(1.0))
    ir = F.when(var_n > 0, (sa / n) / F.sqrt(var_n))
    return (
        agg.filter(F.col("n_days") >= 10)
        .select(
            "user_id",
            "n_days",
            (sa / n / F.lit(1e6)).alias("mean_active_ret"),
            F.when(var_n > 0, F.sqrt(var_n) / F.lit(1e6)).alias(
                "tracking_error"
            ),
            ir.alias("info_ratio"),
        )
    )


_X_INFO_RATIO_SQL = f"""
WITH src AS (
  SELECT user_id, event_id, ts, value FROM events WHERE value > 0),
daily AS (
  SELECT user_id, CAST(ts AS DATE) AS trade_date,
         arg_max(value, {_SQL_TS_EVENT_KEY}) AS close
  FROM src GROUP BY user_id, CAST(ts AS DATE)),
rets AS (
  SELECT user_id, trade_date,
         close / lag(close) OVER (PARTITION BY user_id ORDER BY trade_date)
           - 1.0 AS ret
  FROM daily QUALIFY ret IS NOT NULL),
q AS (
  SELECT user_id, trade_date,
         CAST(floor(ret * 1000000.0 + 0.5) AS BIGINT) AS ru
  FROM rets WHERE abs(ret) <= 10.0),
mkt AS (
  SELECT trade_date,
         CAST(floor(CAST(sum(ru) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                    + 0.5) AS BIGINT) AS mu
  FROM q GROUP BY trade_date),
a AS (
  SELECT q.user_id, q.ru - mkt.mu AS act
  FROM q JOIN mkt ON q.trade_date = mkt.trade_date),
m AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(act) AS DOUBLE) AS sa,
         CAST(sum(CAST(act * act AS DECIMAL(38,0))) AS DOUBLE) AS saa,
         CAST(count(*) AS DOUBLE) AS n
  FROM a GROUP BY user_id)
SELECT user_id, n_days,
       sa / n / 1e6 AS mean_active_ret,
       CASE WHEN (saa - sa * sa / n) / (n - 1.0) > 0
            THEN sqrt((saa - sa * sa / n) / (n - 1.0)) / 1e6
       END AS tracking_error,
       CASE WHEN (saa - sa * sa / n) / (n - 1.0) > 0
            THEN (sa / n) / sqrt((saa - sa * sa / n) / (n - 1.0))
       END AS info_ratio
FROM m WHERE n_days >= 10
ORDER BY user_id
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q01_pricing_summary(spark, "/root/testdata/sf0.001")




def x_cmf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chaikin Money Flow (20) over per-user daily OHLCV bars: n-bar
    accumulation/distribution-weighted volume over total volume — the
    bounded-window oscillator twin of x_chaikin_ad's cumulative line.
    Money-flow multiplier quantized, products exact BIGINT, final two
    divisions fixed-order IEEE (operators/finance.chaikin_money_flow)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        chaikin_money_flow,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    return chaikin_money_flow(daily, ["user_id"], "trade_date", n=20)


_X_CMF_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
m AS (
  SELECT user_id, trade_date, close, volume,
         CASE WHEN high > low
              THEN {sql_u6("(close - low - (high - close)) / (high - low)")}
              ELSE 0 END AS q
  FROM daily),
s AS (
  SELECT user_id, trade_date, close,
         sum(q * volume) OVER f AS smfv,
         sum(volume) OVER f AS svol
  FROM m
  WINDOW f AS (PARTITION BY user_id ORDER BY trade_date
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
SELECT user_id, trade_date, close,
       CASE WHEN svol > 0
            THEN CAST(smfv AS DOUBLE) / CAST(svol AS DOUBLE) / 1e6
       END AS cmf
FROM s ORDER BY user_id, trade_date
"""


def x_awesome(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Awesome Oscillator: SMA(median price, 5) − SMA(median price, 34)
    per user — bar-midpoint momentum. Median prices quantized so both
    SMAs are exact BIGINT frame sums; NULL until the slow window fills
    (operators/finance.awesome_oscillator)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        awesome_oscillator,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    return awesome_oscillator(daily, ["user_id"], "trade_date")


_X_AWESOME_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
m AS (
  SELECT user_id, trade_date, close,
         {sql_u6("(high + low) / 2.0")} AS mp
  FROM daily),
s AS (
  SELECT user_id, trade_date, close,
         sum(mp) OVER ff AS sf, count(*) OVER ff AS cf,
         sum(mp) OVER fs AS ss, count(*) OVER fs AS cs
  FROM m
  WINDOW ff AS (PARTITION BY user_id ORDER BY trade_date
                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         fs AS (PARTITION BY user_id ORDER BY trade_date
                ROWS BETWEEN 33 PRECEDING AND CURRENT ROW))
SELECT user_id, trade_date, close,
       CASE WHEN cs >= 34 THEN
         (CAST(sf AS DOUBLE) / CAST(cf AS DOUBLE)
          - CAST(ss AS DOUBLE) / CAST(cs AS DOUBLE)) / 1e6
       END AS ao
FROM s ORDER BY user_id, trade_date
"""


def x_dpo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detrended Price Oscillator (20): close from 11 bars ago minus the
    current 20-bar SMA — trend-removed cycle view. One lag + one frame
    sum on one exchange, exact BIGINT micro-units
    (operators/finance.detrended_price_osc)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        detrended_price_osc,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    return detrended_price_osc(daily, ["user_id"], "trade_date", n=20)


_X_DPO_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
m AS (
  SELECT user_id, trade_date, close, {sql_u6("close")} AS cu
  FROM daily),
s AS (
  SELECT user_id, trade_date, close,
         lag(cu, 11) OVER w AS lagc,
         sum(cu) OVER f AS su, count(*) OVER f AS cnt
  FROM m
  WINDOW w AS (PARTITION BY user_id ORDER BY trade_date),
         f AS (PARTITION BY user_id ORDER BY trade_date
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
SELECT user_id, trade_date, close,
       CASE WHEN lagc IS NOT NULL AND cnt >= 20 THEN
         (CAST(lagc AS DOUBLE) - CAST(su AS DOUBLE) / CAST(cnt AS DOUBLE))
           / 1e6
       END AS dpo
FROM s ORDER BY user_id, trade_date
"""


def x_vwma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted moving average (20) per user: Σ(close·vol)/Σ(vol)
    over the sliding window — anchored VWAP's bounded-window sibling.
    price×volume products exact BIGINT (operators/finance.vwma)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        vwma,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    return vwma(daily, ["user_id"], "trade_date", n=20)


_X_VWMA_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
m AS (
  SELECT user_id, trade_date, close, volume,
         {sql_u6("close")} * volume AS pq
  FROM daily),
s AS (
  SELECT user_id, trade_date, close,
         sum(pq) OVER f AS spq, sum(volume) OVER f AS sv
  FROM m
  WINDOW f AS (PARTITION BY user_id ORDER BY trade_date
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
SELECT user_id, trade_date, close,
       CASE WHEN sv > 0
            THEN CAST(spq AS DOUBLE) / CAST(sv AS DOUBLE) / 1e6
       END AS vwma
FROM s ORDER BY user_id, trade_date
"""


def x_calmar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calmar ratio per user: annualized mean daily return over worst
    peak-to-trough drawdown magnitude — sharpe/sortino's "worst pain"
    companion. One daily reduction + one window pass computing returns
    (exact BIGINT sums) and running-max drawdown (order-free MIN of
    exact-operand quotients) together
    (operators/finance.calmar_ratio)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        calmar_ratio,
    )

    ev = _t(spark, sf_dir, "events")
    return calmar_ratio(ev, ["user_id"], "ts", "event_id", "value")


_X_CALMAR_SQL = f"""
WITH src AS (
  SELECT user_id, event_id, ts, value FROM events WHERE value > 0),
daily AS (
  SELECT user_id, CAST(ts AS DATE) AS trade_date,
         arg_max(value, {_SQL_TS_EVENT_KEY}) AS close
  FROM src GROUP BY user_id, CAST(ts AS DATE)),
b AS (
  SELECT user_id, trade_date, close,
         {sql_u6("close")} AS cu,
         close / lag(close) OVER w - 1.0 AS ret
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)),
c AS (
  SELECT user_id,
         CAST(cu AS DOUBLE) / CAST(max(cu) OVER r AS DOUBLE) - 1.0 AS dd,
         CASE WHEN ret IS NOT NULL AND abs(ret) <= 10.0
              THEN {sql_u6("ret")} END AS q
  FROM b
  WINDOW r AS (PARTITION BY user_id ORDER BY trade_date
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
a AS (
  SELECT user_id, CAST(count(q) AS BIGINT) AS n_days,
         sum(q) AS sq, min(dd) AS mdd
  FROM c GROUP BY user_id)
SELECT user_id, n_days,
       CAST(sq AS DOUBLE) / CAST(n_days AS DOUBLE) / 1e6 * 252.0 AS ann_ret,
       mdd,
       CASE WHEN n_days >= 30 AND mdd < 0 THEN
         (CAST(sq AS DOUBLE) / CAST(n_days AS DOUBLE) / 1e6 * 252.0)
           / (-mdd)
       END AS calmar
FROM a ORDER BY user_id
"""


def d_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality screen per document: word-count
    bounds, mean word length, alphabetic-word fraction, #-per-word,
    bullet/ellipsis line fractions, and the combined pass verdict —
    the hard-threshold filter ahead of model-based quality scoring.
    One projection pass, no shuffle; every metric a quotient of exact
    integer counts (operators/text.gopher_rules)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.text import (
        gopher_rules,
    )

    docs = _t(spark, sf_dir, "documents")
    return gopher_rules(docs)


_D_GOPHER_SQL = f"""
WITH t AS (
  SELECT doc_id,
         {_SQL_TOKS} AS toks,
         list_filter(string_split(text, chr(10)),
                     x -> length(trim(x)) > 0) AS ls,
         CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
           AS nhash
  FROM documents),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         CASE WHEN len(toks) > 0 THEN
           CAST(list_sum(list_transform(toks,
                  w -> CAST(length(w) AS BIGINT))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) END AS mean_word_len,
         CASE WHEN len(toks) > 0 THEN
           CAST(len(list_filter(toks,
                  w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) END AS alpha_frac,
         CASE WHEN len(toks) > 0 THEN
           CAST(nhash AS DOUBLE) / CAST(len(toks) AS DOUBLE)
         END AS hash_ratio,
         CASE WHEN len(ls) > 0 THEN
           CAST(len(list_filter(ls,
                  x -> left(ltrim(x), 1) IN ('-', '*'))) AS DOUBLE)
             / CAST(len(ls) AS DOUBLE) END AS bullet_frac,
         CASE WHEN len(ls) > 0 THEN
           CAST(len(list_filter(ls, x -> rtrim(x) LIKE '%...')) AS DOUBLE)
             / CAST(len(ls) AS DOUBLE) END AS ellipsis_frac
  FROM t)
SELECT doc_id, n_words, mean_word_len, alpha_frac, hash_ratio,
       bullet_frac, ellipsis_frac,
       (n_words >= 50 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND alpha_frac >= 0.8 AND hash_ratio <= 0.1
        AND coalesce(bullet_frac <= 0.9, TRUE)
        AND coalesce(ellipsis_frac <= 0.3, TRUE)) AS pass_gopher
FROM m ORDER BY doc_id
"""


def e_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product stickiness per month: average DAU over MAU — the classic
    engagement ratio. Two distinct-count aggregates (day and month
    grain) joined on month; ratios are fixed-order IEEE over exact
    counts."""
    ev = _t(spark, sf_dir, "events")
    month = F.trunc(F.to_date("ts"), "MM").alias("month")
    day = F.to_date("ts").alias("day")
    dau = ev.groupBy(month, day).agg(
        F.countDistinct("user_id").alias("dau")
    )
    mau = ev.groupBy(month).agg(F.countDistinct("user_id").alias("mau"))
    a = dau.groupBy("month").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("dau").alias("total_dau"),
    )
    stick = (
        F.col("total_dau").cast("double")
        / F.col("n_days").cast("double")
        / F.col("mau").cast("double")
    )
    return (
        a.join(mau, "month")
        .select("month", "n_days", "total_dau", "mau",
                stick.alias("stickiness"))
    )


_E_STICKINESS_SQL = """
WITH d AS (
  SELECT date_trunc('month', CAST(ts AS DATE)) AS month,
         CAST(ts AS DATE) AS day,
         count(DISTINCT user_id) AS dau
  FROM events GROUP BY 1, 2),
m AS (
  SELECT date_trunc('month', CAST(ts AS DATE)) AS month,
         count(DISTINCT user_id) AS mau
  FROM events GROUP BY 1),
a AS (
  SELECT month, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(dau) AS BIGINT) AS total_dau
  FROM d GROUP BY month)
SELECT a.month, n_days, total_dau, CAST(mau AS BIGINT) AS mau,
       CAST(total_dau AS DOUBLE) / CAST(n_days AS DOUBLE)
         / CAST(mau AS DOUBLE) AS stickiness
FROM a JOIN m USING (month) ORDER BY month
"""


def emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier scan: truncated Mahalanobis score in the PCA
    eigenbasis (Σ projⱼ²/λⱼ over the top-8 components — whitened
    distance from the corpus mean), top-20 by score. Same bit-replayable
    fit as emb_pca, so the oracle pins (mu, comps, λ) literals and
    replays scoring + ranking in SQL
    (operators/similarity.pca_outlier_scores)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.similarity import (
        pca_outlier_scores,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return pca_outlier_scores(emb, k=8, top=20)


def _emb_outliers_sql(k: int = 8, top: int = 20) -> str:
    """DuckDB twin of emb_outliers: literals from the same exact local
    fit as _emb_pca_sql; raw-double projections (leading 0.0 fold
    seed), score = 0.0 + Σ (pⱼ·pⱼ)/λⱼ left-to-right, rank on the RAW
    score with vec_id tie-break, quantize only for display."""
    import os

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.similarity import (
        pca_fit_local,
        usable_eigenpairs,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    mu, comps, evals, _explained = pca_fit_local(
        f"{sf_dir}/embeddings.parquet", k=k
    )
    # identical rank-deficiency filter to pca_outlier_scores — both
    # engines must score with the same truncated eigenbasis
    comps, evals = usable_eigenpairs(comps, evals)
    projs = []
    for i, comp in enumerate(comps):
        terms = " + ".join(
            f"(CAST(embedding[{d + 1}] AS DOUBLE) - {mu[d]!r}) * {comp[d]!r}"
            for d in range(len(mu))
        )
        projs.append(f"0.0 + {terms} AS p{i}")
    proj_sql = ",\n       ".join(projs)
    score = "0.0 + " + " + ".join(
        f"(p{i} * p{i}) / {float(lam)!r}" for i, lam in enumerate(evals)
    )
    return f"""
WITH p AS (
  SELECT vec_id,
       {proj_sql}
  FROM embeddings),
s AS (SELECT vec_id, {score} AS sc FROM p)
SELECT CAST(row_number() OVER (ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
       vec_id, floor(sc * 1e6 + 0.5) / 1e6 AS score
FROM s ORDER BY sc DESC, vec_id LIMIT {top}
"""


def e_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: the share of total event value contributed
    by the top-10% of users (ceil(n/10) by exact integer rank, ties
    broken by user_id). User totals are exact decimal sums; the split
    is hist_var's integer rank rule; the share is one fixed-order IEEE
    division of exact operands. The per-user reduction shrinks events
    to |users| rows before any sort, and the rank itself is the
    lazy distributed row_number (operators/rank.py) — no
    single-task global sort at any cardinality."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.rank import (
        distributed_row_number,
    )

    ev = _t(spark, sf_dir, "events")
    totals = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(38,6)")).alias("_tv")
    )
    ranked = distributed_row_number(
        totals,
        [F.col("_tv").desc(), F.col("user_id").asc()],
        rank_col="_rk",
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("_tv").alias("_tot"),
    )
    k = F.ceil(F.col("n_users") / F.lit(10)).cast("long")
    top = (
        ranked.join(F.broadcast(agg.select(k.alias("_k"))),
                    F.col("_rk") <= F.col("_k"))
        .agg(F.sum("_tv").alias("_top"))
    )
    out = agg.crossJoin(top)
    return out.select(
        "n_users",
        F.ceil(F.col("n_users") / F.lit(10)).cast("long").alias("k_top"),
        F.col("_top").cast("double").alias("top_value"),
        F.col("_tot").cast("double").alias("total_value"),
        (F.col("_top").cast("double") / F.col("_tot").cast("double")).alias(
            "pareto_share"
        ),
    )


_E_PARETO_SQL = """
WITH totals AS (
  SELECT user_id, sum(CAST(value AS DECIMAL(38,6))) AS tv
  FROM events GROUP BY user_id),
ranked AS (
  SELECT user_id, tv,
         row_number() OVER (ORDER BY tv DESC, user_id) AS rk
  FROM totals),
a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users, sum(tv) AS tot
  FROM ranked),
t AS (
  SELECT sum(tv) AS top FROM ranked, a
  WHERE rk <= CAST(ceil(n_users / 10.0) AS BIGINT))
SELECT n_users,
       CAST(ceil(n_users / 10.0) AS BIGINT) AS k_top,
       CAST(top AS DOUBLE) AS top_value,
       CAST(tot AS DOUBLE) AS total_value,
       CAST(top AS DOUBLE) / CAST(tot AS DOUBLE) AS pareto_share
FROM a, t
"""


def e_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user total event value — the standard
    inequality measure, via the rank formula on the ASCENDING sort:
    G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n. Totals are exact decimal sums
    quantized to micro-unit BIGINT; each i·xᵢ PRODUCT is decimal —
    decimal(28,0) micro-total × decimal(10,0) rank, widths chosen so
    DuckDB's w1+w2 ≤ 38 multiply rule holds and neither engine ever
    multiplies in BIGINT (Spark would silently wrap past 2^63 where
    DuckDB errors — the cross-engine divergence class); the final
    combination is fixed-order IEEE over exact operands. The rank is
    the lazy distributed row_number (operators/rank.py): range-sorted
    rows numbered by Spark's distributed sequence id — no single-task
    global sort anywhere, even over |users| key rows."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.rank import (
        distributed_row_number,
    )

    ev = _t(spark, sf_dir, "events")
    totals = ev.groupBy("user_id").agg(
        F.floor(
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
            * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("_q")
    )
    ranked = distributed_row_number(
        totals, [F.col("_q").asc(), F.col("user_id").asc()], rank_col="_i"
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("_q").alias("_sx"),
        F.sum(
            F.col("_q").cast("decimal(28,0)")
            * F.col("_i").cast("decimal(10,0)")
        ).alias("_six"),
    )
    nd = F.col("n_users").cast("double")
    gini = (
        F.lit(2.0)
        * F.col("_six").cast("double")
        / (nd * F.col("_sx").cast("double"))
        - (nd + F.lit(1.0)) / nd
    )
    return agg.select(
        "n_users",
        (F.col("_sx").cast("double") / F.lit(1e6)).alias("total_value"),
        gini.alias("gini"),
    )


_E_GINI_SQL = """
WITH totals AS (
  SELECT user_id,
         CAST(floor(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                    * 1e6 + 0.5) AS BIGINT) AS q
  FROM events GROUP BY user_id),
ranked AS (
  SELECT user_id, q,
         CAST(row_number() OVER (ORDER BY q ASC, user_id) AS BIGINT) AS i
  FROM totals),
a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         sum(q) AS sx,
         sum(CAST(q AS DECIMAL(28,0)) * CAST(i AS DECIMAL(10,0))) AS six
  FROM ranked)
SELECT n_users,
       CAST(sx AS DOUBLE) / 1e6 AS total_value,
       2.0 * CAST(six AS DOUBLE)
         / (CAST(n_users AS DOUBLE) * CAST(sx AS DOUBLE))
         - (CAST(n_users AS DOUBLE) + 1.0) / CAST(n_users AS DOUBLE)
         AS gini
FROM a
"""


def x_chop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Choppiness Index (14) over per-user daily bars: 100·log10(path
    length / net range) / log10(14) — chop-vs-trend regime gauge. One
    exchange+sort; exact decimal TR sum; log10 is the one
    transcendental so the output is 1e-6-quantized and the Python
    log10(14) constant is pinned into BOTH engines
    (operators/finance.choppiness_index)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        choppiness_index,
    )

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("trade_date")
    ).agg(
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", F.struct(F.col("ts"), F.col("event_id"))).alias(
            "close"
        ),
    )
    out = choppiness_index(daily, ["user_id"], "trade_date", n=14)
    return out.select(
        "user_id", "trade_date", "close", "chop"
    )


_X_CHOP_SQL = f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS trade_date,
         max(value) AS high, min(value) AS low,
         arg_max(value, {_SQL_TS_EVENT_KEY}) AS close
  FROM events GROUP BY user_id, CAST(ts AS DATE)),
tr AS (
  SELECT user_id, trade_date, high, low, close,
         CASE WHEN lag(close) OVER w IS NULL THEN high - low
              ELSE greatest(high - low,
                            abs(high - lag(close) OVER w),
                            abs(low - lag(close) OVER w)) END AS tr
  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)),
s AS (
  SELECT user_id, trade_date, close,
         CAST(sum(CAST(tr AS DECIMAL(38,6))) OVER f AS DOUBLE) AS str,
         max(high) OVER f - min(low) OVER f AS rng,
         count(*) OVER f AS cnt
  FROM tr
  WINDOW f AS (PARTITION BY user_id ORDER BY trade_date
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
SELECT user_id, trade_date, close,
       CASE WHEN cnt >= 14 AND rng > 0 AND str > 0 THEN
         floor(100.0 * log10(str / rng) / 1.146128035678238 * 1e6 + 0.5) / 1e6
       END AS chop
FROM s ORDER BY user_id, trade_date
"""


def x_chandelier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chandelier Exit over per-user daily bars: ATR(22)-anchored
    trailing stops below/above the 22-bar extremes. ATR's decimal-
    routed rolling mean + order-free extreme windows on ONE per-user
    exchange; exits are fixed-order IEEE over bit-identical operands
    (operators/finance.chandelier_exit)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        chandelier_exit,
    )

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("trade_date")
    ).agg(
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", F.struct(F.col("ts"), F.col("event_id"))).alias(
            "close"
        ),
    )
    out = chandelier_exit(daily, ["user_id"], "trade_date", n=22)
    return out.select(
        "user_id", "trade_date", "high", "low", "close",
        q6("tr", "tr"), "atr", "long_exit", "short_exit",
    )


_X_CHANDELIER_SQL = f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS trade_date,
         max(value) AS high, min(value) AS low,
         arg_max(value, {_SQL_TS_EVENT_KEY}) AS close
  FROM events GROUP BY user_id, CAST(ts AS DATE)),
tr AS (
  SELECT user_id, trade_date, high, low, close,
         CASE WHEN lag(close) OVER w IS NULL THEN high - low
              ELSE greatest(high - low,
                            abs(high - lag(close) OVER w),
                            abs(low - lag(close) OVER w)) END AS tr
  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)),
s AS (
  SELECT user_id, trade_date, high, low, close,
         floor(tr * 1e6 + 0.5) / 1e6 AS trq,
         floor(CAST(sum(CAST(tr AS DECIMAL(38,6))) OVER f AS DOUBLE)
               / count(*) OVER f * 1e6 + 0.5) / 1e6 AS atr,
         max(high) OVER f AS hh, min(low) OVER f AS ll
  FROM tr
  WINDOW f AS (PARTITION BY user_id ORDER BY trade_date
               ROWS BETWEEN 21 PRECEDING AND CURRENT ROW))
SELECT user_id, trade_date, high, low, close, trq AS tr, atr,
       hh - 3.0 * atr AS long_exit,
       ll + 3.0 * atr AS short_exit
FROM s ORDER BY user_id, trade_date
"""


def x_renko(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Renko brick ledger over per-user daily bars — the EIGHTH
    recurrence family, the first with PURE-INTEGER state (band lo/hi in
    micro-units, brick size = 50 bp of the first close): the recursive
    oracle replays it with integer arithmetic alone. Per-bar signed
    brick counts, not exploded bricks, so rows stay 1:1
    (operators/finance.renko_bricks)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        renko_bricks,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    return renko_bricks(daily, ["user_id"], "trade_date")


_X_RENKO_SQL = f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_OHLCV}),
src AS (
  SELECT user_id, trade_date, close,
         {sql_u6("close")} AS cu,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM daily WHERE close > 0),
rk AS (
  SELECT user_id, trade_date, close, cu, rn,
         greatest(1, cu * 50 // 10000) AS b,
         CAST(0 AS BIGINT) AS n_bricks,
         CAST(0 AS BIGINT) AS dir,
         cu // greatest(1, cu * 50 // 10000)
           * greatest(1, cu * 50 // 10000) AS lo,
         cu // greatest(1, cu * 50 // 10000)
           * greatest(1, cu * 50 // 10000)
           + greatest(1, cu * 50 // 10000) AS hi
  FROM src WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.trade_date, s.close, s.cu, s.rn, e.b,
         CASE WHEN s.cu >= e.hi + e.b THEN (s.cu - e.hi) // e.b
              WHEN s.cu <= e.lo - e.b THEN -((e.lo - s.cu) // e.b)
              ELSE 0 END,
         CASE WHEN s.cu >= e.hi + e.b THEN 1
              WHEN s.cu <= e.lo - e.b THEN -1
              ELSE e.dir END,
         CASE WHEN s.cu >= e.hi + e.b
                THEN e.hi + (s.cu - e.hi) // e.b * e.b - e.b
              WHEN s.cu <= e.lo - e.b
                THEN e.lo - (e.lo - s.cu) // e.b * e.b
              ELSE e.lo END,
         CASE WHEN s.cu >= e.hi + e.b
                THEN e.hi + (s.cu - e.hi) // e.b * e.b
              WHEN s.cu <= e.lo - e.b
                THEN e.lo - (e.lo - s.cu) // e.b * e.b + e.b
              ELSE e.hi END
  FROM src s JOIN rk e ON s.user_id = e.user_id AND s.rn = e.rn + 1)
SELECT user_id, trade_date, close, n_bricks, dir,
       CAST(lo AS DOUBLE) / 1e6 AS brick_lo,
       CAST(hi AS DOUBLE) / 1e6 AS brick_hi
FROM rk ORDER BY user_id, trade_date
"""


def x_tsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Strength Index over per-user daily closes
    (operators/finance.tsi): DOUBLE-smoothed momentum — the ninth
    recurrence family, and the first NESTED one (the fast EMA pair
    consumes the slow EMA pair's per-bar output). All four states fold
    in one grouped-map pass on int64 micro-units; the oracle
    precomputes the momentum as a lag window column and carries the
    four BIGINT states through one recursive CTE."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        tsi,
    )

    daily = _daily_ohlcv(spark, sf_dir).select(
        "user_id", "trade_date", "close"
    )
    out = tsi(daily, ["user_id"], "trade_date", slow=25, fast=13)
    return out.select("user_id", "trade_date", "close", "mtm", "tsi")


_X_TSI_SQL = f"""
WITH RECURSIVE d AS ({_SQL_DAILY_OHLCV}),
src AS (
  SELECT user_id, trade_date, close,
         CAST(floor(close * 1e6 + 0.5) AS BIGINT) AS q,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM d),
m AS (
  SELECT user_id, trade_date, close, rn,
         q - lag(q) OVER (PARTITION BY user_id ORDER BY trade_date) AS mq
  FROM src),
rec AS (
  SELECT user_id, trade_date, close, rn, mq,
         mq AS em, abs(mq) AS am, mq AS em2, abs(mq) AS am2
  FROM m WHERE rn = 2
  UNION ALL
  SELECT s.user_id, s.trade_date, s.close, s.rn, s.mq,
         r.em + CAST(floor(2.0 * (s.mq - r.em) / 26.0) AS BIGINT),
         r.am + CAST(floor(2.0 * (abs(s.mq) - r.am) / 26.0) AS BIGINT),
         r.em2 + CAST(floor(2.0 * ((r.em
             + CAST(floor(2.0 * (s.mq - r.em) / 26.0) AS BIGINT))
             - r.em2) / 14.0) AS BIGINT),
         r.am2 + CAST(floor(2.0 * ((r.am
             + CAST(floor(2.0 * (abs(s.mq) - r.am) / 26.0) AS BIGINT))
             - r.am2) / 14.0) AS BIGINT)
  FROM m s JOIN rec r ON s.user_id = r.user_id AND s.rn = r.rn + 1)
SELECT user_id, trade_date, close,
       CAST(mq AS DOUBLE) / 1e6 AS mtm,
       100.0 * CAST(em2 AS DOUBLE) / CAST(am2 AS DOUBLE) AS tsi
FROM rec WHERE am2 <> 0
ORDER BY user_id, trade_date
"""


def x_ppo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentage Price Oscillator: MACD normalized by the slow EMA
    (100·(EMA12 − EMA26)/EMA26) — comparable across instruments of
    different price levels where raw MACD is not. Reuses the exact
    integer EMA fold (ema_macd_exact); the ratio is fixed-order IEEE
    over the fold's exact states. Positive-price rows only (the
    daily_returns DQ rule) so the denominator is never zero."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.extension import (
        apply_per_symbol,
        ema_macd_exact,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("value") > 0)
    src = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("timestamp_unix"),
        F.col("value").alias("close"),
    )
    out = apply_per_symbol(
        src,
        ema_macd_exact(fast=12, slow=26),
        "user_id bigint, event_id bigint, timestamp_unix bigint, close double,"
        " ema_fast double, ema_slow double, macd double",
        keys=("user_id",),
        ts_col=("timestamp_unix", "event_id"),
    )
    return out.select(
        "user_id",
        "event_id",
        "timestamp_unix",
        "close",
        "macd",
        (F.lit(100.0) * F.col("macd") / F.col("ema_slow")).alias("ppo"),
    )


_X_PPO_SQL = """
WITH RECURSIVE src AS (
  SELECT user_id, event_id, epoch_us(ts) AS timestamp_unix, value AS close,
         CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events WHERE value > 0),
ema AS (
  SELECT user_id, event_id, timestamp_unix, close, v, rn,
         v AS e12, v AS e26
  FROM src WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.event_id, s.timestamp_unix, s.close, s.v, s.rn,
         e.e12 + CAST(floor(2.0 * (s.v - e.e12) / 13.0) AS BIGINT),
         e.e26 + CAST(floor(2.0 * (s.v - e.e26) / 27.0) AS BIGINT)
  FROM src s JOIN ema e ON s.user_id = e.user_id AND s.rn = e.rn + 1)
SELECT user_id, event_id, timestamp_unix, close,
       CAST(e12 - e26 AS DOUBLE) / 1000000.0 AS macd,
       100.0 * (CAST(e12 - e26 AS DOUBLE) / 1000000.0)
             / (CAST(e26 AS DOUBLE) / 1000000.0) AS ppo
FROM ema
ORDER BY user_id, timestamp_unix, event_id
"""


def x_qstick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QStick(8): the trailing-8-bar mean of (close − open) — candle
    body momentum (persistent positive = buying pressure). Bodies are
    exact BIGINT micro-unit diffs; the trailing mean is an exact
    integer window sum over ONE per-key exchange divided by the window
    count — partial windows included, like the reference's SMA
    semantics."""
    daily = _daily_ohlcv(spark, sf_dir)
    qd = (
        F.floor(F.col("close") * F.lit(1e6) + F.lit(0.5))
        - F.floor(F.col("open") * F.lit(1e6) + F.lit(0.5))
    ).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("trade_date")
        .rowsBetween(-7, Window.currentRow)
    )
    src = daily.withColumn("_qd", qd)
    return (
        src.select(
            "user_id",
            "trade_date",
            "open",
            "close",
            F.count(F.lit(1)).over(w).cast("long").alias("n_obs"),
            (
                F.sum("_qd").over(w).cast("double")
                / F.count(F.lit(1)).over(w).cast("double")
                / F.lit(1e6)
            ).alias("qstick"),
        )
    )


_X_QSTICK_SQL = f"""
WITH d AS ({_SQL_DAILY_OHLCV}),
b AS (
  SELECT user_id, trade_date, open, close,
         CAST(floor(close * 1e6 + 0.5) AS BIGINT)
           - CAST(floor(open * 1e6 + 0.5) AS BIGINT) AS qd
  FROM d)
SELECT user_id, trade_date, open, close,
       CAST(count(*) OVER w AS BIGINT) AS n_obs,
       CAST(sum(qd) OVER w AS DOUBLE) / CAST(count(*) OVER w AS DOUBLE)
         / 1e6 AS qstick
FROM b
WINDOW w AS (PARTITION BY user_id ORDER BY trade_date
             ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
ORDER BY user_id, trade_date
"""


def x_rvi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative Vigor Index (10) with its 4-bar signal line: SMA of the
    4-bar-weighted candle body over the 4-bar-weighted range —
    conviction of the close relative to the bar's travel. The weighted
    numerator/denominator stay exact BIGINT (weights 1-2-2-1 are
    integers; the /6 normalizations cancel in the ratio); rows with a
    zero range sum are dropped in both engines (no defined vigor); the
    signal line is the fixed-order IEEE 1-2-2-1 average of the exact
    ratio doubles."""
    daily = _daily_ohlcv(spark, sf_dir)
    q = lambda c: F.floor(F.col(c) * F.lit(1e6) + F.lit(0.5)).cast("long")
    src = daily.select(
        "user_id",
        "trade_date",
        (q("close") - q("open")).alias("_co"),
        (q("high") - q("low")).alias("_hl"),
    )
    wo = Window.partitionBy("user_id").orderBy("trade_date")
    num6 = (
        F.col("_co")
        + F.lit(2) * F.lag("_co", 1).over(wo)
        + F.lit(2) * F.lag("_co", 2).over(wo)
        + F.lag("_co", 3).over(wo)
    )
    den6 = (
        F.col("_hl")
        + F.lit(2) * F.lag("_hl", 1).over(wo)
        + F.lit(2) * F.lag("_hl", 2).over(wo)
        + F.lag("_hl", 3).over(wo)
    )
    wn = wo.rowsBetween(-9, Window.currentRow)
    with_w = (
        src.withColumn("_n6", num6)
        .withColumn("_d6", den6)
        .filter(F.col("_n6").isNotNull())
        .withColumn("_sn", F.sum("_n6").over(wn))
        .withColumn("_sd", F.sum("_d6").over(wn))
        .filter(F.col("_sd") != 0)
        .withColumn(
            "rvi", F.col("_sn").cast("double") / F.col("_sd").cast("double")
        )
    )
    wr = Window.partitionBy("user_id").orderBy("trade_date")
    signal = (
        F.col("rvi")
        + F.lit(2.0) * F.lag("rvi", 1).over(wr)
        + F.lit(2.0) * F.lag("rvi", 2).over(wr)
        + F.lag("rvi", 3).over(wr)
    ) / F.lit(6.0)
    return with_w.select(
        "user_id", "trade_date", "rvi", signal.alias("signal")
    )


_X_RVI_SQL = f"""
WITH d AS ({_SQL_DAILY_OHLCV}),
b AS (
  SELECT user_id, trade_date,
         CAST(floor(close * 1e6 + 0.5) AS BIGINT)
           - CAST(floor(open * 1e6 + 0.5) AS BIGINT) AS co,
         CAST(floor(high * 1e6 + 0.5) AS BIGINT)
           - CAST(floor(low * 1e6 + 0.5) AS BIGINT) AS hl
  FROM d),
wts AS (
  SELECT user_id, trade_date,
         co + 2 * lag(co, 1) OVER w + 2 * lag(co, 2) OVER w
            + lag(co, 3) OVER w AS n6,
         hl + 2 * lag(hl, 1) OVER w + 2 * lag(hl, 2) OVER w
            + lag(hl, 3) OVER w AS d6
  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)),
sums AS (
  SELECT user_id, trade_date,
         sum(n6) OVER ws AS sn, sum(d6) OVER ws AS sd
  FROM wts WHERE n6 IS NOT NULL
  WINDOW ws AS (PARTITION BY user_id ORDER BY trade_date
                ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)),
r AS (
  SELECT user_id, trade_date,
         CAST(sn AS DOUBLE) / CAST(sd AS DOUBLE) AS rvi
  FROM sums WHERE sd <> 0)
SELECT user_id, trade_date, rvi,
       (rvi + 2.0 * lag(rvi, 1) OVER w + 2.0 * lag(rvi, 2) OVER w
            + lag(rvi, 3) OVER w) / 6.0 AS signal
FROM r WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)
ORDER BY user_id, trade_date
"""


def d_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval rank fusion (operators/corpus.
    reciprocal_rank_fusion): BM25 lexical top-50 for a fixed query and
    embedding-cosine top-50 around a query vector, merged by
    Reciprocal Rank Fusion — the standard no-calibration combiner for
    retrieval-augmented curation. Each contribution quantizes to
    nano-unit BIGINT so the per-doc sum is order-independent and the
    ranking key is an exact integer; the fusion itself touches only
    the two bounded top-k lists, never the corpus."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        bm25_topk,
        reciprocal_rank_fusion,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.similarity import (
        brute_force_knn,
    )

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    bm = bm25_topk(docs, [(1, ["hash", "join", "scan"])], k=50).select(
        "doc_id", "rank"
    )
    ann = brute_force_knn(emb.filter(F.col("vec_id") == 0), emb, k=50).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return reciprocal_rank_fusion([bm, ann], top=20)


def _rrf_fusion_sql(k: int = 50, top: int = 20, const: float = 60.0) -> str:
    """DuckDB twin of d_rrf_fusion: the _bm25_sql CTE chain restricted
    to the single fusion query, the brute-force cosine chain around
    vec 0, and the nano-quantized RRF combine."""
    idf = (
        "floor(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)"
        " / (CAST(df AS DOUBLE) + 0.5)) * 1e6 + 0.5) / 1e6"
    )
    frac = (
        "(CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE)"
        " + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)"
        " / (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))"
    )
    return f"""
WITH q(term) AS (VALUES ('hash'), ('join'), ('scan')),
toks AS (SELECT doc_id, {_SQL_TOKS} AS ts FROM documents),
dt AS (SELECT doc_id, unnest(ts) AS term FROM toks),
tfs AS (SELECT doc_id, term, count(*) AS tf FROM dt GROUP BY ALL),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tfs GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(dl) FROM dl) AS total_len),
dfreq AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
cand AS (
  SELECT t.doc_id, t.tf, dl.dl, f.df, s.n_docs, s.total_len
  FROM tfs t JOIN q USING (term) JOIN dl USING (doc_id)
  JOIN dfreq f USING (term), stats s),
sc AS (
  SELECT doc_id,
         CAST(sum(CAST(floor((({idf}) * ({frac})) * 1e6 + 0.5) / 1e6
                       AS DECIMAL(38,6))) AS DOUBLE) AS score
  FROM cand GROUP BY doc_id),
bmr AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
    FROM sc)
  WHERE rank <= {k}),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings),
n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
annp AS (
  SELECT c.vec_id AS doc_id,
         list_dot_product(q.emb, c.emb) / (q.nrm * c.nrm) AS cos
  FROM n q JOIN n c ON c.vec_id <> q.vec_id
  WHERE q.vec_id = 0),
annr AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS rank
    FROM annp)
  WHERE rank <= {k}),
u AS (
  SELECT doc_id,
         CAST(floor(1e9 / ({const} + CAST(rank AS DOUBLE)) + 0.5)
              AS BIGINT) AS c
  FROM bmr
  UNION ALL
  SELECT doc_id,
         CAST(floor(1e9 / ({const} + CAST(rank AS DOUBLE)) + 0.5)
              AS BIGINT) AS c
  FROM annr),
f AS (SELECT doc_id, sum(c) AS rq, CAST(count(*) AS BIGINT) AS n_sources
      FROM u GROUP BY doc_id)
SELECT CAST(row_number() OVER (ORDER BY rq DESC, doc_id) AS BIGINT) AS rank,
       doc_id, CAST(rq AS DOUBLE) / 1e9 AS rrf_score, n_sources
FROM f ORDER BY rq DESC, doc_id LIMIT {top}
"""


def x_crsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connors RSI (3,2,100) over per-user daily closes — the classic
    three-component mean-reversion composite:

        crsi = (RSI₃(close) + RSI₂(streak) + PctRank₁₀₀(roc)) / 3

    Exactness: every RSI here is ``100·Σgain/(Σgain+Σloss)`` — the
    simple-average RSI's avg/avg cancels, so both terms are exact
    BIGINT micro-unit window sums and the value is ONE IEEE division
    (flat windows define 50). The streak is a signed run length from
    an islands pass (sign-change marker → cumulative group → in-group
    row_number; pure integers). The percent rank compares the current
    1-day return against its trailing-100 list (CCI's list-window
    pattern) — returns are raw-double ratios of identical operands, so
    strict-less comparisons agree bit-for-bit cross-engine without
    quantization. Rows emit once all three components have their full
    warm-up (3 deltas / 2 streak deltas / ≥10 trailing returns)."""
    daily = _daily_ohlcv(spark, sf_dir).select(
        "user_id", "trade_date", "close"
    )
    wo = Window.partitionBy("user_id").orderBy("trade_date")
    qc = F.floor(F.col("close") * F.lit(1e6) + F.lit(0.5)).cast("long")
    src = daily.withColumn("_qc", qc).withColumn(
        "_d", F.col("_qc") - F.lag("_qc").over(wo)
    )
    sign = (
        F.when(F.col("_d") > 0, F.lit(1))
        .when(F.col("_d") < 0, F.lit(-1))
        .when(F.col("_d").isNotNull(), F.lit(0))
    )
    src = src.withColumn("_sg", sign)
    chg = F.when(
        F.col("_sg").isNull()
        | F.lag("_sg").over(wo).isNull()
        | (F.col("_sg") != F.lag("_sg").over(wo)),
        F.lit(1),
    ).otherwise(F.lit(0))
    src = src.withColumn(
        "_grp",
        F.sum(chg).over(wo.rowsBetween(Window.unboundedPreceding, 0)),
    )
    wg = Window.partitionBy("user_id", "_grp").orderBy("trade_date")
    src = src.withColumn(
        "_streak",
        F.when(F.col("_sg") == 0, F.lit(0))
        .when(
            F.col("_sg").isNotNull(),
            F.col("_sg") * F.row_number().over(wg),
        )
        .cast("long"),
    )
    src = src.withColumn(
        "_ds", F.col("_streak") - F.lag("_streak").over(wo)
    ).withColumn(
        # zero-close previous bars carry no defined return (ANSI mode
        # would raise on the division) — NULL in both engines
        "_roc",
        F.when(
            F.lag("close").over(wo) != 0,
            F.col("close") / F.lag("close").over(wo) - F.lit(1.0),
        ),
    )

    def _irsi(dcol: str, nb: int, cnt_col: str):
        w = wo.rowsBetween(-(nb - 1), Window.currentRow)
        sg = F.sum(
            F.when(F.col(dcol) > 0, F.col(dcol)).otherwise(F.lit(0))
        ).over(w)
        sl = F.sum(
            F.when(F.col(dcol) < 0, -F.col(dcol)).otherwise(F.lit(0))
        ).over(w)
        cnt = F.count(dcol).over(w)
        val = (
            F.when(cnt < nb, F.lit(None).cast("double"))
            .when(sg + sl == 0, F.lit(50.0))
            .otherwise(
                F.lit(100.0)
                * sg.cast("double")
                / (sg + sl).cast("double")
            )
        )
        return val

    w100 = wo.rowsBetween(-99, Window.currentRow)
    lst = F.collect_list("_roc").over(w100)
    cnt_r = F.count("_roc").over(w100)
    cur = F.col("_roc")
    cnt_less = F.size(F.filter(lst, lambda x: x < cur))
    pr = F.when(
        (cnt_r >= 10) & cur.isNotNull(),
        F.lit(100.0)
        * cnt_less.cast("double")
        / (cnt_r - F.lit(1)).cast("double"),
    )
    out = (
        src.withColumn("rsi3", _irsi("_d", 3, "_c3"))
        .withColumn("streak_rsi2", _irsi("_ds", 2, "_c2"))
        .withColumn("pct_rank", pr)
        .filter(
            F.col("rsi3").isNotNull()
            & F.col("streak_rsi2").isNotNull()
            & F.col("pct_rank").isNotNull()
        )
    )
    crsi = (
        F.col("rsi3") + F.col("streak_rsi2") + F.col("pct_rank")
    ) / F.lit(3.0)
    return out.select(
        "user_id",
        "trade_date",
        "close",
        F.col("_streak").alias("streak"),
        "rsi3",
        "streak_rsi2",
        "pct_rank",
        crsi.alias("crsi"),
    )


_X_CRSI_SQL = f"""
WITH d AS ({_SQL_DAILY_OHLCV}),
s0 AS (
  SELECT user_id, trade_date, close,
         CAST(floor(close * 1e6 + 0.5) AS BIGINT) AS qc
  FROM d),
s1 AS (
  SELECT user_id, trade_date, close, qc,
         qc - lag(qc) OVER w AS dd,
         CASE WHEN lag(close) OVER w <> 0
              THEN close / lag(close) OVER w - 1.0 END AS roc
  FROM s0 WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)),
s2 AS (
  SELECT *, CASE WHEN dd > 0 THEN 1 WHEN dd < 0 THEN -1
                 WHEN dd IS NOT NULL THEN 0 END AS sg
  FROM s1),
s3 AS (
  SELECT *, CASE WHEN sg IS NULL OR lag(sg) OVER w IS NULL
                   OR sg <> lag(sg) OVER w THEN 1 ELSE 0 END AS chg
  FROM s2 WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)),
s4 AS (
  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY trade_date
                           ROWS UNBOUNDED PRECEDING) AS grp
  FROM s3),
s5 AS (
  SELECT *, CAST(CASE WHEN sg = 0 THEN 0
                 WHEN sg IS NOT NULL THEN sg * row_number() OVER
                   (PARTITION BY user_id, grp ORDER BY trade_date)
            END AS BIGINT) AS streak
  FROM s4),
s6 AS (
  SELECT *, streak - lag(streak) OVER
              (PARTITION BY user_id ORDER BY trade_date) AS ds
  FROM s5),
s7 AS (
  SELECT user_id, trade_date, close, streak, roc,
         sum(CASE WHEN dd > 0 THEN dd ELSE 0 END) OVER w3 AS g3,
         sum(CASE WHEN dd < 0 THEN -dd ELSE 0 END) OVER w3 AS l3,
         count(dd) OVER w3 AS c3,
         sum(CASE WHEN ds > 0 THEN ds ELSE 0 END) OVER w2 AS g2,
         sum(CASE WHEN ds < 0 THEN -ds ELSE 0 END) OVER w2 AS l2,
         count(ds) OVER w2 AS c2,
         list(roc) OVER w100 AS rl,
         count(roc) OVER w100 AS cr
  FROM s6
  WINDOW w3 AS (PARTITION BY user_id ORDER BY trade_date
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
         w2 AS (PARTITION BY user_id ORDER BY trade_date
                ROWS BETWEEN 1 PRECEDING AND CURRENT ROW),
         w100 AS (PARTITION BY user_id ORDER BY trade_date
                  ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)),
s8 AS (
  SELECT user_id, trade_date, close, streak,
         CASE WHEN c3 < 3 THEN NULL WHEN g3 + l3 = 0 THEN 50.0
              ELSE 100.0 * CAST(g3 AS DOUBLE) / CAST(g3 + l3 AS DOUBLE)
         END AS rsi3,
         CASE WHEN c2 < 2 THEN NULL WHEN g2 + l2 = 0 THEN 50.0
              ELSE 100.0 * CAST(g2 AS DOUBLE) / CAST(g2 + l2 AS DOUBLE)
         END AS streak_rsi2,
         CASE WHEN cr >= 10 AND roc IS NOT NULL
              THEN 100.0 * CAST(len(list_filter(rl, x -> x < roc))
                               AS DOUBLE)
                   / CAST(cr - 1 AS DOUBLE)
         END AS pct_rank
  FROM s7)
SELECT user_id, trade_date, close, streak, rsi3, streak_rsi2, pct_rank,
       (rsi3 + streak_rsi2 + pct_rank) / 3.0 AS crsi
FROM s8
WHERE rsi3 IS NOT NULL AND streak_rsi2 IS NOT NULL
  AND pct_rank IS NOT NULL
ORDER BY user_id, trade_date
"""


#: Target mixture weights for d_mixture_plan — the knob a data-mixture
#: owner tunes (pinned identically into the SQL twin). Sources absent
#: from the map keep their natural share (a rate-1.0 reference point);
#: the named ones are deliberately up-/down-weighted so the plan has
#: real work at every SF (testdata sources are src0..src19).
_MIXTURE_TARGETS = {"src0": 0.20, "src1": 0.10, "src2": 0.02}


def d_unimax_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax language-budget allocation (operators/corpus.unimax_plan):
    water-fill the corpus-total token budget across languages with a
    2-epoch cap per language — closed form (rank by cap ascending; the
    capped prefix is the monotone predicate B − cumcap_i ≥ cap_i·(n−i);
    water level = one floor division), so the paper's sequential loop
    is two window passes + a scalar aggregate. All divisions BIGINT
    floor-div in micro-units — bit-identical in the oracle. The
    mixture-planning twin of d_mixture_plan on the language axis."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        unimax_plan,
    )

    docs = _t(spark, sf_dir, "documents")
    return unimax_plan(docs, "lang", "text", epochs_max=2)


_D_UNIMAX_SQL = f"""
WITH per AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({_SQL_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang),
r AS (
  SELECT *, 2 * n_tokens AS cap_tokens,
         row_number() OVER w AS i,
         sum(2 * n_tokens) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cs,
         count(*) OVER () AS n,
         sum(n_tokens) OVER () AS b
  FROM per WINDOW w AS (ORDER BY 2 * n_tokens ASC, lang ASC)),
c AS (SELECT *, (b - cs) >= cap_tokens * (n - i) AS capped FROM r),
s AS (SELECT coalesce(max(CASE WHEN capped THEN i END), 0) AS k,
             coalesce(max(CASE WHEN capped THEN cs END), 0) AS csk,
             max(n) AS nn, max(b) AS bb FROM c)
SELECT lang, n_docs, n_tokens, cap_tokens,
       CAST(alloc6 AS DOUBLE) / 1e6 AS alloc_tokens,
       CAST(CASE WHEN n_tokens > 0 THEN alloc6 // n_tokens ELSE 0 END
            AS DOUBLE) / 1e6 AS epochs
FROM (
  SELECT c.lang, c.n_docs, c.n_tokens, c.cap_tokens,
         CASE WHEN c.i <= s.k THEN c.cap_tokens * 1000000
              ELSE ((s.bb - s.csk) * 1000000) // (s.nn - s.k) END AS alloc6
  FROM c, s)
ORDER BY lang
"""


def d_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture planning table — the budgeting step between corpus stats
    and mixture_sample: for each source, its NATURAL token share vs the
    TARGET share, and the per-source sampling rate that realizes the
    target from the most-overrepresented source down (rates normalized
    so the binding source samples at 1.0; a rate > 1 would mean
    repeating data — surfaced as epochs_needed instead of silently
    capping). One groupBy over per-doc token counts; everything
    downstream is fixed-order IEEE arithmetic over the one tiny
    per-source row set and the pinned target literals."""
    docs = _t(spark, sf_dir, "documents")
    n_toks = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"),
            lambda t: F.length(t) > 0,
        )
    ).cast("long")
    per = docs.select("source", n_toks.alias("_nt")).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_nt").cast("long").alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").alias("_tt"))
    tgt = F.create_map(
        *[
            x
            for k, v in _MIXTURE_TARGETS.items()
            for x in (F.lit(k), F.lit(float(v)))
        ]
    )
    natural = F.col("n_tokens").cast("double") / F.col("_tt").cast("double")
    target = F.coalesce(tgt[F.col("source")], natural)
    # unnormalized rate: how hard each source must be downsampled so
    # shares match targets; normalizing by the max makes the binding
    # source sample at exactly 1.0. The max is a one-row scalar agg
    # broadcast back (the repo's one-row-totals pattern), not an
    # ungrouped window over the per-source table.
    raw_rate = target / natural
    staged = per.crossJoin(F.broadcast(tot)).withColumn("_raw", raw_rate)
    mxr = staged.agg(F.max("_raw").alias("_mxr"))
    rate = F.col("_raw") / F.col("_mxr")
    return (
        staged.crossJoin(F.broadcast(mxr))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            natural.alias("natural_share"),
            target.alias("target_share"),
            rate.alias("sampling_rate"),
            (F.lit(1.0) / rate).alias("epochs_needed"),
        )
    )


def _mixture_plan_sql() -> str:
    pairs = ", ".join(f"('{k}', {v!r})" for k, v in _MIXTURE_TARGETS.items())
    return f"""
WITH t AS (SELECT source, CAST(len({_SQL_TOKS}) AS BIGINT) AS nt
           FROM documents),
per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS n_tokens
        FROM t GROUP BY source),
tot AS (SELECT sum(n_tokens) AS tt FROM per),
tgt(source, w) AS (VALUES {pairs}),
b AS (
  SELECT per.source, n_docs, n_tokens,
         CAST(n_tokens AS DOUBLE) / CAST(tt AS DOUBLE) AS natural_share,
         coalesce(tgt.w, CAST(n_tokens AS DOUBLE) / CAST(tt AS DOUBLE))
           AS target_share
  FROM per CROSS JOIN tot LEFT JOIN tgt ON per.source = tgt.source),
r AS (
  SELECT *, target_share / natural_share AS raw_rate FROM b)
SELECT source, n_docs, n_tokens, natural_share, target_share,
       raw_rate / max(raw_rate) OVER () AS sampling_rate,
       1.0 / (raw_rate / max(raw_rate) OVER ()) AS epochs_needed
FROM r ORDER BY source
"""


def e_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning actives — the standard growth-accounting
    split: a user is NEW on their first-ever active day, RETURNING on
    every later one. Shape: distinct (user, day) pairs (one partial-agg
    shuffle), per-user first day from the SAME reduced table, a
    user-keyed join of two already-reduced sides, and a per-day count
    rollup — the raw events never shuffle twice. All-integer outputs."""
    ev = _t(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    first = ud.groupBy("user_id").agg(F.min("d").alias("_f"))
    return (
        ud.join(first, "user_id")
        .groupBy(F.col("d").alias("activity_date"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("active_users"),
            F.sum(F.when(F.col("d") == F.col("_f"), 1).otherwise(0))
            .cast("long")
            .alias("new_users"),
            F.sum(F.when(F.col("d") > F.col("_f"), 1).otherwise(0))
            .cast("long")
            .alias("returning_users"),
        )
    )


_E_NEW_RETURNING_SQL = """
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
f AS (SELECT user_id, min(d) AS fd FROM ud GROUP BY user_id)
SELECT d AS activity_date,
       CAST(count(*) AS BIGINT) AS active_users,
       CAST(sum(CASE WHEN d = fd THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
       CAST(sum(CASE WHEN d > fd THEN 1 ELSE 0 END) AS BIGINT)
         AS returning_users
FROM ud JOIN f USING (user_id)
GROUP BY d ORDER BY activity_date
"""


def d_source_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition report: guessed-language share per source —
    the mix table every multilingual curation pipeline tracks (and the
    input to mixture_sample quotas). Language ID is the existing
    function-word heuristic; shares are one IEEE division of exact
    counts against a broadcast per-source total."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.text import (
        language_guess,
    )

    docs = _t(spark, sf_dir, "documents")
    lg = language_guess(docs, id_cols=("doc_id", "source")).select(
        "source", "lang_guess"
    )
    per = lg.groupBy("source", "lang_guess").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    tot = per.groupBy("source").agg(F.sum("n_docs").alias("_t"))
    return (
        per.join(F.broadcast(tot), "source")
        .select(
            "source",
            "lang_guess",
            "n_docs",
            (
                F.col("n_docs").cast("double") / F.col("_t").cast("double")
            ).alias("share"),
        )
    )


def _source_lang_mix_sql() -> str:
    return f"""
WITH lg AS ({_lang_sql()}),
j AS (SELECT d.source, lg.lang_guess
      FROM lg JOIN documents d USING (doc_id)),
per AS (SELECT source, lang_guess, CAST(count(*) AS BIGINT) AS n_docs
        FROM j GROUP BY source, lang_guess),
tot AS (SELECT source, sum(n_docs) AS t FROM per GROUP BY source)
SELECT per.source, lang_guess, n_docs,
       CAST(n_docs AS DOUBLE) / CAST(t AS DOUBLE) AS share
FROM per JOIN tot USING (source)
ORDER BY source, lang_guess
"""


def x_zigzag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZigZag swing pivots (3% reversal) over per-user daily closes —
    the TENTH recurrence family (operators/finance.zigzag_pivots):
    a pure-integer threshold-reversal state machine, renko's sibling
    with a DATA-LOCATED output (the pivot is the leg's extreme and its
    date, not the confirming bar). The recursive oracle carries the
    direction, the leg extreme+date, and the pre-confirmation min/max
    trackers — integer arithmetic alone, no IEEE argument anywhere."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        zigzag_pivots,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    return zigzag_pivots(daily, ["user_id"], "trade_date", pct_bp=300)


def _zigzag_sql(pct_bp: int = 300) -> str:
    p = pct_bp
    rev_l0 = (
        f"(s.cu - least(r.mn, s.cu)) * 10000 >= least(r.mn, s.cu) * {p}"
    )
    rev_h0 = (
        f"(greatest(r.mx, s.cu) - s.cu) * 10000"
        f" >= greatest(r.mx, s.cu) * {p}"
    )
    rev_h1 = f"(r.ext - s.cu) * 10000 >= r.ext * {p}"
    rev_l1 = f"(s.cu - r.ext) * 10000 >= r.ext * {p}"
    return f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_OHLCV}),
src AS (
  SELECT user_id, trade_date, {sql_u6("close")} AS cu,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM daily WHERE close > 0),
zz AS (
  SELECT user_id, trade_date, cu, rn,
         CAST(0 AS BIGINT) AS dir,
         cu AS mn, trade_date AS mnd, cu AS mx, trade_date AS mxd,
         cu AS ext, trade_date AS extd,
         CAST(NULL AS BIGINT) AS pp, CAST(NULL AS DATE) AS pd,
         CAST(NULL AS VARCHAR) AS pt
  FROM src WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.trade_date, s.cu, s.rn,
    CASE WHEN r.dir = 0 THEN
           CASE WHEN {rev_l0} THEN 1 WHEN {rev_h0} THEN -1 ELSE 0 END
         WHEN r.dir = 1 THEN CASE WHEN {rev_h1} THEN -1 ELSE 1 END
         ELSE CASE WHEN {rev_l1} THEN 1 ELSE -1 END
    END AS dir,
    CASE WHEN r.dir = 0 THEN least(r.mn, s.cu) ELSE r.mn END AS mn,
    CASE WHEN r.dir = 0 AND s.cu < r.mn THEN s.trade_date
         ELSE r.mnd END AS mnd,
    CASE WHEN r.dir = 0 THEN greatest(r.mx, s.cu) ELSE r.mx END AS mx,
    CASE WHEN r.dir = 0 AND s.cu > r.mx THEN s.trade_date
         ELSE r.mxd END AS mxd,
    CASE WHEN r.dir = 0 THEN
           CASE WHEN {rev_l0} OR {rev_h0} THEN s.cu ELSE r.ext END
         WHEN r.dir = 1 THEN
           CASE WHEN {rev_h1} OR s.cu > r.ext THEN s.cu ELSE r.ext END
         ELSE CASE WHEN {rev_l1} OR s.cu < r.ext THEN s.cu ELSE r.ext END
    END AS ext,
    CASE WHEN r.dir = 0 THEN
           CASE WHEN {rev_l0} OR {rev_h0} THEN s.trade_date ELSE r.extd END
         WHEN r.dir = 1 THEN
           CASE WHEN {rev_h1} OR s.cu > r.ext THEN s.trade_date
                ELSE r.extd END
         ELSE CASE WHEN {rev_l1} OR s.cu < r.ext THEN s.trade_date
                   ELSE r.extd END
    END AS extd,
    CASE WHEN r.dir = 0 AND {rev_l0} THEN least(r.mn, s.cu)
         WHEN r.dir = 0 AND NOT ({rev_l0}) AND {rev_h0}
           THEN greatest(r.mx, s.cu)
         WHEN r.dir = 1 AND {rev_h1} THEN r.ext
         WHEN r.dir = -1 AND {rev_l1} THEN r.ext
    END AS pp,
    CASE WHEN r.dir = 0 AND {rev_l0} THEN
           CASE WHEN s.cu < r.mn THEN s.trade_date ELSE r.mnd END
         WHEN r.dir = 0 AND NOT ({rev_l0}) AND {rev_h0} THEN
           CASE WHEN s.cu > r.mx THEN s.trade_date ELSE r.mxd END
         WHEN r.dir = 1 AND {rev_h1} THEN r.extd
         WHEN r.dir = -1 AND {rev_l1} THEN r.extd
    END AS pd,
    CASE WHEN r.dir = 0 AND {rev_l0} THEN 'L'
         WHEN r.dir = 0 AND NOT ({rev_l0}) AND {rev_h0} THEN 'H'
         WHEN r.dir = 1 AND {rev_h1} THEN 'H'
         WHEN r.dir = -1 AND {rev_l1} THEN 'L'
    END AS pt
  FROM src s JOIN zz r ON s.user_id = r.user_id AND s.rn = r.rn + 1)
SELECT user_id, pd AS pivot_date,
       CAST(pp AS DOUBLE) / 1e6 AS pivot_price,
       pt AS pivot_type
FROM zz WHERE pt IS NOT NULL
ORDER BY user_id, pivot_date
"""


def x_alligator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Williams Alligator over per-user daily bars
    (operators/finance.alligator): three Wilder-SMMA states folded in
    one grouped-map pass on the quantized bar midpoint, each line
    displaced forward by its classic offset (13/8, 8/5, 5/3) via plain
    lags over the fold output. The recursive oracle carries the three
    BIGINT states; the displacement replays as SQL lag."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        alligator,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    return alligator(daily, ["user_id"], "trade_date")


_X_ALLIGATOR_SQL = f"""
WITH RECURSIVE d AS ({_SQL_DAILY_OHLCV}),
src AS (
  SELECT user_id, trade_date,
         CAST(floor((high + low) * 500000.0 + 0.5) AS BIGINT) AS m,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM d),
al AS (
  SELECT user_id, trade_date, m, rn, m AS j, m AS t, m AS l
  FROM src WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.trade_date, s.m, s.rn,
         r.j + CAST(floor((s.m - r.j) / 13.0) AS BIGINT),
         r.t + CAST(floor((s.m - r.t) / 8.0) AS BIGINT),
         r.l + CAST(floor((s.m - r.l) / 5.0) AS BIGINT)
  FROM src s JOIN al r ON s.user_id = r.user_id AND s.rn = r.rn + 1)
SELECT user_id, trade_date,
       CAST(m AS DOUBLE) / 1e6 AS mid,
       CAST(lag(j, 8) OVER w AS DOUBLE) / 1e6 AS jaw,
       CAST(lag(t, 5) OVER w AS DOUBLE) / 1e6 AS teeth,
       CAST(lag(l, 3) OVER w AS DOUBLE) / 1e6 AS lips
FROM al
WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)
ORDER BY user_id, trade_date
"""


def d_quality_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-score fusion: rank the corpus by three independent
    quality signals — heuristic quality score (desc), unigram
    cross-entropy (asc: closer to the corpus LM reads as more natural),
    and top-bigram repetition fraction (asc) — and fuse the rankings
    with Reciprocal Rank Fusion into one curation ordering. No score
    calibration across heterogeneous signals, only ranks (the same
    argument as hybrid retrieval). Every stage is distributed: each
    ranking is the lazy distributed row_number (operators/rank.py: a
    global range sort numbered by Spark's distributed sequence id, no
    job at build time) on a quantized BIGINT key (never a raw float),
    and the fusion is the nano-quantized integer RRF combine. The only
    build-time jobs are the two checkpoints (the shared tokenize and
    unigram_xent's per-doc table). Top-25 'cleanest' documents."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        reciprocal_rank_fusion,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.rank import (
        distributed_row_number,
    )

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        unigram_xent,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.text import (
        quality_score as _qscore,
        repetition_signals,
        tokens,
    )

    # ONE tokenize for all three signal pipelines (the d_curation_pipeline
    # recipe): project (text, token array) behind a repartition exchange
    # and checkpoint it; each signal operator reads the same materialized
    # rows via tokens_col instead of re-running the regex tokenize per
    # signal. Values are byte-identical to the per-signal registry
    # queries (quality_score/unigram_xent read only the token array;
    # repetition's line branch reads the same text column).
    docs = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    base = (
        docs.select("doc_id", "text", tokens("text").alias("_ts"))
        .repartition(par, "doc_id")
        .localCheckpoint()
    )
    q6i = lambda c: F.floor(F.col(c) * F.lit(1e6) + F.lit(0.5)).cast("long")
    qs = _qscore(base, tokens_col="_ts").select(
        "doc_id", q6i("quality_score").alias("_k")
    )
    xe = unigram_xent(base, tokens_col="_ts").select(
        "doc_id", q6i("xent").alias("_k")
    )
    rep = repetition_signals(base, tokens_col="_ts").select(
        "doc_id", q6i("top_bigram_frac").alias("_k")
    )
    rankings = [
        distributed_row_number(
            qs, [F.col("_k").desc(), F.col("doc_id").asc()], rank_col="rank"
        ).select("doc_id", "rank"),
        distributed_row_number(
            xe, [F.col("_k").asc(), F.col("doc_id").asc()], rank_col="rank"
        ).select("doc_id", "rank"),
        distributed_row_number(
            rep, [F.col("_k").asc(), F.col("doc_id").asc()], rank_col="rank"
        ).select("doc_id", "rank"),
    ]
    return reciprocal_rank_fusion(rankings, top=25)


def _quality_fusion_sql(top: int = 25, const: float = 60.0) -> str:
    contrib = (
        f"CAST(floor(1e9 / ({const} + CAST(rank AS DOUBLE)) + 0.5)"
        " AS BIGINT)"
    )
    return f"""
WITH qsrc AS ({_D_QUALITY_SQL}),
xsrc AS ({_D_XENT_SQL}),
rsrc AS ({_D_REPETITION_SQL}),
r1 AS (SELECT doc_id, row_number() OVER (
         ORDER BY CAST(floor(quality_score * 1e6 + 0.5) AS BIGINT) DESC,
                  doc_id ASC) AS rank FROM qsrc),
r2 AS (SELECT doc_id, row_number() OVER (
         ORDER BY CAST(floor(xent * 1e6 + 0.5) AS BIGINT) ASC,
                  doc_id ASC) AS rank FROM xsrc),
r3 AS (SELECT doc_id, row_number() OVER (
         ORDER BY CAST(floor(top_bigram_frac * 1e6 + 0.5) AS BIGINT) ASC,
                  doc_id ASC) AS rank FROM rsrc),
u AS (
  SELECT doc_id, {contrib} AS c FROM r1
  UNION ALL SELECT doc_id, {contrib} FROM r2
  UNION ALL SELECT doc_id, {contrib} FROM r3),
f AS (SELECT doc_id, sum(c) AS rq, CAST(count(*) AS BIGINT) AS n_sources
      FROM u GROUP BY doc_id)
SELECT CAST(row_number() OVER (ORDER BY rq DESC, doc_id) AS BIGINT) AS rank,
       doc_id, CAST(rq AS DOUBLE) / 1e9 AS rrf_score, n_sources
FROM f ORDER BY rq DESC, doc_id LIMIT {top}
"""


def s_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC dimension join — the one Structured Streaming join
    mode the family didn't yet cover (stream-stream inner/outer exist):
    the events stream broadcast-enriched against the static customer
    dimension, then aggregated per (market segment, event type) into a
    memory sink, driven to completion with availableNow. The static
    side is planned as a broadcast per micro-batch — at scale the dim
    is the small side by construction, so the stream never shuffles
    for the join. Decimal-routed sums keep the streamed result
    bit-identical to the batch oracle."""
    import uuid

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.streaming.pipeline import (
        events_stream_source,
    )

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import (
        stateful_partitions,
    )

    tune(spark)
    with stateful_partitions(spark):
        ev = events_stream_source(spark, sf_dir)
        cust = _t(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )
        agg = (
            ev.join(F.broadcast(cust), "user_id")
            .groupBy(
                F.col("c_mktsegment").alias("mktsegment"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("num_events"),
                F.sum(F.col("value").cast("decimal(38,6)"))
                .cast("double")
                .alias("total_value"),
            )
        )
        name = f"stream_enrich_{uuid.uuid4().hex[:8]}"
        with _scratch_ckpt() as ckpt:
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
    return spark.table(name)


_S_STREAM_ENRICH_SQL = """
SELECT c.c_mktsegment AS mktsegment, e.event_type,
       CAST(count(*) AS BIGINT) AS num_events,
       CAST(sum(CAST(e.value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY mktsegment, e.event_type
ORDER BY mktsegment, e.event_type
"""


def x_ultimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ultimate Oscillator (Williams): buying pressure over true range
    averaged at 7/14/28 bars and blended 4:2:1 — the classic
    multi-horizon momentum gauge. BP/TR are exact BIGINT micro-unit
    expressions off one lag; the three averages are exact integer
    window-sum ratios on ONE per-key exchange; the blend is fixed-order
    IEEE. Rows emit once the 28-bar window is full (and every TR sum
    positive) in both engines."""
    daily = _daily_ohlcv(spark, sf_dir)
    q = lambda c: F.floor(F.col(c) * F.lit(1e6) + F.lit(0.5)).cast("long")
    wo = Window.partitionBy("user_id").orderBy("trade_date")
    src = (
        daily.select(
            "user_id",
            "trade_date",
            q("high").alias("_h"),
            q("low").alias("_l"),
            q("close").alias("_c"),
        )
        .withColumn("_pc", F.lag("_c").over(wo))
        .filter(F.col("_pc").isNotNull())
        .withColumn("_bp", F.col("_c") - F.least("_l", "_pc"))
        .withColumn(
            "_tr", F.greatest("_h", "_pc") - F.least("_l", "_pc")
        )
        .withColumn("_rn", F.row_number().over(wo))
    )

    def wsum(col: str, nb: int):
        w = wo.rowsBetween(-(nb - 1), Window.currentRow)
        return F.sum(col).over(w)

    with_s = (
        src.withColumn("_b7", wsum("_bp", 7))
        .withColumn("_t7", wsum("_tr", 7))
        .withColumn("_b14", wsum("_bp", 14))
        .withColumn("_t14", wsum("_tr", 14))
        .withColumn("_b28", wsum("_bp", 28))
        .withColumn("_t28", wsum("_tr", 28))
        .filter(
            (F.col("_rn") >= 28)
            & (F.col("_t7") > 0)
            & (F.col("_t14") > 0)
            & (F.col("_t28") > 0)
        )
    )
    a = lambda b, t: F.col(b).cast("double") / F.col(t).cast("double")
    uo = (
        F.lit(100.0)
        * (
            F.lit(4.0) * a("_b7", "_t7")
            + F.lit(2.0) * a("_b14", "_t14")
            + a("_b28", "_t28")
        )
        / F.lit(7.0)
    )
    return with_s.select(
        "user_id",
        "trade_date",
        a("_b7", "_t7").alias("avg7"),
        a("_b14", "_t14").alias("avg14"),
        a("_b28", "_t28").alias("avg28"),
        uo.alias("uo"),
    )


_X_ULTIMATE_SQL = f"""
WITH d AS ({_SQL_DAILY_OHLCV}),
b AS (
  SELECT user_id, trade_date,
         CAST(floor(high * 1e6 + 0.5) AS BIGINT) AS h,
         CAST(floor(low * 1e6 + 0.5) AS BIGINT) AS l,
         CAST(floor(close * 1e6 + 0.5) AS BIGINT) AS c
  FROM d),
p AS (
  SELECT user_id, trade_date, h, l, c,
         lag(c) OVER (PARTITION BY user_id ORDER BY trade_date) AS pc
  FROM b),
t AS (
  SELECT user_id, trade_date,
         c - least(l, pc) AS bp,
         greatest(h, pc) - least(l, pc) AS tr,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM p WHERE pc IS NOT NULL),
s AS (
  SELECT user_id, trade_date, rn,
         sum(bp) OVER w7 AS b7, sum(tr) OVER w7 AS t7,
         sum(bp) OVER w14 AS b14, sum(tr) OVER w14 AS t14,
         sum(bp) OVER w28 AS b28, sum(tr) OVER w28 AS t28
  FROM t
  WINDOW w7 AS (PARTITION BY user_id ORDER BY trade_date
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
         w14 AS (PARTITION BY user_id ORDER BY trade_date
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
         w28 AS (PARTITION BY user_id ORDER BY trade_date
                 ROWS BETWEEN 27 PRECEDING AND CURRENT ROW))
SELECT user_id, trade_date,
       CAST(b7 AS DOUBLE) / CAST(t7 AS DOUBLE) AS avg7,
       CAST(b14 AS DOUBLE) / CAST(t14 AS DOUBLE) AS avg14,
       CAST(b28 AS DOUBLE) / CAST(t28 AS DOUBLE) AS avg28,
       100.0 * (4.0 * (CAST(b7 AS DOUBLE) / CAST(t7 AS DOUBLE))
                + 2.0 * (CAST(b14 AS DOUBLE) / CAST(t14 AS DOUBLE))
                + (CAST(b28 AS DOUBLE) / CAST(t28 AS DOUBLE))) / 7.0 AS uo
FROM s WHERE rn >= 28 AND t7 > 0 AND t14 > 0 AND t28 > 0
ORDER BY user_id, trade_date
"""


def x_eom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ease of Movement (Arms): midpoint travel scaled by range-per-
    volume — how far price moved per unit of volume resistance — with
    its 14-bar SMA. The midpoint quantizes via one shared expression
    ((h+l)·5e5), travel is a BIGINT lag diff, the per-bar EMV is
    fixed-order IEEE over exact operands and re-quantized before the
    SMA so the trailing mean is an exact integer window sum. Zero-range
    bars carry no EMV and are dropped in both engines."""
    daily = _daily_ohlcv(spark, sf_dir)
    wo = Window.partitionBy("user_id").orderBy("trade_date")
    mid_q = F.floor(
        (F.col("high") + F.col("low")) * F.lit(500000.0) + F.lit(0.5)
    ).cast("long")
    hl_q = (
        F.floor(F.col("high") * F.lit(1e6) + F.lit(0.5))
        - F.floor(F.col("low") * F.lit(1e6) + F.lit(0.5))
    ).cast("long")
    src = (
        daily.select(
            "user_id", "trade_date", "volume", mid_q.alias("_m"), hl_q.alias("_hl")
        )
        .withColumn("_dm", F.col("_m") - F.lag("_m").over(wo))
        .filter(F.col("_dm").isNotNull() & (F.col("_hl") > 0))
        .withColumn(
            "emv",
            (F.col("_dm").cast("double") / F.lit(1e6))
            * (
                (F.col("_hl").cast("double") / F.lit(1e6))
                / F.col("volume").cast("double")
            ),
        )
        .withColumn(
            "_e6", F.floor(F.col("emv") * F.lit(1e6) + F.lit(0.5)).cast("long")
        )
    )
    wn = wo.rowsBetween(-13, Window.currentRow)
    return src.select(
        "user_id",
        "trade_date",
        "emv",
        (
            F.sum("_e6").over(wn).cast("double")
            / F.count(F.lit(1)).over(wn).cast("double")
            / F.lit(1e6)
        ).alias("eom_sma14"),
    )


_X_EOM_SQL = f"""
WITH d AS ({_SQL_DAILY_OHLCV}),
b AS (
  SELECT user_id, trade_date, volume,
         CAST(floor((high + low) * 500000.0 + 0.5) AS BIGINT) AS m,
         CAST(floor(high * 1e6 + 0.5) AS BIGINT)
           - CAST(floor(low * 1e6 + 0.5) AS BIGINT) AS hl
  FROM d),
p AS (
  SELECT user_id, trade_date, volume, hl,
         m - lag(m) OVER (PARTITION BY user_id ORDER BY trade_date) AS dm
  FROM b),
e AS (
  SELECT user_id, trade_date,
         (CAST(dm AS DOUBLE) / 1e6)
           * ((CAST(hl AS DOUBLE) / 1e6) / CAST(volume AS DOUBLE)) AS emv
  FROM p WHERE dm IS NOT NULL AND hl > 0),
q AS (
  SELECT user_id, trade_date, emv,
         CAST(floor(emv * 1e6 + 0.5) AS BIGINT) AS e6
  FROM e)
SELECT user_id, trade_date, emv,
       CAST(sum(e6) OVER w AS DOUBLE) / CAST(count(*) OVER w AS DOUBLE)
         / 1e6 AS eom_sma14
FROM q
WINDOW w AS (PARTITION BY user_id ORDER BY trade_date
             ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
ORDER BY user_id, trade_date
"""


def d_softdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup-style reweighting (He et al. 2024 shape): instead of
    DROPPING duplicate documents, keep them all and down-weight each by
    the inverse of its exact-content multiplicity (w = 1/commonness) so
    a 10-copy page contributes one page of gradient signal. One
    sha-hash window count per doc — the dedup signal without the
    information loss of hard dedup; effective_tokens = n_tokens·w is
    the budget planners consume. Exact: counts are integers, the weight
    and product are fixed-order IEEE."""
    docs = _t(spark, sf_dir, "documents")
    wh = Window.partitionBy(F.sha2(F.col("text"), 256))
    n_toks = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"),
            lambda t: F.length(t) > 0,
        )
    ).cast("long")
    c = F.count(F.lit(1)).over(wh).cast("long")
    w = F.lit(1.0) / c.cast("double")
    return docs.select(
        "doc_id",
        c.alias("dup_count"),
        w.alias("weight"),
        n_toks.alias("n_tokens"),
        (n_toks.cast("double") * w).alias("effective_tokens"),
    )


_D_SOFTDEDUP_SQL = f"""
WITH c AS (
  SELECT doc_id,
         CAST(count(*) OVER (PARTITION BY sha256(text)) AS BIGINT)
           AS dup_count,
         CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens
  FROM documents)
SELECT doc_id, dup_count,
       1.0 / CAST(dup_count AS DOUBLE) AS weight,
       n_tokens,
       CAST(n_tokens AS DOUBLE) * (1.0 / CAST(dup_count AS DOUBLE))
         AS effective_tokens
FROM c ORDER BY doc_id
"""


def emb_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality report: recall@5 of the LSH index against the exact
    brute-force top-5, per query — the acceptance metric every ANN
    deployment is judged by, computed as a composition of two registry
    operators (the approximate path and its verification twin). Both
    sides are deterministic, so even the recall REPORT has an exact
    oracle (the two SQL chains composed)."""
    bf = emb_ann_topk(spark, sf_dir).select("query_id", "neighbor_id")
    lsh = emb_lsh_ann(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("_hit")
    )
    # left join + groupBy: both sides are bounded top-k lists and bf
    # appears ONCE in the plan (it has exactly k rows per query, so the
    # groupBy emits every query incl. zero-hit ones); the broadcast hint
    # keeps the comparison SMJ-free in the static plan
    return (
        bf.join(F.broadcast(lsh), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_hits")
        )
        .select(
            "query_id",
            "n_hits",
            (F.col("n_hits").cast("double") / F.lit(5.0)).alias(
                "recall_at_5"
            ),
        )
    )


def _recall_report_sql() -> str:
    return f"""
WITH bf AS ({_EMB_ANN_SQL}),
lsh AS ({_lsh_ann_sql()}),
hits AS (
  SELECT b.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM bf b JOIN lsh l
    ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
  GROUP BY b.query_id)
SELECT q.query_id,
       CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(n_hits, 0) AS DOUBLE) / 5.0 AS recall_at_5
FROM (SELECT DISTINCT query_id FROM bf) q
LEFT JOIN hits USING (query_id)
ORDER BY query_id
"""


def x_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend smoothing over per-user daily closes
    (operators/finance.holt_linear): level + trend states with a
    one-step forecast — the TWELFTH fold family and the point-forecast
    complement to x_garch_vol's volatility forecast. The level/trend
    numerators change sign on falling series, so every division
    branches on the whole numerator's sign (DuckDB truncates, Python
    floors — they agree only on nonnegative operands); the oracle's
    recursive CTE carries the two BIGINT states."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        holt_linear,
    )

    daily = _daily_ohlcv(spark, sf_dir).select("user_id", "trade_date", "close")
    out = holt_linear(daily, ["user_id"], "trade_date")
    return out.select(
        "user_id", "trade_date", "close", "level", "trend", "forecast"
    )


def _holt_sql(alpha6: int = 300_000, gamma6: int = 100_000) -> str:
    ca6 = 1_000_000 - alpha6
    cg6 = 1_000_000 - gamma6

    def sdiv(num: str) -> str:
        return (
            f"(CASE WHEN ({num}) >= 0 THEN ({num}) // 1000000"
            f" ELSE -((-({num})) // 1000000) END)"
        )

    l_num = f"{alpha6} * c.yu + {ca6} * (p.l + p.b)"
    b_num = f"{gamma6} * (q.l - q.l0) + {cg6} * q.b0"
    return f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_OHLCV}),
g AS MATERIALIZED (
  SELECT user_id, trade_date, close,
         CAST(floor(close * 1e6 + 0.5) AS BIGINT) AS yu,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM daily),
st AS (
  SELECT user_id, rn, yu AS l, CAST(0 AS BIGINT) AS b FROM g WHERE rn = 1
  UNION ALL
  SELECT user_id, rn, l, {sdiv(b_num)} AS b
  FROM (
    SELECT c.user_id, c.rn, {sdiv(l_num)} AS l,
           p.l AS l0, p.b AS b0
    FROM g c JOIN st p ON c.user_id = p.user_id AND c.rn = p.rn + 1) q)
SELECT g.user_id, g.trade_date, g.close,
       CAST(st.l AS DOUBLE) / 1e6 AS level,
       CAST(st.b AS DOUBLE) / 1e6 AS trend,
       CAST(st.l + st.b AS DOUBLE) / 1e6 AS forecast
FROM g JOIN st ON g.user_id = st.user_id AND g.rn = st.rn
ORDER BY g.user_id, g.trade_date
"""


def e_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM changepoint screen over per-user daily mean
    price (operators/windows.cusum_drift) — Page's sequential drift
    test, the monitoring primitive next to e_zscore_anomaly (pointwise)
    and e_drift_psi (distributional). The clamped recurrence
    s_t = max(0, s_{t-1} + d_t) is NOT folded: it has the closed form
    c_t − min(0, prefix-min(c)), so the whole operator is two window
    passes over one per-user exchange — native exprs, no grouped-map,
    and the oracle is the same two windows (no recursion). Increments
    are micro BIGINT (order-exact prefix sums); μ/σ come from exact
    decimal whole-series sums."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.windows import (
        cusum_drift,
    )

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("trade_date")
    ).agg(davg("value", "px"))
    out = cusum_drift(daily, ["user_id"], "trade_date", "px")
    return out


_E_CUSUM_SQL = f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS trade_date, {sql_davg('value')} AS px
  FROM events GROUP BY 1, 2),
st AS (
  SELECT user_id, trade_date, px,
         CAST(floor(px * 1e6 + 0.5) AS BIGINT) AS v6,
         CAST(count(px) OVER wa AS DOUBLE) AS n,
         CAST(sum(CAST(px AS DECIMAL(38,6))) OVER wa AS DOUBLE) AS sx,
         CAST(sum(CAST(px * px AS DECIMAL(38,6))) OVER wa AS DOUBLE) AS sxx
  FROM daily WINDOW wa AS (PARTITION BY user_id)),
par AS (
  SELECT user_id, trade_date, px, v6,
         CAST(floor(sx / n * 1e6 + 0.5) AS BIGINT) AS mu6,
         CASE WHEN n < 2.0 OR (n * sxx - sx * sx) / (n * (n - 1.0)) <= 0.0
              THEN CAST(0 AS BIGINT)
              ELSE CAST(floor(sqrt((n * sxx - sx * sx) / (n * (n - 1.0)))
                              * 1e6 + 0.5) AS BIGINT) END AS sig6
  FROM st),
run AS (
  SELECT user_id, trade_date, px, sig6, sig6 * 4 AS h6,
         sum(v6 - mu6 - (sig6 * 1) // 2) OVER wr AS cp,
         sum(mu6 - v6 - (sig6 * 1) // 2) OVER wr AS cn
  FROM par
  WINDOW wr AS (PARTITION BY user_id ORDER BY trade_date
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
s AS (
  SELECT user_id, trade_date, px, sig6, h6,
         cp - least(CAST(0 AS BIGINT), min(cp) OVER wr) AS sp,
         cn - least(CAST(0 AS BIGINT), min(cn) OVER wr) AS sn
  FROM run
  WINDOW wr AS (PARTITION BY user_id ORDER BY trade_date
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT user_id, trade_date, px,
       CAST(sp AS DOUBLE) / 1e6 AS cusum_pos,
       CAST(sn AS DOUBLE) / 1e6 AS cusum_neg,
       sig6 > 0 AND sp > h6 AS alarm_pos,
       sig6 > 0 AND sn > h6 AS alarm_neg
FROM s ORDER BY user_id, trade_date
"""


_VOCAB_KS = [16, 64, 256, 1024, 4096]


def d_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-budget report: for each
    candidate vocab size k, the share of all gram OCCURRENCES covered
    by the top-k types (and so the OOV rate a k-type vocabulary would
    pay). Types are token BIGRAMS (the synthetic corpus has a ~31-word
    unigram vocabulary — bigrams give the curve a real tail; on a real
    corpus pass unigrams or BPE pieces through the same shape).
    Frequencies rank by (count desc, gram) through the lazy
    distributed row_number (operators/rank.py — a 100 TB corpus has a
    ~10⁸-type vocabulary, too big for a one-task sort), then ONE
    conditional aggregate computes every k simultaneously; no
    per-k scan. Pure integer counts; the only doubles are the final
    ratios."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        token_ngrams,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.rank import (
        distributed_row_number,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.text import (
        tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    freq = (
        docs.select("text")
        .repartition(par)
        .select(F.explode(token_ngrams(tokens("text"), 2)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    ranked = distributed_row_number(
        freq, [F.col("f").desc(), F.col("tok").asc()], rank_col="r"
    )
    agg = ranked.agg(
        F.sum("f").cast("long").alias("total_occ"),
        *[
            F.sum(F.when(F.col("r") <= k, F.col("f")).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"_c{k}")
            for k in _VOCAB_KS
        ],
        *[
            F.sum(F.when(F.col("r") <= k, 1).otherwise(0))
            .cast("long")
            .alias(f"_t{k}")
            for k in _VOCAB_KS
        ],
    )
    stack = ", ".join(f"{k}, _c{k}, _t{k}" for k in _VOCAB_KS)
    rows = agg.select(
        F.expr(
            f"stack({len(_VOCAB_KS)}, {stack}) AS (k, covered, vocab_types)"
        ),
        "total_occ",
        # Empty-corpus edge: a global agg always emits ONE row (all-NULL
        # sums), but the oracle's cross join over an empty ranked CTE
        # emits ZERO — filter keeps the engines row-identical.
    ).filter(F.col("total_occ") > 0)
    cov = F.col("covered").cast("double") / F.col("total_occ")
    return rows.select(
        F.col("k").cast("long").alias("k"),
        "vocab_types",
        "covered",
        cov.alias("coverage"),
        (F.lit(1.0) - cov).alias("oov_rate"),
    )


_D_VOCAB_COVERAGE_SQL = rf"""
WITH t AS (SELECT doc_id, {{toks}} AS ts FROM documents),
freq AS (
  SELECT tk AS tok, CAST(count(*) AS BIGINT) AS f
  FROM (SELECT unnest({{bigrams}}) AS tk FROM t) GROUP BY tk),
ranked AS (
  SELECT tok, f, row_number() OVER (ORDER BY f DESC, tok) AS r FROM freq),
tot AS (SELECT CAST(sum(f) AS BIGINT) AS total_occ FROM freq),
ks AS (SELECT unnest([{", ".join(str(k) for k in _VOCAB_KS)}]) AS k),
cov AS (
  SELECT k,
         CAST(sum(CASE WHEN r <= k THEN f ELSE 0 END) AS BIGINT) AS covered,
         CAST(sum(CASE WHEN r <= k THEN 1 ELSE 0 END) AS BIGINT)
           AS vocab_types
  FROM ranked, ks GROUP BY k)
SELECT CAST(k AS BIGINT) AS k, vocab_types, covered,
       CAST(covered AS DOUBLE) / total_occ AS coverage,
       1.0 - CAST(covered AS DOUBLE) / total_occ AS oov_rate
FROM cov, tot ORDER BY k
"""


#: Benford first-digit probabilities log10(1+1/d), micro-quantized in
#: PYTHON once and embedded as literals on BOTH engines (no cross-engine
#: log10 anywhere); they sum to exactly 1e6.
_BENFORD_P6 = [301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757]


def e_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over positive event values — the
    classic forensic DQ screen for financial data (fabricated or
    re-scaled numbers break the log-uniform leading-digit law). The
    first digit comes from INTEGER arithmetic (micro-quantize, then the
    first character of the BIGINT's canonical decimal string — no
    engine-dependent double formatting, no log10: the Benford
    probabilities are Python-precomputed literals on both engines).
    One groupBy + a one-row total broadcast. Output: digit, n, share,
    benford_p, abs_dev."""
    ev = _t(spark, sf_dir, "events")
    v6 = F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("long")
    digit = F.substring(F.col("_v6").cast("string"), 1, 1).cast("int")
    hist = (
        ev.select(v6.alias("_v6"))
        .filter(F.col("_v6") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    total = hist.agg(F.sum("n").cast("long").alias("_total"))
    p6 = F.element_at(
        F.array(*[F.lit(p) for p in _BENFORD_P6]), F.col("digit")
    )
    share = F.col("n").cast("double") / F.col("_total")
    bp = p6.cast("double") / F.lit(1e6)
    return (
        hist.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            share.alias("share"),
            bp.alias("benford_p"),
            F.abs(share - bp).alias("abs_dev"),
        )
    )


_E_BENFORD_SQL = f"""
WITH v AS (
  SELECT CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v6 FROM events),
hist AS (
  SELECT CAST(substr(CAST(v6 AS VARCHAR), 1, 1) AS INT) AS digit,
         CAST(count(*) AS BIGINT) AS n
  FROM v WHERE v6 > 0 GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM hist),
p AS (SELECT unnest([{", ".join(str(p) for p in _BENFORD_P6)}]) AS p6,
             unnest([1,2,3,4,5,6,7,8,9]) AS digit)
SELECT h.digit, h.n,
       CAST(h.n AS DOUBLE) / t.total AS share,
       CAST(p.p6 AS DOUBLE) / 1e6 AS benford_p,
       abs(CAST(h.n AS DOUBLE) / t.total
           - CAST(p.p6 AS DOUBLE) / 1e6) AS abs_dev
FROM hist h JOIN p ON h.digit = p.digit CROSS JOIN tot t
ORDER BY h.digit
"""


def d_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership probe — the sketch that completes the
    trio next to HLL (distinct) and CMS (frequency): the 90 % corpus
    split builds a fixed-size mergeable bit array (one row per non-zero
    32-bit word, <= m/32 rows however large the corpus), then EVERY
    document probes it map-side (broadcast join) for "was this exact
    payload already ingested?" — corpus members must all report true
    (no false negatives, demonstrated on every corpus row), the held-out
    batch reports false modulo ~1e-9 false-positive odds, no shuffle of
    the corpus anywhere, and the salted-md5 positions replay exactly in
    SQL so even false-positive verdicts would be bit-identical
    cross-engine (operators/sketch.bloom_sketch / bloom_might_contain)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.sketch import (
        bloom_might_contain,
        bloom_sketch,
    )

    docs = _t(spark, sf_dir, "documents")
    sk = bloom_sketch(docs.filter(F.col("doc_id") % 10 != 0), "text")
    probes = docs.select("doc_id", "text")
    return bloom_might_contain(
        sk, probes, "text", id_cols=["doc_id"]
    )


_D_BLOOM_SQL = """
WITH corpus AS (SELECT text FROM documents WHERE doc_id % 10 <> 0),
pos AS (
  SELECT (CAST('0x' || substr(md5('bloom' || i || '|' || text), 1, 8)
          AS BIGINT) % 1048576) AS p
  FROM corpus, generate_series(0, 4) t(i)),
words AS (
  SELECT p // 32 AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
  FROM pos GROUP BY p // 32),
probe AS (
  SELECT doc_id,
         (CAST('0x' || substr(md5('bloom' || i || '|' || text), 1, 8)
          AS BIGINT) % 1048576) AS p
  FROM documents, generate_series(0, 4) t(i)),
hits AS (
  SELECT pr.doc_id,
         CASE WHEN w.bits IS NOT NULL
                   AND (w.bits & (CAST(1 AS BIGINT)
                                  << CAST(pr.p % 32 AS INT))) <> 0
              THEN 1 ELSE 0 END AS hit
  FROM probe pr LEFT JOIN words w ON pr.p // 32 = w.word)
SELECT doc_id, min(hit) = 1 AS in_filter
FROM hits GROUP BY doc_id ORDER BY doc_id
"""


def s_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming two-sided CUSUM drift monitor — the production
    monitoring shape: per-user μ/σ CALIBRATED OFFLINE on the batch
    table (exact decimal sums), broadcast-joined onto the live stream,
    then a stateful fold (applyInPandasWithState, one BIGINT pair per
    user) raises alarms online. The within-batch fold is the Lindley
    closed form with carry-in state — vectorized numpy, no per-row
    loop — and integer micro-unit increments make the streamed result
    bit-identical to the batch windowed-SQL replay (the s_stateful_vwap
    determinism contract, applied to a clamped recurrence)."""
    import uuid

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.streaming.pipeline import (
        events_stream_source,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.streaming.stateful import (
        streaming_cusum,
    )

    tune(spark)
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import (
        stateful_partitions,
    )

    # batch calibration: one tiny row per user (the offline half).
    # The n/sx/sxx expressions deliberately inline the functions/exact.py
    # davg/dstddev discipline instead of calling them: the monitor needs
    # the n<2 / var<=0 branch decided BEFORE sqrt and the result
    # quantized to BIGINT micro-units for the integer fold — the shared
    # helpers return post-sqrt doubles. Keep the decimal(38,6) casts in
    # lockstep with functions/exact.py if that module's scale changes.
    ev_b = _t(spark, sf_dir, "events")
    v = F.col("value")
    stats = ev_b.groupBy("user_id").agg(
        F.count(v).cast("double").alias("_n"),
        F.sum(v.cast("decimal(38,6)")).cast("double").alias("_sx"),
        F.sum((v * v).cast("decimal(38,6)")).cast("double").alias("_sxx"),
    )
    var = (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")) / (
        F.col("_n") * (F.col("_n") - F.lit(1.0))
    )
    sig6 = F.when((F.col("_n") < 2.0) | (var <= 0.0), F.lit(0).cast("long")).otherwise(
        F.floor(F.sqrt(var) * 1e6 + F.lit(0.5)).cast("long")
    )
    ref = stats.select(
        "user_id",
        F.floor(F.col("_sx") / F.col("_n") * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("mu6"),
        sig6.alias("sig6"),
    ).select(
        "user_id",
        "mu6",
        "sig6",
        (F.col("sig6") / 2).cast("long").alias("k6"),
        (F.col("sig6") * 4).cast("long").alias("h6"),
    )

    with stateful_partitions(spark):
        ev = (
            events_stream_source(spark, sf_dir)
            .select(
                "user_id",
                "event_id",
                F.unix_micros(F.col("ts")).alias("timestamp_unix"),
                F.floor(F.col("value") * 1e6 + F.lit(0.5))
                .cast("long")
                .alias("v6"),
            )
            .join(F.broadcast(ref), "user_id")  # stream-static join
        )
        name = f"stream_cusum_{uuid.uuid4().hex[:8]}"
        with _scratch_ckpt() as ckpt:
            q = (
                streaming_cusum(ev)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
    return spark.table(name)


_S_CUSUM_SQL = """
WITH src AS (
  SELECT user_id, event_id, epoch_us(ts) AS timestamp_unix,
         CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v6, value
  FROM events),
st AS (
  SELECT user_id,
         CAST(count(value) AS DOUBLE) AS n,
         CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS sxx
  FROM src GROUP BY user_id),
ref AS (
  SELECT user_id,
         CAST(floor(sx / n * 1e6 + 0.5) AS BIGINT) AS mu6,
         CASE WHEN n < 2.0 OR (n * sxx - sx * sx) / (n * (n - 1.0)) <= 0.0
              THEN CAST(0 AS BIGINT)
              ELSE CAST(floor(sqrt((n * sxx - sx * sx) / (n * (n - 1.0)))
                              * 1e6 + 0.5) AS BIGINT) END AS sig6
  FROM st),
par AS (
  SELECT user_id, mu6, sig6, sig6 // 2 AS k6, sig6 * 4 AS h6 FROM ref),
run AS (
  SELECT s.user_id, s.event_id, s.timestamp_unix, p.sig6, p.h6,
         sum(s.v6 - p.mu6 - p.k6) OVER wr AS cp,
         sum(p.mu6 - s.v6 - p.k6) OVER wr AS cn
  FROM src s JOIN par p USING (user_id)
  WINDOW wr AS (PARTITION BY s.user_id
                ORDER BY s.timestamp_unix, s.event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
sfin AS (
  SELECT user_id, event_id, timestamp_unix, sig6, h6,
         cp - least(CAST(0 AS BIGINT), min(cp) OVER wr) AS sp,
         cn - least(CAST(0 AS BIGINT), min(cn) OVER wr) AS sn
  FROM run
  WINDOW wr AS (PARTITION BY user_id ORDER BY timestamp_unix, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT user_id, event_id, timestamp_unix,
       CAST(sp AS DOUBLE) / 1e6 AS cusum_pos,
       CAST(sn AS DOUBLE) / 1e6 AS cusum_neg,
       sig6 > 0 AND sp > h6 AS alarm_pos,
       sig6 > 0 AND sn > h6 AS alarm_neg
FROM sfin ORDER BY user_id, timestamp_unix, event_id
"""


def _dup_index_dir(sf_dir: str, threshold: float) -> str:
    """Location of the persisted dedup-components index over
    ``sf_dir``'s documents table at near-dup ``threshold``, built by
    ``operators/dedup_similarity.py`` (``sources/persisted.artifact_dir``;
    the threshold also names the kind, so two thresholds' decision sets
    are two live artifacts)."""
    return artifact_dir(
        "dup_index",
        f"comp{int(threshold * 100)}",
        f"{sf_dir}/documents.parquet",
        {"threshold": threshold},
        code=(_dedup_similarity_mod,),
    )


def _dup_components_persisted(
    spark: SparkSession, sf_dir: str, threshold: float = 0.95
) -> DataFrame:
    """Converged dedup decisions (doc_id, keeper_id) as a PERSISTED
    artifact: the minhash + connected-components chain runs only when
    the on-disk parquet is missing or its source changed
    (``sources/persisted.build_once``); every downstream report reads
    the stored table. This is how the decision set works at 100 TB —
    components are computed ONCE per corpus version, then cluster
    stats, keeper joins and removal plans are cheap scans of the
    decisions, not re-runs of the whole near-dup chain."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
        minhash_dup_decisions,
    )

    idx = _dup_index_dir(sf_dir, threshold)

    def build(tmp: str) -> None:
        docs = _t(spark, sf_dir, "documents")
        minhash_dup_decisions(docs, threshold=threshold).write.parquet(
            f"{tmp}/components"
        )

    build_once(idx, build)
    return spark.read.parquet(f"{idx}/components")


def d_dup_components_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-only twin of d_dup_components: read the persisted decision
    parquet instead of re-running the chain — bit-identical output,
    shared oracle (the recursive-reachability SQL); the bench delta
    between the two rows IS the amortized chain cost, exactly as
    emb_ivf_probe prices the amortized Lloyd fit."""
    return _dup_components_persisted(spark, sf_dir)


def d_dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact report: duplicate-cluster size histogram over the
    converged component decisions — n_clusters / n_docs / n_removable
    per cluster size. This is the number a corpus owner reads BEFORE
    deleting anything at 100 TB: how much of the corpus is duplicate
    mass and how it is distributed (many pairs vs few mega-clusters).
    Reads the PERSISTED decision set (built once per corpus version via
    _dup_components_persisted) — the report is two tiny aggregates over
    a (doc_id, keeper_id) parquet, not a re-run of the minhash +
    components chain it summarizes. Oracle unchanged: the same
    recursive reachability CTEs."""
    comp = _dup_components_persisted(spark, sf_dir)
    sizes = comp.groupBy("keeper_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            (F.count(F.lit(1)) * F.col("cluster_size"))
            .cast("long")
            .alias("n_docs"),
            (F.count(F.lit(1)) * (F.col("cluster_size") - F.lit(1)))
            .cast("long")
            .alias("n_removable"),
        )
    )


def _dup_cluster_stats_sql() -> str:
    return f"""
WITH RECURSIVE {_components_ctes()},
sizes AS (
  SELECT keeper_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM comp GROUP BY keeper_id)
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(count(*) * cluster_size AS BIGINT) AS n_docs,
       CAST(count(*) * (cluster_size - 1) AS BIGINT) AS n_removable
FROM sizes GROUP BY cluster_size ORDER BY cluster_size
"""


def emb_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF index (n_probe=3 of 8 lists) against the
    exact brute-force top-5 — the acceptance metric for the ANN path
    that actually scales to 100 TB (the partition-pruned inverted
    file), complementing emb_recall_report's LSH number. Shows the
    recall cost of probing 3/8 cells; raising n_probe trades scan
    width for recall with the same index. Deterministic on both sides
    (seeded Lloyd fit), so the report has an exact oracle."""
    bf = emb_ann_topk(spark, sf_dir).select("query_id", "neighbor_id")
    ivf = emb_ivf_ann(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("_hit")
    )
    # left join + groupBy: bf appears ONCE in the plan (it has exactly
    # k rows per query, so the groupBy emits every query incl. zero-hit
    # ones — no second evaluation for a distinct query list)
    return (
        bf.join(F.broadcast(ivf), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_hits")
        )
        .select(
            "query_id",
            "n_hits",
            (F.col("n_hits").cast("double") / F.lit(5.0)).alias(
                "recall_at_5"
            ),
        )
    )


def _ivf_recall_sql() -> str:
    return f"""
WITH bf AS ({_EMB_ANN_SQL}),
ivf AS ({_ivf_ann_sql()}),
hits AS (
  SELECT b.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM bf b JOIN ivf l
    ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
  GROUP BY b.query_id)
SELECT q.query_id,
       CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(n_hits, 0) AS DOUBLE) / 5.0 AS recall_at_5
FROM (SELECT DISTINCT query_id FROM bf) q
LEFT JOIN hits USING (query_id)
ORDER BY query_id
"""


# --- round 9 additions -----------------------------------------------------


def x_fractals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Williams fractal pivots over per-user daily bars: a bar is a
    fractal HIGH iff its high strictly exceeds the two bars on each
    side (symmetric 5-bar pattern; lows mirror). Pure lag/lead
    comparisons — all four neighbors and both flags share ONE per-user
    exchange+sort; edge bars (fewer than two neighbors) are false via
    3VL AND + coalesce, identical in both engines."""
    daily = _daily_ohlcv(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("trade_date")
    fh = F.coalesce(
        (F.col("high") > F.lag("high", 1).over(w))
        & (F.col("high") > F.lag("high", 2).over(w))
        & (F.col("high") > F.lead("high", 1).over(w))
        & (F.col("high") > F.lead("high", 2).over(w)),
        F.lit(False),
    )
    fl = F.coalesce(
        (F.col("low") < F.lag("low", 1).over(w))
        & (F.col("low") < F.lag("low", 2).over(w))
        & (F.col("low") < F.lead("low", 1).over(w))
        & (F.col("low") < F.lead("low", 2).over(w)),
        F.lit(False),
    )
    return daily.select(
        "user_id",
        "trade_date",
        "high",
        "low",
        fh.alias("fractal_high"),
        fl.alias("fractal_low"),
    )


_X_FRACTALS_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV})
SELECT user_id, trade_date, high, low,
       coalesce(high > lag(high, 1) OVER w AND high > lag(high, 2) OVER w
            AND high > lead(high, 1) OVER w AND high > lead(high, 2) OVER w,
            FALSE) AS fractal_high,
       coalesce(low < lag(low, 1) OVER w AND low < lag(low, 2) OVER w
            AND low < lead(low, 1) OVER w AND low < lead(low, 2) OVER w,
            FALSE) AS fractal_low
FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)
ORDER BY user_id, trade_date
"""


def x_rvol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative volume: today's volume over the trailing 20-bar average
    (EXCLUDING today — the practitioner definition; including it would
    dampen exactly the spikes the ratio exists to flag). rvol stays a
    ratio of exact BIGINTs — volume·count/sum with every operand under
    2^53, so the double division is bit-identical cross-engine. First
    bar has no history -> NULL rvol, false flag."""
    daily = _daily_ohlcv(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("trade_date")
    prior = w.rowsBetween(-20, -1)
    s = F.sum("volume").over(prior).cast("long")
    c = F.count(F.lit(1)).over(prior).cast("long")
    rvol = (
        (F.col("volume") * c).cast("double") / s.cast("double")
    )
    return daily.select(
        "user_id",
        "trade_date",
        "volume",
        rvol.alias("rvol"),
        F.coalesce(rvol >= F.lit(1.5), F.lit(False)).alias("volume_spike"),
    )


_X_RVOL_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
c AS (
  SELECT user_id, trade_date, volume,
         CAST(volume * count(*) OVER f AS DOUBLE)
           / CAST(sum(volume) OVER f AS DOUBLE) AS rvol
  FROM daily
  WINDOW f AS (PARTITION BY user_id ORDER BY trade_date
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
SELECT user_id, trade_date, volume, rvol,
       coalesce(rvol >= 1.5, FALSE) AS volume_spike
FROM c ORDER BY user_id, trade_date
"""


def x_squeeze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTM squeeze: Bollinger bands (20, 2 sigma) INSIDE Keltner
    channels (20, 1.5 x TR mean) flags a volatility compression — the
    setup screen that precedes breakout entries. Composes the existing
    keltner_channels operator with the e_cusum_drift variance recipe
    (decimal-exact sx/sxx windows, one double sqrt), so every band is
    bit-identical in windowed SQL; ALL windows share one per-user
    exchange+sort."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        keltner_channels,
    )

    daily = _daily_ohlcv(spark, sf_dir)
    kc = keltner_channels(
        daily, ["user_id"], "trade_date", n=20, m=20, mult=1.5
    )
    w = Window.partitionBy("user_id").orderBy("trade_date")
    f = w.rowsBetween(-19, 0)
    dec = "decimal(38,6)"
    sx = F.sum(F.col("close").cast(dec)).over(f).cast("double")
    sxx = (
        F.sum((F.col("close") * F.col("close")).cast(dec))
        .over(f)
        .cast("double")
    )
    n = F.count(F.lit(1)).over(f).cast("double")
    var = (n * sxx - sx * sx) / (n * (n - F.lit(1.0)))
    sd = F.when((n >= F.lit(2.0)) & (var > F.lit(0.0)), F.sqrt(var)).otherwise(
        F.lit(0.0)
    )
    out = (
        kc.withColumn("bb_mid", sx / n)
        .withColumn("bb_upper", F.col("bb_mid") + F.lit(2.0) * sd)
        .withColumn("bb_lower", F.col("bb_mid") - F.lit(2.0) * sd)
        .withColumn(
            "squeeze_on",
            (F.col("bb_upper") < F.col("kc_upper"))
            & (F.col("bb_lower") > F.col("kc_lower")),
        )
    )
    return out.select(
        "user_id",
        "trade_date",
        "close",
        "bb_upper",
        "bb_lower",
        "kc_upper",
        "kc_lower",
        "squeeze_on",
    )


_X_SQUEEZE_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
t AS (
  SELECT user_id, trade_date, high, low, close,
         (high + low + close) / 3.0 AS tp,
         CASE WHEN lag(close) OVER w IS NULL THEN high - low
              ELSE greatest(high - low,
                            abs(high - lag(close) OVER w),
                            abs(low - lag(close) OVER w)) END AS tr
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)),
b AS (
  SELECT user_id, trade_date, close,
         CAST(sum(CAST(tp AS DECIMAL(38,6))) OVER f AS DOUBLE)
           / CAST(count(*) OVER f AS DOUBLE) AS kc_mid,
         CAST(sum(CAST(tr AS DECIMAL(38,6))) OVER f AS DOUBLE)
           / CAST(count(*) OVER f AS DOUBLE) * 1.5 AS band,
         CAST(sum(CAST(close AS DECIMAL(38,6))) OVER f AS DOUBLE) AS sx,
         CAST(sum(CAST(close * close AS DECIMAL(38,6))) OVER f AS DOUBLE)
           AS sxx,
         CAST(count(*) OVER f AS DOUBLE) AS n
  FROM t
  WINDOW f AS (PARTITION BY user_id ORDER BY trade_date
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
s AS (
  SELECT user_id, trade_date, close,
         kc_mid + band AS kc_upper, kc_mid - band AS kc_lower,
         sx / n AS bb_mid,
         CASE WHEN n >= 2.0 AND (n * sxx - sx * sx) / (n * (n - 1.0)) > 0.0
              THEN sqrt((n * sxx - sx * sx) / (n * (n - 1.0)))
              ELSE 0.0 END AS sd
  FROM b)
SELECT user_id, trade_date, close,
       bb_mid + 2.0 * sd AS bb_upper,
       bb_mid - 2.0 * sd AS bb_lower,
       kc_upper, kc_lower,
       bb_mid + 2.0 * sd < kc_upper AND bb_mid - 2.0 * sd > kc_lower
           AS squeeze_on
FROM s ORDER BY user_id, trade_date
"""


def e_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly screen: per-user median / MAD over daily mean
    values, flagging |x − med| > 3·1.4826·MAD — the outlier rule that
    does not let the outliers poison their own threshold (unlike the
    z-score screen, whose mean and sigma they inflate). Exact DISCRETE
    medians: micro-quantized values ranked per key (keyed windows — one
    exchange, three sorts), lower-median element at rank (n+1) div 2,
    all comparisons BIGINT (k = 1.4826 enters as the integer 14826) —
    bit-identical cross-engine, no interpolation anywhere."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("trade_date")
    ).agg(davg("value", "px"))
    v6 = F.floor(F.col("px") * 1e6 + F.lit(0.5)).cast("long")
    wu = Window.partitionBy("user_id")
    b = daily.withColumn("_v6", v6).withColumn(
        "_cnt", F.count(F.lit(1)).over(wu)
    )
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy("_v6", "trade_date")
    )
    pos = F.expr("(_cnt + 1) div 2")
    m = b.withColumn("_rn", rn).withColumn(
        "_med6", F.max(F.when(F.col("_rn") == pos, F.col("_v6"))).over(wu)
    )
    d = m.withColumn("_dev6", F.abs(F.col("_v6") - F.col("_med6")))
    rn2 = F.row_number().over(
        Window.partitionBy("user_id").orderBy("_dev6", "trade_date")
    )
    mm = d.withColumn("_rn2", rn2).withColumn(
        "_mad6", F.max(F.when(F.col("_rn2") == pos, F.col("_dev6"))).over(wu)
    )
    return mm.select(
        "user_id",
        "trade_date",
        "px",
        (F.col("_med6").cast("double") / 1e6).alias("med"),
        (F.col("_mad6").cast("double") / 1e6).alias("mad"),
        (
            F.col("_dev6") * F.lit(10000)
            > F.lit(3) * F.lit(14826) * F.col("_mad6")
        ).alias("is_anomaly"),
    )


_E_MAD_SQL = f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS trade_date, {sql_davg('value')} AS px
  FROM events GROUP BY 1, 2),
b AS (
  SELECT user_id, trade_date, px,
         CAST(floor(px * 1e6 + 0.5) AS BIGINT) AS v6,
         count(*) OVER (PARTITION BY user_id) AS cnt,
         row_number() OVER (PARTITION BY user_id
             ORDER BY CAST(floor(px * 1e6 + 0.5) AS BIGINT), trade_date)
           AS rn
  FROM daily),
m AS (
  SELECT *, max(CASE WHEN rn = (cnt + 1) // 2 THEN v6 END)
              OVER (PARTITION BY user_id) AS med6
  FROM b),
d AS (
  SELECT *, abs(v6 - med6) AS dev6,
         row_number() OVER (PARTITION BY user_id
             ORDER BY abs(v6 - med6), trade_date) AS rn2
  FROM m),
mm AS (
  SELECT *, max(CASE WHEN rn2 = (cnt + 1) // 2 THEN dev6 END)
              OVER (PARTITION BY user_id) AS mad6
  FROM d)
SELECT user_id, trade_date, px,
       CAST(med6 AS DOUBLE) / 1e6 AS med,
       CAST(mad6 AS DOUBLE) / 1e6 AS mad,
       dev6 * 10000 > 3 * 14826 * mad6 AS is_anomaly
FROM mm ORDER BY user_id, trade_date
"""


def j_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join with tolerance — for every view event, the
    same user's NEXT purchase with ts >= view ts but no later than 7
    days (earliest wins; equal-timestamp ties break on the smallest
    event_id; out-of-tolerance matches yield NULLs — the abandoned
    funnel). The direction the backward pair (j_asof_orders) cannot
    express; same non-quadratic union + ordered-window-fill machinery
    (operators/joins.asof_join, direction="forward") — one shuffle, no
    range join. Nullable BIGINT match columns cast to DOUBLE on both
    engines (the x_scd2_history rule)."""
    ev = _t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
        F.col("value").alias("p_value"),
    )
    out = asof_join(
        views,
        buys,
        ["user_id"],
        "ts",
        "p_ts",
        direction="forward",
        tiebreak="p_id",
        tolerance="7 days",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("p_id_asof").cast("double").alias("next_purchase_id"),
        F.col("p_value_asof").alias("next_purchase_value"),
    )


_J_ASOF_FWD_SQL = """
SELECT v.event_id, v.user_id, v.ts,
       CAST(p.event_id AS DOUBLE) AS next_purchase_id,
       p.value AS next_purchase_value
FROM (SELECT * FROM events WHERE event_type = 'view') v
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON p.user_id = v.user_id AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 7 DAY
QUALIFY row_number() OVER (
    PARTITION BY v.event_id ORDER BY p.ts ASC, p.event_id ASC) = 1
ORDER BY v.event_id
"""


def d_dedup_removal_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup removal plan over the PERSISTED component
    decisions: for each source, how many docs sit in duplicate
    clusters, how many a keeper-wins delete would remove, and the
    character mass reclaimed — the go/no-go sheet a corpus owner signs
    before the 100 TB delete. Third consumer of the stored decision
    parquet (after the probe and the cluster-size report): the chain
    runs once per corpus version, every report is a cheap join of the
    decisions back to the docs."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    comp = _dup_components_persisted(spark, sf_dir)
    j = docs.join(comp, "doc_id", "left")
    removed = F.col("keeper_id").isNotNull() & (
        F.col("keeper_id") != F.col("doc_id")
    )
    agg = j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count("keeper_id").cast("long").alias("n_clustered"),
        F.sum(F.when(removed, 1).otherwise(0)).cast("long").alias("n_remove"),
        F.sum(F.when(removed, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("chars_removed"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_clustered",
        "n_remove",
        "chars_removed",
        (F.col("n_remove").cast("double") / F.col("n_docs").cast("double"))
        .alias("removal_rate"),
    )


def _dedup_removal_plan_sql() -> str:
    return f"""
WITH RECURSIVE {_components_ctes()},
j AS (
  SELECT d.doc_id, d.source, d.n_chars, c.keeper_id
  FROM documents d LEFT JOIN comp c USING (doc_id)),
agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(keeper_id) AS BIGINT) AS n_clustered,
         CAST(sum(CASE WHEN keeper_id IS NOT NULL AND keeper_id <> doc_id
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_remove,
         CAST(sum(CASE WHEN keeper_id IS NOT NULL AND keeper_id <> doc_id
                       THEN n_chars ELSE 0 END) AS BIGINT) AS chars_removed
  FROM j GROUP BY source)
SELECT source, n_docs, n_clustered, n_remove, chars_removed,
       CAST(n_remove AS DOUBLE) / CAST(n_docs AS DOUBLE) AS removal_rate
FROM agg ORDER BY source
"""



def x_t3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tillson T3 (10) over per-user daily closes: three nested
    generalized-DEMA stages = ONE six-state chained-EMA fold — the
    deepest EMA chain in the indicator family (operators/finance.t3_ma;
    dema/tema carry three states). Exact BIGINT states, v=0.7 GD
    coefficients as integer millis, one division at the end; the
    recursive-CTE oracle carries (e1..e6) with linear-size lateral
    aliases."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        t3_ma,
    )

    daily = _daily_ohlcv(spark, sf_dir).select(
        "user_id", "trade_date", "close"
    )
    return t3_ma(daily, ["user_id"], "trade_date", n=10)


def _t3_sql(n: int = 10) -> str:
    d = float(n + 1)
    steps = ",\n           ".join(
        f"p.e{k} + CAST(floor(2.0 * ({'c.v' if k == 1 else f'ne{k-1}'}"
        f" - p.e{k}) / {d}) AS BIGINT) AS ne{k}"
        for k in range(1, 7)
    )
    return f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_OHLCV}),
src AS (
  SELECT user_id, trade_date, close, {sql_u6("close")} AS v,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM daily),
st AS (
  SELECT user_id, trade_date, close, v, rn,
         v AS e1, v AS e2, v AS e3, v AS e4, v AS e5, v AS e6
  FROM src WHERE rn = 1
  UNION ALL
  SELECT user_id, trade_date, close, v, rn,
         ne1 AS e1, ne2 AS e2, ne3 AS e3, ne4 AS e4, ne5 AS e5, ne6 AS e6
  FROM (
    SELECT c.user_id, c.trade_date, c.close, c.v, c.rn,
           {steps}
    FROM src c JOIN st p ON c.user_id = p.user_id AND c.rn = p.rn + 1))
SELECT user_id, trade_date, close,
       CAST(-343 * e6 + 2499 * e5 - 6069 * e4 + 4913 * e3 AS DOUBLE) / 1e9
           AS t3
FROM st ORDER BY user_id, trade_date
"""


def s_stream_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Bloom membership screen: a fixed-size filter built once
    from the known-user corpus (even user_id), then EVERY event in the
    stream probes it via k=5 broadcast stream-static joins — the
    verdict is per-row columnar (no stateful op, no shuffle of the
    stream for the probe), and only the final daily known/unknown
    counts are a watermarked windowed aggregation. This is the 100 TB
    "route events by seen-before" shape: the sketch is <= m/32 rows
    whatever the corpus, and the salted-md5 positions replay exactly in
    the batch SQL oracle (operators/sketch.bloom_sketch; the
    streaming twin of d_bloom_membership, as s_stream_hll twins
    d_hll_users)."""
    import uuid

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.sketch import (
        _bloom_pos,
        bloom_sketch,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.streaming.pipeline import (
        events_stream_source,
    )

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import (
        stateful_partitions,
    )

    tune(spark)
    ev_b = _t(spark, sf_dir, "events")
    # build once, pin: the static side of a stream-static join is
    # re-evaluated every micro-batch otherwise
    sk = bloom_sketch(
        ev_b.filter(F.col("user_id") % 2 == 0), "user_id"
    ).localCheckpoint()
    k, m_bits = 5, 1 << 20
    with stateful_partitions(spark):
        probe = events_stream_source(spark, sf_dir).select(
            "event_id", "user_id", F.col("ts").alias("ts")
        ).withWatermark("ts", "1 day")
        known = F.col("user_id").isNotNull()
        for i in range(k):
            probe = probe.withColumn(
                f"_p{i}", _bloom_pos(F.col("user_id"), i, m_bits)
            ).withColumn(
                f"_w{i}", F.expr(f"_p{i} div 32").cast("long")
            ).withColumn(
                f"_t{i}", (F.col(f"_p{i}") % 32).cast("int")
            )
            ski = sk.select(
                F.col("word").alias(f"_w{i}"), F.col("bits").alias(f"_b{i}")
            )
            probe = probe.join(F.broadcast(ski), f"_w{i}", "left")
            known = known & (
                F.col(f"_b{i}").isNotNull()
                & (
                    F.col(f"_b{i}").bitwiseAND(
                        F.expr(f"shiftleft(CAST(1 AS BIGINT), _t{i})")
                    )
                    != 0
                )
            )
        agg = (
            probe.withColumn("known_user", known)
            .groupBy(F.window("ts", "1 day").alias("w"), "known_user")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
            .select(
                F.col("w.start").alias("bucket_start"),
                "known_user",
                "n_events",
            )
        )
        name = f"stream_bloom_{uuid.uuid4().hex[:8]}"
        with _scratch_ckpt() as ckpt:
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
    return spark.table(name)


_S_STREAM_BLOOM_SQL = """
WITH members AS (SELECT user_id FROM events WHERE user_id % 2 = 0),
pos AS (
  SELECT (CAST('0x' || substr(md5('bloom' || i || '|' || user_id), 1, 8)
          AS BIGINT) % 1048576) AS p
  FROM members, generate_series(0, 4) t(i)),
words AS (
  SELECT p // 32 AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
  FROM pos GROUP BY p // 32),
probe AS (
  SELECT event_id,
         (CAST('0x' || substr(md5('bloom' || i || '|' || user_id), 1, 8)
          AS BIGINT) % 1048576) AS p
  FROM events, generate_series(0, 4) t(i)),
hits AS (
  SELECT e.event_id,
         min(CASE WHEN w.bits IS NOT NULL
                   AND (w.bits & (CAST(1 AS BIGINT)
                                  << CAST(e.p % 32 AS INT))) <> 0
                  THEN 1 ELSE 0 END) AS hit
  FROM probe e LEFT JOIN words w ON w.word = e.p // 32
  GROUP BY e.event_id),
v AS (
  SELECT ev.ts, ev.user_id IS NOT NULL AND h.hit = 1 AS known_user
  FROM events ev JOIN hits h USING (event_id))
SELECT time_bucket(INTERVAL '1 day', ts, TIMESTAMP '2000-01-01 00:00:00')
           AS bucket_start,
       known_user,
       CAST(count(*) AS BIGINT) AS n_events
FROM v GROUP BY 1, 2 ORDER BY 1, 2
"""


def s_stream_emb_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SEMANTIC dedup — the SemDeDup/ANN analog of the
    MinHash ingest sink (VERDICT r9 ask #8): the even-tenth of the
    embeddings table (vec_id % 10 == 0) arrives as four id-monotone
    micro-batches; each batch probes the PERSISTED IVF index (centroids
    fit ONCE on the other 90% — the corpus — via the deterministic
    seeded k-means; assignments appended per batch, never re-assigned)
    and a vector is dropped iff it has a quantized-cosine ≥ 0.35
    near-dup in its OWN cell among everything seen before it (corpus ∪
    smaller-id stream vectors — all batch vectors index, so copies of
    dropped vectors are still caught). Because batches are id-monotone,
    the survivor set is batch-size-independent and the whole stream
    replays as one batch SQL statement: the oracle refits the same
    centroids (the _ivf_assign_ctes chain on the corpus subset),
    assigns both halves, and applies the same cell-local smaller-id
    rule (streaming/pipeline.emb_dedup_ingest_sink; the twelfth
    oracle-checked streaming query). Output: surviving (vec_id, cell)."""
    surv, _ = _run_emb_dedup_stream(spark, sf_dir, count_index=False)
    return surv


def _stream_emb_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once lifecycle for the streaming-ANN base index: seeded IVF
    (8 lists, 2 Lloyd iterations) fit on the CORPUS 90% of ``sf_dir``'s
    embeddings (vec_id % 10 != 0), persisted under ``_ann_index_dir``
    with assignments ``partitionBy(cell)`` so every probe (the streaming
    sink's per-batch screen, the drift recall report) prunes to touched
    cell partitions at the scan (round-10 VERDICT item 2). The corpus
    filter and the partition column are build parameters, so a layout
    change is a new location."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.similarity import (
        ivf_index,
    )

    fit = dict(n_lists=8, n_iter=2, dim=64)
    corpus_rule = "vec_id % 10 != 0"

    def build(tmp: str) -> None:
        corpus = _t(spark, sf_dir, "embeddings").filter(F.expr(corpus_rule))
        cdf, assignments = ivf_index(corpus, **fit)
        cdf.write.parquet(f"{tmp}/centroids")
        assignments.write.partitionBy("cell").parquet(f"{tmp}/assignments")

    return build_once(
        _ann_index_dir(
            sf_dir, "stream_emb", corpus=corpus_rule, partition="cell", **fit
        ),
        build,
    )


def _run_emb_dedup_stream(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 4,
    threshold: float = 0.35,
    count_index: bool = True,
) -> tuple[DataFrame, int]:
    """Shared runner for the streaming embedding dedup (query +
    batch-independence / index-growth tests): builds the persisted IVF
    index on the corpus 90%, streams the holdout 10% as ``n_batches``
    id-monotone files, and returns (survivors DataFrame pinned via
    localCheckpoint, final index row count)."""
    import os
    import shutil
    import tempfile

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.streaming.pipeline import (
        emb_dedup_ingest_sink,
    )

    tune(spark)
    emb = _t(spark, sf_dir, "embeddings")
    stream_set = emb.select("vec_id", "embedding").filter(
        F.col("vec_id") % 10 == 0
    )
    root = tempfile.mkdtemp(prefix="embdedup_")
    try:
        # the base IVF index is built ONCE per corpus version
        # (sources/persisted.build_once) and FILE-COPIED into the
        # run's scratch dir — the sink mutates its copy (appends every
        # batch), so the persisted base must stay immutable while the
        # per-run fit cost amortizes away (measured ~6 s of the 11 s
        # sf0.1 wall before this)
        base = _stream_emb_index(spark, sf_dir)
        shutil.copytree(f"{base}/centroids", f"{root}/index/centroids")
        shutil.copytree(
            f"{base}/assignments", f"{root}/index/assignments"
        )
        # id-MONOTONE batch files (contiguous id ranges) with strictly
        # increasing mtimes — the file source processes oldest first, so
        # the arrival order is the id order and the greedy smaller-id
        # rule is batch-boundary-free. All n files come out of ONE
        # partitionBy("_b") job (the batch tag replays the same
        # [lo, hi) ranges); the holdout scan is a single input split, so
        # each range directory holds exactly one part file — previously
        # this was n_batches separate repartition(1) write jobs.
        mx = stream_set.agg(F.max("vec_id")).collect()[0][0] or 0
        os.makedirs(f"{root}/in", exist_ok=True)
        bounds = [
            (mx + 1) * i // n_batches for i in range(n_batches + 1)
        ]
        tag = F.lit(n_batches - 1)
        for i in range(n_batches - 1, 0, -1):
            tag = F.when(F.col("vec_id") < bounds[i], i - 1).otherwise(tag)
        tmpd = f"{root}/parts"
        (
            stream_set.withColumn("_b", tag.cast("int"))
            .write.mode("overwrite")
            .partitionBy("_b")
            .parquet(tmpd)
        )
        for i in range(n_batches):
            bdir = os.path.join(tmpd, f"_b={i}")
            parts = [
                f for f in os.listdir(bdir) if f.endswith(".parquet")
            ] if os.path.isdir(bdir) else []
            dst = f"{root}/in/b{i}.parquet"
            if len(parts) == 1:
                shutil.move(os.path.join(bdir, parts[0]), dst)
            else:
                # multi-split scan (bigger-than-bench inputs): coalesce
                # this range to one file the slow-but-sure way
                lo, hi = bounds[i], bounds[i + 1]
                onep = f"{root}/part{i}"
                (
                    stream_set.filter(
                        (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
                    )
                    .repartition(1)
                    .write.mode("overwrite")
                    .parquet(onep)
                )
                part = next(
                    f for f in os.listdir(onep) if f.endswith(".parquet")
                )
                shutil.move(os.path.join(onep, part), dst)
            os.utime(dst, (1_600_000_000 + i * 10, 1_600_000_000 + i * 10))
        src = (
            spark.readStream.schema(stream_set.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/in")
        )
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import (
            stateful_partitions,
        )

        with stateful_partitions(spark), _scratch_ckpt() as ckpt:
            q = emb_dedup_ingest_sink(
                src,
                f"{root}/index",
                f"{root}/survivors",
                ckpt,
                threshold=threshold,
                available_now=True,
            )
            q.awaitTermination(300)
        # the index row count is a test-only observable (index-growth
        # invariants); the registry query discards it, so skip the
        # read+count job unless asked for
        n_index = (
            spark.read.parquet(f"{root}/index/assignments").count()
            if count_index
            else -1
        )
        # pin the result before the scratch dirs go away (bounded: the
        # surviving subset of the 10% holdout)
        surv = (
            spark.read.parquet(f"{root}/survivors")
            .select("vec_id", F.col("cell").cast("int").alias("cell"))
            .localCheckpoint()
        )
        return surv, n_index
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _s_stream_emb_dedup_sql(
    n_lists: int = 8, n_iter: int = 2, dim: int = 64, threshold: float = 0.35
) -> str:
    """Batch replay of the streaming embedding dedup: same seeded
    centroid fit on the corpus subset, same assignment for both halves,
    same quantized-cosine cell-local smaller-id rule."""
    d2 = (
        "list_dot_product(s.emb, s.emb) + list_dot_product(c.centroid, c.centroid)"
        " - 2.0 * list_dot_product(s.emb, c.centroid)"
    )
    ctes, cur = _ivf_assign_ctes(
        n_lists, n_iter, dim, where="WHERE vec_id % 10 <> 0"
    )
    ctes.append(
        "se AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))"
        " AS emb FROM embeddings WHERE vec_id % 10 = 0)"
    )
    ctes.append(f"""sn AS (
  SELECT vec_id, emb, cell FROM (
    SELECT s.vec_id, s.emb, c.cell,
           row_number() OVER (PARTITION BY s.vec_id
                              ORDER BY {d2} ASC, c.cell ASC) AS rn
    FROM se s CROSS JOIN {cur} c)
  WHERE rn = 1)""")
    quant = (
        "list_transform(emb, x -> floor(x * 1e6 + 0.5))"
    )
    ctes.append(f"""allq AS (
  SELECT vec_id, cell, {quant} AS qv,
         list_dot_product({quant}, {quant}) AS sq,
         (vec_id % 10 <> 0) AS is_corpus
  FROM (SELECT vec_id, emb, cell FROM af
        UNION ALL SELECT vec_id, emb, cell FROM sn))""")
    ctes.append(f"""dup AS (
  SELECT DISTINCT s.vec_id
  FROM allq s JOIN allq o ON o.cell = s.cell
  WHERE s.is_corpus = FALSE
    AND (o.is_corpus OR o.vec_id < s.vec_id)
    AND s.sq > 0 AND o.sq > 0
    AND list_dot_product(s.qv, o.qv) / (sqrt(s.sq) * sqrt(o.sq))
        >= {threshold})""")
    with_block = ",\n".join(ctes)
    return f"""
WITH {with_block}
SELECT vec_id, CAST(cell AS INT) AS cell
FROM sn WHERE vec_id NOT IN (SELECT vec_id FROM dup)
ORDER BY vec_id
"""


def s_emb_drift_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantizer-drift recall report for the STREAMING ANN index — the
    go/no-go metric for offline-rebuild cadence (round-10 VERDICT item
    3). ``emb_dedup_ingest_sink`` honestly documents that the stream
    lives with coarse-quantizer drift until an offline rebuild; this
    query makes that measurable, the way ``emb_ivf_recall`` did for
    probe width: near-dup recall of the cell-pruned screen (same cell
    as the persisted index, n_probe=1 — exactly the sink's screen) vs
    the EXACT all-pairs ground truth at the sink's threshold (0.35),
    at probe widths 1 (the sink's own screen) AND 2 (the widening
    knob), for two scenarios of the holdout stream (vec_id % 10 == 0):

    - ``baseline``: the raw vectors — distributed like the corpus the
      quantizer was fit on;
    - ``shifted``: a deterministic distribution shift (+0.25 on every
      coordinate — a bias toward the all-ones direction), simulating
      the drifted traffic a long-lived index actually serves.

    ``recall_probe1(shifted) << recall_probe1(baseline)`` is the
    rebuild trigger, and ``recall_probe2 - recall_probe1`` prices how
    much of the loss a wider screen buys back WITHOUT a rebuild (the
    interim mitigation). Scale shape: the ground truth is a GUARDED verification
    twin (broadcast holdout × corpus — explicit bounded sample, the
    d_minhash_recall convention), while the screen side is the same
    cell-equality the sink computes; both scenarios reuse the persisted
    cell-partitioned index (streaming/pipeline.py:326,
    operators/similarity.py ivf_index)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.similarity import (
        _as_double,
        _assign_cells,
        dot,
    )

    tune(spark)
    base = _stream_emb_index(spark, sf_dir)
    cents = spark.read.parquet(f"{base}/centroids")
    idx = spark.read.parquet(f"{base}/assignments")
    corpus_q = idx.select(
        F.col("cell").alias("_icell"),
        F.transform(
            "vec", lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast("double")
        ).alias("_qi"),
    ).withColumn("_si", dot(F.col("_qi"), F.col("_qi")))
    # EXPLICIT query sample (the d_minhash_recall convention): recall is
    # estimated on a deterministic 20% slice of the holdout (vec_id %
    # 100 < 20), so the exact ground truth stays LINEAR in corpus size —
    # the unsampled all-pairs twin grew quadratically (19.9 s at sf1 vs
    # 1.7 s at sf0.1). The sample is identical in both engines.
    hold = _t(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") % 10 == 0) & (F.col("vec_id") % 100 < 20)
    )
    q0 = hold.select(
        F.col("vec_id").alias("_vid"),
        _as_double(F.col("embedding")).alias("_x"),
    )

    def _scenario(qdf: DataFrame, label: str) -> DataFrame:
        # TWO nearest cells per query (same d2 + (d2, cell) tie rule as
        # _assign_cells, kept as a sorted top-2 slice): the report
        # prices the n_probe knob, not just the sink's n_probe=1 screen
        j = qdf.withColumn("_xx", dot(F.col("_x"), F.col("_x"))).join(
            F.broadcast(
                cents.withColumn("_cc", dot(F.col("centroid"), F.col("centroid")))
            )
        )
        scored = j.withColumn(
            "_d2",
            F.col("_xx") + F.col("_cc")
            - F.lit(2.0) * dot(F.col("_x"), F.col("centroid")),
        )
        a = scored.groupBy("_vid").agg(
            F.slice(
                F.sort_array(
                    F.collect_list(F.struct(F.col("_d2"), F.col("cell")))
                ),
                1,
                2,
            ).alias("_top"),
            # identical across the 8 candidate rows of a query, so the
            # "arbitrary" pick is value-deterministic
            F.first("_x").alias("_x"),
        )
        aq = a.select(
            F.col("_top")[0]["cell"].alias("_c1"),
            F.col("_top")[1]["cell"].alias("_c2"),
            F.transform(
                "_x",
                lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast("double"),
            ).alias("_qv"),
        ).withColumn("_sq", dot(F.col("_qv"), F.col("_qv")))
        cos = dot(F.col("_qv"), F.col("_qi")) / (
            F.sqrt(F.col("_sq")) * F.sqrt(F.col("_si"))
        )
        # holdout side broadcast (bounded explicit sample); the corpus
        # scan streams against it — the guarded exact-twin plan
        pairs = (
            corpus_q.join(F.broadcast(aq))
            .filter((F.col("_sq") > 0.0) & (F.col("_si") > 0.0))
            .filter(cos >= F.lit(0.35))
        )
        return pairs.agg(
            F.lit(label).alias("scenario"),
            F.count(F.lit(1)).cast("long").alias("n_true_pairs"),
            F.sum(
                F.when(F.col("_icell") == F.col("_c1"), 1).otherwise(0)
            )
            .cast("long")
            .alias("caught_probe1"),
            F.sum(
                F.when(
                    (F.col("_icell") == F.col("_c1"))
                    | (F.col("_icell") == F.col("_c2")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("caught_probe2"),
        )

    shifted = q0.select(
        "_vid",
        F.transform("_x", lambda x: x + F.lit(0.25)).alias("_x"),
    )
    rep = _scenario(q0, "baseline").unionByName(
        _scenario(shifted, "shifted")
    )
    rec = lambda c: F.when(  # noqa: E731
        F.col("n_true_pairs") > 0,
        F.col(c).cast("double") / F.col("n_true_pairs").cast("double"),
    )
    return rep.select(
        "scenario",
        "n_true_pairs",
        "caught_probe1",
        rec("caught_probe1").alias("recall_probe1"),
        "caught_probe2",
        rec("caught_probe2").alias("recall_probe2"),
    )


def _s_emb_drift_recall_sql(
    n_lists: int = 8, n_iter: int = 2, dim: int = 64, threshold: float = 0.35
) -> str:
    """Batch replay of the drift recall report: same seeded centroid
    fit on the corpus subset (the _ivf_assign_ctes chain), same raw-
    double top-2-nearest-centroid assignment for both holdout
    scenarios, same quantized-cosine ground truth and cell-membership
    screens at probe widths 1 and 2."""
    d2 = (
        "list_dot_product(s.emb, s.emb) + list_dot_product(c.centroid, c.centroid)"
        " - 2.0 * list_dot_product(s.emb, c.centroid)"
    )
    ctes, cur = _ivf_assign_ctes(
        n_lists, n_iter, dim, where="WHERE vec_id % 10 <> 0"
    )
    ctes.append(
        "hold AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))"
        " AS emb FROM embeddings WHERE vec_id % 10 = 0 AND vec_id % 100 < 20)"
    )
    ctes.append(
        "sc AS (SELECT 'baseline' AS scenario, vec_id, emb FROM hold"
        " UNION ALL SELECT 'shifted', vec_id,"
        " list_transform(emb, x -> x + 0.25) FROM hold)"
    )
    ctes.append(f"""qa AS (
  SELECT scenario, vec_id,
         max(CASE WHEN rn = 1 THEN cell END) AS c1,
         max(CASE WHEN rn = 2 THEN cell END) AS c2,
         max(CASE WHEN rn = 1 THEN emb END) AS emb
  FROM (
    SELECT s.scenario, s.vec_id, s.emb, c.cell,
           row_number() OVER (PARTITION BY s.scenario, s.vec_id
                              ORDER BY {d2} ASC, c.cell ASC) AS rn
    FROM sc s CROSS JOIN {cur} c)
  WHERE rn <= 2 GROUP BY 1, 2)""")
    ctes.append(
        "qq AS (SELECT scenario, c1, c2,"
        " list_transform(emb, x -> floor(x * 1e6 + 0.5)) AS qv FROM qa)"
    )
    ctes.append(
        "iq AS (SELECT cell,"
        " list_transform(emb, x -> floor(x * 1e6 + 0.5)) AS qv FROM af)"
    )
    ctes.append(f"""pairs AS (
  SELECT q.scenario,
         CASE WHEN i.cell = q.c1 THEN 1 ELSE 0 END AS caught1,
         CASE WHEN i.cell = q.c1 OR i.cell = q.c2 THEN 1 ELSE 0 END AS caught2
  FROM qq q CROSS JOIN iq i
  WHERE list_dot_product(q.qv, q.qv) > 0
    AND list_dot_product(i.qv, i.qv) > 0
    AND list_dot_product(q.qv, i.qv)
        / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(i.qv, i.qv)))
        >= {threshold})""")
    with_block = ",\n".join(ctes)
    return f"""
WITH {with_block}
SELECT scenario,
       CAST(count(*) AS BIGINT) AS n_true_pairs,
       CAST(sum(caught1) AS BIGINT) AS caught_probe1,
       CASE WHEN count(*) > 0
            THEN CAST(sum(caught1) AS DOUBLE) / CAST(count(*) AS DOUBLE)
            END AS recall_probe1,
       CAST(sum(caught2) AS BIGINT) AS caught_probe2,
       CASE WHEN count(*) > 0
            THEN CAST(sum(caught2) AS DOUBLE) / CAST(count(*) AS DOUBLE)
            END AS recall_probe2
FROM pairs GROUP BY scenario ORDER BY scenario
"""


def s_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental KMV maintenance on a real stream — the fifth
    sketch's merge law in motion (the KMV twin of s_stream_hll): the
    events table replays as 8 micro-batches; each batch's per-type
    bottom-k sketch merges into the running sketch table in
    foreachBatch (union, dedup, keep the k smallest — associative and
    commutative), so the final table is provably independent of how the
    input was batched and hash-matches the BATCH bottom-k SQL. This is
    the artifact a 100 TB pipeline stores per day to answer
    "distinct-user overlap between any two segments over any date
    range" without rescanning facts (e_kmv_type_overlap is the
    reader). Output: (event_type, rn, h) — the final sketches exploded
    in rank order."""
    import shutil
    import tempfile

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import (
        stateful_partitions,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.sketch import (
        kmv_group_sketch,
    )

    k = _KMV_K
    tune(spark)
    src_dir = tempfile.mkdtemp(prefix="kmv_stream_src_")
    ckpt_dir = tempfile.mkdtemp(prefix="ckpt_")
    try:
        _t(spark, sf_dir, "events").select(
            "event_type", "user_id"
        ).repartition(8).write.mode("overwrite").parquet(src_dir)
        stream = (
            spark.readStream.schema("event_type string, user_id long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        state: dict[str, DataFrame] = {}

        def _merge_batch(batch_df: DataFrame, _bid: int) -> None:
            sk = kmv_group_sketch(batch_df, ["event_type"], "user_id", k=k)
            if "s" in state:
                # bottom-k of the union in ONE aggregation: the input is
                # ≤ 2k hashes per type by construction (two packed
                # sketches), so the collect_set buffer is bounded and
                # slice(array_sort(...), 1, k) is exactly the
                # distinct→row_number≤k→sort_array chain this replaces —
                # one shuffle per merge instead of a distinct exchange
                # plus a window sort (operators keep the window form,
                # which spills; HERE the 2k bound makes the buffer safe)
                both = state["s"].unionByName(sk)
                sk = (
                    both.select("event_type", F.explode("hs").alias("_h"))
                    .groupBy("event_type")
                    .agg(
                        F.slice(
                            F.array_sort(F.collect_set("_h")), 1, k
                        ).alias("hs")
                    )
                )
            # the running sketch is <= n_types x k longs: checkpoint it
            # so lineage never chains across micro-batches
            state["s"] = sk.localCheckpoint()

        with stateful_partitions(spark):
            q = (
                stream.writeStream.foreachBatch(_merge_batch)
                .option("checkpointLocation", ckpt_dir)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
        return (
            state["s"]
            .select("event_type", F.posexplode("hs").alias("_p", "h"))
            .select(
                "event_type",
                (F.col("_p") + 1).cast("int").alias("rn"),
                "h",
            )
        )
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ckpt_dir, ignore_errors=True)


def _s_stream_kmv_sql(k: int = 64) -> str:
    return f"""
WITH du AS (
  SELECT DISTINCT event_type,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
           AS h
  FROM events WHERE user_id IS NOT NULL),
rk AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM du)
SELECT event_type, CAST(rn AS INTEGER) AS rn, h
FROM rk WHERE rn <= {k}
ORDER BY event_type, rn
"""


_FRESHNESS_MEMO: dict = {}


def _run_freshness_pipeline(
    spark: SparkSession,
    sf_dir: str,
    n_fetches: int = 4,
    use_memo: bool = False,
) -> tuple[DataFrame, dict]:
    """End-to-end streaming-freshness runner (round-10 VERDICT item 4;
    the streaming twin of ``etl_bronze_silver_500sym`` and the
    counterpart of the reference's one latency claim — '<2 min
    ingest→queryable', examples/README.md:110): raw-envelope files →
    ``read_raw_stream`` → ``streaming_silver`` → physical
    ``upsert_silver_sink`` (availableNow, one file per micro-batch) →
    silver read-back → daily OHLCV rollup refresh.

    The fixture side derives DETERMINISTIC envelopes from the events
    table (the o_bronze_roundtrip encode): events are collapsed to one
    candle per (user, second) — min value / min event_id, so the
    streaming dedup never faces an arbitrary-winner tie — and sliced
    into ``n_fetches`` CHRONOLOGICAL day-range files with ascending
    mtimes (the file source processes oldest first, so the 1-day
    watermark never classifies a later fetch as late). Returns
    (rollup DataFrame, stats) where stats carries the observed
    end-to-end wall (stream start → rollup materialized), row counts,
    and rows/sec — the freshness numbers, which are REAL measurements
    and therefore live in the un-hashed wall row + BENCH, never in the
    oracle-hashed rollup."""
    import os
    import shutil
    import tempfile
    import time as _time

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import (
        stateful_partitions,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.streaming.pipeline import (
        read_raw_stream,
        streaming_silver,
        upsert_silver_sink,
    )

    tune(spark)
    # one pipeline run can serve both registry rows (the hashed rollup
    # and the measured wall): the run always STORES its result, but only
    # the wall row READS it (use_memo=True) — if the correctness row
    # itself consumed the memo, a best-of-2 bench pass would record a
    # ~0 s second pass instead of the real pipeline wall
    memo_key = (spark.sparkContext.applicationId, sf_dir, n_fetches)
    if use_memo:
        hit = _FRESHNESS_MEMO.get(memo_key)
        if hit is not None:
            return hit
    ev = _t(spark, sf_dir, "events").filter(F.col("value") > 0)
    # 5 synthetic instruments (user_id % 5): the silver sink
    # partitions by (symbol_clean, dt), so symbol cardinality must be
    # poll-set-sized (the reference polls a handful of instruments),
    # not user-sized — 1500 users x 30 days of partition directories
    # turns the sink into a small-file explosion, and the measured
    # per-batch cost is dominated by DIRECTORY COMMITS of the dynamic
    # overwrite (invariant ~10 ms/dir whatever the row volume), so the
    # fixture keeps symbols x days at ~150. Collapse to one candle per
    # (symbol, second) — min value / min event_id — so the streaming
    # dedup key (symbol, timestamp_unix) never has an arbitrary winner.
    pc = ev.groupBy(
        (F.col("user_id") % 5).alias("sid"),
        F.unix_timestamp("ts").cast("long").alias("sec"),
    ).agg(
        F.min("value").alias("v"),
        F.min("event_id").alias("eid"),
        F.min(F.to_date("ts")).alias("d"),
    ).localCheckpoint()  # consumed twice: day-bounds agg + envelope build
    lo, hi = (
        pc.agg(F.min("d"), F.max("d")).collect()[0]
    )
    n_days = (hi - lo).days + 1
    fetch = (
        F.datediff(F.col("d"), F.lit(lo)) * n_fetches / F.lit(n_days)
    ).cast("int")
    sym = F.concat(F.lit("NSE:U"), F.col("sid"), F.lit("-EQ"))
    per_sym = (
        pc.withColumn("fetch", fetch)
        .groupBy("fetch", sym.alias("sym"))
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("sec").alias("o1"),
                            F.col("eid").alias("o2"),
                            F.array(
                                F.col("sec").cast("double"),
                                "v", "v", "v", "v",
                                F.col("eid").cast("double"),
                            ).alias("candle"),
                        )
                    )
                ),
                lambda s: s["candle"],
            ).alias("candles")
        )
    )
    # ONE FILE PER (fetch, symbol) — the shape of per-symbol poll
    # responses, and the parallelism lever: a multiLine JSON document
    # parses in a single task, so one monolithic envelope per fetch
    # serializes each micro-batch behind one parser thread (measured
    # ~0.5-1 s of every batch's addBatch); per-symbol files parse
    # n-symbols-wide instead
    envs = per_sym.select(
        "fetch",
        F.col("sym").alias("symfile"),
        F.create_map(
            F.col("sym"),
            F.struct(
                F.col("sym").alias("symbol"),
                F.lit("5").alias("resolution"),
                F.col("candles"),
                F.lit("2024-01-31T00:00:00Z").alias("timestamp"),
                F.create_map(F.lit("k"), F.lit("v")).alias("metadata"),
            ),
        ).alias("data"),
        F.map_from_entries(
            F.array(
                F.struct(F.lit("source"), F.lit("freshness-fixture"))
            )
        ).alias("metadata"),
    )
    root = tempfile.mkdtemp(prefix="freshness_")
    try:
        envs.write.partitionBy("fetch", "symfile").json(f"{root}/rawparts")
        os.makedirs(f"{root}/in", exist_ok=True)
        n_files = 0
        for k in range(n_fetches):
            fdir = f"{root}/rawparts/fetch={k}"
            if not os.path.isdir(fdir):
                continue
            for sdir in sorted(os.listdir(fdir)):
                pdir = os.path.join(fdir, sdir)
                if not os.path.isdir(pdir):
                    continue
                part = next(
                    f for f in os.listdir(pdir) if f.endswith(".json")
                )
                dst = f"{root}/in/f{k}_{n_files}.json"
                shutil.move(os.path.join(pdir, part), dst)
                # all of fetch k's files share one mtime: the file
                # source's oldest-first order = fetch order, and
                # maxFilesPerTrigger = n_symbols makes each trigger
                # exactly one chronological fetch
                os.utime(
                    dst, (1_600_000_000 + k * 10, 1_600_000_000 + k * 10)
                )
                n_files += 1
        # ingest -> queryable: the timed section starts when the stream
        # is handed the landed raw files and ends when the refreshed
        # rollup is materialized from the PHYSICAL silver table
        t0 = _time.perf_counter()
        with stateful_partitions(spark), _scratch_ckpt() as ckpt:
            q = upsert_silver_sink(
                streaming_silver(
                    read_raw_stream(
                        spark,
                        f"{root}/in",
                        max_files_per_trigger=max(1, n_files // n_fetches),
                    )
                ),
                f"{root}/silver",
                ckpt,
                available_now=True,
            )
            q.awaitTermination(300)
        silver = spark.read.parquet(f"{root}/silver")
        rollup = (
            silver.groupBy(
                "symbol_clean",
                F.to_date("timestamp_iso").alias("trade_date"),
            )
            .agg(
                F.min_by(
                    "open", F.struct("timestamp_unix", "volume")
                ).alias("first_value"),
                F.max_by(
                    "close", F.struct("timestamp_unix", "volume")
                ).alias("last_value"),
                F.max("high").alias("max_value"),
                F.min("low").alias("min_value"),
                F.count(F.lit(1)).alias("num_candles"),
            )
            .localCheckpoint()
        )
        local = rollup.collect()
        n_rollup = len(local)
        wall = _time.perf_counter() - t0
        # silver row count = sum of per-group candle counts: free from
        # the already-collected rollup, no second scan of the sink
        n_silver = sum(r["num_candles"] for r in local)
        stats = {
            "n_raw_files": n_files,
            "n_silver_rows": n_silver,
            "n_rollup_rows": n_rollup,
            "e2e_wall_sec": round(wall, 3),
            "rows_per_sec": round(n_silver / wall, 1) if wall > 0 else None,
        }
        _FRESHNESS_MEMO[memo_key] = (rollup, stats)
        return rollup, stats
    finally:
        shutil.rmtree(root, ignore_errors=True)


def s_stream_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest→queryable freshness, correctness half: the rolled-up
    output of the full streaming pipeline (raw envelope files →
    read_raw_stream → streaming_silver with watermarked exactly-once
    dedup → physical upsert_silver_sink via availableNow → silver
    read-back → daily OHLCV rollup). The oracle computes the same
    rollup directly from events, proving the whole streamed lifecycle
    is lossless; the measured wall/rows-per-sec live in the companion
    ``s_stream_freshness_wall`` row and in BENCH (timings are real
    measurements — they can never be value-hashed)."""
    rollup, _ = _run_freshness_pipeline(spark, sf_dir)
    return rollup


def s_stream_freshness_wall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest→queryable freshness, measurement half (rows-only driver
    check — timings are genuinely non-SQL-expressible): one row with
    the end-to-end wall (stream start → refreshed rollup materialized),
    silver row count, and rows/sec — the counterpart of the reference's
    '<2 min ingest→queryable' claim (examples/README.md:110), measured
    instead of asserted."""
    _, stats = _run_freshness_pipeline(spark, sf_dir, use_memo=True)
    return spark.createDataFrame(
        [
            (
                stats["n_raw_files"],
                stats["n_silver_rows"],
                stats["n_rollup_rows"],
                float(stats["e2e_wall_sec"]),
                float(stats["rows_per_sec"]),
            )
        ],
        "n_raw_files int, n_silver_rows bigint, n_rollup_rows bigint,"
        " e2e_wall_sec double, rows_per_sec double",
    )


_S_STREAM_FRESHNESS_SQL = """
WITH pc AS (
  SELECT user_id % 5 AS sid, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         min(value) AS v, min(event_id) AS eid,
         min(CAST(ts AS DATE)) AS d
  FROM events WHERE value > 0 GROUP BY 1, 2),
ranked AS (
  SELECT sid, d, v,
         row_number() OVER (PARTITION BY sid, d ORDER BY sec, eid) AS rf,
         row_number() OVER (PARTITION BY sid, d
                            ORDER BY sec DESC, eid DESC) AS rl
  FROM pc)
SELECT 'U' || CAST(sid AS VARCHAR) AS symbol_clean,
       d AS trade_date,
       max(CASE WHEN rf = 1 THEN v END) AS first_value,
       max(CASE WHEN rl = 1 THEN v END) AS last_value,
       max(v) AS max_value,
       min(v) AS min_value,
       count(*) AS num_candles
FROM ranked GROUP BY 1, 2
ORDER BY symbol_clean, trade_date
"""


def x_mcginley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McGinley Dynamic (10) over per-user daily closes — the
    THIRTEENTH recurrence family: the update divides by a quartic of
    the state's own distance from price (state-dependent nonlinear
    divisor; every prior family is state-affine). Double-state fold
    with a bit-portable oracle: the recurrence uses only IEEE +,−,×,÷
    in a fixed shape, so the recursive CTE replays it exactly — no
    micro-unit quantization needed (operators/finance.mcginley_dynamic
    documents why)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        mcginley_dynamic,
    )

    daily = _daily_ohlcv(spark, sf_dir).select(
        "user_id", "trade_date", "close"
    )
    return mcginley_dynamic(daily, ["user_id"], "trade_date", n=10)


_X_MCGINLEY_SQL = f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_OHLCV}),
src AS (
  SELECT user_id, trade_date, close,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM daily),
st AS (
  SELECT user_id, trade_date, close, rn, CAST(close AS DOUBLE) AS md
  FROM src WHERE rn = 1
  UNION ALL
  SELECT user_id, trade_date, close, rn, nmd AS md FROM (
    SELECT c.user_id, c.trade_date, c.close, c.rn,
           least(4.0, greatest(0.25, c.close / p.md)) AS q,
           q * q AS q2,
           greatest(1.0, 6.0 * (q2 * q2)) AS d,
           CASE WHEN p.md <= 0.0 THEN CAST(c.close AS DOUBLE)
                ELSE p.md + (c.close - p.md) / d END AS nmd
    FROM src c JOIN st p ON c.user_id = p.user_id AND c.rn = p.rn + 1))
SELECT user_id, trade_date, close, md AS mcginley
FROM st ORDER BY user_id, trade_date
"""



def x_vwap_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchored VWAP bands: the day-anchored VWAP plus/minus 2
    volume-weighted standard deviations — the institutional
    mean-reversion envelope on top of x_vwap_anchored. Three cumulative
    decimal sums (v, p·v, p²·v) on ONE per-(user, day) exchange+sort;
    the weighted variance is E[p²] − vwap² with every double op in the
    same shape on both engines (lateral-alias reuse in SQL = column
    reuse in Spark), one IEEE sqrt."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.to_date("ts").alias("trade_date"),
        F.unix_micros(F.col("ts")).alias("timestamp_unix"),
        F.col("value").alias("close"),
        F.expr("event_id % 100 + 1").cast("long").alias("volume"),
    )
    w = Window.partitionBy("user_id", "trade_date").orderBy(
        "timestamp_unix", "event_id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    dec = "decimal(38,6)"
    sv = F.sum("volume").over(w).cast("long")
    swv = F.sum((F.col("close") * F.col("volume")).cast(dec)).over(w).cast(
        "double"
    )
    swv2 = (
        F.sum((F.col("close") * F.col("close") * F.col("volume")).cast(dec))
        .over(w)
        .cast("double")
    )
    staged = ev.select(
        "user_id",
        "trade_date",
        "event_id",
        "timestamp_unix",
        "close",
        sv.alias("_sv"),
        swv.alias("_swv"),
        swv2.alias("_swv2"),
    ).withColumn("vwap", F.col("_swv") / F.col("_sv"))
    var = F.col("_swv2") / F.col("_sv") - F.col("vwap") * F.col("vwap")
    sd = F.when(var > F.lit(0.0), F.sqrt(var)).otherwise(F.lit(0.0))
    return (
        staged.withColumn("_sd", sd)
        .select(
            "user_id",
            "trade_date",
            "event_id",
            "timestamp_unix",
            "close",
            "vwap",
            (F.col("vwap") + F.lit(2.0) * F.col("_sd")).alias("vwap_upper"),
            (F.col("vwap") - F.lit(2.0) * F.col("_sd")).alias("vwap_lower"),
        )
    )


_X_VWAP_BANDS_SQL = """
WITH src AS (
  SELECT user_id, CAST(ts AS DATE) AS trade_date, event_id,
         epoch_us(ts) AS timestamp_unix, value AS close,
         event_id % 100 + 1 AS volume
  FROM events),
c AS (
  SELECT user_id, trade_date, event_id, timestamp_unix, close,
         CAST(sum(volume) OVER w AS BIGINT) AS sv,
         CAST(sum(CAST(close * volume AS DECIMAL(38,6))) OVER w AS DOUBLE)
             AS swv,
         CAST(sum(CAST(close * close * volume AS DECIMAL(38,6))) OVER w
              AS DOUBLE) AS swv2
  FROM src
  WINDOW w AS (PARTITION BY user_id, trade_date
               ORDER BY timestamp_unix, event_id
               ROWS UNBOUNDED PRECEDING)),
s AS (
  SELECT user_id, trade_date, event_id, timestamp_unix, close,
         swv / sv AS vwap,
         CASE WHEN swv2 / sv - (swv / sv) * (swv / sv) > 0.0
              THEN sqrt(swv2 / sv - (swv / sv) * (swv / sv))
              ELSE 0.0 END AS sd
  FROM c)
SELECT user_id, trade_date, event_id, timestamp_unix, close, vwap,
       vwap + 2.0 * sd AS vwap_upper,
       vwap - 2.0 * sd AS vwap_lower
FROM s ORDER BY user_id, timestamp_unix, event_id
"""


def x_elder_impulse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elder Impulse System over per-user daily bars: bar color from the
    EMA(13) slope AND the MACD(12,26,9) histogram slope — both rising =
    green, both falling = red, mixed = blue. One four-state integer
    fold (operators/finance.elder_impulse_states — the signal line is
    an EMA over the DERIVED macd series, chained in the same pass),
    then two keyed lags for the label; the oracle is a 4-state
    recursive CTE plus the same lag CASE."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        elder_impulse_states,
    )

    daily = _daily_ohlcv(spark, sf_dir).select(
        "user_id", "trade_date", "close"
    )
    st = elder_impulse_states(daily, ["user_id"], "trade_date")
    w = Window.partitionBy("user_id").orderBy("trade_date")
    rising = F.coalesce(
        (F.col("ema13") > F.lag("ema13").over(w))
        & (F.col("hist") > F.lag("hist").over(w)),
        F.lit(False),
    )
    falling = F.coalesce(
        (F.col("ema13") < F.lag("ema13").over(w))
        & (F.col("hist") < F.lag("hist").over(w)),
        F.lit(False),
    )
    impulse = (
        F.when(rising, F.lit("green"))
        .when(falling, F.lit("red"))
        .otherwise(F.lit("blue"))
    )
    return st.select(
        "user_id",
        "trade_date",
        "close",
        "ema13",
        "macd",
        "hist",
        impulse.alias("impulse"),
    )


def _elder_impulse_sql() -> str:
    return f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_OHLCV}),
src AS (
  SELECT user_id, trade_date, close, {sql_u6("close")} AS v,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM daily),
st AS (
  SELECT user_id, trade_date, close, v, rn,
         v AS e13, v AS e12, v AS e26, CAST(0 AS BIGINT) AS sig
  FROM src WHERE rn = 1
  UNION ALL
  SELECT user_id, trade_date, close, v, rn,
         ne13 AS e13, ne12 AS e12, ne26 AS e26, nsig AS sig
  FROM (
    SELECT c.user_id, c.trade_date, c.close, c.v, c.rn,
           p.e13 + CAST(floor(2.0 * (c.v - p.e13) / 14.0) AS BIGINT) AS ne13,
           p.e12 + CAST(floor(2.0 * (c.v - p.e12) / 13.0) AS BIGINT) AS ne12,
           p.e26 + CAST(floor(2.0 * (c.v - p.e26) / 27.0) AS BIGINT) AS ne26,
           p.sig + CAST(floor(2.0 * ((ne12 - ne26) - p.sig) / 10.0)
                        AS BIGINT) AS nsig
    FROM src c JOIN st p ON c.user_id = p.user_id AND c.rn = p.rn + 1)),
o AS (
  SELECT user_id, trade_date, close,
         CAST(e13 AS DOUBLE) / 1e6 AS ema13,
         CAST(e12 - e26 AS DOUBLE) / 1e6 AS macd,
         CAST(e12 - e26 - sig AS DOUBLE) / 1e6 AS hist
  FROM st)
SELECT user_id, trade_date, close, ema13, macd, hist,
       CASE WHEN coalesce(ema13 > lag(ema13) OVER w
                      AND hist > lag(hist) OVER w, FALSE) THEN 'green'
            WHEN coalesce(ema13 < lag(ema13) OVER w
                      AND hist < lag(hist) OVER w, FALSE) THEN 'red'
            ELSE 'blue' END AS impulse
FROM o WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)
ORDER BY user_id, trade_date
"""


def e_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate burst screen: a user-day is a burst when its event
    count exceeds 3x the trailing 28-present-days mean AND at least 5
    events landed (the absolute floor keeps one-event days out of the
    denominator trap). The comparison is pure BIGINT cross-multiplied
    integers — cnt·n_prior > 3·sum_prior — so the flag is bit-identical
    cross-engine; the reported trailing_avg is one double division of
    exact integers."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("trade_date")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    w = Window.partitionBy("user_id").orderBy("trade_date")
    prior = w.rowsBetween(-28, -1)
    s = F.sum("n_events").over(prior).cast("long")
    c = F.count(F.lit(1)).over(prior).cast("long")
    burst = F.coalesce(
        (F.col("n_events") * c > F.lit(3) * s) & (F.col("n_events") >= 5),
        F.lit(False),
    )
    return daily.select(
        "user_id",
        "trade_date",
        "n_events",
        (s.cast("double") / c.cast("double")).alias("trailing_avg"),
        burst.alias("is_burst"),
    )


_E_BURST_SQL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS trade_date,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2),
c AS (
  SELECT user_id, trade_date, n_events,
         CAST(sum(n_events) OVER f AS BIGINT) AS s,
         CAST(count(*) OVER f AS BIGINT) AS c
  FROM daily
  WINDOW f AS (PARTITION BY user_id ORDER BY trade_date
               ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING))
SELECT user_id, trade_date, n_events,
       CAST(s AS DOUBLE) / CAST(c AS DOUBLE) AS trailing_avg,
       coalesce(n_events * c > 3 * s AND n_events >= 5, FALSE) AS is_burst
FROM c ORDER BY user_id, trade_date
"""


_CURVE_PCTS = [70, 80, 90, 95]


def d_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup aggressiveness curve: near-dup pair and affected-document
    counts at similarity thresholds 0.70/0.80/0.90/0.95 from ONE
    LSH+verify pass — candidates generated at the LOWEST threshold
    (recall holds for every higher one; the size-compatibility prune is
    output-preserving at >= 0.70), exact Jaccard computed once per
    candidate, then one conditional aggregate per statistic. The report
    a corpus owner reads to pick the threshold BEFORE committing to a
    100 TB dedup pass — estimated on an explicit 1/4 document sample
    BY DESIGN (the d_minhash_recall rule: estimation reports sample,
    production passes don't; a 0.70-banded candidate set over a
    template-heavy corpus is pair-mass-quadratic in corpus size, and
    the threshold decision needs ratios, not totals). All comparisons
    are integer (quantized j6 vs percent·10⁴)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
        minhash_group_rep_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    # DISTINCT-SET level, counted combinatorially: the member-level
    # expansion is quadratic in replica count (the sf1 build's 10x
    # exact-dup clusters turned it into a 348 s wall), but every member
    # pair's Jaccard is determined by its (group, group) rep pair — so
    # cross-group pairs count as m_a·m_b and within-group identity
    # pairs as C(m, 2), with no expansion materialized anywhere. The
    # oracle keeps the straightforward per-doc form.
    withg, rep_pairs = minhash_group_rep_pairs(
        docs.filter(F.col("doc_id") % 4 == 0), threshold=0.70
    )
    # the verified rep-pair set feeds THREE branches below (the pair-mass
    # aggregate and both sides of the per-group max union) — materialize
    # it once so the LSH verify (per-candidate array intersects) does not
    # re-run per branch (guide §5; withg is checkpointed by the operator)
    rep_pairs = rep_pairs.localCheckpoint()
    groups = withg.groupBy("_gid").agg(
        F.count(F.lit(1)).cast("long").alias("_m"),
        F.max("_sz").alias("_tok"),
    )
    rp = (
        rep_pairs.select(
            "_ga",
            "_gb",
            F.floor(F.col("jaccard") * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("_j6"),
        )
        .join(groups.select(F.col("_gid").alias("_ga"), F.col("_m").alias("_mA")), "_ga")
        .join(groups.select(F.col("_gid").alias("_gb"), F.col("_m").alias("_mB")), "_gb")
    )
    pair_agg = rp.agg(
        *[
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("_j6") >= p * 10000, F.col("_mA") * F.col("_mB")
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias(f"_p{p}")
            for p in _CURVE_PCTS
        ]
    )
    # per-group best cross-pair similarity, for the affected-doc count
    gmax = (
        rp.select(F.col("_ga").alias("_gid"), "_j6")
        .unionByName(rp.select(F.col("_gb").alias("_gid"), "_j6"))
        .groupBy("_gid")
        .agg(F.max("_j6").alias("_gj6"))
    )
    gfull = groups.join(gmax, "_gid", "left")
    intra_dup = (F.col("_m") >= 2) & (F.col("_tok") > 0)
    group_agg = gfull.agg(
        F.coalesce(
            F.sum(
                F.when(
                    intra_dup, F.expr("_m * (_m - 1) div 2")
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("_intra"),
        *[
            F.coalesce(
                F.sum(
                    F.when(
                        intra_dup | (F.col("_gj6") >= p * 10000), F.col("_m")
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias(f"_d{p}")
            for p in _CURVE_PCTS
        ],
    )
    stack = ", ".join(
        f"{p}, _p{p} + _intra, _d{p}" for p in _CURVE_PCTS
    )
    return (
        pair_agg.join(group_agg)
        .select(
            F.expr(
                f"stack({len(_CURVE_PCTS)}, {stack})"
                " AS (pct, n_pairs, n_docs)"
            )
        )
        .select(
            (F.col("pct").cast("double") / 100.0).alias("threshold"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("n_docs").cast("long").alias("n_docs"),
            # VERDICT r9 ask #6: the sampled nature of the estimate is
            # part of the result, not a docstring footnote — no silent
            # caps. 1/4 = the explicit doc_id % 4 == 0 sample above.
            F.lit(0.25).alias("sample_frac"),
        )
    )


def _threshold_curve_sql() -> str:
    pcts = ", ".join(str(p) for p in _CURVE_PCTS)
    return rf"""
WITH {_minhash_ctes(0.70, "WHERE doc_id % 4 = 0")},
verified AS (
  SELECT doc_a, doc_b,
         CAST(floor(CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE)
              / (len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts)))
              * 1e6 + 0.5) AS BIGINT) AS j6
  FROM cand JOIN t ta ON ta.doc_id = doc_a JOIN t tb ON tb.doc_id = doc_b
  WHERE CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE)
        / (len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts)))
        >= 0.70),
ks AS (SELECT unnest([{pcts}]) AS pct),
pa AS (
  SELECT pct, CAST(sum(CASE WHEN j6 >= pct * 10000 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_pairs
  FROM verified, ks GROUP BY pct),
ex AS (SELECT j6, unnest([doc_a, doc_b]) AS d FROM verified),
da AS (
  SELECT pct, CAST(count(DISTINCT CASE WHEN j6 >= pct * 10000 THEN d END)
                   AS BIGINT) AS n_docs
  FROM ex, ks GROUP BY pct)
SELECT CAST(pct AS DOUBLE) / 100.0 AS threshold, n_pairs, n_docs,
       CAST(0.25 AS DOUBLE) AS sample_frac
FROM pa JOIN da USING (pct) ORDER BY threshold
"""



def m_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling through the multimodal plumbing — the UDTF
    shape (one media row -> many frame rows) over Arrow mapInPandas,
    with documents wrapped as binary payloads (text_as_media) and the
    deterministic fake decoder (1 byte ~ 1 ms, frame digest =
    md5(payload + '@' + offset)). The oracle replays the sampling
    grid and digests in SQL, validating the binary round trip AND the
    row-expanding operator shape (operators/multimodal.frame_sample;
    the third driver-checked multimodal row after features and
    phash)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.multimodal import (
        frame_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    media = text_as_media(docs)
    return frame_sample(media, every_ms=1000, fake=True)


_M_FRAME_SQL = """
SELECT doc_id AS media_id,
       off AS frame_offset_ms,
       md5(text || '@' || off) AS frame_md5
FROM (
  SELECT doc_id, text,
         unnest(range(0, octet_length(CAST(text AS BLOB)), 1000)) AS off
  FROM documents)
ORDER BY media_id, frame_offset_ms
"""


def j_nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal NEAREST-neighbor join: for every view, the same user's
    closest purchase in time in EITHER direction — the attribution
    question ("which purchase does this view belong to") that neither
    the backward nor the forward as-of alone answers. Composes TWO
    asof_join passes (backward: latest <=, tie -> largest event id;
    forward: earliest >=, tie -> smallest) and picks the smaller
    absolute gap, preferring the backward match on exact distance ties
    — each pass is the non-quadratic union + ordered-window fill, so
    the whole join is two shuffles, no range join. Nullable BIGINT
    match ids cast to DOUBLE (the x_scd2_history rule)."""
    ev = _t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
        # asof_join keeps only VALUE columns of the matched row — carry
        # the timestamp as a value column too (the gap needs it)
        F.col("ts").alias("p_when"),
        F.col("event_id").alias("p_id"),
    )
    back = asof_join(
        views, buys, ["user_id"], "ts", "p_ts", direction="backward",
        tiebreak="p_id",
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.col("p_id_asof").alias("_bid"),
        F.col("p_when_asof").alias("_bts"),
    )
    fwd = asof_join(
        views, buys, ["user_id"], "ts", "p_ts", direction="forward",
        tiebreak="p_id",
    ).select(
        F.col("event_id"),
        F.col("p_id_asof").alias("_fid"),
        F.col("p_when_asof").alias("_fts"),
    )
    j = back.join(fwd, "event_id")
    db = F.unix_micros("ts") - F.unix_micros("_bts")
    df_ = F.unix_micros("_fts") - F.unix_micros("ts")
    pick_back = F.col("_bts").isNotNull() & (
        F.col("_fts").isNull() | (db <= df_)
    )
    nearest_id = F.when(pick_back, F.col("_bid")).otherwise(F.col("_fid"))
    gap = F.when(pick_back, -db).otherwise(df_)
    return j.select(
        "event_id",
        "user_id",
        "ts",
        nearest_id.cast("double").alias("nearest_purchase_id"),
        (gap.cast("double") / F.lit(1e6)).alias("gap_seconds"),
    )


_J_NEAREST_SQL = """
WITH views AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'view'),
buys AS (SELECT user_id, ts AS p_ts, event_id AS p_id FROM events
         WHERE event_type = 'purchase'),
back AS (
  SELECT v.event_id, v.user_id, v.ts, p.p_id AS bid, p.p_ts AS bts
  FROM views v LEFT JOIN buys p
    ON p.user_id = v.user_id AND p.p_ts <= v.ts
  QUALIFY row_number() OVER (PARTITION BY v.event_id
                             ORDER BY p.p_ts DESC, p.p_id DESC) = 1),
fwd AS (
  SELECT v.event_id, p.p_id AS fid, p.p_ts AS fts
  FROM views v LEFT JOIN buys p
    ON p.user_id = v.user_id AND p.p_ts >= v.ts
  QUALIFY row_number() OVER (PARTITION BY v.event_id
                             ORDER BY p.p_ts ASC, p.p_id ASC) = 1)
SELECT b.event_id, b.user_id, b.ts,
       CAST(CASE WHEN bts IS NOT NULL AND (fts IS NULL OR
                   epoch_us(b.ts) - epoch_us(bts)
                   <= epoch_us(fts) - epoch_us(b.ts))
                 THEN bid ELSE fid END AS DOUBLE) AS nearest_purchase_id,
       CAST(CASE WHEN bts IS NOT NULL AND (fts IS NULL OR
                   epoch_us(b.ts) - epoch_us(bts)
                   <= epoch_us(fts) - epoch_us(b.ts))
                 THEN -(epoch_us(b.ts) - epoch_us(bts))
                 ELSE epoch_us(fts) - epoch_us(b.ts) END AS DOUBLE) / 1e6
           AS gap_seconds
FROM back b JOIN fwd f USING (event_id)
ORDER BY b.event_id
"""


def d_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: near-duplicate pair counts at
    0.9 between every (source, source) pair — "which sources copy each
    other", the provenance question behind licensing and dedup-priority
    calls. Counted COMBINATORIALLY at the distinct-set level
    (minhash_group_rep_pairs + per-group source composition: identity
    pairs are m_s·m_s' across sources and C(m,2) within; cross-group
    pairs multiply the two groups' per-source counts), on the explicit
    50 % sample the estimation reports use — no member-level pair is
    ever materialized. Oracle: the straightforward per-doc form."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
        minhash_group_rep_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    sample = docs.filter(F.col("doc_id") % 2 == 0)
    withg, rep_pairs = minhash_group_rep_pairs(sample, threshold=0.9)
    # rep_pairs feeds the cross-pair double join; gs (from the withg
    # checkpoint) feeds three branches — materialize both once instead
    # of re-running the LSH verify / the per-group source rollup per
    # branch (guide §5)
    rep_pairs = rep_pairs.localCheckpoint()
    gs = (
        withg.join(
            sample.select(F.col("doc_id").alias("_id"), "source"), "_id"
        )
        .groupBy("_gid", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_m"),
            F.max("_sz").alias("_tok"),
        )
        .localCheckpoint()
    )
    # identity pairs inside one group (j = 1.0 by construction; empty
    # token sets never pair, mirroring the member-level expansion)
    ga, gb = gs.alias("a"), gs.alias("b")
    intra = (
        ga.join(
            gb,
            (F.col("a._gid") == F.col("b._gid"))
            & (F.col("a.source") <= F.col("b.source")),
        )
        .filter(F.col("a._tok") > 0)
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            F.when(
                F.col("a.source") == F.col("b.source"),
                F.expr("a._m * (a._m - 1) div 2"),
            )
            .otherwise(F.col("a._m") * F.col("b._m"))
            .cast("long")
            .alias("_n"),
        )
    )
    # cross-group pairs inherit the verified rep-pair similarity
    rp = rep_pairs.filter(F.col("jaccard") >= 0.9).select("_ga", "_gb")
    cross = (
        rp.join(
            gs.select(
                F.col("_gid").alias("_ga"),
                F.col("source").alias("_sa"),
                F.col("_m").alias("_ma"),
            ),
            "_ga",
        )
        .join(
            gs.select(
                F.col("_gid").alias("_gb"),
                F.col("source").alias("_sb"),
                F.col("_m").alias("_mb"),
            ),
            "_gb",
        )
        .select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
            (F.col("_ma") * F.col("_mb")).cast("long").alias("_n"),
        )
    )
    return (
        intra.unionByName(cross)
        .groupBy("source_a", "source_b")
        .agg(F.sum("_n").cast("long").alias("n_pairs"))
        # VERDICT r9 ask #6: surface the explicit doc_id % 2 == 0
        # sample in the output itself — no silent caps.
        .withColumn("sample_frac", F.lit(0.5))
    )


def _source_overlap_sql() -> str:
    return rf"""
WITH {_minhash_ctes(0.9, "WHERE doc_id % 2 = 0")},
verified AS (
  SELECT doc_a, doc_b
  FROM cand JOIN t ta ON ta.doc_id = doc_a JOIN t tb ON tb.doc_id = doc_b
  WHERE CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE)
        / (len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts)))
        >= 0.9),
srcd AS (SELECT doc_id, source FROM documents WHERE doc_id % 2 = 0)
SELECT least(sa.source, sb.source) AS source_a,
       greatest(sa.source, sb.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(0.5 AS DOUBLE) AS sample_frac
FROM verified v
JOIN srcd sa ON sa.doc_id = v.doc_a
JOIN srcd sb ON sb.doc_id = v.doc_b
GROUP BY 1, 2 ORDER BY 1, 2
"""



def o_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-fact join via BUCKETED layout: orders and
    lineitem written once bucketed+sorted by orderkey
    (sources/bucketed.ensure_bucketed — the write is the one-time
    shuffle, keyed on source size+mtime), then revenue per order
    priority joins the two bucketed tables with ZERO Exchange below the
    SortMergeJoin (`.explain`: Bucketed: true on both scans;
    tests/test_round9.py pins the plan shape). At 100 TB this is the
    difference between re-shuffling both fact tables on every join and
    never shuffling them again; the oracle is the plain join SQL — the
    layout changes the plan, never the rows."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.bucketed import (
        ensure_bucketed,
    )

    import os

    orders = ensure_bucketed(
        spark,
        _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        ),
        os.path.join(sf_dir, "orders.parquet"),
        "o_orderkey",
    )
    li = ensure_bucketed(
        spark,
        _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        os.path.join(sf_dir, "lineitem.parquet"),
        "l_orderkey",
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # merge hint: at bench scale AQE would broadcast the orders side
    # (valid, but it exercises nothing) — at 100 TB neither fact side
    # fits a broadcast and SMJ-over-buckets IS the plan; the hint makes
    # the demo deterministic so the plan test can pin zero Exchange
    # and zero Sort below the join
    return (
        li.join(
            orders.hint("merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(
            dsum(revenue, "revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
        )
    )


_O_BUCKETED_SQL = f"""
SELECT o_orderpriority,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""



def x_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive seasonal smoothing (period 7 — day-of-week
    seasonality) over per-user daily closes: level + trend + seasonal
    profile + one-step forecast, the full forecasting triple extending
    x_holt_linear (operators/finance.holt_winters). NINE BIGINT states
    per key (l, b, s0..s6), every division sign-branched; the oracle's
    recursive CTE updates exactly one seasonal column per row."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        holt_winters,
    )

    daily = _daily_ohlcv(spark, sf_dir).select(
        "user_id", "trade_date", "close"
    )
    return holt_winters(daily, ["user_id"], "trade_date", period=7)


def _holt_winters_sql(
    period: int = 7,
    alpha6: int = 300_000,
    gamma6: int = 100_000,
    delta6: int = 300_000,
) -> str:
    ca6 = 1_000_000 - alpha6
    cg6 = 1_000_000 - gamma6
    cd6 = 1_000_000 - delta6

    def sdiv(num: str) -> str:
        return (
            f"(CASE WHEN ({num}) >= 0 THEN ({num}) // 1000000"
            f" ELSE -((-({num})) // 1000000) END)"
        )

    def season_case(slot_expr: str, prefix: str) -> str:
        whens = " ".join(
            f"WHEN {j} THEN {prefix}s{j}" for j in range(period)
        )
        return f"CASE CAST({slot_expr} AS INT) {whens} END"

    slots = list(range(period))
    seed_s = ", ".join(f"CAST(0 AS BIGINT) AS s{j}" for j in slots)
    ns_cols = ",\n           ".join(
        f"CASE WHEN slot = {j} THEN snew ELSE p.s{j} END AS ns{j}"
        for j in slots
    )
    pass_s = ", ".join(f"ns{j} AS s{j}" for j in slots)
    return f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_OHLCV}),
g AS MATERIALIZED (
  SELECT user_id, trade_date, close,
         CAST(floor(close * 1e6 + 0.5) AS BIGINT) AS yu,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM daily),
st AS (
  SELECT user_id, rn, yu AS l, CAST(0 AS BIGINT) AS b, {seed_s}
  FROM g WHERE rn = 1
  UNION ALL
  SELECT user_id, rn, nl AS l, nb AS b, {pass_s}
  FROM (
    SELECT c.user_id, c.rn,
           CAST((c.rn - 1) % {period} AS INT) AS slot,
           {season_case("slot", "p.")} AS sold,
           {sdiv(f"{alpha6} * (c.yu - sold) + {ca6} * (p.l + p.b)")} AS nl,
           {sdiv(f"{gamma6} * (nl - p.l) + {cg6} * p.b")} AS nb,
           {sdiv(f"{delta6} * (c.yu - nl) + {cd6} * sold")} AS snew,
           {ns_cols}
    FROM g c JOIN st p ON c.user_id = p.user_id AND c.rn = p.rn + 1))
SELECT g.user_id, g.trade_date, g.close,
       CAST(st.l AS DOUBLE) / 1e6 AS level,
       CAST(st.b AS DOUBLE) / 1e6 AS trend,
       CAST({season_case("(st.rn - 1) % " + str(period), "st.")} AS DOUBLE)
           / 1e6 AS season,
       CAST(st.l + st.b
            + {season_case("st.rn % " + str(period), "st.")} AS DOUBLE)
           / 1e6 AS forecast
FROM g JOIN st ON g.user_id = st.user_id AND g.rn = st.rn
ORDER BY g.user_id, g.trade_date
"""



def x_holt_winters_mul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters MULTIPLICATIVE seasonal smoothing (period 7) over
    per-user daily closes — seasonality as a factor on the level, the
    standard fourth forecasting contender
    (operators/finance.holt_winters_multiplicative). The DIVISION-STATE
    fold shape: the update divides one evolving BIGINT state by another
    (y/s_old, y/l) — each a sign-branched integer division on clamped
    positive denominators, so the recursive-CTE oracle replays it
    bit-identically (VERDICT r9 ask #9)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        holt_winters_multiplicative,
    )

    daily = _daily_ohlcv(spark, sf_dir).select(
        "user_id", "trade_date", "close"
    )
    return holt_winters_multiplicative(
        daily, ["user_id"], "trade_date", period=7
    )


def _holt_winters_mul_sql(
    period: int = 7,
    alpha6: int = 300_000,
    gamma6: int = 100_000,
    delta6: int = 300_000,
) -> str:
    ca6 = 1_000_000 - alpha6
    cg6 = 1_000_000 - gamma6
    cd6 = 1_000_000 - delta6

    def sdiv(num: str, den: str = "1000000") -> str:
        return (
            f"(CASE WHEN ({num}) >= 0 THEN ({num}) // ({den})"
            f" ELSE -((-({num})) // ({den})) END)"
        )

    def season_case(slot_expr: str, prefix: str) -> str:
        whens = " ".join(
            f"WHEN {j} THEN {prefix}s{j}" for j in range(period)
        )
        return f"CASE CAST({slot_expr} AS INT) {whens} END"

    slots = list(range(period))
    seed_s = ", ".join(f"CAST(1000000 AS BIGINT) AS s{j}" for j in slots)
    ns_cols = ",\n           ".join(
        f"CASE WHEN slot = {j} THEN snew ELSE p.s{j} END AS ns{j}"
        for j in slots
    )
    pass_s = ", ".join(f"ns{j} AS s{j}" for j in slots)
    return f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_OHLCV}),
g AS MATERIALIZED (
  SELECT user_id, trade_date, close,
         CAST(floor(close * 1e6 + 0.5) AS BIGINT) AS yu,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM daily),
st AS (
  SELECT user_id, rn, yu AS l, CAST(0 AS BIGINT) AS b, {seed_s}
  FROM g WHERE rn = 1
  UNION ALL
  SELECT user_id, rn, nl AS l, nb AS b, {pass_s}
  FROM (
    SELECT c.user_id, c.rn,
           CAST((c.rn - 1) % {period} AS INT) AS slot,
           least(greatest({season_case("slot", "p.")}, 100000),
                 10000000) AS sold,
           {sdiv("c.yu * 1000000", "sold")} AS detr,
           {sdiv(f"{alpha6} * detr + {ca6} * (p.l + p.b)")} AS nl,
           {sdiv(f"{gamma6} * (nl - p.l) + {cg6} * p.b")} AS nb,
           least(greatest({sdiv("c.yu * 1000000", "greatest(nl, 1)")},
                          100000), 10000000) AS ratio,
           {sdiv(f"{delta6} * ratio + {cd6} * sold")} AS snew,
           {ns_cols}
    FROM g c JOIN st p ON c.user_id = p.user_id AND c.rn = p.rn + 1))
SELECT g.user_id, g.trade_date, g.close,
       CAST(st.l AS DOUBLE) / 1e6 AS level,
       CAST(st.b AS DOUBLE) / 1e6 AS trend,
       CAST({season_case("(st.rn - 1) % " + str(period), "st.")} AS DOUBLE)
           / 1e6 AS season,
       CAST({sdiv(
           "(st.l + st.b) * " + season_case("st.rn % " + str(period), "st.")
       )} AS DOUBLE) / 1e6 AS forecast
FROM g JOIN st ON g.user_id = st.user_id AND g.rn = st.rn
ORDER BY g.user_id, g.trade_date
"""


def x_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-model backtest — the evaluation layer for the
    forecasting family, as the recall reports are for ANN/dedup: per
    user, one-step-ahead MAE of the NAIVE (carry-forward), Holt
    (level+trend), additive Holt-Winters, multiplicative Holt-Winters
    and regime-conditional Holt (the 16th family) forecasters over the
    same daily series, plus the champion label. The eval set is the
    COMMON support (bars where every contender has a prior forecast —
    regime-holt starts on the first return-bearing bar, so evals start
    one bar later than the 4-contender version). Errors requantize to
    micro-unit BIGINTs BEFORE summing (every |y−ŷ| is a micro multiple,
    but micro multiples are not exact binary doubles — an integer sum
    is order-free where a double sum is not), so the report is
    bit-identical cross-engine; champions tie-break
    naive > holt > holt_winters > hw_mul > regime_holt (prefer the
    simpler model)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        holt_linear,
        holt_winters,
        holt_winters_multiplicative,
        regime_conditional_holt,
    )

    # ONE daily rollup for all five contenders: the four fold operators
    # each project different columns before their repartition, so
    # ReuseExchange cannot unify the branches and the plan re-ran the
    # events scan + two-level rollup once per contender (4 scans + 8
    # SortAggregates in the r12 before-plan). The checkpointed rollup is
    # keys x days rows — bounded — and every branch now starts from it.
    daily = (
        _daily_ohlcv(spark, sf_dir)
        .select("user_id", "trade_date", "close")
        .localCheckpoint()
    )
    h = holt_linear(daily, ["user_id"], "trade_date").select(
        "user_id", "trade_date", "close", F.col("forecast").alias("_fh")
    )
    w = holt_winters(daily, ["user_id"], "trade_date", period=7).select(
        "user_id", "trade_date", F.col("forecast").alias("_fw")
    )
    m = holt_winters_multiplicative(
        daily, ["user_id"], "trade_date", period=7
    ).select("user_id", "trade_date", F.col("forecast").alias("_fm"))
    winp = Window.partitionBy("user_id").orderBy("trade_date")
    rin = (
        daily.filter(F.col("close") > 0)
        .withColumn(
            "_ret", F.col("close") / F.lag("close").over(winp) - F.lit(1.0)
        )
        .filter(F.col("_ret").isNotNull() & (F.abs("_ret") <= 10.0))
        .select(
            "user_id",
            "trade_date",
            "close",
            F.floor(F.col("_ret") * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("ret6"),
        )
        .localCheckpoint()
    )
    rh = regime_conditional_holt(rin, ["user_id"], "trade_date").select(
        "user_id", "trade_date", F.col("forecast").alias("_fr")
    )
    j = (
        h.join(w, ["user_id", "trade_date"])
        .join(m, ["user_id", "trade_date"])
        .join(rh, ["user_id", "trade_date"])
    )
    win = Window.partitionBy("user_id").orderBy("trade_date")

    def err6(pred) -> "F.Column":
        return F.floor(
            F.abs(F.col("close") - pred) * 1e6 + F.lit(0.5)
        ).cast("long")

    staged = j.select(
        "user_id",
        err6(F.lag("close").over(win)).alias("_en"),
        err6(F.lag("_fh").over(win)).alias("_eh"),
        err6(F.lag("_fw").over(win)).alias("_ew"),
        err6(F.lag("_fm").over(win)).alias("_em"),
        err6(F.lag("_fr").over(win)).alias("_er"),
    ).filter(F.col("_en").isNotNull())
    agg = staged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_evals"),
        F.sum("_en").cast("long").alias("_sn"),
        F.sum("_eh").cast("long").alias("_sh"),
        F.sum("_ew").cast("long").alias("_sw"),
        F.sum("_em").cast("long").alias("_sm"),
        F.sum("_er").cast("long").alias("_sr"),
    )
    champion = (
        F.when(
            (F.col("_sn") <= F.col("_sh"))
            & (F.col("_sn") <= F.col("_sw"))
            & (F.col("_sn") <= F.col("_sm"))
            & (F.col("_sn") <= F.col("_sr")),
            F.lit("naive"),
        )
        .when(
            (F.col("_sh") <= F.col("_sw"))
            & (F.col("_sh") <= F.col("_sm"))
            & (F.col("_sh") <= F.col("_sr")),
            F.lit("holt"),
        )
        .when(
            (F.col("_sw") <= F.col("_sm")) & (F.col("_sw") <= F.col("_sr")),
            F.lit("holt_winters"),
        )
        .when(F.col("_sm") <= F.col("_sr"), F.lit("hw_mul"))
        .otherwise(F.lit("regime_holt"))
    )
    return agg.select(
        "user_id",
        "n_evals",
        (F.col("_sn").cast("double") / F.col("n_evals") / 1e6).alias(
            "mae_naive"
        ),
        (F.col("_sh").cast("double") / F.col("n_evals") / 1e6).alias(
            "mae_holt"
        ),
        (F.col("_sw").cast("double") / F.col("n_evals") / 1e6).alias(
            "mae_holt_winters"
        ),
        (F.col("_sm").cast("double") / F.col("n_evals") / 1e6).alias(
            "mae_hw_mul"
        ),
        (F.col("_sr").cast("double") / F.col("n_evals") / 1e6).alias(
            "mae_regime_holt"
        ),
        champion.alias("champion"),
    )


def _forecast_backtest_sql() -> str:
    holt = _holt_sql().strip().rstrip()
    hw = _holt_winters_sql().strip().rstrip()
    hwm = _holt_winters_mul_sql().strip().rstrip()
    rh = _x_regime_holt_sql().strip().rstrip()
    return f"""
WITH h AS ({holt}),
w AS ({hw}),
x AS ({hwm}),
g AS ({rh}),
j AS (
  SELECT h.user_id, h.trade_date, h.close,
         lag(h.close) OVER win AS pn,
         lag(h.forecast) OVER win AS ph,
         lag(w.forecast) OVER win AS pw,
         lag(x.forecast) OVER win AS pm,
         lag(g.forecast) OVER win AS pr
  FROM h JOIN w ON h.user_id = w.user_id AND h.trade_date = w.trade_date
         JOIN x ON h.user_id = x.user_id AND h.trade_date = x.trade_date
         JOIN g ON h.user_id = g.user_id AND h.trade_date = g.trade_date
  WINDOW win AS (PARTITION BY h.user_id ORDER BY h.trade_date)),
e AS (
  SELECT user_id,
         CAST(floor(abs(close - pn) * 1e6 + 0.5) AS BIGINT) AS en,
         CAST(floor(abs(close - ph) * 1e6 + 0.5) AS BIGINT) AS eh,
         CAST(floor(abs(close - pw) * 1e6 + 0.5) AS BIGINT) AS ew,
         CAST(floor(abs(close - pm) * 1e6 + 0.5) AS BIGINT) AS em,
         CAST(floor(abs(close - pr) * 1e6 + 0.5) AS BIGINT) AS er
  FROM j WHERE pn IS NOT NULL),
agg AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_evals,
         CAST(sum(en) AS BIGINT) AS sn,
         CAST(sum(eh) AS BIGINT) AS sh,
         CAST(sum(ew) AS BIGINT) AS sw,
         CAST(sum(em) AS BIGINT) AS sm,
         CAST(sum(er) AS BIGINT) AS sr
  FROM e GROUP BY user_id)
SELECT user_id, n_evals,
       CAST(sn AS DOUBLE) / n_evals / 1e6 AS mae_naive,
       CAST(sh AS DOUBLE) / n_evals / 1e6 AS mae_holt,
       CAST(sw AS DOUBLE) / n_evals / 1e6 AS mae_holt_winters,
       CAST(sm AS DOUBLE) / n_evals / 1e6 AS mae_hw_mul,
       CAST(sr AS DOUBLE) / n_evals / 1e6 AS mae_regime_holt,
       CASE WHEN sn <= sh AND sn <= sw AND sn <= sm AND sn <= sr THEN 'naive'
            WHEN sh <= sw AND sh <= sm AND sh <= sr THEN 'holt'
            WHEN sw <= sm AND sw <= sr THEN 'holt_winters'
            WHEN sm <= sr THEN 'hw_mul'
            ELSE 'regime_holt' END AS champion
FROM agg ORDER BY user_id
"""




# ---------------------------------------------------------------------------
# Round-10 newcomers
# ---------------------------------------------------------------------------


def x_amihud_illiquidity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amihud (2002) illiquidity: monthly mean of |daily return| per
    unit of daily dollar volume, per user — the classic price-impact
    proxy ("how much does one currency unit of flow move the price").
    Exactness: |ret| and close quantize to micro-units, dollar volume is
    the exact BIGINT close6·volume, and the per-day ratio is ONE
    integer division at 1e9 scale (nonnegative operands — floor and
    truncation agree), so the monthly mean is an order-free integer sum.
    Returns capped at |ret| <= 10 (the event_study convention)."""
    daily = _daily_ohlcv(spark, sf_dir).select(
        "user_id", "trade_date", "close", "volume"
    ).filter(F.col("close") > 0)
    win = Window.partitionBy("user_id").orderBy("trade_date")
    ret = F.col("close") / F.lag("close").over(win) - F.lit(1.0)
    q = (
        daily.withColumn("_ret", ret)
        .filter(F.col("_ret").isNotNull() & (F.abs("_ret") <= 10.0))
        .select(
            "user_id",
            F.trunc("trade_date", "month").alias("month"),
            F.floor(F.abs("_ret") * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("_ret6"),
            (
                F.floor(F.col("close") * 1e6 + F.lit(0.5)).cast("long")
                * F.col("volume")
            ).alias("_dvol6"),
        )
        .withColumn(
            "_illiq9", F.expr("_ret6 * 1000000000 div _dvol6")
        )
    )
    return (
        q.groupBy("user_id", "month")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            (
                F.sum("_illiq9").cast("double")
                / F.count(F.lit(1))
                / F.lit(1e9)
            ).alias("illiq"),
        )
    )


_X_AMIHUD_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
r AS (
  SELECT user_id, trade_date, close, volume,
         close / lag(close) OVER (PARTITION BY user_id ORDER BY trade_date)
           - 1.0 AS ret
  FROM daily WHERE close > 0),
q AS (
  SELECT user_id, date_trunc('month', trade_date) AS month,
         (CAST(floor(abs(ret) * 1e6 + 0.5) AS BIGINT) * 1000000000)
           // (CAST(floor(close * 1e6 + 0.5) AS BIGINT) * volume) AS illiq9
  FROM r WHERE ret IS NOT NULL AND abs(ret) <= 10.0)
SELECT user_id, month, CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(illiq9) AS DOUBLE) / count(*) / 1e9 AS illiq
FROM q GROUP BY user_id, month ORDER BY user_id, month
"""


def x_rsi_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSI divergence screen over per-user daily closes: a BEARISH
    divergence day makes a new 14-day price high while RSI-14 stays
    under its own 14-day high (momentum not confirming), a BULLISH one
    mirrors at the lows. Pure keyed windows over the W5 RSI operator;
    both series quantize to micro-units before the max/min comparisons
    so the flags are integer-exact, and a day only qualifies once the
    trailing window holds 14 non-null RSI values. Output: only the
    divergence days."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.windows import (
        rsi,
    )

    daily = _daily_ohlcv(spark, sf_dir).select(
        "user_id", "trade_date", "close"
    )
    r = rsi(daily, ["user_id"], "trade_date", "close", n=14)
    w = Window.partitionBy("user_id").orderBy("trade_date")
    prevw = w.rowsBetween(-14, -1)
    st = r.select(
        "user_id",
        "trade_date",
        "close",
        F.floor(F.col("close") * 1e6 + F.lit(0.5)).cast("long").alias("_c6"),
        F.floor(F.col("rsi_14") * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("_r6"),
    )
    st = st.select(
        "user_id",
        "trade_date",
        "close",
        "_c6",
        "_r6",
        F.count("_r6").over(prevw).alias("_nh"),
        F.max("_c6").over(prevw).alias("_cmax"),
        F.min("_c6").over(prevw).alias("_cmin"),
        F.max("_r6").over(prevw).alias("_rmax"),
        F.min("_r6").over(prevw).alias("_rmin"),
    )
    bear = (F.col("_c6") > F.col("_cmax")) & (F.col("_r6") < F.col("_rmax"))
    bull = (F.col("_c6") < F.col("_cmin")) & (F.col("_r6") > F.col("_rmin"))
    return (
        st.filter((F.col("_nh") == 14) & F.col("_r6").isNotNull())
        .withColumn("bearish_div", bear)
        .withColumn("bullish_div", bull)
        .filter(F.col("bearish_div") | F.col("bullish_div"))
        .select(
            "user_id",
            "trade_date",
            "close",
            (F.col("_r6").cast("double") / 1e6).alias("rsi"),
            "bearish_div",
            "bullish_div",
        )
    )


_X_RSI_DIVERGENCE_SQL = f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
d AS (
  SELECT user_id, trade_date, close,
         close - lag(close) OVER (PARTITION BY user_id ORDER BY trade_date)
             AS delta
  FROM daily),
g AS (
  SELECT user_id, trade_date, close,
         count(delta) OVER w AS n_deltas,
         avg(CASE WHEN delta IS NOT NULL THEN
               CASE WHEN delta > 0 THEN delta ELSE 0.0 END END) OVER w
             AS avg_gain,
         avg(CASE WHEN delta IS NOT NULL THEN
               CASE WHEN delta < 0 THEN -delta ELSE 0.0 END END) OVER w
             AS avg_loss
  FROM d
  WINDOW w AS (PARTITION BY user_id ORDER BY trade_date
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
q AS (
  SELECT user_id, trade_date, close,
         CAST(floor(close * 1e6 + 0.5) AS BIGINT) AS c6,
         CAST(floor(CASE WHEN n_deltas < 14 THEN NULL
                         WHEN avg_loss = 0 THEN 100.0
                         ELSE 100.0 - 100.0 / (1.0 + avg_gain / avg_loss) END
                    * 1e6 + 0.5) AS BIGINT) AS r6
  FROM g),
st AS (
  SELECT user_id, trade_date, close, c6, r6,
         count(r6) OVER pw AS nh,
         max(c6) OVER pw AS cmax, min(c6) OVER pw AS cmin,
         max(r6) OVER pw AS rmax, min(r6) OVER pw AS rmin
  FROM q
  WINDOW pw AS (PARTITION BY user_id ORDER BY trade_date
                ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING))
SELECT user_id, trade_date, close,
       CAST(r6 AS DOUBLE) / 1e6 AS rsi,
       c6 > cmax AND r6 < rmax AS bearish_div,
       c6 < cmin AND r6 > rmin AS bullish_div
FROM st
WHERE nh = 14 AND r6 IS NOT NULL
  AND ((c6 > cmax AND r6 < rmax) OR (c6 < cmin AND r6 > rmin))
ORDER BY user_id, trade_date
"""


_VOL_CONE_HORIZONS = (5, 10, 21)


def x_vol_cone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volatility cone: per user and horizon h ∈ {5, 10, 21} trading
    days, the distribution (min / q25 / median / q75 / max) of the
    trailing-h realized volatility over the user's whole history — the
    chart desks use to judge whether current vol is rich or cheap for
    its horizon. Exactness: returns quantize to micro-units; each
    window variance is the exact integer h·Σr² − (Σr)²; the sqrt runs
    on bit-identical doubles and re-quantizes; and the five order
    statistics come from ONE sorted in-array pack per (user, horizon)
    with integer ceil positions ((n·k + 3) div 4) — discrete quantiles,
    no interpolation, engine-exact. The per-group array is bounded by
    the user's day count."""
    daily = _daily_ohlcv(spark, sf_dir).select(
        "user_id", "trade_date", "close"
    ).filter(F.col("close") > 0)
    win = Window.partitionBy("user_id").orderBy("trade_date")
    ret = F.col("close") / F.lag("close").over(win) - F.lit(1.0)
    r = (
        daily.withColumn("_ret", ret)
        .filter(F.col("_ret").isNotNull() & (F.abs("_ret") <= 10.0))
        .select(
            "user_id",
            "trade_date",
            F.floor(F.col("_ret") * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("_r6"),
        )
    )
    cols = []
    for h in _VOL_CONE_HORIZONS:
        wh = Window.partitionBy("user_id").orderBy("trade_date").rowsBetween(
            -(h - 1), 0
        )
        cnt = F.count("_r6").over(wh)
        s1 = F.sum("_r6").over(wh)
        s2 = F.sum(F.col("_r6") * F.col("_r6")).over(wh)
        var = (F.lit(h) * s2 - s1 * s1).cast("double") / F.lit(
            float(h * (h - 1))
        )
        cols.append(
            F.when(cnt == h, F.floor(F.sqrt(var) + F.lit(0.5)).cast("long"))
            .alias(f"_v{h}")
        )
    st = r.select("user_id", *cols)
    stack = ", ".join(f"{h}, _v{h}" for h in _VOL_CONE_HORIZONS)
    packed = (
        st.select(
            "user_id",
            F.expr(
                f"stack({len(_VOL_CONE_HORIZONS)}, {stack})"
                " AS (horizon, vol6)"
            ),
        )
        .filter(F.col("vol6").isNotNull())
        .groupBy("user_id", "horizon")
        .agg(F.sort_array(F.collect_list("vol6")).alias("_a"))
        .withColumn("_n", F.size("_a"))
    )
    def _q(k: int):
        return F.element_at(
            "_a", ((F.col("_n") * k + F.lit(3)) / 4).cast("int")
        )
    return packed.select(
        "user_id",
        F.col("horizon").cast("int").alias("horizon"),
        F.col("_n").cast("long").alias("n_obs"),
        (F.element_at("_a", 1).cast("double") / 1e6).alias("vol_min"),
        (_q(1).cast("double") / 1e6).alias("vol_q25"),
        (_q(2).cast("double") / 1e6).alias("vol_med"),
        (_q(3).cast("double") / 1e6).alias("vol_q75"),
        (F.element_at("_a", F.col("_n")).cast("double") / 1e6).alias(
            "vol_max"
        ),
    )


def _vol_cone_sql() -> str:
    per_h = []
    for h in _VOL_CONE_HORIZONS:
        per_h.append(f"""
  SELECT user_id, {h} AS horizon,
         CASE WHEN count(r6) OVER w{h} = {h} THEN
           CAST(floor(sqrt(
             CAST({h} * sum(r6 * r6) OVER w{h}
                  - sum(r6) OVER w{h} * sum(r6) OVER w{h} AS DOUBLE)
             / {float(h * (h - 1))}) + 0.5) AS BIGINT)
         END AS vol6
  FROM r
  WINDOW w{h} AS (PARTITION BY user_id ORDER BY trade_date
                  ROWS BETWEEN {h - 1} PRECEDING AND CURRENT ROW)""")
    v = " UNION ALL ".join(f"SELECT * FROM ({q})" for q in per_h)
    return f"""
WITH daily AS ({_SQL_DAILY_OHLCV}),
rr AS (
  SELECT user_id, trade_date,
         close / lag(close) OVER (PARTITION BY user_id ORDER BY trade_date)
           - 1.0 AS ret
  FROM daily WHERE close > 0),
r AS (
  SELECT user_id, trade_date,
         CAST(floor(ret * 1e6 + 0.5) AS BIGINT) AS r6
  FROM rr WHERE ret IS NOT NULL AND abs(ret) <= 10.0),
v AS ({v}),
p AS (
  SELECT user_id, horizon, list_sort(list(vol6)) AS a, count(*) AS n
  FROM v WHERE vol6 IS NOT NULL GROUP BY user_id, horizon)
SELECT user_id, CAST(horizon AS INT) AS horizon,
       CAST(n AS BIGINT) AS n_obs,
       CAST(a[1] AS DOUBLE) / 1e6 AS vol_min,
       CAST(a[CAST((n * 1 + 3) // 4 AS INT)] AS DOUBLE) / 1e6 AS vol_q25,
       CAST(a[CAST((n * 2 + 3) // 4 AS INT)] AS DOUBLE) / 1e6 AS vol_med,
       CAST(a[CAST((n * 3 + 3) // 4 AS INT)] AS DOUBLE) / 1e6 AS vol_q75,
       CAST(a[CAST(n AS INT)] AS DOUBLE) / 1e6 AS vol_max
FROM p ORDER BY user_id, horizon
"""


def d_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length distribution report: exact discrete
    quantiles (p10/p25/p50/p75/p90) of the whitespace token count, per
    source — the first chart a corpus owner draws before setting Gopher
    length cuts, and the grouped twin of quantile_bucket's order-
    statistic cuts: ONE sorted in-array pack per source (bounded by
    docs-per-source), integer ceil positions, no interpolation,
    engine-exact."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.text import (
        tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    n_tok = F.size(tokens("text")).cast("long")
    packed = (
        docs.select("source", n_tok.alias("_t"))
        .groupBy("source")
        .agg(F.sort_array(F.collect_list("_t")).alias("_a"))
        .withColumn("_n", F.size("_a"))
    )
    def _pos(num: int, den: int):
        return F.element_at(
            "_a",
            ((F.col("_n") * num + F.lit(den - 1)) / den).cast("int"),
        )
    return packed.select(
        "source",
        F.col("_n").cast("long").alias("n_docs"),
        F.element_at("_a", 1).alias("tok_min"),
        _pos(1, 10).alias("tok_p10"),
        _pos(1, 4).alias("tok_p25"),
        _pos(1, 2).alias("tok_p50"),
        _pos(3, 4).alias("tok_p75"),
        _pos(9, 10).alias("tok_p90"),
        F.element_at("_a", F.col("_n")).alias("tok_max"),
    )


_D_LENGTH_QUANTILES_SQL = rf"""
WITH t AS (
  SELECT source, CAST(len({_SQL_TOKS}) AS BIGINT) AS nt FROM documents),
p AS (
  SELECT source, list_sort(list(nt)) AS a, count(*) AS n
  FROM t GROUP BY source)
SELECT source, CAST(n AS BIGINT) AS n_docs,
       a[1] AS tok_min,
       a[CAST((n * 1 + 9) // 10 AS INT)] AS tok_p10,
       a[CAST((n * 1 + 3) // 4 AS INT)] AS tok_p25,
       a[CAST((n * 1 + 1) // 2 AS INT)] AS tok_p50,
       a[CAST((n * 3 + 3) // 4 AS INT)] AS tok_p75,
       a[CAST((n * 9 + 9) // 10 AS INT)] AS tok_p90,
       a[CAST(n AS INT)] AS tok_max
FROM p ORDER BY source
"""


def _zorder_terms(xcol: str, ycol: str, op: str, bits: int = 10) -> str:
    """``bits``-bit x ``bits``-bit Morton interleave as pure integer
    arithmetic — the same expression text modulo the integer-division
    operator (Spark ``div`` / DuckDB ``//``), so both engines compute
    identical z-values."""
    terms = []
    for i in range(bits):
        terms.append(f"(({xcol} {op} {1 << i}) % 2) * {4 ** i}")
        terms.append(f"(({ycol} {op} {1 << i}) % 2) * {2 * 4 ** i}")
    return " + ".join(terms)


def o_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER data skipping report — the lakehouse layout decision
    quantified: orders keyed by (custkey, order day) are binned into
    1024 buckets two ways — by Morton/Z-value (bit-interleaved 16+16-bit
    key, the multi-dimensional clustering Delta/Iceberg OPTIMIZE ZORDER
    applies) and by custkey ranges alone (the 1-D default) — and a
    2-D box predicate (a custkey band x a two-year date window) is
    tested against each bucket's min/max stats, exactly how file-level
    stats pruning works. Output: per-layout bucket counts, skipped
    buckets, and the scanned-row fraction — Z wins because BOTH
    dimensions localize. Pure integer arithmetic end to end (the
    interleave is explicit shift-free arithmetic identical in both
    engines); at 100 TB the buckets are parquet files and the skip is
    a scan-planner file prune, but the stats math is THIS."""
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("_x"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("_y"),
    )
    # normalize both dimensions to 10-bit ranks so the interleave mixes
    # HIGH-order bits of each key whatever its native range (a fixed-
    # width interleave of narrow keys leaves all the entropy in the low
    # bits and every row in one bucket); the two maxes are a one-row
    # broadcast scalar
    mx = orders.agg(
        F.max("_x").alias("_mx"), F.max("_y").alias("_my")
    )
    scaled = orders.crossJoin(F.broadcast(mx)).select(
        "_x",
        "_y",
        F.expr("_x * 1024 div (_mx + 1)").alias("_x10"),
        F.expr("_y * 1024 div (_my + 1)").alias("_y10"),
    )
    z = F.expr(_zorder_terms("_x10", "_y10", "div"))
    st = scaled.select(
        "_x",
        "_y",
        (z / 4096).cast("long").alias("_zb"),
        F.expr("_x10 div 4").alias("_lb"),
    )
    bx1, bx2 = 400, 700
    by1 = 365 * 3
    by2 = 365 * 5
    out = []
    for layout, bcol in (("zorder", "_zb"), ("linear", "_lb")):
        b = st.groupBy(F.col(bcol).alias("bucket")).agg(
            F.min("_x").alias("_minx"),
            F.max("_x").alias("_maxx"),
            F.min("_y").alias("_miny"),
            F.max("_y").alias("_maxy"),
            F.count(F.lit(1)).cast("long").alias("_n"),
        )
        overlap = (
            (F.col("_maxx") >= bx1)
            & (F.col("_minx") <= bx2)
            & (F.col("_maxy") >= by1)
            & (F.col("_miny") <= by2)
        )
        out.append(
            b.agg(
                F.lit(layout).alias("layout"),
                F.count(F.lit(1)).cast("long").alias("n_buckets"),
                F.sum(F.when(~overlap, 1).otherwise(0))
                .cast("long")
                .alias("n_skipped_buckets"),
                F.sum("_n").cast("long").alias("n_rows"),
                F.coalesce(F.sum(F.when(overlap, F.col("_n"))), F.lit(0))
                .cast("long")
                .alias("n_rows_scanned"),
            ).withColumn(
                "scan_frac",
                F.col("n_rows_scanned").cast("double")
                / F.col("n_rows").cast("double"),
            )
        )
    return out[0].unionByName(out[1])


def _zorder_skipping_sql() -> str:
    z = _zorder_terms("_x10", "_y10", "//")
    bx1, bx2, by1, by2 = 400, 700, 365 * 3, 365 * 5
    return f"""
WITH src AS (
  SELECT o_custkey AS _x,
         date_diff('day', DATE '1992-01-01', o_orderdate) AS _y
  FROM orders),
m AS (SELECT max(_x) AS _mx, max(_y) AS _my FROM src),
sc AS (
  SELECT _x, _y,
         _x * 1024 // (_mx + 1) AS _x10,
         _y * 1024 // (_my + 1) AS _y10
  FROM src, m),
st AS (
  SELECT _x, _y, ({z}) // 4096 AS _zb, _x10 // 4 AS _lb FROM sc),
b AS (
  SELECT 'zorder' AS layout, _zb AS bucket,
         min(_x) AS minx, max(_x) AS maxx,
         min(_y) AS miny, max(_y) AS maxy,
         count(*) AS n
  FROM st GROUP BY _zb
  UNION ALL
  SELECT 'linear' AS layout, _lb AS bucket,
         min(_x), max(_x), min(_y), max(_y), count(*)
  FROM st GROUP BY _lb)
SELECT layout,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(CASE WHEN NOT (maxx >= {bx1} AND minx <= {bx2}
                               AND maxy >= {by1} AND miny <= {by2})
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped_buckets,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(coalesce(sum(CASE WHEN maxx >= {bx1} AND minx <= {bx2}
                               AND maxy >= {by1} AND miny <= {by2}
                              THEN n END), 0) AS BIGINT) AS n_rows_scanned,
       CAST(coalesce(sum(CASE WHEN maxx >= {bx1} AND minx <= {bx2}
                               AND maxy >= {by1} AND miny <= {by2}
                              THEN n END), 0) AS DOUBLE)
         / CAST(sum(n) AS DOUBLE) AS scan_frac
FROM b GROUP BY layout ORDER BY layout
"""



def x_regime_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bull/bear regime segmentation over per-user daily returns: the
    online Viterbi forward pass of a sticky two-state HMM in MAX-PLUS
    integer arithmetic (operators/finance.regime_viterbi — the
    FIFTEENTH recurrence family; the fold combines states with max
    instead of a sum, the dynamic-programming algebra). Scores are
    BIGINT path sums of L1 emissions, so the recursive-CTE oracle
    replays them with greatest() bit-identically."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        regime_viterbi,
    )

    daily = _daily_ohlcv(spark, sf_dir).select(
        "user_id", "trade_date", "close"
    ).filter(F.col("close") > 0)
    win = Window.partitionBy("user_id").orderBy("trade_date")
    ret = F.col("close") / F.lag("close").over(win) - F.lit(1.0)
    r = (
        daily.withColumn("_ret", ret)
        .filter(F.col("_ret").isNotNull() & (F.abs("_ret") <= 10.0))
        .select(
            "user_id",
            "trade_date",
            F.floor(F.col("_ret") * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("ret6"),
        )
        # cut the lineage before the grouped-map fold: the fused
        # window->FlatMapGroupsInPandas plan measured 4x slower than
        # its parts (~10 s vs 2.4 s at sf0.1, AQE on or off) — same
        # consumed-once checkpoint rule as e_rfm_segments' pu
        .localCheckpoint()
    )
    return regime_viterbi(r, ["user_id"], "trade_date")


def x_regime_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regime-conditional Holt forecast over per-user daily closes —
    the SIXTEENTH recurrence family and the first COMPOSITE fold
    (operators/finance.regime_conditional_holt): each bar advances the
    max-plus Viterbi scores, decodes the causal bull/bear regime, and
    runs Holt's level/trend update with (α, γ) selected by that regime
    (fast-tracking in bulls, hard-smoothing in bears). The combined
    state (s_up, s_dn, l, b) is irreducible — a state machine consuming
    a state machine — and the oracle's recursive CTE carries all four
    BIGINT states with greatest() + a CASE on the score comparison."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        regime_conditional_holt,
    )

    daily = _daily_ohlcv(spark, sf_dir).select(
        "user_id", "trade_date", "close"
    ).filter(F.col("close") > 0)
    win = Window.partitionBy("user_id").orderBy("trade_date")
    ret = F.col("close") / F.lag("close").over(win) - F.lit(1.0)
    r = (
        daily.withColumn("_ret", ret)
        .filter(F.col("_ret").isNotNull() & (F.abs("_ret") <= 10.0))
        .select(
            "user_id",
            "trade_date",
            "close",
            F.floor(F.col("_ret") * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("ret6"),
        )
        # cut the lineage before the grouped-map fold (the fused
        # Window->FlatMapGroupsInPandas trap, see x_regime_viterbi)
        .localCheckpoint()
    )
    return regime_conditional_holt(r, ["user_id"], "trade_date")


def _x_regime_holt_sql(
    mu_up6: int = 1_000,
    mu_down6: int = -1_000,
    stay6: int = 50_000,
    alpha_up6: int = 400_000,
    gamma_up6: int = 150_000,
    alpha_dn6: int = 200_000,
    gamma_dn6: int = 50_000,
) -> str:
    """Recursive-CTE replay of the composite fold: the anchor seeds
    both state machines from bar 1; every step computes the new scores
    first (greatest), picks (α, γ) by their comparison (CASE), then the
    two branch-on-sign Holt divisions — four BIGINT states carried."""
    ca_up6 = 1_000_000 - alpha_up6
    cg_up6 = 1_000_000 - gamma_up6
    ca_dn6 = 1_000_000 - alpha_dn6
    cg_dn6 = 1_000_000 - gamma_dn6

    def sdiv(num: str) -> str:
        return (
            f"(CASE WHEN ({num}) >= 0 THEN ({num}) // 1000000"
            f" ELSE -((-({num})) // 1000000) END)"
        )

    l_num = (
        f"CASE WHEN q.su >= q.sd"
        f" THEN {alpha_up6} * q.yu + {ca_up6} * (q.l0 + q.b0)"
        f" ELSE {alpha_dn6} * q.yu + {ca_dn6} * (q.l0 + q.b0) END"
    )
    b_num = (
        f"CASE WHEN q2.su >= q2.sd"
        f" THEN {gamma_up6} * (q2.l - q2.l0) + {cg_up6} * q2.b0"
        f" ELSE {gamma_dn6} * (q2.l - q2.l0) + {cg_dn6} * q2.b0 END"
    )
    return f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_OHLCV}),
rr AS (
  SELECT user_id, trade_date, close,
         close / lag(close) OVER (PARTITION BY user_id ORDER BY trade_date)
           - 1.0 AS ret
  FROM daily WHERE close > 0),
r AS MATERIALIZED (
  SELECT user_id, trade_date, close,
         CAST(floor(close * 1e6 + 0.5) AS BIGINT) AS yu,
         CAST(floor(ret * 1e6 + 0.5) AS BIGINT) AS r6,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM rr WHERE ret IS NOT NULL AND abs(ret) <= 10.0),
st AS (
  SELECT user_id, rn,
         -abs(r6 - {mu_up6}) AS su, -abs(r6 - {mu_down6}) AS sd,
         yu AS l, CAST(0 AS BIGINT) AS b
  FROM r WHERE rn = 1
  UNION ALL
  SELECT q2.user_id, q2.rn, q2.su, q2.sd, q2.l, {sdiv(b_num)} AS b
  FROM (
    SELECT q.user_id, q.rn, q.su, q.sd, q.l0, q.b0, {sdiv(l_num)} AS l
    FROM (
      SELECT c.user_id, c.rn, c.yu,
             greatest(p.su + {stay6}, p.sd) - abs(c.r6 - {mu_up6}) AS su,
             greatest(p.sd + {stay6}, p.su) - abs(c.r6 - {mu_down6}) AS sd,
             p.l AS l0, p.b AS b0
      FROM r c JOIN st p ON c.user_id = p.user_id AND c.rn = p.rn + 1) q) q2)
SELECT r.user_id, r.trade_date, r.close, r.r6 AS ret6,
       CASE WHEN st.su >= st.sd THEN 0 ELSE 1 END AS regime,
       CAST(st.l AS DOUBLE) / 1e6 AS level,
       CAST(st.b AS DOUBLE) / 1e6 AS trend,
       CAST(st.l + st.b AS DOUBLE) / 1e6 AS forecast
FROM r JOIN st ON r.user_id = st.user_id AND r.rn = st.rn
ORDER BY r.user_id, r.trade_date
"""


_X_REGIME_VITERBI_SQL = f"""
WITH RECURSIVE daily AS ({_SQL_DAILY_OHLCV}),
rr AS (
  SELECT user_id, trade_date,
         close / lag(close) OVER (PARTITION BY user_id ORDER BY trade_date)
           - 1.0 AS ret
  FROM daily WHERE close > 0),
r AS MATERIALIZED (
  SELECT user_id, trade_date,
         CAST(floor(ret * 1e6 + 0.5) AS BIGINT) AS r6,
         row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
  FROM rr WHERE ret IS NOT NULL AND abs(ret) <= 10.0),
st AS (
  SELECT user_id, rn, -abs(r6 - 1000) AS su, -abs(r6 + 1000) AS sd
  FROM r WHERE rn = 1
  UNION ALL
  SELECT c.user_id, c.rn,
         greatest(p.su + 50000, p.sd) - abs(c.r6 - 1000),
         greatest(p.sd + 50000, p.su) - abs(c.r6 + 1000)
  FROM r c JOIN st p ON c.user_id = p.user_id AND c.rn = p.rn + 1)
SELECT r.user_id, r.trade_date, r.r6 AS ret6,
       CASE WHEN st.su >= st.sd THEN 0 ELSE 1 END AS regime,
       CAST(st.su - st.sd AS DOUBLE) / 1e6 AS margin
FROM r JOIN st ON r.user_id = st.user_id AND r.rn = st.rn
ORDER BY r.user_id, r.trade_date
"""



_HDR_PERMILLE = (500, 900, 990, 999)


def e_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-friendly quantile ESTIMATION over the event values via
    the HDR-histogram sketch (operators/sketch.hdr_sketch — the fourth
    mergeable sketch): log-spaced buckets with 16 linear sub-buckets
    per octave, ≤ 657 rows whatever the data volume, merge = one
    map-side-combinable groupBy. Reports p50/p90/p99/p99.9 as the
    EXACT VALUE BOUNDS of the covering bucket (guaranteed ≤ 1/16
    relative error — no silent precision claims: the report carries
    both edges, not a point estimate). The bucketing uses a generated
    integer comparison chain for the exponent (no FP log), so the
    sketch and the report replay exactly in SQL. At 100 TB this is the
    only quantile structure that aggregates in one bounded-state pass —
    the exact-percentile twin (e_percentiles) needs a per-group sort."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.sketch import (
        hdr_bucket_bounds,
        hdr_sketch,
    )

    ev = _t(spark, sf_dir, "events")
    v6 = F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("long")
    sk = hdr_sketch(ev.select(v6.alias("_v")), "_v")
    packed = sk.agg(
        F.sort_array(F.collect_list(F.struct("bucket", "cnt"))).alias("_h")
    ).select(
        "_h",
        F.aggregate(
            "_h", F.lit(0).cast("long"), lambda a, x: a + x["cnt"]
        ).alias("_n"),
    )

    ks = _HDR_PERMILLE

    def _step(acc, x):
        s2 = acc["s"] + x["cnt"]
        return F.struct(
            s2.alias("s"),
            *[
                F.coalesce(
                    acc[f"c{k}"],
                    F.when(
                        s2 * 1000 >= F.col("_n") * k, x["bucket"]
                    ),
                ).alias(f"c{k}")
                for k in ks
            ],
        )

    init = F.struct(
        F.lit(0).cast("long").alias("s"),
        *[F.lit(None).cast("int").alias(f"c{k}") for k in ks],
    )
    cuts = packed.select(
        "_n", F.aggregate("_h", init, _step).alias("_f")
    ).select(
        "_n", *[F.col("_f")[f"c{k}"].alias(f"c{k}") for k in ks]
    )
    stack = ", ".join(f"{k}, c{k}" for k in ks)
    rows = cuts.select(
        "_n",
        F.expr(f"stack({len(ks)}, {stack}) AS (pml, bucket)"),
    )
    lo, hi = hdr_bucket_bounds(F.col("bucket"))
    return rows.select(
        (F.col("pml").cast("double") / 1000.0).alias("pct"),
        (lo.cast("double") / 1e6).alias("est_lo"),
        (hi.cast("double") / 1e6).alias("est_hi"),
        F.col("_n").cast("long").alias("n_total"),
    )


def _hdr_quantiles_sql(max_e: int = 40) -> str:
    e_chain = "CASE " + " ".join(
        f"WHEN v6 >= {1 << e} THEN {e}"
        for e in range(max_e, 0, -1)
    ) + " ELSE 0 END"
    ks = _HDR_PERMILLE
    cuts = ", ".join(
        f"min(CASE WHEN ccum * 1000 >= n * {k} THEN bucket END) AS c{k}"
        for k in ks
    )
    unions = " UNION ALL ".join(
        f"SELECT {k} AS pml, c{k} AS bucket, n FROM cuts" for k in ks
    )
    return f"""
WITH v AS (
  SELECT CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v6 FROM events),
b AS (
  SELECT CASE WHEN v6 >= 1
              THEN ({e_chain}) * 16 + ((v6 * 16) >> ({e_chain})) - 16
              ELSE -1 END AS bucket
  FROM v),
sk AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY bucket),
c AS (
  SELECT bucket, cnt,
         sum(cnt) OVER (ORDER BY bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS ccum,
         sum(cnt) OVER () AS n
  FROM sk),
cuts AS (SELECT {cuts}, max(n) AS n FROM c),
r AS ({unions}),
bounds AS (
  SELECT pml, n,
         CASE WHEN bucket < 0 THEN 0
              ELSE ((CAST(1 AS BIGINT) << (bucket // 16))
                    * (16 + bucket % 16) + 15) // 16 END AS lo,
         CASE WHEN bucket < 0 THEN 0
              ELSE ((CAST(1 AS BIGINT) << ((bucket + 1) // 16))
                    * (16 + (bucket + 1) % 16) + 15) // 16 - 1 END AS hi
  FROM r)
SELECT CAST(pml AS DOUBLE) / 1000.0 AS pct,
       CAST(lo AS DOUBLE) / 1e6 AS est_lo,
       CAST(hi AS DOUBLE) / 1e6 AS est_hi,
       CAST(n AS BIGINT) AS n_total
FROM bounds ORDER BY pct
"""


_KMV_K = 64


def e_kmv_type_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-USER OVERLAP between every pair of event types via KMV
    (bottom-k / theta) sketches — the FIFTH mergeable sketch
    (operators/sketch.kmv_group_sketch), and the capability the HLL
    registers fundamentally lack: set INTERSECTION. Per type the sketch
    is the 64 smallest md5 hash values of its distinct users (bounded
    BIGINT array at any volume; merge = union + keep-smallest); per
    pair the theta rule (θ = min of the two thresholds, count shared
    hashes below θ, scale by 2^60/θ) estimates the common-user count,
    the merged sketch estimates the union, and their ratio estimates
    Jaccard. ``exact_common`` rides along from one distinct self-join
    so the report SHOWS the sketch error instead of asserting it.
    Deterministic md5 end-to-end, so even the estimates value-hash
    against the SQL replay."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.sketch import (
        kmv_estimate,
        kmv_group_sketch,
        kmv_theta,
    )

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.sketch import (
        kmv_hash,
    )
    from pyspark.sql import Window as W

    k = _KMV_K
    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    # ONE scan: the distinct (type, user, hash) reduction feeds both the
    # sketch build and the exact verification join (each further action
    # re-reads this ~|users x types|-row checkpoint, not the fact table)
    du = (
        ev.filter(F.col("user_id").isNotNull())
        .select(
            "event_type", "user_id", kmv_hash(F.col("user_id")).alias("_h")
        )
        .distinct()
        .localCheckpoint()
    )
    win = W.partitionBy("event_type").orderBy("_h")
    sk = (
        du.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") <= k)
        .groupBy("event_type")
        .agg(F.sort_array(F.collect_list("_h")).alias("hs"))
    )
    a = sk.select(F.col("event_type").alias("type_a"), F.col("hs").alias("ha"))
    b = sk.select(F.col("event_type").alias("type_b"), F.col("hs").alias("hb"))
    # few-row sketch table self-join (n_types^2 pairs) — tiny by design
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    theta = F.least(kmv_theta(F.col("ha"), k), kmv_theta(F.col("hb"), k))
    below = lambda col: F.filter(col, lambda h: h.cast("double") < F.col("_theta"))  # noqa: E731
    merged = F.slice(
        F.array_sort(F.array_union(F.col("ha"), F.col("hb"))), 1, k
    )
    est = pairs.withColumn("_theta", theta).select(
        "type_a",
        "type_b",
        kmv_estimate(F.col("ha"), k).alias("est_users_a"),
        kmv_estimate(F.col("hb"), k).alias("est_users_b"),
        (
            F.size(
                F.array_intersect(below(F.col("ha")), below(F.col("hb")))
            ).cast("double")
            * F.lit(float(1 << 60))
            / F.col("_theta")
        ).alias("est_common"),
        kmv_estimate(merged, k).alias("est_union"),
    )
    exact = (
        du.select("event_type", "user_id")
        .alias("x")
        .join(
            du.select("event_type", "user_id").alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("exact_common"))
    )
    return (
        est.join(exact, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "est_users_a",
            "est_users_b",
            "est_common",
            "est_union",
            (F.col("est_common") / F.col("est_union")).alias("est_jaccard"),
            F.coalesce("exact_common", F.lit(0)).alias("exact_common"),
        )
    )


def _kmv_overlap_sql(k: int = 256) -> str:
    """SQL replay of the KMV pair report: same md5 bottom-k per type
    (row_number over distinct hashes), same theta rule, same 2^60/θ
    scaling — list ops mirror Spark's array_intersect/array_union by
    SIZE only, which is order-independent."""
    space = "1152921504606846976"  # 2^60 exact integer literal
    est = (
        lambda l: f"CASE WHEN len({l}) >= {k} THEN"
        f" CAST({(k - 1) * (1 << 60)} AS DOUBLE) / CAST({l}[{k}] AS DOUBLE)"
        f" ELSE CAST(len({l}) AS DOUBLE) END"
    )
    return f"""
WITH du AS (
  SELECT DISTINCT event_type,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
           AS h
  FROM events WHERE user_id IS NOT NULL),
rk AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM du),
sk AS (
  SELECT event_type, list_sort(list(h)) AS hs
  FROM rk WHERE rn <= {k} GROUP BY event_type),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.hs AS ha, b.hs AS hb,
         least(
           CASE WHEN len(a.hs) >= {k} THEN CAST(a.hs[{k}] AS DOUBLE)
                ELSE CAST({space} AS DOUBLE) END,
           CASE WHEN len(b.hs) >= {k} THEN CAST(b.hs[{k}] AS DOUBLE)
                ELSE CAST({space} AS DOUBLE) END) AS theta
  FROM sk a JOIN sk b ON a.event_type < b.event_type),
est AS (
  SELECT type_a, type_b,
         {est('ha')} AS est_users_a,
         {est('hb')} AS est_users_b,
         CAST(len(list_intersect(
                list_filter(ha, h -> CAST(h AS DOUBLE) < theta),
                list_filter(hb, h -> CAST(h AS DOUBLE) < theta)))
              AS DOUBLE)
           * CAST({space} AS DOUBLE) / theta AS est_common,
         {est(f"(list_sort(list_distinct(list_concat(ha, hb)))[1:{k}])")}
           AS est_union
  FROM pairs),
ex AS (
  SELECT x.event_type AS type_a, y.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS exact_common
  FROM (SELECT DISTINCT event_type, user_id FROM events) x
  JOIN (SELECT DISTINCT event_type, user_id FROM events) y
    ON x.user_id = y.user_id AND x.event_type < y.event_type
  GROUP BY 1, 2)
SELECT e.type_a, e.type_b, e.est_users_a, e.est_users_b, e.est_common,
       e.est_union, e.est_common / e.est_union AS est_jaccard,
       coalesce(ex.exact_common, 0) AS exact_common
FROM est e LEFT JOIN ex ON e.type_a = ex.type_a AND e.type_b = ex.type_b
ORDER BY e.type_a, e.type_b
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering matters: the driver's correctness gate compares the FIRST 50
    # entries against the DuckDB oracle each round, so the window ROTATES on
    # staleness (every query re-earns a driver row every ~2-3 rounds).
    # Window arithmetic for r11: 4 changed-path + 6 newcomers leaves 40
    # stale slots = the FULL r5 cohort (32) + the oldest 8 of the 43
    # r6-stale entries (scripts/staleness.py order); the remaining 35
    # r6-stale rows (from d_gopher_rules onward) head r12's fill.
    return {
        # --- r11 window (50 = 4 changed-path + 4 newcomers + the FULL
        # r5-stale cohort (32) + the oldest 10 r6-stale entries, in
        # scripts/staleness.py order — VERDICT r10 item 1). Changed-path:
        # e_rfm_segments (quantile strategy split), e_hdr_quantiles
        # (integer-div mantissa), s_stream_emb_dedup (cell-partitioned
        # index + self-match guard), x_forecast_backtest (5th contender).
        # Remaining r6-stale cohort (33) spills to r12. ---
        "e_rfm_segments": e_rfm_segments,
        "e_hdr_quantiles": e_hdr_quantiles,
        "s_stream_emb_dedup": s_stream_emb_dedup,
        "x_forecast_backtest": x_forecast_backtest,
        "s_emb_drift_recall": s_emb_drift_recall,
        "s_stream_freshness": s_stream_freshness,
        "s_stream_freshness_wall": s_stream_freshness_wall,
        "x_regime_holt": x_regime_holt,
        "e_kmv_type_overlap": e_kmv_type_overlap,
        "s_stream_kmv": s_stream_kmv,
        # --- full r5-stale cohort ---
        "x_mass_index": x_mass_index,
        "x_mc_var": x_mc_var,
        "x_coppock": x_coppock,
        "x_kst": x_kst,
        "d_span_corruption": d_span_corruption,
        "x_kalman": x_kalman,
        "x_dema_tema": x_dema_tema,
        "x_linreg": x_linreg,
        "x_hist_var": x_hist_var,
        "emb_covariance": emb_covariance,
        "emb_hard_negatives": emb_hard_negatives,
        "d_ccnet_buckets": d_ccnet_buckets,
        "x_nvi_pvi": x_nvi_pvi,
        "x_force_index": x_force_index,
        "x_elder_ray": x_elder_ray,
        "x_ulcer": x_ulcer,
        "x_sortino": x_sortino,
        "x_hull_ma": x_hull_ma,
        "x_autocorr": x_autocorr,
        "x_psar": x_psar,
        "x_trix": x_trix,
        "x_cci": x_cci,
        "x_vortex": x_vortex,
        "d_dsir_weights": d_dsir_weights,
        "d_bm25_topk": d_bm25_topk,
        "x_kama": x_kama,
        "s_stream_join_outer": s_stream_join_outer,
        "emb_silhouette": emb_silhouette,
        "emb_pq_ann": emb_pq_ann,
        "x_heikin_ashi": x_heikin_ashi,
        "x_supertrend": x_supertrend,
        "x_adx": x_adx,
        # --- oldest r6-stale fill (window cuts at 50: d_gopher_rules
        # and e_stickiness spill past the boundary to r12) ---
        "x_chop": x_chop,
        "x_chandelier": x_chandelier,
        "x_renko": x_renko,
        "x_cmf": x_cmf,
        "x_awesome": x_awesome,
        "x_dpo": x_dpo,
        "x_vwma": x_vwma,
        "x_calmar": x_calmar,
        "d_gopher_rules": d_gopher_rules,
        "e_stickiness": e_stickiness,
        # --- window boundary: rows below are NOT driver-checked this
        # round (covered by the committed SWEEP_HASHES ledger) ---
        "d_threshold_curve": d_threshold_curve,
        "d_source_overlap": d_source_overlap,
        "x_event_study": x_event_study,
        "x_holt_winters_mul": x_holt_winters_mul,
        "x_amihud_illiquidity": x_amihud_illiquidity,
        "x_rsi_divergence": x_rsi_divergence,
        "x_vol_cone": x_vol_cone,
        "d_length_quantiles": d_length_quantiles,
        "o_zorder_skipping": o_zorder_skipping,
        "x_regime_viterbi": x_regime_viterbi,
        "x_ichimoku": x_ichimoku,
        "x_volume_profile": x_volume_profile,
        "e_rolling_hll_wau": e_rolling_hll_wau,
        "x_keltner": x_keltner,
        "e_markov_transitions": e_markov_transitions,
        "s_stream_dedup": s_stream_dedup,
        "d_bpe_learn": d_bpe_learn,
        "d_bpe_token_counts": d_bpe_token_counts,
        "x_williams_r": x_williams_r,
        "x_mfi": x_mfi,
        "x_roc_momentum": x_roc_momentum,
        "x_pivot_points": x_pivot_points,
        "x_chaikin_ad": x_chaikin_ad,
        "x_gaps": x_gaps,
        "q01_pricing_summary": q01_pricing_summary,
        "q03_top_order_revenue": q03_top_order_revenue,
        "q05_nation_revenue": q05_nation_revenue,
        "q02_min_unit_cost": q02_min_unit_cost,
        "q04_priority_returns": q04_priority_returns,
        "q06_revenue_band": q06_revenue_band,
        "q10_returned_revenue": q10_returned_revenue,
        "q14_promo_share": q14_promo_share,
        "q16_supplier_variety": q16_supplier_variety,
        "x_cmo": x_cmo,
        "x_info_ratio": x_info_ratio,
        "x_drawdown_episodes": x_drawdown_episodes,
        "d_lang_agreement": d_lang_agreement,
        "e_event_gaps": e_event_gaps,
        "d_doc_novelty": d_doc_novelty,
        "x_win_streaks": x_win_streaks,
        "x_risk_ratios": x_risk_ratios,
        "e_value_histogram": e_value_histogram,
        "d_bigram_xent": d_bigram_xent,
        "x_seasonality_dow": x_seasonality_dow,
        "emb_drift": emb_drift,
        "x_stoch_rsi": x_stoch_rsi,
        "x_holt_linear": x_holt_linear,
        "d_dup_cluster_stats": d_dup_cluster_stats,
        "e_cusum_drift": e_cusum_drift,
        "s_stream_cusum": s_stream_cusum,
        "d_bloom_membership": d_bloom_membership,
        "e_benford_digits": e_benford_digits,
        "d_vocab_coverage": d_vocab_coverage,
        "d_dup_components_probe": d_dup_components_probe,
        "d_dup_components": d_dup_components,
        "d_quality_score": d_quality_score,
        "d_minhash_recall": d_minhash_recall,
        "x_alligator": x_alligator,
        "x_fractals": x_fractals,
        "x_rvol": x_rvol,
        "x_squeeze": x_squeeze,
        "e_mad_anomaly": e_mad_anomaly,
        "j_asof_forward": j_asof_forward,
        "d_dedup_removal_plan": d_dedup_removal_plan,
        "x_t3": x_t3,
        "s_stream_bloom": s_stream_bloom,
        "x_mcginley": x_mcginley,
        "x_vwap_bands": x_vwap_bands,
        "x_elder_impulse": x_elder_impulse,
        "e_burst_detection": e_burst_detection,
        "m_frame_sample": m_frame_sample,
        "j_nearest_event": j_nearest_event,
        "o_bucketed_join": o_bucketed_join,
        "x_holt_winters": x_holt_winters,
        "e_drift_psi": e_drift_psi,
        "d_mixture_sample": d_mixture_sample,
        "x_vwap_anchored": x_vwap_anchored,
        "x_stochastic": x_stochastic,
        "x_obv_daily": x_obv_daily,
        "x_returns_ledger": x_returns_ledger,
        "x_rolling_sharpe": x_rolling_sharpe,
        "x_candle_flags": x_candle_flags,
        "emb_sq8_ann": emb_sq8_ann,
        "o_orc_roundtrip": o_orc_roundtrip,
        "e_funnel_conversion": e_funnel_conversion,
        "e_retention_cohorts": e_retention_cohorts,
        "d_unigram_xent": d_unigram_xent,
        "d_dup_spans": d_dup_spans,
        "x_sma_backtest": x_sma_backtest,
        "x_donchian": x_donchian,
        "x_underwater_streak": x_underwater_streak,
        "m_phash_neardup": m_phash_neardup,
        "d_weighted_sample": d_weighted_sample,
        "s_stream_topk": s_stream_topk,
        "x_ema_macd": x_ema_macd,
        "x_bollinger_bands": x_bollinger_bands,
        "s_stateful_vwap": s_stateful_vwap,
        "x_aroon": x_aroon,
        "x_beta_market": x_beta_market,
        "x_rolling_beta": x_rolling_beta,
        "j_asof_tolerance": j_asof_tolerance,
        "j_asof_orders": j_asof_orders,
        "d_jaccard_pairs": d_jaccard_pairs,
        "emb_ann_topk": emb_ann_topk,
        "q18_large_orders": q18_large_orders,
        "q22_idle_rich_customers": q22_idle_rich_customers,
        "q07_nation_trade": q07_nation_trade,
        "q08_market_share": q08_market_share,
        "q09_product_profit": q09_product_profit,
        "q11_important_parts": q11_important_parts,
        "q12_priority_lines": q12_priority_lines,
        "q13_order_distribution": q13_order_distribution,
        "q15_top_supplier": q15_top_supplier,
        "q19_disjunctive_revenue": q19_disjunctive_revenue,
        "q20_heavy_shippers": q20_heavy_shippers,
        "q21_sole_blockers": q21_sole_blockers,
        "e_symbol_stats": e_symbol_stats,
        "e_daily_rollup": e_daily_rollup,
        "e_resample_15m": e_resample_15m,
        "e_dedup_last": e_dedup_last,
        "e_dedup_first": e_dedup_first,
        "e_latest_snapshot": e_latest_snapshot,
        "e_top_movers": e_top_movers,
        "e_sma20": e_sma20,
        "e_window_daily_summary": e_window_daily_summary,
        "e_dispersion": e_dispersion,
        "e_conditional_counts": e_conditional_counts,
        "e_period_lookback": e_period_lookback,
        "e_tail_limit": e_tail_limit,
        "d_token_stats": d_token_stats,
        "d_language_guess": d_language_guess,
        "d_fingerprint": d_fingerprint,
        "d_exact_dedup": d_exact_dedup,
        "d_simhash": d_simhash,
        "d_simhash_pairs": d_simhash_pairs,
        "emb_lsh_ann": emb_lsh_ann,
        "emb_cosine_neardup": emb_cosine_neardup,
        "d_bpe_tokens": d_bpe_tokens,
        "d_kgram_fingerprint": d_kgram_fingerprint,
        "emb_ivf_ann": emb_ivf_ann,
        "d_line_dedup": d_line_dedup,
        "e_cost_rollup": e_cost_rollup,
        "x_tsi": x_tsi,
        "x_ppo": x_ppo,
        "x_qstick": x_qstick,
        "x_rvi": x_rvi,
        "d_rrf_fusion": d_rrf_fusion,
        "x_ultimate": x_ultimate,
        "x_eom": x_eom,
        "d_softdedup": d_softdedup,
        "emb_recall_report": emb_recall_report,
        "s_stream_enrich": s_stream_enrich,
        "x_crsi": x_crsi,
        "d_quality_fusion": d_quality_fusion,
        "x_zigzag": x_zigzag,
        "e_new_vs_returning": e_new_vs_returning,
        "d_source_lang_mix": d_source_lang_mix,
        "d_mixture_plan": d_mixture_plan,
        "d_bpe_fertility": d_bpe_fertility,
        "e_gini": e_gini,
        "e_pareto_share": e_pareto_share,
        "emb_pca": emb_pca,
        "emb_outliers": emb_outliers,
        "emb_semdedup": emb_semdedup,
        "d_zipf_slope": d_zipf_slope,
        "j_semi_active_customers": j_semi_active_customers,
        "j_anti_inactive_customers": j_anti_inactive_customers,
        "u_union_mixed_schema": u_union_mixed_schema,
        "e_rsi14": e_rsi14,
        "o_bronze_roundtrip": o_bronze_roundtrip,
        "sql_passthrough_daily": sql_passthrough_daily,
        "sql_passthrough_volatility": sql_passthrough_volatility,
        "d_incremental_dedup": d_incremental_dedup,
        "x_atr_daily": x_atr_daily,
        "x_corr_pairs": x_corr_pairs,
        "e_resample_gapfill": e_resample_gapfill,
        "o_rollup_refresh": o_rollup_refresh,
        "m_binary_features": m_binary_features,
        "x_pivot_event_matrix": x_pivot_event_matrix,
        "x_cube_rollup": x_cube_rollup,
        "e_sessionize": e_sessionize,
        "e_distinct_daily_users": e_distinct_daily_users,
        "e_percentiles": e_percentiles,
        "q17_small_quantity_avg": q17_small_quantity_avg,
        "s_stream_hourly": s_stream_hourly,
        "d_stratified_sample": d_stratified_sample,
        "d_doc_chunks": d_doc_chunks,
        "j_interval_clicks": j_interval_clicks,
        "s_stream_sessions": s_stream_sessions,
        "s_stream_join": s_stream_join,
        "x_rolling_30m": x_rolling_30m,
        "e_zscore_anomaly": e_zscore_anomaly,
        "e_props_json": e_props_json,
        "e_percentiles_hist": e_percentiles_hist,
        "d_redact_pii": d_redact_pii,
        "d_hash_split": d_hash_split,
        "d_repetition": d_repetition,
        "d_top_bigrams": d_top_bigrams,
        "d_tfidf_topk": d_tfidf_topk,
        "d_decontaminate": d_decontaminate,
        "x_max_drawdown": x_max_drawdown,
        "d_hll_users": d_hll_users,
        "x_scd2_history": x_scd2_history,
        "j_scd2_lookup": j_scd2_lookup,
        "d_cms_tokens": d_cms_tokens,
        "s_stream_hll": s_stream_hll,
        "d_pack_sequences": d_pack_sequences,
        "emb_label_centroids": emb_label_centroids,
        "e_dq_report": e_dq_report,
        "emb_ivf_probe": emb_ivf_probe,
        "emb_pq_probe": emb_pq_probe,
        "x_vidya": x_vidya,
        "x_klinger": x_klinger,
        "d_unimax_plan": d_unimax_plan,
        "d_packing_efficiency": d_packing_efficiency,
        "d_contamination_report": d_contamination_report,
        "x_garch_vol": x_garch_vol,
        "emb_ivf_recall": emb_ivf_recall,
        "d_minhash_neardup": d_minhash_neardup,
        "d_curation_pipeline": d_curation_pipeline,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q01_pricing_summary": _Q01_SQL,
        "q03_top_order_revenue": _Q03_SQL,
        "q05_nation_revenue": _Q05_SQL,
        "q02_min_unit_cost": _Q02_SQL,
        "q04_priority_returns": _Q04_SQL,
        "q06_revenue_band": _Q06_SQL,
        "q10_returned_revenue": _Q10_SQL,
        "q14_promo_share": _Q14_SQL,
        "q16_supplier_variety": _Q16_SQL,
        "q18_large_orders": _Q18_SQL,
        "q22_idle_rich_customers": _Q22_SQL,
        "q07_nation_trade": _Q07_SQL,
        "q08_market_share": _Q08_SQL,
        "q09_product_profit": _Q09_SQL,
        "q11_important_parts": _Q11_SQL,
        "q12_priority_lines": _Q12_SQL,
        "q13_order_distribution": _Q13_SQL,
        "q15_top_supplier": _Q15_SQL,
        "q19_disjunctive_revenue": _Q19_SQL,
        "q20_heavy_shippers": _Q20_SQL,
        "q21_sole_blockers": _Q21_SQL,
        "e_symbol_stats": _E_SYMBOL_STATS_SQL,
        "e_daily_rollup": _E_DAILY_ROLLUP_SQL,
        "e_resample_15m": _E_RESAMPLE_SQL,
        "e_dedup_last": _dedup_sql("DESC"),
        "e_dedup_first": _dedup_sql("ASC"),
        "e_latest_snapshot": _E_LATEST_SQL,
        "e_top_movers": _E_TOP_MOVERS_SQL,
        "e_sma20": _E_SMA_SQL,
        "e_window_daily_summary": _E_WINDOW_DAILY_SQL,
        "e_dispersion": _E_DISPERSION_SQL,
        "e_conditional_counts": _E_COND_SQL,
        "e_period_lookback": _E_PERIOD_SQL,
        "e_tail_limit": _E_TAIL_SQL,
        "d_token_stats": _D_TOKEN_STATS_SQL,
        "d_quality_score": _D_QUALITY_SQL,
        "d_language_guess": _lang_sql(),
        "d_fingerprint": _D_FINGERPRINT_SQL,
        "d_exact_dedup": _D_EXACT_DEDUP_SQL,
        "d_jaccard_pairs": _D_JACCARD_SQL,
        "d_minhash_neardup": _minhash_sql(),
        "d_simhash": _simhash_sql(),
        "d_simhash_pairs": _simhash_pairs_sql(),
        "emb_ann_topk": _EMB_ANN_SQL,
        "emb_cosine_neardup": _emb_neardup_sql(),
        "d_bpe_tokens": _D_BPE_SQL,
        "d_kgram_fingerprint": _D_KGRAM_SQL,
        "emb_ivf_ann": _ivf_ann_sql(),
        # probe-only lifecycle rows: the stored-index probe is bit-identical
        # to the one-shot path (pinned by tests), so they replay the same SQL
        "emb_ivf_probe": _ivf_ann_sql(),
        "emb_pq_probe": _pq_ann_sql(),
        "x_vidya": _vidya_sql(),
        "x_klinger": _klinger_sql(),
        "d_unimax_plan": _D_UNIMAX_SQL,
        "d_packing_efficiency": _D_PACK_EFF_SQL,
        "d_contamination_report": _D_CONTAM_REPORT_SQL,
        "x_garch_vol": _garch_sql(),
        "d_minhash_recall": _minhash_recall_sql(),
        "emb_semdedup": _semdedup_sql(threshold=0.4),
        "x_keltner": _X_KELTNER_SQL,
        "x_heikin_ashi": _X_HEIKIN_SQL,
        "e_markov_transitions": _E_MARKOV_SQL,
        "s_stream_dedup": _S_DEDUP_SQL,
        "d_bpe_learn": _bpe_sql(),
        "d_bpe_token_counts": _bpe_tokcount_sql(),
        "j_asof_tolerance": _J_ASOF_TOL_SQL,
        "x_supertrend": _supertrend_sql(),
        "x_cmo": _X_CMO_SQL,
        "x_info_ratio": _X_INFO_RATIO_SQL,
        "x_drawdown_episodes": _X_DD_EPISODES_SQL,
        "d_lang_agreement": _lang_agreement_sql(),
        "e_event_gaps": _E_EVENT_GAPS_SQL,
        "d_doc_novelty": _D_NOVELTY_SQL,
        "d_zipf_slope": _D_ZIPF_SQL,
        "x_win_streaks": _X_STREAKS_SQL,
        "x_risk_ratios": _X_RISK_RATIOS_SQL,
        "e_value_histogram": _E_VALUE_HIST_SQL,
        "d_bigram_xent": _bigram_xent_sql(),
        "x_seasonality_dow": _X_SEASONALITY_SQL,
        "emb_drift": _EMB_DRIFT_SQL,
        "x_event_study": _X_EVENT_STUDY_SQL,
        "x_stoch_rsi": _X_STOCHRSI_SQL,
        "x_mass_index": _mass_index_sql(),
        "x_mc_var": _mc_var_sql(),
        "emb_pca": _emb_pca_sql(),
        "e_pareto_share": _E_PARETO_SQL,
        "e_gini": _E_GINI_SQL,
        "x_chop": _X_CHOP_SQL,
        "x_chandelier": _X_CHANDELIER_SQL,
        "x_renko": _X_RENKO_SQL,
        "x_cmf": _X_CMF_SQL,
        "x_awesome": _X_AWESOME_SQL,
        "x_dpo": _X_DPO_SQL,
        "x_vwma": _X_VWMA_SQL,
        "x_calmar": _X_CALMAR_SQL,
        "d_gopher_rules": _D_GOPHER_SQL,
        "e_stickiness": _E_STICKINESS_SQL,
        "emb_outliers": _emb_outliers_sql(),
        "x_coppock": _coppock_sql(),
        "x_kst": _kst_sql(),
        "d_span_corruption": _D_SPANCORRUPT_SQL,
        "s_stream_topk": _S_TOPK_SQL,
        "x_kalman": _kalman_sql(),
        "x_dema_tema": _dema_sql(),
        "x_linreg": _linreg_sql(),
        "x_hist_var": _X_HISTVAR_SQL,
        "e_rfm_segments": _E_RFM_SQL,
        "emb_covariance": _EMB_COV_SQL,
        "emb_hard_negatives": _EMB_HARDNEG_SQL,
        "d_ccnet_buckets": _D_CCNET_SQL,
        "x_nvi_pvi": _X_NVI_SQL,
        "x_force_index": _force_index_sql(),
        "x_elder_ray": _elder_ray_sql(),
        "x_ulcer": _X_ULCER_SQL,
        "x_sortino": _X_SORTINO_SQL,
        "x_hull_ma": _hull_sql(),
        "x_autocorr": _X_AUTOCORR_SQL,
        "x_psar": _psar_sql(),
        "x_trix": _trix_sql(),
        "x_cci": _cci_sql(),
        "x_vortex": _vortex_sql(),
        "d_dsir_weights": _D_DSIR_SQL,
        "d_bm25_topk": _bm25_sql(),
        "x_kama": _kama_sql(),
        "s_stream_join_outer": _S_JOIN_OUTER_SQL,
        "emb_silhouette": _silhouette_sql(),
        "x_williams_r": _X_WILLIAMS_SQL,
        "x_mfi": _X_MFI_SQL,
        "x_roc_momentum": _X_ROC_SQL,
        "x_pivot_points": _X_PIVOTPTS_SQL,
        "x_chaikin_ad": _X_CHAIKIN_SQL,
        "x_aroon": _X_AROON_SQL,
        "x_gaps": _X_GAPS_SQL,
        "x_adx": _adx_sql(),
        "emb_pq_ann": _pq_ann_sql(),
        "emb_lsh_ann": _lsh_ann_sql(),
        "j_asof_orders": _J_ASOF_SQL,
        "j_semi_active_customers": _J_SEMI_SQL,
        "j_anti_inactive_customers": _J_ANTI_SQL,
        "u_union_mixed_schema": _U_UNION_SQL,
        "e_rsi14": _E_RSI_SQL,
        "o_bronze_roundtrip": _O_ROUNDTRIP_SQL,
        "sql_passthrough_daily": _SQL_SHARED_DAILY,
        "sql_passthrough_volatility": _SQL_SHARED_VOLATILITY,
        "d_incremental_dedup": _incremental_dedup_sql(),
        "x_atr_daily": _X_ATR_SQL,
        "x_corr_pairs": _X_CORR_SQL,
        "e_resample_gapfill": _E_GAPFILL_SQL,
        "o_rollup_refresh": _E_DAILY_ROLLUP_SQL,
        "m_binary_features": _M_BINARY_SQL,
        "x_pivot_event_matrix": _X_PIVOT_SQL,
        "x_cube_rollup": _X_CUBE_SQL,
        "e_sessionize": _E_SESSION_SQL,
        "e_distinct_daily_users": _E_DISTINCT_SQL,
        "e_percentiles": _E_PERCENTILES_SQL,
        "q17_small_quantity_avg": _Q17_SQL,
        "s_stream_hourly": _S_STREAM_SQL,
        "s_stateful_vwap": _S_VWAP_SQL,
        "x_bollinger_bands": _X_BOLLINGER_SQL,
        "d_stratified_sample": _D_SAMPLE_SQL,
        "d_doc_chunks": _D_CHUNKS_SQL,
        "j_interval_clicks": _J_INTERVAL_SQL,
        "d_dup_components": _components_sql(),
        # probe-only lifecycle twin — bit-identical output, same oracle
        "d_dup_components_probe": _components_sql(),
        "d_dedup_removal_plan": _dedup_removal_plan_sql(),
        "x_fractals": _X_FRACTALS_SQL,
        "x_rvol": _X_RVOL_SQL,
        "x_squeeze": _X_SQUEEZE_SQL,
        "e_mad_anomaly": _E_MAD_SQL,
        "j_asof_forward": _J_ASOF_FWD_SQL,
        "x_t3": _t3_sql(),
        "s_stream_bloom": _S_STREAM_BLOOM_SQL,
        "s_stream_emb_dedup": _s_stream_emb_dedup_sql(),
        "s_emb_drift_recall": _s_emb_drift_recall_sql(),
        "s_stream_freshness": _S_STREAM_FRESHNESS_SQL,
        "x_regime_holt": _x_regime_holt_sql(),
        "e_kmv_type_overlap": _kmv_overlap_sql(_KMV_K),
        "s_stream_kmv": _s_stream_kmv_sql(_KMV_K),
        # s_stream_freshness_wall: real measured timings -- genuinely
        # non-SQL-expressible, rows-only driver check by design
        "x_mcginley": _X_MCGINLEY_SQL,
        "x_vwap_bands": _X_VWAP_BANDS_SQL,
        "x_elder_impulse": _elder_impulse_sql(),
        "e_burst_detection": _E_BURST_SQL,
        "d_threshold_curve": _threshold_curve_sql(),
        "m_frame_sample": _M_FRAME_SQL,
        "j_nearest_event": _J_NEAREST_SQL,
        "d_source_overlap": _source_overlap_sql(),
        "o_bucketed_join": _O_BUCKETED_SQL,
        "x_holt_winters": _holt_winters_sql(),
        "x_holt_winters_mul": _holt_winters_mul_sql(),
        "x_amihud_illiquidity": _X_AMIHUD_SQL,
        "x_rsi_divergence": _X_RSI_DIVERGENCE_SQL,
        "x_vol_cone": _vol_cone_sql(),
        "d_length_quantiles": _D_LENGTH_QUANTILES_SQL,
        "o_zorder_skipping": _zorder_skipping_sql(),
        "x_regime_viterbi": _X_REGIME_VITERBI_SQL,
        "e_hdr_quantiles": _hdr_quantiles_sql(),
        "x_forecast_backtest": _forecast_backtest_sql(),
        "s_stream_sessions": _S_SESSIONS_SQL,
        "s_stream_join": _S_JOIN_SQL,
        "x_ema_macd": _X_EMA_MACD_SQL,
        "x_rolling_30m": _X_ROLLING_SQL,
        "e_zscore_anomaly": _E_ZSCORE_SQL,
        "e_props_json": _E_PROPS_JSON_SQL,
        "e_percentiles_hist": _E_PCT_HIST_SQL,
        "d_redact_pii": _D_REDACT_SQL,
        "d_hash_split": _D_SPLIT_SQL,
        "d_repetition": _D_REPETITION_SQL,
        "d_top_bigrams": _D_TOP_BIGRAMS_SQL,
        "d_tfidf_topk": _D_TFIDF_SQL,
        "d_decontaminate": _D_DECONTAM_SQL,
        "x_max_drawdown": _X_DRAWDOWN_SQL,
        "x_beta_market": _X_BETA_SQL,
        "d_hll_users": _D_HLL_SQL,
        "x_scd2_history": _X_SCD2_SQL,
        "j_scd2_lookup": _J_SCD2_LOOKUP_SQL,
        "d_curation_pipeline": _curation_sql(),
        "d_cms_tokens": _D_CMS_SQL,
        "s_stream_hll": _D_HLL_SQL,
        "d_pack_sequences": _D_PACK_SQL,
        "emb_label_centroids": _EMB_CENTROIDS_SQL,
        "e_dq_report": _E_DQ_SQL,
        "e_drift_psi": _E_DRIFT_SQL,
        "d_mixture_sample": _D_MIXTURE_SQL,
        "x_vwap_anchored": _X_VWAP_SQL,
        "x_stochastic": _X_STOCH_SQL,
        "x_obv_daily": _X_OBV_SQL,
        "x_returns_ledger": _X_RETLEDGER_SQL,
        "x_rolling_sharpe": _X_SHARPE_SQL,
        "x_candle_flags": _X_CANDLE_SQL,
        "emb_sq8_ann": _EMB_SQ8_SQL,
        "o_orc_roundtrip": _O_ORC_SQL,
        "e_funnel_conversion": _E_FUNNEL_SQL,
        "e_retention_cohorts": _E_RETENTION_SQL,
        "d_unigram_xent": _D_XENT_SQL,
        "d_dup_spans": _D_SPANS_SQL,
        "d_line_dedup": _D_LINE_DEDUP_SQL,
        "e_cost_rollup": _E_COST_ROLLUP_SQL,
        "x_tsi": _X_TSI_SQL,
        "x_ppo": _X_PPO_SQL,
        "x_qstick": _X_QSTICK_SQL,
        "x_rvi": _X_RVI_SQL,
        "d_rrf_fusion": _rrf_fusion_sql(),
        "x_ultimate": _X_ULTIMATE_SQL,
        "x_eom": _X_EOM_SQL,
        "d_softdedup": _D_SOFTDEDUP_SQL,
        "emb_recall_report": _recall_report_sql(),
        "emb_ivf_recall": _ivf_recall_sql(),
        "x_holt_linear": _holt_sql(),
        "d_dup_cluster_stats": _dup_cluster_stats_sql(),
        "e_cusum_drift": _E_CUSUM_SQL,
        "s_stream_cusum": _S_CUSUM_SQL,
        "d_bloom_membership": _D_BLOOM_SQL,
        "e_benford_digits": _E_BENFORD_SQL,
        "d_vocab_coverage": _D_VOCAB_COVERAGE_SQL.format(toks=_SQL_TOKS, bigrams=_SQL_BIGRAMS),
        "s_stream_enrich": _S_STREAM_ENRICH_SQL,
        "x_crsi": _X_CRSI_SQL,
        "d_quality_fusion": _quality_fusion_sql(),
        "x_zigzag": _zigzag_sql(),
        "e_new_vs_returning": _E_NEW_RETURNING_SQL,
        "d_source_lang_mix": _source_lang_mix_sql(),
        "d_mixture_plan": _mixture_plan_sql(),
        "d_bpe_fertility": _bpe_fertility_sql(),
        "x_alligator": _X_ALLIGATOR_SQL,
        "x_sma_backtest": _X_BACKTEST_SQL,
        "x_donchian": _X_DONCHIAN_SQL,
        "x_underwater_streak": _X_UNDERWATER_SQL,
        "m_phash_neardup": _M_PHASH_SQL,
        "d_weighted_sample": _D_WSAMPLE_SQL,
        "x_ichimoku": _X_ICHIMOKU_SQL,
        "x_volume_profile": _X_VOLPROFILE_SQL,
        "x_rolling_beta": _X_ROLLBETA_SQL,
        "e_rolling_hll_wau": _E_ROLLING_HLL_SQL,
    }


#: Queries bench.py times at sf0.1 — excludes only d_jaccard_pairs, the
#: intentionally-O(n^2) oracle baseline the LSH variants exist to avoid
#: (d_simhash_pairs and emb_cosine_neardup run bucketed and are timed).
#: Budget classes vs BASELINE.md: analytics-class queries target <= 2x of
#: the reference's 2-5 s Lambda figure; d_curation_pipeline and
#: etl_bronze_silver_500sym are PIPELINE-class (full multi-stage runs,
#: the reference's 5-10 s ETL budget) — the curation composite's stages
#: (d_dup_components, d_decontaminate, d_quality_score, d_hash_split)
#: are also timed individually.
HEADLINE_QUERIES = [
    "e_pareto_share",
    "e_gini",
    "x_chop",
    "x_chandelier",
    "x_renko",
    "x_cmf",
    "x_awesome",
    "x_dpo",
    "x_vwma",
    "x_calmar",
    "d_gopher_rules",
    "e_stickiness",
    "emb_outliers",
    "q01_pricing_summary",
    "q03_top_order_revenue",
    "q05_nation_revenue",
    "q02_min_unit_cost",
    "q04_priority_returns",
    "q06_revenue_band",
    "q10_returned_revenue",
    "q14_promo_share",
    "q16_supplier_variety",
    "q18_large_orders",
    "q22_idle_rich_customers",
    "q07_nation_trade",
    "q08_market_share",
    "q09_product_profit",
    "q11_important_parts",
    "q12_priority_lines",
    "q13_order_distribution",
    "q15_top_supplier",
    "q19_disjunctive_revenue",
    "q20_heavy_shippers",
    "q21_sole_blockers",
    "e_symbol_stats",
    "e_daily_rollup",
    "e_resample_15m",
    "e_dedup_last",
    "e_dedup_first",
    "e_latest_snapshot",
    "e_top_movers",
    "e_sma20",
    "e_window_daily_summary",
    "e_dispersion",
    "e_conditional_counts",
    "e_period_lookback",
    "e_tail_limit",
    "d_token_stats",
    "d_quality_score",
    "d_language_guess",
    "d_fingerprint",
    "d_exact_dedup",
    "d_minhash_neardup",
    "d_simhash",
    "d_simhash_pairs",
    "emb_cosine_neardup",
    "d_bpe_tokens",
    "d_kgram_fingerprint",
    "emb_ivf_ann",
    "emb_ivf_probe",
    "emb_pq_probe",
    "x_vidya",
    "x_klinger",
    "d_unimax_plan",
    "d_packing_efficiency",
    "d_contamination_report",
    "emb_ann_topk",
    "emb_lsh_ann",
    "j_asof_orders",
    "j_semi_active_customers",
    "j_anti_inactive_customers",
    "u_union_mixed_schema",
    "e_rsi14",
    "o_bronze_roundtrip",
    "sql_passthrough_daily",
    "sql_passthrough_volatility",
    "d_incremental_dedup",
    "x_atr_daily",
    "x_corr_pairs",
    "e_resample_gapfill",
    "o_rollup_refresh",
    "m_binary_features",
    "x_pivot_event_matrix",
    "x_cube_rollup",
    "e_sessionize",
    "e_distinct_daily_users",
    "e_percentiles",
    "q17_small_quantity_avg",
    "s_stream_hourly",
    "s_stateful_vwap",
    "x_bollinger_bands",
    "d_stratified_sample",
    "d_doc_chunks",
    "j_interval_clicks",
    "d_dup_components",
    "d_dup_components_probe",
    "d_dedup_removal_plan",
    "x_fractals",
    "x_rvol",
    "x_squeeze",
    "e_mad_anomaly",
    "j_asof_forward",
    "x_t3",
    "s_stream_bloom",
    "s_stream_emb_dedup",
    "s_emb_drift_recall",
    "s_stream_freshness",
    "s_stream_freshness_wall",
    "x_regime_holt",
    "e_kmv_type_overlap",
    "s_stream_kmv",
    "x_mcginley",
    "x_vwap_bands",
    "x_elder_impulse",
    "e_burst_detection",
    "d_threshold_curve",
    "m_frame_sample",
    "j_nearest_event",
    "d_source_overlap",
    "o_bucketed_join",
    "x_holt_winters",
    "x_holt_winters_mul",
    "x_amihud_illiquidity",
    "x_rsi_divergence",
    "x_vol_cone",
    "d_length_quantiles",
    "o_zorder_skipping",
    "x_regime_viterbi",
    "e_hdr_quantiles",
    "x_forecast_backtest",
    "s_stream_sessions",
    "s_stream_join",
    "x_ema_macd",
    "x_rolling_30m",
    "e_zscore_anomaly",
    "e_props_json",
    "e_percentiles_hist",
    "d_redact_pii",
    "d_hash_split",
    "d_repetition",
    "d_top_bigrams",
    "d_tfidf_topk",
    "d_decontaminate",
    "x_max_drawdown",
    "x_beta_market",
    "d_hll_users",
    "x_scd2_history",
    "j_scd2_lookup",
    "d_curation_pipeline",
    "d_cms_tokens",
    "s_stream_hll",
    "d_pack_sequences",
    "emb_label_centroids",
    "e_dq_report",
    "e_drift_psi",
    "d_mixture_sample",
    "x_vwap_anchored",
    "x_stochastic",
    "x_obv_daily",
    "x_returns_ledger",
    "x_rolling_sharpe",
    "x_candle_flags",
    "emb_sq8_ann",
    "o_orc_roundtrip",
    "e_funnel_conversion",
    "e_retention_cohorts",
    "d_unigram_xent",
    "d_dup_spans",
    "d_line_dedup",
    "e_cost_rollup",
    "x_tsi",
    "x_ppo",
    "x_qstick",
    "x_rvi",
    "d_rrf_fusion",
    "x_ultimate",
    "x_eom",
    "d_softdedup",
    "emb_recall_report",
    "s_stream_enrich",
    "x_crsi",
    "d_quality_fusion",
    "x_zigzag",
    "e_new_vs_returning",
    "d_source_lang_mix",
    "d_mixture_plan",
    "d_bpe_fertility",
    "x_alligator",
    "x_sma_backtest",
    "x_donchian",
    "x_underwater_streak",
    "m_phash_neardup",
    "d_weighted_sample",
    "x_ichimoku",
    "x_volume_profile",
    "x_rolling_beta",
    "e_rolling_hll_wau",
    "emb_semdedup",
    "x_keltner",
    "x_heikin_ashi",
    "e_markov_transitions",
    "s_stream_dedup",
    "d_bpe_learn",
    "d_bpe_token_counts",
    "j_asof_tolerance",
    "x_supertrend",
    "x_psar",
    "x_trix",
    "x_cci",
    "x_vortex",
    "d_dsir_weights",
    "d_bm25_topk",
    "x_kama",
    "x_cmo",
    "x_info_ratio",
    "x_drawdown_episodes",
    "d_lang_agreement",
    "e_event_gaps",
    "d_doc_novelty",
    "d_zipf_slope",
    "x_win_streaks",
    "x_risk_ratios",
    "e_value_histogram",
    "d_bigram_xent",
    "x_seasonality_dow",
    "emb_drift",
    "x_event_study",
    "x_stoch_rsi",
    "x_mass_index",
    "x_mc_var",
    "emb_pca",
    "x_coppock",
    "x_kst",
    "d_span_corruption",
    "s_stream_topk",
    "x_kalman",
    "x_dema_tema",
    "x_linreg",
    "x_hist_var",
    "e_rfm_segments",
    "emb_covariance",
    "emb_hard_negatives",
    "d_ccnet_buckets",
    "x_nvi_pvi",
    "x_force_index",
    "x_elder_ray",
    "x_ulcer",
    "x_sortino",
    "x_hull_ma",
    "x_autocorr",
    "s_stream_join_outer",
    "emb_silhouette",
    "x_williams_r",
    "x_mfi",
    "x_roc_momentum",
    "x_pivot_points",
    "x_chaikin_ad",
    "x_aroon",
    "x_gaps",
    "x_adx",
    "emb_pq_ann",
    "x_garch_vol",
    "d_minhash_recall",
    "emb_ivf_recall",
    "x_holt_linear",
    "d_dup_cluster_stats",
    "e_cusum_drift",
    "s_stream_cusum",
    "d_bloom_membership",
    "e_benford_digits",
    "d_vocab_coverage",
]
