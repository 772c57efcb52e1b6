"""The driver's original nine queries: the flagship word-frequency top-k
(``entry()`` runs it), relational basics over the TPC-H-ish tables
(aggregate, broadcast joins, per-group top-n, anti join, rollup), JSON
events by day, a distributed running total and exact document dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table


def q_word_freq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= 3)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(20)
    )


def q_revenue_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Exact decimal money arithmetic: deterministic across engines and
    # addition orders (see queries/relational.py rationale).
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(rev).cast("double").alias("revenue"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_customers_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("r_name")
    )


def q_top_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def q_cust_no_orders_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


def q_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def q_events_json_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            # Cast the sum to int64 explicitly: DuckDB types sum(BIGINT) as
            # HUGEINT (int128), which the driver's typed value-hash normalizes
            # differently from Spark's BIGINT even when values are equal.
            F.sum("k").cast("long").alias("sum_k"),
        )
    )


def q_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global running total as a DISTRIBUTED prefix sum (two passes) over
    exact DECIMAL money arithmetic, instead of one global Window that
    funnels every order through a single partition.

    Pass 1: range-bucket on o_orderkey (monotone in the window order),
    aggregate one exact total per bucket, and turn those |buckets| rows
    into exclusive cumulative offsets with a window that only ever sees
    |buckets| rows. Pass 2: per-bucket running sum (parallel across
    buckets) plus the broadcast offset.

    Equivalence: DECIMAL(12,2) sums are exact and associative, so
    offset + intra-bucket prefix == the global prefix, digit for digit;
    the oracle computes the same exact decimal the straightforward way.
    The only driver-side values are the min/max key bounds (one tiny
    aggregate job, same pattern as tfidf's n_docs scalar).
    """
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    lo, hi = bounds[0], bounds[1]
    dec = F.col("o_totalprice").cast("decimal(12,2)")
    if lo is None:  # empty table: single bucket, nothing to distribute
        bkt = F.lit(0).cast("long")
    else:
        n_buckets = max(2 * spark.sparkContext.defaultParallelism, 16)
        width = max((int(hi) - int(lo)) // n_buckets + 1, 1)
        # greatest(...) clamp: the bounds are frozen at DataFrame-build
        # time (one tiny scalar job); if the table ever gained a key
        # below `lo` between build and execution, truncating DIV on a
        # negative operand would break the monotone-bucket invariant —
        # the clamp degrades that case to "first bucket" instead.
        bkt = F.expr(f"(greatest(o_orderkey, {int(lo)}) - {int(lo)}) DIV {width}")
    bucketed = orders.select("o_orderkey", dec.alias("_p"), bkt.alias("_bkt"))
    w_off = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        bucketed.groupBy("_bkt")
        .agg(F.sum("_p").alias("_bt"))
        .withColumn("_off", F.sum("_bt").over(w_off))
        .select("_bkt", "_off")
    )
    w_in = (
        Window.partitionBy("_bkt")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = (
        F.coalesce(F.col("_off"), F.lit(0).cast("decimal(22,2)"))
        + F.sum("_p").over(w_in)
    )
    return bucketed.join(F.broadcast(offsets), "_bkt").select(
        "o_orderkey",
        F.round(run.cast("double"), 2).alias("running_total"),
    )


def q_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.sha2(F.col("text"), 256)).orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "text")
    )


QUERIES = {
    "word_freq_topk": q_word_freq_topk,
    "revenue_by_flag": q_revenue_by_flag,
    "customers_per_region": q_customers_per_region,
    "top_orders_per_cust": q_top_orders_per_cust,
    "cust_no_orders_anti": q_cust_no_orders_anti,
    "priority_rollup": q_priority_rollup,
    "events_json_daily": q_events_json_daily,
    "running_revenue": q_running_revenue,
    "dedup_docs": q_dedup_docs,
}

ORACLES = {
    "word_freq_topk": """
            SELECT word, count(*) AS cnt
            FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
            WHERE length(word) >= 3
            GROUP BY word
            ORDER BY cnt DESC, word ASC
            LIMIT 20
        """,
    "revenue_by_flag": """
            SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
    "customers_per_region": """
            SELECT r_name, count(*) AS n_customers
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
            ORDER BY r_name
        """,
    "top_orders_per_cust": """
            SELECT o_custkey, o_orderkey, o_totalprice, rn
            FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
                FROM orders
            )
            WHERE rn <= 3
        """,
    "cust_no_orders_anti": """
            SELECT c_custkey, c_name
            FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
    "priority_rollup": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
            FROM orders
            GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
    "events_json_daily": """
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
                   count(*) AS cnt,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS sum_k
            FROM events
            GROUP BY 1, 2
        """,
    "running_revenue": """
            -- DECIMAL(12,2) prefix sum: exact and associative, so Spark's
            -- two-pass bucketed form and this straightforward window are
            -- provably digit-identical (money inputs have 2 decimals).
            SELECT o_orderkey,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
                       ORDER BY o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS DOUBLE), 2)
                   AS running_total
            FROM orders
        """,
    "dedup_docs": """
            SELECT doc_id, text
            FROM (
                SELECT doc_id, text,
                       row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
                FROM documents
            )
            WHERE rn = 1
        """,
}
