"""Relational operator queries: filter/project, aggregate, join, window,
sort/limit, set ops (SURVEY §2.B).

Every query returns deterministic, order-independent results with aliased
columns matching its DuckDB oracle; computed doubles are rounded to 4dp on
both sides (see registry docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from concurrent_etl_go_spark.operators import lib
from concurrent_etl_go_spark.operators.registry import query
from concurrent_etl_go_spark.sources.readers import read_table


# --------------------------------------------------------------------------
# Filter / project
# --------------------------------------------------------------------------


@query(
    "filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1995-09-01' AND l_discount > 0.02
    """,
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate + projection; both push down to the parquet scan."""
    return (
        read_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") < F.lit("1995-09-01").cast("timestamp"))
            & (F.col("l_discount") > 0.02)
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


@query(
    "project_rename",
    oracle="""
    SELECT c_custkey AS id, upper(c_name) AS name_upper, c_acctbal AS balance
    FROM customer
    """,
)
def project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.upper("c_name").alias("name_upper"),
        F.col("c_acctbal").alias("balance"),
    )


# --------------------------------------------------------------------------
# Aggregation
# --------------------------------------------------------------------------


@query(
    "agg_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           {lib.exact_money_sum_sql("l_extendedprice")} AS sum_base_price,
           {lib.exact_money_sum_sql(
               "l_extendedprice * (1 - l_discount)", scale=4
           )} AS sum_disc_price,
           {lib.exact_money_sum_sql(
               "l_extendedprice * (1 - l_discount) * (1 + l_tax)",
               scale=6, round_to=4,
           )} AS sum_charge,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(AVG(l_discount), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: partial (map-side) aggregation, one
    shuffle on the two low-cardinality group keys. The three money sums
    accumulate as exact DECIMAL (``lib.exact_money_sum``) — billion-scale
    double sums rounded to 4 decimals sit inside summation-order
    variance, the cross-engine/cross-run flake the decimal path
    eliminates; quantity and the averages stay double (integer-valued /
    small-magnitude, far from the hazard)."""
    li = read_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            lib.exact_money_sum(F.col("l_extendedprice")).alias(
                "sum_base_price"
            ),
            lib.exact_money_sum(disc_price, scale=4).alias("sum_disc_price"),
            lib.exact_money_sum(
                disc_price * (1 + F.col("l_tax")), scale=6, round_to=4
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "agg_stats",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(AVG(value), 4) AS avg_value,
           ROUND(MIN(value), 4) AS min_value,
           ROUND(MAX(value), 4) AS max_value,
           ROUND(STDDEV_SAMP(value), 4) AS sd_value
    FROM events GROUP BY event_type
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.round(F.min("value"), 4).alias("min_value"),
            F.round(F.max("value"), 4).alias("max_value"),
            F.round(F.stddev_samp("value"), 4).alias("sd_value"),
        )
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4) AS sum_qty, COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {lib.exact_money_sum_sql("l_extendedprice")} AS sum_price,
           COUNT(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            lib.exact_money_sum(F.col("l_extendedprice")).alias("sum_price"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "agg_grouping_sets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           {lib.exact_money_sum_sql("o_totalprice")} AS sum_price,
           COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the exact_money_sum_sql fragment is valid in BOTH dialects, so the
    # Spark SQL text shares it with the oracle verbatim
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("__ceg_orders")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               {lib.exact_money_sum_sql("o_totalprice")} AS sum_price,
               COUNT(*) AS n
        FROM __ceg_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------


@query(
    "join_inner_broadcast",
    oracle=f"""
    SELECT n_name, {lib.exact_money_sum_sql("o_totalprice")} AS revenue,
           COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_inner_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join: fact stays partitioned; dimension sides broadcast (no fact
    shuffle for the joins — only the final group-by shuffles)."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    return (
        orders.join(
            F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey")
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            lib.exact_money_sum(F.col("o_totalprice")).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "join_q3_top_shipping",
    oracle="""
    SELECT l_orderkey, o_orderdate,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND l_shipdate  > TIMESTAMP '1996-01-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def join_q3_top_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: selective dimension filter broadcast against the
    fact, aggregate, deterministic top-10."""
    cust = read_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    )
    li = read_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1996-01-01").cast("timestamp")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "join_left",
    oracle="""
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "join_right",
    oracle=f"""
    SELECT c_mktsegment,
           {lib.exact_money_sum_sql("o_totalprice")} AS revenue,
           COUNT(o_orderkey) AS n_orders
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"), "right")
        .groupBy("c_mktsegment")
        .agg(
            lib.exact_money_sum(F.col("o_totalprice")).alias("revenue"),
            F.count("o_orderkey").alias("n_orders"),
        )
    )


@query(
    "join_full_outer",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust
               FROM customer GROUP BY c_nationkey),
         s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp
               FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(c.nk, s.nk) AS nationkey,
           COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        read_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        read_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("snk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return c.join(s, F.col("nk") == F.col("snk"), "full").select(
        F.coalesce("nk", "snk").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_totalprice > 100000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    big_orders = read_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice") > 100000
    )
    return cust.join(
        big_orders, F.col("o_custkey") == F.col("c_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    return cust.join(
        orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "join_range_band",
    oracle=f"""
    WITH bands(band, lo, hi) AS (VALUES
        ('xs', 0.0, 50000.0), ('s', 50000.0, 100000.0),
        ('m', 100000.0, 200000.0), ('l', 200000.0, 300000.0),
        ('xl', 300000.0, 1000000000.0))
    SELECT band, COUNT(*) AS n,
           {lib.exact_money_sum_sql("o_totalprice")} AS total
    FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
)
def join_range_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi interval join against a tiny broadcast bands dimension."""
    bands = spark.createDataFrame(
        [
            ("xs", 0.0, 50_000.0),
            ("s", 50_000.0, 100_000.0),
            ("m", 100_000.0, 200_000.0),
            ("l", 200_000.0, 300_000.0),
            ("xl", 300_000.0, 1_000_000_000.0),
        ],
        "band string, lo double, hi double",
    )
    return (
        lib.band_join(
            read_table(spark, sf_dir, "orders"), bands, "o_totalprice", "lo", "hi"
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            lib.exact_money_sum(F.col("o_totalprice")).alias("total"),
        )
    )


@query(
    "join_asof",
    oracle="""
    SELECT event_id, o_orderkey, o_orderdate FROM (
        SELECT e.event_id, o.o_orderkey, o.o_orderdate,
               ROW_NUMBER() OVER (PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM events e
        JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    ) t WHERE rn = 1
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the user's latest prior order.

    Uses the bounded cogroup/merge_asof form (``lib.asof_join_merge``) —
    the rank-based ``lib.asof_join`` is its oracle twin (pytest asserts
    equality; a hot key would explode its pre-rank intermediate)."""
    events = read_table(spark, sf_dir, "events")
    orders = read_table(spark, sf_dir, "orders")
    joined = lib.asof_join_merge(
        events.select("event_id", "user_id", "ts"),
        orders.select("o_custkey", "o_orderkey", "o_orderdate"),
        left_key="user_id",
        right_key="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        right_tiebreak="o_orderkey",
    )
    return joined.select("event_id", "o_orderkey", "o_orderdate")


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------


@query(
    "window_topk_per_group",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice FROM (
        SELECT p_brand, p_partkey, p_retailprice,
               ROW_NUMBER() OVER (PARTITION BY p_brand
                   ORDER BY p_retailprice DESC, p_partkey) AS rn
        FROM part
    ) t WHERE rn <= 2
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lib.top_k_per_group(
        read_table(spark, sf_dir, "part").select(
            "p_brand", "p_partkey", "p_retailprice"
        ),
        group_cols=["p_brand"],
        order_cols=[F.col("p_retailprice").desc(), F.col("p_partkey")],
        k=2,
    )


@query(
    "window_lag_delta",
    oracle="""
    SELECT event_id,
           ROUND(value - LAG(value) OVER (PARTITION BY user_id
               ORDER BY ts, event_id), 4) AS delta
    FROM events
    """,
)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return read_table(spark, sf_dir, "events").select(
        "event_id",
        F.round(F.col("value") - F.lag("value").over(w), 4).alias("delta"),
    )


@query(
    "window_running_sum",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(SUM(l_quantity) OVER (PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_qty
    FROM lineitem
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sum("l_quantity").over(w), 4).alias("running_qty"),
    )


@query(
    "window_rank_dense",
    oracle="""
    SELECT c_custkey,
           RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS rnk,
           DENSE_RANK() OVER (PARTITION BY c_mktsegment
               ORDER BY c_acctbal DESC) AS drnk
    FROM customer
    """,
)
def window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc())
    return read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
    )


# --------------------------------------------------------------------------
# Sort / limit
# --------------------------------------------------------------------------


@query(
    "sort_limit_topk",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal FROM customer
    ORDER BY c_acctbal DESC, c_custkey LIMIT 10
    """,
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans this as TakeOrderedAndProject — per-partition
    top-k then a k-row merge on the driver; no global sort materialized."""
    return (
        read_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------


@query(
    "set_union_all",
    oracle="""
    SELECT nationkey, COUNT(*) AS n FROM (
        SELECT c_nationkey AS nationkey FROM customer
        UNION ALL
        SELECT s_nationkey AS nationkey FROM supplier
    ) t GROUP BY nationkey
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = read_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.unionByName(s).groupBy("nationkey").agg(F.count(F.lit(1)).alias("n"))


@query(
    "set_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = read_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s)


@query(
    "set_except",
    oracle="""
    SELECT n_nationkey AS nationkey FROM nation
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nationkey")
    )
    s = read_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return n.subtract(s)  # EXCEPT (distinct) semantics, matching the SQL oracle
