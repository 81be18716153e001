"""Third relational batch: argmin/argmax aggregates, correlation, median,
range window frames, IN-subqueries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from concurrent_etl_go_spark.operators.registry import query
from concurrent_etl_go_spark.sources.readers import read_table


@query(
    "agg_minmax_by",
    oracle="""
    SELECT o_orderstatus,
           arg_max(o_orderkey, o_totalprice) AS biggest_order,
           arg_min(o_orderkey, o_totalprice) AS smallest_order,
           ROUND(MAX(o_totalprice), 4) AS max_price,
           ROUND(MIN(o_totalprice), 4) AS min_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax/argmin aggregates (max_by/min_by). Deterministic here because
    o_totalprice values are distinct within each status group at the tested
    scales; ties would be engine-defined."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("biggest_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("smallest_order"),
        F.round(F.max("o_totalprice"), 4).alias("max_price"),
        F.round(F.min("o_totalprice"), 4).alias("min_price"),
    )


@query(
    "agg_corr_covar",
    oracle="""
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
           ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_cov,
           ROUND(median(l_quantity), 4) AS median_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_corr"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_cov"
        ),
        F.round(F.median("l_quantity"), 4).alias("median_qty"),
    )


@query(
    "window_range_frame",
    oracle="""
    SELECT c_custkey,
           COUNT(*) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal
               RANGE BETWEEN 100.0 PRECEDING AND 100.0 FOLLOWING)
               AS peers_within_100
    FROM customer
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based window): peers with acctbal within +-100."""
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy("c_acctbal")
        .rangeBetween(-100, 100)
    )
    return read_table(spark, sf_dir, "customer").select(
        "c_custkey", F.count(F.lit(1)).over(w).alias("peers_within_100")
    )


@query(
    "filter_in_subquery",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 4) AS total
    FROM orders
    WHERE o_custkey IN (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    ) AND o_orderstatus = 'O'
    """,
)
def filter_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery predicate (planned as a semi-join)."""
    for name in ("orders", "customer"):
        read_table(spark, sf_dir, name).createOrReplaceTempView(f"__ceg_{name}")
    return spark.sql(
        """
        SELECT o_orderkey, ROUND(o_totalprice, 4) AS total
        FROM __ceg_orders
        WHERE o_custkey IN (
            SELECT c_custkey FROM __ceg_customer WHERE c_mktsegment = 'MACHINERY'
        ) AND o_orderstatus = 'O'
        """
    )


@query(
    "window_ntile_cume",
    scale_class="oracle_twin",  # production: window_ntile_cume_scalable
    oracle="""
    SELECT c_custkey,
           ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile,
           ROUND(cume_dist() OVER (ORDER BY c_acctbal, c_custkey), 4)
               AS cume,
           ROUND(percent_rank() OVER (ORDER BY c_acctbal, c_custkey), 4)
               AS pct_rank
    FROM customer
    """,
)
def window_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions over a total order (tie-broken).

    ORACLE TWIN: the unpartitioned window funnels all rows through one
    task — fine for a per-segment-sized table, wrong at 100 TB. The
    production path is ``window_ntile_cume_scalable``
    (operators/quantiles.py): distributed global rank via range
    repartition + partition offsets, same exact answer and oracle."""
    w = Window.orderBy("c_acctbal", "c_custkey")
    return read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.cume_dist().over(w), 4).alias("cume"),
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
    )
