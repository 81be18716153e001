"""Second relational batch: multi-way join, quantiles, pivot/unpivot,
distinct, subqueries (SURVEY §2.B coverage widening)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from concurrent_etl_go_spark.operators.registry import query
from concurrent_etl_go_spark.sources.readers import read_table


@query(
    "join_q5_local_supplier",
    oracle="""
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE c_nationkey = s_nationkey
      AND o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def join_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star join. The fact (lineitem) joins orders
    on its partition key; every dimension side broadcasts, so the fact is
    shuffled exactly once (for the orders join) at any scale."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` == DuckDB
    ``quantile_cont``); the approximate variant is ``agg_approx`` below.
    One array-quantile aggregate (single value buffer per group) instead of
    three scalar ones."""
    li = read_table(spark, sf_dir, "lineitem")
    pcts = F.percentile(
        "l_extendedprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
    )
    return (
        li.groupBy("l_returnflag")
        .agg(pcts.alias("__p"))
        .select(
            "l_returnflag",
            F.round(F.col("__p")[0], 4).alias("p50"),
            F.round(F.col("__p")[1], 4).alias("p90"),
            F.round(F.col("__p")[2], 4).alias("p99"),
        )
    )


@query("agg_approx")  # sketch outputs are implementation-defined — rows-only
def agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct (HLL) + approximate quantiles — the 100 TB
    substitutes for their exact forms."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias(
            "approx_p50"
        ),
    )


@query(
    "agg_pivot",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4) AS qty_o,
           ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4) AS qty_f
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with a fixed value list (the scalable form — no value
    discovery pass); equivalent to conditional aggregation."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 4))
        .withColumnsRenamed({"O": "qty_o", "F": "qty_f"})
    )


@query(
    "unpivot_stack",
    oracle="""
    SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS value FROM customer
    UNION ALL
    SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE) FROM customer
    """,
)
def unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long) via the native unpivot/melt operator."""
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    )
    return cust.unpivot(
        ids=["c_custkey"],
        values=["acctbal", "nationkey"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@query(
    "distinct_rows",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus, l_shipdate FROM lineitem
    """,
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_shipdate"
    ).distinct()


@query(
    "scalar_subquery",
    oracle="""
    SELECT c_custkey, c_acctbal,
           ROUND(c_acctbal - (SELECT AVG(c_acctbal) FROM customer), 4)
               AS bal_vs_avg
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
    """,
)
def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery (computed once, broadcast into the predicate)."""
    # prefixed view name: never clobber a caller's own temp views
    read_table(spark, sf_dir, "customer").createOrReplaceTempView("__ceg_customer")
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal,
               ROUND(c_acctbal - (SELECT AVG(c_acctbal) FROM __ceg_customer), 4)
                   AS bal_vs_avg
        FROM __ceg_customer
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM __ceg_customer)
        """
    )


@query(
    "correlated_exists_agg",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_quantity > 45
    )
    GROUP BY o_orderpriority
    """,
)
def correlated_exists_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS decorrelated by Catalyst into a
    semi-join."""
    for name in ("orders", "lineitem"):
        read_table(spark, sf_dir, name).createOrReplaceTempView(f"__ceg_{name}")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM __ceg_orders
        WHERE EXISTS (
            SELECT 1 FROM __ceg_lineitem
            WHERE l_orderkey = o_orderkey AND l_quantity > 45
        )
        GROUP BY o_orderpriority
        """
    )
