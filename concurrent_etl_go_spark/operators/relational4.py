"""Fourth coverage batch: ordered string aggregation, positional window
values, regex predicates, split_part, date formatting, union-by-name with
missing columns."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from concurrent_etl_go_spark.operators.registry import query
from concurrent_etl_go_spark.sources.readers import read_table


@query(
    "agg_string_concat",
    oracle="""
    SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey
    """,
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: collect_list is unordered by contract,
    so sort_array fixes a deterministic order before joining."""
    return (
        read_table(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(
            F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias(
                "nations"
            )
        )
    )


@query(
    "window_first_last",
    oracle="""
    SELECT o_orderkey,
           FIRST_VALUE(o_orderkey) OVER w AS first_in_status,
           LAST_VALUE(o_orderkey) OVER (PARTITION BY o_orderstatus
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS last_in_status,
           NTH_VALUE(o_orderkey, 2) OVER w AS second_in_status
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth value over an unbounded frame with a total order."""
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    orders = read_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_in_status"),
        F.last("o_orderkey").over(w).alias("last_in_status"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_in_status"),
    )


@query(
    "filter_rlike",
    oracle="""
    SELECT p_partkey, p_name,
           split_part(p_type, ' ', 2) AS type_mid
    FROM part
    WHERE regexp_matches(p_name, '^[ab].*[xyz]')
    """,
)
def filter_rlike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex predicate (rlike) + split_part field extraction."""
    return (
        read_table(spark, sf_dir, "part")
        .where(F.col("p_name").rlike(r"^[ab].*[xyz]"))
        .select(
            "p_partkey",
            "p_name",
            F.split_part("p_type", F.lit(" "), F.lit(2)).alias("type_mid"),
        )
    )


@query(
    "scalar_date_format",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m') AS ym,
           strftime(o_orderdate, '%Y/%m/%d') AS ymd
    FROM orders
    """,
)
def scalar_date_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp formatting (Java pattern vs strftime — same output)."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        F.date_format("o_orderdate", "yyyy/MM/dd").alias("ymd"),
    )


@query(
    "set_union_missing_cols",
    oracle="""
    SELECT c_custkey AS entity_id, c_acctbal AS balance, NULL AS priority
    FROM customer
    UNION ALL
    SELECT o_orderkey, NULL, o_orderpriority FROM orders
    """,
)
def set_union_missing_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName(allowMissingColumns=True): schema-merging union that
    null-fills the columns each side lacks."""
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_id"),
        F.col("c_acctbal").alias("balance"),
    )
    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("entity_id"),
        F.col("o_orderpriority").alias("priority"),
    )
    return cust.unionByName(orders, allowMissingColumns=True)
