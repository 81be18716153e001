"""Scalar-function queries: string, date/time, math, array, JSON,
conditional (SURVEY §2.B "Scalar fns"; parity anchors S7/S17/S22).

All expressions are JVM-side built-ins inside whole-stage codegen — no
Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from concurrent_etl_go_spark.functions.casts import cast_zero_default
from concurrent_etl_go_spark.operators.registry import query
from concurrent_etl_go_spark.sources.readers import read_table


@query(
    "scalar_string",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           length(p_name) AS name_len,
           substring(p_name, 1, 5) AS name_head,
           string_split(p_type, ' ')[1] AS type_first,
           COALESCE(TRY_CAST(NULLIF(regexp_extract(p_brand, 'Brand#(\\d+)', 1),
               '') AS INT), 0) AS brand_num
    FROM part
    """,
)
def scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """upper/length/substring/split/regexp_extract — S22-style parse with
    the reference's fallback-to-0 on no-match (etl/main.go:361-372)."""
    return read_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_head"),
        F.split("p_type", " ").getItem(0).alias("type_first"),
        F.coalesce(
            F.nullif(F.regexp_extract("p_brand", r"Brand#(\d+)", 1), F.lit("")).try_cast(
                "int"
            ),
            F.lit(0),
        ).alias("brand_num"),
    )


@query(
    "scalar_date",
    oracle="""
    SELECT o_orderkey,
           date_trunc('month', o_orderdate) AS order_month,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
           CAST(EXTRACT(month FROM o_orderdate) AS INT) AS order_mon,
           epoch_us(o_orderdate) // 1000000 AS order_epoch
    FROM orders
    """,
)
def scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_mon"),
        F.unix_timestamp("o_orderdate").alias("order_epoch"),
    )


@query(
    "scalar_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(sqrt(l_extendedprice), 4) AS price_sqrt,
           ROUND(ln(l_extendedprice + 1), 4) AS price_ln,
           ROUND(pow(l_discount, 2), 4) AS disc_sq,
           ROUND(abs(l_quantity - 25.0), 4) AS qty_dev,
           l_orderkey % 7 AS key_mod
    FROM lineitem
    """,
)
def scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sqrt("l_extendedprice"), 4).alias("price_sqrt"),
        F.round(F.log(F.col("l_extendedprice") + 1), 4).alias("price_ln"),
        F.round(F.pow("l_discount", F.lit(2)), 4).alias("disc_sq"),
        F.round(F.abs(F.col("l_quantity") - 25.0), 4).alias("qty_dev"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
    )


@query(
    "scalar_array",
    oracle="""
    SELECT word, COUNT(*) AS n FROM (
        SELECT unnest(string_split(p_type, ' ')) AS word FROM part
    ) t GROUP BY word
    """,
)
def scalar_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array build + explode + re-aggregate (array fn surface)."""
    return (
        read_table(spark, sf_dir, "part")
        .select(F.explode(F.split("p_type", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "scalar_json",
    oracle="""
    SELECT event_type,
           COUNT(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE))
               AS n_with_k,
           ROUND(SUM(COALESCE(TRY_CAST(json_extract_string(props, '$.k')
               AS DOUBLE), 0.0)), 4) AS sum_k
    FROM events GROUP BY event_type
    """,
)
def scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction (S17 parity) + zero-default cast (S7 parity)."""
    k_null = F.get_json_object("props", "$.k").try_cast("double")
    k_zero = cast_zero_default(F.get_json_object("props", "$.k"))
    return (
        read_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(k_null).alias("n_with_k"),
            F.round(F.sum(k_zero), 4).alias("sum_k"),
        )
    )


@query(
    "scalar_case_when",
    oracle="""
    SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'high' END AS bucket,
           COUNT(*) AS n, ROUND(SUM(c_acctbal), 4) AS total_bal
    FROM customer GROUP BY 1
    """,
)
def scalar_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
    )
    return (
        read_table(spark, sf_dir, "customer")
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("c_acctbal"), 4).alias("total_bal"),
        )
    )
