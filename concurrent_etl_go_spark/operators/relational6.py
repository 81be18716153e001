"""Final round-1 coverage batch: histogram bucketing, lead, trig functions,
BETWEEN, keep-latest dedup, oracle-checked shingle construction."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from concurrent_etl_go_spark.operators.registry import query
from concurrent_etl_go_spark.sources.readers import read_table


@query(
    "agg_histogram",
    oracle="""
    SELECT CAST(floor(value / 50.0) AS BIGINT) AS bucket,
           COUNT(*) AS n, ROUND(MIN(value), 4) AS lo, ROUND(MAX(value), 4) AS hi
    FROM events GROUP BY 1
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via floor-div bucketing (the scalable
    histogram: one pass, no sort)."""
    events = read_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.floor(F.col("value") / 50.0).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
    )


@query(
    "window_lead",
    oracle="""
    SELECT event_id,
           LEAD(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_event_id,
           ROUND(epoch(LEAD(ts) OVER (PARTITION BY user_id
               ORDER BY ts, event_id)) - epoch(ts), 4) AS secs_to_next
    FROM events
    """,
)
def window_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events = read_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.lead("event_id").over(w).alias("next_event_id"),
        F.round(
            F.lead(F.col("ts").cast("double")).over(w)
            - F.col("ts").cast("double"),
            4,
        ).alias("secs_to_next"),
    )


@query(
    "scalar_trig",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(sin(l_discount), 4) AS s,
           ROUND(cos(l_tax), 4) AS c,
           ROUND(atan2(l_discount, l_tax + 0.01), 4) AS a,
           ROUND(degrees(l_discount), 4) AS deg,
           ROUND(exp(l_discount), 4) AS e
    FROM lineitem WHERE l_orderkey % 50 = 0
    """,
)
def scalar_trig(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 50 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sin("l_discount"), 4).alias("s"),
        F.round(F.cos("l_tax"), 4).alias("c"),
        F.round(F.atan2(F.col("l_discount"), F.col("l_tax") + 0.01), 4).alias("a"),
        F.round(F.degrees("l_discount"), 4).alias("deg"),
        F.round(F.exp("l_discount"), 4).alias("e"),
    )


@query(
    "filter_between",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 4) AS total
    FROM orders
    WHERE o_totalprice BETWEEN 100000 AND 150000
      AND o_orderdate BETWEEN TIMESTAMP '1994-01-01' AND TIMESTAMP '1996-12-31'
    """,
)
def filter_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return orders.where(
        F.col("o_totalprice").between(100000, 150000)
        & F.col("o_orderdate").between(
            F.lit("1994-01-01").cast("timestamp"),
            F.lit("1996-12-31").cast("timestamp"),
        )
    ).select("o_orderkey", F.round("o_totalprice", 4).alias("total"))


@query(
    "dedup_keep_latest",
    oracle="""
    SELECT source, arg_max(doc_id, doc_id) AS latest_doc_id, COUNT(*) AS n
    FROM documents GROUP BY source
    """,
)
def dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest survivor policy (vs dedup_exact's keep-smallest):
    argmax on the version key per group."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.max_by("doc_id", "doc_id").alias("latest_doc_id"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "text_shingles",
    oracle="""
    SELECT doc_id,
           len(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
               for i in range(1, greatest(len(w) - 2, 0) + 1)]))
               AS n_shingles,
           len(w) AS n_tokens
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t
    """,
)
def text_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked shingle construction — verifies the exact building
    block under MinHash-LSH / n-gram Jaccard against an independent
    implementation."""
    from concurrent_etl_go_spark.llm.dedup import shingles_from_tokens
    from concurrent_etl_go_spark.llm.text import tokenized_docs

    docs = tokenized_docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.size(shingles_from_tokens(F.col("toks"))).cast("long").alias("n_shingles"),
        F.size("toks").cast("long").alias("n_tokens"),
    )
