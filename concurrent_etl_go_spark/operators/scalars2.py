"""Scalar-function coverage, batch 2: date arithmetic, extended string ops,
null-handling, map columns, conditional aggregation, bitwise ops."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from concurrent_etl_go_spark.operators import lib
from concurrent_etl_go_spark.operators.registry import query
from concurrent_etl_go_spark.sources.readers import read_table


@query(
    "scalar_date_arith",
    oracle="""
    SELECT o_orderkey,
           date_diff('day', o_orderdate, TIMESTAMP '1998-01-01')
               AS days_to_ref,
           o_orderdate + INTERVAL 30 DAY AS plus_30d,
           CAST(EXTRACT(dow FROM o_orderdate) AS INT) AS dow,
           CAST(EXTRACT(doy FROM o_orderdate) AS INT) AS doy
    FROM orders
    """,
)
def scalar_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic. Note dialect traps handled here: Spark
    ``dayofweek`` is 1=Sunday..7 while DuckDB ``dow`` is 0=Sunday..6
    (normalized via -1); datediff argument order differs too."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.datediff(
            F.lit("1998-01-01").cast("timestamp").cast("date"),
            F.col("o_orderdate").cast("date"),
        ).cast("long").alias("days_to_ref"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("plus_30d"),
        (F.dayofweek("o_orderdate") - 1).alias("dow"),
        F.dayofyear("o_orderdate").alias("doy"),
    )


@query(
    "scalar_string2",
    oracle="""
    SELECT p_partkey,
           concat_ws('|', p_brand, p_type) AS brand_type,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           reverse(p_brand) AS brand_rev,
           repeat('*', p_size % 5) AS stars,
           strpos(p_name, 'a') AS first_a,
           CASE WHEN p_type LIKE '%BRASS%' THEN 1 ELSE 0 END AS is_brass
    FROM part
    """,
)
def scalar_string2(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.reverse("p_brand").alias("brand_rev"),
        F.repeat(F.lit("*"), (F.col("p_size") % 5).cast("int")).alias("stars"),
        F.instr("p_name", "a").cast("bigint").alias("first_a"),
        F.when(F.col("p_type").like("%BRASS%"), 1).otherwise(0).alias("is_brass"),
    )


@query(
    "scalar_null_fns",
    oracle="""
    SELECT c_custkey,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
           ROUND(LEAST(c_acctbal, 1000.0), 4) AS capped_low,
           ROUND(GREATEST(c_acctbal, 0.0), 4) AS floored,
           CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END AS bal_is_null
    FROM customer
    """,
)
def scalar_null_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.coalesce(
            F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")
        ).alias("seg_or_other"),
        F.round(F.least("c_acctbal", F.lit(1000.0)), 4).alias("capped_low"),
        F.round(F.greatest("c_acctbal", F.lit(0.0)), 4).alias("floored"),
        F.when(F.col("c_acctbal").isNull(), 1).otherwise(0).alias("bal_is_null"),
    )


@query(
    "scalar_map_column",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(CASE WHEN l_orderkey % 2 = 0 THEN l_quantity
                      ELSE l_extendedprice END, 4) AS selected_metric
    FROM lineitem
    """,
)
def scalar_map_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map column build + dynamic key lookup. The oracle states the
    equivalent value directly — the point is that the map implementation
    computes the same thing."""
    li = read_table(spark, sf_dir, "lineitem")
    metric_map = F.create_map(
        F.lit("qty"), F.col("l_quantity"),
        F.lit("price"), F.col("l_extendedprice"),
    )
    key = F.when(F.col("l_orderkey") % 2 == 0, "qty").otherwise("price")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.element_at(metric_map, key), 4).alias("selected_metric"),
    )


@query(
    "agg_conditional",
    oracle=f"""
    SELECT l_linestatus,
           COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
           {lib.exact_money_sum_sql(
               "CASE WHEN l_returnflag = 'R' THEN l_extendedprice END"
           )} AS returned_value,
           ROUND(AVG(l_quantity) FILTER (WHERE l_quantity > 25), 4)
               AS avg_large_qty
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (FILTER-clause semantics via when/count_if)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        lib.exact_money_sum(
            F.when(F.col("l_returnflag") == "R", F.col("l_extendedprice"))
        ).alias("returned_value"),
        F.round(
            F.avg(F.when(F.col("l_quantity") > 25, F.col("l_quantity"))), 4
        ).alias("avg_large_qty"),
    )


@query(
    "scalar_bitwise",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_orderkey & 255 AS low_byte,
           l_orderkey | 1 AS set_low,
           xor(l_orderkey, l_linenumber) AS xored,
           l_orderkey << 2 AS shifted
    FROM lineitem WHERE l_orderkey < 1000
    """,
)
def scalar_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_orderkey").bitwiseAND(F.lit(255)).alias("low_byte"),
        F.col("l_orderkey").bitwiseOR(F.lit(1)).alias("set_low"),
        F.col("l_orderkey")
        .bitwiseXOR(F.col("l_linenumber").cast("long"))
        .alias("xored"),
        F.shiftleft("l_orderkey", 2).alias("shifted"),
    )


@query(
    "scalar_array2",
    oracle="""
    SELECT p_partkey,
           len(string_split(p_type, ' ')) AS n_words,
           list_contains(string_split(p_type, ' '), 'BRASS') AS has_brass,
           array_to_string(list_sort(string_split(p_type, ' ')), '-')
               AS joined
    FROM part
    """,
)
def scalar_array2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array ops (sort/contains/join) — outputs scalarized (array_join) so
    the cross-engine value hash compares strings, not list encodings."""
    part = read_table(spark, sf_dir, "part").withColumn("words", F.split("p_type", " "))
    return part.select(
        "p_partkey",
        F.size("words").cast("long").alias("n_words"),
        F.array_contains("words", "BRASS").alias("has_brass"),
        F.array_join(F.sort_array("words"), "-").alias("joined"),
    )


@query(
    "scalar_uri_parse",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.com/docs/' || doc_id
                 || '?lang=' || lang AS url
      FROM documents
    )
    SELECT doc_id, url,
           regexp_extract(url, '^https://([^/]+)/', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, 'lang=([a-z]+)', 1) AS lang_param
    FROM u
    """,
)
def scalar_uri_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/URI component extraction — host, path, query parameter — via
    RE2-compatible regexps that DuckDB evaluates identically (Spark's
    ``parse_url`` has no DuckDB twin, so the oracle-facing form uses
    portable regexps; both engines see the same synthesized URL column).

    Scale: pure map-side string expressions, no shuffle; the pattern is
    the log-parsing front door of every clickstream/crawl pipeline.
    """
    docs = read_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
    )
    with_url = docs.select("doc_id", url.alias("url"))
    return with_url.select(
        "doc_id",
        "url",
        F.regexp_extract("url", r"^https://([^/]+)/", 1).alias("host"),
        F.regexp_extract("url", r"^[a-z]+://[^/]+(/[^?]*)", 1).alias("path"),
        F.regexp_extract("url", r"lang=([a-z]+)", 1).alias("lang_param"),
    )


def canonicalize_url(url):
    """Canonical form of a URL Column: drop the fragment, lowercase the
    scheme+host and strip the default :443 port, remove ``utm_*`` query
    parameters, and sort the survivors (see ``scalar_url_normalize``).
    Reused by ``dedup_url_canonical`` so the dedup key can never drift
    from the normalizer it advertises."""
    no_frag = F.regexp_replace(url, r"#.*$", "")
    origin = F.lower(
        F.regexp_replace(
            F.regexp_extract(no_frag, r"^[A-Za-z]+://[^/]+", 0),
            r":443$",
            "",
        )
    )
    path = F.regexp_extract(no_frag, r"^[A-Za-z]+://[^/]+(/[^?]*)", 1)
    qs = F.regexp_extract(no_frag, r"\?(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(qs, "&"),
            lambda p: (~p.startswith("utm_")) & (p != ""),
        )
    )
    return F.concat(
        origin,
        path,
        F.when(
            F.size(params) > 0,
            F.concat(F.lit("?"), F.array_join(params, "&")),
        ).otherwise(F.lit("")),
    )


@query(
    "scalar_url_normalize",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'HTTPS://Docs.Example.COM:443/' || source || '/' || doc_id
                 || '?utm_source=feed&lang=' || lang || '&b=2&a=1#frag'
                 AS url
      FROM documents
    ),
    s AS (
      SELECT doc_id, url,
             regexp_replace(url, '#.*$', '') AS no_frag
      FROM u
    ),
    parts AS (
      SELECT doc_id, url,
             lower(regexp_replace(
                 regexp_extract(no_frag, '^[A-Za-z]+://[^/]+'),
                 ':443$', '')) AS origin,
             regexp_extract(no_frag, '^[A-Za-z]+://[^/]+(/[^?]*)', 1)
                 AS path,
             regexp_extract(no_frag, '\\?(.*)$', 1) AS qs
      FROM s
    ),
    q AS (
      SELECT doc_id, url, origin, path,
             list_sort(list_filter(string_split(qs, '&'),
                 p -> NOT starts_with(p, 'utm_') AND p <> '')) AS params
      FROM parts
    )
    SELECT doc_id, url,
           origin || path ||
           CASE WHEN len(params) > 0
                THEN '?' || array_to_string(params, '&') ELSE '' END
               AS canonical_url
    FROM q
    """,
)
def scalar_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the crawl-dedup primitive: lowercase the
    scheme+host, strip the default :443 port and the fragment, drop
    ``utm_*`` tracking parameters, and SORT the surviving query
    parameters so parameter order can't split one logical page into many
    "distinct" URLs. The same messy URL is synthesized in both engines
    (documents carry no URL column), then normalized identically.

    Scale: pure map-side string/array expressions — regexp split, array
    filter/sort/join — no shuffle, no UDF; canonical_url then feeds the
    exact-dedup hash key (``dedup_exact`` on URLs instead of text).
    """
    docs = read_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://Docs.Example.COM:443/"),
        F.col("source"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
        F.lit("?utm_source=feed&lang="),
        F.col("lang"),
        F.lit("&b=2&a=1#frag"),
    )
    s = docs.select("doc_id", url.alias("url"))
    return s.select("doc_id", "url", canonicalize_url(F.col("url")).alias("canonical_url"))
