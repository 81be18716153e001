"""Fifth coverage batch: left as-of join, grouping flags, map functions,
interval-overlap join."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from concurrent_etl_go_spark.operators.registry import query
from concurrent_etl_go_spark.sources.readers import read_table


@query(
    "join_asof_left",
    oracle="""
    WITH matched AS (
        SELECT e.event_id, o.o_orderkey, o.o_orderdate,
               ROW_NUMBER() OVER (PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM events e
        JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    )
    SELECT e.event_id, m.o_orderkey, m.o_orderdate
    FROM events e LEFT JOIN matched m
      ON m.event_id = e.event_id AND m.rn = 1
    """,
)
def join_asof_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT as-of join: every event survives; unmatched events carry nulls.
    Single cogroup pass (``how='left'``) — both sides shuffle once on the
    key, and the per-key merge is cursor-bounded (no pre-rank blow-up)."""
    from concurrent_etl_go_spark.operators.lib import asof_join_merge

    events = read_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    return asof_join_merge(
        events,
        orders,
        left_key="user_id",
        right_key="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        right_tiebreak="o_orderkey",
        how="left",
    ).select("event_id", "o_orderkey", "o_orderdate")


@query(
    "agg_rollup_grouping",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping flags: distinguishes 'NULL because subtotal'
    from 'NULL in the data'."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "scalar_map_functions",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           'discount,tax' AS keys_joined,
           ROUND(l_discount + l_tax, 4) AS values_sum,
           2 AS n_entries
    FROM lineitem WHERE l_orderkey % 100 = 0
    """,
)
def scalar_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map_keys/map_values/size over a map column, scalarized for the
    cross-engine hash (the oracle states the equivalent values directly)."""
    li = read_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 100 == 0)
    m = F.create_map(
        F.lit("discount"), F.col("l_discount"), F.lit("tax"), F.col("l_tax")
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.array_join(F.map_keys(m), ",").alias("keys_joined"),
        F.round(
            F.aggregate(F.map_values(m), F.lit(0.0), lambda a, v: a + v), 4
        ).alias("values_sum"),
        F.size(m).alias("n_entries"),
    )


@query(
    "join_interval_overlap",
    oracle="""
    SELECT o.o_orderkey, COUNT(e.event_id) AS n_events_30d
    FROM orders o
    JOIN events e
      ON e.user_id = o.o_custkey
     AND e.ts >= o.o_orderdate
     AND e.ts < o.o_orderdate + INTERVAL 30 DAY
    GROUP BY o.o_orderkey
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: events falling inside each order's 30-day window.
    The equi-key (user = customer) keeps it a hash join; the interval is a
    residual filter — no cartesian blow-up."""
    orders = read_table(spark, sf_dir, "orders")
    events = read_table(spark, sf_dir, "events")
    cond = (
        (F.col("user_id") == F.col("o_custkey"))
        & (F.col("ts") >= F.col("o_orderdate"))
        & (F.col("ts") < F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
    )
    return (
        orders.join(events, cond)
        .groupBy("o_orderkey")
        .agg(F.count("event_id").alias("n_events_30d"))
    )


@query("sample_fraction")  # engine-seeded sampling — rows-only check
def sample_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bernoulli sampling with a fixed seed: deterministic within Spark
    (per-partition seeded), not portable to other engines — rows-only."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.sample(fraction=0.1, seed=42).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@query(
    "join_asof_nearest",
    oracle="""
    SELECT event_id, o_orderkey, o_orderdate FROM (
        SELECT e.event_id, o.o_orderkey, o.o_orderdate,
               ROW_NUMBER() OVER (PARTITION BY e.event_id
                   ORDER BY abs(epoch_us(e.ts) - epoch_us(o.o_orderdate)),
                            o.o_orderdate,
                            CASE WHEN o.o_orderdate <= e.ts
                                 THEN -o.o_orderkey ELSE o.o_orderkey END
               ) AS rn
        FROM events e
        JOIN orders o ON o.o_custkey = e.user_id
    ) t WHERE rn = 1
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (pandas ``merge_asof(direction='nearest')``
    semantics, distributed): each event matches the user's order closest
    in time, in EITHER direction.

    Composition, not a new kernel: one bounded backward pass (latest
    order <= ts, ties -> largest key) and one bounded forward pass
    (earliest order > ts — strictly, so the candidate sets partition —
    ties -> smallest key), joined on the event id, picking whichever
    candidate is closer (equidistant -> the backward/earlier one). Each
    pass is the cursor-bounded cogroup merge, so a hot user never
    explodes an intermediate, and the final pick is a narrow
    event-keyed join of two already-small match tables. The oracle's
    rank ordering encodes the same rule relationally: distance, then
    date (backward first), then the side's own key tie-break.
    """
    from concurrent_etl_go_spark.operators.lib import asof_join_merge

    events = read_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )

    def one_pass(direction: str, prefix: str) -> DataFrame:
        out = asof_join_merge(
            events,
            orders,
            left_key="user_id",
            right_key="o_custkey",
            left_time="ts",
            right_time="o_orderdate",
            right_tiebreak="o_orderkey",
            how="left",
            direction=direction,
        )
        dist = F.abs(
            F.unix_micros("ts") - F.unix_micros("o_orderdate")
        )
        return out.select(
            "event_id",
            F.col("o_orderkey").alias(f"{prefix}_key"),
            F.col("o_orderdate").alias(f"{prefix}_date"),
            dist.alias(f"{prefix}_dist"),
        )

    bk = one_pass("backward", "bk")
    fw = one_pass("forward", "fw")
    both = bk.join(fw, "event_id")
    fw_wins = F.col("bk_key").isNull() | (
        F.col("fw_key").isNotNull() & (F.col("fw_dist") < F.col("bk_dist"))
    )
    picked = both.select(
        "event_id",
        F.when(fw_wins, F.col("fw_key")).otherwise(F.col("bk_key")).alias(
            "o_orderkey"
        ),
        F.when(fw_wins, F.col("fw_date")).otherwise(F.col("bk_date")).alias(
            "o_orderdate"
        ),
    )
    return picked.where(F.col("o_orderkey").isNotNull())
