"""Experimentation analytics, part 3: the sequential probability ratio
test (SPRT) monitor.

``agg_sprt_ab`` runs Wald's SPRT (Wald 1945, public literature) over
the treatment arm's daily conversion stream — the "peek every day
without inflating false positives" monitor production experimentation
platforms run between fixed-horizon readouts.  Hypotheses are derived
from the data so the query is self-contained at every scale factor:
H0 = the pooled conversion rate, H1 = a +10% relative lift on it.
Each day contributes ``c*ln(p1/p0) + (n-c)*ln((1-p1)/(1-p0))`` to the
running log-likelihood ratio; crossing ``ln((1-beta)/alpha)`` accepts
H1, crossing ``ln(beta/(1-alpha))`` accepts H0.

Cross-engine exactness: the only transcendentals are TWO SCALAR
constants (the per-conversion and per-non-conversion log ratios) —
pinned once with ROUND(8) + 0.0 over rates that are exact int64
ratios; every daily term is integer-weighted arithmetic on those two
identical doubles, FLOOR'd to integer micro-nats per day (floor of a
bit-identical double is bit-identical), and the running LLR is an
integer SUM — order-independent, immune to segment-tree window
summation order.  The float trace derives from that integer.

Scale: one events scan -> (day, user)-grain distinct agg -> day-keyed
counts; the cumulative window is day-count sized.  Reference parity:
no experimentation surface exists in the reference (etl/main.go);
extends SURVEY.md §2.B beside ``operators/experiments2.py``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from concurrent_etl_go_spark.operators.registry import query, scoped_persist
from concurrent_etl_go_spark.sources.readers import read_table

#: md5 arm bucket (experiments.py convention).
_SQL_ARM = (
    "(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))::BIGINT % 2)"
)

_ALPHA = 0.05
_BETA = 0.05
#: Wald boundaries as precomputed INTEGER micro-nat literals — the
#: running LLR accumulates as integers (cumulative FLOAT window sums
#: are not portable: DuckDB's windowed SUM may add in segment-tree
#: order, not left-to-right), so the boundaries are integers too.
_UPPER_E6 = int(math.floor(math.log((1 - _BETA) / _ALPHA) * 1e6))
_LOWER_E6 = int(math.ceil(math.log(_BETA / (1 - _ALPHA)) * 1e6))
_LIFT = 1.1  # H1: +10% relative lift on the pooled rate

#: The two pinned scalar log ratios over exact int64 pooled counts
#: (ct = pooled conversions, nt = pooled exposures).  p0 = ct/nt,
#: p1 = min(1.1 * p0, 0.999999).
_P0 = "(CAST(ct AS DOUBLE) / nt)"
_P1 = f"LEAST({_LIFT} * {_P0}, 0.999999)"
_LR_CONV = f"ROUND(ln({_P1} / {_P0}), 8) + 0.0"
_LR_MISS = f"ROUND(ln((1.0 - {_P1}) / (1.0 - {_P0})), 8) + 0.0"


def _sprt_sql() -> str:
    return f"""
    WITH active AS MATERIALIZED (
      SELECT DISTINCT date_trunc('day', ts) AS day, user_id,
             {_SQL_ARM} AS arm
      FROM events
    ),
    conv AS MATERIALIZED (
      SELECT DISTINCT date_trunc('day', ts) AS day, user_id
      FROM events WHERE event_type = 'purchase'
    ),
    daily AS MATERIALIZED (
      SELECT a.day,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END)
                  AS BIGINT) AS c
      FROM active a
      LEFT JOIN conv c ON c.day = a.day AND c.user_id = a.user_id
      WHERE a.arm = 1
      GROUP BY 1
    ),
    pooled AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(c) AS BIGINT) AS ct
      FROM daily
    ),
    terms AS MATERIALIZED (
      SELECT day, n, c,
             CAST(FLOOR((c * ({_LR_CONV}) + (n - c) * ({_LR_MISS}))
                        * 1000000.0) AS BIGINT) AS term_e6
      FROM daily CROSS JOIN pooled
    ),
    cum AS (
      SELECT day, n, c, term_e6,
             CAST(SUM(term_e6) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS llr_e6
      FROM terms
    )
    SELECT day, n AS n_exposed, c AS n_converted,
           term_e6, llr_e6,
           (CAST(llr_e6 AS DOUBLE) / 1000000.0) + 0.0 AS llr_cum,
           CASE WHEN llr_e6 >= {_UPPER_E6} THEN 'accept_h1'
                WHEN llr_e6 <= {_LOWER_E6} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM cum
    """


@query("agg_sprt_ab", oracle=_sprt_sql())
def agg_sprt_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily SPRT trace for the treatment arm's conversion rate: per
    day, the arm's exposed/converted user counts, the day's LLR
    contribution, the running LLR, and the Wald decision at 5%/5%
    error rates.  The log ratios are two ROUND(8)-pinned scalars over
    the pooled integer rate, so the whole trace is bit-identical
    across engines and emits unrounded."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    arm = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10
        ).cast("long")
        % 2
    )
    active = (
        ev.select(
            F.date_trunc("day", "ts").alias("day"),
            "user_id",
            arm.alias("arm"),
        )
        .distinct()
        .where(F.col("arm") == 1)
    )
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .select(F.date_trunc("day", "ts").alias("day"), "user_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    daily = scoped_persist(
        active.join(conv, ["day", "user_id"], "left")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("c"),
        )
    )
    pooled = daily.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("c").cast("long").alias("ct"),
    )
    terms = daily.crossJoin(F.broadcast(pooled)).select(
        "day",
        "n",
        "c",
        F.expr(
            f"CAST(FLOOR((c * ({_LR_CONV}) + (n - c) * ({_LR_MISS}))"
            f" * 1000000.0) AS BIGINT)"
        ).alias("term_e6"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = terms.select(
        "day",
        "n",
        "c",
        "term_e6",
        F.sum("term_e6").over(w).cast("long").alias("llr_e6"),
    )
    return cum.select(
        "day",
        F.col("n").alias("n_exposed"),
        F.col("c").alias("n_converted"),
        "term_e6",
        "llr_e6",
        F.expr("(CAST(llr_e6 AS DOUBLE) / 1000000.0) + 0.0").alias(
            "llr_cum"
        ),
        F.expr(
            f"CASE WHEN llr_e6 >= {_UPPER_E6} THEN 'accept_h1'"
            f" WHEN llr_e6 <= {_LOWER_E6} THEN 'accept_h0'"
            f" ELSE 'continue' END"
        ).alias("decision"),
    )


@query(
    "agg_capture_recapture",
    oracle="""
    WITH b AS (
      SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS bound
      FROM events
    ),
    s1 AS MATERIALIZED (
      SELECT DISTINCT user_id FROM events CROSS JOIN b
      WHERE epoch_us(ts) < b.bound
    ),
    s2 AS MATERIALIZED (
      SELECT DISTINCT user_id FROM events CROSS JOIN b
      WHERE epoch_us(ts) >= b.bound
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS recaptured
      FROM s1 JOIN s2 USING (user_id)
    ),
    c AS (
      SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n1,
             CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n2,
             CAST((SELECT COUNT(DISTINCT user_id) FROM events)
                  AS BIGINT) AS observed
    )
    SELECT n1 AS first_half_users, n2 AS second_half_users,
           recaptured, observed,
           CAST((n1 + 1) * (n2 + 1) // (recaptured + 1) - 1 AS BIGINT)
             AS chapman_estimate,
           CAST(observed * 1000000 //
                ((n1 + 1) * (n2 + 1) // (recaptured + 1) - 1) AS BIGINT)
             AS coverage_e6
    FROM c CROSS JOIN m
    """,
)
def agg_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture estimate of the active-user population
    (Lincoln-Petersen with the Chapman small-sample correction, public
    literature): the first and second halves of the event-time span
    are the two "capture" samples, their overlap is the recapture, and
    ``(n1+1)(n2+1)/(m+1) - 1`` estimates how many users EXIST —
    observed or not.  ``coverage_e6`` = observed/estimated is the
    "what fraction of the population have we ever seen" readout a
    growth team tracks.  Pure integer arithmetic, one row.  On an empty
    ``events`` table the estimate is 0 and ``coverage_e6`` is NULL, as
    DuckDB's integer division by zero gives.

    Scale: two distinct-user aggs and a key join — the same shuffle
    class as ``agg_new_vs_returning``."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts")
    bound = ev.agg(
        F.expr(
            "(MIN(unix_micros(ts)) + MAX(unix_micros(ts))) div 2"
        ).alias("bound")
    )
    tagged = ev.crossJoin(F.broadcast(bound)).select(
        "user_id",
        (F.expr("unix_micros(ts)") < F.col("bound")).alias("first_half"),
    )
    s1 = tagged.where("first_half").select("user_id").distinct()
    s2 = tagged.where(~F.col("first_half")).select("user_id").distinct()
    m = s1.join(s2, "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("recaptured")
    )
    c = (
        s1.agg(F.count(F.lit(1)).cast("long").alias("n1"))
        .crossJoin(s2.agg(F.count(F.lit(1)).cast("long").alias("n2")))
        .crossJoin(
            ev.agg(
                F.countDistinct("user_id").cast("long").alias("observed")
            )
        )
    )
    return c.crossJoin(F.broadcast(m)).select(
        F.col("n1").alias("first_half_users"),
        F.col("n2").alias("second_half_users"),
        "recaptured",
        "observed",
        F.expr(
            "CAST((n1 + 1) * (n2 + 1) div (recaptured + 1) - 1"
            " AS BIGINT)"
        ).alias("chapman_estimate"),
        F.expr(
            "CAST(observed * 1000000 div"
            " NULLIF((n1 + 1) * (n2 + 1) div (recaptured + 1) - 1, 0)"
            " AS BIGINT)"
        ).alias("coverage_e6"),
    )


#: Cohen's d over exact int64 moment sums (unrounded shared tree; the
#: pooled variance subtraction happens in 128-bit first and the
#: operands entering the double tree are all int64-ranged).
_COHEN_D = (
    "CASE WHEN n0 <= 1 OR n1 <= 1 OR ssw_s <= 0 THEN 0.0 ELSE"
    " (CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)"
    " / SQRT(CAST(ssw_s AS DOUBLE) / (n0 + n1 - 2)) + 0.0 END"
)


@query(
    "agg_effect_size",
    oracle=f"""
    WITH units AS MATERIALIZED (
      SELECT user_id, {_SQL_ARM} AS arm,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS y
      FROM events GROUP BY 1, 2
    ),
    arms AS MATERIALIZED (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS s,
             CAST(SUM(y * y) AS BIGINT) AS ss
      FROM units GROUP BY 1
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN arm = 0 THEN n END) AS n0,
        MAX(CASE WHEN arm = 0 THEN s END) AS s0,
        MAX(CASE WHEN arm = 0 THEN ss END) AS ss0,
        MAX(CASE WHEN arm = 1 THEN n END) AS n1,
        MAX(CASE WHEN arm = 1 THEN s END) AS s1,
        MAX(CASE WHEN arm = 1 THEN ss END) AS ss1
      FROM arms
    ),
    calc AS (
      SELECT n0, s0, n1, s1,
             CAST((CAST(n0 AS HUGEINT) * ss0 - CAST(s0 AS HUGEINT) * s0)
                  // n0
                + (CAST(n1 AS HUGEINT) * ss1 - CAST(s1 AS HUGEINT) * s1)
                  // n1 AS BIGINT) AS ssw_s
      FROM wide
    )
    SELECT n0 AS n_control, n1 AS n_treatment,
           s0 AS purchases_control, s1 AS purchases_treatment,
           ssw_s,
           {_COHEN_D} AS cohens_d
    FROM calc
    """,
)
def agg_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d for the arm difference in per-user purchase counts —
    the standardized effect size read beside ``agg_ab_test``'s
    significance and ``agg_ab_cuped``'s variance reduction (Cohen 1988,
    public literature).  The pooled within-arm sum of squares is
    computed per arm as ``(n*ss - s^2)/n`` in 128-bit with one floor
    division (the DEFINED statistic), then the d ratio is one unrounded
    shared tree over int64s.

    Scale: one user-keyed hash agg -> 2-row arm agg -> scalar math."""
    big = "DECIMAL(38,0)"
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type")
    arm = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10
        ).cast("long")
        % 2
    )
    units = ev.groupBy("user_id", arm.alias("arm")).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y")
    )
    arms = units.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("ss"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("s"))).alias("s0"),
        F.max(F.when(F.col("arm") == 0, F.col("ss"))).alias("ss0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("s"))).alias("s1"),
        F.max(F.when(F.col("arm") == 1, F.col("ss"))).alias("ss1"),
    )
    calc = wide.select(
        "n0",
        "s0",
        "n1",
        "s1",
        F.expr(
            f"CAST((CAST(n0 AS {big}) * ss0 - CAST(s0 AS {big}) * s0)"
            f" div n0"
            f" + (CAST(n1 AS {big}) * ss1 - CAST(s1 AS {big}) * s1)"
            f" div n1 AS BIGINT)"
        ).alias("ssw_s"),
    )
    return calc.select(
        F.col("n0").alias("n_control"),
        F.col("n1").alias("n_treatment"),
        F.col("s0").alias("purchases_control"),
        F.col("s1").alias("purchases_treatment"),
        "ssw_s",
        F.expr(_COHEN_D).alias("cohens_d"),
    )
