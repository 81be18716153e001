"""Timeseries analytics, part 3: Theil-Sen robust slope, the
Mann-Kendall trend test, and the Ichimoku / Keltner channel overlays
(Theil 1950 / Sen 1968; Mann 1945 / Kendall 1975; Hosoda 1960s;
Keltner 1960 — all public literature) beside ``timeseries.py`` /
``timeseries2.py`` / ``finance*.py``.

Cross-engine exactness:

* Theil-Sen orders pairwise slopes by the DOUBLE quotient of two exact
  int64s — IEEE division of identical operands is bit-identical on
  both engines — with full integer tie-breaks, and emits the selected
  median pair's exact (dy, dx) alongside the quotient.
* Mann-Kendall's S and its tie-corrected 18*Var(S) are pure integers;
  only the final z is a shared double tree.
* Ichimoku is pure integer: every midline is carried DOUBLED
  (max + min, never /2), so no fraction ever exists.
* Keltner reuses the two-level chunked prefix-fold machinery from
  ``finance.py`` (bit-identical by the fold-composition identity) for
  both the EMA midline and the Wilder ATR series; band emissions are
  unrounded ``+ 0.0`` shared trees.

Scale: everything collapses to the month/day grain first; pair joins
are bounded by series length squared (months^2 per brand), folds by
series length.  Reference parity: extends SURVEY.md §2.B.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from concurrent_etl_go_spark.operators.finance import (
    _CENTS,
    _prefix2_spark,
    _prefix2_sql,
    _seeds_spark,
    _seeds_sql,
)
from concurrent_etl_go_spark.operators.registry import query, scoped_persist
from concurrent_etl_go_spark.sources.readers import read_table

#: Shared monthly brand revenue series with integer time index.
_BRAND_MONTHLY_SQL = """
    monthly AS MATERIALIZED (
      SELECT p.p_brand AS brand, strftime(l.l_shipdate, '%Y-%m') AS month,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    pos AS MATERIALIZED (
      SELECT brand, cents,
             ROW_NUMBER() OVER (PARTITION BY brand ORDER BY month) AS t
      FROM monthly
    )
"""


def _brand_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_extendedprice"
    )
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    monthly = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_format("l_shipdate", "yyyy-MM").alias("month"),
        )
        .agg(
            F.sum(
                F.expr("CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)")
            )
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.partitionBy("brand").orderBy("month")
    return monthly.select(
        "brand", "cents", F.row_number().over(w).alias("t")
    )


@query(
    "agg_theil_sen",
    oracle=f"""
    WITH {_BRAND_MONTHLY_SQL},
    slopes AS MATERIALIZED (
      SELECT a.brand,
             b.cents - a.cents AS dy,
             b.t - a.t AS dx,
             CAST(b.cents - a.cents AS DOUBLE) / (b.t - a.t) AS q
      FROM pos a JOIN pos b ON a.brand = b.brand AND b.t > a.t
    ),
    ranked AS (
      SELECT brand, dy, dx, q,
             ROW_NUMBER() OVER (PARTITION BY brand
                                ORDER BY q, dy, dx) AS rk,
             COUNT(*) OVER (PARTITION BY brand) AS n_pairs
      FROM slopes
    )
    SELECT brand, CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(dy AS BIGINT) AS med_dy, CAST(dx AS BIGINT) AS med_dx,
           q + 0.0 AS slope_cents_per_month
    FROM ranked WHERE rk = (n_pairs + 1) // 2
    """,
)
def agg_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend slope per brand over the monthly revenue
    series: the MEDIAN of all pairwise slopes — immune to the outlier
    months that wreck OLS.  Slopes order by the IEEE double quotient
    of exact int64 (dy, dx) with full integer tie-breaks (the lower
    median at even counts — a DEFINED, deterministic statistic), and
    the selected pair's exact integers emit alongside the quotient.

    Scale: grain-first monthly rollup; the pair join is months^2 per
    brand (~3.5k rows per brand for 7 years), constant in corpus
    size."""
    pos = _brand_monthly(spark, sf_dir)
    a, b = pos.alias("a"), pos.alias("b")
    slopes = a.join(
        b,
        (F.col("a.brand") == F.col("b.brand"))
        & (F.col("b.t") > F.col("a.t")),
    ).select(
        F.col("a.brand").alias("brand"),
        (F.col("b.cents") - F.col("a.cents")).alias("dy"),
        (F.col("b.t") - F.col("a.t")).alias("dx"),
        (
            (F.col("b.cents") - F.col("a.cents")).cast("double")
            / (F.col("b.t") - F.col("a.t"))
        ).alias("q"),
    )
    wb = Window.partitionBy("brand")
    ranked = slopes.select(
        "brand",
        "dy",
        "dx",
        "q",
        F.row_number().over(wb.orderBy("q", "dy", "dx")).alias("rk"),
        F.count(F.lit(1)).over(wb).alias("n_pairs"),
    )
    return ranked.where(
        F.expr("rk = (n_pairs + 1) div 2")
    ).select(
        "brand",
        F.col("n_pairs").cast("long"),
        F.col("dy").cast("long").alias("med_dy"),
        F.col("dx").cast("long").alias("med_dx"),
        (F.col("q") + F.lit(0.0)).alias("slope_cents_per_month"),
    )


#: Tie-corrected Mann-Kendall z over exact integers (var18 = 18*Var(S);
#: the continuity correction subtracts/adds 1 from S by its sign).
_MK_Z = (
    "CASE WHEN var18 <= 0 THEN 0.0"
    " WHEN s_stat > 0 THEN ((s_stat - 1.0)"
    "   / SQRT(CAST(var18 AS DOUBLE) / 18.0)) + 0.0"
    " WHEN s_stat < 0 THEN ((s_stat + 1.0)"
    "   / SQRT(CAST(var18 AS DOUBLE) / 18.0)) + 0.0"
    " ELSE 0.0 END"
)


@query(
    "agg_mann_kendall",
    oracle=f"""
    WITH {_BRAND_MONTHLY_SQL},
    s AS (
      SELECT a.brand,
             CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
                           WHEN b.cents < a.cents THEN -1
                           ELSE 0 END) AS BIGINT) AS s_stat
      FROM pos a JOIN pos b ON a.brand = b.brand AND b.t > a.t
      GROUP BY 1
    ),
    nm AS (
      SELECT brand, CAST(COUNT(*) AS BIGINT) AS n FROM pos GROUP BY 1
    ),
    tie AS (
      SELECT brand,
             CAST(SUM(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS tsum
      FROM (SELECT brand, cents, COUNT(*) AS c FROM pos GROUP BY 1, 2)
      GROUP BY 1
    )
    SELECT s.brand, nm.n AS n_months, s.s_stat,
           CAST(nm.n * (nm.n - 1) * (2 * nm.n + 5) - tie.tsum AS BIGINT)
             AS var18,
           {_MK_Z} AS z_score
    FROM s JOIN nm ON nm.brand = s.brand
    JOIN tie ON tie.brand = s.brand
    """,
)
def agg_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test per brand: S sums the signs of
    all pairwise month-over-month comparisons (the non-parametric
    companion to ``agg_theil_sen``'s slope), the tie-corrected
    variance stays as the exact integer ``18*Var(S)``, and only the
    continuity-corrected z is a shared double tree.

    Scale: same bounded months^2 pair join as Theil-Sen; everything
    else is per-brand scalar arithmetic."""
    pos = scoped_persist(_brand_monthly(spark, sf_dir))
    a, b = pos.alias("a"), pos.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.brand") == F.col("b.brand"))
            & (F.col("b.t") > F.col("a.t")),
        )
        .groupBy(F.col("a.brand").alias("brand"))
        .agg(
            F.sum(
                F.when(F.col("b.cents") > F.col("a.cents"), 1)
                .when(F.col("b.cents") < F.col("a.cents"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    nm = pos.groupBy("brand").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tie = (
        pos.groupBy("brand", "cents")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("brand")
        .agg(
            F.sum(
                F.expr("c * (c - 1) * (2 * c + 5)")
            ).cast("long").alias("tsum")
        )
    )
    return (
        s.join(nm, "brand")
        .join(tie, "brand")
        .select(
            "brand",
            F.col("n").alias("n_months"),
            "s_stat",
            F.expr(
                "CAST(n * (n - 1) * (2 * n + 5) - tsum AS BIGINT)"
            ).alias("var18"),
            F.expr(_MK_Z).alias("z_score"),
        )
    )


@query(
    "window_ichimoku",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             CAST(SUM({_CENTS}) AS BIGINT) AS v
      FROM orders GROUP BY 1
    ),
    rolled AS (
      SELECT day, v,
             MAX(v) OVER w9 + MIN(v) OVER w9 AS tenkan_x2,
             MAX(v) OVER w26 + MIN(v) OVER w26 AS kijun_x2,
             MAX(v) OVER w52 + MIN(v) OVER w52 AS senkou_b_x2,
             COUNT(*) OVER w52 AS n
      FROM daily
      WINDOW w9 AS (ORDER BY day ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
             w26 AS (ORDER BY day ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
             w52 AS (ORDER BY day ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)
    )
    SELECT day, v AS rev_cents,
           CAST(tenkan_x2 AS BIGINT) AS tenkan_x2,
           CAST(kijun_x2 AS BIGINT) AS kijun_x2,
           CAST(tenkan_x2 + kijun_x2 AS BIGINT) AS senkou_a_x4,
           CAST(senkou_b_x2 AS BIGINT) AS senkou_b_x2
    FROM rolled WHERE n = 52
    """,
)
def window_ichimoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ichimoku overlay over daily order revenue: the 9/26/52-day
    conversion, base, and leading-span-B midlines — every midline
    carried DOUBLED (max + min, never divided), and span A carried
    x4, so the whole overlay is pure integer with no fraction
    anywhere.  Rows emit once the 52-day window is full.

    Scale: one orders scan -> day hash agg; three rolling extrema on
    the day-count frame."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderdate", "o_totalprice"
    )
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(F.sum(F.expr(_CENTS)).cast("long").alias("v"))
    w9 = Window.orderBy("day").rowsBetween(-8, 0)
    w26 = Window.orderBy("day").rowsBetween(-25, 0)
    w52 = Window.orderBy("day").rowsBetween(-51, 0)
    rolled = daily.select(
        "day",
        "v",
        (F.max("v").over(w9) + F.min("v").over(w9)).alias("tenkan_x2"),
        (F.max("v").over(w26) + F.min("v").over(w26)).alias("kijun_x2"),
        (F.max("v").over(w52) + F.min("v").over(w52)).alias(
            "senkou_b_x2"
        ),
        F.count(F.lit(1)).over(w52).alias("n"),
    )
    return rolled.where(F.col("n") == 52).select(
        "day",
        F.col("v").alias("rev_cents"),
        F.col("tenkan_x2").cast("long"),
        F.col("kijun_x2").cast("long"),
        (F.col("tenkan_x2") + F.col("kijun_x2"))
        .cast("long")
        .alias("senkou_a_x4"),
        F.col("senkou_b_x2").cast("long"),
    )


#: Keltner coefficients as <=15-significant-digit string literals (the
#: finance.py _A12 convention).  The literal IS the parameter definition:
#: both engines parse the same digit string to the same double.  A
#: repr() of 2/21 is 17 digits, whose decimal numerator exceeds 2^53 —
#: DuckDB double-rounds such literals 1 ulp off the Python/Spark parse
#: (probe-verified in tests/test_fold_literals.py), so the EMA fold
#: diverges.  <=15 digits round-trips exactly in every IEEE-754 parser.
_KELT_A20 = "0.0952380952381"
_KELT_B20 = "0.904761904762"
_FOLD_E20 = f"(acc, x) -> x * {_KELT_A20} + acc * {_KELT_B20}"
_KELT_A10 = "0.1"
_KELT_B10 = "0.9"
_FOLD_A10 = f"(acc, x) -> x * {_KELT_A10} + acc * {_KELT_B10}"


@query(
    "window_keltner",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             CAST(MAX({_CENTS}) AS BIGINT) AS hi,
             CAST(MIN({_CENTS}) AS BIGINT) AS lo,
             CAST(SUM({_CENTS}) AS BIGINT) AS cl
      FROM orders GROUP BY 1
    ),
    tr AS (
      SELECT day, cl,
             CASE WHEN LAG(cl) OVER w IS NULL THEN NULL
                  ELSE GREATEST(hi - lo, ABS(hi - LAG(cl) OVER w),
                                ABS(lo - LAG(cl) OVER w)) END AS t
      FROM daily
      WINDOW w AS (ORDER BY day)
    ),
    series AS (
      SELECT list(CAST(cl AS DOUBLE) ORDER BY day) AS cls,
             list(day ORDER BY day) AS days,
             list(CAST(t AS DOUBLE) ORDER BY day)
               FILTER (WHERE t IS NOT NULL) AS trs
      FROM tr
    ),
    sd AS MATERIALIZED (
      SELECT cls, days, trs,
             {_seeds_sql('cls', _FOLD_E20)} AS sde,
             {_seeds_sql('trs', _FOLD_A10)} AS sda
      FROM series
    ),
    emas AS MATERIALIZED (
      SELECT days,
             {_prefix2_sql('cls', 'sde', _FOLD_E20)} AS mids,
             {_prefix2_sql('trs', 'sda', _FOLD_A10)} AS atrs
      FROM sd
    )
    SELECT unnest(days[2:len(days)]) AS day,
           unnest([mids[i] + 0.0
                   for i in range(2, len(mids) + 1)]) AS mid,
           unnest([mids[i] + 2.0 * atrs[i - 1] + 0.0
                   for i in range(2, len(mids) + 1)]) AS upper_band,
           unnest([mids[i] - 2.0 * atrs[i - 1] + 0.0
                   for i in range(2, len(mids) + 1)]) AS lower_band
    FROM emas
    """,
)
def window_keltner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keltner channel over daily order revenue: an EMA(20) midline of
    the daily close with bands at +/- 2 x Wilder ATR(10) — the
    volatility channel traders read against Bollinger's sigma bands.
    Both the midline and the ATR are FULL PREFIX SERIES computed with
    the two-level chunked fold from ``finance.py`` (bit-identical by
    the fold-composition identity, O(days^1.5) not O(days^2)); band
    emissions are unrounded ``+ 0.0`` shared trees over the two fold
    states.  Day i pairs mid_i with atr over TR[1..i-1] (TR needs the
    previous close, so the ATR series is one element shorter).  Fewer
    than two days emit no rows, as the oracle's ``days[2:len(days)]``;
    the series is dropped before the folds, whose seeds index element 1.

    Scale: grain-first day rollup; two chunked prefix folds bounded by
    series length."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderdate", "o_totalprice"
    )
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(
        F.max(F.expr(_CENTS)).cast("long").alias("hi"),
        F.min(F.expr(_CENTS)).cast("long").alias("lo"),
        F.sum(F.expr(_CENTS)).cast("long").alias("cl"),
    )
    w = Window.orderBy("day")
    tr = daily.select(
        "day",
        "cl",
        F.when(F.lag("cl").over(w).isNull(), F.lit(None).cast("long"))
        .otherwise(
            F.greatest(
                F.col("hi") - F.col("lo"),
                F.abs(F.col("hi") - F.lag("cl").over(w)),
                F.abs(F.col("lo") - F.lag("cl").over(w)),
            )
        )
        .alias("t"),
    )
    series = tr.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "cl"))),
            lambda s: s["cl"].cast("double"),
        ).alias("cls"),
        F.array_sort(F.collect_list("day")).alias("days"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("t").isNotNull(), F.struct("day", "t")
                    )
                )
            ),
            lambda s: s["t"].cast("double"),
        ).alias("trs"),
    )
    sd = scoped_persist(
        series.where(F.size("cls") >= 2).select(
            "cls",
            "days",
            "trs",
            F.expr(_seeds_spark("cls", _FOLD_E20)).alias("sde"),
            F.expr(_seeds_spark("trs", _FOLD_A10)).alias("sda"),
        )
    )
    emas = sd.select(
        "days",
        F.expr(_prefix2_spark("cls", "sde", _FOLD_E20)).alias("mids"),
        F.expr(_prefix2_spark("trs", "sda", _FOLD_A10)).alias("atrs"),
    )
    out = emas.select(
        F.posexplode(
            F.expr(
                "transform(sequence(2, size(mids)), i -> "
                "struct(element_at(days, i) AS day, "
                "element_at(mids, i) + 0.0 AS mid, "
                "element_at(mids, i) + 2.0 * element_at(atrs, i - 1)"
                " + 0.0 AS upper_band, "
                "element_at(mids, i) - 2.0 * element_at(atrs, i - 1)"
                " + 0.0 AS lower_band))"
            )
        ).alias("pos", "z")
    )
    return out.select("z.day", "z.mid", "z.upper_band", "z.lower_band")
