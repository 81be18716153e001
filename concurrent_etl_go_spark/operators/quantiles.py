"""Scalable EXACT twins of the global-order window queries.

``window_ntile_cume`` / ``window_power_users`` express their answer with
an unpartitioned ``ORDER BY`` window — correct, but every row funnels
through one task, which is dead at 100 TB (flagged perf-weak in the
round-4 verdict).  The twins here compute the IDENTICAL exact answer
(same oracle SQL) with no single-partition stage:

- global rank   = deterministic range-bucketing on literal approx-
  quantile boundaries, rank locally within each bucket, then add the
  broadcast cumulative row count of the buckets before it (the classic
  distributed-rank recipe — the only driver traffic is the boundaries
  and one count per bucket);
- ntile/cume/percent_rank are pure FUNCTIONS of (global rank, n) when
  the order key is a total order (unique tie-break column), so they
  become map-side expressions;
- top-decile    = a value-histogram threshold (``n_events`` has few
  distinct values, so ``groupBy(n_events).count()`` is tiny), plus a
  bounded top-k on the single boundary value for the tie-break.

Because the twins are exact they share the exact forms' oracles — this
is stronger than the approx-twin pattern (``agg_approx``): the driver
hash-proves the scalable plan itself, not a look-alike.

Reference parity: the reference engine (etl/main.go) has no analytic
windows at all; these queries extend SURVEY.md §2.B's generalized
surface, and the scalable forms are the ones a 1000-executor cluster
would run.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from concurrent_etl_go_spark.operators.registry import query, scoped_persist
from concurrent_etl_go_spark.sources.readers import read_table

#: Range buckets for the distributed-rank recipe. At 100 TB this
#: would be O(cluster cores); correctness is independent of the value.
_RANK_PARTITIONS = 16


def _global_rank(df: DataFrame, *order_cols: str) -> tuple[DataFrame, int]:
    """Attach an exact 1-based global rank over a TOTAL order (the last
    order column must be unique) without a single-partition sort.

    Range-bucket on the FIRST order column using approx-quantile
    boundaries frozen into the plan as literals, rank within each bucket,
    and offset by the cumulative size of earlier buckets.  Bucket
    assignment (``sum(value > boundary_i)``) is a PURE FUNCTION of the
    row — monotone in the order, ties all land in one bucket — so a
    recomputed partition (executor loss, cache eviction) reassigns rows
    IDENTICALLY; nothing depends on a sampled physical partitioning
    staying resident, which ``repartitionByRange`` +
    ``spark_partition_id`` could not guarantee.  Driver traffic: the
    boundary quantiles and one count per bucket.  Heavy duplication of a
    single first-column value degrades bucket balance (never
    correctness); the tie-break columns only disambiguate order within a
    bucket.

    Returns (df + ``rn`` column, total row count); a zero-row ``df`` comes
    back with a ``long`` ``rn`` column and 0, with no further job.
    """
    cols = [F.col(c) for c in order_cols]
    first = order_cols[0]
    qs = [i / _RANK_PARTITIONS for i in range(1, _RANK_PARTITIONS)]
    boundaries = sorted(set(df.stat.approxQuantile(first, qs, 0.01)))
    bucket = F.lit(0)
    for b in boundaries:
        bucket = bucket + F.when(F.col(first) > F.lit(b), 1).otherwise(0)
    parted = df.withColumn("_pid", bucket)
    sizes = {
        r["_pid"]: r["cnt"]
        for r in parted.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    n = sum(sizes.values())
    if n == 0:  # no buckets: an empty map literal cannot be indexed
        return df.withColumn("rn", F.lit(None).cast("long")), 0
    offsets = []
    acc = 0
    for pid in sorted(sizes):
        offsets.append((pid, acc))
        acc += sizes[pid]
    off_col = F.create_map(
        *[F.lit(x) for pid, off in offsets for x in (pid, off)]
    )
    local = Window.partitionBy("_pid").orderBy(*cols)
    ranked = parted.withColumn(
        "rn",
        (F.row_number().over(local) + off_col[F.col("_pid")]).cast("long"),
    ).drop("_pid")
    return ranked, n


def grouped_rank(
    df: DataFrame, group_col: str, *order_cols: str
) -> DataFrame:
    """Attach an exact 1-based PER-GROUP rank ``rn`` (and group size
    ``n``) over a total order within each group, with no group-sized
    sort partition — the grouped generalization of ``_global_rank``
    (round 13, VERDICT r12 §Next #5).

    Same recipe: range-bucket on the first order column using global
    approx-quantile boundaries frozen as literals (monotone within
    every group, ties land in one bucket, so recomputation is
    deterministic), rank locally within (group, bucket), then offset by
    the broadcast cumulative size of the group's earlier buckets.
    Driver traffic: the boundaries plus one (group, bucket) count row
    per occupied cell — |groups| x ``_RANK_PARTITIONS`` rows, corpus-
    independent.  Sort partitions are (group, bucket)-sized: at 100 TB
    raise ``_RANK_PARTITIONS`` to O(cores/groups) and no partition ever
    holds a full group.  Degenerate case: if the first order column has
    (nearly) one distinct value the buckets collapse and the plan
    gracefully degrades to the exact form's group-sized sort — still
    correct, just unbucketed.  The offsets frame's group column takes
    its type from ``df.schema[group_col]`` so non-string keys (long,
    date, ...) join without an implicit cast."""
    cols = [F.col(c) for c in order_cols]
    first = order_cols[0]
    qs = [i / _RANK_PARTITIONS for i in range(1, _RANK_PARTITIONS)]
    boundaries = sorted(set(df.stat.approxQuantile(first, qs, 0.01)))
    bucket = F.lit(0)
    for b in boundaries:
        bucket = bucket + F.when(F.col(first) > F.lit(b), 1).otherwise(0)
    parted = df.withColumn("_pid", bucket)
    sizes = (
        parted.groupBy(group_col, "_pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    per_group: dict[object, dict[int, int]] = {}
    for row in sizes:
        per_group.setdefault(row[group_col], {})[row["_pid"]] = row["cnt"]
    offset_rows = []
    for g, cells in per_group.items():
        total = sum(cells.values())
        acc = 0
        for pid in sorted(cells):
            offset_rows.append((g, int(pid), acc, total))
            acc += cells[pid]
    spark = df.sparkSession
    group_type = df.schema[group_col].dataType.simpleString()
    offsets = spark.createDataFrame(
        offset_rows,
        f"{group_col} {group_type}, _pid int, _off long, n long",
    )
    local = Window.partitionBy(group_col, "_pid").orderBy(*cols)
    return (
        parted.join(F.broadcast(offsets), [group_col, "_pid"])
        .withColumn(
            "rn",
            (F.row_number().over(local) + F.col("_off")).cast("long"),
        )
        .drop("_pid", "_off")
    )


def _ntile_expr(rn: F.Column, n: int, k: int) -> F.Column:
    """SQL-standard ``ntile(k)`` as a pure function of (rank, n): the
    first ``n % k`` buckets get ``n // k + 1`` rows, the rest ``n // k``."""
    q, r = divmod(n, k)
    if q == 0:
        # fewer rows than buckets: bucket i holds exactly row i
        return rn
    big = r * (q + 1)  # rows covered by the larger leading buckets
    return F.when(
        rn <= F.lit(big), ((rn - 1) / F.lit(q + 1)).cast("long") + 1
    ).otherwise(F.lit(r) + ((rn - F.lit(big) - 1) / F.lit(q)).cast("long") + 1)


@query(
    "window_ntile_cume_scalable",
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
def window_ntile_cume_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ntile/cume_dist/percent_rank over a total order with NO
    unpartitioned window — the production twin of ``window_ntile_cume``.

    The order key (c_acctbal, c_custkey) is a total order (custkey is
    unique), so rank == row number, cume_dist == rn/n, percent_rank ==
    (rn-1)/(n-1), and ntile is ``_ntile_expr`` — all map-side once the
    distributed global rank exists.  Same oracle as the exact form: the
    driver hash-proves this plan, not an approximation of it.
    """
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    ranked, n = _global_rank(cust, "c_acctbal", "c_custkey")
    rn = F.col("rn")
    return ranked.select(
        "c_custkey",
        _ntile_expr(rn, n, 4).alias("quartile"),
        F.round(rn / F.lit(n), 4).alias("cume"),
        F.round((rn - 1) / F.lit(max(n - 1, 1)), 4).alias("pct_rank"),
    )


def top_fraction_by_value(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    fraction: float = 0.1,
) -> DataFrame:
    """EXACT top-``fraction`` rows of ``df`` under the order
    ``(value_col DESC, tiebreak_col ASC)`` — i.e. SQL
    ``ntile(round(1/fraction))`` bucket 1 — with NO global-order window.

    Selection, not sorting: the histogram of ``value_col`` (few distinct
    values — bounded by the value domain, NOT by row count) finds the
    boundary value ``t``; every row above ``t`` is in, and the remaining
    seats among rows AT ``t`` go to the smallest tiebreak keys via a
    bounded sort-limit.  Driver traffic: the histogram rows only.
    Returns the empty frame unchanged for empty input.
    """
    hist = sorted(
        (
            (r["v"], r["cnt"])
            for r in df.groupBy(F.col(value_col).alias("v"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        ),
        reverse=True,
    )
    n = sum(c for _, c in hist)
    if n == 0:
        return df
    k = math.ceil(n * fraction)  # ntile bucket-1 size
    above = 0
    t = None
    for val, cnt in hist:
        if above + cnt >= k:
            t = val
            break
        above += cnt
    winners = df.where(F.col(value_col) > t)
    seats_at_t = k - above
    if seats_at_t > 0:
        ties = (
            df.where(F.col(value_col) == t)
            .orderBy(tiebreak_col)
            .limit(seats_at_t)
        )
        winners = winners.unionByName(ties)
    return winners


@query(
    "window_power_users_scalable",
    oracle="""
    WITH u AS (
      SELECT user_id, COUNT(*) AS n_events,
             ROUND(SUM(value), 4) + 0.0 AS total_value
      FROM events GROUP BY 1
    )
    SELECT user_id, n_events, total_value
    FROM (
      SELECT *, ntile(10) OVER (ORDER BY n_events DESC, user_id) AS decile
      FROM u
    ) WHERE decile = 1
    """,
)
def window_power_users_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-decile users with NO global-order window — the
    production twin of ``window_power_users``.

    ntile(10) decile 1 over (n_events DESC, user_id) is exactly the top
    ``ceil(n_users / 10)`` users; see ``top_fraction_by_value`` for the
    histogram-threshold selection (property-tested against SQL ntile on
    adversarial tie-heavy inputs in tests/test_properties.py).
    """
    ev = read_table(spark, sf_dir, "events")
    u = scoped_persist(
        ev.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.round(F.sum("value"), 4) + F.lit(0.0)).alias("total_value"),
        )
    )
    return top_fraction_by_value(u, "n_events", "user_id", fraction=0.1)
