"""Retrieval evaluation, part 2 — interpolated precision-recall, and
dataset mining from the retrieval ground truth, all-integer under the
driver's hash compare.

Extends ``retrieval_eval.py``'s harness (fixed query set, integer-L2
ground truth, three retrieval arms) with the 11-point INTERPOLATED
PRECISION-RECALL curve (the TREC summary: at each recall level r in
{0.0 .. 1.0}, the best precision achievable at any cutoff whose recall
reaches r — Manning, Raghavan & Schütze 2008 §8.4, public literature),
averaged over the query set.  Rank-biased overlap between the BM25 and
rerank rankings lives with the rankings it compares
(``operators/search2.py::search_eval_rbo``).

Integer discipline: precision/recall are floor basis points.

Scale: the metric runs over |arms| x |Q| x k retrieved rows (the
corpus-scan cost lives in the ground-truth arm, paid once, exactly as
in ``retrieval_eval.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from concurrent_etl_go_spark.llm.retrieval_eval import (
    _ARMS_SQL,
    _COMMON_SQL,
    _K,
    _QIDS,
    _retrieved,
)
from concurrent_etl_go_spark.operators.registry import query, scoped_persist

#: 11 standard recall levels, in basis points.
_PR_LEVELS = tuple(i * 1000 for i in range(11))

_LEVELS_SQL = ", ".join(str(lv) for lv in _PR_LEVELS)


@query(
    "search_eval_interpolated_pr",
    oracle=_COMMON_SQL + _ARMS_SQL + f""",
    hits AS (
      SELECT r.arm, r.qid, r.r_rank,
             CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END AS hit
      FROM retrieved r
      LEFT JOIN truth t ON t.qid = r.qid AND t.vec_id = r.vec_id
                        AND t.truth_rank <= {_K}
    ),
    cuts AS (
      SELECT arm, qid, r_rank AS d,
             SUM(hit) OVER (PARTITION BY arm, qid ORDER BY r_rank)
               AS cum_hits
      FROM hits
    ),
    pr AS (
      SELECT arm, qid, d,
             CAST(cum_hits * 10000 // d AS BIGINT) AS precision_bp,
             CAST(cum_hits * 10000 // {_K} AS BIGINT) AS recall_bp
      FROM cuts
    ),
    lv AS (SELECT CAST(unnest([{_LEVELS_SQL}]) AS BIGINT) AS level_bp),
    per_q AS (
      SELECT l.level_bp, arms.arm, q.qid,
             COALESCE((SELECT MAX(pr.precision_bp) FROM pr
                       WHERE pr.arm = arms.arm AND pr.qid = q.qid
                         AND pr.recall_bp >= l.level_bp), 0) AS p_interp
      FROM lv l
      CROSS JOIN (SELECT DISTINCT arm FROM pr) arms
      CROSS JOIN (SELECT unnest([{", ".join(str(q) for q in _QIDS)}])
                    AS qid) q
    )
    SELECT arm, level_bp,
           CAST(SUM(p_interp) // {len(_QIDS)} AS BIGINT)
             AS p_interp_bp_avg
    FROM per_q GROUP BY arm, level_bp
    """,
)
def search_eval_interpolated_pr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """11-point interpolated precision-recall per retrieval arm,
    averaged (floor) over the query set: at each recall level, the
    maximum precision over all cutoffs whose recall reaches the level
    (0 when unreachable — an arm that never attains 100% recall shows
    it as a cliff at the right edge of the curve).  The ``brute`` arm
    is the sanity ceiling (10000 bp at every level by construction).

    Scale: everything after the shared ground-truth scan is windows and
    joins over |arms| x |Q| x k rows; levels are an 11-row literal."""
    truth, retrieved = _retrieved(spark, sf_dir)
    truth_k = truth.where(F.col("truth_rank") <= _K).select(
        "qid", "vec_id", F.lit(1).alias("hit")
    )
    w = Window.partitionBy("arm", "qid").orderBy("d")
    pr = (
        retrieved.join(truth_k, ["qid", "vec_id"], "left")
        .select(
            "arm",
            "qid",
            F.col("r_rank").alias("d"),
            F.coalesce("hit", F.lit(0)).alias("hit"),
        )
        .select(
            "arm",
            "qid",
            "d",
            F.sum("hit").over(w).alias("cum_hits"),
        )
        .select(
            "arm",
            "qid",
            F.expr("CAST(cum_hits * 10000 div d AS BIGINT)").alias(
                "precision_bp"
            ),
            F.expr(f"CAST(cum_hits * 10000 div {_K} AS BIGINT)").alias(
                "recall_bp"
            ),
        )
    )
    pr = scoped_persist(pr)
    levels = spark.range(11).select(
        (F.col("id") * 1000).cast("long").alias("level_bp")
    )
    arms_q = pr.select("arm", "qid").distinct()
    grid = arms_q.crossJoin(F.broadcast(levels))
    per_q = (
        grid.join(
            pr.withColumnRenamed("arm", "p_arm").withColumnRenamed(
                "qid", "p_qid"
            ),
            (F.col("arm") == F.col("p_arm"))
            & (F.col("qid") == F.col("p_qid"))
            & (F.col("recall_bp") >= F.col("level_bp")),
            "left",
        )
        .groupBy("arm", "qid", "level_bp")
        .agg(
            F.coalesce(F.max("precision_bp"), F.lit(0)).alias("p_interp")
        )
    )
    return per_q.groupBy("arm", "level_bp").agg(
        F.expr(f"CAST(SUM(p_interp) div {len(_QIDS)} AS BIGINT)").alias(
            "p_interp_bp_avg"
        )
    )


@query(
    "dataset_contrastive_triples",
    oracle=_COMMON_SQL + """,
    pos AS (
      SELECT qid, vec_id AS pos_vec_id, truth_rank AS pos_rank,
             d2_full AS pos_d2
      FROM truth WHERE truth_rank <= 3
    ),
    neg_pick AS (
      SELECT qid, pos_vec_id, pos_rank, pos_d2,
             11 + ('0x' || substr(md5(CAST(qid AS VARCHAR) || '_'
                       || CAST(pos_rank AS VARCHAR)), 1, 8))::BIGINT % 10
               AS neg_rank
      FROM pos
    )
    SELECT n.qid, n.pos_vec_id, n.pos_rank,
           t.vec_id AS neg_vec_id, n.neg_rank,
           CAST(t.d2_full - n.pos_d2 AS BIGINT) AS margin_d2
    FROM neg_pick n
    JOIN truth t ON t.qid = n.qid AND t.truth_rank = n.neg_rank
    """,
)
def dataset_contrastive_triples(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Contrastive training triples mined from the retrieval ground
    truth: per query, each of the top-3 neighbors is a POSITIVE, paired
    with one HARD NEGATIVE drawn deterministically from the 11-20 truth
    band (close enough to be informative, far enough to be wrong — the
    hard-negative mining recipe of dense-retriever training, Karpukhin
    et al. 2020, public literature).  The draw is the counter-hash
    ``11 + md5_int(qid_posrank) mod 10`` — no PRNG, identical on both
    engines — and the margin (neg d2 - pos d2, exact integer) is the
    contrastive-loss denominator a trainer would log.

    Scale: the truth table is the per-query exact top-20 (the shared
    ground-truth plan of the search_eval_* family, derived fresh and
    scoped-persisted per call); triple assembly is |Q| x 3 rows of
    joins."""
    from concurrent_etl_go_spark.llm.retrieval_eval import _harness

    truth = _harness(spark, sf_dir)["truth"]
    pos = truth.where(F.col("truth_rank") <= 3).select(
        "qid",
        F.col("vec_id").alias("pos_vec_id"),
        F.col("truth_rank").alias("pos_rank"),
        F.col("d2_full").alias("pos_d2"),
    )
    neg_pick = pos.select(
        "qid",
        "pos_vec_id",
        "pos_rank",
        "pos_d2",
        F.expr(
            "11 + pmod(CAST(conv(substr(md5(concat("
            "CAST(qid AS STRING), '_', CAST(pos_rank AS STRING)"
            ")), 1, 8), 16, 10) AS BIGINT), 10)"
        ).alias("neg_rank"),
    )
    neg = truth.select(
        F.col("qid").alias("nqid"),
        F.col("vec_id").alias("neg_vec_id"),
        F.col("truth_rank").alias("nrank"),
        F.col("d2_full").alias("neg_d2"),
    )
    return (
        neg_pick.join(
            neg,
            (F.col("qid") == F.col("nqid"))
            & (F.col("neg_rank") == F.col("nrank")),
        )
        .select(
            "qid",
            "pos_vec_id",
            "pos_rank",
            "neg_vec_id",
            "neg_rank",
            (F.col("neg_d2") - F.col("pos_d2"))
            .cast("long")
            .alias("margin_d2"),
        )
    )
