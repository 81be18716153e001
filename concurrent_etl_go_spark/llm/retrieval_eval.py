"""Retrieval EVALUATION queries — recall@k and integer-relevance NDCG@k
of the engine's ANN arms against the brute-force ground truth, under the
driver's hash compare.

Rounds 5-8 proved the retrieval ARMS individually (IVF-PQ serving algebra
in ``llm/ivfpq2.py``, Matryoshka coarse-to-fine in ``llm/matryoshka.py``,
MMR diversified re-rank in ``operators/search.py``); their recall was
covered only by pytest "recall >= 8/10" invariants.  These queries turn
that into driver-hash-proven NUMBERS: a fixed query set, each arm's
retrieved@k, and the two standard IR metrics — every value integer, so
the proof is bit-exact (SURVEY §7.6 rule 1).

Metric design (all-integer by construction):

* ground truth — per query, the exact integer-L2 top-``_TRUTH_K``
  (quantized ``floor(x*1024)`` vectors, the ``ivfpq2`` convention), with
  graded relevance from rank bands: ranks 1-3 grade 3, 4-10 grade 2,
  11-20 grade 1, else 0 — the integer-relevance grading NDCG literature
  uses when no human labels exist (pooled-by-rank pseudo-grades).
* recall@k — ``10000 * |retrieved@k ∩ truth@k| div k`` basis points.
* NDCG@k — DCG discount weights ``floor(1e6 / log2(i+1))`` precomputed
  ONCE in Python and embedded as the SAME integer literals in both the
  Spark expression and the oracle SQL, so DCG = sum(grade * w[rank]) and
  IDCG are pure int64 sums (order-independent) and
  ``ndcg_bp = 10000 * dcg div idcg``.

Arms evaluated: ``brute`` (sanity: recall must be 10000), ``matryoshka``
(prefix-16 shortlist-40 funnel), ``ivfpq`` (frozen integer codebook,
nprobe-2 probe -> ADC LUT scoring -> rerank-40) and, in its own query,
``mmr`` (lambda-1/2 diversified pick of k from the brute top-20 pool —
measuring exactly the relevance it trades for diversity).

Unlike ``ivfpq2``'s single-query twins, the IVF-PQ arm here is fully
RELATIONAL over a query SET: the per-query LUT is a (qid, codeword)
table joined per subspace instead of a driver-side literal map — the
shape a batch evaluation harness runs at scale.

Scale: the evaluation query set is bounded (``_QIDS``, |Q| rows,
broadcast); ground truth is inherently a per-query full scan (that IS
the brute-force arm every published recall benchmark pays once), a
single map-side |Q|-way expansion followed by per-qid top-k windows over
|Q| partitions; every arm's candidate set is pruned BEFORE the rerank
join (shortlist/RERANK rows per query), and the metric aggregations run
over |arms| x |Q| x k rows.  At 100 TB you shard the query set, not the
corpus pass.

Reference parity: the reference (etl/main.go) has no retrieval surface;
extends SURVEY.md §2.B's similarity family (VERDICT r8 item 1).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from concurrent_etl_go_spark.llm.ivfpq2 import (
    _CENTROID_IDS,
    _DIM,
    _DONOR_IDS,
    _M,
    _SCALE,
    _SUB,
    _assignments,
    _centroids,
    _d2_sql,
    _dd_d2,
    _donors,
    _int_vectors,
    _sub_sql,
)
from concurrent_etl_go_spark.operators.registry import query, scoped_persist

#: Fixed evaluation query set (corpus vec_ids; present at every sf).
_QIDS = (0, 7, 23, 42, 61)
_K = 10  # retrieval depth under evaluation
_TRUTH_K = 20  # graded-relevance pool depth
_PREFIX = 16  # matryoshka prefix dims
_M_SHORT = 40  # matryoshka shortlist size
_NPROBE = 2  # ivfpq probed cells
_RERANK = 40  # ivfpq ADC shortlist size
_MMR_POOL = 20  # MMR candidate pool (brute top-20)

#: Integer DCG discount weights floor(1e6 / log2(i+1)), i = 1.._K —
#: computed once here, embedded as identical literals in BOTH dialects.
_IW = {i: math.floor(1_000_000 / math.log2(i + 1)) for i in range(1, _K + 1)}

_QIDS_SQL = "(" + ", ".join(str(q) for q in _QIDS) + ")"


def _w_case_sql(col: str) -> str:
    """Simple-CASE mapping rank -> integer DCG weight; valid in BOTH
    Spark SQL and DuckDB, so the same text is used verbatim on both
    sides (identical literals by construction)."""
    whens = " ".join(f"WHEN {i} THEN {w}" for i, w in _IW.items())
    return f"CAST(CASE {col} {whens} ELSE 0 END AS BIGINT)"


# --- shared oracle fragments --------------------------------------------

_COMMON_SQL = f"""
    WITH iv AS MATERIALIZED (
      SELECT vec_id,
             [CAST(floor(CAST(x AS DOUBLE) * {_SCALE}) AS BIGINT)
              for x in embedding] AS v
      FROM embeddings
    ),
    qs AS MATERIALIZED (
      SELECT vec_id AS qid, v AS qv FROM iv WHERE vec_id IN {_QIDS_SQL}
    ),
    exact AS MATERIALIZED (
      SELECT q.qid, a.vec_id,
             CAST({_dd_d2('a.v', 'q.qv', 1, _DIM)} AS BIGINT) AS d2_full
      FROM iv a CROSS JOIN qs q
      WHERE a.vec_id != q.qid
    ),
    ranked AS MATERIALIZED (
      SELECT qid, vec_id, d2_full,
             CAST(row_number() OVER (PARTITION BY qid
                                     ORDER BY d2_full, vec_id) AS BIGINT)
               AS truth_rank
      FROM exact
    ),
    truth AS MATERIALIZED (
      SELECT qid, vec_id, d2_full, truth_rank,
             CAST(CASE WHEN truth_rank <= 3 THEN 3
                       WHEN truth_rank <= 10 THEN 2
                       ELSE 1 END AS BIGINT) AS grade
      FROM ranked WHERE truth_rank <= {_TRUTH_K}
    )"""

_CODE_CTES_SQL = ",\n".join(
    f"""
    c{m} AS MATERIALIZED (
      SELECT vec_id, did AS code_{m} FROM (
        SELECT vec_id, did,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sd_{m}, did) AS rn
        FROM subd
      ) WHERE rn = 1
    )"""
    for m in range(_M)
)

_ARMS_SQL = f""",
    brute AS MATERIALIZED (
      SELECT 'brute' AS arm, qid, vec_id, truth_rank AS r_rank
      FROM truth WHERE truth_rank <= {_K}
    ),
    pref AS MATERIALIZED (
      SELECT q.qid, a.vec_id,
             CAST({_dd_d2('a.v', 'q.qv', 1, _PREFIX)} AS BIGINT) AS d2p
      FROM iv a CROSS JOIN qs q
      WHERE a.vec_id != q.qid
    ),
    mshort AS MATERIALIZED (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY d2p, vec_id) AS rn
        FROM pref
      ) WHERE rn <= {_M_SHORT}
    ),
    matry AS MATERIALIZED (
      SELECT 'matryoshka' AS arm, qid, vec_id, r_rank FROM (
        SELECT s.qid, s.vec_id,
               CAST(row_number() OVER (PARTITION BY s.qid
                                       ORDER BY e.d2_full, s.vec_id)
                    AS BIGINT) AS r_rank
        FROM mshort s
        JOIN exact e ON e.qid = s.qid AND e.vec_id = s.vec_id
      ) WHERE r_rank <= {_K}
    ),
    cents AS MATERIALIZED (
      SELECT vec_id AS cid, v AS cv FROM iv
      WHERE vec_id IN {_CENTROID_IDS}
    ),
    celld AS MATERIALIZED (
      SELECT a.vec_id, c.cid,
             CAST({_dd_d2('a.v', 'c.cv', 1, _DIM)} AS BIGINT) AS d2
      FROM iv a CROSS JOIN cents c
    ),
    cell AS MATERIALIZED (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cid) AS rn
        FROM celld
      ) WHERE rn = 1
    ),
    donors AS MATERIALIZED (
      SELECT vec_id AS did, v AS dv FROM iv
      WHERE vec_id IN {_DONOR_IDS}
    ),
    subd AS MATERIALIZED (
      SELECT a.vec_id, d.did,
             {", ".join(
                 _dd_d2('a.v', 'd.dv', m * _SUB + 1, (m + 1) * _SUB)
                 + f" AS sd_{m}"
                 for m in range(_M)
             )}
      FROM iv a CROSS JOIN donors d
    ),
    {_CODE_CTES_SQL},
    qcelld AS MATERIALIZED (
      SELECT q.qid, c.cid,
             CAST({_dd_d2('q.qv', 'c.cv', 1, _DIM)} AS BIGINT) AS d2
      FROM qs q CROSS JOIN cents c
    ),
    qprobe AS MATERIALIZED (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY d2, cid) AS rn
        FROM qcelld
      ) WHERE rn <= {_NPROBE}
    ),
    qlut AS MATERIALIZED (
      SELECT q.qid, d.did,
             {", ".join(
                 _dd_d2('d.dv', 'q.qv', m * _SUB + 1, (m + 1) * _SUB)
                 + f" AS qd_{m}"
                 for m in range(_M)
             )}
      FROM donors d CROSS JOIN qs q
    ),
    cand AS MATERIALIZED (
      SELECT p.qid, cell.vec_id,
             CAST({" + ".join(f"l{m}.qd_{m}" for m in range(_M))}
                  AS BIGINT) AS adist
      FROM cell
      JOIN qprobe p ON p.cid = cell.cell
      {" ".join(f"JOIN c{m} ON c{m}.vec_id = cell.vec_id"
                for m in range(_M))}
      {" ".join(f"JOIN qlut l{m} ON l{m}.qid = p.qid"
                f" AND l{m}.did = c{m}.code_{m}"
                for m in range(_M))}
      WHERE cell.vec_id != p.qid
    ),
    ishort AS MATERIALIZED (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY adist, vec_id) AS rn
        FROM cand
      ) WHERE rn <= {_RERANK}
    ),
    ivf AS MATERIALIZED (
      SELECT 'ivfpq' AS arm, qid, vec_id, r_rank FROM (
        SELECT s.qid, s.vec_id,
               CAST(row_number() OVER (PARTITION BY s.qid
                                       ORDER BY e.d2_full, s.vec_id)
                    AS BIGINT) AS r_rank
        FROM ishort s
        JOIN exact e ON e.qid = s.qid AND e.vec_id = s.vec_id
      ) WHERE r_rank <= {_K}
    ),
    retrieved AS MATERIALIZED (
      SELECT * FROM brute
      UNION ALL SELECT * FROM matry
      UNION ALL SELECT * FROM ivf
    )"""


# --- shared Spark builders ----------------------------------------------

def _topn_per_qid(
    df: DataFrame, order_cols: list[Column | str], n: int,
    rank_name: str | None = None,
) -> DataFrame:
    w = Window.partitionBy("qid").orderBy(*order_cols)
    out = df.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= n
    )
    if rank_name is not None:
        out = out.withColumn(rank_name, F.col("_rn").cast("long"))
    return out.drop("_rn")


def _query_set(iv: DataFrame) -> DataFrame:
    return iv.where(F.col("vec_id").isin(*_QIDS)).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )


def _exact_pairs(iv: DataFrame, qs: DataFrame) -> DataFrame:
    """The shared ground-truth scan: every (query, candidate) pair with
    BOTH the full-dimension and the ``_PREFIX``-dim integer distances —
    the Spark twin of the oracle's materialized ``exact`` CTE.  One
    |Q|-way broadcast expansion of the corpus computes every distance
    any arm funnel needs; the truth ranking, the matryoshka prefix
    funnel AND both arms' exact re-ranks all read these rows, so the
    harness pays the corpus pass ONCE (round 16; previously the prefix
    funnel re-ran the cross join and each arm's re-rank re-joined iv
    and qs to recompute d2_full it already had)."""
    return (
        iv.crossJoin(F.broadcast(qs))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.expr(_d2_sql("v", "qv")).alias("d2_full"),
            F.expr(
                _d2_sql(
                    f"slice(v, 1, {_PREFIX})", f"slice(qv, 1, {_PREFIX})"
                )
            ).alias("d2p"),
        )
    )


def _truth_from(exact: DataFrame) -> DataFrame:
    """Per-qid exact top-``_TRUTH_K`` with rank-band grades."""
    ranked = _topn_per_qid(
        exact.select("qid", "vec_id", "d2_full"),
        ["d2_full", "vec_id"],
        _TRUTH_K,
        rank_name="truth_rank",
    )
    return ranked.withColumn(
        "grade",
        F.when(F.col("truth_rank") <= 3, F.lit(3))
        .when(F.col("truth_rank") <= 10, F.lit(2))
        .otherwise(F.lit(1))
        .cast("long"),
    )


def _truth(iv: DataFrame, qs: DataFrame) -> DataFrame:
    """Per-qid exact top-``_TRUTH_K`` with rank-band grades (standalone
    form; ``_harness`` derives the same rows from the shared persisted
    ``_exact_pairs`` frame)."""
    return _truth_from(_exact_pairs(iv, qs))


def _rerank_from(exact: DataFrame, short: DataFrame, arm: str) -> DataFrame:
    """Re-rank a per-qid (qid, vec_id) shortlist by exact distance and
    keep the top ``_K`` with retrieval ranks.  The exact distances come
    from the shared ``exact`` frame (the shortlist side is bounded —
    |Q| x shortlist rows — and broadcasts; no corpus re-scan)."""
    rr = F.broadcast(short.select("qid", "vec_id")).join(
        exact.select("qid", "vec_id", "d2_full"), ["qid", "vec_id"]
    )
    return _topn_per_qid(
        rr, ["d2_full", "vec_id"], _K, rank_name="r_rank"
    ).select(F.lit(arm).alias("arm"), "qid", "vec_id", "r_rank")


def _arm_matryoshka_from(exact: DataFrame) -> DataFrame:
    """Matryoshka funnel over the shared exact frame: the prefix
    shortlist rows ALREADY carry d2_full, so the re-rank is a second
    window over the shortlist — no join at all."""
    short = _topn_per_qid(exact, ["d2p", "vec_id"], _M_SHORT)
    return _topn_per_qid(
        short, ["d2_full", "vec_id"], _K, rank_name="r_rank"
    ).select(
        F.lit("matryoshka").alias("arm"), "qid", "vec_id", "r_rank"
    )


def _arm_ivfpq(
    iv: DataFrame, qs: DataFrame, exact: DataFrame
) -> DataFrame:
    assign = _assignments(iv)
    cents = _centroids(iv)
    qcelld = qs.crossJoin(F.broadcast(cents)).select(
        "qid", "cid", F.expr(_d2_sql("qv", "cv")).alias("d2")
    )
    qprobe = _topn_per_qid(qcelld, ["d2", "cid"], _NPROBE).select(
        "qid", "cid"
    )
    qlut = _donors(iv).crossJoin(F.broadcast(qs)).select(
        "qid",
        "did",
        *[
            F.expr(
                _d2_sql(_sub_sql("dv", m), _sub_sql("qv", m))
            ).alias(f"qd_{m}")
            for m in range(_M)
        ],
    )
    cand = (
        assign.join(
            F.broadcast(qprobe), assign["cell"] == qprobe["cid"]
        )
        .where(F.col("vec_id") != F.col("qid"))
        .drop("cid")
    )
    for m in range(_M):
        lm = qlut.select(
            "qid",
            F.col("did").alias(f"code_{m}"),
            F.col(f"qd_{m}").alias(f"term_{m}"),
        )
        cand = cand.join(F.broadcast(lm), ["qid", f"code_{m}"])
    cand = cand.select(
        "qid",
        "vec_id",
        sum(
            (F.col(f"term_{m}") for m in range(1, _M)),
            F.col("term_0"),
        ).cast("long").alias("adist"),
    )
    short = _topn_per_qid(cand, ["adist", "vec_id"], _RERANK).select(
        "qid", "vec_id"
    )
    return _rerank_from(exact, short, "ivfpq")


def _harness(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Evaluation-harness tables, derived FRESH per call from the
    embeddings parquet (no cross-run persistence, no driver-side memo
    — every bench/oracle invocation computes from the inputs):
    ``truth`` (per-qid exact top-20 with grades), ``retrieved``
    (brute/matryoshka/ivfpq arms @k) and ``pool`` (truth rows with
    their quantized vectors, the MMR candidate pool).  Each frame is
    scoped-persisted: the metric queries read them several times
    (per-arm joins, rank windows), and the calling query's timed
    region owns the whole build.

    Bound: the largest persisted frame is ``exact``, one row of four
    scalar columns per (query, other corpus vector) pair, so at most
    ``len(_QIDS)`` = 5 queries x corpus rows.  ``scoped_persist`` calls
    ``DataFrame.persist()`` with its default level, MEMORY_AND_DISK_DESER
    (PySpark's default since 3.0): blocks that do not fit in executor memory spill to
    local disk instead of failing or recomputing.  Growing ``_QIDS``
    grows ``exact`` linearly."""
    iv = scoped_persist(_int_vectors(spark, sf_dir))
    qs = _query_set(iv)
    exact = scoped_persist(_exact_pairs(iv, qs))
    truth = scoped_persist(_truth_from(exact))
    brute = truth.where(F.col("truth_rank") <= _K).select(
        F.lit("brute").alias("arm"),
        "qid",
        "vec_id",
        F.col("truth_rank").alias("r_rank"),
    )
    retrieved = scoped_persist(
        brute.unionByName(_arm_matryoshka_from(exact)).unionByName(
            _arm_ivfpq(iv, qs, exact)
        )
    )
    pool = scoped_persist(
        truth.select("qid", "vec_id", F.col("d2_full").alias("d2")).join(
            iv, "vec_id"
        )
    )
    return {"truth": truth, "retrieved": retrieved, "pool": pool}


def _retrieved(spark: SparkSession, sf_dir: str) -> tuple[
    DataFrame, DataFrame
]:
    """(truth, retrieved) for the three non-MMR arms — derived fresh
    per call via ``_harness`` (scoped-persisted for the caller's timed
    region; no cross-call memo)."""
    h = _harness(spark, sf_dir)
    return h["truth"], h["retrieved"]


@query(
    "search_eval_recall_at_k",
    oracle=_COMMON_SQL + _ARMS_SQL + f"""
    SELECT r.arm, r.qid,
           CAST(COUNT(t.vec_id) AS BIGINT) AS hits,
           CAST(COUNT(t.vec_id) * 10000 // {_K} AS BIGINT) AS recall_bp
    FROM retrieved r
    LEFT JOIN truth t ON t.qid = r.qid AND t.vec_id = r.vec_id
                      AND t.truth_rank <= {_K}
    GROUP BY r.arm, r.qid
    """,
)
def search_eval_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of each retrieval arm against the exact integer top-k:
    per (arm, qid), the overlap count and its basis-point recall.  The
    ``brute`` arm is the built-in sanity row (recall_bp must be 10000);
    ``matryoshka`` and ``ivfpq`` report exactly what their funnels lose
    — the number the pytest invariants only bounded before."""
    truth, retrieved = _retrieved(spark, sf_dir)
    truth_k = truth.where(F.col("truth_rank") <= _K).select(
        "qid", "vec_id", F.lit(1).alias("hit")
    )
    return (
        retrieved.join(truth_k, ["qid", "vec_id"], "left")
        .groupBy("arm", "qid")
        .agg(F.count("hit").alias("hits"))
        .select(
            "arm",
            "qid",
            "hits",
            F.expr(f"hits * 10000 div {_K}").alias("recall_bp"),
        )
    )


@query(
    "search_eval_ndcg_at_k",
    oracle=_COMMON_SQL + _ARMS_SQL + f""",
    dcg AS (
      SELECT r.arm, r.qid,
             CAST(SUM(COALESCE(t.grade, 0)
                      * {_w_case_sql('r.r_rank')}) AS BIGINT) AS dcg
      FROM retrieved r
      LEFT JOIN truth t ON t.qid = r.qid AND t.vec_id = r.vec_id
      GROUP BY r.arm, r.qid
    ),
    ideal AS (
      SELECT qid, grade,
             row_number() OVER (PARTITION BY qid
                                ORDER BY grade DESC, truth_rank) AS irank
      FROM truth
    ),
    idcg AS (
      SELECT qid,
             CAST(SUM(grade * {_w_case_sql('irank')}) AS BIGINT) AS idcg
      FROM ideal WHERE irank <= {_K}
      GROUP BY qid
    )
    SELECT d.arm, d.qid, d.dcg, i.idcg,
           CAST(d.dcg * 10000 // i.idcg AS BIGINT) AS ndcg_bp
    FROM dcg d JOIN idcg i ON i.qid = d.qid
    """,
)
def search_eval_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-relevance NDCG@k per (arm, qid): graded relevance from
    truth-rank bands, integer DCG weights (identical literals in both
    dialects), and the basis-point NDCG ratio — position-sensitive where
    recall@k is set-based, so an arm that finds the right documents in
    the wrong order scores below one that ranks them exactly."""
    truth, retrieved = _retrieved(spark, sf_dir)
    w_rank = F.expr(_w_case_sql("r_rank"))
    dcg = (
        retrieved.join(
            truth.select("qid", "vec_id", "grade"), ["qid", "vec_id"], "left"
        )
        .groupBy("arm", "qid")
        .agg(
            F.sum(F.coalesce(F.col("grade"), F.lit(0)) * w_rank)
            .cast("long")
            .alias("dcg")
        )
    )
    w_ideal = Window.partitionBy("qid").orderBy(
        F.desc("grade"), "truth_rank"
    )
    idcg = (
        truth.withColumn("irank", F.row_number().over(w_ideal))
        .where(F.col("irank") <= _K)
        .groupBy("qid")
        .agg(
            F.sum(F.col("grade") * F.expr(_w_case_sql("irank")))
            .cast("long")
            .alias("idcg")
        )
    )
    return dcg.join(idcg, "qid").select(
        "arm",
        "qid",
        "dcg",
        "idcg",
        F.expr("dcg * 10000 div idcg").alias("ndcg_bp"),
    )


@query(
    "search_eval_mrr",
    oracle=_COMMON_SQL + _ARMS_SQL + f"""
    SELECT r.arm, r.qid,
           CAST(COALESCE(MIN(CASE WHEN t.vec_id IS NOT NULL
                                  THEN r.r_rank END), 0) AS BIGINT)
             AS first_hit_rank,
           CAST(COALESCE(10000 // MIN(CASE WHEN t.vec_id IS NOT NULL
                                           THEN r.r_rank END), 0)
                AS BIGINT) AS rr_bp
    FROM retrieved r
    LEFT JOIN truth t ON t.qid = r.qid AND t.vec_id = r.vec_id
                      AND t.truth_rank <= {_K}
    GROUP BY r.arm, r.qid
    """,
)
def search_eval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank per (arm, qid): the rank of the FIRST retrieved
    document that belongs to the exact top-k, and ``10000 div rank`` in
    basis points (0 when no retrieved document is relevant) — the third
    standard IR metric beside recall@k and NDCG@k, the one that scores
    "how fast does the user hit something right".  Integer floor
    division keeps it hash-exact; averaging across queries is the
    reader's one division away (emitting per-qid keeps the result
    auditable)."""
    truth, retrieved = _retrieved(spark, sf_dir)
    truth_k = truth.where(F.col("truth_rank") <= _K).select(
        "qid", "vec_id", F.lit(1).alias("hit")
    )
    return (
        retrieved.join(truth_k, ["qid", "vec_id"], "left")
        .groupBy("arm", "qid")
        .agg(
            F.min(F.when(F.col("hit").isNotNull(), F.col("r_rank")))
            .alias("fr")
        )
        .select(
            "arm",
            "qid",
            F.coalesce(F.col("fr"), F.lit(0))
            .cast("long")
            .alias("first_hit_rank"),
            F.coalesce(F.expr("10000 div fr"), F.lit(0))
            .cast("long")
            .alias("rr_bp"),
        )
    )


# --- MMR arm (own query: the selection loop unrolls per pick) -----------

def _mmr_oracle() -> str:
    """Vectorized-over-queries unrolled greedy MMR: each pick CTE takes,
    PER qid, the argmax of ``min-distance-to-selected − d2`` (integers,
    doc_id tie-break) — ``search_mmr_rerank``'s algebra extended from
    one query to the evaluation set."""
    steps = [
        """pick1 AS MATERIALIZED (
      SELECT qid, doc_id, 1 AS step FROM (
        SELECT qid, vec_id AS doc_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY d2, vec_id) AS rn
        FROM pool
      ) WHERE rn = 1
    ),
    sel1 AS MATERIALIZED (SELECT qid, doc_id FROM pick1)"""
    ]
    for i in range(2, _K + 1):
        steps.append(
            f"""pick{i} AS MATERIALIZED (
      SELECT qid, doc_id, {i} AS step FROM (
        SELECT x.qid, x.doc_id,
               row_number() OVER (PARTITION BY x.qid
                                  ORDER BY x.mmr DESC, x.doc_id) AS rn
        FROM (
          SELECT c.qid, c.vec_id AS doc_id, MIN(p.pd) - c.d2 AS mmr
          FROM pool c
          JOIN pd p ON p.qid = c.qid AND p.a = c.vec_id
          JOIN sel{i - 1} s ON s.qid = p.qid AND s.doc_id = p.b
          LEFT JOIN sel{i - 1} e ON e.qid = c.qid AND e.doc_id = c.vec_id
          WHERE e.doc_id IS NULL
          GROUP BY c.qid, c.vec_id, c.d2
        ) x
      ) WHERE rn = 1
    ),
    sel{i} AS MATERIALIZED (
      SELECT qid, doc_id FROM sel{i - 1}
      UNION ALL SELECT qid, doc_id FROM pick{i}
    )"""
        )
    chain = ",\n    ".join(steps)
    unions = "\n      UNION ALL ".join(
        f"SELECT qid, doc_id, step FROM pick{i}" for i in range(1, _K + 1)
    )
    return _COMMON_SQL + f""",
    pool AS MATERIALIZED (
      SELECT t.qid, t.vec_id, t.d2_full AS d2, a.v
      FROM truth t JOIN iv a ON a.vec_id = t.vec_id
    ),
    pd AS MATERIALIZED (
      SELECT x.qid, x.vec_id AS a, y.vec_id AS b,
             CAST({_dd_d2('x.v', 'y.v', 1, _DIM)} AS BIGINT) AS pd
      FROM pool x
      JOIN pool y ON y.qid = x.qid AND y.vec_id != x.vec_id
    ),
    {chain},
    picks AS MATERIALIZED (
      SELECT qid, doc_id, CAST(step AS BIGINT) AS step FROM ({unions})
    ),
    dcg AS (
      SELECT r.qid,
             CAST(SUM(COALESCE(t.grade, 0)
                      * {_w_case_sql('r.step')}) AS BIGINT) AS dcg,
             CAST(SUM(CASE WHEN t.truth_rank <= {_K}
                           THEN 1 ELSE 0 END) AS BIGINT) AS hits
      FROM picks r
      LEFT JOIN truth t ON t.qid = r.qid AND t.vec_id = r.doc_id
      GROUP BY r.qid
    ),
    ideal AS (
      SELECT qid, grade,
             row_number() OVER (PARTITION BY qid
                                ORDER BY grade DESC, truth_rank) AS irank
      FROM truth
    ),
    idcg AS (
      SELECT qid,
             CAST(SUM(grade * {_w_case_sql('irank')}) AS BIGINT) AS idcg
      FROM ideal WHERE irank <= {_K}
      GROUP BY qid
    )
    SELECT d.qid, d.hits,
           CAST(d.hits * 10000 // {_K} AS BIGINT) AS recall_bp,
           d.dcg, i.idcg,
           CAST(d.dcg * 10000 // i.idcg AS BIGINT) AS ndcg_bp
    FROM dcg d JOIN idcg i ON i.qid = d.qid
    """


def _mmr_greedy(
    by_qid: dict[int, list], k: int
) -> list[tuple[int, int, int]]:
    """Driver-side greedy lambda-1/2 MMR over per-qid candidate pools of
    ``(vec_id, d2, vector)`` tuples: exact-int64 squared-L2 diversity on
    the quantized lattice, picks by (max minpd - d2, tie-break low
    vec_id).  Pools smaller than ``k`` emit fewer picks (graceful
    degrade, matching the replaced Spark plan — ADVICE r13).  Returns
    ``(qid, doc_id, step)`` rows."""

    def _pd2(va: list, vb: list) -> int:
        return sum((a - b) * (a - b) for a, b in zip(va, vb))

    pick_rows: list[tuple[int, int, int]] = []  # (qid, doc_id, step)
    for qid, cands in by_qid.items():
        if not cands:
            continue
        cands = sorted(cands, key=lambda c: (c[1], c[0]))
        selected = [cands[0]]
        pick_rows.append((qid, cands[0][0], 1))
        remaining = cands[1:]
        for step in range(2, k + 1):
            if not remaining:
                break
            best = None
            for vec_id, d2, v in remaining:
                minpd = min(_pd2(v, s[2]) for s in selected)
                mmr = minpd - d2
                # max mmr, tie-break LOW vec_id (desc mmr, asc vec_id)
                key = (-mmr, vec_id)
                if best is None or key < best[0]:
                    best = (key, (vec_id, d2, v))
            selected.append(best[1])
            pick_rows.append((qid, best[1][0], step))
            remaining = [c for c in remaining if c[0] != best[1][0]]
    return pick_rows


@query("search_eval_mmr_arm", oracle=_mmr_oracle())
def search_eval_mmr_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k AND integer NDCG@k of the MMR arm: greedy lambda-1/2
    diversified selection of ``_K`` picks from each query's brute-force
    top-``_MMR_POOL`` pool, scored against the same ground truth as the
    other arms — the hash-proven measurement of how much relevance MMR's
    diversity term spends (its recall/NDCG ceiling is the brute row of
    ``search_eval_recall_at_k`` / ``search_eval_ndcg_at_k``).

    The greedy selection runs DRIVER-SIDE over the collected pool rows
    (round 13): the pool is |Q| x ``_MMR_POOL`` rows, corpus-independent
    and scoped-persisted by ``_harness``, so the k greedy rounds are
    a few thousand exact-int64 operations — the bounded-driver-traffic
    category (VERDICT anti-pattern scan), replacing ~30 tiny Spark jobs
    (10 localCheckpointed steps) that dominated this query's bench time
    after the harness scan was amortized.  The arithmetic is the exact
    integer algebra of the unrolled oracle: squared-L2 pairwise
    distances on the quantized lattice, picks by (max minpd - d2,
    tie-break low vec_id); the driver hash compare proves the
    equivalence at every sf.  Scoring (DCG/IDCG vs truth) stays in
    Spark below."""
    h = _harness(spark, sf_dir)
    truth = h["truth"]
    # greedy lambda-1/2 MMR over the collected pool (local relation —
    # |Q| x pool rows from the scoped-persisted harness, not the corpus)
    by_qid: dict[int, list] = {}
    for row in h["pool"].collect():
        by_qid.setdefault(row["qid"], []).append(
            (row["vec_id"], row["d2"], row["v"])
        )
    pick_rows = _mmr_greedy(by_qid, _K)
    retrieved = spark.createDataFrame(
        pick_rows, "qid long, doc_id long, step long"
    )
    joined = retrieved.join(
        truth.select("qid", "vec_id", "grade", "truth_rank").withColumnRenamed(
            "vec_id", "doc_id"
        ),
        ["qid", "doc_id"],
        "left",
    )
    w_step = F.expr(_w_case_sql("step"))
    dcg = joined.groupBy("qid").agg(
        F.sum(F.coalesce(F.col("grade"), F.lit(0)) * w_step)
        .cast("long")
        .alias("dcg"),
        F.sum(
            F.when(F.col("truth_rank") <= _K, F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("hits"),
    )
    w_ideal = Window.partitionBy("qid").orderBy(
        F.desc("grade"), "truth_rank"
    )
    idcg = (
        truth.withColumn("irank", F.row_number().over(w_ideal))
        .where(F.col("irank") <= _K)
        .groupBy("qid")
        .agg(
            F.sum(F.col("grade") * F.expr(_w_case_sql("irank")))
            .cast("long")
            .alias("idcg")
        )
    )
    return dcg.join(idcg, "qid").select(
        "qid",
        "hits",
        F.expr(f"hits * 10000 div {_K}").alias("recall_bp"),
        "dcg",
        "idcg",
        F.expr("dcg * 10000 div idcg").alias("ndcg_bp"),
    )


@query(
    "search_eval_map_at_k",
    oracle=_COMMON_SQL + _ARMS_SQL + f""",
    scored AS MATERIALIZED (
      SELECT r.arm, r.qid, r.r_rank,
             CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END AS rel,
             SUM(CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END)
               OVER (PARTITION BY r.arm, r.qid ORDER BY r.r_rank)
               AS hits_at
      FROM retrieved r
      LEFT JOIN truth t ON t.qid = r.qid AND t.vec_id = r.vec_id
                        AND t.truth_rank <= {_K}
    ),
    ap AS MATERIALIZED (
      SELECT arm, qid,
             CAST(SUM(rel) AS BIGINT) AS hits,
             CAST(SUM(CASE WHEN rel = 1
                           THEN 1000000 * hits_at // r_rank
                           ELSE 0 END) // (100 * {_K}) AS BIGINT)
               AS ap_bp
      FROM scored GROUP BY 1, 2
    )
    SELECT arm, qid, hits, ap_bp,
           CAST(SUM(ap_bp) OVER (PARTITION BY arm)
                // COUNT(*) OVER (PARTITION BY arm) AS BIGINT)
             AS arm_map_bp
    FROM ap
    """,
)
def search_eval_map_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision@k per (arm, qid) plus each arm's MAP — the
    third standard IR metric beside recall@k (set overlap) and NDCG@k
    (graded positions): AP rewards ranking the relevant items EARLY by
    averaging the precision at each relevant position.

    Integer-MAP convention (the NDCG integer-weight discipline): each
    relevant rank contributes ``floor(1e6 * hits_at_i / i)``, the AP is
    the floor of the term sum over ``100 * k``, and the arm MAP is the
    floor-mean over the query set — every value an exact int64, so the
    driver hash is bit-exact with no float discipline.  The ``brute``
    arm must score 10000 (its ranking IS the truth order).

    Scale: one cumulative window over |arms| x |Q| x k rows (the
    metric table, not the corpus); ground truth amortizes the same
    per-query full scan every recall benchmark pays."""
    truth, retrieved = _retrieved(spark, sf_dir)
    truth_k = truth.where(F.col("truth_rank") <= _K).select(
        "qid", "vec_id", F.lit(1).alias("rel_hit")
    )
    w_cum = (
        Window.partitionBy("arm", "qid")
        .orderBy("r_rank")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    scored = (
        retrieved.join(truth_k, ["qid", "vec_id"], "left")
        .select(
            "arm",
            "qid",
            "r_rank",
            F.coalesce(F.col("rel_hit"), F.lit(0)).alias("rel"),
        )
        .withColumn("hits_at", F.sum("rel").over(w_cum))
    )
    ap = scored.groupBy("arm", "qid").agg(
        F.sum("rel").cast("long").alias("hits"),
        F.expr(
            f"CAST(SUM(CASE WHEN rel = 1"
            f" THEN 1000000 * hits_at div r_rank"
            f" ELSE 0 END) div (100 * {_K}) AS BIGINT)"
        ).alias("ap_bp"),
    )
    return ap.select(
        "arm",
        "qid",
        "hits",
        "ap_bp",
        F.expr(
            "CAST(SUM(ap_bp) OVER (PARTITION BY arm)"
            " div COUNT(*) OVER (PARTITION BY arm) AS BIGINT)"
        ).alias("arm_map_bp"),
    )


@query(
    "search_eval_auc",
    oracle=_COMMON_SQL + _ARMS_SQL + f""",
    scored AS MATERIALIZED (
      SELECT r.arm, r.qid, r.r_rank,
             CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END AS rel,
             SUM(CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END)
               OVER (PARTITION BY r.arm, r.qid ORDER BY r.r_rank)
               AS hits_at
      FROM retrieved r
      LEFT JOIN truth t ON t.qid = r.qid AND t.vec_id = r.vec_id
                        AND t.truth_rank <= {_K}
    ),
    u AS MATERIALIZED (
      SELECT arm, qid,
             CAST(SUM(rel) AS BIGINT) AS n_rel,
             CAST(COUNT(*) - SUM(rel) AS BIGINT) AS n_irr,
             CAST(SUM(CASE WHEN rel = 1
                  THEN hits_at - r_rank ELSE 0 END) AS BIGINT) AS neg_above
      FROM scored GROUP BY 1, 2
    ),
    auc AS (
      SELECT arm, qid, n_rel, n_irr,
             n_rel * n_irr + neg_above AS u_stat,
             CASE WHEN n_rel = 0 THEN 0
                  WHEN n_irr = 0 THEN 10000
                  ELSE CAST(10000 * (n_rel * n_irr + neg_above)
                            // (n_rel * n_irr) AS BIGINT) END AS auc_bp
      FROM u
    )
    SELECT arm, qid, n_rel, n_irr, CAST(u_stat AS BIGINT) AS u_stat,
           auc_bp,
           CAST(SUM(auc_bp) OVER (PARTITION BY arm)
                // COUNT(*) OVER (PARTITION BY arm) AS BIGINT)
             AS arm_auc_bp
    FROM auc
    """,
)
def search_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-list ROC AUC per (arm, qid): over each arm's retrieved
    top-k, the probability that a relevant item outranks an irrelevant
    one — the rank-quality metric that, unlike precision-family
    metrics, is insensitive to the relevant-count imbalance.  Computed
    as the exact integer Mann-Whitney U of the retrieved list:
    ``U = n_rel * n_irr - sum over relevant of (irrelevant ranked
    above)``, where ``irrelevant_above = r_rank - hits_at`` (both from
    the same cumulative window MAP@k uses).  All-relevant lists pin to
    10000, zero-relevant to 0; the ``brute`` arm is 10000 by
    construction.

    Scale: same metric-table windows as ``search_eval_map_at_k`` —
    |arms| x |Q| x k rows, corpus-independent."""
    truth, retrieved = _retrieved(spark, sf_dir)
    truth_k = truth.where(F.col("truth_rank") <= _K).select(
        "qid", "vec_id", F.lit(1).alias("rel_hit")
    )
    w_cum = (
        Window.partitionBy("arm", "qid")
        .orderBy("r_rank")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    scored = (
        retrieved.join(truth_k, ["qid", "vec_id"], "left")
        .select(
            "arm",
            "qid",
            "r_rank",
            F.coalesce(F.col("rel_hit"), F.lit(0)).alias("rel"),
        )
        .withColumn("hits_at", F.sum("rel").over(w_cum))
    )
    u = scored.groupBy("arm", "qid").agg(
        F.sum("rel").cast("long").alias("n_rel"),
        (F.count(F.lit(1)) - F.sum("rel")).cast("long").alias("n_irr"),
        F.sum(
            F.when(
                F.col("rel") == 1, F.col("hits_at") - F.col("r_rank")
            ).otherwise(0)
        )
        .cast("long")
        .alias("neg_above"),
    )
    auc = u.select(
        "arm",
        "qid",
        "n_rel",
        "n_irr",
        (F.col("n_rel") * F.col("n_irr") + F.col("neg_above")).alias(
            "u_stat"
        ),
        F.expr(
            "CASE WHEN n_rel = 0 THEN 0"
            " WHEN n_irr = 0 THEN 10000"
            " ELSE CAST(10000 * (n_rel * n_irr + neg_above)"
            " div (n_rel * n_irr) AS BIGINT) END"
        ).alias("auc_bp"),
    )
    return auc.select(
        "arm",
        "qid",
        "n_rel",
        "n_irr",
        F.col("u_stat").cast("long").alias("u_stat"),
        "auc_bp",
        F.expr(
            "CAST(SUM(auc_bp) OVER (PARTITION BY arm)"
            " div COUNT(*) OVER (PARTITION BY arm) AS BIGINT)"
        ).alias("arm_auc_bp"),
    )
