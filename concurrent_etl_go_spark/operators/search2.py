"""Two-stage retrieval: recall shortlist + cross-encoder-style rerank.

Production retrieval is recall-then-rerank: a cheap first stage
shortlists candidates, then an expensive model scores each
(query, document) PAIR with interaction features a bi-encoder cannot
see — term proximity being the classic one (Nogueira & Cho 2019
passage re-ranking; Metzler & Croft 2005 term-dependence models, public
literature).  The engine's twin replaces the neural cross-encoder with
a deterministic integer interaction score over the same feature classes
(coverage, frequency, proximity), computed on the integer lattice so
the driver hash is bit-exact — the repo's portable-twin convention
(like ``similarity_ivfpq_portable``).

Scale: the rerank stage touches ONLY the shortlist.  Positions are
generated doc-side (posexplode) with the query-term filter sitting
directly on the generator output — non-matching postings never reach an
exchange — and then semi-joined to the 50-doc shortlist, so the
expensive pairwise features cost O(|shortlist| x matched positions),
not O(corpus).  That is precisely the economics that make reranking
affordable at 100 TB.

``search_eval_rbo`` scores how far the rerank moves the BM25 ranking
(``operators/search.py``) with RANK-BIASED OVERLAP (Webber, Moffat &
Zobel 2010): the top-weighted agreement measure for indefinite
rankings, here the truncated-sum form at depth 20 with persistence
p = 0.9.  Its per-depth weights ``round(1e9 * (1-p) * p^(d-1))`` are
precomputed in Python once and embedded as the same int64 literals in
both dialects, so the score is a pure integer sum (order-independent,
bit-exact); its oracle inlines both rankings' oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from concurrent_etl_go_spark.llm.text import tokens
from concurrent_etl_go_spark.operators.registry import query, scoped_persist
from concurrent_etl_go_spark.operators.search import (
    BM25_TOP_K,
    _BM25_SCORED_SQL,
    text_bm25_search,
)
from concurrent_etl_go_spark.sources.readers import read_table

#: Fixed retrieval query (real corpus vocabulary; the BM25 terms plus a
#: fourth so coverage has four levels).
XE_TERMS = ("hash", "join", "stream", "shuffle")
XE_SHORTLIST = 50
XE_TOP_K = 20

_XE_TERMS_SQL = ", ".join(f"'{t}'" for t in XE_TERMS)

_XE_ORACLE_SQL = f"""
    WITH pos AS MATERIALIZED (
      SELECT doc_id, u.term, u.pos
      FROM (SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents),
           UNNEST(list_transform(toks,
                  (x, i) -> struct_pack(term := x, pos := i))) AS t(u)
      WHERE u.term IN ({_XE_TERMS_SQL})
    ),
    tf AS MATERIALIZED (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS tf_total,
             CAST(COUNT(DISTINCT term) AS BIGINT) AS coverage
      FROM pos GROUP BY doc_id
    ),
    shortlist AS MATERIALIZED (
      SELECT doc_id, tf_total, coverage
      FROM tf
      ORDER BY tf_total DESC, doc_id LIMIT {XE_SHORTLIST}
    ),
    gaps AS (
      SELECT p.doc_id,
             CASE WHEN p.term <> LAG(p.term) OVER w
                  THEN p.pos - LAG(p.pos) OVER w END AS gap
      FROM pos p JOIN shortlist s ON s.doc_id = p.doc_id
      WINDOW w AS (PARTITION BY p.doc_id ORDER BY p.pos)
    ),
    prox AS (
      SELECT doc_id, MIN(gap) AS min_gap FROM gaps GROUP BY doc_id
    ),
    feat AS (
      SELECT s.doc_id, s.coverage, s.tf_total,
             COALESCE(p.min_gap, -1) AS min_gap,
             s.coverage * 10000000
             + LEAST(s.tf_total, 99) * 100000
             + CASE WHEN p.min_gap IS NULL THEN 0
                    ELSE 100000 // (1 + p.min_gap) END AS score_e6
      FROM shortlist s LEFT JOIN prox p ON p.doc_id = s.doc_id
    )
    SELECT CAST(row_number() OVER (ORDER BY score_e6 DESC, doc_id)
                AS BIGINT) AS rank,
           doc_id,
           CAST(score_e6 AS BIGINT) AS score_e6,
           coverage, tf_total, CAST(min_gap AS BIGINT) AS min_gap
    FROM feat
    ORDER BY score_e6 DESC, doc_id LIMIT {XE_TOP_K}
    """


@query("search_cross_encoder_rerank", oracle=_XE_ORACLE_SQL)
def search_cross_encoder_rerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall-then-rerank for a fixed 4-term query: stage 1 shortlists
    the top-{shortlist} documents by raw matched-term frequency; stage
    2 re-scores each with cross-encoder-class interaction features —
    query-term COVERAGE, total matched frequency, and PROXIMITY (the
    minimum token distance between occurrences of two DIFFERENT query
    terms, via the sorted-adjacent-positions scan: the closest
    cross-term pair is always adjacent in position order, since any
    intervening occurrence forms a strictly closer pair with one end).

    Score is an integer lattice point
    ``coverage*1e7 + min(tf,99)*1e5 + floor(1e5/(1+min_gap))`` — the
    lexicographic (coverage, frequency, proximity) preference a tuned
    cross-encoder approximates, and bit-exact across engines.

    Scale: postings filtered at the generator; proximity windows run
    per shortlisted doc only (|shortlist| tiny partitions after a
    semi-join); the final sort is over {shortlist} rows."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    pos = (
        docs.select(
            "doc_id", F.posexplode("toks").alias("pos0", "term")
        )
        .where(F.col("term").isin(*XE_TERMS))
        .select("doc_id", "term", (F.col("pos0") + 1).alias("pos"))
    )
    pos = scoped_persist(pos)
    tf = pos.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("tf_total"),
        F.countDistinct("term").cast("long").alias("coverage"),
    )
    shortlist = tf.orderBy(F.desc("tf_total"), "doc_id").limit(
        XE_SHORTLIST
    )
    shortlist = scoped_persist(shortlist)
    w = Window.partitionBy("doc_id").orderBy("pos")
    gaps = (
        pos.join(F.broadcast(shortlist.select("doc_id")), "doc_id")
        .select(
            "doc_id",
            F.when(
                F.col("term") != F.lag("term").over(w),
                F.col("pos") - F.lag("pos").over(w),
            ).alias("gap"),
        )
    )
    prox = gaps.groupBy("doc_id").agg(F.min("gap").alias("min_gap"))
    feat = (
        shortlist.join(prox, "doc_id", "left")
        .select(
            "doc_id",
            "coverage",
            "tf_total",
            F.coalesce("min_gap", F.lit(-1)).cast("long").alias("min_gap"),
            F.expr(
                "coverage * 10000000 + LEAST(tf_total, 99) * 100000"
                " + CASE WHEN min_gap IS NULL THEN 0"
                "        ELSE 100000 div (1 + min_gap) END"
            )
            .cast("long")
            .alias("score_e6"),
        )
    )
    wr = Window.orderBy(F.desc("score_e6"), "doc_id")
    return (
        feat.select(
            F.row_number().over(wr).cast("long").alias("rank"),
            "doc_id",
            "score_e6",
            "coverage",
            "tf_total",
            "min_gap",
        )
        .orderBy(F.desc("score_e6"), "doc_id")
        .limit(XE_TOP_K)
    )


#: RBO persistence and integer depth weights: w_d = round(1e9*(1-p)*
#: p^(d-1)) for d = 1..20 — the geometric top-weighting, frozen as
#: int64 literals shared by both engines.
RBO_P = 0.9
RBO_DEPTH = 20
_RBO_W = tuple(
    round(1e9 * (1 - RBO_P) * RBO_P ** (d - 1))
    for d in range(1, RBO_DEPTH + 1)
)
_RBO_W_SQL = ", ".join(str(w) for w in _RBO_W)

#: The text_bm25_search ranking as DuckDB SQL, inlined into the RBO
#: oracle beside the rerank oracle.
_BM25_TOP_SQL = f"""
      WITH {_BM25_SCORED_SQL}
      SELECT doc_id, ROUND(score, 4) AS bm25 FROM scored
      ORDER BY ROUND(score, 4) DESC, doc_id LIMIT {BM25_TOP_K}
    """


@query(
    "search_eval_rbo",
    oracle=f"""
    WITH w AS (
      SELECT unnest([{_RBO_W_SQL}]) AS wt,
             unnest(range(1, {RBO_DEPTH + 1})) AS d
    ),
    a AS (
      SELECT doc_id, bm25_rank FROM (
        SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id)
                 AS bm25_rank
        FROM ({_BM25_TOP_SQL}) t
      ) WHERE bm25_rank <= {RBO_DEPTH}
    ),
    b AS (
      SELECT doc_id, rank AS xe_rank FROM ({_XE_ORACLE_SQL}) t
      WHERE rank <= {RBO_DEPTH}
    ),
    common AS (
      SELECT a.doc_id, GREATEST(a.bm25_rank, b.xe_rank) AS m
      FROM a JOIN b USING (doc_id)
    ),
    terms AS (
      SELECT w.d, w.wt,
             (SELECT COUNT(*) FROM common WHERE common.m <= w.d) AS x_d
      FROM w
    )
    SELECT CAST({RBO_DEPTH} AS BIGINT) AS depth,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM common) AS n_common,
           CAST(SUM(wt * x_d // d) AS BIGINT) AS rbo_e9
    FROM terms
    """,
)
def search_eval_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (p = 0.9) between the BM25 top-20 and the
    cross-encoder rerank top-20: the truncated geometric sum
    ``sum_d w_d * |A_1..d ∩ B_1..d| div d`` with the integer depth
    weights above — how much the expensive reranker actually reorders
    what lexical retrieval found, weighted toward the top.  A doc
    enters the agreement set at depth max(rank_A, rank_B), so the
    per-depth overlap is one GREATEST + count, never a per-depth join.

    Scale: two top-20 lists joined on doc_id; the first-stage costs are
    those of the underlying queries (posting-pruned scans)."""
    wa = Window.orderBy(F.desc("bm25"), "doc_id")
    a = (
        text_bm25_search(spark, sf_dir)
        .select("doc_id", F.row_number().over(wa).alias("bm25_rank"))
        .where(F.col("bm25_rank") <= RBO_DEPTH)
    )
    b = search_cross_encoder_rerank(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("xe_rank")
    ).where(F.col("xe_rank") <= RBO_DEPTH)
    common = scoped_persist(
        a.join(b, "doc_id").select(
            "doc_id",
            F.greatest("bm25_rank", "xe_rank").alias("m"),
        )
    )
    weights = spark.createDataFrame(
        [(d + 1, w) for d, w in enumerate(_RBO_W)], "d long, wt long"
    )
    terms = weights.crossJoin(common).groupBy("d", "wt").agg(
        F.sum(F.when(F.col("m") <= F.col("d"), 1).otherwise(0)).alias(
            "x_d"
        )
    )
    n_common = common.agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )
    return (
        terms.agg(
            F.expr("CAST(SUM(wt * x_d div d) AS BIGINT)").alias("rbo_e9")
        )
        .crossJoin(n_common)
        .select(
            F.lit(RBO_DEPTH).cast("long").alias("depth"),
            "n_common",
            "rbo_e9",
        )
    )
