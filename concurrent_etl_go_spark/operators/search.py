"""Full-text retrieval over ``documents``: BM25 ranking and corpus
heavy-hitters.

BM25 is the retrieval half of a training-data pipeline (quality-biased
sampling, near-duplicate triage, eval-set decontamination all start from
"which documents match these terms"). The plan is inverted-index shaped:
explode tokens, FILTER TO THE QUERY TERMS BEFORE ANY SHUFFLE (the filter
prunes ~99% of postings at the scan), aggregate tiny per-term statistics,
broadcast them back. Nothing here is a UDF; everything is Catalyst
expressions.

Scale: at 100 TB the posting-list explode never materializes — the
``term IN (...)`` predicate sits directly on the exploded generator
output, so only matching postings reach the tf aggregation; df/avgdl/N
are scalar-sized aggregates broadcast back onto the tf frame. The final
top-k is a sort of |matching docs| rows, not the corpus.

Cross-engine determinism: the per-term BM25 contributions are summed in a
FIXED literal order (one conditional-sum column per query term, added
left-to-right) instead of a SUM over term rows, so Spark and DuckDB
perform bit-identical IEEE double additions; ordering uses the rounded
score with a doc_id tie-break.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from concurrent_etl_go_spark.operators.registry import checkpoint_round, query
from concurrent_etl_go_spark.llm.text import tokens
from concurrent_etl_go_spark.sources.readers import read_table

#: Fixed retrieval query for the registry entry (real vocabulary terms of
#: the synthetic corpus). Order matters: contributions add left-to-right.
BM25_TERMS = ("hash", "join", "stream")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20

_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)


def _contrib(term: str) -> Column:
    """BM25 contribution of one query term (0 when the doc lacks it)."""
    tf = F.coalesce(
        F.sum(F.when(F.col("term") == term, F.col("tf"))), F.lit(0).cast("long")
    )
    idf = F.coalesce(
        F.max(F.when(F.col("term") == term, F.col("idf"))), F.lit(0.0)
    )
    # dl/avgdl are constant per doc_id group — MAX picks the value while
    # keeping the expression legal under groupBy (mirrors the oracle SQL).
    denom = tf + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.max("dl") / F.max("avgdl")
    )
    return idf * tf * (BM25_K1 + 1.0) / denom


#: BM25 CTE chain through the per-document `scored` relation — shared
#: verbatim by the text_bm25_search oracle and the hybrid-RRF fusion
#: oracle below (one definition, two consumers, byte-identical math).
_BM25_SCORED_SQL = f"""
    tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents
    ),
    stats AS (
      SELECT AVG(dl) AS avgdl, COUNT(*) AS n_docs FROM dl
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM tok WHERE term IN ({_TERMS_SQL})
      GROUP BY 1, 2
    ),
    idf AS (
      SELECT term,
             ln(1 + (s.n_docs - COUNT(DISTINCT doc_id) + 0.5)
                    / (COUNT(DISTINCT doc_id) + 0.5)) AS idf
      FROM tf CROSS JOIN stats s
      GROUP BY term, s.n_docs
    ),
    joined AS (
      SELECT tf.doc_id, tf.term, tf.tf, idf.idf, dl.dl, s.avgdl
      FROM tf JOIN idf USING (term)
              JOIN dl USING (doc_id)
              CROSS JOIN stats s
    ),
    scored AS (
      SELECT doc_id,
             {" + ".join(
                 f'''coalesce(MAX(CASE WHEN term = '{t}' THEN idf END), 0)
                 * coalesce(SUM(CASE WHEN term = '{t}' THEN tf END), 0)
                 * {BM25_K1 + 1.0}
                 / (coalesce(SUM(CASE WHEN term = '{t}' THEN tf END), 0)
                    + {BM25_K1} * (1.0 - {BM25_B}
                                   + {BM25_B} * MAX(dl) / MAX(avgdl)))'''
                 for t in BM25_TERMS
             )} AS score
      FROM joined
      GROUP BY doc_id
    )
"""


@query(
    "text_bm25_search",
    oracle=f"""
    WITH {_BM25_SCORED_SQL}
    SELECT doc_id, ROUND(score, 4) AS bm25
    FROM scored
    ORDER BY ROUND(score, 4) DESC, doc_id
    LIMIT {BM25_TOP_K}
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{k}: rank documents for a fixed multi-term query.

    Plan shape (the inverted-index pattern): tokenize -> explode ->
    ``term IN (query_terms)`` (prunes postings at the generator — the
    explode of non-matching terms never reaches an exchange) -> per
    (doc, term) tf agg -> tiny per-term df/idf agg (|terms| rows,
    broadcast) -> join document lengths -> fixed-order score sum ->
    rounded-score top-k with doc_id tie-break.
    """
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    dl = docs.select("doc_id", F.size("toks").cast("long").alias("dl"))
    stats = dl.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n_docs")
    )
    tok = docs.select("doc_id", F.explode("toks").alias("term")).where(
        F.col("term").isin(*BM25_TERMS)
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    idf = (
        tf.crossJoin(F.broadcast(stats.select("n_docs")))
        .groupBy("term", "n_docs")
        .agg(F.countDistinct("doc_id").alias("df"))
        .select(
            "term",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("idf"),
        )
    )
    joined = (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats.select("avgdl")))
    )
    contribs = [_contrib(t) for t in BM25_TERMS]
    score = contribs[0]
    for c in contribs[1:]:  # fixed left-to-right addition order
        score = score + c
    scored = joined.groupBy("doc_id").agg(F.round(score, 4).alias("bm25"))
    return scored.orderBy(F.desc("bm25"), "doc_id").limit(BM25_TOP_K)


HEAVY_HITTERS_K = 50


@query(
    "agg_heavy_hitters",
    oracle=f"""
    SELECT term, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
    GROUP BY term
    ORDER BY cnt DESC, term
    LIMIT {HEAVY_HITTERS_K}
    """,
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy-hitters: the top-{k} most frequent tokens.

    The vocabulary-statistics primitive behind tokenizer training and
    stop-word lists. Scale: explode -> groupBy(term) gets Spark's
    map-side partial aggregation automatically (each task emits one
    partial count per distinct term it saw, so the exchange carries
    |vocab| x partitions rows, not |tokens|); the final top-k is a
    TakeOrdered over |vocab| rows. The approximate counterpart for
    heavy-tailed vocabularies is ``text_countmin_sketch``.
    """
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "term")
        .limit(HEAVY_HITTERS_K)
    )


#: Hybrid-retrieval fusion constants: per-arm shortlist size, the RRF
#: smoothing constant (60 — the value from the original paper), and the
#: fused result size.
RRF_ARM_K = 20
RRF_K = 60
RRF_TOP_K = 20


@query(
    "search_hybrid_rrf",
    oracle=f"""
    WITH {_BM25_SCORED_SQL},
    lex AS MATERIALIZED (
      SELECT doc_id,
             row_number() OVER (ORDER BY ROUND(score, 4) DESC, doc_id)
               AS lex_rank
      FROM scored
      ORDER BY ROUND(score, 4) DESC, doc_id LIMIT {RRF_ARM_K}
    ),
    iv AS MATERIALIZED (
      SELECT vec_id,
             [CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)
              for x in embedding] AS v
      FROM embeddings
    ),
    qv AS MATERIALIZED (SELECT v AS q FROM iv WHERE vec_id = 0),
    semd AS MATERIALIZED (
      SELECT a.vec_id AS doc_id,
             CAST(list_sum([(a.v[i] - qv.q[i]) * (a.v[i] - qv.q[i])
                            for i in range(1, 65)]) AS BIGINT) AS d2
      FROM iv a CROSS JOIN qv
    ),
    sem AS MATERIALIZED (
      SELECT doc_id,
             row_number() OVER (ORDER BY d2, doc_id) AS sem_rank
      FROM semd
      ORDER BY d2, doc_id LIMIT {RRF_ARM_K}
    ),
    fused AS (
      SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
             lex.lex_rank, sem.sem_rank,
             ROUND(
               COALESCE(1.0 / ({RRF_K} + lex.lex_rank), 0.0)
               + COALESCE(1.0 / ({RRF_K} + sem.sem_rank), 0.0), 6
             ) + 0.0 AS rrf
      FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
    )
    SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
             AS rank,
           doc_id,
           CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(sem_rank AS BIGINT) AS sem_rank,
           rrf
    FROM fused
    ORDER BY rrf DESC, doc_id LIMIT {RRF_TOP_K}
    """,
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (Cormack et al. 2009,
    public literature): fuse the BM25 lexical top-20 with the
    embedding-distance semantic top-20 (``RRF_ARM_K``) (integer-quantized L2
    to the fixed query vector — the corpus aligns doc_id == vec_id) by
    RRF score 1/(60 + rank_lex) + 1/(60 + rank_sem) — the standard
    production hybrid-search combiner, robust to the arms' incomparable
    score scales because it consumes only RANKS.

    Determinism: each arm ranks by (rounded score DESC | integer
    distance ASC, doc_id) — total orders; the fusion sum is TWO terms
    added in fixed order (coalesce(lex, 0) + coalesce(sem, 0)), so
    Spark and DuckDB perform identical IEEE additions; ROUND(6) + 0.0
    canonicalizes the output.  Docs appearing in only one arm
    contribute that arm's term alone (FULL OUTER join), exactly as RRF
    defines it.

    Scale: each arm is its own documented plan (the inverted-index BM25
    pass; a brute-force integer distance scan that swaps for the IVF-PQ
    or Matryoshka index at corpus scale — ``similarity_ivfpq_topk``,
    ``similarity_matryoshka_topk``); fusion itself touches only the two
    ``RRF_ARM_K``-row shortlists — a constant-size full-outer join and
    window regardless of corpus size."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    dl = docs.select("doc_id", F.size("toks").cast("long").alias("dl"))
    stats = dl.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n_docs")
    )
    tok = docs.select("doc_id", F.explode("toks").alias("term")).where(
        F.col("term").isin(*BM25_TERMS)
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    idf = (
        tf.crossJoin(F.broadcast(stats.select("n_docs")))
        .groupBy("term", "n_docs")
        .agg(F.countDistinct("doc_id").alias("df"))
        .select(
            "term",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("idf"),
        )
    )
    joined = (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats.select("avgdl")))
    )
    contribs = [_contrib(t) for t in BM25_TERMS]
    score = contribs[0]
    for c in contribs[1:]:  # fixed left-to-right addition order
        score = score + c
    scored = joined.groupBy("doc_id").agg(F.round(score, 4).alias("bm25"))
    from pyspark.sql import Window

    w_lex = Window.orderBy(F.desc("bm25"), "doc_id")
    lex = (
        scored.orderBy(F.desc("bm25"), "doc_id")
        .limit(RRF_ARM_K)
        .select("doc_id", F.row_number().over(w_lex).alias("lex_rank"))
    )

    iv = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> "
            "cast(floor(cast(x as double) * 1024) as bigint))"
        ).alias("v"),
    )
    q = iv.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    semd = iv.crossJoin(F.broadcast(q)).select(
        F.col("vec_id").alias("doc_id"),
        F.expr(
            "aggregate(zip_with(v, qv, (x, y) -> (x - y) * (x - y)), "
            "0L, (acc, e) -> acc + e)"
        ).alias("d2"),
    )
    w_sem = Window.orderBy("d2", "doc_id")
    sem = (
        semd.orderBy("d2", "doc_id")
        .limit(RRF_ARM_K)
        .select("doc_id", F.row_number().over(w_sem).alias("sem_rank"))
    )

    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        (
            F.round(
                F.coalesce(
                    1.0 / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0)
                )
                + F.coalesce(
                    1.0 / (F.lit(RRF_K) + F.col("sem_rank")), F.lit(0.0)
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("rrf"),
    )
    w_out = Window.orderBy(F.desc("rrf"), "doc_id")
    return (
        fused.select(
            F.row_number().over(w_out).cast("long").alias("rank"),
            "doc_id",
            F.col("lex_rank").cast("long").alias("lex_rank"),
            F.col("sem_rank").cast("long").alias("sem_rank"),
            "rrf",
        )
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(RRF_TOP_K)
    )


#: MMR re-rank constants: candidate shortlist size, picks returned.
MMR_SHORTLIST = 20
MMR_SELECT = 5


def _mmr_oracle() -> str:
    """Unrolled greedy MMR: pick 1 is pure relevance; each later pick
    maximizes ``novelty − d2`` where novelty is the minimum pairwise
    distance to the already-selected set — all integers, so argmax
    ties resolve on doc_id identically in both engines."""
    steps = [
        f"""pick1 AS MATERIALIZED (
      SELECT doc_id, d2, CAST(NULL AS BIGINT) AS mmr
      FROM short ORDER BY d2, doc_id LIMIT 1
    ),
    sel1 AS MATERIALIZED (SELECT doc_id FROM pick1)"""
    ]
    for i in range(2, MMR_SELECT + 1):
        steps.append(
            f"""pick{i} AS MATERIALIZED (
      SELECT c.doc_id, c.d2, MIN(p.pd) - c.d2 AS mmr
      FROM short c
      JOIN pd p ON p.a = c.doc_id
                AND p.b IN (SELECT doc_id FROM sel{i - 1})
      WHERE c.doc_id NOT IN (SELECT doc_id FROM sel{i - 1})
      GROUP BY c.doc_id, c.d2
      ORDER BY mmr DESC, c.doc_id LIMIT 1
    ),
    sel{i} AS MATERIALIZED (
      SELECT doc_id FROM sel{i - 1} UNION SELECT doc_id FROM pick{i}
    )"""
        )
    chain = ",\n    ".join(steps)
    unions = "\n    UNION ALL ".join(
        f"SELECT {i} AS step, doc_id, d2, mmr FROM pick{i}"
        for i in range(1, MMR_SELECT + 1)
    )
    return f"""
    WITH iv AS MATERIALIZED (
      SELECT vec_id,
             [CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)
              for x in embedding] AS v
      FROM embeddings
    ),
    qv AS MATERIALIZED (SELECT v AS q FROM iv WHERE vec_id = 0),
    short AS MATERIALIZED (
      SELECT a.vec_id AS doc_id, a.v,
             CAST(list_sum([(a.v[i] - qv.q[i]) * (a.v[i] - qv.q[i])
                            for i in range(1, 65)]) AS BIGINT) AS d2
      FROM iv a CROSS JOIN qv
      WHERE a.vec_id != 0
      ORDER BY d2, a.vec_id LIMIT {MMR_SHORTLIST}
    ),
    pd AS MATERIALIZED (
      SELECT x.doc_id AS a, y.doc_id AS b,
             CAST(list_sum([(x.v[i] - y.v[i]) * (x.v[i] - y.v[i])
                            for i in range(1, 65)]) AS BIGINT) AS pd
      FROM short x JOIN short y ON x.doc_id != y.doc_id
    ),
    {chain}
    SELECT CAST(step AS BIGINT) AS step, doc_id, d2, mmr
    FROM ({unions}) ORDER BY step
    """


@query("search_mmr_rerank", oracle=_mmr_oracle())
def search_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified re-rank (Carbonell &
    Goldstein 1998, public literature) of the semantic shortlist: the
    RAG retrieval step that stops a context window filling with five
    near-copies of the same passage.  Pick 1 is the most relevant
    (smallest integer L2 to the query); each later pick maximizes
    ``novelty − relevance_cost`` = min-distance-to-selected − d2 (the
    distance form of MMR at lambda = 1/2, scale-consistent because
    both terms are the SAME integer metric).

    All-integer determinism: quantized ``floor(x*1024)`` vectors (the
    ``ivfpq2`` convention) make relevance, pairwise distance, and the
    greedy argmax exact integer arithmetic with doc_id tie-breaks —
    the oracle unrolls the selection loop step for step.

    Scale: relevance is the documented brute-force arm (swaps for the
    IVF-PQ / Matryoshka index); everything after touches only the
    ``MMR_SHORTLIST``-row shortlist — the k x k pairwise matrix and
    ``MMR_SELECT`` constant-size join rounds are O(k²) on ~constant
    k, independent of corpus size."""
    from concurrent_etl_go_spark.operators.registry import scoped_persist

    iv = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> "
            "cast(floor(cast(x as double) * 1024) as bigint))"
        ).alias("v"),
    )
    q = iv.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    d2 = F.expr(
        "aggregate(zip_with(v, qv, (x, y) -> (x - y) * (x - y)), "
        "0L, (acc, e) -> acc + e)"
    )
    # the query vector itself (vec_id 0) is excluded: self-retrieval
    # would pin d2 = 0 AND make every candidate's min-pairwise-distance
    # collapse to its own d2 (pd(c, query) == d2(c)), flattening the
    # novelty term to a constant 0
    short = scoped_persist(
        iv.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(F.col("vec_id").alias("doc_id"), "v", d2.alias("d2"))
        .orderBy("d2", "doc_id")
        .limit(MMR_SHORTLIST)
    )
    x = short.select(F.col("doc_id").alias("a"), F.col("v").alias("va"))
    y = short.select(F.col("doc_id").alias("b"), F.col("v").alias("vb"))
    pdist = F.expr(
        "aggregate(zip_with(va, vb, (x, y) -> (x - y) * (x - y)), "
        "0L, (acc, e) -> acc + e)"
    )
    pd = scoped_persist(
        x.join(y, F.col("a") != F.col("b")).select(
            "a", "b", pdist.alias("pd")
        )
    )
    # One checkpoint per pick: each greedy round otherwise re-embeds
    # every prior round's plan through the growing `selected` union — a
    # 2^k lineage blowup the audit showed as hundreds of phantom join
    # nodes.  The picks are one-row frames, so materializing them is
    # free; every pick stays until release (the output unions them all).
    pick = checkpoint_round(
        short.orderBy("d2", "doc_id")
        .limit(1)
        .select(
            F.lit(1).cast("long").alias("step"),
            "doc_id",
            "d2",
            F.lit(None).cast("long").alias("mmr"),
        )
    )
    picks = [pick]
    selected = pick.select("doc_id")
    for i in range(2, MMR_SELECT + 1):
        cand = short.join(selected, "doc_id", "left_anti").select(
            "doc_id", "d2"
        )
        scored = (
            cand.join(pd, F.col("doc_id") == F.col("a"))
            .join(
                selected.select(F.col("doc_id").alias("sid")),
                F.col("b") == F.col("sid"),
            )
            .groupBy("doc_id", "d2")
            .agg(F.min("pd").alias("novelty"))
            .select(
                "doc_id",
                "d2",
                (F.col("novelty") - F.col("d2")).alias("mmr"),
            )
        )
        nxt = checkpoint_round(
            scored.orderBy(F.desc("mmr"), "doc_id")
            .limit(1)
            .select(
                F.lit(i).cast("long").alias("step"),
                "doc_id",
                "d2",
                F.col("mmr").cast("long").alias("mmr"),
            )
        )
        picks.append(nxt)
        selected = selected.unionByName(nxt.select("doc_id"))
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.orderBy("step")
