"""Iterative graph kernels over an UNDIRECTED edge list ``(src, dst)``.

The shared loop bodies behind the graph queries: damped PageRank,
bounded-hop BFS, k-core peeling, synchronous label propagation and
weighted SSSP (connected components lives in ``llm/dedup.py``), plus
``symmetric``, the one edge symmetrization every graph module uses.
Each round is one join + one aggregation keyed by node, checkpointed
per the loop contract in ``registry.checkpoint_round`` — except the
k-core peel, whose fixed rounds are one windowed filter each and stay
lazy; only scalar convergence telemetry crosses the driver.

Reference parity: generalizes the reference's iterate-until-drained
worker loop (etl/main.go:240-262) to data-dependent fixpoint iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from concurrent_etl_go_spark.operators.registry import (
    checkpoint_count,
    checkpoint_round,
    query,
    track_cache,
)
from concurrent_etl_go_spark.sources.readers import read_table


def symmetric(edges: DataFrame) -> DataFrame:
    """``edges`` ``(src, dst, *rest)`` unioned by name with its reverse
    ``(dst, src, *rest)`` — both directions of every undirected edge,
    extra columns (e.g. SSSP's ``len``) carried on each."""
    rest = [c for c in edges.columns if c not in ("src", "dst")]
    return edges.unionByName(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), *rest
        )
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 8,
) -> DataFrame:
    """Damped PageRank on an UNDIRECTED edge list ``(src, dst)``.

    Undirected graphs have no dangling nodes (every node's rank flows
    somewhere), so the rank mass is conserved at exactly ``n`` — the
    invariant the tests assert. Each round shuffles only (node, rank)
    pairs keyed by node; degrees are computed once. Scale: identical
    join/agg shape to connected components — linear per round, O(rounds)
    total, no driver materialization.
    """
    sym = symmetric(edges)
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).persist()
    track_cache(deg)

    ranks = deg.select(F.col("src").alias("id"), F.lit(1.0).alias("rank"))
    for k in range(iterations):
        contrib = (
            sym.join(deg, "src")
            .join(ranks, sym["src"] == ranks["id"])
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = checkpoint_round(
            contrib.select(
                "id",
                (F.lit(1.0 - damping) + F.lit(damping) * F.col("inflow"))
                .alias("rank"),
            ),
            ranks if k else None,
        )
    # rounded for display; rank mass (pre-round) sums to n_nodes
    return ranks.select("id", F.round("rank", 4).alias("rank"))


@query("graph_pagerank")  # iterative algorithm — rows-only check
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the MinHash-LSH near-dup graph: which
    documents sit in the middle of large duplicate clusters — a ranking
    signal a curation pipeline can use to pick cluster survivors by
    connectivity instead of min-id."""
    from concurrent_etl_go_spark.llm.dedup import minhash_lsh_pairs

    docs = read_table(spark, sf_dir, "documents")
    edges = minhash_lsh_pairs(docs, threshold=0.5).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    return pagerank(edges)


def bfs_hops(edges: DataFrame, source: int, max_hops: int = 6) -> DataFrame:
    """Bounded-hop BFS from ``source`` over an UNDIRECTED edge list
    ``(src, dst)`` — ``(id, dist)`` for every node within ``max_hops``.

    Frontier-propagation form: each round expands only the nodes first
    reached LAST round (one equi-join keyed by node + one anti-join
    against the settled set), so a node enters the result exactly once,
    with its minimal hop count — the textbook distributed BFS.  Per
    round the shuffle is O(frontier x avg-degree), not O(nodes): on a
    100 TB graph the early rounds move tiny frontiers and the loop never
    re-touches settled nodes, unlike a min-fold over the full distance
    table.  The loop stops early when a round adds nothing, so
    ``max_hops`` is a ceiling, not a fixed cost.
    """
    sym = symmetric(edges)
    spark = edges.sparkSession
    dist = spark.createDataFrame([(source, 0)], "id long, dist long")
    frontier = dist
    for k in range(1, max_hops + 1):
        # one job per round: the frontier count IS the emptiness probe
        # and materializes the checkpoint in the same action (the eager
        # checkpoint + isEmpty pair paid the per-job floor twice).
        # Round-16 A/B notes (quiet host, sf0.1, min-of-3): broadcast
        # hints on frontier/dist measured WORSE (AQE materializes each
        # broadcast as its own stage-job: 4.0 s vs 3.06 s for the six
        # rounds), 2-hop batching per checkpoint measured ~2x a single
        # round (no stage savings) — the AQE shuffled round shape is the
        # floor; its ~0.45 s/round orchestration constant amortizes at
        # data scale.
        newf, n_new = checkpoint_count(
            frontier.join(sym, frontier["id"] == sym["src"])
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(dist, "id", "left_anti")
            .select("id", F.lit(k).cast("long").alias("dist"))
        )
        if n_new == 0:
            break
        dist = dist.unionByName(newf)
        frontier = newf
    return dist


def kcore_peel(
    edges: DataFrame, min_degree: int = 2, rounds: int = 4
) -> DataFrame:
    """Fixed-round k-core peel over an UNDIRECTED edge list ``(src, dst)``
    — ``(id, degree)`` for nodes surviving ``rounds`` removals of
    degree-below-threshold nodes.

    Fixed rounds (not a fixpoint loop) so an unrolled SQL oracle can
    state the identical computation; when the peel converges within the
    budget the result IS the k-core (pytest-pinned).  Per round: one
    projection counts each edge's endpoint degrees with two windows
    (``count(*)`` over ``src`` and over ``dst`` — the edge list stays
    symmetric, so a node's ``dst`` count is its degree too), then a
    filter keeps edges whose endpoints both reach ``min_degree``.  Both
    counts read the same round's edges, so the rounds do not mix.  The
    loop stays lazy: the rounds run inside the caller's action instead
    of one eager checkpoint job each."""
    cur = symmetric(edges)
    for _ in range(rounds):
        cur = (
            cur.select(
                "src",
                "dst",
                F.count(F.lit(1)).over(Window.partitionBy("src")).alias("ds"),
                F.count(F.lit(1)).over(Window.partitionBy("dst")).alias("dd"),
            )
            .where((F.col("ds") >= min_degree) & (F.col("dd") >= min_degree))
            .select("src", "dst")
        )
    return cur.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Fixed-round synchronous label propagation over an UNDIRECTED edge
    list ``(src, dst)`` — ``(id, label)`` community assignments
    (Raghavan et al. 2007, public literature).

    Init: every node labels itself.  Each round, every node adopts the
    most frequent label among its NEIGHBORS (synchronous update from the
    previous round's table), tie-broken to the smallest label — the
    ``min_by`` over a ((-count), label) struct, the deterministic-argmin
    idiom of ``llm/ivfpq2.py``.  Fixed rounds (not a fixpoint) so an
    unrolled SQL oracle can state the identical computation; synchronous
    + deterministic tie-break makes the result order-independent, unlike
    the asynchronous variant in the original paper.

    Scale: per round, one shuffle of (neighbor, label) pairs keyed by
    node — O(edges) — then two hash-aggs ((id, lbl) counts, per-id
    argmax).
    """
    sym = symmetric(edges)
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
    )
    for k in range(rounds):
        cnt = (
            sym.join(labels, sym["src"] == labels["id"])
            .select(F.col("dst").alias("nid"), "lbl")
            .groupBy("nid", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = checkpoint_round(
            cnt.groupBy(F.col("nid").alias("id")).agg(
                F.min_by(
                    "lbl", F.struct((-F.col("c")).alias("nc"), F.col("lbl"))
                ).alias("lbl")
            ),
            labels if k else None,
        )
    return labels.select("id", F.col("lbl").alias("label"))


def sssp_weighted(
    edges: DataFrame, source: int, rounds: int = 8
) -> DataFrame:
    """Bounded-round single-source shortest paths over an UNDIRECTED
    weighted edge list ``(src, dst, len)`` — ``(id, dist)`` with the
    minimal total length over paths of at most ``rounds`` edges, the
    min-plus (distributed Bellman-Ford) relaxation.

    Delta-relaxation form: each round relaxes only out-edges of nodes
    whose distance IMPROVED last round, so per-round shuffle is
    O(frontier x degree), not O(edges) — the BFS frontier argument
    extended to weighted lengths, where a settled node can re-enter the
    frontier when a cheaper multi-hop path arrives (that re-entry is
    exactly what the improved-only join admits, and why the merge is a
    min-fold over (old dist, candidate) rather than BFS's anti-join).
    After round k the table equals the min over <= k-edge paths on any
    engine, which is what the unrolled SQL oracle states; early exit
    when nothing improves makes ``rounds`` a ceiling, not a fixed cost.
    """
    sym = symmetric(edges)
    spark = edges.sparkSession
    dist = spark.createDataFrame([(source, 0)], "id long, dist long")
    frontier = dist
    for _ in range(rounds):
        cand = (
            frontier.join(sym, frontier["id"] == sym["src"])
            .select(
                F.col("dst").alias("id"),
                (frontier["dist"] + F.col("len")).alias("nd"),
            )
            .groupBy("id")
            .agg(F.min("nd").alias("nd"))
        )
        # one job per round (was three): the improved-count probe
        # materializes the checkpoint, and the dist merge is marked
        # lazily — the NEXT round's probe (which joins dist) or the
        # caller's terminal action computes and persists it
        improved, n_improved = checkpoint_count(
            cand.join(dist, "id", "left")
            .where(F.col("dist").isNull() | (F.col("nd") < F.col("dist")))
            .select("id", F.col("nd").alias("dist"))
        )
        if n_improved == 0:
            break
        dist = (
            dist.unionByName(improved)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
        track_cache(dist)
        frontier = improved
    return dist
