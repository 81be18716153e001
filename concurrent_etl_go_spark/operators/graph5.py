"""Graph kernels, part 5: resource-allocation link prediction, edge
embeddedness / local bridges, and Katz centrality over the co-purchase
graph (Zhou, Lu & Zhang 2009; Granovetter 1973 via Easley-Kleinberg;
Katz 1953 — all public literature), extending the graph family in
``operators/graph2-4.py`` on the same capped co-purchase edge list.

Exactness: every score is an exact integer — resource allocation sums
per-middle-node ``1e6 // deg`` micro-units (term-wise floor, identical
on both engines), embeddedness is a pure common-neighbor count, and
Katz runs a FIXED-ROUND integer-scaled recurrence
(``x' = 1e6 + sum(neighbor x) // 20``, alpha = 1/20 exact) whose
per-round floor both engines execute identically — the hash-proven
``graph_pagerank_copurchase`` convention, with no float anywhere.

Scale: all three ride the ``_GROUP_CAP``-bounded edge list; the wedge
joins fan out by Sum(deg^2) exactly like triangles/common-neighbors;
Katz shuffles (node, value) pairs per round — linear per round,
O(rounds) total.  Reference parity: no graph surface exists in the
reference (etl/main.go); extends SURVEY.md §2.B.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from concurrent_etl_go_spark.operators.graph import symmetric
from concurrent_etl_go_spark.operators.graph2 import (
    _EDGE_SQL,
    _copurchase_edges,
)
from concurrent_etl_go_spark.operators.registry import (
    checkpoint_round,
    query,
)

#: Katz constants: attenuation 1/20 (well under 1/lambda_max for the
#: capped co-purchase graph) and 3 rounds, matching the oracle unroll.
_KATZ_ROUNDS = 3
_KATZ_DIV = 20


@query(
    "graph_resource_allocation",
    oracle=f"""
    WITH {_EDGE_SQL},
    sym AS MATERIALIZED (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ),
    deg AS MATERIALIZED (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM sym GROUP BY 1
    ),
    ra AS (
      SELECT s1.dst AS a, s2.dst AS b,
             CAST(SUM(1000000 // d.degree) AS BIGINT) AS ra_e6,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sym s1
      JOIN sym s2 ON s1.src = s2.src AND s1.dst < s2.dst
      JOIN deg d ON d.node = s1.src
      GROUP BY 1, 2
    ),
    nonadj AS (
      SELECT ra.a, ra.b, ra.ra_e6, ra.n_common
      FROM ra LEFT JOIN edges e ON e.src = ra.a AND e.dst = ra.b
      WHERE e.src IS NULL
    )
    SELECT a, b, n_common, ra_e6 FROM nonadj
    ORDER BY ra_e6 DESC, a, b LIMIT 20
    """,
)
def graph_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link prediction: for non-adjacent customer
    pairs, sum ``1/deg(z)`` over common neighbors z — the RA index
    (Zhou-Lu-Zhang), which down-weights hub-mediated wedges harder
    than Adamic-Adar and needs no logarithm: each term is the exact
    integer ``1e6 // deg(z)`` (term-wise floor, identical on both
    engines), so the ranking can never flip on float representation.

    Scale: the same Sum(deg^2)-bounded wedge join as
    ``graph_common_neighbors`` with the middle node's degree joined in
    (node-keyed broadcast-sized table); top-20 via TakeOrdered."""
    e = _copurchase_edges(spark, sf_dir)
    sym = symmetric(e)
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    s1, s2 = sym.alias("s1"), sym.alias("s2")
    ra = (
        s1.join(
            s2,
            (F.col("s1.src") == F.col("s2.src"))
            & (F.col("s1.dst") < F.col("s2.dst")),
        )
        .join(F.broadcast(deg), F.col("s1.src") == F.col("node"))
        .select(
            F.col("s1.dst").alias("a"),
            F.col("s2.dst").alias("b"),
            F.expr("1000000 div degree").alias("term"),
        )
        .groupBy("a", "b")
        .agg(
            F.sum("term").cast("long").alias("ra_e6"),
            F.count(F.lit(1)).cast("long").alias("n_common"),
        )
    )
    nonadj = ra.join(
        e,
        (ra["a"] == e["src"]) & (ra["b"] == e["dst"]),
        "left_anti",
    )
    return nonadj.select("a", "b", "n_common", "ra_e6").orderBy(
        F.desc("ra_e6"), "a", "b"
    ).limit(20)


@query(
    "graph_edge_embeddedness",
    oracle=f"""
    WITH {_EDGE_SQL},
    sym AS MATERIALIZED (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ),
    cn AS MATERIALIZED (
      SELECT s1.dst AS a, s2.dst AS b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sym s1 JOIN sym s2 ON s1.src = s2.src AND s1.dst < s2.dst
      GROUP BY 1, 2
    ),
    emb AS (
      SELECT e.src, e.dst, COALESCE(cn.n_common, 0) AS embeddedness
      FROM edges e LEFT JOIN cn ON cn.a = e.src AND cn.b = e.dst
    )
    SELECT embeddedness, CAST(COUNT(*) AS BIGINT) AS n_edges
    FROM emb GROUP BY 1
    """,
)
def graph_edge_embeddedness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge embeddedness distribution: for every co-purchase EDGE, the
    number of common neighbors of its endpoints (the triangles through
    the edge), histogrammed — the Granovetter strength-of-ties
    diagnostic.  The ``embeddedness = 0`` row counts the LOCAL BRIDGES
    (edges whose endpoints share no neighbor — the weak ties that
    carry novel information across communities).

    Scale: one wedge join (Sum(deg^2), _GROUP_CAP-bounded) + one left
    join back to the edge list + a bounded-key histogram agg."""
    e = _copurchase_edges(spark, sf_dir)
    sym = symmetric(e)
    s1, s2 = sym.alias("s1"), sym.alias("s2")
    cn = (
        s1.join(
            s2,
            (F.col("s1.src") == F.col("s2.src"))
            & (F.col("s1.dst") < F.col("s2.dst")),
        )
        .select(F.col("s1.dst").alias("a"), F.col("s2.dst").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    emb = e.join(
        cn, (e["src"] == cn["a"]) & (e["dst"] == cn["b"]), "left"
    ).select(F.coalesce("n_common", F.lit(0)).alias("embeddedness"))
    return emb.groupBy("embeddedness").agg(
        F.count(F.lit(1)).cast("long").alias("n_edges")
    )


def _katz_oracle() -> str:
    """Unrolled fixed-round integer Katz (the pagerank_copurchase
    convention: iteration k reads only x{k-1}, MATERIALIZED so DuckDB
    cannot inline the chain exponentially)."""
    steps = [
        "x0 AS MATERIALIZED ("
        "SELECT node AS id, CAST(1000000 AS BIGINT) AS katz FROM nodes)"
    ]
    for k in range(1, _KATZ_ROUNDS + 1):
        steps.append(
            f"""x{k} AS MATERIALIZED (
        SELECT n.node AS id,
               CAST(1000000 + COALESCE(SUM(x.katz), 0) // {_KATZ_DIV}
                    AS BIGINT) AS katz
        FROM nodes n
        LEFT JOIN sym s ON s.dst = n.node
        LEFT JOIN x{k - 1} x ON x.id = s.src
        GROUP BY n.node
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH {_EDGE_SQL},
    sym AS MATERIALIZED (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym),
    {chain}
    SELECT id, katz AS katz_e6 FROM x{_KATZ_ROUNDS}
    ORDER BY katz DESC, id LIMIT 20
    """


@query("graph_katz_centrality", oracle=_katz_oracle())
def graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (fixed 3 rounds, attenuation 1/20) on the
    co-purchase graph, all-integer: micro-unit scores fold as
    ``x' = 1e6 + sum(neighbor x) // 20`` — each truncated walk of
    length L contributes ~alpha^L — and both engines execute the
    identical per-round floor, so the driver hash is bit-exact (the
    HITS/PageRank-copurchase convention).  Top-20 hubs emitted.

    Scale: per round, one (node, value) equi-join + node-keyed hash
    agg — linear in edges per round, O(rounds) total.  Integer
    envelope: scores grow ~(deg_max/20)^rounds; with the capped
    neighborhood degrees (<= ~1e3 observed) three rounds stay far
    inside int64 — beyond that, widen the sum to DECIMAL(38,0) before
    the floor, same algebra."""
    e = _copurchase_edges(spark, sf_dir)
    sym = symmetric(e)
    nodes = sym.select(F.col("src").alias("id")).distinct()
    x = nodes.select("id", F.lit(1_000_000).cast("long").alias("katz"))
    for k in range(_KATZ_ROUNDS):
        inflow = (
            sym.join(x, sym["src"] == x["id"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("katz").alias("s"))
        )
        x = checkpoint_round(
            nodes.join(inflow, "id", "left").select(
                "id",
                F.expr(
                    f"CAST(1000000 + COALESCE(s, 0) div {_KATZ_DIV}"
                    f" AS BIGINT)"
                ).alias("katz"),
            ),
            x if k else None,
        )
    return x.select("id", F.col("katz").alias("katz_e6")).orderBy(
        F.desc("katz_e6"), "id"
    ).limit(20)
