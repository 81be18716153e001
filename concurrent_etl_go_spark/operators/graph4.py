"""Graph kernels 12-13: degree assortativity and bounded two-hop reach
over the co-purchase graph (shared edge machinery in
``operators/graph2.py``).

* ``graph_assortativity`` — Newman's degree assortativity coefficient
  (Newman 2002, public literature): the Pearson correlation of the
  degrees at either end of every edge.  Positive = hubs link to hubs
  (social shape), negative = hubs link to leaves (technological shape)
  — the one-number structural summary the centrality kernels don't
  give.
* ``graph_two_hop_reach`` — per node, the distinct number of nodes
  within two hops ("friends of friends"): the local influence-radius
  metric between degree (1 hop) and closeness (all hops).

Exactness: every moment is an INTEGER sum over integer degrees; the
Pearson numerator/denominators are computed exactly in 128-bit integers
(DECIMAL(38,0)/HUGEINT) and each converts to DOUBLE individually while
still inside the int64 range (hardware-correct on both engines — the
``window_bollinger`` conversion rule), feeding ONE shared final
expression, ROUND(4) + 0.0.  Two-hop reach is pure integer.

Scale: both kernels ride the capped co-purchase edge list — degree is
one hash agg, the degree-pair join is two narrow equi-joins, and the
two-hop expansion is bounded by cap·degree per node, a distinct-agg on
(node, neighbor).  Reference parity: no graph surface exists in the
reference (etl/main.go); extends SURVEY.md §2.B's graph family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from concurrent_etl_go_spark.operators.graph import symmetric
from concurrent_etl_go_spark.operators.graph2 import (
    _EDGE_SQL,
    _copurchase_edges,
)
from concurrent_etl_go_spark.operators.registry import query, scoped_persist

#: Shared final expression over the exactly-computed integer columns
#: (num / d1 / d2, each already < 2^63 and cast to DOUBLE identically).
_ASSORT_R = (
    "CASE WHEN d1 = 0 OR d2 = 0 THEN 0.0 ELSE "
    "ROUND(CAST(num AS DOUBLE)"
    " / sqrt(CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE)), 4) + 0.0 END"
)


def _assort_sql(big: str) -> str:
    return f"""
    WITH {_EDGE_SQL},
    sym AS MATERIALIZED (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ),
    deg AS MATERIALIZED (
      SELECT src AS id, COUNT(*) AS degree FROM sym GROUP BY 1
    ),
    pairs AS MATERIALIZED (
      SELECT dx.degree AS a, dy.degree AS b
      FROM sym s
      JOIN deg dx ON dx.id = s.src
      JOIN deg dy ON dy.id = s.dst
    ),
    moments AS (
      SELECT COUNT(*) AS m, SUM(a) AS sx, SUM(b) AS sy,
             SUM(a * a) AS sxx, SUM(b * b) AS syy, SUM(a * b) AS sxy
      FROM pairs
    ),
    calc AS (
      SELECT m, sx,
             CAST(CAST(m AS {big}) * sxy
                  - CAST(sx AS {big}) * sy AS BIGINT) AS num,
             CAST(CAST(m AS {big}) * sxx
                  - CAST(sx AS {big}) * sx AS BIGINT) AS d1,
             CAST(CAST(m AS {big}) * syy
                  - CAST(sy AS {big}) * sy AS BIGINT) AS d2
      FROM moments
    )
    SELECT CAST(m AS BIGINT) AS n_edge_ends,
           CAST(sx AS BIGINT) AS degree_total,
           num, d1,
           {_ASSORT_R} AS assortativity
    FROM calc
    """


@query("graph_assortativity", oracle=_assort_sql("HUGEINT"))
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: Pearson r of the
    (deg(u), deg(v)) pairs over all symmetric edge ends.  The moment
    sums are integers, the covariance/variance numerators are exact
    128-bit differences cast to BIGINT (they fit: degree sums are
    ≤ cap-bounded), and the final r is one shared expression — so the
    only float op sequence is division + sqrt over identical doubles.
    Zero-variance graphs (regular graphs) pin r = 0.

    Scale: degree agg + two dimension joins onto the edge list + one
    6-accumulator global fold.  No window, no sort; driver traffic is
    one row."""
    edges = _copurchase_edges(spark, sf_dir)
    sym = symmetric(edges)
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    pairs = (
        sym.join(deg.select(F.col("id").alias("src"),
                            F.col("degree").alias("a")), "src")
        .join(deg.select(F.col("id").alias("dst"),
                         F.col("degree").alias("b")), "dst")
        .select("a", "b")
    )
    moments = pairs.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("a").alias("sx"),
        F.sum("b").alias("sy"),
        F.sum(F.col("a") * F.col("a")).alias("sxx"),
        F.sum(F.col("b") * F.col("b")).alias("syy"),
        F.sum(F.col("a") * F.col("b")).alias("sxy"),
    )
    big = "DECIMAL(38,0)"
    calc = moments.select(
        "m",
        "sx",
        F.expr(
            f"CAST(CAST(m AS {big}) * sxy"
            f" - CAST(sx AS {big}) * sy AS BIGINT)"
        ).alias("num"),
        F.expr(
            f"CAST(CAST(m AS {big}) * sxx"
            f" - CAST(sx AS {big}) * sx AS BIGINT)"
        ).alias("d1"),
        F.expr(
            f"CAST(CAST(m AS {big}) * syy"
            f" - CAST(sy AS {big}) * sy AS BIGINT)"
        ).alias("d2"),
    )
    return calc.select(
        F.col("m").cast("long").alias("n_edge_ends"),
        F.col("sx").cast("long").alias("degree_total"),
        "num",
        "d1",
        F.expr(_ASSORT_R).alias("assortativity"),
    )


_REACH_TOP = 25


@query(
    "graph_two_hop_reach",
    oracle=f"""
    WITH {_EDGE_SQL},
    sym AS MATERIALIZED (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ),
    two AS MATERIALIZED (
      SELECT a.src AS id, b.dst AS nb
      FROM sym a JOIN sym b ON b.src = a.dst
      WHERE b.dst != a.src
      UNION
      SELECT src AS id, dst AS nb FROM sym
    ),
    deg AS MATERIALIZED (
      SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS degree
      FROM sym GROUP BY 1
    )
    SELECT t.id, d.degree, CAST(COUNT(*) AS BIGINT) AS reach2
    FROM two t JOIN deg d ON d.id = t.id
    GROUP BY 1, 2
    ORDER BY reach2 DESC, t.id LIMIT {_REACH_TOP}
    """,
)
def graph_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop reach per node: the distinct count of nodes within at
    most two hops (self excluded) — "how many customers are a
    friend-of-a-friend away", the local influence radius between raw
    degree and the sampled closeness kernel.  Top ``_REACH_TOP`` nodes
    by (reach DESC, id); pure integers.

    Scale: one path join (fan-out bounded by cap x degree per node),
    UNION-dedup'd with the 1-hop list, then a (node, neighbor) distinct
    count — the ``graph_common_neighbors`` shuffle shape.  No global
    materialization of anything wider than the pair list."""
    edges = _copurchase_edges(spark, sf_dir)
    sym = symmetric(edges)
    a = sym.select(F.col("src").alias("id"), F.col("dst").alias("mid"))
    b = sym.select(F.col("src").alias("mid"), F.col("dst").alias("nb"))
    two = (
        a.join(b, "mid")
        .where(F.col("nb") != F.col("id"))
        .select("id", "nb")
        .union(sym.select(F.col("src").alias("id"), F.col("dst").alias("nb")))
        .distinct()
    )
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    reach = two.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("reach2")
    )
    return (
        reach.join(deg, "id")
        .select("id", "degree", "reach2")
        .orderBy(F.desc("reach2"), "id")
        .limit(_REACH_TOP)
    )


#: Global transitivity from exact int64 counts (3T <= W always, so the
#: ratio sits in [0, 1]); unrounded shared tree per the round-10 rules.
_TRANSITIVITY = (
    "CASE WHEN wedges = 0 THEN 0.0 ELSE"
    " (3.0 * CAST(triangles AS DOUBLE) / CAST(wedges AS DOUBLE))"
    " + 0.0 END"
)


@query(
    "graph_transitivity",
    oracle=f"""
    WITH {_EDGE_SQL},
    sym AS MATERIALIZED (
      SELECT src, dst FROM edges
      UNION ALL SELECT dst, src FROM edges
    ),
    deg AS MATERIALIZED (
      SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS d
      FROM sym GROUP BY 1
    ),
    tri AS (
      SELECT COUNT(*) AS t
      FROM edges e1
      JOIN edges e2 ON e2.src = e1.dst
      JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d) // 2 AS BIGINT) AS n_edges,
             CAST(SUM(d * (d - 1)) // 2 AS BIGINT) AS wedges
      FROM deg
    )
    SELECT n_nodes, n_edges, wedges,
           CAST(t AS BIGINT) AS triangles,
           CASE WHEN wedges = 0 THEN 0 ELSE
             CAST(3 * CAST(t AS HUGEINT) * 1000000 // wedges AS BIGINT)
             END AS transitivity_e6,
           {_TRANSITIVITY} AS transitivity
    FROM agg CROSS JOIN tri
    """,
)
def graph_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global transitivity (Newman/Watts-Strogatz, public literature)
    of the co-purchase graph: 3 * triangles / wedges, the one-number
    closure summary beside the per-node ``graph_clustering_coeff``.
    Triangles come from the same oriented three-way equi-join the
    triangle kernel uses (each triangle counted once); wedges are
    ``sum d*(d-1)/2`` over exact integer degrees.

    Scale: degree is one hash agg on the capped edge list; the
    triangle join's fan-out is bounded by the oriented degree; output
    is one row."""
    big = "DECIMAL(38,0)"
    e = _copurchase_edges(spark, sf_dir)
    sym = symmetric(e)
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.src") == F.col("e1.dst"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .agg(F.count(F.lit(1)).alias("t"))
    )
    agg = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.expr("CAST(SUM(d) div 2 AS BIGINT)").alias("n_edges"),
        F.expr("CAST(SUM(d * (d - 1)) div 2 AS BIGINT)").alias("wedges"),
    )
    return agg.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "wedges",
        F.col("t").cast("long").alias("triangles"),
        F.expr(
            f"CASE WHEN wedges = 0 THEN 0 ELSE"
            f" CAST(3 * CAST(t AS {big}) * 1000000 div wedges AS BIGINT)"
            f" END"
        ).alias("transitivity_e6"),
        F.expr(_TRANSITIVITY).alias("transitivity"),
    )


_RICH_KS = (2, 4, 8)


@query(
    "graph_rich_club",
    oracle=f"""
    WITH {_EDGE_SQL},
    sym AS MATERIALIZED (
      SELECT src, dst FROM edges
      UNION ALL SELECT dst, src FROM edges
    ),
    deg AS MATERIALIZED (
      SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS d
      FROM sym GROUP BY 1
    ),
    ks AS (SELECT UNNEST([{", ".join(str(k) for k in _RICH_KS)}]) AS k),
    club AS MATERIALIZED (
      SELECT k.k, CAST(COUNT(*) AS BIGINT) AS n_k
      FROM ks k JOIN deg ON deg.d >= k.k
      GROUP BY 1
    ),
    ek AS MATERIALIZED (
      SELECT k.k, CAST(COUNT(*) AS BIGINT) AS e_k
      FROM ks k
      JOIN edges e ON TRUE
      JOIN deg da ON da.id = e.src AND da.d >= k.k
      JOIN deg db ON db.id = e.dst AND db.d >= k.k
      GROUP BY 1
    )
    SELECT CAST(c.k AS BIGINT) AS k, c.n_k,
           CAST(COALESCE(e.e_k, 0) AS BIGINT) AS e_k,
           CASE WHEN c.n_k < 2 THEN 0 ELSE
             CAST(2 * CAST(COALESCE(e.e_k, 0) AS HUGEINT) * 1000000
                  // (CAST(c.n_k AS HUGEINT) * (c.n_k - 1)) AS BIGINT)
             END AS phi_e6
    FROM club c LEFT JOIN ek e ON e.k = c.k
    """,
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient of the co-purchase graph at degree
    thresholds {_RICH_KS} (Zhou & Mondragon 2004, public literature):
    among nodes with degree >= k, the realized fraction of possible
    edges, ``phi(k) = 2*E_k / (N_k*(N_k-1))`` in exact integer
    millionths.  A rising phi(k) means the hubs form a densely
    interconnected core — the structure that makes hub-keyed shuffles
    skew-prone (the group cap's reason to exist).

    Scale: degree is one hash agg on the capped edge list; E_k is two
    node-keyed semi-join filters per threshold; output |ks| rows."""
    big = "DECIMAL(38,0)"
    e = scoped_persist(_copurchase_edges(spark, sf_dir))
    sym = symmetric(e)
    deg = scoped_persist(
        sym.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).cast("long").alias("d")
        )
    )
    ks = spark.createDataFrame(
        [(k,) for k in _RICH_KS], "k INT"
    ).select(F.col("k").cast("long").alias("k"))
    club = (
        F.broadcast(ks)
        .join(deg, deg.d >= F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_k"))
    )
    da = deg.select(F.col("id").alias("src"), F.col("d").alias("d_a"))
    db = deg.select(F.col("id").alias("dst"), F.col("d").alias("d_b"))
    ek = (
        e.join(da, "src")
        .join(db, "dst")
        .crossJoin(F.broadcast(ks))
        .where((F.col("d_a") >= F.col("k")) & (F.col("d_b") >= F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("e_k"))
    )
    return (
        club.join(ek, "k", "left")
        .select(
            "k",
            "n_k",
            F.coalesce("e_k", F.lit(0)).cast("long").alias("e_k"),
            F.expr(
                f"CASE WHEN n_k < 2 THEN 0 ELSE"
                f" CAST(2 * CAST(COALESCE(e_k, 0) AS {big}) * 1000000"
                f" div (CAST(n_k AS {big}) * (n_k - 1)) AS BIGINT) END"
            ).alias("phi_e6"),
        )
    )
