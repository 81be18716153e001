"""Graph pack 6: community-quality measurement — Newman-Girvan
modularity of the label-propagation communities (Newman & Girvan 2004,
public literature), chained onto the hash-proven LPA kernel.

Detecting communities without scoring them is half a feature: the
modularity table answers "are these communities better than random?"
per community and in aggregate.  The statistic is kept EXACTLY integer
by clearing denominators: with ``m2 = |sym|`` (= 2x undirected edge
count), ``in2_c`` the symmetrized internal-edge count of community c,
and ``dsum_c`` its degree sum,

    Q * m2^2 = sum_c (in2_c * m2 - dsum_c^2)

so each community's contribution ``q_num = in2_c * m2 - dsum_c^2`` and
the shared denominator ``m2`` are exact int64s (the
``graph_transitivity`` cleared-denominator convention); Q itself is
``sum(q_num) / m2^2`` downstream if a float display is wanted.

This is the second chained two-kernel oracle (after
``embeddings_remove_top_component``): the unrolled LPA chain feeds the
per-community edge/degree aggregation inside ONE oracle.

Scale: labels are one broadcastable (id, lbl) table; the internal-edge
count is the edge list joined to it twice (edge-keyed, narrow); degree
sums are one hash agg.  Reference parity: no graph surface in the
reference (etl/main.go); extends SURVEY.md §2.B's graph family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from concurrent_etl_go_spark.operators.graph import (
    label_propagation,
    symmetric,
)
from concurrent_etl_go_spark.operators.graph2 import (
    _LPA_ROUNDS,
    _copurchase_edges,
    _lpa_chain_sql,
)
from concurrent_etl_go_spark.operators.registry import query, scoped_persist


@query(
    "graph_modularity_labels",
    oracle=f"""
    WITH {_lpa_chain_sql()},
    lab AS MATERIALIZED (SELECT id, lbl FROM l{_LPA_ROUNDS}),
    m AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM sym),
    innr AS MATERIALIZED (
      SELECT la.lbl, CAST(COUNT(*) AS BIGINT) AS in2
      FROM sym s
      JOIN lab la ON la.id = s.src
      JOIN lab lb ON lb.id = s.dst AND lb.lbl = la.lbl
      GROUP BY la.lbl
    ),
    deg AS MATERIALIZED (
      SELECT la.lbl, CAST(COUNT(*) AS BIGINT) AS dsum
      FROM sym s JOIN lab la ON la.id = s.src
      GROUP BY la.lbl
    ),
    nn AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS n_nodes
           FROM lab GROUP BY lbl)
    SELECT n.lbl AS label,
           n.n_nodes,
           CAST(COALESCE(i.in2, 0) // 2 AS BIGINT) AS internal_edges,
           d.dsum AS degree_sum,
           CAST(COALESCE(i.in2, 0) * m.m2 - d.dsum * d.dsum AS BIGINT)
             AS q_num,
           m.m2 AS m2
    FROM nn n
    JOIN deg d ON d.lbl = n.lbl
    LEFT JOIN innr i ON i.lbl = n.lbl
    CROSS JOIN m
    """,
)
def graph_modularity_labels(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-community modularity table for the LPA communities: node
    count, internal edge count, degree sum, the cleared-denominator
    contribution ``q_num = in2 * m2 - dsum^2``, and the shared ``m2``
    — Q = sum(q_num)/m2² (see module note).  A community with
    ``q_num <= 0`` is no better than a random cut of the same degree
    mass; the table names exactly which detected communities carry the
    structure.

    Scale: LPA's per-round edge shuffles dominate; everything here is
    one labels join per edge side + label-keyed hash aggs."""
    e = _copurchase_edges(spark, sf_dir)
    sym = scoped_persist(symmetric(e))
    lab = scoped_persist(
        label_propagation(e.select("src", "dst"), _LPA_ROUNDS)
    )
    la = lab.select(F.col("id").alias("src"), F.col("label").alias("lbl_a"))
    lb = lab.select(F.col("id").alias("dst"), F.col("label").alias("lbl_b"))
    m2_df = sym.agg(F.count(F.lit(1)).cast("long").alias("m2"))
    # one labels-join pass computes BOTH per-community statistics
    # (round 16): dsum counts every incident edge end, in2 counts the
    # ones whose far end shares the label — previously two separate
    # sym-join passes and a left join re-merged them (every node is
    # labeled, so the inner lb join drops nothing and a community with
    # no internal edges gets in2 = 0, exactly what COALESCE(in2, 0)
    # yielded before)
    stats = (
        sym.join(la, "src")
        .join(lb, "dst")
        .groupBy(F.col("lbl_a").alias("lbl"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("dsum"),
            F.sum(
                F.when(F.col("lbl_a") == F.col("lbl_b"), 1).otherwise(0)
            )
            .cast("long")
            .alias("in2"),
        )
    )
    nn = lab.groupBy(F.col("label").alias("lbl")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    return (
        nn.join(stats, "lbl")
        .crossJoin(F.broadcast(m2_df))
        .select(
            F.col("lbl").alias("label"),
            "n_nodes",
            F.expr(
                "CAST(COALESCE(in2, 0) div 2 AS BIGINT)"
            ).alias("internal_edges"),
            F.col("dsum").alias("degree_sum"),
            F.expr(
                "CAST(COALESCE(in2, 0) * m2 - dsum * dsum AS BIGINT)"
            ).alias("q_num"),
            "m2",
        )
    )
