"""Deterministic k-means over the embeddings table — the engine's iterative-
algorithm pattern.

Each iteration is one distributed pass (assign via argmin over k distance
expressions, recompute centroids via posexplode + per-(cluster, dim) avg);
only the k x dim centroid matrix crosses the driver boundary between
iterations (exactly how MLlib structures Lloyd's algorithm). Initialization
is deterministic (the k lowest vec_ids), so results are bit-stable across
runs — required for the driver's rows-only determinism check.

The centroid update is dimension-agnostic: ``posexplode`` derives positions
from the data instead of unrolling ``element_at(v, i)`` for a hardcoded
dim, so any embedding width works unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from concurrent_etl_go_spark.operators.registry import query, scoped_persist
from concurrent_etl_go_spark.sources.readers import read_table


def _sq_dist_sql(v_sql: str, centroid: list[float]) -> str:
    """Squared distance of column expression ``v_sql`` to a literal
    centroid, as a SQL string. String-built (one F.expr py4j call for the
    whole k-centroid array) because composing the same tree from
    F.lit/F.zip_with costs one py4j round-trip PER LITERAL — hundreds of
    milliseconds per iteration of pure driver latency for k x dim
    literals. repr + D-suffix literals parse to bit-identical doubles."""
    lits = ",".join(f"{x!r}D" for x in centroid)
    return (
        f"aggregate(zip_with({v_sql}, array({lits}), "
        "(a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x)"
    )


def _dists_expr(v_sql: str, centroids: list[list[float]]):
    return F.expr(
        "array(" + ",".join(_sq_dist_sql(v_sql, c) for c in centroids) + ")"
    )


class EmptyCorpusError(ValueError):
    """A k-means fit found no vectors to seed its centroids from."""


def kmeans_fit(
    vectors: DataFrame, k: int = 8, iterations: int = 5
) -> tuple[DataFrame, list[list[float]]]:
    """Lloyd's k-means returning (assignments, learned centroids).

    ``vectors`` needs (vec_id, v: array<double>); every other input column
    passes through to the assignment DataFrame (so callers can keep
    precomputed norms etc. without a re-join). Deterministic: init = the k
    smallest vec_ids; argmin ties break to the lowest cluster index.
    Raises ``EmptyCorpusError`` when no vector has an id below ``k``.

    Driver traffic per iteration is exactly the k x dim centroid matrix —
    the canonical Lloyd's structure; everything else is one distributed
    assign pass + one partial-aggregated centroid update.
    """
    # persisted across the assign/update iterations AND the caller's final
    # action over the returned assignments; released via release_caches()
    vectors = scoped_persist(vectors)
    centroids = [
        list(row.v)
        for row in vectors.where(F.col("vec_id") < k).orderBy("vec_id").collect()
    ]
    if not centroids:
        raise EmptyCorpusError("no seed vectors for k-means")

    assigned = None
    for _ in range(iterations):
        dists = _dists_expr("v", centroids)
        assigned = vectors.withColumn(
            "cluster",
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int"),
        ).withColumn("sq_dist", F.array_min(dists))
        per_dim = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.avg("val").alias("mean"))
        )
        rows = (
            per_dim.groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mean"))),
                    lambda s: s["mean"],
                ).alias("c")
            )
            .collect()  # k tiny rows — the only driver traffic
        )
        new_centroids = list(centroids)
        for row in rows:
            new_centroids[row.cluster] = list(row.c)
        centroids = new_centroids

    return assigned, centroids


def kmeans_assign(
    vectors: DataFrame, k: int = 8, iterations: int = 5
) -> DataFrame:
    """Lloyd's k-means: returns (vec_id, cluster, sq_dist)."""
    assigned, _ = kmeans_fit(vectors.select("vec_id", "v"), k, iterations)
    return assigned.select(
        "vec_id", "cluster", F.round("sq_dist", 4).alias("sq_dist")
    )


@query("similarity_kmeans")  # iterative algorithm — rows-only check
def similarity_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    parallelism = spark.sparkContext.defaultParallelism
    vectors = emb.repartition(parallelism, "vec_id").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    try:
        return kmeans_assign(vectors, k=8, iterations=5)
    except EmptyCorpusError:  # zero-row embeddings: nothing to cluster
        return spark.createDataFrame(
            [], "vec_id long, cluster int, sq_dist double"
        )


PQ_SUBSPACES = 4
PQ_CODEBOOK_K = 16


@query("embeddings_pq_codes")  # iterative per-subspace k-means — rows-only
def embeddings_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: learn a ``PQ_CODEBOOK_K``-entry codebook per
    vector SUBSPACE (the embedding split into ``PQ_SUBSPACES`` contiguous
    slices) and encode every vector as one small code per subspace, plus
    its total squared reconstruction error.

    PQ is the storage/recall workhorse of billion-vector ANN (the "PQ" in
    IVF-PQ): 64 floats (256 bytes) compress to 4 one-byte codes, and
    asymmetric distances against a query need only M table lookups per
    vector. The coarse IVF quantizer (``similarity_ivf_topk``) prunes
    which vectors to scan; PQ shrinks what each scanned vector costs.

    Scale: all subspace codebooks train JOINTLY — one distributed assign
    pass and one partial-aggregated update per Lloyd iteration covers
    every subspace (``llm/ivfpq.py::pq_fit_joint``; sequential per-
    subspace fits cost PQ_SUBSPACES x the scans for identical
    mathematics). Encoding is one final per-row assign select — no
    joins. Deterministic init (slices of the k lowest vec_ids) keeps
    the codes bit-stable for the driver's rows-only check.

    Output schema: one SCALAR int column per subspace (``code_0`` ..
    ``code_{M-1}``) rather than an ``array<int>`` — list-typed columns
    cannot be sorted/factorized by the driver's pandas canonicalizer,
    and scalar columns are also the honest storage layout (PQ codes are
    fixed-width bytes, not variable-length lists).
    """
    from concurrent_etl_go_spark.llm.ivfpq import (
        _pq_cb_frame,
        _pq_d2_col,
        pq_fit_joint,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    parallelism = spark.sparkContext.defaultParallelism
    first = emb.select(F.size("embedding").alias("d")).first()
    if first is None:
        code_cols = ", ".join(
            f"code_{m} int" for m in range(PQ_SUBSPACES)
        )
        return spark.createDataFrame(
            [], f"vec_id long, {code_cols}, recon_sq_err double"
        )
    dim = first.d
    base = scoped_persist(
        emb.repartition(parallelism, "vec_id").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    codebooks = pq_fit_joint(base, dim, k=PQ_CODEBOOK_K, iterations=3)

    # encode against the fitted codebooks via the same broadcast
    # (m, j, w) relation the fit scores with (constant plan shape — the
    # literal-expression encode re-parsed/re-compiled ~1,000-double
    # trees); per (vec, subspace): argmin code (min_by, ties low) and
    # the min squared distance, pivoted wide.  err_m = min(d2) over the
    # codewords, exactly array_min of the literal distance array.
    scored = base.crossJoin(
        F.broadcast(_pq_cb_frame(spark, codebooks))
    ).select("vec_id", "m", "j", _pq_d2_col(dim).alias("d2"))
    percode = scored.groupBy("vec_id", "m").agg(
        F.min_by("j", F.struct("d2", "j")).alias("code"),
        F.min("d2").alias("err"),
    )
    encoded = percode.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("m") == m, F.col("code")))
            .cast("int")
            .alias(f"code_{m}")
            for m in range(PQ_SUBSPACES)
        ],
        *[
            F.max(F.when(F.col("m") == m, F.col("err"))).alias(f"err_{m}")
            for m in range(PQ_SUBSPACES)
        ],
    )
    return encoded.select(
        "vec_id",
        *[F.col(f"code_{m}") for m in range(PQ_SUBSPACES)],
        F.round(
            sum(F.col(f"err_{m}") for m in range(PQ_SUBSPACES)), 4
        ).alias("recon_sq_err"),
    )
