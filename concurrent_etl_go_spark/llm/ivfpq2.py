"""Oracle-backed IVF-PQ serving algebra — the ANN index's math under the
driver's hash compare.

The production path (``llm/ivfpq.py::similarity_ivfpq_topk``) serves from
LEARNED quantizers (Lloyd's-fit centroids + PQ codebooks) — iterative,
data-dependent float fits that no SQL oracle can reproduce, so it carries
the driver's rows-only check plus determinism/recall pytests.  These twins
apply the ``llm/dedup3.py`` one-ingredient-swap technique to the SERVING
half: freeze the codebook by a portable rule and make every distance an
INTEGER, then the whole serving algebra — coarse-cell assignment, per-
subspace PQ code assignment, the query LUT, asymmetric-distance scoring,
nprobe cell pruning, and the exact re-rank of the shortlist — is pure
deterministic arithmetic that DuckDB reproduces bit-for-bit.

The two frozen ingredients (each a portable rule both engines apply
identically):

* quantization — ``floor(x * 1024)`` per element as int64.  1024 is a
  power of two, so the float32 -> float64 widening and the multiply are
  both EXACT IEEE operations; floor is unambiguous (no round-half
  divergence).  Every distance thereafter is integer arithmetic —
  order-independent sums, no libm, no summation-order variance.
* codebooks — corpus rows picked by fixed vec_ids: 8 coarse centroids
  (``_CENTROID_IDS``) and 4 PQ codewords per subspace (``_DONOR_IDS``,
  sliced per subspace).  Cell and code values ARE the donor vec_ids, so
  no index-order convention can drift between engines.

What stays outside oracle coverage after this: only the Lloyd's FITS
themselves (covered by ``tests/test_llm_ops.py`` determinism +
beats-global-mean + recall pytests).  The serving math the fits feed is
hash-proven here.

Scale: both twins keep the production plan shape.  Vectors cross-join a
BROADCAST 8-row centroid table (map-side x8 expansion — the decision the
real path makes on driver-side literals for the same reason), code
assignment is one min_by hash-agg per subspace over a broadcast 4-row
codebook, the query LUT is M x K literals (collected driver-side exactly
like the production LUT embedding), and only the RERANK-sized shortlist
ever touches a full vector again.  Never O(n^2); candidate scoring cost
is rows x (M lookups), as in the real index.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from concurrent_etl_go_spark.operators.registry import query
from concurrent_etl_go_spark.sources.readers import read_table

_SCALE = 1024
_DIM = 64
_M = 4  # PQ subspaces
_SUB = _DIM // _M
#: Frozen coarse centroids / PQ codeword donors: corpus rows by vec_id.
_CENTROID_IDS = (3, 17, 29, 41, 53, 65, 77, 89)
_DONOR_IDS = (2, 19, 37, 59)
_QUERY_ID = 0
_NPROBE = 2
_RERANK = 40
_TOP_K = 20


def _d2_sql(a: str, b: str) -> str:
    """Integer squared-L2 distance of two array<long> SQL expressions."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        "0L, (acc, e) -> acc + e)"
    )


def _sub_sql(col: str, m: int) -> str:
    return f"slice({col}, {m * _SUB + 1}, {_SUB})"


def _int_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> "
            f"cast(floor(cast(x as double) * {_SCALE}) as bigint))"
        ).alias("v"),
    )


def _centroids(iv: DataFrame) -> DataFrame:
    return iv.where(F.col("vec_id").isin(*_CENTROID_IDS)).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )


def _donors(iv: DataFrame) -> DataFrame:
    return iv.where(F.col("vec_id").isin(*_DONOR_IDS)).select(
        F.col("vec_id").alias("did"), F.col("v").alias("dv")
    )


def _cell_dists(vectors: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cid, d2) for every vector x centroid pair.  ``cents``
    comes from the FULL corpus frame — callers may pass a filtered
    ``vectors`` (e.g. just the query row for the probe decision)."""
    return vectors.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cid", F.expr(_d2_sql("v", "cv")).alias("d2")
    )


def _assignments(iv: DataFrame) -> DataFrame:
    """(vec_id, cell, code_0..code_{M-1}): coarse cell + PQ codes.

    min_by over a (distance, donor-id) struct makes every argmin tie
    break low by construction — the ordering key is unique per group, so
    the aggregation is deterministic on both engines.
    """
    cells = (
        _cell_dists(iv, _centroids(iv))
        .groupBy("vec_id")
        .agg(F.min_by("cid", F.struct("d2", "cid")).alias("cell"))
    )
    subd = iv.crossJoin(F.broadcast(_donors(iv))).select(
        "vec_id",
        "did",
        *[
            F.expr(_d2_sql(_sub_sql("v", m), _sub_sql("dv", m))).alias(
                f"sd_{m}"
            )
            for m in range(_M)
        ],
    )
    codes = subd.groupBy("vec_id").agg(
        *[
            F.min_by("did", F.struct(f"sd_{m}", "did")).alias(f"code_{m}")
            for m in range(_M)
        ]
    )
    return cells.join(codes, "vec_id")


def _query_lut(iv: DataFrame) -> dict[tuple[int, int], int]:
    """{(subspace, donor_id): integer subspace distance to the query} —
    M x K integers collected driver-side, exactly the LUT-literal shape
    the production serving path embeds per query."""
    q = iv.where(F.col("vec_id") == _QUERY_ID).select(
        F.col("v").alias("qv")
    )
    rows = (
        _donors(iv)
        .crossJoin(F.broadcast(q))
        .select(
            "did",
            *[
                F.expr(
                    _d2_sql(_sub_sql("dv", m), _sub_sql("qv", m))
                ).alias(f"qd_{m}")
                for m in range(_M)
            ],
        )
        .collect()
    )
    return {
        (m, r.did): r[f"qd_{m}"] for r in rows for m in range(_M)
    }


def _adist_col(lut: dict[tuple[int, int], int]) -> Column:
    """Asymmetric distance: M map-literal lookups keyed by the PQ codes."""
    total = None
    for m in range(_M):
        mp = F.create_map(
            *[
                lit
                for did in _DONOR_IDS
                for lit in (F.lit(did), F.lit(lut[(m, did)]))
            ]
        )
        term = mp[F.col(f"code_{m}")]
        total = term if total is None else total + term
    return total.cast("long")


# --- shared oracle fragments (DuckDB side of the identical algebra) -----

def _dd_d2(a: str, b: str, lo: int, hi: int) -> str:
    """DuckDB integer squared-L2 over elements lo..hi (1-based, incl.)."""
    return (
        f"list_sum([({a}[i] - {b}[i]) * ({a}[i] - {b}[i]) "
        f"for i in range({lo}, {hi + 1})])"
    )


_DD_CODE_CTES = ",\n".join(
    f"""
    c{m} AS (
      SELECT vec_id, did AS code_{m} FROM (
        SELECT vec_id, did,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sd_{m}, did) AS rn
        FROM subd
      ) WHERE rn = 1
    )"""
    for m in range(_M)
)

_ORACLE_ASSIGN = f"""
    WITH iv AS (
      SELECT vec_id,
             [CAST(floor(CAST(x AS DOUBLE) * {_SCALE}) AS BIGINT)
              for x in embedding] AS v
      FROM embeddings
    ),
    cents AS (
      SELECT vec_id AS cid, v AS cv FROM iv
      WHERE vec_id IN {_CENTROID_IDS}
    ),
    celld AS (
      SELECT a.vec_id, c.cid,
             {_dd_d2('a.v', 'c.cv', 1, _DIM)} AS d2
      FROM iv a CROSS JOIN cents c
    ),
    cell AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cid) AS rn
        FROM celld
      ) WHERE rn = 1
    ),
    donors AS (
      SELECT vec_id AS did, v AS dv FROM iv
      WHERE vec_id IN {_DONOR_IDS}
    ),
    subd AS (
      SELECT a.vec_id, d.did,
             {", ".join(
                 _dd_d2('a.v', 'd.dv', m * _SUB + 1, (m + 1) * _SUB)
                 + f" AS sd_{m}"
                 for m in range(_M)
             )}
      FROM iv a CROSS JOIN donors d
    ),
    {_DD_CODE_CTES},
    lut AS (
      SELECT d.did,
             {", ".join(
                 _dd_d2('d.dv', 'q.v', m * _SUB + 1, (m + 1) * _SUB)
                 + f" AS qd_{m}"
                 for m in range(_M)
             )}
      FROM donors d JOIN iv q ON q.vec_id = {_QUERY_ID}
    ),
    assign AS (
      SELECT cell.vec_id, cell.cell,
             {", ".join(f"c{m}.code_{m}" for m in range(_M))},
             CAST({" + ".join(f"l{m}.qd_{m}" for m in range(_M))}
                  AS BIGINT) AS adist
      FROM cell
      {" ".join(f"JOIN c{m} ON c{m}.vec_id = cell.vec_id"
                for m in range(_M))}
      {" ".join(f"JOIN lut l{m} ON l{m}.did = c{m}.code_{m}"
                for m in range(_M))}
    )
"""


@query(
    "embeddings_pq_assign_portable",
    oracle=_ORACLE_ASSIGN + "SELECT * FROM assign",
)
def embeddings_pq_assign_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-vector IVF-PQ encoding under the frozen integer codebook: the
    coarse cell, all M PQ codes, and the asymmetric (LUT) distance to
    the fixed query — one row per corpus vector, every value pinned by
    the driver hash.  Proves cell assignment, per-subspace code
    assignment, LUT construction, and ADC scoring for EVERY vector (the
    serving twin below additionally proves the probe + re-rank
    selection)."""
    iv = _int_vectors(spark, sf_dir)
    lut = _query_lut(iv)
    if not lut:  # no query row or no donors: the oracle's LUT join is empty
        codes = ", ".join(f"code_{m} long" for m in range(_M))
        return spark.createDataFrame(
            [], f"vec_id long, cell long, {codes}, adist long"
        )
    return _assignments(iv).select(
        "vec_id",
        "cell",
        *[f"code_{m}" for m in range(_M)],
        _adist_col(lut).alias("adist"),
    )


@query(
    "similarity_ivfpq_portable",
    oracle=_ORACLE_ASSIGN + f""",
    probe AS (
      SELECT cid FROM celld WHERE vec_id = {_QUERY_ID}
      ORDER BY d2, cid LIMIT {_NPROBE}
    ),
    short AS (
      SELECT vec_id, cell, adist FROM assign
      WHERE cell IN (SELECT cid FROM probe)
      ORDER BY adist, vec_id LIMIT {_RERANK}
    ),
    rr AS (
      SELECT s.vec_id, s.cell, s.adist,
             CAST({_dd_d2('a.v', 'q.v', 1, _DIM)} AS BIGINT) AS exact_d2
      FROM short s
      JOIN iv a ON a.vec_id = s.vec_id
      JOIN iv q ON q.vec_id = {_QUERY_ID}
    )
    SELECT CAST(row_number() OVER (ORDER BY exact_d2, vec_id) AS BIGINT)
             AS rank,
           vec_id, cell, adist, exact_d2
    FROM rr ORDER BY exact_d2, vec_id LIMIT {_TOP_K}
    """,
)
def similarity_ivfpq_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end IVF-PQ serving under the frozen integer codebook:
    probe the ``_NPROBE`` cells nearest the query, score candidates by
    M LUT lookups (no vector touched), keep the best ``_RERANK`` by
    approximate distance, re-rank that shortlist with the EXACT integer
    distance, return the top ``_TOP_K`` with ranks — the full
    probe -> ADC -> refine cascade of ``similarity_ivfpq_topk``, every
    intermediate decision pinned by the driver hash.

    The probe decision collects ``_NPROBE`` centroid ids driver-side
    (k tiny rows — the same decision the production path makes on its
    centroid literals); the shortlist is the only set that joins back
    to full vectors, and the final window ranks <= ``_RERANK`` rows."""
    iv = _int_vectors(spark, sf_dir)
    lut = _query_lut(iv)
    if not lut:  # no query row or no donors: the oracle's LUT join is empty
        return spark.createDataFrame(
            [], "rank long, vec_id long, cell long, adist long, exact_d2 long"
        )

    q_cells = (
        _cell_dists(
            iv.where(F.col("vec_id") == _QUERY_ID), _centroids(iv)
        )
        .orderBy("d2", "cid")
        .limit(_NPROBE)
        .collect()
    )
    probed = [r.cid for r in q_cells]

    assign = _assignments(iv).withColumn("adist", _adist_col(lut))
    short = (
        assign.where(F.col("cell").isin(probed))
        .select("vec_id", "cell", "adist")
        .orderBy("adist", "vec_id")
        .limit(_RERANK)
    )

    q_vec = (
        iv.where(F.col("vec_id") == _QUERY_ID).select("v").first().v
    )
    q_lit = f"array({','.join(f'{x}L' for x in q_vec)})"
    rr = short.join(iv, "vec_id").withColumn(
        "exact_d2", F.expr(_d2_sql("v", q_lit))
    )
    w = Window.orderBy("exact_d2", "vec_id")
    return (
        rr.select(
            F.row_number().over(w).cast("long").alias("rank"),
            "vec_id",
            "cell",
            "adist",
            "exact_d2",
        )
        .orderBy("exact_d2", "vec_id")
        .limit(_TOP_K)
    )
