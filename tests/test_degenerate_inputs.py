"""Degenerate-input contracts for registry queries, and the shared
checkpoint and edge-symmetrization helpers.

A registry query on an empty or all-zero input table must return a
defined result (the empty schema, or whatever its DuckDB oracle yields)
instead of crashing in the driver-side fit, the power iteration or an
ANSI-mode expression.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import SF_SMOKE
from tests.test_oracle_parity import frames_match


def _table_dir(tmp_path, name, transform) -> str:
    """A one-table sf dir holding ``transform`` of the sf0.001 table
    ``name`` (schema and footer types preserved)."""
    table = transform(pq.read_table(os.path.join(SF_SMOKE, f"{name}.parquet")))
    pq.write_table(table, str(tmp_path / f"{name}.parquet"))
    return str(tmp_path)


def _empty(table: pa.Table) -> pa.Table:
    return table.slice(0, 0)


def _query_vs_oracle(spark, name, sf_dir, table):
    """(Spark result, DuckDB oracle result) of registry query ``name`` on
    the one-table sf dir ``sf_dir``."""
    from concurrent_etl_go_spark.operators import ORACLES, QUERIES

    got = QUERIES[name](spark, sf_dir).toPandas()
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir}/{table}.parquet'"
        )
        want = con.execute(ORACLES[name]).df()
    finally:
        con.close()
    return got, want


def test_capture_recapture_on_zero_row_events_matches_oracle(spark, tmp_path):
    """No events: every count and the Chapman estimate are 0, so the
    coverage divisor is 0; DuckDB's integer division gives NULL there."""
    sf_dir = _table_dir(tmp_path, "events", _empty)
    got, want = _query_vs_oracle(spark, "agg_capture_recapture", sf_dir, "events")
    assert len(want) == 1 and want["coverage_e6"].isna().all()
    assert want["chapman_estimate"].tolist() == [0]
    problems = frames_match(got, want)
    assert not problems, "; ".join(problems)


def test_keltner_on_zero_row_orders_is_empty_like_oracle(spark, tmp_path):
    sf_dir = _table_dir(tmp_path, "orders", _empty)
    got, want = _query_vs_oracle(spark, "window_keltner", sf_dir, "orders")
    assert len(want) == 0 and len(got) == 0
    assert list(got.columns) == ["day", "mid", "upper_band", "lower_band"]
    problems = frames_match(got, want)
    assert not problems, "; ".join(problems)


def test_global_rank_queries_on_zero_row_tables_match_oracles(spark, tmp_path):
    """``_global_rank`` finds no buckets on an empty table; both of its
    queries return their oracles' empty frames."""
    for name, table in (
        ("window_ntile_cume_scalable", "customer"),
        ("profile_key_islands", "orders"),
    ):
        sf_dir = _table_dir(tmp_path, table, _empty)
        got, want = _query_vs_oracle(spark, name, sf_dir, table)
        assert len(want) == 0 and len(got) == 0
        problems = frames_match(got, want)
        assert not problems, f"{name}: " + "; ".join(problems)


def test_ivfpq_topk_on_zero_row_embeddings(spark, tmp_path):
    from concurrent_etl_go_spark.llm.ivfpq import similarity_ivfpq_topk

    sf_dir = _table_dir(tmp_path, "embeddings", _empty)
    out = similarity_ivfpq_topk(spark, sf_dir)
    assert out.schema.simpleString() == "struct<vec_id:bigint,sim:double>"
    assert out.collect() == []


def test_ivfpq_portable_queries_on_zero_row_embeddings_match_oracles(
    spark, tmp_path
):
    """No query row, so the query LUT is empty; both portable twins
    return their oracles' empty frames."""
    sf_dir = _table_dir(tmp_path, "embeddings", _empty)
    for name in ("embeddings_pq_assign_portable", "similarity_ivfpq_portable"):
        got, want = _query_vs_oracle(spark, name, sf_dir, "embeddings")
        assert len(want) == 0 and len(got) == 0
        problems = frames_match(got, want)
        assert not problems, f"{name}: " + "; ".join(problems)


def test_kmeans_queries_on_zero_row_embeddings_are_empty(spark, tmp_path):
    """``kmeans_fit`` finds no seed vectors; both rows-only queries
    return their usual schema with zero rows."""
    from concurrent_etl_go_spark.operators import QUERIES

    sf_dir = _table_dir(tmp_path, "embeddings", _empty)
    for name, schema in (
        ("similarity_kmeans", "struct<vec_id:bigint,cluster:int,sq_dist:double>"),
        ("similarity_ivf_topk", "struct<vec_id:bigint,sim:double>"),
    ):
        out = QUERIES[name](spark, sf_dir)
        assert out.schema.simpleString() == schema, name
        assert out.collect() == [], name


def _zeroed(table: pa.Table) -> pa.Table:
    emb = table.column("embedding")
    zeros = pa.array(
        [[0.0] * len(v) for v in emb.to_pylist()], type=emb.type
    )
    return table.set_column(
        table.schema.get_field_index("embedding"), "embedding", zeros
    )


def test_top_component_all_zero_matches_oracle(spark, tmp_path):
    """All-zero vectors give a zero Gram matrix, so the first rescale
    divides by max|raw| == 0.  The oracle chain turns that into NULL
    (HUGEINT % 0 and // 0), and the NULL iterate stays NULL through the
    remaining rounds: one row per dim, NULL weight."""
    from concurrent_etl_go_spark.llm.ivfpq2 import _DIM
    from concurrent_etl_go_spark.llm.pca import (
        _pca_oracle,
        embeddings_top_component,
    )

    sf_dir = _table_dir(tmp_path, "embeddings", _zeroed)
    got = embeddings_top_component(spark, sf_dir).toPandas()
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM "
            f"'{sf_dir}/embeddings.parquet'"
        )
        want = con.execute(_pca_oracle()).df()
    finally:
        con.close()
    assert len(want) == _DIM and want["weight_e6"].isna().all()
    problems = frames_match(got, want)
    assert not problems, "; ".join(problems)


def test_checkpoint_and_drop_keeps_rows_and_frees_scratch(spark, tmp_path):
    """Rows survive the checkpoint, every scratch dir is deleted, and the
    checkpoint blocks are tracked so ``release_caches()`` frees them."""
    from concurrent_etl_go_spark.operators.registry import (
        checkpoint_and_drop,
        release_caches,
    )

    release_caches()  # clean slate in the shared test session
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc  # noqa: SLF001
    assert jsc.getPersistentRDDs().size() == 0

    scratch = [tmp_path / "a", tmp_path / "b"]
    for d in scratch:
        d.mkdir()
        (d / "part-0.parquet").write_bytes(b"x")
    df = spark.range(10).selectExpr("id", "id * 2 AS twice")
    expected = sorted(map(tuple, df.collect()))

    out = checkpoint_and_drop(df, *map(str, scratch))
    assert not any(d.exists() for d in scratch)
    assert sorted(map(tuple, out.collect())) == expected
    assert jsc.getPersistentRDDs().size() > 0, "expected checkpoint blocks"
    release_caches()
    assert jsc.getPersistentRDDs().size() == 0, "residual blocks after release"


def test_checkpoint_round_frees_superseded_rounds(spark):
    """Chained rounds: with ``prev`` only the newest round stays persisted;
    without it every round stays until ``release_caches()``.  Rows are
    unchanged either way."""
    from concurrent_etl_go_spark.operators.registry import (
        checkpoint_round,
        release_caches,
    )

    release_caches()  # clean slate in the shared test session
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc  # noqa: SLF001
    assert jsc.getPersistentRDDs().size() == 0

    base = spark.range(5).selectExpr("id", "id AS v")
    expected = [(i, i + 3) for i in range(5)]

    cur = base
    for k in range(3):
        cur = checkpoint_round(
            cur.selectExpr("id", "v + 1 AS v"), cur if k else None
        )
        assert jsc.getPersistentRDDs().size() == 1, f"round {k}"
    assert sorted(map(tuple, cur.collect())) == expected
    release_caches()
    assert jsc.getPersistentRDDs().size() == 0

    cur = base
    for k in range(3):
        cur = checkpoint_round(cur.selectExpr("id", "v + 1 AS v"))
        assert jsc.getPersistentRDDs().size() == k + 1
    assert sorted(map(tuple, cur.collect())) == expected
    release_caches()
    assert jsc.getPersistentRDDs().size() == 0, "residual blocks after release"


def test_symmetric_returns_both_directions_with_extra_columns(spark):
    from concurrent_etl_go_spark.operators.graph import symmetric

    edges = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 7)], "src long, dst long, len long"
    )
    sym = symmetric(edges)
    assert sym.columns == ["src", "dst", "len"]
    assert sorted(map(tuple, sym.collect())) == [
        (1, 2, 5), (2, 1, 5), (2, 3, 7), (3, 2, 7)
    ]
