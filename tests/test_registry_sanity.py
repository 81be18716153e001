"""Safety net over the whole registry: every query at sf0.001 has unique
sane column names (the driver sorts columns by name before hashing), a
stable schema across calls and an executed plan free of cartesian
products and row-path Python.

Each query is built twice here (the second build is the schema-stability
check) and executed once across tier-1: rows-only queries by ``count()``
here, oracle-backed queries by ``tests/test_oracle_parity.py``."""

from __future__ import annotations

import pathlib
import re

import pytest

import __spark_entry__ as entry_mod
import concurrent_etl_go_spark

ALL = sorted(entry_mod.queries())
ORACLE_BACKED = set(entry_mod.oracle_sql())

#: Queries whose semantics genuinely need Arrow-batched Python — the
#: bounded as-of merge runs one pd.merge_asof per partition (MapInPandas).
#: Nothing is allowed to use scalar pandas UDFs in projections
#: (ArrowEvalPython): every scalar expression must stay in codegen.
ARROW_ALLOWLIST = {
    "join_asof",
    "join_asof_left",
    # nearest = backward + forward cogroup passes (two MapInPandas)
    "join_asof_nearest",
    # binary media decode has no JVM expression form — Arrow-batched by
    # design (llm/multimodal.py)
    "multimodal_image_features",
    "multimodal_audio_features",
}


def test_oracles_are_subset_of_queries():
    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(os_) <= set(qs)
    # oracle text is complete at import: nothing left to substitute
    assert not [n for n, sql in os_.items() if "{bm25}" in sql or "{xe}" in sql]
    # rows-only queries are the documented non-SQL-expressible set
    assert set(qs) - set(os_) == {
        "agg_approx",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "similarity_ivf_topk",
        "similarity_kmeans",
        "similarity_rp_lsh",
        "dedup_components",
        "dedup_survivor_corpus",
        "sample_fraction",
        "agg_hll_mergeable",
        "agg_trailing_distinct_hll",
        "embeddings_pq_codes",
        "dedup_embedding_cosine_lsh",
        "text_countmin_sketch",
        "graph_pagerank",
        "similarity_ivfpq_topk",
        "agg_theta_retention",
        "agg_theta_churn",
        "agg_approx_topk",
    }


def test_eager_checkpoints_only_in_registry():
    """Every eager localCheckpoint goes through
    ``registry.checkpoint_round``, which tracks it for
    ``release_caches()``; a hand-written one leaks its blocks into a
    long-lived session."""
    pkg = pathlib.Path(concurrent_etl_go_spark.__file__).parent
    eager = re.compile(r"localCheckpoint\(\s*(eager\s*=\s*)?True")
    hits = [
        p.relative_to(pkg).as_posix()
        for p in sorted(pkg.rglob("*.py"))
        if eager.search(p.read_text())
    ]
    assert hits == ["operators/registry.py"]


@pytest.mark.parametrize("name", ALL)
def test_query_runs_with_sane_schema(spark, sf_dir, name):
    fn = entry_mod.queries()[name]
    df = fn(spark, sf_dir)
    cols = df.columns
    assert len(set(cols)) == len(cols), f"duplicate column names: {cols}"
    for c in cols:
        assert re.fullmatch(r"[a-z][a-z0-9_]*", c), f"unsane column name: {c}"
    # plan invariants: cross joins must broadcast, no row-at-a-time Python
    # (BatchEvalPython) and no scalar pandas UDFs (ArrowEvalPython);
    # Python appears only Arrow-batched via MapInPandas where semantics
    # demand it
    plan = df._jdf.queryExecution().executedPlan().toString()
    for marker in ("CartesianProduct", "BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, f"{marker} in the executed plan"
    if name not in ARROW_ALLOWLIST:
        assert "MapInPandas" not in plan, "MapInPandas outside the allowlist"
    # stable schema across invocations
    assert df.schema == fn(spark, sf_dir).schema
    if name not in ORACLE_BACKED:
        assert df.count() >= 0


def test_driver_window_rotation():
    """Round-N rotation: the driver snapshots the FIRST 50 entries of
    ``queries()``; those slots must hold every query without a green
    prior-round CORRECTNESS row (current-round additions plus any
    changed-code re-proof block), with every proven query behind slot
    50.  The current window is discovered by its ``_ROUND{N}_WINDOW``
    name so this test survives rotation."""
    import re as _re

    names = list(entry_mod.queries())
    first50 = names[:50]
    rounds = {
        int(m.group(1)): getattr(entry_mod, attr)
        for attr in vars(entry_mod)
        if (m := _re.fullmatch(r"_ROUND(\d+)_WINDOW", attr))
    }
    window = rounds[max(rounds)]
    # proven = a green row in some committed CORRECTNESS_r*.json; a
    # missing or corrupt artifact leaves queries unproven and trips
    # the 50-slot bound below
    last, _ = entry_mod.last_proof_rounds()
    proven = {n for n, rnd in last.items() if rnd > 0}
    assert first50[: len(window)] == window
    # every unproven query sits inside the 50-slot window; spare slots
    # (there are fewer than 50 unproven names) hold proven re-checks,
    # which is harmless
    unproven = [n for n in names if n not in proven]
    assert set(unproven) <= set(first50)
    # every rotation/proven name still exists in the registry
    assert set(window) <= set(names)
    assert proven <= set(names)
    # the window + fresh additions must fit the driver's 50 slots, or the
    # overflow silently goes unproven for another round
    assert len(unproven) <= 50, (
        f"{len(unproven)} unproven queries exceed the 50-slot driver "
        "window; rotate or defer additions"
    )
    # never-proven queries (e.g. newly added ones) sort before proven ones
    tail = names[50:]
    first_proven = next(i for i, n in enumerate(tail) if n in proven)
    assert all(n in proven for n in tail[first_proven:])


def test_scale_class_metadata_marks_oracle_twins():
    """Bounded all-pairs correctness twins must be tagged so a user cannot
    mistake them for the at-scale path; everything else is production."""
    from concurrent_etl_go_spark.operators import registry
    import concurrent_etl_go_spark.llm  # noqa: F401 — trigger registration
    import concurrent_etl_go_spark.operators  # noqa: F401

    twins = {n for n, c in registry.SCALE_CLASS.items() if c == "oracle_twin"}
    assert twins == {
        "dedup_ngram_jaccard",
        "similarity_pairs",
        "dedup_embedding_cosine",
        "dedup_containment",
        # single-partition global windows; production twins compute the
        # identical exact answer in operators/quantiles.py
        "window_ntile_cume",
        "window_power_users",
    }
    assert set(registry.SCALE_CLASS) == set(registry.QUERIES)


def test_engine_query_info_surfaces_scale_class(spark):
    from concurrent_etl_go_spark.engine import Engine

    info = Engine(spark, "/root/testdata/sf0.001").query_info()
    assert info["similarity_pairs"]["scale_class"] == "oracle_twin"
    assert info["similarity_pairs"]["has_oracle"] is True
    assert info["dedup_minhash_lsh"]["scale_class"] == "production"
    assert info["dedup_minhash_lsh"]["has_oracle"] is False
    assert set(info) == set(Engine(spark, ".").queries())


def test_lakehouse_stubs_fail_loudly_without_jars(spark):
    """No lakehouse jars ship in this image: each connector must raise
    MissingConnectorError naming the missing package, not a deep executor
    stack trace (error-path coverage for the import-gated stubs)."""
    import pytest

    from concurrent_etl_go_spark.sources.lakehouse import (
        MissingConnectorError,
        read_delta,
        read_hudi,
        read_iceberg,
    )

    for fn, arg, hint in (
        (read_delta, "/tmp/nope-delta", "delta"),
        (read_iceberg, "db.nope", "iceberg"),
        (read_hudi, "/tmp/nope-hudi", "hudi"),
    ):
        with pytest.raises(MissingConnectorError) as exc:
            fn(spark, arg)
        assert hint in str(exc.value)
        assert "spark.jars.packages" in str(exc.value)


def test_engine_repins_utc_under_hostile_session_timezone(spark, sf_dir):
    """The /verify probe as a permanent regression: a driver session
    running in a non-UTC timezone must not change any time-keyed result —
    read_table re-pins UTC, so window boundaries and date_trunc grains
    stay identical."""
    baseline = {
        (r.event_type, r.day): r.n
        for r in entry_mod.queries()["agg_daily_zscore"](spark, sf_dir)
        .select("event_type", "day", "n")
        .collect()
    }
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        hostile = {
            (r.event_type, r.day): r.n
            for r in entry_mod.queries()["agg_daily_zscore"](spark, sf_dir)
            .select("event_type", "day", "n")
            .collect()
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert hostile == baseline
    # and the engine actually re-pinned (the query path calls read_table)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_float_canary_is_live(spark, sf_dir):
    """The scalar_float_canary row only has value if the danger it guards
    is real on this data: WITHOUT the ``+ 0.0`` canonicalization, DuckDB's
    ROUND must emit at least one ``-0.0`` where Spark emits ``+0.0`` for
    the same expression (the round-4 embeddings_normalize failure mode).
    If engines ever converge this starts failing — then the canary (and
    the idiom) can be retired deliberately, not silently."""
    import duckdb
    import numpy as np
    from pyspark.sql import functions as F

    from concurrent_etl_go_spark.sources.readers import read_table

    con = duckdb.connect()
    try:
        raw = con.execute(
            "SELECT ROUND((l_discount - 0.05) * 0.001, 4) AS x "
            f"FROM '{sf_dir}/lineitem.parquet'"
        ).df()["x"]
        canon = con.execute(
            "SELECT ROUND((l_discount - 0.05) * 0.001, 4) + 0.0 AS x "
            f"FROM '{sf_dir}/lineitem.parquet'"
        ).df()["x"]
    finally:
        con.close()
    duck_neg_zero = int(np.sum((raw == 0.0) & np.signbit(raw)))
    assert duck_neg_zero > 0, "canary dead: DuckDB ROUND no longer emits -0.0"
    assert int(np.sum((canon == 0.0) & np.signbit(canon))) == 0

    li = read_table(spark, sf_dir, "lineitem")
    sp = (
        li.select(
            F.round((F.col("l_discount") - 0.05) * 0.001, 4).alias("x")
        )
        .toPandas()["x"]
    )
    # Spark's round never keeps the sign bit at zero — the asymmetry the
    # + 0.0 idiom exists to erase
    assert int(np.sum((sp == 0.0) & np.signbit(sp))) == 0


def test_parity_gate_is_signbit_strict():
    """The local values_equal must reject -0.0 vs +0.0 (the driver's value
    hash is bit-exact; an ==-based compare is blind to the difference)."""
    from tests.test_oracle_parity import values_equal

    assert not values_equal(-0.0, 0.0)
    assert not values_equal(0.0, -0.0)
    assert values_equal(-0.0, -0.0)
    assert values_equal(0.0, 0.0)
    assert values_equal(float("nan"), float("nan"))
    assert not values_equal(None, 0.0)
