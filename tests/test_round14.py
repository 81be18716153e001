"""Round-14 regression tests for the four ADVICE r13 fixes:

1. ``_mmr_greedy`` degrades gracefully when a qid's candidate pool has
   fewer than k entries (previously: TypeError on ``best[1]``).
2. ``grouped_rank`` types the broadcast offsets frame's group column
   from the input schema, so non-string group keys join exactly.
3. ``replay_dlq_posts`` sweeps orphan ``.key`` sidecars whose data file
   no longer exists (crash between sidecar write and data write, or
   between data delete and sidecar delete).
4. ``__spark_entry__.row_is_green`` (the one proof predicate, shared by
   the driver window and ``scripts/window_staleness.py``) treats an
   explicit ``hash_match == False`` as NOT green even when err is None
   and rows match.
"""

from __future__ import annotations

import json
import os
import time

import pytest

from tests.mock_api import MockApiServer


@pytest.fixture()
def mock_api():
    server = MockApiServer().start()
    yield server
    server.stop()


# ---------------------------------------------------------------- MMR guard


def test_mmr_greedy_pool_smaller_than_k():
    from concurrent_etl_go_spark.llm.retrieval_eval import _mmr_greedy

    # qid 1 has 3 candidates but k=10: emit exactly 3 picks, no crash
    by_qid = {
        1: [(10, 5, [0, 0]), (11, 3, [1, 1]), (12, 7, [2, 2])],
        2: [],  # empty pool: emit nothing
    }
    picks = _mmr_greedy(by_qid, k=10)
    q1 = [p for p in picks if p[0] == 1]
    assert len(q1) == 3
    assert [p[2] for p in q1] == [1, 2, 3]  # steps contiguous from 1
    assert len({p[1] for p in q1}) == 3  # no duplicate doc picked
    assert not [p for p in picks if p[0] == 2]
    # first pick is the min (d2, vec_id) candidate
    assert q1[0][1] == 11


def test_mmr_greedy_matches_full_pool_semantics():
    from concurrent_etl_go_spark.llm.retrieval_eval import _mmr_greedy

    # pool >= k behaves as before: k picks, greedy max (minpd - d2)
    cands = [(i, i, [i * 2, 0]) for i in range(6)]
    picks = _mmr_greedy({7: cands}, k=4)
    assert len(picks) == 4
    assert picks[0] == (7, 0, 1)  # lowest d2 seeds the selection
    # second pick maximizes minpd - d2 = (2i)^2 - i -> i = 5
    assert picks[1] == (7, 5, 2)


# ------------------------------------------------- grouped_rank non-string


def test_grouped_rank_long_group_key(spark):
    from concurrent_etl_go_spark.operators.quantiles import grouped_rank

    rows = [(g, float(v)) for g in (10, 20, 30) for v in range(50)]
    df = spark.createDataFrame(rows, "gid long, x double")
    out = grouped_rank(df, "gid", "x").collect()
    assert len(out) == 150
    by_g: dict[int, list] = {}
    for r in out:
        assert isinstance(r["gid"], int)  # no silent string cast
        by_g.setdefault(r["gid"], []).append((r["x"], r["rn"], r["n"]))
    for g, vals in by_g.items():
        vals.sort()
        assert [rn for _, rn, _ in vals] == list(range(1, 51))
        assert all(n == 50 for _, _, n in vals)


def test_grouped_rank_string_group_key_still_works(spark):
    from concurrent_etl_go_spark.operators.quantiles import grouped_rank

    rows = [(g, float(v)) for g in ("a", "b") for v in range(20)]
    df = spark.createDataFrame(rows, "grp string, x double")
    out = grouped_rank(df, "grp", "x").collect()
    assert sorted(r["rn"] for r in out if r["grp"] == "a") == list(
        range(1, 21)
    )


# ------------------------------------------------- DLQ orphan sidecar sweep


def test_replay_sweeps_orphan_key_sidecars(mock_api, tmp_path):
    from concurrent_etl_go_spark.sinks.dlq import dlq_files, replay_dlq_posts
    from concurrent_etl_go_spark.sinks.http_sink import (
        HttpSinkConfig,
        spill_batch,
    )

    dlq_dir = str(tmp_path / "dlq")
    config = HttpSinkConfig(
        endpoint=mock_api.endpoint,
        dlq_dir=dlq_dir,
        idempotency_scope="run1",
    )
    # a real keyed spill (data file + sidecar)
    path = spill_batch(json.dumps([{"a": 1}]).encode(), 0, config, idem_key="run1/p0/c0")
    assert os.path.exists(path + ".key")
    # an orphan sidecar: crash between sidecar write and data write
    orphan = os.path.join(
        dlq_dir, "buffer_failed_worker0_run1-p9-c9.json.gz.key"
    )
    with open(orphan, "w", encoding="utf-8") as fh:
        fh.write("run1/p9/c9")
    # age the orphan past the sweep gate (round 15: fresh sidecars are a
    # live spill's normal transient state and must NOT be swept)
    old = time.time() - 3600
    os.utime(orphan, (old, old))

    replayed, remaining = replay_dlq_posts(dlq_dir, config)
    assert replayed == 1 and remaining == 0
    assert not os.path.exists(orphan), "orphan sidecar must be swept"
    assert not os.path.exists(path) and not os.path.exists(path + ".key")
    assert dlq_files(dlq_dir) == []
    # replay POSTed under the ORIGINAL key from the sidecar
    keys = [r.idem_key for r in mock_api.state.requests if r.idem_key]
    assert "run1/p0/c0" in keys


def test_replay_keeps_sidecar_when_post_fails(mock_api, tmp_path):
    """A failed re-POST leaves BOTH files (no sweep of paired sidecars)."""
    from concurrent_etl_go_spark.sinks.dlq import replay_dlq_posts
    from concurrent_etl_go_spark.sinks.http_sink import (
        HttpSinkConfig,
        spill_batch,
    )

    dlq_dir = str(tmp_path / "dlq")
    config = HttpSinkConfig(
        endpoint=mock_api.endpoint,
        dlq_dir=dlq_dir,
        idempotency_scope="run2",
    )
    path = spill_batch(json.dumps([{"a": 2}]).encode(), 1, config, idem_key="run2/p1/c0")
    mock_api.state.fail_all = True
    try:
        replayed, remaining = replay_dlq_posts(dlq_dir, config)
    finally:
        mock_api.state.fail_all = False
    assert replayed == 0 and remaining == 1
    assert os.path.exists(path) and os.path.exists(path + ".key")


# ------------------------------------------------- graph edge derivation


def test_edge_derivation_fresh_and_deterministic(spark, sf_dir):
    """The co-purchase edge list derives FRESH per call (optimization
    round 15 removed the cross-run relation cache from the query path:
    every bench/oracle invocation computes from the parquet inputs) and
    is deterministic across calls, including across release_caches()."""
    from concurrent_etl_go_spark.operators import graph2
    from concurrent_etl_go_spark.operators.registry import release_caches

    first = {
        (r["src"], r["dst"])
        for r in graph2._copurchase_edges(spark, sf_dir).collect()
    }
    release_caches()
    df = graph2._copurchase_edges(spark, sf_dir)
    again = {(r["src"], r["dst"]) for r in df.collect()}
    release_caches()
    assert first == again
    assert first, "edge list must be non-empty"
    # bounded: two long columns, dimension-scale row count
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint",
        "bigint",
    ]
    # src < dst orientation everywhere
    assert all(s < d for s, d in first)


# ------------------------------------------------- staleness green predicate


def test_row_is_green_explicit_hash_false_not_green():
    from __spark_entry__ import row_is_green

    # a hash mismatch with clean err/rows must NOT count as a proof
    assert not row_is_green(
        {
            "rows_match": True,
            "schema_match": True,
            "hash_match": False,
            "spark_rows": 5,
            "oracle_rows": 5,
            "err": None,
        }
    )
    # rows-only by design stays green
    assert row_is_green(
        {"rows_match": True, "hash_match": None, "spark_rows": 3, "err": "no_oracle"}
    )
    # hash proof stays green
    assert row_is_green(
        {"rows_match": True, "hash_match": True, "spark_rows": 3, "err": None}
    )
    # executed-with-rows, no oracle field at all
    assert row_is_green({"rows_match": None, "spark_rows": 0, "err": None})
    # hard error is not green
    assert not row_is_green({"spark_rows": -1, "err": "boom"})
