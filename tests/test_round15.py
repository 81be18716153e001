"""Round-15 regression tests.

1. DLQ orphan-sidecar sweep chaos coverage (VERDICT r14 §Next #7 +
   ADVICE r14 #2): a crash injected BETWEEN the sidecar write and the
   data-file write in ``spill_batch`` leaves a genuine orphan; the
   age-gated sweep must reclaim it once aged — and must NOT touch a
   fresh sidecar (the normal transient state of a live in-flight
   spill), so a spill that completes after a concurrent replay still
   replays under its ORIGINAL chunk key (the TOCTOU double-delivery
   hole the age gate closes).
"""

from __future__ import annotations

import gzip
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


def _mk_config(mock_api, tmp_path, scope):
    from concurrent_etl_go_spark.sinks.http_sink import HttpSinkConfig

    return HttpSinkConfig(
        endpoint=mock_api.endpoint,
        dlq_dir=str(tmp_path / "dlq"),
        idempotency_scope=scope,
    )


def test_crash_mid_spill_orphan_reclaimed_once_aged(
    mock_api, tmp_path, monkeypatch
):
    """Kill spill_batch between the sidecar and data writes; the orphan
    survives an immediate replay (age gate) and is reclaimed by the
    next replay after aging."""
    from concurrent_etl_go_spark.sinks import http_sink
    from concurrent_etl_go_spark.sinks.dlq import replay_dlq_posts
    from concurrent_etl_go_spark.sinks.http_sink import spill_batch

    config = _mk_config(mock_api, tmp_path, "run15")

    real_open = gzip.open

    def crash_open(*a, **k):  # the injected kill point
        raise OSError("injected crash between sidecar and data write")

    monkeypatch.setattr(http_sink.gzip, "open", crash_open)
    with pytest.raises(OSError, match="injected crash"):
        spill_batch(json.dumps([{"a": 1}]).encode(), 0, config, idem_key="run15/p0/c0")
    monkeypatch.setattr(http_sink.gzip, "open", real_open)

    orphan = os.path.join(
        config.dlq_dir, "buffer_failed_worker0_run15-p0-c0.json.gz.key"
    )
    assert os.path.exists(orphan), "crash must leave the sidecar orphan"
    assert not os.path.exists(orphan[: -len(".key")])

    # immediate replay: the fresh orphan is indistinguishable from a
    # live spill -> the age gate must leave it alone
    replayed, remaining = replay_dlq_posts(config.dlq_dir, config)
    assert (replayed, remaining) == (0, 0)
    assert os.path.exists(orphan), "fresh orphan must survive the sweep"

    # age it past the gate -> the next replay reclaims it
    old = time.time() - 3600
    os.utime(orphan, (old, old))
    replay_dlq_posts(config.dlq_dir, config)
    assert not os.path.exists(orphan), "aged orphan must be swept"


def test_sweep_spares_live_spill_sidecar_toctou(mock_api, tmp_path):
    """The TOCTOU scenario from ADVICE r14 #2 end-to-end: a replay runs
    while a spill is mid-flight (sidecar written, data not yet); the
    data file then lands; the NEXT replay must POST under the ORIGINAL
    chunk key, not the dlq/<filename> fallback."""
    from concurrent_etl_go_spark.sinks.dlq import replay_dlq_posts
    from concurrent_etl_go_spark.sinks.http_sink import spill_batch

    config = _mk_config(mock_api, tmp_path, "run16")
    os.makedirs(config.dlq_dir, exist_ok=True)

    # mid-flight spill: sidecar exists, data file not yet written
    sidecar = os.path.join(
        config.dlq_dir, "buffer_failed_worker3_run16-p3-c7.json.gz.key"
    )
    with open(sidecar, "w", encoding="utf-8") as fh:
        fh.write("run16/p3/c7")

    # concurrent replay fires NOW — with the un-gated sweep this
    # deleted the live sidecar
    replay_dlq_posts(config.dlq_dir, config)
    assert os.path.exists(sidecar), "live sidecar must survive the sweep"

    # the spill completes (same deterministic name), then a later
    # replay delivers it
    path = spill_batch(json.dumps([{"a": 7}]).encode(), 3, config, idem_key="run16/p3/c7")
    assert path + ".key" == sidecar
    replayed, remaining = replay_dlq_posts(config.dlq_dir, config)
    assert (replayed, remaining) == (1, 0)
    keys = [r.idem_key for r in mock_api.state.requests if r.idem_key]
    assert "run16/p3/c7" in keys, "replay must use the ORIGINAL chunk key"
    assert not any(k.startswith("dlq/") for k in keys), (
        "fallback dlq/<filename> key means the sidecar was lost — the "
        "double-delivery hole is open"
    )


# ---------------------------------------------------------------------------
# 2. Round-15 optimization internals.
# ---------------------------------------------------------------------------


def test_parallelize_narrow_scan_spreads_single_split(spark, sf_dir):
    """A single-row-group parquet scan repartitions to session
    parallelism; an input already at/above parallelism passes through
    unchanged (no exchange added)."""
    from concurrent_etl_go_spark.operators.lib import parallelize_narrow_scan
    from concurrent_etl_go_spark.sources.readers import read_table

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    par = spark.sparkContext.defaultParallelism
    assert li.rdd.getNumPartitions() < par, (
        "fixture assumption: the testdata parquet is a single split"
    )
    spread = parallelize_narrow_scan(li, "l_orderkey")
    # the exchange is present in the plan (its runtime partition count
    # is AQE's size-adaptive decision, deliberately not pinned here)
    plan = spread._jdf.queryExecution().optimizedPlan().toString()
    assert "l_orderkey" in plan and "Repartition" in plan
    # row-identical
    assert sorted(map(tuple, spread.collect())) == sorted(
        map(tuple, li.collect())
    )
    # already-parallel input is returned unchanged (same plan object)
    wide = spark.range(0, 1000, 1, numPartitions=par).selectExpr(
        "id AS l_orderkey", "id AS l_partkey"
    )
    assert parallelize_narrow_scan(wide, "l_orderkey") is wide
