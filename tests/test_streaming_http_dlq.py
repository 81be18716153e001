"""Kill-restart exactly-once proof for the streaming HTTP sink + DLQ.

The round-11 sessionizer restart test proved state recovery; this file
extends the same hard-kill pattern to the delivery path
(``streaming/pipelines.py::stream_to_http_idempotent``): kill the query
MID-BACKLOG while the mock server is failing (chunks spill to the DLQ),
restart from the checkpoint with the server healthy, drain, replay the
DLQ — and assert NO ROW IS LOST and NONE DOUBLE-APPLIES at a
key-deduplicating receiver, under every crash window the design admits:

- kill between epochs        -> epoch ledger skips committed epochs;
- kill mid-epoch             -> replayed chunks carry the same
                                deterministic Idempotency-Key, the
                                receiver drops them; re-spilled chunks
                                overwrite their own earlier spill file
                                (deterministic spill names);
- crash between DLQ re-POST ack and file delete
                             -> the filename IS the key, the second
                                replay deduplicates at the receiver.
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from concurrent_etl_go_spark.sinks import (
    HttpSinkConfig,
    dlq_files,
    replay_dlq_posts,
)
from concurrent_etl_go_spark.sinks.http_sink import post_batch
from concurrent_etl_go_spark.sources.readers import read_table
from concurrent_etl_go_spark.streaming.pipelines import (
    stream_to_http_idempotent,
)
from tests.conftest import SF_SMOKE
from tests.mock_api import MockApiServer

N_FILES = 6


@pytest.fixture()
def mock_api():
    server = MockApiServer().start()
    yield server
    server.stop()


def _event_ids_received(server) -> list[int]:
    with server.state.lock:
        return [
            int(row["event_id"])
            for req in server.state.requests
            for row in req.batch
        ]


def _start(spark, src_dir, ck_dir, config, ledger_dir):
    sdf = (
        spark.readStream.schema(
            spark.read.parquet(src_dir).schema
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    return stream_to_http_idempotent(sdf, config, ck_dir, ledger_dir)


def test_http_stream_kill_restart_no_loss_no_dup(
    spark, tmp_path, mock_api
):
    """Hard kill mid-backlog with the sink failing, restart healthy,
    drain, replay the DLQ: the receiver applies every source row exactly
    once."""
    ev = read_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "src")
    for i in range(N_FILES):
        ev.where(F.col("event_id") % N_FILES == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    expected_ids = {r.event_id for r in ev.select("event_id").collect()}

    ck = str(tmp_path / "ck")
    ledger = str(tmp_path / "ledger")
    dlq = str(tmp_path / "dlq")
    config = HttpSinkConfig(
        endpoint=mock_api.endpoint,
        auth_token="test-token",
        batch_size=97,  # multiple chunks per epoch, plus a partial
        dlq_dir=dlq,
    )
    mock_api.state.dedup_keys = True
    mock_api.state.fail_all = True  # everything spills at first

    # phase 1: let at least one epoch commit against the failing
    # server, then hard-kill mid-backlog (not a clean drain)
    q = _start(spark, src, ck, config, ledger)
    try:
        deadline = time.monotonic() + 120
        while not os.listdir(ledger) and time.monotonic() < deadline:
            time.sleep(0.2)
        assert os.listdir(ledger), "no epoch committed before kill"
    finally:
        q.stop()
    committed_before_kill = len(os.listdir(ledger))
    assert committed_before_kill < N_FILES, "backlog fully drained; kill too late"
    assert dlq_files(dlq), "failing server must have spilled chunks"

    # phase 2: server heals; restart from the checkpoint and drain
    mock_api.state.fail_all = False
    q = _start(spark, src, ck, config, ledger)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(os.listdir(ledger)) == N_FILES

    # phase 3: replay the spilled chunks (ack-then-delete, keyed)
    replayed, remaining = replay_dlq_posts(dlq, config)
    assert replayed > 0 and remaining == 0

    got = _event_ids_received(mock_api)
    assert len(got) == len(set(got)), "receiver applied a row twice"
    assert set(got) == expected_ids, "rows lost in kill/restart"


def test_committed_epoch_skips_on_replay(spark, tmp_path, mock_api):
    """An epoch whose ledger marker exists must do zero sink work when
    foreachBatch replays it (the restart-after-commit crash window)."""
    ev = read_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id"
    ).limit(10)
    src = str(tmp_path / "src1")
    ev.coalesce(1).write.parquet(src)

    ck = str(tmp_path / "ck1")
    ledger = str(tmp_path / "ledger1")
    config = HttpSinkConfig(
        endpoint=mock_api.endpoint, dlq_dir=str(tmp_path / "dlq1")
    )
    mock_api.state.dedup_keys = True
    q = _start(spark, src, ck, config, ledger)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_posts = len(mock_api.state.requests)
    assert n_posts > 0 and len(os.listdir(ledger)) == 1

    # delete the checkpoint (so the restarted query replays epoch 0
    # from scratch) but keep the ledger: the sink must skip entirely
    import shutil

    shutil.rmtree(ck)
    q = _start(spark, src, ck, config, ledger)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(mock_api.state.requests) == n_posts
    assert mock_api.state.duplicate_posts == 0  # skipped, not deduped


def test_dlq_replay_crash_between_ack_and_delete(tmp_path, mock_api):
    """A replay that crashes after the 2xx ack but before the delete
    re-sends the file under the SAME filename-key next time; the
    receiver deduplicates, the second replay deletes the file, and the
    applied row set is unchanged."""
    from concurrent_etl_go_spark.sinks import dlq as dlq_mod
    from concurrent_etl_go_spark.sinks.http_sink import spill_batch

    dlq = str(tmp_path / "dlq2")
    config = HttpSinkConfig(endpoint=mock_api.endpoint, dlq_dir=dlq)
    mock_api.state.dedup_keys = True
    batch = json.dumps([{"event_id": i, "value": i * 1.5} for i in range(5)]).encode()
    spill_batch(batch, worker_id=3, config=config, idem_key="e7/p3/c0")
    assert len(dlq_files(dlq)) == 1

    # first replay: ack lands, delete "crashes"
    real_remove = os.remove
    calls = {"n": 0}

    def flaky_remove(path):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("simulated crash between ack and delete")
        real_remove(path)

    os_remove = dlq_mod.os.remove
    dlq_mod.os.remove = flaky_remove
    try:
        with pytest.raises(OSError):
            replay_dlq_posts(dlq, config)
        assert len(dlq_files(dlq)) == 1  # file survived the crash
        # second replay: same key -> receiver dedups, file deleted
        replayed, remaining = replay_dlq_posts(dlq, config)
    finally:
        dlq_mod.os.remove = os_remove
    assert (replayed, remaining) == (1, 0)
    assert mock_api.state.duplicate_posts == 1
    ids = _event_ids_received(mock_api)
    assert sorted(ids) == [0, 1, 2, 3, 4]


def test_respill_same_key_overwrites_not_duplicates(tmp_path):
    """A replayed epoch that re-spills a chunk must overwrite its own
    earlier spill (deterministic filename), not mint a second file —
    otherwise DLQ replay double-delivers."""
    from concurrent_etl_go_spark.sinks.http_sink import spill_batch

    config = HttpSinkConfig(
        endpoint="http://127.0.0.1:9/load",  # never contacted
        dlq_dir=str(tmp_path / "dlq3"),
    )
    batch = json.dumps([{"event_id": 1}]).encode()
    p1 = spill_batch(batch, 0, config, idem_key="e2/p0/c1")
    p2 = spill_batch(batch, 0, config, idem_key="e2/p0/c1")
    assert p1 == p2 and len(dlq_files(config.dlq_dir)) == 1
    # unkeyed spills keep unique names (reference-overwrite fix)
    u1 = spill_batch(batch, 0, config)
    u2 = spill_batch(batch, 0, config)
    assert u1 != u2 and len(dlq_files(config.dlq_dir)) == 3


def test_dlq_replay_reuses_original_chunk_key(tmp_path, mock_api):
    """ADVICE r12 (high): an epoch that crashes AFTER spilling a chunk
    (no ledger marker) gets replayed, and the replay re-POSTs that chunk
    successfully under its ORIGINAL key — but the stale spill file
    remains.  ``replay_dlq_posts`` must then present the SAME original
    key (recovered from the ``.key`` sidecar), so the key-deduplicating
    receiver drops the delivery instead of double-applying the rows."""
    from concurrent_etl_go_spark.sinks.http_sink import spill_batch

    dlq = str(tmp_path / "dlq4")
    config = HttpSinkConfig(endpoint=mock_api.endpoint, dlq_dir=dlq)
    mock_api.state.dedup_keys = True
    batch = json.dumps([{"event_id": i} for i in range(4)]).encode()
    # epoch crash window: chunk spilled, no marker, query killed
    path = spill_batch(batch, worker_id=2, config=config, idem_key="e5/p2/c0")
    assert os.path.exists(path + ".key"), "keyed spill must write sidecar"
    # the epoch replay (server healthy now) re-POSTs under the original key
    post_batch(batch, config, idem_key="e5/p2/c0")
    # the stale spill file is still on disk; its replay must dedupe
    replayed, remaining = replay_dlq_posts(dlq, config)
    assert (replayed, remaining) == (1, 0)
    assert mock_api.state.duplicate_posts == 1, (
        "DLQ replay minted a fresh key — receiver double-applied the chunk"
    )
    ids = _event_ids_received(mock_api)
    assert sorted(ids) == [0, 1, 2, 3], "rows double-applied"
    assert not os.path.exists(path + ".key"), "sidecar must go with the file"


def test_post_batch_sends_idempotency_key(mock_api):
    """Wire check: the header rides the POST and is recorded."""
    config = HttpSinkConfig(endpoint=mock_api.endpoint, auth_token="t")
    post_batch(json.dumps([{"a": 1}]).encode(), config, idem_key="e0/p0/c0")
    post_batch(json.dumps([{"a": 2}]).encode(), config)  # unkeyed stays unkeyed
    keys = [r.idem_key for r in mock_api.state.requests]
    assert keys == ["e0/p0/c0", ""]
