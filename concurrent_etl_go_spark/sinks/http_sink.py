"""Chunked HTTP JSON sink with DLQ spill — the reference's load stage.

Reference behavior re-expressed (etl/main.go:240-305,378-394):

- micro-batch accumulate + threshold flush at 200 rows (S14) with a final
  partial flush per lane (S15) -> chunked iteration inside one
  ``rdd.mapPartitions(...).collect()`` job (partitions are the lanes; one
  shuffle upstream routes rows to lanes),
- JSON array payload (S17), POST with Authorization + Content-Type and a
  client timeout (S18),
- on failure, spill the batch as gzip JSON to the DLQ (S19) — with UNIQUE
  filenames per spill: the reference's per-worker ``os.Create`` overwrite
  (which silently loses earlier failed batches in the same run,
  etl/main.go:379) is a deliberate deviation documented in SURVEY §7.4.2,
- bounded retry with backoff before spilling (engine extension; default 0
  retries matches the reference's single attempt).

Everything runs executor-side; the driver never sees a row.
"""

from __future__ import annotations

import gzip
import json
import os
import time
import urllib.error
import urllib.request
import uuid
from collections.abc import Iterable, Iterator
from dataclasses import dataclass

from pyspark import TaskContext
from pyspark.sql import DataFrame


@dataclass(frozen=True)
class HttpSinkConfig:
    """Engine config for the sink (the reference hard-codes these at
    etl/main.go:59-66)."""

    endpoint: str
    auth_token: str = ""
    batch_size: int = 200
    timeout_s: float = 15.0
    max_retries: int = 0
    backoff_s: float = 0.5
    dlq_dir: str = "dlq"
    #: When non-empty, every POST carries an ``Idempotency-Key`` header
    #: of ``{scope}/p{partition}/c{chunk_seq}`` — deterministic for a
    #: replayed epoch (the file source pins a batch's files in the
    #: offset WAL, so a foreachBatch replay regenerates the same chunks
    #: in the same partitions).  A key-deduplicating receiver turns the
    #: sink's at-least-once delivery into effectively-once.
    idempotency_scope: str = ""


def chunked(rows: Iterable[dict], size: int) -> Iterator[list[dict]]:
    """Threshold flush (S14) + final partial flush (S15) as a chunker."""
    batch: list[dict] = []
    for row in rows:
        batch.append(row)
        if len(batch) >= size:
            yield batch
            batch = []
    if batch:
        yield batch


def _json_default(value):
    """Serialize non-JSON-native Spark row values (datetime/date/Decimal,
    bytearray) instead of failing the task — a timestamp column must not be
    able to take down the sink stage."""
    if isinstance(value, (bytes, bytearray)):
        return value.hex()
    return str(value)


def post_batch(
    batch: list[dict], config: HttpSinkConfig, idem_key: str = ""
) -> None:
    """One JSON-array POST (S17/S18). Raises on non-2xx or transport error.

    ``idem_key``, when non-empty, rides as an ``Idempotency-Key`` header
    so a replayed delivery (foreachBatch epoch replay, DLQ re-post after
    a crash between ack and delete) is detectable by the receiver."""
    payload = json.dumps(batch, default=_json_default).encode("utf-8")
    headers = {
        "Content-Type": "application/json",
        "Authorization": f"Bearer {config.auth_token}",
    }
    if idem_key:
        headers["Idempotency-Key"] = idem_key
    req = urllib.request.Request(
        config.endpoint, data=payload, method="POST", headers=headers
    )
    with urllib.request.urlopen(req, timeout=config.timeout_s) as resp:
        if not (200 <= resp.status < 300):
            raise RuntimeError(f"sink returned {resp.status}")


def spill_batch(
    batch: list[dict],
    worker_id: int,
    config: HttpSinkConfig,
    idem_key: str = "",
) -> str:
    """DLQ spill (S19): gzip JSON array, unique filename per spill.

    With an idempotency key the filename is DETERMINISTIC (derived from
    the key): a replayed epoch that re-spills the same chunk overwrites
    its own earlier spill with identical content instead of minting a
    second file — without this, a kill mid-epoch would leave two spill
    files for one chunk and the DLQ replay would double-deliver.
    Unkeyed spills keep the unique uuid name (the documented fix of the
    reference's per-worker overwrite, etl/main.go:379).

    The ORIGINAL chunk key is persisted in a ``<path>.key`` sidecar
    (written BEFORE the data file, so a keyed spill can never exist
    without its key) and reused verbatim by ``replay_dlq_posts`` — the
    replay must POST under the same key the direct path used, else a
    crash-after-spill epoch replay (which re-POSTs the chunk under its
    original key) plus a later DLQ replay (under a different key) would
    double-apply the rows at a key-deduplicating receiver."""
    os.makedirs(config.dlq_dir, exist_ok=True)
    tag = (
        idem_key.replace("/", "-")
        if idem_key
        else uuid.uuid4().hex
    )
    fname = f"buffer_failed_worker{worker_id}_{tag}.json.gz"
    path = os.path.join(config.dlq_dir, fname)
    if idem_key:
        with open(path + ".key", "w", encoding="utf-8") as fh:
            fh.write(idem_key)
    with gzip.open(path, "wt", encoding="utf-8") as fh:
        json.dump(batch, fh, default=_json_default)
    return path


def sink_partition(rows, config: HttpSinkConfig) -> tuple[int, int]:
    """Per-partition sink loop: chunk -> POST (with bounded retry) -> spill
    on exhausted retries. Runs on the executor; returns (posted, spilled) rows."""
    posted = spilled = 0
    ctx = TaskContext.get()
    worker_id = ctx.partitionId() if ctx is not None else 0
    dicts = (row.asDict(recursive=True) for row in rows)
    for seq, batch in enumerate(chunked(dicts, config.batch_size)):
        idem_key = (
            f"{config.idempotency_scope}/p{worker_id}/c{seq}"
            if config.idempotency_scope
            else ""
        )
        attempt = 0
        while True:
            try:
                post_batch(batch, config, idem_key)
                posted += len(batch)
                break
            # TypeError: belt-and-braces — if a payload still defies JSON
            # encoding the batch must spill, not fail the Spark task.
            except (urllib.error.URLError, OSError, RuntimeError, TypeError):
                if attempt >= config.max_retries:
                    spill_batch(batch, worker_id, config, idem_key)
                    spilled += len(batch)
                    break
                time.sleep(config.backoff_s * (2**attempt))
                attempt += 1
    return posted, spilled


def run_http_sink(df: DataFrame, config: HttpSinkConfig) -> tuple[int, int]:
    """Sink a DataFrame: each partition is a lane (route upstream with
    ``repartition(n_lanes, key)`` — see plans.route_lanes). One
    ``rdd.mapPartitions(...).collect()`` job; returns ``(rows_posted,
    rows_spilled)`` summed from the task results, which count once per
    partition."""
    parts = df.rdd.mapPartitions(lambda rows: [sink_partition(rows, config)])
    counts = parts.collect()
    return sum(p for p, _ in counts), sum(s for _, s in counts)
