"""Chunked HTTP JSON sink with DLQ spill — the reference's load stage.

Reference behavior re-expressed (etl/main.go:240-305,378-394):

- micro-batch accumulate + threshold flush at 200 rows (S14) with a final
  partial flush per lane (S15) -> chunked iteration inside one
  ``rdd.mapPartitions(...).collect()`` job (partitions are the lanes; one
  shuffle upstream routes rows to lanes),
- JSON array payload (S17), POST with Authorization + Content-Type and a
  client timeout (S18),
- on failure, spill the batch as gzip JSON to the DLQ (S19) — the same
  bytes that were POSTed, with UNIQUE filenames per spill: the
  reference's per-worker ``os.Create`` overwrite (which silently loses
  earlier failed batches in the same run, etl/main.go:379) is a
  deliberate deviation documented in SURVEY §7.4.2,
- bounded retry with backoff before spilling (engine extension; default 0
  retries matches the reference's single attempt).

Everything runs executor-side; the driver never sees a row.

Wire contract. Each row is encoded once, in the JVM, as one JSON object
(``to_json`` over a struct of the row's columns, ``encode_rows``); a
batch is those documents joined as ``[doc,doc,...]``:

- top-level decimal columns are sent as their plain string
  (``.cast("string")``, ``1.23`` -> ``"1.23"``),
- top-level binary columns are sent as lowercase hex (``"0102"``),
- NULL fields stay as explicit ``null`` keys (``ignoreNullFields`` off),
- everything else, nested values included, is Spark's JSON writer:
  timestamps are ISO-8601 in the session time zone, dates
  ``yyyy-MM-dd``, NaN and +-Infinity the strings ``"NaN"``,
  ``"Infinity"`` and ``"-Infinity"``, floats at their own precision,
  compact separators. ``sinks.dlq.read_dlq`` reads all of these back.
"""

from __future__ import annotations

import gzip
import os
import time
import urllib.error
import urllib.request
import uuid
from collections.abc import Iterable, Iterator
from dataclasses import dataclass

from pyspark import TaskContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


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


def chunked(items: Iterable, size: int) -> Iterator[list]:
    """Threshold flush (S14) + final partial flush (S15) as a chunker."""
    batch: list = []
    for item in items:
        batch.append(item)
        if len(batch) >= size:
            yield batch
            batch = []
    if batch:
        yield batch


def _wire_column(field: T.StructField) -> Column:
    """A top-level column as the wire contract sends it (module docstring)."""
    col = F.col("`" + field.name.replace("`", "``") + "`")
    if isinstance(field.dataType, T.DecimalType):
        col = col.cast("string")
    elif isinstance(field.dataType, T.BinaryType):
        col = F.lower(F.hex(col))
    return col.alias(field.name)


def encode_rows(df: DataFrame) -> DataFrame:
    """One string column ``doc``: each row as a JSON object, encoded in the
    JVM by Spark's JSON writer. A projection, so the partitions (the sink's
    lanes) are kept as they are."""
    row = F.struct(*[_wire_column(f) for f in df.schema.fields])
    return df.select(
        F.to_json(row, {"ignoreNullFields": "false"}).alias("doc")
    )


def post_batch(payload: bytes, config: HttpSinkConfig, idem_key: str = "") -> None:
    """One JSON-array POST (S17/S18) of the encoded ``payload``. Raises on
    non-2xx or transport error.

    ``idem_key``, when non-empty, rides as an ``Idempotency-Key`` header
    so a replayed delivery (foreachBatch epoch replay, DLQ re-post after
    a crash between ack and delete) is detectable by the receiver."""
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
    payload: bytes,
    worker_id: int,
    config: HttpSinkConfig,
    idem_key: str = "",
) -> str:
    """DLQ spill (S19): the encoded JSON-array ``payload``, gzipped, unique
    filename per spill — a failed batch's file holds exactly the bytes
    that were POSTed.

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
    with gzip.open(path, "wb") as fh:
        fh.write(payload)
    return path


def sink_partition(docs: Iterable[str], config: HttpSinkConfig) -> tuple[int, int]:
    """Per-partition sink loop over JSON documents: chunk -> join into one
    ``[doc,doc,...]`` payload -> POST (with bounded retry) -> spill the
    payload on exhausted retries. Runs on the executor; returns (posted,
    spilled) rows."""
    posted = spilled = 0
    ctx = TaskContext.get()
    worker_id = ctx.partitionId() if ctx is not None else 0
    for seq, batch in enumerate(chunked(docs, config.batch_size)):
        payload = ("[" + ",".join(batch) + "]").encode("utf-8")
        idem_key = (
            f"{config.idempotency_scope}/p{worker_id}/c{seq}"
            if config.idempotency_scope
            else ""
        )
        attempt = 0
        while True:
            try:
                post_batch(payload, config, idem_key)
                posted += len(batch)
                break
            except (urllib.error.URLError, OSError, RuntimeError):
                if attempt >= config.max_retries:
                    spill_batch(payload, worker_id, config, idem_key)
                    spilled += len(batch)
                    break
                time.sleep(config.backoff_s * (2**attempt))
                attempt += 1
    return posted, spilled


def run_http_sink(df: DataFrame, config: HttpSinkConfig) -> tuple[int, int]:
    """Sink a DataFrame: each partition is a lane (route upstream with
    ``repartition(n_lanes, key)`` — see plans.route_lanes). Rows are
    encoded in the JVM (``encode_rows``), so the Python tasks only join,
    POST and spill bytes. One ``rdd.mapPartitions(...).collect()`` job;
    returns ``(rows_posted, rows_spilled)`` summed from the task results,
    which count once per partition."""
    parts = encode_rows(df).rdd.mapPartitions(
        lambda rows: [sink_partition((row[0] for row in rows), config)]
    )
    counts = parts.collect()
    return sum(p for p, _ in counts), sum(s for _, s in counts)
