"""DLQ replay — startup recovery for spilled batches.

Reference (etl/main.go:311-340): glob ``buffer_failed_worker*.json.gz``,
decode, re-enqueue, delete after enqueue. Engine deviations (SURVEY
§7.4.2/3, both strengthen durability):

- spill files have unique names (no overwrite loss),
- files are deleted only AFTER the run's sink acks (``clear_dlq`` is called
  by the orchestrator post-run, not at read time).

Replayed rows are a second source beside the extract: ``replay_union``
appends them to the transformed rows before the hash route, so a device's
replayed rows reach the same sink lane as its fresh ones (the reference
re-enqueues them into its loader lanes, etl/main.go:329-331). Nothing
counts them on their own: ``run_etl`` derives the replayed row count from
the sink's totals, so the DLQ files are read once, by the sink's job.

A spill file holds exactly the bytes its batch POSTed (the wire contract
in ``sinks.http_sink``), so ``replay_dlq_posts`` re-POSTs them as read.
"""

from __future__ import annotations

import glob
import gzip
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from concurrent_etl_go_spark.sinks.http_sink import post_batch


def dlq_files(dlq_dir: str) -> list[str]:
    """S20's glob: every spilled batch file."""
    return sorted(glob.glob(os.path.join(dlq_dir, "buffer_failed_worker*.json.gz")))


def read_dlq(spark: SparkSession, files: list[str], schema: T.StructType) -> DataFrame:
    """Read the spilled batches in ``files`` (S21), as listed by
    ``dlq_files``: the caller clears exactly the files it replayed.
    ``spark.read.json`` decompresses ``.gz`` transparently; the explicit
    schema avoids inference, so this plans a scan without running a job.
    Spark's JSON reader takes back everything the sink's writer emits,
    the quoted ``"NaN"``/``"Infinity"`` doubles included."""
    # each file is a JSON *array* -> multiLine mode parses it as rows
    return spark.read.schema(schema).option("multiLine", "true").json(files)


def replay_union(fresh: DataFrame, dlq: DataFrame) -> DataFrame:
    """Fresh rows, then the replayed rows unchanged (implicit union,
    SURVEY §2.A.1 set-ops row). The fresh side comes first so its
    partitions, the extract's long map tasks, get the lowest partition
    ids and launch first."""
    return fresh.unionByName(dlq)


def clear_dlq(paths: list[str]) -> None:
    """Delete spill files (and their ``.key`` sidecars) — call only after
    the sink acked the run that contained the replayed rows (stronger than
    the reference's delete-after-enqueue, etl/main.go:333-338)."""
    for path in paths:
        for target in (path, path + ".key"):
            if os.path.exists(target):
                os.remove(target)


def replay_dlq_posts(
    dlq_dir: str, config, orphan_min_age_s: float = 300.0
) -> tuple[int, int]:
    """Re-POST every spilled batch under its ORIGINAL idempotency key,
    ack-then-delete — the exactly-once half of the DLQ story. The body is
    the spill file's decompressed bytes, unchanged: the bytes the direct
    path POSTed.

    A keyed spill carries its chunk's original key in a ``<path>.key``
    sidecar (written by ``spill_batch`` before the data file); the
    replay re-POSTs under THAT key, not a fresh one.  This closes the
    crash-after-spill double-delivery hole: if an epoch crashes after
    spilling a chunk (no ledger marker), the epoch replay re-POSTs the
    chunk under its original key — so the DLQ replay of the stale spill
    file must present the SAME key for the receiver to dedupe it.  For
    unkeyed spills (no sidecar) the unique filename is the key
    (``dlq/<filename>``): minted once at spill time, so a crash between
    a successful re-POST and the delete re-sends under the same key.
    Files (and sidecars) are deleted only AFTER the 2xx ack (S20's fix
    of the reference's delete-after-enqueue); a failed re-POST leaves
    the file for the next replay.

    Orphan ``.key`` sidecars — left by a crash between the sidecar
    write and the data-file write in ``spill_batch``, or between the
    data-file delete and the sidecar delete below — are swept first:
    a sidecar whose data file no longer exists can never be replayed,
    and no other path removes it.  The sweep is AGE-GATED
    (``orphan_min_age_s``, default 5 minutes): sidecar-without-data is
    also the normal transient state of a LIVE spill (``spill_batch``
    deliberately writes the sidecar first), so an un-gated sweep racing
    an in-flight spill would delete the live sidecar and the eventual
    replay would POST under the fallback ``dlq/<filename>`` key instead
    of the original chunk key — reopening the crash-after-spill
    double-delivery hole the sidecar exists to close.  A genuine crash
    orphan only ages; a live spill writes its data file milliseconds
    after the sidecar, so the age gate separates the two states without
    requiring quiescence.

    Returns ``(replayed, remaining)`` file counts.  Driver-side by
    design: the DLQ is a local spill directory, bounded by failure
    volume, not data volume."""
    now = time.time()
    for sidecar in glob.glob(
        os.path.join(dlq_dir, "buffer_failed_worker*.json.gz.key")
    ):
        if os.path.exists(sidecar[: -len(".key")]):
            continue
        try:
            age = now - os.path.getmtime(sidecar)
        except OSError:
            continue  # vanished: its spill just completed — not an orphan
        if age >= orphan_min_age_s:
            os.remove(sidecar)

    replayed = 0
    files = dlq_files(dlq_dir)
    for path in files:
        with gzip.open(path, "rb") as fh:
            payload = fh.read()
        sidecar = path + ".key"
        if os.path.exists(sidecar):
            with open(sidecar, encoding="utf-8") as fh:
                key = fh.read().strip()
        else:
            key = f"dlq/{os.path.basename(path)}"
        try:
            post_batch(payload, config, idem_key=key)
        except Exception:  # noqa: BLE001 — leave the file for next replay
            continue
        os.remove(path)
        if os.path.exists(sidecar):
            os.remove(sidecar)
        replayed += 1
    return replayed, len(dlq_files(dlq_dir))
