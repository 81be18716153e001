"""Per-row enrichment fetch — the reference's extract stage (S4/S5/S6).

Reference (etl/main.go:188-207): for each appliance, fetch CpuStats from
the device with a context deadline (delay + 2 s); fetch errors drop the row
with a log line (etl/main.go:134-138).

Engine restatement: a pluggable ``Extractor`` executed inside
``mapInPandas`` — executor-side, batch-at-a-time, never a driver loop. The
fetch returns ``(payload..., error)``; a quarantine split routes failed
rows to their own DataFrame instead of silently dropping (the drop remains
one ``where`` away for strict parity). The semaphore fan-out cap (S13,
1000 goroutines) maps to partitions x pool width, laid out by
``fanout_shape`` so the budget runs on at most one partition per task slot;
inside a partition, ``fan_out`` runs ``concurrency`` drain workers over a
shared queue of rows.
"""

from __future__ import annotations

import time
from collections import deque
from collections.abc import Callable, Iterator, Sequence
from concurrent.futures import Executor, ThreadPoolExecutor
from dataclasses import dataclass

import pandas as pd
from pyspark import Accumulator
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from concurrent_etl_go_spark import schemas

# Output shape: CpuStats fields + error column (None == success).
EXTRACT_RESULT = T.StructType(
    schemas.CPU_STATS.fields + [T.StructField("error", T.StringType(), True)]
)

FetchFn = Callable[[str, str], dict]


@dataclass(frozen=True)
class ExtractorConfig:
    """Reference constants: 6 s simulated delay, +2 s deadline margin,
    1000-way fan-out (etl/main.go:60,65,189-190).

    ``concurrency`` is the per-partition thread-pool width. The reference's
    semaphore allows 1000 in-flight fetches; Spark tasks are thread-bound,
    so sleeping 6 s per row serially would take partitions x cores x 6 s.
    The per-partition pool restores the fan-out as ``concurrency`` drain
    workers over a shared queue (``fan_out``): the in-flight budget is
    partitions x concurrency (e.g. 32 partitions x 32 threads ~ 1000), and
    the budget runs on at most one partition per task slot — ``run_etl``
    folds surplus partitions into wider pools (``fanout_shape``), so the
    whole budget is in flight in one wave. A connection pool per partition,
    not per row, is also the production design for high-latency I/O
    enrichment."""

    timeout_s: float = 8.0
    simulate_delay_s: float = 0.0
    concurrency: int = 32


def fanout_shape(partitions: int, concurrency: int, slots: int) -> tuple[int, int]:
    """``(parts, width)`` that keeps the in-flight budget ``partitions x
    concurrency`` on at most one partition per task slot: Spark runs only
    ``slots`` tasks at once, so surplus partitions would queue in waves."""
    parts = min(partitions, slots)
    return parts, -(-partitions * concurrency // parts)


def guarded_fetch(
    fetch_fn: FetchFn, clock: Callable[[], int], timeout_s: float, delay_s: float
) -> Callable[[str, str], dict]:
    """One extract row per call: stamped by ``clock`` (etl/main.go:202),
    held to the per-call deadline (S5), and a failed fetch becomes a row
    whose ``error`` is set instead of an exception."""

    def fetch_one(ip: str, hostname: str) -> dict:
        start = time.monotonic()
        row = {
            "name": hostname,
            "timestamp": clock(),
            "cpu_number": None,
            "p_idle": None,
            "p_user": None,
            "p_sys": None,
            "p_irq": None,
            "p_nice": None,
            "error": None,
        }
        try:
            if delay_s:
                time.sleep(delay_s)
            payload = fetch_fn(ip, hostname)
            if time.monotonic() - start > timeout_s:
                raise TimeoutError(f"fetch exceeded {timeout_s}s deadline")
            row.update(payload)
        except Exception as exc:  # noqa: BLE001 — quarantine, don't fail task
            row["error"] = f"{type(exc).__name__}: {exc}"
        return row

    return fetch_one


def fan_out(
    fetch: Callable[[str, str], dict],
    ips: Sequence[str],
    hostnames: Sequence[str],
    width: int,
    pool: Executor,
) -> list[dict]:
    """``fetch`` every row with at most ``width`` calls in flight — the
    reference's semaphore (S13). ``min(width, n)`` long-lived workers on
    ``pool`` pop row indices from one shared deque, so a freed worker takes
    the next row at once and no row pays for its own future; results come
    back in input order."""
    out = [None] * len(ips)
    todo = deque(range(len(ips)))

    def drain() -> None:
        pop = todo.popleft
        while True:
            try:
                i = pop()
            except IndexError:
                return
            out[i] = fetch(ips[i], hostnames[i])

    for worker in [pool.submit(drain) for _ in range(min(width, len(ips)))]:
        worker.result()
    return out


def synthetic_fetch(ip: str, hostname: str) -> dict:
    """Deterministic stand-in for the reference's canned CpuStats response
    (etl/main.go:195-203): stringly-typed numerics, cpu '0'."""
    seed = sum(ip.encode()) % 100
    return {
        "cpu_number": "0",
        "p_idle": str(seed),
        "p_user": "1.5",
        "p_sys": "2",
        "p_irq": "0.5",
        "p_nice": "3",
    }


def run_extract(
    appliances: DataFrame,
    fetch_fn: FetchFn = synthetic_fetch,
    config: ExtractorConfig = ExtractorConfig(),
    clock: Callable[[], int] | None = None,
    quarantined: Accumulator | None = None,
    fetched: Accumulator | None = None,
) -> DataFrame:
    """Fetch per appliance inside ``mapInPandas`` (S4), stamping the extract
    timestamp (etl/main.go:202) and enforcing the per-call deadline (S5).
    Fetch failures become error rows, counted into ``quarantined`` if given;
    successful fetches are counted into ``fetched`` if given."""
    fetch_one = guarded_fetch(
        fetch_fn,
        clock or (lambda: int(time.time())),
        config.timeout_s,
        config.simulate_delay_s,
    )
    concurrency = max(1, config.concurrency)

    def fetch_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        with ThreadPoolExecutor(max_workers=concurrency) as pool:
            for pdf in it:
                out = fan_out(
                    fetch_one,
                    pdf["ip"].tolist(),
                    pdf["hostname"].tolist(),
                    concurrency,
                    pool,
                )
                failed = sum(row["error"] is not None for row in out)
                if quarantined is not None:
                    quarantined.add(failed)
                if fetched is not None:
                    fetched.add(len(out) - failed)
                yield pd.DataFrame(
                    out, columns=[f.name for f in EXTRACT_RESULT]
                )

    return appliances.mapInPandas(fetch_batches, EXTRACT_RESULT)


def quarantine_split(extracted: DataFrame) -> tuple[DataFrame, DataFrame]:
    """S6: split fetch results into (ok, quarantined). The reference drops
    failures after logging (etl/main.go:134-138); the engine keeps them
    addressable."""
    ok = extracted.where(F.col("error").isNull()).drop("error")
    failed = extracted.where(F.col("error").isNotNull())
    return ok, failed
