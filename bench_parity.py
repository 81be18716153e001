#!/usr/bin/env python
"""Latency-parity benchmark (BASELINE.md target #2).

Reproduces the reference's measured run shape: 4,000 devices through a
6 s-delay extract with ~1000-way effective fan-out, 10 lanes, 200-row
batches, 2 s-delay sink. The reference measures 26.07 s wall
(decoded etl/cpu.prof; analytic floor = ceil(4000/1000) x 6 s = 24 s
extract + ~2 s final flush).

Engine equivalent: a budget of 32 partitions x 32 threads/partition =
1,024 in-flight fetches. The budget runs on at most one partition per task
slot: on fewer than 32 cores ``run_etl`` folds the partitions into one per
slot with wider pools, so ~1,024 fetches are in flight on any core count.
Prints one JSON line: walls, analytic floor, warm-run RunReport.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)
sys.path.insert(0, os.path.join(REPO_ROOT, "tests"))

N_DEVICES = 4000
EXTRACT_DELAY_S = 6.0
SINK_DELAY_S = 2.0
FANOUT_PARTITIONS = 32
CONCURRENCY_PER_PARTITION = 32


def main() -> None:
    from concurrent_etl_go_spark.engine import run_etl
    from concurrent_etl_go_spark.operators.extract import ExtractorConfig
    from concurrent_etl_go_spark.session import get_spark
    from concurrent_etl_go_spark.sinks import HttpSinkConfig
    from mock_api import MockApiServer

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="bench-parity", master=f"local[{cpus}]")

    tmp = tempfile.mkdtemp()
    csv_path = os.path.join(tmp, "appliances.csv")
    with open(csv_path, "w") as fh:
        for i in range(N_DEVICES):
            fh.write(f"192.168.{i // 256}.{i % 256},device-{i}\n")

    server = MockApiServer().start()
    server.state.delay_s = SINK_DELAY_S
    try:
        extractor = ExtractorConfig(
            timeout_s=EXTRACT_DELAY_S + 2.0,
            simulate_delay_s=EXTRACT_DELAY_S,
            concurrency=CONCURRENCY_PER_PARTITION,
        )

        def one_run(tag: str, cfg: ExtractorConfig, delay_s: float) -> tuple:
            server.state.delay_s = delay_s
            sink = HttpSinkConfig(
                endpoint=server.endpoint,
                auth_token="parity",
                batch_size=200,
                timeout_s=15.0,
                dlq_dir=os.path.join(tmp, f"dlq-{tag}"),
            )
            start = time.perf_counter()
            # lanes=None: no routing shuffle, so each task pipelines
            # fetch -> transform -> POST exactly like the reference's
            # channel-overlapped extract/load stages.
            report = run_etl(
                spark,
                csv_path,
                sink,
                extractor=cfg,
                lanes=None,
                fanout_partitions=FANOUT_PARTITIONS,
            )
            return round(time.perf_counter() - start, 2), report

        # Cold run: includes one-time engine initialization (whole-stage
        # codegen, Python worker pool spawn, reader setup) on top of the
        # pipeline itself.
        cold_wall, report = one_run("cold", extractor, SINK_DELAY_S)
        # Engine-warm run: the steady-state number. The reference's Go
        # process pays ~ms of runtime startup, so the warm wall is the
        # apples-to-apples pipeline comparison; cold_wall is reported
        # alongside for transparency.
        wall, report = one_run("warm", extractor, SINK_DELAY_S)
    finally:
        server.stop()

    fanout = FANOUT_PARTITIONS * CONCURRENCY_PER_PARTITION
    floor = -(-N_DEVICES // fanout) * EXTRACT_DELAY_S
    print(
        json.dumps(
            {
                "metric": "latency_parity_wall",
                "value": wall,
                "unit": "sec",
                "cold_wall_sec": cold_wall,
                "reference_wall_sec": 26.07,
                "analytic_floor_sec": floor,
                "devices": N_DEVICES,
                "rows_delivered": report.delivered_rows,
                "rows_spilled": report.spilled_rows,
                "rows_quarantined": report.quarantined_rows,
                "phases_s": report.phases,
                "config": {
                    "extract_delay_s": EXTRACT_DELAY_S,
                    "sink_delay_s": SINK_DELAY_S,
                    "fanout": fanout,
                    "lanes": "pipelined (no routing shuffle)",
                    "batch_size": 200,
                },
            }
        )
    )


if __name__ == "__main__":
    main()
