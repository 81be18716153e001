"""Golden tests for the extract stage (S4/S5/S6): pluggable fetch inside
mapInPandas, deadline enforcement, quarantine split."""

from __future__ import annotations

import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import types as T

from concurrent_etl_go_spark.operators.extract import (
    EXTRACT_RESULT,
    ExtractorConfig,
    fan_out,
    fanout_shape,
    guarded_fetch,
    quarantine_split,
    run_extract,
    synthetic_fetch,
)


def make_appliances(spark, n=40):
    return spark.createDataFrame(
        [(f"192.168.0.{i}", f"device-{i}") for i in range(n)],
        "ip string, hostname string",
    )


def test_extract_result_is_cpu_stats_plus_error():
    assert EXTRACT_RESULT == T.StructType(
        [
            T.StructField("name", T.StringType(), True),
            T.StructField("timestamp", T.LongType(), True),
            T.StructField("cpu_number", T.StringType(), True),
            T.StructField("p_idle", T.StringType(), True),
            T.StructField("p_user", T.StringType(), True),
            T.StructField("p_sys", T.StringType(), True),
            T.StructField("p_irq", T.StringType(), True),
            T.StructField("p_nice", T.StringType(), True),
            T.StructField("error", T.StringType(), True),
        ]
    )


@pytest.mark.parametrize(
    "partitions_concurrency_slots, shape",
    [
        ((32, 32, 4), (4, 256)),
        ((32, 32, 32), (32, 32)),
        ((8, 32, 32), (8, 32)),
        ((33, 32, 4), (4, 264)),
    ],
)
def test_fanout_shape_keeps_the_budget_on_one_partition_per_slot(
    partitions_concurrency_slots, shape
):
    """Surplus partitions fold into wider pools: the budget partitions x
    concurrency stays, on at most ``slots`` partitions."""
    assert fanout_shape(*partitions_concurrency_slots) == shape


def _rows(n):
    return [f"10.0.0.{i}" for i in range(n)], [f"device-{i}" for i in range(n)]


def test_fan_out_fetches_every_row_once_in_input_order():
    """More workers than cores and a short switch interval: a row handed to
    two workers, or to none, shows up in the call count."""
    ips, hosts = _rows(2000)
    calls = []

    def fetch(ip, hostname):
        calls.append(ip)  # list.append is atomic under the GIL
        return {"ip": ip, "name": hostname}

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            out = fan_out(fetch, ips, hosts, 16, pool)
    finally:
        sys.setswitchinterval(interval)
    assert sorted(calls) == sorted(ips)
    assert [r["ip"] for r in out] == ips
    assert [r["name"] for r in out] == hosts


def test_fan_out_keeps_exactly_width_fetches_in_flight():
    """The first ``width`` fetches meet at a barrier, so they must all be in
    flight together, and stay in flight a little longer so that a surplus
    worker would start a row beside them; the pool is wider than ``width``,
    so the cap comes from ``fan_out`` itself."""
    width, n = 4, 20
    ips, hosts = _rows(n)
    barrier = threading.Barrier(width, timeout=10)
    lock = threading.Lock()
    started = 0
    inflight = peak = 0

    def fetch(ip, hostname):
        nonlocal started, inflight, peak
        with lock:
            started += 1
            first_wave = started <= width
            inflight += 1
            peak = max(peak, inflight)
        if first_wave:
            barrier.wait()
            time.sleep(0.05)
        with lock:
            inflight -= 1
        return {"ip": ip}

    with ThreadPoolExecutor(max_workers=2 * width) as pool:
        out = fan_out(fetch, ips, hosts, width, pool)
    assert [r["ip"] for r in out] == ips
    assert peak == width


def test_fan_out_turns_a_raising_fetch_into_an_error_row():
    def flaky_fetch(ip, hostname):
        if ip.endswith("3"):
            raise ConnectionError(f"unreachable {ip}")
        return synthetic_fetch(ip, hostname)

    ips, hosts = _rows(10)
    fetch = guarded_fetch(flaky_fetch, lambda: 1751450637, 8.0, 0.0)
    with ThreadPoolExecutor(max_workers=3) as pool:
        out = fan_out(fetch, ips, hosts, 3, pool)
    assert [r["name"] for r in out] == hosts
    assert [r["error"] is not None for r in out] == [i == 3 for i in range(10)]
    assert out[3]["error"] == "ConnectionError: unreachable 10.0.0.3"
    assert out[3]["timestamp"] == 1751450637 and out[3]["p_idle"] is None


def test_fan_out_of_no_rows_is_empty():
    with ThreadPoolExecutor(max_workers=2) as pool:
        assert fan_out(synthetic_fetch, [], [], 2, pool) == []


def test_extract_success_shape_and_timestamp(spark):
    fixed_clock = lambda: 1751450637  # noqa: E731
    out = run_extract(make_appliances(spark, 10), clock=fixed_clock)
    rows = out.collect()
    assert len(rows) == 10
    for r in rows:
        assert r.error is None
        assert r.timestamp == 1751450637  # stamped at extract (S4)
        assert r.cpu_number == "0"
        assert r.p_idle is not None  # stringly-typed numerics preserved


def test_extract_failures_are_quarantined_not_dropped(spark):
    def flaky_fetch(ip: str, hostname: str) -> dict:
        if ip.endswith(("0", "5")):
            raise ConnectionError(f"unreachable {ip}")
        return synthetic_fetch(ip, hostname)

    out = run_extract(make_appliances(spark, 20), fetch_fn=flaky_fetch)
    ok, failed = quarantine_split(out)
    assert ok.count() == 16
    assert failed.count() == 4
    assert "error" not in ok.columns
    for r in failed.collect():
        assert r.error.startswith("ConnectionError")


def test_extract_deadline_enforced(spark):
    def slow_fetch(ip: str, hostname: str) -> dict:
        import time

        time.sleep(0.2)
        return synthetic_fetch(ip, hostname)

    config = ExtractorConfig(timeout_s=0.05)
    out = run_extract(make_appliances(spark, 4).coalesce(1), slow_fetch, config)
    ok, failed = quarantine_split(out)
    assert ok.count() == 0
    assert failed.count() == 4
    assert all("TimeoutError" in r.error for r in failed.collect())


def test_extract_to_transform_end_to_end(spark):
    """S1->S10 chain: appliances -> extract -> transform -> DeviceData."""
    from concurrent_etl_go_spark.plans import transform_cpu_stats

    out = run_extract(make_appliances(spark, 8))
    ok, _ = quarantine_split(out)
    devices = transform_cpu_stats(ok)
    rows = devices.collect()
    assert len(rows) == 8
    names = [i.name for i in rows[0].indicators]
    assert names == ["utilization", "nice", "user", "system", "irq"]


def test_extract_fanout_concurrency(spark):
    """The per-partition thread pool must give real fan-out: 100 devices at
    0.5 s each would take 50 s serially; with pool width 50 over 2
    partitions it must finish in ~1 wave."""
    import time

    config = ExtractorConfig(
        timeout_s=5.0, simulate_delay_s=0.5, concurrency=50
    )
    appliances = make_appliances(spark, 100).repartition(2)
    start = time.perf_counter()
    out = run_extract(appliances, config=config)
    n = out.count()
    wall = time.perf_counter() - start
    assert n == 100
    assert wall < 10, f"fan-out broken: {wall:.1f}s for 100 x 0.5s fetches"
