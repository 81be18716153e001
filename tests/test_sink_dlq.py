"""Golden tests for the sink + reliability layer (SURVEY S14-S22 failure
matrix): batch sizes, payload shape, auth, DLQ spill round-trip, replay."""

from __future__ import annotations

import gzip
import json
import os

import pytest
from pyspark.sql import functions as F

from concurrent_etl_go_spark import schemas
from concurrent_etl_go_spark.sinks import (
    HttpSinkConfig,
    clear_dlq,
    dlq_files,
    read_dlq,
    replay_union,
    run_http_sink,
)
from concurrent_etl_go_spark.plans import route_lanes, transform_cpu_stats
from tests.mock_api import MockApiServer


@pytest.fixture()
def mock_api():
    server = MockApiServer().start()
    yield server
    server.stop()


def make_device_df(spark, n=1000):
    """Synthetic DeviceData-shaped frame (FIXTURES.md A3)."""
    base = spark.range(n)
    cpu_stats = base.select(
        F.concat(F.lit("device-"), F.col("id")).alias("name"),
        F.lit(1751450637).cast("long").alias("timestamp"),
        F.lit("0").alias("cpu_number"),
        (F.col("id") % 100).cast("string").alias("p_idle"),
        F.lit("1.5").alias("p_user"),
        F.lit("2").alias("p_sys"),
        F.lit("0.5").alias("p_irq"),
        F.when(F.col("id") % 50 == 0, "N/A").otherwise("3").alias("p_nice"),
    )
    return route_lanes(transform_cpu_stats(cpu_stats), lanes=4)


def test_happy_path_batches_and_payload(spark, mock_api, tmp_path):
    df = make_device_df(spark, n=1000)
    config = HttpSinkConfig(
        endpoint=mock_api.endpoint,
        auth_token="secret-token",
        batch_size=200,
        dlq_dir=str(tmp_path / "dlq"),
    )
    run_http_sink(df, config)

    reqs = mock_api.state.requests
    assert mock_api.total_rows_received() == 1000
    # S14/S15: all full batches except <=1 trailing partial per lane (4 lanes)
    sizes = [r.batch_size for r in reqs]
    assert all(s <= 200 for s in sizes)
    assert sum(1 for s in sizes if s < 200) <= 4
    # S18: headers
    for r in reqs:
        assert r.content_type == "application/json"
        assert r.auth_header == "Bearer secret-token"
    # S17: JSON array of DeviceData dicts with ordered indicators (S9)
    row = reqs[0].batch[0]
    assert set(row) == {"name", "cpu_number", "timestamp", "indicators"}
    assert [i["name"] for i in row["indicators"]] == [
        "utilization", "nice", "user", "system", "irq",
    ]
    # no spills on the happy path
    assert dlq_files(config.dlq_dir) == []


def test_zero_default_cast_reaches_payload(spark, mock_api, tmp_path):
    """S7 parity end-to-end: 'N/A' p_nice becomes 0.0 in the payload."""
    df = make_device_df(spark, n=100)
    config = HttpSinkConfig(
        endpoint=mock_api.endpoint, batch_size=200, dlq_dir=str(tmp_path / "dlq")
    )
    run_http_sink(df, config)
    nice_by_name = {
        row["name"]: {i["name"]: i["value"] for i in row["indicators"]}["nice"]
        for r in mock_api.state.requests
        for row in r.batch
    }
    assert nice_by_name["device-0"] == 0.0  # "N/A" -> 0.0, not null
    assert nice_by_name["device-1"] == 3.0


def test_failure_spills_to_dlq_and_replay_recovers(spark, mock_api, tmp_path):
    dlq_dir = str(tmp_path / "dlq")
    df = make_device_df(spark, n=500)
    config = HttpSinkConfig(
        endpoint=mock_api.endpoint, batch_size=200, dlq_dir=dlq_dir
    )

    # phase 1: sink entirely down -> every batch spills
    mock_api.state.fail_all = True
    assert run_http_sink(df, config) == (0, 500)  # (rows posted, rows spilled)
    assert mock_api.total_rows_received() == 0
    spills = dlq_files(dlq_dir)
    assert spills, "expected spill files"
    # S19 (fixed): unique filenames, gzip JSON arrays, no row loss
    assert len(set(spills)) == len(spills)
    spilled_rows = []
    for path in spills:
        with gzip.open(path, "rt") as fh:
            batch = json.load(fh)
        assert isinstance(batch, list)
        spilled_rows.extend(batch)
    assert len(spilled_rows) == 500

    # phase 2: startup recovery — read DLQ, replay through healthy sink
    mock_api.state.fail_all = False
    dlq_df = read_dlq(spark, spills, schemas.DEVICE_DATA)
    assert dlq_df.count() == 500
    assert dlq_df.schema == schemas.DEVICE_DATA

    fresh = make_device_df(spark, n=100).withColumn(
        "name", F.concat(F.lit("fresh-"), F.col("name"))
    )
    merged = replay_union(fresh.select(*[f.name for f in schemas.DEVICE_DATA]), dlq_df)
    assert run_http_sink(merged, config) == (600, 0)
    assert mock_api.total_rows_received() == 600

    # ack -> delete (deviation from reference's delete-after-enqueue)
    assert dlq_files(dlq_dir) == spills  # nothing auto-deleted before ack
    clear_dlq(spills)
    assert dlq_files(dlq_dir) == []


def test_retry_then_success_no_spill(spark, mock_api, tmp_path):
    """Bounded retry: 2 injected failures, 3 retries -> all rows delivered."""
    df = make_device_df(spark, n=200).coalesce(1)
    mock_api.state.fail_remaining = 2
    config = HttpSinkConfig(
        endpoint=mock_api.endpoint,
        batch_size=200,
        max_retries=3,
        backoff_s=0.05,
        dlq_dir=str(tmp_path / "dlq"),
    )
    run_http_sink(df, config)
    assert mock_api.total_rows_received() == 200
    assert dlq_files(config.dlq_dir) == []


def test_worker_id_parse_from_spill_filenames(spark, tmp_path):
    """S22: worker id parse incl. fallback-to-0 for malformed names."""
    from concurrent_etl_go_spark.functions.scalars import worker_id_from_filename

    names = [
        ("buffer_failed_worker3_abc.json.gz", 0),  # engine unique-name: no id match
        ("buffer_failed_worker7.json.gz", 7),
        ("buffer_failed_workerX.json.gz", 0),
        ("buffer_failed_worker12.json.gz", 12),
    ]
    df = spark.createDataFrame([(n,) for n, _ in names], "fname string")
    got = {
        r.fname: r.wid
        for r in df.select(
            "fname", worker_id_from_filename("fname").alias("wid")
        ).collect()
    }
    for fname, expect in names:
        assert got[fname] == expect, fname


def test_timestamp_decimal_columns_sink_without_typeerror(spark, mock_api, tmp_path):
    """Regression: json.dumps raised TypeError on datetime/date/Decimal rows,
    failing the Spark task instead of POSTing (or at worst spilling). The
    sink must serialize them (default=str) and deliver every row."""
    df = spark.range(5).select(
        F.col("id"),
        F.to_timestamp(F.lit("2026-01-02 03:04:05")).alias("ts"),
        F.to_date(F.lit("2026-01-02")).alias("d"),
        F.lit("1.23").cast("decimal(10,2)").alias("amount"),
        F.lit(b"\x01\x02").alias("blob"),
    )
    config = HttpSinkConfig(
        endpoint=mock_api.endpoint,
        batch_size=10,
        dlq_dir=str(tmp_path / "dlq"),
    )
    run_http_sink(df, config)
    assert mock_api.total_rows_received() == 5
    assert dlq_files(config.dlq_dir) == []
    row = mock_api.state.requests[0].batch[0]
    assert row["ts"].startswith("2026-01-02")
    assert row["amount"] == "1.23"
    assert row["blob"] == "0102"
