"""Golden tests for the sink + reliability layer (SURVEY S14-S22 failure
matrix): batch sizes, payload shape, auth, DLQ spill round-trip, replay."""

from __future__ import annotations

import gzip
import json
import math
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
    sink must serialize them (the wire contract in ``sinks.http_sink``) and
    deliver every row."""
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


def test_device_rows_arrive_parse_equal_to_their_python_dicts(
    spark, mock_api, tmp_path
):
    """The JVM encoder sends a DeviceData row, zero-default casts included,
    as the same JSON value Python's encoder made of ``row.asDict``."""
    df = make_device_df(spark, n=120)
    config = HttpSinkConfig(
        endpoint=mock_api.endpoint, batch_size=50, dlq_dir=str(tmp_path / "dlq")
    )
    run_http_sink(df, config)
    want = {
        row.name: json.loads(json.dumps(row.asDict(recursive=True)))
        for row in df.collect()
    }
    got = {row["name"]: row for r in mock_api.state.requests for row in r.batch}
    assert got == want
    assert got["device-50"]["indicators"][1] == {"name": "nice", "value": 0.0}


def test_null_top_level_field_arrives_as_a_null_key(spark, mock_api, tmp_path):
    """Also under a column name that Spark would parse as a nested path."""
    df = spark.range(3).select(
        "id",
        F.lit(None).cast("string").alias("note.text"),
        F.when(F.col("id") == 1, F.lit(1.5)).alias("x"),
    )
    config = HttpSinkConfig(endpoint=mock_api.endpoint, dlq_dir=str(tmp_path / "dlq"))
    run_http_sink(df, config)
    rows = sorted(
        (row for r in mock_api.state.requests for row in r.batch),
        key=lambda row: row["id"],
    )
    assert rows == [
        {"id": 0, "note.text": None, "x": None},
        {"id": 1, "note.text": None, "x": 1.5},
        {"id": 2, "note.text": None, "x": None},
    ]


def test_spill_file_holds_the_rejected_bytes_and_replays_them_unchanged(
    spark, mock_api, tmp_path
):
    from concurrent_etl_go_spark.sinks.dlq import replay_dlq_posts

    df = make_device_df(spark, n=30).coalesce(1)
    config = HttpSinkConfig(
        endpoint=mock_api.endpoint,
        dlq_dir=str(tmp_path / "dlq"),
        idempotency_scope="wire",
    )
    mock_api.state.fail_remaining = 1
    assert run_http_sink(df, config) == (0, 30)
    [rejected] = mock_api.state.rejected_bodies
    [path] = dlq_files(config.dlq_dir)
    with gzip.open(path, "rb") as fh:
        assert fh.read() == rejected

    assert replay_dlq_posts(config.dlq_dir, config) == (1, 0)
    [replayed] = mock_api.state.requests
    assert replayed.body == rejected
    assert replayed.idem_key == "wire/p0/c0"


def reject_bare_token(token: str):
    raise ValueError(f"bare {token} is not JSON")


def test_nan_and_infinite_indicators_round_trip_through_the_dlq(
    spark, mock_api, tmp_path
):
    """Spark writes non-finite doubles as quoted strings (valid JSON), and
    ``read_dlq`` reads them back as the same doubles."""
    values = [("utilization", float("nan")), ("nice", float("-inf")),
              ("user", float("inf")), ("system", 2.5)]
    df = spark.createDataFrame(
        [("device-nan", "0", 1751450637, values)], schemas.DEVICE_DATA
    )
    config = HttpSinkConfig(endpoint=mock_api.endpoint, dlq_dir=str(tmp_path / "dlq"))
    mock_api.state.fail_all = True
    assert run_http_sink(df, config) == (0, 1)
    spills = dlq_files(config.dlq_dir)
    with gzip.open(spills[0], "rt") as fh:
        [doc] = json.load(fh, parse_constant=reject_bare_token)
    assert [i["value"] for i in doc["indicators"]] == [
        "NaN", "-Infinity", "Infinity", 2.5,
    ]

    [row] = read_dlq(spark, spills, schemas.DEVICE_DATA).collect()
    got = [i.value for i in row.indicators]
    assert math.isnan(got[0])
    assert got[1:] == [float("-inf"), float("inf"), 2.5]
    assert (row.name, row.cpu_number, row.timestamp) == (
        "device-nan", "0", 1751450637,
    )
