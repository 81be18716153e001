"""End-to-end engine tests: the full reference flow (run_etl) against the
mock server, including crash-recovery across two runs, and the Engine
query facade."""

from __future__ import annotations

import gzip
import json
import os
import time
from collections import Counter, defaultdict

import pytest

from concurrent_etl_go_spark.engine import Engine, run_etl
from concurrent_etl_go_spark.operators.extract import ExtractorConfig, synthetic_fetch
from concurrent_etl_go_spark.sinks import HttpSinkConfig, dlq_files
from tests.conftest import SF_SMOKE
from tests.mock_api import MockApiServer


@pytest.fixture()
def mock_api():
    server = MockApiServer().start()
    yield server
    server.stop()


@pytest.fixture()
def appliances_csv(tmp_path):
    lines = [f"192.168.{i // 256}.{i % 256},device-{i}" for i in range(400)]
    lines.insert(7, "192.168.99.1")  # malformed: dropped by the scan
    path = tmp_path / "appliances.csv"
    path.write_text("\n".join(lines) + "\n")
    return str(path)


def test_run_etl_end_to_end(spark, mock_api, appliances_csv, tmp_path):
    sink = HttpSinkConfig(
        endpoint=mock_api.endpoint,
        auth_token="run-token",
        batch_size=200,
        dlq_dir=str(tmp_path / "dlq"),
    )
    report = run_etl(spark, appliances_csv, sink, lanes=4)
    assert mock_api.total_rows_received() == 400  # malformed row dropped
    assert report.extracted_rows == 400
    assert report.quarantined_rows == 0
    assert report.replayed_rows == 0
    assert report.spill_files_after == 0
    assert report.wall_clock_s > 0
    assert set(report.phases) == {"dlq_replay_s", "plan_s", "load_s"}


def test_run_etl_crash_recovery_two_runs(spark, mock_api, appliances_csv, tmp_path):
    """Run 1 with the sink down spills everything; run 2 replays the spills
    and clears them after ack — the reference's restart story (S19/S20)."""
    sink = HttpSinkConfig(
        endpoint=mock_api.endpoint, batch_size=200, dlq_dir=str(tmp_path / "dlq")
    )
    mock_api.state.fail_all = True
    r1 = run_etl(spark, appliances_csv, sink, lanes=4)
    assert mock_api.total_rows_received() == 0
    assert r1.spill_files_after > 0

    mock_api.state.fail_all = False
    r2 = run_etl(spark, appliances_csv, sink, lanes=4)
    # run 2 delivers its own 400 fresh + 400 replayed
    assert mock_api.total_rows_received() == 800
    assert r2.replayed_rows == 400
    assert r2.spill_files_after == 0
    assert dlq_files(sink.dlq_dir) == []


def dlq_rows(dlq_dir: str) -> int:
    total = 0
    for path in dlq_files(dlq_dir):
        with gzip.open(path, "rt") as fh:
            total += len(json.load(fh))
    return total


@pytest.mark.parametrize("lanes", [4, None])
def test_run_report_counts_spilled_rows_as_not_delivered(
    spark, mock_api, appliances_csv, tmp_path, lanes
):
    """``delivered_rows`` is what the receiver accepted: rejected batches
    are reported as spilled, and the next run's replay balances the books."""
    sink = HttpSinkConfig(
        endpoint=mock_api.endpoint, batch_size=50, dlq_dir=str(tmp_path / "dlq")
    )
    mock_api.state.fail_remaining = 2
    r1 = run_etl(spark, appliances_csv, sink, lanes=lanes)
    assert r1.delivered_rows == mock_api.total_rows_received()
    assert r1.spilled_rows == dlq_rows(sink.dlq_dir) > 0
    assert r1.extracted_rows == 400
    assert r1.delivered_rows + r1.spilled_rows == r1.extracted_rows + r1.replayed_rows

    r2 = run_etl(spark, appliances_csv, sink, lanes=lanes)
    assert r2.replayed_rows == r1.spilled_rows
    assert r2.delivered_rows == mock_api.total_rows_received() - r1.delivered_rows
    assert r2.spilled_rows == dlq_rows(sink.dlq_dir) == 0
    assert r2.extracted_rows == 400
    assert r2.delivered_rows + r2.spilled_rows == r2.extracted_rows + r2.replayed_rows


# An empty-DLQ run is the sink action alone; under AQE each shuffle's map
# side runs as its own job: the fan-out repartition, then the lane routing.
@pytest.mark.parametrize("lanes, jobs", [(4, 3), (None, 2)])
def test_run_etl_counts_quarantine_inside_the_sink_job(
    spark, mock_api, appliances_csv, tmp_path, lanes, jobs
):
    def unreachable_sevens(ip: str, hostname: str) -> dict:
        if ip.endswith("7"):
            raise ConnectionError(f"unreachable {ip}")
        return synthetic_fetch(ip, hostname)

    sc = spark.sparkContext
    sink = HttpSinkConfig(endpoint=mock_api.endpoint, dlq_dir=str(tmp_path / "dlq"))
    group = f"run-etl-jobs-lanes-{lanes}"
    persisted = sc._jsc.getPersistentRDDs().size()
    sc.setJobGroup(group, group)
    try:
        report = run_etl(
            spark,
            appliances_csv,
            sink,
            fetch_fn=unreachable_sevens,
            lanes=lanes,
            fanout_partitions=8,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # 39 of the 400 addresses end in 7
    assert report.quarantined_rows == 39
    assert report.delivered_rows == report.extracted_rows == 361
    assert mock_api.total_rows_received() == 361
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs
    assert sc._jsc.getPersistentRDDs().size() == persisted


def test_run_etl_sinks_replayed_rows_in_their_devices_lanes(
    spark, mock_api, appliances_csv, tmp_path
):
    """More lanes than task slots and a DLQ to replay: the replayed rows are
    routed with the fresh ones, the sink stage runs one task per slot, each
    device's rows all arrive through one lane, and no job is added for the
    replay (the DLQ scan runs in the routing map stage, and the replayed
    row count is derived from the sink's totals)."""

    def seed_fetch(ip: str, hostname: str) -> dict:
        """cpu "1" tells the seeding run's rows, the replayed ones, apart."""
        return {**synthetic_fetch(ip, hostname), "cpu_number": "1"}

    sc = spark.sparkContext
    slots = sc.defaultParallelism
    dlq_dir = str(tmp_path / "dlq")
    mock_api.state.fail_all = True
    seeding = HttpSinkConfig(endpoint=mock_api.endpoint, dlq_dir=dlq_dir)
    run_etl(spark, appliances_csv, seeding, fetch_fn=seed_fetch, lanes=4)
    assert dlq_rows(dlq_dir) == 400
    mock_api.state.fail_all = False

    sink = HttpSinkConfig(
        endpoint=mock_api.endpoint, dlq_dir=dlq_dir, idempotency_scope="replay"
    )
    group = "run-etl-replay-lanes"
    sc.setJobGroup(group, group)
    try:
        report = run_etl(spark, appliances_csv, sink, lanes=2 * slots + 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup(group))
    # routing map side (extract + DLQ scan), then the sink
    assert len(jobs) == 2
    sink_stage = max(tracker.getJobInfo(jobs[-1]).stageIds)
    assert tracker.getStageInfo(sink_stage).numTasks == slots

    lanes_of = defaultdict(set)
    arrivals = Counter()
    for request in mock_api.state.requests:
        scope, lane, _ = request.idem_key.split("/")
        assert scope == "replay"
        for row in request.batch:
            lanes_of[row["name"]].add(lane)
            arrivals[row["name"], row["cpu_number"]] += 1
    names = {f"device-{i}" for i in range(400)}
    assert arrivals == Counter({(n, c): 1 for n in names for c in "01"})
    assert all(len(lanes) == 1 for lanes in lanes_of.values())
    assert report.replayed_rows == report.extracted_rows == 400
    assert report.delivered_rows == mock_api.total_rows_received() == 800
    assert report.spilled_rows == 0
    assert report.delivered_rows + report.spilled_rows == (
        report.extracted_rows + report.replayed_rows
    )
    assert dlq_files(dlq_dir) == []


def peak_overlap(calls: list[tuple[float, float, int]]) -> int:
    # an end sorts before a start at the same instant
    events = sorted([(s, 1) for s, _, _ in calls] + [(e, -1) for _, e, _ in calls])
    peak = inflight = 0
    for _, step in events:
        inflight += step
        peak = max(peak, inflight)
    return peak


def test_run_etl_runs_the_fanout_budget_on_one_partition_per_slot(
    spark, mock_api, appliances_csv, tmp_path
):
    """Twice as many fan-out partitions as task slots: the extract runs as
    one task per slot with each pool doubled, so more fetches overlap than
    the ``2 x slots`` that one-partition-per-task-in-waves allows."""
    slots = spark.sparkContext.defaultParallelism
    log_dir = tmp_path / "fetches"
    log_dir.mkdir()

    def logged_fetch(ip: str, hostname: str) -> dict:
        """0.05 s, then ``start end taskAttemptId`` to a per-process file."""
        from pyspark import TaskContext

        start = time.monotonic()
        time.sleep(0.05)
        end = time.monotonic()
        task = TaskContext.get().taskAttemptId()
        with open(log_dir / f"fetch-{os.getpid()}.log", "a") as fh:
            fh.write(f"{start:.6f} {end:.6f} {task}\n")
        return synthetic_fetch(ip, hostname)

    sink = HttpSinkConfig(endpoint=mock_api.endpoint, dlq_dir=str(tmp_path / "dlq"))
    report = run_etl(
        spark,
        appliances_csv,
        sink,
        fetch_fn=logged_fetch,
        extractor=ExtractorConfig(concurrency=2),
        lanes=None,
        fanout_partitions=2 * slots,
    )
    calls = []
    for path in log_dir.iterdir():
        for line in path.read_text().splitlines():
            start, end, task = line.split()
            calls.append((float(start), float(end), int(task)))
    assert len(calls) == 400
    assert len({task for _, _, task in calls}) == slots
    assert peak_overlap(calls) > 2 * slots
    assert report.delivered_rows == mock_api.total_rows_received() == 400


def test_engine_facade_sql_and_named_queries(spark):
    engine = Engine(spark, SF_SMOKE)
    assert engine.table("nation").count() == 25
    df = engine.sql(
        "SELECT r_name, COUNT(*) AS n FROM nation "
        "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name"
    )
    assert df.count() == 5
    assert "agg_pricing_summary" in engine.queries()
    assert engine.query("agg_pricing_summary").count() > 0


def test_cli_list_run_sql_explain(capsys, spark):
    """The CLI front door: list needs no session; run/sql/explain reuse
    the active one (get_spark returns the existing session)."""
    from concurrent_etl_go_spark.cli import main

    assert main(["list", "--prefix", "agg_pricing"]) == 0
    out = capsys.readouterr().out
    assert "agg_pricing_summary\tproduction\toracle" in out

    assert main(["run", "agg_pricing_summary", "--limit", "5"]) == 0
    out = capsys.readouterr().out
    assert "l_returnflag" in out

    assert main(["sql", "SELECT COUNT(*) AS n FROM region"]) == 0
    assert "n" in capsys.readouterr().out

    assert main(["explain", "sort_limit_topk"]) == 0
    assert "TakeOrderedAndProject" in capsys.readouterr().out


def test_cli_table_management(capsys, spark, tmp_path):
    """The table subcommand drives the versioned-table lifecycle end to
    end from the command line: history, show, restore, changes, vacuum."""
    from pyspark.sql import functions as F

    from concurrent_etl_go_spark.cli import main
    from concurrent_etl_go_spark.sources import versioned as vt

    root = str(tmp_path / "tbl")
    df = spark.range(0, 5).select(F.col("id"), (F.col("id") * 2).alias("v"))
    vt.write_table(df, root)
    vt.write_table(
        spark.range(5, 8).select(F.col("id"), (F.col("id") * 2).alias("v")),
        root,
    )

    assert main(["table", root, "history"]) == 0
    out = capsys.readouterr().out
    assert "v1\tappend" in out and "v2\tappend" in out

    assert main(["table", root, "show", "--version", "1"]) == 0
    assert "id" in capsys.readouterr().out

    assert main(["table", root, "changes", "1", "2"]) == 0
    out = capsys.readouterr().out
    assert "insert" in out and "_change_type" in out

    assert main(["table", root, "restore", "1"]) == 0
    assert "as v3" in capsys.readouterr().out
    assert vt.read_table_version(spark, root).count() == 5

    assert main(["table", root, "vacuum", "--keep-versions", "1"]) == 0
    assert "deleted" in capsys.readouterr().out


def test_engine_sql_over_versioned_view(spark, tmp_path):
    """Versioned tables join the SQL surface via register_versioned_view,
    with time travel and snapshot isolation (view pinned at registration)."""
    from pyspark.sql import functions as F

    from concurrent_etl_go_spark.engine import Engine
    from concurrent_etl_go_spark.sources import versioned as vt

    root = str(tmp_path / "tbl")
    df = spark.range(0, 6).select(F.col("id"), (F.col("id") * 3).alias("v"))
    vt.write_table(df, root)

    eng = Engine(spark, "/root/testdata/sf0.001")
    eng.register_versioned_view("facts", root)
    assert eng.sql("SELECT COUNT(*) AS n FROM facts").first().n == 6
    # joins against the shared tables work in the same statement
    joined = eng.sql(
        "SELECT COUNT(*) AS n FROM facts JOIN region ON facts.id = region.r_regionkey"
    ).first().n
    assert joined == 5

    # snapshot isolation: a later commit doesn't move the view
    vt.write_table(
        spark.range(6, 9).select(F.col("id"), (F.col("id") * 3).alias("v")),
        root,
    )
    assert eng.sql("SELECT COUNT(*) AS n FROM facts").first().n == 6
    # explicit time travel
    eng.register_versioned_view("facts_v2", root, version=2)
    assert eng.sql("SELECT COUNT(*) AS n FROM facts_v2").first().n == 9
