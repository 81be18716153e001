"""``read_table``'s per-process schema memo: a file already read plans its
next scan without a Spark job, a rewritten file is inferred again, and the
nanosecond-timestamp conversion holds on the memoized read too."""

from __future__ import annotations

import contextlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from concurrent_etl_go_spark.engine import Engine
from concurrent_etl_go_spark.sources.readers import read_table
from tests.conftest import SF_SMOKE


@contextlib.contextmanager
def job_count(spark, group: str):
    """Yield a one-item list that holds, on exit, the number of Spark jobs
    run inside the block (counted by job group once the listener bus has
    delivered every event)."""
    sc = spark.sparkContext
    out: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)  # noqa: SLF001
    out.append(len(sc.statusTracker().getJobIdsForGroup(group)))


def test_second_read_of_a_file_runs_no_job(spark, tmp_path):
    pq.write_table(
        pa.table({"k": pa.array([1, 2, 3]), "v": pa.array(["a", "b", None])}),
        tmp_path / "t.parquet",
    )
    with job_count(spark, "readers-first") as first:
        df1 = read_table(spark, str(tmp_path), "t")
    with job_count(spark, "readers-second") as second:
        df2 = read_table(spark, str(tmp_path), "t")
    assert first == [1]  # the footer inference job
    assert second == [0]
    assert df2.schema == df1.schema
    assert sorted(df2.collect()) == sorted(df1.collect())


def test_file_rewritten_at_the_same_path_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2])}), path)
    assert read_table(spark, str(tmp_path), "t").columns == ["a"]

    pq.write_table(
        pa.table({"a": pa.array([3]), "b": pa.array([4.5]), "c": pa.array(["x"])}),
        path,
    )
    df = read_table(spark, str(tmp_path), "t")
    assert df.dtypes == [("a", "bigint"), ("b", "double"), ("c", "string")]
    assert [tuple(r) for r in df.collect()] == [(3, 4.5, "x")]


def test_nanosecond_timestamps_truncate_to_micros_on_every_read(spark, tmp_path):
    """The first read infers with ``nanosAsLong``; the second plans from the
    memoized bigint schema even with that conf unset."""
    nanos = [1_700_000_000_123_456_789, 1_000_000_000_000_001_999, None]
    pq.write_table(
        pa.table(
            {
                "id": pa.array([0, 1, 2]),
                "ts": pa.array(nanos, pa.timestamp("ns")),
                "ts_utc": pa.array(nanos, pa.timestamp("ns", tz="UTC")),
            }
        ),
        tmp_path / "t.parquet",
    )
    knob = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(knob, None)
    try:
        reads = [read_table(spark, str(tmp_path), "t")]
        spark.conf.unset(knob)
        reads.append(read_table(spark, str(tmp_path), "t"))
    finally:
        if before is None:
            spark.conf.unset(knob)
        else:
            spark.conf.set(knob, before)
    want = [(i, us, us) for i, us in enumerate([1_700_000_000_123_456, 1_000_000_000_000_001, None])]
    for df in reads:
        assert df.dtypes == [
            ("id", "bigint"), ("ts", "timestamp"), ("ts_utc", "timestamp")
        ]
        got = df.select(
            "id", F.unix_micros("ts"), F.unix_micros("ts_utc")
        ).orderBy("id")
        assert [tuple(r) for r in got.collect()] == want


def test_second_engine_sql_statement_runs_no_job_before_its_action(spark):
    engine = Engine(spark, SF_SMOKE)
    engine.sql("SELECT 1")
    with job_count(spark, "engine-sql-second") as jobs:
        df = engine.sql("SELECT COUNT(*) AS n FROM nation")
    assert jobs == [0]
    assert df.collect()[0].n == pq.read_metadata(
        os.path.join(SF_SMOKE, "nation.parquet")
    ).num_rows
