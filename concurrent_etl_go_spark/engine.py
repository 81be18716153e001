"""Engine facade — the user-facing surface.

A user of the reference runs one program: ``main`` at etl/main.go:89-162
(setup -> scan -> DLQ replay -> extract fan-out -> transform -> route ->
micro-batch load -> drain -> resource report). ``run_etl`` is that program
on Spark; ``Engine`` additionally exposes the generalized query surface
(named operator queries, raw SQL over the shared tables).
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession

from concurrent_etl_go_spark import schemas
from concurrent_etl_go_spark.operators.extract import (
    ExtractorConfig,
    FetchFn,
    fanout_shape,
    quarantine_split,
    run_extract,
    synthetic_fetch,
)
from concurrent_etl_go_spark.plans.etl_pipeline import (
    LOAD_WORKERS,
    route_lanes,
    transform_cpu_stats,
)
from concurrent_etl_go_spark.session import get_spark
from concurrent_etl_go_spark.sinks import (
    HttpSinkConfig,
    clear_dlq,
    dlq_files,
    read_dlq,
    replay_union,
    run_http_sink,
)
from concurrent_etl_go_spark.sources.readers import (
    read_appliances_csv,
    read_table,
    register_views,
)

logger = logging.getLogger("concurrent_etl_go_spark")


@dataclass
class RunReport:
    """S24/S26/S27 parity: resource + timing observability for one run.

    The reference logs CPU count, goroutine count, heap stats and total
    wall-clock (etl/main.go:466-485,159); the engine reports the Spark
    equivalents plus counters, all taken inside the one sink action:

    - counted: ``delivered_rows`` POSTed with a 2xx and ``spilled_rows``
      written to the DLQ, from the sink's task results (one per
      partition); ``extracted_rows`` (fetched OK) and ``quarantined_rows``
      (fetch failed), from accumulators in the extract's tasks — an
      extract stage that Spark recomputes after a fault adds to them again;
    - derived: ``replayed_rows`` = delivered + spilled - extracted, the
      DLQ rows the sink carried (no job reads the DLQ to count them).

    ``phases``: DLQ listing and scan plan (no job), lazy plan (no job) and
    ``load_s``, the sink action from extract to POST.
    """

    default_parallelism: int = 0
    replayed_rows: int = 0
    extracted_rows: int = 0
    quarantined_rows: int = 0
    delivered_rows: int = 0
    spilled_rows: int = 0
    spill_files_before: int = 0
    spill_files_after: int = 0
    wall_clock_s: float = 0.0
    phases: dict[str, float] = field(default_factory=dict)

    def log(self) -> None:
        logger.info("run report: %s", self.__dict__)


def run_etl(
    spark: SparkSession,
    appliances_csv: str,
    sink: HttpSinkConfig,
    fetch_fn: FetchFn = synthetic_fetch,
    extractor: ExtractorConfig = ExtractorConfig(),
    lanes: int | None = LOAD_WORKERS,
    fanout_partitions: int | None = None,
) -> RunReport:
    """The reference's whole ``main`` as one Spark run.

    1. DLQ replay scan (S20-S22): spilled batches become a source that
       joins the transformed rows in step 4; planned, not counted.
    2. Appliance CSV scan + malformed drop (S1-S3).
    3. Extract fan-out (S4-S6): ``fanout_partitions`` x
       ``extractor.concurrency`` bounds in-flight fetches — the semaphore
       (S13) as partitioning x pool width. The budget runs on at most one
       partition per task slot: past ``defaultParallelism`` partitions the
       scan is split into one partition per slot and each pool is widened
       to keep the budget (``fanout_shape``), so every fetch is in flight
       in one wave instead of queueing behind busy slots.
    4. Transform (S7-S10), union with the replayed rows, hash route (S11).
       The route sends replayed rows into the lanes with the fresh ones, a
       device's rows all in one lane, as the reference re-enqueues them;
       it makes ``min(lanes, defaultParallelism)`` lanes, so the sink
       stage runs in one wave of Python tasks and at most that many POSTs
       are in flight. ``lanes=None`` skips the routing shuffle and sinks
       straight from the extract and DLQ scan partitions — extract and
       load then PIPELINE within each task (the reference's channel
       overlap; a repartition would barrier the whole extract before the
       first POST). Use explicit lanes only when batch-packing efficiency
       needs it.
    5. Micro-batched HTTP load with DLQ spill on failure (S14-S19); steps
       2-5 run inside this one sink action, timed as ``load_s`` (under AQE
       each shuffle's map side runs as a job of its own; the DLQ scan runs
       in the routing shuffle's map side).
    6. DLQ files that were replayed are deleted only after the sink pass
       completes (stronger than the reference's delete-after-enqueue).
    """
    report = RunReport(default_parallelism=spark.sparkContext.defaultParallelism)
    start = time.perf_counter()

    t0 = time.perf_counter()
    replayed_files = dlq_files(sink.dlq_dir)
    report.spill_files_before = len(replayed_files)
    replayed = None
    # don't plan a scan of an empty DLQ, nor the union node (plan/codegen
    # cost on the latency-critical load job) for a zero-row side
    if replayed_files:
        replayed = read_dlq(spark, replayed_files, schemas.DEVICE_DATA)
    report.phases["dlq_replay_s"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    appliances = read_appliances_csv(spark, appliances_csv)
    if fanout_partitions:
        parts, width = fanout_shape(
            fanout_partitions, extractor.concurrency, report.default_parallelism
        )
        appliances = appliances.repartition(parts)
        extractor = replace(extractor, concurrency=width)
    # No cache on the extract: a cached extract delayed the first POST until
    # every fetch was done, and added jobs that re-read it for counters.
    quarantined = spark.sparkContext.accumulator(0)
    fetched = spark.sparkContext.accumulator(0)
    extracted = run_extract(
        appliances, fetch_fn, extractor, quarantined=quarantined, fetched=fetched
    )
    ok, _ = quarantine_split(extracted)
    merged = transform_cpu_stats(ok)
    if replayed is not None:
        merged = replay_union(merged, replayed)
    if lanes is not None:  # None: no routing shuffle, a pipelined sink
        merged = route_lanes(merged, min(lanes, report.default_parallelism))
    report.phases["plan_s"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    report.delivered_rows, report.spilled_rows = run_http_sink(merged, sink)
    report.phases["load_s"] = round(time.perf_counter() - t0, 3)
    report.quarantined_rows = quarantined.value
    report.extracted_rows = fetched.value
    report.replayed_rows = (
        report.delivered_rows + report.spilled_rows - report.extracted_rows
    )

    # ack: this run's sink pass is done; replayed inputs either landed or
    # were re-spilled under new unique names — the originals can go.
    clear_dlq(replayed_files)
    report.spill_files_after = len(dlq_files(sink.dlq_dir))
    report.wall_clock_s = round(time.perf_counter() - start, 3)
    report.log()
    return report


class Engine:
    """Query-surface facade over the shared analytics tables."""

    def __init__(self, spark: SparkSession | None = None, sf_dir: str = "."):
        self.spark = spark or get_spark()
        self.sf_dir = sf_dir

    def table(self, name: str) -> DataFrame:
        return read_table(self.spark, self.sf_dir, name)

    def sql(self, statement: str) -> DataFrame:
        """Raw SQL over the shared tables (views registered on demand)."""
        register_views(self.spark, self.sf_dir)
        return self.spark.sql(statement)

    def register_versioned_view(
        self, view_name: str, root: str, version: int | None = None
    ) -> None:
        """Expose a versioned table (``sources/versioned.py``) to the SQL
        surface as a temp view — latest snapshot by default, or a
        time-travel pin.  The view resolves the manifest ONCE at
        registration, so queries against it keep snapshot isolation even
        while writers commit new versions; re-register to advance."""
        from concurrent_etl_go_spark.sources.versioned import (
            read_table_version,
        )

        read_table_version(self.spark, root, version).createOrReplaceTempView(
            view_name
        )

    def query(self, name: str) -> DataFrame:
        """Run a named operator query from the registry.

        Cache-lifetime contract: some queries persist intermediates
        (LSH band tables, vector norms) for the duration of their
        execution. After the terminal action on the returned DataFrame,
        call :meth:`release_caches` so a long-lived engine process does
        not accumulate cached blocks across queries.
        """
        from concurrent_etl_go_spark import operators

        return operators.QUERIES[name](self.spark, self.sf_dir)

    def release_caches(self) -> None:
        """Unpersist intermediates cached by previously-run queries."""
        from concurrent_etl_go_spark.operators.registry import release_caches

        release_caches()

    def queries(self) -> list[str]:
        from concurrent_etl_go_spark import operators

        return sorted(operators.QUERIES)

    def query_info(self) -> dict[str, dict]:
        """Registry metadata per query: scale_class ('production' vs
        'oracle_twin' — bounded correctness twins a user must not run on a
        full corpus) and whether a DuckDB oracle exists."""
        from concurrent_etl_go_spark import operators
        from concurrent_etl_go_spark.operators.registry import (
            ORACLES,
            SCALE_CLASS,
        )

        return {
            name: {
                "scale_class": SCALE_CLASS.get(name, "production"),
                "has_oracle": name in ORACLES,
            }
            for name in sorted(operators.QUERIES)
        }


def explain_query(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Formatted physical plan of a registry query — the engine's EXPLAIN
    surface (used by the plan-shape tests and for eyeballing pushdown/
    broadcast/codegen at any sf)."""
    from concurrent_etl_go_spark import operators

    df = operators.QUERIES[name](spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
