"""The reference's fixed dataflow as one lazy DataFrame chain.

Reference topology (etl/main.go:89-162):

    CSV scan -> fan-out fetch -> transform -> hash route (mod 10)
        -> micro-batch (200) -> JSON POST sink -> DLQ spill on failure

Spark-first restatement: scan and transform are Catalyst expressions inside
one whole-stage-codegen span; replayed DLQ rows join the transformed rows
ahead of the route, and the hash route is one ``repartition`` by device name
(``route_lanes``); micro-batching and the HTTP sink live in
``sinks.http_sink`` (one ``mapPartitions`` job — the only non-declarative
piece). Nothing is ever materialized on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from concurrent_etl_go_spark.functions.casts import cast_zero_default
from concurrent_etl_go_spark.functions.indicators import pack_indicators
from concurrent_etl_go_spark.sources.readers import read_table

# Reference constant (etl/main.go:59-66): loadWorkers=10.
LOAD_WORKERS = 10


def transform_cpu_stats(df: DataFrame) -> DataFrame:
    """CpuStats -> DeviceData (reference ``transform``, etl/main.go:213-234).

    - string->double cast with zero-on-failure (S7, etl/main.go:214-218)
    - derived column utilization = 100 - idle (S8, etl/main.go:221)
    - ordered pack into array<struct<name,value>> (S9, etl/main.go:220-226)
    - struct projection to the output row shape (S10, etl/main.go:228-233)

    All four are Catalyst expressions — one codegen'd projection, no UDFs.
    """
    idle = cast_zero_default("p_idle")
    pairs = [
        ("utilization", F.lit(100.0) - idle),
        ("nice", cast_zero_default("p_nice")),
        ("user", cast_zero_default("p_user")),
        ("system", cast_zero_default("p_sys")),
        ("irq", cast_zero_default("p_irq")),
    ]
    return df.select(
        "name",
        "cpu_number",
        "timestamp",
        pack_indicators(pairs).alias("indicators"),
    )


def route_lanes(device_data: DataFrame, lanes: int) -> DataFrame:
    """Hash route (S11): every row of a device lands in one of ``lanes``
    partitions, the sink's lanes.

    The reference routes rows to its loader goroutines by ordinal mod
    (etl/main.go:143-145) and re-enqueues replayed DLQ rows into the same
    lanes (etl/main.go:329-331); Spark expresses that co-location as one
    hash repartition on ``name``, so route fresh and replayed rows together.
    """
    return device_data.repartition(lanes, F.col("name"))


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query: the reference pipeline applied to the ``events`` table.

    ``events`` is the analytic analog of the device stream (FIXTURES.md B):
    user_id ≈ device, value ≈ raw metric, props ≈ JSON payload. The chain
    exercises S1-S11: scan -> malformed-drop -> JSON field extract (S17
    parity) -> zero-default cast (S7) -> derived metric (S8) -> ordered
    indicator pack (S9) -> projection (S10) -> hash route (S11).
    """
    events = read_table(spark, sf_dir, "events")
    valid = events.where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )  # S2-style malformed drop
    k = cast_zero_default(F.get_json_object("props", "$.k"))
    value = cast_zero_default("value")
    pairs = [
        ("utilization", F.lit(100.0) - value),
        ("raw_value", value),
        ("k", k),
        ("k_ratio", k / F.lit(100.0)),
    ]
    shaped = valid.select(
        F.col("user_id").alias("device_id"),
        F.col("event_type").alias("cpu_number"),
        F.unix_timestamp("ts").alias("timestamp"),
        pack_indicators(pairs).alias("indicators"),
    )
    return shaped.repartition(LOAD_WORKERS, F.col("device_id"))
