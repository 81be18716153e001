"""Explicit schemas for every record type the engine touches.

The reference is fully static-schema (Go structs with JSON tags); the engine
mirrors that discipline: schema inference is used nowhere but on the shared
parquet tables' footers (below). Reference structs:

- ``Appliance``  -> APPLIANCE     (reference: etl/main.go:27-30)
- ``CpuStats``   -> CPU_STATS     (reference: etl/main.go:32-41 — numerics
  deliberately carried as strings; the cast happens in transform)
- ``Indicator``  -> INDICATOR     (reference: etl/main.go:43-46)
- ``DeviceData`` -> DEVICE_DATA   (reference: etl/main.go:48-53 — nested
  array<struct<name,value>> column)

The shared analytics tables (TESTDATA.md) are parquet with embedded schemas;
``sources/readers.py::read_table`` infers each one once per file per process
and reads it with that schema afterwards. TABLES lists their names for view
registration.
"""

from __future__ import annotations

from pyspark.sql import types as T

APPLIANCE = T.StructType(
    [
        T.StructField("ip", T.StringType(), True),
        T.StructField("hostname", T.StringType(), True),
    ]
)

# Numeric fields kept as strings on purpose: the reference parses them at
# transform time with zero-on-failure semantics (etl/main.go:214-218).
CPU_STATS = T.StructType(
    [
        T.StructField("name", T.StringType(), True),
        T.StructField("timestamp", T.LongType(), True),
        T.StructField("cpu_number", T.StringType(), True),
        T.StructField("p_idle", T.StringType(), True),
        T.StructField("p_user", T.StringType(), True),
        T.StructField("p_sys", T.StringType(), True),
        T.StructField("p_irq", T.StringType(), True),
        T.StructField("p_nice", T.StringType(), True),
    ]
)

INDICATOR = T.StructType(
    [
        T.StructField("name", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
    ]
)

DEVICE_DATA = T.StructType(
    [
        T.StructField("name", T.StringType(), True),
        T.StructField("cpu_number", T.StringType(), True),
        T.StructField("timestamp", T.LongType(), True),
        T.StructField("indicators", T.ArrayType(INDICATOR), True),
    ]
)

# Shared analytics tables provisioned by the driver (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
