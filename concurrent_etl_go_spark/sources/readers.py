"""Source readers — lazy, splittable, explicit-schema.

The reference eagerly materializes its whole CSV input in driver memory
(``r.ReadAll()``, reference etl/main.go:408) — the canonical anti-pattern at
100 TB. Every reader here is a lazy Spark scan: splittable, predicate- and
projection-pushdown-capable, never driver-materialized.

The shared parquet tables carry their schema in the footer; ``read_table``
infers it once per file per process (Spark runs a one-task job to read a
footer) and plans every later read of that file with the inferred schema,
so building a query over a table already read runs no Spark job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.errors.exceptions.captured import AnalysisException

from concurrent_etl_go_spark import schemas

#: Per-process memo of each parquet file's read schema: path -> (file
#: identity ``(st_size, st_mtime_ns)``, Spark's inferred schema, the
#: footer's nanosecond-timestamp column names, read as bigint under
#: ``nanosAsLong``).  A file rewritten at the same path no longer matches
#: its identity and is inferred again, replacing the entry.  Entries hold
#: no rows, frames or plans.
_SCHEMAS: dict[str, tuple[tuple[int, int], T.StructType, frozenset[str]]] = {}


def _infer_schema(
    spark: SparkSession, path: str
) -> tuple[T.StructType, frozenset[str]]:
    """Spark's inferred schema of ``path`` and its nanosecond-timestamp
    columns.

    Spark rejects TIMESTAMP(NANOS) parquet columns by default: on
    PARQUET_TYPE_ILLEGAL the inference retries with ``nanosAsLong``, so
    those columns surface as bigint.  The memoized bigint schema reads
    them again without the conf."""
    try:
        schema = spark.read.parquet(path).schema
    except AnalysisException as exc:
        if "PARQUET_TYPE_ILLEGAL" not in str(exc):
            raise
        # Session-level knob; deliberately left set — it only changes how
        # nanos-parquet is read, which always needs read_table's conversion.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = spark.read.parquet(path).schema

    # Nanosecond timestamp columns in the footer (tz-naive or not) surface
    # as bigint under nanosAsLong (including on the first attempt once the
    # conf is set) — always reconcile against the footer, not just on the
    # retry path.
    long_cols = {f.name for f in schema if isinstance(f.dataType, T.LongType)}
    ns_cols: frozenset[str] = frozenset()
    if long_cols:
        import pyarrow as pa
        import pyarrow.parquet as pq

        ns_cols = frozenset(
            f.name
            for f in pq.read_schema(path)
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        ) & long_cols
    return schema, ns_cols


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one shared analytics parquet table (TESTDATA.md).

    The schema is inferred once per file per process (``_SCHEMAS``);
    every call still builds a fresh scan of the file.  TIMESTAMP(NANOS)
    columns, read as raw nanosecond longs, are converted to microsecond
    timestamps with integer division (a double division would lose
    precision: epoch-nanos exceed the 53-bit double mantissa). Truncation
    to microseconds matches how DuckDB/Arrow read the same files.
    """
    # The engine's timestamp semantics are UTC everywhere (window alignment,
    # epoch extraction, literal parsing, Arrow conversion). Pin it here so
    # results don't depend on the caller's session timezone.
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")

    path = f"{sf_dir}/{name}.parquet"
    st = os.stat(path)
    identity = (st.st_size, st.st_mtime_ns)
    entry = _SCHEMAS.get(path)
    if entry is None or entry[0] != identity:
        entry = _SCHEMAS[path] = (identity, *_infer_schema(spark, path))
    _, schema, ns_cols = entry
    df = spark.read.schema(schema).parquet(path)

    # tz-naive parquet timestamps (timestamp[us/ms] without isAdjustedToUTC)
    # surface as TIMESTAMP_NTZ. The engine's contract is TIMESTAMP (ltz)
    # under the UTC-pinned session everywhere — the type the nanos
    # conversion produces, and the one epoch/interval functions
    # (unix_micros, casts to double) accept. With the session at UTC this
    # cast is a pure reinterpretation: same wall-clock, same epoch value.
    engine_types = {
        c: F.timestamp_micros(F.expr(f"`{c}` div 1000")) for c in ns_cols
    }
    engine_types.update(
        (f.name, df[f.name].cast("timestamp"))
        for f in schema
        if isinstance(f.dataType, T.TimestampNTZType)
    )
    # one projection for every converted column
    return df.withColumns(engine_types) if engine_types else df


def register_views(spark: SparkSession, sf_dir: str, tables=schemas.TABLES) -> None:
    """Register the shared tables as temp views for ``spark.sql`` queries."""
    for name in tables:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_binary_files(
    spark: SparkSession,
    path: str,
    pattern: str = "*",
    recursive: bool = False,
) -> DataFrame:
    """Raw-file ingestion for multimodal pipelines: every matching file
    becomes one row ``(path, modificationTime, length, content)`` via
    Spark's built-in ``binaryFile`` source — the standard front door for
    media sitting as loose objects (images, audio, video) rather than
    rows in a columnar table.

    Feeds directly into the decode pipeline:
    ``read_binary_files(...)`` -> ``llm.multimodal.with_media_meta`` ->
    ``extract_features`` (Arrow-batched mapInPandas).  At scale the
    source parallelizes by file and prunes on ``pathGlobFilter`` at
    listing time; content bytes only move for matched files.  Column
    pruning applies too: a query selecting only ``path``/``length``
    never reads file contents.
    """
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .option("recursiveFileLookup", str(recursive).lower())
        .load(path)
    )


def read_text_corpus(
    spark: SparkSession,
    path: str,
    pattern: str = "*",
    whole_files: bool = True,
) -> DataFrame:
    """Raw text-file ingestion for corpus pipelines: with
    ``whole_files=True`` (default) every matching file becomes ONE row
    ``(path, text)`` — the loose-object front door for documents, the
    text twin of ``read_binary_files`` — otherwise one row per LINE
    (``(path, text)``), the log-file shape.

    Output feeds the documents-pipeline operators directly (text_stats /
    quality / dedup take any (id, text) frame).  Scale: parallelizes by
    file (whole-file mode makes one task per file — fine for documents,
    wrong for a single giant file), glob-prunes at listing time, and
    carries the path for lineage/doc-id derivation.
    """
    df = (
        spark.read.option("pathGlobFilter", pattern)
        .text(path, wholetext=whole_files)
        .select(F.col("value").alias("text"))
        .withColumn("path", F.input_file_name())
    )
    return df.select("path", "text")


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: str | None = None,
) -> DataFrame:
    """XML scan (native since Spark 4 — no spark-xml jar needed): one row
    per ``row_tag`` element.  Pass an explicit ``schema`` DDL string in
    production — schema inference costs a full extra pass over the data,
    exactly like the CSV/JSON readers."""
    reader = spark.read.option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.xml(path)


def read_appliances_csv(spark: SparkSession, path: str) -> DataFrame:
    """Scan the reference's headerless positional appliance CSV.

    Parity with reference etl/main.go:400-425 (scan S1, malformed-row filter
    S2, positional projection S3): rows with fewer than 2 fields are dropped;
    extra fields beyond the first two are ignored.

    Implemented as a permissive CSV read followed by a null filter — the
    filter is a Catalyst predicate, so malformed-row handling costs nothing
    extra at scale (no Python in the loop).
    """
    raw = (
        spark.read.schema("ip string, hostname string")
        .option("mode", "PERMISSIVE")
        .option("enforceSchema", "true")
        .csv(path)
    )
    # <2 fields => hostname is null (reference drops these, etl/main.go:414-417)
    return raw.where(F.col("ip").isNotNull() & F.col("hostname").isNotNull())
