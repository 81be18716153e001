"""Oracle-backed queries over the versioned-table lifecycle — incremental
materialized-view maintenance (``sources/ivm.py``) and the time-travel /
compact / restore read paths (``sources/versioned.py``).

Same proof technique as ``operators/cdc.py``: drive the REAL manifest
machinery through a deterministic multi-commit history built from the
shared tables, and state the expected final answer in plain SQL over
those tables alone. Results are localCheckpointed (tiny by construction)
so the scratch roots can be deleted before returning.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from concurrent_etl_go_spark.operators.registry import checkpoint_and_drop, query
from concurrent_etl_go_spark.sources import versioned as vt
from concurrent_etl_go_spark.sources.ivm import refresh_rollup
from concurrent_etl_go_spark.sources.readers import read_table


@query(
    "ivm_incremental_rollup",
    oracle="""
    SELECT event_type,
           date_trunc('day', ts) AS day,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) + 0.0 AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def ivm_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance, hash-proven: land the
    events table as THREE successive appends to a versioned fact table,
    run ``refresh_rollup`` after each (first = full build, then two
    delta-only merges that read ONLY the newly-added files), and return
    the final rollup. The oracle is the one-shot aggregate over all of
    ``events`` — the invariant IVM must preserve: incrementally
    maintained state == recompute from scratch. A refresh that
    double-counted a window, dropped history on merge, or mis-aligned
    the grain keys would flip the hash.

    Scale: this IS the O(day's data) vs O(history) pattern — each
    refresh aggregates one delta and outer-merges partials on the grain
    key; the proof rides the same code path production does.
    """
    events = read_table(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="cetl_ivm_src_")
    rollup = tempfile.mkdtemp(prefix="cetl_ivm_rollup_")
    for part in range(3):
        vt.write_table(
            events.where(F.col("event_id") % 3 == part), src, mode="append"
        )
        refresh_rollup(spark, src, rollup)
    out = vt.read_table_version(spark, rollup).select(
        "event_type",
        "day",
        "n_events",
        (F.round("total_value", 4) + F.lit(0.0)).alias("total_value"),
    )
    return checkpoint_and_drop(out, src, rollup)


@query(
    "ivm_rollup_after_compact",
    oracle="""
    SELECT event_type,
           date_trunc('day', ts) AS day,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) + 0.0 AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def ivm_rollup_after_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVM non-append fallback, hash-proven: append -> refresh ->
    append -> refresh -> COMPACT the source -> refresh -> append ->
    refresh. The compacted commit rewrites every source file, so a
    manifest set-difference no longer means "rows added" — a refresh
    that merged it incrementally would double-count the whole table
    (the round-4 ADVICE finding, fixed in ``sources/ivm.py`` by
    detecting non-append ops and recomputing). The final rollup must
    still equal the one-shot aggregate, AND the post-compact append
    must resume the incremental path cleanly.
    """
    events = read_table(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="cetl_ivmc_src_")
    rollup = tempfile.mkdtemp(prefix="cetl_ivmc_rollup_")
    thirds = [events.where(F.col("event_id") % 3 == p) for p in range(3)]
    vt.write_table(thirds[0], src, mode="append")
    refresh_rollup(spark, src, rollup)
    vt.write_table(thirds[1], src, mode="append")
    refresh_rollup(spark, src, rollup)
    vt.compact(spark, src, target_files=2)   # full rewrite, zero new rows
    refresh_rollup(spark, src, rollup)       # must recompute, not merge
    vt.write_table(thirds[2], src, mode="append")
    refresh_rollup(spark, src, rollup)       # incremental again
    out = vt.read_table_version(spark, rollup).select(
        "event_type",
        "day",
        "n_events",
        (F.round("total_value", 4) + F.lit(0.0)).alias("total_value"),
    )
    return checkpoint_and_drop(out, src, rollup)


@query(
    "versioned_time_travel",
    oracle="""
    WITH evens AS (
      SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0
    ),
    whole AS (SELECT o_orderkey FROM orders)
    SELECT 'v1_base' AS snapshot_label, COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum FROM evens
    UNION ALL
    SELECT 'v2_append', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
    FROM whole
    UNION ALL
    SELECT 'v3_compact', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
    FROM whole
    UNION ALL
    SELECT 'v4_restore', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
    FROM evens
    """,
)
def versioned_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The versioned table's read-path contracts in one history:
    v1 = even orderkeys, v2 = append the odd ones, v3 = ``compact``
    (must preserve contents exactly while rewriting files), v4 =
    ``restore_table`` back to v1 (must roll contents back WITHOUT
    rewriting data). Each committed version is then read back by
    explicit version number — time travel — and summarized.

    The oracle states every snapshot's row count and key sum straight
    from ``orders``, so the hash proves: append visibility, snapshot
    isolation of historical reads after later commits, compaction
    content-preservation, and restore semantics. Scale: time travel is
    manifest selection — each read lists one manifest's files; the
    summaries are single aggregates.
    """
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey")
    root = tempfile.mkdtemp(prefix="cetl_timetravel_")
    vt.write_table(orders.where(F.col("o_orderkey") % 2 == 0), root)  # v1
    vt.write_table(
        orders.where(F.col("o_orderkey") % 2 == 1), root, mode="append"
    )  # v2
    vt.compact(spark, root, target_files=2)  # v3: same rows, fewer files
    vt.restore_table(root, 1)  # v4: back to evens, zero-copy

    out = None
    for version, label in (
        (1, "v1_base"),
        (2, "v2_append"),
        (3, "v3_compact"),
        (4, "v4_restore"),
    ):
        snap_df = vt.read_table_version(spark, root, version).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("key_sum"),
        )
        one = snap_df.select(
            F.lit(label).alias("snapshot_label"), "n_rows", "key_sum"
        )
        out = one if out is None else out.unionByName(one)
    return checkpoint_and_drop(out, root)
