"""Oracle-backed CDC queries — hash-proving the versioned-table change
algebra (``sources/versioned.py::table_changes`` / ``apply_changes``).

The CDC/mirror path was previously proven only by pytest; these registry
queries put the SAME machinery under the driver's DuckDB hash compare,
the way ``operators/graph2.py`` proved the iterative algorithms: derive a
deterministic v1 -> v2 transition from the shared ``orders`` table,
run the real manifest-diff / change-apply code over real committed
versions, and state the expected row set independently in plain SQL.

Transition (pure integer/string columns — no float hashing concerns):

- v1  = orders rows with even ``o_orderkey`` (keys unique in TPC-H data)
- ups = orders rows with ``o_orderkey % 3 = 0``, with ``o_custkey``
  shifted by +1_000_000 (guarantees every upsert differs from its base
  row, so updates are never silent no-ops)
- v2  = ``merge_upsert(v1, ups)``: keys in both (``% 6 = 0``) are
  UPDATED in place, odd multiples of 3 are INSERTED

``table_changes(v1, v2)`` must therefore emit exactly: one ``insert``
per ups row, plus one ``delete`` per v1 row with ``o_orderkey % 3 = 0``
(each update surfacing as its delete+insert pair); unchanged rows cancel
in the multiset diff even though copy-on-write rewrote their files.
``apply_changes`` replayed onto an independent copy of v1 must
reconstruct v2 exactly.

Scale: the diff reads only files NOT shared between the two manifests
(O(files changed)); the apply is one anti-join (delete keys broadcast)
plus a union. The scratch versioned tables live in a per-call temp dir;
the result is localCheckpointed (it is O(changed rows), small by
construction) so the scratch files can be deleted before returning —
the registry's ``release_caches()`` frees the checkpoint blocks after
the caller's terminal action.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from concurrent_etl_go_spark.operators.registry import checkpoint_and_drop, query
from concurrent_etl_go_spark.sources import versioned as vt
from concurrent_etl_go_spark.sources.readers import read_table

_COLS = ("o_orderkey", "o_custkey", "o_orderstatus")

#: The shared v1 / upsert frames, as DuckDB SQL (the oracle's half of the
#: transition — derived from `orders` alone, never from engine output).
_BASE_SQL = f"""
    SELECT {", ".join(_COLS)} FROM orders WHERE o_orderkey % 2 = 0
"""
_UPS_SQL = """
    SELECT o_orderkey, o_custkey + 1000000 AS o_custkey, o_orderstatus
    FROM orders WHERE o_orderkey % 3 = 0
"""


def _base_and_updates(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    orders = read_table(spark, sf_dir, "orders").select(*_COLS)
    base = orders.where(F.col("o_orderkey") % 2 == 0)
    ups = orders.where(F.col("o_orderkey") % 3 == 0).withColumn(
        "o_custkey", F.col("o_custkey") + F.lit(1_000_000)
    )
    return base, ups


@query(
    "cdc_table_changes",
    oracle=f"""
    WITH ups AS ({_UPS_SQL})
    SELECT o_orderkey, o_custkey, o_orderstatus,
           'insert' AS change_type
    FROM ups
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus,
           'delete' AS change_type
    FROM ({_BASE_SQL}) base
    WHERE o_orderkey % 3 = 0
    """,
)
def cdc_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff of a real committed v1 -> v2 merge transition.

    Runs the actual manifest machinery — ``write_table`` (v1),
    ``merge_upsert`` (v2), ``table_changes(1, 2)`` — and returns the
    tagged change rows. The oracle states the expected inserts (every
    upsert row) and deletes (every replaced base row) directly from
    ``orders``; a diff that missed an update pair, leaked an unchanged
    row from a rewritten file, or double-counted would hash-mismatch.
    """
    tmp = tempfile.mkdtemp(prefix="cetl_cdc_src_")
    base, ups = _base_and_updates(spark, sf_dir)
    vt.write_table(base, tmp)                      # v1
    vt.merge_upsert(spark, tmp, ups, key="o_orderkey")  # v2
    changes = vt.table_changes(spark, tmp, 1, 2).select(
        *_COLS, F.col("_change_type").alias("change_type")
    )
    return checkpoint_and_drop(changes, tmp)


@query(
    "cdc_apply_changes",
    oracle=f"""
    WITH ups AS ({_UPS_SQL})
    SELECT o_orderkey, o_custkey, o_orderstatus
    FROM ({_BASE_SQL}) base
    WHERE o_orderkey % 3 <> 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus FROM ups
    """,
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC replication end-to-end: pipe ``table_changes`` of the src
    v1 -> v2 transition through ``apply_changes`` onto an INDEPENDENT
    copy of v1, and return the replica's final contents.

    The oracle states v2 directly (kept base rows + upserts), so the
    hash proves the full replication algebra — delete-by-key, insert,
    and update-as-delete+insert-pair netting to an in-place replace —
    not just the diff's shape. This is the batch core of
    ``sources/mirror.py``'s ``cdc`` mode.
    """
    src = tempfile.mkdtemp(prefix="cetl_cdc_src_")
    dst = tempfile.mkdtemp(prefix="cetl_cdc_dst_")
    base, ups = _base_and_updates(spark, sf_dir)
    # the two v1 writes are independent jobs over the same frame —
    # submit them from driver threads so the second's tasks back-fill
    # executors freed by the first's tail (guide §2.6); each call
    # commits its own table directory, so there is no shared state
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(vt.write_table, base, src),   # src v1
            pool.submit(vt.write_table, base, dst),   # replica of v1
        ]
        for f in futs:
            f.result()
    vt.merge_upsert(spark, src, ups, key="o_orderkey")  # src v2
    changes = vt.table_changes(spark, src, 1, 2)
    vt.apply_changes(spark, dst, changes, key="o_orderkey", batch_id=-2)
    replica = vt.read_table_version(spark, dst).select(*_COLS)
    return checkpoint_and_drop(replica, src, dst)


@query(
    "cdc_mirror_replicate",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 3 = 0 THEN o_custkey + 1000000
                ELSE o_custkey END AS o_custkey,
           'rebuild|append|cdc' AS sync_modes
    FROM orders
    """,
)
def cdc_mirror_replicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sources/mirror.py::mirror_table`` end to end, hash-proven:
    advance a source through three upstream shapes — initial load (even
    keys), plain append (odd keys), keyed merge_upsert (shift
    ``o_custkey`` for every key divisible by 3) — calling the mirror
    after each, and return the replica's final rows PLUS the actual
    sequence of mechanisms the mirror chose, embedded as a constant
    column.

    The oracle hard-codes both halves: the final contents (all orders
    with the upsert applied) AND the expected mechanism sequence
    ``rebuild|append|cdc`` — first sync must full-build, an append-only
    window must forward only delta files, and a keyed rewrite must take
    the CDC catch-up path. A mirror that silently fell back to rebuild
    everywhere would converge to the same rows but flip the mode half
    of the hash.
    """
    src = tempfile.mkdtemp(prefix="cetl_mirror_src_")
    dst = tempfile.mkdtemp(prefix="cetl_mirror_dst_")
    from concurrent_etl_go_spark.sources.mirror import mirror_table

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    modes = []
    vt.write_table(orders.where(F.col("o_orderkey") % 2 == 0), src)  # v1
    modes.append(mirror_table(spark, src, dst, key="o_orderkey")[1])
    vt.write_table(
        orders.where(F.col("o_orderkey") % 2 == 1), src, mode="append"
    )  # v2
    modes.append(mirror_table(spark, src, dst, key="o_orderkey")[1])
    ups = orders.where(F.col("o_orderkey") % 3 == 0).withColumn(
        "o_custkey", F.col("o_custkey") + F.lit(1_000_000)
    )
    vt.merge_upsert(spark, src, ups, key="o_orderkey")               # v3
    modes.append(mirror_table(spark, src, dst, key="o_orderkey")[1])

    replica = vt.read_table_version(spark, dst).select(
        "o_orderkey",
        "o_custkey",
        F.lit("|".join(modes)).alias("sync_modes"),
    )
    return checkpoint_and_drop(replica, src, dst)
