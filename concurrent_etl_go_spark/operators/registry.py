"""Query registry backing the driver contract.

Every implemented operator gets a named entry: a PySpark callable
``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, a DuckDB oracle
SQL string computing the same result (same column NAMES — the driver's
compare sorts columns by name and value-hashes order-insensitively).

Convention for oracle safety (see SURVEY §7.4.6):
- no query depends on implicit row order (LIMIT queries use total
  deterministic ORDER BY with explicit tie-breaks),
- every computed double column is ROUND(x, 4) on BOTH sides so engine
  summation-order differences cannot flip the hash,
- EXCEPT money sums whose magnitude can reach ~1e9+: there the 4dp
  rounding granularity sits inside summation-order variance
  (~sqrt(n) * ulp(S)) and a total near a .00005 boundary flakes across
  engines/runs — those accumulate as exact DECIMAL instead
  (``operators/lib.py::exact_money_sum`` / ``exact_money_sum_sql``,
  order-independent and bit-identical on both engines),
- timestamps compare under the session timezone pinned to UTC.
"""

from __future__ import annotations

import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
SCALE_CLASS: dict[str, str] = {}

#: scale_class values:
#: - "production": the at-scale path; safe on the full corpus.
#: - "oracle_twin": correctness twin of a production operator with a
#:   deliberately simpler (often O(n^2)-blocked) plan — run it only on
#:   bounded/sampled inputs; its production counterpart is named in the
#:   registering module's docstring (e.g. dedup_ngram_jaccard ->
#:   dedup_minhash_lsh, similarity_pairs -> dedup via LSH / IVF).
SCALE_CLASSES = ("production", "oracle_twin")


#: DataFrames persisted inside registered queries, awaiting release.
#: Registered queries return LAZY DataFrames, so a cache created inside a
#: query function cannot be unpersisted before the caller's terminal
#: action — instead it is tracked here and the caller (Engine, bench, the
#: test harness) releases it after materializing.  A long-lived engine
#: process serving many queries calls ``release_caches()`` between
#: queries; otherwise each invocation would leak cached blocks into the
#: shared session (they are evictable, but pin executor memory until
#: eviction).
_SCOPED_CACHES: list[DataFrame] = []


def scoped_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` for the duration of the current query's execution and
    track it for ``release_caches()``."""
    df.persist()
    _SCOPED_CACHES.append(df)
    return df


def track_cache(df: DataFrame) -> DataFrame:
    """Track an already-persisted DataFrame for ``release_caches()``."""
    _SCOPED_CACHES.append(df)
    return df


def checkpoint_round(
    df: DataFrame, prev: DataFrame | None = None
) -> DataFrame:
    """One round of an iterative kernel: eagerly localCheckpoint ``df``,
    track the result for ``release_caches()``, then free ``prev``.

    The loop contract every graph/search kernel follows:

    - **Eager materialization.** The checkpoint runs its job here, so
      the round's plan starts from a LogicalRDD — lineage stays one
      round deep instead of re-embedding every earlier round (lazy
      chains recompute O(k^2) and blow up the driver's plan analysis).
    - **Tracking.** Every checkpoint is tracked, so a query that
      returns a lazy frame over the last round still frees its blocks
      in ``release_caches()`` after the caller's terminal action.
    - **Freeing the superseded round.** ``prev`` — the previous round's
      checkpoint, which the new round was computed from — is released
      once the new round is materialized, so a fixed-round loop holds
      one round of blocks, not all of them.  Loops that read every
      round afterwards (betweenness levels, MMR picks) pass no ``prev``.

    Loops whose round already runs an action fuse the checkpoint into
    it instead, at one job per round: the BFS/SSSP frontiers use
    ``checkpoint_count`` (the count is the emptiness probe),
    ``sssp_weighted`` marks its distance merge lazily for the next
    round's probe to materialize, and ``connected_components`` marks
    its labels lazily for the label-sum fixpoint probe.  An eager
    checkpoint there would add a second job per round."""
    out = df.localCheckpoint(eager=True)
    _SCOPED_CACHES.append(out)
    if prev is not None:
        release_df(prev)
        _SCOPED_CACHES[:] = [d for d in _SCOPED_CACHES if d is not prev]
    return out


def checkpoint_count(df: DataFrame) -> tuple[DataFrame, int]:
    """Materialize ``df`` as a localCheckpoint AND return its row count in
    ONE driver-coordinated job: the checkpoint is marked lazily
    (``eager=False``) and the count action computes every partition, so
    the blocks are persisted as a side effect of the counting job.  The
    eager form plus a separate emptiness/size probe costs TWO jobs per
    loop round — at dimension scale each job pays the fixed
    stage-scheduling floor, so fixpoint loops (BFS frontier, SSSP delta,
    pointer-jumping CC) were paying the floor twice per round for one
    round's work.  The checkpointed frame is tracked for
    ``release_caches()``."""
    out = df.localCheckpoint(eager=False)
    n = out.count()
    _SCOPED_CACHES.append(out)
    return out, n


def checkpoint_and_drop(df: DataFrame, *tmp_dirs: str) -> DataFrame:
    """Materialize the (small) result into block storage so the scratch
    table files it was read from can be deleted immediately; the blocks
    are registered for ``release_caches()``."""
    out = checkpoint_round(df)
    for d in tmp_dirs:
        shutil.rmtree(d, ignore_errors=True)
    return out


def release_df(df: DataFrame) -> None:
    """Unpersist a DataFrame's blocks, including ``localCheckpoint`` ones.

    ``DataFrame.unpersist()`` only clears SQL-cache entries; a
    localCheckpoint persists the underlying internal RDD, which otherwise
    lingers until the JVM garbage-collects it (ContextCleaner). For a
    checkpointed DataFrame the analyzed plan is a LogicalRDD whose rdd we
    can unpersist directly; for plain DataFrames that accessor raises and
    the regular unpersist has already done the work.
    """
    df.unpersist()
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)  # noqa: SLF001
    except Exception:  # noqa: BLE001 — not a LogicalRDD: nothing to free
        pass


def release_caches() -> None:
    """Unpersist every cache created by query functions since the last
    release. Call after the terminal action on a query's DataFrame."""
    while _SCOPED_CACHES:
        release_df(_SCOPED_CACHES.pop())


def query(
    name: str, oracle: str | None = None, scale_class: str = "production"
) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``oracle`` is the DuckDB-equivalent SQL.

    Queries without an oracle get the driver's weaker rows-only check
    (reserved for genuinely non-SQL-expressible ops such as MinHash-LSH).
    ``scale_class`` marks bounded oracle-twin variants so a user cannot
    mistake them for the at-scale path (surfaced via ``Engine.queries()``).
    """
    if scale_class not in SCALE_CLASSES:
        raise ValueError(f"unknown scale_class: {scale_class}")

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        SCALE_CLASS[name] = scale_class
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
