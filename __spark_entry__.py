"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship parity pipeline on sf0.001.
``queries()`` / ``oracle_sql()`` expose the engine's operator registry —
one named entry per implemented operator from SURVEY.md §2, each with a
DuckDB oracle where SQL-expressible (rows-only otherwise).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SMOKE_SF_DIR = "/root/testdata/sf0.001"

#: The driver's correctness snapshot covers the FIRST 50 entries of
#: ``queries()`` (insertion order).  ``_driver_order`` fills them with the
#: current round's re-proof block, then every query without a green row
#: in any committed ``CORRECTNESS_r*.json``, then the proven queries
#: OLDEST-PROOF-FIRST, so each round's driver artifact re-verifies the
#: stalest proofs.  A query whose Spark expression or oracle text changes
#: joins the re-proof block, even when its values do not change.
#: Registry queries must NEVER return list/array-typed columns: the
#: driver's pandas canonicalizer cannot sort them.
_ROUND16_WINDOW = [
    "privacy_k_anonymity",
    "privacy_l_diversity",
    "privacy_generalization_ladder",
    "privacy_pii_density",
    "agg_cvm_test",
    "agg_survival_na",
    "agg_logrank_test",
    "profile_chi2_drift",
    "dataset_quota_sample",
    "window_page_hinkley",
]


def row_is_green(row: dict) -> bool:
    """A CORRECTNESS row counts as a driver proof iff the hash matched,
    or (rows-only by design) there is no oracle, rows are plausible AND
    hash_match is not explicitly False — a failed hash is a failed
    proof even when err is clean (ADVICE r13)."""
    return bool(row.get("hash_match")) or (
        row.get("hash_match") is not False
        and row.get("err") in ("no_oracle", None)
        and row.get("rows_match") is not False
        and row.get("spark_rows", -1) >= 0
    )


def last_proof_rounds() -> tuple[dict[str, int], int]:
    """(query -> last round with a green row in the committed
    CORRECTNESS_r*.json artifacts, latest artifact round).  A query
    absent from the map was never driver-proven.  An unreadable or
    malformed artifact is skipped; the others still count."""
    import glob as _glob
    import json as _json
    import os as _os
    import re as _re

    root = _os.path.dirname(_os.path.abspath(__file__))
    last: dict[str, int] = {}
    latest = 0
    for path in sorted(_glob.glob(_os.path.join(root, "CORRECTNESS_r*.json"))):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        latest = max(latest, rnd)
        try:
            with open(path) as f:
                data = _json.load(f)
            green = [
                name for name, row in data.items()
                if isinstance(row, dict) and row_is_green(row)
            ]
        except Exception:  # noqa: BLE001 — ordering is best-effort
            continue
        for name in green:
            last[name] = max(last.get(name, 0), rnd)
    return last, latest


def _driver_order(names: list[str]) -> list[str]:
    """Order query names for the driver's 50-slot correctness window:
    this round's re-proof block first, then never-proven queries, then
    everything else OLDEST-PROOF-FIRST (ties alphabetical) so the
    driver's own artifact re-verifies the stalest proofs each round."""
    window = [n for n in _ROUND16_WINDOW if n in set(names)]
    in_window = set(window)
    last, _ = last_proof_rounds()
    fresh = [
        n for n in names
        if n not in in_window and last.get(n, 0) == 0
    ]
    proven = sorted(
        (n for n in names if n not in in_window and last.get(n, 0) > 0),
        key=lambda n: (last[n], n),
    )
    return window + fresh + proven


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the reference ETL pipeline (scan -> validate -> cast
    -> derive -> pack indicators -> hash route) on the sf0.001 events table."""
    from concurrent_etl_go_spark.plans import flagship

    return flagship(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    import concurrent_etl_go_spark.operators as ops

    return {n: ops.QUERIES[n] for n in _driver_order(list(ops.QUERIES))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query."""
    import concurrent_etl_go_spark.operators as ops

    return dict(ops.ORACLES)
