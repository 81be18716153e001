#!/usr/bin/env python
"""Dry-run the driver's per-round correctness snapshot locally.

Replicates what the round driver does with ``__spark_entry__.py``:
import with a vanilla (optionally hostile-timezone) SparkSession, smoke
``entry()``, then for the FIRST ``--window`` (default 50) entries of
``queries()`` run the Spark query and its DuckDB oracle side by side at
the given sf dir and compare row count + column names + order-insensitive
values after pandas canonicalization (the sort step that crashes on
list-typed columns — the round-5 ``embeddings_pq_codes`` failure mode is
exercised here on purpose). Rows-only queries are executed and
canonicalized but not compared.

    python scripts/driver_dryrun.py [sf_dir] [--window N] [--all]
    python scripts/driver_dryrun.py <sf_dir> --only name1,name2,...

Exit code 1 if any window query errors or mismatches. Run this before
every round handoff — it is the closest local replica of
CORRECTNESS_r{N}.json.  ``--only`` runs exactly the named queries (an
unknown name is reported and exits 1): use it after changing a shared
helper to re-prove every affected query, at sf0.01 and sf0.1, before
rotating them into the round window.
"""

from __future__ import annotations

import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from concurrent_etl_go_spark.schemas import TABLES  # noqa: E402


def canonicalize(df):
    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = (
                pd.to_datetime(df[c])
                .dt.tz_localize(None)
                .astype("datetime64[us]")
            )
    if len(df):
        df = df.sort_values(
            by=list(df.columns), na_position="last"
        ).reset_index(drop=True)
    return df


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    window = 50
    if "--window" in sys.argv:
        window = int(sys.argv[sys.argv.index("--window") + 1])
    if "--all" in sys.argv:
        window = 10**9
    only: list[str] = []
    if "--only" in sys.argv:
        only = sys.argv[sys.argv.index("--only") + 1].split(",")
    json_out = ""
    if "--json-out" in sys.argv:
        # the committed full-sweep transcript (FULLSWEEP_r{N}.json,
        # VERDICT r14 §Next #5): per-query status + runtime, so the
        # all-queries re-proof is auditable, not just claimed
        json_out = sys.argv[sys.argv.index("--json-out") + 1]

    import __spark_entry__ as entry_mod

    # the registry needs no session: reject unknown names before Spark starts
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    unknown = [n for n in only if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 1

    spark = (
        SparkSession.builder.master("local[8]")
        # hostile-TZ probe: the engine must pin UTC itself
        .config("spark.sql.session.timeZone", "America/New_York")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from concurrent_etl_go_spark.operators.registry import release_caches

    edf = entry_mod.entry(spark)
    print(f"entry(): {edf.count()} rows, schema {edf.columns}")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    names = [n for n in qs if n in only] if only else list(qs)[:window]
    failures = []
    transcript: dict[str, dict] = {}
    import time as _time

    for name in names:
        t0 = _time.time()
        try:
            got = canonicalize(qs[name](spark, sf_dir).toPandas())
            release_caches()
            if name in oracles:
                exp = canonicalize(con.execute(oracles[name]).df())
                if got.equals(exp):
                    status = "HASH-OK"
                else:
                    status = "MISMATCH"
                    failures.append(name)
            else:
                status = f"rows-only({len(got)})"
        except Exception as exc:  # noqa: BLE001 — report, don't abort
            status = f"ERROR {type(exc).__name__}: {str(exc)[:100]}"
            failures.append(name)
        transcript[name] = {
            "status": status,
            "sec": round(_time.time() - t0, 2),
        }
        print(f"{name:40s} {status}")
    print(f"\n{len(names)} checked, {len(failures)} failing: {failures}")
    if json_out:
        import json as _json

        with open(json_out, "w") as f:
            _json.dump(
                {
                    "sf_dir": sf_dir,
                    "checked": len(names),
                    "failing": failures,
                    "queries": transcript,
                },
                f,
                indent=1,
            )
        print(f"transcript written: {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
