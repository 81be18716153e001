#!/usr/bin/env python
"""Sweep every registered DuckDB oracle for IEEE ``-0.0`` emissions.

DuckDB's ``ROUND(x, n)`` keeps the sign bit when a tiny negative rounds
to zero; Spark's does not.  The driver's value hash is bit-exact, so one
``-0.0`` on either side fails the query's correctness row even though
``-0.0 == 0.0`` everywhere else (the round-4 ``embeddings_normalize``
failure; ``similarity_centroids`` had the same latent defect at
sf0.001).  Every production oracle neutralizes the hazard with the
``+ 0.0`` idiom; this sweep proves the registry is currently clean and
should be re-run whenever oracles are added or testdata refreshes:

    python scripts/sweep_signed_zero.py [sf_dir ...]

Exit code 1 if any oracle emits a signed zero in any float column
(excluding ``scalar_float_canary``'s liveness-test expectations — the
canary itself is canonicalized and must be clean too).  The Spark side
needs no sweep: its ``round`` never emits ``-0.0``, and the signbit-
strict local parity gate (tests/test_oracle_parity.py) compares both
sides value-by-value anyway.
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from concurrent_etl_go_spark.schemas import TABLES  # noqa: E402


def sweep(sf_dir: str) -> list[tuple[str, str, object]]:
    import __spark_entry__ as entry_mod

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    hits: list[tuple[str, str, object]] = []
    try:
        for name, sql in entry_mod.oracle_sql().items():
            try:
                df = con.execute(sql).df()
            except Exception as exc:  # noqa: BLE001 — report, keep sweeping
                hits.append((name, "ORACLE ERROR", str(exc)[:80]))
                continue
            for c in df.columns:
                if pd.api.types.is_float_dtype(df[c]):
                    v = df[c].to_numpy()
                    nz = int(np.sum((v == 0.0) & np.signbit(v)))
                    if nz:
                        hits.append((name, c, nz))
    finally:
        con.close()
    return hits


def main() -> int:
    sf_dirs = sys.argv[1:] or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
    ]
    bad = False
    for sf_dir in sf_dirs:
        hits = sweep(sf_dir)
        status = "CLEAN" if not hits else f"{len(hits)} HIT(S)"
        print(f"{sf_dir}: {status}")
        for name, col, n in hits:
            bad = True
            print(f"  {name}.{col}: {n}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
