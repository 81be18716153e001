"""Local replica of the driver's DuckDB-oracle compare.

For every registered query with an oracle, run the PySpark query and the
DuckDB SQL on the same sf parquet tables and compare: row count, column
names, and order-insensitive values. This is the same gate the driver
applies at sf0.01 (CORRECTNESS_r{N}.json); running it at sf0.001 keeps the
suite fast.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from concurrent_etl_go_spark.schemas import TABLES


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by all values — order-insensitive form."""
    df = df.reindex(sorted(df.columns), axis=1)
    # unify timestamp resolution/zone representations
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), na_position="last").reset_index(
            drop=True
        )
    return df


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    try:
        # NaT == NaT is False (like NaN); both-missing counts as equal
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):  # array-likes: fall through
        pass
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return False
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        if fa == 0.0 and fb == 0.0:
            # signbit-strict at zero: the driver's value hash is bit-exact,
            # so -0.0 vs +0.0 is a real mismatch even though ``-0.0 == 0.0``
            # (round-4 embeddings_normalize driver fail, VERDICT.md r4)
            return bool(np.signbit(fa) == np.signbit(fb))
        return fa == fb or abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return a == b


def frames_match(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_df.columns)} "
            f"oracle={sorted(oracle_df.columns)}"
        )
        return problems
    if len(spark_df) != len(oracle_df):
        problems.append(f"row count: spark={len(spark_df)} oracle={len(oracle_df)}")
        return problems
    s, o = normalize(spark_df), normalize(oracle_df)
    for col in s.columns:
        # strict dtype parity (post datetime normalization): the driver's
        # value hash may be dtype-sensitive, so int32-vs-int64 skew is a bug
        if str(s[col].dtype) != str(o[col].dtype):
            problems.append(
                f"col {col}: dtype spark={s[col].dtype} oracle={o[col].dtype}"
            )
    for col in s.columns:
        sv, ov = s[col].to_numpy(), o[col].to_numpy()
        bad = [
            i
            for i in range(len(sv))
            if not values_equal(
                None if (isinstance(sv[i], float) and pd.isna(sv[i])) or sv[i] is None or sv[i] is pd.NaT else sv[i],
                None if (isinstance(ov[i], float) and pd.isna(ov[i])) or ov[i] is None or ov[i] is pd.NaT else ov[i],
            )
        ]
        if bad:
            i = bad[0]
            problems.append(
                f"col {col}: {len(bad)} mismatched values, first at row {i}: "
                f"spark={sv[i]!r} oracle={ov[i]!r}"
            )
    return problems


QUERY_NAMES = sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, sf_dir, name):
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    spark_pdf = queries[name](spark, sf_dir).toPandas()
    con = oracle_connection(sf_dir)
    try:
        oracle_pdf = con.execute(oracles[name]).df()
    finally:
        con.close()
    problems = frames_match(spark_pdf, oracle_pdf)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_every_query_has_callable():
    queries = entry_mod.queries()
    for name in entry_mod.oracle_sql():
        assert name in queries, f"oracle without query: {name}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert "indicators" in df.columns
