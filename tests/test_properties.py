"""Property-based tests (hypothesis) for parity-critical pure functions:
zero-default cast vs Go ParseFloat semantics, sink chunker invariants,
Jaccard bounds."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from concurrent_etl_go_spark.sinks.http_sink import chunked

# -- chunker (S14/S15) -------------------------------------------------------


@given(
    rows=st.lists(st.integers(), max_size=2000),
    size=st.integers(min_value=1, max_value=500),
)
@settings(max_examples=200, deadline=None)
def test_chunked_partitions_without_loss_or_reorder(rows, size):
    dicts = [{"v": r} for r in rows]
    batches = list(chunked(iter(dicts), size))
    # no loss, no reorder
    assert [d for b in batches for d in b] == dicts
    # threshold flush: all full except at most the last (S14/S15)
    if batches:
        assert all(len(b) == size for b in batches[:-1])
        assert 1 <= len(batches[-1]) <= size


# -- zero-default cast (S7) --------------------------------------------------


@given(st.floats(allow_nan=False, allow_infinity=False, width=64))
@settings(max_examples=25, deadline=None)
def test_cast_zero_default_parses_all_valid_floats(spark_cast, x):
    assert spark_cast(repr(x)) == x


@given(st.text(max_size=20))
@settings(max_examples=40, deadline=None)
def test_cast_zero_default_never_nulls(spark_cast, s):
    """Any string — parseable or garbage — must produce a float, never null
    (reference etl/main.go:214-218 discards parse errors into zero values)."""
    out = spark_cast(s)
    assert out is not None
    try:
        expected = float(s)
        import math

        if math.isnan(expected):
            assert out == 0.0 or math.isnan(out)
        else:
            assert out == expected
    except (ValueError, OverflowError):
        # Spark may accept formats Python rejects (e.g. '1d', trailing junk
        # rules differ) — the invariant here is non-null, and zero for
        # everything both parsers reject.
        pass


# spark_cast fixture: evaluate cast_zero_default through a real local
# session once per test run (the property loop reuses the session).
import pytest  # noqa: E402


@pytest.fixture(scope="module")
def spark_cast(spark):
    from pyspark.sql import functions as F

    from concurrent_etl_go_spark.functions.casts import cast_zero_default

    def run(s: str) -> float:
        df = spark.createDataFrame([(s,)], "s string")
        return df.select(cast_zero_default("s").alias("v")).collect()[0].v

    return run


def test_agg_approx_within_bounds_of_exact(spark, sf_dir):
    """The sketch query is rows-only for the driver, so pin its meaning
    here: HLL distinct within 5% of exact per group, and approx-p50 within
    the 1-percentile band [p49, p51] of the exact distribution."""
    from pyspark.sql import functions as F

    from concurrent_etl_go_spark.operators.relational2 import agg_approx
    from concurrent_etl_go_spark.sources.readers import read_table

    approx = {r.l_returnflag: r for r in agg_approx(spark, sf_dir).collect()}
    li = read_table(spark, sf_dir, "lineitem")
    exact = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.percentile(
                "l_extendedprice", F.array(F.lit(0.49), F.lit(0.50), F.lit(0.51))
            ).alias("band"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for flag, e in exact.items():
        a = approx[flag]
        assert abs(a.approx_parts - e.n_parts) / e.n_parts <= 0.05, (
            flag, a.approx_parts, e.n_parts,
        )
        p49, _p50, p51 = e.band
        assert p49 <= a.approx_p50 <= p51, (flag, a.approx_p50, e.band)


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    left=st.lists(
        st.tuples(
            st.integers(0, 3),          # key
            st.integers(0, 50),         # left time
        ),
        min_size=0,
        max_size=25,
    ),
    right=st.lists(
        st.tuples(
            st.integers(0, 3),          # key
            st.integers(0, 50),         # right time
            st.integers(0, 10**6),      # tiebreak
        ),
        min_size=0,
        max_size=25,
    ),
)
def test_asof_merge_equals_rank_twin_property(spark, left, right):
    """Property: for random key/time/tiebreak sets — including duplicate
    times, empty sides, and keys present on only one side — the
    partition-merge as-of join is row-identical to the rank-based twin in
    both inner and left modes."""
    from pyspark.sql import functions as F

    from concurrent_etl_go_spark.operators.lib import asof_join, asof_join_merge

    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)],
        "lid long, k long, lt long",
    )
    rdf = spark.createDataFrame(
        [(k, t, tb) for (k, t, tb) in right], "rk long, rt long, tb long"
    )
    kwargs = dict(
        left_key="k",
        right_key="rk",
        left_time="lt",
        right_time="rt",
        right_tiebreak="tb",
    )
    got_inner = {
        (r.lid, r.rt, r.tb)
        for r in asof_join_merge(ldf, rdf, **kwargs).collect()
    }
    want_inner = {
        (r.lid, r.rt, r.tb) for r in asof_join(ldf, rdf, **kwargs).collect()
    }
    assert got_inner == want_inner

    got_left = {
        (r.lid, r.rt, r.tb)
        for r in asof_join_merge(ldf, rdf, how="left", **kwargs).collect()
    }
    # left semantics: inner matches plus null rows for unmatched left ids
    matched = {lid for lid, _, _ in want_inner}
    want_left = want_inner | {
        (i, None, None) for i, _ in enumerate(left) if i not in matched
    }
    assert got_left == want_left


def test_sample_fraction_bounds_and_determinism(spark, sf_dir):
    """The rows-only sampling query must be deterministic for a fixed seed
    and land within binomial bounds of the nominal 10% fraction."""
    from concurrent_etl_go_spark.operators.relational5 import sample_fraction
    from concurrent_etl_go_spark.sources.readers import read_table

    total = read_table(spark, sf_dir, "lineitem").count()
    a = sample_fraction(spark, sf_dir)
    n = a.count()
    assert n == sample_fraction(spark, sf_dir).count()  # seeded => stable
    # 6-sigma binomial envelope around p=0.1
    import math

    sigma = math.sqrt(total * 0.1 * 0.9)
    assert abs(n - 0.1 * total) <= 6 * sigma, (n, total)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),                      # group key (heavy collisions)
            st.floats(-1e6, 1e6, width=32),         # value
        ),
        min_size=0,
        max_size=60,
    ),
)
def test_salted_agg_identical_to_plain_agg(spark, rows):
    """Salting is a pure execution-strategy change: on ANY input —
    including all rows on one key — the two-phase salted aggregation
    must produce exactly the plain groupBy result."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(k, float(v)) for k, v in rows], "k int, v double"
    )
    salted = (
        df.withColumn("_s", F.pmod(F.xxhash64("v"), F.lit(4)))
        .groupBy("k", "_s")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("v").alias("s"),
            F.max("v").alias("m"),
        )
        .groupBy("k")
        .agg(
            F.sum("c").alias("n"),
            F.round(F.sum("s"), 2).alias("total"),
            F.max("m").alias("mx"),
        )
    )
    plain = df.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("v"), 2).alias("total"),
        F.max("v").alias("mx"),
    )
    got = {r.k: (r.n, r.total, r.mx) for r in salted.collect()}
    want = {r.k: (r.n, r.total, r.mx) for r in plain.collect()}
    assert set(got) == set(want)
    for k in want:
        gn, gt, gm = got[k]
        wn, wt, wm = want[k]
        assert gn == wn and gm == wm, (k, got[k], want[k])
        # sums may differ in the last ulp from association order
        assert gt == wt or abs(gt - wt) <= 1e-6 * max(1.0, abs(wt)), (
            k, gt, wt,
        )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    big=st.lists(st.integers(0, 4), min_size=0, max_size=40),
    small=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 9)),
        min_size=0,
        max_size=10,
    ),
)
def test_null_routed_left_join_identical_to_plain(spark, big, small):
    """Routing NULL keys around the join (predicate + union) must be
    row-identical to the plain left join, for every mix of NULL share
    and duplicate small-side keys."""
    from pyspark.sql import functions as F

    b = spark.createDataFrame(
        [(k if k != 0 else None,) for k in big], "k int"
    )
    s = spark.createDataFrame(small, "k int, val int")
    plain = b.join(s, "k", "left").select("k", "val")
    matched = b.where(F.col("k").isNotNull()).join(s, "k", "left")
    nulls = b.where(F.col("k").isNull()).withColumn(
        "val", F.lit(None).cast("int")
    )
    routed = matched.unionByName(nulls).select("k", "val")
    key = lambda r: (r.k if r.k is not None else -1, r.val if r.val is not None else -1)
    assert sorted(map(key, routed.collect())) == sorted(map(key, plain.collect()))


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=-1_000_000, max_value=1_000_000).map(float),
        ),
        min_size=4,
        max_size=24,
    ),
    st.integers(min_value=-100, max_value=100).map(float),
    # powers of two keep every multiplication exact in binary floats, so
    # the invariance is bitwise, not just mathematical — arbitrary scales
    # can flip rows sitting exactly on the 3*MAD boundary by one ulp
    st.sampled_from([0.5, 1.0, 2.0, 4.0]),
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_mad_outlier_count_invariant_under_affine_transform(
    spark, rows, shift, scale
):
    """Median/MAD outlier detection is affine-equivariant: translating or
    positively scaling every value must not change which rows are
    outliers (the property that makes it robust where z-scores aren't).
    Inputs are integer-valued with power-of-two scales so every float op
    is exact; see the strategy comment."""
    from concurrent_etl_go_spark.operators.timeseries import mad_outlier_report

    df = spark.createDataFrame(rows, "event_type string, value double")
    base = {
        r.event_type: r.n_outliers for r in mad_outlier_report(df).collect()
    }
    import pyspark.sql.functions as F

    moved = df.withColumn("value", F.col("value") * scale + shift)
    after = {
        r.event_type: r.n_outliers for r in mad_outlier_report(moved).collect()
    }
    assert base == after


def test_ntile_expr_matches_sql_ntile_for_all_small_n(spark):
    """The scalable twin's closed-form ntile (operators/quantiles.py::
    _ntile_expr, a pure function of (rank, n)) must reproduce SQL ntile
    semantics EXACTLY for every row count and bucket count in a range
    that covers all the boundary shapes: n < k, n == k, n % k == 0, and
    every remainder class. Checked against the arithmetic definition
    (first n % k buckets get one extra row) row by row, exhaustively for
    n in [1, 40] x k in {2, 3, 4, 7, 10}."""
    from concurrent_etl_go_spark.operators.quantiles import _ntile_expr
    from pyspark.sql import functions as F

    def reference_ntile(rn: int, n: int, k: int) -> int:
        q, r = divmod(n, k)
        if q == 0:
            return rn
        big = r * (q + 1)
        if rn <= big:
            return (rn - 1) // (q + 1) + 1
        return r + (rn - big - 1) // q + 1

    cases = []
    for n in range(1, 41):
        for k in (2, 3, 4, 7, 10):
            cases.append((n, k))
    # one DataFrame per (n, k) is slow; evaluate the expression over a
    # single long/int frame with (n, k, rn) columns instead
    rows = [
        (n, k, rn) for n, k in cases for rn in range(1, n + 1)
    ]
    df = spark.createDataFrame(rows, "n int, k int, rn long")
    # one job: dispatch every (n, k) case through a single coalesced
    # expression instead of 200 filtered collects
    bucket = F.coalesce(
        *[
            F.when(
                (F.col("n") == n) & (F.col("k") == k),
                _ntile_expr(F.col("rn"), n, k),
            )
            for n, k in cases
        ]
    )
    got = {
        (r.n, r.k, r.rn): r.bucket
        for r in df.select("n", "k", "rn", bucket.alias("bucket")).collect()
    }
    for n, k in cases:
        for rn in range(1, n + 1):
            assert got[(n, k, rn)] == reference_ntile(rn, n, k), (n, k, rn)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),  # value: heavy ties
            st.integers(min_value=0, max_value=10**6),  # tiebreak key
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[1],
    ),
    frac_denom=st.sampled_from([2, 4, 10]),
)
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_top_fraction_selection_equals_sql_ntile(spark, rows, frac_denom):
    """The histogram-threshold selection (quantiles.top_fraction_by_value,
    the scalable power-users core) must equal SQL ntile bucket 1 under
    (value DESC, key ASC) on ADVERSARIAL tie-heavy inputs — boundary
    ties, all-equal values, tiny n — not just the shared-table
    distribution the oracle covers."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from concurrent_etl_go_spark.operators.quantiles import (
        top_fraction_by_value,
    )

    df = spark.createDataFrame(rows, "v long, k long")
    got = sorted(
        (r.v, r.k)
        for r in top_fraction_by_value(
            df, "v", "k", fraction=1.0 / frac_denom
        ).collect()
    )
    w = Window.orderBy(F.col("v").desc(), F.col("k"))
    expect = sorted(
        (r.v, r.k)
        for r in df.withColumn("b", F.ntile(frac_denom).over(w))
        .where(F.col("b") == 1)
        .collect()
    )
    assert got == expect


# -- round-8 algorithm identities -------------------------------------------


@given(
    starts=st.sets(st.integers(min_value=0, max_value=300), max_size=60),
    k=st.integers(min_value=1, max_value=12),
)
@settings(max_examples=300, deadline=None)
def test_lead_sweep_equals_interval_union(starts, k):
    """The text_dup_ngram_coverage LEAD sweep identity: for sorted start
    positions, sum(min(k, next_start − start)) with the last term k
    equals |union of [s, s+k)| — the coverage count the engine computes
    without exploding per-token rows."""
    ss = sorted(starts)
    swept = sum(
        min(k, (ss[i + 1] - ss[i]) if i + 1 < len(ss) else k)
        for i in range(len(ss))
    )
    union = set()
    for s in ss:
        union.update(range(s, s + k))
    assert swept == len(union)


@given(
    edges=st.sets(
        st.tuples(
            st.integers(min_value=0, max_value=15),
            st.integers(min_value=0, max_value=15),
        ).filter(lambda e: e[0] < e[1]),
        max_size=40,
    ),
    rounds=st.integers(min_value=1, max_value=3),
)
@settings(max_examples=200, deadline=None)
def test_hits_sparse_equals_dense(edges, rounds):
    """graph_hits' sparse-intermediate claim: dropping zero-score nodes
    from each half-round (what a join does) yields identical final
    scores to carrying explicit zeros — and unnormalized integer HITS
    stays exactly proportional across representations."""
    from collections import defaultdict

    nodes = {u for e in edges for u in e}
    # dense: every node carries a score every half-round
    a_d = {n: 1 for n in nodes}
    h_d = {n: 0 for n in nodes}
    for _ in range(rounds):
        h_d = {n: sum(a_d[v] for (u, v) in edges if u == n) for n in nodes}
        a_d = {n: sum(h_d[u] for (u, v) in edges if v == n) for n in nodes}
    # sparse: only nonzero carriers, zeros materialized at the end
    a_s = {n: 1 for n in nodes}
    h_s = {}
    for _ in range(rounds):
        h_s = defaultdict(int)
        for u, v in edges:
            h_s[u] += a_s.get(v, 0)
        nxt = defaultdict(int)
        for u, v in edges:
            nxt[v] += h_s.get(u, 0)
        a_s = nxt
    for n in nodes:
        assert h_d[n] == h_s.get(n, 0)
        assert a_d[n] == a_s.get(n, 0)
