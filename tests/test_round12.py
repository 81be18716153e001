"""Golden invariants for the round-12 query pack.

The driver's DuckDB hash compare proves Spark == oracle; these tests
pin properties the HASH cannot see — algebraic invariants that must
hold of the semantics itself (a bug cloned into both dialects would
pass the hash but fail here), on the real sf0.001 corpus.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _rows(spark, name):
    import __spark_entry__ as entry_mod

    return entry_mod.queries()[name](spark, SF_SMOKE).collect()


# --- dataset_pack_efficiency -------------------------------------------


def test_pack_efficiency_invariants(spark):
    from concurrent_etl_go_spark.llm.packing import PACK_BUDGET

    rows = _rows(spark, "dataset_pack_efficiency")
    assert rows, "no languages packed"
    for r in rows:
        # capacity covers the tokens; waste is the exact complement
        assert r.n_packs * PACK_BUDGET >= r.total_tokens
        assert r.waste_tokens == r.n_packs * PACK_BUDGET - r.total_tokens
        assert 0 < r.fill_bp <= 10000
        # next-fit can never beat the concat lower bound
        assert r.straddle_saving_packs >= 0
        # and never wastes more than one budget per doc boundary
        assert r.n_packs <= r.n_docs + r.total_tokens // PACK_BUDGET


def test_pack_fold_matches_python_reference(spark):
    """The bit-packed BIGINT fold equals a plain Python next-fit."""
    from concurrent_etl_go_spark.llm.packing import PACK_BUDGET
    from concurrent_etl_go_spark.sources.readers import read_table

    docs = (
        read_table(spark, SF_SMOKE, "documents")
        .select(
            "lang",
            "doc_id",
            F.size(F.split("text", " ")).alias("t"),
        )
        .collect()
    )
    by_lang: dict[str, list[tuple[int, int]]] = {}
    for r in docs:
        by_lang.setdefault(r.lang, []).append((r.doc_id, r.t))
    want = {}
    for lang, items in by_lang.items():
        packs, fill = 0, 0
        for _, t in sorted(items):
            if t > PACK_BUDGET:
                packs += (1 if fill else 0) + -(-t // PACK_BUDGET)
                fill = 0
            elif fill + t <= PACK_BUDGET:
                fill += t
            else:
                packs, fill = packs + 1, t
        want[lang] = packs + (1 if fill else 0)
    got = {r.lang: r.n_packs for r in _rows(spark, "dataset_pack_efficiency")}
    assert got == want


# --- search_cross_encoder_rerank / search_eval_rbo ---------------------


def test_rerank_score_is_lexicographic(spark):
    rows = _rows(spark, "search_cross_encoder_rerank")
    assert rows
    for r in rows:
        assert 1 <= r.coverage <= 4
        assert r.tf_total >= r.coverage
        assert r.min_gap >= -1 and r.min_gap != 0
        # the score decomposes back into its feature fields
        prox = 0 if r.min_gap == -1 else 100000 // (1 + r.min_gap)
        assert (
            r.score_e6
            == r.coverage * 10_000_000 + min(r.tf_total, 99) * 100_000 + prox
        )
    ranks = [r.rank for r in rows]
    assert ranks == sorted(ranks)


def test_rbo_bounds(spark):
    from concurrent_etl_go_spark.operators.search2 import _RBO_W

    (row,) = _rows(spark, "search_eval_rbo")
    # full agreement at every depth would score sum(w_d); zero overlap 0
    assert 0 <= row.rbo_e9 <= sum(_RBO_W)
    assert 0 <= row.n_common <= 20


def test_interpolated_pr_monotone_and_brute_ceiling(spark):
    rows = _rows(spark, "search_eval_interpolated_pr")
    by_arm: dict[str, dict[int, int]] = {}
    for r in rows:
        by_arm.setdefault(r.arm, {})[r.level_bp] = r.p_interp_bp_avg
    assert set(by_arm) == {"brute", "matryoshka", "ivfpq"}
    for arm, curve in by_arm.items():
        levels = sorted(curve)
        # interpolated precision is non-increasing in recall level
        vals = [curve[lv] for lv in levels]
        assert all(a >= b for a, b in zip(vals, vals[1:])), arm
    # brute retrieves the truth itself: perfect precision at every level
    assert all(v == 10000 for v in by_arm["brute"].values())


# --- robust stats ------------------------------------------------------


def test_trimmed_and_winsorized_bounds(spark):
    trimmed = {r.priority: r for r in _rows(spark, "agg_trimmed_mean")}
    wins = {r.priority: r for r in _rows(spark, "agg_winsorized_mean")}
    assert set(trimmed) == set(wins) and len(trimmed) == 5
    for p, t in trimmed.items():
        w = wins[p]
        assert t.n == w.n and t.trim_k == w.trim_k == t.n // 10
        assert t.n_kept == t.n - 2 * t.trim_k
        # winsorized mean lies within the clamp bounds; both robust
        # means live inside the clamped range of the data
        assert w.lo_clamp_cents <= w.winsorized_mean_cents <= w.hi_clamp_cents
        assert w.lo_clamp_cents <= t.trimmed_mean_cents <= w.hi_clamp_cents


def test_decile_lift_structure(spark):
    rows = sorted(_rows(spark, "agg_decile_lift_table"), key=lambda r: r.decile)
    assert [r.decile for r in rows] == list(range(1, 11))
    # equal-count bins within 1; shares sum to ~100%; lift monotone down
    counts = [r.n_customers for r in rows]
    assert max(counts) - min(counts) <= 1
    assert abs(sum(r.share_bp for r in rows) - 10000) <= 10
    lifts = [r.cum_lift_e4 for r in rows]
    assert all(a >= b for a, b in zip(lifts, lifts[1:]))
    assert lifts[0] >= 10000  # top decile at least average
    assert lifts[-1] == 10000  # full population is exactly average
    cum = [r.cum_share_bp for r in rows]
    assert all(a <= b for a, b in zip(cum, cum[1:]))


def test_bootstrap_ci_brackets_the_mean(spark):
    (row,) = _rows(spark, "agg_bootstrap_ci")
    assert row.n_reps == 200
    assert row.boot_lo_cents <= row.boot_median_cents <= row.boot_hi_cents
    # the percentile CI of a mean must bracket a value near the plain
    # mean; the plain mean itself lies within it for any non-degenerate
    # resampling distribution
    assert row.boot_lo_cents <= row.plain_mean_cents <= row.boot_hi_cents


# --- text / dedup ------------------------------------------------------


def test_readability_feature_consistency(spark):
    rows = _rows(spark, "text_readability_fk")
    assert rows
    for r in rows[:200]:
        assert r.n_words >= 1 and r.n_sentences >= 1
        # >=1 syllable per word by the clamp
        assert r.n_syllables >= r.n_words
        want = (
            0.39 * (r.n_words / r.n_sentences)
            + 11.8 * (r.n_syllables / r.n_words)
            - 15.59
        )
        # compare UNROUNDED within the 4dp grain: Python round() is
        # banker's, Spark ROUND is half-up — they differ at .xxxx5
        assert r.fk_grade == pytest.approx(want, abs=5.1e-5)


def test_dedup_rate_consistent_with_gate_flags(spark):
    flags = {r.doc_id: r.is_dup for r in _rows(spark, "dedup_gate_flags")}
    from concurrent_etl_go_spark.sources.readers import read_table

    docs = read_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "lang"
    ).collect()
    want: dict[tuple, list[int]] = {}
    for d in docs:
        want.setdefault((d.source, d.lang), []).append(flags[d.doc_id])
    rows = _rows(spark, "text_dedup_rate_by_source")
    assert len(rows) == len(want)
    for r in rows:
        fl = want[(r.source, r.lang)]
        assert r.n_docs == len(fl)
        assert r.n_dups == sum(fl)
        assert r.dup_rate_bp == sum(fl) * 10000 // len(fl)


# --- contrastive triples / PCA -----------------------------------------


def test_contrastive_triples_margins_positive(spark):
    rows = _rows(spark, "dataset_contrastive_triples")
    assert len(rows) == 15  # 5 qids x top-3 positives
    for r in rows:
        assert 1 <= r.pos_rank <= 3
        assert 11 <= r.neg_rank <= 20
        # the negative is farther than the positive by construction
        assert r.margin_d2 > 0
        assert r.pos_vec_id != r.neg_vec_id


def test_top_component_is_dominant_direction(spark):
    import numpy as np
    from concurrent_etl_go_spark.llm.ivfpq2 import _int_vectors

    rows = _rows(spark, "embeddings_top_component")
    assert len(rows) == 64
    w = np.array(
        [r.weight_e6 for r in sorted(rows, key=lambda r: r.dim)],
        dtype=np.float64,
    )
    assert np.abs(w).max() == 1_000_000  # rescale pins the max slot
    vecs = np.array(
        [
            r.v
            for r in _int_vectors(spark, SF_SMOKE).select("v").collect()
        ],
        dtype=np.float64,
    )
    gram = vecs.T @ vecs
    # power-iteration invariants that hold for ANY spectrum (the
    # synthetic corpus is near-isotropic — eigen-ratio ~1.07 — so a
    # fixed round count cannot promise convergence; what must hold is
    # monotone progress):
    evals, evecs = np.linalg.eigh(gram)
    top = evecs[:, -1]
    start = np.full(64, 1e6)

    def cos_to_top(v):
        return abs(top @ v) / (np.linalg.norm(top) * np.linalg.norm(v))

    def rayleigh(v):
        return (v @ gram @ v) / (v @ v)

    # alignment and Rayleigh quotient both improved over the start
    assert cos_to_top(w) > cos_to_top(start) * 1.5
    assert rayleigh(w) > rayleigh(start)
    # and the iterate agrees with a float replay of the same recurrence
    x = start.copy()
    from concurrent_etl_go_spark.llm.pca import _ROUNDS, _X_SCALE

    for _ in range(_ROUNDS):
        raw = gram @ x
        x = np.trunc(raw * _X_SCALE / np.abs(raw).max())
    cos_replay = abs(x @ w) / (np.linalg.norm(x) * np.linalg.norm(w))
    assert cos_replay > 0.9999


# --- tokenizer / mix / entropy / cluster histogram ---------------------


def test_fertility_bounds_and_char_conservation(spark):
    rows = _rows(spark, "dataset_tokenizer_fertility")
    assert {r.lang for r in rows} >= {"en", "de", "fr", "es", "zh"}
    for r in rows:
        # a word yields at least one subword and at most one per char
        assert r.n_words <= r.n_subwords <= r.n_chars
        assert 10000 <= r.fertility_bp
        assert r.fertility_bp == r.n_subwords * 10000 // r.n_words
        assert r.chars_per_subword_bp == r.n_chars * 10000 // r.n_subwords


def test_mix_weights_compress_toward_uniform(spark):
    rows = _rows(spark, "dataset_mix_temperature_weights")
    tot_nat = sum(r.natural_share_bp for r in rows)
    tot_mix = sum(r.mix_weight_bp for r in rows)
    assert abs(tot_nat - 10000) <= len(rows)
    assert abs(tot_mix - 10000) <= len(rows)
    # temperature < 1 upsamples the tail and downsamples the head:
    # the mix distribution is strictly less spread than the natural one
    nat = sorted(r.natural_share_bp for r in rows)
    mix = sorted(r.mix_weight_bp for r in rows)
    assert mix[-1] < nat[-1] and mix[0] > nat[0]
    for r in rows:
        if r.natural_share_bp < 2000:  # below uniform (5 langs)
            assert r.upsample_e4 > 10000
        if r.natural_share_bp > 2000:
            assert r.upsample_e4 < 10000


def test_bigram_entropy_against_python_reference(spark):
    import math

    from concurrent_etl_go_spark.sources.readers import read_table

    rows = {r.lang: r for r in _rows(spark, "text_bigram_entropy_rate")}
    docs = read_table(spark, SF_SMOKE, "documents").select(
        "lang", "text"
    ).collect()
    pair: dict = {}
    ctx: dict = {}
    for d in docs:
        toks = d.text.split(" ")
        for a, b in zip(toks, toks[1:]):
            pair[(d.lang, a, b)] = pair.get((d.lang, a, b), 0) + 1
            ctx[(d.lang, a)] = ctx.get((d.lang, a), 0) + 1
    for lang, r in rows.items():
        total = sum(c for (lg, _, _), c in pair.items() if lg == lang)
        assert r.n_bigrams == total
        # micro-nat total with the same per-term lattice pinning
        s = sum(
            c * round(math.log(c / ctx[(lg, a)]) * 1e6)
            for (lg, a, b), c in pair.items()
            if lg == lang
        )
        assert r.entropy_micro_nats == -s // total
        # entropy is non-negative and below ln(vocab) in micro-nats
        vocab = len({b for (lg, _, b) in pair if lg == lang})
        assert 0 <= r.entropy_micro_nats <= math.log(max(vocab, 2)) * 1e6


def test_cluster_histogram_mass_audit(spark):
    from concurrent_etl_go_spark.sources.readers import read_table

    rows = _rows(spark, "dedup_cluster_size_histogram")
    n_docs = read_table(spark, SF_SMOKE, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        assert r.n_docs == r.cluster_size * r.n_clusters
    assert any(r.cluster_size == 1 for r in rows), "no singletons?"
