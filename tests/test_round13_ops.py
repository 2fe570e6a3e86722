"""Round-13 operator referees: plan pins and identity cross-checks for
the reusable LSH similarity join, plus the frozen-quantizer ANN flips
(invariants the oracle hash-match cannot express)."""

import pyspark.sql.functions as F

from graphsense_datafeed_spark.registry import QUERIES, load_all_operators
from graphsense_datafeed_spark.sources.tables import load

load_all_operators()

SF01 = "/root/testdata/sf0.01"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_lsh_join_plan_no_cartesian(spark):
    """The banded similarity join must be equi-join + broadcast verify
    end-to-end: no CartesianProduct, no BroadcastNestedLoopJoin — the
    'bucket-capped, no cartesian' pin VERDICT r12 item 7 asks for."""
    df = QUERIES["join_lsh_similarity"](spark, SF01)
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # the candidate-verify broadcast


def test_lsh_join_matches_dedup_near_parity_slice(spark):
    """Identity: joining the even-id half against the odd-id half must
    produce EXACTLY the opposite-parity subset of dedup_near's verified
    pairs (same shingles, same hash family, same threshold — the only
    difference is which pairs are eligible)."""
    near = QUERIES["dedup_near"](spark, SF01).collect()
    want = {}
    for r in near:
        a, b = r["doc_a"], r["doc_b"]
        if a % 2 != b % 2:
            left, right = (a, b) if a % 2 == 0 else (b, a)
            want[(left, right)] = r["jaccard_e4"]
    got = {
        (r["left_id"], r["right_id"]): r["jaccard_e4"]
        for r in QUERIES["join_lsh_similarity"](spark, SF01).collect()
    }
    assert got == want
    assert len(got) > 0  # the fixture plants cross-parity near-dups


def test_lsh_join_per_side_bucket_cap(spark):
    """A degenerate side (300 identical docs -> one crushing bucket on
    every band) must be dropped by the PER-SIDE cap before pair
    generation: with the cap the planted block contributes no pairs;
    with the cap disabled the fan-out is quadratic in the block."""
    from graphsense_datafeed_spark.operators.llm_dedup import (
        lsh_similarity_join,
    )

    base = load(spark, SF01, "documents").select("doc_id", "text")
    block = (
        spark.range(300)
        .select(
            (F.col("id") + 10_000_000).alias("doc_id"),
            F.lit("spam spam spam spam spam spam spam spam").alias("text"),
        )
    )
    left = base.filter(F.col("doc_id") % 2 == 0).unionByName(block)
    right = base.filter(F.col("doc_id") % 2 == 1).unionByName(
        block.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    capped = lsh_similarity_join(left, right, max_bucket=256)
    spam = capped.filter(F.col("left_id") >= 10_000_000)
    assert spam.count() == 0
    uncapped = lsh_similarity_join(left, right, max_bucket=None)
    assert (
        uncapped.filter(F.col("left_id") >= 10_000_000).count() == 300 * 300
    )


def test_ivf_frozen_assignment_matches_cell_index(spark):
    """sim_ann_ivf's rk=1 assignment must be IDENTICAL to the
    hash-matched sim_ivf_cell_index quantizer — the invariant that
    makes the round-13 oracle flip sound."""
    from graphsense_datafeed_spark.operators.llm_similarity import (
        _ivf_ranked_cells,
    )

    ranked = (
        _ivf_ranked_cells(spark, SF01)
        .filter(F.col("rk") == 1)
        .select("vec_id", "cell")
        .collect()
    )
    idx = QUERIES["sim_ivf_cell_index"](spark, SF01).collect()
    assert {(r["vec_id"], r["cell"]) for r in ranked} == {
        (r["vec_id"], r["cell"]) for r in idx
    }


def test_pq_codebooks_are_corpus_slices(spark):
    """Round-0 codebooks must be exact sub-vector slices of the first
    16 corpus vectors — no training drift, the property that lets the
    DuckDB oracle state them as data rows."""
    import numpy as np

    from graphsense_datafeed_spark.operators.llm_similarity import (
        _PQ_K,
        _PQ_M,
        _pq_codebooks,
    )

    books = _pq_codebooks(spark, SF01)
    e = load(spark, SF01, "embeddings")
    first = np.array(
        [r.embedding for r in e.orderBy("vec_id").limit(_PQ_K).collect()],
        dtype=np.float64,
    )
    d = first.shape[1] // _PQ_M
    for m in range(_PQ_M):
        assert np.array_equal(books[m], first[:, m * d : (m + 1) * d])


def test_gmd_is_twice_gini(spark):
    """Identity: relative GMD = 2·Gini·n/(n−1) exactly (GMD uses the
    U-statistic n(n−1) denominator where Gini's rank form divides by
    n²) — the two rows referee each other up to independent floors."""
    gmd = QUERIES["agg_gini_mean_difference"](spark, SF01).collect()[0]
    gini = QUERIES["agg_gini_concentration"](spark, SF01).collect()[0]
    n = gmd["n"]
    want = 2 * gini["gini_e6"] * n / (n - 1)
    assert abs(gmd["relative_gmd_e6"] - want) <= 3


def test_kendall_w_friedman_identity(spark):
    """Identity: χ² = m(n−1)·W — emitted through independent integer
    floors, so agreement must hold to the flooring tolerance."""
    r = QUERIES["agg_kendall_w"](spark, SF01).collect()[0]
    chi2 = r["chi2_e4"] / 1e4
    w = r["w_e6"] / 1e6
    assert abs(chi2 - r["m"] * (r["n"] - 1) * w) < 0.02


def test_aroon_bounds_and_lattice(spark):
    """Aroon values live on the exact 10-step lattice 0..100 and the
    oscillator equals up − down row-by-row."""
    rows = QUERIES["ts_aroon"](spark, SF01).collect()
    assert rows
    for r in rows:
        assert r["aroon_up_pct"] in range(0, 101, 10)
        assert r["aroon_dn_pct"] in range(0, 101, 10)
        assert r["aroon_osc"] == r["aroon_up_pct"] - r["aroon_dn_pct"]


def test_macd_first_day_is_zero(spark):
    """Seeding with the first close makes EMA12 = EMA26 = close on
    day 1, so MACD, signal and histogram all start at exactly 0."""
    rows = QUERIES["ts_macd"](spark, SF01).collect()
    first = {}
    for r in sorted(rows, key=lambda r: (r["event_type"], r["d"])):
        first.setdefault(r["event_type"], r)
    for r in first.values():
        assert r["macd_e6"] == 0 and r["signal_e6"] == 0
        assert r["hist_e6"] == 0


def test_donchian_band_ordering(spark):
    """lower ≤ mid ≤ upper on every row (floor-halved midline)."""
    for r in QUERIES["ts_donchian_channels"](spark, SF01).collect():
        assert r["lower_e4"] <= r["mid_e4"] <= r["upper_e4"]
        assert r["breakout_up"] in (0, 1)


def test_skellam_moment_identities(spark):
    """μ₁ − μ₂ must reproduce the mean and μ₁ + μ₂ the variance (the
    inversion is exact up to the four independent e4 floors)."""
    r = QUERIES["agg_skellam_fit_moments"](spark, SF01).collect()[0]
    assert abs((r["mu1_e4"] - r["mu2_e4"]) - r["mean_e4"]) <= 2
    assert abs((r["mu1_e4"] + r["mu2_e4"]) - r["var_e4"]) <= 2


def test_min_variance_portfolio_dominates(spark):
    """The achieved minimum-variance portfolio variance can exceed
    neither asset's own variance (w = 0 and w = 1 are feasible)."""
    r = QUERIES["ts_min_variance_weights"](spark, SF01).collect()[0]
    assert r["portfolio_var_e4"] <= r["var_view_e4"] + 1
    assert r["portfolio_var_e4"] <= r["var_click_e4"] + 1


def test_bland_altman_internal_consistency(spark):
    """bias sits inside its own limits of agreement and the limits
    are bias ± 1.96·SD up to independent floors."""
    r = QUERIES["agg_bland_altman"](spark, SF01).collect()[0]
    assert r["loa_lower_e4"] <= r["bias_e4"] <= r["loa_upper_e4"]
    width = r["loa_upper_e4"] - r["loa_lower_e4"]
    assert abs(width - 2 * int(1.96 * 2 * r["sd_e4"] / 2)) <= 4


def test_nnt_is_inverse_arr(spark):
    """NNT must equal 100/ARR to flooring tolerance when defined."""
    r = QUERIES["events_nnt_risk"](spark, SF01).collect()[0]
    if r["nnt_e2"] is not None and r["arr_e6"] != 0:
        import math

        want = math.floor(100.0 / (r["arr_e6"] / 1e6))
        assert abs(r["nnt_e2"] - want) <= 2


def test_brunner_munzel_direction_consistency(spark):
    """The studentized W and the superiority estimate must agree in
    direction: W > 0 iff p̂ > ½ (both measure 'purchase ranks above
    click')."""
    r = QUERIES["agg_brunner_munzel"](spark, SF01).collect()[0]
    assert 0 <= r["p_hat_e6"] <= 1_000_000
    if r["p_hat_e6"] > 500_000:
        assert r["w_e4"] > 0
    elif r["p_hat_e6"] < 500_000:
        assert r["w_e4"] < 0


def test_vortex_tr_matches_atr_tr(spark):
    """The TR cell that ts_vortex_indicator and ts_atr_wilder both
    state — GREATEST(H−L, |H−C_prev|, |L−C_prev|) over the shared
    daily candle tape — recomputed here from _daily_ohlc directly and
    asserted equal to ts_atr_wilder's tr_e4 on EVERY (series, day)
    (ADVICE r13: the old body only asserted non-negativity)."""
    from graphsense_datafeed_spark.operators.timeseries import _daily_ohlc

    tape = {}
    for r in _daily_ohlc(spark, SF01).collect():
        tape.setdefault(r["event_type"], []).append(
            (r["d"], r["h1"], r["l1"], r["c1"])
        )
    want = {}
    for et, rows in tape.items():
        rows.sort()
        prev_close = None
        for d, h, l, c in rows:
            if prev_close is None:
                want[(et, d)] = h - l
            else:
                want[(et, d)] = max(
                    h - l, abs(h - prev_close), abs(l - prev_close)
                )
            prev_close = c
    atr = {
        (r["event_type"], r["d"]): r["tr_e4"]
        for r in QUERIES["ts_atr_wilder"](spark, SF01).collect()
    }
    assert atr == want
    assert len(atr) > 100  # real multi-day tape, not a degenerate pass


def test_holm_subset_of_bh(spark):
    """Holm (FWER) can only reject a subset of BH (FDR) on identical
    p-values — the textbook containment, asserted row-for-row."""
    holm = {
        (r["event_type"], r["dow"]): r["rejected"]
        for r in QUERIES["agg_holm_bonferroni"](spark, SF01).collect()
    }
    bh = {
        (r["event_type"], r["dow"]): r["rejected"]
        for r in QUERIES["agg_benjamini_hochberg"](spark, SF01).collect()
    }
    assert set(holm) == set(bh)
    for k, h in holm.items():
        if h == 1:
            assert bh[k] == 1
