"""Pure-numpy kernel tests (SURVEY.md §5.2.1-2): golden YATSM segmentation
fixtures recast as url-series break-detection assertions (FIXTURES.md §2)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from yatsm_spark.functions.ccdc import (
    CCDCParams,
    chow_commission,
    cusum_omission,
    f_sf,
    fit_series,
    harmonic_design,
    lasso_cd,
    ols_fit,
    recresid,
    rlm_irls,
    tmask_screen,
)

RNG = np.random.default_rng(42)
P = CCDCParams()


def _series(n_days=3 * 365, cadence=8, amp=300.0, base=2000.0, noise=20.0):
    t = np.arange(0, n_days, cadence, dtype=np.float64)
    y = base + amp * np.cos(2 * math.pi * t / 365.25) + RNG.normal(0, noise, t.size)
    return t, y


def test_harmonic_design_shape():
    X = harmonic_design(np.arange(10.0), order=2)
    assert X.shape == (10, 6)
    np.testing.assert_allclose(X[:, 0], 1.0)


def test_ols_recovers_coefficients():
    t, y = _series()
    X = harmonic_design(t)
    coef, r = ols_fit(X, y)
    assert abs(coef[0] - 2000.0) < 10
    assert abs(coef[2] - 300.0) < 10  # cos amplitude
    assert abs(r - 20.0) < 5


def test_lasso_shrinks_vs_ols():
    t, y = _series()
    X = harmonic_design(t, order=2)
    ols = lasso_cd(X, y, alpha=0.0)
    las = lasso_cd(X, y, alpha=50.0)
    # non-intercept coefs shrink in L1 norm; intercept unpenalized
    assert np.abs(las[1:]).sum() < np.abs(ols[1:]).sum()
    # irrelevant high-order terms go (near) zero
    assert abs(las[4]) < 1.0 and abs(las[5]) < 1.0


def test_lasso_alpha0_equals_ols():
    t, y = _series()
    X = harmonic_design(t)
    np.testing.assert_allclose(lasso_cd(X, y, 0.0), np.linalg.lstsq(X, y, rcond=None)[0], atol=1e-4)


def test_rlm_ignores_outliers():
    t, y = _series(noise=5.0)
    y_dirty = y.copy()
    y_dirty[::20] += 5000.0
    X = harmonic_design(t)
    coef_r, _ = rlm_irls(X, y_dirty)
    assert abs(coef_r[0] - 2000.0) < 25  # robust intercept unaffected by spikes


def test_tmask_drops_planted_outliers():
    """fx://outliers: stable + 5 isolated spikes -> spikes screened, no break."""
    t, y = _series(noise=20.0)
    idx = [20, 45, 70, 95, 110]
    y[idx] += 5000.0
    keep = tmask_screen(t, y)
    assert not keep[idx].any()
    assert keep.sum() >= t.size - len(idx) - 5
    segs = fit_series(t, y, P)
    assert len(segs) == 1 and segs[0].status == "stable"


def test_stable_series_single_segment():
    """fx://stable: 1 segment, no break, coef recovery, rmse ~ noise."""
    t, y = _series()
    segs = fit_series(t, y, P)
    assert len(segs) == 1
    s = segs[0]
    assert s.status == "stable"
    assert math.isnan(s.break_t)
    assert abs(s.coef[0] - 2000.0) < 15
    assert abs(s.coef[2] - 300.0) < 15
    assert abs(s.rmse - 20.0) < 6


def test_break_step_detected():
    """fx://break-step: +800 level shift at t0 -> 2 segments, break at t0
    within consecutive*cadence, magnitude ~ +800."""
    cadence = 8
    t, y = _series(cadence=cadence)
    t0 = 547.0  # mid-series
    y = y + np.where(t >= t0, 800.0, 0.0)
    segs = fit_series(t, y, P)
    assert len(segs) == 2, [s.status for s in segs]
    b = segs[0]
    assert b.status == "broken"
    assert abs(b.break_t - t0) <= P.consecutive * cadence + cadence
    assert abs(b.magnitude - 800.0) < 120
    assert segs[1].status == "stable"


def test_break_trend_detected():
    """fx://break-trend: slope 0 -> +3/day at t0; break found, second-segment
    slope ~ 3."""
    t, y = _series(cadence=8, noise=15.0)
    t0 = 500.0
    y = y + np.where(t >= t0, 3.0 * (t - t0), 0.0)
    segs = fit_series(t, y, P)
    assert len(segs) >= 2
    assert segs[0].status == "broken"
    assert abs(segs[0].break_t - t0) <= 120  # trend onset ramps slowly past threshold
    assert abs(segs[-1].coef[1] - 3.0) < 1.0


def test_short_series_insufficient():
    """fx://short: n < min_obs -> one 'insufficient' record, no crash."""
    t = np.arange(6, dtype=np.float64) * 8
    y = np.full(6, 2000.0)
    segs = fit_series(t, y, P)
    assert len(segs) == 1 and segs[0].status == "insufficient"
    assert segs[0].n_obs == 6


def test_gappy_series_still_one_segment():
    """fx://gappy: 40% missing -> still a single stable segment."""
    t, y = _series()
    keep = RNG.random(t.size) > 0.4
    segs = fit_series(t[keep], y[keep], P)
    assert len(segs) == 1 and segs[0].status == "stable"


def test_recresid_iid_standardized():
    """On a true linear model with N(0,s) noise, recursive residuals are
    ~N(0,s) (BDE 1975)."""
    t = np.arange(200.0)
    X = harmonic_design(t)
    y = 10.0 + 0.5 * t + RNG.normal(0, 2.0, 200)
    w = recresid(X, y)
    assert w.size == 200 - X.shape[1]
    assert abs(np.std(w) - 2.0) < 0.5
    assert abs(np.mean(w)) < 0.5


def test_cusum_detects_omitted_break():
    t = np.arange(300.0)
    X = harmonic_design(t)
    y = 100.0 + RNG.normal(0, 3.0, 300)
    assert not cusum_omission(X, y, 0.05)
    y2 = y + np.where(t >= 150, 60.0, 0.0)
    assert cusum_omission(X, y2, 0.05)


def test_f_sf_known_values():
    # F(1, 10): P(F > 4.96) ~ 0.05; F(5, 20): P(F > 2.71) ~ 0.05
    assert f_sf(4.965, 1, 10) == pytest.approx(0.05, abs=0.002)
    assert f_sf(2.711, 5, 20) == pytest.approx(0.05, abs=0.002)


def test_chow_merges_spurious_split():
    t, y = _series()
    X = harmonic_design(t)
    half = t.size // 2
    # same process both halves -> break NOT significant -> merge=True
    assert chow_commission(X[:half], y[:half], X[half:], y[half:], 0.01)
    # genuine +800 shift -> significant -> merge=False
    y2 = y + np.where(t >= t[half], 800.0, 0.0)
    assert not chow_commission(X[:half], y2[:half], X[half:], y2[half:], 0.01)


def test_determinism():
    t, y = _series(cadence=4)
    y += np.where(t >= 600, 500.0, 0.0)
    a = fit_series(t, y, P)
    b = fit_series(t[::-1].copy(), y[::-1].copy(), P)  # input order must not matter
    assert len(a) == len(b)
    for s1, s2 in zip(a, b):
        assert s1.start_t == s2.start_t and s1.status == s2.status
        np.testing.assert_array_equal(s1.coef, s2.coef)


def test_lowess_tracks_known_curve():
    """F5: the LOWESS fit must track a smooth signal closely and resist
    outliers (robustifying iterations)."""
    import numpy as np

    from yatsm_spark.functions.ccdc import lowess

    rng = np.random.default_rng(3)
    t = np.linspace(0, 10, 200)
    truth = np.sin(t) * 5 + 0.5 * t
    y = truth + rng.normal(0, 0.2, t.size)
    y[25] += 40.0  # gross outlier
    y[140] -= 35.0
    fit = lowess(t, y, frac=0.2, it=2)
    clean = np.ones(t.size, dtype=bool)
    clean[[25, 140]] = False
    assert np.abs(fit[clean] - truth[clean]).mean() < 0.25
    # the fit does NOT chase the outliers
    assert abs(fit[25] - truth[25]) < 3.0 and abs(fit[140] - truth[140]) < 3.0


def test_lowess_screen_keeps_shift_drops_spikes():
    """Trend-following screen semantics: a genuine level shift stays IN
    (it's signal for the break detector), an isolated spike goes OUT."""
    import numpy as np

    from yatsm_spark.functions.ccdc import lowess_screen

    rng = np.random.default_rng(5)
    t = np.arange(300, dtype=np.float64)
    y = np.where(t < 150, 100.0, 180.0) + rng.normal(0, 2.0, t.size)
    y[40] += 60.0
    y[220] -= 55.0
    keep = lowess_screen(t, y, crit=3.5, frac=0.15)
    assert not keep[40] and not keep[220]  # spikes screened
    # rows away from the step edge are kept (the smoother blurs the
    # transition itself over ~half a window — those edge drops are the
    # known cost of any trend screen at a discontinuity)
    far = np.ones(t.size, dtype=bool)
    far[125:175] = False
    assert keep[far].mean() > 0.97
    assert keep.mean() > 0.9


def test_lowess_screen_in_fit_series():
    """screen='lowess' plugs into the CCDC loop and still finds the break;
    the chunked fit applies the same global screen (exact equality)."""
    import numpy as np

    from yatsm_spark.functions.ccdc import CCDCParams, fit_series, fit_series_chunked

    rng = np.random.default_rng(7)
    t = np.arange(0, 600, 2, dtype=np.float64)
    y = np.where(t < 300, 1000.0, 1600.0) + rng.normal(0, 10.0, t.size)
    y[30] += 400.0  # spike the screen should eat
    params = CCDCParams(period=7.0, min_span=56.0, retrain_time=56.0, screen="lowess")
    segs = fit_series(t, y, params)
    assert sum(s.status.startswith("broken") for s in segs) == 1
    chunked = fit_series_chunked(t, y, params, chunk_rows=120)
    assert [(s.start_t, s.end_t, s.status) for s in chunked] == [
        (s.start_t, s.end_t, s.status) for s in segs
    ]


# ---- hand-derived anchors: expected outputs follow from the algorithm
# spec by pencil-and-paper arithmetic, NOT from running this code — the
# absolute-correctness complement to the self-generated golden fixtures
# (which only gate drift).


def _hand_params():
    # exact-fit regime: constant series => OLS residuals ~0, monitor
    # denominator = min_rmse = 1, so every score is |y - level| exactly
    return CCDCParams(
        period=7.0,
        min_span=14.0,
        min_obs=16,
        retrain_time=10_000.0,  # no refits: coefficients stay fixed
        consecutive=5,
        threshold=3.5,
        screen="none",
    )


def test_hand_derived_two_segment_break():
    """y=100 for t<40, 110 after.  Derivation: train on t=0..15 (16 obs
    spanning 15d >= 14) fits y=100 exactly (rmse 0 -> floor 1); t=16..39
    score ~0 and absorb; t=40..44 each score 10 > 3.5, the 5th confirms a
    break at the FIRST of the run (t=40) with magnitude = mean run
    residual = 10; retrain at t=40 on the 110-level remainder gives one
    stable segment."""
    t = np.arange(60, dtype=np.float64)
    y = np.where(t < 40, 100.0, 110.0)
    segs = fit_series(t, y, _hand_params())
    assert [s.status for s in segs] == ["broken", "stable"]
    s1, s2 = segs
    assert s1.start_t == 0.0 and s1.end_t == 39.0
    assert s1.break_t == 40.0
    assert s1.n_obs == 40
    assert abs(s1.magnitude - 10.0) < 1e-6
    assert s2.start_t == 40.0 and s2.end_t == 59.0 and s2.n_obs == 20
    assert abs(s2.coef[0] - 110.0) < 1e-6 and abs(s2.coef[1]) < 1e-9
    assert math.isnan(s2.break_t)


def test_hand_derived_consecutive_rule():
    """Exactly `consecutive`-1 exceedances must NOT break; exactly
    `consecutive` must.  Pins the run-counting semantics bit-for-bit."""
    t = np.arange(60, dtype=np.float64)
    y4 = np.where((t >= 40) & (t < 44), 110.0, 100.0)  # 4-long excursion
    segs4 = fit_series(t, y4, _hand_params())
    assert [s.status for s in segs4] == ["stable"]
    assert segs4[0].n_obs == 60

    y5 = np.where((t >= 40) & (t < 45), 110.0, 100.0)  # 5-long excursion
    segs5 = fit_series(t, y5, _hand_params())
    assert segs5[0].status == "broken"
    assert segs5[0].break_t == 40.0


# ---- batched K8: bit-identity with the sequential kernel


def test_recresid_batch_bit_identical():
    from yatsm_spark.functions.ccdc import recresid_batch

    rng = np.random.default_rng(99)
    Xs, ys = [], []
    for k in range(25):
        n = int(rng.integers(3, 400))
        t = np.arange(n, dtype=float) * rng.uniform(0.5, 2.0)
        X = harmonic_design(t, period=7.0 if k % 2 else 365.25)
        yv = rng.normal(10, 3, n) + 0.3 * t
        Xs.append(X)
        ys.append(yv)
    batch = recresid_batch(Xs, ys)
    for b, (X, yv) in zip(batch, zip(Xs, ys)):
        assert np.array_equal(b, recresid(X, yv))


def test_omission_batch_matches_sequential():
    from yatsm_spark.functions.ccdc import cusum_omission_batch

    rng = np.random.default_rng(5)
    Xs, ys, expect = [], [], []
    for k in range(12):
        n = 120
        t = np.arange(n, dtype=float)
        X = harmonic_design(t, period=7.0)
        yv = 50 + rng.normal(0, 1.0, n)
        if k % 3 == 0:
            yv[n // 2 :] += 15.0  # planted omitted break
        Xs.append(X)
        ys.append(yv)
        expect.append(cusum_omission(X, yv, 0.05))
    assert cusum_omission_batch(Xs, ys, 0.05) == expect
    assert any(expect) and not all(expect)


def test_fit_series_omission_collect_equivalent():
    """fit_series(omission_collect=...) + cusum_omission_batch must equal
    the inline omission pass — the contract the segmentation plan's
    cross-group batching relies on."""
    from yatsm_spark.functions.ccdc import cusum_omission_batch

    rng = np.random.default_rng(17)
    p = CCDCParams(
        period=7.0, min_span=56.0, retrain_time=56.0, omission_alpha=0.05, screen="none"
    )
    t = np.arange(300, dtype=np.float64)
    y = 100 + 5 * np.cos(2 * np.pi * t / 7) + rng.normal(0, 2, 300)
    y[150:] += 6.0  # sub-threshold drift: no Shewhart break, CUSUM fires
    inline = fit_series(t, y, p)
    collect: list = []
    deferred = fit_series(t, y, p, omission_collect=collect)
    flags = cusum_omission_batch([x for _, x, _ in collect], [v for _, _, v in collect], 0.05)
    for (seg, _, _), hit in zip(collect, flags):
        if hit:
            seg.status += "+omission"
    assert [s.status for s in inline] == [s.status for s in deferred]
    assert any("+omission" in s.status for s in inline)


def test_lowess_screen_blocked_linear_on_long_series():
    """Giant-series guard: the blocked screen must (a) agree with the
    unblocked screen at n <= block (exact), (b) still drop planted spikes
    and keep a genuine level shift on a series several blocks long, and
    (c) run in time linear in n (a global fit would be O(n^2*frac) —
    ~minutes at this size)."""
    import time

    from yatsm_spark.functions.ccdc import lowess_screen

    rng = np.random.default_rng(11)
    # (a) exactness at small n: block larger than the series
    t_s = np.arange(500, dtype=np.float64)
    y_s = 50 + 0.1 * t_s + rng.normal(0, 1, 500)
    assert np.array_equal(
        lowess_screen(t_s, y_s, 3.5, block=4096), lowess_screen(t_s, y_s, 3.5, block=10**9)
    )
    # (b)+(c) behavior and wall on a 20k series (5 blocks)
    n = 20_000
    t = np.arange(n, dtype=np.float64)
    y = 100 + 10 * np.cos(2 * np.pi * t / 7) + rng.normal(0, 1, n)
    y[n // 2 :] += 30  # level shift: must stay IN
    spikes = rng.choice(n, 40, replace=False)
    y[spikes] += 500  # spikes: must go OUT
    t0 = time.perf_counter()
    keep = lowess_screen(t, y, 3.5)
    wall = time.perf_counter() - t0
    assert wall < 30.0, f"blocked screen took {wall:.1f}s — not linear"
    assert not keep[spikes].any()
    shift_zone = np.ones(n, dtype=bool)
    shift_zone[spikes] = False
    assert keep[shift_zone].mean() > 0.95  # shift + normal points kept


def test_med_bit_identical_to_np_median():
    from yatsm_spark.functions.ccdc import _med

    rng = np.random.default_rng(0)
    for _ in range(500):
        n = int(rng.integers(1, 300))
        a = rng.normal(0, 1e3, n)
        assert _med(a) == float(np.median(a))


def _lowess_loop_reference(t, y, frac=0.3, it=2, k=None):
    """The per-point sliding-window LOWESS loop the vectorized
    ``ccdc.lowess`` replaced — kept as the exactness reference."""
    from yatsm_spark.functions.ccdc import _EPS

    t = np.asarray(t, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n = t.size
    if n < 3:
        return y.copy()
    k = min(n, max(2, int(math.ceil(frac * n)) if k is None else k))
    order = np.argsort(t, kind="stable")
    ts, ys = t[order], y[order]
    fitted_s = np.empty(n)
    delta = np.ones(n)
    for _iter in range(it + 1):
        lo = 0
        for i in range(n):
            while lo + k < n and ts[lo + k] - ts[i] < ts[i] - ts[lo]:
                lo += 1
            hi = lo + k
            tw, yw, dw = ts[lo:hi], ys[lo:hi], delta[lo:hi]
            d = np.abs(tw - ts[i])
            dmax = d.max() + _EPS
            w = (1.0 - (d / dmax) ** 3) ** 3
            w = w * dw
            sw = w.sum()
            if sw <= _EPS:
                fitted_s[i] = ys[i]
                continue
            tm = (w * tw).sum() / sw
            ym = (w * yw).sum() / sw
            cov = (w * (tw - tm) * (yw - ym)).sum()
            var = (w * (tw - tm) ** 2).sum()
            beta = cov / var if var > _EPS else 0.0
            fitted_s[i] = ym + beta * (ts[i] - tm)
        if _iter == it:
            break
        resid = ys - fitted_s
        s = np.median(np.abs(resid)) + _EPS
        delta = np.clip(resid / (6.0 * s), -1.0, 1.0)
        delta = (1.0 - delta**2) ** 2
    fitted = np.empty(n)
    fitted[order] = fitted_s
    return fitted


@pytest.mark.parametrize("frac", [0.15, 0.3, 1.0])
def test_lowess_bit_identical_to_loop(frac):
    """The vectorized window search + row-blocked fits reproduce the
    per-point loop bit for bit: tied and unsorted t, n from 1 to 3000,
    an explicit k, it=0, spikes that zero robust weights, flat y."""
    from yatsm_spark.functions.ccdc import lowess

    rng = np.random.default_rng(17)
    sizes = [*range(1, 25), 64, 129, 400, 3000]
    for n in sizes:
        for kind in ("sorted", "unsorted", "tied", "spiky", "flat"):
            if kind == "sorted":
                t = np.cumsum(rng.uniform(0.1, 3.0, n))
            elif kind == "unsorted":
                t = rng.uniform(0.0, 100.0, n)
            elif kind == "tied":
                t = rng.integers(0, max(2, n // 3), n).astype(np.float64)
            else:
                t = np.arange(n) * 0.5
            y = 5 * np.sin(t) + rng.normal(0, 1, n)
            if kind == "spiky" and n > 5:
                y[rng.choice(n, 3, replace=False)] += 1e6
            if kind == "flat":
                y = np.full(n, 3.0)
            cases = [(2, None), (0, None), (1, 7)] if n <= 400 else [(0, None), (0, 50)]
            for it, k in cases:
                got = lowess(t, y, frac=frac, it=it, k=k)
                want = _lowess_loop_reference(t, y, frac=frac, it=it, k=k)
                assert np.array_equal(got.view(np.int64), want.view(np.int64)), (n, kind, it, k)


def test_lowess_memory_is_row_blocked():
    """A 20k-point series never holds its full n x k window matrix."""
    import tracemalloc

    from yatsm_spark.functions.ccdc import lowess

    n = 20_000
    t = np.arange(n, dtype=np.float64)
    y = np.sin(t / 50.0) + np.random.default_rng(2).normal(0, 1, n)
    k = int(math.ceil(0.05 * n))
    tracemalloc.start()
    try:
        lowess(t, y, frac=0.05, it=0)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    # an eighth of one n x k float64 matrix (160 MB here)
    assert peak < n * k, f"peak {peak / 1e6:.1f} MB"
