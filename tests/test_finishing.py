"""Finishing-layer tests: fits recover generating parameters; model
selection picks the generating family; datacard text is well-formed."""

import numpy as np
import pandas as pd

from copperhead_spark.finishing.fits import (
    FAMILIES,
    bernstein_basis,
    chebyshev_basis,
    fit_bwz,
    fit_chebyshev,
    fit_histogram_table,
    select_best_model,
)
from copperhead_spark.finishing.templates import (
    group_templates,
    make_datacard,
    to_template_arrays,
)


def test_chebyshev_fit_recovers_coefficients():
    x = np.linspace(110, 150, 40)
    coef_true = np.array([100.0, -20.0, 5.0, 1.5])
    y = chebyshev_basis(x, 3) @ coef_true
    res = fit_chebyshev(x, y, np.sqrt(np.maximum(y, 1.0)), 3)
    assert np.allclose(res.params, coef_true, rtol=1e-8)
    assert res.chi2 < 1e-12


def test_bwz_fit_recovers_width():
    x = np.linspace(76, 106, 60)
    from copperhead_spark.finishing.fits import _bw_shape

    y = 5000.0 * _bw_shape(x, 91.1876, 2.5)
    res = fit_bwz(x, y, np.sqrt(np.maximum(y, 1e-6)))
    assert abs(res.params[1] - 2.5) < 0.01
    assert res.chi2_ndf < 1e-6


def test_model_selection_picks_generating_family():
    x = np.linspace(76, 106, 60)
    from copperhead_spark.finishing.fits import _bw_shape

    y = 5000.0 * _bw_shape(x, 91.1876, 2.5)
    best = select_best_model(x, y, np.sqrt(np.maximum(y, 1e-6)))
    assert best.model == "bwZ", best.model

    coefs = np.array([50.0, 3.0, -2.0, 0.5])
    y2 = bernstein_basis(x, 3) @ coefs
    best2 = select_best_model(x, y2, np.ones_like(x))
    assert best2.chi2_ndf < 1e-10  # a polynomial family nails it


def test_fit_histogram_table_groups():
    from copperhead_spark.finishing.fits import _bw_shape

    lo, hi, nbins = 76.0, 106.0, 30
    width = (hi - lo) / nbins
    x = lo + (np.arange(nbins) + 0.5) * width
    rows = []
    for region in ("z-peak", "h-peak"):
        y = 1000.0 * _bw_shape(x, 91.1876, 2.5)
        for b in range(nbins):
            rows.append(dict(region=region, channel="vbf", bin_idx=b, value=y[b], sumw2=y[b]))
    fits = fit_histogram_table(pd.DataFrame(rows), lo, hi, nbins, by=("region", "channel"))
    assert len(fits) == 2
    for res in fits.values():
        assert res.model == "bwZ"


def test_templates_and_datacard():
    hist = pd.DataFrame(
        dict(
            dataset=["dy", "dy", "ttbar", "ggh"],
            region=["h-peak"] * 4,
            channel=["vbf"] * 4,
            variation=["nominal"] * 4,
            bin_idx=[0, 35, 1, -1],  # 35 overflow-ish, -1 underflow fold
            value=[10.0, 5.0, 3.0, 1.5],
            sumw2=[10.0, 5.0, 3.0, 1.5],
        )
    )
    grouped = group_templates(hist, {"dy": "DY", "ttbar": "Top", "ggh": "ggH"}, nbins=10)
    arrays = to_template_arrays(grouped, nbins=10)
    key_dy = next(k for k in arrays if k[0] == "DY")
    assert arrays[key_dy]["values"][9] == 5.0  # overflow folded into last bin
    key_ggh = next(k for k in arrays if k[0] == "ggH")
    assert arrays[key_ggh]["values"][0] == 1.5  # underflow folded into first

    yields = pd.DataFrame(dict(group=["ggH", "DY", "Top"], **{"yield": [1.5, 15.0, 3.0]}))
    card = make_datacard(yields, signal_groups=("ggH",), lnN={"lumi": {"ggH": 1.025, "DY": 1.025}})
    assert "imax 1" in card and "jmax 2" in card and "kmax 1" in card
    assert "process      ggH DY Top" in card
    assert "process      0 1 2" in card
    assert "lumi         lnN 1.025 1.025 -" in card


def _fit_at_fixed_point(monkeypatch, fit, x, y, sigma):
    """Run `fit` and assert that one more coordinate-descent sweep started
    from its returned parameters returns them unchanged: the exact fixed
    point at which the sweep loop stops early."""
    from copperhead_spark.finishing import fits

    descend = fits._coordinate_descent
    calls = []

    def spy(objective, params0, bounds, sweeps, iters):
        p = descend(objective, params0, bounds, sweeps, iters)
        calls.append((objective, p, bounds, iters))
        return p

    monkeypatch.setattr(fits, "_coordinate_descent", spy)
    res = fit(x, y, sigma)
    ((objective, p, bounds, iters),) = calls
    assert descend(objective, p, bounds, 1, iters) == p
    assert list(res.params[1:]) == p
    return res


def test_bwz_redux_fit_recovers_params(monkeypatch):
    from copperhead_spark.finishing.fits import _bwz_redux_shape, fit_bwz_redux

    x = np.linspace(110, 150, 80)
    true = (1.39, 0.46, -0.26)
    y = 3000.0 * _bwz_redux_shape(x, *true)
    res = _fit_at_fixed_point(
        monkeypatch, fit_bwz_redux, x, y, np.sqrt(np.maximum(y, 1e-9))
    )
    assert res.model == "bwZredux"
    assert np.allclose(res.params[1:], true, atol=0.02), res.params
    assert res.chi2_ndf < 1e-6


def test_bw_gamma_fit_recovers_param():
    from copperhead_spark.finishing.fits import _bw_gamma_shape, fit_bw_gamma

    x = np.linspace(110, 150, 80)
    y = 1e7 * _bw_gamma_shape(x, -0.013)
    res = fit_bw_gamma(x, y, np.sqrt(np.maximum(y, 1e-9)))
    assert res.model == "bwGamma"
    assert abs(res.params[1] - (-0.013)) < 1e-4, res.params
    assert res.chi2_ndf < 1e-8


def test_double_cb_fit_recovers_core():
    from copperhead_spark.finishing.fits import _double_cb_shape, fit_double_cb

    x = np.linspace(110, 150, 160)
    true = (125.3, 1.8, 1.4, 2.0, 1.9, 3.0)
    y = 800.0 * _double_cb_shape(x, *true)
    res = fit_double_cb(x, y, np.sqrt(np.maximum(y, 1e-9)))
    assert res.model == "doubleCB"
    # core parameters are tightly identified; tails more loosely
    assert abs(res.params[1] - 125.3) < 0.05, res.params
    assert abs(res.params[2] - 1.8) < 0.1, res.params
    assert res.chi2_ndf < 1e-3


def test_double_cb_shape_continuous_at_junctions():
    from copperhead_spark.finishing.fits import _double_cb_shape

    mean, sig, a1, n1, a2, n2 = 125.0, 2.0, 1.5, 2.5, 1.8, 3.5
    eps = 1e-9
    for t_edge in (-a1, a2):
        lo = _double_cb_shape(np.array([mean + (t_edge - eps) * sig]), mean, sig, a1, n1, a2, n2)
        hi = _double_cb_shape(np.array([mean + (t_edge + eps) * sig]), mean, sig, a1, n1, a2, n2)
        assert abs(lo[0] - hi[0]) < 1e-6


def test_six_family_menu_selects_each_lineshape():
    """Every nonlinear family wins model selection on data it generated
    (the 6-model menu parity vs fit_models.py:20-392)."""
    from copperhead_spark.finishing.fits import (
        _bw_gamma_shape,
        _bwz_redux_shape,
        _double_cb_shape,
    )

    assert set(FAMILIES) == {
        "chebyshev3", "bernstein3", "bwZ", "bwZredux", "bwGamma", "doubleCB",
    }
    x = np.linspace(110, 150, 120)
    cases = {
        "doubleCB": 800.0 * _double_cb_shape(x, 125.3, 1.8, 1.4, 2.0, 1.9, 3.0),
        "bwZredux": 3000.0 * _bwz_redux_shape(x, 1.39, 0.46, -0.26),
        "bwGamma": 1e7 * _bw_gamma_shape(x, -0.013),
    }
    for want, y in cases.items():
        best = select_best_model(x, y, np.sqrt(np.maximum(y, 1e-9)))
        assert best.model == want, (want, best.model, best.chi2_ndf)


def test_family_chi2_pinned_on_h_peak_histogram(monkeypatch):
    """Every family's chi2 on a fixed 11-bin h-peak-like spectrum (a
    falling background, a small bump at 125 GeV and a deterministic
    wiggle; sigma = sqrt(y)) is no worse than the values the fitter gave
    before its search was rewritten (one golden-section evaluation per
    step, closed-form norm, early exit at the fixed point), and the
    winner is a cubic.  chebyshev3 and bernstein3 span the same cubic
    space, so which of the two wins is BLAS low-bit noise (their chi2
    here differ in the last bit).  The bwZredux pin comes from a search
    stopped at 8 sweeps mid-descent; the fixed point is lower.  Both
    multi-parameter lineshapes end at their coordinate-descent fixed
    point here."""
    x = 115.0 + 2.0 * np.arange(11)
    y = np.array(
        [420.0, 397.29, 361.85, 341.88, 344.47, 330.52,
         291.67, 266.06, 243.22, 217.8, 209.47]
    )
    pins = {
        "chebyshev3": 2.9088156120553528,
        "bernstein3": 2.908815612055353,
        "bwZ": 16.20548321170467,
        "bwZredux": 7.782095718784619,
        "bwGamma": 5.532449815263558,
        "doubleCB": 702.3187658700776,
    }
    assert list(FAMILIES) == list(pins)
    for name, fit in FAMILIES.items():
        if name in ("bwZredux", "doubleCB"):
            with monkeypatch.context() as m:
                chi2 = _fit_at_fixed_point(m, fit, x, y, np.sqrt(y)).chi2
        else:
            chi2 = fit(x, y, np.sqrt(y)).chi2
        assert chi2 <= pins[name] * (1 + 1e-9) + 1e-12, (name, chi2)
    best = select_best_model(x, y, np.sqrt(y))
    assert best.model in {"chebyshev3", "bernstein3"}, best.model


def test_select_best_model_survives_wild_x_range():
    """fin1 runs the menu on price-scaled x (0..110000): exp-based
    lineshapes overflow there and must lose gracefully, not crash."""
    x = np.linspace(1000.0, 109000.0, 55)
    y = 100.0 + 0.001 * x
    best = select_best_model(x, y, np.sqrt(np.maximum(y, 1.0)))
    assert np.isfinite(best.chi2)


def _toy_hist_pdf():
    """Histogram table for 2 MC groups + data over 4 bins, with an
    underflow (-1) and overflow (4) row to check edge folding."""
    rows = []
    for grp, vals in (
        ("dy", [50.0, 40.0, 30.0, 20.0]),
        ("ttbar", [5.0, 6.0, 7.0, 8.0]),
        ("data", [60.0, 44.0, 40.0, 28.0]),
        ("ggh", [1.0, 2.0, 2.0, 1.0]),
    ):
        for b, v in enumerate(vals):
            rows.append(("h-peak", "vbf", "nominal", grp, b, v, v))
    rows.append(("h-peak", "vbf", "nominal", "dy", -1, 3.0, 3.0))   # underflow
    rows.append(("h-peak", "vbf", "nominal", "dy", 4, 2.0, 2.0))    # overflow
    rows.append(("z-peak", "vbf", "nominal", "dy", 0, 999.0, 999.0))  # other region
    return pd.DataFrame(
        rows,
        columns=["region", "channel", "variation", "group", "bin_idx", "value", "sumw2"],
    )


def test_plot_spec_axes_contents_and_totals():
    from copperhead_spark.finishing.plots import build_plot_spec

    spec = build_plot_spec(
        _toy_hist_pdf(),
        lo=110.0, hi=150.0, nbins=4,
        groups={"dy": "stack", "ttbar": "stack", "ggh": "step", "data": "errorbar"},
        region="h-peak", channel="vbf",
    )
    assert np.allclose(spec["edges"], [110, 120, 130, 140, 150])
    # ascending integral: ttbar (26) stacks below dy (145 + folded 5)
    assert spec["stack_order"] == ["ttbar", "dy"]
    # under/overflow folded into edge bins
    dy = spec["groups"]["dy"]["values"]
    assert np.allclose(dy, [53.0, 40.0, 30.0, 22.0])
    assert np.allclose(spec["total_mc"], dy + np.array([5.0, 6.0, 7.0, 8.0]))
    assert np.allclose(spec["stack_cumulative"][-1], spec["total_mc"])
    # z-peak row is sliced out
    assert spec["total_yield"] == pytest_approx(26.0 + 145.0 + 6.0 + 172.0)
    # ratio = data / MC with sqrt(sumw2) errors
    data = spec["total_data"]
    assert np.allclose(spec["ratio"], data / spec["total_mc"])
    assert np.allclose(spec["ratio_err"], np.sqrt(data) / spec["total_mc"])


def pytest_approx(x):
    import pytest

    return pytest.approx(x)


def test_plot_spec_from_stage2_pipeline(spark):
    """End-to-end: the flagship stage-2 histogram feeds the plot spec;
    the figure totals equal the histogram totals (the reference's
    tests/test_stage3.py:20-68 analogue on axes contents)."""
    from copperhead_spark.finishing.plots import build_plot_spec
    from copperhead_spark.fixtures import events_fixture_distributed
    from copperhead_spark.pipeline import stage1_arrays, stage2

    hist = stage2(stage1_arrays(events_fixture_distributed(spark, 5000)))
    pdf = hist.toPandas()
    pdf["group"] = "mc"
    pdf["variation"] = "nominal"
    region = pdf.region.iloc[0]
    channel = pdf[pdf.region == region].channel.iloc[0]
    spec = build_plot_spec(
        pdf, lo=76.0, hi=150.0, nbins=37,
        groups={"mc": "stack"}, region=region, channel=channel,
    )
    want = pdf[(pdf.region == region) & (pdf.channel == channel)].value.sum()
    assert spec["total_yield"] == pytest_approx(float(want))
    assert spec["stack_order"] == ["mc"]
    assert len(spec["centers"]) == 37 and len(spec["edges"]) == 38
    assert np.isfinite(spec["total_mc"]).all()


def test_render_plot_is_gated_without_matplotlib():
    from copperhead_spark.finishing.plots import build_plot_spec, render_plot

    spec = build_plot_spec(
        _toy_hist_pdf(), lo=0.0, hi=4.0, nbins=4,
        groups={"dy": "stack"}, region="h-peak", channel="vbf",
    )
    try:
        import matplotlib  # noqa: F401
        has_mpl = True
    except ImportError:
        has_mpl = False
    if not has_mpl:
        import pytest

        with pytest.raises(ImportError, match="matplotlib"):
            render_plot(spec, "/tmp/never_written.png")


# ---------------------------------------------------------------------------
# unbinned NLL path (r5 verdict task 4): parameter recovery on exact
# inverse-CDF samples, and chi2-vs-NLL model-pick agreement
# ---------------------------------------------------------------------------


def _exp_sample(lam, lo, hi, n):
    """Deterministic truncated-exponential sample: inverse CDF on the
    midpoint grid (i+0.5)/n — no RNG, exact quantiles."""
    u = (np.arange(n) + 0.5) / n
    a, b = np.exp(lam * lo), np.exp(lam * hi)
    return np.log(a + u * (b - a)) / lam


def test_nll_exp_recovers_rate():
    from copperhead_spark.finishing.nll import UNBINNED_FAMILIES, fit_nll

    lam_true, lo, hi = -0.045, 1.0, 105.0
    x = _exp_sample(lam_true, lo, hi, 20_000)
    shape, p0, bounds = UNBINNED_FAMILIES["exp"]
    res = fit_nll("exp", shape, x, lo, hi, p0, bounds, sweeps=6)
    assert abs(res.params[0] - lam_true) < 5e-4
    assert np.isfinite(res.nll)


def test_nll_bwz_recovers_width():
    from copperhead_spark.finishing.nll import UNBINNED_FAMILIES, fit_nll

    # sample the Breit-Wigner via inverse CDF of the Cauchy in s = x^2
    # domain approximation is avoided: just use numeric quantiles of the
    # normalized shape on a fine grid (deterministic)
    lo, hi, w_true = 60.0, 120.0, 4.2
    shape, p0, bounds = UNBINNED_FAMILIES["bwZ"]
    grid = np.linspace(lo, hi, 200_001)
    pdf = shape(grid, w_true)
    cdf = np.cumsum((pdf[1:] + pdf[:-1]) / 2)
    cdf = np.concatenate([[0.0], cdf]) / np.sum((pdf[1:] + pdf[:-1]) / 2)
    u = (np.arange(20_000) + 0.5) / 20_000
    x = np.interp(u, cdf, grid)
    res = fit_nll("bwZ", shape, x, lo, hi, p0, bounds, sweeps=6)
    assert abs(res.params[0] - w_true) / w_true < 0.02


def test_nll_model_selection_picks_generating_family_and_agrees_with_chi2():
    from copperhead_spark.finishing.fits import _weighted_lstsq
    from copperhead_spark.finishing.nll import (
        UNBINNED_FAMILIES,
        select_best_model_nll,
    )

    lam_true, lo, hi = -0.045, 1.0, 105.0
    x = _exp_sample(lam_true, lo, hi, 20_000)
    winner, results = select_best_model_nll(x, lo, hi, sweeps=6)
    assert winner.model == "exp"
    # AIC argmin really is the minimum over finite families
    assert winner.aic <= min(r.aic for r in results if np.isfinite(r.nll))

    # chi2 twin: histogram the SAME sample, fit each family with a
    # profiled norm (1 shape column), pick min chi2/ndf -> must agree
    counts, edges = np.histogram(x, bins=50, range=(lo, hi))
    ctr = (edges[:-1] + edges[1:]) / 2
    sig = np.sqrt(np.maximum(counts, 1.0))
    best_chi2, best_name = None, None
    from copperhead_spark.finishing.fits import _golden_min

    for name, (shape, p0, bounds) in UNBINNED_FAMILIES.items():

        def chi2_at(v):
            basis = shape(ctr, v)[:, None]
            if not np.all(np.isfinite(basis)):
                return np.inf
            _, c2, _ = _weighted_lstsq(basis, counts.astype(float), sig)
            return c2

        v = _golden_min(chi2_at, bounds[0][0], bounds[0][1], iters=40)
        c2 = chi2_at(v) / (len(ctr) - 2)
        if best_chi2 is None or c2 < best_chi2:
            best_chi2, best_name = c2, name
    assert best_name == winner.model
