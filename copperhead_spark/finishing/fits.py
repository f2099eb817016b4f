"""Parametric fits on collected histogram data (SURVEY.md §2.11).

The reference fits parametric PDFs to the unbinned/binned mass column
with RooFit (bwZ / bwZredux / bwGamma / bernstein / chebyshev,
/root/reference/stage3/fit_models.py:20-392) and picks the best model
per (label, channel, category) by minimum chi2
(/root/reference/stage3/fitter.py:40-52).

Here: numpy-only chi2 fits over the *collected* histogram table (the
heavy lifting — binning — already happened distributed in stage 2; a fit
consumes O(nbins) numbers, exactly like the reference's per-category
RooFit calls), run serially on the driver.  Linear-in-coefficients
families (chebyshev, bernstein) solve exactly via weighted least
squares.  The nonlinear lineshapes (bwZ, bwZredux, bwGamma, doubleCB)
share one core: the linear norm is profiled in closed form and the shape
parameters are found by cyclic coordinate descent with golden-section
line searches, stopping at the sweep that changes no parameter.
finishing/nll.py runs the same descent on unbinned likelihoods.  No
scipy dependency.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np


@dataclass
class FitResult:
    model: str
    params: np.ndarray
    chi2: float
    ndf: int
    yhat: np.ndarray

    @property
    def chi2_ndf(self) -> float:
        return self.chi2 / max(self.ndf, 1)


def _weighted_lstsq(basis: np.ndarray, y: np.ndarray, sigma: np.ndarray):
    w = 1.0 / np.where(sigma > 0, sigma, 1.0)
    coef, *_ = np.linalg.lstsq(basis * w[:, None], y * w, rcond=None)
    yhat = basis @ coef
    chi2 = float(np.sum(((y - yhat) * w) ** 2))
    return coef, chi2, yhat


def chebyshev_basis(x: np.ndarray, degree: int) -> np.ndarray:
    # map x to [-1, 1] over its range (fit_models.py chebyshev family)
    t = 2 * (x - x.min()) / (x.max() - x.min()) - 1
    cols = [np.ones_like(t), t]
    for _ in range(2, degree + 1):
        cols.append(2 * t * cols[-1] - cols[-2])
    return np.column_stack(cols[: degree + 1])


def bernstein_basis(x: np.ndarray, degree: int) -> np.ndarray:
    t = (x - x.min()) / (x.max() - x.min())
    return np.column_stack(
        [
            math.comb(degree, k) * t**k * (1 - t) ** (degree - k)
            for k in range(degree + 1)
        ]
    )


def fit_chebyshev(x, y, sigma, degree: int = 3) -> FitResult:
    coef, chi2, yhat = _weighted_lstsq(chebyshev_basis(x, degree), y, sigma)
    return FitResult(f"chebyshev{degree}", coef, chi2, len(x) - (degree + 1), yhat)


def fit_bernstein(x, y, sigma, degree: int = 3) -> FitResult:
    coef, chi2, yhat = _weighted_lstsq(bernstein_basis(x, degree), y, sigma)
    return FitResult(f"bernstein{degree}", coef, chi2, len(x) - (degree + 1), yhat)


def _golden_min(f, lo: float, hi: float, iters: int) -> float:
    """Derivative-free 1-D minimizer: `iters` golden-section steps on
    [lo, hi].  The surviving interior point keeps its value, so each step
    makes one new evaluation of f.  The result depends only on the
    sequence of comparisons (a non-finite value never compares less)."""
    phi = (1 + 5**0.5) / 2
    a, b = lo, hi
    c, d = b - (b - a) / phi, a + (b - a) / phi
    fc, fd = f(c), f(d)
    for _ in range(iters):
        if fc < fd:
            b, d, fd = d, c, fc
            c = b - (b - a) / phi
            fc = f(c)
        else:
            a, c, fc = c, d, fd
            d = a + (b - a) / phi
            fd = f(d)
    return (a + b) / 2


def _coordinate_descent(objective, params0, bounds, sweeps: int, iters: int) -> list:
    """Cyclic coordinate descent: each sweep golden-section minimizes
    objective(params) along every coordinate in turn, within its bounds.
    A sweep that leaves every parameter unchanged is a fixed point: the
    next sweep would start from the same point and make the same
    comparisons, so stopping there returns exactly what all `sweeps`
    sweeps would.  Deterministic — no RNG, no scipy."""
    p = list(params0)
    for _ in range(sweeps):
        start = p.copy()
        for i, (lo, hi) in enumerate(bounds):

            def along(v: float, i: int = i) -> float:
                q = p.copy()
                q[i] = v
                return objective(q)

            p[i] = _golden_min(along, lo, hi, iters)
        if p == start:
            break
    return p


def _profiled_coordinate_fit(
    model: str,
    shape,
    x: np.ndarray,
    y: np.ndarray,
    sigma: np.ndarray,
    params0: list[float],
    bounds: list[tuple[float, float]],
    iters: int = 40,
) -> FitResult:
    """Nonlinear families with a profiled linear normalization: coordinate
    descent over the shape parameters, at most 40 sweeps (the benchmark's
    h-peak spectra reach the fixed point in 2-3).  Each evaluation solves
    the norm of the one shape column b in closed form, (b·w²y)/(b·w²b)
    with w = 1/sigma."""
    w = 1.0 / np.where(sigma > 0, sigma, 1.0)
    yw = y * w

    def chi2_at(q: list[float]) -> tuple[float, float, np.ndarray]:
        basis = shape(x, *q)
        col = basis * w
        # scaled by its largest entry: on price-scale x (fin1) the plain
        # dot products over- or underflow while the column is finite
        m = np.abs(col).max()
        if not (np.isfinite(col).all() and m > 0.0):
            # out-of-domain shape (e.g. exp overflow on a wildly scaled
            # x): this family simply cannot describe the data here
            return float("inf"), 0.0, np.zeros_like(y)
        u = col / m
        t = (u @ yw) / (u @ u)
        r = yw - u * t
        return float(r @ r), t / m, basis * (t / m)

    with np.errstate(over="ignore", invalid="ignore", divide="ignore"):
        p = _coordinate_descent(lambda q: chi2_at(q)[0], params0, bounds, 40, iters)
        chi2, norm, yhat = chi2_at(p)
    return FitResult(model, np.array([norm, *p]), chi2, len(x) - (len(p) + 1), yhat)


def _bw_shape(x: np.ndarray, mass: float, width: float) -> np.ndarray:
    return width / ((x * x - mass * mass) ** 2 + mass * mass * width * width)


def fit_bwz(x, y, sigma, mass: float = 91.1876) -> FitResult:
    """Breit-Wigner (Z lineshape, fit_models.py bwZ): profile the linear
    norm, golden-section the width — robust, derivative-free."""
    return _profiled_coordinate_fit(
        "bwZ",
        lambda x, width: _bw_shape(x, mass, width),
        x,
        y,
        sigma,
        params0=[2.5],
        bounds=[(0.1, 60.0)],
        iters=60,
    )


def _bwz_redux_shape(x: np.ndarray, a1: float, a2: float, a3: float) -> np.ndarray:
    """fit_models.py bwZredux: exp(a2*(x/100) + a3*(x/100)^2) * 2.5 /
    ((x - 91.2)^a1 + (2.5/2)^a1) — perturbed exponential times an
    off-power Breit-Wigner."""
    t = x / 100.0
    return (
        np.exp(a2 * t + a3 * t * t)
        * 2.5
        / (np.abs(x - 91.2) ** a1 + (2.5 / 2.0) ** a1)
    )


def fit_bwz_redux(x, y, sigma) -> FitResult:
    return _profiled_coordinate_fit(
        "bwZredux",
        _bwz_redux_shape,
        x,
        y,
        sigma,
        params0=[1.39, 0.46, -0.26],
        bounds=[(0.7, 2.1), (0.30, 0.62), (-0.40, -0.12)],
    )


def _bw_gamma_shape(x: np.ndarray, exp_param: float) -> np.ndarray:
    """fit_models.py bwGamma: exp(x * expParam) * x^-2 — the photon
    contribution, falling exponential over 1/x^2."""
    return np.exp(x * exp_param) / (x * x)


def fit_bw_gamma(x, y, sigma) -> FitResult:
    return _profiled_coordinate_fit(
        "bwGamma",
        _bw_gamma_shape,
        x,
        y,
        sigma,
        params0=[0.0],
        bounds=[(-0.1, 0.1)],
        iters=60,
    )


def _double_cb_shape(
    x: np.ndarray,
    mean: float,
    sigma_: float,
    alpha1: float,
    n1: float,
    alpha2: float,
    n2: float,
) -> np.ndarray:
    """RooDoubleCB (fit_models.py:384-392): Gaussian core with power-law
    tails below -alpha1 and above +alpha2 (in pulls t = (x-mean)/sigma),
    continuous and differentiable at the junctions."""
    t = (x - mean) / sigma_
    a1_ = np.exp(-0.5 * alpha1 * alpha1) * (n1 / alpha1) ** n1
    b1 = n1 / alpha1 - alpha1
    a2_ = np.exp(-0.5 * alpha2 * alpha2) * (n2 / alpha2) ** n2
    b2 = n2 / alpha2 - alpha2
    core = np.exp(-0.5 * t * t)
    left = a1_ * (b1 - t) ** (-n1)
    right = a2_ * (b2 + t) ** (-n2)
    return np.where(t < -alpha1, left, np.where(t > alpha2, right, core))


def fit_double_cb(x, y, sigma) -> FitResult:
    return _profiled_coordinate_fit(
        "doubleCB",
        _double_cb_shape,
        x,
        y,
        sigma,
        params0=[125.0, 2.0, 2.0, 1.5, 2.0, 1.5],
        bounds=[
            (120.0, 130.0),
            (0.3, 5.0),
            (0.3, 10.0),
            (0.1, 10.0),
            (0.3, 10.0),
            (0.1, 10.0),
        ],
    )


# the reference's six-model menu (fit_models.py:20-392): three linear-in-
# coefficient polynomial/series families solved exactly, three nonlinear
# lineshapes via profiled-norm golden-section / coordinate descent
FAMILIES = {
    "chebyshev3": lambda x, y, s: fit_chebyshev(x, y, s, 3),
    "bernstein3": lambda x, y, s: fit_bernstein(x, y, s, 3),
    "bwZ": fit_bwz,
    "bwZredux": fit_bwz_redux,
    "bwGamma": fit_bw_gamma,
    "doubleCB": fit_double_cb,
}


def best_fit(results: list[FitResult]) -> FitResult:
    """The minimum-chi2/ndf fit (fitter.py:40-52).  Families whose shape
    blows up on this x-range (non-finite chi2) are excluded, mirroring
    the reference's chi2<=0 -> 999 guard."""
    finite = [r for r in results if math.isfinite(r.chi2)]
    return min(finite or results, key=lambda r: r.chi2_ndf)


def select_best_model(
    x: np.ndarray, y: np.ndarray, sigma: np.ndarray, families=FAMILIES
) -> FitResult:
    """chi2-argmin model selection: fit every family, keep best_fit."""
    return best_fit([fit(x, y, sigma) for fit in families.values()])


def fit_families_all(groups: dict, families=FAMILIES) -> dict:
    """Fit every family on every category: groups maps key ->
    (x, y, sigma); returns key -> [FitResult in `families` order]."""
    return {
        key: [fit(*xys) for fit in families.values()] for key, xys in groups.items()
    }


# a category needs at least this many filled bins to be fitted
MIN_FIT_BINS = 6


def histogram_groups(
    hist_pdf, lo: float, hi: float, nbins: int, by=("region", "channel")
) -> dict:
    """Group the collected histogram table into the fit inputs: key ->
    (bin centres x, values y, sigma = sqrt(sumw2)), in-range bins only,
    for each category with at least MIN_FIT_BINS filled bins."""
    width = (hi - lo) / nbins
    groups = {}
    for key, g in hist_pdf.groupby(list(by)):
        g = g[(g.bin_idx >= 0) & (g.bin_idx < nbins)].sort_values("bin_idx")
        if len(g) < MIN_FIT_BINS:
            continue
        x = lo + (g.bin_idx.to_numpy() + 0.5) * width
        y = g.value.to_numpy()
        sigma = np.sqrt(np.maximum(g.sumw2.to_numpy(), 1e-12))
        groups[key] = (x, y, sigma)
    return groups


def fit_histogram_table(
    hist_pdf, lo: float, hi: float, nbins: int, by=("region", "channel")
) -> dict:
    """Fit each category of the collected histogram table and keep its
    best_fit — the per-(channel, category) fan-out of fitter.py:12-128,
    driver-side on tiny data."""
    groups = histogram_groups(hist_pdf, lo, hi, nbins, by)
    return {key: best_fit(results) for key, results in fit_families_all(groups).items()}
