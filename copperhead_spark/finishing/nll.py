"""Unbinned maximum-likelihood fits (SURVEY.md §2.11 FIN1, NLL path).

The reference's stage-3 fits are *unbinned* RooFit NLL fits of the mass
column (/root/reference/stage3/fitter.py:131-229) over the model menu in
fit_models.py:20-392; finishing/fits.py covers the binned-chi2
equivalent.  This module adds the NLL semantics: each family is a shape
function normalized to a unit integral over the fit window (the RooFit
pdf contract), the objective is -sum(log pdf(x_i)) over the COLLECTED
unbinned column, and model selection uses AIC = 2k + 2*NLL so families
with different parameter counts compare fairly.

Everything is deterministic and scipy-free: the normalization integral
is a fixed-node composite Simpson rule; minimization is the cyclic
coordinate descent with golden-section line searches that
finishing/fits.py uses for its nonlinear chi2 families.

Scale contract (same as the chi2 path): the distributed engine only
ever REDUCES to the fit input — an unbinned fit consumes the collected
mass column of ONE analysis category, O(1e4-1e5) values (the reference
collects exactly the same column into RooDataSet, fitter.py:131-147).
The 100 TB corpus never reaches the driver; category selection and any
deterministic thinning happen in Spark first.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from copperhead_spark.finishing.fits import _coordinate_descent

# composite-Simpson panels for the unit-normalization integral; fixed so
# results are bit-reproducible across runs/machines
N_PANELS = 512


@dataclass
class NLLResult:
    model: str
    params: np.ndarray
    nll: float
    k: int  # free parameter count

    @property
    def aic(self) -> float:
        return 2.0 * self.k + 2.0 * self.nll


def _simpson_norm(shape, lo: float, hi: float, params) -> float:
    """Integral of shape over [lo, hi] (composite Simpson, 2N+1 nodes)."""
    xs = np.linspace(lo, hi, 2 * N_PANELS + 1)
    with np.errstate(over="ignore", invalid="ignore", divide="ignore"):
        ys = shape(xs, *params)
    if not np.all(np.isfinite(ys)):
        return float("nan")
    h = (hi - lo) / (2 * N_PANELS)
    w = np.ones(2 * N_PANELS + 1)
    w[1:-1:2] = 4.0
    w[2:-1:2] = 2.0
    return float(h / 3.0 * np.dot(w, ys))


def nll_of(shape, x: np.ndarray, lo: float, hi: float, params) -> float:
    """-log L for the unit-normalized pdf shape/Z on the window.  Returns
    +inf when the shape is non-positive or blows up on the window (the
    family cannot describe this data — mirrors fits.py's finite guard)."""
    with np.errstate(over="ignore", invalid="ignore", divide="ignore"):
        vals = shape(x, *params)
    if not (np.all(np.isfinite(vals)) and np.all(vals > 0.0)):
        return float("inf")
    z = _simpson_norm(shape, lo, hi, params)
    if not (math.isfinite(z) and z > 0.0):
        return float("inf")
    return float(len(x) * math.log(z) - np.sum(np.log(vals)))


def fit_nll(
    model: str,
    shape,
    x: np.ndarray,
    lo: float,
    hi: float,
    params0: list[float],
    bounds: list[tuple[float, float]],
    sweeps: int = 8,
) -> NLLResult:
    """Minimize the NLL by fits.py's coordinate descent (golden-section
    line searches within the bounds, stopping at the exact fixed point)
    — deterministic, no RNG/scipy."""
    p = _coordinate_descent(
        lambda q: nll_of(shape, x, lo, hi, q), params0, bounds, sweeps, iters=40
    )
    return NLLResult(model, np.array(p), nll_of(shape, x, lo, hi, p), len(p))


# ---------------------------------------------------------------------------
# family menu for unbinned fits: shapes strictly positive on a positive
# window (an unnormalized CASE like chebyshev can go negative, which has
# no NLL — the reference's background menu is positive-definite too)
# ---------------------------------------------------------------------------


def _exp_shape(x, lam):
    return np.exp(lam * x)


def _bw_gamma_shape(x, lam):
    # fit_models.py bwGamma: photon contribution, exp falloff over 1/x^2
    return np.exp(lam * x) / (x * x)


def _powerlaw_shape(x, alpha):
    return x ** (-alpha)


def _bwz_shape(x, width, mass=91.1876):
    return width / ((x * x - mass * mass) ** 2 + mass * mass * width * width)


UNBINNED_FAMILIES: dict[str, tuple] = {
    # name -> (shape, params0, bounds)
    "exp": (_exp_shape, [-0.02], [(-1.0, 0.1)]),
    "bwGamma": (_bw_gamma_shape, [0.0], [(-1.0, 0.1)]),
    "powerlaw": (_powerlaw_shape, [1.0], [(0.01, 6.0)]),
    "bwZ": (_bwz_shape, [2.5], [(0.1, 60.0)]),
}


def select_best_model_nll(
    x: np.ndarray, lo: float, hi: float, families=UNBINNED_FAMILIES, sweeps: int = 8
) -> tuple[NLLResult, list[NLLResult]]:
    """Fit every family, return (AIC-argmin winner, all results).
    Non-finite families are excluded from the argmin (fitter.py's
    chi2<=0 -> 999 guard, NLL flavor)."""
    results = [
        fit_nll(name, shape, x, lo, hi, p0, bounds, sweeps=sweeps)
        for name, (shape, p0, bounds) in families.items()
    ]
    finite = [r for r in results if math.isfinite(r.nll)]
    return min(finite or results, key=lambda r: r.aic), results
