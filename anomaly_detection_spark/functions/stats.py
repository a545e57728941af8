"""Numeric special functions for the statistics aggregations.

Pure-numpy implementations of the regularized incomplete beta
function (continued-fraction form, the standard public algorithm from
Abramowitz & Stegun §26.5 / Numerical Recipes §6.4) and the two-sided
Student-t p-value built on it — the container has no scipy, and the
``t_test`` aggregation (reference: the matrix-stats module's
TTestAggregator) must return a p-value, not a bare t-statistic.

Vectorized over numpy arrays so the Spark side can evaluate it inside
one Arrow batch per partition.
"""

from __future__ import annotations

import numpy as np

_MAX_ITER = 200
_EPS = 3.0e-14
_FPMIN = 1.0e-300


def _betacf(a: float, b: float, x: np.ndarray) -> np.ndarray:
    """Continued fraction for the incomplete beta (modified Lentz)."""
    x = np.asarray(x, dtype=np.float64)
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = np.ones_like(x)
    d = 1.0 - qab * x / qap
    d = np.where(np.abs(d) < _FPMIN, _FPMIN, d)
    d = 1.0 / d
    h = d.copy()
    for m in range(1, _MAX_ITER + 1):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        d = np.where(np.abs(d) < _FPMIN, _FPMIN, d)
        c = 1.0 + aa / c
        c = np.where(np.abs(c) < _FPMIN, _FPMIN, c)
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        d = np.where(np.abs(d) < _FPMIN, _FPMIN, d)
        c = 1.0 + aa / c
        c = np.where(np.abs(c) < _FPMIN, _FPMIN, c)
        d = 1.0 / d
        delta = d * c
        h *= delta
        if np.all(np.abs(delta - 1.0) < _EPS):
            break
    return h


def betainc_reg(a: float, b: float, x: np.ndarray) -> np.ndarray:
    """Regularized incomplete beta I_x(a, b), vectorized in ``x``."""
    from math import lgamma

    x = np.clip(np.asarray(x, dtype=np.float64), 0.0, 1.0)
    out = np.empty_like(x)
    ln_beta = lgamma(a + b) - lgamma(a) - lgamma(b)
    with np.errstate(divide="ignore", invalid="ignore"):
        front = np.exp(ln_beta + a * np.log(x) + b * np.log1p(-x))
    # symmetry split keeps the continued fraction convergent
    direct = x < (a + 1.0) / (a + b + 2.0)
    out[direct] = (front[direct] * _betacf(a, b, x[direct]) / a
                   if direct.any() else 0.0)
    if (~direct).any():
        out[~direct] = (1.0 - front[~direct]
                        * _betacf(b, a, 1.0 - x[~direct]) / b)
    out[x <= 0.0] = 0.0
    out[x >= 1.0] = 1.0
    return out


def t_sf_two_sided(t: np.ndarray, df: np.ndarray) -> np.ndarray:
    """Two-sided p-value of a Student-t statistic:
    P(|T_df| >= |t|) = I_{df/(df+t²)}(df/2, 1/2)."""
    t = np.asarray(t, dtype=np.float64)
    df = np.asarray(df, dtype=np.float64)
    out = np.empty_like(t)
    flat_t, flat_df = t.ravel(), df.ravel()
    res = np.empty_like(flat_t)
    # betainc_reg takes scalar (a, b) — group by distinct df values
    # (a t_test emits a handful of groups, each with its own df)
    for v in np.unique(flat_df):
        m = flat_df == v
        if not np.isfinite(v) or v <= 0:
            res[m] = np.nan
            continue
        x = v / (v + flat_t[m] ** 2)
        res[m] = betainc_reg(v / 2.0, 0.5, x)
    out = res.reshape(t.shape)
    out[np.isnan(t)] = np.nan
    return out
