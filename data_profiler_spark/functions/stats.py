"""Driver-side distribution math (numpy only — no scipy in this environment).

Replaces the reference's scipy calls:
- ``scipy.stats.chisquare`` in dataset.py:3809 -> ``chisquare``
- ``scipy.stats.entropy(pk, qk)`` in dataset.py:4114 -> ``kl_divergence``
- ``scipy.stats.kstest`` in column_bootstrapped_ks_test_p_value.py:134 ->
  two-sample KS over sketch CDFs (``ks_2samp_from_hist``) with the
  asymptotic Kolmogorov p-value.

The incomplete-gamma implementation is the classic series/continued-fraction
split (Numerical Recipes §6.2; public-domain algorithm).
"""

from __future__ import annotations

import math

import numpy as np


def _gammainc_lower_series(a: float, x: float, eps: float = 1e-14, itmax: int = 500) -> float:
    """Regularized lower incomplete gamma P(a, x) by series (x < a+1)."""
    if x <= 0.0:
        return 0.0
    ap = a
    summ = 1.0 / a
    delta = summ
    for _ in range(itmax):
        ap += 1.0
        delta *= x / ap
        summ += delta
        if abs(delta) < abs(summ) * eps:
            break
    return summ * math.exp(-x + a * math.log(x) - math.lgamma(a))


def _gammainc_upper_cf(a: float, x: float, eps: float = 1e-14, itmax: int = 500) -> float:
    """Regularized upper incomplete gamma Q(a, x) by continued fraction (x >= a+1)."""
    tiny = 1e-300
    b = x + 1.0 - a
    c = 1.0 / tiny
    d = 1.0 / b
    h = d
    for i in range(1, itmax + 1):
        an = -i * (i - a)
        b += 2.0
        d = an * d + b
        if abs(d) < tiny:
            d = tiny
        c = b + an / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < eps:
            break
    return h * math.exp(-x + a * math.log(x) - math.lgamma(a))


def gammainc_upper(a: float, x: float) -> float:
    """Regularized upper incomplete gamma Q(a, x)."""
    if x < 0 or a <= 0:
        return float("nan")
    if math.isinf(x):  # infinite statistic: tail mass is exactly 0 (scipy)
        return 0.0
    if x == 0:
        return 1.0
    if x < a + 1.0:
        return 1.0 - _gammainc_lower_series(a, x)
    return _gammainc_upper_cf(a, x)


def chi2_sf(stat: float, dof: int) -> float:
    """Survival function of the chi-square distribution: P(X >= stat)."""
    if dof <= 0:
        return float("nan")
    return gammainc_upper(dof / 2.0, stat / 2.0)


def chisquare(observed, expected) -> tuple[float, float]:
    """One-sample chi-square test; returns (statistic, p_value).

    Matches scipy.stats.chisquare semantics: dof = k - 1.
    """
    obs = np.asarray(observed, dtype=float)
    exp = np.asarray(expected, dtype=float)
    with np.errstate(divide="ignore", invalid="ignore"):
        terms = np.where(exp > 0, (obs - exp) ** 2 / exp, np.where(obs > 0, np.inf, 0.0))
    stat = float(np.sum(terms))
    dof = obs.size - 1
    return stat, chi2_sf(stat, dof)


def chi2_contingency(table) -> tuple[float, float, int]:
    """Pearson chi-square on an r x c contingency table -> (stat, p, dof)."""
    t = np.asarray(table, dtype=float)
    n = t.sum()
    if n == 0:
        return 0.0, 1.0, 0
    exp = np.outer(t.sum(axis=1), t.sum(axis=0)) / n
    with np.errstate(divide="ignore", invalid="ignore"):
        terms = np.where(exp > 0, (t - exp) ** 2 / exp, 0.0)
    stat = float(terms.sum())
    dof = (t.shape[0] - 1) * (t.shape[1] - 1)
    return stat, chi2_sf(stat, dof) if dof > 0 else 1.0, dof


def cramers_v(table) -> float:
    """Cramer's phi/V from a contingency table, clamped to [0, 1].

    Same formula as the reference (dataset/dataset.py:4369-4440)."""
    t = np.asarray(table, dtype=float)
    n = t.sum()
    if n == 0:
        return 0.0
    stat, _, _ = chi2_contingency(t)
    k = min(t.shape) - 1
    if k <= 0:
        return 0.0
    return float(np.clip(math.sqrt(stat / n / k), 0.0, 1.0))


def kolmogorov_sf(lam: float, terms: int = 100) -> float:
    """Kolmogorov distribution survival function Q(lam).

    Large lam: the alternating series 2 sum (-1)^{k-1} e^{-2 k^2 lam^2}.
    Small lam (< 0.755): that series converges too slowly (each term ~2), so
    use the Jacobi-theta complement
        Q = 1 - (sqrt(2 pi)/lam) sum e^{-(2k-1)^2 pi^2 / (8 lam^2)}
    (same split scipy.special.kolmogorov uses)."""
    if lam <= 0:
        return 1.0
    if lam < 0.755:
        s = 0.0
        for k in range(1, terms + 1):
            term = math.exp(-((2 * k - 1) ** 2) * math.pi**2 / (8.0 * lam * lam))
            s += term
            if term < 1e-18:
                break
        cdf = math.sqrt(2.0 * math.pi) / lam * s
        return float(min(max(1.0 - cdf, 0.0), 1.0))
    total = 0.0
    for k in range(1, terms + 1):
        term = 2.0 * (-1.0) ** (k - 1) * math.exp(-2.0 * k * k * lam * lam)
        total += term
        if abs(term) < 1e-16:
            break
    return float(min(max(total, 0.0), 1.0))


def ks_2samp_from_hist(
    weights1, weights2, n1: float, n2: float
) -> tuple[float, float]:
    """Two-sample KS on two histograms over IDENTICAL bin edges.

    D = max |CDF1 - CDF2| over bin boundaries; p via the asymptotic
    Kolmogorov distribution with effective n = n1*n2/(n1+n2). This is the
    sketch-based replacement for the reference's bootstrapped KS
    (column_bootstrapped_ks_test_p_value.py:38-145): mergeable histogram /
    quantile sketches computed distributed, O(bins) driver math.
    """
    w1 = np.asarray(weights1, dtype=float)
    w2 = np.asarray(weights2, dtype=float)
    s1, s2 = w1.sum(), w2.sum()
    if s1 == 0 or s2 == 0:
        return 0.0, 1.0
    cdf1 = np.cumsum(w1) / s1
    cdf2 = np.cumsum(w2) / s2
    d = float(np.max(np.abs(cdf1 - cdf2)))
    if n1 <= 0 or n2 <= 0:
        return d, 1.0
    en = math.sqrt(n1 * n2 / (n1 + n2))
    # Stephens' small-sample correction, as used by scipy's asymp mode.
    p = kolmogorov_sf((en + 0.12 + 0.11 / en) * d)
    return d, p


def ks_1samp_p(d: float, n: float) -> float:
    """One-sample KS p-value from the statistic: asymptotic Kolmogorov
    distribution with Stephens' small-sample correction (Numerical Recipes
    14.3.18; the reference defers to scipy.kstest, whose exact small-n mode
    can differ slightly — documented deviation)."""
    if n <= 0:
        return 1.0
    en = math.sqrt(n)
    return kolmogorov_sf((en + 0.12 + 0.11 / en) * d)


def erfcc_np(x):
    """Vectorized complementary error function (Numerical Recipes 6.2
    Chebyshev fit, public-domain algorithm; |error| < 1.2e-7 everywhere).
    numpy has no erf; scipy is not available in this environment."""
    x = np.asarray(x, dtype=float)
    z = np.abs(x)
    t = 1.0 / (1.0 + 0.5 * z)
    ans = t * np.exp(
        -z * z
        - 1.26551223
        + t * (1.00002368 + t * (0.37409196 + t * (0.09678418 + t * (
            -0.18628806 + t * (0.27886807 + t * (-1.13520398 + t * (
                1.48851587 + t * (-0.82215223 + t * 0.17087277))))))))
    )
    return np.where(x >= 0.0, ans, 2.0 - ans)


def parameterized_cdf(distribution: str, params) -> "object":
    """Vectorized CDF x -> F(x) for the supported parameterized families
    (scipy positional-args convention, matching the reference's
    _scipy_distribution_positional_args_from_dict, metrics/util.py):

      norm(loc, scale)         uniform(loc, scale) on [loc, loc+scale]
      expon(loc, scale)        lognorm(s, loc, scale)  [shape s = sigma]

    Raises ValueError for unsupported families / invalid parameters (the
    reference's validate_distribution_parameters contract)."""
    p = list(params) if not isinstance(params, dict) else None

    def _get(i, name, default=None):
        # None/absent -> default; an EXPLICIT 0 must flow through to the
        # <= 0 validation below and raise, not silently become the default
        # (ADVICE r3: `or 1.0` coerced std_dev=0 to a unit-scale p-value)
        if p is not None:
            v = p[i] if i < len(p) else None
        else:
            v = params.get(name)
        if v is None:
            if default is None:
                raise ValueError(f"{distribution} requires parameter {name!r}")
            return default
        return v

    if distribution == "norm":
        loc = float(_get(0, "mean", 0.0))
        scale = float(_get(1, "std_dev", 1.0))
        if scale <= 0:
            raise ValueError("norm std_dev must be positive")
        return lambda x: 1.0 - 0.5 * erfcc_np(
            (np.asarray(x, float) - loc) / (scale * math.sqrt(2.0))
        )
    if distribution == "uniform":
        loc = float(_get(0, "min", 0.0))
        # positional arg 1 IS scipy's scale (span), which the reference's
        # positional convention historically exposed under the misleading
        # dict kwarg "max" (metrics/util.py:534-535 — uniform(min=1, max=49)
        # spans [1, 50]). "scale" is the preferred kwarg; "max" stays as a
        # documented alias of the SAME value (not an upper bound).
        if isinstance(params, dict) and params.get("scale") is not None:
            scale = float(params["scale"])
        else:
            scale = float(_get(1, "max", 1.0))
        if scale <= 0:
            raise ValueError("uniform scale must be positive")
        return lambda x: np.clip((np.asarray(x, float) - loc) / scale, 0.0, 1.0)
    if distribution == "expon":
        loc = float(_get(0, "loc", 0.0))
        scale = float(_get(1, "scale", 1.0))
        if scale <= 0:
            raise ValueError("expon scale must be positive")
        return lambda x: np.where(
            np.asarray(x, float) < loc,
            0.0,
            1.0 - np.exp(-(np.asarray(x, float) - loc) / scale),
        )
    if distribution == "lognorm":
        s = float(_get(0, "s", 1.0))
        loc = float(_get(1, "loc", 0.0))
        scale = float(_get(2, "scale", 1.0))
        if s <= 0 or scale <= 0:
            raise ValueError("lognorm s and scale must be positive")

        def _cdf(x):
            x = np.asarray(x, float)
            z = np.where(x > loc, (x - loc) / scale, np.nan)
            out = 1.0 - 0.5 * erfcc_np(np.log(np.where(np.isnan(z), 1.0, z)) / (s * math.sqrt(2.0)))
            return np.where(np.isnan(z), 0.0, out)

        return _cdf
    raise ValueError(
        f"unsupported distribution {distribution!r}; "
        "supported: norm, uniform, expon, lognorm"
    )


def kl_divergence(pk, qk) -> float:
    """KL(pk || qk) in nats over aligned categorical weights.

    Matches scipy.stats.entropy(pk, qk): normalizes both, inf when qk=0<pk."""
    p = np.asarray(pk, dtype=float)
    q = np.asarray(qk, dtype=float)
    if p.sum() <= 0 or q.sum() <= 0:
        return float("nan")
    p = p / p.sum()
    q = q / q.sum()
    with np.errstate(divide="ignore", invalid="ignore"):
        terms = np.where(p > 0, p * np.log(p / q), 0.0)
    if np.any((p > 0) & (q == 0)):
        return float("inf")
    return float(np.sum(terms))


def chi2_critical(dof: int, alpha: float = 0.05) -> float:
    """Inverse survival function: the stat value where chi2_sf == alpha.

    Bisection on the (monotone) survival function — a few dozen driver-side
    evaluations, so a query can fix its drift threshold at plan time."""
    if dof <= 0 or not (0.0 < alpha < 1.0):
        return float("nan")
    lo, hi = 0.0, float(dof)
    while chi2_sf(hi, dof) > alpha:
        hi *= 2.0
        if hi > 1e12:  # pathological alpha
            return hi
    for _ in range(200):
        mid = (lo + hi) / 2.0
        if chi2_sf(mid, dof) > alpha:
            lo = mid
        else:
            hi = mid
        if hi - lo <= 1e-12 * max(1.0, hi):
            break
    return (lo + hi) / 2.0
