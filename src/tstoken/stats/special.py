"""Special functions needed by the stats kernels, pure NumPy.

Implemented from the published algorithms (no scipy in this sandbox):
  - normal SF via erfc (math.erfc, vectorized)
  - normal quantile: Wichura AS 241 (PPND16)
  - regularized incomplete beta: continued fraction (Lentz), per
    Numerical Recipes §6.4
  - Student-t survival function and quantile (via incomplete beta +
    Newton/bisection inversion)
"""

from __future__ import annotations

import math

import numpy as np

_erfc_vec = np.vectorize(math.erfc, otypes=[np.float64])


def norm_sf(x):
    """Standard normal survival function 1 - CDF."""
    x = np.asarray(x, dtype=np.float64)
    return 0.5 * _erfc_vec(x / math.sqrt(2.0))


def norm_ppf(p):
    """Standard normal quantile — Wichura (1988) algorithm AS 241, PPND16.

    Max abs error ~1e-16 over (0, 1); matches scipy.stats.norm.ppf.
    """
    p = np.asarray(p, dtype=np.float64)
    scalar = p.ndim == 0
    p = np.atleast_1d(p).copy()
    out = np.empty_like(p)

    q = p - 0.5
    small = np.abs(q) <= 0.425

    # central region
    if np.any(small):
        r = 0.180625 - q[small] * q[small]
        num = (((((((2.5090809287301226727e3 * r + 3.3430575583588128105e4) * r
                    + 6.7265770927008700853e4) * r + 4.5921953931549871457e4) * r
                  + 1.3731693765509461125e4) * r + 1.9715909503065514427e3) * r
                + 1.3314166789178437745e2) * r + 3.3871328727963666080e0)
        den = (((((((5.2264952788528545610e3 * r + 2.8729085735721942674e4) * r
                    + 3.9307895800092710610e4) * r + 2.1213794301586595867e4) * r
                  + 5.3941960214247511077e3) * r + 6.8718700749205790830e2) * r
                + 4.2313330701600911252e1) * r + 1.0)
        out[small] = q[small] * num / den

    # tails
    big = ~small
    if np.any(big):
        pp = p[big]
        r = np.where(q[big] < 0, pp, 1.0 - pp)
        r = np.where(r <= 0, np.nan, r)
        r = np.sqrt(-np.log(r))
        mid = r <= 5.0
        res = np.empty_like(r)
        if np.any(mid):
            rr = r[mid] - 1.6
            num = (((((((7.74545014278341407640e-4 * rr + 2.27238449892691845833e-2) * rr
                        + 2.41780725177450611770e-1) * rr + 1.27045825245236838258e0) * rr
                      + 3.64784832476320460504e0) * rr + 5.76949722146069140550e0) * rr
                    + 4.63033784615654529590e0) * rr + 1.42343711074968357734e0)
            den = (((((((1.05075007164441684324e-9 * rr + 5.47593808499534494600e-4) * rr
                        + 1.51986665636164571966e-2) * rr + 1.48103976427480074590e-1) * rr
                      + 6.89767334985100004550e-1) * rr + 1.67638483018380384940e0) * rr
                    + 2.05319162663775882187e0) * rr + 1.0)
            res[mid] = num / den
        far = ~mid
        if np.any(far):
            rr = r[far] - 5.0
            num = (((((((2.01033439929228813265e-7 * rr + 2.71155556874348757815e-5) * rr
                        + 1.24266094738807843860e-3) * rr + 2.65321895265761230930e-2) * rr
                      + 2.96560571828504891230e-1) * rr + 1.78482653991729133580e0) * rr
                    + 5.46378491116411436990e0) * rr + 6.65790464350110377720e0)
            den = (((((((2.04426310338993978564e-15 * rr + 1.42151175831644588870e-7) * rr
                        + 1.84631831751005468180e-5) * rr + 7.86869131145613259100e-4) * rr
                      + 1.48753612908506148525e-2) * rr + 1.36929880922735805310e-1) * rr
                    + 5.99832206555887937690e-1) * rr + 1.0)
            res[far] = num / den
        out[big] = np.where(q[big] < 0, -res, res)

    return float(out[0]) if scalar else out


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction for the incomplete beta function (Lentz)."""
    MAXIT, EPS, FPMIN = 300, 3e-16, 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = 1.0
    d = 1.0 - qab * x / qap
    if abs(d) < FPMIN:
        d = FPMIN
    d = 1.0 / d
    h = d
    for m in range(1, MAXIT + 1):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < FPMIN:
            d = FPMIN
        c = 1.0 + aa / c
        if abs(c) < FPMIN:
            c = FPMIN
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < FPMIN:
            d = FPMIN
        c = 1.0 + aa / c
        if abs(c) < FPMIN:
            c = FPMIN
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < EPS:
            break
    return h


def betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    lbeta = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    front = math.exp(lbeta + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def t_sf(t: float, df: float) -> float:
    """Student-t survival function P(T > t)."""
    if t == 0.0:
        return 0.5
    x = df / (df + t * t)
    p = 0.5 * betainc(df / 2.0, 0.5, x)
    return p if t > 0 else 1.0 - p


def t_ppf(p: float, df: float) -> float:
    """Student-t quantile via bisection+Newton on the CDF.

    Used by the ESD critical values (Rosner's test, SURVEY.md K7).
    Accuracy ~1e-12, matching scipy.stats.t.ppf well beyond the needs
    of an anomaly-flag decision boundary.
    """
    if not 0.0 < p < 1.0:
        if p == 0.0:
            return -math.inf
        if p == 1.0:
            return math.inf
        raise ValueError("p must be in [0, 1]")
    if p == 0.5:
        return 0.0
    if p < 0.5:
        return -t_ppf(1.0 - p, df)
    # p > 0.5: target sf = 1 - p in (0, 0.5)
    target_sf = 1.0 - p
    lo, hi = 0.0, 2.0
    while t_sf(hi, df) > target_sf:
        hi *= 2.0
        if hi > 1e12:
            break
    t = 0.5 * (lo + hi)
    for _ in range(200):
        sf = t_sf(t, df)
        # t pdf
        pdf = math.exp(math.lgamma((df + 1) / 2) - math.lgamma(df / 2)
                       - 0.5 * math.log(df * math.pi)
                       - (df + 1) / 2 * math.log1p(t * t / df))
        if sf > target_sf:
            lo = t
        else:
            hi = t
        if pdf > 0:
            step = (sf - target_sf) / pdf
            t_new = t + step
            if lo < t_new < hi:
                t = t_new
            else:
                t = 0.5 * (lo + hi)
        else:
            t = 0.5 * (lo + hi)
        if hi - lo < 1e-13 * max(1.0, abs(t)):
            break
    return t
