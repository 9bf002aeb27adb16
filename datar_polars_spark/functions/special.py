"""Special mathematical functions (gamma family, beta, choose, bessel).

Reference: ``api/base/special.py:84-286`` and ``bessel.py:68-146``
(scipy-backed via per-element map in the reference). Here: the gamma/
beta/choose family compiles to Arrow-batched pandas UDFs over python
``math`` (always available); the digamma/psigamma and bessel families
prefer scipy (vectorized C) and fall back to mpmath (pure python,
per-element — slower, but exact to double precision); only with
neither installed do they raise NotImplementedError at plan-build
time, not mid-job.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from ..plans.cache import context_memo
from .registry import register

try:  # optional dependency — container may not ship scipy
    import scipy.special as _sps
except Exception:  # pragma: no cover
    _sps = None

try:  # pure-python fallback for the scipy-backed families
    import mpmath as _mp
except Exception:  # pragma: no cover
    _mp = None


def psi_scalar_fn(deriv: int):
    """float->float d-th polygamma, scipy preferred; None if neither
    backend is installed. Shared with the eager scalar dispatch."""
    if _sps is not None:
        if deriv == 0:
            return lambda v: float(_sps.digamma(v))
        return lambda v: float(_sps.polygamma(deriv, v))
    if _mp is not None:
        return lambda v: float(_mp.psi(deriv, v))
    return None


def bessel_scalar_fn(kind: str, nu: float, expon_scaled: bool = False):
    """float->float bessel of fixed order, scipy preferred (ive/kve for
    the scaled variants — stable at large x), mpmath fallback; None if
    neither is installed. R semantics: expon_scaled multiplies I by
    exp(-|x|) and K by exp(x) (besselJ/Y have no scaled variant)."""
    if expon_scaled and kind not in ("i", "k"):
        raise ValueError(f"bessel_{kind} has no expon_scaled variant")
    if _sps is not None:
        if expon_scaled:
            fn = _sps.ive if kind == "i" else _sps.kve
        else:
            fn = {"i": _sps.iv, "j": _sps.jv, "k": _sps.kv, "y": _sps.yv}[kind]
        return lambda v: float(fn(nu, v))
    if _mp is not None:
        base = {
            "i": _mp.besseli, "j": _mp.besselj, "k": _mp.besselk, "y": _mp.bessely,
        }[kind]
        if expon_scaled and kind == "i":
            return lambda v: float(base(nu, v) * _mp.exp(-abs(v)))
        if expon_scaled and kind == "k":
            return lambda v: float(base(nu, v) * _mp.exp(v))
        return lambda v: float(base(nu, v))
    return None


def _math_udf(name: str):
    """The active SparkContext's UDF over ``math.<name>``: one object
    per context, since a pandas UDF binds its JVM function to the
    context of its first use."""
    return context_memo("math_udf", 8).get_or_make(
        name, lambda: _lazy_vec_udf(getattr, math, name)
    )


@register("gamma")
def _gamma(ctx, x):
    return _math_udf("gamma")(ctx.col(x))


@register("lgamma")
def _lgamma(ctx, x):
    return _math_udf("lgamma")(ctx.col(x))


@register("lfactorial")
def _lfactorial(ctx, x):
    return _math_udf("lgamma")(ctx.col(x) + 1)


@register("beta")
def _beta(ctx, a, b):
    lg = _math_udf("lgamma")
    ca, cb = ctx.col(a), ctx.col(b)
    return F.exp(lg(ca) + lg(cb) - lg(ca + cb))


@register("lbeta")
def _lbeta(ctx, a, b):
    lg = _math_udf("lgamma")
    ca, cb = ctx.col(a), ctx.col(b)
    return lg(ca) + lg(cb) - lg(ca + cb)


@register("choose")
def _choose(ctx, n, k):
    lg = _math_udf("lgamma")
    cn, ck = ctx.col(n), ctx.col(k)
    return F.round(F.exp(lg(cn + 1) - lg(ck + 1) - lg(cn - ck + 1)))


@register("lchoose")
def _lchoose(ctx, n, k):
    lg = _math_udf("lgamma")
    cn, ck = ctx.col(n), ctx.col(k)
    return lg(cn + 1) - lg(ck + 1) - lg(cn - ck + 1)


def _lazy_vec_udf(maker, *margs):
    """Arrow-batched pandas UDF applying the float->float fn
    ``maker(*margs)``, built on the EXECUTOR (first batch): the mpmath
    backend's closures capture gmpy2 objects that don't survive
    cloudpickle, so only the module-level maker (pickled by reference)
    and plain scalar args cross the wire."""

    @F.pandas_udf(DoubleType())
    def udf(s: pd.Series) -> pd.Series:
        fn = maker(*margs)

        def safe(v):
            if v is None or (isinstance(v, float) and math.isnan(v)):
                return None
            try:
                return float(fn(float(v)))
            except (ValueError, OverflowError):
                return float("nan")

        return s.map(safe)

    return udf


def _psi_deferred(ctx, x, deriv: int):
    if psi_scalar_fn(deriv) is None:
        raise NotImplementedError(
            "digamma family requires scipy or mpmath; neither is installed"
        )
    return _lazy_vec_udf(psi_scalar_fn, deriv)(ctx.col(x))


@register("digamma")
def _digamma(ctx, x):
    return _psi_deferred(ctx, x, 0)


@register("trigamma")
def _trigamma(ctx, x):
    return _psi_deferred(ctx, x, 1)


@register("psigamma")
def _psigamma(ctx, x, deriv: int = 0):
    """n-th derivative of digamma (reference api/base/special.py:203)."""
    return _psi_deferred(ctx, x, int(ctx.eval(deriv)))


def _bessel(kind: str):
    def impl(ctx, x, nu=0.0, expon_scaled=False):
        """Bessel of fixed order over a column (reference
        bessel.py:68-146; R arg order (x, nu, expon_scaled))."""
        nuv = float(ctx.eval(nu))
        scaled = bool(ctx.eval(expon_scaled))
        if bessel_scalar_fn(kind, nuv, scaled) is None:
            raise NotImplementedError(
                f"bessel_{kind} requires scipy or mpmath; neither is installed"
            )
        return _lazy_vec_udf(bessel_scalar_fn, kind, nuv, scaled)(ctx.col(x))

    return impl


register("bessel_i")(_bessel("i"))
register("bessel_j")(_bessel("j"))
register("bessel_k")(_bessel("k"))
register("bessel_y")(_bessel("y"))
