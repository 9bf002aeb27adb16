"""Aggregate functions (R semantics: na_rm=False -> NA-poisoning).

Covers the reference's aggregate surface at ``api/base/arithm.py:375-954``
(sum/mean/median/min/max/prod/sd/var/quantile/weighted_mean/cov/cor),
``api/dplyr/funs.py:34-49`` (n), ``api/dplyr/distinct.py:23-53``
(n_distinct). In summarise mode these compile to plain Spark aggregates;
in mutate/filter mode they compile to window aggregates over the group
partition (``ctx.agg``), matching the reference's ``.over(gvars)``.

NaN handling: the reference treats NaN as NA (e.g. ``api/tidyr.py:78-101``),
so double inputs are normalized NaN->null before aggregating.

Exact ``n_distinct`` and ``quantile``/``median`` hold a group's distinct
values (or all its values) in one aggregate buffer; ``approx_n_distinct``
and ``approx_quantile`` are the bounded-memory route.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from ..plans.expr import BinOp, Call, Desc, Ref, UnaryOp
from .registry import register

_FLOATY = ("double", "float")


def _nn(ctx, node) -> Column:
    """Evaluate node to a Column with NaN normalized to null for floats
    (bare column references; ``_distinct_key`` types any expression)."""
    col = ctx.col(node)
    if isinstance(node, Ref) and _dtype(ctx, node, col) in _FLOATY:
        return F.when(F.isnan(col), F.lit(None)).otherwise(col)
    return col


def _narm(ctx, node, aggregated: Column, na_rm: bool) -> Column:
    """R default na_rm=False: any NA in the group -> NA result."""
    return _na_guard(ctx, node, ctx.agg(aggregated), na_rm)


def _na_guard(ctx, node, value: Column, na_rm: bool) -> Column:
    """``value`` (already wrapped by ``ctx.agg``), or NA when the group
    holds an NA and ``na_rm`` is False."""
    if na_rm:
        return value
    col = _nn(ctx, node)
    has_na = ctx.agg(F.max(col.isNull().cast("int"))) == 1
    return F.when(has_na, F.lit(None)).otherwise(value)


def _is_arrayish(ctx, node) -> bool:
    """Rowwise aggregation target? c_across() or an array-typed column."""
    from ..plans.expr import Call

    if isinstance(node, Call) and node._fname == "c_across":
        return True
    if isinstance(node, Ref):
        dtype = dict(ctx.tibble.dtypes).get(node._name, "")
        return dtype.startswith("array")
    return False


def _rowwise_agg(ctx, node, kind: str, na_rm: bool) -> Column:
    """Horizontal (within-row) aggregation over an array via
    higher-order functions — the distributed replacement for the
    reference's per-row Python loop (``mutate.py:101-141``)."""
    arr = ctx.col(node)
    arr = F.transform(arr, lambda v: F.when(F.isnan(v.cast("double")), None).otherwise(v))
    valid = F.filter(arr, lambda v: v.isNotNull())
    has_na = F.exists(arr, lambda v: v.isNull())
    nv = F.size(valid)
    z = F.lit(0.0)
    total = F.aggregate(valid, z, lambda a, v: a + v.cast("double"))
    if kind == "sum":
        out = total
    elif kind == "mean":
        out = F.when(nv > 0, total / nv)
    elif kind == "min":
        out = F.array_min(valid)
    elif kind == "max":
        out = F.array_max(valid)
    elif kind == "prod":
        out = F.aggregate(valid, F.lit(1.0), lambda a, v: a * v.cast("double"))
    elif kind in ("sd", "var"):
        m = total / nv
        ss = F.aggregate(
            valid, z, lambda a, v: a + (v.cast("double") - m) * (v.cast("double") - m)
        )
        out = F.when(nv > 1, ss / (nv - 1))
        if kind == "sd":
            out = F.sqrt(out)
    elif kind == "median":
        # lower median; exact for odd n. Guard nv=0: element_at(arr, 0)
        # is a runtime error, not null
        out = F.when(
            nv > 0, F.element_at(F.array_sort(valid), ((nv + 1) / 2).cast("int"))
        )
    else:  # pragma: no cover
        raise NotImplementedError(kind)
    if na_rm:
        return out
    return F.when(has_na, F.lit(None)).otherwise(out)


def _simple_agg(fn, kind: str | None = None):
    def impl(ctx, x, na_rm: bool = False):
        if ctx.rowwise and kind is not None and _is_arrayish(ctx, x):
            return _rowwise_agg(ctx, x, kind, na_rm)
        col = _nn(ctx, x)
        return _narm(ctx, x, fn(col), na_rm)

    return impl


register("sum", "sum_")(_simple_agg(F.sum, "sum"))
register("mean", "avg")(_simple_agg(F.mean, "mean"))
register("min", "min_")(_simple_agg(F.min, "min"))
register("max", "max_")(_simple_agg(F.max, "max"))
register("sd", "stddev")(_simple_agg(F.stddev_samp, "sd"))
register("var", "variance")(_simple_agg(F.var_samp, "var"))
register("prod")(_simple_agg(F.product, "prod"))


@register("n")
def _n(ctx):
    return ctx.agg(F.count(F.lit(1)))


@register("grouping_id")
def _grouping_id(ctx, *cols):
    """Bit vector of which keys are aggregated away in a cube/rollup
    row (Spark `grouping_id`); only meaningful inside a summarise after
    group_by_cube / group_by_rollup."""
    return F.grouping_id(*[_nn(ctx, c) for c in cols]) if cols else F.grouping_id()


@register("approx_n_distinct")
def _approx_n_distinct(ctx, x, rsd: float = 0.05):
    """HyperLogLog++ distinct-count sketch: fixed memory (a few KB per
    group at any key count), the bounded-memory alternative to exact
    ``n_distinct``, which holds each group's distinct values in one
    buffer. The sketch buffer is carried per aggregation key, so avoid
    pairing it with several ``count(DISTINCT)`` over different columns:
    Spark's distinct rewrite keys that aggregate by every distinct value
    (``plan_lint`` rule ``sketch-in-expand``)."""
    return ctx.agg(F.approx_count_distinct(ctx.col(x), rsd))


@register("approx_quantile")
def _approx_quantile(ctx, x, probs=0.5, accuracy: int = 10000):
    """Greenwald-Khanna sketch quantile — bounded memory at any scale;
    exact `quantile` sorts the full group."""
    return ctx.agg(F.percentile_approx(_nn(ctx, x), F.lit(probs), F.lit(accuracy)))


def _dtype(ctx, node, col: Column) -> str | None:
    """Resolved Spark type of ``col`` (``node`` compiled): a bare column
    reads the frame schema, any other expression is typed by analysing
    a one-column projection (analysis only, no job). None when the
    expression cannot be resolved against the frame on its own."""
    if isinstance(node, Ref):
        return dict(ctx.tibble.dtypes).get(node._name)
    try:
        return ctx.tibble.df.select(col).dtypes[0][1]
    except AnalysisException:
        return None


def _float_key(col: Column) -> Column:
    """A float as a value for distinct counting: NaN is NA and ``-0.0``
    is ``0.0`` (neither ``collect_set``, ``array_distinct`` nor a struct
    key merges those on its own)."""
    return F.when(F.isnan(col), F.lit(None)).when(col == 0, F.lit(0.0)).otherwise(col)


def _distinct_key(ctx, node) -> Column:
    """``node`` as a value for distinct counting, floats normalized by
    their resolved type."""
    col = ctx.col(node)
    return _float_key(col) if _dtype(ctx, node, col) in _FLOATY else col


@register("n_distinct")
def _n_distinct(ctx, *xs, na_rm: bool = False):
    """Exact distinct count; NA counts as one value unless ``na_rm``.

    Encodings, all single-buffer and free of Spark's multi-distinct
    ``Expand`` (which would key the whole aggregate — sketches
    included — by every distinct value of every counted column):

    - one column: ``size(collect_set(x)) + max(x IS NULL)``, or
      ``size(collect_set(x))`` with ``na_rm`` — a typed, single-phase
      ObjectHashAggregate;
    - several columns: ``count(DISTINCT struct(x, ...))`` (a struct is
      never NULL, so NA is a value with no sentinel), or
      ``count(DISTINCT x, ...)`` with ``na_rm``, which drops a row when
      any of its values is NA (dplyr).

    Memory: a group's distinct values sit in one buffer, like exact
    ``quantile``; ``approx_n_distinct`` is the bounded-memory route.
    Rowwise over an array (``c_across``) counts the row's distinct
    elements."""
    if ctx.rowwise and len(xs) == 1 and _is_arrayish(ctx, xs[0]):
        arr = ctx.col(xs[0])
        if _dtype(ctx, xs[0], arr) in [f"array<{t}>" for t in _FLOATY]:
            arr = F.transform(arr, _float_key)
        if na_rm:
            arr = F.filter(arr, lambda v: v.isNotNull())
        return F.size(F.array_distinct(arr)).cast("long")
    cols = [_distinct_key(ctx, x) for x in xs]
    if len(cols) > 1:
        key = F.count_distinct(*cols) if na_rm else F.count_distinct(F.struct(*cols))
        return ctx.agg(key)
    (col,) = cols
    out = F.size(ctx.agg(F.collect_set(col)))
    if not na_rm:
        # max() is NULL over no rows (a global summarise of an empty frame)
        out = out + F.coalesce(ctx.agg(F.max(col.isNull().cast("int"))), F.lit(0))
    return out.cast("long")


def _scalar_prob(value) -> float | None:
    """``value`` as one literal probability; None for a vector or an
    expression."""
    if isinstance(value, (int, float)) and not isinstance(value, bool):
        return float(value)
    return None


def _quantile_request(node) -> tuple[str, float] | None:
    """(argument key, probability) of a ``median``/``quantile`` call with
    one literal probability, else None."""
    if node._fname == "median":
        prob = 0.5
    elif node._fname == "quantile":
        args = node._args
        prob = _scalar_prob(args[1] if len(args) > 1 else node._kwargs.get("probs", 0.5))
    else:
        return None
    if prob is None:
        return None
    x = node._args[0] if node._args else node._kwargs.get("x")
    return repr(x), prob


def fused_quantile_probs(nodes) -> dict[str, tuple[float, ...]]:
    """The literal probabilities that ``median``/``quantile`` request per
    argument across the expression trees ``nodes`` — a summarise sets
    this on its context so every such call on one argument reads its
    element of ONE ``percentile(x, array(p, ...))`` buffer (Catalyst
    merges the identical aggregate expressions)."""
    probs: dict[str, list[float]] = {}

    def walk(node) -> None:
        if isinstance(node, Call):
            req = _quantile_request(node)
            if req is not None and req[1] not in probs.setdefault(req[0], []):
                probs[req[0]].append(req[1])
            children = (*node._args, *node._kwargs.values())
        elif isinstance(node, BinOp):
            children = (node._left, node._right)
        elif isinstance(node, (UnaryOp, Desc)):
            children = (node._operand,)
        elif isinstance(node, (list, tuple)):
            children = node
        else:
            return
        for child in children:
            walk(child)

    for node in nodes:
        walk(node)
    return {k: tuple(v) for k, v in probs.items()}


def _percentile(ctx, x, prob: float, na_rm: bool) -> Column:
    """Exact quantile ``prob`` of ``x``: one element of
    ``percentile(x, array(p, ...))`` over the probabilities fused for
    ``x`` in the enclosing summarise (just ``prob`` elsewhere)."""
    probs = ctx.quantile_probs.get(repr(x), ())
    if prob not in probs:
        probs = (prob,)
    buf = ctx.agg(F.percentile(_nn(ctx, x), F.array(*[F.lit(p) for p in probs])))
    return _na_guard(ctx, x, buf[probs.index(prob)], na_rm)


@register("median")
def _median(ctx, x, na_rm: bool = False):
    if ctx.rowwise and _is_arrayish(ctx, x):
        return _rowwise_agg(ctx, x, "median", na_rm)
    return _percentile(ctx, x, 0.5, na_rm)


@register("quantile")
def _quantile(ctx, x, probs=0.5, na_rm: bool = False, type: int = 7):
    """Exact quantile (linear interpolation). A literal probability
    compiles to an element of one fused ``percentile(x, array(p, ...))``
    per argument and summarise (see ``fused_quantile_probs``); vector
    ``probs`` return the whole array, which summarise explodes to rows.
    Memory: ``percentile`` holds each group's distinct values with their
    counts in one buffer; ``approx_quantile`` is the bounded-memory
    route."""
    probs_val = ctx.eval(probs)
    prob = _scalar_prob(probs_val)
    if prob is not None:
        return _percentile(ctx, x, prob, na_rm)
    return _narm(ctx, x, F.percentile(_nn(ctx, x), F.lit(probs_val)), na_rm)


@register("weighted_mean")
def _weighted_mean(ctx, x, w=None, na_rm: bool = False):
    col = _nn(ctx, x)
    if w is None:
        return _narm(ctx, x, F.mean(col), na_rm)
    wc = _nn(ctx, w)
    agg = F.sum(col * wc) / F.sum(F.when(col.isNotNull(), wc))
    return _narm(ctx, x, agg, na_rm)


@register("cov")
def _cov(ctx, x, y):
    return ctx.agg(F.covar_samp(ctx.col(x).cast("double"), ctx.col(y).cast("double")))


@register("cor")
def _cor(ctx, x, y):
    return ctx.agg(F.corr(ctx.col(x).cast("double"), ctx.col(y).cast("double")))


@register("all", "all_")
def _all(ctx, x, na_rm: bool = False):
    col = _nn(ctx, x).cast("boolean")
    if na_rm:
        return ctx.agg(F.min(col))  # F.min skips nulls natively
    return _narm(ctx, x, F.min(col), False)


@register("any", "any_")
def _any(ctx, x, na_rm: bool = False):
    col = _nn(ctx, x).cast("boolean")
    if na_rm:
        return ctx.agg(F.max(col))
    return _narm(ctx, x, F.max(col), False)


@register("first")
def _first(ctx, x, order_by=None, default=None, na_rm: bool = False):
    col = ctx.col(x)
    if ctx.mode == "agg":
        res = F.first(col, ignorenulls=na_rm)
    else:
        w = ctx.ordered(order_by)
        res = F.first(col, ignorenulls=na_rm).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
    if default is not None:
        res = F.coalesce(res, ctx.col(default))
    return res


@register("last")
def _last(ctx, x, order_by=None, default=None, na_rm: bool = False):
    col = ctx.col(x)
    if ctx.mode == "agg":
        res = F.last(col, ignorenulls=na_rm)
    else:
        w = ctx.ordered(order_by)
        res = F.last(col, ignorenulls=na_rm).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
    if default is not None:
        res = F.coalesce(res, ctx.col(default))
    return res


@register("first2")
def _first2(ctx, x, y):
    """y value at the minimum of x, NAs in x excluded (reference
    ``api/forcats.py:522-527``) — one distributed min_by aggregate."""
    res = F.min_by(ctx.col(y), ctx.col(x))
    return ctx.agg(res)


@register("last2")
def _last2(ctx, x, y):
    """y value at the maximum of x (reference ``api/forcats.py:529-534``)."""
    res = F.max_by(ctx.col(y), ctx.col(x))
    return ctx.agg(res)


@register("nth")
def _nth(ctx, x, n, order_by=None, default=None):
    # 0-based in dplyr-datar; collect the group then element_at (n+1)
    col = ctx.col(x)
    nval = ctx.eval(n)
    if ctx.mode == "agg":
        arr = F.collect_list(col)
    else:
        arr = F.collect_list(col).over(
            ctx.ordered(order_by).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
    if isinstance(nval, int) and nval < 0:
        # python-style negative index (reference polars x.get(n))
        res = F.when(F.size(arr) >= -nval, F.element_at(arr, nval))
    else:
        res = F.when(F.size(arr) > nval, F.element_at(arr, nval + 1))
    if default is not None:
        res = F.coalesce(res, ctx.col(default))
    return res
