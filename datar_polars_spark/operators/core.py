"""Core dplyr verbs on Spark DataFrames.

Semantics follow the reference implementations cited per-verb (all
paths under ``/root/reference/datar_polars/``); compilation targets the
Spark DataFrame API so Catalyst handles pushdown/pruning/join-selection
(SURVEY §4.2). Grouping is metadata-only (reference
``api/dplyr/group_by.py:24-52``): no physical regrouping ever happens
here — grouped mutate/filter compile to window expressions, summarise
compiles to ``groupBy().agg``.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from ..plans.context import ORDER_COL, EvalContext, eval_expr
from ..plans.expr import Call, Desc, Expr, Ref, collect_refs, deparse
from ..plans.selection import resolve_selection
from ..plans.verb import verb
from ..tibble import Tibble
from ..functions.across import Across, expand_across
from ..functions.aggregates import fused_quantile_probs
from ..functions.registry import tree_needs_gid, tree_needs_order, tree_needs_pos

__all__ = [
    "select",
    "rename",
    "rename_with",
    "relocate",
    "pull",
    "mutate",
    "transmute",
    "filter_",
    "group_by",
    "group_by_cube",
    "group_by_rollup",
    "ungroup",
    "rowwise",
    "summarise",
    "summarize",
    "reframe",
    "arrange",
    "distinct",
    "count",
    "tally",
    "add_count",
    "add_tally",
    "slice_",
    "slice_head",
    "slice_tail",
    "slice_min",
    "slice_max",
    "slice_sample",
    "head_",
    "tail_",
    "glimpse",
    "desc",
]


def desc(x: Any) -> Any:
    """Descending sort key (reference ``api/dplyr/desc.py:15-29``).
    On a plain vector, eager dispatch negates the values (R's desc);
    non-numeric elements go through rank order first (R's xtfrm), so
    ``desc(["b", "a"])`` yields a valid descending key instead of
    raising on unary minus (round-2 ADVICE)."""
    if isinstance(x, (list, tuple, range)):
        vals = list(x)
        if all(v is None or isinstance(v, (int, float)) for v in vals):
            return [None if v is None else -v for v in vals]
        order = {v: i + 1 for i, v in enumerate(sorted(set(v for v in vals if v is not None)))}
        return [None if v is None else -order[v] for v in vals]
    return Desc(x)


# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------

def _dtype_map(td: Tibble) -> dict[str, str]:
    return dict(td.dtypes)


def _expand_items(td: Tibble, args: tuple, kwargs: dict) -> list[tuple[str, Any]]:
    """Flatten mutate/summarise arguments to ordered (name, expr) pairs,
    expanding ``across()`` blocks (reference ``api/dplyr/across.py:84-228``)."""
    items: list[tuple[str, Any]] = []
    for a in args:
        if isinstance(a, Across):
            items.extend(expand_across(td, a))
        elif isinstance(a, Ref):
            items.append((a._name, a))
        elif isinstance(a, Expr):
            items.append((deparse(a), a))
        elif a is None:
            continue
        else:
            raise TypeError(f"unnamed argument must be an expression: {a!r}")
    for k, v in kwargs.items():
        if isinstance(v, Across):
            for name, node in expand_across(td, v):
                items.append((f"{k}${name}", node))
        else:
            items.append((k, _verbcall_to_expr(v)))
    return items


def _assign_list_values(td: Tibble, items: list[tuple[str, Any]]):
    """Reference semantics for plain Python list/tuple mutate values
    (``api/dplyr/mutate.py`` + tidyverse recycling rules, exercised by
    ``tests/dplyr/test_mutate.py`` TestErrors): length 1 recycles,
    length == nrow assigns by row position (per group size when
    grouped), anything else raises. The list lives on the driver by
    definition, so the eager size check + broadcast positional join
    this costs cannot become a scale bottleneck — a Python list never
    holds 100 TB; the big side is only joined, never collected."""
    import pandas as pd

    from ..functions.eager import has_deferred

    list_idx = [
        i
        for i, (_, v) in enumerate(items)
        if isinstance(v, (list, tuple)) and not has_deferred((v,), {})
    ]
    if not list_idx:
        return td, items, []
    items = list(items)
    # scalar recycle needs no plan surgery
    for i in list(list_idx):
        v = items[i][1]
        if len(v) == 1:
            items[i] = (items[i][0], v[0])
            list_idx.remove(i)
    if not list_idx:
        return td, items, []
    df = td.df
    groups = list(td.group_vars)
    if groups:
        sizes = [
            r[0]
            for r in df.groupBy(*groups).count().select("count").distinct().collect()
        ]
        n = sizes[0] if len(sizes) == 1 else -1
    else:
        n = td.nrow()
    for i in list_idx:
        name, v = items[i]
        if len(v) != n:
            raise ValueError(
                f"mutate value for {name!r}: length {len(v)} incompatible "
                f"with {'group size' if groups else 'row count'} {n}"
            )
    # positional join: one tiny broadcast lookup per list column, keyed
    # by the (group-local) row position
    td = td.ensure_order()
    df = td.df
    if groups:
        w = Window.partitionBy(*groups).orderBy(F.col(ORDER_COL).asc())
    else:
        td = td.ensure_pos()
        df = td.df
    tmps: list[str] = []
    for i in list_idx:
        name, v = items[i]
        tmp = f"__datar_listval_{i}__"
        if len(v) == 0:  # 0-row frame: no values to look up, just type
            df = df.withColumn(tmp, F.lit(None).cast("double"))
            items[i] = (name, Ref(tmp))
            tmps.append(tmp)
            continue
        lookup = df.sparkSession.createDataFrame(
            pd.DataFrame({"__datar_lpos__": range(len(v)), tmp: list(v)})
        )
        if groups:
            df = df.withColumn("__datar_lpos__", F.row_number().over(w) - 1)
        else:
            df = df.withColumn(
                "__datar_lpos__", F.col("__datar_pos__").cast("long")
            )
        df = df.join(F.broadcast(lookup), on="__datar_lpos__", how="left").drop(
            "__datar_lpos__"
        )
        items[i] = (name, Ref(tmp))
        tmps.append(tmp)
    return td.with_df(df, keep_sort_meta=True), items, tmps


def _verbcall_to_expr(v: Any) -> Any:
    """pick(...) used as a mutate value (reference pick.py: a sub-frame
    column) arrives as an unapplied VerbCall — rewrite to the struct
    compiler registered in misc.py."""
    from ..plans.verb import VerbCall

    if isinstance(v, VerbCall) and getattr(v._fn, "__name__", "") == "pick":
        return Call("pick_struct", v._args, v._kwargs)
    return v


def _contains_call(node: Any) -> bool:
    from ..plans.expr import BinOp, UnaryOp

    if isinstance(node, Call):
        return True
    if isinstance(node, BinOp):
        return _contains_call(node._left) or _contains_call(node._right)
    if isinstance(node, UnaryOp):
        return _contains_call(node._operand)
    return False


def _ordered_select(df, cols: list[str]):
    keep = [c for c in cols if c in df.columns]
    hidden = [c for c in df.columns if c.startswith("__datar_")]
    return df.select(*keep, *hidden)


# --------------------------------------------------------------------------
# projection verbs (reference api/dplyr/select.py:36-142, rename.py, relocate.py)
# --------------------------------------------------------------------------

@verb
def select(td: Tibble, *args: Any, **renames: Any) -> Tibble:
    cols = resolve_selection(args, td.columns, _dtype_map(td)) if args else []
    out_names = list(cols)
    df = td.df
    # kwargs are renames: select(new=f.old)
    old_to_new: dict[str, str] = {}
    for new, old in renames.items():
        old_name = old._name if isinstance(old, Ref) else str(old)
        if old_name not in td.columns:
            raise KeyError(old_name)
        old_to_new[old_name] = new
        df = df.withColumnRenamed(old_name, new)
        if old_name in out_names:
            out_names[out_names.index(old_name)] = new
        else:
            out_names.append(new)
    # always retain group vars, tracking renames (reference
    # select.py:104-108; tests/dplyr/test_select.py renamed-groups)
    new_groups = [old_to_new.get(g, g) for g in td.group_vars]
    for g in new_groups:
        if g not in out_names and g in df.columns:
            out_names.insert(0, g)
    out = td.with_df(
        _ordered_select(df, out_names),
        groups=new_groups,
        keep_sort_meta=not renames,
    )
    # select-with-rename: remap the tracked sort key through the rename
    # (values unchanged); if another column was renamed ONTO the key's
    # name, sort_meta must stay dropped.
    if renames and td.sort_meta:
        key, asc = td.sort_meta
        if key in old_to_new:
            out.sort_meta = (old_to_new[key], asc)
        elif key in out.df.columns and key not in renames:
            out.sort_meta = (key, asc)
    return out


@verb
def rename(td: Tibble, **mapping: Any) -> Tibble:
    """``rename(new=f.old)``."""
    df = td.df
    groups = list(td.group_vars)
    levels = dict(td.levels)
    for new, old in mapping.items():
        old_name = old._name if isinstance(old, Ref) else str(old)
        df = df.withColumnRenamed(old_name, new)
        groups = [new if g == old_name else g for g in groups]
        if old_name in levels:
            levels[new] = levels.pop(old_name)
    return Tibble(df, groups=groups, rowwise=td.rowwise, levels=levels)


@verb
def rename_with(td: Tibble, fn, *args: Any) -> Tibble:
    cols = (
        resolve_selection(args, td.columns, _dtype_map(td)) if args else td.columns
    )
    df = td.df
    groups = list(td.group_vars)
    for c in cols:
        new = fn(c)
        if new != c:
            df = df.withColumnRenamed(c, new)
            groups = [new if g == c else g for g in groups]
    return Tibble(df, groups=groups, rowwise=td.rowwise, levels=td.levels)


@verb
def relocate(td: Tibble, *args: Any, _before: Any = None, _after: Any = None, **renames: Any) -> Tibble:
    if _before is not None and _after is not None:
        raise ValueError("relocate: specify only one of _before and _after")
    if renames:
        # reference relocate.py: kwargs rename (new=f.old) then move
        td = rename(td, **renames)
        args = tuple(args) + tuple(renames.keys())
    moved = resolve_selection(args, td.columns, _dtype_map(td))
    rest = [c for c in td.columns if c not in moved]
    if _before is not None:
        anchor = resolve_selection([_before], td.columns, _dtype_map(td))[0]
        idx = rest.index(anchor)
        new_order = rest[:idx] + moved + rest[idx:]
    elif _after is not None:
        anchor = resolve_selection([_after], td.columns, _dtype_map(td))[0]
        idx = rest.index(anchor) + 1
        new_order = rest[:idx] + moved + rest[idx:]
    else:
        new_order = moved + rest
    return td.with_df(_ordered_select(td.df, new_order), keep_sort_meta=True)


@verb
def pull(td: Tibble, col: Any = -1, name: Any = None, to: str = "list"):
    if isinstance(col, Ref):
        cname = col._name
    elif isinstance(col, int):
        cname = td.columns[col if col >= 0 else len(td.columns) + col]
    else:
        cname = str(col)
    if to == "frame":
        return td.with_df(_ordered_select(td.df, [cname]), keep_sort_meta=True)
    d = td.df.orderBy(ORDER_COL) if td.has_order else td.df
    pdf = d.select(cname).toPandas()
    vals = pdf[cname].tolist()
    if name is not None:
        # name: a parallel column (Ref/str) or an explicit list of keys
        names = list(name) if isinstance(name, (list, tuple)) else pull(td, name)
        return dict(zip(names, vals))
    if to == "array":
        import numpy as np

        return np.asarray(vals)
    return vals


# --------------------------------------------------------------------------
# mutate / transmute (reference api/dplyr/mutate.py:70-364)
# --------------------------------------------------------------------------

@verb
def mutate(
    td: Tibble,
    *args: Any,
    _before: Any = None,
    _after: Any = None,
    _keep: str = "all",
    **kwargs: Any,
) -> Tibble:
    items = _expand_items(td, args, kwargs)
    td, items, list_tmps = _assign_list_values(td, items)
    if any(tree_needs_order(node) for _, node in items):
        td = td.ensure_order()
    if any(tree_needs_pos(node) for _, node in items):
        td = td.ensure_pos()
    if any(tree_needs_gid(node) for _, node in items):
        td = td.ensure_gid()
    ctx = EvalContext(td, "eval")
    df = td.df
    orig_cols = td.columns
    new_cols: list[str] = []
    used: set[str] = set()
    # two-phase: evaluate every item first (references resolve lazily by
    # name), then join any per-group aggregates back in one pass, then
    # apply the withColumns in order. The agg-join rewrite is only safe
    # for items that don't read columns modified earlier in this mutate
    # (those aggregates must see the UPDATED values, which only the
    # window form does) and when no group key is being rewritten.
    touched_names: set[str] = set()
    group_set = set(td.group_vars)
    evaluated: list[tuple[str, Column | None]] = []
    for name, node in items:
        used |= collect_refs(node)
        if node is None:
            touched_names.add(name)
            evaluated.append((name, None))
            continue
        ctx.allow_agg_join = (
            not (collect_refs(node) & touched_names)
            and not (group_set & {n for n, _ in items})
        )
        col = eval_expr(node, ctx)
        if not isinstance(col, Column):
            col = F.lit(col)
        touched_names.add(name)
        evaluated.append((name, col))
        if name not in new_cols and name not in orig_cols:
            new_cols.append(name)
    gagg_aliases = list(ctx.pending_group_aggs)
    df = ctx.apply_pending_group_aggs(df)
    for name, col in evaluated:
        if col is None:
            df = df.drop(name)
        else:
            df = df.withColumn(name, col)
    if gagg_aliases:
        df = df.drop(*gagg_aliases)
    # column placement (_before/_after), reference mutate.py:204-232
    if _before is not None or _after is not None:
        cols_now = [c for c in df.columns if not c.startswith("__datar_")]
        rest = [c for c in cols_now if c not in new_cols]
        anchor_sel = _before if _before is not None else _after
        if isinstance(anchor_sel, int) and not isinstance(anchor_sel, bool):
            # integer anchors are 0-based column positions (reference
            # tests/dplyr/test_mutate.py before_int/after_int)
            anchor = orig_cols[anchor_sel]
        else:
            anchor = resolve_selection([anchor_sel], orig_cols, _dtype_map(td))[0]
        idx = rest.index(anchor) + (0 if _before is not None else 1)
        order = rest[:idx] + new_cols + rest[idx:]
        df = _ordered_select(df, order)
    # _keep logic (reference mutate.py:246-276)
    if _keep != "all":
        cols_now = [c for c in df.columns if not c.startswith("__datar_")]
        created = [c for c in cols_now if c in new_cols or c not in orig_cols]
        touched = [c for c in cols_now if c in {n for n, _ in items}]
        keep_set: list[str]
        if _keep == "none" or _keep == "trans":
            keep_set = list(dict.fromkeys([*td.group_vars, *touched, *created]))
        elif _keep == "used":
            keep_set = list(
                dict.fromkeys(
                    [*td.group_vars, *[c for c in cols_now if c in used], *touched, *created]
                )
            )
        elif _keep == "unused":
            keep_set = list(
                dict.fromkeys(
                    [*td.group_vars, *[c for c in cols_now if c not in used], *touched, *created]
                )
            )
        else:
            keep_set = cols_now
        df = _ordered_select(df, keep_set)
    if list_tmps:
        df = df.drop(*list_tmps)
    out = td.with_df(df, keep_sort_meta=True)
    # rewriting the tracked sort-key column invalidates the key-bucket
    # two-pass metadata (frame order no longer follows its values)
    if out.sort_meta and out.sort_meta[0] in {n for n, _ in items}:
        out.sort_meta = None
    return out


@verb
def transmute(td: Tibble, *args: Any, **kwargs: Any) -> Tibble:
    return mutate(td, *args, _keep="none", **kwargs)


# --------------------------------------------------------------------------
# filter (reference api/dplyr/filter_.py:32-136)
# --------------------------------------------------------------------------

@verb
def filter_(td: Tibble, *conds: Any, _preserve: bool = False) -> Tibble:
    if any(c is False for c in conds):
        return td.with_df(td.df.limit(0), keep_sort_meta=True)  # trivially-false short circuit
    if any(tree_needs_order(c) for c in conds if isinstance(c, Expr)):
        td = td.ensure_order()
    ctx = EvalContext(td, "eval")
    ctx.allow_agg_join = True  # filter never rewrites columns
    combined: Column | None = None
    has_call = False
    for c in conds:
        if c is True or c is None:
            continue
        has_call = has_call or _contains_call(c)
        col = ctx.col(c)
        combined = col if combined is None else (combined & col)
    if combined is None:
        return td
    if ctx.pending_group_aggs:
        # grouped aggregates in the predicate: join the per-group values
        # (one groupBy + broadcast-able join, no full-table window
        # shuffle), filter, drop the helpers. Route through a
        # materialized predicate column in case other window exprs
        # (ranks, lags) share the condition — Spark forbids them in
        # WHERE.
        aliases = list(ctx.pending_group_aggs)
        df = (
            ctx.apply_pending_group_aggs(td.df)
            .withColumn("__datar_cond__", combined)
            .filter(F.col("__datar_cond__"))
            .drop("__datar_cond__", *aliases)
        )
        return td.with_df(df, keep_sort_meta=True)
    if has_call:
        # function calls may compile to window aggregates, which Spark
        # forbids in WHERE — materialize the predicate first (Catalyst
        # still collapses the projection)
        df = (
            td.df.withColumn("__datar_cond__", combined)
            .filter(F.col("__datar_cond__"))
            .drop("__datar_cond__")
        )
        return td.with_df(df, keep_sort_meta=True)
    return td.with_df(td.df.filter(combined), keep_sort_meta=True)


# --------------------------------------------------------------------------
# grouping (reference api/dplyr/group_by.py)
# --------------------------------------------------------------------------

@verb
def group_by(td: Tibble, *args: Any, _add: bool = False, _drop: bool | None = None, **kwargs: Any) -> Tibble:
    # unnamed computed expressions group by the derived column named by
    # its deparse — dplyr group_by(x > 1) / count(x > 1) convention.
    # Dots are scrubbed from the name (Spark would parse them as struct
    # field access in groupBy/col references).
    args = list(args)
    for i, a in enumerate(args):
        if isinstance(a, Expr) and not isinstance(a, Ref):
            nm = deparse(a).replace("f.", "").replace(".", "_")
            kwargs[nm] = a
            args[i] = Ref(nm)
    if kwargs:
        td = mutate(td, **kwargs)
    names = [a._name if isinstance(a, Ref) else str(a) for a in args]
    missing = [n for n in names if n not in td.columns]
    if missing:
        raise KeyError(f"group_by: columns not found: {missing}")
    names += [k for k in kwargs if k not in names]
    groups = list(td.group_vars) + [n for n in names if n not in td.group_vars] if _add else names
    # _drop=None inherits the tibble's current setting (dplyr's
    # group_by_drop_default) so regrouping, e.g. inside count(), does
    # not silently discard an earlier _drop=False
    drop = td.group_drop if _drop is None else _drop
    return Tibble(
        td.df, groups=groups, rowwise=False, levels=td.levels, group_drop=drop
    )


@verb
def ungroup(td: Tibble, *args: Any) -> Tibble:
    if not args:
        return Tibble(td.df, groups=(), rowwise=False, levels=td.levels)
    drop = {a._name if isinstance(a, Ref) else str(a) for a in args}
    unknown = drop - set(td.columns)
    if unknown:
        raise KeyError(f"ungroup: columns not found: {sorted(unknown)}")
    return Tibble(
        td.df,
        groups=[g for g in td.group_vars if g not in drop],
        rowwise=False,
        levels=td.levels,
    )


@verb
def rowwise(td: Tibble, *args: Any) -> Tibble:
    names = [a._name if isinstance(a, Ref) else str(a) for a in args]
    return Tibble(td.df, groups=names, rowwise=True, levels=td.levels)


@verb
def group_by_cube(td: Tibble, *args: Any) -> Tibble:
    """Group for a CUBE aggregation: the next summarise computes every
    subset of the keys (Spark `Dataset.cube` — one shuffle, Catalyst
    expands the grouping sets map-side). NULL key = subtotal row; use
    grouping_id() to tell subtotals from genuine NULL data."""
    names = [a._name if isinstance(a, Ref) else str(a) for a in args]
    out = Tibble(td.df, groups=names, levels=td.levels)
    out.grouping_mode = "cube"
    return out


@verb
def group_by_rollup(td: Tibble, *args: Any) -> Tibble:
    """Group for a ROLLUP aggregation: hierarchical subtotals
    (a,b,c) -> (a,b) -> (a) -> () in one pass."""
    names = [a._name if isinstance(a, Ref) else str(a) for a in args]
    out = Tibble(td.df, groups=names, levels=td.levels)
    out.grouping_mode = "rollup"
    return out


# --------------------------------------------------------------------------
# summarise (reference api/dplyr/summarise.py:215-303)
# --------------------------------------------------------------------------

@verb
def summarise(td: Tibble, *args: Any, _groups: str | None = None, **kwargs: Any) -> Tibble:
    items = _expand_items(td, args, kwargs)
    if any(tree_needs_order(node) for _, node in items):
        td = td.ensure_order()
    if any(tree_needs_pos(node) for _, node in items):
        td = td.ensure_pos()
    if any(tree_needs_gid(node) for _, node in items):
        td = td.ensure_gid()
    ctx = EvalContext(td, "agg")
    gvars = list(td.group_vars)

    direct: list[tuple[str, Any]] = []
    deferred: list[tuple[str, Any]] = []
    created: set[str] = set()
    for name, node in items:
        # dependent expression referencing a just-created aggregate:
        # second pass as withColumn (reference summarise.py:150-158)
        (deferred if collect_refs(node) & created else direct).append((name, node))
        created.add(name)
    # median/quantile on one argument share one percentile buffer
    ctx.quantile_probs = fused_quantile_probs(node for _, node in direct)
    agg_cols: list[Column] = []
    for name, node in direct:
        col = eval_expr(node, ctx)
        if not isinstance(col, Column):
            col = F.lit(col)
        agg_cols.append(col.alias(name))

    if not agg_cols and not gvars:
        # bare summarise(): one row, no columns (reference
        # tests/dplyr/test_summarise.py shape (1, 0))
        return Tibble(td.df.sparkSession.range(1).drop("id"), groups=())
    if gvars:
        # maintain_order=True analogue: carry first-seen order per group
        order_aggs = [F.min(ORDER_COL).alias(ORDER_COL)] if td.has_order else []
        if not agg_cols and not order_aggs:
            order_aggs = [F.count(F.lit(1)).alias("__datar_nagg__")]
        if td.grouping_mode == "cube":
            out = td.df.cube(*gvars).agg(*agg_cols, *order_aggs)
        elif td.grouping_mode == "rollup":
            out = td.df.rollup(*gvars).agg(*agg_cols, *order_aggs)
        else:
            out = td.df.groupBy(*gvars).agg(*agg_cols, *order_aggs)
        if (
            td.grouping_mode == "groups"
            and not td.group_drop
            and any(g in td.levels for g in gvars)
        ):
            out = _expand_unused_levels(td, out, gvars)
    else:
        out = td.df.groupBy().agg(*agg_cols)

    # multi-value results (e.g. quantile with a probs list, or literal
    # vectors like prob=c(0.25, 0.75)) come back as arrays; explode them
    # to rows post-agg, zipped together when several (reference
    # summarise.py:61-64,240-247 `_MultiValueExpr`)
    from ..functions.registry import tree_is_multi_value

    multi = [
        name
        for name, node in items
        if tree_is_multi_value(node) or isinstance(node, (list, tuple))
    ]
    if multi:
        if len(multi) == 1:
            out = out.withColumn(multi[0], F.explode(F.col(multi[0])))
        else:
            zipped = F.explode(F.arrays_zip(*[F.col(m) for m in multi]))
            out = out.withColumn("__mv__", zipped)
            for m in multi:
                out = out.withColumn(m, F.col(f"__mv__.{m}"))
            out = out.drop("__mv__")

    result = Tibble(out, groups=(), levels=td.levels)
    if deferred:
        post_ctx = EvalContext(result, "eval")
        df = result.df
        for name, node in deferred:
            col = eval_expr(node, post_ctx)
            df = df.withColumn(name, col if isinstance(col, Column) else F.lit(col))
        result = result.with_df(df)

    # leading-underscore names are temp variables: computable, reusable
    # by later expressions, excluded from the output (reference
    # tests/dplyr/test_summarise.py:123-130)
    temps = [name for name, _ in items if name.startswith("_")]
    if temps:
        result = result.with_df(result.df.drop(*temps))

    # _groups protocol, default drop_last (reference summarise.py:277-302)
    if td.grouping_mode != "groups":
        new_groups = []  # a cube/rollup grid is not re-groupable by prefix
    elif _groups in (None, "drop_last"):
        new_groups = gvars[:-1]
    elif _groups == "keep":
        new_groups = gvars
    else:  # "drop" / "rowwise"
        new_groups = []
    return Tibble(result.df, groups=new_groups, levels=td.levels)


summarize = summarise


@verb
def reframe(td: Tibble, *args: Any, **kwargs: Any) -> Tibble:
    out = summarise(td, *args, _groups="drop", **kwargs)
    return out


# --------------------------------------------------------------------------
# arrange (reference api/dplyr/arrange.py:25-126)
# --------------------------------------------------------------------------

@verb
def arrange(td: Tibble, *keys: Any, _by_group: bool = False) -> Tibble:
    if not keys and not _by_group:
        return td
    # arrange(across(cols)) sorts by every selected column in order
    # (dplyr convention); fns-less across expands to its Refs
    expanded: list[Any] = []
    for k in keys:
        if isinstance(k, Across):
            expanded.extend(node for _, node in expand_across(td, k))
        else:
            expanded.append(k)
    keys = tuple(expanded)
    td = td.ensure_order()
    ctx = EvalContext(td, "eval")
    sort_cols: list[Column] = []
    if _by_group:
        sort_cols += [F.col(g).asc() for g in td.group_vars]
    for k in keys:
        sort_cols.append(_sort_key(td, ctx, k))
    sort_cols.append(F.col(ORDER_COL).asc())  # stable sort
    # record the first sort key when it's a plain non-factor column:
    # two-pass windows downstream can then bucket on its VALUES
    # (quantile boundaries are cross-job deterministic; post-sort mono
    # ids are not — see plans/context.py:_key_bucket)
    first_key = None
    if not _by_group and keys:
        k0 = keys[0]
        asc0 = not isinstance(k0, Desc)
        node0 = k0._operand if isinstance(k0, Desc) else k0
        if isinstance(node0, Ref) and node0._name not in td.levels:
            first_key = (node0._name, asc0)
    return td.reassign_order(*sort_cols, first_key=first_key)


def _sort_key(td: Tibble, ctx: EvalContext, k: Any) -> Column:
    """Factor-aware sort key: factor columns sort by level order."""
    desc_flag = isinstance(k, Desc)
    node = k._operand if desc_flag else k
    if isinstance(node, Ref) and node._name in td.levels:
        col = F.array_position(F.lit(td.levels[node._name]), F.col(node._name))
    else:
        col = ctx.col(node)
    # dplyr arrange puts NAs last regardless of direction
    return col.desc_nulls_last() if desc_flag else col.asc_nulls_last()


# --------------------------------------------------------------------------
# distinct (reference api/dplyr/distinct.py:59-119)
# --------------------------------------------------------------------------

@verb
def distinct(td: Tibble, *args: Any, _keep_all: bool = False, **kwargs: Any) -> Tibble:
    if kwargs:
        td = mutate(td, **kwargs)
    names = [a._name if isinstance(a, Ref) else str(a) for a in args]
    names += list(kwargs.keys())
    # no selection -> distinct over ALL columns (dplyr), even when
    # grouped; a selection always re-adds the group vars
    subset = (
        list(dict.fromkeys([*td.group_vars, *names])) if names else td.columns
    )
    if not td.has_order:
        if _keep_all:
            td = td.ensure_order()
        else:
            df = td.df.select(*subset).dropDuplicates()
            return td.with_df(df, keep_sort_meta=True)
    if _keep_all or set(subset) == set(td.columns):
        w = Window.partitionBy(*subset).orderBy(F.col(ORDER_COL).asc())
        df = (
            td.df.withColumn("__datar_rn__", F.row_number().over(w))
            .filter(F.col("__datar_rn__") == 1)
            .drop("__datar_rn__")
        )
        if not _keep_all:
            df = _ordered_select(df, subset)
        return td.with_df(df, keep_sort_meta=True)
    # first-seen order preserved via min(order) per distinct key
    df = td.df.groupBy(*subset).agg(F.min(ORDER_COL).alias(ORDER_COL))
    return td.with_df(df, keep_sort_meta=True)


# --------------------------------------------------------------------------
# count / tally (reference api/dplyr/count.py:77-244)
# --------------------------------------------------------------------------

def _count_name(existing: list[str], name: str | None) -> str:
    if name is not None:
        return name
    n = "n"
    while n in existing:
        n = n + "n"  # reference count.py:51-71 collision repair
    return n


@verb
def count(
    td: Tibble,
    *args: Any,
    wt: Any = None,
    sort: bool = False,
    name: str | None = None,
    **kwargs: Any,
) -> Tibble:
    orig_groups = list(td.group_vars)
    # reference count.py: a plain-Ref kwarg (count(count=f.x)) groups by
    # the REFERENCED column and the key names the count column; only
    # computed kwargs become derived group columns
    simple = {k: v for k, v in kwargs.items() if isinstance(v, Ref)}
    derived = {k: v for k, v in kwargs.items() if k not in simple}
    if name is None and simple:
        name = next(iter(simple))
    if args or kwargs:
        gb = group_by(td, *args, *simple.values(), _add=True, **derived)
    else:
        gb = td
    out = tally(gb, wt=wt, sort=sort, name=name)
    return Tibble(out.df, groups=orig_groups, levels=td.levels)


@verb
def tally(td: Tibble, wt: Any = None, sort: bool = False, name: str | None = None) -> Tibble:
    nm = _count_name(list(td.group_vars), name)
    ctx = EvalContext(td, "agg")
    agg = F.count(F.lit(1)) if wt is None else F.sum(ctx.col(wt))
    gvars = list(td.group_vars)
    if gvars:
        order_aggs = [F.min(ORDER_COL).alias(ORDER_COL)] if td.has_order else []
        df = td.df.groupBy(*gvars).agg(agg.alias(nm), *order_aggs)
        if not td.group_drop and any(g in td.levels for g in gvars):
            df = _expand_unused_levels(td, df, gvars, fill={nm: 0})
    else:
        df = td.df.groupBy().agg(agg.alias(nm))
    out = Tibble(df, groups=gvars[:-1], levels=td.levels)
    if sort:
        out = out.reassign_order(F.col(nm).desc())
    return out


@verb
def add_count(
    td: Tibble, *args: Any, wt: Any = None, sort: bool = False, name: str | None = None, **kwargs: Any
) -> Tibble:
    if kwargs:
        td = mutate(td, **kwargs)
    names = [a._name if isinstance(a, Ref) else str(a) for a in args] + list(kwargs.keys())
    gvars = list(dict.fromkeys([*td.group_vars, *names]))
    nm = _count_name(td.columns, name)
    # groupBy + join-back via the pending-agg machinery instead of an
    # unordered Window: the window form hash-shuffles EVERY row by the
    # count keys (and funnels through one task when ungrouped); the
    # rewrite shuffles only per-group partial states, broadcasts the
    # agg side when the parquet-footer bound proves it small, and the
    # ungrouped case is a 1-row broadcast cross join (r5; same plan
    # family as grouped mutate aggregates)
    tmp = Tibble(td.df, groups=gvars, levels=td.levels)
    ctx = EvalContext(tmp, "eval")
    ctx.allow_agg_join = True
    agg = ctx.agg(F.count(F.lit(1)) if wt is None else F.sum(ctx.col(wt)))
    df = ctx.apply_pending_group_aggs(td.df).withColumn(nm, agg)
    aliases = list(ctx.pending_group_aggs)
    if aliases:
        df = df.drop(*aliases)
    out = td.with_df(df, keep_sort_meta=True)
    if sort:
        out = out.reassign_order(F.col(nm).desc())
    return out


@verb
def add_tally(td: Tibble, wt: Any = None, sort: bool = False, name: str | None = None) -> Tibble:
    return add_count(td, wt=wt, sort=sort, name=name)


# --------------------------------------------------------------------------
# slice family (reference api/dplyr/slice_.py)
# --------------------------------------------------------------------------

def _expand_unused_levels(td: Tibble, agg_df, gvars: list[str], fill: dict | None = None):
    """group_by(_drop=False): right-join the aggregate onto the full
    level grid so unused factor levels appear as (empty) groups
    (reference group_data.py:84-100 — cross-join of per-var level
    frames; the grid is tiny, Spark broadcasts it)."""
    spark = agg_df.sparkSession
    grid = None
    for g in gvars:
        if g in td.levels:
            part = spark.createDataFrame([(l,) for l in td.levels[g]], [g])
        else:
            part = td.df.select(g).distinct()
        grid = part if grid is None else grid.crossJoin(part)
    out = grid.join(agg_df, gvars, "left")
    if fill:
        out = out.fillna(fill)
    return out


def _group_window(td: Tibble) -> Window:
    if td.group_vars:
        return Window.partitionBy(*td.group_vars)
    return Window.partitionBy()


@verb
def slice_(td: Tibble, *rows: Any) -> Tibble:
    """1-based positional rows, per group (reference slice_.py:102-138;
    this repo's documented fork keeps R's 1-based convention rather
    than the reference's 0-based one). Expression rows evaluate per
    group — ``slice_(n())`` keeps each group's last row."""
    td = td.ensure_order()
    idx: list[int] = []
    neg: list[int] = []
    expr_rows: list[Any] = []
    from ..plans.expr import RangeSel

    for r in rows:
        if isinstance(r, RangeSel):
            # c_[a:b] positional span, R-inclusive; open ends default
            # to the frame edges (stop defaults handled per group via
            # the expression path when unbounded — here a plain span)
            start = 1 if r.start is None else int(r.start)
            if r.stop is None:
                raise ValueError("slice_(c_[a:b]) needs a bounded stop")
            vals = list(range(start, int(r.stop) + 1))
        else:
            vals = r if isinstance(r, (list, tuple, range)) else [r]
        for v in vals:
            if isinstance(v, Expr):
                expr_rows.append(v)
                continue
            v = int(v)
            (neg if v < 0 else idx).append(v)
    w = _group_window(td).orderBy(F.col(ORDER_COL).asc())
    rn = F.row_number().over(w)
    df = td.df.withColumn("__datar_rn__", rn)
    cond = None
    if idx:
        cond = F.col("__datar_rn__").isin(idx)
    if expr_rows:
        # window-compiled aggregates (grouped n()) can't live in a WHERE
        # clause — materialize each as a column, filter on the column
        ctx = EvalContext(td.with_df(df), "eval")
        for i, e in enumerate(expr_rows):
            tmp = f"__datar_sl{i}__"
            df = df.withColumn(tmp, ctx.col(e).cast("int"))
            c = F.col("__datar_rn__") == F.col(tmp)
            cond = c if cond is None else (cond | c)
    if cond is None and neg:
        cond = ~F.col("__datar_rn__").isin([-v for v in neg])
    elif neg:
        cond = cond & ~F.col("__datar_rn__").isin([-v for v in neg])
    if cond is None:
        return td
    tmps = [f"__datar_sl{i}__" for i in range(len(expr_rows))]
    return td.with_df(
        df.filter(cond).drop("__datar_rn__", *tmps), keep_sort_meta=True
    )


def _resolve_n(n: int | None, prop: float | None) -> tuple[int | None, float | None]:
    if n is None and prop is None:
        return 1, None
    return n, prop


@verb
def slice_head(td: Tibble, n: int | None = None, prop: float | None = None) -> Tibble:
    td = td.ensure_order()
    n, prop = _resolve_n(n, prop)
    w = _group_window(td).orderBy(F.col(ORDER_COL).asc())
    df = td.df.withColumn("__datar_rn__", F.row_number().over(w))
    if prop is not None:
        df = df.withColumn("__datar_cnt__", F.count(F.lit(1)).over(_group_window(td)))
        out = df.filter(F.col("__datar_rn__") <= F.floor(F.col("__datar_cnt__") * prop))
        return td.with_df(out.drop("__datar_rn__", "__datar_cnt__"), keep_sort_meta=True)
    return td.with_df(df.filter(F.col("__datar_rn__") <= n).drop("__datar_rn__"), keep_sort_meta=True)


@verb
def slice_tail(td: Tibble, n: int | None = None, prop: float | None = None) -> Tibble:
    td = td.ensure_order()
    n, prop = _resolve_n(n, prop)
    w = _group_window(td).orderBy(F.col(ORDER_COL).desc())
    df = td.df.withColumn("__datar_rn__", F.row_number().over(w))
    if prop is not None:
        df = df.withColumn("__datar_cnt__", F.count(F.lit(1)).over(_group_window(td)))
        out = df.filter(F.col("__datar_rn__") <= F.floor(F.col("__datar_cnt__") * prop))
        return td.with_df(out.drop("__datar_rn__", "__datar_cnt__"), keep_sort_meta=True)
    return td.with_df(df.filter(F.col("__datar_rn__") <= n).drop("__datar_rn__"), keep_sort_meta=True)


def _slice_rank(td: Tibble, order_by: Any, n: int | None, prop: float | None, desc_: bool, with_ties: bool) -> Tibble:
    n, prop = _resolve_n(n, prop)
    td = td.ensure_order()
    ctx = EvalContext(td, "eval")
    if isinstance(order_by, str) and order_by in td.columns:
        key = F.col(order_by)  # string names a column (dplyr-compatible)
    else:
        key = ctx.col(order_by)
    key = key.desc_nulls_last() if desc_ else key.asc_nulls_last()
    if with_ties:
        # rank() must see ONLY the key — adding a tiebreak would turn
        # ties into distinct ranks and break with_ties semantics
        w = _group_window(td).orderBy(key)
        rankfn = F.rank()
    else:
        w = _group_window(td).orderBy(key, F.col(ORDER_COL).asc())
        rankfn = F.row_number()
    df = td.df.withColumn("__datar_rn__", rankfn.over(w))
    if prop is not None:
        df = df.withColumn("__datar_cnt__", F.count(F.lit(1)).over(_group_window(td)))
        out = df.filter(F.col("__datar_rn__") <= F.floor(F.col("__datar_cnt__") * prop))
        out = out.drop("__datar_cnt__")
    else:
        out = df.filter(F.col("__datar_rn__") <= n)
    # dplyr: the result is ORDERED BY the ranking key (groups in key
    # order, rows by rank within group) — not by original frame order
    res = td.with_df(out)
    sort_cols = [F.col(g).asc_nulls_last() for g in td.group_vars]
    sort_cols += [F.col("__datar_rn__").asc(), F.col(ORDER_COL).asc()]
    res = res.reassign_order(*sort_cols)
    return res.with_df(res.df.drop("__datar_rn__"))


@verb
def slice_min(td: Tibble, order_by: Any, n: int | None = None, prop: float | None = None, with_ties: bool = True) -> Tibble:
    return _slice_rank(td, order_by, n, prop, desc_=False, with_ties=with_ties)


@verb
def slice_max(td: Tibble, order_by: Any, n: int | None = None, prop: float | None = None, with_ties: bool = True) -> Tibble:
    return _slice_rank(td, order_by, n, prop, desc_=True, with_ties=with_ties)


@verb
def slice_sample(
    td: Tibble,
    n: int | None = None,
    prop: float | None = None,
    replace: bool = False,
    seed: int | None = None,
) -> Tibble:
    n, prop = _resolve_n(n, prop)
    if not td.group_vars and not replace:
        # dplyr semantics are EXACT (floor(n*prop) rows): orderBy(rand)
        # + limit compiles to TakeOrderedAndProject — distributed, no
        # single-partition window (and no approximate df.sample)
        cnt = n if prop is None else int(td.nrow() * prop)
        rnd = F.rand(seed) if seed is not None else F.rand()
        out = td.df.orderBy(rnd).limit(int(cnt))
        return td.with_df(out, keep_sort_meta=True)
    # exact-n per group: rank by rand()
    w = _group_window(td).orderBy(F.rand(seed) if seed is not None else F.rand())
    df = td.df.withColumn("__datar_rn__", F.row_number().over(w))
    if prop is not None:
        df = df.withColumn("__datar_cnt__", F.count(F.lit(1)).over(_group_window(td)))
        out = df.filter(F.col("__datar_rn__") <= F.floor(F.col("__datar_cnt__") * prop))
        return td.with_df(out.drop("__datar_rn__", "__datar_cnt__"), keep_sort_meta=True)
    return td.with_df(df.filter(F.col("__datar_rn__") <= n).drop("__datar_rn__"), keep_sort_meta=True)


@verb
def head_(td: Tibble, n: int = 6) -> Tibble:
    out = slice_head(ungroup(td), n=n)
    return Tibble(out.df, groups=td.group_vars, levels=td.levels)


@verb
def tail_(td: Tibble, n: int = 6) -> Tibble:
    out = slice_tail(ungroup(td), n=n)
    return Tibble(out.df, groups=td.group_vars, levels=td.levels)


@verb
def glimpse(td: Tibble, width: int | None = None) -> None:
    print(f"Rows: ??? (lazy)\nColumns: {len(td.columns)}")
    for name, dtype in td.dtypes:
        print(f"$ {name:<20} <{dtype}>")
