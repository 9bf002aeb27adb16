"""Expression evaluation contexts.

Mirrors the reference's Context.EVAL / Context.SELECT split
(``datar_polars/contexts.py:47-91``) but resolves references to
``pyspark.sql.functions.col`` instead of ``pl.col``, and compiles
aggregate sub-expressions either to plain aggregates (summarise) or to
window aggregates ``.over(Window.partitionBy(*groups))`` (mutate /
filter on a grouped tibble) — the Spark analogue of Polars'
``.over(gvars)`` rewrite at reference ``filter_.py:68-71``.
"""

from __future__ import annotations

import os
from typing import Any, TYPE_CHECKING

from pyspark.sql import Column, Window, WindowSpec
from pyspark.sql import functions as F

from .cache import Memo, context_memo, file_set_signature
from .expr import BIN_IMPL, BinOp, Call, Desc, Expr, Ref, UnaryOp

if TYPE_CHECKING:
    from ..tibble import Tibble

ORDER_COL = "__datar_ro__"
POS_COL = "__datar_pos__"

# Two per-SparkContext memos (``plans.cache``) of footer-derived
# distinct-count bounds, each bounded FIFO so a long session over many
# tables stays small:
# * "footer_bound": (file-set signature, key set) -> bound.
# * "plan_bound" (r14): (plan semanticHash, file-set signature, group
#   keys) -> bound. One semanticHash + one inputFiles round trip
#   replace the ~140-call per-attribute plan walk when a semantically
#   identical plan is re-grouped by the same keys — the steady-state
#   case (re-running a pipeline template rebuilds the same plan;
#   semanticHash canonicalizes exprIds, verified stable across
#   rebuilds).
# The file-set signature (name, mtime_ns, size) keeps both honest when
# a path gains files or a file is rewritten in place mid-session.
_BOUND_MEMO_SIZE = 256


class EvalContext:
    """Carries the tibble + mode through one expression evaluation.

    mode:
      * ``"eval"``  — mutate/filter/arrange: aggregates become window
        aggregates over the group partition.
      * ``"agg"``   — summarise: aggregates stay plain aggregates.
    """

    def __init__(self, tibble: "Tibble", mode: str = "eval"):
        self.tibble = tibble
        self.mode = mode
        self.groups: tuple[str, ...] = tuple(tibble.group_vars)
        self.rowwise: bool = tibble.rowwise
        # names created earlier in the same mutate/summarise (sequential refs)
        self.local_names: dict[str, Column] = {}
        # with_order(): replaces the default frame-order window key
        self.order_override: Column | None = None
        # grouped-aggregate join rewrite (see agg()): the calling verb
        # opts in per-item; collected aggregates are joined back in one
        # pass by apply_pending_group_aggs()
        self.allow_agg_join: bool = False
        self.pending_group_aggs: dict[str, Column] = {}
        # summarise only: argument repr -> the literal probabilities its
        # median/quantile calls request, compiled to one shared
        # percentile(x, array(p, ...)) buffer (fused_quantile_probs)
        self.quantile_probs: dict[str, tuple[float, ...]] = {}
        # memo for the tiny eager jobs the two-pass window rewrites run
        # at plan build (per-bucket offsets, quantile boundaries): a
        # mutate with several window items shares one EvalContext, so
        # identical requests (row_number + ntile, repeated keys) cost
        # one job, not one per item
        self._job_cache = Memo()

    # ---- resolution helpers -------------------------------------------
    def eval(self, node: Any) -> Any:
        """Evaluate a node; literals pass through unchanged."""
        return eval_expr(node, self)

    def col(self, node: Any) -> Column:
        """Evaluate and force the result to be a Column."""
        out = eval_expr(node, self)
        if isinstance(out, Column):
            return out
        return F.lit(out)

    # ---- window plumbing ----------------------------------------------
    def partition(self) -> WindowSpec:
        """Group partition window (unordered, whole-partition frame)."""
        if self.groups:
            return Window.partitionBy(*self.groups)
        return Window.partitionBy()

    def ordered(self, order_by: Any = None, desc: bool = False) -> WindowSpec:
        """Group partition ordered by frame order (or an explicit key)."""
        if order_by is not None:
            key = self.col(order_by)
            key = key.desc() if desc else key.asc()
        elif self.order_override is not None:
            key = self.order_override
        else:
            key = F.col(ORDER_COL).asc()
        return self.partition().orderBy(key)

    def cumulative(self, order_by: Any = None) -> WindowSpec:
        return self.ordered(order_by).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )

    def agg(self, aggregated: Column) -> Column:
        """Wrap an aggregate for the current mode (plain vs window)."""
        if self.mode == "agg":
            return aggregated
        if not self.groups and not self.rowwise and not self.tibble.df.isStreaming:
            # Ungrouped window aggregate == one global scalar. A
            # `Window.partitionBy()` would funnel every row through one
            # task, so it compiles to a 1-row global agg instead. The
            # DEFAULT is fully lazy: register it as a pending agg that
            # apply_pending_group_aggs() cross-joins back as a 1-row
            # broadcast — plan construction launches no Spark jobs.
            if self.allow_agg_join and not self._contains_pending(aggregated):
                alias = f"__datar_gagg_{len(self.pending_group_aggs)}__"
                self.pending_group_aggs[alias] = aggregated
                return F.col(alias)
            # Fallback (verb didn't opt into the join rewrite, or the
            # aggregate nests another pending aggregate): evaluate the
            # scalar eagerly and inline the literal. Rare shapes only —
            # the one case plan construction still runs a job.
            df = self.tibble.df
            if self.pending_group_aggs and self._contains_pending(aggregated):
                df = self.apply_pending_group_aggs(df)
            schema = df.select(aggregated.alias("__v__")).schema
            row = df.agg(aggregated.alias("__v__")).first()
            return F.lit(row["__v__"]).cast(schema[0].dataType)
        if (
            self.allow_agg_join
            and self.groups
            and not self.rowwise
            and not self.tibble.df.isStreaming
            # an aggregate built on another pending aggregate (nested
            # window) can't be computed in one groupBy pass — keep the
            # window form, which fails/succeeds exactly as before
            and not self._contains_pending(aggregated)
        ):
            # Grouped unordered window aggregate -> per-group groupBy
            # agg (map-side partial combine) joined back on the keys.
            # `mean(x).over(partitionBy(g))` shuffles EVERY row of the
            # table by g; the rewrite shuffles only (g, partial-state)
            # rows and AQE broadcasts the small agg side, so the fact
            # table never moves — the difference between a 100 TB
            # shuffle and a metadata-sized one.
            alias = f"__datar_gagg_{len(self.pending_group_aggs)}__"
            self.pending_group_aggs[alias] = aggregated
            return F.col(alias)
        return aggregated.over(self.partition())

    def _contains_pending(self, col: Column) -> bool:
        """True when ``col``'s expression tree REFERENCES a pending
        placeholder column (``__datar_gagg_N__``). Detection is
        structural — the set of attribute names the unresolved Catalyst
        expression refers to — so a user STRING LITERAL containing the
        token no longer forces the eager fallback, and a future change
        to Column.__repr__ truncation can't silently misroute
        expressions. The repr grep survives only as the catch-all for
        Column objects without a JVM handle (e.g. Spark Connect)."""
        if not self.pending_group_aggs:
            return False
        try:
            # classic Spark 4: convert the ColumnNode to a Catalyst
            # expression and scan its leaf UnresolvedAttributes.
            # (references() is empty pre-analysis — AttributeSet drops
            # unresolved attributes — so walk collectLeaves() instead.)
            jexpr = self.tibble.df.sparkSession._jsparkSession.expression(col._jc)
            leaves = jexpr.collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                if (
                    leaf.getClass().getSimpleName() == "UnresolvedAttribute"
                    and leaf.name() in self.pending_group_aggs
                ):
                    return True
            return False
        except Exception:
            return "__datar_gagg_" in str(col)

    def apply_pending_group_aggs(self, df: "DataFrame") -> "DataFrame":
        """Compute all aggregates collected by agg() in ONE groupBy over
        the base tibble and left-join them onto ``df`` with null-safe
        key equality (window partitioning groups NULL keys together, so
        the join must too). Placeholder columns are dropped by the
        caller after the dependent expressions are applied."""
        if not self.pending_group_aggs:
            return df
        base = self.tibble.df
        keyed = [F.col(g).alias(f"__datar_gk_{i}__") for i, g in enumerate(self.groups)]
        aggdf = base.groupBy(*keyed).agg(
            *[c.alias(a) for a, c in self.pending_group_aggs.items()]
        )
        if not self.groups:
            # global scalars: exactly one row — broadcast cross join
            # (BroadcastNestedLoopJoin, a per-row passthrough).
            return df.crossJoin(F.broadcast(aggdf))
        # Broadcast decision WITHOUT a compile-time Spark job. AQE never
        # demotes this sort-merge join to broadcast at runtime on Spark
        # 4.x (verified with a minimal repro: 600k-row fact left-joined
        # to a 1k-row agg with adaptive.autoBroadcastJoinThreshold
        # raised stays SMJ through the final adaptive plan — the r4
        # stage-gate construction changed nothing and only re-ran the
        # aggregation), and Catalyst's static estimate for an aggregate
        # is its input size, so at 100 TB the fact table ALWAYS
        # shuffles. Instead: bound the agg side's cardinality from
        # parquet FOOTER STATISTICS (driver-side metadata only, zero
        # Spark jobs) — for integer-domain group keys that resolve
        # straight to a single parquet relation, distinct(k) <=
        # max(k) - min(k) + 1 across file footers. When the bound
        # proves the agg side fits under autoBroadcastJoinThreshold,
        # hint broadcast: the 100 TB fact side never shuffles and the
        # bound being a TRUE upper bound makes the hint safe. Unknown
        # provenance / non-integer keys / too many files -> keep the
        # shuffled join (plain Spark behavior).
        if not getattr(base, "isStreaming", False):
            if os.environ.get("DATAR_AGG_BROADCAST", "0") == "1":
                # operator override: FORCED hint for clusters where the
                # per-group agg table is known to fit executor memory
                # (bypasses autoBroadcastJoinThreshold), AQE on or off
                aggdf = F.broadcast(aggdf)
            else:
                bound = self._footer_group_bound(base)
                if bound is not None and self._fits_broadcast(aggdf, bound):
                    aggdf = F.broadcast(aggdf)
        cond = None
        for i, g in enumerate(self.groups):
            c = F.col(g).eqNullSafe(F.col(f"__datar_gk_{i}__"))
            cond = c if cond is None else cond & c
        out = df.join(aggdf, cond, "left")
        return out.drop(*[f"__datar_gk_{i}__" for i in range(len(self.groups))])

    # integer-domain types whose footer min/max bounds distinct count
    _FOOTER_BOUND_TYPES = frozenset(
        ["ByteType", "ShortType", "IntegerType", "LongType", "DateType",
         "BooleanType"]
    )

    def _footer_group_bound(self, base: "DataFrame") -> int | None:
        """Upper bound on the number of distinct group-key combinations,
        derived from parquet FILE FOOTER statistics — driver-side
        metadata reads only, never a Spark job. Returns None when no
        sound bound is provable, i.e. when any group key does not
        resolve (same exprId) to an attribute produced directly by the
        plan's single parquet relation (a mutate/alias in between means
        footer stats describe a different value), any key is not
        integer-domain, the source exceeds the footer-read cap
        (DATAR_AGG_BROADCAST_MAX_FOOTERS, default 1024 files), or any
        footer lacks statistics. The bound max-min+1 (+1 for nulls) per
        key, multiplied across keys, is a TRUE upper bound — it can
        only overestimate distinctness (sparse domains), which merely
        forgoes the broadcast, never forces an unsafe one."""
        try:
            jplan = base._jdf.queryExecution().analyzed()
            files = [
                f[len("file:"):] if f.startswith("file:") else None
                for f in base.inputFiles()
            ]
            pkey = (
                jplan.semanticHash(),
                file_set_signature(files),
                tuple(self.groups),
            )
            return context_memo("plan_bound", _BOUND_MEMO_SIZE).get_or_make(
                pkey, lambda: self._footer_group_bound_walk(jplan, files)
            )
        except Exception:
            return None

    def _footer_group_bound_walk(self, jplan, files) -> int | None:
        """The per-attribute plan walk behind the plan-level memo: runs
        once per distinct (plan, file set, keys) triple."""
        try:
            leaves = jplan.collectLeaves()
            if leaves.size() != 1:
                return None
            leaf = leaves.apply(0)
            if leaf.getClass().getSimpleName() != "LogicalRelation":
                return None
            rel = leaf.relation()
            if "Parquet" not in rel.fileFormat().toString():
                return None
            # group keys must be the relation's OWN attributes (exprId
            # match), untouched by any intermediate alias/mutate
            leaf_ids = {}
            lo = leaf.output()
            for i in range(lo.size()):
                a = lo.apply(i)
                # Scala type singletons print as e.g. "LongType$"
                leaf_ids[a.exprId().id()] = (
                    a.name(),
                    a.dataType().getClass().getSimpleName().rstrip("$"),
                )
            out = jplan.output()
            by_name = {}
            for i in range(out.size()):
                a = out.apply(i)
                by_name[a.name()] = a.exprId().id()
            key_cols = []
            for g in self.groups:
                eid = by_name.get(g)
                if eid is None or eid not in leaf_ids:
                    return None
                name, dtype = leaf_ids[eid]
                if dtype not in self._FOOTER_BOUND_TYPES:
                    return None
                key_cols.append(name)
            cap = int(os.environ.get("DATAR_AGG_BROADCAST_MAX_FOOTERS", "1024"))
            if not files or None in files or len(files) > cap:
                return None
            # footer reads are pure metadata but not free at the file
            # cap — memoize per (file set, key set) across plan builds
            # (same table re-grouped repeatedly is the common case)
            memo = context_memo("footer_bound", _BOUND_MEMO_SIZE)
            mkey = (file_set_signature(files), tuple(key_cols))
            if mkey in memo:
                return memo[mkey]
            import pyarrow.parquet as pq

            spans: dict[str, list] = {k: [None, None, False] for k in key_cols}
            for fp in files:
                md = pq.ParquetFile(fp).metadata
                idx = {
                    md.schema.column(i).name: i for i in range(md.num_columns)
                }
                for k in key_cols:
                    if k not in idx:
                        return None
                    for rg in range(md.num_row_groups):
                        col = md.row_group(rg).column(idx[k])
                        st = col.statistics
                        if st is None or not st.has_min_max:
                            return None
                        s = spans[k]
                        mn, mx = st.min, st.max
                        if isinstance(mn, bool):
                            mn, mx = int(mn), int(mx)
                        s[0] = mn if s[0] is None else min(s[0], mn)
                        s[1] = mx if s[1] is None else max(s[1], mx)
                        if st.null_count is None or st.null_count > 0:
                            s[2] = True
            bound = 1
            for k in key_cols:
                mn, mx, has_null = spans[k]
                if mn is None:
                    return None
                width = self._domain_width(mn, mx)
                if width is None:
                    return None
                bound *= width + (1 if has_null else 0)
                if bound > (1 << 40):
                    bound = None  # never broadcast-sized
                    break
            return memo.put(mkey, bound)
        except Exception:
            return None

    @staticmethod
    def _domain_width(mn, mx) -> int | None:
        import datetime

        if isinstance(mn, bool) or isinstance(mn, int):
            return int(mx) - int(mn) + 1
        if isinstance(mn, datetime.date):
            return (mx - mn).days + 1
        return None

    def _fits_broadcast(self, aggdf: "DataFrame", bound: int) -> bool:
        """bound * estimated-row-bytes <= the session's
        autoBroadcastJoinThreshold (the same knob users already size).
        Row bytes estimated from the agg schema with conservative fixed
        widths; -1 / unparsable threshold disables the hint.

        The footer bound is a true ROW-COUNT bound, but a forced
        F.broadcast hint bypasses Spark's own size check — so the byte
        estimate must never be optimistic. Unbounded-width columns
        (binary, array/map/struct — e.g. collect_list outputs) disable
        the hint outright: a row-count bound says nothing about their
        bytes, and broadcasting a multi-GB frame pressures every
        executor plus the driver. Strings get a conservative 256-byte
        width (group keys are typically short codes; 256 covers them
        with a wide margin while still forgoing the hint for frames
        whose row count leaves no headroom)."""
        try:
            raw = self.tibble.df.sparkSession.conf.get(
                "spark.sql.autoBroadcastJoinThreshold", "10485760"
            )
            thresh = self._parse_bytes(raw)
            if thresh is None or thresh <= 0:
                return False
            row_bytes = 20
            for f_ in aggdf.schema.fields:
                t = f_.dataType.simpleString()
                if t in (
                    "tinyint", "smallint", "int", "bigint", "float",
                    "double", "date", "boolean", "timestamp",
                ):
                    row_bytes += 8
                elif t.startswith("decimal"):
                    # precision > 18 occupies 16 bytes in UnsafeRow;
                    # charge 16 for ALL decimals — the estimate must
                    # never be optimistic (the forced hint bypasses
                    # Spark's own size check)
                    row_bytes += 16
                elif t == "string":
                    row_bytes += 256
                else:
                    # binary/array/map/struct: width unbounded by the
                    # row-count bound — never force a broadcast
                    return False
            return bound * row_bytes <= thresh
        except Exception:
            return False

    @staticmethod
    def _parse_bytes(raw: str) -> int | None:
        s = str(raw).strip().lower()
        mult = 1
        for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                       ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                       ("b", 1)):
            if s.endswith(suf):
                s, mult = s[: -len(suf)], m
                break
        try:
            return int(float(s)) * mult
        except ValueError:
            return None

    # ---- two-pass distributed cumulative windows -----------------------
    # Ungrouped order-sensitive windows are semantically a total order,
    # but the physical plan need not be one task: partition by a coarse
    # bucket that is a PREFIX of the mono-id order (so buckets tile the
    # order), cumulate within buckets in parallel, and combine in an
    # exclusive prefix of per-bucket totals computed by one tiny agg job.
    # The bucket key is derived from ORDER_COL *values*, not physical
    # partitioning, so the two passes agree without caching — as long as
    # the order ids themselves are reproducible (tibble.order_stable).

    MAX_TWO_PASS_BUCKETS = 65536

    def _order_bucket(self) -> Column | None:
        """Bucket = mono-id prefix (its partition index). None when the
        order column isn't a plain mono-id long (e.g. bind_rows structs)."""
        dtype = dict(self.tibble.df.dtypes).get(ORDER_COL)
        if dtype == "bigint":
            return F.shiftright(F.col(ORDER_COL), 33)
        return None

    def _two_pass_core_ok(self, order_by: Any) -> bool:
        return (
            self.mode == "eval"
            and not self.groups
            and not self.rowwise
            and order_by is None
            and self.order_override is None
            and ORDER_COL in self.tibble.df.columns
            and not self.tibble.df.isStreaming
        )

    def _two_pass_ok(self, order_by: Any) -> bool:
        return self._two_pass_core_ok(order_by) and self.tibble.order_stable

    _KEY_BUCKET_QUANTILES = 64

    def _key_bucket(self) -> tuple[Column, Column] | None:
        """(bucket, within-bucket order key) derived from the last
        arrange's first sort-key VALUES. Post-arrange mono ids are
        job-local (range-partition boundaries are sampled per
        compilation), but the key values themselves are not: quantile
        boundaries computed once on the driver give every job the same
        bucket for a given key value, so the two-pass offsets job and
        the main job agree. Equal keys share a bucket by construction
        (count of boundaries strictly below the key), and per-bucket
        AGGREGATES are tie-order-independent, so the job-local
        tie-break inside the main job's window is safe."""
        meta = getattr(self.tibble, "sort_meta", None)
        if not meta:
            return None
        name, asc = meta
        if name not in self.tibble.df.columns:
            return None
        k = F.col(name)
        bucket = self._value_bucket(k, asc)
        if bucket is None:
            return None
        okey = k.asc_nulls_last() if asc else k.desc_nulls_last()
        return bucket, okey

    def _value_bucket(self, key: Column, asc: bool) -> Column | None:
        """Quantile-bounded buckets over an arbitrary numeric
        expression. Independent of frame order and of mono-id
        stability: a given value always lands in the same bucket, and
        equal values share a bucket (count of boundaries strictly
        beyond the key), so per-bucket aggregates and value ranks are
        well-defined. NULL keys get their own trailing bucket (R/dplyr
        sort NAs last in both directions)."""
        df = self.tibble.df
        probe = df.select(key.alias("__k__"))
        dtype = probe.dtypes[0][1]
        if not (
            dtype in ("tinyint", "smallint", "int", "bigint", "float", "double")
            or dtype.startswith("decimal")
        ):
            return None  # approxQuantile needs numerics

        def quantiles():
            try:
                nq = self._KEY_BUCKET_QUANTILES
                qs = [i / nq for i in range(1, nq)]
                return probe.stat.approxQuantile("__k__", qs, 0.001)
            except Exception:
                return None

        bounds = self._job_cache.get_or_make(("bounds", str(key)), quantiles)
        if bounds is None:
            return None
        bounds = sorted(set(bounds))
        if len(bounds) < 2:
            return None  # low-cardinality key: buckets would all collide
        arr = F.array(*[F.lit(b) for b in bounds])
        if asc:
            b = F.size(F.filter(arr, lambda x: x < key))
        else:
            b = F.size(F.filter(arr, lambda x: x > key))
        return F.when(key.isNull(), F.lit(len(bounds) + 1)).otherwise(b)

    def rank_over(self, col: Column, desc: bool, kind: str) -> Column | None:
        """Two-pass distributed UNGROUPED value rank, or None when the
        single-partition window is the only option. Buckets come from
        the rank key's own quantiles (equal values never straddle a
        bucket), per-bucket ranks run in parallel, and the rank of each
        bucket's first row is recovered from broadcast per-bucket
        counts: count of non-null keys for ``rank``, count of DISTINCT
        keys for ``dense_rank`` (additive because buckets partition the
        value space), plain count with an in-bucket range frame for
        ``cume_count`` (rows with key <= current)."""
        if (
            self.mode != "eval"
            or self.groups
            or self.rowwise
            or self.tibble.df.isStreaming
        ):
            return None
        bucket = self._value_bucket(col, not desc)
        if bucket is None:
            return None
        okey = col.desc_nulls_last() if desc else col.asc_nulls_last()
        w = Window.partitionBy(bucket).orderBy(okey)
        if kind == "rank":
            within = F.rank().over(w)
            aggfn = F.count
        elif kind == "dense_rank":
            within = F.dense_rank().over(w)
            aggfn = F.count_distinct
        elif kind == "cume_count":
            within = F.count(col).over(
                w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
            )
            aggfn = F.count
        elif kind == "row_number":
            # first-appearance tie-break (dplyr row_number): frame
            # order ids — job-local is fine, counts are tie-independent
            keys = [okey]
            if ORDER_COL in self.tibble.df.columns:
                keys.append(F.col(ORDER_COL).asc())
            within = F.row_number().over(
                Window.partitionBy(bucket).orderBy(*keys)
            )
            aggfn = F.count
        else:
            raise ValueError(kind)
        offsets = self._bucket_offsets(bucket, col, aggfn, lambda a, b: a + b)
        if offsets is None:
            return None
        return within + F.coalesce(self._offset_lookup(bucket, offsets), F.lit(0))

    def _two_pass_windows(
        self, order_by: Any
    ) -> tuple[Column, list[Column]] | None:
        """(bucket, window order keys) for the two-pass rewrite, or
        None when only the single-partition window is semantically
        available. Mono-id buckets when the frame order is cross-job
        stable; key-value buckets after an arrange on a plain numeric
        column; None otherwise."""
        if not self._two_pass_core_ok(order_by):
            return None
        if self.tibble.order_stable:
            b = self._order_bucket()
            if b is not None:
                return b, [F.col(ORDER_COL).asc()]
            return None
        kb = self._key_bucket()
        if kb is not None:
            return kb[0], [kb[1], F.col(ORDER_COL).asc()]
        return None

    def _bucket_offsets(self, bucket: Column, value: Column, aggfn, combine):
        """Per-bucket totals -> exclusive prefix combine. Returns
        {bucket_id: offset} (buckets with no prior non-null omitted),
        or None when the bucket count exceeds the literal-map bound.
        The value is PRE-PROJECTED before the groupBy, so it may itself
        be a window expression (e.g. cumsum over a lag-derived change
        flag): the offsets job computes the window first, then
        aggregates — only a direct window-inside-agg is illegal."""
        memo_key = ("offsets", str(bucket), str(value), getattr(aggfn, "__name__", ""))
        return self._job_cache.get_or_make(
            memo_key,
            lambda: self._bucket_offsets_uncached(bucket, value, aggfn, combine),
        )

    def _bucket_offsets_uncached(self, bucket, value, aggfn, combine):
        try:
            rows = (
                self.tibble.df.select(
                    bucket.alias("__b__"), value.alias("__v__")
                )
                .groupBy("__b__")
                .agg(aggfn(F.col("__v__")).alias("__t__"))
                .collect()
            )
        except Exception:
            # value not computable here (exotic expression) -> caller
            # keeps the window form
            return None
        if not rows or len(rows) > self.MAX_TWO_PASS_BUCKETS:
            return None
        offsets: dict[int, Any] = {}
        acc = None
        for r in sorted(rows, key=lambda r: r["__b__"]):
            if acc is not None:
                offsets[r["__b__"]] = acc
            t = r["__t__"]
            if t is not None:
                acc = t if acc is None else combine(acc, t)
        return offsets

    def _offset_lookup(self, bucket: Column, offsets: dict) -> Column:
        pairs = []
        for k, v in offsets.items():
            pairs.extend([F.lit(k), F.lit(v)])
        if not pairs:
            return F.lit(None)
        return F.create_map(*pairs)[bucket]

    def cum_over(self, kind: str, value: Column | None, order_by: Any = None) -> Column:
        """Cumulative aggregate over frame order; two-pass distributed
        rewrite for the ungrouped default-order case, ordinary window
        otherwise. kind: sum|min|max|product|mean|count|all|any."""
        aggs = {
            "sum": (F.sum, lambda a, b: a + b, "sum"),
            "min": (F.min, min, "minmax"),
            "max": (F.max, max, "minmax"),
            "product": (F.product, lambda a, b: a * b, "product"),
            "all": (F.min, lambda a, b: a and b, "minmax"),
            "any": (F.max, lambda a, b: a or b, "minmax"),
            "count": (lambda c: F.count(F.lit(1)), lambda a, b: a + b, "count"),
        }
        frame = (Window.unboundedPreceding, Window.currentRow)

        if kind == "mean":
            s = self.cum_over("sum", value, order_by)
            c_nn = self._cum_nonnull_count(value, order_by)
            return s / c_nn

        aggfn, combine, merge = aggs[kind]
        simple = aggfn(value if value is not None else F.lit(1)).over(
            self.ordered(order_by).rowsBetween(*frame)
        )
        bw = self._two_pass_windows(order_by)
        if bw is None:
            return simple
        bucket, order_cols = bw
        offsets = self._bucket_offsets(
            bucket, value if value is not None else F.lit(1), aggfn, combine
        )
        if offsets is None:
            return simple
        w = Window.partitionBy(bucket).orderBy(*order_cols).rowsBetween(*frame)
        within = aggfn(value if value is not None else F.lit(1)).over(w)
        off = self._offset_lookup(bucket, offsets)
        if merge == "count":
            return within + F.coalesce(off, F.lit(0))
        if merge == "minmax":
            return F.least(within, off) if kind in ("min", "all") else F.greatest(within, off)
        if merge == "product":
            return F.coalesce(within * off, within, off)
        return F.coalesce(within + off, within, off)

    def _cum_nonnull_count(self, value: Column, order_by: Any) -> Column:
        cnt = F.count(value)
        simple = cnt.over(self.ordered(order_by).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        ))
        bw = self._two_pass_windows(order_by)
        if bw is None:
            return simple
        bucket, order_cols = bw
        offsets = self._bucket_offsets(bucket, value, F.count, lambda a, b: a + b)
        if offsets is None:
            return simple
        w = Window.partitionBy(bucket).orderBy(*order_cols).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return cnt.over(w) + F.coalesce(self._offset_lookup(bucket, offsets), F.lit(0))

    def row_number_over(self) -> Column:
        """row_number() in frame order; two-pass when ungrouped."""
        bw = self._two_pass_windows(None)
        if bw is None:
            return F.row_number().over(self.ordered())
        bucket, order_cols = bw
        offsets = self._bucket_offsets(
            bucket, F.lit(1), F.count, lambda a, b: a + b
        )
        if offsets is None:
            return F.row_number().over(self.ordered())
        w = Window.partitionBy(bucket).orderBy(*order_cols)
        return F.row_number().over(w) + F.coalesce(
            self._offset_lookup(bucket, offsets), F.lit(0)
        )

    # largest shift distance rewritten two-pass; the carry map literal
    # holds up to MAX_TWO_PASS_SHIFT values per bucket, so this bounds
    # codegen size (larger n falls back to the global window)
    MAX_TWO_PASS_SHIFT = 32

    def shift_over(
        self,
        value: Column,
        n: int,
        default: Any,
        lead: bool,
        order_by: Any = None,
    ) -> Column:
        """lag/lead over frame order; two-pass distributed rewrite for
        the ungrouped default-order case.

        Pass 1 is a tiny agg job collecting each order-bucket's boundary
        slice (last n rows for lag, first n for lead) plus nothing else;
        the driver stitches per-bucket "carry" arrays (the n nearest
        neighbour values across the bucket edge) and broadcasts them as
        a literal map. Pass 2 shifts WITHIN buckets in parallel and
        patches the n edge rows of each bucket from the carry map — so
        no row ever crosses a single-partition window. Values are
        wrapped in single-field structs inside the carry arrays so a
        genuinely-null neighbour value stays distinguishable from
        out-of-range (which must yield ``default``, matching
        ``F.lag``/``F.lead``)."""
        fn = F.lead if lead else F.lag
        dflt = default if isinstance(default, Column) else F.lit(default)
        simple = fn(value, n, default).over(self.ordered(order_by))
        if n < 1 or n > self.MAX_TWO_PASS_SHIFT:
            return simple
        # mono-id buckets when the frame order is cross-job stable;
        # key-value buckets after arrange on a plain ASCENDING numeric
        # column (the struct-sorted boundary slices below tie-break by
        # mono id in frame direction, which only matches for asc keys)
        bucket = keycol = None
        if self._two_pass_ok(order_by):
            bucket = self._order_bucket()
        elif self._two_pass_core_ok(order_by):
            meta = getattr(self.tibble, "sort_meta", None)
            if meta and meta[1]:
                kb = self._key_bucket()
                if kb is not None:
                    bucket = kb[0]
                    keycol = F.col(meta[0])
        if bucket is None:
            return simple
        df = self.tibble.df
        slice_fields = ([keycol.alias("k")] if keycol is not None else []) + [
            F.col(ORDER_COL).alias("o"),
            value.alias("v"),
        ]
        try:
            dtype = df.select(value.alias("__v__")).schema[0].dataType
            rows = (
                df.groupBy(bucket.alias("__b__"))
                .agg(
                    F.slice(
                        F.sort_array(
                            F.collect_list(F.struct(*slice_fields)),
                            asc=bool(lead),
                        ),
                        1,
                        n,
                    ).alias("__t__")
                )
                .collect()
            )
        except Exception:
            # value not computable in an aggregate (e.g. it nests
            # another window function) -> keep the window form
            return simple
        if not rows or len(rows) > self.MAX_TWO_PASS_BUCKETS:
            return simple
        # walk buckets in neighbour order (ascending for lag: carry
        # flows forward; descending for lead: carry flows backward),
        # keeping the n nearest boundary values, nearest first
        rows.sort(key=lambda r: r["__b__"], reverse=bool(lead))
        carry: dict[int, list] = {}
        acc: list = []
        for r in rows:
            if acc:
                carry[r["__b__"]] = acc[:n]
            vals = [t["v"] for t in r["__t__"]]
            acc = (vals + acc)[:n]
        if keycol is not None:
            fwd = [keycol.asc_nulls_last(), F.col(ORDER_COL).asc()]
            rev = [keycol.desc_nulls_first(), F.col(ORDER_COL).desc()]
        else:
            fwd = [F.col(ORDER_COL).asc()]
            rev = [F.col(ORDER_COL).desc()]
        w_asc = Window.partitionBy(bucket).orderBy(*fwd)
        within = fn(value, n, None).over(w_asc)
        if lead:
            rn_b = F.row_number().over(Window.partitionBy(bucket).orderBy(*rev))
        else:
            rn_b = F.row_number().over(w_asc)
        pairs: list[Column] = []
        for b, vals in carry.items():
            pairs.append(F.lit(b))
            pairs.append(
                F.array(
                    *[
                        F.struct(F.lit(v).cast(dtype).alias("v"))
                        for v in vals
                    ]
                )
            )
        if pairs:
            # edge row r (counted from the bucket boundary) needs the
            # neighbour at distance n-(r-1): carry index n-r, 0-based.
            # F.get returns NULL out of range (never an ANSI error).
            elem = F.get(F.create_map(*pairs)[bucket], F.lit(n) - rn_b)
            boundary = F.when(elem.isNotNull(), elem["v"]).otherwise(dflt)
        else:
            boundary = dflt
        return F.when(rn_b > n, within).otherwise(boundary)

    def roll_over(
        self,
        kind: str,
        value: Column,
        k: int,
        order_by: Any = None,
        min_periods: int | None = None,
    ) -> Column:
        """Trailing k-row rolling aggregate over frame order
        (kind: sum|mean|min|max; NULL values are skipped, like the
        window aggregates they compile to). Rows before the window has
        ``min_periods`` rows (default k) yield NULL — the
        zoo::rollsumr(fill=NA) convention.

        Grouped: one ``rowsBetween(-(k-1), 0)`` window inside the group
        partition. Ungrouped: two-pass distributed — per-bucket rolling
        windows run in parallel, one tiny boundary job collects each
        bucket's last k-1 values plus its row count, and the driver
        broadcasts (a) the previous-bucket tail per bucket (newest
        first) to patch the first k-1 rows and (b) cumulative row
        offsets for the partial-window mask. No single-partition
        exchange."""
        min_p = k if min_periods is None else int(min_periods)
        frame = (-(k - 1), Window.currentRow)
        aggf = {"sum": F.sum, "mean": F.avg, "min": F.min, "max": F.max}[kind]
        ow = self.ordered(order_by)
        simple = F.when(
            F.row_number().over(ow) >= min_p,
            aggf(value).over(ow.rowsBetween(*frame)),
        )
        if k < 2:
            return F.when(
                F.row_number().over(ow) >= min_p, value
            ) if k == 1 else simple
        bw = self._two_pass_windows(order_by)
        if bw is None or k - 1 > self.MAX_TWO_PASS_SHIFT:
            return simple
        bucket, order_cols = bw
        df = self.tibble.df

        def tails():
            try:
                dtype = df.select(value.alias("__v__")).schema[0].dataType
                rows = (
                    df.groupBy(bucket.alias("__b__"))
                    .agg(
                        F.slice(
                            F.sort_array(
                                F.collect_list(
                                    F.struct(
                                        F.col(ORDER_COL).alias("o"),
                                        value.alias("v"),
                                    )
                                ),
                                asc=False,  # newest first
                            ),
                            1,
                            k - 1,
                        ).alias("__t__"),
                        F.count(F.lit(1)).alias("__c__"),
                    )
                    .collect()
                )
            except Exception:
                return None, None
            return rows, dtype

        # one boundary job per (bucket, value, k) — several roll_* items
        # in the same mutate (sum + mean of one column) share it
        rows, dtype = self._job_cache.get_or_make(
            ("roll_bounds", str(bucket), str(value), k), tails
        )
        if not rows or len(rows) > self.MAX_TWO_PASS_BUCKETS:
            return simple
        rows = sorted(rows, key=lambda r: r["__b__"])
        # prev-tail per bucket (newest first) + cumulative row offsets
        carry: dict[int, list] = {}
        offsets: dict[int, int] = {}
        acc: list = []
        total = 0
        for r in rows:
            if acc:
                carry[r["__b__"]] = acc[: k - 1]
            offsets[r["__b__"]] = total
            total += r["__c__"]
            acc = ([t["v"] for t in r["__t__"]] + acc)[: k - 1]
        w_b = Window.partitionBy(bucket).orderBy(*order_cols)
        rn_b = F.row_number().over(w_b)
        off_pairs = [F.lit(v) for kv in offsets.items() for v in kv]
        rn_global = rn_b + F.coalesce(
            F.create_map(*off_pairs)[bucket], F.lit(0)
        )
        need = F.greatest(F.lit(k) - rn_b, F.lit(0))
        arr_type = f"array<{dtype.simpleString()}>"
        carry_pairs: list[Column] = []
        for b, vals in carry.items():
            carry_pairs.append(F.lit(b))
            # one list literal per bucket (per-element F.lit would cost
            # buckets*k py4j round-trips at plan build)
            carry_pairs.append(F.lit(list(vals)).cast(arr_type))
        if carry_pairs:
            tail = F.coalesce(
                F.create_map(*carry_pairs)[bucket], F.array().cast(arr_type)
            )
        else:
            tail = F.array().cast(arr_type)
        borrowed = F.filter(
            F.slice(tail, F.lit(1), need), lambda x: x.isNotNull()
        )
        b_cnt = F.size(borrowed)
        zero = F.lit(0).cast(dtype)
        b_sum = F.when(
            b_cnt > 0, F.aggregate(borrowed, zero, lambda a, x: a + x)
        )
        if kind in ("sum", "mean"):
            w_sum = F.sum(value).over(w_b.rowsBetween(*frame))
            w_cnt = F.count(value).over(w_b.rowsBetween(*frame))
            tot_sum = F.when(
                w_sum.isNotNull() | b_sum.isNotNull(),
                F.coalesce(w_sum, zero) + F.coalesce(b_sum, zero),
            )
            if kind == "sum":
                combined = tot_sum
            else:
                tot_cnt = w_cnt + b_cnt
                combined = F.when(tot_cnt > 0, tot_sum / tot_cnt)
        else:
            b_ext = F.array_min(borrowed) if kind == "min" else F.array_max(borrowed)
            w_ext = aggf(value).over(w_b.rowsBetween(*frame))
            combined = (
                F.least(w_ext, b_ext) if kind == "min" else F.greatest(w_ext, b_ext)
            )
        return F.when(rn_global >= min_p, combined)

    def ntile_over(self, nval: int) -> Column:
        """ntile() in frame order; built from the two-pass row_number
        plus one eagerly-computed total count when ungrouped (Spark's
        semantics: first ``N % n`` tiles get one extra row)."""
        if self._two_pass_windows(None) is None:
            return F.ntile(nval).over(self.ordered())
        rn = self.row_number_over()
        total = self._job_cache.get_or_make(("nrow",), self.tibble.df.count)
        base, rem = divmod(total, nval)
        cut = rem * (base + 1)
        tile = F.when(
            rn <= F.lit(cut), F.ceil(rn / F.lit(base + 1))
        ).otherwise(F.lit(rem) + F.ceil((rn - F.lit(cut)) / F.lit(max(base, 1))))
        return tile.cast("int")


def eval_expr(node: Any, ctx: EvalContext) -> Any:
    if isinstance(node, Ref):
        name = node._name
        if name in ctx.local_names:
            return ctx.local_names[name]
        return F.col(name)
    if isinstance(node, BinOp):
        left = eval_expr(node._left, ctx)
        right = eval_expr(node._right, ctx)
        if node._op == "//":
            return F.floor(_as_col(left) / _as_col(right)).cast("long")
        if node._op == "%" and (isinstance(left, Column) or isinstance(right, Column)):
            # R modulo: a - floor(a/b)*b (result takes the DIVISOR's
            # sign; Spark's % is C-style truncation toward zero)
            a, b = _as_col(left), _as_col(right)
            return a - F.floor(a / b) * b
        if node._op in ("&", "|") and not isinstance(left, Column) and not isinstance(right, Column):
            return BIN_IMPL[node._op](bool(left), bool(right))
        if not isinstance(left, Column) and not isinstance(right, Column):
            return BIN_IMPL[node._op](left, right)
        return BIN_IMPL[node._op](left, right)
    if isinstance(node, UnaryOp):
        val = eval_expr(node._operand, ctx)
        if node._op == "~":
            return ~_as_col(val) if isinstance(val, Column) else (not val)
        return -val
    if isinstance(node, Call):
        from ..functions.registry import dispatch

        return dispatch(node._fname, ctx, node._args, node._kwargs)
    if isinstance(node, Desc):
        inner = eval_expr(node._operand, ctx)
        return _as_col(inner).desc()
    return node  # plain literal (int/str/list/Column/...)


def _as_col(x: Any) -> Column:
    return x if isinstance(x, Column) else F.lit(x)
