"""Skew and partition diagnostics — operability tools for the 100 TB
deployment recipes in README ("Known-skewed keys", shuffle sizing).

Everything here is one distributed aggregation (map-side combine, tiny
result) — safe to run against a full-scale table before committing to a
join strategy. Reference parity: the reference engine is single-node and
has no analogue (cited for absence: pwwang/datar-polars has no skew
tooling); these exist because distributed joins/aggs need them.
"""

from __future__ import annotations

import math
import re
from typing import Any

from pyspark.sql import functions as F

from ..tibble import Tibble, ensure_tibble

__all__ = [
    "key_skew",
    "skew_report",
    "partition_sizes",
    "plan_lint",
    "scan_stats",
]


def _names_of(td: Tibble, keys) -> list[str]:
    from .similarity import _name_of

    return [_name_of(k) for k in keys]


def key_skew(td: Any, *keys, n: int = 20) -> Tibble:
    """Top-``n`` heaviest key values with row counts and corpus
    fraction. One groupBy + global top-n (``TakeOrderedAndProject`` —
    no full sort, no collect of the key space)."""
    td = ensure_tibble(td)
    cols = _names_of(td, keys)
    counts = td.df.groupBy(*cols).agg(F.count(F.lit(1)).alias("n"))
    # fraction needs the total; it's one scalar — cross-join the 1-row
    # agg back as a broadcast rather than a global window funnel
    tot = counts.agg(F.sum("n").alias("__tot__"))
    out = (
        counts.crossJoin(F.broadcast(tot))
        .select(*cols, "n", (F.col("n") / F.col("__tot__")).alias("fraction"))
        .orderBy(F.desc("n"), *cols)
        .limit(n)
    )
    return Tibble(out)


def skew_report(
    td: Any,
    *keys,
    hot_fraction: float = 0.001,
    broadcast_max_keys: int = 1_000_000,
) -> dict:
    """Summarize key-distribution skew and recommend a join strategy.

    Returns a plain dict (driver-sized):
      rows, distinct_keys, max_key_rows, mean_key_rows, p50_key_rows,
      skew_ratio (max/mean), hot_keys (count holding > hot_fraction of
      rows), recommendation ('broadcast' | 'aqe' | 'salted_join'),
      suggested_salt (for 'salted_join', else None).

    Decision rule (matches the README recipes):
      - tiny distinct key space (< 1e6) on the OTHER side of a join
        usually means broadcast that side;
      - skew_ratio <= 8: AQE's skew-join split handles it — do nothing;
      - beyond that: salted_join with salt ~ max/p50 (clamped 8..64).
    All from ONE aggregation pass over (key -> count)."""
    td = ensure_tibble(td)
    cols = _names_of(td, keys)
    counts = td.df.groupBy(*cols).agg(F.count(F.lit(1)).alias("n"))
    stats = counts.agg(
        F.sum("n").alias("rows"),
        F.count(F.lit(1)).alias("distinct_keys"),
        F.max("n").alias("max_key_rows"),
        F.mean("n").alias("mean_key_rows"),
        F.expr("percentile_approx(n, 0.5)").alias("p50_key_rows"),
    ).first()
    rows = stats["rows"] or 0
    hot = counts.filter(F.col("n") > rows * hot_fraction).count() if rows else 0
    mx = stats["max_key_rows"] or 0
    mean = stats["mean_key_rows"] or 0.0
    p50 = stats["p50_key_rows"] or 1
    ratio = (mx / mean) if mean else 0.0
    if stats["distinct_keys"] is not None and stats["distinct_keys"] < broadcast_max_keys:
        rec, salt = "broadcast", None
    elif ratio <= 8:
        rec, salt = "aqe", None
    else:
        rec = "salted_join"
        salt = max(8, min(64, math.ceil(mx / max(p50, 1))))
    return {
        "rows": rows,
        "distinct_keys": stats["distinct_keys"],
        "max_key_rows": mx,
        "mean_key_rows": float(mean),
        "p50_key_rows": p50,
        "skew_ratio": float(ratio),
        "hot_keys": hot,
        "recommendation": rec,
        "suggested_salt": salt,
    }


def partition_sizes(td: Any) -> Tibble:
    """Rows per PHYSICAL partition (spark_partition_id groupBy — a
    distributed agg, not a driver loop). Use to validate
    spark.sql.files.maxPartitionBytes / shuffle sizing choices: a
    healthy plan shows near-uniform counts; one giant partition means
    a skewed key or a single-task funnel upstream."""
    td = ensure_tibble(td)
    out = (
        td.df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("partition_id")
    )
    return Tibble(out)


def _feeds_sketch(lines: list[str], i: int) -> bool:
    """True when the nearest aggregate above plan line ``i`` (tree-string
    ancestors: the closest earlier lines at a smaller depth) holds an
    approx_count_distinct / percentile buffer."""
    def depth(line: str) -> int:
        return len(re.match(r"[ :+-]*", line).group(0))

    d = depth(lines[i])
    for up in reversed(lines[:i]):
        if depth(up) >= d:
            continue
        if "Aggregate(" in up:
            return bool(re.search(r"(approx_count_distinct|percentile(_approx)?)\(", up))
        d = depth(up)
    return False


def plan_lint(td: Any) -> list[dict]:
    """Static lint of a frame's PHYSICAL plan for distributed-scale
    antipatterns — run before launching a job against a full-scale
    table. Pure plan-text analysis: no Spark job, no data read.

    Findings (list of {rule, severity, detail}), ordered most severe
    first:

    - ``cartesian-product`` (error): CartesianProduct / unconditioned
      BroadcastNestedLoopJoin — O(n*m) row explosion.
    - ``single-partition-exchange`` (error): an Exchange SinglePartition
      below further processing funnels the whole table through one task
      (a final 1-row aggregate is fine and not flagged).
    - ``python-row-udf`` (warn): BatchEvalPython — row-at-a-time Python
      in the executor loop (Arrow/pandas UDFs show as ArrowEvalPython /
      FlatMapGroupsInPandas and are not flagged).
    - ``sketch-in-expand`` (warn): the ``Expand`` of Spark's
      multi-distinct rewrite (several ``count(DISTINCT)`` over different
      columns) feeds an aggregate carrying an ``approx_count_distinct``
      or ``percentile`` buffer — that aggregate is keyed by every
      distinct value of every counted column, so each key carries its
      own sketch/percentile buffer. Cube/rollup ``Expand`` nodes are
      not flagged.
    - ``unpushed-filter`` (warn): a parquet scan whose Filter parent
      pushed nothing down (``PushedFilters: []`` with a Filter above) —
      the scan reads every row group.
    - ``wide-scan`` (info): a scan reading 20+ columns — check that the
      projection is really needed (column pruning failures look like
      this).
    - ``global-sort`` (info): a rangepartitioning Exchange — a total
      order over the full table; fine for final output, expensive as an
      intermediate step.
    """
    td = ensure_tibble(td)
    plan = td.df._jdf.queryExecution().executedPlan().toString()
    findings: list[dict] = []

    def add(rule: str, severity: str, detail: str) -> None:
        findings.append({"rule": rule, "severity": severity, "detail": detail})

    if "CartesianProduct" in plan:
        add("cartesian-product", "error",
            "CartesianProduct node: O(n*m) join with no key")
    for line in plan.splitlines():
        s = line.strip()
        if s.startswith(("+- BroadcastNestedLoopJoin", ":- BroadcastNestedLoopJoin")) \
                and "Cross" in s and "Inner" not in s:
            # cross BNLJ against a 1-row broadcast (global-scalar
            # pattern) is fine; against anything bigger it explodes —
            # flag as warn since size isn't statically knowable
            add("broadcast-nested-loop-cross", "warn",
                "BroadcastNestedLoopJoin Cross: verify the broadcast "
                "side is tiny (1-row scalar joins are fine)")
            break
    # SinglePartition exchanges are a whole-table funnel UNLESS the
    # exchange's input is an ungrouped partial aggregate: the canonical
    # scalar-reduction shape (partial agg map-side -> exchange of ONE
    # row per partition -> final agg) moves O(partitions) rows, not the
    # table, and is fine at any scale. Everything else (a sort, a
    # window, a raw scan under SinglePartition) funnels real data.
    lines = plan.splitlines()
    bad_sp = 0
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        scalar_reduction = False
        for child in lines[i + 1 : i + 4]:
            # an ungrouped aggregate below the exchange emits <=1 row
            # per input partition, so the exchange moves O(partitions)
            # rows. "partial_" marks the normal scalar reduction;
            # "functions=[]" is the column-pruned degenerate form (a
            # pruned scalar crossJoin leaves keys=[] functions=[]
            # output=[] — same <=1-row-per-partition property, no
            # partial_ marker to match on).
            if "Aggregate" in child and "keys=[]" in child and (
                "partial_" in child or "functions=[]" in child
            ):
                scalar_reduction = True
                break
        if not scalar_reduction:
            bad_sp += 1
    if bad_sp:
        add("single-partition-exchange", "error",
            f"{bad_sp} SinglePartition exchange(s) funneling "
            "non-aggregated data through one task")
    if "BatchEvalPython" in plan:
        add("python-row-udf", "warn",
            "BatchEvalPython: row-at-a-time Python UDF in the hot path "
            "(use pandas_udf / built-in functions)")
    # the multi-distinct rewrite's Expand emits a `gid` column (cube and
    # rollup emit `spark_grouping_id`)
    if any(
        "Expand [" in line and re.search(r"\bgid#", line) and _feeds_sketch(lines, i)
        for i, line in enumerate(lines)
    ):
        add("sketch-in-expand", "warn",
            "Expand (multi-distinct rewrite) feeds an aggregate holding a "
            "sketch/percentile buffer per distinct key: count each column "
            "with n_distinct (single-buffer collect_set) instead")
    for scan in re.finditer(r"PushedFilters: \[(.*?)\]", plan):
        if scan.group(1).strip() == "" and "Filter" in plan[: scan.start()]:
            add("unpushed-filter", "warn",
                "parquet scan with empty PushedFilters below a Filter: "
                "predicate did not reach the scan")
            break
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        ncols = m.group(1).count(",") + 1 if m.group(1) else 0
        if ncols >= 20:
            add("wide-scan", "info",
                f"scan reads {ncols} columns — verify the projection")
            break
    if "Exchange rangepartitioning" in plan:
        add("global-sort", "info",
            "rangepartitioning Exchange: total order over the table "
            "(fine for final output, expensive mid-plan)")
    sev_rank = {"error": 0, "warn": 1, "info": 2}
    findings.sort(key=lambda d: sev_rank[d["severity"]])
    return findings


def scan_stats(path: str) -> dict:
    """Table statistics from parquet FILE FOOTERS only — pure driver
    metadata reads, zero Spark jobs, safe against a 100 TB table.

    The pre-flight planning numbers every sizing decision needs:

    - ``rows`` / ``files`` / ``row_groups`` / ``bytes_compressed`` /
      ``bytes_uncompressed`` — size ``spark.sql.files.maxPartitionBytes``
      and ``shuffle.partitions`` from these, not from guesses;
    - ``file_row_spread`` — (min, max) rows per file: a wildly uneven
      layout means stragglers before any query runs;
    - per-column ``min`` / ``max`` / ``null_count`` / ``bytes`` and
      ``has_stats`` — a column without footer min/max can never prune
      (re-write with ``write_clustered``/``write_zordered``), and
      ``(max - min + 1)`` is the same distinct-count upper bound the
      grouped-agg broadcast probe uses.

    Returns a plain dict (JSON-able)."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    if _os.path.isdir(path):
        files = sorted(_glob.glob(_os.path.join(path, "*.parquet")))
    else:
        files = [path]
    if not files:
        raise ValueError(f"scan_stats: no parquet files under {path!r}")

    total_rows = 0
    total_rg = 0
    comp = 0
    uncomp = 0
    file_rows: list[int] = []
    cols: dict[str, dict] = {}
    for fp in files:
        md = _pq.ParquetFile(fp).metadata
        total_rows += md.num_rows
        total_rg += md.num_row_groups
        file_rows.append(md.num_rows)
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        for i, name in enumerate(names):
            c = cols.setdefault(
                name,
                {
                    "min": None,
                    "max": None,
                    "null_count": 0,
                    "bytes": 0,
                    "has_stats": True,
                },
            )
            for rg in range(md.num_row_groups):
                cc = md.row_group(rg).column(i)
                comp += cc.total_compressed_size
                uncomp += cc.total_uncompressed_size
                c["bytes"] += cc.total_compressed_size
                st = cc.statistics
                if st is None or not st.has_min_max:
                    c["has_stats"] = False
                    continue
                mn, mx = st.min, st.max
                try:
                    c["min"] = mn if c["min"] is None else min(c["min"], mn)
                    c["max"] = mx if c["max"] is None else max(c["max"], mx)
                except TypeError:
                    c["has_stats"] = False
                if st.null_count is not None:
                    c["null_count"] += st.null_count
    return {
        "files": len(files),
        "rows": total_rows,
        "row_groups": total_rg,
        "bytes_compressed": comp,
        "bytes_uncompressed": uncomp,
        "file_row_spread": (min(file_rows), max(file_rows)),
        "columns": cols,
    }
