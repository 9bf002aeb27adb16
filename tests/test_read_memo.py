"""r14 plan-build memos, held per SparkContext in plans.cache: the
read_parquet lazy-PLAN memo ("read_parquet") and the semanticHash-keyed
footer-bound memo ("plan_bound").

Both are METADATA memos: no rows or results are ever cached — every
action still computes from the parquet files. The load-bearing property
tested here is therefore twofold: (a) an unchanged path reuses the
first read's lazy plan (no per-read re-list + schema re-inference), and
(b) ANY change to the path's file set — overwrite, append, partitioned
append — invalidates the memo, so results can never go stale within a
session."""

from __future__ import annotations

import pandas as pd
import pytest

from datar_polars_spark import sources
from datar_polars_spark.plans.cache import context_memo
from datar_polars_spark.sources import read_parquet, write_parquet
from datar_polars_spark.tibble import Tibble


def _write(spark, path, n, partition_by=None):
    df = spark.createDataFrame(
        pd.DataFrame({"k": [i % 3 for i in range(n)], "x": list(range(n))})
    )
    write_parquet(Tibble(df), str(path), partition_by=partition_by)


def test_unchanged_path_reuses_lazy_plan(spark, tmp_path):
    p = tmp_path / "t"
    _write(spark, p, 5)
    a = read_parquet(spark, str(p))
    b = read_parquet(spark, str(p))
    # same underlying JVM DataFrame: the plan was built once
    assert a.df._jdf.equals(b.df._jdf)
    assert b.df.count() == 5


def test_overwrite_invalidates_memo(spark, tmp_path):
    p = tmp_path / "t"
    _write(spark, p, 5)
    assert read_parquet(spark, str(p)).df.count() == 5
    _write(spark, p, 8)  # new part files, new _SUCCESS
    assert read_parquet(spark, str(p)).df.count() == 8


def test_partitioned_append_invalidates_memo(spark, tmp_path):
    """Partitioned dirs have NO top-level part files; the signature
    leans on the _SUCCESS marker Spark rewrites on every committed
    write (append included)."""
    p = tmp_path / "t"
    _write(spark, p, 6, partition_by="k")
    assert read_parquet(spark, str(p)).df.count() == 6
    df = spark.createDataFrame(pd.DataFrame({"k": [7, 7], "x": [100, 101]}))
    df.write.mode("append").partitionBy("k").parquet(str(p))
    assert read_parquet(spark, str(p)).df.count() == 8


def test_raw_file_append_into_partition_dir_invalidates_memo(
    spark, tmp_path
):
    """r15: a NON-Spark writer dropping a parquet file into a partition
    subdirectory does not touch _SUCCESS; the recursive signature must
    still catch it (the r14 top-level scandir did not)."""
    import glob
    import shutil

    p = tmp_path / "t"
    _write(spark, p, 6, partition_by="k")
    assert read_parquet(spark, str(p)).df.count() == 6
    part = sorted(glob.glob(str(p / "k=1" / "*.parquet")))[0]
    shutil.copy(part, part.replace(".parquet", "-rawcopy.parquet"))
    # _SUCCESS untouched; the duplicate rows must be visible
    assert read_parquet(spark, str(p)).df.count() > 6


def test_memo_bounded(spark, tmp_path):
    memo = context_memo("read_parquet", sources._READ_MEMO_SIZE)
    start = len(memo)
    for i in range(3):
        _write(spark, tmp_path / f"m{i}", 2)
        read_parquet(spark, str(tmp_path / f"m{i}"))
    assert memo is context_memo("read_parquet", sources._READ_MEMO_SIZE)
    assert len(memo) <= sources._READ_MEMO_SIZE
    assert len(memo) >= min(start + 3, sources._READ_MEMO_SIZE)


def test_footer_bound_walk_runs_once_per_plan(spark, tmp_path, monkeypatch):
    """Rebuilding the SAME grouped-aggregate plan (the steady-state
    pipeline-template case) must hit the semanticHash memo instead of
    re-running the ~140-round-trip per-attribute plan walk; a rewrite
    of the underlying files (new file set) must miss and re-walk."""
    from datar_polars_spark import f, group_by, mutate
    from datar_polars_spark.functions import mean
    from datar_polars_spark.plans import context as ctx

    p = tmp_path / "t"
    _write(spark, p, 50)

    calls = []
    real = ctx.EvalContext._footer_group_bound_walk

    def counting(self, jplan, files):
        calls.append(1)
        return real(self, jplan, files)

    monkeypatch.setattr(ctx.EvalContext, "_footer_group_bound_walk", counting)

    def build():
        td = read_parquet(spark, str(p)) >> group_by(f.k)
        return td >> mutate(dev=f.x - mean(f.x, na_rm=True))

    out1 = build()
    n1 = len(calls)
    assert n1 >= 1  # the walk ran for the first build
    out2 = build()
    assert len(calls) == n1  # memo hit: no second walk
    # identical results either way (the memo only skips plan analysis)
    assert sorted(r["dev"] for r in out1.df.collect()) == sorted(
        r["dev"] for r in out2.df.collect()
    )
    # a rewrite changes the file set: the memo must miss and re-walk
    _write(spark, p, 50)
    build()
    assert len(calls) > n1


def test_rewritten_file_refreshes_footer_bound(spark, tmp_path):
    """Both bound memos key on the file-set signature (name, mtime_ns,
    size): rewriting a file under the same name must not serve the old
    footer bound. Here the old bound (10 groups) would keep a forced
    broadcast hint on an aggregate side whose keys now span 2,000,000
    values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datar_polars_spark import f, group_by, mutate
    from datar_polars_spark.functions import mean

    p = str(tmp_path / "t.parquet")

    def hinted(keys):
        pq.write_table(
            pa.table({"k": pa.array(keys, pa.int64()),
                      "x": [1.0] * len(keys)}),
            p,
        )
        td = read_parquet(spark, p) >> group_by(f.k)
        out = td >> mutate(m=mean(f.x))
        plan = out.df._jdf.queryExecution().analyzed().toString()
        return "strategy=broadcast" in plan

    assert hinted(list(range(10)))
    assert not hinted([0, 1_999_999])
