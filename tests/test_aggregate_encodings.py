"""Exact n_distinct / quantile encodings (functions/aggregates.py).

n_distinct compiles to ``size(collect_set(x)) + max(x IS NULL)`` for one
column and to ``count(DISTINCT struct(...))`` for several, so no Spark
multi-distinct ``Expand`` appears and NA needs no string sentinel.
median/quantile calls on one argument within a summarise share one
``percentile(x, array(p, ...))`` buffer."""

from __future__ import annotations

import math
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from datar_polars_spark import f, filter_, group_by, mutate, rowwise, summarise, tibble
from datar_polars_spark.functions import c_across, median, n_distinct, quantile
from datar_polars_spark.tibble import ensure_tibble


def _plan(td) -> str:
    return ensure_tibble(td).df._jdf.queryExecution().executedPlan().toString()


class TestNDistinctValues:
    def test_string_equal_to_old_sentinel_is_not_na(self, spark):
        td = tibble(spark, x=["\x00NA", None])
        assert (td >> summarise(n=n_distinct(f.x))).df.first()["n"] == 2

    def test_negative_zero_is_zero(self, spark):
        td = tibble(spark, x=[0.0, -0.0, None])
        out = td >> summarise(n=n_distinct(f.x), r=n_distinct(f.x, na_rm=True))
        assert out.df.collect()[0].asDict() == {"n": 2, "r": 1}

    def test_na_rm_drops_rows_with_any_na_over_several_columns(self, spark):
        td = tibble(spark, a=[1, 1, None, 1], b=[None, 2, 2, 2])
        out = td >> summarise(
            n=n_distinct(f.a, f.b), r=n_distinct(f.a, f.b, na_rm=True)
        )
        assert out.df.collect()[0].asDict() == {"n": 3, "r": 1}

    def test_nan_of_any_float_expression_is_na(self, spark):
        td = tibble(spark, x=[0.0, 0.0, 1.0], y=[float("nan"), None, 2.0])
        out = td >> summarise(
            e=n_distinct(f.x * math.inf),  # 0*inf = NaN twice, inf once
            ny=n_distinct(f.y),
            s=n_distinct(f.x, f.y * 1.0),
        )
        assert out.df.collect()[0].asDict() == {"e": 2, "ny": 2, "s": 2}

    def test_empty_global_summarise_counts_zero(self, spark):
        td = tibble(spark, x=[1.0]) >> filter_(f.x > 5)
        out = td >> summarise(n=n_distinct(f.x), r=n_distinct(f.x, na_rm=True))
        assert out.df.collect()[0].asDict() == {"n": 0, "r": 0}
        assert dict(out.df.dtypes)["n"] == "bigint"


class TestPlanShapes:
    @pytest.fixture
    def sf(self, tmp_path):
        """A two-row lineitem with the columns q19 and q20 read."""
        pq.write_table(
            pa.table({
                "l_partkey": [1, 2], "l_suppkey": [1, 2],
                "l_extendedprice": [1.0, 2.0], "l_returnflag": ["A", "N"],
            }),
            tmp_path / "lineitem.parquet",
        )
        return str(tmp_path)

    def test_q19_one_percentile_buffer_per_column(self, spark, sf):
        plan = _plan(entry_mod.q19_quantiles(spark, sf))
        aggs = [line for line in plan.splitlines() if "Aggregate(" in line]
        assert aggs
        for line in aggs:
            assert len(re.findall(r"percentile\(", line)) == 1, line

    def test_q20_no_expand_no_string_cast(self, spark, sf):
        plan = _plan(entry_mod.q20_n_distinct(spark, sf))
        assert "Expand" not in plan
        assert not re.search(r"cast\([^)]* as string\)", plan, re.I), plan

    def test_na_rm_variants_share_one_buffer(self, spark):
        td = tibble(spark, x=[1.0, 2.0]) >> summarise(
            a=median(f.x), b=quantile(f.x, 0.9, na_rm=True), c=quantile(f.x, probs=0.1)
        )
        final = [l for l in _plan(td).splitlines() if "Aggregate(" in l][0]
        assert final.count("percentile(") == 1
        assert "[0.5,0.9,0.1]" in final


def test_fused_quantiles_equal_unfused_percentiles(spark):
    """Scalar probs with na_rm False and True, next to vector probs, equal
    one plain percentile(x, p) per prob with the NA guard spelled out."""
    td = tibble(
        spark,
        g=["a"] * 5 + ["b"] * 4,
        x=[1.0, 5.0, 2.0, 9.0, 4.0, 10.0, None, 30.0, 20.0],
    )
    probs = [0.5, 0.25, 0.9]
    out = td >> group_by(f.g) >> summarise(
        v=quantile(f.x, [0.25, 0.9], na_rm=True),
        m=median(f.x), q1=quantile(f.x, 0.25), q9=quantile(f.x, probs=0.9),
        rm=median(f.x, na_rm=True), rq1=quantile(f.x, 0.25, na_rm=True),
        rq9=quantile(f.x, probs=0.9, na_rm=True),
    )
    x = F.col("x")
    has_na = F.max(x.isNull().cast("int")) == 1
    want = {
        r["g"]: r
        for r in td.df.groupBy("g").agg(
            *[F.percentile(x, F.lit(p)).alias(f"p{p}") for p in probs],
            *[F.when(has_na, None).otherwise(F.percentile(x, F.lit(p))).alias(f"n{p}")
              for p in probs],
        ).collect()
    }
    got = sorted(tuple(r) for r in out.df.select(*out.columns).collect())
    assert got == sorted(
        (g, w[f"p{v}"], w["n0.5"], w["n0.25"], w["n0.9"], w["p0.5"], w["p0.25"], w["p0.9"])
        for g, w in want.items()
        for v in (0.25, 0.9)
    )


class TestOtherContexts:
    def test_grouped_mutate_and_filter(self, spark):
        td = tibble(spark, g=[1, 1, 1, 2], x=[1.0, None, 3.0, 3.0]) >> group_by(f.g)
        out = td >> mutate(n=n_distinct(f.x), m=median(f.x, na_rm=True))
        got = sorted((r["g"], r["n"], r["m"]) for r in out.df.collect())
        assert got == [(1, 3, 2.0)] * 3 + [(2, 1, 3.0)]
        kept = td >> filter_(n_distinct(f.x) > 1, median(f.x, na_rm=True) > 1)
        assert sorted(r["g"] for r in kept.df.collect()) == [1, 1, 1]

    def test_rowwise_over_c_across(self, spark):
        td = tibble(spark, a=[1.0, 2.0, None], b=[1.0, 3.0, 4.0], c=[2.0, 3.0, None])
        out = td >> rowwise() >> mutate(
            n=n_distinct(c_across([f.a, f.b, f.c])),
            r=n_distinct(c_across([f.a, f.b, f.c]), na_rm=True),
            m=median(c_across([f.a, f.b, f.c]), na_rm=True),
        )
        got = [(r["n"], r["r"], r["m"]) for r in out.df.orderBy("b").collect()]
        assert got == [(2, 2, 1.0), (2, 2, 3.0), (2, 1, 4.0)]
