"""Skew/partition diagnostics (scale/diagnostics.py)."""

import re

from datar_polars_spark import f, read_parquet, tibble
from datar_polars_spark.scale import key_skew, skew_report, partition_sizes

SF = "/root/testdata/sf0.001"


def test_key_skew_top_n(spark):
    td = tibble(spark, k=["a"] * 7 + ["b"] * 2 + ["c"])
    out = key_skew(td, f.k, n=2).collect()
    assert list(out["k"]) == ["a", "b"]
    assert list(out["n"]) == [7, 2]
    assert abs(out["fraction"][0] - 0.7) < 1e-9


def test_key_skew_no_global_sort_funnel(spark):
    """Top-n must compile to TakeOrderedAndProject, not a global sort."""
    td = read_parquet(spark, f"{SF}/lineitem.parquet")
    plan = key_skew(td, f.l_suppkey, n=5).df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert not re.search(r"Sort .*SinglePartition", plan)


def test_skew_report_broadcast_recommendation(spark):
    """Tiny key space -> 'broadcast' and consistent summary stats."""
    td = read_parquet(spark, f"{SF}/lineitem.parquet")
    rep = skew_report(td, f.l_returnflag)
    assert rep["recommendation"] == "broadcast"
    assert rep["distinct_keys"] == 3
    assert rep["rows"] == td.df.count()
    assert rep["max_key_rows"] >= rep["p50_key_rows"]
    assert rep["skew_ratio"] >= 1.0


def test_skew_report_salt_and_aqe_recommendations(spark):
    """Past the broadcast cutoff the ratio rule decides: a mega-hot key
    -> salted_join with a clamped salt ~ max/p50; near-uniform keys ->
    leave it to AQE."""
    # 200 distinct keys, one holding ~half the rows
    ks = ["hot"] * 1000 + [f"k{i}" for i in range(199)] * 5
    skewed = skew_report(tibble(spark, k=ks), f.k, broadcast_max_keys=10)
    assert skewed["recommendation"] == "salted_join"
    assert skewed["skew_ratio"] > 8
    assert 8 <= skewed["suggested_salt"] <= 64
    assert skewed["hot_keys"] >= 1

    uniform = skew_report(
        tibble(spark, k=[f"k{i}" for i in range(100)] * 10), f.k,
        broadcast_max_keys=10,
    )
    assert uniform["recommendation"] == "aqe"
    assert uniform["suggested_salt"] is None


def test_partition_sizes_sums_to_total(spark):
    td = read_parquet(spark, f"{SF}/orders.parquet")
    out = partition_sizes(td).collect()
    assert out["n"].sum() == td.df.count()
    assert (out["n"] > 0).all()


class TestPlanLint:
    def test_clean_plan_has_no_errors(self, spark):
        from datar_polars_spark import f, filter_, read_parquet, select
        from datar_polars_spark.scale import plan_lint

        td = (
            read_parquet(spark, "/root/testdata/sf0.001/lineitem.parquet")
            >> filter_(f.l_quantity > 40)
            >> select(f.l_orderkey, f.l_quantity)
        )
        findings = plan_lint(td)
        assert not [x for x in findings if x["severity"] == "error"], findings

    def test_flags_cartesian(self, spark):
        from datar_polars_spark import read_parquet
        from datar_polars_spark.scale import plan_lint
        from datar_polars_spark.tibble import Tibble

        a = read_parquet(spark, "/root/testdata/sf0.001/orders.parquet").df
        b = read_parquet(spark, "/root/testdata/sf0.001/customer.parquet").df
        td = Tibble(a.crossJoin(b))
        rules = {x["rule"] for x in plan_lint(td)}
        assert "cartesian-product" in rules or "broadcast-nested-loop-cross" in rules

    def test_flags_row_udf(self, spark):
        from pyspark.sql.functions import udf
        from pyspark.sql.types import DoubleType

        from datar_polars_spark import read_parquet
        from datar_polars_spark.scale import plan_lint
        from datar_polars_spark.tibble import Tibble

        slow = udf(lambda x: x * 2.0, DoubleType())
        df = read_parquet(spark, "/root/testdata/sf0.001/orders.parquet").df
        td = Tibble(df.withColumn("y", slow(df.o_totalprice)))
        rules = {x["rule"] for x in plan_lint(td)}
        assert "python-row-udf" in rules

    def test_flags_global_sort_as_info(self, spark):
        from datar_polars_spark import arrange, f, read_parquet
        from datar_polars_spark.scale import plan_lint

        td = read_parquet(spark, "/root/testdata/sf0.001/orders.parquet") >> arrange(
            f.o_totalprice
        )
        hits = [x for x in plan_lint(td) if x["rule"] == "global-sort"]
        assert hits and hits[0]["severity"] == "info"

    def test_flags_sketch_in_expand(self, spark):
        from pyspark.sql import functions as F

        from datar_polars_spark.scale import plan_lint
        from datar_polars_spark.tibble import Tibble

        df = spark.range(20).select(
            (F.col("id") % 2).alias("g"), (F.col("id") % 3).alias("a"),
            (F.col("id") % 5).alias("b"),
        )
        two_distinct = df.groupBy("g").agg(F.count_distinct("a"), F.count_distinct("b"))
        with_sketch = df.groupBy("g").agg(
            F.count_distinct("a"), F.count_distinct("b"), F.approx_count_distinct("a")
        )
        cube = df.cube("g", "a").agg(F.approx_count_distinct("b"))

        def rules(d):
            return {x["rule"]: x["severity"] for x in plan_lint(Tibble(d))}

        assert rules(with_sketch).get("sketch-in-expand") == "warn"
        assert "sketch-in-expand" not in rules(two_distinct)
        assert "sketch-in-expand" not in rules(cube)

    def test_no_spark_job(self, spark):
        from datar_polars_spark import f, group_by, mutate, read_parquet
        from datar_polars_spark.functions import mean
        from datar_polars_spark.scale import plan_lint

        td = read_parquet(spark, "/root/testdata/sf0.001/orders.parquet")
        tracker = spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup(None) or [])
        plan_lint(td)
        after = set(tracker.getJobIdsForGroup(None) or [])
        assert after == before
