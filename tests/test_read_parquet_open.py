"""Opening a parquet table without a Spark job.

``read_parquet`` takes its schema from one driver-side footer read of
the file Spark's own inference would read (``sources._open_parquet``)
instead of ``spark.read.parquet(path)``'s one-task inference job. The
schema must equal Spark's inferred one — types, order, nullability and
field metadata — on every layout, the fallback cases must keep Spark's
inference path, and the open itself must run no job (counted by job
group). The same footer answers the TIMESTAMP(NANOS) check, which must
cover partitioned directories in either read order."""

from __future__ import annotations

import datetime as dt
import uuid
from contextlib import contextmanager

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datar_polars_spark import sources
from datar_polars_spark.plans.cache import context_memo
from datar_polars_spark.scale.jsonio import read_json_file, write_json_file
from datar_polars_spark.sources import read_parquet, write_parquet
from datar_polars_spark.tibble import Tibble

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


@contextmanager
def _job_group(spark):
    """Collects the ids of the jobs the block runs."""
    sc = spark.sparkContext
    group = f"open-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read_parquet open")
    jobs: list = []
    try:
        yield jobs
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def _clear_read_memo():
    context_memo("read_parquet", sources._READ_MEMO_SIZE).clear()


def _open(spark, path):
    """read_parquet past the memo: (Tibble, jobs run by the open)."""
    _clear_read_memo()
    with _job_group(spark) as jobs:
        td = read_parquet(spark, str(path))
    return td, jobs


def _assert_like_spark(spark, path):
    td, jobs = _open(spark, path)
    want = spark.read.parquet(str(path))
    assert jobs == []
    assert td.df.schema == want.schema  # field metadata included
    assert sorted(map(repr, td.df.collect())) == sorted(
        map(repr, want.collect())
    )
    return td


_T = pa.table({
    "a": pa.array([1, 2], pa.int64()),
    "d": pa.array([1.5, 2.25]).cast(pa.decimal128(10, 2)),
    "arr": pa.array([[1, 2], [3]], pa.list_(pa.int32())),
    "st": pa.array([{"p": 1, "q": "x"}, {"p": 2, "q": None}]),
    "m": pa.array([[("a", 1)], [("b", 2)]], pa.map_(pa.string(), pa.int64())),
})


def test_multi_file_pyarrow_table_with_nested_types(spark, tmp_path):
    """Files with different schemas: Spark infers from the first one
    in path order (part-a), whatever the listing order."""
    d = tmp_path / "multi"
    d.mkdir()
    pq.write_table(_T, d / "part-b.parquet")
    pq.write_table(_T.select(["a", "d"]), d / "part-a.parquet")
    pq.write_table(_T.select(["a", "d"]), d / "part-c.parquet")
    td = _assert_like_spark(spark, d)
    assert td.df.columns == ["a", "d"]
    single = _assert_like_spark(spark, d / "part-b.parquet")
    assert single.df.columns == ["a", "d", "arr", "st", "m"]


def test_spark_written_table_keeps_levels_and_nullability(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "lo"), (2, "hi"), (3, "lo")], "x int not null, g string"
    )
    p = tmp_path / "fct"
    write_parquet(Tibble(df, levels={"g": ["lo", "hi"]}), str(p))
    td = _assert_like_spark(spark, p)
    assert td.levels == {"g": ["lo", "hi"]}


def test_partitioned_table_types_and_order(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 0.5, 10), (2, "b", 1.5, 20), (3, "a", 2.5, 10)],
        "x int, s string, v double, k int",
    )
    p = tmp_path / "part"
    df.write.partitionBy("k", "s").parquet(str(p))
    td = _assert_like_spark(spark, p)
    assert td.df.columns == ["x", "v", "k", "s"]
    assert dict(td.df.dtypes)["k"] == "int"


def test_success_and_hidden_files_are_ignored(spark, tmp_path):
    d = tmp_path / "marked"
    d.mkdir()
    pq.write_table(_T.select(["a"]), d / "part-0.parquet")
    # hidden files sort first; Spark's listing drops them
    pq.write_table(_T.select(["d"]), d / ".hidden.parquet")
    pq.write_table(_T.select(["d"]), d / "_tmp.parquet")
    (d / "_SUCCESS").write_text("")
    td = _assert_like_spark(spark, d)
    assert td.df.columns == ["a"]


def test_file_choice_follows_decoded_path_order(spark, tmp_path):
    """Spark orders by Path.toString: "p 1" < "p!1", though the
    URI-encoded "p%201" sorts after "p!1"."""
    d = tmp_path / "a dir%x"
    d.mkdir()
    pq.write_table(_T.select(["a"]), d / "p 1.parquet")
    pq.write_table(_T.select(["d"]), d / "p!1.parquet")
    td = _assert_like_spark(spark, d)
    assert td.df.columns == ["a"]


def test_missing_and_empty_paths_raise_as_spark_does(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    for p in (empty, tmp_path / "missing"):
        with pytest.raises(Exception) as want:
            spark.read.parquet(str(p))
        _clear_read_memo()
        with pytest.raises(type(want.value)):
            read_parquet(spark, str(p))


def _nanos_files(tmp_path):
    ts = pd.to_datetime(["2026-01-01 00:00:00.000000123",
                         "2026-01-02 12:00:00.000001000"])
    t = pa.table({
        "k": [1, 2],
        "x": [10, 20],
        "ts": pa.array(ts).cast(pa.timestamp("ns")),
    })
    flat = tmp_path / "ns_flat.parquet"
    pq.write_table(t, flat)
    part = tmp_path / "ns_part"
    pq.write_to_dataset(t, str(part), partition_cols=["k"])
    return str(flat), str(part)


@pytest.mark.parametrize("partitioned_first", [True, False])
def test_nanos_timestamps_flat_and_partitioned(
    spark, tmp_path, partitioned_first
):
    """Both read orders: a fresh session's partitioned read used to
    raise PARQUET_TYPE_ILLEGAL (the top-level glob saw no nanos file),
    and after a flat read it returned the raw nanoseconds as bigint
    (the flat read had set nanosAsLong session-wide)."""
    flat, part = _nanos_files(tmp_path)
    before = spark.conf.get(_NANOS_CONF, None)
    spark.conf.unset(_NANOS_CONF)
    try:
        order = [part, flat] if partitioned_first else [flat, part]
        got, open_jobs = {}, []
        for p in order:
            td, jobs = _open(spark, p)
            open_jobs += jobs
            assert dict(td.df.dtypes)["ts"] == "timestamp"
            got[p] = sorted(
                (r["x"], r["ts"]) for r in td.df.select("x", "ts").collect()
            )
        want = [
            (10, dt.datetime(2026, 1, 1, 0, 0, 0, 0)),
            (20, dt.datetime(2026, 1, 2, 12, 0, 0, 1)),
        ]
        assert got[flat] == want and got[part] == want
        assert open_jobs == []
    finally:
        if before is None:
            spark.conf.unset(_NANOS_CONF)
        else:
            spark.conf.set(_NANOS_CONF, before)


def test_merge_schema_falls_back_to_inference(spark, tmp_path):
    d = tmp_path / "merge"
    d.mkdir()
    pq.write_table(_T.select(["a"]), d / "part-a.parquet")
    pq.write_table(_T.select(["a", "d"]), d / "part-b.parquet")
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        td, jobs = _open(spark, d)
        want = spark.read.parquet(str(d)).schema
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")
    assert jobs  # Spark's merging inference ran
    assert td.df.schema == want
    assert td.df.columns == ["a", "d"]


def test_summary_files_fall_back_to_inference(spark, tmp_path):
    d = tmp_path / "summary"
    d.mkdir()
    pq.write_table(_T.select(["a", "d"]), d / "part-0.parquet")
    pq.write_metadata(_T.select(["a", "d"]).schema, d / "_common_metadata")
    td, jobs = _open(spark, d)
    assert jobs  # inference reads the summary file in a job
    assert td.df.schema == spark.read.parquet(str(d)).schema


def test_read_json_file_runs_no_job(spark, tmp_path):
    p = str(tmp_path / "side.json")
    write_json_file(spark, p, {"format": "x", "n": [1, 2]})
    with _job_group(spark) as jobs:
        got = read_json_file(spark, p)
    assert jobs == []
    assert got == {"format": "x", "n": [1, 2]}
    empty = tmp_path / "empty.json"
    empty.write_text("")
    with pytest.raises(ValueError, match="empty"):
        read_json_file(spark, str(empty))


def test_nanos_convert_by_truncation_like_pyarrow(spark, tmp_path):
    """TIMESTAMP(NANOS) -> microseconds truncates toward zero with
    exact integer division, as pyarrow's cast does: a double-precision
    division rounded ``12:00:00.000001999`` up to ``.000002`` (the
    spacing of doubles near 2026 in microseconds is 0.25)."""
    ns = pa.array(
        [1_767_268_800_000_001_999, -1, -1_999, -631_152_000_000_001_999],
        pa.int64(),
    )
    p = tmp_path / "ns_round.parquet"
    pq.write_table(pa.table({"ts": ns.cast(pa.timestamp("ns"))}), p)
    want = ns.cast(pa.timestamp("ns")).cast(
        pa.timestamp("us"), safe=False
    ).cast(pa.int64()).to_pylist()
    assert want == [1_767_268_800_000_001, 0, -1, -631_152_000_000_001]
    before = spark.conf.get(_NANOS_CONF, None)
    spark.conf.unset(_NANOS_CONF)
    try:
        td, _jobs = _open(spark, p)
        got = [r[0] for r in td.df.selectExpr("unix_micros(ts)").collect()]
    finally:
        if before is None:
            spark.conf.unset(_NANOS_CONF)
        else:
            spark.conf.set(_NANOS_CONF, before)
    assert got == want
