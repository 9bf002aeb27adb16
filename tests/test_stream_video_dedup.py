"""Streaming perceptual video dedup vs the persistent video index:
matches/filter modes agree with the batch index ops on identical data
(scale/fp_index.py <-> streaming.stream_video_dedup) — the video
member of the shared _stream_fp_dedup engine."""

from __future__ import annotations

import pytest

from datar_polars_spark import Tibble
from datar_polars_spark.scale import (
    dedup_against_video_index,
    match_against_video_index,
    video_index_build,
)
from datar_polars_spark.streaming import (
    run_to_memory,
    stream_read_parquet,
    stream_video_dedup,
)

from test_video_fingerprint import mjpeg


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("vid_stream")
    path = str(root / "vidx")
    corpus = Tibble(spark.createDataFrame(
        [(i + 1, bytearray(mjpeg(i))) for i in range(4)],
        "vid_id long, content binary",
    ))
    video_index_build(corpus, "content", "vid_id", path)
    batch_rows = [
        (10, bytearray(mjpeg(0))),                               # exact dup
        (11, bytearray(mjpeg(0, quality=40, subsample=True))),   # re-encode,
        # fingerprint-identical on this fixture (exact leg resolves it)
        (12, bytearray(mjpeg(1, quality=35, subsample=True))),   # near-dup,
        # deterministic hamming 1 (the banded fuzzy leg must resolve it)
        (13, bytearray(mjpeg(9))),                               # fresh
        (14, None),                                              # NULL content
    ]
    batch = spark.createDataFrame(batch_rows, "vid_id long, content binary")
    src = str(root / "stream_clips")
    batch.write.parquet(src)
    return path, batch, src


def test_matches_mode_batch_parity(spark, setup):
    path, batch, src = setup
    sdf = stream_read_parquet(spark, src)
    got = run_to_memory(stream_video_dedup(sdf, path), mode="append")
    stream_pairs = set(zip(got["vid_id"], got["match_id"]))
    batch_pairs = {
        (r.id_a, r.id_b)
        for r in match_against_video_index(Tibble(batch), path).df.collect()
    }
    assert stream_pairs == batch_pairs
    assert (10, 1) in stream_pairs and (11, 1) in stream_pairs
    assert (12, 2) in stream_pairs
    ham = got.set_index(["vid_id", "match_id"])["hamming"]
    assert int(ham.loc[(10, 1)].min()) == 0
    assert int(ham.loc[(12, 2)].min()) > 0


def test_filter_mode_batch_parity(spark, setup):
    path, batch, src = setup
    sdf = stream_read_parquet(spark, src)
    got = run_to_memory(
        stream_video_dedup(sdf, path, mode="filter"), mode="append"
    )
    surv_batch = sorted(
        r.vid_id
        for r in dedup_against_video_index(Tibble(batch), path).df.collect()
    )
    assert sorted(got["vid_id"]) == surv_batch
    assert set(got["vid_id"]) >= {13, 14}
    assert not {10, 11, 12} & set(got["vid_id"])
    assert list(got.columns) == ["vid_id", "content"]  # no scratch cols


def test_budget_validation(spark, setup):
    path, _, src = setup
    sdf = stream_read_parquet(spark, src)
    with pytest.raises(ValueError, match="budget"):
        stream_video_dedup(sdf, path, max_hamming=60)
    with pytest.raises(ValueError, match="mode"):
        stream_video_dedup(sdf, path, mode="nope")


def test_filter_mode_history_bound_is_loud(spark, setup):
    path, _, src = setup
    sdf = stream_read_parquet(spark, src)
    with pytest.raises(ValueError, match="max_history"):
        stream_video_dedup(sdf, path, mode="filter", max_history=2)
