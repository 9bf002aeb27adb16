"""Streaming perceptual image dedup vs the persistent image index:
matches/filter modes agree with the batch index ops on identical data
(scale/fp_index.py <-> streaming.stream_image_dedup)."""

from __future__ import annotations

import numpy as np
import pytest

from datar_polars_spark import Tibble
from datar_polars_spark.scale import (
    dedup_against_image_index,
    image_index_build,
    match_against_image_index,
)
from datar_polars_spark.scale.codecs import make_bmp_pixels, make_png_pixels
from datar_polars_spark.streaming import (
    run_to_memory,
    stream_image_dedup,
    stream_read_parquet,
)


def _img(template: int, bright: int = 0):
    rng = np.random.default_rng(template)
    return (
        rng.integers(0, 247, (16, 24, 3), dtype=np.uint8) + bright
    ).astype(np.uint8)


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("img_stream")
    path = str(root / "iidx")
    corpus = Tibble(spark.createDataFrame(
        [(i + 1, bytearray(make_png_pixels(_img(i)))) for i in range(4)],
        "img_id long, content binary",
    ))
    image_index_build(corpus, "content", "img_id", path)
    patched = _img(1).copy()
    patched[4:7, 8:12] = 255 - patched[4:7, 8:12]
    batch_rows = [
        (10, bytearray(make_png_pixels(_img(0)))),            # exact dup
        (11, bytearray(make_bmp_pixels(_img(0, bright=3)))),  # re-encode dup
        (12, bytearray(make_png_pixels(patched))),            # near-dup
        (13, bytearray(make_png_pixels(_img(9)))),            # fresh
        (14, None),                                           # NULL content
    ]
    batch = spark.createDataFrame(batch_rows, "img_id long, content binary")
    src = str(root / "stream_imgs")
    batch.write.parquet(src)
    return path, batch, src


def test_matches_mode_batch_parity(spark, setup):
    path, batch, src = setup
    sdf = stream_read_parquet(spark, src)
    got = run_to_memory(stream_image_dedup(sdf, path), mode="append")
    stream_pairs = set(zip(got["img_id"], got["match_id"]))
    batch_pairs = {
        (r.id_a, r.id_b)
        for r in match_against_image_index(Tibble(batch), path).df.collect()
    }
    assert stream_pairs == batch_pairs
    assert (10, 1) in stream_pairs and (11, 1) in stream_pairs
    # near-dup flagged with its true distance; exact dups at 0
    ham = got.set_index(["img_id", "match_id"])["hamming"]
    assert int(ham.loc[(10, 1)].min()) == 0
    if (12, 2) in stream_pairs:
        assert int(ham.loc[(12, 2)].min()) > 0


def test_filter_mode_batch_parity(spark, setup):
    path, batch, src = setup
    sdf = stream_read_parquet(spark, src)
    got = run_to_memory(
        stream_image_dedup(sdf, path, mode="filter"), mode="append"
    )
    surv_batch = sorted(
        r.img_id
        for r in dedup_against_image_index(Tibble(batch), path).df.collect()
    )
    assert sorted(got["img_id"]) == surv_batch
    # fresh template and NULL content survive; all dups dropped
    assert set(got["img_id"]) >= {13, 14}
    assert not {10, 11} & set(got["img_id"])
    assert list(got.columns) == ["img_id", "content"]  # no scratch cols


def test_budget_validation(spark, setup):
    path, _, src = setup
    sdf = stream_read_parquet(spark, src)
    with pytest.raises(ValueError, match="budget"):
        stream_image_dedup(sdf, path, max_hamming=60)
    with pytest.raises(ValueError, match="mode"):
        stream_image_dedup(sdf, path, mode="nope")


def test_filter_mode_history_bound_is_loud(spark, setup):
    path, _, src = setup
    sdf = stream_read_parquet(spark, src)
    with pytest.raises(ValueError, match="max_history"):
        stream_image_dedup(sdf, path, mode="filter", max_history=2)
