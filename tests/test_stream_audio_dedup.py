"""Streaming perceptual audio dedup vs the persistent audio index:
matches/filter modes agree with the batch index ops on identical data
(scale/fp_index.py <-> streaming.stream_audio_dedup) — the audio
member of the shared _stream_fp_dedup engine."""

from __future__ import annotations

import pytest

from datar_polars_spark import Tibble
from datar_polars_spark.scale import (
    audio_index_build,
    dedup_against_audio_index,
    match_against_audio_index,
)
from datar_polars_spark.scale.codecs import make_aiff_pcm, make_wav_pcm
from datar_polars_spark.streaming import (
    run_to_memory,
    stream_audio_dedup,
    stream_read_parquet,
)
from test_audio_fingerprint import tone_clip


def _wav(template: int, **kw) -> bytes:
    sr = kw.pop("sr", 8000)
    return make_wav_pcm(tone_clip(template, sr=sr, **kw), sr)


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("aud_stream")
    path = str(root / "aidx")
    corpus = Tibble(spark.createDataFrame(
        [(i + 1, bytearray(_wav(i))) for i in range(4)],
        "clip_id long, content binary",
    ))
    audio_index_build(corpus, "content", "clip_id", path)
    batch_rows = [
        (10, bytearray(_wav(0))),                              # exact dup
        (11, bytearray(make_aiff_pcm(tone_clip(0), 8000))),    # re-container
        (12, bytearray(_wav(1, gain=0.4, noise=0.008, seed=1))),  # near-dup
        (13, bytearray(_wav(9))),                              # fresh
        (14, None),                                            # NULL content
    ]
    batch = spark.createDataFrame(batch_rows, "clip_id long, content binary")
    src = str(root / "stream_clips")
    batch.write.parquet(src)
    return path, batch, src


def test_matches_mode_batch_parity(spark, setup):
    path, batch, src = setup
    sdf = stream_read_parquet(spark, src)
    got = run_to_memory(stream_audio_dedup(sdf, path), mode="append")
    stream_pairs = set(zip(got["clip_id"], got["match_id"]))
    batch_pairs = {
        (r.id_a, r.id_b)
        for r in match_against_audio_index(Tibble(batch), path).df.collect()
    }
    assert stream_pairs == batch_pairs
    assert (10, 1) in stream_pairs and (11, 1) in stream_pairs
    assert (12, 2) in stream_pairs
    ham = got.set_index(["clip_id", "match_id"])["hamming"]
    assert int(ham.loc[(10, 1)].min()) == 0
    assert int(ham.loc[(12, 2)].min()) > 0


def test_filter_mode_batch_parity(spark, setup):
    path, batch, src = setup
    sdf = stream_read_parquet(spark, src)
    got = run_to_memory(
        stream_audio_dedup(sdf, path, mode="filter"), mode="append"
    )
    surv_batch = sorted(
        r.clip_id
        for r in dedup_against_audio_index(Tibble(batch), path).df.collect()
    )
    assert sorted(got["clip_id"]) == surv_batch
    assert set(got["clip_id"]) >= {13, 14}
    assert not {10, 11, 12} & set(got["clip_id"])
    assert list(got.columns) == ["clip_id", "content"]  # no scratch cols


def test_budget_validation(spark, setup):
    path, _, src = setup
    sdf = stream_read_parquet(spark, src)
    with pytest.raises(ValueError, match="budget"):
        stream_audio_dedup(sdf, path, max_hamming=60)
    with pytest.raises(ValueError, match="mode"):
        stream_audio_dedup(sdf, path, mode="nope")


def test_filter_mode_history_bound_is_loud(spark, setup):
    path, _, src = setup
    sdf = stream_read_parquet(spark, src)
    with pytest.raises(ValueError, match="max_history"):
        stream_audio_dedup(sdf, path, mode="filter", max_history=2)
