"""Persistent audio-fingerprint index (r14): build / match / dedup /
append / delete / compact lifecycle (scale/fp_index.py) — the audio
member of the incremental-dedup index family, instantiating the shared
fp_index engine under the spectral fingerprint."""

from __future__ import annotations

import pytest

from datar_polars_spark import Tibble
from datar_polars_spark.scale import (
    audio_index_append,
    audio_index_build,
    audio_index_compact,
    audio_index_delete,
    audio_index_stats,
    dedup_against_audio_index,
    match_against_audio_index,
)
from datar_polars_spark.scale.codecs import make_aiff_pcm, make_wav_pcm

from test_audio_fingerprint import tone_clip


def _wav(template: int, **kw) -> bytes:
    sr = kw.pop("sr", 8000)
    return make_wav_pcm(tone_clip(template, sr=sr, **kw), sr)


def _td(spark, rows):
    return Tibble(
        spark.createDataFrame(
            [(i, bytearray(b) if b is not None else None) for i, b in rows],
            "clip_id long, content binary",
        )
    )


@pytest.fixture()
def built(spark, tmp_path):
    """Corpus: templates 0..3, ids 1..4."""
    path = str(tmp_path / "aidx")
    corpus = _td(spark, [(i + 1, _wav(i)) for i in range(4)])
    audio_index_build(corpus, "content", "clip_id", path)
    return path


def test_match_exact_variant_and_container(spark, built):
    # 10: byte-identical to template 0; 11: re-gained + noised variant
    # (near-dup, NOT byte-identical); 12: template 0 as AIFF (hamming
    # 0 via the same waveform, different container bytes); 13:
    # unrelated template 9
    batch = _td(spark, [
        (10, _wav(0)),
        (11, _wav(0, gain=0.4, noise=0.008, seed=1)),
        (12, make_aiff_pcm(tone_clip(0), 8000)),
        (13, _wav(9)),
    ])
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in match_against_audio_index(batch, built).df.collect()
    }
    assert got[(10, 1)] == 0 and got[(12, 1)] == 0
    assert 0 < got[(11, 1)] <= 6
    assert not any(a == 13 for a, _ in got)
    assert len(got) == 3


def test_dedup_survivors_and_null_contract(spark, built):
    batch = _td(spark, [
        (20, _wav(0, gain=0.5, noise=0.005, seed=2)),  # dup of 1
        (21, _wav(10)),  # fresh
        (22, None),  # NULL content always survives
        (None, _wav(1)),  # NULL id always survives
    ])
    surv = dedup_against_audio_index(batch, built).df.collect()
    ids = {r.clip_id for r in surv}
    assert ids == {21, 22, None}


def test_append_then_rematch(spark, built):
    fresh = _td(spark, [(30, _wav(11))])
    dedup_against_audio_index(fresh, built, append=True)
    again = _td(spark, [(40, _wav(11, gain=0.3, noise=0.006, seed=3))])
    got = {
        (r.id_a, r.id_b)
        for r in match_against_audio_index(again, built).df.collect()
    }
    assert (40, 30) in got
    st = audio_index_stats(spark, built)
    assert st["n_clips"] == 5 and st["format"] == "audio-index"


def test_delete_masks_then_compact_folds(spark, built):
    st = audio_index_delete(spark, built, [1])
    assert st["n_tombstones"] == 1
    batch = _td(spark, [(50, _wav(0))])
    got = match_against_audio_index(batch, built).df.collect()
    assert got == []  # masked immediately
    st2 = audio_index_compact(spark, built)
    assert st2["n_tombstones"] == 0 and st2["n_clips"] == 3
    got2 = match_against_audio_index(batch, built).df.collect()
    assert got2 == []  # physically folded


def test_compact_folds_append_duplicates(spark, built):
    # byte-duplicate append: compaction folds the doubled rows
    corpus = _td(spark, [(i + 1, _wav(i)) for i in range(4)])
    audio_index_append(corpus, built)
    assert audio_index_stats(spark, built)["n_clips"] == 8
    st = audio_index_compact(spark, built)
    assert st["n_clips"] == 4
    # matching is compact-invisible
    batch = _td(spark, [(60, _wav(2, gain=0.45, noise=0.007, seed=4))])
    got = {
        (r.id_a, r.id_b)
        for r in match_against_audio_index(batch, built).df.collect()
    }
    assert got == {(60, 3)}


def test_max_hamming_zero_and_widen_rejection(spark, tmp_path):
    path = str(tmp_path / "aidx0")
    corpus = _td(spark, [(1, _wav(0))])
    # max_hamming=0: single full-width band (the (1<<64)-1 mask edge)
    audio_index_build(corpus, "content", "clip_id", path, max_hamming=0)
    batch = _td(spark, [
        (10, _wav(0)),
        (11, _wav(0, gain=0.4, noise=0.01, seed=5)),
    ])
    got = {
        (r.id_a, r.id_b)
        for r in match_against_audio_index(batch, path).df.collect()
    }
    assert got == {(10, 1)}  # exact only; the variant needs budget > 0
    with pytest.raises(ValueError, match="exceeds the build-time budget"):
        match_against_audio_index(batch, path, max_hamming=2).df.collect()


def test_strict_rejects_compressed(spark, tmp_path):
    from datar_polars_spark.scale.codecs import make_flac

    path = str(tmp_path / "aidx_strict")
    corpus = _td(spark, [(1, make_flac(44100, 4096))])
    with pytest.raises(Exception, match="codec library"):
        audio_index_build(corpus, "content", "clip_id", path, strict=True)


def test_id_dtype_pinning(spark, built):
    bad = Tibble(
        spark.createDataFrame(
            [("a", bytearray(_wav(0)))], "clip_id string, content binary"
        )
    )
    with pytest.raises(ValueError, match="id_type"):
        audio_index_append(bad, built)


def test_small_batch_match_plan_is_pinned(spark, built):
    """Plan locks (the image-index trio, engine-inherited but locked
    per family): (1) hash-once — every MapInPandas render in the
    executed match plan sits inside the persisted batch's
    InMemoryRelation, so the Arrow decode+hash pass runs once, not
    once per consumer; (2) small-batch broadcast pinning — zero
    SortMergeJoin: the corpus-scale stores never shuffle for a small
    batch; (3) v2 single-store fuzzy leg — exactly two FileScans
    (hashes once, postings once)."""
    batch = _td(spark, [(70, _wav(0))])
    plan = (
        match_against_audio_index(batch, built)
        .df._jdf.queryExecution().executedPlan().toString()
    )
    n_arrow = plan.count("MapInPandas") + plan.count("ArrowEval")
    assert n_arrow == plan.count("InMemoryRelation") and n_arrow > 0
    assert plan.count("InMemoryTableScan") > 0
    assert plan.count("SortMergeJoin") == 0
    assert plan.count("FileScan") == 2
