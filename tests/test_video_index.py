"""Persistent video-fingerprint index (r14): build / match / dedup /
append / delete / compact lifecycle (scale/fp_index.py) — the video
member of the incremental-dedup index family, instantiating the shared
fp_index engine under the temporal-median fingerprint."""

from __future__ import annotations

import pytest

from datar_polars_spark import Tibble
from datar_polars_spark.scale import (
    dedup_against_video_index,
    match_against_video_index,
    video_index_append,
    video_index_build,
    video_index_compact,
    video_index_delete,
    video_index_stats,
)

from test_video_fingerprint import mjpeg


def _td(spark, rows):
    return Tibble(
        spark.createDataFrame(
            [(i, bytearray(b) if b is not None else None) for i, b in rows],
            "vid_id long, content binary",
        )
    )


@pytest.fixture()
def built(spark, tmp_path):
    """Corpus: templates 0..3, ids 1..4."""
    path = str(tmp_path / "vidx")
    corpus = _td(spark, [(i + 1, mjpeg(i)) for i in range(4)])
    video_index_build(corpus, "content", "vid_id", path)
    return path


def test_match_exact_reencode_and_fresh(spark, built):
    # 10: byte-identical to template 0; 11: quality-35 4:2:0 re-encode
    # of template 1 (near-dup — deterministic hamming 1 on this
    # fixture, so the banded fuzzy leg must resolve it, not the exact
    # one); 12: unrelated template 9
    batch = _td(spark, [
        (10, mjpeg(0)),
        (11, mjpeg(1, quality=35, subsample=True)),
        (12, mjpeg(9)),
    ])
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in match_against_video_index(batch, built).df.collect()
    }
    assert got[(10, 1)] == 0
    assert 0 < got[(11, 2)] <= 6
    assert not any(a == 12 for a, _ in got)
    assert len(got) == 2


def test_dedup_survivors_and_null_contract(spark, built):
    batch = _td(spark, [
        (20, mjpeg(0, quality=40, subsample=True)),  # dup of 1
        (21, mjpeg(10)),  # fresh
        (22, None),  # NULL content always survives
        (None, mjpeg(1)),  # NULL id always survives
    ])
    surv = dedup_against_video_index(batch, built).df.collect()
    ids = {r.vid_id for r in surv}
    assert ids == {21, 22, None}


def test_append_then_rematch(spark, built):
    fresh = _td(spark, [(30, mjpeg(11))])
    dedup_against_video_index(fresh, built, append=True)
    again = _td(spark, [(40, mjpeg(11, quality=45, subsample=True))])
    got = {
        (r.id_a, r.id_b)
        for r in match_against_video_index(again, built).df.collect()
    }
    assert (40, 30) in got
    st = video_index_stats(spark, built)
    assert st["n_videos"] == 5 and st["format"] == "video-index"


def test_delete_masks_then_compact_folds(spark, built):
    st = video_index_delete(spark, built, [1])
    assert st["n_tombstones"] == 1
    batch = _td(spark, [(50, mjpeg(0))])
    got = match_against_video_index(batch, built).df.collect()
    assert got == []  # masked immediately
    st2 = video_index_compact(spark, built)
    assert st2["n_tombstones"] == 0 and st2["n_videos"] == 3
    got2 = match_against_video_index(batch, built).df.collect()
    assert got2 == []  # physically folded


def test_compact_folds_append_duplicates(spark, built):
    # byte-duplicate append: compaction folds the doubled rows
    corpus = _td(spark, [(i + 1, mjpeg(i)) for i in range(4)])
    video_index_append(corpus, built)
    assert video_index_stats(spark, built)["n_videos"] == 8
    st = video_index_compact(spark, built)
    assert st["n_videos"] == 4
    # matching is compact-invisible
    batch = _td(spark, [(60, mjpeg(2, quality=40, subsample=True))])
    got = {
        (r.id_a, r.id_b)
        for r in match_against_video_index(batch, built).df.collect()
    }
    assert got == {(60, 3)}


def test_max_hamming_zero_and_widen_rejection(spark, tmp_path):
    path = str(tmp_path / "vidx0")
    corpus = _td(spark, [(1, mjpeg(1))])
    # max_hamming=0: single full-width band (the (1<<64)-1 mask edge)
    video_index_build(corpus, "content", "vid_id", path, max_hamming=0)
    batch = _td(spark, [
        (10, mjpeg(1)),
        (11, mjpeg(1, quality=35, subsample=True)),  # hamming 1 here
    ])
    got = {
        (r.id_a, r.id_b)
        for r in match_against_video_index(batch, path).df.collect()
    }
    assert got == {(10, 1)}  # exact only; the variant needs budget > 0
    with pytest.raises(ValueError, match="exceeds the build-time budget"):
        match_against_video_index(batch, path, max_hamming=2).df.collect()


def test_strict_rejects_non_mjpeg(spark, tmp_path):
    from datar_polars_spark.scale.codecs import make_mp4

    path = str(tmp_path / "vidx_strict")
    corpus = _td(spark, [(1, make_mp4(64, 64, 1000))])
    with pytest.raises(Exception, match="codec library"):
        video_index_build(corpus, "content", "vid_id", path, strict=True)


def test_id_dtype_pinning(spark, built):
    bad = Tibble(
        spark.createDataFrame(
            [("a", bytearray(mjpeg(0)))], "vid_id string, content binary"
        )
    )
    with pytest.raises(ValueError, match="id_type"):
        video_index_append(bad, built)


def test_small_batch_match_plan_is_pinned(spark, built):
    """Plan locks (the image-index trio, engine-inherited but locked
    per family): (1) hash-once — every MapInPandas render in the
    executed match plan sits inside the persisted batch's
    InMemoryRelation, so the Arrow frame-decode+hash pass runs once,
    not once per consumer; (2) small-batch broadcast pinning — zero
    SortMergeJoin: the corpus-scale stores never shuffle for a small
    batch; (3) v2 single-store fuzzy leg — exactly two FileScans
    (hashes once, postings once)."""
    batch = _td(spark, [(70, mjpeg(0))])
    plan = (
        match_against_video_index(batch, built)
        .df._jdf.queryExecution().executedPlan().toString()
    )
    n_arrow = plan.count("MapInPandas") + plan.count("ArrowEval")
    assert n_arrow == plan.count("InMemoryRelation") and n_arrow > 0
    assert plan.count("InMemoryTableScan") > 0
    assert plan.count("SortMergeJoin") == 0
    assert plan.count("FileScan") == 2
