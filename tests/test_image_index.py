"""Persistent image-fingerprint index (r13): build / match / dedup /
append / compact lifecycle (scale/fp_index.py) — the image member
of the incremental-dedup index family."""

from __future__ import annotations

import numpy as np
import pytest

from datar_polars_spark import Tibble
from datar_polars_spark.scale import (
    dedup_against_image_index,
    image_index_append,
    image_index_build,
    image_index_compact,
    image_index_stats,
    match_against_image_index,
)
from datar_polars_spark.scale.codecs import make_bmp_pixels, make_png_pixels


def _img(template: int, bright: int = 0):
    rng = np.random.default_rng(template)
    return (
        rng.integers(0, 247, (16, 24, 3), dtype=np.uint8) + bright
    ).astype(np.uint8)


def _td(spark, rows):
    return Tibble(
        spark.createDataFrame(
            [(i, bytearray(b) if b is not None else None) for i, b in rows],
            "img_id long, content binary",
        )
    )


@pytest.fixture()
def built(spark, tmp_path):
    """Corpus: templates 0..3 (PNG), ids 1..4."""
    path = str(tmp_path / "iidx")
    corpus = _td(spark, [(i + 1, make_png_pixels(_img(i))) for i in range(4)])
    image_index_build(corpus, "content", "img_id", path)
    return path


def test_match_exact_brightness_and_container(spark, built):
    # 10: byte-identical to template 0; 11: brightness shift of 0
    # (hamming 0, but NOT byte-identical bytes); 12: template 0 as BMP;
    # 13: unrelated template 9
    batch = _td(spark, [
        (10, make_png_pixels(_img(0))),
        (11, make_png_pixels(_img(0, bright=3))),
        (12, make_bmp_pixels(_img(0))),
        (13, make_png_pixels(_img(9))),
    ])
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in match_against_image_index(batch, built).df.collect()
    }
    assert got[(10, 1)] == 0 and got[(11, 1)] == 0 and got[(12, 1)] == 0
    assert not any(a == 13 for a, _ in got)
    # no duplicated pairs (exact leg vs fuzzy fan-out)
    assert len(got) == 3


def test_near_dup_within_budget_found_via_postings(spark, built):
    # flip a small patch of template 1: a few dHash bits move
    patched = _img(1).copy()
    patched[4:7, 8:12] = 255 - patched[4:7, 8:12]
    from datar_polars_spark.scale import image_dhash

    td = _td(spark, [
        (20, make_png_pixels(patched)),
        (21, make_png_pixels(_img(1))),
    ])
    hs = {r.img_id: r.dhash for r in image_dhash(td, "content").df.collect()}
    budget = bin((hs[20] ^ hs[21]) & ((1 << 64) - 1)).count("1")
    assert 0 < budget <= 4  # within the default build budget
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in match_against_image_index(
            _td(spark, [(20, make_png_pixels(patched))]), built
        ).df.collect()
    }
    assert got == {(20, 2): budget}  # template 1 was indexed as id 2
    # tightening the budget below the distance drops the pair
    tighter = match_against_image_index(
        _td(spark, [(20, make_png_pixels(patched))]), built,
        max_hamming=budget - 1,
    ).df.count()
    assert tighter == 0
    with pytest.raises(ValueError, match="budget"):
        match_against_image_index(
            _td(spark, [(20, make_png_pixels(patched))]), built,
            max_hamming=60,
        )


def test_dedup_append_cycle_and_null_exemption(spark, built):
    batch = _td(spark, [
        (30, make_png_pixels(_img(0))),      # dup of indexed 1 -> drops
        (31, make_png_pixels(_img(7))),      # fresh -> survives, admitted
        (32, None),                          # NULL content -> survives
    ])
    surv = dedup_against_image_index(batch, built, append=True)
    assert sorted(
        r.img_id for r in surv.df.collect()
    ) == [31, 32]
    # the admitted survivor now drops an exact copy in batch 2
    b2 = _td(spark, [(40, make_png_pixels(_img(7)))])
    assert dedup_against_image_index(b2, built).df.count() == 0
    st = image_index_stats(spark, built)
    assert st["n_images"] == 5 and st["bands"] == 5


def test_compact_preserves_matches_and_caps(spark, tmp_path):
    path = str(tmp_path / "iidx")
    image_index_build(
        _td(spark, [(1, make_png_pixels(_img(0)))]),
        "content", "img_id", path, max_bucket=3,
    )
    # the SAME image under fresh ids, one per increment: every band
    # bucket grows by 1 per increment — 4 > cap 3 after 3 appends
    for j in range(3):
        image_index_append(
            _td(spark, [(100 + j, make_png_pixels(_img(0)))]), path
        )
    probe = _td(spark, [(50, make_png_pixels(_img(0)))])
    before = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in match_against_image_index(probe, path).df.collect()
    )
    out = image_index_compact(spark, path)
    after = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in match_against_image_index(probe, path).df.collect()
    )
    # exact matching is posting-free, so results survive even though
    # the over-full buckets (5 bands x C(4,2) pairs = 30) dropped
    assert after == before and len(before) == 4
    assert out["dropped_pairs"] == 30.0
    assert out["n_postings"] == 0


def test_max_hamming_zero_builds_exact_only_index(spark, tmp_path):
    # r13 ADVICE: a single full-width band's mask (1<<64)-1 overflowed
    # py4j's long, so max_hamming=0 crashed instead of building an
    # exact-dup-only index; the band now keeps the raw hash unmasked
    path = str(tmp_path / "iidx0")
    corpus = _td(spark, [(i + 1, make_png_pixels(_img(i))) for i in range(3)])
    image_index_build(corpus, "content", "img_id", path, max_hamming=0)
    st = image_index_stats(spark, path)
    assert st["max_hamming"] == 0 and st["bands"] == 1
    batch = _td(spark, [
        (10, make_bmp_pixels(_img(0))),   # same pixels, other container
        (11, make_png_pixels(_img(9))),   # unrelated
    ])
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in match_against_image_index(batch, path).df.collect()
    }
    assert got == {(10, 1): 0}
    image_index_append(_td(spark, [(20, make_png_pixels(_img(9)))]), path)
    assert dedup_against_image_index(batch, path).df.count() == 0
    image_index_compact(spark, path)
    assert image_index_stats(spark, path)["n_images"] == 4


def test_near_dup_pairs_max_hamming_zero(spark):
    # sibling crash site (multimodal.py banding, now shared _band_cols)
    from datar_polars_spark.scale import image_near_dup_pairs

    td = _td(spark, [
        (1, make_png_pixels(_img(0))),
        (2, make_bmp_pixels(_img(0))),
        (3, make_png_pixels(_img(9))),
    ])
    got = [
        (r.id_a, r.id_b, r.hamming)
        for r in image_near_dup_pairs(
            td, "content", "img_id", max_hamming=0
        ).df.collect()
    ]
    assert got == [(1, 2, 0)]


def test_dedup_append_releases_hashed_batch_cache(spark, built):
    # the append path materializes survivors eagerly, so the persisted
    # hashed batch has no remaining consumer — dedup must release it
    # (unregister_internal_cache) instead of leaving it to FIFO
    from datar_polars_spark.plans.cache import (
        internal_cache_count,
        release_internal_caches,
    )

    batch = _td(spark, [(60, make_png_pixels(_img(11)))])
    # start from an empty registry: at cap, registering evicts an older
    # entry and the before/after count comparison would drift
    release_internal_caches()
    dedup_against_image_index(batch, built, append=True)
    assert internal_cache_count() == 0  # registered, then released


def test_small_batch_match_plan_is_pinned(spark, built):
    """Plan locks (r14): (1) hash-once — every MapInPandas render in
    the executed match plan sits inside the persisted batch's
    InMemoryRelation, so the Arrow decode+hash pass runs once, not
    once per consumer (the 24fd3ce property, previously only
    hand-audited); (2) small-batch broadcast pinning — zero
    SortMergeJoin: the corpus-scale stores never shuffle for a small
    batch (explicit hints; the r5 finding that AQE does not reliably
    demote applies); (3) v2 single-store fuzzy leg — exactly two
    FileScans (hashes once, postings once; the pre-v2 join-back to
    hashes/ is gone)."""
    batch = _td(spark, [(70, make_png_pixels(_img(0)))])
    plan = (
        match_against_image_index(batch, built)
        .df._jdf.queryExecution().executedPlan().toString()
    )
    n_arrow = plan.count("MapInPandas") + plan.count("ArrowEval")
    assert n_arrow == plan.count("InMemoryRelation") and n_arrow > 0
    assert plan.count("InMemoryTableScan") > 0
    assert plan.count("SortMergeJoin") == 0
    assert plan.count("FileScan") == 2
