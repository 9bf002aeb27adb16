"""Band-key encodings of scale/lsh.py, and the fingerprint-index API
generated from scale/fp_index.FAMILIES.

The golden values are the band keys the batch operators, the persisted
index stores (dedup ``bands/``, semantic and fingerprint ``postings/``)
and the streaming probes agree on: a drift here changes what every
existing index means. The source guard keeps each encoding written once.
"""

from __future__ import annotations

import inspect
import pathlib
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

import datar_polars_spark
from datar_polars_spark.scale import fp_index
from datar_polars_spark.scale.lsh import (
    band_cols,
    fp_band_masks,
    fp_banded,
    hyperplane_band_hashes,
    hyperplane_planes,
    minhash_band_hashes,
    minhash_banded,
)

I64_MAX = 9223372036854775807
I64_MIN = -9223372036854775808


def test_minhash_band_hashes_golden(spark):
    sigs = spark.createDataFrame(
        [(1, [1, 2, 3, 4, 5, 6, 7, 8]),
         (2, [-9, 0, I64_MAX, I64_MIN, 42, None, 7, 7]),
         (3, [None] * 8)],
        "id int, sig array<bigint>",
    )
    got = sorted(
        tuple(r) for r in minhash_banded(sigs, "sig", 4, 2)
        .select("id", "band", "bhash").collect()
    )
    empty = -7444071767201028348  # xxhash64("") — all-NULL slices
    assert got == [
        (1, 0, 3399141555775061698), (1, 1, 32368707741276375),
        (1, 2, 9050664047826204927), (1, 3, 9127491994331816498),
        (2, 0, 7518258874250214780), (2, 1, -1771408251237168243),
        (2, 2, -4744849287861989057), (2, 3, -8930955752774079150),
        (3, 0, empty), (3, 1, empty), (3, 2, empty), (3, 3, empty),
    ]
    # the array form the streaming probe keeps is the same keys in band order
    arr = {
        r["id"]: list(r["bh"]) for r in sigs.select(
            "id", minhash_band_hashes(F.col("sig"), 4, 2).alias("bh")
        ).collect()
    }
    for i, band, bhash in got:
        assert arr[i][band] == bhash


def test_hyperplane_band_hashes_golden():
    M = np.array([[1.0, 0.0, 0.0, 0.0],
                  [0.5, -1.5, 2.0, 0.25],
                  [-3.0, 1.0, -1.0, 2.0]])
    H = hyperplane_band_hashes(M, hyperplane_planes(7, 4, 3, 4), 3, 4)
    assert H.dtype == np.int64
    assert H.tolist() == [[13, 11, 4], [1, 7, 14], [0, 0, 11]]
    # the defaults of embedding_cosine_pairs / embedding_join (32 x 8)
    M = np.arange(16, dtype=float).reshape(2, 8) - 7.5
    H = hyperplane_band_hashes(M, hyperplane_planes(42, 8, 32, 8), 32, 8)
    assert H.tolist() == [
        [254, 26, 167, 89, 18, 12, 132, 215, 159, 130, 189, 45, 26, 45,
         104, 150, 96, 131, 186, 89, 163, 11, 4, 161, 191, 23, 84, 202,
         79, 208, 81, 188],
        [73, 197, 124, 166, 232, 105, 19, 104, 9, 121, 82, 195, 111, 255,
         167, 241, 226, 111, 163, 199, 202, 176, 175, 124, 143, 123, 250,
         26, 149, 96, 62, 161],
    ]


FPS = [-1, 0, 0x0123456789ABCDEF, -0x7EDCBA9876543211]
BIT_BANDS = {
    1: [[-1], [0], [81985529216486895], [-9141386507638288913]],
    3: [[2097151, 2097151, 4194303], [0, 0, 0], [773615, 736333, 18641],
        [773615, 736333, 2115793]],
    5: [[4095, 8191, 8191, 8191, 8191], [0, 0, 0, 0, 0],
        [3567, 6844, 5060, 3349, 36], [3567, 6844, 5060, 3349, 4132]],
    7: [[511, 511, 511, 511, 511, 511, 1023], [0] * 7,
        [495, 486, 106, 241, 86, 282, 4],
        [495, 486, 106, 241, 86, 282, 516]],
}


@pytest.mark.parametrize("n_bands", sorted(BIT_BANDS))
def test_bit_bands_golden(spark, n_bands):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(FPS)],
                               "i int, fp bigint")
    got = sorted(df.select(
        "i", F.array(*band_cols(F.col("fp"), n_bands)).alias("b")
    ).collect())
    assert [[tuple(s) for s in r["b"]] for r in got] == [
        list(enumerate(vals)) for vals in BIT_BANDS[n_bands]
    ]
    rows = fp_banded(df, "fp", n_bands, ["i"]).collect()
    assert sorted(tuple(r) for r in rows) == sorted(
        (i, band, v) for i, vals in enumerate(BIT_BANDS[n_bands])
        for band, v in enumerate(vals)
    )
    # the numpy form agrees (as uint64 — the full-width band is the raw hash)
    u = np.array(FPS, dtype=np.int64).view(np.uint64)
    want = np.array(BIT_BANDS[n_bands], dtype=np.int64).view(np.uint64)
    for band, (shift, mask) in enumerate(fp_band_masks(n_bands)):
        assert ((u >> shift) & mask).tolist() == want[:, band].tolist()


def test_band_encodings_defined_only_in_lsh():
    pkg = pathlib.Path(datar_polars_spark.__file__).parent
    patterns = {
        "minhash band slice": r"rows_per_band \+ 1",
        "hyperplane signs": r"planes\.T\b",
        "hyperplane family": r"\.standard_normal\(\s*\(",
        "fingerprint bit ranges": r"\* 64\) //|shiftrightunsigned",
        "band exploder": r"explode\(\s*F\.array\(\s*\*band_cols",
    }
    for name, pat in patterns.items():
        where = sorted(
            str(p.relative_to(pkg)) for p in pkg.rglob("*.py")
            if re.search(pat, p.read_text(encoding="utf-8"))
        )
        assert where == ["scale/lsh.py"], (name, where)
    for gone in ("image_index.py", "audio_index.py", "video_index.py"):
        assert not (pkg / "scale" / gone).exists()
    retired = re.compile(
        r"\b(_band_hash_array|_band_hash_udf|_band_hashes|_banded|"
        r"_band_cols|_hashed_base)\b"
    )
    for p in pkg.rglob("*.py"):
        assert not retired.search(p.read_text(encoding="utf-8")), p


def test_generated_index_api():
    import datar_polars_spark.scale as scale

    defaults = {"image": 4, "audio": 6, "video": 6}
    assert {n: f.default_max_hamming for n, f in fp_index.FAMILIES.items()} \
        == defaults
    params = {
        "{n}_index_build": ["corpus", "content", "id_col", "path",
                            "max_hamming", "max_bucket", "strict", "mode",
                            "stamp"],
        "{n}_index_append": ["batch", "path", "content", "id_col",
                             "strict", "stamp"],
        "{n}_index_stats": ["spark", "path", "live"],
        "{n}_index_delete": ["spark", "path", "ids"],
        "{n}_index_expire": ["spark", "path", "before"],
        "{n}_index_compact": ["spark", "path"],
        "match_against_{n}_index": ["batch", "path", "content", "id_col",
                                    "max_hamming", "max_bucket", "strict",
                                    "min_stamp"],
        "dedup_against_{n}_index": ["batch", "path", "content", "id_col",
                                    "max_hamming", "max_bucket", "strict",
                                    "append", "min_stamp", "stamp"],
    }
    seen = 0
    for n, mh in defaults.items():
        for tmpl, names in params.items():
            name = tmpl.format(n=n)
            fn = getattr(scale, name)
            assert fn is fp_index.INDEX_API[name]
            assert fn.__name__ == name
            assert fn.__doc__ and fn.__doc__.strip(), name
            sig = inspect.signature(fn)
            assert list(sig.parameters) == names, name
            seen += 1
        build = inspect.signature(getattr(scale, f"{n}_index_build"))
        assert build.parameters["max_hamming"].default == mh
        assert build.parameters["max_hamming"].kind is \
            inspect.Parameter.KEYWORD_ONLY
        assert build.parameters["max_bucket"].default == 10_000
        assert build.parameters["mode"].default == "overwrite"
        match = inspect.signature(getattr(scale, f"match_against_{n}_index"))
        assert match.parameters["max_hamming"].default is None
        assert match.parameters["content"].default is None
        dedup = inspect.signature(getattr(scale, f"dedup_against_{n}_index"))
        assert dedup.parameters["append"].default is False
        assert dedup.parameters["stamp"].default == 0
    assert seen == 24 == len(fp_index.INDEX_API)
