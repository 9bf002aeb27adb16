"""LSH band keys — the one definition of every band encoding in the
curation layer.

An LSH family is only useful if any two frames signed with the same
parameters get comparable band keys: a stream signs against a stored
index, a batch against a corpus, an append against its own build. Each
encoding below is written once, and every producer and consumer of that
key (batch operators, persistent indexes, streaming probes) calls it:

- **MinHash bands** (:func:`minhash_band_hashes`): ``array<long>`` of
  ``xxhash64`` over each band's comma-joined signature slice. Batch
  operators and the dedup index's ``bands/`` store posexplode it to
  (band, bhash) rows (:func:`minhash_banded`); the streaming filter
  probe keeps the array and looks each element up in its band's dict.
- **Hyperplane bands** (:func:`hyperplane_band_udf`): per-band sign
  patterns of random hyperplanes generated from (seed, dim), packed to
  one long per band. Shared by embedding_cosine_pairs, embedding_join's
  lsh mode and the semantic index's ``postings/``.
- **Fingerprint bit bands** (:func:`band_cols`, :func:`fp_banded`,
  and the numpy form :func:`fp_band_masks`): a 64-bit perceptual
  fingerprint split into disjoint bit ranges. Shared by the
  *_near_dup_pairs operators, the fingerprint indexes' ``postings/``
  and the streaming fingerprint consumers.

The persisted values of all three are part of the index formats:
changing an encoding here changes what existing stores mean.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "minhash_band_hashes",
    "minhash_banded",
    "hyperplane_planes",
    "hyperplane_band_hashes",
    "hyperplane_band_udf",
    "band_cols",
    "fp_band_masks",
    "fp_banded",
]


def minhash_band_hashes(sig: Column, bands: int, rows_per_band: int) -> Column:
    """Per-band hashes of a MinHash signature as ``array<long>``:
    ``xxhash64`` of each band's comma-joined slice (``array_join`` skips
    NULL elements, so an all-NULL signature hashes the empty string in
    every band).

    One ``transform`` over a band-index sequence instead of ``bands``
    unrolled struct expressions: codegen compiles a single loop,
    trimming the cold path the same way the minhash_signature fold
    does."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(
            F.array_join(
                F.transform(
                    F.slice(sig, b * rows_per_band + 1, rows_per_band),
                    lambda v: v.cast("string"),
                ),
                ",",
            )
        ),
    )


def minhash_banded(
    df: DataFrame, sig: str, bands: int, rows_per_band: int
) -> DataFrame:
    """Explode a signature column to (band, bhash) LSH buckets: every
    column of ``df`` plus one row per band."""
    return df.select(
        "*",
        F.posexplode(
            minhash_band_hashes(F.col(sig), bands, rows_per_band)
        ).alias("band", "bhash"),
    )


def hyperplane_planes(
    seed: int, dim: int, bands: int, planes_per_band: int
) -> np.ndarray:
    """The (bands * planes_per_band, dim) random hyperplanes of the
    family (seed, dim)."""
    return np.random.RandomState(seed).standard_normal(
        (bands * planes_per_band, dim)
    )


def hyperplane_band_hashes(
    M: np.ndarray, planes: np.ndarray, bands: int, planes_per_band: int
) -> np.ndarray:
    """(n, bands) int64 band keys of the row vectors ``M``: bit ``j`` of
    band ``b`` is the sign of ``M @ planes[b * planes_per_band + j]``,
    packed little-endian."""
    bits = (M @ planes.T) > 0  # (n, bands*planes_per_band)
    weights = 1 << np.arange(planes_per_band, dtype=np.int64)
    return (
        bits.reshape(len(M), bands, planes_per_band) @ weights
    ).astype(np.int64)


def hyperplane_band_udf(seed: int, dim: int, bands: int, planes_per_band: int):
    """Arrow UDF ``array<embedding> -> array<long>`` of per-band
    hyperplane hashes. The plane matrix regenerates deterministically
    from (seed, dim) on the driver and ships in the UDF closure, so an
    index and any independently signed frame with the same parameters
    are directly comparable; signing is one matmul per Arrow batch (the
    expression-tree alternative is bands*planes array-aggregates, whose
    codegen alone takes seconds). A vector of another dim raises."""
    from pyspark.sql.functions import pandas_udf

    planes = hyperplane_planes(seed, dim, bands, planes_per_band)

    @pandas_udf("array<long>")
    def _hyperplane_bands(vecs: pd.Series) -> pd.Series:
        M = np.vstack(vecs.to_numpy()).astype(np.float64)
        if M.shape[1] != dim:
            raise ValueError(
                f"hyperplane LSH: embedding dim {M.shape[1]} != the "
                f"family's dim {dim}"
            )
        return pd.Series(
            list(hyperplane_band_hashes(M, planes, bands, planes_per_band))
        )

    return _hyperplane_bands


def _bit_ranges(n_bands: int) -> list[tuple[int, int]]:
    """(lowest bit, width) of each of the ``n_bands`` disjoint bit bands
    of a 64-bit fingerprint."""
    return [
        ((i * 64) // n_bands, ((i + 1) * 64) // n_bands - (i * 64) // n_bands)
        for i in range(n_bands)
    ]


def band_cols(fp, n_bands: int):
    """The fingerprint's ``n_bands`` disjoint bit bands as (band, bval)
    structs — pure JVM shifts/masks. Any two fingerprints within
    ``n_bands - 1`` Hamming bits agree exactly on at least one band
    (pigeonhole), so an equi-join on (band, bval) has exact recall
    within that budget.

    A full-width band (n_bands=1, i.e. max_hamming=0) keeps the raw
    hash as its value: the 64-bit mask (1<<64)-1 overflows a signed
    long and py4j's F.lit would raise NumberFormatException, and no
    mask is needed when the band IS the whole fingerprint."""
    out = []
    for i, (lo, width) in enumerate(_bit_ranges(n_bands)):
        shifted = F.shiftrightunsigned(fp, lo)
        bval = (
            shifted if width >= 64
            else shifted.bitwiseAND(F.lit((1 << width) - 1))
        )
        out.append(
            F.struct(F.lit(i).alias("band"), bval.alias("bval"))
        )
    return out


def fp_band_masks(n_bands: int) -> list[tuple[np.uint64, np.uint64]]:
    """The numpy form of :func:`band_cols`: one (shift, mask) pair per
    band, so band ``i`` of uint64 fingerprints ``u`` is
    ``(u >> shift) & mask`` — for probes that run inside an Arrow
    kernel instead of a JVM expression."""
    return [
        (np.uint64(lo), np.uint64((1 << width) - 1))
        for lo, width in _bit_ranges(n_bands)
    ]


def fp_banded(
    df: DataFrame, fp: str, n_bands: int, keep: list[str]
) -> DataFrame:
    """One row per bit band of the fingerprint column ``fp``: the
    ``keep`` columns followed by ``band`` and ``bval``."""
    return df.select(
        *keep, F.explode(F.array(*band_cols(F.col(fp), n_bands))).alias("b")
    ).select(*keep, F.col("b.band").alias("band"),
             F.col("b.bval").alias("bval"))
