"""Deduplication operators for large-scale training-data pipelines.

Beyond reference parity (BASELINE.json north star): exact dedup,
MinHash+LSH near-dup, SimHash, n-gram Jaccard, embedding-cosine
near-dup. Shuffles are only the groupBy/join on hash buckets, which
are uniformly distributed by construction. The one Python node is the
vectorized Arrow signature kernel (``_sig_min_udf``: whole-batch numpy
over pre-hashed shingles — guide §4.2); everything else is JVM
higher-order functions + xxhash64.
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.cache import context_memo, context_state, register_internal_cache
from ..plans.expr import Ref
from ..plans.verb import verb, verb2
from ..tibble import Tibble, ensure_tibble
from .lsh import hyperplane_band_udf, minhash_banded

__all__ = [
    "dedup_exact",
    "tokenize_words",
    "word_shingles",
    "char_shingles",
    "minhash_signature",
    "minhash_pairs",
    "minhash_join",
    "decontaminate_fuzzy",
    "minhash_dedup",
    "simhash64",
    "simhash_signatures",
    "simhash_dedup",
    "ngram_jaccard_pairs",
    "dropped_pairs_estimate",
    "embedding_cosine_pairs",
    "embedding_dedup",
    "semantic_pairs",
    "semantic_dedup",
]


def _name_of(x: Any) -> str:
    return x._name if isinstance(x, Ref) else str(x)


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

@verb
def _keep_ordkey(df, kname: str, keep: str, idkey, who: str):
    """MIN-direction ordering key for quality-based winner selection,
    shared by dedup_exact / the exact pre-pass / component resolution:
    lexicographic struct compare — quality first (NULL quality sorts
    as the WORST value under either policy), then the null-safe id key
    ascending for the deterministic tiebreak. For ``keep="max"`` the
    quality leg NEGATES (struct aggregates have one global direction),
    so ``min_by`` keeps the max-quality row while ties still resolve
    to the SMALLEST id — which is why keep='max' needs a numeric key."""
    if keep == "max":
        kt = df.schema[kname].dataType.simpleString()
        if not any(
            kt.startswith(t)
            for t in ("int", "bigint", "smallint", "tinyint",
                      "float", "double", "decimal", "long")
        ):
            raise ValueError(
                f"{who}: keep='max' needs a numeric keep_by column "
                f"(got {kname!r}: {kt}); derive a numeric score first"
            )
        q = (-F.col(kname)).alias("q")
    else:
        q = F.col(kname).alias("q")
    return F.struct(
        F.col(kname).isNull().alias("qn"),  # non-NULL quality first
        q,
        idkey.alias("k"),
    )


def dedup_exact(
    td: Tibble, *cols: Any, id_col: Any = None,
    keep_by: Any = None, keep: str = "min",
) -> Tibble:
    """Keep one row per distinct value of ``cols`` (all columns if
    empty). With ``id_col``, deterministically keeps the row with the
    smallest id.

    ``keep_by`` (r14) selects the cluster's winner by a QUALITY key
    instead of the id: ``keep="max"`` keeps the row with the largest
    ``keep_by`` value per cluster (e.g. keep the longest or
    best-scored copy of a duplicated page), ``keep="min"`` the
    smallest. Ties (and NULL ``keep_by`` values, which always lose to
    non-NULL ones) break deterministically by smallest id; requires
    ``id_col`` for that reason. Same single-aggregation plan shape —
    a curation policy, not a new pass.

    r11: the id_col path is a ``min_by`` aggregation (one hash-groupBy
    shuffle with map-side partial combine) instead of a row_number
    window — a window puts a huge duplicate cluster (empty pages,
    recrawled URLs) into ONE unsplittable task, while the aggregation
    collapses each mapper's copies to a single candidate row before
    the shuffle.

    NULL ids order FIRST (matching Spark's default ascending NULLS
    FIRST, i.e. the pre-r11 row_number semantics): a group containing
    a NULL-id row keeps that row. The ordering key is null-safe — the
    kept row is always a real input row, never a fabricated all-NULL
    one (min_by over a bare nullable key skips NULL-ordered rows and
    returns NULL for an all-NULL group)."""
    if keep not in ("min", "max"):
        raise ValueError(f"dedup_exact: keep must be 'min' or 'max', "
                         f"got {keep!r}")
    names = [_name_of(c) for c in cols] or list(td.columns)
    if keep_by is not None and id_col is None:
        raise ValueError(
            "dedup_exact: keep_by needs id_col for a deterministic "
            "tiebreak"
        )
    if id_col is None:
        out = td.df.select(*td.columns).dropDuplicates(names)
        return Tibble(out, groups=td.group_vars, levels=td.levels)
    idn = _name_of(id_col)
    others = [c for c in td.columns if c not in names]
    if not others:
        out = td.df.select(*td.columns).dropDuplicates(names)
        return Tibble(out, groups=td.group_vars, levels=td.levels)
    # null-safe ordering key: (id IS NOT NULL, id) — false < true, so
    # NULL-id rows sort first; the struct itself is never NULL, so
    # min_by never skips a row and never fabricates an all-NULL winner.
    idkey = F.struct(
        F.col(idn).isNotNull().alias("n"), F.col(idn).alias("i")
    )
    if keep_by is None:
        ordkey = idkey
    else:
        ordkey = _keep_ordkey(
            td.df, _name_of(keep_by), keep, idkey, "dedup_exact"
        )
    winner = F.min_by(
        F.struct(*[F.col(c) for c in others]), ordkey
    ).alias("__w__")
    out = (
        td.df.select(*td.columns)
        .groupBy(*names)
        .agg(winner)
        .select(
            *names,
            *[F.col(f"__w__.{c}").alias(c) for c in others],
        )
        .select(*td.columns)
    )
    return Tibble(out, groups=td.group_vars, levels=td.levels)


# --------------------------------------------------------------------------
# shingling (JVM-side higher-order functions)
# --------------------------------------------------------------------------

def tokenize_words(col: Column) -> Column:
    return F.split(F.lower(F.trim(col)), r"\s+")


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-grams of a text column, as array<string>.

    Built by zip_with over n shifted views of the token array (n array
    slices total) rather than one O(n) slice+join per gram — ~5x less
    per-row work in whole-stage codegen, which matters when this runs
    over every document of a corpus. zip_with pads the shorter side
    with NULL and concat_ws skips NULLs, so texts shorter than n words
    still yield their single partial gram."""
    toks = tokenize_words(col)
    m = F.greatest(F.size(toks) - n + 1, F.lit(1))
    grams = F.slice(toks, 1, m)
    for j in range(1, n):
        grams = F.zip_with(
            grams, F.slice(toks, j + 1, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.array_distinct(grams)


def char_shingles(col: Column, k: int = 8) -> Column:
    """Distinct character k-grams, as array<string>."""
    s = F.lower(col)
    idx = F.sequence(F.lit(1), F.greatest(F.length(s) - k + 1, F.lit(1)))
    grams = F.transform(idx, lambda i: F.substring(s, i, k))
    return F.array_distinct(grams)


# --------------------------------------------------------------------------
# MinHash + LSH (shingle -> minhash -> band -> bucket-join)
# --------------------------------------------------------------------------

def _sig_min_udf(num_perm: int):
    """Vectorized signature kernel: array<long> of per-shingle
    ``xxhash64(shingle)`` values -> the num_perm elementwise-min
    signature, one Arrow batch at a time.

    Exploits how Spark chains multi-argument xxhash64: for an int
    literal seed ``i``, ``xxhash64(s, i) == XXH64.hashInt(i,
    xxhash64(s))`` (the running hash of the first child seeds the
    second child's 4-byte mix; verified value-for-value against Spark
    for all 64 seeds incl. NULL/empty/unicode inputs, and locked by
    tests/test_minhash_sig_kernel.py). So each shingle is string-hashed
    ONCE in the JVM and the num_perm permutations become an 11-op
    wrapping uint64 mix, computed here as one (shingles x num_perm)
    numpy matrix per row-block with a segmented min back to rows —
    guide §4.2 (whole-batch native code inside the UDF) replacing both
    the interpreted per-shingle HOF fold and the 64-string-hashes-per-
    shingle explode aggregation. Hash values are bit-identical, so
    signatures, bands, and every downstream join are unchanged."""
    # one UDF object per (context, num_perm): a pandas UDF binds its
    # JVM function to the context of its first use
    memo = context_memo("minhash_sig_udf", _UDF_MEMO_SIZE)
    udf = memo.get(num_perm)
    if udf is not None:
        return udf
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def _sig(h0s: pd.Series) -> pd.Series:
        import numpy as np

        U = np.uint64
        P1 = U(0x9E3779B185EBCA87)
        P2 = U(0xC2B2AE3D27D4EB4F)
        P3 = U(0x165667B19E3779F9)
        P5 = U(0x27D4EB2F165667C5)
        base_add = P5 + U(4)  # hashInt: seed + PRIME64_5 + 4 bytes
        # (i & 0xffffffff) * PRIME64_1 per permutation; i < 2^31 so the
        # mask is a no-op
        terms = np.arange(num_perm, dtype=np.uint64) * P1
        vals = [
            None if v is None else np.asarray(v, dtype=np.int64)
            for v in h0s
        ]
        lens = np.fromiter(
            (0 if v is None else v.size for v in vals),
            dtype=np.int64, count=len(vals),
        )
        out: list = [[None] * num_perm] * len(vals)
        nz = np.flatnonzero(lens)
        if nz.size:
            flat = np.concatenate([vals[i] for i in nz]).view(np.uint64)
            nzlens = lens[nz]
            mins = np.empty((nz.size, num_perm), dtype=np.int64)
            # row-block the (shingles x num_perm) temp to ~32 MB
            budget = max(int((1 << 22) / num_perm), 1024)
            pos = off = 0
            while pos < nz.size:
                end, tot = pos, 0
                while end < nz.size and (
                    tot == 0 or tot + int(nzlens[end]) <= budget
                ):
                    tot += int(nzlens[end])
                    end += 1
                base = flat[off:off + tot] + base_add
                H = base[:, None] ^ terms[None, :]
                H = ((H << U(23)) | (H >> U(41))) * P2 + P3
                H ^= H >> U(33)
                H *= P2
                H ^= H >> U(29)
                H *= P3
                H ^= H >> U(32)
                # signed view BEFORE the min: F.min/F.least on longs
                # compare signed, and so must we
                Hs = H.view(np.int64)
                starts = np.zeros(end - pos, dtype=np.int64)
                np.cumsum(nzlens[pos:end - 1], out=starts[1:])
                mins[pos:end] = np.minimum.reduceat(Hs, starts, axis=0)
                off += tot
                pos = end
            for k, j in enumerate(nz):
                out[j] = mins[k]
        return pd.Series(out)

    # deterministic in fact; the marker stops the optimizer from
    # pushing the callers' sig[0]-isNotNull filter BELOW the kernel,
    # which re-evaluates the whole UDF once for the filter and once
    # for the projection (guide §4.4 — the r15 before-plan showed two
    # ArrowEvalPython nodes for one signing pass). Same device as
    # ivf_assign/lang_id/text_embed; apply selective filters before
    # signing, as the internal callers already do.
    return memo.put(num_perm, _sig.asNondeterministic())


_UDF_MEMO_SIZE = 16


def minhash_signature(shingles: Column, num_perm: int = 64) -> Column:
    """num_perm minhash values: min over shingles of xxhash64(x, seed).
    xxhash64 with a distinct int seed per permutation plays the role of
    the independent hash family.

    History: r3-r5 evaluated this as ONE JVM fold over the shingles
    (aggregate + zip_with least) — a single loop, but higher-order
    functions evaluate interpreted, and every shingle still paid
    num_perm full string hashes plus two 64-slot array allocations.
    r15 factors the hash family instead: the JVM string-hashes each
    shingle once (``transform(shingles, xxhash64)``, codegen), and the
    per-permutation tail of Spark's hash chain — ``XXH64.hashInt(i,
    h0)`` — runs as a vectorized numpy matrix inside one Arrow batch
    kernel (``_sig_min_udf``; A/B vs both retired forms in
    OPTIMIZATION_r15.md). Hash values are bit-identical to
    ``xxhash64(shingle, lit(i))``, so signatures are unchanged; still a
    narrow per-row map (no aggregation, no state), which is what
    stream_near_dedup needs.

    Contract: the result is a NONDETERMINISTIC pandas-UDF column (the
    flag stops Catalyst from duplicating or reordering the kernel), so
    it needs pandas and pyarrow on the driver and the executors. Use it
    in Project and Filter contexts (``select``/``withColumn``/
    ``filter``) — sign in a projection first and aggregate, join or
    explode the signed column. Spark's analyzer rejects it as an
    aggregate-function argument and inside a join condition, and
    generate contexts are not part of the contract."""
    h0s = F.transform(shingles, lambda s: F.xxhash64(s))
    # NULL and empty shingle arrays yield all-null signatures
    # (array_min of nothing); the kernel preserves that exact contract
    return _sig_min_udf(num_perm)(h0s)


# ---- recall accounting for skew guards -----------------------------------
# Each lossy guard (LSH bucket caps, semantic salt splits) registers a
# LAZY census frame with a single `dropped` column = estimated candidate
# pairs it removed. dropped_pairs_estimate(op) runs the census on demand
# (one small aggregate job per guard) so a pipeline can alert on recall
# loss instead of scraping warning logs. Keyed per op in the active
# SparkContext's state (plans.cache); each top-level op call resets its
# own key, so the estimate always describes the most recent invocation.


def _register_dropped_pairs(op: str, frame: DataFrame | None = None,
                            reset: bool = True) -> None:
    """Record ``op``'s census ``frame`` (a ``dropped`` column);
    ``reset`` first forgets what earlier calls of ``op`` recorded."""
    records = context_state().setdefault("dropped_pairs", {})
    if reset:
        records[op] = []
    if frame is not None:
        records.setdefault(op, []).append(frame)


def dropped_pairs_estimate(op: str) -> float:
    """Estimated candidate pairs lost to skew guards (bucket caps /
    salt splits) in the MOST RECENT call of ``op`` on this session —
    e.g. ``dropped_pairs_estimate("minhash_pairs")``. 0.0 means the
    guards were no-ops and the op's recall is its blocking-scheme
    recall. Triggers one small aggregate Spark job per registered
    guard (the census is lazy; building the op's plan never runs it).
    The bucket-cap figure is an upper bound: a pair dropped from one
    oversized bucket may still be a candidate via another band."""
    total = 0.0
    for fr in context_state().get("dropped_pairs", {}).get(op, []):
        v = fr.agg(F.sum("dropped").alias("d")).first()["d"]
        total += float(v or 0.0)
    return total


def minhash_recall(jaccard: float, bands: int, rows_per_band: int) -> float:
    """Analytic probability that a document pair with the given TRUE
    Jaccard similarity becomes an LSH candidate under (bands x
    rows_per_band) MinHash banding: ``1 - (1 - j^r)^b``. Size banding
    BEFORE a 100 TB run instead of measuring recall after —
    e.g. ``minhash_recall(0.8, 32, 2) ≈ 1 - 3e-15`` is why the default
    high-recall config can be verified by exact Jaccard afterwards."""
    j, b, r = float(jaccard), int(bands), int(rows_per_band)
    if not 0.0 <= j <= 1.0:
        raise ValueError(f"minhash_recall: jaccard must be in [0,1], got {j}")
    if b < 1 or r < 1:
        raise ValueError("minhash_recall: bands and rows_per_band must be >= 1")
    return 1.0 - (1.0 - j**r) ** b


def hyperplane_recall(cosine: float, bands: int, planes_per_band: int) -> float:
    """Analytic candidate probability for random-hyperplane (SimHash)
    banding at a given TRUE cosine: per-plane agreement is
    ``1 - theta/pi`` (Goemans-Williamson), a band needs all its planes
    to agree, any band suffices: ``1 - (1 - p^r)^b``. The sizing tool
    for ``embedding_join(mode='lsh')`` / ``embedding_cosine_pairs`` —
    the 32x8 default misses a 0.95-cosine pair with probability ~2e-8."""
    import math

    c, b, r = float(cosine), int(bands), int(planes_per_band)
    if not -1.0 <= c <= 1.0:
        raise ValueError(
            f"hyperplane_recall: cosine must be in [-1,1], got {c}"
        )
    if b < 1 or r < 1:
        raise ValueError(
            "hyperplane_recall: bands and planes_per_band must be >= 1"
        )
    p = 1.0 - math.acos(max(-1.0, min(1.0, c))) / math.pi
    return 1.0 - (1.0 - p**r) ** b


def _cap_buckets(
    banded: DataFrame, keys: list[str], max_bucket: int,
    op: str | None = None,
) -> DataFrame:
    """Skew guard for LSH bucket self-joins: buckets larger than
    ``max_bucket`` members (giant boilerplate/duplicate clusters in web
    corpora) would make the candidate join O(bucket^2); drop them from
    candidate generation. Exact/fingerprint dedup should run first so
    oversized buckets are rare (see minhash_dedup). The bucket census is
    a tiny aggregate broadcast back as an anti-join. With ``op``, the
    census of dropped pairs is recorded for ``dropped_pairs_estimate(op)``,
    which runs it on demand: building the plan runs no job."""
    counts = banded.groupBy(*keys).count()
    oversized = counts.filter(F.col("count") > max_bucket)
    if op is not None:
        _register_dropped_pairs(
            op,
            oversized.select(
                (F.col("count") * (F.col("count") - 1) / 2).alias("dropped")
            ),
            reset=False,
        )
    return banded.join(
        F.broadcast(oversized.select(*keys)), on=keys, how="left_anti"
    )


def _shingles(col: Column, shingle_words: int, analyzer: str,
              shingle_chars: int) -> Column:
    """Shingle dispatch: ``analyzer="word"`` -> distinct word n-grams
    (whitespace-delimited scripts); ``analyzer="char"`` -> distinct
    char k-grams (unsegmented CJK text, where word tokenization folds
    a whole hanzi/kana run into one token and near-dup Jaccard
    collapses to exact-match-only)."""
    if analyzer == "char":
        return char_shingles(col, shingle_chars)
    if analyzer != "word":
        raise ValueError(
            f"analyzer must be 'word' or 'char', got {analyzer!r}"
        )
    return word_shingles(col, shingle_words)


def _minhash_sigs(df: DataFrame, tname: str, idn: str, num_perm: int,
                  shingle_words: int, analyzer: str = "word",
                  shingle_chars: int = 12,
                  ensure_par: bool = True,
                  carry: list | None = None,
                  unique_ids: bool = False) -> DataFrame:
    """(id, sig) minhash signatures.

    History (four formulations, each measured): r2's naive expression
    form (num_perm separate array_min(transform) projections) hit a
    CollapseProject 60x re-inlining blowup; r3-r5 used a single
    aggregate+zip_with fold (narrow, no shuffle, but interpreted); r6
    switched to shingle explode + num_perm partial-min aggregates
    (whole-stage codegen, but 64 full string hashes per shingle row);
    r15 signs per ROW with the factored Arrow kernel
    (``minhash_signature``: one JVM string hash per shingle, the
    num_perm ``hashInt`` tails as one numpy matrix — bit-identical
    values, see ``_sig_min_udf``). The groupBy(id) elementwise-min
    fold stays ONLY to preserve the explode form's exact semantics on
    duplicate ids (per-shingle min commutes with per-row min, so the
    folded signature over the union of a duplicate id's shingles is
    unchanged); ``unique_ids=True`` lets a caller that constructs
    provably unique ids (dedup_index's per-fingerprint reps) skip that
    exchange outright — the signing pass is then shuffle-free (§2.4).
    Deterministic hashing means two tables signed separately are
    directly comparable (the property minhash_join relies on). Docs
    with NULL text sign all-NULL and are dropped, matching the explode
    form's no-shingle-rows drop."""
    # ensure_par=False lets a caller whose input frame carries joins
    # in its lineage (dedup_index's batch-vs-store paths) skip the
    # .rdd partition probe: under AQE that probe finalizes the plan
    # and EXECUTES the upstream shuffle stages once, so the caller
    # must guarantee parallelism itself (e.g. repartition the scan)
    # ``carry`` columns (constant per doc, e.g. a retention stamp)
    # ride the per-id fold as first() — map-side free, no join-back
    # needed to re-attach them after signing
    carry = carry or []
    rows = (_ensure_parallelism(df) if ensure_par else df).select(
        F.col(idn).alias("id"),
        *carry,
        minhash_signature(
            _shingles(F.col(tname), shingle_words, analyzer, shingle_chars),
            num_perm,
        ).alias("__sig"),
    ).filter(F.col("__sig")[0].isNotNull())
    if unique_ids:
        return rows.select("id", F.col("__sig").alias("sig"), *carry)
    # the elementwise-min fold as ONE Column: num_perm F.min/getItem
    # calls cost ~10-15 Py4J round trips each at plan build
    fold = F.expr(
        "array(" + ", ".join(f"min(__sig[{i}])" for i in range(num_perm)) + ")"
    )
    return rows.groupBy("id").agg(
        fold.alias("sig"), *[F.first(c).alias(c) for c in carry]
    )


@verb
def minhash_pairs(
    td: Tibble,
    text: Any,
    id_col: Any,
    num_perm: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
    threshold: float = 0.7,
    max_bucket: int = 1000,
    analyzer: str = "word",
    shingle_chars: int = 12,
) -> Tibble:
    """Candidate near-duplicate pairs with estimated Jaccard >= threshold.

    ``analyzer="char"`` shingles on character k-grams (``shingle_chars``)
    instead of word n-grams — required for unsegmented CJK corpora.

    Plan shape: one narrow pass computes signatures, one shuffle groups
    by (band, band_hash) — bucket sizes are tiny for non-duplicate data,
    so the self-join inside buckets never blows up; a final exact
    estimate filters false positives. No driver collection. Buckets over
    ``max_bucket`` members are excluded from candidate generation (run
    exact dedup first — minhash_dedup does — so they only arise from
    pathological boilerplate)."""
    _register_dropped_pairs("minhash_pairs")
    tname, idn = _name_of(text), _name_of(id_col)
    rows_per_band = num_perm // bands
    base = _minhash_sigs(
        td.df, tname, idn, num_perm, shingle_words, analyzer, shingle_chars
    )
    # the signature frame feeds THREE consumers (bucket census, join
    # left, join right) — without a persist the shingle explode + 64
    # partial-agg mins re-run per consumer. Signatures are tiny
    # (id + num_perm longs per doc, ~0.5 KB/doc), so MEMORY_AND_DISK
    # caching is the standard minhash-pipeline recipe at corpus scale;
    # Spark evicts LRU when executors need the space.
    from pyspark import StorageLevel

    base = register_internal_cache(base.persist(StorageLevel.MEMORY_AND_DISK))
    # candidate generation stays NARROW (guide §2.3 / §8: shuffle keys,
    # not payloads): a near-dup pair collides in MANY bands, and the
    # r14 A/B showed the 0.5 KB signature riding the bucket self-join
    # once per colliding band costs 1.6x at sf1 (10.5 -> 6.4 s,
    # identical pair sets) — dedupe bare (id_a, id_b) pairs first, then
    # join each side's signature back exactly once from the persisted
    # signature frame. At sf0.1 the two extra joins cost ~0.2 s of
    # fixed overhead; the byte savings dominate from sf1 up.
    banded = minhash_banded(base.select("id", "sig"), "sig", bands, rows_per_band)
    banded = _cap_buckets(
        banded.select("band", "bhash", "id"),
        ["band", "bhash"], max_bucket, op="minhash_pairs"
    )
    left = banded.select("band", "bhash", F.col("id").alias("id_a"))
    right = banded.select("band", "bhash", F.col("id").alias("id_b"))
    pairs = (
        left.join(right, on=["band", "bhash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    est = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda a, b: a == b),
            lambda x: x,
        )
    ) / F.lit(num_perm)
    out = (
        pairs
        .join(
            base.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")),
            on="id_a",
        )
        .join(
            base.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")),
            on="id_b",
        )
        .withColumn("jaccard_est", est)
        .filter(F.col("jaccard_est") >= threshold)
        .select("id_a", "id_b", "jaccard_est")
    )
    return Tibble(out)


def minhash_join(
    left: Any,
    right: Any,
    text: Any,
    id_col: Any,
    num_perm: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
    threshold: float = 0.7,
    max_bucket: int = 1000,
    verify: str = "estimate",
    analyzer: str = "word",
    shingle_chars: int = 12,
) -> Tibble:
    """CROSS-TABLE fuzzy match: (id_a from ``left``, id_b from
    ``right``, jaccard) for document pairs with n-gram Jaccard >=
    threshold. The record-linkage / fuzzy-decontamination workhorse —
    minhash_pairs finds near-dups WITHIN one corpus, this finds them
    BETWEEN two (train vs benchmark, crawl vs crawl).

    ``verify="estimate"`` (default) scores candidates by signature
    agreement (column ``jaccard_est`` — one pass, no second look at the
    text); ``verify="exact"`` re-joins the candidates to each side's
    shingle sets and emits exact n-gram Jaccard (column ``jaccard``) —
    deterministic, oracle-checkable decisions at the cost of carrying
    the gram arrays through one more join (same trade ngram_jaccard_
    pairs makes within one corpus).

    Both sides sign with the same deterministic xxhash64 permutation
    family, so signatures computed independently are directly
    comparable; the candidate join is a keyed shuffle on (band,
    band-hash) — each side distributes, nothing broadcasts, and bucket
    capping applies per side so a boilerplate mega-bucket on either
    corpus can't go quadratic. Text/id column names are shared by both
    sides (select/rename first if they differ)."""
    _register_dropped_pairs("minhash_join")
    if verify not in ("estimate", "exact"):
        raise ValueError(f"verify must be 'estimate' or 'exact', got {verify!r}")
    left, right = ensure_tibble(left), ensure_tibble(right)
    tname, idn = _name_of(text), _name_of(id_col)
    rows_per_band = num_perm // bands
    from pyspark import StorageLevel

    sides = []
    sigs = {}
    for df, tag in ((left.df, "a"), (right.df, "b")):
        # persist each side's signatures: the bucket-cap census and the
        # candidate join are separate consumers (an unpersisted frame
        # re-runs the shingle + num_perm-hash pass per consumer), and
        # the estimate verify joins them back a third time (r14)
        sig = register_internal_cache(
            _minhash_sigs(
                df, tname, idn, num_perm, shingle_words, analyzer,
                shingle_chars,
            ).persist(StorageLevel.MEMORY_AND_DISK)
        )
        sigs[tag] = sig
        # NARROW candidate generation (guide §2.3 / §8, same A/B as
        # minhash_pairs): bare ids through the bucket join, signatures
        # joined back once after the pair dedup
        banded = minhash_banded(sig.select("id", "sig"), "sig", bands, rows_per_band)
        banded = _cap_buckets(
            banded.select("band", "bhash", "id"),
            ["band", "bhash"], max_bucket, op="minhash_join"
        )
        sides.append(
            banded.select("band", "bhash", F.col("id").alias(f"id_{tag}"))
        )
    pairs = (
        sides[0].join(sides[1], on=["band", "bhash"])
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if verify == "exact":
        grams = {
            tag: df.select(
                F.col(idn).alias(f"id_{tag}"),
                F.array_distinct(
                    _shingles(
                        F.col(tname), shingle_words, analyzer, shingle_chars
                    )
                ).alias(f"g_{tag}"),
            )
            for df, tag in ((left.df, "a"), (right.df, "b"))
        }
        out = (
            pairs.select("id_a", "id_b")
            .join(grams["a"], on="id_a")
            .join(grams["b"], on="id_b")
            .withColumn(
                "jaccard",
                F.size(F.array_intersect("g_a", "g_b"))
                / F.size(F.array_union("g_a", "g_b")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
        return Tibble(out)
    est = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda a, b: a == b),
            lambda x: x,
        )
    ) / F.lit(num_perm)
    out = (
        pairs
        .join(
            sigs["a"].select(
                F.col("id").alias("id_a"), F.col("sig").alias("sig_a")
            ),
            on="id_a",
        )
        .join(
            sigs["b"].select(
                F.col("id").alias("id_b"), F.col("sig").alias("sig_b")
            ),
            on="id_b",
        )
        .withColumn("jaccard_est", est)
        .filter(F.col("jaccard_est") >= threshold)
        .select("id_a", "id_b", "jaccard_est")
    )
    return Tibble(out)


def decontaminate_fuzzy(
    td: Any,
    benchmark: Any,
    text: Any,
    id_col: Any,
    threshold: float = 0.8,
    **minhash_kwargs,
) -> Tibble:
    """Drop training documents whose estimated Jaccard against ANY
    benchmark document reaches ``threshold`` — the near-duplicate
    complement of the exact n-gram ``decontaminate`` (filters.py),
    catching lightly-edited benchmark copies exact overlap misses.
    One minhash_join + one anti-join; the benchmark side is usually
    tiny but nothing here requires it to be."""
    from ..operators.join import anti_join

    td = ensure_tibble(td)
    hits = minhash_join(
        td, benchmark, text, id_col, threshold=threshold, **minhash_kwargs
    )
    idn = _name_of(id_col)
    return anti_join(td, hits, by={idn: "id_a"})


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Small inputs (one parquet file -> one scan partition) would run
    the whole signature computation in a single task; round-robin to
    the session's parallelism first. At corpus scale the scan already
    carries >= cores partitions and this is a no-op."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def _drop_duplicates_by_pairs(
    survivors: DataFrame, pairs: DataFrame, idn: str, resolve: str,
    keep_by: str | None = None, keep: str = "min",
) -> DataFrame:
    """Turn a near-duplicate pair list into row drops.

    ``single_link`` (default, one extra join): drop ``id_b`` of every
    pair — cheap, but when a member links two sub-clusters whose other
    members don't pair directly, more than one representative can
    survive. ``components`` runs true connected-components over the
    pair graph (scale/graph.py, O(log n) alternating-star rounds) and
    keeps exactly each component's minimum id — or, with ``keep_by``,
    the component member with the best quality value (ties to the
    smallest id): the winner comes from one tiny per-component
    aggregation over the LABELED ids (pair-graph members only, far
    smaller than the corpus), never a corpus-wide window."""
    if resolve == "components":
        from .graph import components_from_pairs

        labels = components_from_pairs(pairs, "id_a", "id_b")
        if keep_by is None:
            drop = labels.filter(F.col("id") != F.col("component")).select(
                F.col("id").alias(idn)
            )
            return survivors.join(drop, on=idn, how="left_anti")
        # quality-based winner per component: join the labeled ids
        # (graph members only) to their quality, one min_by per
        # component, drop every non-winner
        idkey = F.struct(
            F.col("id").isNotNull().alias("n"), F.col("id").alias("i")
        )
        q = survivors.select(
            F.col(idn).alias("id"), F.col(keep_by).alias("__q__")
        )
        ordkey = _keep_ordkey(q, "__q__", keep, idkey, "minhash_dedup")
        winners = (
            labels.join(q, on="id")
            .groupBy("component")
            .agg(F.min_by(F.col("id"), ordkey).alias("__win__"))
        )
        drop = (
            labels.join(winners, on="component")
            .filter(F.col("id") != F.col("__win__"))
            .select(F.col("id").alias(idn))
        )
        return survivors.join(drop, on=idn, how="left_anti")
    if resolve != "single_link":
        raise ValueError(
            f"resolve must be 'single_link' or 'components', got {resolve!r}"
        )
    near = pairs.select(F.col("id_b").alias(idn)).dropDuplicates()
    return survivors.join(near, on=idn, how="left_anti")


def _fingerprint_survivors(
    df: DataFrame, tname: str, idn: str,
    keep_by: str | None = None, keep: str = "min",
) -> DataFrame:
    """Exact-dup pre-pass: keep the min-id row per normalized-text md5.
    Identical copies share every LSH band, so running LSH on the raw
    corpus puts whole duplicate clusters into single buckets (O(k^2)
    candidate pairs for a k-copy cluster). The pre-pass removes them;
    LSH then only sees one representative per exact cluster. Final
    survivors are identical: both passes keep each cluster's minimum
    id.

    r11: the winner is a min-AGGREGATION joined back null-safely (NULL
    text is one cluster, as before) rather than a row_number window —
    a window would put a 10^8-copy exact-dup cluster (empty pages,
    error pages: the common case this pre-pass exists for) into ONE
    task carrying full document rows; the aggregation partial-combines
    map-side and the join back is AQE-skew-splittable.

    r12: rows whose id is NULL are EXEMPT from the pre-pass (always
    kept). A NULL id carries no identity: the keep-first equi-filter
    can't distinguish two NULL-id copies, and the downstream LSH drop
    logic (id_a < id_b pairs, id anti-joins) never drops a NULL-id row
    either, so exempting them here makes the whole near-dup family
    consistent — NULL-id documents are never deleted — instead of the
    old behavior where `id == min(id)` silently dropped EVERY NULL-id
    row, including unique documents with no duplicates at all."""
    fp = F.md5(
        F.regexp_replace(F.lower(F.trim(F.col(tname))), r"\s+", " ").cast("binary")
    )
    with_fp = df.withColumn("__fp__", fp)
    if keep_by is None:
        win_expr = F.min(F.col(idn)).alias("__fp_min__")
    else:
        # quality-based winner per exact cluster (r14): same
        # min-aggregation shape, the aggregate just carries the
        # quality ordering — the winner's ID is what joins back
        idkey = F.struct(
            F.col(idn).isNotNull().alias("n"), F.col(idn).alias("i")
        )
        win_expr = F.min_by(
            F.col(idn), _keep_ordkey(df, keep_by, keep, idkey,
                                     "minhash_dedup")
        ).alias("__fp_min__")
    winner = (
        with_fp.filter(F.col(idn).isNotNull())
        .groupBy("__fp__")
        .agg(win_expr)
        .withColumnRenamed("__fp__", "__fp_w__")
    )
    return (
        with_fp.join(
            winner,
            F.col("__fp__").eqNullSafe(F.col("__fp_w__")),
            "left",
        )
        .filter(
            F.col(idn).isNull() | (F.col(idn) == F.col("__fp_min__"))
        )
        .drop("__fp__", "__fp_w__", "__fp_min__")
    )


@verb
def minhash_dedup(
    td: Tibble,
    text: Any,
    id_col: Any,
    num_perm: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
    threshold: float = 0.7,
    max_bucket: int = 1000,
    resolve: str = "single_link",
    analyzer: str = "word",
    shingle_chars: int = 12,
    keep_by: Any = None,
    keep: str = "min",
) -> Tibble:
    """Drop near-duplicates, keeping the smallest id of each duplicate
    set. ``resolve='single_link'`` drops b when any a < b matches
    (equivalent to keeping each connected component's minimum for
    pairwise-dense duplicate clusters); ``resolve='components'`` runs
    distributed connected components over the pair graph so chained
    clusters keep exactly one representative. Runs an exact
    fingerprint-dedup pre-pass so giant identical-copy clusters never
    reach the LSH bucket self-join (see _fingerprint_survivors).

    ``keep_by`` (r14) keeps each duplicate set's BEST row by a quality
    column instead of its smallest id (``keep="max"`` for
    highest-wins, e.g. a quality-classifier score or text length; ties
    and NULL qualities resolve to the smallest id). Winner selection
    has a well-defined cluster to select over only under true
    component resolution, so ``keep_by`` requires
    ``resolve='components'``. Applied consistently in BOTH passes: the
    exact pre-pass keeps the best copy per identical-text cluster, and
    component resolution keeps the best member per near-dup component
    — all via per-cluster aggregations, never a corpus-wide window."""
    tname, idn = _name_of(text), _name_of(id_col)
    kname = None
    if keep_by is not None:
        if resolve != "components":
            raise ValueError(
                "minhash_dedup: keep_by needs resolve='components' — "
                "single-link drop order has no well-defined cluster "
                "to pick a winner from"
            )
        kname = _name_of(keep_by)
        # validate the quality dtype ONCE against the caller's frame
        # so the error names the caller's column
        idkey0 = F.struct(
            F.col(idn).isNotNull().alias("n"), F.col(idn).alias("i")
        )
        _keep_ordkey(td.df, kname, keep, idkey0, "minhash_dedup")
    survivors = Tibble(
        _fingerprint_survivors(
            td.df.select(*td.columns), tname, idn, kname, keep
        )
    )
    pairs = minhash_pairs(
        survivors, text, id_col, num_perm, bands, shingle_words, threshold,
        max_bucket=max_bucket, analyzer=analyzer, shingle_chars=shingle_chars,
    ).df
    out = _drop_duplicates_by_pairs(
        survivors.df, pairs, idn, resolve, kname, keep
    )
    return Tibble(out, groups=td.group_vars, levels=td.levels)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash64(col: Column, n_bits: int = 64) -> Column:
    """SimHash over word tokens: per bit, majority vote of token-hash
    bits, packed into a long. Pure JVM expression tree."""
    toks = F.array_distinct(tokenize_words(col))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    n = F.size(hashes)
    def _bit_set(b: int):
        return lambda h: F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1

    acc = F.lit(0).cast("long")
    for b in range(n_bits):
        ones = F.size(F.filter(hashes, _bit_set(b)))
        bit = (ones * 2 > n).cast("long")
        acc = acc.bitwiseOR(F.shiftleft(bit, b))
    return acc


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_signatures(df: DataFrame, tname: str, idn: str,
                       analyzer: str = "word",
                       shingle_chars: int = 4) -> DataFrame:
    """(id, sh) 64-bit SimHash per row via distinct-token explode + 65
    partial-sum aggregates (per-bit ones counts + token count), then a
    single bit-pack projection.

    History: r5 rewrote this as a narrow per-row aggregate/zip_with
    fold on the theory that removing the explode removed a shuffle;
    the r6 interleaved A/B (same data, same hashes, 5 reps) measured
    the fold 4x SLOWER warm (5.8 s vs 1.4 s at sf0.1) — higher-order
    functions evaluate interpreted, while this form's xxhash64 +
    shiftright/sum runs inside whole-stage-codegen HashAggregate. The
    shuffle is not a scale concern: partial aggregation reduces each
    doc's tokens to one 65-value state map-side (a doc's exploded
    tokens never span input partitions), so the exchange moves ~one
    row per document. NULL-text docs produce no token rows and are
    dropped — never signed sh=0 (which would falsely pair them with
    near-zero-signature docs downstream)."""
    if analyzer == "char":
        toks = char_shingles(F.col(tname), shingle_chars)
    elif analyzer == "word":
        toks = F.array_distinct(tokenize_words(F.col(tname)))
    else:
        raise ValueError(
            f"analyzer must be 'word' or 'char', got {analyzer!r}"
        )
    ex = (
        _ensure_parallelism(df)
        .select(F.col(idn).alias("id"), F.explode(toks).alias("__t"))
        .select("id", F.xxhash64("__t").alias("__h"))
    )
    aggs = [
        F.sum(F.shiftright("__h", b).bitwiseAND(F.lit(1))).alias(f"__b{b}")
        for b in range(64)
    ]
    aggs.append(F.count(F.lit(1)).alias("__n"))
    g = ex.groupBy("id").agg(*aggs)
    packed = F.lit(0).cast("long")
    for b in range(64):
        packed = packed.bitwiseOR(
            F.shiftleft(
                (F.col(f"__b{b}") * 2 > F.col("__n")).cast("long"), b
            )
        )
    return g.select("id", packed.alias("sh"))


@verb
def simhash_dedup(
    td: Tibble,
    text: Any,
    id_col: Any,
    max_hamming: int = 3,
    max_bucket: int = 1000,
    resolve: str = "single_link",
    analyzer: str = "word",
    shingle_chars: int = 4,
    keep_by: Any = None,
    keep: str = "min",
) -> Tibble:
    """Near-dup removal via SimHash: block on 4 16-bit sub-keys (any
    pair within hamming distance 3 shares at least one identical
    quarter, by pigeonhole), verify with exact hamming distance.
    Fingerprint pre-pass + bucket cap guard against duplicate-cluster
    skew exactly as in minhash_dedup; ``resolve`` and the quality-based
    ``keep_by``/``keep`` winner policy (requires
    ``resolve='components'``) as in minhash_dedup."""
    _register_dropped_pairs("simhash_dedup")
    tname, idn = _name_of(text), _name_of(id_col)
    kname = None
    if keep_by is not None:
        if resolve != "components":
            raise ValueError(
                "simhash_dedup: keep_by needs resolve='components' — "
                "single-link drop order has no well-defined cluster "
                "to pick a winner from"
            )
        kname = _name_of(keep_by)
        idkey0 = F.struct(
            F.col(idn).isNotNull().alias("n"), F.col(idn).alias("i")
        )
        _keep_ordkey(td.df, kname, keep, idkey0, "simhash_dedup")
    pre = _fingerprint_survivors(
        td.df.select(*td.columns), tname, idn, kname, keep
    )
    base = simhash_signatures(pre, tname, idn, analyzer, shingle_chars)
    # three consumers (census + both join sides) — persist the tiny
    # (id, 64-bit hash) frame so the token explode + 64 bit-majority
    # sums run once (same recipe as minhash_pairs)
    from pyspark import StorageLevel

    base = register_internal_cache(base.persist(StorageLevel.MEMORY_AND_DISK))
    quarters = F.array(
        *[
            F.struct(
                F.lit(q).alias("q"),
                F.shiftright(F.col("sh"), q * 16).bitwiseAND(F.lit(0xFFFF)).alias("qk"),
            )
            for q in range(4)
        ]
    )
    blocked = base.withColumn("__q__", F.explode(quarters)).select(
        "id", "sh", F.col("__q__.q").alias("q"), F.col("__q__.qk").alias("qk")
    )
    blocked = _cap_buckets(blocked, ["q", "qk"], max_bucket, op="simhash_dedup")
    left = blocked.select("q", "qk", F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    right = blocked.select("q", "qk", F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    pairs = (
        left.join(right, on=["q", "qk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(hamming64(F.col("sh_a"), F.col("sh_b")) <= max_hamming)
        .select("id_a", "id_b")
        .dropDuplicates()
    )
    out = _drop_duplicates_by_pairs(pre, pairs, idn, resolve, kname, keep)
    return Tibble(out, groups=td.group_vars, levels=td.levels)


# --------------------------------------------------------------------------
# exact n-gram Jaccard on candidate pairs
# --------------------------------------------------------------------------

@verb
def ngram_jaccard_pairs(
    td: Tibble,
    text: Any,
    id_col: Any,
    n: int = 3,
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    analyzer: str = "word",
    shingle_chars: int = 12,
) -> Tibble:
    """Exact n-gram Jaccard for pairs surviving MinHash-LSH blocking
    (blocking keeps this O(candidates), not O(n^2)). ``analyzer="char"``
    scores char ``shingle_chars``-gram Jaccard — the CJK path."""
    tname, idn = _name_of(text), _name_of(id_col)
    cands = minhash_pairs(
        td, text, id_col, num_perm=num_perm, bands=bands, shingle_words=n,
        threshold=0.0, analyzer=analyzer, shingle_chars=shingle_chars,
    ).df
    grams = td.df.select(
        F.col(idn).alias("id"),
        _shingles(F.col(tname), n, analyzer, shingle_chars).alias("grams"),
    )
    out = (
        cands.join(grams.withColumnRenamed("id", "id_a").withColumnRenamed("grams", "g_a"), on="id_a")
        .join(grams.withColumnRenamed("id", "id_b").withColumnRenamed("grams", "g_b"), on="id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("g_a", "g_b"))
            / F.size(F.array_union("g_a", "g_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return Tibble(out)


# --------------------------------------------------------------------------
# embedding-cosine near-dup
# --------------------------------------------------------------------------

def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns, computed in
    double via zip_with + aggregate (JVM, no UDF)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    nb = F.sqrt(
        F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    return dot / (na * nb)


@verb
def embedding_cosine_pairs(
    td: Tibble,
    embedding: Any,
    id_col: Any,
    threshold: float = 0.95,
    bands: int = 32,
    planes_per_band: int = 8,
    seed: int = 42,
    max_bucket: int = 1000,
) -> Tibble:
    """Near-duplicate embedding pairs: BANDED random-hyperplane LSH
    (OR-amplified across bands) + exact cosine verify inside buckets.

    A single sign signature misses most near-dupes: P(all bits agree)
    = (1 - theta/pi)^planes, which at cosine 0.95 (theta ~ 18.2 deg)
    is only ~0.28 for 12 planes. Banding fixes the recall: a pair is a
    candidate if ANY band's planes all agree, so recall =
    1 - (1 - p^planes_per_band)^bands with p = 1 - theta/pi. With the
    32x8 default: miss probability ~2e-8 per 0.95-cosine pair (a 16x12
    scheme still loses ~0.2% of pairs — observed as a real missed
    near-dup at sf0.01). Precision is restored by the exact cosine
    verify; random pairs collide in a band with 0.5^8 ~ 3.9e-3, so
    candidate volume stays near-linear in corpus size. Oversized
    buckets (cap: max_bucket) are excluded — run exact dedup first if
    the corpus has identical-vector clusters. At planet scale, lower
    candidate volume further with more planes_per_band (AND) plus more
    bands (OR), or pre-cluster with IVF (scale/similarity.py)."""
    _register_dropped_pairs("embedding_cosine_pairs")
    ename, idn = _name_of(embedding), _name_of(id_col)
    base = _ensure_parallelism(
        td.df.select(F.col(idn).alias("id"), F.col(ename).alias("vec"))
    )
    first = base.select("vec").first()
    if first is None:
        empty = base.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cos double"
        )
        return Tibble(empty)
    band_hashes = hyperplane_band_udf(
        seed, len(first[0]), bands, planes_per_band
    )
    banded = (
        base.withColumn("__bh__", band_hashes(F.col("vec")))
        .select(
            "id",
            "vec",
            F.posexplode(F.col("__bh__")).alias("band", "bhash"),
        )
    )
    # census + both join sides consume `banded`; persisting it runs the
    # Arrow matmul signature UDF once instead of three times
    from pyspark import StorageLevel

    banded = register_internal_cache(banded.persist(StorageLevel.MEMORY_AND_DISK))
    banded = _cap_buckets(
        banded, ["band", "bhash"], max_bucket, op="embedding_cosine_pairs"
    )
    left = banded.select(
        "band", "bhash", F.col("id").alias("id_a"), F.col("vec").alias("v_a")
    )
    right = banded.select(
        "band", "bhash", F.col("id").alias("id_b"), F.col("vec").alias("v_b")
    )
    out = (
        left.join(right, on=["band", "bhash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("cos", cosine_sim(F.col("v_a"), F.col("v_b")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )
    return Tibble(out)


def embedding_join(
    left: Any,
    right: Any,
    embedding: Any = "embedding",
    id_col: Any = "vec_id",
    threshold: float = 0.95,
    mode: str = "auto",
    max_broadcast: int = 100_000,
    bands: int = 32,
    planes_per_band: int = 8,
    seed: int = 42,
    max_bucket: int = 1000,
) -> Tibble:
    """CROSS-TABLE embedding match: (id_a from ``left``, id_b from
    ``right``, cos) for row pairs with cosine >= ``threshold`` — the
    embedding-space sibling of :func:`minhash_join` (lexical n-grams)
    for record linkage, paraphrase mining, and semantic
    decontamination. Column names (embedding, id) are shared by both
    sides, exactly as minhash_join shares text/id.

    ``mode="broadcast"`` — the decontamination shape (``right`` is a
    benchmark/eval set, orders of magnitude smaller than ``left``):
    the right side's non-NULL vectors collect, L2-normalize, and
    broadcast; ONE Arrow ``mapInPandas`` pass over the left computes
    tiled matmuls against the broadcast matrix and emits every pair at
    or above the threshold. No shuffle, no LSH, EXACT results — at
    100 TB this runs inside the left side's scan stage. Bounded by
    ``max_broadcast`` right rows (memory is rows x dim x 8 bytes per
    executor: the 100k default is ~60 MB at dim 768 — raise it
    knowingly or switch modes past that).

    ``mode="lsh"`` — both sides large: each side signs with the SAME
    deterministic random-hyperplane family (so signatures computed
    independently are comparable, exactly like minhash_join's shared
    permutations), bands explode, buckets cap per side
    (``max_bucket`` — a giant identical-vector cluster on either side
    can't go quadratic), and a keyed equi join on (band, band-hash)
    generates candidates verified by exact cosine. Probabilistic
    recall: the 32x8 default misses a 0.95-cosine pair with
    probability ~2e-8 (see :func:`embedding_cosine_pairs`); dropped
    oversized-bucket volume registers under op ``"embedding_join"``.

    ``mode="auto"`` routes on the right side's NON-NULL vector count:
    it attempts the bounded collect the broadcast path needs anyway and
    falls back to LSH only when that overflows ``max_broadcast`` — no
    extra census job, and exactness is never given up while the
    broadcast bound holds. NULL embeddings on either side can never
    verify and emit no pairs."""
    if mode not in ("auto", "broadcast", "lsh"):
        raise ValueError(
            f"embedding_join: mode must be 'auto', 'broadcast' or 'lsh', "
            f"got {mode!r}"
        )
    left, right = ensure_tibble(left), ensure_tibble(right)
    ename, idn = _name_of(embedding), _name_of(id_col)
    ta = left.df.schema[idn].dataType.simpleString()
    tb = right.df.schema[idn].dataType.simpleString()
    # reset accounting up front: a broadcast call is EXACT (drops
    # nothing), and a stale figure from a previous LSH call must not
    # survive it (dropped_pairs_estimate describes the LATEST call)
    _register_dropped_pairs("embedding_join")

    rows = None
    if mode in ("auto", "broadcast"):
        rows = (
            right.df.select(idn, ename)
            .where(F.col(ename).isNotNull())
            .limit(max_broadcast + 1)
            .collect()
        )
        if len(rows) > max_broadcast:
            if mode == "broadcast":
                raise ValueError(
                    f"embedding_join: right side exceeds max_broadcast="
                    f"{max_broadcast} non-NULL vectors; use mode='lsh' "
                    f"(or raise max_broadcast if executors hold rows x "
                    f"dim x 8 bytes comfortably)"
                )
            mode, rows = "lsh", None  # auto: too big for exact broadcast

    if mode == "broadcast":
        if not rows:
            return Tibble(
                left.df.sparkSession.createDataFrame(
                    [], f"id_a {ta}, id_b {tb}, cos double"
                )
            )
        ids_b = np.array([r[0] for r in rows])
        B = np.array([list(r[1]) for r in rows], dtype="float64")
        nb = np.linalg.norm(B, axis=1)
        nb[nb == 0] = 1.0
        Bn = B / nb[:, None]
        bcast = left.df.sparkSession.sparkContext.broadcast((ids_b, Bn))
        thr = float(threshold)

        def _match(batches):
            import numpy as _np
            import pandas as _pd

            rid, M = bcast.value
            for pdf in batches:
                vec_ok = pdf[ename].notna()
                sub = pdf.loc[vec_ok]
                if not len(sub):
                    continue
                X = _np.array(sub[ename].tolist(), dtype="float64")
                if X.shape[1] != M.shape[1]:
                    raise ValueError(
                        f"embedding_join: left dim {X.shape[1]} != right "
                        f"dim {M.shape[1]}"
                    )
                nx = _np.linalg.norm(X, axis=1)
                nx[nx == 0] = 1.0
                Xn = X / nx[:, None]
                la = sub[idn].to_numpy()
                # tile both axes so no temp outgrows ~32 MB regardless
                # of Arrow batch size or broadcast width
                parts = []
                for i in range(0, len(Xn), 2048):
                    Xi = Xn[i : i + 2048]
                    for j in range(0, len(M), 2048):
                        S = Xi @ M[j : j + 2048].T
                        hit = _np.argwhere(S >= thr)
                        if len(hit):
                            parts.append(
                                _pd.DataFrame(
                                    {
                                        "id_a": la[i + hit[:, 0]],
                                        "id_b": rid[j + hit[:, 1]],
                                        "cos": S[hit[:, 0], hit[:, 1]],
                                    }
                                )
                            )
                if parts:
                    yield _pd.concat(parts, ignore_index=True)

        out = left.df.select(idn, ename).mapInPandas(
            _match, schema=f"id_a {ta}, id_b {tb}, cos double"
        )
        return Tibble(out)

    # mode == "lsh": shared hyperplane family, banded, capped, verified
    from pyspark import StorageLevel

    first = (
        left.df.select(ename).where(F.col(ename).isNotNull()).first()
        or right.df.select(ename).where(F.col(ename).isNotNull()).first()
    )
    if first is None:
        return Tibble(
            left.df.sparkSession.createDataFrame(
                [], f"id_a {ta}, id_b {tb}, cos double"
            )
        )
    band_hashes = hyperplane_band_udf(
        seed, len(first[0]), bands, planes_per_band
    )
    sides = []
    for td_, tag in ((left, "a"), (right, "b")):
        base = _ensure_parallelism(
            td_.df.select(F.col(idn).alias("id"), F.col(ename).alias("vec"))
            .where(F.col(ename).isNotNull())
        )
        banded = base.withColumn("__bh__", band_hashes(F.col("vec"))).select(
            "id", "vec", F.posexplode(F.col("__bh__")).alias("band", "bhash")
        )
        banded = register_internal_cache(
            banded.persist(StorageLevel.MEMORY_AND_DISK)
        )
        banded = _cap_buckets(
            banded, ["band", "bhash"], max_bucket, op="embedding_join"
        )
        sides.append(
            banded.select(
                "band", "bhash",
                F.col("id").alias(f"id_{tag}"),
                F.col("vec").alias(f"v_{tag}"),
            )
        )
    out = (
        sides[0].join(sides[1], on=["band", "bhash"])
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("cos", cosine_sim(F.col("v_a"), F.col("v_b")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )
    return Tibble(out)


def dedup_paragraphs(
    td: Any,
    text: Any = "text",
    id_col: Any = "doc_id",
    sep: str = r"\n\n+",
    join_sep: str = "\n\n",
    min_chars: int = 1,
    normalize: bool = True,
    count_col: str | None = "paras_removed",
    scope: str = "corpus",
) -> Tibble:
    """CORPUS-LEVEL paragraph dedup (the Dolma/FineWeb curation step):
    split every document into paragraphs on the ``sep`` regex, keep
    only the FIRST occurrence (by ``(id, position)``) of each distinct
    paragraph across the whole corpus, and reassemble the surviving
    paragraphs with ``join_sep``. Boilerplate paragraphs (navigation,
    cookie banners, license blocks) repeated across a crawl survive
    doc-level near-dedup because the surrounding text differs — this
    removes them at the granularity where they actually repeat.

    ``normalize=True`` fingerprints paragraphs case-folded and trimmed
    (light Dolma-style normalization; the REASSEMBLED text always uses
    the original paragraph bytes). Paragraphs whose trimmed length is
    under ``min_chars`` are EXEMPT — always kept, never treated as
    duplicates of each other (with the default 1, empty paragraphs
    never collapse across documents). ``count_col`` (default
    ``paras_removed``) reports per-doc removals for auditing; pass
    None to omit. NULL text stays NULL; ``id_col`` values must be
    unique AND non-NULL (they define keep-first order, and the rebuilt
    text joins back to the original row by id — a NULL id can neither
    order nor join, so corpus scope raises at execution time on the
    first NULL id rather than silently blanking that document's text;
    duplicate ids reassemble each duplicate row with the merged
    paragraph set, one output row per input row).

    ``scope="corpus"`` (default) dedups across the whole table;
    ``scope="document"`` keeps only each document's own first
    occurrence of a paragraph (Dolma's within-doc mode) and compiles
    to PURE array expressions — a narrow map with ZERO shuffles that
    runs inside the scan stage.

    100 TB design (corpus scope): the exploded frame carries ONLY
    ``(id, position, paragraph)`` — keep-first is a min-aggregation on
    the paragraph fingerprint (a 64-bit xxhash; exempt paragraphs get
    unique domain-separated keys) that partial-combines map-side, so a
    mega-boilerplate key cannot form a giant task, joined back with an
    AQE-skew-splittable equi join; then one narrow groupBy(id)
    reassembles and a final join attaches the rebuilt text to the
    original table. The document text and payload columns ride a
    single exchange exactly once (the final join), never the
    P-rows-per-doc exploded frame; nothing collects."""
    td = ensure_tibble(td)
    tname, idn = _name_of(text), _name_of(id_col)
    if scope not in ("corpus", "document"):
        raise ValueError(
            f"dedup_paragraphs: scope must be 'corpus' or 'document', "
            f"got {scope!r}"
        )
    if int(min_chars) < 0:
        raise ValueError(
            f"dedup_paragraphs: min_chars must be >= 0, got {min_chars}"
        )
    scratch = {"__pos", "__para", "__key", "__rn", "__keep", "__rebuilt"}
    clash = sorted(scratch & set(td.columns))
    if clash:
        raise ValueError(
            f"dedup_paragraphs: column(s) {clash} are reserved scratch; "
            f"rename them first"
        )
    if count_col and count_col in td.columns:
        raise ValueError(
            f"dedup_paragraphs: count_col {count_col!r} already exists; "
            f"pass a different name or count_col=None"
        )
    if scope == "document":
        paras = F.split(F.coalesce(F.col(tname), F.lit("")), sep)
        narr = (
            F.transform(paras, lambda p: F.lower(F.trim(p)))
            if normalize
            else paras
        )
        keep_idx = F.filter(
            F.sequence(F.lit(0), F.size(paras) - 1),
            lambda i: (
                F.length(F.trim(F.element_at(paras, i + 1)))
                < F.lit(int(min_chars))
            )
            | (
                F.array_position(
                    F.slice(narr, F.lit(1), i),
                    F.element_at(narr, i + 1),
                )
                == 0
            ),
        )
        rebuilt_doc = F.array_join(
            F.transform(keep_idx, lambda i: F.element_at(paras, i + 1)),
            join_sep,
        )
        new_text = F.when(
            F.col(tname).isNull(), F.lit(None).cast("string")
        ).otherwise(rebuilt_doc)
        out_df = td.df.withColumn("__newtext__", new_text)
        if count_col:
            out_df = out_df.withColumn(
                count_col,
                F.when(F.col(tname).isNull(), F.lit(0)).otherwise(
                    F.size(paras) - F.size(keep_idx)
                ).cast("int"),
            )
        out_df = out_df.withColumn(tname, F.col("__newtext__")).drop(
            "__newtext__"
        )
        return Tibble(
            out_df.select(
                *td.columns, *( [count_col] if count_col else [] )
            )
        )

    # r11: ONLY (id, __pos, __para) enter the two keyed shuffles — the
    # original text and payload columns never ride the exploded frame
    # (which is P rows per doc). The rebuilt text joins back to the
    # original table by id, so shuffle volume is the paragraph bytes
    # once + the original row once, instead of P copies of the full
    # document text AND payload through both exchanges.
    norm = (
        F.lower(F.trim(F.col("__para"))) if normalize
        else F.col("__para")
    )
    exempt = F.length(F.trim(F.col("__para"))) < int(min_chars)
    key = F.when(
        exempt, F.xxhash64(F.lit("x"), F.col(idn), F.col("__pos"))
    ).otherwise(F.xxhash64(F.lit("p"), norm))
    # fail loudly on NULL ids (see docstring): assert_true returns
    # NULL when the condition holds, so the coalesce is the identity
    # on valid rows but raises on the first NULL id. It rides the id
    # column itself so Catalyst cannot prune it away.
    checked_id = F.when(
        F.assert_true(
            F.col(idn).isNotNull(),
            F.lit(
                f"dedup_paragraphs: NULL value in id_col {idn!r} — "
                "ids must be non-null (they key the rebuild join)"
            ),
        ).isNull(),
        F.col(idn),
    ).alias(idn)
    paras = td.df.select(
        checked_id,
        F.posexplode(
            F.split(F.coalesce(F.col(tname), F.lit("")), sep)
        ).alias("__pos", "__para"),
    ).withColumn("__key", key)
    # keep-first = the (id, pos)-minimal row per fingerprint. r11: a
    # min-AGGREGATION + equi-join instead of a row_number window —
    # a window puts EVERY copy of a mega-boilerplate paragraph (the
    # exact thing this op exists to remove) into one unsplittable
    # task, while the aggregation partial-combines map-side (each
    # mapper ships one row per distinct key) and the join back is an
    # ordinary shuffle join AQE can skew-split.
    winner = paras.groupBy("__key").agg(
        F.min(
            F.struct(F.col(idn).alias("i"), F.col("__pos").alias("p"))
        ).alias("__w")
    )
    kept = (
        paras.join(winner, "__key")
        .withColumn(
            "__keep",
            (F.col(idn) == F.col("__w.i"))
            & (F.col("__pos") == F.col("__w.p")),
        )
        .drop("__w")
    )
    rebuilt = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("__keep"),
                        F.struct(F.col("__pos"), F.col("__para")),
                    )
                )
            ),
            lambda s: s["__para"],
        ),
        join_sep,
    )
    agg_cols = [rebuilt.alias("__rebuilt")]
    if count_col:
        agg_cols.append(
            F.sum((~F.col("__keep")).cast("int"))
            .cast("int")
            .alias(count_col)
        )
    narrow = kept.groupBy(idn).agg(*agg_cols)
    out = td.df.join(narrow, on=idn, how="left").withColumn(
        tname,
        F.when(
            F.col(tname).isNull(), F.lit(None).cast("string")
        ).otherwise(F.coalesce(F.col("__rebuilt"), F.lit(""))),
    )
    if count_col:
        out = out.withColumn(
            count_col,
            F.coalesce(F.col(count_col), F.lit(0)).cast("int"),
        )
    final_cols = list(td.columns) + ([count_col] if count_col else [])
    return Tibble(out.select(*final_cols))


def contamination_report_semantic(
    td: Any,
    benchmark: Any,
    embedding: Any = "embedding",
    id_col: Any = "vec_id",
    threshold: float = 0.95,
    **join_kwargs,
) -> Tibble:
    """Per-row semantic contamination audit — the embedding-space
    sibling of ``contamination_report`` (exact 13-grams, filters.py):
    for every corpus row, how many benchmark rows its embedding
    matches at ``threshold`` (``contaminated_matches``, 0 when clean)
    and the strongest match (``max_cosine``, NULL when clean). Use it
    to CALIBRATE the threshold before running
    :func:`decontaminate_semantic` for real — the histogram of
    max_cosine shows where leakage separates from topical similarity.
    Same execution shape as embedding_join (broadcast: one narrow
    Arrow pass; the aggregate + join-back touch only the match rows,
    never the corpus payload)."""
    td = ensure_tibble(td)
    idn = _name_of(id_col)
    hits = embedding_join(
        td, benchmark, embedding, id_col, threshold=threshold, **join_kwargs
    )
    # the hit ids live under a scratch name so a user id column
    # literally called 'id_a' (embedding_join's fixed output name)
    # can neither make the join condition ambiguous nor be dropped
    per_doc = hits.df.groupBy("id_a").agg(
        F.count(F.lit(1)).alias("contaminated_matches"),
        F.max("cos").alias("max_cosine"),
    ).withColumnRenamed("id_a", "__hit_id__")
    if "__hit_id__" in td.columns:
        raise ValueError(
            "contamination_report_semantic: column '__hit_id__' is "
            "reserved scratch; rename it first"
        )
    out = (
        td.df.select(F.col(idn))
        .join(per_doc, F.col(idn) == F.col("__hit_id__"), "left")
        .drop("__hit_id__")
        .withColumn(
            "contaminated_matches",
            F.coalesce(F.col("contaminated_matches"), F.lit(0)),
        )
    )
    return Tibble(out)


def decontaminate_semantic(
    td: Any,
    benchmark: Any,
    embedding: Any = "embedding",
    id_col: Any = "vec_id",
    threshold: float = 0.95,
    **join_kwargs,
) -> Tibble:
    """Drop training rows whose embedding cosine against ANY benchmark
    row reaches ``threshold`` — the semantic complement of the exact
    n-gram ``decontaminate`` (filters.py) and the lexical
    ``decontaminate_fuzzy`` (minhash), catching paraphrased or
    translated benchmark leakage that no lexical overlap detector sees.
    One :func:`embedding_join` + one anti-join; with the (default)
    broadcast mode the whole decision runs inside the corpus scan —
    no shuffle touches the 100 TB side. Rows with NULL embeddings have
    no verifiable match and are KEPT (same contract as
    stream_near_dedup's filter mode)."""
    td = ensure_tibble(td)
    hits = embedding_join(
        td, benchmark, embedding, id_col, threshold=threshold, **join_kwargs
    )
    from ..operators.join import anti_join

    idn = _name_of(id_col)
    return anti_join(td, hits, by={idn: "id_a"})


@verb
def embedding_dedup(
    td: Tibble,
    embedding: Any,
    id_col: Any,
    threshold: float = 0.95,
    resolve: str = "single_link",
) -> Tibble:
    idn = _name_of(id_col)
    pairs = embedding_cosine_pairs(td, embedding, id_col, threshold).df
    out = _drop_duplicates_by_pairs(
        td.df.select(*td.columns), pairs, idn, resolve
    )
    return Tibble(out, groups=td.group_vars, levels=td.levels)


# --------------------------------------------------------------------------
# SemDeDup-style semantic dedup (cluster -> exact within-cluster prune)
# --------------------------------------------------------------------------

def semantic_pairs(
    td: Tibble,
    embedding: Any,
    id_col: Any,
    eps: float = 0.05,
    n_clusters: int | None = None,
    max_cluster: int = 4096,
    seed: int = 42,
) -> Tibble:
    """Semantic near-duplicate pairs, SemDeDup-style (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space with the IVF
    coarse quantizer (scale/similarity.py ivf_train — sampled driver
    k-means, deterministic seed), then compute EXACT pairwise cosines
    only within each cluster and emit every pair with
    ``cosine >= 1 - eps``.

    100 TB design: the only wide operation is one groupBy shuffle on
    the cluster id; each group's pair search is a single numpy matmul
    inside ``applyInPandas`` (Arrow-batched), O(m^2) only within a
    cluster of size m. Clusters larger than ``max_cluster`` are
    salt-split on the id hash so no task materializes more than
    ``max_cluster`` vectors — near-identical vectors still co-locate by
    cluster, and only pairs straddling a salt split are lost
    (quantify with ``dropped_pairs_estimate("semantic_pairs")``; raise
    ``n_clusters`` to shrink clusters instead of relying on the salt). Complements ``embedding_cosine_pairs`` (hyperplane LSH):
    LSH targets high-threshold near-dups with per-pair recall
    guarantees; SemDeDup prunes semantic redundancy at lower cosine
    where LSH banding would need impractically many bands."""
    import math

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from .similarity import ivf_assign, ivf_train

    ename, idn = _name_of(embedding), _name_of(id_col)
    n = td.df.count()
    if n == 0:
        return Tibble(
            td.df.sparkSession.createDataFrame(
                [], "id_a long, id_b long, cos double"
            )
        )
    if n_clusters is None:
        # sqrt(n) keeps expected cluster size ~sqrt(n): pair work
        # n/k * m^2 = n * sqrt(n) total comparisons, spread over k tasks
        n_clusters = max(4, int(math.isqrt(n)))
    cents = ivf_train(td, embedding, n_clusters=n_clusters, seed=seed)
    assigned = ivf_assign(td, cents, embedding, cluster_col="__sem_c__")
    d = assigned.df.select(
        F.col(idn).alias("id"), F.col(ename).alias("vec"), "__sem_c__"
    )
    # salt-split factor from a DISTRIBUTED census joined back — no
    # driver collect, no k-entry literal map in the plan (the old
    # create_map form inlined 2k literals; at k=sqrt(10^9) that's a
    # 60k-literal expression), and no count-over-window either (r11: a
    # window puts an entire over-full cluster — the exact case the
    # salt exists for — into ONE unsplittable task). The census is a
    # map-side-combined groupBy of k tiny rows; the join back is
    # broadcastable/AQE-splittable.
    sizes = (
        d.groupBy("__sem_c__")
        .agg(F.count(F.lit(1)).alias("__sem_n__"))
    )
    d = d.join(sizes, "__sem_c__")
    split_of = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.col("__sem_n__") / F.lit(max_cluster)),
    )
    d = d.withColumn(
        "__sem_s__", F.pmod(F.xxhash64(F.col("id")), split_of).cast("int")
    )
    # recall accounting: pairs straddling a salt split are not compared.
    # Register the census lazily — dropped_pairs_estimate() runs it on
    # demand; nothing here triggers a job.
    salt_sizes = d.groupBy("__sem_c__", "__sem_s__").agg(
        F.count("*").alias("m"), F.first("__sem_n__").alias("s")
    )
    _register_dropped_pairs(
        "semantic_pairs",
        salt_sizes.groupBy("__sem_c__").agg(
            (
                F.first("s") * (F.first("s") - 1) / 2
                - F.sum(F.col("m") * (F.col("m") - 1) / 2)
            ).alias("dropped")
        ),
    )

    def find_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        X = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0] = 1.0
        Xn = X / norms[:, None]
        S = Xn @ Xn.T
        iu = np.triu_indices(len(ids), k=1)
        keep = S[iu] >= 1.0 - eps
        a, b = ids[iu[0][keep]], ids[iu[1][keep]]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, "cos": S[iu][keep]}
        )

    out = d.groupBy("__sem_c__", "__sem_s__").applyInPandas(
        find_pairs, "id_a long, id_b long, cos double"
    )
    return Tibble(out.dropDuplicates(["id_a", "id_b"]))


@verb
def semantic_dedup(
    td: Tibble,
    embedding: Any,
    id_col: Any,
    eps: float = 0.05,
    n_clusters: int | None = None,
    max_cluster: int = 4096,
    resolve: str = "single_link",
    seed: int = 42,
) -> Tibble:
    """Drop semantic near-duplicates: keep one representative (the
    minimum id under ``single_link``; the component minimum under
    ``resolve='components'``) of every within-cluster pair at
    ``cosine >= 1 - eps``. See ``semantic_pairs`` for the plan shape."""
    idn = _name_of(id_col)
    pairs = semantic_pairs(
        td, embedding, id_col, eps=eps, n_clusters=n_clusters,
        max_cluster=max_cluster, seed=seed,
    ).df
    out = _drop_duplicates_by_pairs(
        td.df.select(*td.columns), pairs, idn, resolve
    )
    return Tibble(out, groups=td.group_vars, levels=td.levels)
