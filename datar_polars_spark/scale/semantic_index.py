"""Persistent semantic (embedding) index: incremental semantic
dedup/decontamination against an on-lake store.

The embedding sibling of ``dedup_index.py``: a 100 TB corpus's
hyperplane-LSH postings are computed ONCE and persisted next to the
data; each incoming batch then signs only ITSELF with the same
deterministic hyperplane family and equi-joins the stores — no
re-bucketing of the corpus, ever. The use cases are semantic dedup of
fresh crawls against the lake and benchmark decontamination where the
"benchmark" side is itself corpus-scale (the broadcast path of
``embedding_join`` stops fitting).

Layout under ``<path>/`` (parquet + JSON sidecar, same conventions as
the dedup index):

- ``vectors/``: (id, vec) — the indexed embeddings; candidate pairs
  join back here for EXACT cosine verification, so matching decisions
  are never left to the probabilistic layer.
- ``postings/`` (partitioned by ``band``): (band, bhash, id) — the
  hyperplane band hashes, bucket-capped at build/append time
  (matching never censuses the corpus; see dedup_index for the
  rationale).
- ``semantic_index.json``: bands/planes_per_band/seed/dim + column
  metadata. The hyperplane matrix itself is NOT stored — it
  regenerates deterministically from (seed, dim), which is also what
  makes independently signed sides comparable.

Same family contracts as the dedup index: NULL-embedding rows can
never match and always survive; NULL-id rows are exempt from matching
and are not indexed (a posting needs an identity); the survivors
frame materializes before an ``append=True`` write (Spark's scan
reuse would otherwise alias post-append reads to the stale listing —
see dedup_index's module docstring).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..tibble import Tibble, ensure_tibble
from .dedup import (
    _cap_buckets,
    _ensure_parallelism,
    _name_of,
    _register_dropped_pairs,
    cosine_sim,
)
from .jsonio import read_json_file, write_json_file
from .lsh import hyperplane_band_udf
from ..plans.cache import reliable_checkpoint
from .tombstones import (
    append_tombstones,
    delete_dir,
    mask_tombstones,
    tombstones_df,
)

__all__ = [
    "semantic_index_build",
    "semantic_index_append",
    "semantic_index_compact",
    "semantic_index_delete",
    "semantic_index_expire",
    "semantic_index_stats",
    "match_against_semantic_index",
    "dedup_against_semantic_index",
]

_FORMAT = "semantic-index"


def _build_stores(
    df: DataFrame, ename: str, idn: str, meta: dict, path: str,
    mode: str, probe_par: bool = True, op: str = "semantic_index_build",
    stamp: int | str = 0,
) -> None:
    """Compute and WRITE the (vectors, postings) stores — shared by
    build and append. Only rows with BOTH an id and an embedding are
    indexable. Every store row carries a retention ``stamp`` (r14,
    same contract as the fingerprint-index family).

    ONE source scan (r14 optimization): the vector base (id, cast vec,
    vh, stamp) persists across the two store writes — previously the
    vectors and postings writes each re-derived it from the SOURCE
    frame (two scans of the corpus, which may itself be an arbitrary
    upstream pipeline, plus a second cast + xxhash64 pass). Same
    hash-once discipline as fp_index._write_stores."""
    from .fp_index import _stamp_expr
    # vectors are CAST to the sidecar's element type on write: a batch
    # whose arithmetic promoted float embeddings to double (any
    # transform() with a double literal does) would otherwise append
    # parquet files the fixed-schema reads cannot reconcile. ``vh``
    # (xxhash64 of the cast vector) rides along as the exact-identity
    # key: byte-identical embeddings — recrawls, mirrored pages — are
    # caught by one cheap hash join at match time instead of flooding
    # the LSH buckets (every identical pair collides in EVERY band),
    # the same pre-pass rationale as dedup_index's fingerprint leg.
    base = df.select(
        F.col(idn).alias("id"),
        F.col(ename).cast(meta["vec_type"]).alias("vec"),
        _stamp_expr(df, stamp, op).alias("stamp"),
    ).filter(F.col(idn).isNotNull() & F.col(ename).isNotNull())
    base = base.withColumn("vh", F.xxhash64(F.col("vec")))
    if probe_par:
        base = _ensure_parallelism(base)
    from ..plans.cache import (
        register_internal_cache,
        unregister_internal_cache,
    )

    from pyspark import StorageLevel

    base = register_internal_cache(base.persist())
    banded = None
    try:
        hashes = hyperplane_band_udf(
            meta["seed"], meta["dim"], meta["bands"], meta["planes_per_band"]
        )
        # persist the banded frame: _cap_buckets consumes it twice
        # (bucket census + capped output), and an unpersisted frame
        # re-runs the Arrow hash pass over the whole corpus for each
        # consumer (r14). Narrow rows (id, stamp, band, bhash), spills
        # to disk past memory.
        banded = register_internal_cache(
            base.select(
                "id", "stamp",
                F.posexplode(hashes(F.col("vec"))).alias("band", "bhash"),
            ).persist(StorageLevel.MEMORY_AND_DISK)
        )
        postings = _cap_buckets(
            banded,
            ["band", "bhash"], meta["max_bucket"], op=op,
        ).select("band", "bhash", "id", "stamp")
        _write_frames(path, base, postings, mode)
    finally:
        if banded is not None:
            unregister_internal_cache(banded)
        unregister_internal_cache(base)


def _write_frames(path: str, vectors, postings, mode: str) -> None:
    # range-cluster postings on (band, bhash) before the partitioned
    # write — same small-files fix as dedup_index._write_frames (a
    # partitions-x-bands file explosion made sf1 matching 7x slower)
    postings = postings.repartitionByRange(
        F.col("band"), F.col("bhash")
    ).sortWithinPartitions("band", "bhash")
    vectors.write.mode(mode).parquet(f"{path}/vectors")
    postings.write.mode(mode).partitionBy("band").parquet(f"{path}/postings")


def _vec_type(df: DataFrame, ename: str) -> str:
    return df.schema[ename].dataType.simpleString()


def semantic_index_build(
    corpus: Any,
    embedding: Any,
    id_col: Any,
    path: str,
    *,
    bands: int = 32,
    planes_per_band: int = 8,
    seed: int = 42,
    max_bucket: int = 1000,
    mode: str = "overwrite",
    stamp: int | str = 0,
) -> None:
    """Build the persistent semantic index of ``corpus`` at ``path``.

    ``dim`` is probed from the first non-NULL embedding (one tiny
    driver job) and pinned in the sidecar — every later sign
    (append, match, index-backed streaming) regenerates the identical
    hyperplane family from (seed, dim). Pick bands/planes_per_band for
    the recall the pipeline needs at its cosine threshold
    (:func:`~datar_polars_spark.scale.dedup.hyperplane_recall` gives
    the curve); matching cannot change them without rebuilding."""
    # "most recent call" semantics for dropped_pairs_estimate: reset
    # this op's census list at entry (also drops retained frame refs)
    _register_dropped_pairs("semantic_index_build")
    td = ensure_tibble(corpus)
    ename, idn = _name_of(embedding), _name_of(id_col)
    first = (
        td.df.select(ename).where(F.col(ename).isNotNull()).first()
    )
    dim = len(first[0]) if first is not None else 0
    meta = {
        "format": _FORMAT,
        "version": 1,
        "stamps": True,  # r14: stores carry a retention stamp column
        "expire_before": 0,
        "bands": bands,
        "planes_per_band": planes_per_band,
        "seed": seed,
        "dim": dim,
        "max_bucket": max_bucket,
        "embedding_col": ename,
        "id_col": idn,
        "id_type": td.df.schema[idn].dataType.simpleString(),
        "vec_type": _vec_type(td.df, ename),
    }
    if dim == 0:
        # no signable vectors: write empty stores + the sidecar (the
        # dim pins on the first real append)
        empty_v = td.df.sparkSession.createDataFrame(
            [],
            f"id {meta['id_type']}, vec {meta['vec_type']}, vh bigint, "
            f"stamp bigint",
        )
        empty_p = td.df.sparkSession.createDataFrame(
            [], f"band int, bhash bigint, id {meta['id_type']}, stamp bigint"
        )
        _write_frames(path, empty_v, empty_p, mode)
    else:
        _build_stores(
            td.df.select(*td.columns), ename, idn, meta, path, mode,
            stamp=stamp,
        )
    write_json_file(td.df.sparkSession, f"{path}/semantic_index.json", meta)


def _load_meta(spark, path: str) -> dict:
    meta = read_json_file(spark, f"{path}/semantic_index.json")
    if not (isinstance(meta, dict) and meta.get("format") == _FORMAT):
        raise ValueError(
            f"{path}/semantic_index.json is not a semantic_index_build "
            f"sidecar"
        )
    return meta


def semantic_index_append(
    batch: Any,
    path: str,
    embedding: Any = None,
    id_col: Any = None,
    *,
    stamp: int | str = 0,
) -> None:
    """Append ``batch``'s vectors and postings to an existing index
    (parameters from the sidecar; columns default to the build-time
    names). A zero-dim sidecar (built from an all-NULL corpus) adopts
    the first appended batch's dimensionality."""
    _register_dropped_pairs("semantic_index_append")
    td = ensure_tibble(batch)
    spark = td.df.sparkSession
    meta = _load_meta(spark, path)
    ename = _name_of(embedding) if embedding is not None else meta["embedding_col"]
    idn = _name_of(id_col) if id_col is not None else meta["id_col"]
    got_t = td.df.schema[idn].dataType.simpleString()
    if got_t != meta["id_type"]:
        raise ValueError(
            f"semantic_index_append: id column {idn!r} is {got_t}, but "
            f"the index at {path} was built with id_type="
            f"{meta['id_type']!r}; cast the batch id first"
        )
    if (
        isinstance(stamp, int)
        and meta.get("expire_before", 0) > 0
        and stamp < meta["expire_before"]
    ):
        raise ValueError(
            f"semantic_index_append: stamp={stamp} is below the "
            f"index's retention watermark expire_before="
            f"{meta['expire_before']} — the rows would be dead on "
            f"arrival; stamp the increment at or past the watermark"
        )
    if meta["dim"] == 0:
        first = td.df.select(ename).where(F.col(ename).isNotNull()).first()
        if first is None:
            return  # nothing signable, nothing to append
        meta["dim"] = len(first[0])
        write_json_file(spark, f"{path}/semantic_index.json", meta)
    _build_stores(
        td.df.select(*td.columns), ename, idn, meta, path, "append",
        probe_par=False, op="semantic_index_append", stamp=stamp,
    )


def semantic_index_stats(
    spark, path: str, live: bool = False
) -> dict:
    """Sidecar parameters plus footer-only store row counts
    (``live=True`` adds ``n_live`` — the matchable vector count with
    the retention watermark and tombstones applied; costs a narrow
    scan)."""
    meta = _load_meta(spark, path)
    out = dict(meta)
    out["n_vectors"] = (
        spark.read
        .schema(f"id {meta['id_type']}, vec {meta['vec_type']}, vh bigint")
        .parquet(f"{path}/vectors").count()
    )
    out["n_postings"] = (
        spark.read.schema(f"bhash bigint, id {meta['id_type']}, band int")
        .parquet(f"{path}/postings").count()
    )
    tombs = tombstones_df(spark, path, meta["id_type"])
    out["n_tombstones"] = 0 if tombs is None else tombs.count()
    if live:
        # matchable vector count with the watermark + tombstones
        # applied (costs a narrow scan; default stays footer-only)
        from .fp_index import _prune_expired

        eff = (
            int(meta.get("expire_before") or 0)
            if meta.get("stamps") else 0
        )
        out["n_live"] = mask_tombstones(
            _prune_expired(
                spark.read.schema(
                    f"id {meta['id_type']}, vh bigint"
                    + (", stamp bigint" if eff > 0 else "")
                ).parquet(f"{path}/vectors"),
                eff,
            ),
            tombs,
        ).count()
    return out


def semantic_index_delete(spark, path: str, ids: Any) -> dict:
    """Tombstone ``ids`` out of the index (takedowns/retention without
    a rebuild): matching, dedup, and the streaming consumer mask them
    immediately; ``semantic_index_compact`` folds them physically and
    clears the sidecar. Returns the post-delete stats. Mask-until-
    compact contract in scale/tombstones.py — re-appending a
    tombstoned id requires a compact first."""
    meta = _load_meta(spark, path)
    append_tombstones(spark, path, ids, meta["id_type"])
    return semantic_index_stats(spark, path)


def match_against_semantic_index(
    batch: Any,
    path: str,
    embedding: Any = None,
    id_col: Any = None,
    *,
    threshold: float = 0.95,
    max_bucket: int = 1000,
    min_stamp: int | None = None,
    _exact_prunes_fuzzy: bool = False,
) -> Tibble:
    """All (batch row, indexed row) semantic matches at cosine >=
    ``threshold``: columns (id_a, id_b, cos), id_a from ``batch``.

    The batch signs with the sidecar's hyperplane family (one Arrow
    pass) — ONE representative per distinct embedding is banded,
    capped (batch side only — the store was capped at build), and
    joined against ``postings/``; matches fan back out to every batch
    row sharing that embedding. Byte-identical (batch, indexed) pairs
    come from a narrow exact-hash pre-pass (confirmed by vector
    equality, cos exactly 1.0) and are excluded from the fuzzy leg so
    no pair is reported twice; exact-matched batch rows STILL receive
    their fuzzy matches to other, non-identical indexed vectors (their
    representative is banded like any other — the r12 revision skipped
    them entirely). Every fuzzy candidate verifies with EXACT cosine
    against ``vectors/``, so false positives are impossible; the
    probabilistic behavior is LSH recall (size the banding with
    hyperplane_recall) plus a theoretical xxhash64-collision miss at
    p ~ 2^-64 per distinct-vector pair (two distinct embeddings
    sharing a 64-bit hash band under one representative).
    NULL-embedding and NULL-id batch rows never match.

    ``_exact_prunes_fuzzy`` (internal, used by
    dedup_against_semantic_index): exact-matched batch rows are
    EXCLUDED from fuzzy candidate generation — an any-hit consumer
    gets no extra information from their fuzzy matches, and a
    replica-heavy recrawl batch then pays ~zero fuzzy cost (every
    replica resolves in the narrow hash join). Leaves the "all
    matches" contract deliberately incomplete; the public default
    keeps it complete."""
    _register_dropped_pairs("match_against_semantic_index")
    td = ensure_tibble(batch)
    spark = td.df.sparkSession
    meta = _load_meta(spark, path)
    from .fp_index import _prune_expired, retention_cutoff

    # retention cutoff (caller min_stamp or the sidecar watermark):
    # enforced on both store scans as a pushed-down stamp predicate
    eff = retention_cutoff(
        meta, min_stamp, "match_against_semantic_index", path,
        "semantic_index_build",
    )
    _st = ", stamp bigint" if eff > 0 else ""
    ename = _name_of(embedding) if embedding is not None else meta["embedding_col"]
    idn = _name_of(id_col) if id_col is not None else meta["id_col"]
    idt = meta["id_type"]
    ta = td.df.schema[idn].dataType.simpleString()
    if meta["dim"] == 0:
        return Tibble(
            spark.createDataFrame([], f"id_a {ta}, id_b {idt}, cos double")
        )
    from ..plans.cache import register_internal_cache

    # persist the hashed batch (it feeds the exact leg, the fuzzy-base
    # derivation, the rep aggregation, and the fan-out); the count()
    # materializes the persist and gives the exact cardinality for the
    # broadcast decision — byte-aware, because a batch row carries the
    # full embedding (dim doubles, not a 16-byte fingerprint)
    base = register_internal_cache(
        _ensure_parallelism(
            td.df.select(
                F.col(idn).alias("id_a"),
                F.col(ename).alias("v_a"),
                F.xxhash64(F.col(ename).cast(meta["vec_type"])).alias("vh"),
            )
            .filter(F.col(idn).isNotNull() & F.col(ename).isNotNull())
        ).persist()
    )
    n_batch = base.count()
    est_bytes = n_batch * (meta["dim"] * 8 + 48)
    # pin the batch-side broadcast below ~256 MB of estimated payload
    # (the r5 finding: AQE does not reliably demote to broadcast) —
    # the corpus-scale vector/posting stores then never shuffle for a
    # small batch
    small = est_bytes <= 256 * 1024 * 1024

    def _pin(df):
        return F.broadcast(df) if small else df
    tombs = tombstones_df(spark, path, idt)
    vectors = mask_tombstones(
        _prune_expired(
            spark.read
            .schema(f"id {idt}, vec {meta['vec_type']}, vh bigint{_st}")
            .parquet(f"{path}/vectors"),
            eff,
        ),
        tombs,
    ).select(
        F.col("id").alias("id_b"),
        F.col("vec").alias("v_b"),
        F.col("vh").alias("__svh__"),
    )
    # EXACT pre-pass (same rationale as dedup_index's fingerprint
    # leg): byte-identical embeddings — recrawls, mirrors — collide in
    # EVERY LSH band, so they are caught by one narrow hash join and
    # excluded from fuzzy candidate generation. The hash match is
    # CONFIRMED by vector equality (an xxhash64 collision can
    # therefore never drop a non-identical doc; the only theoretical
    # artifact is a collided batch row skipping the fuzzy phase,
    # p ~ 2^-64 per pair — far below any LSH miss probability).
    # Identical vectors have cosine exactly 1.0 >= any threshold <= 1.
    # The hash-hit set is materialized when a second consumer exists
    # (_exact_prunes_fuzzy derives the matched-vh set from it), so the
    # corpus-scale vector store is scanned ONCE for the exact leg
    # instead of twice (r14). localCheckpoint, NOT persist: a
    # persisted plan that reads the store would be served stale by
    # canonical-plan cache matching after a compact's rename swap
    # (same hazard as dedup_index's hit set — verified there).
    from pyspark import StorageLevel

    # r15 (advice): the byte-equality flag is computed BEFORE the
    # lineage cut, so the materialized hit set is (id_a, vh, id_b, eq)
    # scalars — the r14 form checkpointed both full embedding vectors
    # per hash hit (2 x dim x 8 bytes/hit of executor storage for a
    # replica-heavy batch); the exact leg only needs the flag and
    # matched_vh only needs vh.
    hits_vh = (
        _pin(base).join(vectors, base["vh"] == vectors["__svh__"])
        .select(
            "id_a", "vh", "id_b",
            (F.col("v_a").cast(meta["vec_type"]) == F.col("v_b"))
            .alias("__eq__"),
        )
    )
    if _exact_prunes_fuzzy:
        hits_vh = hits_vh.transform(reliable_checkpoint, eager=False)
    exact = (
        hits_vh
        .filter(F.col("__eq__"))
        .select("id_a", "id_b", F.lit(1.0).alias("cos"))
    )
    hashes = hyperplane_band_udf(
        meta["seed"], meta["dim"], meta["bands"], meta["planes_per_band"]
    )
    # DISTINCT-VECTOR fuzzy candidate generation (r13): one
    # representative per distinct embedding hash is banded, bucketed
    # against the postings, and rep-verified; surviving matches fan
    # back out to every batch row sharing that hash. Two properties
    # at once: (1) a replica-heavy batch (recrawls, mirrors — every
    # identical pair collides in EVERY band) pays banding, the bucket
    # join, the pair dedup, and the store-vector fetch at
    # distinct-vector cost, not row cost; (2) a batch row
    # byte-identical to SOME indexed vector still gets its fuzzy
    # matches to OTHER indexed vectors (r12 excluded such rows from
    # fuzzy generation entirely, under-reporting the documented "all
    # matches" contract). Candidates stay NARROW — bare (vh, id_b)
    # pairs first, payloads joined back exactly once.
    fuzzy_base = base
    if _exact_prunes_fuzzy:
        # any-hit consumers: only exact-SURVIVING rows need fuzzy
        # candidates. A direct anti-join against the vector store
        # would SHUFFLE the corpus-scale store (left_anti cannot
        # broadcast its probe side): the matched-vh set projected from
        # the persisted hash-hit set is batch-bounded — broadcast it
        # for a small batch, shuffle batch-vs-matched (never
        # batch-vs-store) for a big one — and costs NO second store
        # scan (r14: the store was scanned again here).
        matched_vh = hits_vh.select(
            F.col("vh").alias("__mvh__")
        ).dropDuplicates()
        fuzzy_base = base.join(
            F.broadcast(matched_vh) if small else matched_vh,
            base["vh"] == F.col("__mvh__"),
            "left_anti",
        )
    # reps feeds the banding (whose bucket-cap census and candidate
    # join are two separate consumers) and the rep-verify join — an
    # unpersisted frame re-runs the groupBy per consumer, and the
    # banded frame's Arrow hash pass would run twice (census + join).
    # Persist both: narrow, distinct-vector-bounded (r14).
    reps = register_internal_cache(
        fuzzy_base.groupBy("vh").agg(F.first("v_a").alias("v_r"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    banded = _cap_buckets(
        register_internal_cache(
            reps.select(
                "vh",
                F.posexplode(hashes(F.col("v_r"))).alias("band", "bhash"),
            ).persist(StorageLevel.MEMORY_AND_DISK)
        ),
        ["band", "bhash"], max_bucket, op="match_against_semantic_index",
    )
    postings = mask_tombstones(
        _prune_expired(
            spark.read.schema(f"bhash bigint, id {idt}, band int{_st}")
            .parquet(f"{path}/postings"),
            eff,
        ),
        tombs,
    ).select("band", "bhash", F.col("id").alias("id_b"))
    # rep-level verify: exact cosine on the representative vector,
    # and byte-identical pairs are EXCLUDED here — they are exactly
    # the exact leg's rows (reporting both would duplicate pairs)
    verified = (
        _pin(banded).join(postings, on=["band", "bhash"])
        .select("vh", "id_b")
        .dropDuplicates(["vh", "id_b"])
        .join(reps, on="vh")
        .join(vectors.select("id_b", "v_b"), on="id_b")
        .filter(
            (cosine_sim(F.col("v_r"), F.col("v_b")) >= threshold)
            & ~(F.col("v_r").cast(meta["vec_type"]) == F.col("v_b"))
        )
        .select("vh", "id_b", "v_b")
    )
    # fan back out to every batch row with that hash; the final cosine
    # is computed from the ROW's own vector and re-thresholded, so a
    # hash-collided non-representative row can never emit a false
    # positive (it can only miss, at the documented ~2^-64)
    fuzzy = (
        verified.join(fuzzy_base.select("id_a", "v_a", "vh"), on="vh")
        .withColumn("cos", cosine_sim(F.col("v_a"), F.col("v_b")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )
    return Tibble(exact.unionByName(fuzzy))


def dedup_against_semantic_index(
    batch: Any,
    path: str,
    embedding: Any = None,
    id_col: Any = None,
    *,
    threshold: float = 0.95,
    max_bucket: int = 1000,
    append: bool = False,
    min_stamp: int | None = None,
    stamp: int | str = 0,
) -> Tibble:
    """Drop every ``batch`` row whose embedding matches an indexed row
    at cosine >= ``threshold``; return survivors with their original
    columns. ``append=True`` admits the survivors into the index (so
    the next batch also dedups against them), materializing them first
    (see the module docstring's read-after-append note). The
    incremental semantic-dedup / corpus-scale decontamination loop."""
    td = ensure_tibble(batch)
    hits = match_against_semantic_index(
        td, path, embedding, id_col,
        threshold=threshold, max_bucket=max_bucket,
        min_stamp=min_stamp,
        # any hit drops the row, so exact-matched rows need no fuzzy
        # matches: a replica-heavy recrawl batch resolves in the
        # narrow hash join instead of banding every distinct vector
        _exact_prunes_fuzzy=True,
    )
    meta = _load_meta(td.df.sparkSession, path)
    idn = _name_of(id_col) if id_col is not None else meta["id_col"]
    surv = td.df.select(*td.columns).join(
        hits.df.select(F.col("id_a").alias(idn)).dropDuplicates(),
        on=idn, how="left_anti",
    )
    if append:
        surv = surv.transform(reliable_checkpoint, eager=True)
    out = Tibble(surv, groups=td.group_vars, levels=td.levels)
    if append:
        ename = (
            _name_of(embedding) if embedding is not None
            else meta["embedding_col"]
        )
        semantic_index_append(out, path, ename, idn, stamp=stamp)
    return out


def semantic_index_expire(spark, path: str, before: int) -> dict:
    """Age-based retention — the TTL complement of the id-list
    tombstones: raise the index's ``expire_before`` watermark so every
    match/dedup/stream read immediately prunes store rows stamped (at
    build/append time, caller-defined units — e.g. a crawl date)
    before ``before`` via a pushed-down scan predicate, and the next
    ``semantic_index_compact`` drops them physically. Monotonic,
    survives compaction; no id list or join anywhere — expiry is one
    sidecar write. Same contract as the fingerprint family's
    ``*_index_expire``. Returns the post-expire stats."""
    meta = _load_meta(spark, path)
    if not meta.get("stamps"):
        raise ValueError(
            f"semantic_index_expire: the index at {path} predates "
            f"retention stamps — rebuild with semantic_index_build to "
            f"use expiry"
        )
    if before < 0:
        raise ValueError(
            f"semantic_index_expire: before must be >= 0, got {before}"
        )
    meta["expire_before"] = max(int(meta.get("expire_before") or 0),
                                int(before))
    write_json_file(spark, f"{path}/semantic_index.json", meta)
    return semantic_index_stats(spark, path)


def semantic_index_compact(spark, path: str) -> dict:
    """Rewrite the semantic index's accumulated per-append file sets
    into one compact, range-clustered layout and re-apply the bucket
    cap ACROSS increments — the mirror of
    :func:`~datar_polars_spark.scale.dedup_index.dedup_index_compact`
    for the hyperplane index (same fragmentation and cross-increment
    over-full-bucket lifecycle, same single-writer swap discipline).

    Byte-duplicate rows (the same vector/posting appended twice) are
    dropped; distinct ids stay distinct entries even when their
    vectors are identical (dedup policy belongs to
    dedup_against_semantic_index, not to store maintenance). The
    cross-increment cap's drop estimate is pinned under
    ``dropped_pairs_estimate("semantic_index_compact")`` and returned
    alongside the post-compact stats."""
    from .dedup import dropped_pairs_estimate
    from .jsonio import replace_dir

    meta = _load_meta(spark, path)
    _register_dropped_pairs("semantic_index_compact")
    idt, vt = meta["id_type"], meta["vec_type"]
    stamped = bool(meta.get("stamps"))
    eff = int(meta.get("expire_before") or 0) if stamped else 0
    _st = ", stamp bigint" if stamped else ""
    tombs = tombstones_df(spark, path, idt)
    vectors = mask_tombstones(
        spark.read.schema(f"id {idt}, vec {vt}, vh bigint{_st}")
        .parquet(f"{path}/vectors"),
        tombs,
    )
    postings_raw = mask_tombstones(
        spark.read.schema(f"bhash bigint, id {idt}, band int{_st}")
        .parquet(f"{path}/postings"),
        tombs,
    ).select("band", "bhash", "id", *(["stamp"] if stamped else []))
    if stamped:
        # expired rows drop physically; byte-duplicate rows fold
        # latest-stamp-wins (a re-append REFRESHES retention). Keys
        # stay (id, vh) / full posting — distinct ids stay distinct
        # entries even when their vectors are identical (dedup policy
        # belongs to dedup_against_semantic_index, not maintenance)
        if eff > 0:
            vectors = vectors.filter(F.col("stamp") >= eff)
            postings_raw = postings_raw.filter(F.col("stamp") >= eff)
        vectors = vectors.groupBy("id", "vh").agg(
            F.first("vec").alias("vec"), F.max("stamp").alias("stamp")
        ).select("id", "vec", "vh", "stamp")
        postings_raw = postings_raw.groupBy("band", "bhash", "id").agg(
            F.max("stamp").alias("stamp")
        )
    else:
        vectors = vectors.dropDuplicates(["id", "vh"])
        postings_raw = postings_raw.dropDuplicates(["band", "bhash", "id"])
    postings = _cap_buckets(
        postings_raw,
        ["band", "bhash"], meta["max_bucket"],
        op="semantic_index_compact",
    ).repartitionByRange(
        F.col("band"), F.col("bhash")
    ).sortWithinPartitions("band", "bhash")
    # both tmp writes read only live stores — a failure here leaves
    # the index untouched; the swap below is the only mutating step
    vectors.write.mode("overwrite").parquet(f"{path}/vectors__compact")
    postings.write.mode("overwrite").partitionBy("band").parquet(
        f"{path}/postings__compact"
    )
    # pin the lazy cap census before the swap changes what the live
    # postings path contains
    dropped = dropped_pairs_estimate("semantic_index_compact")
    _register_dropped_pairs(
        "semantic_index_compact",
        spark.createDataFrame([(float(dropped),)], "dropped double"),
    )
    replace_dir(spark, f"{path}/vectors__compact", f"{path}/vectors")
    replace_dir(spark, f"{path}/postings__compact", f"{path}/postings")
    # tombstones are folded into the rewritten stores: clear the
    # sidecar LAST (a crash before this line leaves tombstones
    # harmlessly masking already-absent ids)
    if tombs is not None:
        delete_dir(spark, f"{path}/tombstones")
    out = semantic_index_stats(spark, path)
    out["dropped_pairs"] = dropped
    return out
