"""Persistent dedup index: incremental dedup against an on-lake store.

The missing batch half of the crawl-over-crawl story: a 100 TB corpus
cannot be re-shingled every time a new 1 TB crawl arrives.
``stream_near_dedup`` (streaming/__init__.py) solves this for live
feeds; this module solves it for batch — build the corpus's exact
fingerprints + MinHash signatures ONCE, persist them next to the data
(file://, hdfs://, s3a:// — everything goes through parquet + the
Hadoop FileSystem JSON sidecar in jsonio.py), then dedup each incoming
batch by joining only the BATCH's signatures against the store.

Layout under ``<path>/`` (all parquet, all narrow on purpose):

- ``fingerprints/``: (fp, id) — one row per DISTINCT normalized-text
  md5 with the minimum id that carries it. Size ~ distinct docs, not
  rows.
- ``sigs/``: (id, sig array<bigint>) — one MinHash signature per
  indexed doc (num_perm longs).
- ``bands/`` (partitioned by ``band``): (band, bhash, id) — the LSH
  bucket postings. Deliberately does NOT carry the signature: postings
  are ~24 bytes/row instead of ~(8·num_perm) — at 10^11 docs × 16
  bands that is the difference between 40 TB and 2 TB of index. The
  verify step joins the few CANDIDATES back to ``sigs/`` instead.
- ``grams/`` (only with ``store_grams=True``): (id, grams
  array<string>) — the distinct shingle sets, enabling
  ``verify="exact"`` (deterministic, oracle-checkable drops) at the
  cost of re-storing ~the text mass. Off by default at corpus scale.
- ``dedup_index.json``: the parameter sidecar. Matching ALWAYS uses
  the sidecar's parameters — signatures are only comparable when both
  sides hash the same shingles with the same permutation family.

Read-after-append hazard: a frame computed against the store captures
the store's file listing in its plan, and composing it with a
POST-append read of the same path in one query lets Spark's
scan/exchange reuse alias the fresh read back to the stale listing.
``dedup_against_index(append=True)`` therefore materializes the
survivors (bounded internal persist) before appending; if you call
``dedup_index_append`` yourself, write or persist any frame you
derived from the pre-append store before composing it with
post-append reads.

NULL handling follows the r12 family contract (NULL-id documents are
never deleted): batch rows with NULL ids are exempt from matching and
always survive; corpus rows with NULL ids contribute their fingerprint
(exact dups of them are still caught) but not MinHash postings
(``_minhash_sigs`` groups by id, and NULL would fold distinct docs
into one bogus signature). NULL-text rows fingerprint as the NULL fp
— a batch NULL-text doc is an exact dup of an indexed NULL-text doc
(same "one cluster" semantics as ``_fingerprint_survivors``).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..tibble import Tibble, ensure_tibble
from .dedup import (
    _cap_buckets,
    _minhash_sigs,
    _name_of,
    _register_dropped_pairs,
    _shingles,
)
from .jsonio import read_json_file, write_json_file
from .lsh import minhash_banded
from ..plans.cache import reliable_checkpoint
from .tombstones import (
    append_tombstones,
    delete_dir,
    mask_tombstones,
    tombstones_df,
)

__all__ = [
    "dedup_index_build",
    "dedup_index_append",
    "dedup_index_compact",
    "dedup_index_delete",
    "dedup_index_expire",
    "dedup_index_stats",
    "match_against_index",
    "dedup_against_index",
]

_FORMAT = "dedup-index"

# broadcast-pin bound for the hashed batch side of the store joins: a
# normalized batch row in the exact leg is (id, 32-char fp) ~ 70
# bytes, and the banded frame is (band, bhash, id) ~ 24 — 2M rows
# lands the biggest broadcast near 140 MB, cheap on any executor
# profile and far past where a recrawl batch stops being "small"
# relative to the corpus store
_BROADCAST_BATCH_ROWS = 2_000_000


def _fingerprint(col):
    """Normalized-text md5 — same normalization as
    dedup._fingerprint_survivors (lowercase, trim, whitespace runs
    collapsed to one space), so an index built here and an in-corpus
    exact pre-pass agree on what "identical" means."""
    return F.md5(
        F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ").cast("binary")
    )


def _build_stores(
    df: DataFrame, tname: str, idn: str, meta: dict, path: str,
    mode: str, probe_par: bool = True, op: str = "dedup_index_build",
    stamp: int | str = 0,
) -> None:
    """Compute and WRITE the (fingerprints, sigs, bands, grams?) stores
    for ``df`` — shared by build and append so the two can never drift.

    Signatures are computed for one representative per distinct
    fingerprint (the minimum non-NULL id): identical copies share
    every band, so indexing each copy would only inflate the postings
    and re-create the giant-bucket problem the in-corpus exact
    pre-pass exists to avoid. Exact copies are still all caught — by
    the fingerprint leg.

    Every store row carries a retention ``stamp`` (r14, same contract
    as the fingerprint-index family). The store rows are per distinct
    TEXT CLASS, so the class stamps with the max over its members in
    this increment: a text class expires only when its youngest
    indexed instance is older than the cutoff.

    ONE corpus scan, ONE text-mass shuffle (r14 optimization): the
    fingerprint aggregation and the per-class representative come from
    a single groupBy(fp) (min skips NULL ids exactly like the old
    separate fps aggregation; min_by with a null-guarded key skips
    NULL-id rows exactly like the old pre-filtered rep aggregation).
    The per-class frame persists across the store writes and the
    signature frame (id + num_perm longs, narrow) persists across the
    sigs and bands writes — previously the corpus was scanned once PER
    STORE (3x) and the text mass crossed a groupBy(fp) exchange twice
    (sigs + bands writes re-derived the representative independently).
    Measured at sf0.1: build 5.7 s -> 3.8 s warm; at 100 TB the win is
    structural — one scan + one full-mass shuffle is the floor for
    "group identical texts, sign each class once".
    """
    from ..plans.cache import (
        register_internal_cache,
        unregister_internal_cache,
    )
    from .dedup import _ensure_parallelism
    from .fp_index import _stamp_expr

    base = df.select(
        F.col(idn).alias("id"),
        F.col(tname).alias("__text__"),
        _fingerprint(F.col(tname)).alias("fp"),
        _stamp_expr(df, stamp, op).alias("stamp"),
    )
    # probe_par=False for callers whose input already sits behind a
    # shuffle (append after a match): the partition probe would
    # finalize the AQE plan and re-execute those stages
    if probe_par:
        base = _ensure_parallelism(base)
    # one row per distinct fingerprint: the store-facing min id over
    # ALL rows (F.min skips NULLs), the retention stamp over all rows,
    # the representative (min non-NULL id, carrying its text — the
    # null-guarded min_by key skips NULL-id rows), and the rep rows'
    # own stamp (NULL-id rows must not refresh a class's signature
    # stamp — they contribute no postings)
    from pyspark import StorageLevel

    classes = register_internal_cache(
        base.groupBy("fp")
        .agg(
            F.min("id").alias("id"),
            F.max("stamp").alias("stamp"),
            F.min_by(
                F.struct(F.col("id"), F.col("__text__")),
                F.when(F.col("id").isNotNull(), F.col("id")),
            ).alias("__w__"),
            F.max(
                F.when(F.col("id").isNotNull(), F.col("stamp"))
            ).alias("__rstamp__"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        fps = classes.select("fp", "id", "stamp")
        rep = classes.filter(F.col("__w__").isNotNull()).select(
            F.col("__w__.id").alias("id"),
            F.col("__w__.__text__").alias("__text__"),
            F.col("__rstamp__").alias("stamp"),
        )
        sigs = register_internal_cache(
            _minhash_sigs(
                rep, "__text__", "id", meta["num_perm"],
                meta["shingle_words"], meta["analyzer"],
                meta["shingle_chars"],
                ensure_par=False,  # rep is post-shuffle
                carry=["stamp"],  # rides the signing row, no join-back
                # rep ids are unique non-NULL by construction (one
                # min_by representative per distinct fingerprint; a
                # doc has one fp) — skip the duplicate-id fold's
                # exchange: the signing pass is a narrow map (r15)
                unique_ids=True,
            ).persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            rows_per_band = meta["num_perm"] // meta["bands"]
            # postings are capped HERE, not at match time: the bucket
            # census costs one scan+shuffle of the postings, so it must
            # run once per build/append increment, never once per
            # incoming batch (a match only censuses the BATCH side).
            # Appends cap within their own increment — a bucket can
            # exceed the cap across increments; rebuild when that
            # matters.
            bands = _cap_buckets(
                minhash_banded(sigs, "sig", meta["bands"], rows_per_band),
                ["band", "bhash"], meta["max_bucket"],
                op=op,
            ).select("band", "bhash", "id", "stamp")
            grams = None
            if meta["store_grams"]:
                grams = rep.select(
                    "id",
                    F.array_distinct(
                        _shingles(
                            F.col("__text__"), meta["shingle_words"],
                            meta["analyzer"], meta["shingle_chars"],
                        )
                    ).alias("grams"),
                    "stamp",
                )
            _write_frames(path, fps, sigs, bands, grams, mode)
        finally:
            unregister_internal_cache(sigs)
    finally:
        unregister_internal_cache(classes)


def _write_frames(
    path: str, fps, sigs, bands, grams, mode: str
) -> None:
    # postings range-cluster on (band, bhash) before the partitioned
    # write: without it every shuffle partition writes a sliver into
    # every band directory (partitions x bands tiny files — measured
    # 7x slower matching at sf1 from file-open overhead alone), while
    # ranged tasks each cover one or two bands and the within-file
    # bhash ordering tightens parquet row-group min/max stats for any
    # reader that pushes bhash predicates
    bands = bands.repartitionByRange(
        F.col("band"), F.col("bhash")
    ).sortWithinPartitions("band", "bhash")
    fps.write.mode(mode).parquet(f"{path}/fingerprints")
    sigs.write.mode(mode).parquet(f"{path}/sigs")
    bands.write.mode(mode).partitionBy("band").parquet(f"{path}/bands")
    if grams is not None:
        grams.write.mode(mode).parquet(f"{path}/grams")


def dedup_index_build(
    corpus: Any,
    text: Any,
    id_col: Any,
    path: str,
    *,
    num_perm: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
    analyzer: str = "word",
    shingle_chars: int = 12,
    store_grams: bool = False,
    max_bucket: int = 1000,
    mode: str = "overwrite",
    stamp: int | str = 0,
) -> None:
    """Build the persistent dedup index of ``corpus`` at ``path``.

    One pass over the corpus: fingerprint aggregation + signature
    computation for one representative per distinct fingerprint (see
    _build_stores), written as the four parquet stores + the parameter
    sidecar described in the module docstring. The corpus itself is
    NOT self-deduplicated here — run minhash_dedup/dedup_exact first
    if it needs to be; an index over a non-deduped corpus still drops
    batch duplicates correctly (it just stores more fingerprints).

    Matching always replays the sidecar's parameters, so pick
    num_perm/bands here for the RECALL the pipeline needs at its
    dedup threshold (minhash_recall gives the curve) — a later
    match_against_index call cannot change them without rebuilding.
    """
    if num_perm % bands:
        raise ValueError(
            f"num_perm ({num_perm}) must be divisible by bands ({bands})"
        )
    # dropped_pairs_estimate() documents "most recent call" semantics:
    # reset this op's census list at entry (also releases the frame
    # references the registry would otherwise retain indefinitely)
    _register_dropped_pairs("dedup_index_build")
    td = ensure_tibble(corpus)
    tname, idn = _name_of(text), _name_of(id_col)
    meta = {
        "format": _FORMAT,
        "version": 1,
        "stamps": True,  # r14: stores carry a retention stamp column
        "expire_before": 0,
        "num_perm": num_perm,
        "bands": bands,
        "shingle_words": shingle_words,
        "analyzer": analyzer,
        "shingle_chars": shingle_chars,
        "store_grams": store_grams,
        "max_bucket": max_bucket,
        "text_col": tname,
        "id_col": idn,
        # recorded so every store is read with an EXPLICIT schema:
        # no footer sniffing at scan setup, and an empty store (e.g.
        # a corpus whose docs all lacked text) still reads cleanly
        "id_type": td.df.schema[idn].dataType.simpleString(),
    }
    _build_stores(
        td.df.select(*td.columns), tname, idn, meta, path, mode,
        stamp=stamp,
    )
    write_json_file(td.df.sparkSession, f"{path}/dedup_index.json", meta)


def _load_meta(spark, path: str) -> dict:
    meta = read_json_file(spark, f"{path}/dedup_index.json")
    if not (isinstance(meta, dict) and meta.get("format") == _FORMAT):
        raise ValueError(
            f"{path}/dedup_index.json is not a dedup_index_build sidecar"
        )
    return meta


def dedup_index_append(
    batch: Any,
    path: str,
    text: Any = None,
    id_col: Any = None,
    *,
    stamp: int | str = 0,
) -> None:
    """Append ``batch``'s fingerprints/signatures/postings to an
    existing index — the "accept the survivors into the corpus" half
    of the incremental loop (dedup_against_index(append=True) calls
    this). Parameters come from the sidecar; text/id columns default
    to the ones the index was built with.

    Appending does not re-aggregate: a fingerprint the store already
    holds gains a second (fp, id) row. That is correct for matching
    (existence is what drops a future dup) and avoids rewriting the
    store; rebuild when the accumulated duplication is worth
    reclaiming."""
    _register_dropped_pairs("dedup_index_append")
    td = ensure_tibble(batch)
    meta = _load_meta(td.df.sparkSession, path)
    tname = _name_of(text) if text is not None else meta["text_col"]
    idn = _name_of(id_col) if id_col is not None else meta["id_col"]
    got_t = td.df.schema[idn].dataType.simpleString()
    if got_t != meta["id_type"]:
        # appending a different physical type would poison the stores:
        # the explicit-schema reads (and parquet itself) cannot merge
        # int/bigint/string files under one column
        raise ValueError(
            f"dedup_index_append: id column {idn!r} is {got_t}, but the "
            f"index at {path} was built with id_type="
            f"{meta['id_type']!r}; cast the batch id first"
        )
    if (
        isinstance(stamp, int)
        and meta.get("expire_before", 0) > 0
        and stamp < meta["expire_before"]
    ):
        raise ValueError(
            f"dedup_index_append: stamp={stamp} is below the index's "
            f"retention watermark expire_before="
            f"{meta['expire_before']} — the rows would be dead on "
            f"arrival; stamp the increment at or past the watermark"
        )
    _build_stores(
        td.df.select(*td.columns), tname, idn, meta, path, "append",
        probe_par=False, op="dedup_index_append", stamp=stamp,
    )


def dedup_index_stats(spark, path: str, live: bool = False) -> dict:
    """Sidecar parameters plus store row counts — the operational
    health check before pointing a pipeline at an index. Counts come
    from parquet footer metadata (count() on a bare scan), so this
    reads no data pages even on a corpus-scale index. After appends,
    ``n_fingerprints`` can exceed the number of distinct fingerprints
    (dedup_index_append documents why); a large gap is the signal to
    rebuild."""
    meta = _load_meta(spark, path)
    idt = meta["id_type"]
    out = dict(meta)
    out["n_fingerprints"] = (
        spark.read.schema(f"fp string, id {idt}")
        .parquet(f"{path}/fingerprints").count()
    )
    out["n_signatures"] = (
        spark.read.schema(f"id {idt}, sig array<bigint>")
        .parquet(f"{path}/sigs").count()
    )
    out["n_postings"] = (
        spark.read.schema(f"bhash bigint, id {idt}, band int")
        .parquet(f"{path}/bands").count()
    )
    if meta["store_grams"]:
        out["n_grams"] = (
            spark.read.schema(f"id {idt}, grams array<string>")
            .parquet(f"{path}/grams").count()
        )
    tombs = tombstones_df(spark, path, idt)
    out["n_tombstones"] = 0 if tombs is None else tombs.count()
    if live:
        # the MATCHABLE fingerprint-class count with the retention
        # watermark and tombstones applied (costs a narrow scan; the
        # default counts stay footer-only)
        from .fp_index import _prune_expired

        eff = (
            int(meta.get("expire_before") or 0)
            if meta.get("stamps") else 0
        )
        out["n_live"] = mask_tombstones(
            _prune_expired(
                spark.read.schema(
                    f"fp string, id {idt}"
                    + (", stamp bigint" if eff > 0 else "")
                ).parquet(f"{path}/fingerprints"),
                eff,
            ),
            tombs,
        ).count()
    return out


def dedup_index_delete(spark, path: str, ids: Any) -> dict:
    """Tombstone ``ids`` out of the index (takedowns/retention without
    a rebuild): matching, dedup, and the streaming consumer mask them
    immediately; ``dedup_index_compact`` folds them physically and
    clears the sidecar. Returns the post-delete stats. Mask-until-
    compact contract in scale/tombstones.py — re-appending a
    tombstoned id requires a compact first."""
    meta = _load_meta(spark, path)
    append_tombstones(spark, path, ids, meta["id_type"])
    return dedup_index_stats(spark, path)


def match_against_index(
    batch: Any,
    path: str,
    text: Any = None,
    id_col: Any = None,
    *,
    threshold: float = 0.7,
    max_bucket: int = 1000,
    verify: str = "estimate",
    min_stamp: int | None = None,
) -> Tibble:
    """All (batch doc, indexed doc) duplicate matches: columns
    (id_a, id_b, via, jaccard[_est]) with id_a from ``batch``, id_b
    the indexed doc's id, via in ('exact', 'minhash').

    Exact matches (identical normalized text) come from one null-safe
    equi-join of the batch's fingerprints against ``fingerprints/``
    and carry jaccard 1.0. Fuzzy candidates come from signing ONLY the
    exact-surviving batch rows (identical copies would flood their LSH
    buckets — same pre-pass rationale as minhash_dedup) and joining
    their band hashes against ``bands/`` — a keyed shuffle whose width
    is the BATCH size, never the corpus size. ``verify="estimate"``
    scores candidates by signature agreement against ``sigs/``
    (column jaccard_est); ``verify="exact"`` requires the index to
    have been built with ``store_grams=True`` and emits exact n-gram
    Jaccard (column jaccard) — deterministic, oracle-checkable.
    Bucket capping applies per side, like minhash_join.

    Batch rows with NULL ids are exempt (never matched, never
    dropped); an exactly-matching batch doc appears only in the
    'exact' rows (it is excluded from fuzzy candidate generation)."""
    td = ensure_tibble(batch)
    return _match(
        td, path, _load_meta(td.df.sparkSession, path), text, id_col,
        threshold=threshold, max_bucket=max_bucket, verify=verify,
        min_stamp=min_stamp,
    )


def _match(td: Tibble, path: str, meta: dict, text, id_col, *,
           threshold, max_bucket, verify, min_stamp) -> Tibble:
    """match_against_index over an already loaded sidecar."""
    if verify not in ("estimate", "exact"):
        raise ValueError(f"verify must be 'estimate' or 'exact', got {verify!r}")
    _register_dropped_pairs("match_against_index")
    spark = td.df.sparkSession
    from .fp_index import _prune_expired, retention_cutoff

    # retention cutoff (caller min_stamp or the sidecar watermark):
    # enforced on every store scan as a pushed-down stamp predicate
    eff = retention_cutoff(
        meta, min_stamp, "match_against_index", path, "dedup_index_build"
    )
    _st = ", stamp bigint" if eff > 0 else ""
    if verify == "exact" and not meta["store_grams"]:
        raise ValueError(
            "verify='exact' needs the gram store; rebuild the index "
            "with dedup_index_build(..., store_grams=True)"
        )
    tname = _name_of(text) if text is not None else meta["text_col"]
    idn = _name_of(id_col) if id_col is not None else meta["id_col"]
    jcol = "jaccard" if verify == "exact" else "jaccard_est"

    from ..plans.cache import register_internal_cache
    from .dedup import _ensure_parallelism

    # persist the normalized batch: it feeds the exact leg, the
    # fuzzy-survivor derivation, and the signing/gram passes — and the
    # count() both materializes the persist and gives the EXACT batch
    # cardinality for the broadcast decision (runtime truth, not an
    # estimate)
    base = register_internal_cache(
        _ensure_parallelism(
            td.df.select(*td.columns)
            .filter(F.col(idn).isNotNull())
            .select(
                F.col(idn).alias("id_a"),
                F.col(tname).alias("__text__"),
                _fingerprint(F.col(tname)).alias("fp"),
            )
        ).persist()
    )
    n_batch = base.count()
    # below the bound, PIN the batch side broadcast so the
    # corpus-scale stores never shuffle for a small batch (the r5
    # finding: AQE does not reliably demote to broadcast)
    small = n_batch <= _BROADCAST_BATCH_ROWS

    def _pin(df):
        return F.broadcast(df) if small else df

    idt = meta["id_type"]
    tombs = tombstones_df(spark, path, idt)
    store_fps = mask_tombstones(
        _prune_expired(
            spark.read.schema(f"fp string, id {idt}{_st}")
            .parquet(f"{path}/fingerprints"),
            eff,
        ),
        tombs,
    ).select(F.col("fp").alias("__sfp__"), F.col("id").alias("id_b"))
    # ONE scan of the corpus-scale fp store feeds BOTH the exact leg
    # and the matched-fp derivation below (r14: the store was scanned
    # twice — once for the exact join, once to derive the matched set
    # for fuzzy-survivor pruning). The hit set is batch-bounded, so
    # materializing it is cheap. localCheckpoint, NOT persist: a
    # persisted plan that READS THE STORE is served by canonical-plan
    # cache matching to the next match call even after a compact's
    # staged-rename swap (FS renames fire no recacheByPath — verified:
    # a post-compact match returned the pre-compact duplicate rows).
    # The lazy checkpoint truncates lineage to the materialized rows,
    # so each call reads the store fresh; eager=False defers the
    # materialization into the query's own first job.
    # Fault-tolerance trade (r15, advice): the truncated lineage means
    # an executor loss mid-match fails the job instead of recomputing
    # (locally invisible, real on clusters) — configure a checkpoint
    # dir and reliable_checkpoint switches these cuts to fault-
    # tolerant storage. Lifetime: local-checkpoint blocks are released
    # by the ContextCleaner once the plan is GC'd, which matches this
    # hit set's one-call scope. Reliable-checkpoint files are deleted
    # only when spark.cleaner.referenceTracking.cleanCheckpoints=true;
    # otherwise they stay in the checkpoint dir (reliable_checkpoint
    # warns once per SparkContext).
    from pyspark import StorageLevel

    hits_fp = (
        _pin(base.select("id_a", "fp"))
        .join(store_fps, F.col("fp").eqNullSafe(F.col("__sfp__")), "inner")
        .select("id_a", "fp", "id_b")
        .transform(reliable_checkpoint, eager=False)
    )
    exact = hits_fp.select(
        "id_a", "id_b",
        F.lit("exact").alias("via"),
        F.lit(1.0).alias(jcol),
    )

    # fuzzy candidates come from the exact SURVIVORS. A direct
    # anti-join against the fp store would SHUFFLE the corpus-scale
    # store (left_anti cannot broadcast its probe side): the matched-fp
    # set from the persisted hit set is batch-bounded — broadcast it
    # for a small batch, shuffle batch-vs-matched (never batch-vs-
    # store) for a big one.
    matched_fps = hits_fp.select(F.col("fp").alias("__mfp__")).dropDuplicates()
    fuzzy_in = base.join(
        F.broadcast(matched_fps) if small else matched_fps,
        F.col("fp").eqNullSafe(F.col("__mfp__")),
        "left_anti",
    )
    # the signature pass (shingle + num_perm hashes, the dominant
    # map-side work of the fuzzy leg) feeds THREE consumers — the
    # bucket-cap census, the candidate band join, and the
    # signature-agreement verify — so an unpersisted frame computes it
    # three times per match (r14 measurement); persist the narrow
    # (id, sig) result instead
    sig_a = register_internal_cache(
        _minhash_sigs(
            fuzzy_in.select(F.col("id_a").alias("id"), "__text__"),
            "__text__", "id", meta["num_perm"],
            meta["shingle_words"], meta["analyzer"], meta["shingle_chars"],
            ensure_par=False,  # base was repartitioned above
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    rows_per_band = meta["num_perm"] // meta["bands"]
    # candidate generation stays NARROW (same rationale as
    # semantic_index): a near-dup pair collides in many bands, so the
    # signature rides the bucket join once PER COLLIDING BAND if
    # carried here; dedupe bare pairs first, join payloads back once
    banded_a = _pin(_cap_buckets(
        minhash_banded(sig_a, "sig", meta["bands"], rows_per_band),
        ["band", "bhash"], max_bucket, op="match_against_index",
    ).select("band", "bhash", F.col("id").alias("id_a")))
    # the store was capped at build/append time (see _build_stores) —
    # no index-side census here, matching scans the postings exactly
    # once through the candidate join
    store_bands = mask_tombstones(
        _prune_expired(
            spark.read.schema(f"bhash bigint, id {idt}, band int{_st}")
            .parquet(f"{path}/bands"),
            eff,
        ),
        tombs,
    ).select("band", "bhash", F.col("id").alias("id_b"))
    cand = (
        banded_a.join(store_bands, on=["band", "bhash"])
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if verify == "exact":
        grams_a = fuzzy_in.select(
            F.col("id_a"),
            F.array_distinct(
                _shingles(
                    F.col("__text__"), meta["shingle_words"],
                    meta["analyzer"], meta["shingle_chars"],
                )
            ).alias("g_a"),
        )
        grams_b = mask_tombstones(
            _prune_expired(
                spark.read.schema(f"id {idt}, grams array<string>{_st}")
                .parquet(f"{path}/grams"),
                eff,
            ),
            tombs,
        ).select(F.col("id").alias("id_b"), F.col("grams").alias("g_b"))
        fuzzy = (
            cand.select("id_a", "id_b")
            .join(grams_a, on="id_a")
            .join(grams_b, on="id_b")
            .withColumn(
                jcol,
                F.size(F.array_intersect("g_a", "g_b"))
                / F.size(F.array_union("g_a", "g_b")),
            )
            .filter(F.col(jcol) >= threshold)
            .select("id_a", "id_b", F.lit("minhash").alias("via"), jcol)
        )
    else:
        store_sigs = mask_tombstones(
            _prune_expired(
                spark.read.schema(f"id {idt}, sig array<bigint>{_st}")
                .parquet(f"{path}/sigs"),
                eff,
            ),
            tombs,
        ).select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
        est = F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda a, b: a == b),
                lambda x: x,
            )
        ) / F.lit(meta["num_perm"])
        fuzzy = (
            cand.join(
                sig_a.select(
                    F.col("id").alias("id_a"), F.col("sig").alias("sig_a")
                ),
                on="id_a",
            )
            .join(store_sigs, on="id_b")
            .withColumn(jcol, est)
            .filter(F.col(jcol) >= threshold)
            .select("id_a", "id_b", F.lit("minhash").alias("via"), jcol)
        )
    return Tibble(exact.unionByName(fuzzy))


def dedup_against_index(
    batch: Any,
    path: str,
    text: Any = None,
    id_col: Any = None,
    *,
    threshold: float = 0.7,
    max_bucket: int = 1000,
    verify: str = "estimate",
    append: bool = False,
    min_stamp: int | None = None,
    stamp: int | str = 0,
) -> Tibble:
    """Drop every ``batch`` row that duplicates an indexed document
    (exact normalized-text match, or n-gram Jaccard >= threshold via
    the index's MinHash postings); return the survivors with their
    original columns. The incremental-crawl workhorse:

        dedup_index_build(corpus, f.text, f.doc_id, "s3a://lake/didx")
        fresh = dedup_against_index(crawl, "s3a://lake/didx",
                                    append=True)   # admit survivors

    Only the batch is shingled/signed; the corpus contributes its
    pre-computed stores through two equi-joins. ``append=True`` admits
    the survivors into the index (dedup_index_append), so the next
    batch also dedups against them. Within-batch duplicates are NOT
    removed here — compose minhash_dedup/dedup_exact on the batch
    first (orthogonal passes, same family semantics). NULL-id batch
    rows always survive; on append they contribute their fingerprint
    (future exact dups of them are caught) but no MinHash postings —
    no identity to post under (family contract, same as build)."""
    td = ensure_tibble(batch)
    meta = _load_meta(td.df.sparkSession, path)
    hits = _match(
        td, path, meta, text, id_col,
        threshold=threshold, max_bucket=max_bucket,
        verify=verify, min_stamp=min_stamp,
    )
    idn = _name_of(id_col) if id_col is not None else meta["id_col"]
    surv = td.df.select(*td.columns).join(
        hits.df.select(F.col("id_a").alias(idn)).dropDuplicates(),
        on=idn, how="left_anti",
    )
    if append:
        # materialize the survivors BEFORE the append mutates the
        # store: the lazy frame's plan reads the pre-append store, and
        # composing it with a post-append read of the same path in one
        # query lets Spark's scan/exchange reuse silently alias the
        # fresh read to the stale file listing (verified live: a
        # re-match of freshly appended survivors found 0 of them).
        # localCheckpoint (not persist): the append's own write to the
        # store path triggers CacheManager.recacheByPath, which
        # invalidates and RECOMPUTES any cached plan reading that path
        # — a persisted survivors frame silently re-evaluated against
        # the post-append store and came back empty (verified live).
        # Checkpointing truncates the lineage to the materialized rows
        # themselves, so the returned frame has no store dependency at
        # all. Cost: one batch-survivor-sized materialization on
        # executor storage — the frame the caller is about to use
        # anyway.
        surv = surv.transform(reliable_checkpoint, eager=True)
    out = Tibble(surv, groups=td.group_vars, levels=td.levels)
    if append:
        tname = _name_of(text) if text is not None else meta["text_col"]
        dedup_index_append(out, path, tname, idn, stamp=stamp)
    return out


def dedup_index_expire(spark, path: str, before: int) -> dict:
    """Age-based retention — the TTL complement of the id-list
    tombstones: raise the index's ``expire_before`` watermark so every
    match/dedup/stream read immediately prunes store rows stamped (at
    build/append time, caller-defined units — e.g. a crawl date)
    before ``before`` via a pushed-down scan predicate, and the next
    ``dedup_index_compact`` drops them physically. A store row is per
    distinct text CLASS stamped with the max over its members, so a
    class expires only when its youngest indexed instance is too old.
    Monotonic, survives compaction; no id list or join anywhere —
    expiry is one sidecar write. Same contract as the fingerprint
    family's ``*_index_expire``. Returns the post-expire stats."""
    meta = _load_meta(spark, path)
    if not meta.get("stamps"):
        raise ValueError(
            f"dedup_index_expire: the index at {path} predates "
            f"retention stamps — rebuild with dedup_index_build to "
            f"use expiry"
        )
    if before < 0:
        raise ValueError(
            f"dedup_index_expire: before must be >= 0, got {before}"
        )
    meta["expire_before"] = max(int(meta.get("expire_before") or 0),
                                int(before))
    write_json_file(spark, f"{path}/dedup_index.json", meta)
    return dedup_index_stats(spark, path)


def dedup_index_compact(spark, path: str) -> dict:
    """Rewrite the index's accumulated per-append file sets into one
    compact, range-clustered layout and re-apply the bucket cap ACROSS
    increments.

    Every ``dedup_index_append`` adds a new file set to each store,
    and its bucket cap applies only within that increment — after many
    appends the postings are fragmented (file-open overhead measured
    7x on matching at sf1) and a bucket can exceed ``max_bucket``
    across increments even though every increment honored the cap
    (cross-increment over-full buckets are exactly the giant clusters
    the cap exists to guard the candidate join against). Compaction:

    - drops byte-duplicate rows (the same (fp, id) / posting /
      signature appended twice), preserving the entry SET — match
      results over a duplicate-free append history are identical
      before and after;
    - re-applies the sidecar's ``max_bucket`` over the MERGED
      postings, dropping over-full buckets with the drop accounted
      under ``dropped_pairs_estimate("dedup_index_compact")``;
    - rewrites each store once, postings range-clustered on
      (band, bhash) exactly like a fresh build.

    Single-writer maintenance op: each compacted store is fully
    written beside the live one and swapped in via two FS renames
    (jsonio.replace_dir) — a failure before the swap leaves the index
    untouched, but don't compact while queries run against it.
    Duplicate-CONTENT reclaim (same text appended under different ids)
    still needs a rebuild: the stores hold hashes, not text, so
    representatives cannot be re-chosen here.

    Returns the post-compact ``dedup_index_stats`` plus
    ``dropped_pairs`` (the cross-increment cap's candidate-pair drop
    estimate).
    """
    from .dedup import dropped_pairs_estimate
    from .jsonio import replace_dir

    meta = _load_meta(spark, path)
    _register_dropped_pairs("dedup_index_compact")
    idt = meta["id_type"]
    stamped = bool(meta.get("stamps"))
    eff = int(meta.get("expire_before") or 0) if stamped else 0
    _st = ", stamp bigint" if stamped else ""

    def _fold(df, keys):
        # expired rows drop physically; byte-duplicate rows fold
        # latest-stamp-wins (a re-append REFRESHES retention — keeping
        # an arbitrary stamp could re-expire a refreshed row). Key on
        # the full row — e.g. (id, sig), not id alone: an id appended
        # twice with DIFFERENT text must keep both signatures (both
        # its fingerprints and postings survive compaction, so folding
        # to one arbitrary sig would make compaction visible to match)
        if not stamped:
            return df.dropDuplicates(keys)
        if eff > 0:
            df = df.filter(F.col("stamp") >= eff)
        return df.groupBy(*keys).agg(F.max("stamp").alias("stamp"))

    tombs = tombstones_df(spark, path, idt)
    fps = _fold(
        mask_tombstones(
            spark.read.schema(f"fp string, id {idt}{_st}")
            .parquet(f"{path}/fingerprints"),
            tombs,
        ),
        ["fp", "id"],
    )
    sigs = _fold(
        mask_tombstones(
            spark.read.schema(f"id {idt}, sig array<bigint>{_st}")
            .parquet(f"{path}/sigs"),
            tombs,
        ),
        ["id", "sig"],
    )
    bands = _cap_buckets(
        _fold(
            mask_tombstones(
                spark.read.schema(f"bhash bigint, id {idt}, band int{_st}")
                .parquet(f"{path}/bands"),
                tombs,
            ).select("band", "bhash", "id",
                     *(["stamp"] if stamped else [])),
            ["band", "bhash", "id"],
        ),
        ["band", "bhash"], meta["max_bucket"],
        op="dedup_index_compact",
    ).repartitionByRange(
        F.col("band"), F.col("bhash")
    ).sortWithinPartitions("band", "bhash")
    stores = {"fingerprints": fps, "sigs": sigs}
    if meta["store_grams"]:
        stores["grams"] = _fold(
            mask_tombstones(
                spark.read.schema(f"id {idt}, grams array<string>{_st}")
                .parquet(f"{path}/grams"),
                tombs,
            ),
            ["id", "grams"],
        )
    # write EVERY compacted store before swapping ANY: all the tmp
    # writes read only live stores, so a failure anywhere in this loop
    # leaves the index exactly as it was
    for name, frame in stores.items():
        frame.write.mode("overwrite").parquet(f"{path}/{name}__compact")
    bands.write.mode("overwrite").partitionBy("band").parquet(
        f"{path}/bands__compact"
    )
    # the cap census is lazy over the LIVE bands path — pin its value
    # before the swap replaces what that path contains
    dropped = dropped_pairs_estimate("dedup_index_compact")
    _register_dropped_pairs(
        "dedup_index_compact",
        spark.createDataFrame([(float(dropped),)], "dropped double"),
    )
    for name in [*stores, "bands"]:
        replace_dir(spark, f"{path}/{name}__compact", f"{path}/{name}")
    # tombstones are folded into the rewritten stores: clear the
    # sidecar LAST (a crash before this line leaves tombstones
    # harmlessly masking already-absent ids)
    if tombs is not None:
        delete_dir(spark, f"{path}/tombstones")
    out = dedup_index_stats(spark, path)
    out["dropped_pairs"] = dropped
    return out
