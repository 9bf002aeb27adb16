"""Structured Streaming layer.

The reference is batch-only (SURVEY §2.17) — this module is the
Spark-first extension for continuous pipelines: the same Tibble/verb
code compiles onto streaming DataFrames because both are unresolved
logical plans; what differs is the source (``readStream``), the
late-data contract (watermarks), and time-windowed grouping.

Provided operators:

* ``stream_read_parquet`` — file-stream source (schema required by
  Structured Streaming; inferred from existing files if absent).
* ``windowed_agg`` — event-time tumbling/sliding window aggregation
  with a watermark; aggregation expressions use the same deferred DSL
  (``sum_(f.value)``) as batch ``summarise``.
* ``sessionize`` — session-window (gap-based) aggregation.
* ``stream_dedup`` — exactly-once-per-key dedup with bounded state
  (``dropDuplicatesWithinWatermark``).
* ``run_to_memory`` — test/debug sink: availableNow trigger into an
  in-memory table, returns the collected pandas frame.

Scale notes: windowed aggregation shuffles on (window, *keys) — state
is bounded by the watermark horizon; dedup state is bounded the same
way. No collect() in any hot path.
"""

from __future__ import annotations

import uuid
from functools import partial
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.context import EvalContext
from ..plans.expr import Ref
from ..tibble import Tibble

__all__ = [
    "stream_read_parquet",
    "windowed_agg",
    "sessionize",
    "stream_dedup",
    "stateful_running_agg",
    "stream_enrich",
    "stream_write_parquet",
    "run_to_memory",
]


def _name_of(x: Any) -> str:
    return x._name if isinstance(x, Ref) else str(x)


def stream_read_parquet(
    spark: SparkSession, path: str, schema: Any = None
) -> DataFrame:
    """File-stream source. Streaming needs an explicit schema; when not
    given, take it from the files already present — the batch reader's
    driver-side footer read (``sources._open_parquet``), no Spark job.
    TIMESTAMP(NANOS) columns — which Spark's parquet reader rejects —
    are read as nano longs and converted to microsecond timestamps,
    same as the batch reader."""
    from ..sources import _OPEN_ERRORS, _open_parquet

    import os

    try:
        present, ns_cols = _open_parquet(spark, path)
    except _OPEN_ERRORS:
        # an explicit schema may name a directory that has no files yet
        if schema is None:
            raise
        ns_cols = []
    else:
        if schema is None:
            schema = present.schema
    reader = spark.readStream.schema(schema)
    if os.path.isfile(path):
        # file-stream sources monitor directories; a single-file path
        # becomes parent-dir + filename filter
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    sdf = reader.parquet(path)
    for c in ns_cols:
        sdf = sdf.withColumn(c, F.timestamp_micros((F.col(c) / 1000).cast("long")))
    return sdf


def _agg_exprs(sdf: DataFrame, aggs: dict) -> list:
    """Compile deferred DSL aggregation expressions against the stream."""
    ctx = EvalContext(Tibble(sdf), mode="agg")
    return [ctx.col(expr).alias(name) for name, expr in aggs.items()]


def _as_event_time(sdf: DataFrame, tcol: str) -> DataFrame:
    """Watermarks require TIMESTAMP; TIMESTAMP_NTZ (what parquet
    isAdjustedToUTC=false columns read as) is rejected. Normalize in
    place — with the session tz pinned to UTC the values are
    unchanged."""
    if dict(sdf.dtypes).get(tcol) == "timestamp_ntz":
        return sdf.withColumn(tcol, F.col(tcol).cast("timestamp"))
    return sdf


def windowed_agg(
    sdf: DataFrame,
    ts: Any,
    *keys: Any,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "1 hour",
    **aggs: Any,
) -> DataFrame:
    """Event-time windowed aggregation with late-data watermark.

    ``windowed_agg(s, f.ts, f.event_type, window="1 day",
    n=n(), total=sum_(f.value))`` — groups by (tumbling-or-sliding
    time window, keys), emits window_start/window_end columns.
    """
    tcol = _name_of(ts)
    kcols = [_name_of(k) for k in keys]
    wm = _as_event_time(sdf, tcol).withWatermark(tcol, watermark)
    win = (
        F.window(F.col(tcol), window, slide)
        if slide
        else F.window(F.col(tcol), window)
    )
    out = wm.groupBy(win.alias("__w__"), *[F.col(k) for k in kcols]).agg(
        *_agg_exprs(sdf, aggs)
    )
    return out.select(
        F.col("__w__.start").alias("window_start"),
        F.col("__w__.end").alias("window_end"),
        *kcols,
        *aggs.keys(),
    )


def sessionize(
    sdf: DataFrame,
    ts: Any,
    *keys: Any,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    **aggs: Any,
) -> DataFrame:
    """Session windows: rows within ``gap`` of each other (per key)
    merge into one session. State closes once the watermark passes the
    session end, so memory stays bounded."""
    tcol = _name_of(ts)
    kcols = [_name_of(k) for k in keys]
    wm = _as_event_time(sdf, tcol).withWatermark(tcol, watermark)
    if not aggs:
        aggs = {"n_events": __import__(
            "datar_polars_spark.functions", fromlist=["n"]
        ).n()}
    out = wm.groupBy(
        F.session_window(F.col(tcol), gap).alias("__s__"),
        *[F.col(k) for k in kcols],
    ).agg(*_agg_exprs(sdf, aggs))
    return out.select(
        F.col("__s__.start").alias("session_start"),
        F.col("__s__.end").alias("session_end"),
        *kcols,
        *aggs.keys(),
    )


def stream_dedup(
    sdf: DataFrame, *keys: Any, ts: Any = None, watermark: str = "1 hour"
) -> DataFrame:
    """Keep the first arrival per key; state expires past the watermark
    (requires an event-time column when watermarking)."""
    kcols = [_name_of(k) for k in keys]
    if ts is not None:
        wm = _as_event_time(sdf, _name_of(ts)).withWatermark(_name_of(ts), watermark)
        return wm.dropDuplicatesWithinWatermark(kcols)
    return sdf.dropDuplicates(kcols)


def _running_agg_update(kcols: list, vcol: str, timeout_minutes: int):
    """State-machine for :func:`stateful_running_agg`, module-level so
    the timeout path is unit-testable with a fake GroupState (a real
    ProcessingTimeTimeout needs wall-clock between triggers)."""

    def update(key, pdfs, state):
        if state.hasTimedOut:
            # idle-key expiry: drop the state and emit nothing — the
            # timeout callback arrives with no data, and re-updating /
            # re-arming here would keep every key alive (and firing)
            # forever, growing the store unboundedly.
            state.remove()
            return
        n_, total, mx = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdfs:
            vals = pdf[vcol].dropna()
            n_ += len(pdf)
            total += float(vals.sum()) if len(vals) else 0.0
            if len(vals):
                mx = max(mx, float(vals.max()))
        state.update((n_, total, mx))
        if timeout_minutes:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        import pandas as pd

        yield pd.DataFrame(
            [[*key, n_, total, mx if mx != float("-inf") else None]],
            columns=[*kcols, "n_events", "total", "max_value"],
        )

    return update


def _cap_update(cap: int, out_cols: list, to_ms: int):
    """State-machine for :func:`stream_cap_per_key` (module-level for
    the same fake-GroupState testability as _running_agg_update)."""

    def update(key_, pdfs, state):
        if state.hasTimedOut:
            # idle-key expiry (the documented rolling re-admission):
            # remove the counter and emit nothing. The callback carries
            # no data; updating/re-arming here would keep every key's
            # state alive forever and fire its timeout on every trigger.
            state.remove()
            return
        (admitted,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            room = cap - admitted
            if room <= 0:
                continue
            take = pdf.iloc[:room]
            admitted += len(take)
            if len(take):
                yield take[out_cols]
        state.update((admitted,))
        if to_ms:
            state.setTimeoutDuration(to_ms)

    return update


def stateful_running_agg(
    sdf: DataFrame,
    *keys: Any,
    value: Any,
    timeout_minutes: int = 0,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a
    per-key running (count, sum, max) maintained across micro-batches
    in the state store — the pattern for stateful logic that windowed
    aggregation can't express (counters, custom accumulators, per-key
    model state). Emits one updated row per key per micro-batch.

    State is one small tuple per key; with a timeout it is dropped for
    idle keys, keeping the store bounded.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    kcols = [_name_of(k) for k in keys]
    vcol = _name_of(value)

    out_schema = (
        ", ".join(
            f"{f_.name} {f_.dataType.simpleString()}"
            for f_ in sdf.schema
            if f_.name in kcols
        )
        + ", n_events bigint, total double, max_value double"
    )
    state_schema = "n bigint, total double, mx double"
    update = _running_agg_update(kcols, vcol, int(timeout_minutes))
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_minutes
        else GroupStateTimeout.NoTimeout
    )
    return sdf.groupBy(*kcols).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def stream_cap_per_key(
    sdf: DataFrame,
    key: Any,
    n: int,
    timeout_minutes: int = 0,
) -> DataFrame:
    """Streaming per-key admission cap — the live-crawl counterpart of
    the batch ``cap_per_key`` (per-domain caps): pass through at most
    ``n`` rows per key ACROSS micro-batches, dropping everything after
    the cap fills. State is ONE counter per key in the state store
    (``applyInPandasWithState``); with ``timeout_minutes`` idle keys
    expire, keeping the store bounded (and re-admitting a domain after
    a quiet period — a rolling rather than all-time cap, documented).

    Unlike the batch op (which selects the n smallest id-hashes —
    a deterministic, order-free choice), a stream must decide at
    arrival time, so admission is first-come: which rows land under
    the cap depends on arrival order. Rows with a NULL key share the
    NULL counter. Output schema == input schema."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    if int(n) < 1:
        raise ValueError(f"stream_cap_per_key: n must be >= 1, got {n}")
    kname = _name_of(key)
    if kname not in sdf.columns:
        raise ValueError(
            f"stream_cap_per_key: key column {kname!r} not in the "
            f"stream frame"
        )
    out_schema = ", ".join(
        f"{f_.name} {f_.dataType.simpleString()}" for f_ in sdf.schema
    )
    out_cols = [f_.name for f_ in sdf.schema]
    state_schema = "admitted bigint"
    cap = int(n)
    to_ms = int(timeout_minutes) * 60 * 1000
    update = _cap_update(cap, out_cols, to_ms)
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_minutes
        else GroupStateTimeout.NoTimeout
    )
    return sdf.groupBy(kname).applyInPandasWithState(
        update, out_schema, state_schema, "append", timeout
    )


__all__.append("stream_cap_per_key")


def stream_enrich(
    sdf: DataFrame, static: Any, by: Any, how: str = "left"
) -> DataFrame:
    """Stream-static join: enrich each micro-batch with a batch
    dimension table (broadcast by Catalyst when small). ``static`` may
    be a Tibble or DataFrame; ``by`` is a column name or
    {stream_key: static_key} dict."""
    sdf_static = static.df.select(*static.columns) if isinstance(static, Tibble) else static
    if isinstance(by, dict):
        (lk, rk), = by.items()
        sdf_static = sdf_static.withColumnRenamed(rk, lk)
        on = lk
    else:
        on = _name_of(by)
    return sdf.join(sdf_static, on, how)


def stream_write_parquet(
    sdf: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: list[str] | None = None,
    available_now: bool = False,
):
    """Parquet sink with exactly-once semantics via checkpointing.
    ``available_now=True`` drains what exists and stops (backfill /
    test mode); otherwise runs continuously."""
    w = (
        sdf.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    if available_now:
        q = w.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return w.start()


def run_to_memory(sdf: DataFrame, mode: str = "complete") -> "Any":
    """Drain the stream with an availableNow trigger into a memory sink
    and return the result as pandas (test/debug utility — real sinks are
    ``writeStream.format("parquet"/"kafka"/"delta")``)."""
    name = "mem_" + uuid.uuid4().hex[:12]
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = sdf.sparkSession
    return spark.table(name).toPandas()


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    by: Any,
    left_time: Any,
    right_time: Any,
    watermark: str = "1 hour",
    within: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join (Structured Streaming's two-sided
    state-store join). Both sides get an event-time watermark so the
    state store can evict; ``within`` adds the time-range predicate
    (right.ts between left.ts and left.ts + within) that BOUNDS state —
    without it an outer join cannot emit and inner-join state grows
    until eviction. Keys join on equality; suffix `_r` disambiguates
    right columns.

    This is the streaming analogue of asof/range enrichment: at 100 TB
    both sides shard by join key across the cluster and each executor
    holds only its key-range's in-flight state."""
    lt, rt = _name_of(left_time), _name_of(right_time)
    keys = [by] if isinstance(by, str) else (
        [_name_of(by)] if not isinstance(by, (list, tuple)) else [_name_of(k) for k in by]
    )
    left = _as_event_time(left, lt).withWatermark(lt, watermark)
    right = _as_event_time(right, rt)
    # disambiguate right-side column names (Spark rejects ambiguous refs
    # in the join condition otherwise)
    ren = {c: f"{c}_r" for c in right.columns if c not in keys}
    for old, new in ren.items():
        right = right.withColumnRenamed(old, new)
    rt_r = ren.get(rt, rt)
    right = right.withWatermark(rt_r, watermark)

    cond = None
    for k in keys:
        c = left[k] == right[k]
        cond = c if cond is None else (cond & c)
    if within is not None:
        rng = (right[rt_r] >= left[lt]) & (
            right[rt_r] <= left[lt] + F.expr(f"INTERVAL {within}")
        )
        cond = cond & rng
    joined = left.join(right, cond, how)
    for k in keys:  # drop the right-side key copies, keep left's
        joined = joined.drop(right[k])
    return joined


__all__.append("stream_stream_join")


def stream_decontaminate(
    sdf: DataFrame,
    benchmark: Any,
    text: Any,
    id_col: Any = None,
    n: int = 3,
    max_bench_grams: int = 5_000_000,
    jvm_literal_max: int = 10_000,
) -> DataFrame:
    """Drop streaming documents that share ANY word ``n``-gram with a
    STATIC benchmark corpus — the streaming complement of the batch
    ``decontaminate`` (scale/filters.py), for filtering a live ingest
    feed against held-out eval sets.

    The benchmark side is collected ONCE at stream setup (a batch job —
    legal before ``start()``): its distinct gram xxhash64 values become
    either a JVM literal array (``<= jvm_literal_max`` grams: the
    filter is pure whole-stage codegen, ``arrays_overlap`` per doc) or
    a broadcast Python set probed by an Arrow pandas UDF (larger
    benchmarks; one batch-wise set lookup per doc). Raises if the
    benchmark exceeds ``max_bench_grams`` — decontamination benchmarks
    are eval sets, not corpora; use batch ``decontaminate`` for
    corpus-vs-corpus (or ``minhash_join`` for fuzzy matching).

    Per-microbatch cost is one narrow map over the stream — no state
    store, no watermark requirement, no shuffle."""
    from ..scale.dedup import word_shingles

    tname = _name_of(text)
    bench_df = (
        benchmark.df.select(*benchmark.columns)
        if isinstance(benchmark, Tibble)
        else benchmark
    )
    bench_hashes = [
        r[0]
        for r in bench_df.select(
            F.explode(word_shingles(F.col(tname), n)).alias("g")
        )
        .select(F.xxhash64("g"))
        .distinct()
        .limit(max_bench_grams + 1)
        .collect()
    ]
    if len(bench_hashes) > max_bench_grams:
        raise ValueError(
            f"stream_decontaminate: benchmark exceeds {max_bench_grams} "
            "distinct grams — use batch decontaminate for corpus-vs-corpus"
        )
    grams = F.transform(
        word_shingles(F.col(tname), n), lambda g: F.xxhash64(g)
    )
    if len(bench_hashes) <= jvm_literal_max:
        bench_lit = F.lit(bench_hashes).cast("array<long>")
        return sdf.filter(~F.arrays_overlap(grams, bench_lit))
    from pyspark.sql.functions import pandas_udf

    bcast = sdf.sparkSession.sparkContext.broadcast(set(bench_hashes))

    @pandas_udf("boolean")
    def _clean(hash_arrays: pd.Series) -> pd.Series:
        bset = bcast.value
        # Arrow hands array columns over as numpy arrays — `hs or []`
        # would try truth-testing them
        return hash_arrays.apply(
            lambda hs: hs is None
            or not any(int(h) in bset for h in hs)
        )

    return sdf.withColumn("__grams__", grams).filter(
        _clean(F.col("__grams__"))
    ).drop("__grams__")


__all__.append("stream_decontaminate")


def stream_near_dedup(
    sdf: DataFrame,
    history: Any,
    text: Any = "text",
    id_col: Any = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
    threshold: float = 0.7,
    mode: str = "matches",
    ts: Any = None,
    watermark: str = "1 hour",
    max_history: int = 200_000,
    max_bucket: int = 1000,
) -> DataFrame:
    """Streaming MinHash/LSH near-duplicate detection against a STATIC
    historical corpus — the fuzzy complement of ``stream_dedup`` (exact
    keys) and ``stream_decontaminate`` (exact n-gram overlap), for
    flagging documents of a live crawl that near-duplicate what's
    already in the lake.

    ``history`` is a frame (signed at setup), or — r12 — a STRING path
    to a persistent dedup index (``dedup_index_build``): then setup
    just reads the pre-computed ``sigs``/``bands`` stores, no corpus
    re-shingling, and the sidecar's num_perm/bands/shingle_words/
    analyzer override the arguments (the stream must sign with the
    index's permutation family). That is the 100 TB deployment: index
    the lake once, dedup every live feed — and every fresh batch, via
    ``dedup_against_index`` — against the same store.

    Stream docs sign with the stateless per-row HOF fold
    (``minhash_signature`` — narrow map, no aggregation, no state
    store); the same deterministic xxhash64 permutation family as the
    batch ``_minhash_sigs`` explode form means both sides' signatures
    are directly comparable (identical values, different evaluation
    strategy — the fold costs more CPU per row but streaming cannot
    use the explode+groupBy form without dragging in stateful
    aggregation).

    ``mode="matches"`` (the 100 TB path): the history signs ONCE at
    setup with the batch explode form, bands, and persists
    (re-probed every micro-batch); the stream explodes to its
    ``bands`` (band, band-hash) buckets and a stream-static EQUI join
    on (band, bhash) — stateless, shuffle keyed by bucket, history
    side arbitrarily large — generates candidates verified by
    signature agreement >= ``threshold``. Emits one row per stream doc
    x matching history doc (columns: the stream's, plus ``match_id``,
    ``jaccard_est``) — a pair that collides in several bands emits
    once per band UNLESS ``ts=`` is given, in which case
    ``dropDuplicatesWithinWatermark`` on (id, match_id) collapses them
    with watermark-bounded state.

    ``mode="filter"`` passes through only CLEAN stream rows (no
    verified near-dup in history). "Clean" is a per-doc ALL-bands
    decision, which a relational anti-join cannot express post-explode,
    so the history index (one band-hash -> signature-rows dict per
    band) is collected and BROADCAST, and an Arrow pandas UDF probes it
    per doc: O(bands) dict lookups + signature verification against only
    colliding candidates. Bounded by ``max_history`` rows (default
    200k; ~100 MB broadcast at num_perm=64) — raise if your history
    outgrows it and use ``mode="matches"`` + a batch join-back instead
    (histories past driver memory are exactly what the equi-join path
    is for). Unsignable stream rows (NULL/empty text) have no verified
    near-dup in history by definition, so filter mode passes them
    through untouched; matches mode drops them (they can never emit a
    match row) — mirroring the batch explode form.

    ``max_bucket`` is the same skew guard the batch ``minhash_join``
    applies: HISTORY buckets larger than ``max_bucket`` members (giant
    boilerplate clusters) are dropped from candidate generation, so a
    mega-bucket can't replicate against every colliding stream row
    (the O(bucket^2) blowup on the 100 TB path). The STREAM side cannot
    be censused statelessly (a micro-batch sees only its own rows), so
    unlike the batch form its buckets stay uncapped — the stream may
    emit candidate pairs batch ``minhash_join`` would have dropped when
    the stream-side bucket is the oversized one: a superset, never a
    miss. Dropped-candidate accounting registers under op
    ``"stream_near_dedup"`` (see ``dropped_pairs_estimate``)."""
    from ..scale.dedup import (
        _cap_buckets, _minhash_sigs, _register_dropped_pairs, _shingles,
        minhash_signature, word_shingles,
    )
    from ..scale.lsh import minhash_band_hashes, minhash_banded

    if mode not in ("matches", "filter"):
        raise ValueError(
            f"stream_near_dedup: mode must be 'matches' or 'filter', "
            f"got {mode!r}"
        )
    # history as a STR is a persistent dedup-index path
    # (scale/dedup_index.py): the corpus was fingerprinted and signed
    # ONCE at dedup_index_build time, so stream setup reads the
    # sigs/postings stores instead of re-shingling the lake — the
    # sidecar's parameters override num_perm/bands/shingle_words (the
    # stream must sign with the index's permutation family or the
    # signatures are incomparable)
    index_meta = None
    analyzer, shingle_chars = "word", 12
    if isinstance(history, str):
        from ..scale.dedup_index import _load_meta

        index_meta = _load_meta(sdf.sparkSession, history)
        # retention: honor the sidecar's expire_before watermark on
        # every store scan, like the batch matchers
        from ..scale.fp_index import _prune_expired, retention_cutoff

        _eff = retention_cutoff(
            index_meta, None, "stream_near_dedup", history,
            "dedup_index_build",
        )
        _st = ", stamp bigint" if _eff > 0 else ""
        num_perm = index_meta["num_perm"]
        bands = index_meta["bands"]
        shingle_words = index_meta["shingle_words"]
        analyzer = index_meta["analyzer"]
        shingle_chars = index_meta["shingle_chars"]
    if num_perm % bands:
        raise ValueError(
            f"stream_near_dedup: num_perm={num_perm} not divisible by "
            f"bands={bands}"
        )
    if max_bucket < 1:
        raise ValueError(
            f"stream_near_dedup: max_bucket must be >= 1, got {max_bucket}"
        )
    # scratch/output-name hygiene (same fail-fast contract as
    # chunk_documents): a stream frame already carrying any of these
    # would produce duplicate/ambiguous columns downstream. The set is
    # per mode — filter mode's only scratch is __sig/__bh (it adds no
    # output columns), so a domain column named e.g. 'band' stays legal
    # there.
    reserved = (
        {"__sig", "__bh", "band", "bhash", "__hsig", "match_id",
         "jaccard_est"}
        if mode == "matches"
        else {"__sig", "__bh"}
    )
    clash = sorted(reserved & set(sdf.columns))
    if clash:
        raise ValueError(
            f"stream_near_dedup: column(s) {clash} already exist in the "
            f"stream frame and are reserved in mode={mode!r}; rename "
            f"them first"
        )
    tname, idn = _name_of(text), _name_of(id_col)
    rows_per_band = num_perm // bands
    hist_df = (
        history.df.select(*history.columns)
        if isinstance(history, Tibble)
        else history
    )

    sig = minhash_signature(
        _shingles(F.col(tname), shingle_words, analyzer, shingle_chars),
        num_perm,
    )
    _register_dropped_pairs("stream_near_dedup")
    s_all = sdf.withColumn("__sig", sig)
    # docs with no shingles (NULL/empty text) sign all-NULL and can
    # never verify a match; matches mode drops them up front, mirroring
    # the batch explode form (no shingle rows -> no signature row).
    # Filter mode must NOT drop them — a row with no verifiable
    # near-dup in history is CLEAN and passes through (the Arrow probe
    # below routes unsignable rows around the index).
    signable = F.element_at(F.col("__sig"), 1).isNotNull()

    if mode == "matches":
        s = s_all.where(signable)
        from pyspark import StorageLevel

        from ..plans.cache import register_internal_cache

        if index_meta is not None:
            # postings were bucket-capped at build/append time; the
            # sig rides in via one setup join (verification needs it
            # inline — a stream-static join can't look candidates up
            # afterwards without a second static join per micro-batch)
            idt = index_meta["id_type"]
            spark_ = sdf.sparkSession
            from ..scale.tombstones import mask_tombstones, tombstones_df

            _tombs = tombstones_df(spark_, history, idt)
            banded_hist_raw = (
                mask_tombstones(
                    _prune_expired(
                        spark_.read.schema(
                            f"bhash bigint, id {idt}, band int{_st}"
                        ).parquet(f"{history}/bands"),
                        _eff,
                    ),
                    _tombs,
                )
                .join(
                    mask_tombstones(
                        _prune_expired(
                            spark_.read.schema(
                                f"id {idt}, sig array<bigint>{_st}"
                            ).parquet(f"{history}/sigs"),
                            _eff,
                        ),
                        _tombs,
                    ),
                    on="id",
                )
            )
        else:
            hist_sigs = _minhash_sigs(
                hist_df, tname, idn, num_perm, shingle_words,
                analyzer, shingle_chars,
            )
            banded_hist_raw = _cap_buckets(
                minhash_banded(hist_sigs, "sig", bands, rows_per_band),
                ["band", "bhash"], max_bucket, op="stream_near_dedup",
            )
        hist_banded = register_internal_cache(
            banded_hist_raw.select(
                "band", "bhash",
                F.col("id").alias("match_id"),
                F.col("sig").alias("__hsig"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        banded = minhash_banded(s, "__sig", bands, rows_per_band)
        est = F.size(
            F.filter(
                F.zip_with(
                    F.col("__sig"), F.col("__hsig"), lambda a, b: a == b
                ),
                lambda x: x,
            )
        ) / F.lit(num_perm)
        out = (
            banded.join(hist_banded, on=["band", "bhash"])
            .withColumn("jaccard_est", est)
            .where(F.col("jaccard_est") >= threshold)
            .select(*sdf.columns, "match_id", "jaccard_est")
        )
        if ts is not None:
            tcol = _name_of(ts)
            out = _as_event_time(out, tcol).withWatermark(
                tcol, watermark
            ).dropDuplicatesWithinWatermark([idn, "match_id"])
        return out

    # mode == "filter": broadcast band-hash index + Arrow probe
    import numpy as np

    if index_meta is not None:
        # band hashes recompute from the stored signatures (xxhash64
        # is deterministic) — cheaper than grouping the postings back
        # into per-doc arrays, and identical by construction
        from ..scale.tombstones import mask_tombstones, tombstones_df

        hist_sigs = mask_tombstones(
            _prune_expired(
                sdf.sparkSession.read
                .schema(
                    f"id {index_meta['id_type']}, sig array<bigint>{_st}"
                )
                .parquet(f"{history}/sigs"),
                _eff,
            ),
            tombstones_df(
                sdf.sparkSession, history, index_meta["id_type"]
            ),
        )
    else:
        hist_sigs = _minhash_sigs(
            hist_df, tname, idn, num_perm, shingle_words,
            analyzer, shingle_chars,
        )
    hist_rows = (
        hist_sigs.withColumn(
            "__bh", minhash_band_hashes(F.col("sig"), bands, rows_per_band)
        )
        .select("__bh", "sig")
        .limit(max_history + 1)
        .collect()
    )
    if len(hist_rows) > max_history:
        raise ValueError(
            f"stream_near_dedup: history exceeds max_history="
            f"{max_history} signed docs; use mode='matches' with a "
            f"batch join-back for unbounded histories"
        )
    sigs_mat = np.array([list(r["sig"]) for r in hist_rows], dtype="int64")
    # one dict per band: band hash -> history rows in that bucket
    buckets: list[dict[int, list[int]]] = [{} for _ in range(bands)]
    for i, r in enumerate(hist_rows):
        for band, bh in zip(buckets, r["__bh"]):
            band.setdefault(int(bh), []).append(i)
    # the same skew cap the matches path applies to the history side:
    # an oversized boilerplate bucket leaves candidate generation (its
    # pair cost is what max_bucket bounds) — parity with minhash_join,
    # including the dropped-pair accounting the docstring promises
    oversized = [(band, bh) for band in buckets
                 for bh, members in band.items() if len(members) > max_bucket]
    if oversized:
        from ..scale.dedup import _register_dropped_pairs

        _register_dropped_pairs(
            "stream_near_dedup",
            sdf.sparkSession.createDataFrame(
                [
                    (float(len(band[bh]) * (len(band[bh]) - 1) / 2),)
                    for band, bh in oversized
                ],
                "dropped double",
            ),
            reset=False,
        )
    for band, bh in oversized:
        del band[bh]
    bcast = sdf.sparkSession.sparkContext.broadcast((buckets, sigs_mat))
    need = int(np.ceil(threshold * num_perm))
    out_cols = list(sdf.columns)
    out_schema = sdf.schema

    # one Arrow mapInPandas pass (NOT a pandas_udf inside a Filter:
    # project-collapsing can inline the whole signature fold into the
    # UDF's argument expressions, and the resulting
    # PythonUDF-in-Filter crashes the interpreted predicate evaluator
    # on the streaming write path)
    def _drop_dups(batches):
        import numpy as _np

        bks, mat = bcast.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = len(pdf)
            sigs = pdf["__sig"].tolist()
            bhs = pdf["__bh"].tolist()
            keep = _np.ones(m, dtype=bool)
            # gather (stream row, history candidate) index pairs across
            # the WHOLE batch — the dict lookups stay per row (cheap),
            # but the signature verification collapses to a single
            # fancy-indexed comparison per batch instead of a Python
            # loop per row
            row_pos: list[int] = []
            cand_pos: list[int] = []
            for i in range(m):
                sv = sigs[i]
                if sv is None or len(sv) == 0 or sv[0] is None:
                    continue  # unsignable (NULL/empty text) -> clean
                cand: set[int] = set()
                bh_i = bhs[i]
                if bh_i is not None:
                    for band, bh in zip(bks, bh_i):
                        hit = band.get(int(bh))
                        if hit:
                            cand.update(hit)
                if cand:
                    row_pos.extend([i] * len(cand))
                    cand_pos.extend(cand)
            if row_pos:
                ri = _np.asarray(row_pos, dtype="int64")
                ci = _np.asarray(cand_pos, dtype="int64")
                uniq, inv = _np.unique(ri, return_inverse=True)
                smat = _np.array(
                    [list(sigs[int(u)]) for u in uniq], dtype="int64"
                )
                # tile the gather so the fancy-indexed temp stays
                # ~32 MB even when a batch is candidate-dense
                tile = 1 << 16
                for t0 in range(0, len(ci), tile):
                    sl = slice(t0, t0 + tile)
                    agree = (mat[ci[sl]] == smat[inv[sl]]).sum(axis=1)
                    keep[_np.unique(ri[sl][agree >= need])] = False
            yield pdf.loc[keep, out_cols]

    probed = s_all.withColumn(
        "__bh",
        F.when(
            signable, minhash_band_hashes(F.col("__sig"), bands, rows_per_band)
        ),
    )
    return probed.mapInPandas(_drop_dups, schema=out_schema)


__all__.append("stream_near_dedup")


def stream_decontaminate_semantic(
    sdf: DataFrame,
    benchmark: Any,
    embedding: Any = "embedding",
    threshold: float = 0.95,
    max_benchmark: int = 100_000,
) -> DataFrame:
    """Drop streaming rows whose embedding cosine against ANY row of a
    STATIC benchmark reaches ``threshold`` — the semantic member of
    the streaming decontamination trio (``stream_decontaminate``:
    exact n-grams; ``stream_near_dedup``: lexical MinHash; this one:
    embeddings, catching paraphrased or translated benchmark leakage
    no lexical detector sees).

    The benchmark collects ONCE at stream setup (a batch job — legal
    before ``start()``; bounded by ``max_benchmark`` non-NULL vectors,
    memory rows x dim x 8 bytes per executor), L2-normalizes, and
    broadcasts; each micro-batch is one narrow Arrow ``mapInPandas``
    pass of tiled matmuls against the broadcast matrix — EXACT by
    construction (the same probe as ``embedding_join``'s broadcast
    mode), no state store, no watermark requirement, no shuffle. Rows
    with NULL embeddings are unverifiable and pass through as clean
    (the same contract as the batch ``decontaminate_semantic`` and
    ``stream_near_dedup(mode='filter')``).

    ``benchmark`` may also be a STRING path to a persistent semantic
    index (``semantic_index_build``): the broadcast matrix then loads
    from the index's ``vectors/`` store — deploy the same on-lake
    artifact to batch jobs (dedup_against_semantic_index) and live
    feeds without carrying the original benchmark frame around. The
    broadcast bound applies unchanged (this is the eval-set shape; a
    corpus-scale index belongs to the batch path)."""
    import numpy as np

    ename = _name_of(embedding)
    if isinstance(benchmark, str):
        from ..scale.semantic_index import _load_meta

        meta = _load_meta(sdf.sparkSession, benchmark)
        from ..scale.fp_index import _prune_expired, retention_cutoff
        from ..scale.tombstones import mask_tombstones, tombstones_df

        # retention: honor the index's expire_before watermark
        _eff = retention_cutoff(
            meta, None, "stream_decontaminate_semantic", benchmark,
            "semantic_index_build",
        )
        bench_df = mask_tombstones(
            _prune_expired(
                sdf.sparkSession.read
                .schema(
                    f"id {meta['id_type']}, vec {meta['vec_type']}"
                    + (", stamp bigint" if _eff > 0 else "")
                )
                .parquet(f"{benchmark}/vectors"),
                _eff,
            ),
            tombstones_df(sdf.sparkSession, benchmark, meta["id_type"]),
        ).select(F.col("vec").alias(ename))
    elif isinstance(benchmark, Tibble):
        bench_df = benchmark.df.select(*benchmark.columns)
    else:
        bench_df = benchmark
    rows = (
        bench_df.select(ename)
        .where(F.col(ename).isNotNull())
        .limit(max_benchmark + 1)
        .collect()
    )
    if len(rows) > max_benchmark:
        raise ValueError(
            f"stream_decontaminate_semantic: benchmark exceeds "
            f"max_benchmark={max_benchmark} non-NULL vectors; "
            f"decontamination benchmarks are eval sets, not corpora — "
            f"use batch decontaminate_semantic(mode='lsh') for "
            f"corpus-vs-corpus"
        )
    if not rows:
        return sdf
    B = np.array([list(r[0]) for r in rows], dtype="float64")
    nb = np.linalg.norm(B, axis=1)
    nb[nb == 0] = 1.0
    bcast = sdf.sparkSession.sparkContext.broadcast(B / nb[:, None])
    thr = float(threshold)
    out_cols = list(sdf.columns)
    out_schema = sdf.schema

    def _drop_contaminated(batches):
        import numpy as _np

        M = bcast.value
        for pdf in batches:
            if not len(pdf):
                continue
            keep = _np.ones(len(pdf), dtype=bool)
            idx = _np.flatnonzero(pdf[ename].notna().to_numpy())
            if len(idx):
                X = _np.array(
                    pdf[ename].iloc[idx].tolist(), dtype="float64"
                )
                if X.shape[1] != M.shape[1]:
                    raise ValueError(
                        f"stream_decontaminate_semantic: stream dim "
                        f"{X.shape[1]} != benchmark dim {M.shape[1]}"
                    )
                nx = _np.linalg.norm(X, axis=1)
                nx[nx == 0] = 1.0
                Xn = X / nx[:, None]
                hit = _np.zeros(len(idx), dtype=bool)
                # tile both axes so no temp outgrows ~32 MB
                for i in range(0, len(Xn), 2048):
                    sub = Xn[i : i + 2048]
                    mx = _np.full(len(sub), -2.0)
                    for j in range(0, len(M), 2048):
                        S = sub @ M[j : j + 2048].T
                        mx = _np.maximum(mx, S.max(axis=1))
                    hit[i : i + len(sub)] = mx >= thr
                keep[idx[hit]] = False
            yield pdf.loc[keep, out_cols]

    return sdf.mapInPandas(_drop_contaminated, schema=out_schema)


__all__.append("stream_decontaminate_semantic")


def stream_dedup_paragraphs(
    sdf: DataFrame,
    history: Any,
    text: Any = "text",
    sep: str = r"\n\n+",
    join_sep: str = "\n\n",
    min_chars: int = 1,
    normalize: bool = True,
    count_col: str | None = "paras_removed",
    max_history_paras: int = 5_000_000,
    jvm_literal_max: int = 10_000,
) -> DataFrame:
    """Streaming paragraph-level boilerplate removal against a STATIC
    history corpus — the Dolma/FineWeb step ``dedup_paragraphs``
    (scale/dedup.py) runs in batch, applied to a live crawl: every
    stream document drops each paragraph whose normalized fingerprint
    already occurs in the history OR earlier in the SAME document,
    then reassembles with ``join_sep``. Same knobs and fingerprint
    scheme as the batch op (``sep`` regex split, lower+trim
    fingerprints under ``normalize``, paragraphs under ``min_chars``
    exempt, NULL text passes through NULL, ``count_col`` audits
    removals) — so stream survivors equal the batch keep-first answer
    on history-then-stream ordering whenever stream documents don't
    share NEW paragraphs with each other. Cross-document duplicates
    WITHIN the stream are deliberately not collapsed: a stateless
    micro-batch cannot see other in-flight documents (the same
    stream-vs-stream contract as ``stream_near_dedup``); re-run the
    batch op over the landed data for full corpus dedup.

    The history's distinct paragraph fingerprints (64-bit xxhash64,
    identical to the batch keys) collect ONCE at stream setup —
    bounded by ``max_history_paras`` (8 bytes each: the 5M default is
    ~40 MB). Small histories (``<= jvm_literal_max``) compile to a
    pure whole-stage-codegen array expression; larger ones broadcast a
    Python set probed by one Arrow pandas UDF over the (narrow)
    fingerprint arrays — paragraph text never crosses into Python
    either way. No state store, no watermark requirement, no
    shuffle."""
    tname = _name_of(text)
    if int(min_chars) < 0:
        raise ValueError(
            f"stream_dedup_paragraphs: min_chars must be >= 0, "
            f"got {min_chars}"
        )
    reserved = {"__fps__", "__keep__"} | (
        {count_col} if count_col else set()
    )
    clash = sorted(reserved & set(sdf.columns))
    if clash:
        raise ValueError(
            f"stream_dedup_paragraphs: column(s) {clash} already exist "
            f"in the stream frame; rename them first (or pass a "
            f"different count_col)"
        )
    hist_df = (
        history.df.select(*history.columns)
        if isinstance(history, Tibble)
        else history
    )

    def pnorm(c):
        return F.lower(F.trim(c)) if normalize else c

    hist_fps = [
        r[0]
        for r in hist_df.select(
            F.explode(
                F.split(F.coalesce(F.col(tname), F.lit("")), sep)
            ).alias("__p")
        )
        .where(F.length(F.trim(F.col("__p"))) >= int(min_chars))
        .select(F.xxhash64(F.lit("p"), pnorm(F.col("__p"))))
        .distinct()
        .limit(max_history_paras + 1)
        .collect()
    ]
    if len(hist_fps) > max_history_paras:
        raise ValueError(
            f"stream_dedup_paragraphs: history exceeds "
            f"{max_history_paras} distinct paragraphs — raise "
            f"max_history_paras (8 bytes per fingerprint) or dedup in "
            f"batch"
        )

    paras = F.split(F.coalesce(F.col(tname), F.lit("")), sep)
    # per-paragraph fingerprints; exempt (short/empty) paragraphs are
    # NULL = always kept, never matchable (the batch op's
    # domain-separated exempt keys have the same effect)
    fps = F.transform(
        paras,
        lambda p: F.when(
            F.length(F.trim(p)) < int(min_chars),
            F.lit(None).cast("long"),
        ).otherwise(F.xxhash64(F.lit("p"), pnorm(p))),
    )

    if len(hist_fps) <= jvm_literal_max:
        hist_lit = F.lit(hist_fps).cast("array<long>")
        out = sdf.withColumn("__fps__", fps).withColumn(
            "__keep__",
            F.filter(
                F.sequence(F.lit(0), F.size(F.col("__fps__")) - 1),
                lambda i: F.element_at(F.col("__fps__"), i + 1).isNull()
                | (
                    ~F.array_contains(
                        hist_lit, F.element_at(F.col("__fps__"), i + 1)
                    )
                    & (
                        F.array_position(
                            F.slice(F.col("__fps__"), F.lit(1), i),
                            F.element_at(F.col("__fps__"), i + 1),
                        )
                        == 0
                    )
                ),
            ),
        )
    else:
        from pyspark.sql.functions import pandas_udf

        bcast = sdf.sparkSession.sparkContext.broadcast(set(hist_fps))
        # the Arrow transfer must NOT carry nulls inside the hash
        # arrays: one null anywhere in a chunk's child array promotes
        # the WHOLE chunk to float64, silently corrupting other rows'
        # 64-bit hashes. Ship a null-free hash array (hashes computed
        # for every paragraph) plus a separate exempt-flag array.
        raw_fps = F.transform(
            paras, lambda p: F.xxhash64(F.lit("p"), pnorm(p))
        )
        exempt_arr = F.transform(
            paras, lambda p: F.length(F.trim(p)) < int(min_chars)
        )

        @pandas_udf("array<int>")
        def _keep_idx(
            fp_arrays: pd.Series, ex_arrays: pd.Series
        ) -> pd.Series:
            hset = bcast.value
            out_lists = []
            for fp_list, ex_list in zip(fp_arrays, ex_arrays):
                if fp_list is None:
                    out_lists.append([])
                    continue
                keep, seen = [], set()
                for i, h in enumerate(fp_list):
                    if ex_list[i]:
                        keep.append(i)  # exempt: always kept
                        continue
                    h = int(h)
                    if h not in hset and h not in seen:
                        keep.append(i)
                    seen.add(h)
                out_lists.append(keep)
            return pd.Series(out_lists)

        out = sdf.withColumn("__keep__", _keep_idx(raw_fps, exempt_arr))

    rebuilt = F.array_join(
        F.transform(
            F.col("__keep__"), lambda i: F.element_at(paras, i + 1)
        ),
        join_sep,
    )
    new_text = F.when(
        F.col(tname).isNull(), F.lit(None).cast("string")
    ).otherwise(rebuilt)
    if count_col:
        out = out.withColumn(
            count_col,
            F.when(F.col(tname).isNull(), F.lit(0))
            .otherwise(F.size(paras) - F.size(F.col("__keep__")))
            .cast("int"),
        )
    return (
        out.withColumn(tname, new_text)
        .drop("__fps__", "__keep__")
        .select(*sdf.columns, *([count_col] if count_col else []))
    )


__all__.append("stream_dedup_paragraphs")


def _stream_fp_dedup(
    sdf: DataFrame,
    index_path: str,
    name: str,
    fp_one,
    content: Any,
    id_col: Any,
    mode: str,
    max_hamming: int | None,
    ts: Any,
    watermark: str,
    max_history: int,
    min_stamp: int | None = None,
) -> DataFrame:
    """Shared streaming consumer of the 64-bit-fingerprint index
    family (scale/fp_index.py): stream_image_dedup, stream_audio_dedup
    and stream_video_dedup are this engine under the ``name`` family
    and its per-row hasher ``fp_one(bytes) -> int`` — the same one the
    batch fingerprint op uses. See those wrappers for the user-facing
    contract; the scale notes live here once.

    ``mode="matches"`` (the 100 TB path): byte-identical fingerprints
    come from a stream-static equi-join on the 8-byte hash (hamming 0)
    and near-dups from the banded posting join (pigeonhole-exact
    within the build budget), verified JVM-side with ``bit_count`` —
    stateless, history side arbitrarily large.

    ``mode="filter"`` passes through only CLEAN rows (per-doc
    ALL-bands decision): the fingerprint store broadcasts as per-band
    SORTED numpy tables (bounded by ``max_history`` rows — 16 bytes x
    ``bands`` per fingerprint, ~80 MB at the 1M default with 5 bands;
    loud failure past the bound) and the same Arrow pass that hashes
    each row probes them with ``searchsorted``."""
    from ..scale.fp_index import (
        FAMILIES,
        _prune_expired,
        _retention_cutoff,
        load_meta,
    )
    from ..scale.lsh import fp_band_masks, fp_banded

    fam, op = FAMILIES[name], f"stream_{name}_dedup"

    def hash_one(b):
        return None if b is None else fp_one(bytes(b))

    if mode not in ("matches", "filter"):
        raise ValueError(
            f"{op}: mode must be 'matches' or 'filter', got {mode!r}"
        )
    spark = sdf.sparkSession
    meta = load_meta(fam, spark, index_path)
    # retention: the sidecar's expire_before watermark (or a stricter
    # caller min_stamp) prunes expired store rows in-scan — the stream
    # consumer honors expiry as immediately as the batch matchers
    eff = _retention_cutoff(fam, meta, min_stamp, op, index_path)
    budget = meta["max_hamming"] if max_hamming is None else int(max_hamming)
    if budget > meta["max_hamming"]:
        raise ValueError(
            f"{op}: max_hamming={budget} exceeds the build-time budget "
            f"{meta['max_hamming']}; rebuild the index"
        )
    cname = _name_of(content) if content is not None else meta["content_col"]
    idn = _name_of(id_col) if id_col is not None else meta["id_col"]
    idt = meta["id_type"]
    fp = fam.fp_col
    in_cols = list(sdf.columns)
    for scratch in ("__fp__", "band", "bval", "match_id", "hamming"):
        if scratch in in_cols and (mode == "matches" or scratch == "__fp__"):
            raise ValueError(
                f"{op}: input column {scratch!r} collides with a "
                f"scratch/output name; rename it first"
            )

    from ..scale.tombstones import mask_tombstones, tombstones_df

    _tombs = tombstones_df(spark, index_path, idt)

    if mode == "matches":
        @F.pandas_udf("long")
        def _fp_udf(s: pd.Series) -> pd.Series:
            return pd.Series([hash_one(b) for b in s], dtype="Int64")

        hashed = sdf.withColumn("__fp__", _fp_udf(F.col(cname))).filter(
            F.col("__fp__").isNotNull()
        )
        store = mask_tombstones(
            _prune_expired(
                spark.read.schema(
                    f"id {idt}, {fp} bigint"
                    + (", stamp bigint" if eff > 0 else "")
                ).parquet(f"{index_path}/hashes"),
                eff,
            ),
            _tombs,
        ).select(F.col("id").alias("match_id"),
                 F.col(fp).alias("__sh__"))
        exact = (
            hashed.join(store, hashed["__fp__"] == store["__sh__"])
            .select(*in_cols, "match_id", F.lit(0).alias("hamming"))
        )
        out = exact
        if budget > 0:
            # v2 postings carry the fingerprint inline: the Hamming
            # verify runs on the posting join's output — one
            # stream-static store join in the fuzzy leg, not two
            postings = mask_tombstones(
                _prune_expired(
                    spark.read.schema(
                        f"bval bigint, id {idt}, {fp} bigint, band int"
                        + (", stamp bigint" if eff > 0 else "")
                    ).parquet(f"{index_path}/postings"),
                    eff,
                ),
                _tombs,
            ).select("band", "bval", F.col("id").alias("match_id"),
                     F.col(fp).alias("__mh__"))
            fuzzy = (
                fp_banded(hashed, "__fp__", meta["bands"],
                          [*in_cols, "__fp__"])
                .join(postings, on=["band", "bval"])
                .withColumn(
                    "hamming",
                    F.bit_count(
                        F.col("__fp__").bitwiseXOR(F.col("__mh__"))
                    ).cast("int"),
                )
                .filter(
                    (F.col("hamming") > 0) & (F.col("hamming") <= budget)
                )
                .select(*in_cols, "match_id", "hamming")
            )
            out = exact.unionByName(fuzzy)
        if ts is not None:
            tname = _name_of(ts)
            out = out.withWatermark(tname, watermark)
            out = out.dropDuplicatesWithinWatermark([idn, "match_id"])
        return out

    # filter mode: broadcast per-band SORTED numpy tables + in-pass
    # searchsorted probe — loud failure past the bound (family
    # convention: never silently truncate the history a "clean"
    # decision is made against). Packed arrays, not a Python dict of
    # tuple keys: the dict layout cost 100+ bytes per (band, value)
    # entry — several GB pickled at the old 2M default — while the
    # tables cost exactly 16 bytes x bands per fingerprint (sorted
    # band values + co-sorted hashes, both uint64), ~80 MB at the
    # 1M default with 5 bands.
    import numpy as np

    rows = (
        mask_tombstones(
            _prune_expired(
                spark.read.schema(
                    f"id {idt}, {fp} bigint"
                    + (", stamp bigint" if eff > 0 else "")
                ).parquet(f"{index_path}/hashes"),
                eff,
            ),
            _tombs,
        )
        .select(fp).limit(max_history + 1).collect()
    )
    if len(rows) > max_history:
        raise ValueError(
            f"{op}: index holds more than max_history={max_history} "
            f"fingerprints; use mode='matches' with a batch join-back "
            f"for unbounded histories"
        )
    nb = meta["bands"]
    hashes_np = np.array(
        [r[fp] for r in rows], dtype=np.int64
    ).view(np.uint64)
    band_masks = fp_band_masks(nb)
    band_tables = []
    for shift, mask in band_masks:
        bv = (hashes_np >> shift) & mask
        order = np.argsort(bv, kind="stable")
        band_tables.append((bv[order], hashes_np[order]))

    def _popcount64(x: "np.ndarray") -> "np.ndarray":
        # SWAR popcount — numpy 1.x has no bitwise_count ufunc
        x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
        x = (x & np.uint64(0x3333333333333333)) + (
            (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
        )
        x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        return (x * np.uint64(0x0101010101010101)) >> np.uint64(56)

    @F.pandas_udf("boolean")
    def _clean(s: pd.Series) -> pd.Series:
        out = []
        for b in s:
            h = hash_one(b)
            if h is None:
                out.append(True)  # unverifiable -> clean (family contract)
                continue
            u = np.uint64(h & ((1 << 64) - 1))
            hit = False
            for (shift, mask), (bvals, cands) in zip(band_masks,
                                                     band_tables):
                v = (u >> shift) & mask
                lo_ix = np.searchsorted(bvals, v, side="left")
                hi_ix = np.searchsorted(bvals, v, side="right")
                if lo_ix == hi_ix:
                    continue
                if (
                    _popcount64(cands[lo_ix:hi_ix] ^ u).min()
                    <= budget
                ):
                    hit = True
                    break
            out.append(not hit)
        return pd.Series(out)

    return sdf.filter(_clean(F.col(cname)))


def stream_image_dedup(
    sdf: DataFrame,
    index_path: str,
    content: Any = None,
    id_col: Any = None,
    mode: str = "matches",
    max_hamming: int | None = None,
    strict: bool = False,
    ts: Any = None,
    watermark: str = "1 hour",
    max_history: int = 1_000_000,
    min_stamp: int | None = None,
) -> DataFrame:
    """Streaming perceptual image dedup against a PERSISTENT image
    index (``image_index_build``) — the image member of the streaming
    index-consumer family (``stream_near_dedup``: lexical;
    ``stream_decontaminate_semantic``: embeddings; this: pixels;
    ``stream_audio_dedup``: audio spectra). The lake's images were
    dHashed once at index time; each micro-batch hashes only ITSELF
    (one Arrow pass, stateless) and joins the stores.

    ``mode="matches"`` (the 100 TB path) emits the stream's columns
    plus ``match_id``/``hamming``; a near-dup pair colliding in
    several bands emits once per band UNLESS ``ts=`` is given
    (``dropDuplicatesWithinWatermark`` on (id, match_id) collapses
    them with watermark-bounded state; requires ``id_col``).
    ``mode="filter"`` passes through only CLEAN rows. NULL-content
    rows are unverifiable and pass through as clean (family
    contract). ``max_hamming`` may tighten the build-time budget,
    never widen it. Mechanics shared with the audio member — see
    :func:`_stream_fp_dedup`."""
    from ..scale.multimodal import _image_fp_one

    return _stream_fp_dedup(
        sdf, index_path, "image",
        partial(_image_fp_one, strict=strict, op="stream_image_dedup"),
        content, id_col, mode, max_hamming, ts, watermark, max_history,
        min_stamp,
    )


__all__.append("stream_image_dedup")


def stream_audio_dedup(
    sdf: DataFrame,
    index_path: str,
    content: Any = None,
    id_col: Any = None,
    mode: str = "matches",
    max_hamming: int | None = None,
    strict: bool = False,
    ts: Any = None,
    watermark: str = "1 hour",
    max_history: int = 1_000_000,
    min_stamp: int | None = None,
) -> DataFrame:
    """Streaming perceptual audio dedup against a PERSISTENT audio
    index (``audio_index_build``) — the audio member of the streaming
    index-consumer family. The lake's clips were fingerprinted once
    at index time (64-bit spectral hash, multimodal.audio_fingerprint
    — raw-PCM WAV/AIFF decode for real; compressed containers hash a
    content-keyed stub, exact identity only, or raise with
    ``strict=True``); each micro-batch hashes only ITSELF (one Arrow
    pass, stateless) and joins the stores.

    Same modes and contracts as :func:`stream_image_dedup`:
    ``mode="matches"`` is the stateless 100 TB path emitting
    ``match_id``/``hamming`` (optionally watermark-collapsed via
    ``ts=``), ``mode="filter"`` broadcasts the fingerprint store as
    packed numpy band tables bounded by ``max_history`` and passes
    through only CLEAN rows; NULL content passes as clean. Mechanics
    shared via :func:`_stream_fp_dedup`."""
    from ..scale.multimodal import _audio_fp_one

    return _stream_fp_dedup(
        sdf, index_path, "audio",
        partial(_audio_fp_one, strict=strict, op="stream_audio_dedup"),
        content, id_col, mode, max_hamming, ts, watermark, max_history,
        min_stamp,
    )


__all__.append("stream_audio_dedup")


def stream_video_dedup(
    sdf: DataFrame,
    index_path: str,
    content: Any = None,
    id_col: Any = None,
    mode: str = "matches",
    max_hamming: int | None = None,
    strict: bool = False,
    n_frames: int = 8,
    ts: Any = None,
    watermark: str = "1 hour",
    max_history: int = 1_000_000,
    min_stamp: int | None = None,
) -> DataFrame:
    """Streaming perceptual video dedup against a PERSISTENT video
    index (``video_index_build``) — the video member of the streaming
    index-consumer family. The lake's clips were fingerprinted once
    at index time (64-bit temporal-median dHash,
    multimodal.video_fingerprint — MJPEG RIFF AVI frame decode for
    real; other containers hash a content-keyed stub, exact identity
    only, or raise with ``strict=True``); each micro-batch hashes only
    ITSELF (one Arrow pass, stateless) and joins the stores.

    Same modes and contracts as :func:`stream_image_dedup`:
    ``mode="matches"`` is the stateless 100 TB path emitting
    ``match_id``/``hamming`` (optionally watermark-collapsed via
    ``ts=``), ``mode="filter"`` broadcasts the fingerprint store as
    packed numpy band tables bounded by ``max_history`` and passes
    through only CLEAN rows; NULL content passes as clean. Mechanics
    shared via :func:`_stream_fp_dedup`."""
    from ..scale.multimodal import _video_fp_one

    return _stream_fp_dedup(
        sdf, index_path, "video",
        partial(_video_fp_one, n_frames=n_frames, strict=strict,
                op="stream_video_dedup"),
        content, id_col, mode, max_hamming, ts, watermark, max_history,
        min_stamp,
    )


__all__.append("stream_video_dedup")
