"""Bounded registry for INTERNAL persisted frames.

Several operators persist an intermediate frame because it feeds
multiple consumers inside one returned plan (minhash/simhash/embedding
LSH signatures) or because an unpersisted recompute would be
nondeterministic (positional-id frames: the RangePartitioner samples
with a per-compilation seed). Those persists used to live until session
end — a long pipeline with many such steps accumulated cached data
indefinitely.

This registry caps the number of simultaneously-cached internal frames
(``DATAR_MAX_INTERNAL_CACHES``, default 8): registering a new frame
evicts (unpersists) the oldest *recompute-safe* entries beyond the cap,
FIFO. Eviction is safe for deterministic frames — Spark transparently
recomputes evicted data if a consumer still needs it; only speed is
lost, never answers. Frames whose recompute is nondeterministic
(positional ids) register with ``safe_to_evict=False`` and are never
auto-evicted, but ARE released by ``release_internal_caches()`` —
call it between pipeline stages when no frame derived from an earlier
stage will be re-collected, or rely on session teardown.

User-facing ``persist_``/``unpersist_`` verbs are untouched: caches the
user asked for are the user's to manage.
"""

from __future__ import annotations

import os
import weakref
from collections import OrderedDict
from itertools import count
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

__all__ = ["register_internal_cache", "unregister_internal_cache",
           "release_internal_caches", "internal_cache_count",
           "reliable_checkpoint"]

_seq = count()
# token -> (df, safe_to_evict); insertion-ordered for FIFO eviction
_caches: "OrderedDict[int, tuple[DataFrame, bool]]" = OrderedDict()

_CLEAN_CHECKPOINTS = "spark.cleaner.referenceTracking.cleanCheckpoints"
# SparkContexts already warned about uncleaned checkpoints; weak, so an
# entry goes away with its context
_warned_checkpoint_contexts: "weakref.WeakSet" = weakref.WeakSet()


def _max_caches() -> int:
    return int(os.environ.get("DATAR_MAX_INTERNAL_CACHES", "8"))


def register_internal_cache(df: "DataFrame", safe_to_evict: bool = True) -> "DataFrame":
    """Record an already-persisted internal frame; evict the oldest
    recompute-safe entries beyond the cap. Returns ``df`` unchanged so
    call sites can wrap the persist expression.

    The cap counts ONLY evictable entries: non-evictable positional-id
    frames sit outside it (they can't be auto-released, so letting them
    consume the budget would immediately evict every later evictable
    frame — including the one being registered — and silently reinstate
    the unbounded-recompute behavior the persists exist to prevent).
    The frame being registered is never evicted by its own call."""
    token = next(_seq)
    _caches[token] = (df, safe_to_evict)
    n_over = sum(1 for _df, safe in _caches.values() if safe) - _max_caches()
    if n_over > 0:
        for tok in list(_caches):
            if n_over <= 0:
                break
            if tok == token:
                continue
            cached, safe = _caches[tok]
            if safe:
                del _caches[tok]
                try:
                    cached.unpersist()
                except Exception:
                    pass  # session already stopped
                n_over -= 1
    return df


def unregister_internal_cache(df: "DataFrame") -> bool:
    """Unpersist ``df`` and drop its registry entries (matched by
    object identity). For operators that registered a frame —
    evictable or pinned with ``safe_to_evict=False`` — and can release
    it deterministically themselves: the explicit release frees the
    slot (and the memory) immediately instead of leaking a pinned
    frame until session teardown or waiting on FIFO eviction. Returns
    True if an entry was found."""
    found = False
    for tok in [t for t, (c, _s) in _caches.items() if c is df]:
        del _caches[tok]
        found = True
    try:
        df.unpersist()
    except Exception:
        pass  # session already stopped
    return found


def release_internal_caches() -> int:
    """Unpersist EVERY registered internal frame (including
    non-evictable positional-id frames) and empty the registry.
    Returns the number released. Safe to call at any stage boundary
    where no earlier frame will be re-collected — derived results
    recompute if needed (positional ids are only nondeterministic
    across recomputes when the same cached frame must serve two passes
    of one not-yet-collected plan, not after its plan has collected)."""
    n = len(_caches)
    for df, _safe in _caches.values():
        try:
            df.unpersist()
        except Exception:
            pass
    _caches.clear()
    return n


def internal_cache_count() -> int:
    return len(_caches)


def reliable_checkpoint(df: "DataFrame", eager: bool = True) -> "DataFrame":
    """Checkpoint that honours a configured checkpoint directory.

    The iterative operators (pagerank, connected components) and the
    store matchers truncate lineage with ``localCheckpoint``, which
    stores the cut in EXECUTOR-local block storage: on a real cluster,
    losing one executor mid-job makes that data unrecoverable and fails
    the whole run — invisible locally, fatal at 100 TB. When the
    deployment has called ``sparkContext.setCheckpointDir(...)`` (the
    standard iterative-job hygiene on clusters), use the RELIABLE
    ``checkpoint`` instead: blocks live in the fault-tolerant store and
    survive executor loss. With no checkpoint dir configured (local
    mode, tests, bench) the behaviour — and the physical plan — is
    exactly the r14 ``localCheckpoint``.

    Storage left behind: local-checkpoint blocks are released by the
    ContextCleaner once their plan is garbage-collected. Reliable
    checkpoint files are deleted only when
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (a
    SparkContext setting, fixed at startup); otherwise every call
    leaves its files in the checkpoint dir until the application
    removes them. That case logs one warning per SparkContext."""
    try:
        sc = df.sparkSession.sparkContext
        ckpt_dir = sc.getCheckpointDir()
    except Exception:
        ckpt_dir = None
    if ckpt_dir is None:
        return df.localCheckpoint(eager=eager)
    if sc not in _warned_checkpoint_contexts:
        _warned_checkpoint_contexts.add(sc)
        clean = sc.getConf().get(_CLEAN_CHECKPOINTS, "false")
        if str(clean).strip().lower() != "true":
            import logging

            logging.getLogger(__name__).warning(
                "reliable_checkpoint: %s is not true, so checkpoint "
                "files written under %s are never deleted; set it when "
                "the session starts to have the ContextCleaner remove "
                "them",
                _CLEAN_CHECKPOINTS,
                ckpt_dir,
            )
    return df.checkpoint(eager=eager)
