"""Driver-side state of the current SparkContext, and the bounded
registry for INTERNAL persisted frames.

Every driver-side memo and op record (the read-plan memo, the
footer-bound memos, per-context UDF and broadcast memos, the
dropped-pairs and pagerank records, the internal-cache registry and
the checkpoint warning) lives in one namespace held here for ONE
SparkContext. PySpark allows one active SparkContext per process, so
the policy is: a lookup from a different context object replaces the
held namespace, and a stopped context's state is never served to a
live one. Memos inside the namespace are :class:`Memo` — bounded FIFO.

Several operators persist an intermediate frame because it feeds
multiple consumers inside one returned plan (minhash/simhash/embedding
LSH signatures) or because an unpersisted recompute would be
nondeterministic (positional-id frames: the RangePartitioner samples
with a per-compilation seed). Those persists used to live until session
end — a long pipeline with many such steps accumulated cached data
indefinitely.

The registry caps the number of simultaneously-cached internal frames
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
from collections import OrderedDict
from contextlib import suppress
from typing import TYPE_CHECKING, Any, Callable

from pyspark import SparkContext

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

__all__ = ["register_internal_cache", "unregister_internal_cache",
           "release_internal_caches", "internal_cache_count",
           "reliable_checkpoint"]

# the one module-level holder: [context, its state namespace]
_HELD: list = [None, {}]


def context_state(sc: Any = None) -> dict:
    """The state namespace of ``sc`` (default: the active SparkContext).
    A different context object than the held one replaces the held
    namespace, so nothing recorded under a stopped context survives."""
    if sc is None:
        sc = SparkContext._active_spark_context
    if _HELD[0] is not sc:
        _HELD[:] = [sc, {}]
    return _HELD[1]


class Memo(dict):
    """FIFO memo: storing a new key when ``size`` entries are held drops
    the oldest first (``on_evict`` receives its value); ``size=None``
    leaves it unbounded."""

    def __init__(self, size: int | None = None,
                 on_evict: Callable | None = None):
        super().__init__()
        self.size = size
        self.on_evict = on_evict

    def put(self, key, value):
        if key not in self and self.size is not None and len(self) >= self.size:
            old = self.pop(next(iter(self)))
            if self.on_evict is not None:
                self.on_evict(old)
        self[key] = value
        return value

    def get_or_make(self, key, make: Callable):
        """The value under ``key``, storing ``make()`` on a miss."""
        return self[key] if key in self else self.put(key, make())


def context_memo(name: str, size: int, sc: Any = None,
                 on_evict: Callable | None = None) -> Memo:
    """The context's memo called ``name``, created on first use."""
    return context_state(sc).setdefault(name, Memo(size, on_evict))


def file_set_signature(files) -> int | None:
    """Hash of the sorted ``(name, mtime_ns, size)`` of local files: a
    rewrite, append or delete changes it, and a memo key stays one int
    however many files a table has. None when a name is not a local
    path or cannot be stat'ed."""
    try:
        stats = [(name, os.stat(name)) for name in files]
    except (OSError, TypeError):
        return None
    return hash(tuple(sorted((n, s.st_mtime_ns, s.st_size) for n, s in stats)))


def _caches() -> "OrderedDict[object, tuple[DataFrame, bool]]":
    # token -> (df, safe_to_evict); insertion-ordered for FIFO eviction
    return context_state().setdefault("internal_caches", OrderedDict())


def _unpersist(df: "DataFrame") -> None:
    with suppress(Exception):  # session already stopped
        df.unpersist()


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
    caches = _caches()
    token = object()
    caches[token] = (df, safe_to_evict)
    older = [t for t, (_df, safe) in caches.items() if safe and t is not token]
    for tok in older[:max(0, len(older) + safe_to_evict - _max_caches())]:
        _unpersist(caches.pop(tok)[0])
    return df


def unregister_internal_cache(df: "DataFrame") -> bool:
    """Unpersist ``df`` and drop its registry entries (matched by
    object identity). For operators that registered a frame —
    evictable or pinned with ``safe_to_evict=False`` — and can release
    it deterministically themselves: the explicit release frees the
    slot (and the memory) immediately instead of leaking a pinned
    frame until session teardown or waiting on FIFO eviction. Returns
    True if an entry was found."""
    caches = _caches()
    found = [t for t, (c, _s) in caches.items() if c is df]
    for tok in found:
        del caches[tok]
    _unpersist(df)
    return bool(found)


def release_internal_caches() -> int:
    """Unpersist EVERY internal frame registered under the active
    SparkContext (including non-evictable positional-id frames) and
    empty the registry. Returns the number released. Safe to call at
    any stage boundary where no earlier frame will be re-collected —
    derived results recompute if needed (positional ids are only
    nondeterministic across recomputes when the same cached frame must
    serve two passes of one not-yet-collected plan, not after its plan
    has collected)."""
    caches = _caches()
    n = len(caches)
    for df, _safe in caches.values():
        _unpersist(df)
    caches.clear()
    return n


def internal_cache_count() -> int:
    """Internal frames registered under the active SparkContext."""
    return len(_caches())


_CLEAN_CHECKPOINTS = "spark.cleaner.referenceTracking.cleanCheckpoints"


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
    state = context_state(sc)
    if not state.get("checkpoint_warned"):
        state["checkpoint_warned"] = True
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
