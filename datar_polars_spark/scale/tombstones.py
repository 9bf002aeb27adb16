"""Tombstone deletion for the persistent index family (dedup_index /
semantic_index / fp_index) — the takedown/retention path.

At corpus scale an id must be removable without rebuilding the index
(a rebuild re-reads the whole corpus; takedowns are routine and small).
``*_index_delete(spark, path, ids)`` appends the ids to a
``<path>/tombstones/`` parquet sidecar; every store read (match, dedup,
stats' live counts, the streaming consumers) anti-joins the sidecar, so
a tombstoned id simply does not exist: it can't match, can't prune a
batch row's fuzzy candidates, and can't drop anything. The existing
``*_index_compact`` folds tombstones physically — each store is
rewritten without the dead ids and the sidecar is cleared.

Masking happens at the STORE-READ level, not on match results: the
exact pre-passes derive their fuzzy-survivor sets from the stores
(e.g. dedup_index's fingerprint anti-join), so filtering only the
final pairs would let a deleted doc still suppress a batch row's
fuzzy matches — visible, wrong state. Read-level masking makes every
consumer consistent by construction.

Contract notes:

- Deletion is by ID. Every store row carrying the id goes (all its
  fingerprints/signatures/postings/vectors).
- A tombstone MASKS the id until the next compact. Re-appending a
  tombstoned id while the tombstone is live is therefore masked too —
  compact first, then append, to resurrect an id.
- Deleting an id the index never held is a no-op (the tombstone is
  folded away at the next compact).
- The sidecar is read with an explicit schema (the index's pinned
  ``id_type``) like every other store.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import functions as F

__all__ = [
    "append_tombstones",
    "delete_dir",
    "dir_exists",
    "mask_tombstones",
    "tombstones_df",
]


def _fs(spark, path: str):
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(sc._jsc.hadoopConfiguration()), jpath


def dir_exists(spark, path: str) -> bool:
    fs, jpath = _fs(spark, path)
    return bool(fs.exists(jpath))


def delete_dir(spark, path: str) -> None:
    fs, jpath = _fs(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)


def _ids_frame(spark, ids: Any, id_type: str):
    """Normalize ``ids`` (Python sequence, DataFrame, or Tibble) to a
    one-column (id ``id_type``) DataFrame."""
    from ..tibble import Tibble

    if isinstance(ids, Tibble):
        ids = ids.df
    if hasattr(ids, "columns") and hasattr(ids, "sparkSession"):
        if len(ids.columns) != 1:
            raise ValueError(
                f"index delete: pass a one-column ids frame, got "
                f"{list(ids.columns)}"
            )
        return ids.select(
            F.col(ids.columns[0]).cast(id_type).alias("id")
        )
    rows = [(i,) for i in ids]
    return spark.createDataFrame(rows, f"id {id_type}")


def append_tombstones(spark, path: str, ids: Any, id_type: str) -> int:
    """Append ``ids`` to ``<path>/tombstones``; returns the number of
    ids written (0 short-circuits without touching the filesystem)."""
    df = _ids_frame(spark, ids, id_type).filter(
        F.col("id").isNotNull()
    ).dropDuplicates()
    n = df.count()
    if n == 0:
        return 0
    # a deletion list is driver-request-sized, not corpus-sized:
    # one file per delete call keeps the sidecar scan trivial
    df.coalesce(1).write.mode("append").parquet(f"{path}/tombstones")
    return int(n)


def tombstones_df(spark, path: str, id_type: str):
    """The live tombstone set as a (id ``id_type``) DataFrame, or None
    when no delete has happened since the last compact — the common
    case, which must stay zero-cost (one FS existence probe, no scan
    node in any plan)."""
    tpath = f"{path}/tombstones"
    if not dir_exists(spark, tpath):
        return None
    return (
        spark.read.schema(f"id {id_type}").parquet(tpath).dropDuplicates()
    )


def mask_tombstones(store_df, tombs, key: str = "id"):
    """Anti-join ``store_df`` against the tombstone set on ``key``.
    No-op (same frame, no plan change) when ``tombs`` is None. The
    tombstone side is deletion-request-sized, so it broadcasts
    EXPLICITLY (hinted, not left to AQE — the r5 finding that AQE does
    not always demote applies): the corpus-scale store never shuffles
    just to lose a handful of dead ids."""
    if tombs is None:
        return store_df
    return store_df.join(
        F.broadcast(tombs.select(F.col("id").alias(key))),
        on=key,
        how="left_anti",
    )
