"""Seeded input generator for the benchmark workloads.

The base tables in ``perfbench/base`` are the sf0.01 synthetic star
schema (TPC-H-like tables plus ``events``, ``documents`` and
``embeddings``). A workload's inputs are derived from them by
key-shifted replication, the same scheme ``tools/make_sf1.py`` uses:
replica ``i`` adds ``i * (max_key + 1)`` to every key of a key domain,
so joins match exactly the rows they matched in the base and group
cardinalities scale with the factor. ``region`` and ``nation`` keep
their fixed TPC-H cardinality.

The seed permutes the row order of every table, picks where each table
is split into its parquet part files (the file count is fixed, so the
scan parallelism is the same for every seed), and picks the operation
parameters the curation workload uses: the 64 knn query rows and which
third of the documents is the dedup-index batch.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = Path(__file__).resolve().parent / "base"

# table -> {column: key domain}; columns not listed are copied verbatim
KEYED = {
    "customer": {"c_custkey": "custkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "part": {"p_partkey": "partkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {
        "l_orderkey": "orderkey",
        "l_partkey": "partkey",
        "l_suppkey": "suppkey",
    },
    "events": {"event_id": "eventid", "user_id": "userid"},
    "documents": {"doc_id": "docid"},
    "embeddings": {"vec_id": "vecid"},
}
FIXED = ("region", "nation")

STAR = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")

# workload -> {table: replication factor}
SHAPES = {
    # sf0.03 shape: 180k lineitem rows
    "olap": {t: (1 if t in FIXED else 3) for t in STAR},
    # 1k documents (2 copies of each base text), 1k vectors
    "curation": {"documents": 2, "embeddings": 2},
}

PART_FILES = 4  # tables above SPLIT_MIN_ROWS are written as this many files
SPLIT_MIN_ROWS = 5000
KNN_QUERIES = 64
FORMAT = 1  # bump when the generated layout changes; invalidates caches
KEEP_CACHED = 3  # datasets kept per workload; older seeds are evicted


def _domain_max() -> dict[str, int]:
    out: dict[str, int] = {}
    for t, cols in KEYED.items():
        tab = pq.read_table(BASE / f"{t}.parquet", columns=list(cols))
        for c, dom in cols.items():
            m = pc.max(tab[c]).as_py()
            out[dom] = max(out.get(dom, 0), int(m or 0))
    return out


def _replicate(tab: pa.Table, keycols: dict, dmax: dict, factor: int) -> pa.Table:
    if factor == 1:
        return tab
    parts = []
    for i in range(factor):
        cols = []
        for name in tab.column_names:
            col = tab[name]
            if name in keycols:
                off = pa.scalar(i * (dmax[keycols[name]] + 1), col.type)
                col = pc.add(col, off)
            cols.append(col)
        parts.append(pa.table(cols, schema=tab.schema))
    return pa.concat_tables(parts).combine_chunks()


def _split_points(n: int, rng: np.random.Generator) -> list[int]:
    """Seeded cut points for PART_FILES files; each file holds 12-38%."""
    if n < SPLIT_MIN_ROWS:
        return [0, n]
    w = rng.uniform(0.5, 1.5, PART_FILES)
    cuts = np.concatenate([[0], np.cumsum(w / w.sum())])
    return [int(round(c * n)) for c in cuts]


def generate(workload: str, seed: int, out: Path) -> dict:
    """Write the workload's tables under ``out/<table>.parquet/`` and
    return the seeded operation parameters (also saved as params.json)."""
    shape = SHAPES[workload]
    rng = np.random.default_rng([FORMAT, seed])
    dmax = _domain_max()
    rows = {}
    for t, factor in shape.items():
        tab = pq.read_table(BASE / f"{t}.parquet")
        tab = _replicate(tab, KEYED.get(t, {}), dmax, factor)
        tab = tab.take(pa.array(rng.permutation(tab.num_rows)))
        d = out / f"{t}.parquet"
        d.mkdir(parents=True)
        cuts = _split_points(tab.num_rows, rng)
        for j in range(len(cuts) - 1):
            pq.write_table(
                tab.slice(cuts[j], cuts[j + 1] - cuts[j]),
                d / f"part-{j:05d}.parquet",
            )
        rows[t] = tab.num_rows
    params: dict = {"workload": workload, "seed": seed, "rows": rows}
    if workload == "curation":
        vec_ids = pq.read_table(out / "embeddings.parquet", columns=["vec_id"])
        ids = np.sort(vec_ids["vec_id"].to_numpy())
        params["knn_query_ids"] = sorted(
            int(v) for v in rng.choice(ids, KNN_QUERIES, replace=False)
        )
        params["index_batch_residue"] = int(rng.integers(0, 3))
    (out / "params.json").write_text(json.dumps(params, indent=1))
    return params


def ensure(workload: str, seed: int, data_root: Path) -> tuple[Path, dict, float, bool]:
    """Return (dir, params, generation seconds, cache hit) for one seed,
    generating the inputs on a miss. Generation writes to a temporary
    sibling and renames it into place, so an interrupted run never
    leaves a half-written dataset behind."""
    data_root.mkdir(parents=True, exist_ok=True)
    final = data_root / f"{workload}-f{FORMAT}-s{seed}"
    t0 = time.perf_counter()
    if (final / "params.json").is_file():
        os.utime(final)
        params = json.loads((final / "params.json").read_text())
        return final, params, time.perf_counter() - t0, True
    tmp = data_root / f".tmp-{final.name}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    params = generate(workload, seed, tmp)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    _evict(data_root, workload, keep=final)
    return final, params, time.perf_counter() - t0, False


def _evict(data_root: Path, workload: str, keep: Path) -> None:
    old = sorted(
        (p for p in data_root.glob(f"{workload}-f*-s*") if p != keep),
        key=lambda p: p.stat().st_mtime,
        reverse=True,
    )
    for p in old[KEEP_CACHED - 1:]:
        shutil.rmtree(p, ignore_errors=True)

