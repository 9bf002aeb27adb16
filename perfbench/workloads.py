"""The benchmark's workloads: which tables each registers, the
operations one pass runs, and the output check of every operation.

An operation's ``build`` step (Python plan build: DSL compile and any
driver-side jobs) returns a lazy DataFrame, which the pass then runs to
a full-result ``noop`` sink. An operation whose call is itself the
action (the dedup index build writes parquet) returns None.

Why each workload was chosen:

* ``olap``: the 10 headline DSL queries of ``bench.py`` on sf0.03-shaped
  star-schema data. JVM execution dominates and no Python worker runs,
  so changes to the quantile and n_distinct encodings, Catalyst or the
  exchanges show here, and kernel work should not move it.
* ``curation``: 8 ``scale`` operations on key-shifted documents and
  embeddings. Arrow kernels and LSH shuffles dominate and DSL compile is
  negligible. It writes a dedup index as well as matching against it,
  so making matches cheaper by making builds dearer still shows.
"""

from __future__ import annotations

import math
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

HEADLINE = [
    "q01_pricing_summary",
    "q02_select_mutate",
    "q06_join_revenue_per_nation",
    "q07_left_join_zero_counts",
    "q10_topk_per_group",
    "q12_lag_cumsum",
    "q19_quantiles",
    "q20_n_distinct",
    "q22_group_deviation",
    "q23_events_daily",
]

CURATION = [
    "minhash_dedup",
    "duplicate_spans",
    "lang_id_predict",
    "text_embed",
    "knn_join",
    "semantic_dedup",
    "dedup_index_build",
    "dedup_against_index",
]


class Op:
    def __init__(self, name: str, build, writes: bool = False):
        self.name, self.build, self.writes = name, build, writes


class Workload:
    tables: tuple[str, ...] = ()
    names: list[str] = []
    # steady passes a run makes at least, however long they take
    min_passes = 1

    def register(self, spark, data_dir: Path) -> None:
        """Input registration: read each table once, which fills the
        package's read memo for this session."""
        from datar_polars_spark import read_parquet

        for t in self.tables:
            read_parquet(spark, f"{data_dir}/{t}.parquet")

    def prepare(self, ctx) -> None:
        """Untimed per-session preparation of operation inputs."""


# ---------------------------------------------------------------------------
# olap: DSL queries, outputs checked against DuckDB
# ---------------------------------------------------------------------------

class Olap(Workload):
    tables = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
    names = HEADLINE
    # the first steady pass is still ~10% slower (JIT); two passes keep
    # pass_s from depending on whether a slow host fits a second one
    min_passes = 2

    def ops(self, ctx) -> list[Op]:
        import __spark_entry__ as entry

        qs = entry.queries()
        return [Op(n, (lambda fn=qs[n]: fn(ctx.spark, str(ctx.data_dir)))) for n in self.names]

    def check(self, ctx, results: dict) -> dict:
        """results: op name -> DataFrame of the last pass. Returns op name
        -> (None when the rows equal DuckDB's ``oracle_sql()`` result on
        the same files, else the mismatch; rows returned)."""
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in self.tables:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{ctx.data_dir}/{t}.parquet/*.parquet')"
                )
            out = {}
            for name, df in results.items():
                try:
                    got = [tuple(r) for r in df.collect()]
                    cur = con.execute(oracles[name])
                    want_cols = [d[0] for d in cur.description]
                    msg = compare_frames(
                        list(df.columns), got, want_cols, cur.fetchall(), final_sort_keys(df)
                    )
                    out[name] = (msg, len(got))
                except Exception as exc:  # reported as a failed op
                    out[name] = (f"check raised {type(exc).__name__}: {str(exc)[:300]}", 0)
            return out
        finally:
            con.close()


def final_sort_keys(df):
    """Output columns the query's final Sort orders by, [] when the plan
    ends in no Sort (row order is free), or None when a sort key is not
    an output column (then only the row multiset is compared)."""
    node = df._jdf.queryExecution().optimizedPlan()
    while node.nodeName() in ("Project", "GlobalLimit", "LocalLimit"):
        node = node.child()
    if node.nodeName() != "Sort":
        return []
    keys = []
    it = node.order().iterator()
    while it.hasNext():
        expr = it.next().child()
        if expr.nodeName() != "AttributeReference" or expr.name() not in df.columns:
            return None
        keys.append(expr.name())
    return keys


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, float)):
        return float(v)
    if hasattr(v, "isoformat"):
        return str(v)[:19]
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return _norm(v.asDict())
    return str(v)


def _cell_eq(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        # both sides round floats to 4 decimals; summation order may
        # move the last rounded digit
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1.01e-4)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cell_eq(x, y) for x, y in zip(a, b))
    return a == b


def _sort_key(row):
    return tuple(
        (0, "") if v is None else (1, repr(round(v, 2)) if isinstance(v, float) else repr(v))
        for v in row
    )


def _rows_eq(g, w, what: str):
    for i, (a, b) in enumerate(zip(g, w)):
        if not _cell_eq(a, b):
            return f"row {i} differs ({what}): {a} vs {b}"
    return None


def compare_frames(got_cols, got, want_cols, want, sort_keys):
    """None when the Spark rows equal the oracle rows. Rows are compared
    as multisets; when the query sorts, the sequence of sort-key values
    must also match the oracle's, so rows tied on every key may come in
    any order."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns differ: {sorted(got_cols)} vs {sorted(want_cols)}"
    if len(got) != len(want):
        return f"row count {len(got)} vs oracle {len(want)}"
    cols = sorted(got_cols)
    g = [tuple(_norm(r[got_cols.index(c)]) for c in cols) for r in got]
    w = [tuple(_norm(r[want_cols.index(c)]) for c in cols) for r in want]
    if sort_keys:
        ki = [cols.index(k) for k in sort_keys]
        bad = _rows_eq([tuple(r[i] for i in ki) for r in g],
                       [tuple(r[i] for i in ki) for r in w], f"order by {sort_keys}")
        if bad:
            return bad
    return _rows_eq(sorted(g, key=_sort_key), sorted(w, key=_sort_key), "as a multiset")


# ---------------------------------------------------------------------------
# curation: scale operations, each with its own check
# ---------------------------------------------------------------------------

class Curation(Workload):
    tables = ("documents", "embeddings")
    names = CURATION

    def prepare(self, ctx) -> None:
        """Train the lang-id model on the package's seed corpus. The model
        is an input of ``lang_id_predict``, so its training is not timed."""
        import datar_polars_spark.scale as scale

        ctx.memo["lid"] = scale.lang_id_train_seed(ctx.spark)

    def ops(self, ctx) -> list[Op]:
        from pyspark.sql import functions as F

        import datar_polars_spark.scale as scale
        import datar_polars_spark.scale.dedup as dedup
        from datar_polars_spark import f, read_parquet
        from datar_polars_spark.tibble import Tibble

        spark, d, p = ctx.spark, ctx.data_dir, ctx.params
        docs = read_parquet(spark, f"{d}/documents.parquet")
        emb = read_parquet(spark, f"{d}/embeddings.parquet")
        r = p["index_batch_residue"]
        index = str(ctx.index_path)
        qids = p["knn_query_ids"]

        def index_build():
            corpus = Tibble(docs.df.filter(F.col("doc_id") % 3 != r))
            scale.dedup_index_build(
                corpus, "text", "doc_id", index, num_perm=64, bands=16, mode="overwrite"
            )

        return [
            Op("minhash_dedup", lambda: (docs >> scale.minhash_dedup(f.text, f.doc_id, threshold=0.7)).df),
            Op("duplicate_spans", lambda: scale.duplicate_spans(docs, k=8, min_count=2).df),
            Op("lang_id_predict", lambda: scale.lang_id_predict(docs, ctx.memo["lid"], text="text").df),
            Op("text_embed", lambda: scale.text_embed(docs, "text", dim=64).df),
            Op("knn_join", lambda: scale.knn_join(emb.df.filter(F.col("vec_id").isin(qids)), emb, k=10).df),
            Op("semantic_dedup", lambda: dedup.semantic_dedup(emb, f.embedding, f.vec_id, eps=0.05).df),
            Op("dedup_index_build", index_build, writes=True),
            Op("dedup_against_index", lambda: scale.dedup_against_index(
                Tibble(docs.df.filter(F.col("doc_id") % 3 == r)), index, threshold=0.7).df),
        ]

    def check(self, ctx, results: dict) -> dict:
        docs = pq.read_table(f"{ctx.data_dir}/documents.parquet").to_pydict()
        emb = pq.read_table(f"{ctx.data_dir}/embeddings.parquet").to_pydict()
        text_of = dict(zip(docs["doc_id"], docs["text"]))
        vec_of = {i: np.asarray(v, dtype=np.float64) for i, v in zip(emb["vec_id"], emb["embedding"])}
        out = {}
        for name, df in results.items():
            try:
                rows = [] if df is None else [r.asDict() for r in df.collect()]
                out[name] = (getattr(self, f"_check_{name}")(ctx, rows, text_of, vec_of), len(rows))
            except Exception as exc:  # reported as a failed op
                out[name] = (f"check raised {type(exc).__name__}: {str(exc)[:300]}", 0)
        return out

    # Each check returns None when the output holds, else what failed.

    @staticmethod
    def _check_minhash_dedup(ctx, rows, text_of, vec_of):
        """Kept ids are input ids, unique, and no two kept documents have
        the same text; a kept document is the smallest id of its
        exact-copy group (single_link keeps the minimum)."""
        ids = [r["doc_id"] for r in rows]
        if not ids or len(set(ids)) != len(ids) or not set(ids) <= text_of.keys():
            return "kept ids empty, repeated, or not input ids"
        texts = [text_of[i] for i in ids]
        if len(set(texts)) != len(texts):
            return "an exact duplicate survived"
        min_id: dict = {}
        for i, t in text_of.items():
            min_id[t] = min(min_id.get(t, i), i)
        bad = [i for i in ids if min_id[text_of[i]] != i]
        return f"{len(bad)} kept ids are not their copy group's minimum" if bad else None

    @staticmethod
    def _check_duplicate_spans(ctx, rows, text_of, vec_of):
        """Every base text appears in several key-shifted copies, so every
        document of at least k words is one duplicated span end to end,
        and no shorter document is reported."""
        k = 8
        want = {i for i, t in text_of.items() if t is not None and len(t.split()) >= k}
        got = {r["doc_id"]: r for r in rows}
        if set(got) != want:
            return f"{len(set(got) ^ want)} documents differ from the k-word reference"
        bad = [i for i, r in got.items() if not math.isclose(r["dup_word_fraction"], 1.0)]
        return f"{len(bad)} documents with dup_word_fraction != 1" if bad else None

    @staticmethod
    def _check_lang_id_predict(ctx, rows, text_of, vec_of):
        """One row per document; copies of a text get the same label."""
        if sorted(r["doc_id"] for r in rows) != sorted(text_of):
            return "row set differs from the input documents"
        by_text: dict = {}
        for r in rows:
            by_text.setdefault(r["text"], set()).add((r["lang_pred"], r["lang_conf"]))
        bad = sum(1 for v in by_text.values() if len(v) != 1)
        return f"{bad} texts labelled differently across copies" if bad else None

    @staticmethod
    def _check_text_embed(ctx, rows, text_of, vec_of):
        """One row per document; 64-dim unit vectors; copies of a text
        embed identically."""
        if sorted(r["doc_id"] for r in rows) != sorted(text_of):
            return "row set differs from the input documents"
        by_text: dict = {}
        for r in rows:
            e = r["embedding"]
            if e is None:
                continue
            if len(e) != 64 or not math.isclose(float(np.linalg.norm(e)), 1.0, abs_tol=1e-6):
                return f"doc {r['doc_id']}: embedding is not a 64-dim unit vector"
            by_text.setdefault(r["text"], set()).add(tuple(e))
        bad = sum(1 for v in by_text.values() if len(v) != 1)
        return f"{bad} texts embedded differently across copies" if bad else None

    @staticmethod
    def _check_knn_join(ctx, rows, text_of, vec_of):
        """Brute force over the 64 queries: the returned cosines equal
        numpy's top-10 cosines, and each pair's cosine is recomputed."""
        ids = np.array(sorted(vec_of))
        mat = np.stack([vec_of[i] for i in ids])
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        by_q: dict = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        if set(by_q) != set(ctx.params["knn_query_ids"]):
            return "query id set differs"
        for q, rs in by_q.items():
            qv = vec_of[q] / np.linalg.norm(vec_of[q])
            ref = np.sort(mat @ qv)[::-1][:10]
            rs.sort(key=lambda r: r["rank"])
            if [r["rank"] for r in rs] != list(range(1, 11)):
                return f"query {q}: ranks are not 1..10"
            got = np.array([r["cosine"] for r in rs])
            if not np.allclose(got, ref, atol=1e-5):
                return f"query {q}: top-10 cosines differ from brute force"
            for r in rs:
                m = vec_of[r["match_id"]]
                if not math.isclose(float(m @ qv / np.linalg.norm(m)), r["cosine"], abs_tol=1e-5):
                    return f"query {q}: pair cosine differs for match {r['match_id']}"
        return None

    @staticmethod
    def _check_semantic_dedup(ctx, rows, text_of, vec_of):
        """Kept ids are input ids, unique, with no two identical vectors;
        a kept vector is the smallest id among its exact copies."""
        ids = [r["vec_id"] for r in rows]
        if not ids or len(set(ids)) != len(ids) or not set(ids) <= vec_of.keys():
            return "kept ids empty, repeated, or not input ids"
        keys = [vec_of[i].tobytes() for i in ids]
        if len(set(keys)) != len(keys):
            return "an exact duplicate vector survived"
        min_id: dict = {}
        for i, v in vec_of.items():
            kb = v.tobytes()
            min_id[kb] = min(min_id.get(kb, i), i)
        bad = [i for i in ids if min_id[vec_of[i].tobytes()] != i]
        return f"{len(bad)} kept ids are not their copy group's minimum" if bad else None

    @staticmethod
    def _check_dedup_index_build(ctx, rows, text_of, vec_of):
        """The index directory holds parquet stores."""
        files = [p for p in Path(ctx.index_path).rglob("*.parquet") if p.is_file()]
        return None if files else "index holds no parquet files"

    @staticmethod
    def _check_dedup_against_index(ctx, rows, text_of, vec_of):
        """Survivors are batch documents, and none is an exact copy of an
        indexed (corpus) document."""
        r = ctx.params["index_batch_residue"]
        batch = {i for i in text_of if i % 3 == r}
        corpus_texts = {t for i, t in text_of.items() if i % 3 != r}
        ids = [row["doc_id"] for row in rows]
        if len(set(ids)) != len(ids) or not set(ids) <= batch:
            return "survivors repeated or not batch documents"
        bad = [i for i in ids if text_of[i] in corpus_texts]
        return f"{len(bad)} exact copies of indexed documents survived" if bad else None


WORKLOADS = {"olap": Olap, "curation": Curation}
