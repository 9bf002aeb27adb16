"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline; random-hyperplane
LSH-bucketed search as the scale path (probe the query's bucket plus
hamming-1 neighbors). Everything stays in JVM higher-order functions.

At 100 TB / billions of vectors the LSH variant's plan is: one narrow
projection computes each vector's bucket once (cacheable/bucketable on
write), the probe filters to a handful of buckets (partition-prunable
when bucketed), and only candidates pay the exact-cosine cost.
"""

from __future__ import annotations

import math
import random
from typing import Any, Sequence

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..plans.expr import Ref
from ..plans.verb import verb
from ..tibble import Tibble, ensure_tibble

from .dedup import cosine_sim

__all__ = ["cosine_topk", "lsh_plan_buckets", "lsh_topk",
           "ivf_train", "ivf_assign", "ivf_topk", "knn_join",
           "pq_train", "pq_encode", "pq_topk", "pq_knn_join",
           "ivfpq_train", "ivfpq_encode", "ivfpq_knn_join",
           "l2_normalize",
           "pca_train", "pca_apply", "pca_write", "pca_read"]


def _name_of(x: Any) -> str:
    return x._name if isinstance(x, Ref) else str(x)


def _query_cosine(vec_col: Column, query: Sequence[float]) -> Column:
    """Cosine against a literal query vector; the query norm folds to a
    constant, the row dot/norm is one pass over the array."""
    q = [float(v) for v in query]
    qnorm = math.sqrt(sum(v * v for v in q))
    dot = F.aggregate(
        F.zip_with(vec_col, F.lit(q), lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    vnorm = F.sqrt(
        F.aggregate(
            vec_col, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )
    return dot / (vnorm * F.lit(qnorm))


@verb
def cosine_topk(
    td: Tibble,
    query: Sequence[float],
    embedding: Any = "embedding",
    id_col: Any = "vec_id",
    k: int = 10,
) -> Tibble:
    """Exact brute-force top-k by cosine similarity. One narrow scan +
    a TakeOrderedAndProject (no full sort materialization)."""
    ename, idn = _name_of(embedding), _name_of(id_col)
    scored = td.df.select(
        F.col(idn), _query_cosine(F.col(ename), query).alias("cosine")
    )
    out = scored.orderBy(F.col("cosine").desc(), F.col(idn).asc()).limit(k)
    return Tibble(out)


def _plane_sig(vec_col: Column, planes: list[list[float]]) -> Column:
    sig = None
    for p, plane in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(vec_col, F.lit(plane), lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bit = (dot > 0).cast("long")
        sig = bit if sig is None else sig.bitwiseOR(F.shiftleft(bit, p))
    return sig


def _planes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]


@verb
def lsh_plan_buckets(
    td: Tibble,
    embedding: Any = "embedding",
    n_planes: int = 12,
    seed: int = 42,
) -> Tibble:
    """Add a deterministic LSH ``bucket`` column (sign signature over
    random hyperplanes). At scale, write the table bucketed/partitioned
    by this column so probes prune partitions."""
    ename = _name_of(embedding)
    dim = len(td.df.select(ename).first()[0])
    planes = _planes(dim, n_planes, seed)
    out = td.df.withColumn("bucket", _plane_sig(F.col(ename), planes))
    return Tibble(out, groups=td.group_vars, levels=td.levels)


@verb
def lsh_topk(
    td: Tibble,
    query: Sequence[float],
    embedding: Any = "embedding",
    id_col: Any = "vec_id",
    k: int = 10,
    n_planes: int = 12,
    seed: int = 42,
    probe_hamming: int = 1,
) -> Tibble:
    """Approximate top-k: filter to the query's LSH bucket (± hamming
    distance ``probe_hamming``), exact cosine only on candidates."""
    ename, idn = _name_of(embedding), _name_of(id_col)
    dim = len(query)
    planes = _planes(dim, n_planes, seed)
    qsig = 0
    for p, plane in enumerate(planes):
        dot = sum(float(a) * b for a, b in zip(query, plane))
        qsig |= (1 if dot > 0 else 0) << p
    sig = _plane_sig(F.col(ename), planes)
    cand = td.df.withColumn("__bucket__", sig).filter(
        F.bit_count(F.col("__bucket__").bitwiseXOR(F.lit(qsig))) <= probe_hamming
    )
    scored = cand.select(
        F.col(idn), _query_cosine(F.col(ename), query).alias("cosine")
    )
    out = scored.orderBy(F.col("cosine").desc(), F.col(idn).asc()).limit(k)
    return Tibble(out)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + probed clusters
# ---------------------------------------------------------------------------

# above this sample size the driver-side Lloyd's loop is no longer the
# right tool (memory is O(sample x k)); training switches to
# pyspark.ml's distributed KMeans over the full frame
DRIVER_KMEANS_MAX_SAMPLE = 200_000


def _train_sample(df, col: str, sample_size: int, n: int, seed: int, who: str):
    """Bounded driver-side training sample shared by the quantizer
    trainers, guarding the failure modes a plain Bernoulli
    ``sample().collect()`` hides on small frames:

    - empty table -> clear ValueError instead of ``X.shape[1]``
      IndexError downstream;
    - Bernoulli undershoot (a low fraction on a small frame can return
      far fewer rows than requested, silently shrinking codebooks via
      ``_lloyd_np``'s ``k = min(k, len(X))``) -> deterministic bounded
      ``limit(sample_size)`` top-up;
    - NULL vectors in the sample -> dropped (they cannot train), with
      a clear error when nothing survives.

    Returns the sample as a float64 numpy matrix."""
    import numpy as np

    if n == 0:
        raise ValueError(f"{who}: cannot train on an empty table")
    if n <= sample_size:
        rows = df.select(col).collect()
    else:
        frac = sample_size / n
        rows = df.select(col).sample(fraction=frac, seed=seed).collect()
        if len(rows) < min(n, max(2, sample_size // 2)):
            # Bernoulli undershoot top-up. NOT limit(sample_size): that
            # takes whole leading partitions, which on sorted/clustered
            # corpora trains codebooks on one file's biased prefix. A
            # seeded shuffle-then-limit stays deterministic but draws
            # from every partition; the fallback only fires on small
            # frames, where the extra sort is negligible.
            rows = (
                df.select(col)
                .orderBy(F.rand(seed), F.col(col).cast("string"))
                .limit(sample_size)
                .collect()
            )
    rows = [r for r in rows if r[0] is not None]
    if not rows:
        raise ValueError(
            f"{who}: no non-NULL {col!r} vectors to train on"
        )
    return np.array([list(r[0]) for r in rows], dtype="float64")


def ivf_train(
    td: Tibble,
    embedding: Any = "embedding",
    n_clusters: int = 64,
    iters: int = 5,
    sample_size: int | None = None,
    seed: int = 42,
) -> list[list[float]]:
    """Train the coarse quantizer. Returns the centroids (k x dim).

    ``sample_size`` defaults to ``max(10_000, 50 * n_clusters)`` so the
    sample always carries enough points per centroid — a fixed 10k
    sample silently caps the effective k at large corpus sizes (e.g.
    ``n_clusters = sqrt(n)`` passes 10^4 clusters at 10^8 docs, and a
    10k sample then seeds most centroids from a single point). When the
    required sample exceeds ``DRIVER_KMEANS_MAX_SAMPLE`` the training
    runs as pyspark.ml distributed KMeans over the full frame instead
    of a driver-side loop — the centroid table stays tiny either way."""
    col = _name_of(embedding)
    # Only the DEFAULTED sample size may auto-route to distributed
    # KMeans: an explicit sample_size is a deliberate caller choice
    # (different algorithm, k-means|| init, full-scan-per-iteration
    # cost would be a silent behavior change), so it is honored even
    # past DRIVER_KMEANS_MAX_SAMPLE — with a warning about driver
    # memory, since the sample is collected to the driver.
    explicit_sample = sample_size is not None
    if sample_size is None:
        sample_size = max(10_000, 50 * n_clusters)
    n = td.df.count()
    if explicit_sample and sample_size > DRIVER_KMEANS_MAX_SAMPLE:
        import logging

        logging.getLogger(__name__).warning(
            "ivf_train: honoring explicit sample_size=%d above the "
            "driver cap (%d); pass sample_size=None to allow "
            "distributed KMeans instead",
            sample_size,
            DRIVER_KMEANS_MAX_SAMPLE,
        )
    if (
        not explicit_sample
        and sample_size > DRIVER_KMEANS_MAX_SAMPLE
        and n > DRIVER_KMEANS_MAX_SAMPLE
    ):
        try:
            return _ivf_train_distributed(td, col, n_clusters, iters, seed)
        except Exception:
            import logging

            logging.getLogger(__name__).warning(
                "ivf_train: distributed KMeans unavailable, falling back "
                "to a capped driver sample (quantizer quality may drop "
                "for k=%d)",
                n_clusters,
            )
            sample_size = DRIVER_KMEANS_MAX_SAMPLE
    X = _train_sample(td.df, col, sample_size, n, seed, "ivf_train")
    cents = _lloyd_np(X, n_clusters, iters, seed)
    return [[float(v) for v in c] for c in cents]


def _ivf_train_distributed(
    td: Tibble, col: str, n_clusters: int, iters: int, seed: int
) -> list[list[float]]:
    """pyspark.ml KMeans over the full frame — the scale path for
    k x 50 sample sizes past what a driver loop should hold. One extra
    cache-free pass per iteration, all executor-side."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = td.df.select(
        array_to_vector(F.col(col).cast("array<double>")).alias("__feat__")
    )
    km = KMeans(
        k=n_clusters, maxIter=max(iters, 1), seed=seed, featuresCol="__feat__"
    )
    model = km.fit(feats)
    return [[float(v) for v in c] for c in model.clusterCenters()]


@verb
def ivf_assign(
    td: Tibble,
    centroids: list[list[float]],
    embedding: Any = "embedding",
    cluster_col: str = "__ivf_cluster__",
) -> Tibble:
    """Assign each vector to its nearest centroid — Arrow-batched
    pandas UDF doing one numpy matmul per batch (the per-row HOF
    alternative is k array passes; matmul is the vectorized path).
    At scale: compute once, write bucketed/partitioned by cluster."""
    import numpy as np
    from pyspark.sql.types import IntegerType

    C = np.array(centroids, dtype="float64")
    cn2 = (C * C).sum(axis=1)

    @F.pandas_udf(IntegerType())
    def assign(s: pd.Series) -> pd.Series:
        X = np.array(s.tolist(), dtype="float64")
        # argmin ||x-c||^2 = argmin (c·c - 2 x·c)
        d = cn2[None, :] - 2.0 * (X @ C.T)
        return pd.Series(d.argmin(axis=1).astype("int32"))

    # The function IS deterministic; the marker only stops the
    # optimizer from pushing downstream join null-filters INTO the
    # UDF expression — under AQE replanning such a Filter(PythonUDF)
    # survives to execution and dies with INTERNAL_ERROR
    # "Cannot evaluate expression" (seen live: IsNotNull(enc(...))
    # in an interpreted Filter after an ivf join).
    assign = assign.asNondeterministic()

    col = _name_of(embedding)
    return td.with_df(td.df.withColumn(cluster_col, assign(F.col(col))))


@verb
def ivf_topk(
    td: Tibble,
    query: Sequence[float],
    centroids: list[list[float]],
    embedding: Any = "embedding",
    id_col: Any = "vec_id",
    k: int = 10,
    nprobe: int = 4,
    cluster_col: str = "__ivf_cluster__",
) -> Tibble:
    """Probed IVF search: exact cosine only inside the ``nprobe``
    clusters nearest the query. If the frame lacks the cluster column
    (no prior ivf_assign), it is computed on the fly."""
    import numpy as np

    if cluster_col not in td.df.columns:
        td = ivf_assign(td, centroids, embedding, cluster_col)
    q = np.array([float(v) for v in query], dtype="float64")
    C = np.array(centroids, dtype="float64")
    d = ((C - q[None, :]) ** 2).sum(axis=1)
    probe = [int(i) for i in d.argsort()[:nprobe]]

    col = _name_of(embedding)
    idc = _name_of(id_col)
    cand = td.df.filter(F.col(cluster_col).isin(probe))
    scored = cand.withColumn("cosine", _query_cosine(F.col(col), query))
    out = (
        scored.select(idc, "cosine")
        .orderBy(F.col("cosine").desc(), F.col(idc).asc())
        .limit(k)
    )
    return Tibble(out)


# ---------------------------------------------------------------------------
# k-NN JOIN: every left (query) row gets its top-k right (corpus) rows
# ---------------------------------------------------------------------------

def _norm_col(vec: Column) -> Column:
    return F.sqrt(
        F.aggregate(vec, F.lit(0.0), lambda a, v: a + v.cast("double") * v.cast("double"))
    )


def _pair_cosine(a: Column, b: Column, an: Column, bn: Column) -> Column:
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return dot / (an * bn)


def knn_join(
    left: Any,
    right: Any,
    k: int = 10,
    embedding: Any = "embedding",
    id_col: Any = "vec_id",
    method: str = "exact",
    centroids: list[list[float]] | None = None,
    n_clusters: int = 64,
    nprobe: int = 4,
) -> Tibble:
    """Batch retrieval: for EVERY row of ``left`` (queries), the top-k
    rows of ``right`` (corpus) by cosine similarity. Output columns:
    ``query_id, match_id, cosine, rank`` (rank 1..k, ties broken by
    match_id — a total order, reproducible across runs).

    The single-query searchers (cosine_topk / lsh_topk / ivf_topk)
    don't scale in the QUERY dimension; this join is the retrieval /
    cross-corpus semantic-dedup workhorse.

    ``method="exact"``: the query side collects and broadcasts (same
    ~<1M-row bound the r5 BroadcastNestedLoopJoin form had) and ONE
    Arrow ``mapInPandas`` pass over the corpus scores every batch
    against the whole query matrix as a tiled numpy matmul (r15, guide
    §4.2 — the r5-r14 form evaluated an interpreted zip_with+aggregate
    dot per PAIR, which dominated the op), keeping only each query's
    k best per batch (top-k is a monoid: the global top-k is the
    top-k of the per-batch winners, so the window below sees
    batches x k x queries rows instead of corpus x queries). The
    kernel emits raw (dot, norm-product) and the division stays JVM-
    side, so NULL (unscoreable: NULL vector / dim mismatch) and NaN
    (zero-norm, 0/0) pairs keep their exact r14 semantics and
    ordering; unscoreable pairs ride along k-per-query-per-batch as a
    backstop (they can only reach the global top-k when a query has
    fewer than k scoreable corpus rows). Per-query top-k finishes as
    the same rank window. Exact and embarrassingly parallel over the
    corpus. Beyond broadcastable queries, use "ivf".

    ``method="ivf"``: both sides quantize to the same coarse centroids
    (trained from the corpus when not passed in); each query explodes
    to its ``nprobe`` nearest clusters, the candidate join is a plain
    keyed shuffle on the cluster id (co-locates by cluster — both
    sides distribute, nothing broadcasts), and the same window top-k
    finishes. Distributed in BOTH dimensions; recall governed by
    nprobe/n_clusters exactly as in ivf_topk (nprobe = n_clusters is
    exact). A mega-hot cluster is the skew risk — raise n_clusters so
    clusters stay balanced (see scale.skew_report).
    """
    import numpy as np
    from pyspark.sql import Window
    from ..tibble import ensure_tibble

    left, right = ensure_tibble(left), ensure_tibble(right)
    en, idn = _name_of(embedding), _name_of(id_col)
    lq = left.df.select(
        F.col(idn).alias("query_id"),
        F.transform(en, lambda x: x.cast("double")).alias("__qe__"),
    ).withColumn("__qn__", _norm_col(F.col("__qe__")))
    rc = right.df.select(
        F.col(idn).alias("match_id"),
        F.transform(en, lambda x: x.cast("double")).alias("__re__"),
    ).withColumn("__rn__", _norm_col(F.col("__re__")))

    if method == "exact":
        qid_t = lq.schema["query_id"].dataType.simpleString()
        mid_t = rc.schema["match_id"].dataType.simpleString()
        qrows = lq.select("query_id", "__qe__").collect()
        q_ids = [r["query_id"] for r in qrows]
        q_vecs = [
            None if r["__qe__"] is None else list(r["__qe__"]) for r in qrows
        ]
        bq = left.df.sparkSession.sparkContext.broadcast((q_ids, q_vecs))
        kk = int(k)

        def _score_corpus(batches):
            import numpy as _np
            import pandas as _pd

            qids, qvecs = bq.value
            if not qids:
                return
            # group queries by dim: only same-length pairs can score
            # (the r14 zip_with dot padded mismatches to a NULL cosine)
            bylen: dict = {}
            null_q = []
            for qi, qv in enumerate(qvecs):
                if qv is None:
                    null_q.append(qi)
                else:
                    bylen.setdefault(len(qv), []).append(qi)
            qmats = {}
            for ln, qis in bylen.items():
                Q = _np.array([qvecs[qi] for qi in qis], dtype="float64")
                qn = _np.sqrt((Q * Q).sum(axis=1))
                qmats[ln] = (qis, Q.T, qn)
            for pdf in batches:
                n = len(pdf)
                if n == 0:
                    continue
                mids = pdf["match_id"].to_numpy()
                vecs = pdf["__re__"].tolist()
                lens = _np.fromiter(
                    (-1 if v is None else len(v) for v in vecs),
                    dtype=_np.int64, count=n,
                )
                out_q: list = []
                out_m: list = []
                out_d: list = []
                out_n: list = []

                def _null_rows(qi, mid_subset):
                    # unscoreable pairs: dot/den NULL -> cosine NULL,
                    # which the window orders LAST, ties by match_id
                    # asc — so the k smallest match_ids suffice
                    if mid_subset.size == 0:
                        return
                    take = _np.sort(mid_subset)[:kk]
                    out_q.extend([qids[qi]] * take.size)
                    out_m.extend(take.tolist())
                    out_d.extend([None] * take.size)
                    out_n.extend([None] * take.size)

                for ln, (qis, QT, qn) in qmats.items():
                    sel = _np.flatnonzero(lens == ln)
                    if sel.size:
                        X = _np.array(
                            [vecs[i] for i in sel], dtype="float64"
                        )
                        xn = _np.sqrt((X * X).sum(axis=1))
                        D = X @ QT                      # (n_sel, n_q)
                        den = _np.outer(xn, qn)
                        with _np.errstate(invalid="ignore"):
                            key = D / den
                        # NaN (0/0, zero-norm) ranks FIRST in the
                        # window's cosine DESC — mirror that here
                        key = _np.where(_np.isnan(key), _np.inf, key)
                        m_sel = mids[sel]
                        for col, qi in enumerate(qis):
                            if sel.size > kk:
                                ord_ = _np.lexsort(
                                    (m_sel, -key[:, col])
                                )[:kk]
                            else:
                                ord_ = _np.arange(sel.size)
                            out_q.extend([qids[qi]] * ord_.size)
                            out_m.extend(m_sel[ord_].tolist())
                            out_d.extend(
                                float(v) for v in D[ord_, col]
                            )
                            out_n.extend(
                                float(v) for v in den[ord_, col]
                            )
                    bad = mids[lens != ln]
                    for qi in qis:
                        _null_rows(qi, bad)
                for qi in null_q:
                    _null_rows(qi, mids)
                # None -> NaN -> Arrow null: exactly the NULL dot/den
                # the unscoreable backstop rows need (zero-norm pairs
                # stay FINITE 0.0/0.0 here and become NaN only in the
                # JVM division, preserving their NaN-first rank)
                yield _pd.DataFrame(
                    {
                        "query_id": out_q,
                        "match_id": out_m,
                        "__dot__": _np.array(out_d, dtype="float64"),
                        "__den__": _np.array(out_n, dtype="float64"),
                    }
                )

        scored = rc.mapInPandas(
            _score_corpus,
            f"query_id {qid_t}, match_id {mid_t}, "
            f"__dot__ double, __den__ double",
        ).withColumn(
            "cosine", F.col("__dot__") / F.col("__den__")
        )
    elif method == "ivf":
        if centroids is None:
            centroids = ivf_train(right, embedding, n_clusters=n_clusters)
        rc = ivf_assign(Tibble(rc), centroids, "__re__", "__c__").df
        C = np.array(centroids, dtype="float64")

        @F.pandas_udf("array<int>")
        def probes(s: pd.Series) -> pd.Series:
            X = np.array(s.tolist(), dtype="float64")
            d = (C * C).sum(axis=1)[None, :] - 2.0 * (X @ C.T)
            p = np.argsort(d, axis=1)[:, : min(nprobe, len(C))]
            return pd.Series(list(p.astype("int32")))

        # deterministic in fact; marker stops predicate pushdown into
        # the UDF (see ivf_assign). Materialize in a Project first —
        # nondeterministic expressions aren't allowed inside Generate.
        probes = probes.asNondeterministic()
        lq = (
            lq.withColumn("__ps__", probes(F.col("__qe__")))
            .withColumn("__c__", F.explode(F.col("__ps__")))
            .drop("__ps__")
        )
        cand = rc.join(lq, "__c__", "inner")
        scored = cand.withColumn(
            "cosine",
            _pair_cosine(
                F.col("__qe__"), F.col("__re__"),
                F.col("__qn__"), F.col("__rn__"),
            ),
        )
    else:
        raise ValueError(f"unknown method {method!r}; use 'exact' or 'ivf'")

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("match_id").asc()
    )
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "cosine", "rank")
    )
    return Tibble(out)


# ---------------------------------------------------------------------------
# Product quantization (PQ): memory-bounded ANN codes + asymmetric
# distance search (Jegou et al. 2011, "Product Quantization for
# Nearest Neighbor Search")
# ---------------------------------------------------------------------------

def _lloyd_np(X, k: int, iters: int, seed: int):
    """Driver-side Lloyd's k-means: ivf_train's driver path and each PQ
    subspace (k <= 256, sample small by construction)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    k = min(k, len(X))
    cents = X[rng.choice(len(X), size=k, replace=False)].copy()
    x2 = (X * X).sum(axis=1)
    for _ in range(iters):
        # assign via ||x-c||^2 = x.x - 2 x.c + c.c: one matmul, O(s*k)
        # memory (the naive (s,k,dim) difference tensor is dim-times
        # larger and blew past driver memory at moderate k)
        d2 = x2[:, None] - 2.0 * (X @ cents.T) + (cents * cents).sum(axis=1)[None, :]
        assign = d2.argmin(axis=1)
        for ci in range(k):
            members = X[assign == ci]
            if len(members):
                cents[ci] = members.mean(axis=0)
    return cents


def pq_train(
    td: Tibble,
    embedding: Any = "embedding",
    m: int = 8,
    nbits: int = 8,
    iters: int = 8,
    sample_size: int | None = None,
    seed: int = 42,
) -> list:
    """Train a product quantizer: split the vector into ``m`` subspaces
    and k-means each with ``2**nbits`` centroids. Returns the codebook
    as a nested list (m, 2**nbits, dim/m) — JSON-able, broadcastable,
    tiny (m * 2^nbits * dsub floats; 8x256x16 = 32k floats for 128-d).

    100 TB rationale: PQ codes compress a d-dim float32 vector to
    ``m * nbits / 8`` bytes (128-d float32 -> 8 bytes at m=8, nbits=8,
    a 64x reduction), so the candidate scan of a billion-vector ANN
    index fits in executor memory where raw vectors cannot. Training
    reads a bounded driver sample (default ``max(10k, 50 * 2^nbits)``
    rows — per-subspace k is only 256, so the sample bound does NOT
    grow with corpus size, unlike the ivf_train coarse quantizer)."""
    import numpy as np

    col = _name_of(embedding)
    ksub = 1 << nbits
    if sample_size is None:
        sample_size = max(10_000, 50 * ksub)
    n = td.df.count()
    X = _train_sample(td.df, col, sample_size, n, seed, "pq_train")
    d = X.shape[1]
    if d % m:
        raise ValueError(f"pq_train: dim {d} not divisible by m={m}")
    dsub = d // m
    book = []
    for j in range(m):
        Xj = np.ascontiguousarray(X[:, j * dsub : (j + 1) * dsub])
        cents = _lloyd_np(Xj, ksub, iters, seed + j)
        book.append([[float(v) for v in c] for c in cents])
    return book


@verb
def pq_encode(
    td: Tibble,
    codebook: list,
    embedding: Any = "embedding",
    code_col: str = "pq_code",
) -> Tibble:
    """Quantize each vector to its per-subspace nearest-centroid codes
    (array<int> of length m). One Arrow-batched pandas UDF doing m
    small matmuls per batch — narrow, no shuffle; at scale encode once
    and persist the codes next to the ids (the raw vectors can then
    stay cold)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    C = [np.array(cj, dtype="float64") for cj in codebook]
    m = len(C)
    dsub = C[0].shape[1]
    cn2 = [(cj * cj).sum(axis=1) for cj in C]

    @F.pandas_udf(ArrayType(IntegerType()))
    def encode(s: pd.Series) -> pd.Series:
        X = np.array(s.tolist(), dtype="float64")
        codes = np.empty((len(X), m), dtype="int32")
        for j in range(m):
            Xj = X[:, j * dsub : (j + 1) * dsub]
            dist = cn2[j][None, :] - 2.0 * (Xj @ C[j].T)
            codes[:, j] = dist.argmin(axis=1)
        return pd.Series(list(codes))

    # deterministic in fact; see ivf_assign for why the marker
    encode = encode.asNondeterministic()

    col = _name_of(embedding)
    return td.with_df(td.df.withColumn(code_col, encode(F.col(col))))


@verb
def pq_topk(
    td: Tibble,
    query: Sequence[float],
    codebook: list,
    k: int = 10,
    code_col: str = "pq_code",
    id_col: Any = "vec_id",
) -> Tibble:
    """Approximate k-NN by asymmetric distance computation (ADC): a
    per-query lookup table of partial squared-L2 distances from the
    query to every centroid (m x 2^nbits floats, built driver-side and
    broadcast inside the UDF closure), then each row's distance is m
    table lookups + a sum — no vector math against the corpus at all.
    TakeOrderedAndProject returns the global top-k without a full sort.

    Returns (id, pq_dist, rank) ascending. Recall is bounded by code
    resolution: raise m/nbits, or re-rank the PQ top-(c*k) against raw
    vectors (compose with cosine_topk on the candidate ids)."""
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql.types import DoubleType

    q = np.array(list(query), dtype="float64")
    C = [np.array(cj, dtype="float64") for cj in codebook]
    m = len(C)
    dsub = C[0].shape[1]
    if len(q) != m * dsub:
        raise ValueError(
            f"pq_topk: query dim {len(q)} != codebook dim {m * dsub}"
        )
    lut = np.stack(
        [
            ((C[j] - q[j * dsub : (j + 1) * dsub][None, :]) ** 2).sum(axis=1)
            for j in range(m)
        ]
    )  # (m, ksub)

    @F.pandas_udf(DoubleType())
    def adc(codes: pd.Series) -> pd.Series:
        M = np.array(codes.tolist(), dtype="int64")  # (n, m)
        return pd.Series(lut[np.arange(m)[None, :], M].sum(axis=1))

    # deterministic in fact; see ivf_assign for why the marker
    adc = adc.asNondeterministic()

    idn = _name_of(id_col)
    scored = td.df.select(
        F.col(idn).alias("id"), adc(F.col(code_col)).alias("pq_dist")
    )
    out = (
        scored.orderBy(F.col("pq_dist").asc(), F.col("id").asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(
            Window.orderBy(F.col("pq_dist").asc(), F.col("id").asc())
        ))
    )
    return Tibble(out)


def _build_luts(Qm, codebook):
    """Stacked ADC lookup tables: luts[q, j, c] =
    ||query_q[j] - centroid_{j,c}||^2, shape (Q, m, ksub)."""
    import numpy as np

    C = [np.array(cj, dtype="float64") for cj in codebook]
    m = len(C)
    dsub = C[0].shape[1]
    if Qm.shape[1] != m * dsub:
        raise ValueError(
            f"pq query dim {Qm.shape[1]} != codebook dim {m * dsub}"
        )
    return np.stack(
        [
            np.stack(
                [
                    ((C[j] - Qm[qi, j * dsub : (j + 1) * dsub][None, :]) ** 2).sum(
                        axis=1
                    )
                    for j in range(m)
                ]
            )
            for qi in range(Qm.shape[0])
        ]
    )


def _adc_candidates(luts, M, ids, kk, qchunk=512, rowchunk=65536):
    """Tile-wise ADC scoring with a LOSSLESS per-tile pre-filter.

    For each (query-chunk x row-chunk) tile, computes every (query,
    row) PQ distance as m table lookups, finds each query's k-th
    smallest tile distance, and emits every pair at or BELOW that
    threshold — ties included, so the selection is lossless for ANY
    downstream total order on (dist, tiebreak): a pair in the global
    top-k under (dist, id) has at most k-1 tile rows strictly closer,
    hence its distance is <= the tile's k-th smallest. (A plain
    argpartition-k can drop the smallest-id member of a tie straddling
    the boundary; the threshold form cannot.)

    Memory: one qchunk x rowchunk float64 tile at a time (the defaults
    bound it at 512*65536*8 = 256 MiB per in-flight Arrow batch per
    core — NOT the full Q x n matrix, which at Q=4096 and 10k-row
    batches would be ~330 MB per batch and scale with the query cap).

    Yields (qix, mid, dist) numpy column triples per tile; qix indexes
    the luts axis."""
    import numpy as np

    nq = luts.shape[0]
    m = luts.shape[1]
    n = M.shape[0]
    ar = np.arange(m)
    for r0 in range(0, n, rowchunk):
        Mr = M[r0 : r0 + rowchunk]
        idr = ids[r0 : r0 + rowchunk]
        take = min(kk, Mr.shape[0])
        for q0 in range(0, nq, qchunk):
            lc = luts[q0 : q0 + qchunk]
            # dist[q, i] = sum_j lc[q, j, Mr[i, j]]
            dist = lc[:, ar[None, :], Mr].sum(axis=2)
            thr = np.partition(dist, take - 1, axis=1)[:, take - 1]
            qix, rix = np.nonzero(dist <= thr[:, None])
            yield (qix + q0).astype("int64"), idr[rix], dist[qix, rix]


def pq_knn_join(
    queries: Any,
    corpus: Any,
    codebook: list,
    k: int = 10,
    query_id: Any = "vec_id",
    query_embedding: Any = "embedding",
    id_col: Any = "vec_id",
    code_col: str = "pq_code",
    max_queries: int = 4096,
    n_corpus_blocks: int | None = None,
    rerank: int = 0,
    corpus_embedding: Any = "embedding",
) -> Tibble:
    """Batch PQ retrieval: approximate k-NN of EVERY query row against
    a PQ-encoded corpus — the retrieval-pipeline counterpart of
    ``pq_topk`` (one query) with the surface of ``knn_join`` (a query
    TABLE). Returns (query_id, match_id, pq_dist, rank) ascending by
    asymmetric PQ distance, rank 1..k per query.

    ``rerank=c`` (c > 0) retrieves the ADC top-(c*k) per query and
    re-ranks those candidates by EXACT squared L2 against the raw
    ``corpus_embedding`` vectors — the standard recall lever for
    quantized indexes (FAISS's refine step): the code scan stays
    memory-bounded, the exact math touches only <= Q*c*k rows via two
    keyed hash joins. With rerank, ``pq_dist`` holds the exact squared
    L2 of the surviving candidates.

    Two shapes, switched automatically on query-table size:

    BATCH path (<= ``max_queries`` rows): the query table is collected
    driver-side and its per-query ADC lookup tables are stacked into
    ONE (Q, m, 2^nbits) ndarray that ships to executors once inside the
    UDF closure (Q=1024 at m=8,nbits=8 is 16 MiB); one ``mapInPandas``
    pass over the corpus codes scores tiles of at most 512 queries x
    64k rows at a time (peak ~256 MiB of float64 per in-flight Arrow
    batch per core — chunked so raising ``max_queries`` cannot OOM
    executors) and emits only pairs at or below each query's per-tile
    k-th distance; a per-query WindowGroupLimit finalizes rank <= k.

    DISTRIBUTED path (query table larger than ``max_queries``): the
    query table NEVER touches the driver. Queries hash into
    ceil(Q/max_queries) chunks; corpus codes hash into
    ``n_corpus_blocks`` blocks (default 2x the session's default
    parallelism); both sides replicate across the other's key (codes
    are m bytes + id per row, so the chunk-replication shuffle is the
    honest Q*N scoring cost, not an overhead) and a cogrouped
    ``applyInPandas`` scores each (chunk, block) cell with the same
    tiled lossless pre-filter, building the chunk's LUTs executor-side
    from the raw query vectors. The same global window finalizes.
    Cogroup materializes one (chunk, block) cell per call, so size
    ``n_corpus_blocks`` to make corpus_rows/n_corpus_blocks code rows
    (~8*(m+2) bytes each as int64 ndarrays) fit executor memory — e.g.
    a 10^9-row corpus at m=8 wants >= 512 blocks for ~2 M rows/160 MB
    per cell.

    Ties break by ascending match id (deterministic): the per-tile
    pre-filter keeps ALL pairs at the boundary distance, so it is
    lossless for the (pq_dist, match_id) total order even when corpus
    vectors share identical PQ codes. Recall equals ``pq_topk``'s per
    query on both paths."""
    import numpy as np
    from pyspark.sql import Window

    qtd = queries if isinstance(queries, Tibble) else Tibble(queries)
    ctd = corpus if isinstance(corpus, Tibble) else Tibble(corpus)
    qid, qemb, idn = _name_of(query_id), _name_of(query_embedding), _name_of(id_col)
    kk = int(k)
    if int(rerank) < 0:
        raise ValueError(f"pq_knn_join: rerank must be >= 0, got {rerank}")
    # with rerank, the ADC stage over-retrieves c*k candidates; the
    # exact stage then cuts back to k
    rk = kk * int(rerank) if rerank else kk
    # a NULL id cannot join back and a NULL embedding cannot score:
    # drop them identically on BOTH paths (the distributed hash-chunk
    # would silently orphan them; the driver collect would crash)
    qtd = Tibble(
        qtd.df.where(F.col(qid).isNotNull() & F.col(qemb).isNotNull())
    )

    # NULL __mid rows must not score: a NULL match id cannot join back
    # to the corpus, and NULLS-FIRST ascending tie-breaking would rank
    # it AHEAD of real ids at equal distance
    codes = ctd.df.select(
        F.col(idn).alias("__mid"), F.col(code_col).alias("__code")
    ).where(F.col("__code").isNotNull() & F.col("__mid").isNotNull())
    mid_type = dict(codes.dtypes)["__mid"]
    qid_type = dict(qtd.df.select(F.col(qid)).dtypes)[qid]
    spark = ctd.df.sparkSession

    qrows = qtd.df.select(qid, qemb).limit(max_queries + 1).collect()
    if not qrows:
        raise ValueError("pq_knn_join: empty query table")

    if len(qrows) > max_queries:
        cand = _pq_knn_cogroup(
            spark, qtd.df, codes, codebook, rk, qid, qemb,
            qid_type, mid_type, max_queries, n_corpus_blocks,
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("pq_dist").asc(), F.col("__mid").asc()
        )
        adc = (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= rk)
            .select(
                "query_id", F.col("__mid").alias("match_id"), "pq_dist", "rank"
            )
        )
        if rerank:
            return Tibble(_exact_rerank(
                adc, qtd.df, ctd.df, qid, qemb, idn,
                _name_of(corpus_embedding), kk,
            ))
        return Tibble(adc.orderBy("query_id", "rank"))

    qids = [r[0] for r in qrows]
    Qm = np.array([list(r[1]) for r in qrows], dtype="float64")  # (Q, d)
    luts = _build_luts(Qm, codebook)  # (Q, m, ksub)
    nq = len(qids)

    def score_batches(batches):
        import pandas as pd  # noqa: F811 (executor-side import)

        for pdf in batches:
            if not len(pdf):
                continue
            M = np.array(pdf["__code"].tolist(), dtype="int64")  # (n, m)
            ids = pdf["__mid"].to_numpy()
            for qix, mids, dists in _adc_candidates(luts, M, ids, rk):
                yield pd.DataFrame(
                    {"__qix": qix, "__mid": mids, "pq_dist": dists}
                )

    cand = codes.mapInPandas(
        score_batches, schema=f"__qix bigint, __mid {mid_type}, pq_dist double"
    )
    w = Window.partitionBy("__qix").orderBy(
        F.col("pq_dist").asc(), F.col("__mid").asc()
    )
    topk = cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= rk
    )
    qmap = spark.createDataFrame(
        [(int(i), qids[i]) for i in range(nq)],
        f"__qix bigint, query_id {qid_type}",
    )
    adc = topk.join(F.broadcast(qmap), "__qix").select(
        "query_id",
        F.col("__mid").alias("match_id"),
        "pq_dist",
        "rank",
    )
    if rerank:
        return Tibble(_exact_rerank(
            adc, qtd.df, ctd.df, qid, qemb, idn,
            _name_of(corpus_embedding), kk,
        ))
    return Tibble(adc.orderBy("query_id", "rank"))


def _exact_rerank(adc, qdf, cdf, qid, qemb, idn, cemb, kk):
    """Exact-L2 refine of ADC candidates: join the <= Q*c*k candidate
    rows back to the raw query and corpus vectors (two keyed hash
    joins — candidates are tiny next to the corpus), score squared L2
    in JVM higher-order functions, and take the per-query top-k. The
    memory-bounded ADC scan picks WHO to score exactly; this stage
    never touches more than the candidate set.

    NULL policy: a candidate whose corpus row has a NULL raw embedding
    (or whose id has no raw-vector row at all) CANNOT be exactly
    scored, so it is excluded from the re-ranking — the ADC stage
    over-retrieved ``c*k`` candidates precisely so survivors fill the
    top-k. Without the explicit filter, the ``zip_with``/``aggregate``
    fold yields a NULL distance and Spark's NULLS-FIRST ascending sort
    would rank every unscorable candidate ABOVE all real matches —
    latent wrong answers whenever any corpus vector is NULL. The
    ``asc_nulls_last`` ordering is belt-and-braces on top of the
    filter."""
    from pyspark.sql import Window

    if cemb not in cdf.columns:
        raise ValueError(
            f"rerank needs the raw corpus vectors: column {cemb!r} not in "
            f"the corpus frame (pass corpus_embedding=...)"
        )
    q = qdf.select(
        F.col(qid).alias("query_id"),
        F.transform(F.col(qemb), lambda x: x.cast("double")).alias("__qe"),
    ).where(F.col("__qe").isNotNull())
    c = cdf.select(
        F.col(idn).alias("match_id"),
        F.transform(F.col(cemb), lambda x: x.cast("double")).alias("__re"),
    ).where(F.col("__re").isNotNull())
    scored = (
        adc.select("query_id", "match_id")
        .join(q, "query_id")
        .join(c, "match_id")
        .withColumn(
            "pq_dist",
            F.aggregate(
                F.zip_with("__qe", "__re", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        .where(F.col("pq_dist").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("pq_dist").asc_nulls_last(), F.col("match_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= kk)
        .select("query_id", "match_id", "pq_dist", "rank")
        .orderBy("query_id", "rank")
    )


def _pq_knn_cogroup(
    spark, qdf, codes, codebook, kk, qid, qemb,
    qid_type, mid_type, max_queries, n_corpus_blocks,
):
    """Distributed query-side PQ scoring: cogroup query chunks against
    corpus code blocks and run the tiled ADC scorer per cell. Returns
    the un-ranked candidate frame (query_id, __mid, pq_dist)."""
    import math as _math

    import numpy as np

    nq_total = qdf.count()
    nchunks = max(1, _math.ceil(nq_total / max_queries))
    if n_corpus_blocks is None:
        n_corpus_blocks = max(2 * spark.sparkContext.defaultParallelism, 1)
    nblocks = int(n_corpus_blocks)

    q_rep = (
        qdf.select(
            F.col(qid).alias("query_id"),
            F.col(qemb).alias("__qe"),
            F.pmod(F.xxhash64(F.col(qid)), F.lit(nchunks)).alias("__chunk"),
        )
        .withColumn(
            "__blk", F.explode(F.sequence(F.lit(0), F.lit(nblocks - 1)))
        )
    )
    c_rep = codes.select(
        "__mid",
        "__code",
        F.pmod(F.xxhash64(F.col("__mid")), F.lit(nblocks)).alias("__blk"),
    ).withColumn(
        "__chunk", F.explode(F.sequence(F.lit(0), F.lit(nchunks - 1)))
    )

    def score_cell(qpdf, cpdf):
        import pandas as pd  # noqa: F811 (executor-side import)

        if not len(qpdf) or not len(cpdf):
            return pd.DataFrame(
                {"query_id": [], "__mid": [], "pq_dist": []}
            ).astype({"pq_dist": "float64"})
        Qm = np.array(qpdf["__qe"].tolist(), dtype="float64")
        luts = _build_luts(Qm, codebook)
        qids = qpdf["query_id"].to_numpy()
        M = np.array(cpdf["__code"].tolist(), dtype="int64")
        ids = cpdf["__mid"].to_numpy()
        parts = []
        for qix, mids, dists in _adc_candidates(luts, M, ids, kk):
            parts.append(
                pd.DataFrame(
                    {"query_id": qids[qix], "__mid": mids, "pq_dist": dists}
                )
            )
        return pd.concat(parts, ignore_index=True)

    return (
        q_rep.groupby("__chunk", "__blk")
        .cogroup(c_rep.groupby("__chunk", "__blk"))
        .applyInPandas(
            score_cell,
            schema=f"query_id {qid_type}, __mid {mid_type}, pq_dist double",
        )
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse inverted-file quantizer + PQ codes over RESIDUALS —
# the standard billion-vector ANN index (FAISS IndexIVFPQ; Jegou et
# al. 2011 §V). The coarse cells prune the scan to ~nprobe/nlist of
# the corpus; the residual PQ codes keep per-row memory at m bytes.
# ---------------------------------------------------------------------------

def ivfpq_train(
    td: Tibble,
    embedding: Any = "embedding",
    n_clusters: int = 64,
    m: int = 8,
    nbits: int = 8,
    iters: int = 8,
    sample_size: int | None = None,
    seed: int = 42,
) -> dict:
    """Train an IVF-PQ index: the coarse quantizer via :func:`ivf_train`
    (driver sample or distributed KMeans past the cap), then a product
    quantizer over the RESIDUALS (vector - assigned centroid) of a
    bounded driver sample. Residual encoding is what makes the
    composition beat flat PQ: residual magnitudes are a cell radius,
    not a corpus radius, so the same 2^nbits centroids per subspace
    resolve much finer distances.

    Returns ``{"centroids": (nlist, d), "codebook": (m, 2^nbits, d/m)}``
    as nested lists — JSON-able, tiny, ships in UDF closures."""
    import numpy as np

    col = _name_of(embedding)
    centroids = ivf_train(
        td, embedding, n_clusters=n_clusters, iters=iters, seed=seed
    )
    Cn = np.array(centroids, dtype="float64")
    ksub = 1 << nbits
    if sample_size is None:
        sample_size = max(10_000, 50 * ksub)
    n = td.df.count()
    X = _train_sample(td.df, col, sample_size, n, seed, "ivfpq_train")
    d = X.shape[1]
    if d % m:
        raise ValueError(f"ivfpq_train: dim {d} not divisible by m={m}")
    # residuals of the sample against their nearest coarse centroid
    d2 = (Cn * Cn).sum(axis=1)[None, :] - 2.0 * (X @ Cn.T)
    R = X - Cn[d2.argmin(axis=1)]
    dsub = d // m
    book = []
    for j in range(m):
        Rj = np.ascontiguousarray(R[:, j * dsub : (j + 1) * dsub])
        cents = _lloyd_np(Rj, ksub, iters, seed + j)
        book.append([[float(v) for v in c] for c in cents])
    return {"centroids": centroids, "codebook": book}


@verb
def ivfpq_encode(
    td: Tibble,
    index: dict | str,
    embedding: Any = "embedding",
    cell_col: str = "ivf_cell",
    code_col: str = "pq_code",
) -> Tibble:
    """Assign each vector to its coarse cell AND quantize its residual
    in ONE Arrow pass (a struct-returning pandas UDF unpacked into two
    columns) — narrow, no shuffle. At scale, write the result
    partitioned/bucketed by ``cell_col``: probes then prune partitions
    before any scoring runs."""
    import numpy as np

    index = _load_ivfpq_index(td.df.sparkSession, index)
    Cn = np.array(index["centroids"], dtype="float64")
    cn2 = (Cn * Cn).sum(axis=1)
    B = [np.array(bj, dtype="float64") for bj in index["codebook"]]
    m = len(B)
    dsub = B[0].shape[1]
    bn2 = [(bj * bj).sum(axis=1) for bj in B]

    @F.pandas_udf("struct<cell:int, code:array<int>>")
    def enc(s: pd.Series) -> pd.DataFrame:
        X = np.array(s.tolist(), dtype="float64")
        dc = cn2[None, :] - 2.0 * (X @ Cn.T)
        cell = dc.argmin(axis=1)
        R = X - Cn[cell]
        codes = np.empty((len(X), m), dtype="int32")
        for j in range(m):
            Rj = R[:, j * dsub : (j + 1) * dsub]
            dist = bn2[j][None, :] - 2.0 * (Rj @ B[j].T)
            codes[:, j] = dist.argmin(axis=1)
        return pd.DataFrame(
            {"cell": cell.astype("int32"), "code": list(codes)}
        )

    # deterministic in fact; see ivf_assign for why the marker (this
    # is the site where the bug was observed: the knn join's inferred
    # IsNotNull(cell) was pushed into enc(...) under AQE)
    enc = enc.asNondeterministic()

    col = _name_of(embedding)
    out = (
        td.df.withColumn("__ivfpq__", enc(F.col(col)))
        .withColumn(cell_col, F.col("__ivfpq__.cell"))
        .withColumn(code_col, F.col("__ivfpq__.code"))
        .drop("__ivfpq__")
    )
    return td.with_df(out)


def ivfpq_knn_join(
    queries: Any,
    corpus: Any,
    index: dict | str,
    k: int = 10,
    nprobe: int = 4,
    query_id: Any = "vec_id",
    query_embedding: Any = "embedding",
    id_col: Any = "vec_id",
    cell_col: str = "ivf_cell",
    code_col: str = "pq_code",
    max_queries: int = 4096,
    n_query_blocks: int | None = None,
    rerank: int = 0,
    corpus_embedding: Any = "embedding",
) -> Tibble:
    """Batch IVF-PQ retrieval: approximate k-NN of every query row
    against an ivfpq-encoded corpus, probing only each query's
    ``nprobe`` nearest coarse cells. Returns (query_id, match_id,
    pq_dist, rank) ascending, rank 1..k per query — the same surface
    as :func:`pq_knn_join`, with the scan pruned to ~nprobe/nlist of
    the corpus instead of all of it.

    ``rerank=c`` retrieves the ADC top-(c*k) and re-ranks them by
    EXACT squared L2 against the raw ``corpus_embedding`` vectors
    (FAISS's refine step — two keyed hash joins over <= Q*c*k rows);
    ``pq_dist`` then holds the exact distance. This recovers recall
    lost to residual quantization without touching the probed-cell
    pruning.

    A query table larger than ``max_queries`` switches to a
    DISTRIBUTED path that never collects it: each query's probe cells
    are assigned executor-side (one Arrow matmul against the broadcast
    centroids) and exploded, queries hash into ``n_query_blocks``
    sub-blocks per cell (default: enough that <= max_queries queries
    land in one cogroup cell), and a cogrouped ``applyInPandas`` on
    (cell, query-block) scores that cell's codes against exactly the
    queries probing it — the corpus side replicates per query-block,
    which is the honest probing cost since distinct query blocks need
    the same codes. Cells are KMeans-balanced (~corpus/nlist rows
    each), so one cogroup cell holds ~rows/nlist codes; raise
    ``n_clusters`` at ivfpq_train time if cells outgrow executor
    memory.

    Shape (batch path, <= ``max_queries`` rows):
    - queries collect driver-side;
      their probe cells come from one tiny numpy matmul;
    - the corpus FILTERS to the union of probed cells BEFORE the
      Arrow pass (a plain JVM ``isin`` predicate — partition-pruning
      when the corpus is written partitioned by cell, and always
      upstream of any Python);
    - one ``mapInPandas`` over the surviving codes: per batch and per
      cell present, the residual LUTs of the queries probing that cell
      are rebuilt from the raw query vectors (m x 2^nbits x d/m flops
      — cheaper than shipping Q x nprobe LUTs) and the same tiled
      LOSSLESS threshold pre-filter as pq_knn_join emits candidates;
    - a per-query WindowGroupLimit finalizes rank <= k.

    With ``nprobe == len(index["centroids"])`` the result is the exact
    ADC ranking over residual codes (ties by ascending match id).

    ``index`` may also be the str path of a deployment
    :func:`ivfpq_write` persisted — the JSON sidecar loads itself."""
    import numpy as np
    from pyspark.sql import Window

    qtd = queries if isinstance(queries, Tibble) else Tibble(queries)
    ctd = corpus if isinstance(corpus, Tibble) else Tibble(corpus)
    index = _load_ivfpq_index(qtd.df.sparkSession, index)
    qid, qemb, idn = _name_of(query_id), _name_of(query_embedding), _name_of(id_col)
    kk = int(k)
    if int(rerank) < 0:
        raise ValueError(f"ivfpq_knn_join: rerank must be >= 0, got {rerank}")
    rk = kk * int(rerank) if rerank else kk
    # NULL ids/embeddings: dropped identically on both paths (see
    # pq_knn_join)
    qtd = Tibble(
        qtd.df.where(F.col(qid).isNotNull() & F.col(qemb).isNotNull())
    )

    qrows = qtd.df.select(qid, qemb).limit(max_queries + 1).collect()
    if not qrows:
        raise ValueError("ivfpq_knn_join: empty query table")
    if len(qrows) > max_queries:
        cand = _ivfpq_knn_cogroup(
            qtd.df, ctd.df, index, rk, nprobe, qid, qemb, idn,
            cell_col, code_col, max_queries, n_query_blocks,
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("pq_dist").asc(), F.col("__mid").asc()
        )
        adc = (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= rk)
            .select(
                "query_id", F.col("__mid").alias("match_id"), "pq_dist", "rank"
            )
        )
        if rerank:
            return Tibble(_exact_rerank(
                adc, qtd.df, ctd.df, qid, qemb, idn,
                _name_of(corpus_embedding), kk,
            ))
        return Tibble(adc.orderBy("query_id", "rank"))
    qids = [r[0] for r in qrows]
    Qm = np.array([list(r[1]) for r in qrows], dtype="float64")
    Cn = np.array(index["centroids"], dtype="float64")
    codebook = index["codebook"]
    mB = len(codebook)
    dsub = len(codebook[0][0])
    if Qm.shape[1] != mB * dsub:
        raise ValueError(
            f"ivfpq_knn_join: query dim {Qm.shape[1]} != codebook dim "
            f"{mB * dsub}"
        )
    nq = len(qids)
    npb = min(int(nprobe), Cn.shape[0])
    dqc = (Cn * Cn).sum(axis=1)[None, :] - 2.0 * (Qm @ Cn.T)
    probe = np.argsort(dqc, axis=1)[:, :npb]  # (Q, nprobe)
    # cell -> array of query indices probing it (small driver dict)
    probers: dict[int, Any] = {}
    for qi in range(nq):
        for c in probe[qi]:
            probers.setdefault(int(c), []).append(qi)
    probers = {c: np.array(v, dtype="int64") for c, v in probers.items()}
    probed_cells = sorted(probers)

    def score_batches(batches):
        import pandas as pd  # noqa: F811 (executor-side import)

        for pdf in batches:
            if not len(pdf):
                continue
            cells = pdf["__cell"].to_numpy()
            M = np.array(pdf["__code"].tolist(), dtype="int64")
            ids = pdf["__mid"].to_numpy()
            for c in np.unique(cells):
                qsub = probers.get(int(c))
                if qsub is None:
                    continue
                sel = cells == c
                Mc, idc = M[sel], ids[sel]
                # residual LUTs for exactly the queries probing c
                luts = _build_luts(Qm[qsub] - Cn[int(c)][None, :], codebook)
                for qix, mids, dists in _adc_candidates(luts, Mc, idc, rk):
                    yield pd.DataFrame(
                        {
                            "__qix": qsub[qix],
                            "__mid": mids,
                            "pq_dist": dists,
                        }
                    )

    codes = ctd.df.select(
        F.col(idn).alias("__mid"),
        F.col(cell_col).alias("__cell"),
        F.col(code_col).alias("__code"),
    ).where(
        F.col("__code").isNotNull()
        & F.col("__mid").isNotNull()
        & F.col("__cell").isin([int(c) for c in probed_cells])
    )
    mid_type = dict(codes.dtypes)["__mid"]
    cand = codes.mapInPandas(
        score_batches, schema=f"__qix bigint, __mid {mid_type}, pq_dist double"
    )
    w = Window.partitionBy("__qix").orderBy(
        F.col("pq_dist").asc(), F.col("__mid").asc()
    )
    topk = cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= rk
    )
    qid_type = dict(qtd.df.select(F.col(qid)).dtypes)[qid]
    qmap = ctd.df.sparkSession.createDataFrame(
        [(int(i), qids[i]) for i in range(nq)],
        f"__qix bigint, query_id {qid_type}",
    )
    adc = topk.join(F.broadcast(qmap), "__qix").select(
        "query_id", F.col("__mid").alias("match_id"), "pq_dist", "rank"
    )
    if rerank:
        return Tibble(_exact_rerank(
            adc, qtd.df, ctd.df, qid, qemb, idn,
            _name_of(corpus_embedding), kk,
        ))
    return Tibble(adc.orderBy("query_id", "rank"))


def _ivfpq_knn_cogroup(
    qdf, cdf, index, kk, nprobe, qid, qemb, idn,
    cell_col, code_col, max_queries, n_query_blocks,
):
    """Distributed query-side IVF-PQ scoring: queries explode to their
    executor-assigned probe cells, hash into query blocks, and a
    cogrouped applyInPandas on (cell, query-block) runs the tiled ADC
    scorer with residual LUTs built in the group. Returns the un-ranked
    candidate frame (query_id, __mid, pq_dist).

    Probed-cell pruning (the distributed mirror of the batch path's
    JVM ``isin``): corpus codes join the DISTINCT live (cell,
    query-block) pairs — a tiny frame, <= nlist * n_query_blocks rows,
    broadcast — instead of exploding every code row to every block.
    A code row therefore replicates exactly once per query block that
    actually probes its cell, and cells no query probes never enter
    the cogroup shuffle at all. At nprobe << nlist this is the
    difference between a pruned index scan and a near-full-corpus
    shuffle; it costs one extra narrow pass over the query side to
    enumerate the live pairs."""
    import math as _math

    import numpy as np

    Cn = np.array(index["centroids"], dtype="float64")
    codebook = index["codebook"]
    npb = min(int(nprobe), Cn.shape[0])
    cn2 = (Cn * Cn).sum(axis=1)

    @F.pandas_udf("array<int>")
    def probes(s: pd.Series) -> pd.Series:
        X = np.array(s.tolist(), dtype="float64")
        d = cn2[None, :] - 2.0 * (X @ Cn.T)
        p = np.argsort(d, axis=1)[:, :npb]
        return pd.Series(list(p.astype("int32")))

    # deterministic in fact; marker stops predicate pushdown into the
    # UDF (see ivf_assign). Materialized in a Project before the
    # explode — nondeterministic exprs aren't allowed inside Generate.
    probes = probes.asNondeterministic()

    if n_query_blocks is None:
        nq_total = qdf.count()
        n_query_blocks = max(1, _math.ceil(nq_total / max_queries))
    nblocks = int(n_query_blocks)

    q_rep = (
        qdf.select(
            F.col(qid).alias("query_id"),
            F.col(qemb).alias("__qe"),
            probes(F.col(qemb)).alias("__pcells"),
            F.pmod(F.xxhash64(F.col(qid)), F.lit(nblocks)).alias("__qblk"),
        )
        .withColumn("__cell", F.explode(F.col("__pcells")))
        .drop("__pcells")
    )
    codes = cdf.select(
        F.col(idn).alias("__mid"),
        F.col(cell_col).alias("__cell"),
        F.col(code_col).alias("__code"),
    ).where(F.col("__code").isNotNull() & F.col("__mid").isNotNull())
    # live (cell, block) pairs: recomputes the probe UDF once more on
    # the query side (a narrow Arrow matmul pass) to save shuffling
    # every corpus code row to every one of the nblocks query blocks.
    # Re-aliased to fresh attribute ids — the cogroup's query side is
    # the same subtree, and sharing exprIds trips the ambiguous
    # self-join check.
    live = (
        q_rep.select(
            F.col("__cell").alias("__live_cell"),
            F.col("__qblk").alias("__live_qblk"),
        )
        .distinct()
    )
    c_rep = (
        codes.join(
            F.broadcast(live), codes["__cell"] == live["__live_cell"]
        )
        .select(
            "__mid", "__cell", "__code",
            F.col("__live_qblk").alias("__qblk"),
        )
    )
    qid_type = dict(qdf.select(F.col(qid)).dtypes)[qid]
    mid_type = dict(codes.dtypes)["__mid"]

    def score_cell(qpdf, cpdf):
        import pandas as pd  # noqa: F811 (executor-side import)

        if not len(qpdf) or not len(cpdf):
            return pd.DataFrame(
                {"query_id": [], "__mid": [], "pq_dist": []}
            ).astype({"pq_dist": "float64"})
        cell = int(qpdf["__cell"].iloc[0])
        Qm = np.array(qpdf["__qe"].tolist(), dtype="float64")
        luts = _build_luts(Qm - Cn[cell][None, :], codebook)
        qids = qpdf["query_id"].to_numpy()
        M = np.array(cpdf["__code"].tolist(), dtype="int64")
        ids = cpdf["__mid"].to_numpy()
        parts = []
        for qix, mids, dists in _adc_candidates(luts, M, ids, kk):
            parts.append(
                pd.DataFrame(
                    {"query_id": qids[qix], "__mid": mids, "pq_dist": dists}
                )
            )
        return pd.concat(parts, ignore_index=True)

    return (
        q_rep.groupby("__cell", "__qblk")
        .cogroup(c_rep.groupby("__cell", "__qblk"))
        .applyInPandas(
            score_cell,
            schema=f"query_id {qid_type}, __mid {mid_type}, pq_dist double",
        )
    )


def ivfpq_write(
    coded: Any,
    index: dict,
    path: str,
    cell_col: str = "ivf_cell",
    mode: str = "overwrite",
) -> None:
    """Persist an IVF-PQ deployment in one call — the index lifecycle
    that turns the probed-retrieval recipe into an API:

    - ``<path>/codes/``: the encoded code table as parquet
      PARTITIONED BY the coarse cell, so a probed retrieval's isin
      predicate reaches the scan as a PartitionFilter and Spark reads
      only ~nprobe/nlist of the files (the layout
      tests/test_ivfpq.py::test_cell_partitioned_layout_prunes_partitions
      proves);
    - ``<path>/ivfpq_index.json``: the tiny index dict (coarse
      centroids + residual codebooks, a few MB at most) plus layout
      metadata, written through the Hadoop FileSystem API so the same
      call works on file://, hdfs://, s3a://, ...

    Deployment recipe::

        index = ivfpq_train(corpus, n_clusters=1024, m=16)
        coded = ivfpq_encode(corpus, index)      # keep id + cell + code
        ivfpq_write(coded, index, "s3a://lake/ann/docs_v1")
        ...
        codes, index = ivfpq_read(spark, "s3a://lake/ann/docs_v1")
        hits = ivfpq_knn_join(queries, codes, index, k=10, nprobe=8)
        # or skip the dict entirely: ivfpq_knn_join(q, codes,
        #   "s3a://lake/ann/docs_v1", ...) loads the sidecar itself

    JSON round-trips Python floats exactly (repr-based), so a
    write->read->query cycle is bit-identical to querying the
    in-memory index."""
    df = coded.df if isinstance(coded, Tibble) else coded
    if cell_col not in df.columns:
        raise ValueError(
            f"ivfpq_write: cell column {cell_col!r} not in the coded "
            f"frame (columns: {list(df.columns)}); run ivfpq_encode first"
        )
    if not (isinstance(index, dict) and "centroids" in index
            and "codebook" in index):
        raise ValueError(
            "ivfpq_write: index must be the dict ivfpq_train returned "
            "(keys 'centroids' and 'codebook')"
        )
    from ..sources import write_parquet

    td = coded if isinstance(coded, Tibble) else Tibble(coded)
    write_parquet(td, f"{path}/codes", mode=mode, partition_by=cell_col)
    payload = {
        "format": "ivfpq-index",
        "version": 1,
        "cell_col": cell_col,
        "nlist": len(index["centroids"]),
        "dim": len(index["centroids"][0]) if index["centroids"] else 0,
        "m": len(index["codebook"]),
        "ksub": len(index["codebook"][0]) if index["codebook"] else 0,
        "centroids": index["centroids"],
        "codebook": index["codebook"],
    }
    from .jsonio import write_json_file

    write_json_file(df.sparkSession, f"{path}/ivfpq_index.json", payload)


def _load_ivfpq_index(spark, index: Any) -> dict:
    """Accept the trained dict as-is, or a str path to a deployment
    ivfpq_write produced (the JSON sidecar is read with wholetext —
    one tiny file, any Hadoop-supported filesystem)."""
    if isinstance(index, dict):
        return index
    if not isinstance(index, str):
        raise TypeError(
            f"index must be the ivfpq_train dict or an ivfpq_write path, "
            f"got {type(index).__name__}"
        )
    from .jsonio import read_json_file

    loaded = read_json_file(spark, f"{index}/ivfpq_index.json")
    if loaded.get("format") != "ivfpq-index" or "centroids" not in loaded:
        raise ValueError(
            f"{index}/ivfpq_index.json is not an ivfpq_write sidecar"
        )
    return loaded


def ivfpq_read(spark, path: str):
    """Load a deployment ivfpq_write persisted: returns
    ``(codes, index)`` — the cell-partitioned code table as a Tibble
    (scans prune to probed cells via PartitionFilters) and the index
    dict, exactly equal to what was written (JSON preserves float64).
    The pair feeds :func:`ivfpq_knn_join` directly."""
    from ..sources import read_parquet

    index = _load_ivfpq_index(spark, path)
    codes = read_parquet(spark, f"{path}/codes")
    return codes, index


@verb
def l2_normalize(
    td: Tibble,
    embedding: Any = "embedding",
    out_col: str | None = None,
) -> Tibble:
    """L2-normalize an embedding column (one JVM transform, narrow, no
    shuffle). The composition lever that turns EVERY L2 index in this
    module into a COSINE retrieval engine: for unit vectors
    ||a - b||^2 = 2 - 2*cos(a, b), so L2 ranking over normalized
    vectors IS cosine ranking — normalize the corpus before
    pq_encode/ivfpq_encode and the queries before *_knn_join (the
    rerank stage then also ranks by cosine). Zero vectors pass through
    unchanged (no NaNs).

    The O(d) norm is bound ONCE as its own projection column (a real
    Project attribute the division lambda references), NOT via the
    1-element-array "let" transform used before r12. Two reasons:
    CollapseProject keeps a non-cheap multi-referenced attribute
    hoisted, so the aggregate still evaluates once per row; and the
    nested let shape tickled a Spark 4.1 planner bug where a pandas
    UDF applied over it silently LOST its ArrowEvalPython extraction
    whenever any earlier job had run in the session (exprId-offset
    dependent), leaving a raw PythonUDF in a Project that dies at
    execution with INTERNAL_ERROR 'Cannot evaluate expression'
    (reproduced on vanilla PySpark 4.1.2; tests/test_ivfpq.py
    test_udf_extraction_survives_warm_session pins the fix)."""
    ename = _name_of(embedding)
    out = out_col or ename
    vec = F.transform(F.col(ename), lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate(vec, F.lit(0.0), lambda a, v: a + v * v)
    )
    nrm_col = "__l2norm__"
    if nrm_col in td.columns:
        raise ValueError(
            f"l2_normalize: column {nrm_col!r} is reserved scratch; "
            f"rename it first"
        )
    normalized = F.when(
        F.col(nrm_col) > 0,
        F.transform(vec, lambda x: x / F.col(nrm_col)),
    ).otherwise(vec)
    df = (
        td.df.withColumn(nrm_col, norm)
        .withColumn(out, normalized)
        .drop(nrm_col)
    )
    return td.with_df(df)


def pca_train(
    td: Any,
    embedding: Any = "embedding",
    dim_out: int | None = None,
    combine_width: int = 64,
) -> dict:
    """EXACT distributed PCA over an embedding column — the standard
    dimensionality-reduction step in front of an ANN index (FAISS's
    PCA/OPQ preprocessing): train once, ``pca_apply`` the corpus and
    queries, then IVF-PQ the reduced vectors (smaller codes, faster
    scans, often better recall per byte).

    100 TB shape: ONE Arrow ``mapInPandas`` pass emits a single
    partial statistic row PER PARTITION (count, sum vector, flattened
    Gramian X'X — the sufficient statistics for covariance), a tree
    combine folds those ``combine_width``-to-1 and then 1-to-final on
    the executors (only ~d^2 doubles per row ever move), the driver
    collects EXACTLY ONE statistics row (d^2+d doubles), and
    eigendecomposes the d x d covariance. No sampling — the covariance
    is exact regardless of corpus size. Deterministic: eigenvectors
    are sign-fixed so each component's largest-magnitude coordinate is
    positive.

    Returns a JSON-able model dict: ``mean`` (d), ``components``
    (dim_out x d rows, descending variance), ``explained_variance``
    (dim_out). NULL embeddings are ignored in training."""
    import numpy as np

    td = ensure_tibble(td) if not isinstance(td, Tibble) else td
    ename = _name_of(embedding)
    src = td.df.select(ename).where(F.col(ename).isNotNull())
    first = src.first()
    if first is None:
        raise ValueError("pca_train: no non-NULL vectors to train on")
    d = len(first[0])
    if dim_out is None:
        dim_out = d
    if not 1 <= int(dim_out) <= d:
        raise ValueError(
            f"pca_train: dim_out must be in [1, {d}], got {dim_out}"
        )
    schema = "n long, s array<double>, xtx array<double>"

    def _partials(batches):
        import numpy as _np
        import pandas as _pd

        n_tot, s_tot, g_tot = 0, None, None
        for pdf in batches:
            vals = pdf[ename].dropna()
            if not len(vals):
                continue
            X = _np.array(vals.tolist(), dtype="float64")
            n_tot += len(X)
            s = X.sum(axis=0)
            g = X.T @ X
            s_tot = s if s_tot is None else s_tot + s
            g_tot = g if g_tot is None else g_tot + g
        if n_tot:
            yield _pd.DataFrame(
                {"n": [n_tot], "s": [s_tot.tolist()],
                 "xtx": [g_tot.ravel().tolist()]}
            )

    def _combine(batches):
        # same reducer over partial rows instead of vectors
        import numpy as _np
        import pandas as _pd

        n_tot, s_tot, g_tot = 0, None, None
        for pdf in batches:
            for _, row in pdf.iterrows():
                n_tot += int(row["n"])
                s = _np.asarray(row["s"], dtype="float64")
                g = _np.asarray(row["xtx"], dtype="float64")
                s_tot = s if s_tot is None else s_tot + s
                g_tot = g if g_tot is None else g_tot + g
        if n_tot:
            yield _pd.DataFrame(
                {"n": [n_tot], "s": [s_tot.tolist()],
                 "xtx": [g_tot.tolist()]}
            )

    partials = src.mapInPandas(_partials, schema=schema)
    # two fold levels: width-to-1 tree combine on executors, then a
    # final 1-partition fold so the driver receives EXACTLY ONE
    # (n, s, xtx) row — d^2+d doubles, not combine_width of them
    # (~0.5 GB collected at d=1024 before r12).
    combined = (
        partials.repartition(max(1, int(combine_width)))
        .mapInPandas(_combine, schema=schema)
        .repartition(1)
        .mapInPandas(_combine, schema=schema)
    )
    rows = combined.collect()
    assert len(rows) <= 1, "pca_train: final fold must yield one row"
    n = sum(int(r["n"]) for r in rows)
    if n < 2:
        raise ValueError(f"pca_train: need >= 2 vectors, got {n}")
    s = np.asarray(rows[0]["s"], dtype="float64")
    g = np.asarray(rows[0]["xtx"], dtype="float64").reshape(d, d)
    mean = s / n
    cov = (g - n * np.outer(mean, mean)) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][: int(dim_out)]
    comps = evecs[:, order].T  # (dim_out, d)
    # sign convention: largest-|coordinate| positive per component
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return {
        "mean": mean.tolist(),
        "components": comps.tolist(),
        "explained_variance": [float(max(evals[k], 0.0)) for k in order],
        "version": 1,
    }


def pca_apply(
    td: Any,
    model: dict,
    embedding: Any = "embedding",
    out_col: str | None = None,
) -> Tibble:
    """Project an embedding column through a :func:`pca_train` model:
    ``(x - mean) @ components.T`` as ONE vectorized Arrow batch matmul
    per partition — narrow, no shuffle, NULL embeddings stay NULL.
    ``out_col=None`` replaces the embedding in place (array<double> of
    dim_out)."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    if not (isinstance(model, dict) and "components" in model):
        raise ValueError(
            "pca_apply: expected the dict pca_train returned "
            "(key 'components')"
        )
    td = ensure_tibble(td) if not isinstance(td, Tibble) else td
    ename = _name_of(embedding)
    dest = out_col or ename
    if out_col and out_col in td.columns:
        raise ValueError(
            f"pca_apply: column {out_col!r} already exists; pass a "
            f"different out_col"
        )
    mean = np.asarray(model["mean"], dtype="float64")
    W = np.asarray(model["components"], dtype="float64")

    @pandas_udf("array<double>")
    def _proj(vs: pd.Series) -> pd.Series:
        import numpy as _np

        ok = vs.notna().to_numpy()
        res: list = [None] * len(vs)
        idx = _np.flatnonzero(ok)
        if len(idx):
            X = _np.array(vs.iloc[idx].tolist(), dtype="float64")
            if X.shape[1] != mean.shape[0]:
                raise ValueError(
                    f"pca_apply: vector dim {X.shape[1]} != model dim "
                    f"{mean.shape[0]}"
                )
            Y = (X - mean) @ W.T
            for k, i in enumerate(idx):
                res[i] = Y[k].tolist()
        return pd.Series(res)

    return td.with_df(td.df.withColumn(dest, _proj(F.col(ename))))


def pca_write(spark, model: dict, path: str) -> None:
    """Persist a PCA model as one JSON file on any Hadoop filesystem
    (file://, hdfs://, s3a://) — same lifecycle as bpe_write /
    ivfpq_write."""
    if not (isinstance(model, dict) and "components" in model):
        raise ValueError(
            "pca_write: expected the dict pca_train returned "
            "(key 'components')"
        )
    from .jsonio import write_json_file

    write_json_file(spark, path, {"format": "pca-model", **model})


def pca_read(spark, path: str) -> dict:
    """Load a :func:`pca_write` artifact."""
    from .jsonio import read_json_file

    loaded = read_json_file(spark, path)
    if loaded.get("format") != "pca-model" or "components" not in loaded:
        raise ValueError(f"{path} is not a pca_write artifact")
    loaded.pop("format")
    return loaded
