"""Distributed connected components for duplicate-cluster resolution.

Implements the alternating large-star / small-star algorithm of
Kiveris et al., "Connected Components in MapReduce and Beyond"
(SoCC 2014): each round rewires every edge toward its neighborhood
minimum, converging to star graphs (node -> component minimum) in
O(log n) rounds even for path graphs — unlike naive label propagation,
which needs O(diameter) rounds.

Everything is expressed as groupBy-min + join (no ``collect_set``), so
a mega-hub node — e.g. a boilerplate cluster with 10^6 members — never
funnels its whole neighborhood through one task: its neighbors are
re-pointed at the minimum in the very first large-star round and the
hub's degree collapses. Lineage is truncated per round with an eager
``localCheckpoint`` so the iterative plan stays bounded.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.expr import Ref
from ..plans.verb import verb
from ..tibble import Tibble
from ..plans.cache import context_state, reliable_checkpoint

__all__ = [
    "connected_components",
    "components_from_pairs",
    "join_host_rank",
    "pagerank",
    "pagerank_last_run",
]


def _name_of(x: Any) -> str:
    return x._name if isinstance(x, Ref) else str(x)


def _sym(edges: DataFrame) -> DataFrame:
    """Both directions of each undirected edge, self-loops dropped."""
    fwd = edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
    rev = edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    return fwd.union(rev).filter(F.col("u") != F.col("v"))


def _large_star(edges: DataFrame) -> DataFrame:
    """(v, m) for every neighbor v > u, with m = min(u, N(u)).

    groupBy-min + join back, not collect_set: neighborhoods are never
    materialized as arrays, so hub degree costs one shuffle, not one
    task's memory."""
    sym = _sym(edges)
    mins = sym.groupBy("u").agg(F.min("v").alias("__mn__"))
    m = F.least(F.col("u"), F.col("__mn__"))
    return (
        sym.join(mins, on="u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), m.alias("b"))
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Rewire each node's smaller-neighbors (and itself) to their min."""
    smaller = _sym(edges).filter(F.col("v") < F.col("u"))
    mins = smaller.groupBy("u").agg(F.min("v").alias("__mn__"))
    emit_nbrs = (
        smaller.join(mins, on="u")
        .filter(F.col("v") != F.col("__mn__"))
        .select(F.col("v").alias("a"), F.col("__mn__").alias("b"))
    )
    emit_self = mins.select(F.col("u").alias("a"), F.col("__mn__").alias("b"))
    return emit_nbrs.union(emit_self).dropDuplicates()


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Exact min-id components for a collected edge list (path
    compression + union-by-min). Same (id, component) contract as the
    distributed path."""
    from pyspark.sql.types import StructField, StructType

    id_type = edges.schema[0].dataType
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in edges.collect():
        a, b = r["a"], r["b"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # attach the larger root under the smaller -> min-id labels
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    rows = [(x, find(x)) for x in parent]
    schema = StructType(
        [StructField("id", id_type), StructField("component", id_type)]
    )
    return edges.sparkSession.createDataFrame(rows, schema)


def components_from_pairs(
    pairs: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 50,
    small_graph_edges: int = 2_000_000,
) -> DataFrame:
    """Component labels ``(id, component)`` from an undirected pair list.

    ``component`` is the minimum member id of each connected set. Only
    ids that appear in some pair are labeled — callers union isolated
    nodes themselves (their component is their own id).

    Hybrid execution: the near-dup pair graph is usually a tiny
    fraction of the corpus, so when the (already-checkpointed,
    deduplicated) edge list fits ``small_graph_edges`` it is collected
    and solved with driver-side union-find — one job instead of
    O(log n) iterative shuffle rounds. Larger graphs take the
    alternating-star path unchanged; set ``small_graph_edges=0`` to
    force it."""
    edges = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates()
        .transform(reliable_checkpoint, eager=True)
    )
    if small_graph_edges and edges.count() <= small_graph_edges:
        return _driver_union_find(edges)
    prev_sig = None
    for _ in range(max_iter):
        edges = _small_star(_large_star(edges)).transform(reliable_checkpoint, eager=True)
        # bit_xor: order-independent set fingerprint that can't overflow
        # under ANSI mode (edges are deduplicated, so XOR never cancels)
        sig = edges.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("a", "b")).alias("h"),
        ).first()
        cur_sig = (sig["n"], sig["h"])
        if cur_sig == prev_sig:
            break
        prev_sig = cur_sig
    nodes = edges.select(F.col("a").alias("id"), F.col("b").alias("comp")).union(
        edges.select(F.col("b").alias("id"), F.col("b").alias("comp"))
    )
    return nodes.groupBy("id").agg(F.min("comp").alias("component"))


@verb
def connected_components(
    td: Tibble,
    src: Any,
    dst: Any,
    max_iter: int = 50,
    small_graph_edges: int = 2_000_000,
) -> Tibble:
    """Label each node of an undirected edge list with its connected
    component (the component's minimum id). The edge tibble's two key
    columns name the endpoints; output is one row per distinct node:
    ``(id, component)``. See components_from_pairs for the hybrid
    small-graph/driver vs alternating-star execution."""
    sn, dn = _name_of(src), _name_of(dst)
    out = components_from_pairs(
        td.df.select(*td.columns), sn, dn, max_iter, small_graph_edges
    )
    return Tibble(out)


def pagerank(
    edges: Any,
    src: Any = "src",
    dst: Any = "dst",
    damping: float = 0.85,
    iterations: int = 10,
    weight: Any = None,
    checkpoint_every: int = 4,
    tol: float | None = None,
) -> Tibble:
    """Distributed PageRank over a directed edge list (Page et al.,
    "The PageRank Citation Ranking", 1999) — the domain-authority
    quality prior of crawl curation (host_graph -> pagerank -> join
    ranks onto documents as a filter/mixing signal).

    Power iteration in the standard Google formulation: ranks start
    uniform at 1/N; each round every node sends rank * w/out_w along
    its out-edges, DANGLING nodes (no out-edges) spread their whole
    mass uniformly, and every node keeps a (1-d)/N teleport floor.
    Ranks sum to 1 after every iteration.

    Each iteration is ONE keyed shuffle (contributions groupBy dst)
    plus a one-row dangling-mass aggregate that joins back as a
    broadcast — no collect, no driver loop over nodes, so a
    billion-edge host graph runs at shuffle bandwidth. The iterative
    lineage is truncated every ``checkpoint_every`` rounds with an
    eager localCheckpoint (same discipline as the alternating-star
    rounds above); with multi-round lazy plans AQE would otherwise
    re-plan a growing DAG every action. ``weight=`` names an edge
    weight column for weighted PageRank; rows with a NULL endpoint are
    dropped (no identity to rank under).

    ``tol=`` enables convergence-based early stopping: after each
    round the L1 delta between consecutive rank vectors (one tiny join
    + aggregate over already-persisted generations) is checked, and
    iteration stops once it falls below ``tol`` — ``iterations`` then
    acts as the upper bound. :func:`pagerank_last_run` reports the
    rounds actually executed and the final delta.

    Returns one row per distinct node: ``(node, rank)``.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if tol is not None and tol <= 0:
        raise ValueError(f"tol must be positive, got {tol}")
    td = edges if isinstance(edges, Tibble) else Tibble(edges)
    sn, dn = _name_of(src), _name_of(dst)
    w = (
        F.col(_name_of(weight)).cast("double")
        if weight is not None
        else F.lit(1.0)
    )
    e = (
        td.df.select(
            F.col(sn).alias("u"), F.col(dn).alias("v"), w.alias("w")
        )
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
    )
    # edge list + out-weight + node set materialize ONCE (every
    # iteration re-reads them; recomputing the user's upstream plan
    # 10x would dwarf the iteration cost). The edges are HASH-
    # PARTITIONED BY SOURCE and PERSISTED: InMemoryRelation reports
    # the cached plan's output partitioning (AQE is barred from
    # changing it — spark.sql.optimizer.canChangeCachedPlanOutput-
    # Partitioning defaults false precisely to keep this property), so
    # every iteration's edges-join-ranks and the out-weight aggregate
    # satisfy their distribution requirement from the cached layout
    # and only the RANKS side (one row per node) shuffles per round —
    # the edge mass crosses the network once per pagerank() call, not
    # once per iteration. (A checkpoint alone loses the partitioning:
    # under AQE the physical plan reports UnknownPartitioning at
    # checkpoint time, and the iteration joins re-exchanged the full
    # edge list every round — verified in the plan.)
    from pyspark import StorageLevel  # noqa: F401 (used below)

    # The iteration caches are managed LOCALLY, not through the FIFO
    # internal-cache registry: at the default iterations=10 the
    # registry (cap 8) would evict the edge cache — the call's FIRST
    # registration — around iteration 8, silently reverting every
    # remaining round to a full edge re-exchange, exactly the
    # per-round shuffle this cache exists to prevent. Local management
    # keeps every in-flight cache alive for exactly as long as the
    # call needs it (superseded rank generations release at each
    # checkpoint/delta materialization, the rest before returning), so
    # the one-edge-shuffle-per-call property holds at ANY iteration
    # count and nothing pins memory past the call.
    #
    # Plan-STRING guard: generation k's cached plan nests generation
    # k-1's cached plan TWICE (contributions + dangling read the rank
    # frame twice), so the diagnostic tree string Spark renders for
    # every action (SQLExecutionStart's physicalPlanDescription)
    # grows EXPONENTIALLY in the un-checkpointed chain depth — at
    # checkpoint_every far above `iterations` a 9-round chain's
    # rendering OOMed a 1 GB driver in generateTreeString (observed
    # live, r13). The plan string is diagnostics only, so bound it for
    # the duration of this call; truncation is graceful
    # ("...N more characters"), execution is untouched.
    spark = td.df.sparkSession
    _PLAN_STR_KEY = "spark.sql.maxPlanStringLength"
    try:
        prev_cap = spark.conf.get(_PLAN_STR_KEY)
    except Exception:
        prev_cap = None
    # the conf is a byte-size string (e.g. "2147483632b"): keep the
    # caller's cap when it is already tighter than ours
    import re as _re

    m = _re.match(r"\d+", prev_cap or "")
    cur = int(m.group(0)) if m else None
    if cur is None or cur > 1_000_000:
        spark.conf.set(_PLAN_STR_KEY, "1000000")
    try:
        # The eager checkpoint BELOW the repartition+persist is
        # load-bearing for plan RENDERING, not execution: every
        # generation's diagnostic render re-prints the edge cache's
        # child plan at each of its 2^depth occurrences (contributions
        # + dangling both read the previous generation), so the leaf
        # under the InMemoryRelation must be FLAT. r14 measured the
        # alternative (persist over the raw user plan, no checkpoint):
        # execution was fine but a depth-9 un-checkpointed chain spent
        # 490+ s of driver CPU in generateTreeString walking
        # 2^9 x the user plan's AQE subtree — the maxPlanStringLength
        # cap bounds the string, not the walk.
        e = (
            e.transform(reliable_checkpoint, eager=True)
            .repartition(F.col("u"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # caches that live for the WHOLE call (edges + the two
        # node-sized derivations below), kept apart from the per-
        # generation caches so a mid-loop release can never drop them
        pinned: list = [e]
        live: list = []  # superseded rank generations
        # r14: out-weights materialize ONCE — previously left lazy,
        # every iteration re-ran this aggregation over the cached edge
        # list TWICE (the contributions join and the dangling
        # left_anti): 2 extra edge-cache scans per round (guide §2.4 /
        # §5). Flat-checkpoint + repartition + persist (the edge-cache
        # recipe above): the per-round consumers satisfy hash(u) from
        # the cached layout AND each of the 2^depth render occurrences
        # prints a 3-node leaf instead of the aggregation's AQE
        # subtree.
        outw = (
            e.groupBy("u").agg(F.sum("w").alias("__ow__"))
            .transform(reliable_checkpoint, eager=True)
            .repartition(F.col("u"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        pinned.append(outw)
        # r14: the bare localCheckpoint reported UnknownPartitioning
        # and the per-round nodes-join-contributions re-exchanged the
        # node spine every iteration; checkpoint + repartition +
        # persist pins hash(u), so that join is exchange-free from the
        # cached layout (the contributions side arrives
        # hash-partitioned from its own groupBy — the ONE designed
        # exchange per round) while the render leaf stays flat.
        nodes = (
            e.select("u").union(e.select(F.col("v").alias("u"))).distinct()
            .transform(reliable_checkpoint, eager=True)
            .repartition(F.col("u"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        pinned.append(nodes)
        n = nodes.count()
        if n == 0:
            # empty graph: zero rows with the caller's node dtype; the
            # accounting must still describe THIS call, not the previous
            # one (0 rounds ran, no delta)
            context_state()["pagerank_last"] = {
                "iterations": 0, "delta": None,
            }
            out0 = nodes.select(
                F.col("u").alias("node"), F.lit(1.0).alias("rank")
            ).transform(reliable_checkpoint, eager=True)
            for g in pinned:
                g.unpersist()
            return Tibble(out0)
        ranks = nodes.select("u", F.lit(1.0 / n).alias("r"))
        done = 0
        delta = None
        for i in range(iterations):
            # every iteration reads `ranks` TWICE (contributions + the
            # dangling-mass aggregate); left lazy, each generation would
            # re-evaluate both references and the plan cost doubles per
            # round (2^k for k un-truncated iterations — verified: the
            # 9-iteration lazy chain ran minutes on 5 rows). Persisting
            # each generation makes the two references share ONE
            # materialization; the periodic eager checkpoint below then
            # only bounds lineage/plan size, not re-evaluation.
            prev = ranks = ranks.persist(StorageLevel.MEMORY_AND_DISK)
            live.append(ranks)
            contrib = (
                e.join(ranks, on="u")
                .join(outw, on="u")
                .select("v", (F.col("r") * F.col("w") / F.col("__ow__")).alias("c"))
                .groupBy("v")
                .agg(F.sum("c").alias("__c__"))
            )
            # dangling mass: one row, broadcast back — stays lazy so an
            # iteration costs no extra driver action
            dangling = ranks.join(outw, on="u", how="left_anti").agg(
                F.coalesce(F.sum("r"), F.lit(0.0)).alias("__dm__")
            )
            ranks = (
                nodes.join(
                    contrib.withColumnRenamed("v", "u"), on="u", how="left"
                )
                .crossJoin(F.broadcast(dangling))
                .select(
                    "u",
                    (
                        F.lit((1.0 - damping) / n)
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("__c__"), F.lit(0.0))
                            + F.col("__dm__") / F.lit(n)
                        )
                    ).alias("r"),
                )
            )
            if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
                # the eager checkpoint materializes everything up to here:
                # every superseded rank generation can release NOW (live
                # caches within a call stay bounded by checkpoint_every,
                # never by a global registry's FIFO) — the edge cache at
                # live[0] stays for the remaining rounds
                ranks = ranks.transform(reliable_checkpoint, eager=True)
                for g in live:
                    g.unpersist()
                live.clear()
            done = i + 1
            if tol is not None:
                # one tiny join over the persisted previous generation —
                # both frames are node-sized and co-keyed on u
                ranks = ranks.persist(StorageLevel.MEMORY_AND_DISK)
                live.append(ranks)
                delta = (
                    ranks.join(
                        prev.select("u", F.col("r").alias("__rp__")), on="u"
                    )
                    .agg(F.sum(F.abs(F.col("r") - F.col("__rp__"))))
                    .first()[0]
                )
                # the delta action materialized this generation — every
                # older one is now releasable
                for g in live[:-1]:
                    g.unpersist()
                del live[:-1]
                if delta is not None and delta < tol:
                    break
        last = context_state()["pagerank_last"] = {
            "iterations": done, "delta": delta,
        }
        final = ranks.select(
            F.col("u").alias("node"), F.col("r").alias("rank")
        )
        # the executed plan of the LAST generation, rendered under the
        # capped plan-string conf — the plan-lock tests assert on this
        # (the returned frame below is a flat checkpoint scan, so the
        # iteration structure is no longer visible from outside)
        last["plan"] = (
            final._jdf.queryExecution().executedPlan().toString()
        )
        # Materialize the result as an eager checkpoint, then release
        # every iteration-internal cache (edges included): the
        # returned frame is a FLAT LogicalRDD scan — nothing pinned
        # past the call, no nested cached-plan chain for any later
        # action to re-render (see the plan-string guard above), and
        # repeated pagerank() calls cannot accumulate edge caches.
        out = final.transform(reliable_checkpoint, eager=True)
        for g in pinned + live:
            g.unpersist()
        return Tibble(out)
    finally:
        # restore the caller's plan-string cap (diagnostics only)
        try:
            if prev_cap is None:
                spark.conf.unset(_PLAN_STR_KEY)
            else:
                spark.conf.set(_PLAN_STR_KEY, prev_cap)
        except Exception:
            pass


def pagerank_last_run() -> dict:
    """Accounting for the most recent :func:`pagerank` call under the
    active SparkContext: ``{"iterations": rounds executed, "delta":
    final L1 change or None when tol wasn't requested, "plan": the last
    generation's executed-plan text (rendered under the call's bounded
    plan-string cap; absent for an empty graph)}`` — the returned
    frame itself is a flat checkpoint scan, so the iteration plan is
    only observable here."""
    return dict(context_state().get("pagerank_last", {}))


def join_host_rank(
    docs: Any,
    ranks: Any,
    url: Any = "url",
    out_col: str = "host_rank",
    fill: float | None = 0.0,
) -> Tibble:
    """Attach the crawl-graph authority prior to documents — the last
    step of the host_graph -> pagerank -> document-prior loop as ONE
    call: ``out_col`` is the PageRank of the document's host
    (``url_host(url)`` joined against ``ranks``'s (node, rank) rows),
    with hosts absent from the ranking — not in any crawled edge, or
    an unparseable URL — filled with ``fill`` (``None`` keeps NULL so
    callers can distinguish "unranked" from "low-ranked").

    One keyed equi-join against the node-sized rank table (AQE
    broadcasts it when it fits); the documents side is never
    shuffled beyond that join."""
    td = docs if isinstance(docs, Tibble) else Tibble(docs)
    rt = ranks if isinstance(ranks, Tibble) else Tibble(ranks)
    if out_col in td.columns:
        raise ValueError(
            f"join_host_rank: column {out_col!r} already exists"
        )
    from .urls import url_host

    un = _name_of(url)
    r = rt.df.select(
        F.col("node").alias("__jhr_host__"),
        F.col("rank").alias(out_col),
    )
    joined = (
        td.df.withColumn("__jhr_host__", url_host(F.col(un)))
        .join(r, on="__jhr_host__", how="left")
        .drop("__jhr_host__")
    )
    if fill is not None:
        joined = joined.withColumn(
            out_col, F.coalesce(F.col(out_col), F.lit(float(fill)))
        )
    return Tibble(joined, groups=td.group_vars, levels=td.levels)
