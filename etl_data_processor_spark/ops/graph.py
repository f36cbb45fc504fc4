"""Iterative graph ops: connected components + near-dup cluster resolution.

The dedup family (``ops.dedup``) emits near-duplicate PAIRS; a real corpus
pipeline must resolve pairs into CLUSTERS and keep one canonical document
per cluster (pairs are not transitive-closed: A~B and B~C puts A,B,C in one
group even when A~C was never emitted). That closure is connected
components — an *iterative* algorithm, the one operator class a single
declarative plan cannot express.

``connected_components`` implements alternating large-star / small-star
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
the same algorithm GraphFrames uses:

- state is only the edge list (no adjacency matrices, no driver-side graph);
- each round is two groupBy-min shuffles over edges — fully distributed;
- converges in O(log^2 n) rounds on any graph (near-dup graphs are
  star-like blobs and converge in 2-3), vs O(diameter) for naive label
  propagation, which degrades to O(n) rounds on chain-shaped graphs;
- every round ends in ``localCheckpoint`` to truncate lineage — without it
  the plan doubles per round and Catalyst analysis dominates. On a real
  cluster swap in ``checkpoint()`` against the cluster checkpoint dir for
  fault tolerance; the algorithm is unchanged.

Convergence is detected by an (edge-count, xor-of-edge-hashes) signature:
one cheap agg on the already-materialized round output, no set-difference
join. bit_xor is order-independent and cannot overflow (sum would, under
ANSI mode); the edge set is distinct, so a collision masking a real change
needs two distinct edge SETS with equal count AND equal xxhash64 xor —
probability ~2^-64 per round.

Reference parity: the reference engine has no graph operator (main.py:1-422
is a linear pipeline); this module is north-star scope (training-data
curation), composed over ops.dedup's pair generators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_data_processor_spark.ops import dedup as D


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Orient u > v, drop self-loops and duplicate pairs."""
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).filter(F.col("a") != F.col("b"))
    return e.select(
        F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
    ).distinct()


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u: connect every larger neighbor to min(N(u) + {u})."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("__mn"))
        .select("u", F.least(F.col("__mn"), F.col("u")).alias("m"))
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """For each node u: connect u and its smaller neighbors to their min."""
    c = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")).distinct()
    mins = c.groupBy("u").agg(F.min("v").alias("m"))
    return (
        c.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(mins.select(F.col("u"), F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _cc_single_task(e: DataFrame) -> DataFrame:
    """Union-find over the whole edge list in ONE executor task.

    The edge list is coalesced (narrow, no shuffle) to a single partition
    and closed with path-compressed union-find inside ``mapInPandas`` —
    executor-side, never collected to the driver. Output contract is
    identical to the star rounds: (node, component=min member id).
    """
    import pandas as pd

    def close(batches):
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for u, v in zip(pdf["u"], pdf["v"]):
                u, v = int(u), int(v)
                parent.setdefault(u, u)
                parent.setdefault(v, v)
                ru, rv = find(u), find(v)
                if ru != rv:
                    # root at the smaller id so the final relabel is cheap
                    if ru < rv:
                        parent[rv] = ru
                    else:
                        parent[ru] = rv
        if parent:
            nodes = list(parent)
            yield pd.DataFrame(
                {
                    "node": pd.Series(nodes, dtype="int64"),
                    "component": pd.Series(
                        [find(x) for x in nodes], dtype="int64"
                    ),
                }
            )

    return e.coalesce(1).mapInPandas(close, "node long, component long")


# Below this many edges the pair graph closes in one union-find task
# (memory bound: ~200 B/node in the Python dict -> ~400 MB worst case,
# comfortably inside one executor). Near-dup pair graphs are SMALL even at
# 100 TB corpus scale — pairs are the rare event dedup exists to find — so
# this is the common path; the distributed star rounds take over beyond it.
SMALL_GRAPH_EDGES = 1_000_000


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; component is
    the minimum node id of the connected component. Nodes with no edges are
    not emitted — callers keep singletons via anti-join (see dedup_keep).

    Two physical strategies behind one contract (the initial edge count —
    already needed for convergence signatures — picks one, no extra job):

    - ``n <= small_graph_edges``: single-task union-find (_cc_single_task).
      A tiny graph pays pure scheduling overhead in the star rounds (each
      round is ~4 shuffle stages); one narrow task closes it outright.
    - larger: alternating large-star/small-star rounds (module docstring) —
      fully distributed, O(log^2 n) rounds, edge-list-only state.

    Set ``small_graph_edges=0`` to force the distributed path (tests pin
    both paths against each other).
    """
    def signature(df: DataFrame) -> tuple[int, int]:
        # Under AQE this is NOT where the round runs: the lazy
        # localCheckpoint(eager=False) that made `df` already ran every
        # upstream query stage to plan its final one (at sf0.01, 27 of
        # q_corpus_pipeline's 29 build-time jobs run inside that call).
        # This action runs what is left (2 jobs there): the final stage,
        # which persists the checkpoint, and the signature agg over it.
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    e = _canonical_edges(edges, src, dst).localCheckpoint(eager=False)
    prev = signature(e)
    if prev[0] <= small_graph_edges:
        return _cc_single_task(e)
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        cur = signature(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")

    # Converged edge set is a forest of stars: (member, root) with root = min.
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node"), F.col("v").alias("component")).distinct()
    return labels.unionByName(roots).distinct()


def dedup_clusters(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingled: DataFrame | None = None,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """Near-dup clusters over MinHash-LSH pairs: (doc_id, component,
    cluster_size, is_canonical). Canonical = the min doc_id of the cluster
    (deterministic; production would rank by quality score instead — swap the
    min for a row_number over that score)."""
    pairs = D.minhash_lsh_pairs(
        docs, threshold=threshold, id_col=id_col, text_col=text_col,
        shingled=shingled, buckets=buckets,
    )
    cc = connected_components(pairs.select("id_a", "id_b"))
    w = Window.partitionBy("component")
    return (
        cc.select(F.col("node").alias(id_col), "component")
        .withColumn("cluster_size", F.count(F.lit(1)).over(w).cast("long"))
        .withColumn(
            "is_canonical", (F.col(id_col) == F.col("component")).cast("int")
        )
    )


def dedup_keep(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingled: DataFrame | None = None,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """The kept corpus after cluster-level dedup: singletons (never paired)
    plus one canonical doc per near-dup cluster — the anti-join composition
    a curation pipeline actually ships. Left-anti against the (small)
    non-canonical set broadcasts; the full corpus is never shuffled."""
    clusters = dedup_clusters(
        docs, threshold=threshold, id_col=id_col, text_col=text_col,
        shingled=shingled, buckets=buckets,
    )
    drop = clusters.filter(F.col("is_canonical") == 0).select(id_col)
    return docs.join(F.broadcast(drop), id_col, "left_anti")


def pagerank_exact(
    edges: DataFrame,
    iters: int = 5,
    total_q: int = 1_000_000_000_000,
    damping_pct: int = 85,
    validate: bool = False,
) -> DataFrame:
    """Power-iteration PageRank in EXACT integer arithmetic (micro-unit
    ranks), so any engine derives bit-identical scores — the iterative-
    algorithm pattern (like connected_components) but with per-iteration
    numeric state instead of labels.

    ``edges`` is a directed (src, dst) edge list (pass both directions for
    an undirected graph). CONTRACT: every node must have out-degree ≥ 1 —
    the node set is derived from the src column, so dst-only (dangling)
    nodes are absent from the returned ranks and their mass is not
    redistributed. This holds by construction for symmetrized edge lists;
    for a general directed graph pass ``validate=True`` to fail fast
    instead of silently dropping danglers. Each
    iteration: contribution = rank div out_degree (integer division —
    deterministic, no float summation-order drift), one hash-shuffle
    aggregate on dst, then rank' = (15%·init) + (85%·Σcontrib) in integer
    div-by-100 arithmetic. At 100 TB each iteration is one shuffle of the
    edge list; ranks/degrees are node-sized — the loop's exchanges shrink
    to the node table after the first join. Rank mass uses a 1e12 base so
    int64 never overflows (Σcontrib ≤ total_q, ×85 ≈ 8.5e13 ≪ 2^63).
    """
    # The edge list and degree table are the loop's working set: without
    # pinning them, every iteration's plan re-derives them from source (the
    # final plan would rescan the input 2×iters times — measured 3× slower
    # at sf0.01). Same practice as connected_components' per-round persist.
    edges = edges.cache()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).cache()
    n = deg.count()  # one tiny driver scalar; the iteration stays distributed
    if validate:
        dangling = (
            edges.select(F.col("dst").alias("src"))
            .distinct()
            .join(deg, "src", "left_anti")
            .count()
        )
        if dangling:
            edges.unpersist()
            deg.unpersist()
            raise ValueError(
                f"pagerank_exact: {dangling} dangling node(s) have in-edges "
                "but out-degree 0; their rank would be silently dropped. "
                "Symmetrize the edge list or add self-loops."
            )
    init_q = total_q // n
    base_q = (100 - damping_pct) * init_q // 100
    # State carries (src, deg, rank_q) so the contribution join is ONE
    # broadcast join against the edge list: the edge list (the 100 TB-scale
    # object) never shuffles — only the node-sized Σcontrib aggregate does.
    # One shuffle per iteration, the Pregel cost floor.
    state = deg.select("src", "deg", F.lit(init_q).alias("rank_q"))
    for _ in range(iters):
        contrib = edges.join(F.broadcast(state), "src").select(
            F.col("dst").alias("src"),
            F.expr("rank_q div deg").alias("c"),
        )
        summed = contrib.groupBy("src").agg(F.sum("c").alias("s"))
        state = (
            deg.join(F.broadcast(summed), "src", "left")
            .select(
                "src",
                "deg",
                (
                    F.lit(base_q)
                    + F.expr(f"coalesce(s, 0) * {damping_pct} div 100")
                ).alias("rank_q"),
            )
            # truncate lineage each round (lazy: materializes on the next
            # round's first job) — otherwise the final plan nests all
            # iterations and analysis/AQE cost grows superlinearly with
            # iters. Same pattern as connected_components. At node counts
            # beyond broadcast range, drop the hints: the joins fall back
            # to hash shuffles and the algorithm is unchanged.
            .localCheckpoint(eager=False)
        )
    # Materialize the final state BEFORE dropping the loop's working set —
    # an eager checkpoint cuts the result free of the edges/deg lineage, so
    # unpersisting them cannot trigger a recompute-from-source later. Without
    # the unpersist, repeated calls leak executor storage (ADVICE r1).
    result = state.select("src", "rank_q").localCheckpoint(eager=True)
    edges.unpersist()
    deg.unpersist()
    return result


def dedup_keep_best(
    docs: DataFrame,
    score: Column,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingled: DataFrame | None = None,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """Cluster dedup with a PLUGGABLE canonical policy: keep the highest-
    ``score`` member of each near-dup cluster (ties → lowest id) instead of
    dedup_keep's lowest-id canonical. This is the curation-grade choice —
    when a cluster mixes a clean original and an OCR-mangled copy, min-id
    keeps whichever crawled first; score-based keeps the best one. Same
    cost shape as dedup_keep: clusters are pair-graph-sized, the drop set
    broadcasts, the corpus itself is never shuffled."""
    clusters = dedup_clusters(
        docs, threshold=threshold, id_col=id_col, text_col=text_col,
        shingled=shingled, buckets=buckets,
    )
    scored = docs.select(F.col(id_col), score.alias("__score"))
    w = Window.partitionBy("component").orderBy(
        F.col("__score").desc(), F.col(id_col)
    )
    drop = (
        clusters.join(scored, id_col)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") > 1)
        .select(id_col)
    )
    return docs.join(F.broadcast(drop), id_col, "left_anti")


def _by_src(edges: DataFrame) -> DataFrame:
    """Hash-partition ``edges`` by src at the session's shuffle width. The
    explicit count matters: the session lets AQE coalesce a cached plan's
    final shuffle, and a coalesced ``repartition("src")`` no longer
    matches the join's required distribution, so every round would
    re-shuffle the edge list. AQE leaves a numbered repartition alone."""
    n = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return edges.repartition(n, "src")


def bfs_hops(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 3
) -> DataFrame:
    """Multi-source BFS: minimum hop distance (capped at ``max_hops``) from
    any seed node, over a directed (src, dst) edge list — reachability /
    blast-radius analysis (pass both directions for undirected graphs).
    ``seeds`` is a one-column (node) frame; returns (node, dist) for every
    node within ``max_hops`` of a seed, dist = 0 for the seeds themselves.

    FRONTIER-based expansion: each round joins only the newly-discovered
    nodes against the edge list (not the accumulated set), so round cost is
    O(edges incident to the frontier) — the textbook Pregel BFS. The edge
    list is repartitioned by src ONCE and cached: every round's join reuses
    that layout, so only the (node-bounded) frontier side shuffles. The
    width is pinned (:func:`_by_src`) so AQE cannot coalesce the cache.
    Early-stops when a round discovers nothing (one count per round — a
    scalar job on the already-checkpointed frontier, same convergence
    pattern as connected_components). Equivalent to ``max_hops`` rounds of
    Bellman-Ford relaxation — the oracle unrolls exactly that recurrence.
    """
    edges = _by_src(edges.select("src", "dst")).cache()
    dist = (
        seeds.select(F.col("node"), F.lit(0).alias("dist"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    frontier = dist.select("node")
    for h in range(1, max_hops + 1):
        reached = (
            edges.join(
                frontier.withColumnRenamed("node", "src"), "src"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = (
            reached.join(dist.select("node"), "node", "left_anti")
            .select("node", F.lit(h).alias("dist"))
            .localCheckpoint(eager=False)
        )
        if new.isEmpty():
            break
        dist = dist.unionByName(new).localCheckpoint(eager=False)
        frontier = new.select("node")
    result = dist.localCheckpoint(eager=True)
    edges.unpersist()
    return result


def sssp_bounded(
    edges: DataFrame, seeds: DataFrame, rounds: int = 3
) -> DataFrame:
    """Bounded multi-source shortest path over WEIGHTED directed edges
    (src, dst, w) with positive integer weights: minimum path cost from
    any seed using at most ``rounds`` edges — Bellman-Ford relaxation,
    the weighted generalization of :func:`bfs_hops`. Unlike BFS, a
    frontier-only expansion is wrong here (a longer-hop path can be
    cheaper), so every round relaxes the FULL current distance table:
    cand = dist ⋈ edges, then min per node — one node-bounded shuffle
    per round against the src-partitioned cached edge list. Integer
    costs ⇒ engine-exact; the oracle unrolls the identical recurrence.
    Returns (node, dist)."""
    edges = _by_src(edges.select("src", "dst", "w")).cache()
    dist = (
        seeds.select(F.col("node"), F.lit(0).cast("long").alias("dist"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    for _ in range(rounds):
        cand = edges.join(
            dist.withColumnRenamed("node", "src"), "src"
        ).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        dist = (
            dist.unionByName(cand)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    result = dist.localCheckpoint(eager=True)
    edges.unpersist()
    return result
