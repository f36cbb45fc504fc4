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
- rounds run through ``ops.iterate.rounds`` (as PageRank, BFS and SSSP
  below do) and stop when the edge set's ``state_hash``, observed by each
  round's checkpoint job, repeats: no separate action, no set difference.

Reference parity: the reference engine has no graph operator (main.py:1-422
is a linear pipeline); this module is north-star scope (training-data
curation), composed over ops.dedup's pair generators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_data_processor_spark.ops import dedup as D
from etl_data_processor_spark.ops import iterate as I


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

    Two physical strategies behind one contract (the initial edge count,
    observed by the edges' checkpoint job, picks one with no extra job):

    - ``n <= small_graph_edges``: single-task union-find (_cc_single_task).
      A tiny graph pays pure scheduling overhead in the star rounds (each
      round is ~4 shuffle stages); one narrow task closes it outright.
    - larger: alternating large-star/small-star rounds (module docstring) —
      fully distributed, O(log^2 n) rounds, edge-list-only state.

    Set ``small_graph_edges=0`` to force the distributed path (tests pin
    both paths against each other).
    """
    sig = I.state_hash("u", "v")
    e, prev = I.pin(_canonical_edges(edges, src, dst), sig)
    if prev[0] <= small_graph_edges:
        return _cc_single_task(e)
    e = I.rounds(
        e, lambda e, _: _small_star(_large_star(e)), max_iter, sig, prev
    )

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


def decontaminate_dedup(
    docs: DataFrame,
    shingled: DataFrame,
    buckets: DataFrame,
    bench_sources: list[str],
    threshold: float = 0.8,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Decontaminate a corpus against its benchmark slice, then cluster-dedup
    what is left, from ONE verified pair set.

    ``docs`` has ``doc_id`` and ``source``; a doc is benchmark when its
    source is in ``bench_sources`` and train otherwise. ``shingled`` and
    ``buckets`` are the corpus LSH index, carrying ``source``
    (``queries_north._lsh_index``). Returns ``(pairs, contaminated,
    kept)``:

    - ``pairs``: every verified pair (``ops.dedup.lsh_verified_pairs``)
      except bench–bench ones, which are dropped before verification,
      pinned by a lazy ``localCheckpoint``;
    - ``contaminated``: ``doc_id`` of each train doc that near-duplicates
      a benchmark doc, the train ends of the train–bench pairs;
    - ``kept``: the train docs minus ``contaminated`` and minus the
      non-canonical members of the clusters that the train–train pairs
      with no contaminated end form.

    This is ``decontaminate`` followed by ``dedup_keep`` over the clean
    train docs, with one bucket join instead of two: a pair's candidacy
    and Jaccard depend only on its two documents, so the one set,
    restricted to train×bench, is the bipartite result and, restricted to
    clean×clean, the self-join over the clean docs."""
    def bench(c: str) -> Column:
        return F.col(c).isin(bench_sources)

    # every frame below reads the pair set, so it is pinned, and by a
    # checkpoint: a cache() would stay in the CacheManager after the
    # caller's frame is gone
    pairs = D.lsh_verified_pairs(
        buckets, buckets, shingled,
        keep=(F.col("a.doc_id") < F.col("b.doc_id"))
        & ~(bench("a.source") & bench("b.source")),
        threshold=threshold,
        carry_cols=("source",),
    ).localCheckpoint(eager=False)
    # benchmark-bounded and tiny: every anti-join below broadcasts it
    contaminated = (
        pairs.filter(bench("source_a") != bench("source_b"))
        .select(
            F.when(bench("source_a"), F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("doc_id")
        )
        .distinct()
    )
    edges = (
        pairs.filter(~bench("source_a") & ~bench("source_b"))
        .join(F.broadcast(contaminated.toDF("id_a")), "id_a", "left_anti")
        .join(F.broadcast(contaminated.toDF("id_b")), "id_b", "left_anti")
    )
    cc = connected_components(edges)
    drop = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    kept = (
        docs.filter(~bench("source"))
        .join(F.broadcast(contaminated), "doc_id", "left_anti")
        .join(F.broadcast(drop), "doc_id", "left_anti")
    )
    return pairs, contaminated, kept


def pagerank_exact(
    edges: DataFrame,
    iters: int = 5,
    total_q: int = 1_000_000_000_000,
    damping_pct: int = 85,
) -> DataFrame:
    """Power-iteration PageRank in EXACT integer arithmetic (micro-unit
    ranks), so any engine derives bit-identical scores — a fixed-round
    ``ops.iterate.rounds`` loop with per-iteration numeric state instead
    of connected_components' labels.

    ``edges`` is a directed (src, dst) edge list (pass both directions for
    an undirected graph). CONTRACT: every node must have out-degree ≥ 1 —
    the node set is derived from the src column, so dst-only (dangling)
    nodes are absent from the returned ranks and their mass is not
    redistributed. This holds by construction for symmetrized edge lists;
    for a general directed graph, symmetrize the edge list or add
    self-loops first. Each iteration: contribution = rank div out_degree
    (integer division — deterministic, no float summation-order drift),
    one hash-shuffle aggregate on dst, then rank' = (15%·init) +
    (85%·Σcontrib) in integer div-by-100 arithmetic. At 100 TB each iteration is one shuffle of the
    edge list; ranks/degrees are node-sized — the loop's exchanges shrink
    to the node table after the first join. Rank mass uses a 1e12 base so
    int64 never overflows (Σcontrib ≤ total_q, ×85 ≈ 8.5e13 ≪ 2^63).
    """
    # The degree table and every round read the edge list: unpinned, the
    # final plan rescans the input 2×iters times (3× slower at sf0.01). A
    # checkpoint, not cache(), leaves nothing in the CacheManager. The
    # node count is observed by the degree table's pin.
    edges = edges.localCheckpoint(eager=False)
    deg, (n,) = I.pin(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")),
        [F.count(F.lit(1))],
    )
    if n == 0:  # no nodes: an empty rank table, not a division by zero
        return deg.select("src", F.lit(0).cast("long").alias("rank_q"))
    init_q = total_q // n
    base_q = (100 - damping_pct) * init_q // 100

    # State carries (src, deg, rank_q) so the contribution join is ONE
    # broadcast join against the edge list: the edge list (the 100 TB-scale
    # object) never shuffles — only the node-sized Σcontrib aggregate does.
    # One shuffle per iteration, the Pregel cost floor. At node counts
    # beyond broadcast range, drop the hints: the joins fall back to hash
    # shuffles and the algorithm is unchanged.
    def step(state: DataFrame, _: int) -> DataFrame:
        contrib = edges.join(F.broadcast(state), "src").select(
            F.col("dst").alias("src"),
            F.expr("rank_q div deg").alias("c"),
        )
        summed = contrib.groupBy("src").agg(F.sum("c").alias("s"))
        return deg.join(F.broadcast(summed), "src", "left").select(
            "src",
            "deg",
            (
                F.lit(base_q)
                + F.expr(f"coalesce(s, 0) * {damping_pct} div 100")
            ).alias("rank_q"),
        )

    state = deg.select("src", "deg", F.lit(init_q).alias("rank_q"))
    return I.rounds(state, step, iters).select("src", "rank_q")


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
    """``edges`` hash-partitioned by src at the session's shuffle width and
    cached, for loops whose every round joins it on src. The explicit count
    matters: the session lets AQE coalesce a cached plan's final shuffle,
    and a coalesced ``repartition("src")`` no longer matches the join's
    required distribution. AQE leaves a numbered repartition alone; a local
    checkpoint drops the partitioning (two exchanges per join, not one)."""
    n = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return edges.repartition(n, "src").cache()


def bfs_hops(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 3
) -> DataFrame:
    """Multi-source BFS: minimum hop distance (capped at ``max_hops``) from
    any seed node, over a directed (src, dst) edge list — reachability /
    blast-radius analysis (pass both directions for undirected graphs).
    ``seeds`` is a one-column (node) frame; returns (node, dist) for every
    node within ``max_hops`` of a seed, dist = 0 for the seeds themselves.

    FRONTIER-based expansion: the state is the distance table, and round h
    joins only its frontier (the nodes at dist h-1) against the edge list,
    so round cost is O(edges incident to the frontier) — the textbook
    Pregel BFS. The edge list is partitioned by src once and cached
    (:func:`_by_src`), so only the (node-bounded) frontier side shuffles.
    Once the reachable set is exhausted a round's frontier is empty and
    the round adds nothing. Equivalent to ``max_hops`` rounds of
    Bellman-Ford relaxation — the oracle unrolls exactly that recurrence.
    """
    edges = _by_src(edges.select("src", "dst"))

    def step(dist: DataFrame, i: int) -> DataFrame:
        frontier = dist.filter(F.col("dist") == i).select(
            F.col("node").alias("src")
        )
        reached = (
            edges.join(frontier, "src")
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = reached.join(dist.select("node"), "node", "left_anti").select(
            "node", F.lit(i + 1).alias("dist")
        )
        return dist.unionByName(new)

    dist = seeds.select(F.col("node"), F.lit(0).alias("dist")).distinct()
    return I.rounds(dist, step, max_hops, working=(edges,))


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
    edges = _by_src(edges.select("src", "dst", "w"))

    def step(dist: DataFrame, _: int) -> DataFrame:
        cand = edges.join(
            dist.withColumnRenamed("node", "src"), "src"
        ).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        return (
            dist.unionByName(cand)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )

    dist = seeds.select(
        F.col("node"), F.lit(0).cast("long").alias("dist")
    ).distinct()
    return I.rounds(dist, step, rounds, working=(edges,))
