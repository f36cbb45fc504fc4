"""Connected components (large-star/small-star) + dedup cluster resolution.

Correctness model: a pure-Python union-find over the same edge list — the
Spark result must match it exactly on every topology, including the chain
graphs where naive label propagation needs O(n) rounds.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_data_processor_spark.io import Catalog
from etl_data_processor_spark.ops.dedup import minhash_lsh_pairs
from etl_data_processor_spark.ops.graph import (
    connected_components,
    dedup_clusters,
    dedup_keep,
)


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # normalize: every node -> min id of its component
    roots: dict[int, int] = {}
    for node in list(parent):
        r = find(node)
        roots.setdefault(r, min(n for n in parent if find(n) == r))
    return {node: roots[find(node)] for node in parent}


def _cc_spark(
    spark, edges: list[tuple[int, int]], small_graph_edges: int = 10**6
) -> dict[int, int]:
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = connected_components(
        df, small_graph_edges=small_graph_edges
    ).collect()
    got = {r["node"]: r["component"] for r in out}
    assert len(got) == len(out), "duplicate node labels emitted"
    return got


TOPOLOGIES = {
    "two_triangles_bridge": [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (3, 10)],
    "separate_components": [(1, 2), (5, 6), (6, 7), (100, 101)],
    "star": [(50, i) for i in range(10)],
    "duplicate_and_reversed_edges": [(4, 2), (2, 4), (4, 2), (9, 9), (2, 1)],
}


@pytest.mark.parametrize("path", ["single_task", "star_rounds"])
@pytest.mark.parametrize("name", sorted(TOPOLOGIES))
def test_cc_matches_union_find(spark, name, path):
    # small_graph_edges=0 forces the distributed star rounds; the default
    # takes the single-task union-find — both must match the Python model
    edges = TOPOLOGIES[name]
    expected = _union_find([e for e in edges if e[0] != e[1]])
    thr = 0 if path == "star_rounds" else 10**6
    assert _cc_spark(spark, edges, small_graph_edges=thr) == expected


def test_cc_long_chain_converges(spark):
    # Path graph 0-1-2-...-63: diameter 63. Label propagation would need 63
    # rounds; star-contraction must finish within the default max_iter=30
    # (O(log^2 n)) and still label every node with the chain minimum.
    edges = [(i, i + 1) for i in range(63)]
    got = _cc_spark(spark, edges, small_graph_edges=0)
    assert got == {i: 0 for i in range(64)}


@pytest.mark.slow
def test_cc_paths_agree_on_random_graphs(spark):
    """The single-task union-find and the distributed star rounds are two
    physical strategies for ONE logical operator: exact agreement on random
    multigraphs (dups, reversed edges, self-loops, skewed components)."""
    import random

    rng = random.Random(7)
    for trial in range(3):
        n = rng.randrange(30, 120)
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(20, 150))
        ]
        fast = _cc_spark(spark, edges)
        slow = _cc_spark(spark, edges, small_graph_edges=0)
        assert fast == slow, f"trial {trial}: paths diverge"


def test_cc_partition_invariance(spark):
    edges = [(i, i + 1) for i in range(0, 40, 2)] + [(i, i + 2) for i in range(0, 20, 4)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    a = {(r["node"], r["component"]) for r in connected_components(df.repartition(1)).collect()}
    b = {(r["node"], r["component"]) for r in connected_components(df.repartition(13)).collect()}
    assert a == b


def test_cc_initial_signature_comes_from_the_checkpoint_job(spark):
    """The initial (n, h) signature is read from an Observation on the
    eager checkpoint of the canonical edge list, so on the single-task
    path the call runs exactly the checkpoint's own jobs (a separate
    signature collect ran one job more)."""
    from etl_data_processor_spark.ops.graph import _canonical_edges

    df = spark.createDataFrame(
        TOPOLOGIES["two_triangles_bridge"], "id_a long, id_b long"
    )
    dag = spark._jsc.sc().dagScheduler()

    def jobs(fn) -> int:
        j0 = dag.nextJobId()
        fn()
        return dag.nextJobId() - j0

    checkpoint = jobs(
        lambda: _canonical_edges(df, "id_a", "id_b").localCheckpoint(eager=True)
    )
    assert checkpoint >= 1
    assert jobs(lambda: connected_components(df)) == checkpoint


def test_dedup_clusters_closes_pairs(spark, sf_dir):
    docs = Catalog(spark, sf_dir).documents
    pairs = [
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, threshold=0.8).collect()
    ]
    expected = _union_find(pairs)
    rows = dedup_clusters(docs, threshold=0.8).collect()
    got = {r["doc_id"]: r["component"] for r in rows}
    assert got == expected
    # cluster_size is the component population; exactly one canonical each
    by_comp: dict[int, list] = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r)
    for comp, members in by_comp.items():
        assert all(m["cluster_size"] == len(members) for m in members)
        assert sum(m["is_canonical"] for m in members) == 1
        assert min(m["doc_id"] for m in members) == comp


def test_dedup_keep_is_corpus_minus_non_canonical(spark, sf_dir):
    docs = Catalog(spark, sf_dir).documents
    clusters = dedup_clusters(docs, threshold=0.8)
    n_docs = docs.count()
    n_dupes = clusters.filter(F.col("is_canonical") == 0).count()
    kept = dedup_keep(docs, threshold=0.8)
    assert kept.count() == n_docs - n_dupes
    assert kept.columns == docs.columns
    # every cluster still has its canonical representative
    canon = {r["component"] for r in clusters.collect()}
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert canon <= kept_ids


def test_decontaminate_matches_exact_cross_join(spark, sf_dir):
    """One bucket join between the train and bench slices of the LSH index
    finds exactly the train docs a brute-force cross Jaccard finds, and
    q_decontaminate keeps every other train doc."""
    import __spark_entry__ as entry_mod
    from etl_data_processor_spark.ops.dedup import (
        lsh_verified_pairs,
        minhash_band_buckets,
        with_shingles,
    )

    docs = Catalog(spark, sf_dir).documents
    bench_srcs = ["src0", "src1", "src2", "src3"]
    is_bench = F.col("source").isin(bench_srcs)
    sh = with_shingles(docs).select("doc_id", "source", "shingles").cache()

    # exact model: brute-force cross Jaccard on collected shingle sets
    rows = sh.collect()
    tsh = {r["doc_id"]: set(r["shingles"]) for r in rows if r["source"] not in bench_srcs}
    bsh = {r["doc_id"]: set(r["shingles"]) for r in rows if r["source"] in bench_srcs}
    contaminated = {
        t
        for t, ts in tsh.items()
        if any(len(ts & bs) / len(ts | bs) >= 0.8 for bs in bsh.values())
    }
    assert contaminated, "fixture plants cross-source near-dups"

    bk = minhash_band_buckets(sh, carry_cols=["source"])
    pairs = lsh_verified_pairs(
        bk.filter(~is_bench), bk.filter(is_bench), sh, keep=F.lit(True)
    )
    assert {r["id_a"] for r in pairs.collect()} == contaminated
    sh.unpersist()

    kept = entry_mod.queries()["q_decontaminate"](spark, sf_dir)
    assert {r["doc_id"] for r in kept.collect()} == set(tsh) - contaminated


def test_pagerank_matches_python_model(spark, sf_dir):
    """pagerank_exact vs a pure-Python mirror of the same integer
    arithmetic: EVERY node's rank must be identical (not approximately) —
    the integer-division design is what makes the distributed result
    reproducible. Also pins partition invariance."""
    from pyspark.sql import functions as F

    from etl_data_processor_spark.ops.graph import pagerank_exact

    cat = Catalog(spark, sf_dir)
    pairs = (
        cat.lineitem.join(cat.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edge_rows = [(r["c"], r["s"]) for r in pairs.collect()]
    sym = edge_rows + [(b, a) for a, b in edge_rows]

    # pure-Python mirror
    deg: dict[int, int] = {}
    for a, _ in sym:
        deg[a] = deg.get(a, 0) + 1
    n = len(deg)
    init = 10**12 // n
    base = 15 * init // 100
    rank = {v: init for v in deg}
    for _ in range(5):
        s: dict[int, int] = {v: 0 for v in deg}
        for a, b in sym:
            s[b] += rank[a] // deg[a]
        rank = {v: base + s[v] * 85 // 100 for v in deg}

    edges = pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionAll(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
    got = {
        r["src"]: r["rank_q"] for r in pagerank_exact(edges, iters=5).collect()
    }
    assert got == rank

    # partition invariance: a different physical layout, identical ranks
    got2 = {
        r["src"]: r["rank_q"]
        for r in pagerank_exact(edges.repartition(7), iters=5).collect()
    }
    assert got2 == rank


def test_pagerank_of_no_edges_is_empty(spark):
    """An empty edge list has no nodes: the rank table comes back empty,
    typed (src long, rank_q long), instead of dividing by a node count
    of zero."""
    from etl_data_processor_spark.ops.graph import pagerank_exact

    ranks = pagerank_exact(spark.createDataFrame([], "src long, dst long"))
    assert ranks.dtypes == [("src", "bigint"), ("rank_q", "bigint")]
    assert ranks.collect() == []


def test_dedup_best_keeps_highest_quality(spark, sf_dir):
    """dedup_keep_best vs pure-Python model: union-find over the engine's
    own (oracle-verified) pair list, then keep argmax-quality per component
    (ties → lowest id) plus all singletons. Runs at any SF — this is the
    sf0.1 verification path where the recursive-CTE oracle is infeasible."""
    from pyspark.sql import functions as F

    from etl_data_processor_spark.ops import text as T
    from etl_data_processor_spark.ops.dedup import minhash_lsh_pairs
    from etl_data_processor_spark.ops.graph import dedup_keep_best

    docs = Catalog(spark, sf_dir).documents
    pairs = [
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, threshold=0.8).collect()
    ]
    quality = {
        r["doc_id"]: (r["q"], r["doc_id"])
        for r in docs.select(
            "doc_id", T.quality_score(F.col("text")).alias("q")
        ).collect()
    }
    comp = _union_find(pairs)
    best: dict[int, int] = {}
    for node, c in comp.items():
        if c not in best or (quality[node][0], -node) > (
            quality[best[c]][0],
            -best[c],
        ):
            best[c] = node
    paired = set(comp)
    keep_expected = (set(quality) - paired) | set(best.values())

    got = {
        r["doc_id"]
        for r in dedup_keep_best(
            docs, score=T.quality_score(F.col("text")), threshold=0.8
        ).collect()
    }
    assert got == keep_expected


_BENCH_SRCS = ["src0", "src1", "src2", "src3"]


def _words(tag: str, lo: int, hi: int, swap: dict[int, str] | None = None) -> str:
    swap = swap or {}
    return " ".join(swap.get(i, f"{tag}{i}") for i in range(lo, hi))


def _jaccard3(a: str, b: str) -> float:
    def sh(t: str) -> set:
        w = t.split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)} or {" ".join(w)}

    x, y = sh(a), sh(b)
    return len(x & y) / len(x | y)


# doc_id -> (source, text). Train A~B~C is a chain (A~C below the
# threshold) whose smallest id, A, is contaminated by bench X; bench Y1~Y2
# near-duplicate each other; train T near-duplicates bench Z1 and Z2; the
# docs of fewer than 3 tokens are one whole-text shingle each, so the two
# "two words" docs pair up and bench "solo" contaminates train "solo".
_HAND_CORPUS = {
    1: ("src4", _words("a", 0, 40)),  # A
    2: ("src5", _words("a", 4, 44)),  # B
    3: ("src4", _words("a", 8, 48)),  # C
    4: ("src6", _words("t", 0, 30)),  # T
    5: ("src4", "two words"),
    6: ("src5", "two words"),
    7: ("src6", "solo"),
    8: ("src4", _words("f", 0, 25)),
    9: ("src5", _words("g", 0, 12)),
    101: ("src0", _words("a", 0, 40, {39: "x"})),  # X
    102: ("src1", _words("y", 0, 30)),  # Y1
    103: ("src2", _words("y", 0, 30, {29: "y"})),  # Y2
    104: ("src3", _words("t", 0, 30, {29: "z"})),  # Z1
    105: ("src0", _words("t", 0, 30, {0: "z"})),  # Z2
    106: ("src1", "solo"),
}


def _hand_index(spark):
    from etl_data_processor_spark.ops.dedup import minhash_band_buckets, with_shingles

    j = lambda a, b: _jaccard3(_HAND_CORPUS[a][1], _HAND_CORPUS[b][1])  # noqa: E731
    assert min(j(1, 101), j(1, 2), j(2, 3), j(102, 103), j(4, 104), j(4, 105)) >= 0.8
    assert max(j(1, 3), j(2, 101)) < 0.8
    docs = spark.createDataFrame(
        [(i, t, s) for i, (s, t) in _HAND_CORPUS.items()],
        "doc_id long, text string, source string",
    )
    sh = with_shingles(docs).select("doc_id", "source", "shingles")
    return docs, sh, minhash_band_buckets(sh, carry_cols=["source"])


@pytest.mark.parametrize("corpus", ["fixture", "hand_built"])
def test_decontaminate_dedup_equals_two_step_composition(spark, sf_dir, corpus):
    """decontaminate_dedup's one verified pair set against the two joins it
    replaces, over slices of the same LSH index: the train×bench pairs of
    one bipartite lsh_verified_pairs join plus the train×train pairs of
    minhash_lsh_pairs, the contaminated ids, and dedup_keep over the clean
    train docs."""
    from etl_data_processor_spark.ops.dedup import lsh_verified_pairs
    from etl_data_processor_spark.ops.graph import decontaminate_dedup
    from etl_data_processor_spark.queries_north import _lsh_index

    if corpus == "fixture":
        docs = Catalog(spark, sf_dir).documents
        sh, bk = _lsh_index(spark, sf_dir)
    else:
        docs, sh, bk = _hand_index(spark)
    is_bench = F.col("source").isin(_BENCH_SRCS)
    train = docs.filter(~is_bench)
    between = lsh_verified_pairs(
        bk.filter(~is_bench), bk.filter(is_bench), sh, keep=F.lit(True)
    ).collect()
    within = minhash_lsh_pairs(
        train, threshold=0.8,
        shingled=sh.filter(~is_bench), buckets=bk.filter(~is_bench),
    ).collect()
    contaminated = {r["id_a"] for r in between}
    clean = docs.filter(~is_bench & ~F.col("doc_id").isin(sorted(contaminated)))
    clean_ids = clean.select("doc_id")
    kept = dedup_keep(
        clean, threshold=0.8,
        shingled=sh.join(clean_ids, "doc_id", "left_semi"),
        buckets=bk.join(clean_ids, "doc_id", "left_semi"),
    )
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}

    pairs, got_contaminated, got_kept = decontaminate_dedup(
        docs, sh, bk, _BENCH_SRCS, threshold=0.8
    )
    assert {
        (r["id_a"], r["id_b"], r["jaccard"]) for r in pairs.collect()
    } == {
        (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]), r["jaccard"])
        for r in between
    } | {(r["id_a"], r["id_b"], r["jaccard"]) for r in within}
    assert {r["doc_id"] for r in got_contaminated.collect()} == contaminated
    assert {r["doc_id"] for r in got_kept.select("doc_id").collect()} == kept_ids
    if corpus == "hand_built":
        assert contaminated == {1, 4, 7}
        assert kept_ids == {2, 5, 8, 9}


def test_corpus_pipeline_caches_only_the_lsh_artifacts(spark, sf_dir):
    """q_corpus_pipeline leaves no cached plan of its own behind: after
    clearCache() and two runs, the CacheManager holds the session's two
    LSH artifact frames and nothing else."""
    import __spark_entry__ as entry
    from etl_data_processor_spark.queries_north import _lsh_index

    spark.catalog.clearCache()
    for _ in range(2):
        entry.queries()["q_corpus_pipeline"](spark, sf_dir).collect()
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    assert field.get(cm).size() == 2
    assert all(f.storageLevel.useMemory for f in _lsh_index(spark, sf_dir))
