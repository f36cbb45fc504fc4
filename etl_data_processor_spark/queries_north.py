"""North-star operator queries: dedup, similarity, text analysis, multimodal,
batch enrichment, UDF surface, as-of/range joins, streaming-shaped windows.

Same oracle rules as queries.py. Engine-stability notes:
- vector math is fixed-point quantized (ops.similarity) — bit-identical
  across engines;
- LSH/MinHash queries output exact-verified results, so the approximation
  only affects recall; the fixtures' planted near-dups (Jaccard ≥ 0.9, clean
  gap below 0.8) put miss probability below 1e-7, making the exact all-pairs
  oracle safe;
- xxhash64-based queries (fingerprints, SimHash) are rows-only: DuckDB
  cannot reproduce Spark's hash, and the values ARE the semantics.
"""

from __future__ import annotations

import json

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from etl_data_processor_spark.registry import q, cat as _cat
from etl_data_processor_spark.ops import dedup as D
from etl_data_processor_spark.ops import similarity as SIM
from etl_data_processor_spark.ops import text as T
from etl_data_processor_spark.ops import multimodal as MM
from etl_data_processor_spark.ops.asof import asof_join_backward
from etl_data_processor_spark.ops.enrich import batch_enrich, deterministic_stub_client
from etl_data_processor_spark.ops.exact import dsum

# DuckDB fragment: word 3-gram distinct shingles of `text` given w = split
_DUCK_SHINGLES = "list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)])"

# Exact prefix-filtering candidate generation (Bayardo et al., "Scaling Up
# All Pairs Similarity Search", WWW'07): under ANY global token order, two
# shingle sets with Jaccard >= t MUST share a token inside each other's
# first |X| - ceil(t*|X|) + 1 sorted shingles (the minimum common element
# has at most |X| - |A∩B| elements before it, and |A∩B| >= ceil(t*|X|)).
# So joining the sorted-prefix inverted index is an EXACT candidate
# generator — it replaces the quadratic `sh a JOIN sh b ON a.doc_id <
# b.doc_id` all-pairs oracle (super-linear in DuckDB, >32 min at sf0.1;
# VERDICT r3 item 1) with a near-linear one, and the Jaccard verify then
# runs only on candidates. ceil(t*n) is computed in INTEGER arithmetic
# ((8n+9)//10 for t=0.8) so no float rounding can shrink a prefix.
_DUCK_PREFIX_LEN = "len(ss) - (8 * len(ss) + 9) // 10 + 1"


def _duck_prefix(name: str, src: str) -> str:
    """CTE fragment: sorted-prefix inverted index of shingle CTE ``src``
    (columns doc_id, ss) for Jaccard threshold 0.8."""
    return f"""
    {name} AS (
        SELECT doc_id,
               UNNEST(list_slice(list_sort(ss), 1, {_DUCK_PREFIX_LEN})) AS tok
        FROM {src}
    )"""
# DuckDB fragment: fixed-point quantized embedding (matches ops.similarity._quantize)
_DUCK_QVEC = "list_transform({col}, x -> CAST(FLOOR(CAST(x AS DOUBLE)*10000000.0+0.5) AS BIGINT))"


# =====================================================================
# Dedup family (B22 + north star)
# =====================================================================

@q(
    "q_dedup_exact",
    """
    SELECT doc_id, n_copies FROM (
        SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        FROM (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
              FROM documents)
        GROUP BY norm
    )
    """,
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup by normalized text: keep min id + copy count (A13
    generalized; at scale the groupBy key becomes the text's xxhash64)."""
    return D.exact_dedup(_cat(spark, sf_dir).documents)


@q(
    "q_dedup_minhash",
    f"""
    WITH sh AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS ss
        FROM (SELECT doc_id, string_split(text, ' ') w FROM documents)
    ),{_duck_prefix("pref", "sh")},
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           ROUND(len(list_intersect(a.ss, b.ss))::DOUBLE
                 / len(list_distinct(list_concat(a.ss, b.ss))), 4) AS jaccard
    FROM cand c
    JOIN sh a ON a.doc_id = c.id_a
    JOIN sh b ON b.doc_id = c.id_b
    WHERE len(list_intersect(a.ss, b.ss))::DOUBLE
          / len(list_distinct(list_concat(a.ss, b.ss))) >= 0.8
    """,
)
def q_dedup_minhash(spark, sf_dir):
    """MinHash+LSH near-dup pairs, exact-verified (threshold 0.8). The
    oracle is EXACT Jaccard over prefix-filtered candidates (Bayardo
    AllPairs — provably complete at the threshold, near-linear in DuckDB,
    so it value-verifies at sf0.1 too) — valid because verified-LSH has
    perfect precision and ~1-1e-7 recall on the fixture's ≥0.9-Jaccard
    dup pairs."""
    sh, bk = _lsh_index(spark, sf_dir)
    return D.minhash_lsh_pairs(
        _cat(spark, sf_dir).documents, threshold=0.8, shingled=sh, buckets=bk
    )


def _lsh_index(spark, sf_dir):
    """The session's shared LSH index over the documents corpus: cached
    (doc_id, source, shingles) + (doc_id, source, band, sig) frames —
    computed ONCE per session and sliced by every dedup-family query
    (self-pairs, cluster resolution, decontamination, incremental). This is
    the persisted-signature-table production shape (ops.dedup.cached_df):
    a 100 TB pipeline writes both frames as tables next to the corpus and
    every downstream job reads them instead of re-shingling 100 TB. The
    ``source`` column rides along so bipartite slices (train/bench) are
    plain filters — no id-membership joins, no second signature pass."""
    docs = _cat(spark, sf_dir).documents

    def build_sh():
        return D.with_shingles(
            D._parallelize(docs.select("doc_id", "source", "text"))
        ).select("doc_id", "source", "shingles")

    def delta_sh(files):
        # per-file re-derivation for APPEND-ONLY corpus growth: shingles
        # are a per-row function, so new-files-only is exactly the delta
        return D.with_shingles(
            D._parallelize(
                spark.read.parquet(*files).select("doc_id", "source", "text")
            )
        ).select("doc_id", "source", "shingles")

    # the corpus-content signature in the key means a REGENERATED fixture
    # at the same path rebuilds the artifacts instead of serving stale
    # ones — and when the change is append-only, the rebuild is
    # ancestor-UNION-delta (cached_df's family/delta_builder path), never
    # a corpus re-shingle
    src_path = f"{sf_dir}/documents.parquet"
    src = D.source_signature(src_path)
    sh = D.cached_df(
        spark, (sf_dir, "lsh_shingles", src), build_sh, materialize=True,
        sources=(src_path,),
        family=f"{sf_dir}:lsh_shingles",
        delta_builder=delta_sh,
    )
    bk = D.cached_df(
        spark,
        (sf_dir, "lsh_buckets", src),
        lambda: D.minhash_band_buckets(sh, carry_cols=["source"]),
        materialize=True,
        sources=(src_path,),
        family=f"{sf_dir}:lsh_buckets",
        delta_builder=lambda files: D.minhash_band_buckets(
            delta_sh(files), carry_cols=["source"]
        ),
    )
    return sh, bk


@q(
    "q_dedup_ngram",
    f"""
    WITH sh AS (
        SELECT doc_id, source, {_DUCK_SHINGLES} AS ss
        FROM (SELECT doc_id, source, string_split(text, ' ') w FROM documents)
    ),
    -- prefix filter at t=0.5 WITHIN each source block (ceil(n/2) = (n+1)//2,
    -- prefix = n - (n+1)//2 + 1): complete at the threshold, so the
    -- within-block all-pairs join (quadratic per block — minutes at sf0.1)
    -- shrinks to shared-prefix-token candidates
    pref AS (
        SELECT doc_id, source,
               UNNEST(list_slice(list_sort(ss), 1,
                                 len(ss) - (len(ss) + 1) // 2 + 1)) AS tok
        FROM sh
    ),
    cand AS (
        SELECT DISTINCT a.source, a.doc_id AS id_a, b.doc_id AS id_b
        FROM pref a JOIN pref b
          ON a.source = b.source AND a.tok = b.tok AND a.doc_id < b.doc_id
    )
    SELECT c.source, c.id_a, c.id_b,
           ROUND(len(list_intersect(a.ss, b.ss))::DOUBLE
                 / len(list_distinct(list_concat(a.ss, b.ss))), 4) AS jaccard
    FROM cand c
    JOIN sh a ON a.doc_id = c.id_a
    JOIN sh b ON b.doc_id = c.id_b
    WHERE len(list_intersect(a.ss, b.ss))::DOUBLE
          / len(list_distinct(list_concat(a.ss, b.ss))) >= 0.5
    """,
)
def q_dedup_ngram(spark, sf_dir):
    """Exact n-gram Jaccard pairs within a blocking key (source) — the
    bounded-quadratic exact counterpart of the LSH path. Reads the
    session's persisted shingle artifact (same word-3-gram derivation)
    instead of re-shingling the corpus."""
    sh, _ = _lsh_index(spark, sf_dir)
    return D.ngram_jaccard_pairs_blocked(
        _cat(spark, sf_dir).documents, block_cols=["source"], threshold=0.5,
        shingled=sh,
    )


_BENCH_SOURCES = "('src0','src1','src2','src3')"


@q(
    "q_decontaminate",
    f"""
    WITH sh AS (
        SELECT doc_id, source, {_DUCK_SHINGLES} AS ss
        FROM (SELECT doc_id, source, string_split(text, ' ') w FROM documents)
    ),
    bench AS (SELECT * FROM sh WHERE source IN {_BENCH_SOURCES}),
    train AS (SELECT * FROM sh WHERE source NOT IN {_BENCH_SOURCES}),
    {_duck_prefix("pref_t", "train").lstrip()},{_duck_prefix("pref_b", "bench")},
    cand AS (
        SELECT DISTINCT t.doc_id AS tid, b.doc_id AS bid
        FROM pref_t t JOIN pref_b b ON t.tok = b.tok
    ),
    bad AS (
        SELECT DISTINCT c.tid AS doc_id
        FROM cand c
        JOIN train t ON t.doc_id = c.tid
        JOIN bench b ON b.doc_id = c.bid
        WHERE len(list_intersect(t.ss, b.ss))::DOUBLE
              / len(list_distinct(list_concat(t.ss, b.ss))) >= 0.8
    )
    SELECT d.doc_id, d.source FROM documents d
    WHERE d.source NOT IN {_BENCH_SOURCES}
      AND d.doc_id NOT IN (SELECT doc_id FROM bad)
    """,
)
def q_decontaminate(spark, sf_dir):
    """Train-vs-benchmark decontamination: drop every train doc that
    near-duplicates ANY benchmark doc, via one bucket join between the
    train and benchmark slices of the session's LSH index (neither corpus
    self-joins; the contaminated-id set is benchmark-bounded, so the
    final anti-join broadcasts and the train corpus never shuffles). The
    oracle is the exact cross-corpus Jaccard join — same recall argument
    as q_dedup_minhash."""
    d = _cat(spark, sf_dir).documents
    bench_srcs = ["src0", "src1", "src2", "src3"]
    train = d.filter(~F.col("source").isin(bench_srcs))
    # bipartite slices of the session's shared signature index — plain
    # filters on the carried source column, no re-shingle, no re-sign
    sh, bk = _lsh_index(spark, sf_dir)
    is_bench = F.col("source").isin(bench_srcs)
    pairs = D.lsh_verified_pairs(
        bk.filter(~is_bench), bk.filter(is_bench), sh, keep=F.lit(True)
    )
    contaminated = pairs.select(F.col("id_a").alias("doc_id")).distinct()
    return train.join(F.broadcast(contaminated), "doc_id", "left_anti").select(
        "doc_id", "source"
    )


def _duck_cc_closure(n_rounds: int = 8) -> str:
    """Unrolled connected-components closure over an ``edges``(src, dst)
    CTE (symmetric) → ``labels``(node, component), component = min node
    reachable. Each round takes the min label over {{self}} ∪ neighbors ∪
    label-of-label (POINTER DOUBLING — label chains halve every round, so
    ``n_rounds`` covers component diameters up to ~2^n_rounds). Replaces
    the recursive reachability CTE whose state is Σ|component|² (60-80 s
    per query at sf0.1 in DuckDB); each unrolled round is |V|+2|E| rows,
    so the whole closure is linear. NOT trusted blindly: one extra GUARD
    round runs after the last counted round, and ``labels`` is emptied
    wholesale if ANY node's label still changed — an unconverged closure
    can only ever FAIL the comparison, never silently pass."""
    # AS MATERIALIZED is load-bearing: every round references the previous
    # round three times, and DuckDB's default CTE inlining would expand the
    # plan 3^rounds-fold (observed as a too-many-open-files explosion).
    parts = [
        # snapshot the caller's edges once too — the rounds reference it
        # n_rounds times, and inlining would re-run the whole upstream
        # pair-generation pipeline per round
        "e2 AS MATERIALIZED (SELECT src, dst FROM edges)",
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lab FROM e2)",
    ]
    for k in range(1, n_rounds + 2):  # +1 guard round
        parts.append(f"""
    l{k} AS MATERIALIZED (
        SELECT node, MIN(lab) AS lab FROM (
            SELECT node, lab FROM l{k - 1}
            UNION ALL
            SELECT e.dst AS node, l.lab FROM e2 e
            JOIN l{k - 1} l ON l.node = e.src
            UNION ALL
            SELECT a.node, b.lab FROM l{k - 1} a
            JOIN l{k - 1} b ON b.node = a.lab
        ) GROUP BY node
    )""")
    parts.append(f"""
    labels AS (
        SELECT node, lab AS component FROM l{n_rounds}
        WHERE NOT EXISTS (
            SELECT 1 FROM l{n_rounds + 1} g
            JOIN l{n_rounds} f ON g.node = f.node AND g.lab <> f.lab
        )
    )""")
    return ",".join(parts)


# Shared oracle fragments for the cluster-resolution queries: exact-Jaccard
# near-dup pairs over prefix-filtered candidates (provably complete at the
# 0.8 threshold — see _duck_prefix; valid stand-in for LSH at recall
# ≥ 1-8e-8, see q_dedup_minhash) closed into components by the unrolled
# doubling closure (_duck_cc_closure — linear, guard-protected).
_DUCK_CC = f"""
    sh AS (
        SELECT doc_id, {{shingles}} AS ss
        FROM (SELECT doc_id, string_split(text, ' ') w FROM documents)
    ),{_duck_prefix("pref", "sh")},
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id
    ),
    pairs AS (
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b
        WHERE len(list_intersect(a.ss, b.ss))::DOUBLE
              / len(list_distinct(list_concat(a.ss, b.ss))) >= 0.8
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),{_duck_cc_closure()}
"""


def _pagerank_oracle(iters: int = 5) -> str:
    """Unrolled power-iteration PageRank in DuckDB integer arithmetic —
    exactly mirrors ops/graph.py::pagerank_exact (init/base/damping use
    the same integer divisions, so every intermediate rank is identical)."""
    sql = """
    WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
                   FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    edges AS (SELECT c*2 AS src, s*2+1 AS dst FROM pairs
              UNION ALL SELECT s*2+1 AS src, c*2 AS dst FROM pairs),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    consts AS (SELECT 1000000000000 // COUNT(*) AS init FROM deg),
    it0 AS (SELECT src, init AS rank_q FROM deg, consts)"""
    for k in range(1, iters + 1):
        sql += f""",
    it{k} AS (
      SELECT n.src,
             (15 * c.init) // 100 + (85 * COALESCE(x.s, 0)) // 100 AS rank_q
      FROM deg n CROSS JOIN consts c
      LEFT JOIN (SELECT e.dst AS src, SUM(r.rank_q // d.deg) AS s
                 FROM edges e JOIN it{k - 1} r ON e.src = r.src
                 JOIN deg d ON e.src = d.src
                 GROUP BY e.dst) x ON n.src = x.src)"""
    sql += f"""
    SELECT src AS node, CAST(rank_q AS BIGINT) AS rank_q FROM it{iters}
    ORDER BY rank_q DESC, src LIMIT 20"""
    return sql


@q("q_pagerank", _pagerank_oracle())
def q_pagerank(spark, sf_dir):
    """B49 ext: PageRank over the customer–supplier trade graph (bipartite,
    symmetrized) — the SECOND iterative-graph pattern next to connected
    components, with numeric per-iteration state. All arithmetic is integer
    (rank mass in 1e-12 units, contributions via integer division), so the
    5-iteration result is engine-exact and the oracle is the unrolled SQL
    — no 'approximately equal' escape hatch. Top-20 hubs with
    deterministic (rank, node) tiebreak; each iteration is ONE edge-list
    shuffle + node-sized joins, the same cost shape GraphX/Pregel pays."""
    from etl_data_processor_spark.ops.graph import pagerank_exact

    cat = _cat(spark, sf_dir)
    pairs = (
        cat.lineitem.join(
            cat.orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .select(
            (F.col("o_custkey") * 2).alias("cnode"),
            (F.col("l_suppkey") * 2 + 1).alias("snode"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("cnode").alias("src"), F.col("snode").alias("dst")
    ).unionAll(
        pairs.select(F.col("snode").alias("src"), F.col("cnode").alias("dst"))
    )
    r = pagerank_exact(edges, iters=5)
    return (
        r.orderBy(F.col("rank_q").desc(), F.col("src"))
        .limit(20)
        .select(F.col("src").alias("node"), "rank_q")
    )


@q(
    "q_graph_degrees",
    """
    WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
                   FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    deg AS (SELECT node, kind, COUNT(*) AS degree FROM (
              SELECT c AS node, 'customer' AS kind FROM pairs
              UNION ALL SELECT s AS node, 'supplier' AS kind FROM pairs)
            GROUP BY node, kind)
    SELECT kind, degree, COUNT(*) AS n_nodes
    FROM deg GROUP BY kind, degree
    """,
)
def q_graph_degrees(spark, sf_dir):
    """B49 ext: degree distribution of the customer-supplier trade graph —
    the first thing you compute on any graph (skew detection: a power-law
    tail here is exactly the hot-key signal salted_join exists for). Two
    hash aggregates, both partial+final; no joins beyond the edge build."""
    cat = _cat(spark, sf_dir)
    pairs = (
        cat.lineitem.join(cat.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    nodes = pairs.select(F.col("c").alias("node"), F.lit("customer").alias("kind")).unionAll(
        pairs.select(F.col("s").alias("node"), F.lit("supplier").alias("kind"))
    )
    deg = nodes.groupBy("node", "kind").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("kind", "degree").agg(F.count(F.lit(1)).alias("n_nodes"))


@q(
    "q_graph_triangles",
    """
    WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
                   FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    edges AS (SELECT DISTINCT a.s AS u, b.s AS v
              FROM pairs a JOIN pairs b ON a.c = b.c AND a.s < b.s),
    tri AS (SELECT COUNT(*) AS n_triangles
            FROM edges e1
            JOIN edges e2 ON e1.v = e2.u
            JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v)
    SELECT (SELECT COUNT(DISTINCT u || '/' || v) FROM edges) AS n_edges,
           n_triangles
    FROM tri
    """,
)
def q_graph_triangles(spark, sf_dir):
    """B49 ext: triangle counting — the classic distributed-graph benchmark
    (clustering-coefficient numerator). Graph: supplier co-purchase (two
    suppliers linked iff some customer buys from both) — non-bipartite, so
    triangles exist. Edges oriented low→high id; a triangle is counted ONCE
    as (u<v<w): e(u,v) ⋈ e(v,w) ⋈ e(u,w) — two hash joins on the oriented
    edge list, the standard MapReduce formulation. At scale the orientation
    trick is the load balancer: every wedge is enumerated at its lowest
    vertex, which caps the fan-out of high-degree nodes."""
    cat = _cat(spark, sf_dir)
    pairs = (
        cat.lineitem.join(cat.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    a = pairs.select(F.col("c").alias("jc"), F.col("s").alias("u"))
    b = pairs.select(F.col("c").alias("jc"), F.col("s").alias("v"))
    edges = (
        a.join(b, "jc")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    e1 = edges.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = edges.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = edges.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return n_edges.crossJoin(tri)


@q(
    "q_dedup_clusters",
    "WITH RECURSIVE "
    + _DUCK_CC.format(shingles=_DUCK_SHINGLES)
    + """
    SELECT node AS doc_id, component,
           COUNT(*) OVER (PARTITION BY component) AS cluster_size,
           CAST(node = component AS INTEGER) AS is_canonical
    FROM labels
    """,
)
def q_dedup_clusters(spark, sf_dir):
    """Near-dup pairs resolved into clusters via distributed connected
    components (large-star/small-star) + canonical selection — the
    transitive-closure step every corpus-dedup pipeline needs (A~B, B~C
    must drop two docs even though the A~C pair was never emitted)."""
    from etl_data_processor_spark.ops.graph import dedup_clusters

    sh, bk = _lsh_index(spark, sf_dir)
    return dedup_clusters(
        _cat(spark, sf_dir).documents, threshold=0.8, shingled=sh, buckets=bk
    )


@q(
    "q_dedup_keep",
    "WITH RECURSIVE "
    + _DUCK_CC.format(shingles=_DUCK_SHINGLES)
    + """
    SELECT doc_id, source, lang FROM documents
    WHERE doc_id NOT IN (SELECT node FROM labels WHERE node <> component)
    """,
)
def q_dedup_keep(spark, sf_dir):
    """The kept corpus after cluster dedup: singletons + one canonical doc
    per cluster, via broadcast anti-join (the full corpus never shuffles)."""
    from etl_data_processor_spark.ops.graph import dedup_keep

    sh, bk = _lsh_index(spark, sf_dir)
    return dedup_keep(
        _cat(spark, sf_dir).documents, threshold=0.8, shingled=sh, buckets=bk
    ).select("doc_id", "source", "lang")


@q(
    "q_dedup_best",
    "WITH RECURSIVE "
    + _DUCK_CC.format(shingles=_DUCK_SHINGLES)
    + r""",
    qual AS (
      SELECT doc_id, ROUND(GREATEST(0.0,
          LEAST(length(text)/200.0, 1.0)
          * (length(regexp_replace(text, '[^A-Za-zæøå ]', '', 'g'))::DOUBLE
             / GREATEST(length(text), 1))
          * (1.0 - 4.0 * (length(regexp_replace(text, '[^\.,;:!\?]', '', 'g'))::DOUBLE
                          / GREATEST(length(text), 1)))
      ), 6) AS q
      FROM documents),
    ranked AS (
      SELECT l.node, ROW_NUMBER() OVER (PARTITION BY l.component
                                        ORDER BY qu.q DESC, l.node) AS rk
      FROM labels l JOIN qual qu ON qu.doc_id = l.node)
    SELECT d.doc_id, d.source, qu.q AS quality
    FROM documents d JOIN qual qu USING (doc_id)
    WHERE d.doc_id NOT IN (SELECT node FROM ranked WHERE rk > 1)
    """,
)
def q_dedup_best(spark, sf_dir):
    """B49/B22 ext: cluster dedup with a QUALITY-BASED canonical policy —
    keep the highest-quality member of each near-dup cluster (ties →
    lowest doc_id), not the lowest id. When a cluster mixes a clean
    original with a mangled copy, min-id keeps whichever crawled first;
    this keeps the best one — the curation-grade choice. Both engines
    order by the identical rounded-double quality (q_text_quality proves
    bit-equality), so the selection is exact. Same scale shape as
    q_dedup_keep: drop set broadcasts, corpus never shuffles."""
    from etl_data_processor_spark.ops.graph import dedup_keep_best

    d = _cat(spark, sf_dir).documents
    sh, bk = _lsh_index(spark, sf_dir)
    kept = dedup_keep_best(
        d, score=T.quality_score(F.col("text")), threshold=0.8,
        shingled=sh, buckets=bk,
    )
    return kept.select(
        "doc_id", "source", T.quality_score(F.col("text")).alias("quality")
    )


@q("q_dedup_simhash")  # rows-only: xxhash64 signatures aren't reproducible in DuckDB
def q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup candidates (hamming <= 8 over 64-bit signatures).
    Blocking is pigeonhole-complete (max_hamming + 1 = 9 bands of 7-8
    bits, the Manku '07 block rule), so recall at the declared radius is
    GUARANTEED — the old 4 x 16-bit banding only guaranteed h <= 3 and
    measured 41% recall at h <= 8 (found and fixed round 7). Semantics
    unit-tested in tests/test_dedup.py (lossless differential pin)."""
    return D.simhash_pairs(_cat(spark, sf_dir).documents)


# =====================================================================
# Similarity search (B32/B33 + north star)
# =====================================================================

_COSINE_ORACLE = f"""
WITH qv AS (
    SELECT vec_id AS query_id, {_DUCK_QVEC.format(col='embedding')} AS qe
    FROM embeddings WHERE vec_id IN (0, 1, 2)
),
cv AS (
    SELECT vec_id, {_DUCK_QVEC.format(col='embedding')} AS ce FROM embeddings
),
scored AS (
    SELECT qv.query_id, cv.vec_id,
           CAST(SUM(cv.ce[i] * qv.qe[i]) AS DOUBLE) AS dot,
           CAST(SUM(cv.ce[i] * cv.ce[i]) AS DOUBLE) AS cc,
           CAST(SUM(qv.qe[i] * qv.qe[i]) AS DOUBLE) AS qq
    FROM cv, qv, range(1, 65) t(i)
    WHERE cv.vec_id <> qv.query_id
    GROUP BY qv.query_id, cv.vec_id
),
ranked AS (
    SELECT query_id, vec_id,
           CAST(FLOOR((dot / (SQRT(cc) * SQRT(qq))) * 1000000.0 + 0.5) AS DOUBLE)
               / 1000000.0 AS cosine,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY CAST(FLOOR((dot / (SQRT(cc) * SQRT(qq))) * 1000000.0 + 0.5) AS DOUBLE) DESC,
                        vec_id ASC
           ) AS INTEGER) AS rank
    FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 10
"""


@q("q_cosine_topk", _COSINE_ORACLE)
def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 for 3 query vectors — the exact ANN
    baseline. Fixed-point scoring makes the doubles engine-identical."""
    emb = _cat(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id").isin([0, 1, 2]))
    return SIM.cosine_topk_exact(emb, queries, k=10)


@q(
    "q_emb_centroids",
    f"""
    WITH cv AS (
        SELECT label, {_DUCK_QVEC.format(col='embedding')} AS ce FROM embeddings
    ),
    e AS (
        SELECT label, UNNEST(ce) AS qv, UNNEST(range(len(ce))) AS pos FROM cv
    )
    SELECT label, CAST(pos AS INT) AS pos,
           CAST(FLOOR(((CAST(SUM(qv) AS DOUBLE) / 10000000.0) / COUNT(*))
                      * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS centroid
    FROM e GROUP BY label, pos
    """,
)
def q_emb_centroids(spark, sf_dir):
    """North star (B32 ext): per-label embedding centroids — the cluster
    statistics step of every embedding pipeline (k-means stats, class
    prototypes, drift monitoring). posexplode fans each vector into
    (pos, component), one partial+final hash agg computes all 64 dims of
    all labels in a single shuffle. Components are fixed-point-quantized
    int64 (ops/similarity.py) so the sum is EXACT and order-independent;
    the final divide runs on identical operands in both engines. The int64
    running sum bounds corpus size at ~1e11 rows per (label,pos) before
    overflow — switch the sum to DECIMAL(38,0) beyond that."""
    e = _cat(spark, sf_dir).embeddings
    ex = e.select(
        "label",
        F.posexplode(SIM._quantize(F.col("embedding"))).alias("pos", "qv"),
    )
    agg = ex.groupBy("label", "pos").agg(
        F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n")
    )
    c = (F.col("s").cast("double") / F.lit(10000000.0)) / F.col("n")
    return agg.select("label", "pos", SIM.stable_round6(c).alias("centroid"))


@q("q_cosine_lsh")  # rows-only: LSH bucketing is approximate by design
def q_cosine_lsh(spark, sf_dir):
    """Random-hyperplane LSH cosine top-k, AND-OR construction (2 tables ×
    8 planes) with query-directed multi-probe (4 probes/table) — the 100 TB
    scale path (bucket equi-join instead of cross product; tables are the
    corpus-cost recall lever, probes the broadcast-side one). Planted
    strong-similarity recall and probe monotonicity are asserted in
    tests/test_dedup_similarity.py."""
    emb = _cat(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id").isin([0, 1, 2]))
    return SIM.lsh_cosine_topk(emb, queries, k=10, n_probes=4, n_tables=2)


@q(
    "q_emb_near_dup",
    f"""
    WITH cv AS (
        SELECT vec_id, label, {_DUCK_QVEC.format(col='embedding')} AS ce FROM embeddings
    ),
    scored AS (
        SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
               CAST(SUM(a.ce[i] * b.ce[i]) AS DOUBLE) AS dot,
               CAST(SUM(a.ce[i] * a.ce[i]) AS DOUBLE) AS aa,
               CAST(SUM(b.ce[i] * b.ce[i]) AS DOUBLE) AS bb
        FROM cv a JOIN cv b ON a.label = b.label AND a.vec_id < b.vec_id,
             range(1, 65) t(i)
        GROUP BY a.label, a.vec_id, b.vec_id
    )
    SELECT label, id_a, id_b,
           CAST(FLOOR((dot / (SQRT(aa) * SQRT(bb))) * 1000000.0 + 0.5) AS DOUBLE)
               / 1000000.0 AS cosine
    FROM scored
    WHERE CAST(FLOOR((dot / (SQRT(aa) * SQRT(bb))) * 1000000.0 + 0.5) AS DOUBLE)
          / 1000000.0 >= 0.3
    """,
)
def q_emb_near_dup(spark, sf_dir):
    """Embedding near-dup pairs, exact within a label block."""
    emb = _cat(spark, sf_dir).embeddings
    a = emb.select("label", F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select("label", F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    pairs = a.join(b, "label").filter(F.col("id_a") < F.col("id_b"))
    # the join key has only ~10 distinct labels -> <=10 busy partitions; fan
    # the scoring work back out to full parallelism before the vector fold
    pairs = pairs.repartition(spark.sparkContext.defaultParallelism)
    return (
        pairs.withColumn("cosine", SIM.dec_cosine(F.col("ea"), F.col("eb")))
        .filter(F.col("cosine") >= 0.3)
        .select("label", "id_a", "id_b", "cosine")
    )


# =====================================================================
# Text analysis (B31 + north star)
# =====================================================================

@q(
    "q_text_tokens",
    r"""
    SELECT doc_id,
           len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                           x -> x <> '')) AS n_tokens,
           len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])')) AS n_bpe_ish
    FROM documents
    """,
)
def q_text_tokens(spark, sf_dir):
    """Token counting: whitespace tokens + BPE-ish regex chunks."""
    d = _cat(spark, sf_dir).documents
    return d.select(
        "doc_id",
        T.token_count(F.col("text")).cast("long").alias("n_tokens"),
        T.bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe_ish"),
    )


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+\d[\d ]{6,}\d"
_PII_IP = r"\b(\d{1,3}\.){3}\d{1,3}\b"


@q(
    "q_text_pii_scrub",
    f"""
    WITH p AS (
      SELECT doc_id,
             substring(text, 1, 40) || ' contact user' ||
             CAST(doc_id AS VARCHAR) ||
             '@example.com or +45 12 34 5678 from 10.0.' ||
             CAST(doc_id % 256 AS VARCHAR) || '.7 end' AS t
      FROM documents),
    s AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(t,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IP}', '<IP>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g') AS scrubbed
      FROM p)
    SELECT doc_id, scrubbed,
           CASE WHEN NOT regexp_matches(scrubbed, '{_PII_EMAIL}')
                 AND NOT regexp_matches(scrubbed, '{_PII_PHONE}')
                 AND NOT regexp_matches(scrubbed, '{_PII_IP}')
                THEN 1 ELSE 0 END AS clean
    FROM s
    """,
)
def q_text_pii_scrub(spark, sf_dir):
    """North star (B31 ext): PII redaction — the corpus-scrubbing pass every
    training pipeline runs before anything else. The fixture text carries no
    real PII, so the query PLANTS a deterministic email/phone/IP per doc,
    scrubs with ops/text.py::scrub_pii (chained regexp_replace, RE2-safe so
    the redaction rule is engine-portable), and emits a per-row ``clean``
    self-check that must be 1 everywhere — the oracle proves both the
    redacted text and the no-residual property exactly."""
    d = _cat(spark, sf_dir).documents
    planted = F.concat(
        F.substring(F.col("text"), 1, 40),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +45 12 34 5678 from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 end"),
    )
    scrubbed = T.scrub_pii(planted)
    clean = (
        ~scrubbed.rlike(_PII_EMAIL)
        & ~scrubbed.rlike(_PII_PHONE)
        & ~scrubbed.rlike(_PII_IP)
    )
    return d.select(
        "doc_id", scrubbed.alias("scrubbed"), clean.cast("int").alias("clean")
    )


@q(
    "q_pack_sequences",
    r"""
    WITH t AS (SELECT source, doc_id,
                      len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                      x -> x <> '')) AS n_tok
               FROM documents),
         c AS (SELECT source, doc_id, n_tok,
                      SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) AS cum
               FROM t)
    SELECT source, CAST((cum - n_tok) // 2048 AS BIGINT) AS seq,
           COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS sum_tok
    FROM c GROUP BY source, seq
    """,
)
def q_pack_sequences(spark, sf_dir):
    """North star (B31 ext): concatenate-and-cut sequence packing — docs are
    laid head-to-tail per source in deterministic doc_id order and cut every
    2048 tokens; a doc belongs to the bin where it starts. This is the
    pretraining packing shape (maximal fill, no padding wasted). The bin id
    is pure integer arithmetic on the running sum — reproducible on any
    engine, any partitioning. Scale shape (VERDICT r7 item 1): the running
    sum routes through ops/prefix.chunked_cumsum with
    series_cols=["source"] — a plain `SUM OVER (PARTITION BY source ORDER
    BY doc_id)` single-tasks each source's whole corpus slice (~20 sources
    at 100 TB = 20 tasks sorting ~5 TB each); equi-depth doc_id boundaries
    give monotone, scale-invariant chunks (offsets frame <= sources x 33
    rows). The plain window survives as the DuckDB oracle cross-check.
    Returns per-bin doc and token counts (the fill-efficiency audit)."""
    from etl_data_processor_spark.ops.prefix import (
        chunked_cumsum,
        equidepth_chunk,
    )

    d = _cat(spark, sf_dir).documents
    n_tok = T.token_count(F.col("text")).cast("long")
    base = d.select("source", "doc_id", n_tok.alias("n_tok"))
    b, chunk = equidepth_chunk(base, "doc_id")
    c = chunked_cumsum(
        b,
        series_cols=["source"],
        order_cols=["doc_id"],
        val_col="n_tok",
        chunk_col=chunk,
        out_col="cum",
    )
    return (
        c.withColumn("seq", F.expr("(cum - n_tok) div 2048"))
        .groupBy("source", "seq")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("sum_tok"),
        )
    )


@q(
    "q_chunk_documents",
    """
    WITH n AS (SELECT doc_id, text,
                      CASE WHEN length(text) <= 500 THEN 1
                           ELSE (length(text) - 500 + 399) // 400 + 1
                      END AS nch
               FROM documents),
         e AS (SELECT doc_id, text,
                      UNNEST(range(0, nch)) AS chunk_id
               FROM n)
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           substring(text, CAST(chunk_id AS INT) * 400 + 1, 500) AS chunk
    FROM e
    """,
)
def q_chunk_documents(spark, sf_dir):
    """North star (B31 ext): overlapping context-window chunking (window 500
    chars, stride 400 → 100 overlap) — the RAG / long-doc splitting op, the
    inverse of q_pack_sequences. ops/text.py::chunk_documents fans out via
    explode(sequence(...)): narrow (no shuffle), and the chunk count is
    integer arithmetic so any engine derives the SAME rows."""
    d = _cat(spark, sf_dir).documents
    return T.chunk_documents(d.select("doc_id", "text")).select(
        "doc_id", "chunk_id", "chunk"
    )


@q(
    "q_text_topterms",
    """
    SELECT token, COUNT(*) AS tf FROM (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ) GROUP BY token
    QUALIFY ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token ASC) <= 20
    """,
)
def q_text_topterms(spark, sf_dir):
    """Global top-20 terms by frequency (explode -> partial+final hash agg ->
    TakeOrdered)."""
    tc = T.term_counts(_cat(spark, sf_dir).documents)
    return tc.orderBy(F.desc("tf"), F.asc("token")).limit(20)


@q(
    "q_text_quality",
    r"""
    SELECT doc_id, ROUND(GREATEST(0.0,
        LEAST(length(text)/200.0, 1.0)
        * (length(regexp_replace(text, '[^A-Za-zæøå ]', '', 'g'))::DOUBLE
           / GREATEST(length(text), 1))
        * (1.0 - 4.0 * (length(regexp_replace(text, '[^\.,;:!\?]', '', 'g'))::DOUBLE
                        / GREATEST(length(text), 1)))
    ), 6) AS quality
    FROM documents
    """,
)
def q_text_quality(spark, sf_dir):
    """Heuristic quality score (length/alpha/punctuation ratios)."""
    d = _cat(spark, sf_dir).documents
    return d.select("doc_id", T.quality_score(F.col("text")).alias("quality"))


_LANGID_SQL_LISTS = {
    lang: "[" + ", ".join(f"'{w}'" for w in words) + "]"
    for lang, words in T.STOPWORDS.items()
}

@q(
    "q_text_langid",
    f"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
        FROM documents
    ),
    scores AS (
        SELECT doc_id,
               len(list_filter(tk, t -> list_contains({_LANGID_SQL_LISTS['en']}, t))) AS s_en,
               len(list_filter(tk, t -> list_contains({_LANGID_SQL_LISTS['es']}, t))) AS s_es,
               len(list_filter(tk, t -> list_contains({_LANGID_SQL_LISTS['de']}, t))) AS s_de,
               len(list_filter(tk, t -> list_contains({_LANGID_SQL_LISTS['fr']}, t))) AS s_fr
        FROM toks
    )
    SELECT doc_id, s_en, s_es, s_de, s_fr,
           CASE WHEN s_en = 0 AND s_es = 0 AND s_de = 0 AND s_fr = 0 THEN NULL
                WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                WHEN s_de >= s_fr THEN 'de'
                ELSE 'fr' END AS lang_guess
    FROM scores
    """,
)
def q_text_langid(spark, sf_dir):
    """Heuristic language ID: stopword hit counts per language + first-wins
    argmax (deterministic tie order en > es > de > fr)."""
    d = _cat(spark, sf_dir).documents
    toks = T.tokenize(F.lower(F.col("text")))

    def stopword_hits(words: list[str]):
        lit_words = F.array(*[F.lit(w) for w in words])
        return F.size(
            F.filter(toks, lambda t: F.array_contains(lit_words, t))
        ).cast("long")

    scores = {lang: stopword_hits(words) for lang, words in T.STOPWORDS.items()}
    guess = (
        F.when(
            (scores["en"] == 0) & (scores["es"] == 0) & (scores["de"] == 0) & (scores["fr"] == 0),
            F.lit(None).cast("string"),
        )
        .when(
            (scores["en"] >= scores["es"]) & (scores["en"] >= scores["de"]) & (scores["en"] >= scores["fr"]),
            F.lit("en"),
        )
        .when((scores["es"] >= scores["de"]) & (scores["es"] >= scores["fr"]), F.lit("es"))
        .when(scores["de"] >= scores["fr"], F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return d.select(
        "doc_id",
        scores["en"].alias("s_en"),
        scores["es"].alias("s_es"),
        scores["de"].alias("s_de"),
        scores["fr"].alias("s_fr"),
        guess.alias("lang_guess"),
    )


@q(
    "q_fuzzy_match",
    """
    WITH k AS (SELECT DISTINCT p_name AS key FROM part)
    SELECT a.key AS key_a, b.key AS key_b,
           CAST(levenshtein(a.key, b.key) AS INTEGER) AS dist
    FROM k a JOIN k b ON a.key < b.key
    WHERE levenshtein(a.key, b.key) <= 2
    """,
)
def q_fuzzy_match(spark, sf_dir):
    """Fuzzy key matching (entity resolution): distinct p_name pairs within
    edit distance 2, length-band blocked. The oracle is the NAIVE all-pairs
    form — the differential therefore proves the length band is lossless,
    not just that both engines agree on levenshtein."""
    return T.fuzzy_key_pairs(_cat(spark, sf_dir).part, "p_name", max_dist=2)


@q("q_text_fingerprint")  # rows-only: xxhash64 values aren't reproducible in DuckDB
def q_text_fingerprint(spark, sf_dir):
    """64-bit document fingerprints (normalized-text xxhash64) — the
    scale-out exact-dedup key. Determinism asserted in tests."""
    d = _cat(spark, sf_dir).documents
    return d.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))


# =====================================================================
# Batch enrichment (A13+A14+A15 fused -> B34) + UDF surface (B35)
# =====================================================================

@q(
    "q_batch_map",
    """
    SELECT doc_id,
           upper(split_part(text, ' ', 1)) AS active_ingredient,
           split_part(text, ' ', 2) AS trade_name
    FROM documents
    """,
)
def q_batch_map(spark, sf_dir):
    """B34: the reference's enrichment pipeline shape (main.py:262-305) —
    rows hash-partitioned by text -> one Arrow pass that sends each
    distinct text to the chunked client once, with per-chunk error
    isolation -> miss defaults. Deterministic stub client keeps it
    oracle-checkable; production swaps in an LLM/HTTP client."""
    d = _cat(spark, sf_dir).documents
    schema = StructType(
        [
            StructField("text", StringType()),
            StructField("active_ingredient", StringType()),
            StructField("trade_name", StringType()),
        ]
    )
    enriched = batch_enrich(
        d.select("doc_id", "text"),
        key_col="text",
        result_schema=schema,
        client_factory=lambda: deterministic_stub_client,
        chunk_size=200,
        defaults={
            "active_ingredient": F.upper(F.col("text")),
            "trade_name": F.lit(""),
        },
    )
    return enriched.select("doc_id", "active_ingredient", "trade_name")


@q(
    "q_udf_scalar",
    "SELECT event_id, value * 2.0 + 1.0 AS scaled FROM events",
)
def q_udf_scalar(spark, sf_dir):
    """B35: vectorized scalar pandas_udf (Arrow-batched; IEEE arithmetic so
    results are engine-identical)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(DoubleType())
    def scale(v: pd.Series) -> pd.Series:
        return v * 2.0 + 1.0

    ev = _cat(spark, sf_dir).events
    return ev.select("event_id", scale(F.col("value")).alias("scaled"))


@q(
    "q_apply_in_pandas",
    """
    SELECT user_id, COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
    FROM events GROUP BY user_id
    """,
)
def q_apply_in_pandas(spark, sf_dir):
    """B35: grouped applyInPandas — per-user JSON parse + integer aggregate
    (ints keep it exact; the grouped-map machinery is what's under test)."""
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n", LongType()),
            StructField("sum_k", LongType()),
        ]
    )

    def per_user(pdf: pd.DataFrame) -> pd.DataFrame:
        ks = pdf["props"].map(lambda s: int(json.loads(s)["k"]))
        return pd.DataFrame(
            {"user_id": [pdf["user_id"].iloc[0]], "n": [len(pdf)], "sum_k": [int(ks.sum())]}
        )

    ev = _cat(spark, sf_dir).events
    return ev.select("user_id", "props").groupBy("user_id").applyInPandas(per_user, schema)


# =====================================================================
# As-of + range joins (B9/B10)
# =====================================================================

@q(
    "q_join_asof",
    """
    SELECT p.event_id,
           (SELECT b.value FROM events b
            WHERE b.user_id = p.user_id AND b.event_type = 'click' AND b.ts <= p.ts
            ORDER BY b.ts DESC, b.event_id DESC LIMIT 1) AS value_asof
    FROM events p WHERE p.event_type = 'purchase'
    """,
)
def q_join_asof(spark, sf_dir):
    """B10: backward as-of join — each purchase gets the latest prior click's
    value per user (union + last_value window: one shuffle, no per-row
    lookups)."""
    ev = _cat(spark, sf_dir).events
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    joined = asof_join_backward(
        purchases, clicks, key="user_id", ts="ts", value_cols=["value"], tiebreak="event_id"
    )
    return joined.select("event_id", F.col("value_asof"))


@q(
    "q_join_asof_fwd",
    """
    SELECT p.event_id,
           (SELECT b.value FROM events b
            WHERE b.user_id = p.user_id AND b.event_type = 'click' AND b.ts >= p.ts
            ORDER BY b.ts ASC, b.event_id ASC LIMIT 1) AS value_next
    FROM events p WHERE p.event_type = 'purchase'
    """,
)
def q_join_asof_fwd(spark, sf_dir):
    """B10 mirror: forward as-of join — each purchase gets the EARLIEST
    at-or-after click's value per user (union + first-value forward window:
    same one-shuffle shape as backward)."""
    ev = _cat(spark, sf_dir).events
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    from etl_data_processor_spark.ops.asof import asof_join_forward

    joined = asof_join_forward(
        purchases, clicks, key="user_id", ts="ts", value_cols=["value"], tiebreak="event_id"
    )
    return joined.select("event_id", F.col("value_next"))


@q(
    "q_join_range",
    """
    SELECT a.event_id AS signup_id, b.event_id AS purchase_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts
     AND b.ts <= a.ts + INTERVAL 30 MINUTE
    WHERE a.event_type = 'signup' AND b.event_type = 'purchase'
    """,
)
def q_join_range(spark, sf_dir):
    """B9: band/range join — purchases within 30 min after a signup, same
    user. Planned as a hash join on user_id + band filter."""
    ev = _cat(spark, sf_dir).events
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"), F.col("user_id"), F.col("ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
    )
    joined = signups.alias("a").join(
        purchases.alias("b"),
        (F.col("a.user_id") == F.col("b.p_user_id"))
        & (F.col("b.p_ts") >= F.col("a.ts"))
        & (F.col("b.p_ts") <= F.col("a.ts") + F.expr("INTERVAL 30 MINUTE")),
    )
    return joined.select("signup_id", "purchase_id")


# =====================================================================
# Approx aggregates (B13) — rows-only (nondeterministic across engines)
# =====================================================================

@q("q_agg_approx")
def q_agg_approx(spark, sf_dir):
    """B13: HLL++ approx_count_distinct + approximate median. Accuracy
    bounds asserted in tests against exact values."""
    ev = _cat(spark, sf_dir).events
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.percentile_approx("value", 0.5).alias("approx_median_value"),
    )


# =====================================================================
# Streaming-shaped windows (B36-B37) — the batch form is oracle-checked
# =====================================================================

@q(
    "q_stream_tumbling",
    """
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start,
           time_bucket(INTERVAL '10 minutes', ts) + INTERVAL 10 MINUTE AS win_end,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark, sf_dir):
    """B36: tumbling window aggregate — the same window() grouping runs
    unchanged over a readStream (tests/test_streaming.py)."""
    return (
        _cat(spark, sf_dir).events
        .groupBy(F.window("ts", "10 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", 2).alias("sum_value"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "n",
            "sum_value",
        )
    )


@q(
    "q_stream_sliding",
    """
    WITH b AS (SELECT time_bucket(INTERVAL '5 minutes', ts) AS bk FROM events),
    w AS (
        SELECT bk AS ws FROM b
        UNION ALL
        SELECT bk - INTERVAL 5 MINUTE FROM b
    )
    SELECT ws AS win_start, ws + INTERVAL 10 MINUTE AS win_end, COUNT(*) AS n
    FROM w GROUP BY 1, 2
    """,
)
def q_stream_sliding(spark, sf_dir):
    """B36: sliding window (10 min / 5 min) — every event lands in two
    windows."""
    return (
        _cat(spark, sf_dir).events
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "n",
        )
    )


@q(
    "q_stream_session",
    """
    WITH lagged AS (
        SELECT user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        FROM events
    ),
    flags AS (
        SELECT user_id, ts,
               CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 5 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM lagged
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM flags
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n
    FROM sess GROUP BY user_id, sid
    """,
)
def q_stream_session(spark, sf_dir):
    """B37: session windows (5-min gap) per user — batch session_window
    equals the gaps-and-islands SQL. session_window's end extends the gap
    past the last event, so only the start is oracle-comparable."""
    return (
        _cat(spark, sf_dir).events
        .groupBy(F.session_window("ts", "5 minutes").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("win.start").alias("session_start"), "n")
    )


# =====================================================================
# Multimodal columns (B33) — binary blobs + Arrow-batched feature extraction
# =====================================================================

@q(
    "q_multimodal_features",
    """
    SELECT doc_id,
           length(text) AS n_bytes,
           CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS first_byte,
           CAST(ascii(substr(text, length(text), 1)) AS BIGINT) AS last_byte,
           lower(hex(encode(substr(text, 1, 4)))) AS head_hex
    FROM documents
    """,
)
def q_multimodal_features(spark, sf_dir):
    """B33: binary blob columns + mapInPandas feature extraction. The blob is
    UTF-8 text here (no codecs in this container: decode_image is a
    documented NotImplementedError stub) but the Spark plumbing — binary
    schema, Arrow batching, struct output — is the production shape."""
    d = _cat(spark, sf_dir).documents
    blobs = d.select("doc_id", MM.to_blob(F.col("text")).alias("blob"))
    return MM.fake_feature_extractor(blobs)


# =====================================================================
# Remaining A-series / B28 coverage
# =====================================================================

@q(
    "q_project_rename",
    """
    SELECT split_part(text, ' ', 1) AS "Active Ingredient",
           split_part(text, ' ', 2) AS "Trade Name",
           NULL AS "ATC Code",
           strftime(make_date(1995 + CAST(doc_id % 7 AS INTEGER), 1 + CAST(doc_id % 12 AS INTEGER), 1 + CAST(doc_id % 28 AS INTEGER)), '%Y-%m-%d') AS "Decision Date",
           lang AS "Indication"
    FROM documents
    """,
)
def q_project_rename(spark, sf_dir):
    """A16 (main.py:307-327): rename to display names + backfill missing
    columns as NULL + fixed-order projection — the reference's output-schema
    imposition, incl. a synthesized YYYY-MM-DD date string (A9 output form)."""
    d = _cat(spark, sf_dir).documents
    parts = F.split(F.col("text"), " ", 3)
    decision_date = F.date_format(
        F.make_date(
            (F.lit(1995) + F.col("doc_id") % 7).cast("int"),
            (F.lit(1) + F.col("doc_id") % 12).cast("int"),
            (F.lit(1) + F.col("doc_id") % 28).cast("int"),
        ),
        "yyyy-MM-dd",
    )
    return d.select(
        parts.getItem(0).alias("Active Ingredient"),
        parts.getItem(1).alias("Trade Name"),
        F.lit(None).cast("int").alias("ATC Code"),
        decision_date.alias("Decision Date"),
        F.col("lang").alias("Indication"),
    )


@q(
    "q_limit",
    """
    SELECT event_id, event_type FROM events ORDER BY event_id LIMIT 25
    """,
)
def q_limit(spark, sf_dir):
    """A18 (main.py:348-349): bounded consumption — the reference's
    early-stop on empty page generalizes to LIMIT (CollectLimit: Spark stops
    consuming partitions once satisfied)."""
    ev = _cat(spark, sf_dir).events
    return ev.select("event_id", "event_type").orderBy("event_id").limit(25)


@q(
    "q_array_explode",
    """
    SELECT vec_id, label, embedding[CAST(i AS INTEGER)] AS component,
           CAST(i - 1 AS BIGINT) AS dim
    FROM embeddings, range(1, 65) t(i)
    WHERE vec_id < 50
    """,
)
def q_array_explode(spark, sf_dir):
    """B28: posexplode over array columns (the unnest shape)."""
    emb = _cat(spark, sf_dir).embeddings.filter(F.col("vec_id") < 50)
    return emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "component")
    ).select("vec_id", "label", "component", F.col("dim").cast("long").alias("dim"))


@q(
    "q_array_agg",
    """
    SELECT label,
           COUNT(*) AS n,
           CAST(MIN(len(embedding)) AS BIGINT) AS min_dim,
           CAST(MAX(len(embedding)) AS BIGINT) AS max_dim,
           CAST(SUM(CAST(FLOOR(CAST(embedding[1] AS DOUBLE)*10000000.0+0.5) AS BIGINT)) AS BIGINT) AS sum_q_e1
    FROM embeddings GROUP BY label
    """,
)
def q_array_agg(spark, sf_dir):
    """B28: array functions inside aggregates — size() and element_at() with
    the fixed-point quantization (exact cross-engine float handling)."""
    emb = _cat(spark, sf_dir).embeddings
    q_e1 = F.floor(
        F.element_at("embedding", 1).cast("double") * F.lit(10000000.0) + F.lit(0.5)
    )
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.size("embedding")).cast("long").alias("min_dim"),
        F.max(F.size("embedding")).cast("long").alias("max_dim"),
        F.sum(q_e1).alias("sum_q_e1"),
    )


@q(
    "q_udtf",
    r"""
    WITH d AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\s+'),
                           x -> x <> '') AS ws
        FROM documents WHERE doc_id < 10
    )
    SELECT doc_id, ws[CAST(t.i AS INTEGER)] AS token,
           CAST(t.i - 1 AS INTEGER) AS token_index
    FROM d, UNNEST(range(1, len(ws) + 1)) AS t(i)
    """,
)
def q_udtf(spark, sf_dir):
    """B35: Spark 4 user-defined table function — explodes each document
    into (doc_id, token, token_index) rows via a Python UDTF. Oracled
    since round 2. The UDTF tokenizes with an ASCII-\\s+ regex split and
    drops empty tokens — EXACTLY the RE2 semantics the oracle SQL spells
    out (list_filter over regexp_split_to_array), including the edge
    cases str.split() would diverge on: empty/whitespace-only text (zero
    rows both sides) and Unicode whitespace (a non-separator on both
    sides)."""
    import re

    from pyspark.sql.functions import udtf

    _ws = re.compile(r"\s+", re.ASCII)

    @udtf(returnType="doc_id: bigint, token: string, token_index: int")
    class TokenizeUDTF:
        def eval(self, doc_id: int, text: str):
            i = 0
            for tok in _ws.split(text):
                if tok:
                    yield doc_id, tok, i
                    i += 1

    d = _cat(spark, sf_dir).documents.filter(F.col("doc_id") < 10)
    # UDTF invocation via lateral join on the DataFrame API
    spark.udtf.register("tokenize_udtf", TokenizeUDTF)
    d.select("doc_id", "text").createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        "SELECT t.doc_id, t.token, t.token_index "
        "FROM __udtf_docs, LATERAL tokenize_udtf(doc_id, text) t"
    )


# =====================================================================
# Additional relational coverage: pivot, subqueries, SQL passthrough
# =====================================================================

@q(
    "q_pivot",
    """
    SELECT c_mktsegment,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_pivot(spark, sf_dir):
    """Pivot: status columns per market segment (groupBy().pivot() — Spark
    plans it as a single aggregate with conditional counts)."""
    cat = _cat(spark, sf_dir)
    joined = cat.orders.join(cat.customer, F.col("o_custkey") == F.col("c_custkey"))
    pivoted = (
        joined.groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
    )
    return pivoted.select(
        "c_mktsegment",
        F.coalesce(F.col("O"), F.lit(0)).alias("n_open"),
        F.coalesce(F.col("F"), F.lit(0)).alias("n_filled"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_pending"),
    )


@q(
    "q_scalar_subquery",
    """
    SELECT o_orderkey, o_totalprice,
           CAST(o_totalprice > (SELECT AVG(o_totalprice) FROM orders) AS INTEGER) AS above_avg
    FROM orders
    """,
)
def q_scalar_subquery(spark, sf_dir):
    """Scalar subquery: compare each order against the global average
    (Spark plans an uncorrelated scalar subquery as a broadcast one-row
    join). Comparison output is int for cross-engine bool stability."""
    o = _cat(spark, sf_dir).orders
    o.createOrReplaceTempView("__orders_ssq")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice,
               CAST(o_totalprice > (SELECT AVG(o_totalprice) FROM __orders_ssq) AS INT) AS above_avg
        FROM __orders_ssq
        """
    )


@q(
    "q_exists_subquery",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 250000
    )
    """,
)
def q_exists_subquery(spark, sf_dir):
    """Correlated EXISTS via SQL passthrough (Catalyst rewrites it to a
    left-semi join — same plan as q_join_semi's DataFrame form)."""
    cat = _cat(spark, sf_dir)
    cat.customer.createOrReplaceTempView("__cust_esq")
    cat.orders.createOrReplaceTempView("__ord_esq")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM __cust_esq c
        WHERE EXISTS (
            SELECT 1 FROM __ord_esq o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 250000
        )
        """
    )


@q(
    "q_sql_passthrough",
    f"""
    SELECT n.n_name,
           COUNT(DISTINCT c.c_custkey) AS n_customers,
           CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderstatus <> 'P'
    GROUP BY n.n_name
    HAVING COUNT(*) > 10
    """,
)
def q_sql_passthrough(spark, sf_dir):
    """Full SQL surface: the engine accepts ANSI SQL directly over registered
    views (Catalog.register_temp_views) — parse/analyze/optimize by Catalyst."""
    from etl_data_processor_spark.io import Catalog

    Catalog(spark, sf_dir).register_temp_views()
    return spark.sql(
        """
        SELECT n.n_name,
               COUNT(DISTINCT c.c_custkey) AS n_customers,
               CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderstatus <> 'P'
        GROUP BY n.n_name
        HAVING COUNT(*) > 10
        """
    )


def ivf_index_artifact(spark, sf_dir):
    """Train-or-load the IVF model and ensure the persisted IVF-FLAT
    index artifact exists. Returns ``(cents, assigned, key)`` where ``key`` is the
    cached_df artifact key of the (vec_id, embedding, __list) assignment
    table — the list-partitioned index a production deployment
    materializes; the vectors live IN the inverted lists (IVF-Flat), so
    a serving session reads the artifact and never the corpus. Shared
    by q_cosine_ivf (reads through the session cache) and
    q_hybrid_ann_served (reads the artifact RAW so the probed-list
    filter pushes into the parquet scan)."""
    from etl_data_processor_spark.ops.sampling import deterministic_sample

    emb = _cat(spark, sf_dir).embeddings
    # Train on a deterministic hash-sample (how IVF indexes are always
    # trained at scale — centroid quality needs ~O(100) points per list,
    # not the full corpus); assignment then runs over everything. Model
    # state persists in the artifact store so a COLD serving session
    # loads centroids instead of re-running the k-means pass.
    cents = SIM.cached_model(
        spark,
        ("ivf", sf_dir, 16, 2, 0.5),
        lambda: SIM.train_ivf_centroids(
            deterministic_sample(emb, "vec_id", 0.5), n_lists=16, iters=2
        ),
        sources=(f"{sf_dir}/embeddings.parquet",),
    )
    # persisted assignment table (the list-partitioned index artifact a
    # production deployment materializes) — keyed by the model fingerprint
    # so retrained centroids auto-invalidate the on-disk index
    key = (sf_dir, "ivf_assign", SIM.model_fingerprint(cents),
           D.source_signature(f"{sf_dir}/embeddings.parquet"))
    assigned = D.cached_df(
        spark,
        key,
        lambda: SIM.ivf_assign_argmax(
            emb.select("vec_id", "embedding"), cents
        ),
        materialize=True,
        sources=(f"{sf_dir}/embeddings.parquet",),
        # per-row under fixed centroids: append-only growth re-derives
        # only the appended files (VERDICT r5 item 5); the params check
        # refuses ancestors built under another centroid fingerprint
        family=f"{sf_dir}:ivf_assign",
        delta_builder=lambda files: SIM.ivf_assign_argmax(
            spark.read.parquet(*files).select("vec_id", "embedding"), cents
        ),
    )
    return cents, assigned, key


@q("q_cosine_ivf")  # rows-only: IVF probing is approximate by design
def q_cosine_ivf(spark, sf_dir):
    """IVF ANN with k-means-trained centroids (2 deterministic Lloyd
    iterations; inverted lists by nearest centroid, n_probe lists searched
    per query) — the second scale path beside hyperplane LSH. Training is
    bit-deterministic (fixed-point integer means), so the rows-only hash is
    still stable. Score agreement with brute force asserted in tests."""
    emb = _cat(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id").isin([0, 1, 2]))
    cents, assigned, _key = ivf_index_artifact(spark, sf_dir)
    return SIM.ivf_cosine_topk(
        emb, queries, k=10, centroids=cents, assigned=assigned
    )


@q(
    "q_multimodal_frames",
    """
    WITH vid AS (
        SELECT doc_id, lower(hex(encode(text))) AS bh,
               CAST(CEIL(octet_length(encode(text)) / 32.0) AS BIGINT) AS n_frames
        FROM documents WHERE doc_id < 50
    ),
    idx AS (
        SELECT doc_id, bh, n_frames, unnest(range(0, n_frames, 4)) AS frame_idx
        FROM vid
    )
    SELECT doc_id, frame_idx,
           substr(bh, CAST(frame_idx * 64 + 1 AS BIGINT), 64) AS frame_hex,
           n_frames AS n_frames_total
    FROM idx
    """,
)
def q_multimodal_frames(spark, sf_dir):
    """B33: video frame sampling — mapInPandas fan-out (one video row yields
    one row per sampled frame, produced inside the Arrow iterator, not via
    a driver-built array explode). Decode is the documented chunking stub;
    the oracle compares the frame BYTES hex-encoded (DuckDB cannot slice
    blobs, so both engines emit lowercase hex of the same 32-byte frames)."""
    d = _cat(spark, sf_dir).documents.filter(F.col("doc_id") < 50)
    blobs = d.select("doc_id", MM.to_blob(F.col("text")).alias("blob"))
    frames = MM.sample_frames(blobs, every_k=4, frame_size=32)
    return frames.select(
        "doc_id",
        "frame_idx",
        F.lower(F.hex(F.col("frame_blob"))).alias("frame_hex"),
        "n_frames_total",
    )


@q(
    "q_json_variant",
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INTEGER) AS k,
           CAST(json_extract(props, '$.k') AS INTEGER) % 7 AS k_mod
    FROM events
    """,
)
def q_json_variant(spark, sf_dir):
    """B30 extension: Spark 4 VARIANT ingestion — parse_json once into a
    binary-encoded variant column, then typed extraction with
    try_variant_get. At 100 TB this beats per-query get_json_object
    re-parsing: the parse cost is paid once at ingest and every later
    extraction is a cheap path lookup over the encoded form (the same
    argument as shredded/semi-structured storage in the lakehouse
    engines). Oracle: plain JSON extraction — the values must be identical,
    VARIANT is an encoding choice, not a semantics change."""
    ev = _cat(spark, sf_dir).events
    v = ev.select("event_id", F.parse_json("props").alias("v"))
    k = F.try_variant_get("v", "$.k", "int")
    return v.select("event_id", k.alias("k"), (k % 7).alias("k_mod"))


@q(
    "q_lateral_explode",
    """
    SELECT d.doc_id, t.tok
    FROM documents d,
         LATERAL (SELECT unnest(string_split(d.text, ' ')) AS tok) t
    WHERE d.doc_id < 20
    """,
)
def q_lateral_explode(spark, sf_dir):
    """SQL surface: correlated LATERAL subquery in FROM (Spark 4 lateral
    join). Catalyst rewrites the correlated generate into an ordinary
    explode over the outer row — same physical plan as the DataFrame
    explode, so the lateral syntax costs nothing at scale."""
    from etl_data_processor_spark.io import Catalog

    Catalog(spark, sf_dir).register_temp_views()
    return spark.sql(
        """
        SELECT d.doc_id, t.tok
        FROM documents d,
             LATERAL (SELECT explode(split(d.text, ' ')) AS tok) t
        WHERE d.doc_id < 20
        """
    )
