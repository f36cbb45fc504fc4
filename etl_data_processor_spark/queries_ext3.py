"""Round-2 extension batch #3: transactional MERGE into the table format,
multi-source BFS reachability, bloom-pruned joins, exact rolling
correlation — each with a DuckDB oracle.

- table-format MERGE (tableformat.py::merge): CDC batch applied through
  the commit log with stats-based touched-group pruning — the Delta
  MERGE execution model on plain parquet, gate-checked end to end
- multi-source BFS hop distances (ops/graph.py::bfs_hops): frontier
  expansion, oracle = unrolled Bellman-Ford relaxation
- bloom-filter-pruned join (ops/bloom.py): portable no-false-negative
  prefilter, result bit-equal to the plain join
- rolling windowed correlation in EXACT integer moments (the
  q_trend_ols technique applied to a sliding frame)

Reference parity: none of these exist in the reference (main.py:1-422);
north-star scope (SURVEY.md §2 Part B extensions).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_data_processor_spark.io import read_parquet_memo
from etl_data_processor_spark.registry import q, cat as _cat
from etl_data_processor_spark.ops.prefix import (
    chunked_cumsum,
    chunked_rank,
    equidepth_chunk,
    ntile_expr,
)
from etl_data_processor_spark.ops.similarity import stable_round6

from etl_data_processor_spark.queries_ext2 import (  # noqa: E402
    _CENTS_SQL,
    _ROUND6,
    _cents,
)


# =====================================================================
# Transactional MERGE into the log-structured table format
# =====================================================================

@q(
    "q_tableformat_merge",
    """
    WITH cut AS (SELECT MAX(c_custkey) // 3 AS cut,
                        MAX(c_custkey) AS m FROM customer),
    changes AS (
        SELECT c_custkey,
               'MRG#' || CAST(c_custkey AS VARCHAR) AS c_name,
               c_nationkey,
               c_acctbal + 1000.0 AS c_acctbal,
               'MRG_UPD' AS c_mktsegment,
               CASE WHEN c_custkey % 31 = 0 THEN 'D' ELSE 'U' END AS op
        FROM customer, cut WHERE c_custkey % 7 = 0 AND c_custkey <= cut
        UNION ALL
        SELECT c_custkey + m + 1,
               'NEWM#' || CAST(c_custkey AS VARCHAR),
               c_nationkey,
               0.0 AS c_acctbal,
               'MRG_NEW' AS c_mktsegment,
               'I' AS op
        FROM customer, cut WHERE c_custkey % 13 = 0 AND c_custkey <= cut
    )
    SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
           CASE WHEN s.op IS NOT NULL THEN s.c_name ELSE t.c_name END AS c_name,
           CASE WHEN s.op IS NOT NULL THEN s.c_nationkey ELSE t.c_nationkey END AS c_nationkey,
           CASE WHEN s.op IS NOT NULL THEN s.c_acctbal ELSE t.c_acctbal END AS c_acctbal,
           CASE WHEN s.op IS NOT NULL THEN s.c_mktsegment ELSE t.c_mktsegment END AS c_mktsegment
    FROM customer t FULL OUTER JOIN changes s ON t.c_custkey = s.c_custkey
    WHERE s.op IS NULL OR s.op <> 'D'
    """,
)
def q_tableformat_merge(spark, sf_dir):
    """Transactional MERGE INTO the log-structured table format
    (tableformat.py::merge), oracle-gated: the customer table is committed
    as THREE key-range file groups with min/max stats; a CDC batch
    confined to the first key-range third (updates/deletes on %7, inserts
    at max-key + k, above the key space at any SF) is merged through the
    commit log. The merge must
    rewrite EXACTLY ONE of the three groups (stats-pruned copy-on-write —
    asserted in-line), and the oracle recomputes the expected final table
    straight from the fixture with FULL-OUTER MERGE semantics, so the
    gate proves pruning loses no matched row and the commit swaps exactly
    the right data."""
    import shutil
    import tempfile

    from etl_data_processor_spark import tableformat as TF

    c = _cat(spark, sf_dir).customer.select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    m = c.agg(F.max("c_custkey")).collect()[0][0]  # one scalar
    cut = m // 3
    t = tempfile.mkdtemp(prefix="tf_merge_")
    # custkeys start at 0 in the fixture: the first slice is (-1, cut]
    for lo, hi in ((-1, cut), (cut, 2 * cut), (2 * cut, m)):
        TF.append(
            c.filter(
                (F.col("c_custkey") > lo) & (F.col("c_custkey") <= hi)
            ),
            t,
            stats_cols=["c_custkey"],
        )
    first = c.filter(F.col("c_custkey") <= cut)
    updates = first.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.concat(F.lit("MRG#"), F.col("c_custkey").cast("string")).alias(
            "c_name"
        ),
        "c_nationkey",
        (F.col("c_acctbal") + F.lit(1000.0)).alias("c_acctbal"),
        F.lit("MRG_UPD").alias("c_mktsegment"),
        F.when(F.col("c_custkey") % 31 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    # insert keys at m + 1 + k: above every group's recorded range at ANY
    # scale factor (a fixed +1e6 offset collides with real keys and the
    # third group's range once max(c_custkey) ~ 1e6)
    inserts = first.filter(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + F.lit(m + 1)).alias("c_custkey"),
        F.concat(F.lit("NEWM#"), F.col("c_custkey").cast("string")).alias(
            "c_name"
        ),
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        F.lit("MRG_NEW").alias("c_mktsegment"),
        F.lit("I").alias("op"),
    )
    _, rewritten, total = TF.merge(
        spark, t, updates.unionByName(inserts), key="c_custkey",
        stats_cols=["c_custkey"],
    )
    # the observable pruning contract: one of three groups copy-on-written
    assert (rewritten, total) == (1, 3), (rewritten, total)
    result = (
        TF.read(spark, t)
        .select(
            "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
        )
        # materialize BEFORE deleting the throwaway table dir
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(t, ignore_errors=True)
    return result


# =====================================================================
# Multi-source BFS reachability
# =====================================================================

def _bfs_oracle(hops: int = 3) -> str:
    """Unrolled Bellman-Ford relaxation: d_k(n) = min over (≤k)-edge walks
    from any seed — after k rounds exactly the BFS hop distance capped at
    k. Node-bounded intermediates (MIN per node each level), so the
    oracle stays small even on dense graphs."""
    sql = """
    WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
                   FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    edges AS (SELECT c*2 AS src, s*2+1 AS dst FROM pairs
              UNION ALL SELECT s*2+1 AS src, c*2 AS dst FROM pairs),
    d0 AS (SELECT DISTINCT c*2 AS node, 0 AS dist FROM pairs WHERE c % 97 = 0)"""
    for k in range(1, hops + 1):
        sql += f""",
    d{k} AS (SELECT node, MIN(dist) AS dist FROM (
               SELECT node, dist FROM d{k - 1}
               UNION ALL
               SELECT e.dst AS node, d.dist + 1 AS dist
               FROM d{k - 1} d JOIN edges e ON e.src = d.node
             ) GROUP BY node)"""
    sql += f"""
    SELECT node, dist FROM d{hops}"""
    return sql


@q("q_graph_bfs", _bfs_oracle())
def q_graph_bfs(spark, sf_dir):
    """B49 ext: multi-source BFS over the symmetrized customer–supplier
    trade graph (ops/graph.py::bfs_hops) — reachability / blast-radius:
    min hop distance (≤3) from the seed customers (custkey%97==0) to
    every reachable node. Frontier-only expansion (each round joins just
    the newly discovered nodes against the src-partitioned cached edge
    list), three rounds of ops.iterate.rounds; the oracle unrolls the
    equivalent Bellman-Ford recurrence with node-bounded levels."""
    from etl_data_processor_spark.ops.graph import bfs_hops

    cat = _cat(spark, sf_dir)
    pairs = (
        cat.lineitem.join(
            cat.orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    cnode = (F.col("c") * 2).alias("src")
    snode = (F.col("s") * 2 + 1).alias("dst")
    edges = pairs.select(cnode, snode).unionAll(
        pairs.select(
            (F.col("s") * 2 + 1).alias("src"), (F.col("c") * 2).alias("dst")
        )
    )
    seeds = (
        pairs.filter(F.col("c") % 97 == 0)
        .select((F.col("c") * 2).alias("node"))
        .distinct()
    )
    return bfs_hops(edges, seeds, max_hops=3)


# =====================================================================
# Bloom-filter-pruned join
# =====================================================================

@q(
    "q_join_bloom",
    f"""
    SELECT p_partkey, COUNT(*) AS n,
           CAST(SUM({_CENTS_SQL.format(c="l_extendedprice")}) AS BIGINT)
               AS revenue_cents
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand = 'Brand#23'
    GROUP BY p_partkey
    """,
)
def q_join_bloom(spark, sf_dir):
    """Bloom-pruned fact-to-dim join (ops/bloom.py): the filtered part
    dim's keys build a PORTABLE bloom filter (distributed bit_or fold,
    driver collects only m/64 words); lineitem is pruned by the k-bit
    membership test INSIDE its scan stage before joining. No false
    negatives ⇒ the result is bit-equal to the plain join the oracle
    runs; the false-positive survivors die in the exact join. At 100 TB
    this is the semi-join reduction that turns a full-fact shuffle into
    a matching-rows shuffle."""
    from etl_data_processor_spark.ops.bloom import bloom_pruned_join

    cat = _cat(spark, sf_dir)
    dim = cat.part.filter(F.col("p_brand") == "Brand#23").select(
        "p_partkey"
    )
    joined = bloom_pruned_join(
        cat.lineitem.select("l_partkey", "l_extendedprice"),
        dim,
        fact_key="l_partkey",
        dim_key="p_partkey",
    )
    return joined.groupBy("p_partkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_cents("l_extendedprice")).alias("revenue_cents"),
    )


# =====================================================================
# Rolling correlation in exact integer moments
# =====================================================================

@q(
    "q_win_rolling_corr",
    f"""
    WITH m AS (
        SELECT l_suppkey, l_orderkey, l_linenumber,
               COUNT(*) OVER w AS n,
               SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
               SUM(x*x) OVER w AS sxx, SUM(y*y) OVER w AS syy,
               SUM(x*y) OVER w AS sxy
        FROM (SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
                     CAST(l_quantity AS BIGINT) AS x,
                     {_CENTS_SQL.format(c="l_extendedprice")} AS y
              FROM lineitem)
        WINDOW w AS (PARTITION BY l_suppkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT l_suppkey, l_orderkey, l_linenumber,
           {_ROUND6.format(
               x="CAST(n*sxy - sx*sy AS DOUBLE) "
                 "/ SQRT(CAST(n*sxx - sx*sx AS DOUBLE)) "
                 "/ SQRT(CAST(n*syy - sy*sy AS DOUBLE))"
           )} AS corr6
    FROM m
    WHERE n = 7 AND n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
    """,
)
def q_win_rolling_corr(spark, sf_dir):
    """Rolling 7-row Pearson correlation (quantity vs price) per supplier
    — the exact-integer-moment technique (see q_trend_ols) on a SLIDING
    window frame: all five moments accumulate as BIGINTs inside one
    window pass (single shuffle on the partition key), and the only
    floating-point ops are the final casts/sqrt/divides, an identical
    IEEE sequence on both engines (6-decimal stable rounding as
    belt-and-braces). Degenerate frames (zero variance / short head) are
    filtered by exact integer predicates."""
    li = _cat(spark, sf_dir).lineitem.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        F.col("l_quantity").cast("long").alias("x"),
        _cents("l_extendedprice").alias("y"),
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(-6, 0)
    )
    x, y = F.col("x"), F.col("y")
    m = li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(x).over(w).alias("sx"),
        F.sum(y).over(w).alias("sy"),
        F.sum(x * x).over(w).alias("sxx"),
        F.sum(y * y).over(w).alias("syy"),
        F.sum(x * y).over(w).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    dx, dy = n * sxx - sx * sx, n * syy - sy * sy
    corr = (
        (n * sxy - sx * sy).cast("double")
        / F.sqrt(dx.cast("double"))
        / F.sqrt(dy.cast("double"))
    )
    return (
        m.filter((n == 7) & (dx > 0) & (dy > 0))
        .select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            stable_round6(corr).alias("corr6"),
        )
    )


# =====================================================================
# Merge-on-read deletes through the table format
# =====================================================================

@q(
    "q_tableformat_mor",
    f"""
    WITH base AS (
        SELECT o_orderkey, o_orderpriority,
               {_CENTS_SQL.format(c="o_totalprice")} AS cents
        FROM orders WHERE o_orderkey % 3 IN (0, 1)
    ),
    kept AS (SELECT * FROM base WHERE o_orderkey % 5 <> 0),
    reinserted AS (
        SELECT o_orderkey, o_orderpriority,
               {_CENTS_SQL.format(c="o_totalprice")} AS cents
        FROM orders WHERE o_orderkey % 15 = 0
    )
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM (SELECT * FROM kept UNION ALL SELECT * FROM reinserted)
    GROUP BY 1
    """,
)
def q_tableformat_mor(spark, sf_dir):
    """MERGE-ON-READ delete lifecycle (tableformat.py::delete_where),
    oracle-gated: append two order slices (%3==0, %3==1), MOR-delete
    every %5 key (a delete-key file commits — NO data group is rewritten,
    asserted in-line), then re-append the %15 keys (a subset of the
    deleted ones). The sequence rule must bring exactly the re-appended
    rows back while the rest of the deleted keys stay dead; the oracle
    recomputes that final state straight from the fixture. Gate also
    proves the delete applied at read time (not write time): head read
    after compaction-free history."""
    import shutil
    import tempfile

    from etl_data_processor_spark import tableformat as TF

    o = _cat(spark, sf_dir).orders.select(
        "o_orderkey", "o_orderpriority", _cents("o_totalprice").alias("cents")
    )
    t = tempfile.mkdtemp(prefix="tf_mor_")
    TF.append(o.filter(F.col("o_orderkey") % 3 == 0), t)
    TF.append(o.filter(F.col("o_orderkey") % 3 == 1), t)
    data_before = {
        a["group"]
        for a in TF._live_adds(t)
        if a.get("kind", "data") == "data"
    }
    _, n_del = TF.delete_where(
        spark, t, "o_orderkey", F.col("o_orderkey") % 5 == 0
    )
    data_after = {
        a["group"]
        for a in TF._live_adds(t)
        if a.get("kind", "data") == "data"
    }
    # the merge-on-read contract: deletes rewrite NO data group
    assert data_after == data_before and n_del > 0
    TF.append(o.filter(F.col("o_orderkey") % 15 == 0), t)
    result = (
        TF.read(spark, t)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("sum_cents"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(t, ignore_errors=True)
    return result


# =====================================================================
# A/B test analysis (two-proportion z-test, exact integer counts)
# =====================================================================

@q(
    "q_ab_ztest",
    f"""
    WITH c AS (
        SELECT CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS k_a,
               CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN user_id % 2 = 1 AND event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS k_b
        FROM events
    )
    SELECT n_a, k_a, n_b, k_b,
           {_ROUND6.format(x="CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE)")} AS rate_a6,
           {_ROUND6.format(x="CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE)")} AS rate_b6,
           {_ROUND6.format(
               x="(CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
                 " - CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
                 " / SQRT(CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)"
                 " * (1.0 - CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))"
                 " * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))"
           )} AS z6
    FROM c
    """,
)
def q_ab_ztest(spark, sf_dir):
    """Experimentation primitive: two-proportion z-test over a
    deterministic variant assignment (user_id parity — the hash-split
    ops are the production assigner). ONE conditional aggregate pass
    computes both arms' exposure/conversion counts (integers); the
    rate/z arithmetic is a fixed IEEE sequence on the four BIGINTs, so
    the statistic is engine-exact to 6 decimals. At 100 TB: a single
    partial+final aggregate, no shuffle of raw events beyond it."""
    ev = _cat(spark, sf_dir).events
    is_a = (F.col("user_id") % 2 == 0).cast("long")
    is_b = (F.col("user_id") % 2 == 1).cast("long")
    conv = (F.col("event_type") == "purchase").cast("long")
    c = ev.agg(
        F.sum(is_a).alias("n_a"),
        F.sum(is_a * conv).alias("k_a"),
        F.sum(is_b).alias("n_b"),
        F.sum(is_b * conv).alias("k_b"),
    )
    n_a, k_a = F.col("n_a"), F.col("k_a")
    n_b, k_b = F.col("n_b"), F.col("k_b")
    ra = k_a.cast("double") / n_a.cast("double")
    rb = k_b.cast("double") / n_b.cast("double")
    p = (k_a + k_b).cast("double") / (n_a + n_b).cast("double")
    z = (ra - rb) / F.sqrt(
        p * (F.lit(1.0) - p)
        * (F.lit(1.0) / n_a.cast("double") + F.lit(1.0) / n_b.cast("double"))
    )
    return c.select(
        "n_a", "k_a", "n_b", "k_b",
        stable_round6(ra).alias("rate_a6"),
        stable_round6(rb).alias("rate_b6"),
        stable_round6(z).alias("z6"),
    )


# =====================================================================
# RFM segmentation
# =====================================================================

@q(
    "q_rfm_segments",
    f"""
    WITH per_user AS (
        SELECT o_custkey,
               date_diff('day', MAX(o_orderdate),
                         MAX(MAX(o_orderdate)) OVER ()) AS recency_days,
               COUNT(*) AS frequency,
               CAST(SUM({_CENTS_SQL.format(c="o_totalprice")}) AS BIGINT)
                   AS monetary_cents
        FROM orders GROUP BY o_custkey
    ),
    tiles AS (
        SELECT o_custkey,
               CAST(NTILE(5) OVER (ORDER BY recency_days, o_custkey) AS INTEGER) AS r_tile,
               CAST(NTILE(5) OVER (ORDER BY frequency, o_custkey) AS INTEGER) AS f_tile,
               CAST(NTILE(5) OVER (ORDER BY monetary_cents, o_custkey) AS INTEGER) AS m_tile
        FROM per_user
    )
    SELECT r_tile, f_tile, m_tile, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM tiles GROUP BY 1, 2, 3
    """,
)
def q_rfm_segments(spark, sf_dir):
    """RFM customer segmentation: per-customer recency (days since last
    order vs the global max date), frequency, monetary (exact cents),
    each quintiled with a DETERMINISTIC total order (metric, custkey) so
    the tiling is engine-exact; output is segment cell sizes.

    VERDICT r4 item 4: the registered plan is the SCALE-SAFE tiling —
    each quintile is an exact global rank via ops/prefix.chunked_rank
    (equi-depth chunks from broadcast exact-percentile boundaries +
    within-chunk row_number + offset join; no data-sized WindowExec
    anywhere) fed into the closed-form ntile_expr. The single-reducer
    NTILE form survives as the DuckDB oracle cross-check. The global max
    date is a scalar aggregate broadcast back, not a global window."""
    o = _cat(spark, sf_dir).orders
    agg = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(_cents("o_totalprice")).alias("monetary_cents"),
    )
    gmax = agg.agg(F.max("last_order").alias("__gmax"))
    per_user = agg.crossJoin(F.broadcast(gmax)).select(
        "o_custkey",
        F.datediff(F.col("__gmax"), F.col("last_order")).alias("recency_days"),
        "frequency",
        "monetary_cents",
    )
    # Three INDEPENDENT slim rank branches (o_custkey + one metric each)
    # joined back on the key — chaining the rank ops on one frame would
    # multiply the shared lineage (each rank consumes its input in ~4
    # places; chained that compounds to hundreds of plan copies of the
    # orders aggregate), while three flat branches keep it a dozen, and
    # every join shuffles on the same o_custkey key.
    acc = None
    for metric, tile in (
        ("recency_days", "r_tile"),
        ("frequency", "f_tile"),
        ("monetary_cents", "m_tile"),
    ):
        slim = per_user.select("o_custkey", metric)
        d, chunk = equidepth_chunk(slim, metric)
        r = chunked_rank(
            d,
            [F.col(metric), F.col("o_custkey")],
            chunk,
            rank_col="__r",
            total_col="__N",
        )
        t = r.select(
            "o_custkey", ntile_expr(F.col("__r"), F.col("__N"), 5).alias(tile)
        )
        acc = t if acc is None else acc.join(t, "o_custkey")
    return acc.groupBy("r_tile", "f_tile", "m_tile").agg(
        F.count(F.lit(1)).alias("n_users")
    )


# =====================================================================
# Weighted shortest path (bounded Bellman-Ford)
# =====================================================================

def _sssp_oracle(rounds: int = 3) -> str:
    sql = """
    WITH pairs AS (SELECT o_custkey AS c, l_suppkey AS s,
                          COUNT(DISTINCT l_orderkey) AS nord
                   FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                   GROUP BY 1, 2),
    edges AS (SELECT c*2 AS src, s*2+1 AS dst, 1 + nord % 5 AS w FROM pairs
              UNION ALL
              SELECT s*2+1 AS src, c*2 AS dst, 1 + nord % 5 AS w FROM pairs),
    d0 AS (SELECT DISTINCT c*2 AS node, CAST(0 AS BIGINT) AS dist
           FROM pairs WHERE c % 97 = 0)"""
    for k in range(1, rounds + 1):
        sql += f""",
    d{k} AS (SELECT node, MIN(dist) AS dist FROM (
               SELECT node, dist FROM d{k - 1}
               UNION ALL
               SELECT e.dst AS node, d.dist + e.w AS dist
               FROM d{k - 1} d JOIN edges e ON e.src = d.node
             ) GROUP BY node)"""
    sql += f"""
    SELECT node, dist FROM d{rounds}"""
    return sql


@q("q_graph_sssp", _sssp_oracle())
def q_graph_sssp(spark, sf_dir):
    """B49 ext: bounded WEIGHTED shortest path (ops/graph.py::
    sssp_bounded) from the seed customers over the trade graph, edge
    cost 1 + (distinct orders % 5) — cheapest ≤3-edge route. Bellman-
    Ford relaxation rounds (a frontier-only walk is wrong under weights:
    a longer-hop path can be cheaper); integer costs make the result
    engine-exact against the unrolled oracle."""
    from etl_data_processor_spark.ops.graph import sssp_bounded

    cat = _cat(spark, sf_dir)
    pairs = (
        cat.lineitem.join(
            cat.orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .groupBy(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .agg(F.countDistinct("l_orderkey").alias("nord"))
    )
    w = (F.lit(1) + F.col("nord") % 5).alias("w")
    edges = pairs.select(
        (F.col("c") * 2).alias("src"), (F.col("s") * 2 + 1).alias("dst"), w
    ).unionAll(
        pairs.select(
            (F.col("s") * 2 + 1).alias("src"),
            (F.col("c") * 2).alias("dst"),
            w,
        )
    )
    seeds = (
        pairs.filter(F.col("c") % 97 == 0)
        .select((F.col("c") * 2).alias("node"))
        .distinct()
    )
    return sssp_bounded(edges, seeds, rounds=3)


# =====================================================================
# CUSUM change-point detection (exact integer arithmetic)
# =====================================================================

@q(
    "q_ts_cusum",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ),
    scored AS (
        SELECT event_type, day,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS nd,
               CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS tot,
               CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY day)
                    AS BIGINT) AS cum,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                    AS BIGINT) AS k
        FROM daily
    ),
    s AS (
        SELECT event_type, day, nd * cum - k * tot AS s_scaled
        FROM scored
    )
    SELECT event_type, day AS change_day,
           CAST(ABS(s_scaled) AS BIGINT) AS s_abs
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY ABS(s_scaled) DESC, day) AS rk
        FROM s
    ) WHERE rk = 1
    """,
)
def q_ts_cusum(spark, sf_dir):
    """CUSUM change-point estimate per event type: with daily counts x_k,
    the statistic S_k = N·cumsum_k − k·total is N × (cumsum_k − k·mean) —
    the classic CUSUM numerator scaled into PURE INTEGER arithmetic (no
    float mean, engine-exact); the argmax |S_k| day is the estimated
    change point. Two window passes over the tiny per-day aggregate; the
    raw events shuffle once into the daily rollup."""
    ev = _cat(spark, sf_dir).events
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    wp = Window.partitionBy("event_type")
    wo = wp.orderBy("day")
    scored = daily.select(
        "event_type",
        "day",
        F.count(F.lit(1)).over(wp).alias("nd"),
        F.sum("cnt").over(wp).alias("tot"),
        F.sum("cnt").over(wo).alias("cum"),
        F.row_number().over(wo).cast("long").alias("k"),
    )
    s = scored.select(
        "event_type",
        "day",
        (F.col("nd") * F.col("cum") - F.col("k") * F.col("tot")).alias(
            "s_scaled"
        ),
    )
    rk = F.row_number().over(
        Window.partitionBy("event_type").orderBy(
            F.abs(F.col("s_scaled")).desc(), F.col("day")
        )
    )
    return (
        s.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("day").alias("change_day"),
            F.abs(F.col("s_scaled")).alias("s_abs"),
        )
    )


# =====================================================================
# Lag-1 autocorrelation (exact integer moments)
# =====================================================================

@q(
    "q_ts_autocorr",
    f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ),
    lagged AS (
        SELECT event_type, cnt AS x,
               LAG(cnt) OVER (PARTITION BY event_type ORDER BY day) AS y
        FROM daily
    ),
    m AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x*x) AS BIGINT) AS sxx,
               CAST(SUM(y*y) AS BIGINT) AS syy,
               CAST(SUM(x*y) AS BIGINT) AS sxy
        FROM lagged WHERE y IS NOT NULL GROUP BY 1
    )
    SELECT event_type, n,
           {_ROUND6.format(
               x="CAST(n*sxy - sx*sy AS DOUBLE) "
                 "/ SQRT(CAST(n*sxx - sx*sx AS DOUBLE)) "
                 "/ SQRT(CAST(n*syy - sy*sy AS DOUBLE))"
           )} AS autocorr6
    FROM m WHERE n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
    """,
)
def q_ts_autocorr(spark, sf_dir):
    """Lag-1 autocorrelation of the daily event-count series per type —
    seasonality detection. The lag pairs come from one window pass; the
    five moments accumulate as BIGINTs (exact), and the final Pearson
    arithmetic is the same IEEE sequence as q_win_rolling_corr."""
    ev = _cat(spark, sf_dir).events
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    lagged = daily.select(
        "event_type",
        F.col("cnt").alias("x"),
        F.lag("cnt").over(
            Window.partitionBy("event_type").orderBy("day")
        ).alias("y"),
    ).filter(F.col("y").isNotNull())
    x, y = F.col("x"), F.col("y")
    m = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    dx, dy = n * sxx - sx * sx, n * syy - sy * sy
    corr = (
        (n * sxy - sx * sy).cast("double")
        / F.sqrt(dx.cast("double"))
        / F.sqrt(dy.cast("double"))
    )
    return (
        m.filter((dx > 0) & (dy > 0))
        .select("event_type", "n", stable_round6(corr).alias("autocorr6"))
    )


# =====================================================================
# Benford first-digit audit
# =====================================================================

@q(
    "q_benford",
    f"""
    WITH d AS (
        SELECT CAST(SUBSTR(CAST({_CENTS_SQL.format(c="o_totalprice")}
                           AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders
    ),
    c AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total
        FROM d GROUP BY digit
    )
    SELECT digit, n,
           {_ROUND6.format(x="CAST(n AS DOUBLE) / CAST(total AS DOUBLE)")}
               AS freq6,
           {_ROUND6.format(
               x="LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE))"
           )} AS benford6
    FROM c
    """,
)
def q_benford(spark, sf_dir):
    """Benford's-law first-digit audit of order totals — the fraud/
    data-quality screen: observed first-significant-digit frequencies
    next to the Benford expectation log10(1+1/d). One aggregate over a
    digit extracted with integer/string ops (cents are exact ints, so
    the first digit is unambiguous — no float formatting hazards)."""
    o = _cat(spark, sf_dir).orders
    digit = F.substring(
        _cents("o_totalprice").cast("string"), 1, 1
    ).cast("long")
    c = (
        o.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "total", F.sum("n").over(Window.partitionBy())
        )
    )
    freq = F.col("n").cast("double") / F.col("total").cast("double")
    benford = F.log10(
        F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")
    )
    return c.select(
        "digit",
        "n",
        stable_round6(freq).alias("freq6"),
        stable_round6(benford).alias("benford6"),
    )


# =====================================================================
# Exact shared-substring-run dedup (verbatim-span detection)
# =====================================================================

@q(
    "q_dedup_substring",
    """
    WITH sh AS (
        SELECT doc_id, u.pos AS pos, u.g AS g FROM (
            SELECT doc_id,
                   UNNEST([{'pos': i,
                            'g': array_to_string(w[i:i+7], ' ')}
                           for i in range(1, len(w) - 6)]) AS u
            FROM (SELECT doc_id, string_split(text, ' ') AS w
                  FROM documents)
            WHERE len(w) >= 8
        )
    ),
    matches AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.pos AS pa, a.pos - b.pos AS diag
        FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
    ),
    runs AS (
        SELECT id_a, id_b,
               CAST(COUNT(*) + 7 AS BIGINT) AS run_tokens
        FROM (
            SELECT id_a, id_b, diag, pa,
                   pa - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, diag
                                           ORDER BY pa) AS grp
            FROM matches
        )
        GROUP BY id_a, id_b, diag, grp
    )
    SELECT id_a, id_b, MAX(run_tokens) AS max_run
    FROM runs GROUP BY 1, 2 HAVING MAX(run_tokens) >= 12
    """,
)
def q_dedup_substring(spark, sf_dir):
    """EXACT shared-substring detection (Lee et al., 'Deduplicating
    Training Data Makes Language Models Better', the ExactSubstr
    operator re-expressed relationally): doc pairs sharing a verbatim
    token run of >= 12 tokens, with the longest run length. Instead of a
    suffix array: 8-gram shingles WITH POSITIONS equi-join across docs
    (one shuffle on the shingle), then consecutive matched positions on
    the same alignment diagonal collapse into runs via the islands trick
    (pos - row_number is constant within a consecutive run) — a run of
    L >= 8 tokens matches exactly L-7 consecutive diagonal shingles, so
    max_run = longest island + 7. All relational: scales as one
    shingle-shuffle + one window, no per-doc suffix structures; swap the
    shingle string for its hash at 100 TB (same plan, smaller shuffle).
    Complements MinHash (bag-of-shingles similarity) with POSITIONAL
    verbatim-quote detection."""
    from etl_data_processor_spark.ops.dedup import shared_ngram_runs

    d = _cat(spark, sf_dir).documents.select("doc_id", "text")
    return shared_ngram_runs(d, k=8, min_run=12)


# =====================================================================
# Feature hashing (the hashing trick, portable)
# =====================================================================

@q(
    "q_feature_hash",
    None,  # registered below with the charfold SQL fragment
)
def q_feature_hash(spark, sf_dir):
    """ML-prep: the hashing trick over categorical columns — each
    'col=value' token maps to index charfold32(token) % 64 with a ±1
    sign from hash bit 8 (Weinberger et al., ICML'09). Output is the
    column-sum of the implied design matrix (count + signed sum per
    index) — the verifiable aggregate; the per-row sparse vector is the
    same two expressions under a collect_list. Pure JVM column
    arithmetic, one aggregate pass, engine-exact via the portable
    polynomial hash."""
    from etl_data_processor_spark.queries_ext2 import _charfold32

    o = _cat(spark, sf_dir).orders
    feats = F.explode(
        F.array(
            F.concat(F.lit("pri="), F.col("o_orderpriority")),
            F.concat(F.lit("status="), F.col("o_orderstatus")),
            F.concat(
                F.lit("cust="), (F.col("o_custkey") % 100).cast("string")
            ),
        )
    ).alias("tok")
    toks = o.select(feats)
    h = _charfold32(F.col("tok"))
    sign = F.when(
        F.call_function(
            "shiftrightunsigned", h, F.lit(8)
        ).bitwiseAND(F.lit(1)) == 1,
        F.lit(1),
    ).otherwise(F.lit(-1)).cast("long")
    return (
        toks.select((h % 64).alias("idx"), sign.alias("s"))
        .groupBy("idx")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("s").alias("signed_sum"),
        )
    )


# =====================================================================
# Leave-one-out target encoding
# =====================================================================

@q(
    "q_target_encode",
    f"""
    WITH y AS (
        SELECT o_orderkey, o_orderpriority AS cat,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders
    ),
    stats AS (
        SELECT o_orderkey, cat, y,
               CAST(COUNT(*) OVER (PARTITION BY cat) AS BIGINT) AS n,
               CAST(SUM(y) OVER (PARTITION BY cat) AS BIGINT) AS k
        FROM y
    )
    SELECT o_orderkey, cat,
           {_ROUND6.format(
               x="CAST(k - y AS DOUBLE) / CAST(n - 1 AS DOUBLE)"
           )} AS loo6
    FROM stats WHERE n > 1
    """,
)
def q_target_encode(spark, sf_dir):
    """ML-prep: leave-one-out target encoding of order priority against
    the 'fulfilled' target — per row, the category's target rate
    EXCLUDING the row itself ((k - y_i)/(n - 1)), the standard
    leakage-safe encoder. One window pass computes both category moments
    as exact integers; only the final division is floating point.
    Singleton categories are excluded (undefined LOO)."""
    o = _cat(spark, sf_dir).orders
    y = (F.col("o_orderstatus") == "F").cast("long")
    base = o.select(
        "o_orderkey", F.col("o_orderpriority").alias("cat"), y.alias("y")
    )
    wp = Window.partitionBy("cat")
    stats = base.select(
        "o_orderkey",
        "cat",
        "y",
        F.count(F.lit(1)).over(wp).alias("n"),
        F.sum("y").over(wp).alias("k"),
    )
    loo = (F.col("k") - F.col("y")).cast("double") / (
        F.col("n") - F.lit(1)
    ).cast("double")
    return (
        stats.filter(F.col("n") > 1)
        .select("o_orderkey", "cat", stable_round6(loo).alias("loo6"))
    )


# q_feature_hash oracle: needs the charfold fragment, attached post-hoc
def _register_feature_hash_oracle():
    from etl_data_processor_spark.queries_ext2 import _CHARFOLD_SQL
    from etl_data_processor_spark.registry import ORACLE

    ORACLE["q_feature_hash"] = f"""
    WITH toks AS (
        SELECT unnest(['pri=' || o_orderpriority,
                       'status=' || o_orderstatus,
                       'cust=' || CAST(o_custkey % 100 AS VARCHAR)]) AS tok
        FROM orders
    ),
    h AS (SELECT {_CHARFOLD_SQL.format(t="tok")} AS h FROM toks)
    SELECT h % 64 AS idx, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN (h >> 8) & 1 = 1 THEN 1 ELSE -1 END)
                AS BIGINT) AS signed_sum
    FROM h GROUP BY 1
    """.strip()


_register_feature_hash_oracle()


# =====================================================================
# Boilerplate n-gram detection (C4-style corpus cleaning)
# =====================================================================

@q(
    "q_boilerplate",
    """
    WITH grams AS (
        SELECT doc_id, u.g AS g FROM (
            SELECT doc_id,
                   UNNEST([{'g': array_to_string(w[i:i+2], ' ')}
                           for i in range(1, len(w) - 1)]) AS u
            FROM (SELECT doc_id, string_split(text, ' ') AS w
                  FROM documents)
            WHERE len(w) >= 3
        )
    )
    SELECT g AS gram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 5
    """,
)
def q_boilerplate(spark, sf_dir):
    """Boilerplate detection (the C4/RefinedWeb cleaning step): 3-grams
    occurring in >= 5 DISTINCT documents — headers, footers, license
    blurbs. One explode + one distinct-count aggregate (partial+final);
    the output list is vocabulary-sized and broadcasts back as a removal
    filter. Frequency-based (cross-corpus), complementing
    q_dedup_substring's PAIRWISE verbatim runs."""
    from etl_data_processor_spark.ops.dedup import _parallelize

    d = _parallelize(
        _cat(spark, sf_dir).documents.select("doc_id", "text")
    )
    w = F.split(F.col("text"), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(w) - 2),
        lambda i: F.array_join(F.slice(w, i, 3), " "),
    )
    return (
        d.filter(F.size(w) >= 3)
        .select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 5)
    )


# =====================================================================
# Time-weighted average (TWAP)
# =====================================================================

@q(
    "q_twap",
    f"""
    WITH seq AS (
        SELECT event_type,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS v_cents,
               date_diff('day', CAST(ts AS DATE),
                         LEAD(CAST(ts AS DATE)) OVER (
                             PARTITION BY event_type
                             ORDER BY ts, event_id)) AS gap_days
        FROM events
    ),
    m AS (
        SELECT event_type,
               CAST(SUM(gap_days * v_cents) AS BIGINT) AS wv,
               CAST(SUM(gap_days) AS BIGINT) AS w
        FROM seq WHERE gap_days IS NOT NULL AND gap_days > 0
        GROUP BY 1
    )
    SELECT event_type, wv, w,
           {_ROUND6.format(x="CAST(wv AS DOUBLE) / CAST(w AS DOUBLE)")}
               AS twap6
    FROM m
    """,
)
def q_twap(spark, sf_dir):
    """Time-weighted average value per event type (the TWAP/observability
    primitive: a value holds until the next observation, so each reading
    weights by its holding interval in days). One lead window + one
    aggregate; weights and cent-values stay integral, so the weighted
    moments are exact and only the final division is floating point.
    Zero-gap (same-day) readings carry no holding time and drop out —
    identical rule both engines. Scale shape: the next-observation
    lookup runs through ops/prefix.bounded_window_frame — a plain
    `LEAD OVER (PARTITION BY event_type ORDER BY ts)` single-tasks each
    type's whole reading stream; here LEAD(1) runs per (type, 1024-row
    position bucket) with one boundary replica row per bucket."""
    from etl_data_processor_spark.ops.prefix import (
        bounded_window_frame,
        equidepth_chunk,
    )

    ev = _cat(spark, sf_dir).events
    base = ev.select(
        "event_type",
        "event_id",
        "ts",
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("v_cents"),
        F.col("ts").cast("date").alias("d"),
        F.unix_micros("ts").alias("us"),
    )
    pb, chunk = equidepth_chunk(base, "us")
    frame, spec, emit = bounded_window_frame(
        pb, ["event_type"], ["ts", "event_id"], chunk, lookahead=1
    )
    seq = (
        frame.select(
            "event_type",
            "v_cents",
            F.datediff(F.lead("d").over(spec), F.col("d")).alias("gap_days"),
            emit.alias("__emit"),
        )
        .filter(F.col("__emit"))
    )
    m = (
        seq.filter(F.col("gap_days").isNotNull() & (F.col("gap_days") > 0))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("gap_days") * F.col("v_cents")).alias("wv"),
            F.sum("gap_days").alias("w"),
        )
    )
    twap = F.col("wv").cast("double") / F.col("w").cast("double")
    return m.select(
        "event_type", "wv", "w", stable_round6(twap).alias("twap6")
    )


# =====================================================================
# Min-max feature scaling
# =====================================================================

@q(
    "q_minmax_scale",
    f"""
    WITH s AS (
        SELECT event_id, event_type,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS v,
               CAST(MIN(FLOOR(value * 100.0 + 0.5)) OVER (
                   PARTITION BY event_type) AS BIGINT) AS mn,
               CAST(MAX(FLOOR(value * 100.0 + 0.5)) OVER (
                   PARTITION BY event_type) AS BIGINT) AS mx
        FROM events
    )
    SELECT event_id, event_type,
           {_ROUND6.format(
               x="CAST(v - mn AS DOUBLE) / CAST(mx - mn AS DOUBLE)"
           )} AS scaled6
    FROM s WHERE mx > mn
    """,
)
def q_minmax_scale(spark, sf_dir):
    """ML-prep: per-group min-max scaling of the value column to [0, 1]
    — group extrema from a hash aggregate broadcast back (exact integer
    cents), one exact-integer subtraction, one final division. Degenerate
    groups (constant value) are excluded rather than emitting 0/0.
    Scale shape: a `MIN/MAX OVER (PARTITION BY event_type)` window would
    single-task each type's whole slice of the fact table (the low-NDV
    window class the registry audit hunts); the partial+final aggregate
    + broadcast join touches the facts once with no per-type sort."""
    ev = _cat(spark, sf_dir).events
    v = F.floor(F.col("value") * 100.0 + 0.5).cast("long")
    ext = ev.groupBy("event_type").agg(
        F.min(v).alias("mn"), F.max(v).alias("mx")
    )
    s = ev.select("event_id", "event_type", v.alias("v")).join(
        F.broadcast(ext), "event_type"
    )
    scaled = (F.col("v") - F.col("mn")).cast("double") / (
        F.col("mx") - F.col("mn")
    ).cast("double")
    return (
        s.filter(F.col("mx") > F.col("mn"))
        .select("event_id", "event_type", stable_round6(scaled).alias("scaled6"))
    )


# =====================================================================
# Null imputation with the per-group exact median
# =====================================================================

@q(
    "q_impute_median",
    f"""
    WITH masked AS (
        SELECT event_id, event_type,
               CASE WHEN event_id % 10 = 0 THEN NULL ELSE value END AS v
        FROM events
    ),
    med AS (
        SELECT event_type, quantile_cont(v, 0.5) AS med
        FROM masked GROUP BY event_type
    )
    SELECT m.event_id, m.event_type,
           CAST(m.v IS NULL AS INTEGER) AS was_imputed,
           {_ROUND6.format(x="COALESCE(m.v, med.med)")} AS v_filled6
    FROM masked m JOIN med USING (event_type)
    """,
)
def q_impute_median(spark, sf_dir):
    """Data-prep: median imputation — fill missing values (deterministic
    %10 mask standing in for real nulls) with the per-group EXACT
    interpolated median of the observed values. Medians come from one
    aggregate over the observed subset and broadcast back onto the full
    table (group-count-sized join side); no global sort of the corpus.
    Both engines interpolate lower+(upper-lower)*0.5; stable rounding
    absorbs final-ulp drift (q_percentile_exact's established parity)."""
    ev = _cat(spark, sf_dir).events
    masked = ev.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 10 == 0, F.lit(None)).otherwise(
            F.col("value")
        ).alias("v"),
    )
    med = masked.groupBy("event_type").agg(
        F.percentile("v", F.lit(0.5)).alias("med")
    )
    return masked.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        F.col("v").isNull().cast("int").alias("was_imputed"),
        stable_round6(F.coalesce(F.col("v"), F.col("med"))).alias(
            "v_filled6"
        ),
    )


# =====================================================================
# Point-in-time (feature store) join against SCD2 history
# =====================================================================

@q(
    "q_pit_join",
    """
    WITH hist AS (
        SELECT user_id, value,
               epoch_us(ts) AS valid_from_us,
               LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)
                   AS valid_to_us
        FROM events WHERE event_type = 'purchase'
    ),
    probe AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us
        FROM events WHERE event_type = 'click'
    )
    SELECT p.event_id, p.user_id, p.ts_us,
           h.value AS feature_value, h.valid_from_us
    FROM probe p JOIN hist h
      ON p.user_id = h.user_id
     AND h.valid_from_us <= p.ts_us
     AND (h.valid_to_us IS NULL OR p.ts_us < h.valid_to_us)
    """,
)
def q_pit_join(spark, sf_dir):
    """POINT-IN-TIME join (the feature-store correctness primitive): each
    click is enriched with the purchase-value feature that was CURRENT at
    click time, from the SCD2 validity intervals (ops/cdc.py::
    scd2_history shape). Leakage-free by construction — the interval
    predicate admits only valid_from <= ts < valid_to, so no feature
    from the future can attach. Executed as an equi-join on the entity
    key + interval residual (per-entity histories are short, so the
    residual scans a handful of rows; at huge history cardinality swap
    in the binned range join, q_range_bin_join's plan). Exact integer
    microsecond bounds both engines."""
    ev = _cat(spark, sf_dir).events
    hist = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "value",
            F.unix_micros("ts").alias("valid_from_us"),
            F.lead(F.unix_micros("ts")).over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ).alias("valid_to_us"),
        )
    )
    probe = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    j = probe.alias("p").join(
        hist.alias("h"),
        (F.col("p.user_id") == F.col("h.user_id"))
        & (F.col("h.valid_from_us") <= F.col("p.ts_us"))
        & (
            F.col("h.valid_to_us").isNull()
            | (F.col("p.ts_us") < F.col("h.valid_to_us"))
        ),
    )
    return j.select(
        F.col("p.event_id").alias("event_id"),
        F.col("p.user_id").alias("user_id"),
        "p.ts_us",
        F.col("h.value").alias("feature_value"),
        "h.valid_from_us",
    )


# =====================================================================
# Ordered string aggregation
# =====================================================================

@q(
    "q_string_agg_ordered",
    """
    SELECT o_custkey,
           string_agg(o_orderpriority, '|' ORDER BY o_orderdate, o_orderkey)
               AS priorities
    FROM orders GROUP BY o_custkey
    """,
)
def q_string_agg_ordered(spark, sf_dir):
    """Ordered string aggregation by a SEPARATE sort key (the companion
    to q_string_agg's native LISTAGG WITHIN GROUP, which orders by the
    aggregated expression itself): the per-customer order-priority
    sequence in (date, key) order. Portable form: collect_list of a
    sort-key struct -> array_sort -> transform -> array_join — still ONE hash aggregate + in-row array ops (the sort
    is per-group in-memory, never a shuffle; at pathological group
    sizes switch to a window + last-per-group)."""
    o = _cat(spark, sf_dir).orders
    items = F.collect_list(
        F.struct("o_orderdate", "o_orderkey", "o_orderpriority")
    )
    joined = F.array_join(
        F.transform(
            F.array_sort(items), lambda s: s["o_orderpriority"]
        ),
        "|",
    )
    return o.groupBy("o_custkey").agg(joined.alias("priorities"))


# =====================================================================
# Funnel time-to-convert quantiles
# =====================================================================

@q(
    "q_funnel_ttc",
    """
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
                   AS first_view_us,
               MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
                   AS first_purchase_us
        FROM events GROUP BY user_id
    ),
    conv AS (
        SELECT (first_purchase_us - first_view_us) / 1000000 AS ttc_s
        FROM firsts
        WHERE first_view_us IS NOT NULL
          AND first_purchase_us IS NOT NULL
          AND first_purchase_us >= first_view_us
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(FLOOR(quantile_cont(ttc_s, 0.5) + 0.5) AS BIGINT) AS p50_s,
           CAST(FLOOR(quantile_cont(ttc_s, 0.9) + 0.5) AS BIGINT) AS p90_s
    FROM conv
    """,
)
def q_funnel_ttc(spark, sf_dir):
    """Funnel latency: per-user first view -> first purchase, then the
    conversion-time distribution (count, p50, p90 in whole seconds).
    One conditional-MIN aggregate per user (no self-join of the event
    stream) + one tiny quantile over the converted-user frame. Integer
    microsecond arithmetic up to the quantile; the interpolated value is
    rounded half-up to whole seconds (floor(q+0.5) — a raw CAST would
    truncate differently across engines when the interpolation lands one
    ulp either side of an integer)."""
    ev = _cat(spark, sf_dir).events
    us = F.unix_micros("ts")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("fv"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("fp"),
    )
    conv = firsts.filter(
        F.col("fv").isNotNull()
        & F.col("fp").isNotNull()
        & (F.col("fp") >= F.col("fv"))
    ).select(((F.col("fp") - F.col("fv")) / 1000000).alias("ttc_s"))
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.floor(F.percentile("ttc_s", F.lit(0.5)) + 0.5)
        .cast("long").alias("p50_s"),
        F.floor(F.percentile("ttc_s", F.lit(0.9)) + 0.5)
        .cast("long").alias("p90_s"),
    )


# =====================================================================
# Linear multi-touch attribution
# =====================================================================

@q(
    "q_attribution_linear",
    f"""
    WITH purchases AS (
        SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pts,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS v_cents
        FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
        SELECT user_id, event_id AS click_id, epoch_us(ts) AS cts
        FROM events WHERE event_type = 'click'
    ),
    touch AS (
        SELECT p.user_id, p.purchase_id, p.v_cents, c.click_id,
               CAST(COUNT(*) OVER (PARTITION BY p.purchase_id) AS BIGINT)
                   AS k
        FROM purchases p JOIN clicks c
          ON p.user_id = c.user_id
         AND c.cts <= p.pts
         AND c.cts > p.pts - 604800000000
    )
    SELECT click_id, purchase_id,
           {_ROUND6.format(x="CAST(v_cents AS DOUBLE) / CAST(k AS DOUBLE)")}
               AS credit_cents6
    FROM touch
    """,
)
def q_attribution_linear(spark, sf_dir):
    """LINEAR multi-touch attribution (complementing last-touch,
    q_attribution_last_touch): every click in the 7 days before a
    purchase shares the purchase value equally (v/k). Entity equi-join +
    time residual builds the touch set; one window counts touches per
    conversion; exact integer cents and window counts, one final
    division. The per-user join residual is bounded by a user's 7-day
    click history — at 100 TB this is the binned-range-join shape if
    histories are heavy."""
    ev = _cat(spark, sf_dir).events
    us = F.unix_micros("ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        us.alias("pts"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("v_cents"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        us.alias("cts"),
    )
    touch = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") > F.col("pts") - F.lit(7 * 86400 * 1000000)),
    ).select(
        "purchase_id",
        "click_id",
        "v_cents",
        F.count(F.lit(1)).over(
            Window.partitionBy("purchase_id")
        ).alias("k"),
    )
    credit = F.col("v_cents").cast("double") / F.col("k").cast("double")
    return touch.select(
        "click_id", "purchase_id", stable_round6(credit).alias("credit_cents6")
    )


# =====================================================================
# Clamped running balance (sequential per-group fold)
# =====================================================================

@q(
    "q_running_clamp",
    """
    WITH RECURSIVE steps AS (
        SELECT user_id, event_id,
               CASE WHEN event_type = 'purchase'
                    THEN -CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
                    ELSE  CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
               END AS delta,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    walk AS (
        SELECT user_id, event_id, rn,
               GREATEST(CAST(0 AS BIGINT), delta) AS bal
        FROM steps WHERE rn = 1
        UNION ALL
        SELECT s.user_id, s.event_id, s.rn,
               GREATEST(CAST(0 AS BIGINT), w.bal + s.delta) AS bal
        FROM walk w JOIN steps s
          ON s.user_id = w.user_id AND s.rn = w.rn + 1
    )
    SELECT user_id, event_id, bal FROM walk
    """,
)
def q_running_clamp(spark, sf_dir):
    """Clamped running balance per user (inventory/credit semantics:
    balance never goes below zero, so the clamp feeds back into the next
    step) — a genuinely SEQUENTIAL per-group fold that no window frame
    can express (max(0, prev + delta) is not associative over prefixes).
    Executed as ONE shuffle on the group key + an Arrow-batched
    applyInPandas fold in event order; the oracle is a per-step
    recursive CTE. Integer cents end-to-end — the second fully-oracled
    pandas-UDF operator (after q_zscore_pandas) and the first with
    loop-carried state."""
    import pandas as pd

    ev = _cat(spark, sf_dir).events
    delta = F.when(
        F.col("event_type") == "purchase",
        -F.floor(F.col("value") * 100.0 + 0.5).cast("long"),
    ).otherwise(F.floor(F.col("value") * 100.0 + 0.5).cast("long"))
    steps = ev.select(
        "user_id",
        "event_id",
        F.col("ts"),
        delta.alias("delta"),
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        bal, out = 0, []
        for d in pdf["delta"]:
            bal = max(0, bal + int(d))
            out.append(bal)
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "bal": pd.Series(out, index=pdf.index, dtype="int64"),
            }
        )

    return steps.groupBy("user_id").applyInPandas(
        fold, "user_id long, event_id long, bal long"
    )


# =====================================================================
# Market-basket lift (co-occurrence mining)
# =====================================================================

@q(
    "q_basket_lift",
    f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS oid, l_partkey AS item FROM lineitem
    ),
    n AS (SELECT CAST(COUNT(DISTINCT oid) AS BIGINT) AS n_orders FROM items),
    supp AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n_item
             FROM items GROUP BY item),
    pairs AS (
        SELECT a.item AS item_a, b.item AS item_b,
               CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM items a JOIN items b ON a.oid = b.oid AND a.item < b.item
        GROUP BY 1, 2 HAVING COUNT(*) >= 3
    )
    SELECT item_a, item_b, n_ab,
           {_ROUND6.format(
               x="CAST(n_ab AS DOUBLE) * CAST(n_orders AS DOUBLE) "
                 "/ (CAST(sa.n_item AS DOUBLE) * CAST(sb.n_item AS DOUBLE))"
           )} AS lift6
    FROM pairs
    JOIN supp sa ON sa.item = item_a
    JOIN supp sb ON sb.item = item_b
    CROSS JOIN n
    """,
)
def q_basket_lift(spark, sf_dir):
    """Market-basket association mining: part pairs co-ordered >= 3 times
    with their LIFT (P(ab)/(P(a)P(b)) — >1 means genuinely associated,
    not just both popular). Self-join of the distinct order-item set on
    the order key (pair cardinality is bounded by per-order item counts,
    ~7 for TPC-H lineitem — the A-priori support filter keeps output
    small), item supports broadcast back. Integer counts; one final
    ratio. At 100 TB: one shuffle to build baskets, pair explosion
    bounded per basket — the standard distributed FP-growth
    pre-pass."""
    li = _cat(spark, sf_dir).lineitem
    items = li.select(
        F.col("l_orderkey").alias("oid"), F.col("l_partkey").alias("item")
    ).distinct()
    n_orders = items.agg(
        F.countDistinct("oid").alias("n_orders")
    )
    supp = items.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    a = items.select("oid", F.col("item").alias("item_a"))
    b = items.select("oid", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "oid")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    sa = supp.select(
        F.col("item").alias("item_a"), F.col("n_item").alias("na")
    )
    sb = supp.select(
        F.col("item").alias("item_b"), F.col("n_item").alias("nb")
    )
    j = (
        pairs.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .crossJoin(F.broadcast(n_orders))
    )
    lift = (
        F.col("n_ab").cast("double") * F.col("n_orders").cast("double")
        / (F.col("na").cast("double") * F.col("nb").cast("double"))
    )
    return j.select(
        "item_a", "item_b", "n_ab", stable_round6(lift).alias("lift6")
    )


# =====================================================================
# Per-node clustering coefficient
# =====================================================================

@q(
    "q_graph_clustering",
    f"""
    WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
                   FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    edges AS (SELECT DISTINCT a.s AS u, b.s AS v
              FROM pairs a JOIN pairs b ON a.c = b.c AND a.s < b.s),
    sym AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
    deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg
            FROM sym GROUP BY u),
    tri AS (
        SELECT e1.u AS node, CAST(COUNT(*) AS BIGINT) AS n_tri
        FROM sym e1 JOIN sym e2
          ON e1.v = e2.u
        JOIN edges e3 ON e3.u = LEAST(e1.u, e2.v)
                     AND e3.v = GREATEST(e1.u, e2.v)
        WHERE e2.v <> e1.u
        GROUP BY e1.u
    )
    SELECT d.node, d.deg, COALESCE(t.n_tri, 0) // 2 AS n_tri,
           {_ROUND6.format(
               x="CAST(COALESCE(t.n_tri, 0) AS DOUBLE) "
                 "/ CAST(d.deg * (d.deg - 1) AS DOUBLE)"
           )} AS coeff6
    FROM deg d LEFT JOIN tri t ON t.node = d.node
    WHERE d.deg >= 2
    """,
)
def q_graph_clustering(spark, sf_dir):
    """Per-node clustering coefficient on the supplier co-trade graph:
    closed wedges at each node / (deg·(deg−1)) — the local community-
    density measure (B49 family: degrees → triangles → clustering).
    Wedges enumerate from the symmetrized edge list joined against the
    canonical (u<v) edge set for closure, so each closed wedge at a node
    counts twice (both orientations) and the /2 normalization is exact
    integer. Two shuffles (wedge join + per-node agg); the canonical
    edge set broadcasts when small."""
    cat = _cat(spark, sf_dir)
    pairs = (
        cat.lineitem.join(
            cat.orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    edges = (
        pairs.alias("a")
        .join(pairs.alias("b"), (F.col("a.c") == F.col("b.c")) & (F.col("a.s") < F.col("b.s")))
        .select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .distinct()
    )
    sym = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    e1 = sym.select(F.col("u").alias("n"), F.col("v").alias("w1"))
    e2 = sym.select(F.col("u").alias("w1"), F.col("v").alias("w2"))
    wedge = e1.join(e2, "w1").filter(F.col("w2") != F.col("n"))
    closed = wedge.join(
        edges.select(
            F.col("u").alias("cu"), F.col("v").alias("cv")
        ),
        (F.least("n", "w2") == F.col("cu"))
        & (F.greatest("n", "w2") == F.col("cv")),
    )
    tri = closed.groupBy(F.col("n").alias("node")).agg(
        F.count(F.lit(1)).alias("n_tri2")
    )
    j = deg.join(tri, "node", "left").filter(F.col("deg") >= 2)
    n_tri2 = F.coalesce(F.col("n_tri2"), F.lit(0))
    coeff = n_tri2.cast("double") / (
        F.col("deg") * (F.col("deg") - 1)
    ).cast("double")
    return j.select(
        "node",
        "deg",
        (n_tri2 / 2).cast("long").alias("n_tri"),
        stable_round6(coeff).alias("coeff6"),
    )


# =====================================================================
# Incremental join maintenance (delta processing)
# =====================================================================

@q(
    "q_join_incremental",
    f"""
    WITH base_o AS (SELECT o_orderkey, o_custkey,
                           {_CENTS_SQL.format(c="o_totalprice")} AS cents
                    FROM orders WHERE o_orderkey % 10 <> 0),
    delta_o AS (SELECT o_orderkey, o_custkey,
                       {_CENTS_SQL.format(c="o_totalprice")} AS cents
                FROM orders WHERE o_orderkey % 10 = 0),
    base_c AS (SELECT c_custkey, c_mktsegment FROM customer
               WHERE c_custkey % 7 <> 0),
    delta_c AS (SELECT c_custkey, c_mktsegment FROM customer
                WHERE c_custkey % 7 = 0)
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM (SELECT * FROM base_o UNION ALL SELECT * FROM delta_o) o
    JOIN (SELECT * FROM base_c UNION ALL SELECT * FROM delta_c) c
      ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def q_join_incremental(spark, sf_dir):
    """INCREMENTAL JOIN MAINTENANCE (delta processing / IVM): with base
    relations A, B and insert deltas ΔA, ΔB, the engine maintains
    (A∪ΔA) ⋈ (B∪ΔB) as  A⋈B  +  ΔA⋈B + A⋈ΔB + ΔA⋈ΔB — three
    DELTA-SIDED joins instead of re-joining the full inputs (each delta
    term broadcasts its delta side; the 100 TB base is scanned, never
    shuffled, and A⋈B is the previously-materialized result a real
    deployment reads back). The oracle computes the full join of the
    unions, so the gate proves the delta algebra loses/duplicates
    nothing. Companion to q_agg_incremental (aggregate IVM) — this is
    the join half of view maintenance."""
    o = _cat(spark, sf_dir).orders.select(
        "o_orderkey", "o_custkey", _cents("o_totalprice").alias("cents")
    )
    c = _cat(spark, sf_dir).customer.select("c_custkey", "c_mktsegment")
    base_o = o.filter(F.col("o_orderkey") % 10 != 0)
    delta_o = o.filter(F.col("o_orderkey") % 10 == 0)
    base_c = c.filter(F.col("c_custkey") % 7 != 0)
    delta_c = c.filter(F.col("c_custkey") % 7 == 0)
    on = F.col("o_custkey") == F.col("c_custkey")
    maintained = (
        base_o.join(base_c, on)                      # previously materialized
        .unionByName(base_o.join(F.broadcast(delta_c), on))
        .unionByName(delta_o.join(base_c, on))       # delta side broadcasts
        .unionByName(F.broadcast(delta_o).join(delta_c, on))
    )
    return maintained.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sum_cents"),
    )


# =====================================================================
# Product-quantization ANN (compressed index + exact re-rank)
# =====================================================================

@q("q_cosine_pq")  # rows-only: approximate by design (recall pinned in pytest)
def q_cosine_pq(spark, sf_dir):
    """B32 ext: PRODUCT-QUANTIZATION top-k (Jégou et al.) — the
    compressed-index ANN path completing exact / LSH / IVF: vectors
    encode to 16 subspace codes (16 bytes vs 256 — a 16x smaller
    index), queries score codes via a broadcast dot-product TABLE with
    a pure-JVM fold (no floats decoded in the corpus path), and a
    50-deep shortlist re-ranks EXACTLY (the production ADC+rerank
    shape: recall@10 >= 0.8 pinned by pytest, vs ~0.4 raw ADC on
    near-random vectors). Codebooks are sample-trained and
    deterministic (no RNG — stable under repartitioning, pinned)."""
    from etl_data_processor_spark.ops.similarity import (
        pq_cosine_topk,
        train_pq_codebooks,
    )

    emb = read_parquet_memo(spark, f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id").isin([0, 1, 2]))
    from etl_data_processor_spark.ops.similarity import cached_model

    books = cached_model(
        spark,
        ("pq", sf_dir, 16, 16),
        lambda: train_pq_codebooks(emb, m_sub=16, k_codes=16),
        sources=(f"{sf_dir}/embeddings.parquet",),
    )
    # persisted code table (the compressed index artifact) — fingerprint-
    # keyed so retrained codebooks auto-invalidate the on-disk codes
    from etl_data_processor_spark.ops.dedup import cached_df
    from etl_data_processor_spark.ops.similarity import (
        model_fingerprint,
        pq_encode,
    )

    from etl_data_processor_spark.ops.dedup import source_signature

    codes = cached_df(
        spark,
        (sf_dir, "pq_codes", model_fingerprint(books),
         source_signature(f"{sf_dir}/embeddings.parquet")),
        lambda: pq_encode(emb, books),
        materialize=True,
        sources=(f"{sf_dir}/embeddings.parquet",),
        # per-row derivation under a FIXED codebook -> append-only corpus
        # growth rebuilds as read(ancestor) UNION pq_encode(new files);
        # the params check (key minus signature) refuses ancestors built
        # under a different codebook fingerprint (VERDICT r5 item 5)
        family=f"{sf_dir}:pq_codes",
        delta_builder=lambda files: pq_encode(
            spark.read.parquet(*files), books
        ),
    )
    return pq_cosine_topk(emb, queries, books, k=10, rerank=50, codes=codes)


def ivfpq_index_artifact(spark, sf_dir):
    """Train-or-load the IVF×PQ models and ensure the persisted
    (vec_id, codes, __list) CODE index artifact exists. Returns
    ``(cents, books, index, key)`` where ``key`` is the cached_df key of
    the code table — ~m_sub bytes/vector instead of 4·dim (the 16×
    compression that makes the 100 TB index NOT corpus-sized). Shared
    by q_cosine_ivfpq (session-cached read) and the round-10 served
    hybrid (queries_r10._ivfpq_topk_served, which reads the artifact
    RAW so the probed-list filter pushes into the parquet scan)."""
    from etl_data_processor_spark.ops.dedup import (
        cached_df,
        source_signature,
    )
    from etl_data_processor_spark.ops.similarity import (
        cached_model,
        ivf_assign_argmax,
        model_fingerprint,
        pq_encode,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    emb = read_parquet_memo(spark, f"{sf_dir}/embeddings.parquet")
    cents = cached_model(
        spark,
        ("ivfpq-cents", sf_dir, 16),
        lambda: train_ivf_centroids(emb, n_lists=16),
        sources=(f"{sf_dir}/embeddings.parquet",),
    )
    books = cached_model(
        spark,
        ("pq", sf_dir, 16, 16),
        lambda: train_pq_codebooks(emb, m_sub=16, k_codes=16),
        sources=(f"{sf_dir}/embeddings.parquet",),
    )

    def build_index(src=None):
        d = emb if src is None else src
        assigned = ivf_assign_argmax(
            d.select("vec_id", "embedding"), cents
        ).select("vec_id", "__list")
        return pq_encode(d, books).join(assigned, "vec_id")

    key = (sf_dir, "ivfpq_index", model_fingerprint(cents),
           model_fingerprint(books),
           source_signature(f"{sf_dir}/embeddings.parquet"))
    index = cached_df(
        spark,
        key,
        build_index,
        materialize=True,
        sources=(f"{sf_dir}/embeddings.parquet",),
        # assignment + encoding are both per-row under fixed models:
        # append-only growth re-derives only the appended files
        family=f"{sf_dir}:ivfpq_index",
        delta_builder=lambda files: build_index(
            spark.read.parquet(*files)
        ),
    )
    return cents, books, index, key


@q("q_cosine_ivfpq")  # rows-only: approximate by design (recall pinned in pytest)
def q_cosine_ivfpq(spark, sf_dir):
    """B32 capstone (VERDICT r2 item 8): IVF x PQ — coarse inverted-file
    pruning (queries touch ~n_probe/n_lists of the corpus) + 16-byte PQ
    codes scored by the broadcast ADC dot-table inside the pruned scan +
    exact re-rank of the shortlist. The production 100 TB ANN shape: the
    (id, list, codes) index is what a list-partitioned parquet index
    materializes; recall@10 >= 0.8 pinned in pytest
    (tests/test_dedup_similarity.py::test_ivfpq_recall_vs_exact)."""
    from etl_data_processor_spark.ops.similarity import ivfpq_cosine_topk

    emb = read_parquet_memo(spark, f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id").isin([0, 1, 2]))
    cents, books, index, _key = ivfpq_index_artifact(spark, sf_dir)
    return ivfpq_cosine_topk(
        emb, queries, k=10, n_lists=16, n_probe=8, rerank=50,
        centroids=cents, books=books, index=index,
    )


# =====================================================================
# CDC change-stream compaction (last-write-wins per key)
# =====================================================================

@q(
    "q_cdc_compact_batch",
    f"""
    SELECT user_id, event_id, event_type,
           {_CENTS_SQL.format(c="value")} AS v_cents
    FROM (
        SELECT user_id, event_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rk
        FROM events
    ) WHERE rk = 1
    """,
)
def q_cdc_compact_batch(spark, sf_dir):
    """CDC change-stream COMPACTION (last-write-wins): collapse a raw
    change stream to at most one change per key — the documented
    precondition of ops.cdc.apply_changes and tableformat.merge
    ('at most one change per key; enforce upstream with a last-write-
    wins window'). One window shuffle on the key with a total (ts,
    event_id) order; at 100 TB this runs per micro-batch on
    batch-sized data, never on the accumulated stream."""
    ev = _cat(spark, sf_dir).events
    rk = F.row_number().over(
        Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
    )
    return (
        ev.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            "event_id",
            "event_type",
            _cents("value").alias("v_cents"),
        )
    )


# =====================================================================
# Maximum drawdown per entity
# =====================================================================

@q(
    "q_drawdown",
    f"""
    WITH seq AS (
        SELECT user_id,
               {_CENTS_SQL.format(c="value")} AS v,
               CAST(MAX(FLOOR(value * 100.0 + 0.5)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS peak
        FROM events
    )
    SELECT user_id, CAST(MAX(peak - v) AS BIGINT) AS max_drawdown_cents
    FROM seq GROUP BY user_id
    """,
)
def q_drawdown(spark, sf_dir):
    """Maximum drawdown per user (the classic risk metric: largest drop
    from a running peak): running-max window then one aggregate —
    fully window-expressible (unlike the clamped balance, the peak does
    NOT feed back into the series), integer cents end-to-end."""
    ev = _cat(spark, sf_dir).events
    v = _cents("value")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = ev.select(
        "user_id", v.alias("v"), F.max(v).over(w).alias("peak")
    )
    return seq.groupBy("user_id").agg(
        F.max(F.col("peak") - F.col("v")).alias("max_drawdown_cents")
    )


# =====================================================================
# Market concentration (HHI)
# =====================================================================

@q(
    "q_hhi",
    f"""
    WITH spend AS (
        SELECT c_mktsegment AS segment, o_custkey,
               CAST(SUM(FLOOR(o_totalprice)) AS BIGINT) AS dollars
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    ),
    m AS (
        SELECT segment,
               CAST(SUM(dollars * dollars) AS BIGINT) AS ss,
               CAST(SUM(dollars) AS BIGINT) AS tot,
               CAST(COUNT(*) AS BIGINT) AS n_actors
        FROM spend GROUP BY 1
    )
    SELECT segment, n_actors,
           {_ROUND6.format(
               x="CAST(ss AS DOUBLE) "
                 "/ (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE))"
           )} AS hhi6
    FROM m
    """,
)
def q_hhi(spark, sf_dir):
    """Herfindahl-Hirschman concentration index per market segment:
    Σ share_i² computed WITHOUT materializing shares — ss/tot² with
    exact integer dollar moments (one customer-level aggregate, one
    segment-level aggregate, both partial+final; the division is the
    only float op). HHI → 1/n means competitive, → 1 means
    concentrated — the skew diagnosis for revenue the way
    q_skew_diagnose is for keys."""
    cat = _cat(spark, sf_dir)
    spend = (
        cat.orders.join(
            cat.customer,
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"), F.col("o_custkey")
        )
        .agg(F.sum(F.floor("o_totalprice")).alias("dollars"))
    )
    m = spend.groupBy("segment").agg(
        F.sum(F.col("dollars") * F.col("dollars")).alias("ss"),
        F.sum("dollars").alias("tot"),
        F.count(F.lit(1)).alias("n_actors"),
    )
    hhi = F.col("ss").cast("double") / (
        F.col("tot").cast("double") * F.col("tot").cast("double")
    )
    return m.select(
        "segment", "n_actors", stable_round6(hhi).alias("hhi6")
    )


# =====================================================================
# Kaplan-Meier survival curve (right-censored)
# =====================================================================

@q(
    "q_survival_km",
    f"""
    WITH horizon AS (SELECT MAX(CAST(ts AS DATE)) AS maxd FROM events),
    u AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view'
                        THEN CAST(ts AS DATE) END) AS fv
        FROM events GROUP BY user_id
    ),
    p AS (
        SELECT u.user_id, u.fv,
               CASE WHEN u.user_id % 11 = 0 THEN NULL
                    ELSE MIN(CASE WHEN e.event_type = 'purchase'
                             AND CAST(e.ts AS DATE) >= u.fv
                             THEN CAST(e.ts AS DATE) END)
               END AS fp
        FROM u JOIN events e ON e.user_id = u.user_id
        WHERE u.fv IS NOT NULL
        GROUP BY u.user_id, u.fv
    ),
    obs AS (
        SELECT user_id,
               CAST(CASE
                    WHEN fp IS NULL
                         THEN date_diff('day', fv, (SELECT maxd FROM horizon))
                    WHEN user_id % 5 = 0
                         THEN LEAST(date_diff('day', fv, fp), 1)
                    ELSE date_diff('day', fv, fp) END AS BIGINT) AS t,
               CASE
                    WHEN fp IS NULL THEN 0
                    WHEN user_id % 5 = 0 AND date_diff('day', fv, fp) > 1
                         THEN 0
                    ELSE 1 END AS death
        FROM p
    ),
    times AS (
        SELECT t, CAST(SUM(death) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS ending
        FROM obs GROUP BY t
    ),
    risk AS (
        SELECT t, d,
               CAST(SUM(ending) OVER (ORDER BY t DESC) AS BIGINT)
                   AS n_risk
        FROM times
    )
    SELECT CAST(t AS INTEGER) AS t, d, n_risk,
           {_ROUND6.format(
               x="EXP(SUM(LN(1.0 - CAST(d AS DOUBLE)"
                 " / CAST(n_risk AS DOUBLE))) OVER (ORDER BY t))"
           )} AS surv6
    FROM risk WHERE d > 0 AND d < n_risk
    """,
)
def q_survival_km(spark, sf_dir):
    """Kaplan-Meier survival curve of view->purchase conversion delay
    with PROPER right censoring: non-converters stay AT-RISK until the
    observation horizon (death = 0 at horizon - first_view) — dropping
    them would make the curve conditional on eventual conversion, the
    very ECDF bias KM exists to fix. The fixture's users all convert,
    so two deterministic masks supply live censoring paths (the
    q_impute_median synthetic-mask precedent): user_id%11==0 users'
    purchases are treated unobserved (censored at horizon) and
    user_id%5==0 users drop out after day 1. At-risk counts come from
    ONE descending cumulative window over per-time tallies (no user
    self-join); the sequential survival product is the exp-sum-log
    identity over a window with DETERMINISTIC order — two window
    passes over a delay-bounded frame regardless of user count.
    ln/exp agree across engines to <=1 ulp/term; 6-decimal stable
    rounding absorbs the tail. Times with d = n_risk (ln(0)) are
    excluded with the same predicate both sides."""
    ev = _cat(spark, sf_dir).events
    d_ts = F.col("ts").cast("date")
    horizon = ev.agg(F.max(d_ts).alias("maxd"))
    u = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", d_ts)).alias("fv")
    ).filter(F.col("fv").isNotNull())
    p = (
        ev.join(u, "user_id")
        .groupBy("user_id", "fv")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (d_ts >= F.col("fv")),
                    d_ts,
                )
            ).alias("fp0")
        )
        .select(
            "user_id",
            "fv",
            F.when(F.col("user_id") % 11 == 0, F.lit(None)).otherwise(
                F.col("fp0")
            ).alias("fp"),
        )
        .crossJoin(F.broadcast(horizon))
    )
    delay = F.datediff("fp", "fv")
    t = (
        F.when(F.col("fp").isNull(), F.datediff("maxd", "fv"))
        .when(F.col("user_id") % 5 == 0, F.least(delay, F.lit(1)))
        .otherwise(delay)
        .cast("long")
    )
    death = (
        F.when(F.col("fp").isNull(), F.lit(0))
        .when((F.col("user_id") % 5 == 0) & (delay > 1), F.lit(0))
        .otherwise(F.lit(1))
    )
    obs = p.select("user_id", t.alias("t"), death.alias("death"))
    times = obs.groupBy("t").agg(
        F.sum("death").alias("d"), F.count(F.lit(1)).alias("ending")
    )
    w_desc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = times.select(
        "t", "d", F.sum("ending").over(w_desc).alias("n_risk")
    )
    w_asc = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    surv = F.exp(
        F.sum(
            F.log(
                F.lit(1.0)
                - F.col("d").cast("double") / F.col("n_risk").cast("double")
            )
        ).over(w_asc)
    )
    return (
        risk.filter((F.col("d") > 0) & (F.col("d") < F.col("n_risk")))
        .select(
            F.col("t").cast("int").alias("t"),
            "d",
            "n_risk",
            stable_round6(surv).alias("surv6"),
        )
    )


# =====================================================================
# Shannon entropy per group
# =====================================================================

@q(
    "q_entropy",
    f"""
    WITH c AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(COUNT(*)) OVER (PARTITION BY source) AS BIGINT)
                   AS tot
        FROM documents GROUP BY source, lang
    )
    SELECT source,
           {_ROUND6.format(
               x="-CAST(SUM(CAST(FLOOR(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)"
                 " * LN(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))"
                 " * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)"
                 " / 1000000000000.0"
           )} AS entropy6
    FROM c GROUP BY source
    """,
)
def q_entropy(spark, sf_dir):
    """Shannon entropy of the language mix per source — the diversity /
    data-quality screen (entropy 0 = monolingual source; ln|langs| =
    uniform). Exact integer counts from one aggregate; -Σ p ln p is the
    only float stage, an identical IEEE sequence both engines. Two
    partial+final aggregates, no shuffle of raw documents beyond the
    first."""
    d = _cat(spark, sf_dir).documents
    c = (
        d.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "tot", F.sum("n").over(Window.partitionBy("source"))
        )
    )
    pr = F.col("n").cast("double") / F.col("tot").cast("double")
    # each term quantizes to 1e-12 fixed point BEFORE the sum: integer
    # summation is order-independent (a raw float SUM depends on
    # partition order — the ops/exact discipline)
    tq = F.floor(pr * F.log(pr) * F.lit(1e12) + F.lit(0.5)).cast("long")
    return (
        c.groupBy("source")
        .agg(F.sum(tq).alias("__hq"))
        .select(
            "source",
            stable_round6(
                -(F.col("__hq").cast("double") / F.lit(1e12))
            ).alias("entropy6"),
        )
    )


# =====================================================================
# Mutual information between two categoricals
# =====================================================================

@q(
    "q_mutual_info",
    f"""
    WITH joint AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS nxy
        FROM documents GROUP BY source, lang
    ),
    mx AS (SELECT source, CAST(SUM(nxy) AS BIGINT) AS nx
           FROM joint GROUP BY source),
    my AS (SELECT lang, CAST(SUM(nxy) AS BIGINT) AS ny
           FROM joint GROUP BY lang),
    n AS (SELECT CAST(SUM(nxy) AS BIGINT) AS tot FROM joint)
    SELECT {_ROUND6.format(
        x="CAST(SUM(CAST(FLOOR(CAST(nxy AS DOUBLE) / CAST(tot AS DOUBLE)"
          " * LN(CAST(nxy AS DOUBLE) * CAST(tot AS DOUBLE)"
          " / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)))"
          " * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)"
          " / 1000000000000.0"
    )} AS mi6
    FROM joint JOIN mx USING (source) JOIN my USING (lang) CROSS JOIN n
    """,
)
def q_mutual_info(spark, sf_dir):
    """Mutual information I(source; lang) — does the source predict the
    language? (0 = independent; the feature-selection statistic.) Joint
    counts from one aggregate; the two marginals re-aggregate the TINY
    joint table (never the corpus) and broadcast back; Σ p_xy ln(p_xy /
    p_x p_y) is the only float stage, written as one shared IEEE
    sequence. Everything after the first aggregate is
    contingency-table-sized."""
    d = _cat(spark, sf_dir).documents
    joint = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("nxy")
    )
    mx = joint.groupBy("source").agg(F.sum("nxy").alias("nx"))
    my = joint.groupBy("lang").agg(F.sum("nxy").alias("ny"))
    n = joint.agg(F.sum("nxy").alias("tot"))
    j = (
        joint.join(F.broadcast(mx), "source")
        .join(F.broadcast(my), "lang")
        .crossJoin(F.broadcast(n))
    )
    term = (
        F.col("nxy").cast("double") / F.col("tot").cast("double")
    ) * F.log(
        F.col("nxy").cast("double")
        * F.col("tot").cast("double")
        / (F.col("nx").cast("double") * F.col("ny").cast("double"))
    )
    # fixed-point term quantization -> order-independent integer sum
    # (the ops/exact discipline; a raw float SUM is partition-order
    # dependent)
    tq = F.floor(term * F.lit(1e12) + F.lit(0.5)).cast("long")
    return j.agg(
        stable_round6(
            F.sum(tq).cast("double") / F.lit(1e12)
        ).alias("mi6")
    )


# =====================================================================
# BM25 ranked retrieval
# =====================================================================

_BM25_TERMS = ("spark", "hash", "window")


@q(
    "q_bm25",
    f"""
    WITH tf AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ) GROUP BY doc_id, token
    ),
    dl AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        FROM documents
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS sum_dl
        FROM dl
    ),
    df AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf
        WHERE token IN {_BM25_TERMS!r}
        GROUP BY token
    ),
    scored AS (
        SELECT t.doc_id,
               CAST(FLOOR(
                 LN(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE)
                           + 0.5) / (CAST(f.df AS DOUBLE) + 0.5))
                 * (CAST(t.tf AS DOUBLE) * 2.2)
                 / (CAST(t.tf AS DOUBLE)
                    + 1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE)
                             * CAST(s.n_docs AS DOUBLE)
                             / CAST(s.sum_dl AS DOUBLE)))
                 * 1000000000000.0 + 0.5) AS BIGINT) AS termscore_q
        FROM tf t
        JOIN df f USING (token)
        JOIN dl d ON d.doc_id = t.doc_id
        CROSS JOIN stats s
    )
    SELECT doc_id,
           {_ROUND6.format(
               x="CAST(SUM(termscore_q) AS DOUBLE) / 1000000000000.0"
           )} AS bm25_6
    FROM scored GROUP BY doc_id
    ORDER BY SUM(termscore_q) DESC, doc_id LIMIT 20
    """,
)
def q_bm25(spark, sf_dir):
    """BM25 ranked retrieval (Robertson-Sparck Jones, k1=1.2 b=0.75) for
    a fixed term set — the standard lexical search scorer the TF-IDF
    family leads to. Plan: one tf aggregate, a TERM-SET-bounded df
    table (broadcast), doc lengths + corpus stats (scalar broadcast),
    score inside codegen. Per-term float scores quantize to 1e-12
    fixed point before the per-doc INTEGER sum (order-independent, the
    ops/exact discipline); top-20 with deterministic tiebreak. At
    100 TB: everything after the tf aggregate is vocabulary- or
    query-bounded."""
    d = _cat(spark, sf_dir).documents
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dl = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    df = (
        tf.filter(F.col("token").isin(*_BM25_TERMS))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    s = (
        tf.join(F.broadcast(df), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        F.lit(1.0)
        + (
            F.col("n_docs").cast("double")
            - F.col("df").cast("double")
            + F.lit(0.5)
        )
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    norm = F.lit(1.2) * (
        F.lit(0.25)
        + F.lit(0.75)
        * F.col("dl").cast("double")
        * F.col("n_docs").cast("double")
        / F.col("sum_dl").cast("double")
    )
    score = (
        idf
        * (F.col("tf").cast("double") * F.lit(2.2))
        / (F.col("tf").cast("double") + norm)
    )
    tq = F.floor(score * F.lit(1e12) + F.lit(0.5)).cast("long")
    agg = s.select("doc_id", tq.alias("tsq")).groupBy("doc_id").agg(
        F.sum("tsq").alias("sq")
    )
    return (
        agg.orderBy(F.col("sq").desc(), "doc_id")
        .limit(20)
        .select(
            "doc_id",
            stable_round6(
                F.col("sq").cast("double") / F.lit(1e12)
            ).alias("bm25_6"),
        )
    )


# =====================================================================
# Bollinger bands (rolling mean ± 2σ, exact moments)
# =====================================================================

@q(
    "q_bollinger",
    f"""
    WITH m AS (
        SELECT event_type, event_id,
               COUNT(*) OVER w AS n,
               SUM(v) OVER w AS sx,
               SUM(v*v) OVER w AS sxx,
               v
        FROM (SELECT event_type, event_id, ts,
                     {_CENTS_SQL.format(c="value")} AS v
              FROM events)
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, event_id,
           {_ROUND6.format(x="CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)")}
               AS mid6,
           {_ROUND6.format(
               x="CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)"
                 " + 2.0 * SQRT(CAST(n*sxx - sx*sx AS DOUBLE))"
                 " / CAST(n AS DOUBLE)"
           )} AS upper6,
           CAST((v * n > sx + 2 * CAST(FLOOR(
                SQRT(CAST(n*sxx - sx*sx AS DOUBLE)) + 0.5) AS BIGINT))
                AS INTEGER) AS breakout
    FROM m WHERE n = 20
    """,
)
def q_bollinger(spark, sf_dir):
    """Bollinger bands over the value series per event type: rolling
    20-row mean ± 2σ from EXACT integer moments (one window pass), and
    an integer-exact breakout flag — v > mean + 2σ is tested as
    v·n > sx + 2·round(sqrt(n·sxx − sx²)) so the signal itself never
    depends on float formatting (the band columns are display values,
    stable-rounded). Same moment technique as q_win_rolling_corr.
    Scale shape: the 20-row rolling frame runs through
    ops/prefix.bounded_window_frame — a plain `... OVER (PARTITION BY
    event_type ORDER BY ts ROWS 19 PRECEDING)` single-tasks each type's
    whole series; here the moments accumulate per (type, 1024-row
    position bucket) with a 19-row boundary replica per bucket, exact
    by the bucket-containment argument in the helper's docstring."""
    from etl_data_processor_spark.ops.prefix import (
        bounded_window_frame,
        equidepth_chunk,
    )

    ev = _cat(spark, sf_dir).events
    v = _cents("value")
    base = ev.select(
        "event_type",
        "event_id",
        "ts",
        v.alias("v"),
        F.unix_micros("ts").alias("us"),
    )
    pb, chunk = equidepth_chunk(base, "us")
    frame, spec, emit = bounded_window_frame(
        pb, ["event_type"], ["ts", "event_id"], chunk, lookback=19
    )
    w = spec.rowsBetween(-19, 0)
    m = frame.select(
        "event_type",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("v").over(w).alias("sx"),
        F.sum(F.col("v") * F.col("v")).over(w).alias("sxx"),
        "v",
        emit.alias("__emit"),
    ).filter(F.col("__emit") & (F.col("n") == 20))
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    var_q = (n * sxx - sx * sx).cast("double")
    mid = sx.cast("double") / n.cast("double")
    upper = mid + F.lit(2.0) * F.sqrt(var_q) / n.cast("double")
    sigma_int = F.floor(F.sqrt(var_q) + F.lit(0.5)).cast("long")
    breakout = (
        F.col("v") * n > sx + F.lit(2) * sigma_int
    ).cast("int")
    return m.select(
        "event_type",
        "event_id",
        stable_round6(mid).alias("mid6"),
        stable_round6(upper).alias("upper6"),
        breakout.alias("breakout"),
    )


# =====================================================================
# Rank movers (week-over-week rank deltas)
# =====================================================================

@q(
    "q_rank_movers",
    f"""
    WITH wk AS (
        SELECT o_custkey,
               CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
               CAST(SUM({_CENTS_SQL.format(c="o_totalprice")}) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1, 2
    ),
    ranked AS (
        SELECT o_custkey, week,
               CAST(RANK() OVER (PARTITION BY week
                                 ORDER BY cents DESC, o_custkey)
                    AS BIGINT) AS rk
        FROM wk
    ),
    delta AS (
        SELECT o_custkey, week, rk,
               LAG(rk) OVER (PARTITION BY o_custkey ORDER BY week)
                   AS prev_rk,
               LAG(week) OVER (PARTITION BY o_custkey ORDER BY week)
                   AS prev_week
        FROM ranked
    )
    SELECT o_custkey, week, rk, prev_rk,
           prev_rk - rk AS rank_gain
    FROM delta
    WHERE prev_rk IS NOT NULL
      AND date_diff('day', prev_week, week) = 7
      AND ABS(prev_rk - rk) >= 25
    """,
)
def q_rank_movers(spark, sf_dir):
    """Movers-and-shakers: weekly customer revenue leaderboard rank
    deltas between ADJACENT calendar weeks (a return after an absence
    is excluded), reporting entities that moved >= 25 positions. Two windows (per-week rank over the small weekly aggregate,
    per-customer lag over the week sequence); deterministic tiebreak.
    The leaderboard frame is aggregate-sized — the fact table shuffles
    once into the weekly rollup."""
    o = _cat(spark, sf_dir).orders
    wk = o.groupBy(
        "o_custkey",
        F.date_trunc("week", "o_orderdate").cast("date").alias("week"),
    ).agg(F.sum(_cents("o_totalprice")).alias("cents"))
    rk = F.rank().over(
        Window.partitionBy("week").orderBy(
            F.col("cents").desc(), F.col("o_custkey")
        )
    ).cast("long")
    ranked = wk.select("o_custkey", "week", rk.alias("rk"))
    w_seq = Window.partitionBy("o_custkey").orderBy("week")
    delta = ranked.select(
        "o_custkey",
        "week",
        "rk",
        F.lag("rk").over(w_seq).alias("prev_rk"),
        F.lag("week").over(w_seq).alias("prev_week"),
    )
    return delta.filter(
        F.col("prev_rk").isNotNull()
        # adjacent CALENDAR weeks only: a comeback after a gap is not a
        # week-over-week move
        & (F.datediff("week", "prev_week") == 7)
        & (F.abs(F.col("prev_rk") - F.col("rk")) >= 25)
    ).select(
        "o_custkey",
        "week",
        "rk",
        "prev_rk",
        (F.col("prev_rk") - F.col("rk")).alias("rank_gain"),
    )


# =====================================================================
# Peak concurrency (sweep-line over intervals)
# =====================================================================

@q(
    "q_peak_concurrency",
    f"""
    WITH iv AS (
        SELECT event_type,
               epoch_us(ts) AS s,
               epoch_us(ts) + {_CENTS_SQL.format(c="value")}
                   * 1000000 AS e,
               event_id
        FROM events
    ),
    pts AS (
        SELECT event_type, s AS t, 1 AS delta, 1 AS tb, event_id FROM iv
        UNION ALL
        SELECT event_type, e AS t, -1 AS delta, 0 AS tb, event_id FROM iv
    ),
    swept AS (
        SELECT event_type,
               SUM(delta) OVER (PARTITION BY event_type
                                ORDER BY t, tb, delta, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS live,
               t
        FROM pts
    )
    SELECT event_type,
           CAST(MAX(live) AS BIGINT) AS peak,
           CAST(MIN(CASE WHEN live > 0 THEN t END) AS BIGINT)
               AS first_busy_us
    FROM swept GROUP BY event_type
    """,
)
def q_peak_concurrency(spark, sf_dir):
    """Peak concurrency per event type — the classic SWEEP-LINE: each
    event holds a session of `value` seconds; intervals explode to
    (+1 at start, -1 at end) points, a cumulative window sum walks the
    timeline, and MAX(live) is the peak overlap (capacity planning /
    rate-limit sizing). Half-open [s, e) intervals: ends sort BEFORE
    starts at equal t (tb 0 < 1), so a session ending exactly when
    another begins is NOT double-counted; event_id totalizes the
    order. One narrow explode + one cumulative pass + one aggregate.
    Scale shape: the timeline walk runs through ops/prefix.chunked_cumsum
    with series_cols — a plain `SUM OVER (PARTITION BY event_type ORDER
    BY t)` single-tasks each type's whole point stream (exactly the
    family the ops/prefix docstring names); equi-depth time boundaries
    give monotone, tie-safe chunks within every series."""
    ev = _cat(spark, sf_dir).events
    us = F.unix_micros("ts")
    dur = _cents("value") * F.lit(1000000)
    iv = ev.select(
        "event_type", us.alias("s"), (us + dur).alias("e"), "event_id"
    )
    pts = iv.select(
        "event_type",
        F.col("s").alias("t"),
        F.lit(1).alias("delta"),
        F.lit(1).alias("tb"),
        "event_id",
    ).unionAll(
        iv.select(
            "event_type",
            F.col("e").alias("t"),
            F.lit(-1).alias("delta"),
            F.lit(0).alias("tb"),
            "event_id",
        )
    )
    from etl_data_processor_spark.ops.prefix import (
        chunked_cumsum,
        equidepth_chunk,
    )

    pb, chunk = equidepth_chunk(pts, "t")
    swept = chunked_cumsum(
        pb,
        series_cols=["event_type"],
        order_cols=["t", "tb", "delta", "event_id"],
        val_col="delta",
        chunk_col=chunk,
        out_col="live",
    ).select("event_type", "live", "t")
    return swept.groupBy("event_type").agg(
        F.max("live").alias("peak"),
        F.min(F.when(F.col("live") > 0, F.col("t"))).alias(
            "first_busy_us"
        ),
    )


# =====================================================================
# Running total via the distributed two-phase prefix sum
# =====================================================================

@q(
    "q_running_total_chunked",
    f"""
    SELECT user_id, event_id,
           CAST(SUM({_CENTS_SQL.format(c="value")}) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS running_cents
    FROM events
    """,
)
def q_running_total_chunked(spark, sf_dir):
    """Per-user running spend computed with the DISTRIBUTED two-phase
    prefix sum (ops/prefix.py::chunked_cumsum, weekly chunks — five on the
    fixture, so the offset phase is genuinely exercised) instead
    of a single per-user window — the oracle is the plain cumulative
    window, so the gate PROVES the chunked decomposition is value-exact
    while bounding any one task's sort to a week of one user's events
    (the 100 TB shape for hot series; see SCALE.md)."""
    from etl_data_processor_spark.ops.prefix import chunked_cumsum

    ev = _cat(spark, sf_dir).events.select(
        "user_id", "event_id", "ts", _cents("value").alias("v")
    )
    out = chunked_cumsum(
        ev,
        series_cols=["user_id"],
        order_cols=["ts", "event_id"],
        val_col="v",
        chunk_col=F.date_trunc("week", "ts").cast("date"),
        out_col="running_cents",
    )
    return out.select("user_id", "event_id", "running_cents")


# =====================================================================
# Classical time-series decomposition (trend + weekly seasonal + resid)
# =====================================================================

@q(
    "q_ts_decompose",
    f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ),
    trended AS (
        SELECT event_type, day, cnt,
               CAST(SUM(cnt) OVER w AS BIGINT) AS tsum,
               CAST(COUNT(*) OVER w AS BIGINT) AS tn,
               CAST(dayofweek(day) + 1 AS INTEGER) AS dow  -- DuckDB 0-6 -> Spark 1-7
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    detrended AS (
        -- residual vs the centered trend, scaled x7 to stay integral:
        -- 7*cnt - (7/tn)*tsum == 7*cnt - tsum when the window is full
        SELECT event_type, dow, day,
               cnt * 7 * tn - tsum * 7 AS dt_q, tn
        FROM trended WHERE tn = 7
    ),
    seasonal AS (
        SELECT event_type, dow,
               CAST(SUM(dt_q) AS BIGINT) AS s_sum,
               CAST(COUNT(*) AS BIGINT) AS s_n
        FROM detrended GROUP BY 1, 2
    )
    SELECT event_type, dow,
           {_ROUND6.format(
               x="CAST(s_sum AS DOUBLE) / (CAST(s_n AS DOUBLE) * 49.0)"
           )} AS seasonal6
    FROM seasonal
    """,
)
def q_ts_decompose(spark, sf_dir):
    """Classical additive decomposition of the daily count series per
    type: a centered 7-day moving average is the TREND; the day-of-week
    means of the detrended series are the WEEKLY SEASONAL component
    (returned per (type, dow) — the residual is then data minus both).
    Detrended values stay INTEGRAL by scaling through the window length
    (7·tn·cnt − 7·tsum), so the only float op is the final mean —
    engine-exact. Two windows + one aggregate over the day-level
    frame."""
    ev = _cat(spark, sf_dir).events
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    trended = daily.select(
        "event_type",
        "day",
        "cnt",
        F.sum("cnt").over(w).alias("tsum"),
        F.count(F.lit(1)).over(w).alias("tn"),
        F.dayofweek("day").alias("dow"),
    ).filter(F.col("tn") == 7)
    dt_q = (
        F.col("cnt") * F.lit(7) * F.col("tn")
        - F.col("tsum") * F.lit(7)
    )
    seasonal = trended.select(
        "event_type", "dow", dt_q.alias("dt_q")
    ).groupBy("event_type", "dow").agg(
        F.sum("dt_q").alias("s_sum"), F.count(F.lit(1)).alias("s_n")
    )
    val = F.col("s_sum").cast("double") / (
        F.col("s_n").cast("double") * F.lit(49.0)
    )
    return seasonal.select(
        "event_type", "dow", stable_round6(val).alias("seasonal6")
    )


# =====================================================================
# Gini coefficient of revenue concentration
# =====================================================================

@q(
    "q_gini",
    f"""
    WITH spend AS (
        SELECT c_mktsegment AS segment, o_custkey,
               CAST(SUM({_CENTS_SQL.format(c="o_totalprice")}) AS BIGINT)
                   AS cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT segment, cents,
               CAST(ROW_NUMBER() OVER (PARTITION BY segment
                                       ORDER BY cents, o_custkey)
                    AS BIGINT) AS i
        FROM spend
    ),
    m AS (
        SELECT segment,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS tot,
               CAST(SUM(i * cents) AS BIGINT) AS wsum
        FROM ranked GROUP BY 1
    )
    SELECT segment, n,
           {_ROUND6.format(
               x="(2.0 * CAST(wsum AS DOUBLE)"
                 " - (CAST(n AS DOUBLE) + 1.0) * CAST(tot AS DOUBLE))"
                 " / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE))"
           )} AS gini6
    FROM m
    """,
)
def q_gini(spark, sf_dir):
    """Gini coefficient of customer-spend concentration per segment —
    the Lorenz-curve summary next to q_hhi's sum-of-squares: with spend
    sorted ascending and ranked 1..n, G = (2·Σ i·x_i − (n+1)·Σx)/(n·Σx)
    — rank weights and sums stay exact BIGINTs, a single final float
    expression. Deterministic (cents, custkey) rank tiebreak. The
    per-segment rank runs through ops/prefix.chunked_rank with
    series_cols (PARTITION BY segment would single-task each segment's
    whole slice of the corpus — the low-cardinality-partition cousin of
    the unpartitioned-window class the registry audit hunts); global
    equi-depth cents boundaries give monotone, tie-safe chunks within
    every segment; the plain window survives as the DuckDB oracle."""
    from etl_data_processor_spark.ops.prefix import chunked_rank, equidepth_chunk

    cat = _cat(spark, sf_dir)
    spend = (
        cat.orders.join(
            cat.customer, F.col("o_custkey") == F.col("c_custkey")
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"), F.col("o_custkey")
        )
        .agg(F.sum(_cents("o_totalprice")).alias("cents"))
    )
    sb, chunk = equidepth_chunk(spend, "cents")
    ranked = chunked_rank(
        sb,
        [F.col("cents"), F.col("o_custkey")],
        chunk,
        rank_col="i",
        series_cols=["segment"],
    ).select("segment", "cents", F.col("i").cast("long").alias("i"))
    m = ranked.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("tot"),
        F.sum(F.col("i") * F.col("cents")).alias("wsum"),
    )
    n, tot, wsum = (
        F.col("n").cast("double"),
        F.col("tot").cast("double"),
        F.col("wsum").cast("double"),
    )
    gini = (F.lit(2.0) * wsum - (n + F.lit(1.0)) * tot) / (n * tot)
    return m.select("segment", "n", stable_round6(gini).alias("gini6"))


# =====================================================================
# Audience overlap (pairwise Jaccard of user sets)
# =====================================================================

@q(
    "q_audience_overlap",
    f"""
    WITH au AS (
        SELECT DISTINCT event_type, user_id FROM events
    ),
    sizes AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM au GROUP BY 1
    ),
    inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS n_both
        FROM au a JOIN au b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_both,
           {_ROUND6.format(
               x="CAST(n_both AS DOUBLE)"
                 " / CAST(sa.n + sb.n - n_both AS DOUBLE)"
           )} AS jaccard6
    FROM inter
    JOIN sizes sa ON sa.event_type = type_a
    JOIN sizes sb ON sb.event_type = type_b
    """,
)
def q_audience_overlap(spark, sf_dir):
    """Audience overlap matrix: pairwise Jaccard of the user sets behind
    each event type (|A∩B| / |A∪B| via inclusion-exclusion — the union
    is never materialized). One distinct pass, a user-keyed self-join
    bounded by per-user type counts (<= |types| per user), sizes
    broadcast back. The exact counterpart to the HLL-sketch overlap
    estimate at 100 TB (q_agg_hll_merge's registers intersect via
    inclusion-exclusion the same way)."""
    ev = _cat(spark, sf_dir).events
    au = ev.select("event_type", "user_id").distinct()
    sizes = au.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    # explicit side aliases: both sides derive from the same `au`
    # lineage, and the USING-form join of two same-lineage projections
    # fires Spark's "trivially true predicate" warning — an aliased
    # explicit equality keeps the join condition unambiguous (VERDICT
    # r7 item 7)
    a = au.select(
        F.col("event_type").alias("type_a"), "user_id"
    ).alias("__a")
    b = au.select(
        F.col("event_type").alias("type_b"), "user_id"
    ).alias("__b")
    inter = (
        a.join(b, F.col("__a.user_id") == F.col("__b.user_id"))
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("na")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("nb")
    )
    j = inter.join(F.broadcast(sa), "type_a").join(
        F.broadcast(sb), "type_b"
    )
    jac = F.col("n_both").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_both")
    ).cast("double")
    return j.select(
        "type_a", "type_b", "n_both", stable_round6(jac).alias("jaccard6")
    )


# =====================================================================
# Pareto share (top-20% contribution)
# =====================================================================

@q(
    "q_pareto_share",
    f"""
    WITH spend AS (
        SELECT c_mktsegment AS segment, o_custkey,
               CAST(SUM({_CENTS_SQL.format(c="o_totalprice")}) AS BIGINT)
                   AS cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT segment, cents,
               CAST(ROW_NUMBER() OVER (PARTITION BY segment
                                       ORDER BY cents DESC, o_custkey)
                    AS BIGINT) AS i,
               CAST(COUNT(*) OVER (PARTITION BY segment) AS BIGINT) AS n
        FROM spend
    ),
    m AS (
        SELECT segment,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS tot,
               CAST(SUM(CASE WHEN i * 5 <= n THEN cents ELSE 0 END)
                    AS BIGINT) AS top_cents
        FROM ranked GROUP BY 1
    )
    SELECT segment, n, top_cents, tot,
           {_ROUND6.format(
               x="CAST(top_cents AS DOUBLE) / CAST(tot AS DOUBLE)"
           )} AS share6
    FROM m
    """,
)
def q_pareto_share(spark, sf_dir):
    """Pareto 80/20 check: the revenue share of the top 20% of customers
    per segment (membership by the INTEGER test i·5 <= n — no float
    percentile cut). Completes the concentration trio with q_hhi and
    q_gini, and shares q_gini's scale shape: the per-segment spend rank
    runs through ops/prefix.chunked_rank with series_cols (a plain
    `ROW_NUMBER OVER (PARTITION BY segment ...)` single-tasks each
    segment's whole customer population — 5 segments at 100 TB);
    DESCENDING equi-depth cents boundaries give monotone, tie-safe
    chunks along the top-spender-first order; the per-segment count
    rides along as chunked_rank's total_col (a window over the bounded
    per-chunk counts frame, never the customer population)."""
    from etl_data_processor_spark.ops.prefix import (
        chunked_rank,
        equidepth_chunk,
    )

    cat = _cat(spark, sf_dir)
    spend = (
        cat.orders.join(
            cat.customer, F.col("o_custkey") == F.col("c_custkey")
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"), F.col("o_custkey")
        )
        .agg(F.sum(_cents("o_totalprice")).alias("cents"))
    )
    sb, chunk = equidepth_chunk(spend, "cents", descending=True)
    ranked = chunked_rank(
        sb,
        [F.col("cents").desc(), F.col("o_custkey").asc()],
        chunk,
        rank_col="i",
        total_col="n",
        series_cols=["segment"],
    ).select(
        "segment", "cents",
        F.col("i").cast("long").alias("i"), F.col("n").cast("long").alias("n"),
    )
    m = ranked.groupBy("segment").agg(
        F.max("n").alias("n"),
        F.sum("cents").alias("tot"),
        F.sum(
            F.when(F.col("i") * 5 <= F.col("n"), F.col("cents")).otherwise(
                F.lit(0)
            )
        ).alias("top_cents"),
    )
    share = F.col("top_cents").cast("double") / F.col("tot").cast("double")
    return m.select(
        "segment", "n", "top_cents", "tot",
        stable_round6(share).alias("share6"),
    )


# =====================================================================
# New vs returning users per week
# =====================================================================

@q(
    "q_new_vs_returning",
    """
    WITH wk AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', ts) AS DATE) AS week
        FROM events
    ),
    first_wk AS (
        SELECT user_id, MIN(week) AS fweek FROM wk GROUP BY user_id
    )
    SELECT w.week,
           CAST(SUM(CASE WHEN w.week = f.fweek THEN 1 ELSE 0 END)
                AS BIGINT) AS new_users,
           CAST(SUM(CASE WHEN w.week > f.fweek THEN 1 ELSE 0 END)
                AS BIGINT) AS returning_users
    FROM wk w JOIN first_wk f ON w.user_id = f.user_id
    GROUP BY w.week
    """,
)
def q_new_vs_returning(spark, sf_dir):
    """New-vs-returning weekly actives — the growth-accounting split:
    each (user, week) pair classifies against the user's first active
    week. Two aggregates over the distinct (user, week) frame; the
    first-week table is user-sized and broadcasts."""
    ev = _cat(spark, sf_dir).events
    wk = ev.select(
        "user_id",
        F.date_trunc("week", "ts").cast("date").alias("week"),
    ).distinct()
    first_wk = wk.groupBy("user_id").agg(F.min("week").alias("fweek"))
    j = wk.join(F.broadcast(first_wk), "user_id")
    return j.groupBy("week").agg(
        F.sum(
            (F.col("week") == F.col("fweek")).cast("long")
        ).alias("new_users"),
        F.sum(
            (F.col("week") > F.col("fweek")).cast("long")
        ).alias("returning_users"),
    )


# =====================================================================
# Engagement stickiness (avg DAU / WAU)
# =====================================================================

@q(
    "q_stickiness",
    f"""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
               CAST(date_trunc('week', ts) AS DATE) AS week
        FROM events
    ),
    dau AS (
        SELECT week, day, CAST(COUNT(*) AS BIGINT) AS dau
        FROM days GROUP BY week, day
    ),
    wau AS (
        SELECT week, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
        FROM days GROUP BY week
    ),
    avg_dau AS (
        SELECT week, CAST(SUM(dau) AS BIGINT) AS dau_sum,
               CAST(COUNT(*) AS BIGINT) AS n_days
        FROM dau GROUP BY week
    )
    SELECT a.week, a.dau_sum, a.n_days, w.wau,
           {_ROUND6.format(
               x="CAST(a.dau_sum AS DOUBLE)"
                 " / (CAST(a.n_days AS DOUBLE) * CAST(w.wau AS DOUBLE))"
           )} AS stickiness6
    FROM avg_dau a JOIN wau w ON a.week = w.week
    """,
)
def q_stickiness(spark, sf_dir):
    """Engagement stickiness per week: average DAU / WAU (1.0 = every
    weekly active shows up daily). Exact integer tallies over the
    distinct (user, day) frame; one distinct pass feeds both the daily
    counts and the weekly distinct-user counts. The product-analytics
    companion to cohort retention."""
    ev = _cat(spark, sf_dir).events
    days = ev.select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        F.date_trunc("week", "ts").cast("date").alias("week"),
    ).distinct()
    dau = days.groupBy("week", "day").agg(
        F.count(F.lit(1)).alias("dau")
    )
    wau = days.groupBy("week").agg(
        F.countDistinct("user_id").alias("wau")
    )
    avg_dau = dau.groupBy("week").agg(
        F.sum("dau").alias("dau_sum"), F.count(F.lit(1)).alias("n_days")
    )
    j = avg_dau.join(wau, "week")
    stick = F.col("dau_sum").cast("double") / (
        F.col("n_days").cast("double") * F.col("wau").cast("double")
    )
    return j.select(
        "week", "dau_sum", "n_days", "wau",
        stable_round6(stick).alias("stickiness6"),
    )


# =====================================================================
# Inter-order gap percentiles
# =====================================================================

@q(
    "q_order_gaps",
    """
    WITH seq AS (
        SELECT c_mktsegment AS segment,
               date_diff('day',
                         LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                                ORDER BY o_orderdate,
                                                         o_orderkey),
                         o_orderdate) AS gap
        FROM orders JOIN customer ON o_custkey = c_custkey
    )
    SELECT segment,
           CAST(COUNT(gap) AS BIGINT) AS n_gaps,
           CAST(FLOOR(quantile_cont(gap, 0.5) + 0.5) AS BIGINT) AS p50_days,
           CAST(FLOOR(quantile_cont(gap, 0.9) + 0.5) AS BIGINT) AS p90_days
    FROM seq WHERE gap IS NOT NULL
    GROUP BY segment
    """,
)
def q_order_gaps(spark, sf_dir):
    """Inter-purchase interval distribution per segment (repurchase
    cadence — the input to churn-risk cutoffs): per-customer
    consecutive-order gaps from one lag window, then count/median/p90
    per segment. Half-up quantile rounding (q_funnel_ttc's
    cross-engine-truncation lesson)."""
    cat = _cat(spark, sf_dir)
    o = cat.orders.join(
        cat.customer, F.col("o_custkey") == F.col("c_custkey")
    )
    gap = F.datediff(
        "o_orderdate",
        F.lag("o_orderdate").over(
            Window.partitionBy("o_custkey").orderBy(
                "o_orderdate", "o_orderkey"
            )
        ),
    )
    seq = o.select(
        F.col("c_mktsegment").alias("segment"), gap.alias("gap")
    ).filter(F.col("gap").isNotNull())
    return seq.groupBy("segment").agg(
        F.count("gap").alias("n_gaps"),
        F.floor(F.percentile("gap", F.lit(0.5)) + 0.5)
        .cast("long")
        .alias("p50_days"),
        F.floor(F.percentile("gap", F.lit(0.9)) + 0.5)
        .cast("long")
        .alias("p90_days"),
    )


# =====================================================================
# ABC inventory classification
# =====================================================================

@q(
    "q_abc_classification",
    f"""
    WITH rev AS (
        SELECT l_partkey,
               CAST(SUM({_CENTS_SQL.format(c="l_extendedprice")}) AS BIGINT)
                   AS cents
        FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
        SELECT l_partkey, cents,
               CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey)
                    AS BIGINT) AS cum,
               CAST(SUM(cents) OVER () AS BIGINT) AS tot
        FROM rev
    ),
    classed AS (
        SELECT l_partkey,
               CASE WHEN cum * 100 <= tot * 80 THEN 'A'
                    WHEN cum * 100 <= tot * 95 THEN 'B'
                    ELSE 'C' END AS abc_class,
               cents
        FROM ranked
    )
    SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS class_cents
    FROM classed GROUP BY abc_class
    """,
)
def q_abc_classification(spark, sf_dir):
    """ABC analysis: parts ranked by revenue, classified A/B/C at the
    cumulative 80%/95% cuts — the inventory-prioritization classic.
    Class membership is the pure INTEGER test cum·100 <= tot·80 (no
    float share), so the boundary is engine-exact.

    VERDICT r4 item 4: the registered plan is the SCALE-SAFE cumulative
    sum — ops/prefix.chunked_cumsum over equi-depth revenue chunks
    (boundaries from one exact-percentile aggregate, broadcast back; the
    chunk id is DESCENDING-monotone: count of boundaries ABOVE the
    value, so higher revenue -> lower chunk, matching the cents DESC
    order). No data-sized WindowExec; the global total is a scalar
    aggregate broadcast back. The single-window form survives as the
    DuckDB oracle cross-check."""
    li = _cat(spark, sf_dir).lineitem
    rev = li.groupBy("l_partkey").agg(
        F.sum(_cents("l_extendedprice")).alias("cents")
    )
    ps = [i / 32 for i in range(1, 32)]
    b = rev.agg(
        F.percentile("cents", F.array(*[F.lit(p) for p in ps])).alias("__bs")
    )
    joined = rev.crossJoin(F.broadcast(b))
    chunk = F.size(
        F.filter(F.col("__bs"), lambda x: F.col("cents") < x)
    ).cast("int")
    cum = chunked_cumsum(
        joined,
        series_cols=[],
        order_cols=[F.col("cents").desc(), F.col("l_partkey")],
        val_col="cents",
        chunk_col=chunk,
        out_col="cum",
    ).drop("__bs")
    tot = rev.agg(F.sum("cents").alias("tot"))
    ranked = cum.crossJoin(F.broadcast(tot))
    cls = (
        F.when(F.col("cum") * 100 <= F.col("tot") * 80, F.lit("A"))
        .when(F.col("cum") * 100 <= F.col("tot") * 95, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    return (
        ranked.select(cls.alias("abc_class"), "cents")
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").alias("class_cents"),
        )
    )
