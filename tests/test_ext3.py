"""Extension batch #3 ops: portable bloom-filter join pruning
(ops/bloom.py) and multi-source BFS (ops/graph.py::bfs_hops)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from etl_data_processor_spark.ops import bloom as B
from etl_data_processor_spark.ops.graph import bfs_hops
from tests.reference import might_contain


# ---------------------------------------------------------------- bloom

def test_bloom_has_no_false_negatives(spark):
    """Every inserted key must test positive — the property the pruned
    join's correctness rests on. Random 31-bit keys, small m to make the
    filter dense (high fp pressure, zero fn tolerance)."""
    rnd = random.Random(7)
    keys = [rnd.randrange(1 << 31) for _ in range(2000)]
    kdf = spark.createDataFrame([(k,) for k in keys], "k long")
    words = B.build_bloom(kdf, "k", m_bits=1 << 12, k=4)
    hits = (
        kdf.filter(B.might_contain_batch(words, 1 << 12, k=4)(F.col("k")))
        .count()
    )
    assert hits == len(keys)  # every row survives: zero false negatives


def test_bloom_false_positive_rate_is_sane(spark):
    """Non-member keys should mostly test negative at the default sizing
    (n=1000 keys in m=2^16 bits, k=5 -> fp well under 1%)."""
    member = spark.range(0, 1000).select(F.col("id").alias("k"))
    words = B.build_bloom(member, "k")
    probe = spark.range(1_000_000, 1_020_000).select(F.col("id").alias("k"))
    fp = probe.filter(B.might_contain_batch(words, 1 << 16)(F.col("k"))).count()
    assert fp < 200  # 1% of 20k probes; expected ~0-10


def test_bloom_pruned_join_equals_plain_join(spark):
    """Differential on random data: prune-then-join == plain join,
    bit-for-bit (no false negatives), under a deliberately tiny filter
    (dense bits -> many false positives must still be killed by the
    exact join)."""
    rnd = random.Random(13)
    fact = spark.createDataFrame(
        [(rnd.randrange(500), i) for i in range(5000)], "fk long, v long"
    )
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(0, 500, 7)], "dk long, name string"
    )
    plain = sorted(
        (r["fk"], r["v"], r["name"])
        for r in fact.join(dim, fact["fk"] == dim["dk"]).collect()
    )
    pruned = sorted(
        (r["fk"], r["v"], r["name"])
        for r in B.bloom_pruned_join(
            fact, dim, "fk", "dk", m_bits=256, k=2
        ).collect()
    )
    assert pruned == plain


def test_bloom_filter_evaluates_at_the_scan(spark):
    """The membership predicate must land in the fact side's Filter BEFORE
    the join — that is the whole point (rows die pre-exchange)."""
    fact = spark.range(0, 1000).select(F.col("id").alias("fk"))
    dim = spark.range(0, 10).select(F.col("id").alias("dk"))
    j = B.bloom_pruned_join(fact, dim, "fk", "dk")
    plan = j._jdf.queryExecution().executedPlan().toString()
    # the Arrow membership test must sit BELOW the join (physical plans
    # print top-down: a child's line comes after its parent's)
    assert "ArrowEvalPython" in plan
    assert plan.index("ArrowEvalPython") > plan.index("Join")
    assert j.count() == 10


def test_bloom_batch_path_matches_expression_path(spark):
    """The numpy membership test must be bit-identical to the
    expression form (tests/reference.py) on random keys, both member and
    non-member."""
    rnd = random.Random(31)
    keys = [rnd.randrange(1 << 31) for _ in range(3000)]
    kdf = spark.createDataFrame([(x,) for x in keys], "k long")
    member = spark.createDataFrame(
        [(x,) for x in keys[:500]], "k long"
    )
    words = B.build_bloom(member, "k", m_bits=1 << 12, k=4)
    expr = set(
        r["k"]
        for r in kdf.filter(
            might_contain(F.col("k"), words, 1 << 12, k=4)
        ).collect()
    )
    batch = set(
        r["k"]
        for r in kdf.filter(
            B.might_contain_batch(words, 1 << 12, k=4)(F.col("k"))
        ).collect()
    )
    assert expr == batch
    assert set(keys[:500]) <= batch  # no false negatives either path


# ---------------------------------------------------------------- BFS

def _naive_bfs(edges: list[tuple[int, int]], seeds: set[int], hops: int):
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for h in range(1, hops + 1):
        nxt = set()
        for u, v in edges:
            if u in frontier and v not in dist:
                nxt.add(v)
        for v in nxt:
            dist[v] = h
        frontier = nxt
    return dist


def test_bfs_matches_naive_on_random_graphs(spark):
    rnd = random.Random(99)
    for trial in range(3):
        n = 60
        edges = [
            (rnd.randrange(n), rnd.randrange(n)) for _ in range(150)
        ]
        seeds = {rnd.randrange(n) for _ in range(3)}
        e = spark.createDataFrame(edges, "src long, dst long")
        s = spark.createDataFrame([(x,) for x in seeds], "node long")
        got = {
            r["node"]: r["dist"]
            for r in bfs_hops(e, s, max_hops=4).collect()
        }
        assert got == _naive_bfs(edges, seeds, 4)


def test_bfs_early_stops_and_caps(spark):
    """A chain 0->1->...->9 from seed 0: capped at 3 hops only nodes 0..3
    appear; an isolated seed returns just itself at dist 0."""
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    s = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["dist"] for r in bfs_hops(e, s, 3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}
    iso = spark.createDataFrame([(777,)], "node long")
    got2 = {r["node"]: r["dist"] for r in bfs_hops(e, iso, 3).collect()}
    assert got2 == {777: 0}


def _naive_bf(edges, seeds, rounds):
    dist = {s: 0 for s in seeds}
    for _ in range(rounds):
        nxt = dict(dist)
        for u, v, w in edges:
            if u in dist and dist[u] + w < nxt.get(v, float("inf")):
                nxt[v] = dist[u] + w
        dist = nxt
    return dist


def test_sssp_matches_naive_bellman_ford(spark):
    from etl_data_processor_spark.ops.graph import sssp_bounded

    rnd = random.Random(5)
    for trial in range(3):
        n = 40
        edges = [
            (rnd.randrange(n), rnd.randrange(n), rnd.randrange(1, 6))
            for _ in range(120)
        ]
        seeds = {rnd.randrange(n) for _ in range(2)}
        e = spark.createDataFrame(edges, "src long, dst long, w long")
        s = spark.createDataFrame([(x,) for x in seeds], "node long")
        got = {
            r["node"]: r["dist"]
            for r in sssp_bounded(e, s, rounds=4).collect()
        }
        assert got == _naive_bf(edges, seeds, 4)


def test_sssp_prefers_cheap_long_path(spark):
    """0->2 direct costs 10; 0->1->2 costs 2 — the 2-edge path must win
    (this is exactly what a frontier-only BFS would get wrong)."""
    from etl_data_processor_spark.ops.graph import sssp_bounded

    e = spark.createDataFrame(
        [(0, 2, 10), (0, 1, 1), (1, 2, 1)], "src long, dst long, w long"
    )
    s = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["dist"] for r in sssp_bounded(e, s, 3).collect()}
    assert got == {0: 0, 1: 1, 2: 2}


def test_pit_join_plan_has_no_nested_loop(spark):
    """The point-in-time join must execute as an equi-join on the entity
    key with the interval predicate as a residual — NOT a broadcast
    nested loop (which would be quadratic at scale)."""
    import __spark_entry__ as m

    df = m.queries()["q_pit_join"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "user_id" in plan  # the equi key reached the join


def test_attribution_linear_credits_sum_to_value(spark):
    """Conservation: per purchase, the linear credits must sum back to
    the purchase's cent value (v/k paid k times; round6 per-credit
    error bounds the total drift by k * 1e-6)."""
    import __spark_entry__ as m
    from etl_data_processor_spark.io import Catalog

    sf = "/root/testdata/sf0.001"
    df = m.queries()["q_attribution_linear"](spark, sf)
    sums = {
        r["purchase_id"]: (r["total"], r["k"])
        for r in df.groupBy("purchase_id")
        .agg(F.sum("credit_cents6").alias("total"), F.count(F.lit(1)).alias("k"))
        .collect()
    }
    assert len(sums) > 0
    vals = {
        r["event_id"]: r["v"]
        for r in Catalog(spark, sf)
        .events.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("v"),
        )
        .collect()
    }
    for pid, (total, k) in sums.items():
        assert abs(total - vals[pid]) <= k * 1e-6 + 1e-9, (pid, total, vals[pid])


# ------------------------------------------------- shared-substring runs

def _naive_max_runs(texts: dict[int, str], k: int, min_run: int):
    """Quadratic reference: longest shared token run per doc pair."""
    toks = {i: t.split(" ") for i, t in texts.items()}
    out = {}
    ids = sorted(texts)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = toks[ids[ai]], toks[ids[bi]]
            best = 0
            for i in range(len(a)):
                for j in range(len(b)):
                    L = 0
                    while (
                        i + L < len(a)
                        and j + L < len(b)
                        and a[i + L] == b[j + L]
                    ):
                        L += 1
                    best = max(best, L)
            if best >= max(min_run, k):
                out[(ids[ai], ids[bi])] = best
    return out


def test_shared_ngram_runs_match_naive_on_planted_spans(spark):
    """Random word-soup docs with PLANTED shared spans: the relational
    islands algorithm must find exactly the naive quadratic answer
    (pairs and max-run lengths)."""
    from etl_data_processor_spark.ops.dedup import shared_ngram_runs

    rnd = random.Random(42)
    vocab = [f"w{i}" for i in range(50)]

    def soup(n):
        return [rnd.choice(vocab) for _ in range(n)]

    span = soup(20)  # the planted verbatim span (20 tokens)
    docs = {
        0: soup(10) + span + soup(15),
        1: soup(5) + span + soup(3),
        2: soup(8) + span[:14] + soup(12),  # shares only a prefix of it
        3: soup(40),  # no planted overlap
        4: span + span,  # repeated span (self-overlap diagonals)
    }
    texts = {i: " ".join(t) for i, t in docs.items()}
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["max_run"]
        for r in shared_ngram_runs(df, k=8, min_run=12).collect()
    }
    want = _naive_max_runs(texts, k=8, min_run=12)
    assert got == want, (got, want)
    # sanity on the construction itself: the planted pairs are present
    assert got[(0, 1)] >= 20 and (0, 4) in got


# -------------------------------------------------- distributed prefix

def test_chunked_cumsum_equals_plain_window(spark):
    """Two-phase distributed prefix sum must be bit-identical to the
    single-window cumulative sum (random series, random monotone-ish
    timestamps, monthly chunks)."""
    from pyspark.sql import Window

    from etl_data_processor_spark.ops.prefix import chunked_cumsum

    rnd = random.Random(77)
    rows = [
        (rnd.randrange(4), rnd.randrange(1, 400), i, rnd.randrange(-5, 9))
        for i in range(4000)
    ]
    df = spark.createDataFrame(
        rows, "series long, day long, seq long, x long"
    )
    w = (
        Window.partitionBy("series")
        .orderBy("day", "seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    plain = {
        (r["series"], r["seq"]): r["c"]
        for r in df.withColumn("c", F.sum("x").over(w)).collect()
    }
    chunked = {
        (r["series"], r["seq"]): r["c"]
        for r in chunked_cumsum(
            df,
            ["series"],
            ["day", "seq"],
            "x",
            chunk_col=(F.col("day") / 30).cast("long"),
            out_col="c",
        ).collect()
    }
    assert chunked == plain


def test_chunked_cumsum_sweep_line_peak(spark):
    """The sweep-line peak via chunked prefix equals the plain-window
    peak — the scalable form of q_peak_concurrency's core."""
    from pyspark.sql import Window

    from etl_data_processor_spark.ops.prefix import chunked_cumsum

    rnd = random.Random(3)
    pts = []
    for i in range(2000):
        s = rnd.randrange(1000)
        pts.append((0, s, 0, i, 1))        # start
        pts.append((0, s + rnd.randrange(1, 50), 1, i, -1))  # end
    df = spark.createDataFrame(
        pts, "series long, t long, tb long, eid long, delta long"
    )
    w = (
        Window.partitionBy("series")
        .orderBy("t", "tb", "eid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peak_plain = (
        df.withColumn("live", F.sum("delta").over(w))
        .agg(F.max("live"))
        .collect()[0][0]
    )
    peak_chunked = (
        chunked_cumsum(
            df,
            ["series"],
            ["t", "tb", "eid"],
            "delta",
            chunk_col=(F.col("t") / 100).cast("long"),
            out_col="live",
        )
        .agg(F.max("live"))
        .collect()[0][0]
    )
    assert peak_chunked == peak_plain and peak_plain > 1


def test_chunked_cumsum_null_semantics_match_plain_window(spark):
    """NULL series keys, NULL chunk values and NULL measures must all
    behave exactly like the plain window: NULL partitions cumulate,
    an all-NULL prefix stays NULL, a NULL after values carries."""
    from pyspark.sql import Window

    from etl_data_processor_spark.ops.prefix import chunked_cumsum

    rows = [
        # (series, day, seq, x) — series None partition; leading NULL x
        (None, 1, 0, None),
        (None, 2, 1, 5),
        (None, 40, 2, None),   # NULL after a value: carries 5
        (1, 1, 3, None),       # all-NULL prefix in chunk 0
        (1, 35, 4, None),      # still NULL in chunk 1
        (1, 70, 5, 7),
        (1, 99, 6, 2),
    ]
    df = spark.createDataFrame(
        rows, "series long, day long, seq long, x long"
    )
    w = (
        Window.partitionBy("series")
        .orderBy("day", "seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    plain = {
        r["seq"]: r["c"]
        for r in df.withColumn("c", F.sum("x").over(w)).collect()
    }
    chunked = {
        r["seq"]: r["c"]
        for r in chunked_cumsum(
            df,
            ["series"],
            ["day", "seq"],
            "x",
            chunk_col=(F.col("day") / 30).cast("long"),
            out_col="c",
        ).collect()
    }
    assert chunked == plain
    assert len(chunked) == len(rows)  # no silent row loss


# ------------------------------------------------- chunked rank / ntile

def test_chunked_rank_and_ntile_match_global_window(spark):
    """ops/prefix.chunked_rank + ntile_expr (the scale-safe tiling
    registered for q_rfm_segments, VERDICT r4 item 4) must reproduce
    row_number()/ntile() over the global window EXACTLY — including the
    uneven-bucket remainder rule — on a skewed frame with heavy ties."""
    from pyspark.sql import Window

    from etl_data_processor_spark.ops.prefix import (
        chunked_rank,
        equidepth_chunk,
        ntile_expr,
    )

    rnd = random.Random(11)
    rows = [(i, rnd.randrange(20)) for i in range(1003)]  # ties galore
    df = spark.createDataFrame(rows, "id long, v long")

    w = Window.orderBy("v", "id")
    expected = {
        (r["id"]): (r["r"], r["t5"], r["t7"])
        for r in df.select(
            "id",
            F.row_number().over(w).alias("r"),
            F.ntile(5).over(w).alias("t5"),
            F.ntile(7).over(w).alias("t7"),
        ).collect()
    }

    d, chunk = equidepth_chunk(df, "v", num_chunks=8)
    got_df = chunked_rank(
        d, [F.col("v"), F.col("id")], chunk, rank_col="r", total_col="n"
    )
    got = {
        r["id"]: (r["r"], r["t5"], r["t7"])
        for r in got_df.select(
            "id",
            "r",
            ntile_expr(F.col("r"), F.col("n"), 5).alias("t5"),
            ntile_expr(F.col("r"), F.col("n"), 7).alias("t7"),
        ).collect()
    }
    assert got == expected


def test_ntile_expr_small_n_edge(spark):
    """total < k: every row lands in its own (rank-th) bucket — the
    GREATEST guard must keep the unused branch from dividing by zero
    under ANSI mode."""
    from etl_data_processor_spark.ops.prefix import ntile_expr

    df = spark.range(3).select(
        (F.col("id") + 1).alias("r"), F.lit(3).cast("long").alias("n")
    )
    got = sorted(
        (r["r"], r["t"])
        for r in df.select("r", ntile_expr(F.col("r"), F.col("n"), 5).alias("t")).collect()
    )
    assert got == [(1, 1), (2, 2), (3, 3)]


def test_rfm_plan_has_no_global_ntile_window(spark, sf_dir):
    """VERDICT r4 item 4 plan pin: the registered q_rfm_segments must not
    contain any NTILE window, and every row_number window must be
    partitioned by the equi-depth chunk (no data-sized unpartitioned
    WindowExec; the only unpartitioned windows run on the bounded
    chunk-count frame)."""
    from etl_data_processor_spark.registry import QUERIES
    from tests.test_plans import plan_of

    import re

    plan = plan_of(QUERIES["q_rfm_segments"](spark, sf_dir))
    assert not re.search(r"\bntile\(", plan)  # \b: don't match perceNTILE
    found = 0
    for m in re.finditer(r"row_number\(\) windowspecdefinition\(([^,]*),", plan):
        assert "__chunk" in m.group(1)
        found += 1
    assert found >= 3


def test_abc_plan_has_no_global_data_window(spark, sf_dir):
    """VERDICT r4 item 4 plan pin: q_abc_classification's cumulative sum
    runs through chunked_cumsum — the per-row sum window is partitioned
    by chunk, never a global ORDER BY over the parts frame."""
    import re

    from etl_data_processor_spark.registry import QUERIES
    from tests.test_plans import plan_of

    plan = plan_of(QUERIES["q_abc_classification"](spark, sf_dir))
    # every window ordering by cents must be partitioned by the chunk id
    for m in re.finditer(r"windowspecdefinition\(([^)]*?)cents", plan):
        assert "__chunk" in m.group(0) or "__chunk" in m.group(1)


def test_chunked_rank_grouped_matches_partitioned_window(spark):
    """series_cols path: the grouped chunked rank must equal
    row_number() OVER (PARTITION BY series ORDER BY ...) exactly,
    including ties broken by the key column and chunks that are empty
    for some series."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_data_processor_spark.ops.prefix import chunked_rank

    rows = [
        ("a", k, v)
        for k, v in [(1, 5), (2, 5), (3, 1), (4, 9), (5, 1), (6, 7)]
    ] + [
        ("b", k, v) for k, v in [(1, 9), (2, 9), (3, 9), (4, 0)]
    ] + [
        ("c", k, v) for k, v in [(1, 3)]
    ]
    df = spark.createDataFrame(rows, "g string, k long, v long")

    want = {
        (r["g"], r["k"]): r["rn"]
        for r in df.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("g").orderBy("v", "k")
            ),
        ).collect()
    }
    got = {
        (r["g"], r["k"]): r["rn"]
        for r in chunked_rank(
            df,
            [F.col("v"), F.col("k")],
            F.floor(F.col("v") / F.lit(4)).cast("int"),
            rank_col="rn",
            series_cols=["g"],
            total_col="tot",
        ).collect()
    }
    assert got == want

    tots = {
        r["g"]: r["tot"]
        for r in chunked_rank(
            df,
            [F.col("v"), F.col("k")],
            F.floor(F.col("v") / F.lit(4)).cast("int"),
            rank_col="rn",
            series_cols=["g"],
            total_col="tot",
        ).collect()
    }
    assert tots == {"a": 6, "b": 4, "c": 1}
