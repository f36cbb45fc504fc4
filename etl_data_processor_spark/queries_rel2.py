"""Second relational coverage batch: outer joins, set ops, null handling,
casts, struct/map functions, statistical aggregates, grouping sets.

Statistical aggregates decompose into exact decimal sums (n, Σx, Σx², Σxy)
combined with IEEE double arithmetic on identical operands — engine-stable
without trusting either engine's streaming variance implementation.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_data_processor_spark.registry import q, cat as _cat, date as _date
from etl_data_processor_spark.ops.exact import dec, dsum, revenue, sql_dsum, sql_revenue
from etl_data_processor_spark.ops.similarity import stable_round6

_SR6 = "CAST(FLOOR(({x}) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0"


# ---------------------------------------------------------------- joins

@q(
    "q_join_right",
    """
    SELECT o.o_orderkey, c.c_custkey, c.c_name
    FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q_join_right(spark, sf_dir):
    """B5: right outer join (order-less customers keep a NULL order side)."""
    cat = _cat(spark, sf_dir)
    return cat.orders.join(
        cat.customer, F.col("o_custkey") == F.col("c_custkey"), "right"
    ).select("o_orderkey", "c_custkey", "c_name")


@q(
    "q_join_full",
    """
    SELECT a.o_orderkey AS big_key, b.o_orderkey AS urgent_key
    FROM (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000) a
    FULL JOIN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
               AND o_totalprice > 350000) b
      ON a.o_orderkey = b.o_orderkey
    """,
)
def q_join_full(spark, sf_dir):
    """B5: full outer join of two partially-overlapping order subsets."""
    o = _cat(spark, sf_dir).orders
    a = o.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_orderkey").alias("big_key")
    )
    b = o.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 350000)
    ).select(F.col("o_orderkey").alias("urgent_key"))
    return a.join(b, F.col("big_key") == F.col("urgent_key"), "full")


@q(
    "q_join_cross",
    """
    SELECT r1.r_name AS from_region, r2.r_name AS to_region
    FROM region r1 CROSS JOIN region r2 WHERE r1.r_regionkey <> r2.r_regionkey
    """,
)
def q_join_cross(spark, sf_dir):
    """Cross join (tiny×tiny only — flagged cost; Spark requires the explicit
    crossJoin API for this reason)."""
    r = _cat(spark, sf_dir).region
    return (
        r.select(F.col("r_name").alias("from_region"), F.col("r_regionkey").alias("k1"))
        .crossJoin(r.select(F.col("r_name").alias("to_region"), F.col("r_regionkey").alias("k2")))
        .filter(F.col("k1") != F.col("k2"))
        .select("from_region", "to_region")
    )


@q(
    "q_in_subquery",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
    """,
)
def q_in_subquery(spark, sf_dir):
    """IN subquery (Catalyst rewrites to left-semi join)."""
    cat = _cat(spark, sf_dir)
    cat.orders.createOrReplaceTempView("__ord_insq")
    cat.customer.createOrReplaceTempView("__cust_insq")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM __ord_insq
        WHERE o_custkey IN (SELECT c_custkey FROM __cust_insq WHERE c_acctbal > 9000)
        """
    )


# ---------------------------------------------------------------- set ops

@q(
    "q_union_distinct",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000
    """,
)
def q_union_distinct(spark, sf_dir):
    """B21: UNION (distinct semantics)."""
    cat = _cat(spark, sf_dir)
    a = cat.customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = cat.orders.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return a.union(b).distinct()


# ---------------------------------------------------------------- nulls

@q(
    "q_filter_null",
    """
    SELECT c_custkey, seg FROM (
        SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg FROM customer
    ) WHERE seg IS NULL
    """,
)
def q_filter_null(spark, sf_dir):
    """B3: IS NULL predicate (nulls synthesized via NULLIF — fixtures are
    null-free; the reference's nulls appear the same way, main.py:165-169)."""
    c = _cat(spark, sf_dir).customer
    return c.select(
        "c_custkey", F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg")
    ).filter(F.col("seg").isNull())


@q(
    "q_null_ordering",
    """
    SELECT c_custkey, seg,
           CAST(ROW_NUMBER() OVER (ORDER BY seg ASC NULLS FIRST, c_custkey ASC) AS INTEGER) AS rn
    FROM (SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg FROM customer)
    """,
)
def q_null_ordering(spark, sf_dir):
    """B19: explicit NULLS FIRST ordering (engines default differently —
    Spark ASC is nulls-first, DuckDB nulls-last — so explicit is the only
    portable spelling; row_number makes the placement observable). The
    global rank runs through ops/prefix.chunked_rank with a NULLS-FIRST-
    compatible chunk (coalesce(first char, '') sorts the NULL group ahead
    of every letter, matching asc_nulls_first) — no single-partition
    WindowExec; the plain window survives as the oracle."""
    from etl_data_processor_spark.ops.prefix import chunked_rank

    c = _cat(spark, sf_dir).customer
    base = c.select(
        "c_custkey", F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg")
    )
    chunk = F.coalesce(F.substring("seg", 1, 1), F.lit(""))
    ranked = chunked_rank(
        base, [F.asc_nulls_first("seg"), F.asc("c_custkey")], chunk, rank_col="rn"
    )
    return ranked.withColumn("rn", F.col("rn").cast("int"))


# ---------------------------------------------------------------- casts

@q(
    "q_cast_matrix",
    """
    SELECT o_orderkey,
           CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS price_int,
           CAST(o_orderkey AS VARCHAR) AS key_str,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS date_str,
           CAST('42' AS BIGINT) AS parsed_int,
           CAST(o_totalprice AS DECIMAL(18,2)) AS price_dec
    FROM orders
    """,
)
def q_cast_matrix(spark, sf_dir):
    """Type-cast matrix. double->int rounding is engine-divergent (Spark CAST
    truncates, Spark round() is half-up, DuckDB CAST is half-even), so the
    portable spelling is floor(x+0.5) on both sides — pure IEEE."""
    o = _cat(spark, sf_dir).orders
    return o.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") + 0.5).alias("price_int"),
        F.col("o_orderkey").cast("string").alias("key_str"),
        _date("o_orderdate").cast("string").alias("date_str"),
        F.lit("42").cast("long").alias("parsed_int"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price_dec"),
    )


# ---------------------------------------------------------------- structs/maps

@q(
    "q_struct_fns",
    """
    SELECT doc_id,
           struct_extract({'lang': lang, 'n_chars': n_chars}, 'lang') AS meta_lang,
           struct_extract({'lang': upper(lang), 'n_chars': n_chars * 2}, 'n_chars') AS meta_chars2
    FROM documents
    """,
)
def q_struct_fns(spark, sf_dir):
    """Struct columns: build + field access (the multimodal metadata shape).
    Output projects scalar fields — raw structs render differently across
    engines (tuple vs dict) and aren't hash-comparable."""
    d = _cat(spark, sf_dir).documents
    meta = F.struct(F.col("lang").alias("lang"), F.col("n_chars").alias("n_chars"))
    meta2 = F.struct(
        F.upper("lang").alias("lang"), (F.col("n_chars") * 2).alias("n_chars")
    )
    return d.select(
        "doc_id",
        meta.getField("lang").alias("meta_lang"),
        meta2.getField("n_chars").alias("meta_chars2"),
    )


@q(
    "q_map_fns",
    """
    SELECT doc_id,
           map_keys(MAP {lang: n_chars}) AS ks,
           map_values(MAP {lang: n_chars}) AS vs,
           element_at(MAP {lang: n_chars}, lang)[1] AS self_lookup
    FROM documents
    """,
)
def q_map_fns(spark, sf_dir):
    """Map columns: construction, keys/values, lookup (B29)."""
    d = _cat(spark, sf_dir).documents
    m = F.create_map(F.col("lang"), F.col("n_chars"))
    return d.select(
        "doc_id",
        F.map_keys(m).alias("ks"),
        F.map_values(m).alias("vs"),
        F.element_at(m, F.col("lang")).alias("self_lookup"),
    )


# ---------------------------------------------------------------- statistics

@q(
    "q_agg_stats",
    f"""
    WITH s AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           {_SR6.format(x='SQRT((sxx - sx*sx/n) / (n-1))')} AS stddev_qty,
           {_SR6.format(x='(sxy - sx*sy/n) / ((n-1) * SQRT((sxx - sx*sx/n)/(n-1)) * SQRT((syy - sy*sy/n)/(n-1)))')} AS corr_qty_price
    FROM s
    """,
)
def q_agg_stats(spark, sf_dir):
    """B11 (statistical): sample stddev + Pearson correlation decomposed into
    exact decimal sums, combined in IEEE double — engine-stable, unlike
    native STDDEV/CORR whose accumulation order varies."""
    li = _cat(spark, sf_dir).lineitem
    qd, pd_ = dec("l_quantity"), dec("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qd).cast("double").alias("sx"),
        F.sum(qd * qd).cast("double").alias("sxx"),
        F.sum(pd_).cast("double").alias("sy"),
        F.sum(pd_ * pd_).cast("double").alias("syy"),
        F.sum(qd * pd_).cast("double").alias("sxy"),
    )
    n, sx, sxx, sy, syy, sxy = (F.col(c) for c in ["n", "sx", "sxx", "sy", "syy", "sxy"])
    std_x = F.sqrt((sxx - sx * sx / n) / (n - 1))
    std_y = F.sqrt((syy - sy * sy / n) / (n - 1))
    corr = (sxy - sx * sy / n) / ((n - 1) * std_x * std_y)
    return s.select(
        "l_returnflag",
        "n",
        stable_round6(std_x).alias("stddev_qty"),
        stable_round6(corr).alias("corr_qty_price"),
    )


@q(
    "q_agg_minmaxby",
    """
    SELECT o_orderstatus,
           MAX_BY(o_orderkey, CAST(o_totalprice * 100 AS BIGINT) * 10000000 + o_orderkey) AS biggest_order,
           MIN_BY(o_orderkey, CAST(o_totalprice * 100 AS BIGINT) * 10000000 + o_orderkey) AS smallest_order
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_agg_minmaxby(spark, sf_dir):
    """B11: argmin/argmax aggregates. The ordering key packs (price, orderkey)
    into one bigint so ties are impossible — max_by with tie-able keys is
    nondeterministic on ANY engine."""
    o = _cat(spark, sf_dir).orders
    key = (F.col("o_totalprice") * 100).cast("long") * 10000000 + F.col("o_orderkey")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", key).alias("biggest_order"),
        F.min_by("o_orderkey", key).alias("smallest_order"),
    )


@q(
    "q_agg_mode",
    """
    WITH c AS (SELECT o_orderstatus AS s, o_orderpriority AS p, COUNT(*) AS n
               FROM orders GROUP BY 1, 2),
         r AS (SELECT s, p,
                      ROW_NUMBER() OVER (PARTITION BY s ORDER BY n DESC, p) AS rk
               FROM c)
    SELECT s AS o_orderstatus, p AS mode_priority FROM r WHERE rk = 1
    """,
)
def q_agg_mode(spark, sf_dir):
    """B11 variant: statistical MODE with deterministic tie-break.

    Spark's ``mode(expr, deterministic=true)`` returns the lowest value
    among equally-frequent candidates — the oracle reproduces exactly that
    contract as count + row_number (DuckDB's own ``mode()`` breaks ties
    arbitrarily, so the oracle can't use it). Plain mode() on either engine
    is nondeterministic under ties — the deterministic form is the only one
    a reproducible pipeline should ship.
    """
    o = _cat(spark, sf_dir).orders
    return o.groupBy("o_orderstatus").agg(
        F.expr("mode(o_orderpriority, true)").alias("mode_priority")
    )


@q(
    "q_string_agg",
    """
    SELECT r_name, STRING_AGG(n_name, ',' ORDER BY n_name) AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q_string_agg(spark, sf_dir):
    """B11 variant: ordered string aggregation (LISTAGG WITHIN GROUP,
    Spark 4). The explicit WITHIN GROUP ordering is what makes the result
    deterministic — an unordered listagg concatenates in partition arrival
    order, which changes under AQE/partitioning. Grouped over the broadcast
    dims; at scale the same shape applies to any bounded-cardinality group
    (unbounded string concat is an anti-pattern regardless of engine)."""
    cat = _cat(spark, sf_dir)
    cat.nation.createOrReplaceTempView("__nat_sagg")
    cat.region.createOrReplaceTempView("__reg_sagg")
    return spark.sql(
        """
        SELECT r_name,
               LISTAGG(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations
        FROM __nat_sagg JOIN __reg_sagg ON n_regionkey = r_regionkey
        GROUP BY r_name
        """
    )


@q(
    "q_agg_cond",
    f"""
    SELECT l_linestatus,
           COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
           CAST(ROUND(SUM(CASE WHEN l_returnflag = 'R'
                               THEN CAST(l_quantity AS DECIMAL(19,4))
                               ELSE CAST(0 AS DECIMAL(18,4)) END), 4) AS DOUBLE) AS returned_qty
    FROM lineitem GROUP BY l_linestatus
    """,
)
def q_agg_cond(spark, sf_dir):
    """B11: conditional aggregation (FILTER / CASE-sum)."""
    li = _cat(spark, sf_dir).lineitem
    return li.groupBy("l_linestatus").agg(
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
        F.round(
            F.sum(
                F.when(F.col("l_returnflag") == "R", dec("l_quantity")).otherwise(
                    F.lit(0).cast("decimal(18,4)")
                )
            ),
            4,
        )
        .cast("double")
        .alias("returned_qty"),
    )


# ---------------------------------------------------------------- grouping sets

@q(
    "q_grouping_sets",
    f"""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
)
def q_grouping_sets(spark, sf_dir):
    """B14: explicit GROUPING SETS + grouping_id (SQL surface; rollup/cube
    are the DataFrame forms)."""
    li = _cat(spark, sf_dir).lineitem
    li.createOrReplaceTempView("__li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
               COUNT(*) AS n
        FROM __li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        """
    )


# ---------------------------------------------------------------- range frame

@q(
    "q_win_range_frame",
    """
    SELECT o_orderkey, o_custkey, d,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY d
                          RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS n_last_30d
    FROM (SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS d FROM orders)
    """,
)
def q_win_range_frame(spark, sf_dir):
    """B18: RANGE frame over a date axis — trailing-30-day order count per
    customer (value-based frames, vs the ROWS frame in q_win_running)."""
    o = _cat(spark, sf_dir).orders
    o.select(
        "o_orderkey", "o_custkey", _date("o_orderdate").alias("d")
    ).createOrReplaceTempView("__ord_rf")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, d,
               COUNT(*) OVER (PARTITION BY o_custkey ORDER BY d
                              RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS n_last_30d
        FROM __ord_rf
        """
    )


# ---------------------------------------------------------------- custom source

@q(
    "q_paged_source",
    """
    SELECT CAST(i // 25 + 1 AS INTEGER) AS page,
           CAST(i % 25 AS INTEGER) AS row_in_page,
           '/anbefalinger/decision-' || i AS url,
           CASE i % 3 WHEN 0 THEN 'Anbefalet' WHEN 1 THEN 'Ikke anbefalet'
                      ELSE 'Delvist anbefalet' END AS status,
           'Drug' || i || ' tablet' AS raw_drug_text
    FROM range(0, 228) t(i)
    """,
)
def q_paged_source(spark, sf_dir):
    """A1/A2: the reference's paginated scrape as a Spark 4 Python Data
    Source — one input partition per page, planned via ceil-div
    (sources/paged.py; network stubbed deterministically, so the oracle can
    regenerate the same rows arithmetically)."""
    from etl_data_processor_spark.sources.paged import PagedDecisionSource

    try:
        spark.dataSource.register(PagedDecisionSource)
    except Exception:
        pass  # already registered in this session
    return spark.read.format("paged_decisions").option("total_rows", 228).load()


# ---------------------------------------------------------------- §2 key aliases

@q(
    "q_count",
    "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
)
def q_count(spark, sf_dir):
    """A21 (main.py:353-355): observability counts — per-type event counts
    (the global-count form is q_scan; an Observation filled by the job
    that already runs, with no second pass, is ops.iterate.pin)."""
    return (
        _cat(spark, sf_dir)
        .events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@q(
    "q_join_left",
    """
    SELECT l.l_orderkey, l.l_linenumber, p.p_name, p.p_brand
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    """,
)
def q_join_left(spark, sf_dir):
    """B5: left outer join (the reference's A15 merge-back shape on the
    lineitem->part axis; q_left_join_coalesce adds the default-on-miss)."""
    cat = _cat(spark, sf_dir)
    return cat.lineitem.join(
        cat.part, F.col("l_partkey") == F.col("p_partkey"), "left"
    ).select("l_orderkey", "l_linenumber", "p_name", "p_brand")


@q(
    "q_unpivot",
    """
    SELECT c_mktsegment, metric, CAST(v AS DOUBLE) AS v
    FROM (
        SELECT c_mktsegment,
               CAST(COUNT(*) AS DOUBLE) AS n_customers,
               CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_balance
        FROM customer GROUP BY c_mktsegment
    ) UNPIVOT (v FOR metric IN (n_customers, total_balance))
    """,
)
def q_unpivot(spark, sf_dir):
    """Unpivot/melt: wide per-segment metrics to long (metric, value) rows
    (DataFrame unpivot == SQL stack)."""
    from etl_data_processor_spark.ops.exact import dsum

    c = _cat(spark, sf_dir).customer
    wide = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("double").alias("n_customers"),
        dsum("c_acctbal").alias("total_balance"),
    )
    return wide.unpivot(
        ids=["c_mktsegment"],
        values=["n_customers", "total_balance"],
        variableColumnName="metric",
        valueColumnName="v",
    )


@q(
    "q_array_fns2",
    """
    SELECT vec_id,
           len(embedding) AS dim,
           embedding[1:4] AS head4,
           list_sort(embedding[1:4]) AS head4_sorted,
           list_reverse_sort(embedding[1:4])[1] AS head4_max
    FROM embeddings WHERE vec_id < 100
    """,
)
def q_array_fns2(spark, sf_dir):
    """B28 (extended): slice, sort_array, array_max over float arrays
    (float32 values pass through exactly — no arithmetic)."""
    e = _cat(spark, sf_dir).embeddings.filter(F.col("vec_id") < 100)
    head4 = F.slice("embedding", 1, 4)
    return e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        head4.alias("head4"),
        F.sort_array(head4).alias("head4_sorted"),
        F.array_max(head4).alias("head4_max"),
    )


@q(
    "q_regexp_replace",
    r"""
    SELECT event_id,
           regexp_replace(props, '\d', '#', 'g') AS masked,
           regexp_replace(props, '"k": (\d+)', 'k=\1') AS rewritten
    FROM events
    """,
)
def q_regexp_replace(spark, sf_dir):
    """B24: regexp_replace — global masking + group backreference rewrite
    (Java uses $1, RE2 uses \\1; semantics align on these patterns)."""
    ev = _cat(spark, sf_dir).events
    return ev.select(
        "event_id",
        F.regexp_replace("props", r"\d", "#").alias("masked"),
        F.regexp_replace("props", r'"k": (\d+)', "k=$1").alias("rewritten"),
    )


@q(
    "q_collect_list",
    """
    SELECT c_mktsegment,
           string_agg(c_name, ',' ORDER BY c_name) AS names
    FROM customer WHERE c_acctbal > 9500 GROUP BY c_mktsegment
    """,
)
def q_collect_list(spark, sf_dir):
    """B11: ordered string aggregation — collect_list is unordered by
    contract, so sort_array before joining makes it deterministic (the only
    portable listagg)."""
    c = _cat(spark, sf_dir).customer
    return (
        c.filter(F.col("c_acctbal") > 9500)
        .groupBy("c_mktsegment")
        .agg(
            F.array_join(F.sort_array(F.collect_list("c_name")), ",").alias("names")
        )
    )


@q(
    "q_tpch_q5",
    f"""
    SELECT n.n_name, {sql_dsum(sql_revenue())} AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 shape (local supplier volume): 6-way join with a
    customer-supplier same-nation predicate, region + date filters, grouped
    exact revenue. Plan: date filter pushes into the orders scan, region
    prunes nation keys before the fact join, supplier/nation/region
    broadcast; the only big shuffles are fact⋈fact on orderkey and the
    final agg."""
    cat = _cat(spark, sf_dir)
    return (
        cat.customer.join(cat.orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(cat.lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(cat.supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(cat.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(cat.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(dsum(revenue()).alias("revenue"))
    )


@q(
    "q_tpch_q10",
    f"""
    SELECT c.c_custkey, c.c_name, {sql_dsum(sql_revenue())} AS revenue,
           n.n_name, c.c_acctbal
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY revenue DESC, c_custkey ASC LIMIT 20
    """,
)
def q_tpch_q10(spark, sf_dir):
    """TPC-H Q10 shape (returned-item reporting): quarter of orders,
    returned lines only, revenue per customer, top-20. The returnflag and
    date predicates both push into their scans; nation broadcasts; the
    ORDER BY ... LIMIT plans as TakeOrderedAndProject (no global sort)."""
    cat = _cat(spark, sf_dir)
    return (
        cat.customer.join(cat.orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .join(
            cat.lineitem.filter(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cat.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(dsum(revenue()).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "n_name", "c_acctbal")
    )


@q(
    "q_salted_join",
    f"""
    SELECT o.o_orderpriority, COUNT(*) AS n, {sql_dsum('l.l_quantity')} AS qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q_salted_join(spark, sf_dir):
    """Skew-salted fact join (ops.relational.salted_join): the left key is
    sharded over 8 salts and the right side replicated, so one pathological
    hot key spreads across 8 reducers instead of stalling one. Salting is
    result-invariant — the oracle is the PLAIN join — which is exactly the
    point: a skew mitigation that changes results is a bug."""
    from etl_data_processor_spark.ops.relational import salted_join

    cat = _cat(spark, sf_dir)
    joined = salted_join(
        cat.lineitem.select(F.col("l_orderkey").alias("k"), "l_quantity"),
        cat.orders.select(F.col("o_orderkey").alias("k"), "o_orderpriority"),
        "k",
        salt_buckets=8,
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("qty")
    )


@q(
    "q_sessionize",
    """
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us FROM events
    ),
    flagged AS (
        SELECT user_id, event_id, us,
               CASE WHEN us - LAG(us) OVER w > 1800000000 OR
                         LAG(us) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    sessions AS (
        SELECT user_id, event_id, us,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM flagged
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           COUNT(*) AS n_events,
           (MAX(us) - MIN(us)) AS duration_us
    FROM sessions GROUP BY user_id, session_seq
    """,
)
def q_sessionize(spark, sf_dir):
    """Batch sessionization (30-minute inactivity gap): lag + flag + running
    sum assigns session numbers, then per-session stats — the classic
    two-window + one-agg plan, all on the same user_id partitioning (ONE
    shuffle: Spark reuses the hash partition for both windows and the
    aggregate). Time math in whole microseconds (unix_micros/epoch_us), so
    both engines compute identical integers. The streaming equivalent is
    session_window (q_stream_session); this is the backfill path."""
    ev = _cat(spark, sf_dir).events
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = ev.select(
        "user_id", "event_id", us.alias("us")
    ).withColumn(
        "is_new",
        F.when(
            (F.col("us") - F.lag("us").over(w) > 1_800_000_000)
            | F.lag("us").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn("session_seq", F.sum("is_new").over(wrun))
    return sessions.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("us") - F.min("us")).alias("duration_us"),
    )


@q(
    "q_funnel",
    """
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
    v AS (SELECT user_id, MIN(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(us) AS t2 FROM e JOIN v ON e.user_id = v.user_id
          WHERE event_type = 'click' AND us > t1 GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(us) AS t3 FROM e JOIN c ON e.user_id = c.user_id
          WHERE event_type = 'purchase' AND us > t2 GROUP BY e.user_id)
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_click_after_view,
           (SELECT COUNT(*) FROM p) AS n_purchase_after_click
    """,
)
def q_funnel(spark, sf_dir):
    """Ordered-funnel analysis (view -> later click -> later purchase per
    user): each stage joins the previous stage's per-user first-time and
    keeps strictly-later events. Stage tables shrink monotonically and
    broadcast; the big table is scanned once per stage with the event_type
    filter pushed down. Counts are engine-exact (integer µs comparisons)."""
    ev = _cat(spark, sf_dir).events
    e = ev.select("user_id", "event_type", F.unix_micros("ts").alias("us"))
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .filter(F.col("us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter(F.col("us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_after_view")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after_click")))
    )


@q(
    "q_except_all",
    """
    SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
    EXCEPT ALL
    SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F' AND l_returnflag = 'R'
          AND l_quantity > 25
    """,
)
def q_except_all(spark, sf_dir):
    """B21: EXCEPT ALL — multiset difference preserves duplicate
    multiplicity (Spark plans a count-propagating aggregate, not a
    distinct), which EXCEPT (q_except) silently collapses."""
    li = _cat(spark, sf_dir).lineitem
    a = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    b = li.filter(
        (F.col("l_linestatus") == "F")
        & (F.col("l_returnflag") == "R")
        & (F.col("l_quantity") > 25)
    ).select("l_orderkey")
    return a.exceptAll(b)


@q(
    "q_intersect_all",
    """
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_intersect_all(spark, sf_dir):
    """B21: INTERSECT ALL — multiset intersection with min-multiplicity
    semantics."""
    o = _cat(spark, sf_dir).orders
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersectAll(b)


@q(
    "q_join_nullsafe",
    """
    SELECT a.event_id AS id_a, b.event_id AS id_b, a.k
    FROM (SELECT event_id, NULLIF(user_id % 10, 7) AS k FROM events) a
    JOIN (SELECT event_id, NULLIF(user_id % 10, 7) AS k FROM events) b
      ON a.k IS NOT DISTINCT FROM b.k AND a.event_id < b.event_id
    WHERE a.event_id <= 20 AND b.event_id <= 20
    """,
)
def q_join_nullsafe(spark, sf_dir):
    """B4 variant: null-safe equi join (<=> / IS NOT DISTINCT FROM): NULL
    keys match each other instead of vanishing — Spark still plans a HASH
    join on the null-safe key (nulls hash to one bucket), not a nested
    loop; the fixture has no natural NULLs so the key derives one via
    NULLIF. Bounded to a small id range: NULL<=>NULL is intentionally a
    many-to-many hot key — exactly the skew caveat the docstring of
    salted_join covers at scale."""
    ev = _cat(spark, sf_dir).events
    keyed = ev.select(
        "event_id", F.nullif(F.col("user_id") % 10, F.lit(7)).alias("k")
    ).filter(F.col("event_id") <= 20)
    a = keyed.select(F.col("event_id").alias("id_a"), F.col("k"))
    b = keyed.select(F.col("event_id").alias("id_b"), F.col("k").alias("k2"))
    return (
        a.join(b, F.col("k").eqNullSafe(F.col("k2")) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b", "k")
    )


@q(
    "q_join_anti_nullaware",
    """
    WITH probe AS (SELECT NULLIF(c_nationkey, 3) AS k FROM customer),
         clean AS (SELECT n_nationkey AS nk FROM nation WHERE n_regionkey <= 1),
         withnull AS (SELECT nk FROM clean UNION ALL SELECT NULL)
    SELECT
      (SELECT COUNT(*) FROM probe WHERE k NOT IN (SELECT nk FROM clean))
        AS cnt_clean,
      (SELECT COUNT(*) FROM probe WHERE k NOT IN (SELECT nk FROM withnull))
        AS cnt_nullpoisoned
    """,
)
def q_join_anti_nullaware(spark, sf_dir):
    """B6 variant: NULL-AWARE anti join — NOT IN under three-valued logic.

    ``k NOT IN (subquery)`` is NOT the same as an anti join on ``k``: a NULL
    probe key yields UNKNOWN (row dropped), and a single NULL in the subquery
    makes EVERY row UNKNOWN (cnt_nullpoisoned must be 0). Spark plans the
    single-column case as a broadcast hash join with isNullAwareAntiJoin
    (plan-pinned in tests/test_plans.py) — the correct-and-fast path; engines
    that rewrite NOT IN to a plain anti join silently return wrong rows.
    At 100 TB the build side is the subquery (dim-sized, broadcast); the
    probe side streams — same shape as q_join_anti, plus the null guard.
    """
    cat = _cat(spark, sf_dir)
    cat.customer.createOrReplaceTempView("__cust_nna")
    cat.nation.createOrReplaceTempView("__nat_nna")
    return spark.sql(
        """
        WITH probe AS (SELECT NULLIF(c_nationkey, 3) AS k FROM __cust_nna),
             clean AS (SELECT n_nationkey AS nk FROM __nat_nna
                       WHERE n_regionkey <= 1),
             withnull AS (SELECT nk FROM clean
                          UNION ALL SELECT CAST(NULL AS INT))
        SELECT
          (SELECT COUNT(*) FROM probe WHERE k NOT IN (SELECT nk FROM clean))
            AS cnt_clean,
          (SELECT COUNT(*) FROM probe WHERE k NOT IN (SELECT nk FROM withnull))
            AS cnt_nullpoisoned
        """
    )


@q("q_agg_hll_merge")  # rows-only: DataSketches HLL != DuckDB's sketch
def q_agg_hll_merge(spark, sf_dir):
    """B13 extension: mergeable HLL distinct-count sketches — per-slice
    sketches (here per order-status) unioned into per-priority estimates
    WITHOUT re-reading rows. Rows-only oracle (DuckDB's approx sketch
    differs); accuracy and partition-invariance pinned in
    tests/test_properties.py."""
    from etl_data_processor_spark.ops import sketches as SK

    o = _cat(spark, sf_dir).orders
    parts = SK.hll_partial(o, ["o_orderpriority", "o_orderstatus"], "o_custkey")
    return SK.hll_merge(parts, ["o_orderpriority"]).orderBy("o_orderpriority")


# ---------------------------------------------------------------- profiling

@q(
    "q_profile",
    """
    WITH s AS (
        SELECT COUNT(*) AS total,
               COUNT(o_orderkey) AS n1, COUNT(DISTINCT o_orderkey) AS d1,
               MIN(o_orderkey) AS mn1, MAX(o_orderkey) AS mx1,
               COUNT(o_custkey) AS n2, COUNT(DISTINCT o_custkey) AS d2,
               MIN(o_custkey) AS mn2, MAX(o_custkey) AS mx2,
               COUNT(o_totalprice) AS n3, COUNT(DISTINCT o_totalprice) AS d3,
               MIN(o_totalprice) AS mn3, MAX(o_totalprice) AS mx3,
               COUNT(o_orderstatus) AS n4, COUNT(DISTINCT o_orderstatus) AS d4,
               MIN(o_orderstatus) AS mns4, MAX(o_orderstatus) AS mxs4,
               COUNT(o_orderpriority) AS n5, COUNT(DISTINCT o_orderpriority) AS d5,
               MIN(o_orderpriority) AS mns5, MAX(o_orderpriority) AS mxs5
        FROM orders
    )
    SELECT 'o_orderkey' AS col_name, n1 AS n, total - n1 AS n_null, d1 AS n_distinct,
           CAST(mn1 AS DOUBLE) AS min_num, CAST(mx1 AS DOUBLE) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM s
    UNION ALL
    SELECT 'o_custkey', n2, total - n2, d2, CAST(mn2 AS DOUBLE), CAST(mx2 AS DOUBLE), NULL, NULL FROM s
    UNION ALL
    SELECT 'o_totalprice', n3, total - n3, d3, mn3, mx3, NULL, NULL FROM s
    UNION ALL
    SELECT 'o_orderstatus', n4, total - n4, d4, NULL, NULL, mns4, mxs4 FROM s
    UNION ALL
    SELECT 'o_orderpriority', n5, total - n5, d5, NULL, NULL, mns5, mxs5 FROM s
    """,
)
def q_profile(spark, sf_dir):
    """Data profiling (deequ-style): per-column non-null/null/distinct
    counts + min/max in ONE table scan — the multi-distinct agg plans as a
    single Expand + two-phase hash aggregate, not one pass per column
    (pinned in tests/test_profile.py). min/max are order-insensitive, so
    doubles need no decimal detour."""
    from etl_data_processor_spark.ops.profile import profile

    return profile(
        _cat(spark, sf_dir).orders,
        numeric_cols=["o_orderkey", "o_custkey", "o_totalprice"],
        string_cols=["o_orderstatus", "o_orderpriority"],
    )


@q(
    "q_profile_hist",
    """
    SELECT bucket, CAST(bucket * 50000.0 AS DOUBLE) AS bucket_lo, COUNT(*) AS n
    FROM (
        SELECT CAST(LEAST(GREATEST(FLOOR((o_totalprice - 0.0) / 50000.0), 0), 9) AS BIGINT) AS bucket
        FROM orders
    )
    GROUP BY bucket
    """,
)
def q_profile_hist(spark, sf_dir):
    """Fixed-grid histogram (10 × 50k buckets over o_totalprice): bucket id
    is pure IEEE floor arithmetic on literals — bit-identical across
    engines — and the exchange after partial agg is 10 rows."""
    from etl_data_processor_spark.ops.profile import histogram

    return histogram(
        _cat(spark, sf_dir).orders, "o_totalprice", lo=0.0, hi=500000.0, n_buckets=10
    )
