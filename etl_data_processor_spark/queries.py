"""Oracle-checked query registry (the driver contract surface).

Every entry pairs a Spark implementation (a callable ``(spark, sf_dir) ->
DataFrame``) with an equivalent ANSI-SQL string DuckDB runs on the same
parquet tables. The driver compares row count + schema + order-insensitive
value hash, so:

- every computed column is aliased IDENTICALLY on both sides;
- money aggregates go through ``ops.exact`` (decimal-exact, order-independent);
- timestamps are cast to DATE on both sides where the column is a date
  semantically (FIXTURES.md);
- no lookbehind or other Java-regex-only syntax in oracle-checked regexes
  (DuckDB is RE2); the reference's lookbehind precedence (main.py:121-125) is
  instead expressed by CASE ordering, which is semantically identical here.

Registration is append-only via the ``@q`` decorator; SURVEY.md §2 keys map
1:1 to names here.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_data_processor_spark.ops import relational as R
from etl_data_processor_spark.ops import scalar as S
from etl_data_processor_spark.ops import arrays as A
from etl_data_processor_spark.ops.exact import (
    dsum,
    davg,
    revenue,
    sql_dsum,
    sql_davg,
    sql_revenue,
)

from etl_data_processor_spark.registry import QUERIES, ORACLE, q, cat as _cat, date as _date  # noqa: F401


# =====================================================================
# B1 / A1 / A21 — scan + count
# =====================================================================

@q("q_scan", "SELECT COUNT(*) AS n FROM lineitem")
def q_scan(spark, sf_dir):
    """Parquet scan + count (A1/A21/B1). At scale this is metadata-only:
    parquet row-group counts, no data read."""
    return R.counted(_cat(spark, sf_dir).lineitem)


# =====================================================================
# A2 — ceil-div partition planning
# =====================================================================

@q(
    "q_ceil_div",
    """
    SELECT o_orderpriority,
           CAST(CEIL(COUNT(*) / 25.0) AS BIGINT) AS pages
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_ceil_div(spark, sf_dir):
    """A2 (main.py:63-83): page count = ceil(results/25), per priority class."""
    return (
        _cat(spark, sf_dir)
        .orders.groupBy("o_orderpriority")
        .agg(S.ceil_div(F.count(F.lit(1)), 25).alias("pages"))
    )


# =====================================================================
# A4 — conditional concat (relative-URL absolutization)
# =====================================================================

@q(
    "q_conditional_concat",
    """
    SELECT doc_id,
           CASE WHEN u LIKE '/%' THEN 'https://base.example' || u ELSE u END AS url
    FROM (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN '/' || source
                    ELSE 'https://other.example/' || source END AS u
        FROM documents
    )
    """,
)
def q_conditional_concat(spark, sf_dir):
    """A4 (main.py:114-118): prefix base URL iff href is relative."""
    docs = _cat(spark, sf_dir).documents
    u = F.when(
        F.col("doc_id") % 2 == 0, F.concat(F.lit("/"), F.col("source"))
    ).otherwise(F.concat(F.lit("https://other.example/"), F.col("source")))
    return docs.select(
        "doc_id",
        S.conditional_concat(u, "https://base.example").alias("url"),
    )


# =====================================================================
# A5 — first-match-wins regex classification (CASE precedence)
# =====================================================================

@q(
    "q_case_classify",
    """
    SELECT doc_id,
           CASE
             WHEN regexp_matches(text, 'group\\s+by', 'i') THEN 'agg-heavy'
             WHEN regexp_matches(text, 'join', 'i') THEN 'join-heavy'
             WHEN regexp_matches(text, 'scan|filter', 'i') THEN 'scan-heavy'
             ELSE NULL
           END AS category
    FROM documents
    """,
)
def q_case_classify(spark, sf_dir):
    """A5 (main.py:106-133): ordered regex patterns, first match wins, NULL on
    no-match. The reference's lookbehind precedence is encoded by CASE order
    (oracle-safe; the Java-regex lookbehind variant lives in ops.scalar and is
    unit-tested)."""
    docs = _cat(spark, sf_dir).documents
    patterns = [
        (r"group\s+by", "agg-heavy"),
        (r"join", "join-heavy"),
        (r"scan|filter", "scan-heavy"),
    ]
    return docs.select(
        "doc_id", S.classify_first_match(F.col("text"), patterns).alias("category")
    )


# =====================================================================
# A7 — first-separator split
# =====================================================================

@q(
    "q_split_extract",
    """
    SELECT doc_id,
           split_part(text, ' ', 1) AS head,
           CASE WHEN strpos(text, ' ') > 0
                THEN substr(text, strpos(text, ' ') + 1) ELSE NULL END AS tail
    FROM documents
    """,
)
def q_split_extract(spark, sf_dir):
    """A7 (main.py:147-156): split on FIRST separator into (head, tail)."""
    docs = _cat(spark, sf_dir).documents
    parts = F.split(F.col("text"), " ", 2)
    return docs.select(
        "doc_id",
        parts.getItem(0).alias("head"),
        F.when(F.size(parts) > 1, parts.getItem(1)).alias("tail"),
    )


# =====================================================================
# A8/A10/B27 — coalesce fallback chains
# =====================================================================

@q(
    "q_coalesce_fallback",
    """
    SELECT doc_id,
           COALESCE(NULLIF(CASE WHEN doc_id % 3 = 0 THEN '' ELSE lang END, ''),
                    source, 'unknown') AS resolved
    FROM documents
    """,
)
def q_coalesce_fallback(spark, sf_dir):
    """A8/A10 (main.py:161-169, 246-256): ordered fallback; '' counts as
    missing, never an error."""
    docs = _cat(spark, sf_dir).documents
    primary = F.when(F.col("doc_id") % 3 == 0, F.lit("")).otherwise(F.col("lang"))
    return docs.select(
        "doc_id",
        S.coalesce_chain(primary, F.col("source"), F.lit("unknown")).alias("resolved"),
    )


# =====================================================================
# A11/B24 — regex extraction
# =====================================================================

@q(
    "q_regexp_extract",
    r"""
    SELECT event_id,
           regexp_extract(props, '"k": (\d+)', 1) AS k_str
    FROM events
    """,
)
def q_regexp_extract(spark, sf_dir):
    """A11/B24 (main.py:234-244): structured-token extraction by regex."""
    ev = _cat(spark, sf_dir).events
    return ev.select(
        "event_id",
        F.regexp_extract(F.col("props"), r'"k": (\d+)', 1).alias("k_str"),
    )


# =====================================================================
# A12/B3 — filters
# =====================================================================

@q(
    "q_filter_isin",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderstatus IN ('O', 'P')
    """,
)
def q_filter_isin(spark, sf_dir):
    """A12 (main.py:258-260): IN-list predicate (approved-status filter)."""
    return R.filter_isin(_cat(spark, sf_dir).orders, "o_orderstatus", ["O", "P"]).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@q(
    "q_filter_range",
    """
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
    """,
)
def q_filter_range(spark, sf_dir):
    """B3: BETWEEN + date comparison — pushed into the parquet scan."""
    li = _cat(spark, sf_dir).lineitem
    return (
        li.filter(F.col("l_quantity").between(10, 20))
        .filter(_date("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


@q(
    "q_filter_like",
    """
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE p_type LIKE 'PROMO%' OR (p_type LIKE '%MEDIUM%' AND p_size >= 25)
    """,
)
def q_filter_like(spark, sf_dir):
    """B3: LIKE + boolean algebra."""
    p = _cat(spark, sf_dir).part
    return p.filter(
        F.col("p_type").like("PROMO%")
        | (F.col("p_type").like("%MEDIUM%") & (F.col("p_size") >= 25))
    ).select("p_partkey", "p_name", "p_type")


# =====================================================================
# A6/B4/B5 — joins
# =====================================================================

@q(
    "q_join_inner",
    """
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q_join_inner(spark, sf_dir):
    """B4: inner equi-join; Catalyst picks broadcast vs shuffle by stats/AQE."""
    cat = _cat(spark, sf_dir)
    return cat.orders.join(cat.customer, F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@q(
    "q_enrich_join",
    """
    SELECT o.o_orderkey, c.c_name, c.c_acctbal
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q_enrich_join(spark, sf_dir):
    """A6 (main.py:135-138, 270-271): per-row enrichment = left join against a
    detail table; misses keep the partial row."""
    cat = _cat(spark, sf_dir)
    return cat.orders.join(
        cat.customer, F.col("o_custkey") == F.col("c_custkey"), "left"
    ).select("o_orderkey", "c_name", "c_acctbal")


@q(
    "q_left_join_coalesce",
    """
    SELECT o.o_orderkey,
           COALESCE(c.c_name, 'MISSING') AS c_name,
           COALESCE(c.c_mktsegment, '') AS c_mktsegment
    FROM orders o
    LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 5 <> 0) c
      ON o.o_custkey = c.c_custkey
    """,
)
def q_left_join_coalesce(spark, sf_dir):
    """A15 (main.py:288-303): left join enrichment results back by key;
    default-on-miss via coalesce (the reference's (raw_text, '') fallback)."""
    cat = _cat(spark, sf_dir)
    enriched = cat.customer.filter(F.col("c_custkey") % 5 != 0).select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    joined = R.left_join_with_defaults(
        cat.orders.select("o_orderkey", "o_custkey"),
        enriched,
        on=[F.col("o_custkey") == F.col("c_custkey")],
        defaults={"c_name": F.lit("MISSING"), "c_mktsegment": F.lit("")},
    )
    return joined.select("o_orderkey", "c_name", "c_mktsegment")


@q(
    "q_join_broadcast",
    """
    SELECT n.n_nationkey, n.n_name, r.r_name
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def q_join_broadcast(spark, sf_dir):
    """B7: explicit broadcast of a tiny dim (region = 5 rows) — zero shuffle."""
    cat = _cat(spark, sf_dir)
    return R.broadcast_join(
        cat.nation, cat.region, F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name", "r_name")


@q(
    "q_join_semi",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def q_join_semi(spark, sf_dir):
    """B6: left-semi join (EXISTS)."""
    cat = _cat(spark, sf_dir)
    big = cat.orders.filter(F.col("o_totalprice") > 300000)
    return R.semi_join(
        cat.customer, big, F.col("c_custkey") == F.col("o_custkey")
    ).select("c_custkey", "c_name")


@q(
    "q_join_anti",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    """,
)
def q_join_anti(spark, sf_dir):
    """B6: left-anti join (NOT EXISTS) — customers with no pending order."""
    cat = _cat(spark, sf_dir)
    pending = cat.orders.filter(F.col("o_orderstatus") == "P")
    return R.anti_join(
        cat.customer, pending, F.col("c_custkey") == F.col("o_custkey")
    ).select("c_custkey", "c_name")


@q(
    "q_join_star",
    f"""
    SELECT r.r_name, n.n_name,
           {sql_dsum(sql_revenue())} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def q_join_star(spark, sf_dir):
    """B8: multi-way star join, dims broadcast (nation/region tiny). The fact
    table shuffles at most once (for the agg) — the dim joins are map-side."""
    cat = _cat(spark, sf_dir)
    return (
        cat.lineitem.join(cat.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cat.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cat.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(cat.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            dsum(revenue()).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# =====================================================================
# A13/B22 — distinct / dedup
# =====================================================================

@q("q_distinct", "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")
def q_distinct(spark, sf_dir):
    """A13 (main.py:264-285): distinct before expensive processing."""
    return R.distinct_on(_cat(spark, sf_dir).lineitem.select("l_returnflag", "l_linestatus"))


@q(
    "q_dedup",
    """
    SELECT doc_id, lang, source FROM (
        SELECT doc_id, lang, source,
               ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
        FROM documents
    ) WHERE rn = 1
    """,
)
def q_dedup(spark, sf_dir):
    """B22: deterministic keep-first dedup (row_number window), reproducible
    across partitionings unlike dropDuplicates."""
    docs = _cat(spark, sf_dir).documents.select("doc_id", "lang", "source")
    return R.dedup_keep_first(docs, ["lang", "source"], [F.col("doc_id")])


# =====================================================================
# B11-B15 — aggregation
# =====================================================================

@q(
    "q_agg_group",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum(sql_revenue())} AS sum_disc_price,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '2001-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_group(spark, sf_dir):
    """B11: TPC-H Q1-shaped grouped aggregate. Spark plans partial+final hash
    agg; decimal-exact sums keep results order-independent (ops.exact)."""
    li = _cat(spark, sf_dir).lineitem
    return (
        li.filter(_date("l_shipdate") <= F.lit("2001-09-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(revenue()).alias("sum_disc_price"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@q(
    "q_agg_distinct",
    """
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_customers,
           CAST(ROUND(SUM(DISTINCT CAST(o_totalprice AS DECIMAL(18,4))), 4) AS DOUBLE)
               AS sum_distinct_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_agg_distinct(spark, sf_dir):
    """B12: distinct aggregates (Spark expands to a two-phase agg)."""
    from etl_data_processor_spark.ops.exact import dec
    o = _cat(spark, sf_dir).orders
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.round(F.sum_distinct(dec("o_totalprice")), 4).cast("double").alias("sum_distinct_price"),
    )


@q(
    "q_having",
    """
    SELECT c_nationkey, COUNT(*) AS n_cust
    FROM customer GROUP BY c_nationkey HAVING COUNT(*) > 3
    """,
)
def q_having(spark, sf_dir):
    """B15: post-aggregation filter."""
    return (
        _cat(spark, sf_dir)
        .customer.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"))
        .filter(F.col("n_cust") > 3)
    )


@q(
    "q_rollup",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty, COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark, sf_dir):
    """B14: rollup (subtotal hierarchy)."""
    return (
        _cat(spark, sf_dir)
        .lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n"))
    )


@q(
    "q_cube",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty, COUNT(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark, sf_dir):
    """B14: cube (all grouping-set combinations)."""
    return (
        _cat(spark, sf_dir)
        .lineitem.cube("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n"))
    )


# =====================================================================
# B19/B20/A18 — sort, top-k, limit
# =====================================================================

@q(
    "q_sort",
    """
    SELECT o_orderkey, o_orderpriority, o_totalprice
    FROM orders
    ORDER BY o_orderpriority ASC, o_totalprice DESC, o_orderkey ASC
    """,
)
def q_sort(spark, sf_dir):
    """B19: multi-key sort (value-hash is order-insensitive, but the sort
    operator itself is exercised; keys make it total for reproducibility)."""
    return _cat(spark, sf_dir).orders.orderBy(
        F.asc("o_orderpriority"), F.desc("o_totalprice"), F.asc("o_orderkey")
    ).select("o_orderkey", "o_orderpriority", "o_totalprice")


@q(
    "q_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
)
def q_topk(spark, sf_dir):
    """B20/A18: top-k — Spark plans TakeOrderedAndProject (no global sort);
    the reference's early-stop (main.py:348-349) is the same bounded-consumption
    idea."""
    return R.top_k(
        _cat(spark, sf_dir).orders.select("o_orderkey", "o_totalprice"),
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        10,
    )


# =====================================================================
# B21 — set operations
# =====================================================================

@q(
    "q_union",
    """
    SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 5000
    UNION ALL
    SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def q_union(spark, sf_dir):
    """B21: UNION ALL (bag semantics)."""
    c = _cat(spark, sf_dir).customer
    a = c.filter(F.col("c_acctbal") > 5000).select("c_custkey", "c_mktsegment")
    b = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey", "c_mktsegment")
    return a.unionAll(b)


@q(
    "q_intersect",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_intersect(spark, sf_dir):
    """B21: INTERSECT (distinct semantics, matching SQL)."""
    o = _cat(spark, sf_dir).orders
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersect(b)


@q(
    "q_except",
    """
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 200000
    """,
)
def q_except(spark, sf_dir):
    """B21: EXCEPT (distinct semantics, matching SQL) — customers that never
    placed a large order."""
    cat = _cat(spark, sf_dir)
    return cat.customer.select("c_custkey").subtract(
        cat.orders.filter(F.col("o_totalprice") > 200000).select(
            F.col("o_custkey").alias("c_custkey")
        )
    )


# =====================================================================
# B16-B18 — window functions
# =====================================================================

@q(
    "q_win_rank",
    """
    SELECT c_custkey, c_mktsegment, c_acctbal,
           CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rn,
           CAST(RANK()       OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rnk,
           CAST(DENSE_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS drnk
    FROM customer
    """,
)
def q_win_rank(spark, sf_dir):
    """B16: ranking windows — ROW_NUMBER / RANK / DENSE_RANK per segment.
    Scale shape: routed through ops/prefix.chunked_ranks (the suite
    generalizing chunked_rank to tied orders) — the plain `OVER
    (PARTITION BY c_mktsegment ...)` form single-tasks each of the 5
    segments' whole customer population; here the ranking windows run
    per (segment, acctbal-equi-depth chunk) with bounded offset frames.
    The plain window form stays as the DuckDB oracle."""
    from etl_data_processor_spark.ops.prefix import (
        chunked_ranks,
        equidepth_chunk,
    )

    cust = _cat(spark, sf_dir).customer.select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    sb, chunk = equidepth_chunk(cust, "c_acctbal", descending=True)
    out = chunked_ranks(
        sb,
        [F.desc("c_acctbal"), F.asc("c_custkey")],
        chunk,
        series_cols=["c_mktsegment"],
        tie_cols=["c_acctbal", "c_custkey"],
        rn_col="__rn",
        rank_col="__rk",
        dense_col="__dr",
    )
    return out.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.col("__rn").cast("int").alias("rn"),
        F.col("__rk").cast("int").alias("rnk"),
        F.col("__dr").cast("int").alias("drnk"),
    )


@q(
    "q_win_lag",
    """
    SELECT event_id, user_id, value,
           LAG(value)  OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value,
           LEAD(value) OVER (PARTITION BY user_id ORDER BY event_id) AS next_value
    FROM events
    """,
)
def q_win_lag(spark, sf_dir):
    """B17: lag/lead analytics (values passed through exactly — no float
    arithmetic, so no order sensitivity)."""
    w = Window.partitionBy("user_id").orderBy("event_id")
    return _cat(spark, sf_dir).events.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


@q(
    "q_win_running",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) OVER (
               PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
    FROM lineitem
    """,
)
def q_win_running(spark, sf_dir):
    """B18: running aggregate over an explicit ROWS frame; decimal-exact so
    the accumulation order can't produce engine-dependent floats.

    (l_orderkey, l_linenumber) is not unique in the fixture, so l_quantity is
    a secondary sort key: remaining ties contribute equal amounts, making the
    running-sum multiset deterministic under any tie order."""
    from etl_data_processor_spark.ops.exact import dec
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _cat(spark, sf_dir).lineitem.select(
        "l_orderkey",
        "l_linenumber",
        F.sum(dec("l_quantity")).over(w).cast("double").alias("running_qty"),
    )


# =====================================================================
# B25 — date/time functions
# =====================================================================

@q(
    "q_date_normalize",
    """
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS d,
           EXTRACT(year FROM o_orderdate) AS y,
           EXTRACT(month FROM o_orderdate) AS m,
           EXTRACT(day FROM o_orderdate) AS day,
           strftime(o_orderdate, '%Y-%m') AS ym
    FROM orders
    """,
)
def q_date_normalize(spark, sf_dir):
    """A9/A10/B25 (main.py:217-256): date normalization to typed parts +
    canonical string form (the reference's YYYY-MM-DD normalization,
    done with typed date functions instead of string surgery)."""
    o = _cat(spark, sf_dir).orders
    d = _date("o_orderdate")
    return o.select(
        "o_orderkey",
        d.alias("d"),
        F.year(d).cast("long").alias("y"),
        F.month(d).cast("long").alias("m"),
        F.dayofmonth(d).cast("long").alias("day"),
        F.date_format(d, "yyyy-MM").alias("ym"),
    )


@q(
    "q_date_trunc",
    f"""
    SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
           COUNT(*) AS n, {sql_dsum('l_extendedprice')} AS sum_price
    FROM lineitem GROUP BY 1
    """,
)
def q_date_trunc(spark, sf_dir):
    """B25: date_trunc bucketing + aggregate (the batch shape of a streaming
    tumbling window)."""
    li = _cat(spark, sf_dir).lineitem
    return (
        li.groupBy(F.date_trunc("month", F.col("l_shipdate")).cast("date").alias("ship_month"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_extendedprice").alias("sum_price"))
    )


# =====================================================================
# B2/B26 — projection + math
# =====================================================================

@q(
    "q_project_compute",
    f"""
    SELECT l_orderkey, l_linenumber,
           CAST({sql_revenue()} AS DOUBLE) AS revenue,
           CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (CAST(1 AS DECIMAL(18,4)) + CAST(l_tax AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS gross
    FROM lineitem
    """,
)
def q_project_compute(spark, sf_dir):
    """B2: computed projection. Both terms go through exact decimal arithmetic
    so the rounded doubles are engine-independent (ops.exact rationale)."""
    from etl_data_processor_spark.ops.exact import dec
    li = _cat(spark, sf_dir).lineitem
    return li.select(
        "l_orderkey",
        "l_linenumber",
        revenue().cast("double").alias("revenue"),
        F.round(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") + dec("l_tax")), 2)
        .cast("double")
        .alias("gross"),
    )


@q(
    "q_math_fns",
    """
    SELECT p_partkey,
           CAST(ROUND(SQRT(p_retailprice), 6) AS DOUBLE) AS sqrt_price,
           ABS(p_size - 25) AS size_dev,
           CAST(FLOOR(p_retailprice) AS BIGINT) AS floor_price,
           CAST(CEIL(p_retailprice) AS BIGINT) AS ceil_price,
           p_partkey % 7 AS mod7
    FROM part
    """,
)
def q_math_fns(spark, sf_dir):
    """B26: math functions (round/floor/ceil/abs/sqrt/mod)."""
    p = _cat(spark, sf_dir).part
    return p.select(
        "p_partkey",
        F.round(F.sqrt("p_retailprice"), 6).alias("sqrt_price"),
        F.abs(F.col("p_size") - 25).cast("int").alias("size_dev"),
        F.floor("p_retailprice").alias("floor_price"),
        F.ceil("p_retailprice").alias("ceil_price"),
        (F.col("p_partkey") % 7).alias("mod7"),
    )


# =====================================================================
# B23 — string functions
# =====================================================================

@q(
    "q_string_fns",
    """
    SELECT doc_id,
           upper(source) AS src_upper,
           substr(text, 1, 20) AS prefix,
           length(text) AS text_len,
           concat_ws('|', lang, source) AS tagged,
           lpad(CAST(doc_id AS VARCHAR), 8, '0') AS padded_id,
           replace(lang, 'en', 'english') AS lang_replaced
    FROM documents
    """,
)
def q_string_fns(spark, sf_dir):
    """B23: string functions (the reference's string surgery generalized —
    A4 concat, A7 split, A9 lpad)."""
    d = _cat(spark, sf_dir).documents
    return d.select(
        "doc_id",
        F.upper("source").alias("src_upper"),
        F.substring("text", 1, 20).alias("prefix"),
        F.length("text").cast("long").alias("text_len"),
        F.concat_ws("|", "lang", "source").alias("tagged"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("padded_id"),
        F.replace(F.col("lang"), F.lit("en"), F.lit("english")).alias("lang_replaced"),
    )


# =====================================================================
# B29/B30 — map / JSON
# =====================================================================

@q(
    "q_map_lookup",
    """
    SELECT o_orderkey,
           CASE EXTRACT(month FROM o_orderdate)
             WHEN 1 THEN 'januar' WHEN 2 THEN 'februar' WHEN 3 THEN 'marts'
             WHEN 4 THEN 'april' WHEN 5 THEN 'maj' WHEN 6 THEN 'juni'
             WHEN 7 THEN 'juli' WHEN 8 THEN 'august' WHEN 9 THEN 'september'
             WHEN 10 THEN 'oktober' WHEN 11 THEN 'november' WHEN 12 THEN 'december'
           END AS month_da
    FROM orders
    """,
)
def q_map_lookup(spark, sf_dir):
    """B29/A9 (main.py:29-42): literal-map lookup — the Danish month map as a
    create_map expression (broadcast literal, no join needed)."""
    o = _cat(spark, sf_dir).orders
    inverse = {int(v): k for k, v in S.DANISH_MONTHS.items()}
    return o.select(
        "o_orderkey",
        A.map_lookup(inverse, F.month(_date("o_orderdate"))).alias("month_da"),
    )


@q(
    "q_json_extract",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def q_json_extract(spark, sf_dir):
    """B30 (main.py:210): JSON field extraction, JVM-side."""
    ev = _cat(spark, sf_dir).events
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


# =====================================================================
# Flagship (SURVEY.md §7 step 1) — registered so it is oracle-checked too
# =====================================================================

from etl_data_processor_spark.flagship import flagship_q3, FLAGSHIP_SQL  # noqa: E402


@q("q_flagship_q3", FLAGSHIP_SQL)
def q_flagship(spark, sf_dir):
    """TPC-H-Q3-shaped flagship: joins + filters + exact grouped revenue + top-k."""
    return flagship_q3(spark, sf_dir)


@q(
    "q_win_dist",
    """
    SELECT c_custkey, c_mktsegment,
           CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
           CAST(FLOOR(PERCENT_RANK() OVER w * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS pct_rank,
           CAST(FLOOR(CUME_DIST() OVER w * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS cume,
           FIRST_VALUE(c_custkey) OVER w AS first_in_seg,
           LAST_VALUE(c_custkey) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_in_seg
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def q_win_dist(spark, sf_dir):
    """B16: distribution windows — ntile/percent_rank/cume_dist/first/last
    (ranks are pure integer ratios; stable floor-rounding keeps the doubles
    engine-identical). Scale shape: all five derive ARITHMETICALLY from
    ops/prefix.chunked_ranks outputs — NTILE via ntile_expr(rn, N, 4),
    PERCENT_RANK = (rank-1)/(N-1), CUME_DIST = cume_count/N, FIRST/LAST
    as the rn==1 / rn==N rows broadcast back — so no window ever
    partitions a segment's whole customer population into one task (the
    plain form is the DuckDB oracle)."""
    from etl_data_processor_spark.ops.prefix import (
        chunked_ranks,
        equidepth_chunk,
        ntile_expr,
    )
    from etl_data_processor_spark.ops.similarity import stable_round6

    cust = _cat(spark, sf_dir).customer.select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    sb, chunk = equidepth_chunk(cust, "c_acctbal", descending=True)
    r = chunked_ranks(
        sb,
        [F.desc("c_acctbal"), F.asc("c_custkey")],
        chunk,
        series_cols=["c_mktsegment"],
        tie_cols=["c_acctbal", "c_custkey"],
        rn_col="__rn",
        rank_col="__rk",
        cume_count_col="__cc",
        total_col="__n",
    )
    # FIRST/LAST value in the (acctbal DESC, custkey ASC) order via one
    # min/max-struct aggregate (negated custkey flips the tie-break) —
    # re-deriving the rank suite for rn==1 / rn==N would run the whole
    # two-phase ranking three times
    key = F.struct(
        F.col("c_acctbal").alias("b"), (-F.col("c_custkey")).alias("nk")
    )
    ext = F.broadcast(
        cust.groupBy("c_mktsegment")
        .agg(F.max(key).alias("__f"), F.min(key).alias("__l"))
        .select(
            "c_mktsegment",
            (-F.col("__f.nk")).alias("first_in_seg"),
            (-F.col("__l.nk")).alias("last_in_seg"),
        )
    )
    n, rk = F.col("__n").cast("double"), F.col("__rk").cast("double")
    pct = F.when(
        F.col("__n") > 1, (rk - F.lit(1.0)) / (n - F.lit(1.0))
    ).otherwise(F.lit(0.0))
    return (
        r.join(ext, "c_mktsegment")
        .select(
            "c_custkey",
            "c_mktsegment",
            ntile_expr(F.col("__rn"), F.col("__n"), 4).alias("quartile"),
            stable_round6(pct).alias("pct_rank"),
            stable_round6(
                F.col("__cc").cast("double") / n
            ).alias("cume"),
            "first_in_seg",
            "last_in_seg",
        )
    )


@q(
    "q_string_fns2",
    """
    SELECT doc_id,
           trim(BOTH ' ' FROM '  ' || source || '  ') AS trimmed,
           left(text, 10) AS left10,
           right(text, 10) AS right10,
           strpos(text, 'data') AS data_pos,
           repeat(lang, 2) AS lang2,
           reverse(source) AS src_rev,
           translate(lang, 'en', 'EN') AS lang_tr,
           CAST(starts_with(text, 'key') AS INTEGER) AS starts_key,
           CAST(contains(text, 'spark') AS INTEGER) AS has_spark
    FROM documents
    """,
)
def q_string_fns2(spark, sf_dir):
    """B23 (extended): trim variants, left/right, instr, repeat, reverse,
    translate, starts/contains (bools as int for cross-engine stability)."""
    d = _cat(spark, sf_dir).documents
    return d.select(
        "doc_id",
        F.trim(F.concat(F.lit("  "), F.col("source"), F.lit("  "))).alias("trimmed"),
        F.substring("text", 1, 10).alias("left10"),
        F.col("text").substr(F.length("text") - 9, F.lit(10)).alias("right10"),
        F.instr(F.col("text"), "data").cast("long").alias("data_pos"),
        F.repeat(F.col("lang"), 2).alias("lang2"),
        F.reverse(F.col("source")).alias("src_rev"),
        F.translate(F.col("lang"), "en", "EN").alias("lang_tr"),
        F.col("text").startswith("key").cast("int").alias("starts_key"),
        F.col("text").contains("spark").cast("int").alias("has_spark"),
    )


@q(
    "q_date_arith",
    """
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS due_date,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS quarter_later,
           datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch_start,
           EXTRACT(dow FROM o_orderdate) AS dow,
           EXTRACT(quarter FROM o_orderdate) AS qtr,
           last_day(CAST(o_orderdate AS DATE)) AS month_end
    FROM orders
    """,
)
def q_date_arith(spark, sf_dir):
    """B25 (extended): date arithmetic — intervals, add_months, datediff,
    day-of-week, quarter, last_day."""
    o = _cat(spark, sf_dir).orders
    d = _date("o_orderdate")
    return o.select(
        "o_orderkey",
        (d + F.expr("INTERVAL 30 DAY")).cast("timestamp").alias("due_date"),
        F.add_months(d, 3).alias("quarter_later"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).cast("long").alias("days_since_epoch_start"),
        (F.dayofweek(d) - 1).cast("long").alias("dow"),
        F.quarter(d).cast("long").alias("qtr"),
        F.last_day(d).alias("month_end"),
    )
