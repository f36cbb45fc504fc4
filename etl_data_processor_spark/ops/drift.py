"""Drift statistics as frame-level kernels: PSI, Jensen-Shannon
divergence, Kolmogorov-Smirnov and Mann-Whitney U.

Each kernel takes per-source counts plus a reference's counts and
returns one row per source. The registered keys (q_quality_drift_psi,
q_js_divergence, q_ks_drift, q_mannwhitney_u) are loaders that count
the corpus and pick its reference; the statistic is computed by the
one plan below, the one the DuckDB oracle checks.

Arithmetic follows the house fixed-point discipline: integer counts,
float terms quantized to 1e-12 integers before any sum (integer sums
are order-independent), one final 1e-6 rounding. A degenerate input (a
zero variance, one point) yields NULL, never a division error. Kernels
cache nothing; a loader caches what several branches read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_data_processor_spark.ops import similarity as SIM
from etl_data_processor_spark.ops import text as T

PSI_BINS = 10
KS_C05 = 1.358  # c(alpha) for alpha = 0.05 (standard KS table)


def _q12(x):
    return F.floor(x * F.lit(1e12) + F.lit(0.5)).cast("long")


def psi_bin_counts(docs: DataFrame) -> DataFrame:
    """(source, bin, c): quality-score decile counts per source."""
    qs = T.quality_score(F.col("text"))
    b = docs.select(
        "source",
        F.least(F.floor(qs * PSI_BINS).cast("int"), F.lit(PSI_BINS - 1)).alias("bin"),
    )
    return b.groupBy("source", "bin").agg(F.count("*").alias("c"))


def psi_kernel(cnt: DataFrame, ref: DataFrame) -> DataFrame:
    """Population Stability Index of each source's bins ``cnt``
    (source, bin, c) against the reference bins ``ref`` (bin, c):
    +1/+10 Laplace smoothing, each (p-r)*ln(p/r) term quantized before
    the sum. Output (source, n_docs, psi6); PSI > 0.25 reads as shifted.
    The reference's bins and total come from ONE aggregate, so the
    reference is read once."""
    spark = cnt.sparkSession
    bins = spark.range(PSI_BINS).select(F.col("id").cast("int").alias("bin"))
    tot = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    filled = tot.crossJoin(bins).join(cnt, ["source", "bin"], "left").select(
        "source", "bin", "n", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    rm = ref.agg(
        F.map_from_entries(F.collect_list(F.struct("bin", "c"))).alias("m"),
        F.sum("c").cast("long").alias("rn"),
    )
    rd = bins.crossJoin(rm).select(
        "bin", F.coalesce(F.col("m")[F.col("bin")], F.lit(0)).alias("rc"), "rn"
    )
    p = (F.col("c") + 1.0) / (F.col("n") + float(PSI_BINS))
    r = (F.col("rc") + 1.0) / (F.col("rn") + float(PSI_BINS))
    terms = filled.join(F.broadcast(rd), "bin").select(
        "source", "n", _q12((p - r) * F.log(p / r)).alias("tq")
    )
    return terms.groupBy("source").agg(
        F.first("n").alias("n_docs"),
        (F.floor(F.sum("tq").cast("double") / 1000000.0 + 0.5) / 1000000.0).alias(
            "psi6"
        ),
    )


def jsd_token_counts(docs: DataFrame) -> DataFrame:
    """(source, token, c): unigram counts per source, from the Arrow
    pass (exact strings, exact integer counts; the final sum runs in
    the JVM)."""
    e = T.doc_grams_arrow(docs, (1,), "source", "string", shape="batch_counts")
    return e.groupBy("source", F.col("g").alias("token")).agg(F.sum("c").alias("c"))


def jsd_kernel(cs: DataFrame, ref: DataFrame) -> DataFrame:
    """Jensen-Shannon divergence of each source's unigram counts ``cs``
    (source, token, c) against the reference counts ``ref`` (token, c),
    over the UNION of both vocabularies: (KL(P||M) + KL(Q||M))/2 with M
    the midpoint, each side's p*ln(p/m) term quantized before the sum,
    a token absent from one side contributing only the other side's
    term (0*ln 0 pinned to 0). Output (source, jsd6), bounded by ln 2.

    The grid is sources x reference vocabulary (left-joined to ``cs``)
    plus the source tokens the reference lacks (a broadcast anti-join);
    when the reference covers every source token, as the corpus
    reference of q_js_divergence does, the second part is empty."""
    ns = cs.groupBy("source").agg(F.sum("c").alias("nsrc"))
    ng = ref.agg(F.sum("c").alias("ntot"))
    rc = ref.select("token", F.col("c").alias("cg"))
    grid = (
        cs.select("source").distinct()
        .crossJoin(rc)
        .join(cs, ["source", "token"], "left")
        .unionByName(
            cs.join(F.broadcast(rc), "token", "left_anti").withColumn(
                "cg", F.lit(0).cast("long")
            )
        )
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(ng))
        .select(
            "source",
            F.coalesce(F.col("c"), F.lit(0)).alias("cs"),
            "cg", "nsrc", "ntot",
        )
    )
    dd = lambda c: c.cast("double")  # noqa: E731
    p = dd(F.col("cs")) / dd(F.col("nsrc"))
    qv = dd(F.col("cg")) / dd(F.col("ntot"))
    m = (p + qv) / F.lit(2.0)
    zero = F.lit(0).cast("long")
    pq = F.when(F.col("cs") == 0, zero).otherwise(_q12(p * F.log(p / m)))
    qq = F.when(F.col("cg") == 0, zero).otherwise(_q12(qv * F.log(qv / m)))
    terms = grid.select("source", pq.alias("pq"), qq.alias("qq"))
    jsd = (
        F.sum("pq").cast("double") + F.sum("qq").cast("double")
    ) / F.lit(2.0) / F.lit(1e12)
    return terms.groupBy("source").agg(SIM.stable_round6(jsd).alias("jsd6"))


def value_counts(docs: DataFrame, col: str = "n_chars") -> DataFrame:
    """(source, v, c): per-source value counts of an integer column —
    bounded by the column's value range, not the row count."""
    return docs.groupBy("source", F.col(col).alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )


def ks_kernel(vc: DataFrame, ref: DataFrame) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov statistic of each source's
    value counts ``vc`` (source, v, c) against the reference's ``ref``
    (v, c), with the alpha=0.05 rejection flag. D is maximized over
    cross-multiplied ECDF integers (fs*n_ref - fr*n — no float until the
    single final normalization). The ECDF grid is sources x the distinct
    values of both sides; the only window runs per source on it. Output
    (source, n, ks6, drifted)."""
    rc = ref.select("v", F.col("c").alias("cr"))
    nn = vc.groupBy("source").agg(F.sum("c").alias("n"))
    n_ref = ref.agg(F.sum("c").alias("n_ref"))
    points = vc.select("v").union(ref.select("v")).distinct()
    pts = (
        vc.select("source").distinct()
        .crossJoin(F.broadcast(points))  # keeps the grid partitioned by source
        .join(vc, ["source", "v"], "left")
        .join(F.broadcast(rc), "v", "left")
        .select(
            "source", "v",
            F.coalesce(F.col("c"), F.lit(0)).alias("cs"),
            F.coalesce(F.col("cr"), F.lit(0)).alias("cr"),
        )
    )
    wv = Window.partitionBy("source").orderBy("v")
    cum = pts.select(
        "source", "v",
        F.sum("cs").over(wv).alias("fs"),
        F.sum("cr").over(wv).alias("fr"),
    )
    dmax = (
        cum.join(F.broadcast(nn), "source")
        .crossJoin(F.broadcast(n_ref))
        .groupBy("source", "n")
        .agg(
            F.max(
                F.abs(F.col("fs") * F.col("n_ref") - F.col("fr") * F.col("n"))
            ).alias("dmax"),
            F.first("n_ref").alias("n_ref"),
        )
    )
    nd = F.col("n").cast("double")
    rd = F.col("n_ref").cast("double")
    ks = F.col("dmax").cast("double") / (nd * rd)
    crit = F.lit(KS_C05) * F.sqrt((nd + rd) / (nd * rd))
    return dmax.select(
        "source", "n",
        SIM.stable_round6(ks).alias("ks6"),
        F.when(ks > crit, 1).otherwise(0).alias("drifted"),
    )


def mwu_kernel(vc: DataFrame, ref: DataFrame) -> DataFrame:
    """Exact two-sample Mann-Whitney U of each source's value counts
    ``vc`` (source, v, c) against the reference's ``ref`` (v, c):
    U*2 = sum_v cs(v) * (2*cumR(<v) + cr(v)) in integers, the
    tie-corrected variance's numerator in DECIMAL(38), one sqrt and one
    division for z. The only window cumulates the reference's value
    table. Output (source, ns, u2, z6, shifted) with the alpha=0.05
    two-sided flag; a zero variance (every value one tie group, or a
    single observation) gives z6 NULL and shifted false."""
    pts = vc.select("v").union(ref.select("v")).distinct()
    rc = pts.join(ref.select("v", F.col("c").alias("cr")), "v", "left").select(
        "v", F.coalesce(F.col("cr"), F.lit(0)).alias("cr")
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    rcum = rc.select(
        "v", "cr", F.coalesce(F.sum("cr").over(wv), F.lit(0)).alias("crum")
    )
    grid = (
        vc.select("source").distinct()
        .crossJoin(rcum)
        .join(vc, ["source", "v"], "left")
        .select(
            "source", "v",
            F.coalesce(F.col("c"), F.lit(0)).alias("cs"),
            "cr", "crum",
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    t = F.col("cs") + F.col("cr")
    m = grid.groupBy("source").agg(
        F.sum("cs").alias("ns"),
        F.sum("cr").alias("nr"),
        F.sum(F.col("cs") * (F.lit(2) * F.col("crum") + F.col("cr"))).alias("u2"),
        F.sum(dec(t) * dec(t) * dec(t) - dec(t)).alias("tq"),
    )
    dd = lambda c: c.cast("double")  # noqa: E731
    ns, nr = F.col("ns"), F.col("nr")
    n = ns + nr
    nvar = dec(ns) * dec(nr) * (dec(n) * dec(n) * dec(n) - dec(n) - F.col("tq"))
    dvar = dec(F.lit(12)) * dec(n) * dec(n - 1)
    zval = F.try_divide(
        dd(F.col("u2")) - dd(ns * nr),
        F.lit(2.0) * F.sqrt(F.try_divide(dd(nvar), dd(dvar))),
    )
    return m.select(
        "source", "ns", "u2",
        SIM.stable_round6(zval).alias("z6"),
        F.coalesce(F.abs(zval) > 1.96, F.lit(False)).alias("shifted"),
    )
