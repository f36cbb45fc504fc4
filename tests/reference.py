"""Reference implementations and fixtures that tests compare the
package's program paths against. Nothing in the package imports this
module: each function here is the slower or simpler form of an operator
the package runs another way (expression forms of Arrow passes, DataFrame
forms of driver-side loops), or a fixture that builds test input.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_data_processor_spark.ops import bloom as B
from etl_data_processor_spark.ops import similarity as SIM
from etl_data_processor_spark.ops import text as T
from etl_data_processor_spark.pipelines.medicines import synthetic_cards
from etl_data_processor_spark.sources.paged import HttpSession


# ---------------------------------------------------------------- dedup

def word_shingles_expr(text: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles as array<string> in pure expressions
    (split + transform over indices + array_distinct): the reference for
    ``ops.dedup.word_shingles``' Arrow pass."""
    words = F.split(F.trim(text), r"\s+")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    shingle_at = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(words, (i + j + 1).cast("int")) for j in range(k)]
    )
    return F.when(
        n >= k, F.array_distinct(F.transform(idx, shingle_at))
    ).otherwise(F.array(F.concat_ws(" ", words)))


def minhash_sigs_expr(hashes: Column, params: list[tuple[int, int]], p: int) -> Column:
    """MinHash signature array from a base-hash array: per (a, b) param,
    array_min((a·h + b) mod p). One nested higher-order expression — plan
    size independent of the number of hashes, no shuffle, no explode.
    The reference for ``ops.dedup._minhash_sigs_col``' Arrow pass."""
    param_arr = F.array(
        *[F.struct(F.lit(a).alias("a"), F.lit(b).alias("b")) for a, b in params]
    )
    return F.transform(
        param_arr,
        lambda pr: F.array_min(
            F.transform(
                hashes,
                lambda h: (pr.getField("a") * h + pr.getField("b")) % F.lit(p),
            )
        ),
    )


def charfold(tok, base: int):
    """Portable 32-bit polynomial char fold (Horner, ``base``, mod 2^32)
    as a pure Column expression — bit-identical on DuckDB via
    ``queries_r7b._CF_SQL`` and to ``ops.dedup.charfold_simhash``.
    Two folds with coprime bases (31, 37) give 64 independent portable
    hash bits without ever leaving checked int64 range on either engine
    (max intermediate (2^32-1)*37 + 127 < 2^38)."""
    codes = F.when(
        F.length(tok) > 0,
        F.transform(
            F.sequence(F.lit(1), F.length(tok)),
            lambda i: F.ascii(tok.substr(i, F.lit(1))).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda a, c: (a * base + c) % F.lit(1 << 32),
    )


def sig32(hashes):
    """32-bit SimHash signature from an array of token hashes: per-bit
    +1/-1 votes folded through a 32-counter array accumulator (one pass,
    no explode), majority-positive bits OR-ed into a long."""
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(32)])
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), 32),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


# ---------------------------------------------------------------- linkage EM

def fs_estep(pat, params):
    """E-step: posterior-of-match per agreement pattern, as a 1e-12
    fixed-point BIGINT (exact under summation)."""

    def field(g, m):
        return F.when(F.col(g) == 1, F.col(m)).otherwise(F.lit(1.0) - F.col(m))

    j = pat.crossJoin(F.broadcast(params))
    pm = (
        F.col("lam")
        * field("g1", "m1") * field("g2", "m2") * field("g3", "m3")
    )
    pu = (
        (F.lit(1.0) - F.col("lam"))
        * field("g1", "u1") * field("g2", "u2") * field("g3", "u3")
    )
    wq = F.floor(pm / (pm + pu) * F.lit(1e12) + F.lit(0.5)).cast("long")
    return j.select("g1", "g2", "g3", "n", wq.alias("wq"))


def fs_mstep(e):
    """M-step: new (lam, m_i, u_i) from exact integer sums; each ratio is
    one double division of exact BIGINTs, then 1e-12-quantized and
    clamped away from {0,1} (log-ratio safety, the Splink clamp)."""
    lo, hi = F.lit(1e-6), F.lit(0.999999)

    def qz12(c):
        return (
            F.floor(c * F.lit(1e12) + F.lit(0.5)).cast("double") / F.lit(1e12)
        )

    def clamp(c):
        return F.least(F.greatest(qz12(c), lo), hi)

    wn = F.col("wq") * F.col("n")
    vn = (F.lit(1000000000000).cast("long") - F.col("wq")) * F.col("n")
    agg = e.agg(
        F.sum(wn).alias("S"),
        F.sum(F.col("n")).alias("T"),
        F.sum(vn).alias("V"),
        *[
            F.sum(F.when(F.col(g) == 1, wn).otherwise(F.lit(0))).alias(f"S{g}")
            for g in ("g1", "g2", "g3")
        ],
        *[
            F.sum(F.when(F.col(g) == 1, vn).otherwise(F.lit(0))).alias(f"V{g}")
            for g in ("g1", "g2", "g3")
        ],
    )
    d = lambda c: c.cast("double")  # noqa: E731
    return agg.select(
        clamp(d(F.col("S")) / (d(F.col("T")) * F.lit(1e12))).alias("lam"),
        clamp(d(F.col("Sg1")) / d(F.col("S"))).alias("m1"),
        clamp(d(F.col("Sg2")) / d(F.col("S"))).alias("m2"),
        clamp(d(F.col("Sg3")) / d(F.col("S"))).alias("m3"),
        clamp(d(F.col("Vg1")) / d(F.col("V"))).alias("u1"),
        clamp(d(F.col("Vg2")) / d(F.col("V"))).alias("u2"),
        clamp(d(F.col("Vg3")) / d(F.col("V"))).alias("u3"),
    )


# ---------------------------------------------------------------- BPE

def train_bpe_merges(
    df: DataFrame,
    n_merges: int = 16,
    text_col: str = "text",
    max_vocab: int = 65536,
) -> list[tuple[str, str]]:
    """Greedy BPE merge-list training (Sennrich et al. 2016, public):
    repeatedly merge the highest-weighted adjacent symbol pair over the
    corpus vocabulary. Returns the merges in rank order. Argmax ties
    break deterministically (count desc, pair asc — the same total order
    ``ops.text.bpe_pair_counts`` publishes).

    100 TB shape: the CORPUS is touched exactly once — the word-frequency
    hash aggregate (map-side partials shrink the shuffle to vocabulary
    size) — and the driver collects at most ``max_vocab`` word types (the
    most frequent, ties word-asc, via TakeOrderedAndProject). Word-type
    counts grow ~sqrt(corpus) (Heaps' law), so an UNCAPPED collect would
    pull billions of types onto the driver at 100 TB (VERDICT r6 #3);
    capping is standard practice (production BPE trainers prune hapax/
    low-frequency types), and tail types cannot win a merge argmax while
    n_merges << vocab on any realistic corpus — the trained list on the
    fixture is pinned in tests/test_r6_ops.py. The iterative
    merge loop then runs on the collected vocabulary (a bounded MODEL
    artifact, like k-means centroids in
    ops.similarity.train_ivf_centroids), where each iteration is a linear
    pass over vocab symbol sequences. Pure Python on driver-side model
    state, never on corpus rows."""
    from collections import Counter

    rows = (
        df.select(F.explode(T.tokenize(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(max_vocab)
        .collect()
    )
    words = Counter()
    for r in rows:
        words[tuple(r["word"])] += r["freq"]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pc: Counter = Counter()
        for syms, f in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += f
        if not pc:
            break
        (a, b), _cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b))
        nxt: Counter = Counter()
        for syms, f in words.items():
            nxt[_bpe_apply_pair(syms, a, b)] += f
        words = nxt
    return merges


def _bpe_apply_pair(syms: tuple, a: str, b: str) -> tuple:
    """One full merge pass: replace every left-to-right non-overlapping
    adjacent (a, b) with a+b — the canonical BPE within-rank rule."""
    out: list = []
    for s in syms:
        if out and out[-1] == a and s == b:
            out[-1] = a + b
        else:
            out.append(s)
    return tuple(out)


# ---------------------------------------------------------------- bloom

def might_contain(
    key: Column, words: list[int], m_bits: int, k: int = 5, seed: int = 0
) -> Column:
    """Membership test Column in pure JVM expressions: the reference for
    ``ops.bloom.might_contain_batch``.

    The word table is ONE array literal (F.lit on the list), not an
    F.array of m/64 literal nodes — the expanded tree blows past the
    codegen size limits and falls back to interpreted evaluation
    (measured ~3 µs/row, 37 s over a 12M-row fact; the single-literal
    form runs at scan speed)."""
    arr = F.lit(words).cast("array<long>")
    tests = []
    for p in B._positions(key, m_bits, k, seed):
        word = F.element_at(arr, (p / 64).cast("int") + 1)
        bit = F.call_function(
            "shiftrightunsigned", word, (p % 64).cast("int")
        ).bitwiseAND(F.lit(1))
        tests.append(bit == F.lit(1))
    cond = tests[0]
    for t in tests[1:]:
        cond = cond & t
    return cond


# ---------------------------------------------------------------- similarity

def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: one bit per plane = sign of <v, p>,
    packed into a long. Pure expressions — the planes are literals folded
    into codegen.

    The sign test is an EXACT fixed-point integer dot (both sides quantized
    at scale ``_Q``): order-independent and engine-stable. The reference
    for ``ops.similarity.lsh_signatures_batch``."""
    qv = SIM._quantize(vec)
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(
                qv,
                F.array(*[F.lit(x) for x in SIM._quantize_plane(p)]),
                lambda x, y: x * y,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(dot >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0))
    return sig


def lsh_probe_buckets(
    vec: Column, planes: list[list[float]], n_probes: int
) -> Column:
    """Multi-probe bucket list (query-directed, after Lv et al. VLDB'07):
    the exact signature plus the single-bit flips with the smallest
    projection |margin| — the planes the vector sits closest to are the ones
    most likely to disagree with a true neighbor's signature. Returns an
    array of ``n_probes`` bucket ids; pure expressions, so the query side
    stays a broadcast literal plan. Dots are the same exact fixed-point
    integers as :func:`lsh_bucket`, so probe bucket 0 (the unflipped
    signature) is bit-identical to the corpus-side signature. The
    reference for ``ops.similarity._probe_buckets_py``."""
    qv = SIM._quantize(vec)
    dots = [
        F.aggregate(
            F.zip_with(
                qv,
                F.array(*[F.lit(x) for x in SIM._quantize_plane(p)]),
                lambda x, y: x * y,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        for p in planes
    ]
    sig = F.lit(0).cast("long")
    for i, d in enumerate(dots):
        sig = sig + F.when(d >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0))
    margins = F.array(
        *[
            F.struct(F.abs(d).alias("m"), F.lit(i).alias("i"))
            for i, d in enumerate(dots)
        ]
    )
    n_flips = min(n_probes - 1, len(planes))
    flips = F.slice(F.array_sort(margins), 1, n_flips)
    bitvals = F.array(*[F.lit(1 << i).cast("long") for i in range(len(planes))])

    def flip(s):
        # closure over sig/bitvals (never default args: pyspark binds extra
        # lambda params to the element index)
        return sig.bitwiseXOR(F.element_at(bitvals, s.getField("i") + 1))

    return F.concat(F.array(sig), F.transform(flips, flip))


def lsh_cosine_topk_expr(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    n_probes: int = 1,
    n_tables: int = 1,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """``ops.similarity.lsh_cosine_topk`` with both sides as expressions:
    corpus buckets through :func:`lsh_bucket`, query probes through
    :func:`lsh_probe_buckets`, then the same candidate scoring and rank."""
    tables = [
        SIM.hyperplanes(dim, n_planes, seed + 1000003 * t) for t in range(n_tables)
    ]
    c = corpus.select(
        "vec_id",
        "embedding",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        lsh_bucket(F.col("embedding"), planes).alias("sig"),
                    )
                    for t, planes in enumerate(tables)
                ]
            )
        ).alias("__bk"),
    )
    probes = [
        F.transform(
            lsh_probe_buckets(F.col("embedding"), planes, n_probes),
            (lambda t: lambda s: F.struct(F.lit(t).alias("t"), s.alias("sig")))(t),
        )
        for t, planes in enumerate(tables)
    ]
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("__qvec"),
            F.explode(F.flatten(F.array(*probes))).alias("__bk"),
        )
    )
    scored = (
        c.join(q, "__bk")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", SIM.dec_cosine(F.col("embedding"), F.col("__qvec")))
        .select("query_id", "vec_id", "cosine")
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def ivf_sums_expr(
    corpus: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd iteration's per-(list, pos) integer sums and counts in
    expressions: crossJoin against the broadcast centroids, rank by
    exact dot (ties to the smallest cid), posexplode + groupBy. The
    reference for ``ops.similarity._ivf_partial_sums``."""
    spark = corpus.sparkSession
    cdf = F.broadcast(
        spark.createDataFrame(
            [(cid, v) for cid, v in cents], ["__cid", "__cvec"]
        ).withColumn("__cvec", F.col("__cvec").cast("array<float>"))
    )
    scored = corpus.select(id_col, vec_col).crossJoin(cdf).withColumn(
        "__d", SIM.dec_dot(F.col(vec_col), F.col("__cvec"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("__d"), F.asc("__cid"))
    assigned = (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(F.col("__cid").alias("__list"), SIM._quantize(F.col(vec_col)).alias("__q"))
    )
    return (
        assigned.select("__list", F.posexplode("__q").alias("pos", "x"))
        .groupBy("__list", "pos")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------- fixtures

def synthetic_html_site(spark, n: int = 40):
    """Render the ``pipelines.medicines.synthetic_cards`` fixture as RAW
    HTML — one listing page per 8 cards (tier rotating through the 3-tier card-selector fallback,
    main.py:85-97) plus one detail page per card — so the pipeline can be
    driven from actual markup instead of pre-extracted columns.

    Listing hrefs carry the decision-link marker the reference's selector
    requires (main.py:90-92), alternating relative/absolute to keep both A4
    branches live; the href (pre-absolutization) is the listing<->detail
    join key, exactly as the reference fetches each card's url
    (main.py:266-270). Returns (listing_pages_df, detail_pages_df)."""
    cards = synthetic_cards(spark, n)
    i = F.regexp_extract("url", r"med-(\d+)$", 1).cast("long")
    href = F.when(
        i % 2 == 0, F.format_string("/anbefalinger-og-vejledninger/med-%d", i)
    ).otherwise(
        F.format_string("https://ext.example/anbefalinger-og-vejledninger/med-%d", i)
    )
    page = F.floor(i / 8)
    tier = (page % 3).cast("int")
    card_html = (
        F.when(
            tier == 0,
            F.format_string(
                '<div class="card"><a href="%s">Laes mere</a><p>%s</p></div>',
                href,
                F.col("card_text"),
            ),
        )
        .when(
            tier == 1,
            F.format_string(
                '<article><a href="%s">Laes mere</a><span>%s</span></article>',
                href,
                F.col("card_text"),
            ),
        )
        .otherwise(
            F.format_string('<p><a href="%s">%s</a></p>', href, F.col("card_text"))
        )
    )
    keyed = cards.select(
        i.alias("i"), page.alias("page"), href.alias("href"),
        card_html.alias("card_html"), "heading", "detail_text",
    )
    listing = keyed.groupBy("page").agg(
        F.concat(
            F.lit("<html><body>\n"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "card_html"))),
                    lambda s: s["card_html"],
                ),
                "\n",
            ),
            F.lit("\n</body></html>"),
        ).alias("html")
    )
    details = keyed.select(
        F.col("href").alias("url"),
        F.format_string(
            '<html><body>\n<h1>%s</h1>\n<div class="detail">%s</div>\n</body></html>',
            F.col("heading"),
            F.col("detail_text"),
        ).alias("html"),
    )
    return listing, details


def fetch_details_live(
    df,
    base_url: str,
    url_col: str = "url",
    rate: float | None = None,
    timeout: float = 30.0,
):
    """Per-row detail-page fetch over live HTTP (the reference fetches each
    card's own page before detail extraction, main.py:266-270): widen
    ``df`` with an ``html`` column by GETting ``urljoin(base_url, url)``
    for every row. One :class:`HttpSession` per PARTITION (the reference's
    single requests.Session, main.py:22-25) so connections, the UA header
    and the optional token bucket are reused across the partition's rows —
    at cluster scale the aggregate request rate is rate x partitions, the
    same contract as the paged source. A failed page yields html=NULL and
    the row survives (downstream extract_details already NULL-fills — the
    reference appends the un-enriched decision, main.py:283-285).
    Compose with ``ops.html.extract_details`` for the
    fetch -> parse -> enrich -> CSV path over real sockets."""
    import pandas as pd
    from urllib.parse import urljoin

    from pyspark.sql.types import StringType, StructField, StructType

    keep_fields = list(df.schema.fields)
    schema = StructType(keep_fields + [StructField("html", StringType())])

    def gen(batches):
        session = HttpSession(rate=rate, timeout=timeout)
        for pdf in batches:
            html: list = []
            for u in pdf[url_col]:
                try:
                    resp = session.get(urljoin(base_url, u))
                    resp.raise_for_status()
                    html.append(resp.text)
                except Exception:
                    html.append(None)  # per-record skip tier
            out = pdf.copy()
            out["html"] = pd.array(html, dtype=object)
            yield out

    return df.mapInPandas(gen, schema)
