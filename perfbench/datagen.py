"""Seeded input generators for the benchmark workloads.

``write_tables`` writes the ten fixture tables the query registry reads
(``etl_data_processor_spark.io.TABLES``) with the same column names, types
and value domains as the fixed sf0.001/sf0.01/sf0.1 testdata, at any scale
factor and from any seed. Row counts follow the testdata's per-sf ratios
(lineitem = 6M x sf, documents = 50k x sf, ...).

``medicines_site`` renders a seeded card population as raw HTML (25-card
listing pages plus one detail page per card) and derives the rows the
reference pipeline must output from the fields it drew (``expected_rows``),
so every pass can be checked without a second engine.

The same (seed, size) always gives byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
FLAG_STATUS = [("R", "O"), ("A", "O"), ("N", "F"), ("N", "O"), ("A", "F"), ("R", "F")]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

_DAY = np.timedelta64(1, "D")


def _days(start: str, end: str, rng: np.random.Generator, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo) / _DAY)
    return (lo + rng.integers(0, span + 1, n) * _DAY).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), values).cast(
        pa.string()
    )


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in range(n)])


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All fixture tables at scale ``sf`` (sf=0.1: 600k lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(int(150_000 * sf), 50), max(int(10_000 * sf), 10)
    n_part, n_ord = max(int(200_000 * sf), 64), max(int(1_500_000 * sf), 100)
    n_line, n_evt = max(int(6_000_000 * sf), 400), max(int(1_000_000 * sf), 100)
    n_doc, n_emb = max(int(50_000 * sf), 50), max(int(20_000 * sf), 20)
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    part_names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    pk = np.arange(n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, i64),
            "p_name": _pick(rng, part_names, n_part),
            "p_brand": _pick(rng, [f"Brand#{k}" for k in range(1, 26)], n_part),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days("1995-01-01", "2001-08-01", rng, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    fs = rng.integers(0, len(FLAG_STATUS), n_line)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pa.array([FLAG_STATUS[k][0] for k in fs]),
            "l_linestatus": pa.array([FLAG_STATUS[k][1] for k in fs]),
            "l_shipdate": _days("1995-01-02", "2001-11-04", rng, n_line),
        }
    )
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_evt))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), i64),
            "ts": t0 + offs.astype("timedelta64[us]"),
            "user_id": pa.array(rng.integers(0, max(n_evt // 66, 10), n_evt), i64),
            "event_type": _pick(rng, EVENT_TYPES, n_evt),
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
        }
    )
    # near-duplicates as in the fixture: 5.0% of its documents (25 of 500
    # at sf0.01, 250 of 5,000 at sf0.1) are an earlier document plus the
    # word "dup". Every seed gets the same count, at random positions, so
    # the dedup work does not vary with the seed; corpus_shares.py measures
    # the pair, contamination and cluster shares this yields.
    dups = set(rng.choice(np.arange(11, n_doc), n_doc // 20, replace=False).tolist())
    texts: list[str] = []
    for d in range(n_doc):
        if d in dups:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, d))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": texts,
            "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
            "source": pa.array([f"src{d % 20}" for d in range(n_doc)]),
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(size=(10, 64))
    vecs = 0.3 * centroids[labels] + rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return out


def write_tables(sf: float, seed: int, out_dir: str) -> None:
    """Write every fixture table as ``<out_dir>/<name>.parquet`` (one file,
    one row group, like the testdata)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# medicines: raw HTML site + the rows the reference pipeline must output
# ---------------------------------------------------------------------------

DANISH_MONTHS = [
    "januar", "februar", "marts", "april", "maj", "juni", "juli",
    "august", "september", "oktober", "november", "december",
]
STATUS_TEXT = {
    "Anbefalet": "Anbefalet af Medicinraadet",
    "Delvist anbefalet": "Delvist anbefalet til udvalgte patienter",
    "Ikke anbefalet": "Ikke anbefalet som standardbehandling",
    None: "Under vurdering",
}
STATUSES = ["Anbefalet", "Delvist anbefalet", "Ikke anbefalet", None]
SEPARATORS = [" - ", " – ", " — ", None]
SYLLABLES = "ab ad al am an ar ba be ci da de di fa ga li lo ma mi mo na ne ni no ra ri ro sa se ta ti to va vi xa zo".split()
CONDITIONS = "astma diabetes eksem gigt migraene psoriasis leukaemi myelomatose hepatitis epilepsi".split()
CARDS_PER_PAGE = 25
BASE_URL = "https://medicinraadet.dk"


def _drug_pool(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct 1-3 word drug texts (ingredient [trade [form]])."""
    seen: set[str] = set()
    pool: list[str] = []
    while len(pool) < n:
        words = []
        for _ in range(int(rng.integers(1, 4))):
            syl = rng.choice(SYLLABLES, int(rng.integers(2, 5)))
            words.append("".join(syl))
        words[0] = words[0].capitalize()
        text = " ".join(words)
        if text not in seen:
            seen.add(text)
            pool.append(text)
    return pool


def _shares(rng: np.random.Generator, n: int, k: int) -> np.ndarray:
    """``n`` labels 0..k-1 in equal shares, in random order: every seed gets
    the same mix, so the pipeline's work does not vary with the seed."""
    return rng.permutation(np.arange(n) % k)


def medicines_cards(n_cards: int, seed: int) -> list[dict]:
    """Draw ``n_cards`` cards; drug names repeat with a Zipf(1.1) law."""
    rng = np.random.default_rng(seed)
    pool = _drug_pool(rng, max(n_cards // 10, 1))
    ranks = np.minimum(rng.zipf(1.1, n_cards), len(pool)) - 1
    status, seps = _shares(rng, n_cards, 4), _shares(rng, n_cards, 4)
    forms, has_atc = _shares(rng, n_cards, 3), _shares(rng, n_cards, 5) > 0
    cards = []
    for i in range(n_cards):
        sep = SEPARATORS[seps[i]]
        cond = CONDITIONS[int(rng.integers(0, len(CONDITIONS)))]
        date_form = int(forms[i])  # danish / numeric / none
        d, m, y = int(rng.integers(1, 29)), int(rng.integers(1, 13)), int(rng.integers(2015, 2025))
        atc = None
        if has_atc[i]:
            atc = "%s%02d%s%s%02d" % (
                chr(65 + int(rng.integers(0, 26))), int(rng.integers(0, 100)),
                chr(65 + int(rng.integers(0, 26))), chr(65 + int(rng.integers(0, 26))),
                int(rng.integers(0, 100)),
            )
        cards.append(
            {
                "i": i,
                "drug": pool[int(ranks[i])],
                "status": STATUSES[status[i]],
                "sep": sep,
                "indication": f"behandling af {cond}",
                "label": sep is None or rng.random() < 0.3,
                "date": (date_form, d, m, y),
                "atc": atc,
                "relative": i % 2 == 0,
            }
        )
    return cards


def _href(card: dict) -> str:
    path = f"/anbefalinger-og-vejledninger/med-{card['i']}"
    return path if card["relative"] else f"https://ext.example{path}"


def _card_html(card: dict, tier: int) -> str:
    href, text = _href(card), STATUS_TEXT[card["status"]]
    if tier == 0:
        return f'<div class="card"><a href="{href}">Laes mere</a><p>{text}</p></div>'
    if tier == 1:
        return f'<article><a href="{href}">Laes mere</a><span>{text}</span></article>'
    return f'<p><a href="{href}">{text}</a></p>'


def _detail_html(card: dict) -> str:
    heading = card["drug"] + (card["sep"] + card["indication"] if card["sep"] else "")
    bits = []
    form, d, m, y = card["date"]
    if form == 0:
        bits.append(f"Godkendt den {d}. {DANISH_MONTHS[m - 1]} {y}")
    elif form == 1:
        bits.append(f"Beslutning {d}.{m}.{y}")
    if card["atc"]:
        bits.append(f"Kode {card['atc']}")
    if card["label"]:
        bits.append(f"Anvendelse: {card['indication']}.")
    return (
        f"<html><body>\n<h1>{heading}</h1>\n"
        f'<div class="detail">{" ".join(bits)}</div>\n</body></html>'
    )


def medicines_site(n_cards: int, seed: int) -> tuple[pa.Table, pa.Table, list[dict]]:
    """(listing pages, detail pages, cards): listing pages hold 25 cards
    each, with the card markup tier (div.card / article / bare link)
    rotating by page; one detail page per card keyed by its href."""
    cards = medicines_cards(n_cards, seed)
    pages = []
    for p in range(0, n_cards, CARDS_PER_PAGE):
        tier = (p // CARDS_PER_PAGE) % 3
        body = "\n".join(_card_html(c, tier) for c in cards[p : p + CARDS_PER_PAGE])
        pages.append(f"<html><body>\n{body}\n</body></html>")
    listing = pa.table(
        {"page": pa.array(range(len(pages)), pa.int64()), "html": pages}
    )
    details = pa.table(
        {"url": [_href(c) for c in cards], "html": [_detail_html(c) for c in cards]}
    )
    return listing, details, cards


def expected_rows(cards: list[dict]) -> list[tuple]:
    """The 5 output columns run_pipeline yields for these cards, with the
    deterministic stub enrichment (first token uppercased, second token or
    ''): approved and partially approved cards only, one row each."""
    rows = []
    for c in cards:
        if c["status"] not in ("Anbefalet", "Delvist anbefalet"):
            continue
        toks = c["drug"].split()
        form, d, m, y = c["date"]
        date = (
            f"{y}-{m:02d}-{d:02d}" if form == 0 else f"{d}.{m}.{y}" if form == 1 else None
        )
        indication = c["indication"] if (c["sep"] or c["label"]) else None
        rows.append(
            (toks[0].upper(), toks[1] if len(toks) > 1 else "", c["atc"], date, indication)
        )
    return rows


def write_medicines(n_cards: int, seed: int, out_dir: str) -> list[dict]:
    listing, details, cards = medicines_site(n_cards, seed)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(listing, os.path.join(out_dir, "listing.parquet"))
    pq.write_table(details, os.path.join(out_dir, "details.parquet"))
    return cards
