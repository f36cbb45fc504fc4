"""VERDICT r4 item 7 — the COMPOSED live-transport golden run: HttpSession
+ the paged source (live mode) + fetch_details_live + the enrichment client
factory, wired through pipelines/medicines.py::run_pipeline against a local
http.server, must produce the same committed golden CSV as the socket-free
paths. Every hop of fetch -> parse -> detail-fetch -> enrich -> output runs
over real sockets; the pieces were each tested separately before, this is
the composition."""

from __future__ import annotations

import csv
import os

import pytest

from pyspark.sql import functions as F

GOLDEN = os.path.join(
    os.path.dirname(__file__), "golden", "medicines_output.csv"
)
PER_PAGE = 25  # the source plans ceil(n/25) pages from 'af N resultater'


def _render_site(spark):
    """Render synthetic_cards(40) as an all-relative live site: listing
    pages at /api?page=N (tier-0 card markup, decision-link hrefs) and one
    detail page per card at its href path. All hrefs are same-host —
    that's the real site's shape (medicinraadet.dk serves its own detail
    pages) and what lets ONE local server carry the whole composed run."""
    from etl_data_processor_spark.pipelines.medicines import synthetic_cards

    rows = sorted(
        synthetic_cards(spark, 40).collect(),
        key=lambda r: int(r["url"].rsplit("-", 1)[1]),
    )
    listing: dict[int, str] = {}
    details: dict[str, str] = {}
    n = len(rows)
    for p in range(0, (n + PER_PAGE - 1) // PER_PAGE):
        chunk = rows[p * PER_PAGE : (p + 1) * PER_PAGE]
        cards = []
        for r in chunk:
            i = int(r["url"].rsplit("-", 1)[1])
            href = f"/anbefalinger-og-vejledninger/med-{i}"
            cards.append(
                f'<div class="card"><a href="{href}">Laes mere</a>'
                f"<p>{r['card_text']}</p></div>"
            )
            details[href] = (
                "<html><body>\n"
                f"<h1>{r['heading']}</h1>\n"
                f'<div class="detail">{r["detail_text"]}</div>\n'
                "</body></html>"
            )
        header = (
            f"<p>Viser 1 til {len(chunk)} af {n} resultater</p>"
            if p == 0
            else ""
        )
        listing[p + 1] = (
            f"<html><body>{header}\n" + "\n".join(cards) + "\n</body></html>"
        )
    return listing, details


@pytest.fixture()
def live_medicines_site(spark):
    """Local HTTP server carrying BOTH the paged listing API and the
    per-card detail pages; yields (endpoint, base_url, hits), where ``hits``
    counts GETs per detail path and per listing page (``/api?page=N``)."""
    import collections
    import http.server
    import threading
    from urllib.parse import parse_qs, urlparse

    listing, details = _render_site(spark)
    hits: collections.Counter = collections.Counter()
    hits_lock = threading.Lock()

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            parsed = urlparse(self.path)
            key = parsed.path
            if parsed.path == "/api":
                page = int(parse_qs(parsed.query).get("page", ["1"])[0])
                key = f"/api?page={page}"
                status, body = (
                    (200, listing[page]) if page in listing else (404, "")
                )
            elif parsed.path in details:
                status, body = 200, details[parsed.path]
            else:
                status, body = 404, ""
            with hits_lock:
                hits[key] += 1
            raw = body.encode()
            self.send_response(status)
            self.send_header("Content-Length", str(len(raw)))
            self.end_headers()
            self.wfile.write(raw)

        def log_message(self, *a):  # quiet
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        yield f"{base}/api", base, hits
    finally:
        srv.shutdown()
        srv.server_close()


def test_live_transport_end_to_end_matches_golden(spark, live_medicines_site):
    """fetch (paged source, live) -> DOM cards -> per-row detail fetch
    (fetch_details_live) -> DOM details -> classify/split/date/ATC ->
    chunked enrichment via the resolve_enrich_client factory (env unset ->
    deterministic stub) -> the exact committed golden CSV."""
    from etl_data_processor_spark.ops import html as H
    from etl_data_processor_spark.pipelines.medicines import (
        OUTPUT_COLUMNS,
        run_pipeline,
    )
    from etl_data_processor_spark.sources.paged import PagedDecisionSource
    from tests.reference import fetch_details_live

    endpoint, base, hits = live_medicines_site
    spark.dataSource.register(PagedDecisionSource)
    listing = (
        spark.read.format("paged_decisions")
        .option("live_http", "1")
        .option("endpoint", endpoint)
        .option("rate_limit_rps", "0")
        .load()
    )
    fetched = fetch_details_live(
        listing.select("url", F.col("raw_drug_text").alias("card_text")),
        base_url=base,
    )
    det = H.extract_details(fetched)
    cards = det.select(
        "url", "card_text", "heading", F.col("full_text").alias("detail_text")
    )
    out = run_pipeline(cards)  # default factory = resolve_enrich_client
    assert out.columns == OUTPUT_COLUMNS
    got = sorted(
        tuple("" if v is None else str(v) for v in r) for r in out.collect()
    )
    with open(GOLDEN, newline="", encoding="utf-8") as f:
        reader = csv.reader(f)
        assert next(reader) == OUTPUT_COLUMNS
        want = sorted(tuple(r) for r in reader)
    assert got == want

    # Each page is fetched once per run: the enrichment reads its input
    # once, through one shuffle on the drug text, so nothing needs a
    # cache. Page 1 also serves the driver's planning fetch.
    detail_hits = {p: n for p, n in hits.items() if not p.startswith("/api")}
    assert len(detail_hits) == 30
    assert set(detail_hits.values()) == {1}, detail_hits
    assert hits["/api?page=1"] == 2
    assert hits["/api?page=2"] == 1


def test_fetch_details_live_null_fills_failed_pages(spark, live_medicines_site):
    """A detail URL that 404s yields html=NULL and the row SURVIVES (the
    reference appends the un-enriched decision, main.py:283-285)."""
    from tests.reference import fetch_details_live

    _, base, _ = live_medicines_site
    df = spark.createDataFrame(
        [("/anbefalinger-og-vejledninger/med-0",), ("/no-such-page",)],
        ["url"],
    )
    rows = {r["url"]: r["html"] for r in fetch_details_live(df, base).collect()}
    assert rows["/no-such-page"] is None
    assert "<h1>" in rows["/anbefalinger-og-vejledninger/med-0"]
