"""Raw-HTML field extraction (ops/html.py): DOM semantics mirrored from the
reference's BeautifulSoup walk (main.py:85-133, 140-176, 217-245), plus the
golden medicines pipeline driven end-to-end from actual markup."""

from __future__ import annotations

import csv
import os

from etl_data_processor_spark.ops import html as H

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "medicines_output.csv")


# ---------------------------------------------------------------------------
# DOM unit semantics (driver-side, no Spark)
# ---------------------------------------------------------------------------


def test_three_tier_card_fallback():
    link = '<a href="/anbefalinger-og-vejledninger/x">go</a>'
    tier1 = f'<div class="result-card">{link}<p>Anbefalet</p></div><article>noise</article>'
    cards = H.find_cards(H.parse_html(tier1))
    # card-divs win even when articles exist
    assert [c.tag for c in cards] == ["div"]

    tier2 = f"<article>{link}<span>Anbefalet</span></article><div>plain</div>"
    assert [c.tag for c in H.find_cards(H.parse_html(tier2))] == ["article"]

    tier3 = f"<p>{link} Anbefalet</p><p><a href='/other'>x</a></p>"
    cards = H.find_cards(H.parse_html(tier3))
    assert len(cards) == 1 and cards[0].tag == "p"  # link parent only


def test_status_precedence_and_lookbehind():
    def status(text):
        html = f'<div class="card"><a href="/anbefalinger-og-vejledninger/x">go</a><p>{text}</p></div>'
        card = H.find_cards(H.parse_html(html))[0]
        fields = H.card_fields(card)
        return fields["status"] if fields else None

    assert status("Anbefalet af naevnet") == "Anbefalet"
    # lookbehind: the bare pattern must NOT swallow the negated forms
    assert status("Ikke anbefalet her") == "Ikke anbefalet"
    assert status("Delvist anbefalet her") == "Delvist anbefalet"
    assert status("Under vurdering") is None  # -> card dropped
    assert status("ANBEFALET") == "Anbefalet"  # case-insensitive


def test_card_without_decision_link_is_dropped():
    html = '<div class="card"><a href="/other/x">go</a><p>Anbefalet</p></div>'
    assert H.card_fields(H.find_cards(H.parse_html(html))[0]) is None


def test_label_sibling_lookup():
    html = (
        "<body><p>Anvendelse</p><p>Behandling af gigt</p>"
        "<p>ATC-kode</p><div><b>M01AB05</b></div></body>"
    )
    root = H.parse_html(html)
    assert H.label_sibling_text(root, r"Anvendelse") == "Behandling af gigt"
    assert H.label_sibling_text(root, r"ATC-kode") == "M01AB05"
    assert H.label_sibling_text(root, r"Missing") is None
    # label present but nothing after it -> None (main.py:165-169)
    assert H.label_sibling_text(H.parse_html("<p>Anvendelse</p>"), r"Anvendelse") is None


def test_detail_fields_scoping():
    html = (
        "<html><body><h1>DrugX - Mod smerter</h1>"
        '<div id="recommendation"><p>Godkendt den 5. maj 2021</p></div>'
        "<p>Footer Godkendt den 9. juni 1999</p></body></html>"
    )
    d = H.detail_fields(H.parse_html(html))
    assert d["heading"] == "DrugX - Mod smerter"
    # rec_text is ONLY the recommendation div — the footer date must not leak
    assert "5. maj 2021" in d["rec_text"] and "1999" not in d["rec_text"]
    assert "1999" in d["full_text"]


def test_total_pages_results_text_and_pagination_fallback():
    assert H.total_pages("<p>Viser 1 til 25 af 228 resultater</p>") == 10
    html = (
        '<div class="pagination"><a href="?page=2">2</a>'
        '<a href="?page=7">7</a></div>'
    )
    assert H.total_pages(html) == 7
    assert H.total_pages("<p>nothing</p>") == 1


def test_malformed_html_is_tolerated():
    # unclosed tags, stray end tags, void elements
    root = H.parse_html("<div><p>a<br>b</p></span><img src=x>c")
    assert root.get_text() == "abc"


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


def test_extract_cards_explodes_and_skips(spark):
    link = '<a href="/anbefalinger-og-vejledninger/d1">go</a>'
    pages = spark.createDataFrame(
        [
            (1, f'<div class="card">{link}<p>Anbefalet</p></div>'
                f'<div class="card"><p>Anbefalet uden link</p></div>'),
            (2, "<p>no cards at all</p>"),
            (3, None),
        ],
        "page int, html string",
    )
    rows = H.extract_cards(pages, keep_cols=["page"]).collect()
    assert [(r["page"], r["url"], r["status"]) for r in rows] == [
        (1, "/anbefalinger-og-vejledninger/d1", "Anbefalet")
    ]


def test_extract_details_keeps_rows_on_parse_failure(spark):
    df = spark.createDataFrame(
        [("a", "<h1>T</h1>"), ("b", None)], "k string, html string"
    )
    rows = {r["k"]: r for r in H.extract_details(df).collect()}
    assert rows["a"]["heading"] == "T"
    assert rows["b"]["heading"] == ""  # empty doc -> empty heading, row kept
    assert "html" not in H.extract_details(df).columns


# ---------------------------------------------------------------------------
# Golden pipeline from raw HTML (VERDICT r2 item 2 done-criterion)
# ---------------------------------------------------------------------------


def test_pipeline_from_raw_html_matches_golden(spark):
    """The full reference pipeline starting from MARKUP: render the fixture
    as listing+detail HTML, DOM-extract, run the unchanged run_pipeline,
    and hit the same committed golden CSV as the pre-extracted path."""
    from etl_data_processor_spark.pipelines.medicines import (
        OUTPUT_COLUMNS,
        cards_from_html,
        run_pipeline,
    )
    from tests.reference import synthetic_html_site

    listing, details = synthetic_html_site(spark, 40)
    out = run_pipeline(cards_from_html(listing, details))
    assert out.columns == OUTPUT_COLUMNS
    got = sorted(
        tuple("" if v is None else str(v) for v in r) for r in out.collect()
    )
    with open(GOLDEN, newline="", encoding="utf-8") as f:
        reader = csv.reader(f)
        next(reader)
        want = sorted(tuple(r) for r in reader)
    assert got == want
