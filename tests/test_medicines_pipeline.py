"""Golden end-to-end test: the reference pipeline semantics (SURVEY.md §5.2)
on the synthetic medicines fixture, checked against a committed golden CSV.
"""

from __future__ import annotations

import csv
import json
import os

from etl_data_processor_spark.pipelines.medicines import (
    OUTPUT_COLUMNS,
    run_pipeline,
    synthetic_cards,
)

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "medicines_output.csv")


def _result_rows(spark):
    out = run_pipeline(synthetic_cards(spark, 40))
    assert out.columns == OUTPUT_COLUMNS
    rows = [
        tuple("" if v is None else str(v) for v in r)
        for r in out.collect()
    ]
    return sorted(rows)


def test_pipeline_matches_golden(spark):
    got = _result_rows(spark)
    with open(GOLDEN, newline="", encoding="utf-8") as f:
        reader = csv.reader(f)
        header = next(reader)
        want = sorted(tuple(r) for r in reader)
    assert header == OUTPUT_COLUMNS
    assert got == want


def test_pipeline_semantics(spark):
    """Branch checks independent of the golden file."""
    out = run_pipeline(synthetic_cards(spark, 40)).collect()
    # 40 cards: i%4==3 unmatched (dropped), i%4==1 'Ikke anbefalet' (filtered)
    # -> only i%4 in {0, 2} survive = 20 rows
    assert len(out) == 20
    by_ai = {r["Active Ingredient"]: r for r in out}
    # enrichment stub: first token uppercased; heading 'Drug0 - ...' -> DRUG0
    assert "DRUG0" in by_ai
    r0 = by_ai["DRUG0"]
    # i=0: danish date 'Godkendt den 1. januar 2020' -> 2020-01-01
    assert r0["Decision Date"] == "2020-01-01"
    assert r0["Indication"] == "Behandling af tilstand 0"
    # i=0: i%5==0 -> no ATC token in detail text
    assert r0["ATC Code"] is None
    # i=2 ('Delvist anbefalet', sep ' — '): present with fallback-free fields
    assert "DRUG2" in by_ai
    # i=34: i%4==2 keeps it, i%3==1 -> fallback date d.m.yyyy form kept raw
    # (the reference's weak date typing, main.py:246-256)
    r34 = by_ai.get("DRUG34")
    assert r34 is not None and r34["Decision Date"] == "7.11.2024"


def test_csv_sink_roundtrip(spark, tmp_path):
    """A17: CSV sink writes header + all rows; read-back matches."""
    from etl_data_processor_spark.io import write_csv

    out = run_pipeline(synthetic_cards(spark, 40))
    path = str(tmp_path / "medicines_csv")
    write_csv(out, path)
    back = spark.read.option("header", "true").csv(path)
    assert sorted(back.columns) == sorted(OUTPUT_COLUMNS)
    assert back.count() == out.count()


def test_pipeline_computes_cards_once(spark, tmp_path):
    """run_pipeline reads its cards once and caches nothing: an Arrow pass
    upstream logs the url of every row it processes, and each card is
    processed once, with the CacheManager empty after the action."""
    import pyarrow as pa

    from etl_data_processor_spark.ops.text import arrow_pass

    row_log = str(tmp_path)

    def logged(cols):
        import json
        import os

        with open(os.path.join(row_log, f"{os.getpid()}.log"), "a") as f:
            f.write(json.dumps(cols["url"]) + "\n")
        return cols

    spark.catalog.clearCache()
    src = synthetic_cards(spark, 40)
    cards = arrow_pass(src, logged, pa.schema([(c, pa.string()) for c in src.columns]))
    assert len(run_pipeline(cards).collect()) == 20
    processed = []
    for name in os.listdir(row_log):
        with open(os.path.join(row_log, name)) as f:
            processed += [url for line in f for url in json.loads(line)]
    assert sorted(processed) == sorted(r.url for r in src.collect())
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _ancestors(tree: str, needle: str) -> list[list[str]]:
    """For each line of a plan ``tree`` string containing ``needle``, the
    lines of its ancestor nodes (a child is indented deeper than its
    parent)."""

    def depth(line: str) -> int:
        return next(i for i, ch in enumerate(line) if ch.isalpha())

    lines = [ln for ln in tree.splitlines() if ln.strip()]
    out = []
    for i, line in enumerate(lines):
        if needle not in line:
            continue
        chain, d = [], depth(line)
        for above in reversed(lines[:i]):
            if depth(above) < d:
                chain.append(above)
                d = depth(above)
        out.append(chain)
    return out


def test_html_pipeline_plan_shuffles_by_key_once_and_caches_nothing(spark):
    """From raw HTML, the enrichment is one shuffle on the raw drug text
    feeding one Python pass: no cached relation, no broadcast of the
    enrichment's result."""
    from etl_data_processor_spark.pipelines.medicines import cards_from_html
    from tests.reference import synthetic_html_site

    listing, details = synthetic_html_site(spark, 40)
    out = run_pipeline(cards_from_html(listing, details))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan
    assert plan.count("Exchange hashpartitioning(raw_drug_text") == 1
    enrich_nodes = _ancestors(plan, "enrich_partition(")
    assert len(enrich_nodes) == 1
    assert not any("BroadcastExchange" in a for a in enrich_nodes[0])
    assert len(out.collect()) == 20
