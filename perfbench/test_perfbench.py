"""Tests of the benchmark itself: its generators, oracle, counters and exit
behaviour. Run from the repository root:

    python3 -m pytest perfbench -q

The three Spark tests each start a JVM through ``run.Bench`` with a tiny
input, about half a minute each on 4 cores.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import corpus_shares, datagen, run  # noqa: E402
from perfbench.probe import metric_value  # noqa: E402


def test_metric_value_reads_ui_strings():
    assert metric_value("2,500") == 2500
    assert metric_value("291.5 KiB") == 291.5 * 1024
    assert metric_value("total (min, med, max (stageId: taskId))\n8.7 s (2.0 s, 2.2 s)") == 8.7
    assert metric_value("12 ms") == pytest.approx(0.012)


def test_seeds_give_different_inputs_of_equal_size():
    a, b = datagen.medicines_site(300, 1), datagen.medicines_site(300, 2)
    for ta, tb in zip(a[:2], b[:2]):
        assert ta.num_rows == tb.num_rows
        assert not ta.equals(tb)
    assert datagen.medicines_site(300, 1)[1].equals(a[1])  # same seed, same input
    ta, tb = datagen.tables(0.001, 1), datagen.tables(0.001, 2)
    assert {n: t.num_rows for n, t in ta.items()} == {n: t.num_rows for n, t in tb.items()}
    for name in ("lineitem", "documents", "events"):
        assert not ta[name].equals(tb[name])


def test_corpus_near_duplicates_match_the_fixture_shares():
    """The fixture's documents (sf0.01 and sf0.1) have 0.050-0.051 J>=0.8
    pairs per doc, 9.4-9.5% of docs in a pair, 1.8-2.4% of train docs
    contaminated and 3.6-4.3% of clean docs dropped by cluster dedup."""
    for seed in (1, 2, 3):
        docs = datagen.tables(0.01, seed)["documents"].to_pydict()
        s = corpus_shares.shares(docs["doc_id"], docs["source"], docs["text"])
        assert 0.04 <= s["pairs_per_doc"] <= 0.07
        assert 0.08 <= s["docs_in_pair"] <= 0.11
        assert 0.01 <= s["contaminated_of_train"] <= 0.04
        assert 0.02 <= s["dedup_dropped_of_clean"] <= 0.06


def test_expected_rows_follow_the_stub_semantics():
    cards = datagen.medicines_cards(400, 7)
    rows = datagen.expected_rows(cards)
    kept = [c for c in cards if c["status"] in ("Anbefalet", "Delvist anbefalet")]
    assert len(rows) == len(kept) > 0
    for c, (active, trade, atc, date, indication) in zip(kept, rows):
        assert active == c["drug"].split()[0].upper()
        assert trade == (c["drug"].split() + [""])[1]
        assert atc == c["atc"]
        assert (date is None) == (c["date"][0] == 2)
        assert (indication is None) == (not c["sep"] and not c["label"])


def _bench(workload: str, cfg: dict, trace: bool) -> dict:
    bench = run.Bench(workload, seed=3, seconds=0, trace=trace)
    bench.cfg, bench.warm_passes, bench.min_passes = cfg, 0, 1
    try:
        return bench.run()
    finally:
        bench.close()


@pytest.fixture(scope="module")
def spark_env():
    run.prepare_env()


def test_medicines_oracle_matches_run_pipeline(spark_env):
    """The generator's rows equal run_pipeline's CSV output, every pass."""
    res = _bench("medicines_html", {"cards": 200}, trace=False)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] == 2


def test_pyworker_cpu_seen_on_arrow_key(spark_env):
    res = _bench(
        "corpus_sf0.01", {"sf": 0.005, "keys": ["q_distinct_ngrams"]}, trace=True
    )
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert res["correct"]
    assert m["pyworker.cpu_s"] > 0
    assert m["exec.cpu_jvm_s"] >= m["exec.cpu_rest_s"] > 0


def test_no_pyworker_cpu_on_jvm_only_key(spark_env):
    res = _bench("relational_sf0.02", {"sf": 0.005, "keys": ["q_tpch_q6"]}, trace=True)
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert res["correct"]
    assert m["pyworker.cpu_s"] < 0.05
    assert m["exec.cpu_jvm_s"] >= m["exec.cpu_rest_s"] > 0


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark it exits non-zero and
    prints no result line."""
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "medicines_html",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert "{" not in proc.stdout
