"""Tests for the CLI scaffold (A20) and the token bucket (A19). An
Observation filled by the action that runs its plan (A21) is covered by
tests/test_iterate.py."""

from __future__ import annotations

import pytest

import csv
import glob
import os
import subprocess
import sys
import time

from etl_data_processor_spark.ops.enrich import TokenBucket


def test_token_bucket_enforces_rate():
    tb = TokenBucket(rate=50.0, burst=1)
    t0 = time.monotonic()
    for _ in range(6):
        tb.acquire()
    elapsed = time.monotonic() - t0
    # 6 acquisitions at 50/s with burst 1 -> >= ~0.1s
    assert elapsed >= 0.08


@pytest.mark.slow
def test_cli_medicines_and_list(cli_main, tmp_path, capsys):
    main = cli_main
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "q_agg_group\toracle" in out
    assert "q_dedup_simhash\trows-only" in out

    dest = str(tmp_path / "cli_out")
    assert main(["medicines", "--out", dest, "--cards", "8"]) == 0
    files = glob.glob(f"{dest}/*.csv")
    assert files
    with open(files[0], newline="", encoding="utf-8") as f:
        rows = list(csv.reader(f))
    assert rows[0] == [
        "Active Ingredient",
        "Trade Name",
        "ATC Code",
        "Decision Date",
        "Indication",
    ]


def test_cli_medicines_enriches_each_key_once(cli_main, tmp_path, monkeypatch, capsys):
    """The CLI writes the pipeline once: the row count it logs is observed
    on the write's own job, so no second action re-runs the enrichment,
    and the generate backend sees each distinct drug text once."""
    import json
    import shutil

    from tests import fake_llm

    shutil.rmtree(fake_llm.calls_dir(), ignore_errors=True)
    monkeypatch.setenv("ETL_LLM_GENERATE", "tests.fake_llm:logged_generate")
    dest = str(tmp_path / "cli_out")
    assert cli_main(["medicines", "--out", dest, "--cards", "40"]) == 0
    assert "wrote 20 rows" in capsys.readouterr().out
    keys = []
    for name in os.listdir(fake_llm.calls_dir()):
        with open(os.path.join(fake_llm.calls_dir(), name)) as f:
            keys += [k for line in f for k in json.loads(line)]
    assert len(keys) == len(set(keys)) == 20


def test_cli_list_sees_the_entry_registry():
    """`list` (and with it `query`) loads the same registry as
    ``__spark_entry__``: same keys, same oracle-checked subset. Run in a fresh
    interpreter, so modules this test session already imported cannot
    fill in what the CLI's own loader misses."""
    import __spark_entry__ as entry

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-m", "etl_data_processor_spark", "list"],
        cwd=root,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    kinds = dict(line.split("\t")[:2] for line in out.splitlines())
    assert set(kinds) == set(entry.queries())
    assert {k for k, v in kinds.items() if v == "oracle"} == set(entry.oracle_sql())


def test_cli_unknown_query(cli_main):
    assert cli_main(["query", "q_does_not_exist"]) == 2


def test_cli_main_leaves_the_shared_session_conf(spark, cli_main):
    """An in-process ``main`` runs ``get_spark``, which re-applies
    ``DEFAULT_CONF`` to the shared session; ``cli_main`` restores it, so
    later test modules still run with this suite's 8 shuffle
    partitions."""
    assert cli_main(["query", "q_does_not_exist"]) == 2
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


def test_cli_table_lifecycle(spark, cli_main, tmp_path, capsys):
    """`table history/show/compact/vacuum` drive the table format from
    the CLI (reference A20 parity extended to the storage lifecycle)."""
    from etl_data_processor_spark import tableformat as TF

    main = cli_main

    t = str(tmp_path / "t")
    TF.append(spark.range(0, 5), t)
    TF.append(spark.range(5, 8), t)
    assert main(["table", "history", t]) == 0
    out = capsys.readouterr().out
    assert out.count("append") == 2
    assert main(["table", "compact", t]) == 0
    assert len(TF._live_groups(t)) == 1
    assert main(["table", "show", t, "--limit", "3"]) == 0
    assert main(["table", "vacuum", t, "--keep-versions", "1"]) == 0
