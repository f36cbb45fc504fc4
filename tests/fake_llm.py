"""Deterministic fake generation backend for the env-gated LLM adapter test
(resolved via ETL_LLM_GENERATE='tests.fake_llm:generate'). Parses the JSON
list out of the adapter's prompt and answers in the reference's fenced-JSON
reply shape (main.py:207-210). ``logged_generate`` answers the same and
logs the texts of each call under :func:`calls_dir`."""

from __future__ import annotations

import json
import os


def _texts(prompt: str) -> list[str]:
    return json.loads(prompt[prompt.index("Input List:") + len("Input List:"):])


def calls_dir() -> str:
    """Where :func:`logged_generate` logs, one JSON list per call in one
    file per process: a directory under the Spark application's file root,
    which the driver and (in local mode) every Python worker resolve to
    the same path."""
    from pyspark import SparkFiles

    return os.path.join(SparkFiles.getRootDirectory(), "fake_llm_calls")


def logged_generate(prompt: str) -> str:
    log_dir = calls_dir()
    os.makedirs(log_dir, exist_ok=True)
    with open(os.path.join(log_dir, f"{os.getpid()}.log"), "a") as f:
        f.write(json.dumps(_texts(prompt)) + "\n")
    return generate(prompt)


def generate(prompt: str) -> str:
    texts = _texts(prompt)
    reply = {
        t: {
            "active_ingredient": t.split()[0].upper() if t.split() else "",
            "trade_name": t.split()[1] if len(t.split()) > 1 else "",
        }
        for t in texts
    }
    return "```json\n" + json.dumps(reply, ensure_ascii=False) + "\n```"
