"""Enrichment client for the medicines workload.

Stands in for the reference's LLM call: a fixed service time per call, then
the deterministic stub's answers, so outputs stay checkable. It runs inside
Spark's Python workers, so each call appends one line to a per-process log
that the benchmark sums after the pass.
"""

from __future__ import annotations

import os
import time

from etl_data_processor_spark.ops.enrich import deterministic_stub_client

SERVICE_S = 0.05


class CountingClient:
    def __init__(self, log_dir: str, service_s: float = SERVICE_S):
        self.log_path = os.path.join(log_dir, f"{os.getpid()}.log")
        self.service_s = service_s

    def __call__(self, texts: list[str]) -> dict[str, dict[str, str]]:
        t0 = time.perf_counter()
        ok = 0
        try:
            time.sleep(self.service_s)
            out = deterministic_stub_client(texts)
            ok = 1
            return out
        finally:
            self._log(len(texts), t0, ok)

    def _log(self, n_keys: int, t0: float, ok: int) -> None:
        with open(self.log_path, "a") as f:
            f.write(f"{n_keys} {time.perf_counter() - t0:.6f} {ok}\n")


def factory(log_dir: str):
    """client_factory for run_pipeline: one client per partition."""
    os.makedirs(log_dir, exist_ok=True)
    return lambda: CountingClient(log_dir)


def read_logs(log_dir: str) -> dict[str, float]:
    calls = keys = service = failed = 0.0
    if os.path.isdir(log_dir):
        for name in os.listdir(log_dir):
            with open(os.path.join(log_dir, name)) as f:
                for line in f:
                    n, secs, ok = line.split()
                    calls += 1
                    keys += int(n)
                    service += float(secs)
                    failed += 1 - int(ok)
    return {"calls": calls, "keys": keys, "service_s": service, "failed": failed}
