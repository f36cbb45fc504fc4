"""Chunked batch-enrichment operator (north star B34).

Generalizes the reference's core pipeline insight — A13+A14+A15 fused
(main.py:262-305): dedupe the inputs of an expensive per-value function,
call it in bounded chunks with per-chunk error isolation, then left-join
results back with deterministic miss fallbacks
(main.py:297-300: miss → (raw_text, '')). Rate limiting (A19) belongs to
the client: ``llm_json_client`` paces its calls with a ``TokenBucket``.

Spark-first shape:
- The input is read twice, by the distinct keys and by the join back, and
  Catalyst cannot share a subtree across a Python stage. A caller whose
  input is expensive to compute (an HTML parse, an HTTP fetch) caches it
  before the call and unpersists it after the sink, so the upstream runs
  once (``pipelines.medicines.run_pipeline`` does). The operator itself
  caches nothing: a plain scan saves no CPU from a cache but pays its
  memory (``q_batch_map``), and a cache made here would have no owner to
  release it.
- ``distinct()`` before the expensive stage — the reference's manual rewrite
  (main.py:264, 272-273, 285) that Catalyst won't do across a Python UDF.
- ``mapInPandas`` for the expensive stage: Arrow delivers batches, the
  client is constructed once per partition (the reference's session reuse,
  main.py:26), chunking bounds each external call, failures degrade to
  deterministic fallback rows instead of failing the job (main.py:213-214).
- Left join back on the key; at 100 TB the distinct side is far smaller
  than the fact side, so the join is usually broadcast-able.

The client is pluggable: production would wrap an LLM/HTTP service;
``deterministic_stub_client`` keeps tests and oracles exact.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

EnrichClient = Callable[[list[str]], dict[str, dict[str, str]]]


def deterministic_stub_client(texts: list[str]) -> dict[str, dict[str, str]]:
    """Pure, deterministic stand-in for the reference's LLM extractor
    (main.py:178-215): active ingredient = first token uppercased, trade
    name = second token, '' when absent."""
    out = {}
    for t in texts:
        toks = t.split()
        out[t] = {
            "active_ingredient": toks[0].upper() if toks else "",
            "trade_name": toks[1] if len(toks) > 1 else "",
        }
    return out


def batch_enrich(
    df: DataFrame,
    key_col: str,
    result_schema: StructType,
    client_factory: Callable[[], EnrichClient] = lambda: deterministic_stub_client,
    chunk_size: int = 200,
    defaults: dict[str, Column] | None = None,
) -> DataFrame:
    """Enrich ``df`` by ``key_col`` through an expensive batched function.

    ``result_schema`` must contain ``key_col`` plus the enrichment columns.
    Fallback rows (chunk failure / client miss) carry NULLs, which the final
    join fills from ``defaults`` (coalesce), mirroring main.py:297-303.

    ``df`` is evaluated twice (distinct keys, join back); cache it first if
    computing it is expensive.
    """
    field_names = [f.name for f in result_schema.fields if f.name != key_col]

    def enrich_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        client = client_factory()  # one client per partition (conn reuse)
        for pdf in batches:
            keys = pdf[key_col].tolist()
            rows: list[dict] = []
            for i in range(0, len(keys), chunk_size):
                chunk = keys[i : i + chunk_size]
                try:
                    result = client(chunk)
                except Exception:
                    # per-chunk isolation (main.py:213-214): failed chunk
                    # degrades to deterministic fallback rows, job continues
                    result = {}
                for key in chunk:
                    hit = result.get(key, {})
                    rows.append(
                        {key_col: key, **{f: hit.get(f) for f in field_names}}
                    )
            yield pd.DataFrame(rows, columns=[key_col] + field_names)

    distinct_keys = df.select(key_col).distinct()
    enriched = distinct_keys.mapInPandas(enrich_partition, result_schema)

    # Broadcast fits the reference's regime (hundreds of distinct keys).
    out = df.join(F.broadcast(enriched), key_col, "left")
    for col_name, fallback in (defaults or {}).items():
        out = out.withColumn(col_name, F.coalesce(F.col(col_name), fallback))
    return out


class RateLimitError(Exception):
    """Transient throttle signal from a generation backend; the adapter
    retries these (with backoff), unlike other failures which propagate to
    batch_enrich's per-chunk isolation."""


def _is_rate_limit(exc: Exception) -> bool:
    return isinstance(exc, RateLimitError) or getattr(exc, "status_code", None) == 429


def llm_json_client(
    generate: Callable[[str], str],
    fields: list[str],
    bucket: "TokenBucket | None" = None,
    max_retries: int = 2,
    backoff_s: float = 0.0,
) -> EnrichClient:
    """Adapt a raw text-generation callable (any LLM SDK reduced to
    ``generate(prompt) -> str``) into an ``EnrichClient``, with the
    reference's exact reply discipline (main.py:195-215):

    - prompt embeds the chunk as a JSON list and demands a JSON object
      keyed by the EXACT input strings (main.py:195-205);
    - the reply is stripped of markdown code fences before ``json.loads``
      (main.py:207-210) — malformed JSON raises, which batch_enrich's
      per-chunk isolation converts into fallback rows for the whole chunk
      (main.py:213-214);
    - keys the model missed are simply absent from the result, surfacing
      as A15 miss-rows with the caller's defaults (main.py:297-303);
    - reply keys not in the chunk, and non-dict values, are discarded
      (never trust generated structure beyond the contract);
    - a per-partition token bucket paces calls (A19; the reference's
      ``time.sleep(1)``, main.py:212) and rate-limit errors retry up to
      ``max_retries`` with linear backoff — other exceptions propagate.
    """
    import json

    def client(texts: list[str]) -> dict[str, dict[str, str]]:
        prompt = (
            "I will provide a JSON list of texts. For each text extract "
            + ", ".join(f"'{f}'" for f in fields)
            + ". Return ONLY a JSON object keyed by the EXACT input strings, "
            "values objects with keys "
            + ", ".join(f'"{f}"' for f in fields)
            + ".\nInput List:\n"
            + json.dumps(texts, ensure_ascii=False)
        )
        attempt = 0
        while True:
            if bucket is not None:
                bucket.acquire()
            try:
                reply = generate(prompt)
                break
            except Exception as exc:
                if _is_rate_limit(exc) and attempt < max_retries:
                    attempt += 1
                    if backoff_s:
                        time.sleep(backoff_s * attempt)
                    continue
                raise
        cleaned = reply.replace("```json", "").replace("```", "").strip()
        parsed = json.loads(cleaned)  # malformed -> per-chunk fallback
        if not isinstance(parsed, dict):
            raise ValueError("reply is not a JSON object")
        wanted = set(texts)
        return {
            k: {f: str(v[f]) for f in fields if f in v}
            for k, v in parsed.items()
            if k in wanted and isinstance(v, dict)
        }

    return client


def resolve_enrich_client(
    fields: list[str], env_var: str = "ETL_LLM_GENERATE"
) -> Callable[[], EnrichClient]:
    """Client factory gated by an env flag (VERDICT r2 item 4): when
    ``ETL_LLM_GENERATE`` names a ``module:callable`` generation function,
    wrap it with ``llm_json_client`` (JSON-reply parsing, chunk isolation,
    1 call/s token bucket like the reference's sleep); unset -> the
    deterministic stub, keeping tests and oracles exact. The factory runs
    ON THE EXECUTOR inside mapInPandas, so the SDK is imported and the
    session constructed once per partition."""
    import os

    spec = os.environ.get(env_var, "")
    if not spec:
        return lambda: deterministic_stub_client

    def factory() -> EnrichClient:
        import importlib

        mod_name, _, fn_name = spec.partition(":")
        generate = getattr(importlib.import_module(mod_name), fn_name)
        return llm_json_client(
            generate, fields, bucket=TokenBucket(rate=1.0, burst=1), backoff_s=1.0
        )

    return factory


class TokenBucket:
    """Per-partition rate limiter (A19, main.py:212/278/351 generalized):
    allows ``rate`` calls/sec with bursts up to ``burst``. Monotonic-clock
    based; one instance per partition inside mapInPandas (executor-local —
    cluster-wide limits need rate*executors sized accordingly)."""

    def __init__(self, rate: float, burst: int = 1):
        self.rate = float(rate)
        self.capacity = float(burst)
        self.tokens = float(burst)
        self.last = time.monotonic()

    def acquire(self) -> None:
        while True:
            now = time.monotonic()
            self.tokens = min(self.capacity, self.tokens + (now - self.last) * self.rate)
            self.last = now
            if self.tokens >= 1.0:
                self.tokens -= 1.0
                return
            time.sleep((1.0 - self.tokens) / self.rate)
