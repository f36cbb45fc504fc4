"""Chunked batch-enrichment operator (north star B34).

Generalizes the reference's core pipeline insight — A13+A14+A15 fused
(main.py:262-305): dedupe the inputs of an expensive per-value function,
call it in bounded chunks with per-chunk error isolation, then map the
results back onto the rows with deterministic miss fallbacks
(main.py:297-300: miss → (raw_text, '')). Rate limiting (A19) belongs to
the client: ``llm_json_client`` paces its calls with a ``TokenBucket``.

Spark-first shape:
- One pass over the input. ``repartition(key_col)`` hash-partitions the
  rows by key, so every row of a key lands in one task, and one
  ``mapInArrow`` pass enriches them there. The input is read once, so a
  caller has no cache to own, whatever its upstream costs (an HTML parse,
  an HTTP fetch); the operator caches nothing either.
- The pass reads only the key column into Python; every other column
  goes back to the JVM as the Arrow array it came in as. Column pruning
  cannot cross the Python node, so a caller projects its frame to the
  columns it keeps before the call (``pipelines.medicines.run_pipeline``
  does).
- Dedup is a per-partition memo, the reference's manual rewrite
  (main.py:264, 272-273, 285) that Catalyst won't do across a Python
  stage: each distinct non-NULL key goes to the client once per task, and
  with hash partitioning once per run. NULL keys never reach the client.
  The memo holds one answer per distinct key of the task, since a key's
  rows may arrive in any of the task's Arrow batches.
- The client is constructed once per partition (the reference's session
  reuse, main.py:26), chunking bounds each external call, and a failed
  chunk degrades to miss rows instead of failing the job (main.py:213-214).
- Trade-off: every row of a hot key shares one task. In the medicines
  benchmark at seed 11 one key carries 802 of 1,500 approved rows; the
  client calls stay per key and are spread by hash.

The client is pluggable: production would wrap an LLM/HTTP service;
``deterministic_stub_client`` keeps tests and oracles exact.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

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

    ``result_schema`` must contain ``key_col`` plus the enrichment columns,
    which are appended to ``df``'s columns. Miss rows (chunk failure,
    client miss, NULL key) carry NULLs, which ``defaults`` fill
    (coalesce), mirroring main.py:297-303.

    ``df`` is evaluated once, through one shuffle on ``key_col``; project
    it to the columns the caller keeps first, since every column crosses
    the shuffle and the Python boundary.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    fields = [f for f in result_schema.fields if f.name != key_col]
    names = [f.name for f in fields]
    types = [to_arrow_type(f.dataType) for f in fields]

    def enrich_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        client = client_factory()  # one client per partition (conn reuse)
        memo: dict = {}  # key -> the client's answer ({} on a miss)
        for batch in batches:
            keys = batch.column(key_col).to_pylist()
            new = list(dict.fromkeys(k for k in keys if k is not None and k not in memo))
            for i in range(0, len(new), chunk_size):
                chunk = new[i : i + chunk_size]
                try:
                    result = client(chunk)
                except Exception:
                    # per-chunk isolation (main.py:213-214): failed chunk
                    # degrades to miss rows, job continues
                    result = {}
                for key in chunk:
                    memo[key] = result.get(key, {})
            hits = [memo.get(k, {}) for k in keys]
            enriched = [
                pa.array([hit.get(n) for hit in hits], type=t)
                for n, t in zip(names, types)
            ]
            yield pa.RecordBatch.from_arrays(
                batch.columns + enriched, names=batch.schema.names + names
            )

    out = df.repartition(key_col).mapInArrow(
        enrich_partition, StructType(df.schema.fields + fields)
    )
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
    ON THE EXECUTOR inside batch_enrich's Arrow pass, so the SDK is
    imported and the session constructed once per partition."""
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
    based; one instance per partition inside batch_enrich's Arrow pass
    (executor-local — cluster-wide limits need rate*executors sized
    accordingly)."""

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
