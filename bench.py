#!/usr/bin/env python
"""Benchmark runner: executes the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is fully materialized via a count over the result (no driver-side
collect of payload). Value = total wall-clock across the headline set.

Work metrics (VERDICT r4 item 1): alongside wall time, every query records
per-query executor CPU seconds, shuffle read/write MB, spill MB and input MB,
summed over the Spark stages it ran (status REST API, stage-delta per rep).
Wall time on this VM drifts ±20-40% run to run with byte-identical plans;
CPU time and shuffle bytes are properties of the PLAN, so the regression
list is computed on those (wall kept as a secondary signal). A flagged key
now means the *work* changed, not the weather.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_data_processor_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entry_mod  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family, heaviest shapes included.
HEADLINE = [
    "q_flagship_q3",
    "q_tpch_q5",
    "q_tpch_q10",
    "q_tpch_q6",
    "q_tpch_q8",
    "q_tpch_q9",
    "q_tpch_q18",
    "q_tpch_q21",
    "q_agg_group",
    "q_join_star",
    "q_win_rank",
    "q_win_running",
    "q_topk",
    "q_dedup",
    "q_sessionize",
    "q_funnel",
    "q_ts_rollup_cascade",
    "q_agg_hll_merge",
    "q_multimodal_features",
    "q_corpus_curation",
    "q_corpus_pipeline",
    "q_sample_hash",
    "q_project_compute",
    "q_date_trunc",
    "q_json_extract",
    "q_pack_sequences",
    "q_chunk_documents",
    "q_emb_centroids",
    # round 3 additions: new heavy shapes
    "q_html_extract",
    "q_phrase_search",
    "q_phrase_search_served",
    "q_sketch_quantile_hdr",
    "q_spatial_radius_join",
    "q_bootstrap_poisson",
    "q_audio_pcm_features",
    "q_image_tile_stats",
    "q_event_pattern",
    # round 4 additions: new heavy shapes
    "q_url_parse",
    "q_ip_cidr_join",
    "q_join_asof_nearest",
    "q_record_linkage",
    "q_join_bucketed",
    # round 5 additions: new heavy shapes
    "q_fuzzy_symdelete",
    "q_dedup_semantic",
    "q_corpus_mix",
    "q_shard_manifest",  # q_dedup_lines joins via the q_dedup_* auto-rule
    "q_bpe_pair_counts",  # q_text_dedup_consecutive via the q_text_* rule
    # round 6 additions
    "q_bpe_encode",
    "q_bpe_corpus_stats",
    "q_quality_drift_psi",
    "q_length_filter_adaptive",
    "q_sample_temperature",
    # round-6 batch 2 (B66)
    "q_inverted_index",
    "q_bm25_served",
    "q_hybrid_rrf",
    "q_hybrid_rrf_served",
    # r9: both-legs-served hybrid + MRR eval
    "q_hybrid_ann_served",
    # r10: PQ-code-served hybrid (no corpus-sized artifact in the read set)
    "q_hybrid_annpq_served",
    "q_eval_mrr",
    "q_unigram_viterbi",
    "q_linkage_fs_em",
    # round-6 batch 3 (B66 #2)
    "q_contamination_ngrams",
    "q_ks_drift",
    "q_rag_context",
    # round-6 batch 4 (B67): selection layer
    "q_curriculum_interleave",
    "q_dsir_select",
    "q_ccnet_perplexity",
    "q_quality_probe_gd",
    # round-6 batch 5 (B68): reporting/serving layer
    "q_vocab_prune_oov",
    "q_eval_winrate_wilson",
    "q_prf_expand",
    # round-6 batch 6 (B69): collocations + spectral
    "q_collocations_pmi",
    "q_power_iteration",
    # round-6 batch 7 (B70): embedding-space quality
    "q_source_centroid_outliers",
    # round-6 batch 8 (B71): novelty + spectral debias
    "q_ngram_novelty",
    "q_emb_debias_abtt",
    # round-6 batch 9 (B72): model-eval layer
    "q_probe_calibration",
    "q_dup_source_matrix",
    # round-6 batch 10 (B73): entropy gate + stopword lexicon
    "q_char_entropy_filter",
    "q_stopword_discovery",
    # round-6 capstone (B74): the composed selection pipeline
    "q_selection_pipeline",
    # round-7 batch (B75): passjoin blocking, diversity, A-Res, BLEU,
    # span corruption, VAD (q_distinct_ngrams via no rule — explicit)
    "q_fuzzy_passjoin",
    "q_distinct_ngrams",
    "q_sample_ares",
    "q_bleu_eval",
    "q_span_corruption",
    "q_audio_vad_segments",
    # round-7 batch 2 (B76): eval/diagnostic layer
    "q_langid_confusion",
    "q_langid_f1",
    "q_zipf_fit",
    "q_gate_agreement_kappa",
    "q_dedup_blocking_audit",
    # round-7 batch 3 (B77): recall-eval, drift, privacy, formats
    "q_rouge_n",
    "q_js_divergence",
    "q_l_diversity",
    "q_scan_orc",
    "q_blocking_tradeoff",
    # round-7 batch 4 (B78): the tuned 64-bit blocker pair + ROUGE-L
    "q_simhash64_portable",
    "q_dedup_blocking_audit64",
    "q_rouge_l",
    "q_chrf_eval",
    "q_t_closeness",
    "q_heaps_fit",
    "q_label_propagation",
]

# Stage-level work counters summed per query (REST field -> output key).
_WORK_FIELDS = {
    "executorCpuTime": "cpu_ns",
    "shuffleReadBytes": "shuffle_read_b",
    "shuffleWriteBytes": "shuffle_write_b",
    "memoryBytesSpilled": "mem_spill_b",
    "diskBytesSpilled": "disk_spill_b",
    "inputBytes": "input_b",
}


class StageMetrics:
    """Per-query work metrics via the Spark status REST API.

    The status store is event-driven and can lag the job's completion by a
    few event-queue flushes, so ``snapshot`` polls until two consecutive
    reads agree on the completed-stage set. Each query's work = the delta
    of completed-stage counters between its before/after snapshots.
    """

    def __init__(self, spark):
        self._spark = spark
        ui = spark.sparkContext.uiWebUrl
        app_id = spark.sparkContext.applicationId
        self._url = f"{ui}/api/v1/applications/{app_id}/stages?status=complete"

    def _fetch(self) -> dict:
        with urllib.request.urlopen(self._url, timeout=10) as r:
            stages = json.load(r)
        out = {}
        for s in stages:
            key = (s["stageId"], s.get("attemptId", 0))
            out[key] = {k: int(s.get(f, 0) or 0) for f, k in _WORK_FIELDS.items()}
        return out

    def snapshot(self, settle: bool = False) -> dict:
        snap = self._fetch()
        if settle:
            # poll until the completed set stops growing (event-queue lag)
            for _ in range(40):
                time.sleep(0.05)
                nxt = self._fetch()
                if set(nxt) == set(snap):
                    return nxt
                snap = nxt
        return snap

    @staticmethod
    def delta(before: dict, after: dict) -> dict:
        tot = {k: 0 for k in _WORK_FIELDS.values()}
        for key, counters in after.items():
            if key in before:
                continue
            for k, v in counters.items():
                tot[k] += v
        return tot


def work_row(delta: dict) -> dict:
    """Human-scale work record from a raw stage-counter delta."""
    mb = 1024 * 1024
    return {
        "cpu_s": round(delta["cpu_ns"] / 1e9, 3),
        "shuffle_read_mb": round(delta["shuffle_read_b"] / mb, 2),
        "shuffle_write_mb": round(delta["shuffle_write_b"] / mb, 2),
        "spill_mb": round((delta["mem_spill_b"] + delta["disk_spill_b"]) / mb, 2),
        "input_mb": round(delta["input_b"] / mb, 2),
    }


def measure_query(spark, fn, sf_dir, metrics: StageMetrics | None, heavy_reps: int = 3):
    """Warmup + min-of-N protocol for one query.

    Returns (wall_reps_sorted, work, rows) where work is the per-rep
    MINIMUM of each counter (reps run identical plans, so the true work is
    the same; min discards snapshot-boundary noise from stray event-queue
    stages) and rows is the query's output row count (from the warmup
    execution) — the normalizer for the output-bound keys' envelopes.
    """
    rows_out: list[int] = []

    def run():
        n = fn(spark, sf_dir).agg({"*": "count"}).collect()[0][0]
        if not rows_out:
            rows_out.append(int(n))

    run()  # warmup (codegen compile, not counted)
    reps: list[float] = []
    works: list[dict] = []
    # Timed: best of N, each recomputing from parquet (caches dropped; only
    # JIT/codegen warmth carries over). Min-of-N with a GC barrier is the
    # steady-state protocol — this VM shows ±15-30% per-query wall jitter
    # (CPU steal); min-of-N converges where single draws churn.
    for _ in range(heavy_reps):
        spark.catalog.clearCache()
        spark._jvm.System.gc()
        before = metrics.snapshot(settle=True) if metrics else None
        t0 = time.time()
        run()
        reps.append(time.time() - t0)
        if metrics:
            works.append(StageMetrics.delta(before, metrics.snapshot(settle=True)))
    # Adaptive extra reps for SUB-HALF-SECOND keys: their absolute jitter
    # (40-60 ms of scheduler/GC noise) is a large FRACTION of the
    # measurement; two more reps stabilize the min; heavy keys keep n=3.
    if min(reps) < 0.5:
        for _ in range(2):
            spark.catalog.clearCache()
            spark._jvm.System.gc()
            t0 = time.time()
            run()
            reps.append(time.time() - t0)
    reps.sort()
    work = None
    if works:
        work = {k: min(w[k] for w in works) for k in works[0]}
    return reps, work, rows_out[0]


# Keys whose COST is a function of their OUTPUT size (fixture-quadratic
# pair generation: replica-shared names make candidate pairs grow with
# multiplicity^2, VERDICT r9 item 7 / SCALE_TREND's adjudication of
# q_record_linkage as output-bound with flat cpu-per-pair). Their wall,
# cpu and shuffle envelopes are normalized by the output-row ratio vs
# baseline, so a fixture change that doubles the pair count does not
# read as an engine regression — while a real per-pair slowdown still
# fires. q_linkage_fs_em shares the quadratic CANDIDATE load but emits
# only a 6-row EM summary, so its output count cannot normalize its
# cost; its envelope stays raw (its candidate growth is adjudicated in
# SCALE_TREND instead).
OUTPUT_BOUND = {"q_record_linkage"}


def vm_probe(best_of: int = 3) -> float:
    """Deterministic single-thread CPU spin, timed — the VM co-scheduling
    mode marker (VERDICT r7 item 6). This VM's same-plan wall/CPU is
    BIMODAL across sessions (NOTES_r7 'Perf honesty note': byte-identical
    plans, whole-set wall 83 s fast-mode vs 108-114 s slow-mode), so every
    BENCH artifact records what regime it was measured in; readers compare
    wall numbers only within a regime. Best-of-3 of a fixed 2e7-iteration
    integer loop: ~uncontended it is a pure clock-speed measurement, under
    co-scheduling pressure it stretches with everything else.
    Uncontended reading on this VM: ~0.10 s (measured round 8).
    ``best_of=1`` is the cheap PER-KEY variant: a single draw reads high
    under contention exactly like the best-of-3, it just can't average
    out a stray scheduler hiccup — good enough to timestamp which keys
    of a run were measured inside a contention window."""
    best = float("inf")
    for _ in range(best_of):
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc += i * i
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def full_artifact_name(cpus: str, nproc: int) -> str:
    """File for the full result: ``BENCH_full.json``, or ``BENCH_full_c<N>.json``
    when ``SPARK_GRAFT_CPUS`` (``cpus``) pins a core count other than the
    machine's (a scaling run), so it does not overwrite the default run's
    artifact; the same naming as ``BENCH_r10_c8.json``."""
    if cpus in ("", "*", str(nproc)):
        return "BENCH_full.json"
    return f"BENCH_full_c{cpus}.json"


def main() -> None:
    probe_s = vm_probe()
    spark = get_spark("bench", extra_conf={"spark.ui.enabled": "true"})
    queries = entry_mod.queries()
    names = [n for n in HEADLINE if n in queries]
    # include any additional heavy north-star queries when present
    for n in sorted(queries):
        if n not in names and re.match(r"q_(dedup_|cosine|text_|minhash|simhash|decontaminate)", n):
            names.append(n)

    # warm the JVM + file metadata cache once (not counted)
    queries["q_scan"](spark, SF_DIR).collect()

    try:
        metrics: StageMetrics | None = StageMetrics(spark)
        metrics.snapshot()
    except Exception:
        metrics = None  # UI unavailable: fall back to wall-only bench

    # Standard warmup-then-measure: the first execution of a wide plan pays
    # one-time whole-stage-codegen compilation (2-3x for the 32-column
    # MinHash signature agg); the measured run is the steady-state latency a
    # resident engine delivers. Both runs execute the full plan end-to-end.
    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    work: dict[str, dict] = {}
    rows: dict[str, int] = {}
    probes: dict[str, float] = {}
    for name in names:
        # Per-key contention timestamp (round 10): the r9 driver run
        # flagged three keys clustered in a contiguous 4-key span whose
        # work metrics were AT baseline and which re-ran at baseline on
        # an idle box — a mid-run contention window the single
        # start-of-run probe cannot see. One cheap spin per key makes
        # those windows visible in the artifact itself.
        probes[name] = vm_probe(best_of=1)
        reps, w, n_rows = measure_query(spark, queries[name], SF_DIR, metrics)
        timings[name] = round(reps[0], 3)
        rows[name] = n_rows
        # Per-query spread over the n reps (VERDICT r3 item 8): this VM
        # shows ±20-40% session drift with unchanged plans, so the artifact
        # carries [min, median, max] and wall regressions are judged
        # against the spread, not a single draw.
        spreads[name] = [round(reps[0], 3), round(reps[len(reps) // 2], 3), round(reps[-1], 3)]
        if w is not None:
            work[name] = work_row(w)

    m = re.search(r"sf([\d.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None
    out = {
        "metric": "headline_query_set_wall_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "spread": spreads,  # per-query [min, median, max] over the n reps
        "sf": sf,
        # VM co-scheduling regime marker: fixed CPU spin, best-of-3 (see
        # vm_probe). Uncontended reading on this VM: ~0.10 s (measured
        # r8); materially higher readings mark a contended session —
        # compare wall numbers only between artifacts with similar
        # probes (work metrics are regime-immune).
        "vm_probe_s": probe_s,
        # single-draw spin immediately before each key's measurement —
        # values well above the session probe mark keys measured inside
        # a transient contention window (see wall-flag confirm pass)
        "probe_per_key": probes,
        "rows": rows,
    }
    if work:
        out["work"] = work
        out["work_total"] = {
            k: round(sum(w[k] for w in work.values()), 2) for k in next(iter(work.values()))
        }
    # Regression guardrail (VERDICT r1 #7, reworked r5 per VERDICT r4 #1):
    # primary regression list on WORK metrics (cpu_s and shuffle bytes are
    # plan properties, drift-immune); wall time demoted to a secondary list.
    base_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_baseline.json")
    try:
        with open(base_path) as f:
            base = json.load(f)
        if base.get("sf") == sf:
            bq = base.get("queries", {})
            bw = base.get("work", {})
            out["baseline_value"] = base.get("value")
            out["delta_vs_baseline"] = {
                n: round(t - bq[n], 3) for n, t in timings.items() if n in bq
            }
            # Output-aware envelope (VERDICT r9 item 7): the documented
            # output-bound keys' cost is proportional to their OUTPUT
            # rows (flat cpu-per-pair, SCALE_TREND), so their gates
            # compare against baseline * (rows_now / rows_baseline) —
            # a fixture that doubles the pair count is not an engine
            # regression; a real per-pair slowdown still fires.
            brows = base.get("rows", {})

            def _scale(n: str) -> float:
                if n in OUTPUT_BOUND and brows.get(n) and rows.get(n):
                    return rows[n] / brows[n]
                return 1.0

            # Wall regression requires the WHOLE spread above threshold: the
            # best-of-n (min) exceeding 1.5x baseline means even the
            # luckiest draw was slow. Secondary signal only. 1.5x, not
            # 1.2x (r8, VERDICT r7 item 6): measured same-plan per-key
            # wall noise on this VM is +/-20-40% per session (bimodal up
            # to 2.2x), so a 1.2x gate flagged a ROTATING ~20-key list
            # every round that the drift-immune work basis then cleared —
            # below the noise floor a threshold is a random-number
            # generator. Real wall regressions (a lost broadcast, a new
            # shuffle) move several-x and still fire; everything subtler
            # is the work list's job.
            prelim_wall = sorted(
                n
                for n, t in timings.items()
                if n in bq and bq[n] >= 0.2 and t > bq[n] * _scale(n) * 1.5
            )
            # Confirm pass (VERDICT r9 item 2): the r9 driver run flagged
            # three keys clustered in one contiguous span, work metrics
            # AT baseline, fast again standalone AND in-sequence on an
            # idle box — i.e. a transient external-contention window, not
            # a plan defect. Before the artifact is written, every
            # wall-flagged key is re-measured late in the run with a
            # fresh best-of-3 probe alongside; a key that re-runs inside
            # its envelope moves to wall_flags_cleared_on_confirm (with
            # both numbers and the probe), so the artifact's flag list
            # only carries slowness that REPRODUCES. First-pass timings
            # are never overwritten — the confirm adjudicates flags, it
            # does not launder the measurement.
            confirmed: list[str] = []
            cleared: dict[str, dict] = {}
            for n in prelim_wall:
                cp = vm_probe()
                creps, _w, _r = measure_query(spark, queries[n], SF_DIR, None)
                cwall = round(creps[0], 3)
                if cwall > bq[n] * _scale(n) * 1.5:
                    confirmed.append(n)
                else:
                    cleared[n] = {
                        "first_pass": timings[n],
                        "confirm": cwall,
                        "confirm_probe_s": cp,
                        "first_pass_probe_s": probes.get(n),
                    }
            out["wall_regressions_gt_50pct"] = confirmed
            if cleared:
                out["wall_flags_cleared_on_confirm"] = cleared
            # Primary: a key regresses when its WORK grew. Shuffle and input
            # bytes are byte-identical across same-code runs (measured r6 —
            # true plan properties), so they flag tight at >20% (>=1 MB
            # keys). Same-plan CPU on this VM is BIMODAL up to 2.2x with
            # co-scheduling (three same-code calibration runs, NOTES_r6.md),
            # so the baseline stores the cpu envelope (max over calibration
            # runs) and cpu flags at >1.5x on >=0.5 cpu-s keys — a real
            # quadratic shows up at several-x, scheduling weather does not.
            flagged = set()
            for n, w in work.items():
                b = bw.get(n)
                if not b:
                    continue
                sc = _scale(n)  # output-bound keys: per-output-row basis
                if b.get("cpu_s", 0) >= 0.5 and w["cpu_s"] > b["cpu_s"] * sc * 1.5:
                    flagged.add(n)
                bsh = b.get("shuffle_read_mb", 0) + b.get("shuffle_write_mb", 0)
                wsh = w["shuffle_read_mb"] + w["shuffle_write_mb"]
                if bsh >= 1.0 and wsh > bsh * sc * 1.2:
                    flagged.add(n)
                # input is INPUT-side — never scaled by the output ratio
                if b.get("input_mb", 0) >= 1.0 and w["input_mb"] > b["input_mb"] * 1.2:
                    flagged.add(n)
            # Explicit basis marker (VERDICT r5 item 1): the primary list
            # must never silently masquerade as work-based while actually
            # carrying the drift-prone wall list.
            out["regression_basis"] = "work" if bw else "wall"
            out["regressions_gt_20pct"] = sorted(flagged) if bw else out[
                "wall_regressions_gt_50pct"
            ]
            # Keys with no baseline work row are UNGUARDED by the primary
            # list — name them so the artifact can't overstate coverage
            # (new keys get envelope rows at the round's baseline refresh).
            out["unbaselined_keys"] = sorted(
                n for n in work if n not in bw
            )
    except (OSError, ValueError):
        pass
    payload = json.dumps(out)
    # Self-contained artifact (VERDICT r2 finding 3): the driver captures
    # only a stdout tail, which has truncated past rounds' JSON — so always
    # persist the full parsed result next to the script as well.
    full_name = full_artifact_name(
        os.environ.get("SPARK_GRAFT_CPUS", ""), len(os.sched_getaffinity(0))
    )
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), full_name)
    try:
        with open(full_path, "w") as f:
            f.write(payload + "\n")
    except OSError:
        pass
    print(payload, flush=True)
    # Final COMPACT line (VERDICT r9 item 5): the driver captures only a
    # ~2000-char stdout tail, which truncates the full JSON line's head —
    # so its parsed field came back null every round. This summary line is
    # printed LAST and stays well under the tail window, so the driver's
    # tail-parse always finds one complete JSON object carrying the
    # headline value + both regression lists; the per-key detail lives in
    # BENCH_full.json (committed) and the full line above.
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "vm_probe_s": probe_s,
        # WORK basis totals in the tail-parsed line (VERDICT r10 item 9:
        # wall at sf0.1 is driver/AQE-floor-bound for ~130 of 136 keys,
        # so the regime-immune basis must be visible to the driver's
        # tail parse, not only in BENCH_full.json)
        "work_total": out.get("work_total"),
        "baseline_value": out.get("baseline_value"),
        "regression_basis": out.get("regression_basis"),
        "regressions_gt_20pct": out.get("regressions_gt_20pct"),
        "wall_regressions_gt_50pct": out.get("wall_regressions_gt_50pct"),
        "wall_flags_cleared_on_confirm": sorted(
            out.get("wall_flags_cleared_on_confirm", {})
        ),
        "full": full_name,
    }
    print(json.dumps(compact), flush=True)


if __name__ == "__main__":
    main()
