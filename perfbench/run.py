#!/usr/bin/env python3
"""Layered benchmark of the ETL engine: one workload per run, closed loop.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. A run:

1. generates the workload's inputs from ``--seed``;
2. sets up once, cold: imports the program, launches the JVM with a
   SparkSession (``session.get_spark`` on ``local[<cores>]`` with its own
   warehouse and local dirs) and runs one untimed warmup pass, checked
   like every other pass; ``setup_s`` times all of it, so it pays JIT and
   codegen, worker fork and artifact builds. After it, outside its
   timing, every registry key is verified against its DuckDB oracle
   (``oracle_sql()``), then four more untimed passes run;
3. runs timed passes one after another (one client) for ``--seconds``,
   each after ``clearCache()``; a pass materializes every output column
   of every key (an all-column ``xxhash64`` digest, compared with the
   verified one) or runs the whole medicines pipeline through
   ``io.write_csv`` (CSV read back and compared with the generator's
   oracle rows);
4. prints one compact JSON line: end-to-end metrics with ``--trace 0``,
   per-layer metrics with ``--trace 1``. In a traced run every other pass
   is traced, so the tracing overhead is measured in the same run, and
   the spans are written to ``.perfbench/traces/``.

The program is only called through its public functions; every counter
comes from outside (``/proc``, Spark's status REST API, timers around the
calls). Exits non-zero without a result line when the program is missing.
"""

from __future__ import annotations

import argparse
import functools
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.probe import ProcTree, SparkRest, cpu_delta  # noqa: E402

# The JVM is still compiling hot code for several passes after set-up;
# untimed passes between set-up and timing keep that trend out of the
# medians.
WARM_PASSES = 4
MIN_PASSES = 5
MB = 1e6

WORKLOADS = {
    # JVM-only control (no Python workers); runnable, but not listed in
    # BENCHMARK.json: three workloads do not fit the run-time budget.
    "relational_sf0.02": {
        "sf": 0.02,
        "keys": "q_flagship_q3 q_tpch_q5 q_tpch_q6 q_tpch_q9 q_agg_group q_project_compute".split(),
    },
    "corpus_sf0.01": {
        "sf": 0.01,
        "keys": "q_corpus_pipeline q_distinct_ngrams".split(),
    },
    "medicines_html": {"cards": 3_000},
}

PER_LAYER = [
    ("session.start_s", "s"),
    ("registry.build_s", "s"),
    ("registry.build_jobs", "count"),
    ("catalyst.analysis_s", "s"),
    ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("exec.run_s", "s"),
    ("exec.cpu_jvm_s", "s"),
    ("exec.cpu_rest_s", "s"),
    ("jvm.jit_cpu_s", "s"),
    ("jvm.gc_cpu_s", "s"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("pyworker.cpu_s", "s"),
    ("pyworker.run_s", "s"),
    ("pyworker.init_s", "s"),
    ("pyworker.sent_mb", "MB"),
    ("pyworker.returned_mb", "MB"),
    ("driver.cpu_s", "s"),
    ("shuffle.write_mb", "MB"),
    ("shuffle.read_mb", "MB"),
    ("shuffle.spill_mb", "MB"),
    ("io.scan_mb", "MB"),
    ("io.scan_files", "count"),
    ("io.sink_s", "s"),
    ("io.sink_mb", "MB"),
    ("io.sink_files", "count"),
    ("html.pages_in", "count"),
    ("html.parse_ratio", "ratio"),
    ("enrich.calls", "count"),
    ("enrich.fill", "ratio"),
    ("enrich.dedup_ratio", "ratio"),
    ("enrich.service_s", "s"),
    ("enrich.failed_chunks", "count"),
    ("artifact.builds", "count"),
    ("artifact.hits", "count"),
    ("artifact.mb", "MB"),
    ("medicines.rows_scan", "count"),
    ("medicines.rows_classified", "count"),
    ("medicines.rows_approved", "count"),
    ("medicines.distinct_keys", "count"),
    ("medicines.rows_out", "count"),
    ("trace.overhead_s", "s"),
    ("passes", "count"),
]


def now() -> float:
    return time.perf_counter()


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(base, n))
        for base, _, names in os.walk(path)
        for n in names
    )


PHASES = ("analysis", "optimization", "planning")


def force_plan(df):
    """Plan ``df`` now (Catalyst optimization + physical planning), so the
    action that follows times execution only. Returns (seconds, qe)."""
    qe = df._jdf.queryExecution()
    t = now()
    qe.executedPlan()
    return now() - t, qe


def plan_phases(qe) -> dict[str, float]:
    """Catalyst phase durations from the QueryPlanningTracker, in seconds."""
    phases = qe.tracker().phases()
    out = {}
    for ph in PHASES:
        opt = phases.get(ph)
        out[ph] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------


def digest(df):
    """Order-insensitive digest over every output column: row count plus
    the exact (decimal) sum of per-row xxhash64. Unlike ``count(*)`` it
    cannot be answered without computing every projected column."""
    from pyspark.sql import functions as F

    cols = [F.col(f"`{c}`") for c in df.columns]
    return df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    )


def read_csv_rows(path: str) -> list[tuple]:
    """Spark's CSV output read back: unquoted empty = NULL, "" = ''."""
    import pyarrow as pa
    import pyarrow.csv as pcsv

    rows: list[tuple] = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".csv"):
            continue
        opts = pcsv.ConvertOptions(
            strings_can_be_null=True, quoted_strings_can_be_null=False
        )
        tbl = pcsv.read_csv(os.path.join(path, name), convert_options=opts)
        if tbl.num_rows == 0:
            continue
        tbl = tbl.cast(pa.schema([(c, pa.string()) for c in tbl.column_names]))
        rows.extend(zip(*(tbl.column(c).to_pylist() for c in tbl.column_names)))
    return rows


# ---------------------------------------------------------------------------
# the benchmark
# ---------------------------------------------------------------------------


class Bench:
    warm_passes = WARM_PASSES
    min_passes = MIN_PASSES

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.name, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.cfg = WORKLOADS[workload]
        self.work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{time.time_ns()}")
        os.makedirs(os.path.join(self.work, "tmp"))
        # read by the JVM at launch; overrides spark.local.dir in local mode
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        self.attempted = self.failed = 0
        self.spans: list[dict] = []
        self.artifacts = Counter()
        self.spark = None
        self.duck = None  # DuckDB over the inputs, for the oracle check
        self.reference: dict[str, tuple] = {}  # key -> verified digest
        self.proc: ProcTree | None = None
        self.rest: SparkRest | None = None

    # -- inputs ------------------------------------------------------------

    def make_inputs(self) -> None:
        """Generate this run's inputs from the seed (well under a second at
        these sizes, so nothing is cached between runs)."""
        self.data = os.path.join(self.work, "data")
        if self.name == "medicines_html":
            self.cards = datagen.write_medicines(self.cfg["cards"], self.seed, self.data)
            self.expected = Counter(datagen.expected_rows(self.cards))
            self.n_pages = -(-len(self.cards) // datagen.CARDS_PER_PAGE) + len(self.cards)
        else:
            datagen.write_tables(self.cfg["sf"], self.seed, self.data)

    # -- session -------------------------------------------------------------

    def start_session(self):
        from etl_data_processor_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "true" if self.trace else "false",
        }
        if self.trace:
            conf.update(
                {
                    "spark.ui.port": "0",
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                    "spark.sql.ui.retainedExecutions": "100000",
                }
            )
        spark = get_spark("perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        self.proc = ProcTree(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
        self.rest = SparkRest(spark) if self.trace else None
        return spark

    def close(self) -> None:
        """Stop Spark, end the JVM (and with it every Python worker) and wait."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        if self.duck is not None:
            self.duck.close()
        shutil.rmtree(self.work, ignore_errors=True)

    def import_program(self) -> float:
        """Import the modules a pass calls; returns the seconds it took."""
        t = now()
        import __spark_entry__ as entry
        from etl_data_processor_spark import io  # noqa: F401
        from etl_data_processor_spark.pipelines import medicines  # noqa: F401

        entry.queries()
        return now() - t

    def install_artifact_counter(self) -> None:
        """Count artifact-store lookups: a hit is a key already memoized in
        the session or already published on disk; anything else builds."""
        from etl_data_processor_spark.ops import dedup

        orig, counts = dedup.cached_df, self.artifacts

        @functools.wraps(orig)
        def counted(spark, key, builder, materialize=False, *args, **kwargs):
            full = (spark.sparkContext.applicationId, *key)
            done = os.path.join(dedup.artifact_location(spark, key), "_SUCCESS")
            hit = full in dedup._DF_CACHE or (materialize and os.path.exists(done))
            counts["hits" if hit else "builds"] += 1
            return orig(spark, key, builder, materialize, *args, **kwargs)

        dedup.cached_df = counted

    # -- passes --------------------------------------------------------------

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"FAILED: {what}")

    def run_pass(self, label: str, traced: bool) -> dict:
        # cached plans from the previous pass would turn this one into cached
        # reads; materialized artifacts stay hits (cached_df re-reads them)
        self.spark.catalog.clearCache()
        self.spark._jvm.System.gc()
        p0 = self.proc.snapshot(threads=traced)
        mark = self.rest.mark() if traced else None
        art0 = Counter(self.artifacts)
        t0 = now()
        if self.name == "medicines_html":
            rec = self.medicines_pass(label, traced)
        else:
            rec = self.registry_pass(label, traced)
        rec["wall_s"] = now() - t0
        rec["cpu"] = cpu_delta(p0, self.proc.snapshot(threads=traced))
        if traced:
            rec["rest"] = self.rest.since(mark)
            rec["artifact"] = {k: self.artifacts[k] - art0[k] for k in ("builds", "hits")}
            wh = self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
            rec["artifact"]["bytes"] = dir_bytes(os.path.join(wh, "_artifacts"))
            self.spans.append({"pass": label, **rec})
        return rec

    def registry_pass(self, label: str, traced: bool) -> dict:
        """Build every key and materialize all its output columns into a
        digest, which ``check`` compares with the verified one."""
        import __spark_entry__ as entry

        queries = entry.queries()
        rec = {"build_s": 0.0, "build_jobs": 0, "keys": {}}
        rec.update(dict.fromkeys(PHASES, 0.0))
        dag = self.spark._jsc.sc().dagScheduler()
        for key in self.cfg["keys"]:
            k = {"start": now(), "digest": None}
            try:
                jobs0 = dag.nextJobId()
                df = queries[key](self.spark, self.data)
                k["build_s"] = now() - k["start"]
                k["build_jobs"] = dag.nextJobId() - jobs0
                d = digest(df)
                if traced:
                    k["plan_s"], qe = force_plan(d)
                t = now()
                row = d.collect()[0]
                k["action_s"] = now() - t
                if traced:
                    k.update(plan_phases(qe))
                k["digest"] = (row["n"], row["h"])
            except Exception as e:  # one key failing must not end the run
                log(f"{key}: {type(e).__name__}: {str(e)[:300]}")
            k["end"] = now()
            for f in ("build_s", "build_jobs", *PHASES):
                rec[f] += k.get(f, 0)
            rec["keys"][key] = k
        return rec

    def check(self, label: str, rec: dict) -> None:
        """Count the pass's operations: one per key, or the pipeline pass."""
        if self.name == "medicines_html":
            self.op(rec["ok"], f"{label} medicines pipeline")
            return
        for key, k in rec["keys"].items():
            ok = k["digest"] is not None and k["digest"] == self.reference.get(key)
            self.op(ok, f"{label} {key}")

    def verify_all(self) -> None:
        """Check every key's rows against its DuckDB oracle, column types
        included, and record the digest of those same rows as the key's
        reference. A key that fails here has no reference, so every pass
        counts it as failed."""
        import duckdb

        import __spark_entry__ as entry
        from etl_data_processor_spark.io import TABLES
        from scripts.check_oracle import canon_rows, check_types

        self.duck = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.data, f"{t}.parquet")
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        queries, oracles = entry.queries(), entry.oracle_sql()
        for key in self.cfg["keys"]:
            try:
                df = queries[key](self.spark, self.data)
                rows = df.collect()
                rel = self.duck.sql(oracles[key])
                problems = check_types(df, rel)
                if sorted(df.columns) != sorted(rel.columns):
                    problems.append(f"columns {sorted(df.columns)} != {sorted(rel.columns)}")
                elif canon_rows(df.columns, rows) != canon_rows(rel.columns, rel.fetchall()):
                    problems.append("values differ")
                if problems:
                    log(f"{key}: Spark differs from the DuckDB oracle: {'; '.join(problems)}")
                    continue
                row = digest(self.spark.createDataFrame(rows, schema=df.schema)).collect()[0]
                self.reference[key] = (row["n"], row["h"])
            except Exception as e:
                log(f"{key}: oracle check raised {type(e).__name__}: {str(e)[:300]}")

    def medicines_pass(self, label: str, traced: bool) -> dict:
        from etl_data_processor_spark import io
        from perfbench import enrich_client
        from etl_data_processor_spark.pipelines.medicines import (
            cards_from_html,
            run_pipeline,
        )

        out_dir = os.path.join(self.work, "out", label)
        log_dir = os.path.join(self.work, "enrich", label)
        rec = {"start": now(), "ok": False, "build_s": 0.0, "build_jobs": 0}
        rec.update(dict.fromkeys(PHASES, 0.0))
        dag = self.spark._jsc.sc().dagScheduler()
        try:
            jobs0 = dag.nextJobId()
            listing = self.spark.read.parquet(os.path.join(self.data, "listing.parquet"))
            details = self.spark.read.parquet(os.path.join(self.data, "details.parquet"))
            cards = cards_from_html(listing, details)
            df = run_pipeline(cards, client_factory=enrich_client.factory(log_dir))
            rec["build_s"] = now() - rec["start"]
            rec["build_jobs"] = dag.nextJobId() - jobs0
            if traced:
                # the writer plans the query again: these phases come from a
                # separate planning of the same DataFrame
                rec["plan_s"], qe = force_plan(df)
                rec.update(plan_phases(qe))
            t = now()
            io.write_csv(df, out_dir)
            rec["sink_call_s"] = now() - t
            rec["end"] = now()
            rows = read_csv_rows(out_dir)
            rec["rows_out"] = len(rows)
            rec["ok"] = Counter(rows) == self.expected
        except Exception as e:
            log(f"medicines: {type(e).__name__}: {str(e)[:300]}")
        rec["enrich"] = enrich_client.read_logs(log_dir)
        shutil.rmtree(out_dir, ignore_errors=True)
        return rec

    # -- run -------------------------------------------------------------------

    def run(self) -> dict:
        log("start")
        self.make_inputs()
        t0 = now()
        import_s = self.import_program()
        if self.trace:
            self.install_artifact_counter()
        t = now()
        self.spark = self.start_session()
        start_s = now() - t
        rec = self.run_pass("setup", traced=False)
        setup_s = now() - t0
        log(f"setup: {setup_s:.2f}s (import {import_s:.2f}s, session {start_s:.2f}s)")
        if self.name != "medicines_html":
            t = now()
            self.verify_all()
            log(f"oracle check: {now() - t:.2f}s")
        self.check("setup", rec)
        for i in range(self.warm_passes):
            label = f"warm-{i}"
            self.check(label, self.run_pass(label, traced=False))

        passes: list[dict] = []
        t_run = now()
        while (
            len(passes) < self.min_passes + (1 if self.trace else 0)
            or now() - t_run < self.seconds
        ):
            traced = self.trace and len(passes) % 2 == 1
            label = f"pass-{len(passes)}"
            rec = self.run_pass(label, traced)
            self.check(label, rec)
            rec["traced"] = traced
            passes.append(rec)
            log(f"pass {len(passes) - 1}{' traced' if traced else ''}: "
                f"{rec['wall_s']:.3f}s wall, {rec['cpu']['total']:.2f}s cpu")
        peak_rss = self.proc.peak_rss_mb()

        if not self.trace:
            return self.result(
                {
                    "wall_s": (statistics.median(p["wall_s"] for p in passes), "s"),
                    "cpu_s": (statistics.median(p["cpu"]["total"] for p in passes), "s"),
                    "peak_rss_mb": (peak_rss, "MB"),
                    "setup_s": (setup_s, "s"),
                }
            )
        return self.result(self.layers(passes, start_s))

    def layers(self, passes: list[dict], start_s: float) -> dict:
        traced = [p for p in passes if p["traced"]]
        plain = [p for p in passes if not p["traced"]]
        per_pass = [self.layer_values(p) for p in traced]
        vals = {
            name: statistics.median(v[name] for v in per_pass)
            for name in per_pass[0]
        }
        vals["session.start_s"] = start_s
        vals["trace.overhead_s"] = statistics.median(
            p["wall_s"] for p in traced
        ) - statistics.median(p["wall_s"] for p in plain)
        vals["passes"] = len(passes)
        if self.name == "medicines_html":
            vals.update(self.medicines_counts())
        self.write_trace(passes, vals)
        units = dict(PER_LAYER)
        return {name: (vals.get(name, 0.0), units[name]) for name, _ in PER_LAYER}

    def layer_values(self, p: dict) -> dict[str, float]:
        r, cpu = p["rest"], p["cpu"]
        v = {
            "registry.build_s": p["build_s"],
            "registry.build_jobs": p.get("build_jobs", 0),
            "catalyst.analysis_s": p["analysis"],
            "catalyst.optimization_s": p["optimization"],
            "catalyst.planning_s": p["planning"],
            "exec.run_s": r["run_s"],
            "exec.cpu_jvm_s": cpu["jvm"],
            "jvm.jit_cpu_s": cpu["jit"],
            "jvm.gc_cpu_s": cpu["gc"],
            "exec.cpu_rest_s": r["cpu_rest_s"],
            "exec.stages": r["stages"],
            "exec.tasks": r["tasks"],
            "pyworker.cpu_s": cpu["pyworker"],
            "pyworker.run_s": r["py_run_s"],
            "pyworker.init_s": r["py_init_s"],
            "pyworker.sent_mb": r["py_sent_b"] / MB,
            "pyworker.returned_mb": r["py_returned_b"] / MB,
            "driver.cpu_s": cpu["driver"],
            "shuffle.write_mb": r["shuffle_write_b"] / MB,
            "shuffle.read_mb": r["shuffle_read_b"] / MB,
            "shuffle.spill_mb": r["spill_b"] / MB,
            "io.scan_mb": r["input_b"] / MB,
            "io.scan_files": r["scan_files"],
            "artifact.builds": p["artifact"]["builds"],
            "artifact.hits": p["artifact"]["hits"],
            "artifact.mb": p["artifact"]["bytes"] / MB,
        }
        if self.name == "medicines_html":
            e = p["enrich"]
            v.update(
                {
                    "io.sink_s": r["sink_commit_s"],
                    "io.sink_mb": r["sink_b"] / MB,
                    "io.sink_files": r["sink_files"],
                    "html.pages_in": r["scan_rows"],
                    "html.parse_ratio": r["scan_rows"] / self.n_pages,
                    "enrich.calls": e["calls"],
                    "enrich.fill": e["keys"] / max(e["calls"] * 200, 1),
                    "enrich.dedup_ratio": e["keys"] / max(p.get("rows_out", 0), 1),
                    "enrich.service_s": e["service_s"],
                    "enrich.failed_chunks": e["failed"],
                    "medicines.distinct_keys": e["keys"],
                    "medicines.rows_out": p.get("rows_out", 0),
                }
            )
        return v

    def medicines_counts(self) -> dict[str, float]:
        """Stage row counts the pipeline does not expose: cards extracted
        from the HTML (one extra count job, outside every timed pass) and
        the classified/approved counts the generator drew."""
        from etl_data_processor_spark.pipelines.medicines import cards_from_html

        listing = self.spark.read.parquet(os.path.join(self.data, "listing.parquet"))
        details = self.spark.read.parquet(os.path.join(self.data, "details.parquet"))
        return {
            "medicines.rows_scan": cards_from_html(listing, details).count(),
            "medicines.rows_classified": sum(c["status"] is not None for c in self.cards),
            "medicines.rows_approved": sum(self.expected.values()),
        }

    def write_trace(self, passes: list[dict], vals: dict) -> None:
        out = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{self.name}-seed{self.seed}-{os.getpid()}.json")
        with open(path, "w") as f:
            json.dump({"workload": self.name, "seed": self.seed, "layers": vals,
                       "passes": self.spans}, f, indent=1, default=str)
        log(f"trace written to {os.path.relpath(path, ROOT)}")

    def result(self, metrics: dict) -> dict:
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def program_missing() -> str | None:
    """Why the program in this checkout cannot be benchmarked, or None."""
    for name in ("__spark_entry__", "etl_data_processor_spark"):
        spec = importlib.util.find_spec(name)  # located, not imported: set-up times the import
        if spec is None or spec.origin is None:
            return f"the program is not importable: no module {name}"
        if not os.path.abspath(spec.origin).startswith(ROOT + os.sep):
            return f"{name} would be imported from outside {ROOT}"
    return None


def prepare_env() -> None:
    """Python workers import the program (and the benchmark's enrichment
    client) from this checkout; temp files stay inside it."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    tmp = os.path.join(ROOT, ".perfbench", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts (its launcher too) would otherwise write
    # an hsperfdata file to the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    why = program_missing()
    if why:
        log(why)
        return 2
    prepare_env()
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = bench.run()
    finally:
        bench.close()
        log("closed")
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
