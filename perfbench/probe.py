"""Outside-in counters: ``/proc`` process accounting and Spark's status REST API.

Neither needs any hook inside the program: ``ProcTree`` reads the kernel's
CPU and memory accounting for the driver, the JVM and every process below
the JVM (the PySpark daemon and its forked Python workers); ``SparkRest``
reads the live UI's ``/api/v1`` endpoints of the benchmark's own session.
"""

from __future__ import annotations

import json
import os
import re
import urllib.request

_TICK = os.sysconf("SC_CLK_TCK")
# HotSpot garbage-collector thread names (G1 and the parallel workers)
_GC_THREADS = ("GC Thread", "G1 ")


def _stat(pid: int) -> tuple[int, list[str]] | None:
    """(ppid, fields after the command name) of ``/proc/<pid>/stat``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listdir and open
        return None
    rest = raw[raw.rindex(")") + 2 :].split()
    return int(rest[1]), rest


def _cpu(rest: list[str], children: bool) -> float:
    """utime+stime (+ cutime+cstime of reaped children) in seconds."""
    ticks = int(rest[11]) + int(rest[12])
    if children:
        ticks += int(rest[13]) + int(rest[14])
    return ticks / _TICK


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class ProcTree:
    """CPU of the driver (this process), the JVM, and the JVM's descendants.

    Python-worker CPU is everything below the JVM: live descendants with
    their own reaped children (``cutime``/``cstime``), plus the JVM's reaped
    children (a daemon that exited). A worker that exits moves its time into
    its parent's child counters, which this sum also reads, so no CPU is
    lost or counted twice between two snapshots.
    """

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.driver_pid = os.getpid()

    def _descendants(self) -> dict[int, list[str]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                s = _stat(int(name))
                if s is not None:
                    stats[int(name)] = s
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in stats.items():
            kids.setdefault(ppid, []).append(pid)
        out, todo = {}, list(kids.get(self.jvm_pid, []))
        while todo:
            pid = todo.pop()
            out[pid] = stats[pid][1]
            todo.extend(kids.get(pid, []))
        return out

    def jvm_threads(self) -> dict[str, float]:
        """CPU of the JVM's JIT-compiler and garbage-collector threads, by
        HotSpot thread name. Threads that already exited are not counted."""
        out = {"jit": 0.0, "gc": 0.0}
        task_dir = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(task_dir):
            try:
                with open(f"{task_dir}/{tid}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            name = raw[raw.index("(") + 1 : raw.rindex(")")]
            kind = "jit" if "CompilerThre" in name else "gc" if name.startswith(_GC_THREADS) else None
            if kind:
                out[kind] += _cpu(raw[raw.rindex(")") + 2 :].split(), children=False)
        return out

    def snapshot(self, threads: bool = False) -> dict[str, float]:
        jvm = _stat(self.jvm_pid)
        drv = _stat(self.driver_pid)
        if jvm is None or drv is None:
            raise RuntimeError("JVM or driver process vanished")
        desc = self._descendants()
        jvm_rest = jvm[1]
        py = (int(jvm_rest[13]) + int(jvm_rest[14])) / _TICK
        py += sum(_cpu(rest, children=True) for rest in desc.values())
        snap = {
            "driver": _cpu(drv[1], children=False),
            "jvm": _cpu(jvm_rest, children=False),
            "pyworker": py,
        }
        if threads:
            snap.update(self.jvm_threads())
        return snap

    def peak_rss_mb(self) -> float:
        """Sum of VmHWM over the driver, the JVM and the live Python workers."""
        pids = [self.driver_pid, self.jvm_pid, *self._descendants()]
        return sum(_hwm_mb(p) for p in pids)


def cpu_delta(a: dict, b: dict) -> dict[str, float]:
    d = {k: b[k] - a[k] for k in a if k in b}
    d["total"] = d["driver"] + d["jvm"] + d["pyworker"]
    return d


_UNITS = {
    "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def metric_value(text: str) -> float:
    """Total of one SQL-UI metric string: '2,500', '291.5 KiB', '8.7 s',
    or 'total (min, med, max (...))\\n8.7 s (...)'. Sizes come out in
    bytes, times in seconds."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


# SQL-UI node metrics summed per pass: metric name -> output key. Scan
# metrics are read from parquet scan nodes only; the rest from any node.
SCAN_METRICS = {"number of output rows": "scan_rows", "number of files read": "scan_files"}
NODE_METRICS = {
    "time to run Python workers": "py_run_s",
    "time to initialize Python workers": "py_init_s",
    "data sent to Python workers": "py_sent_b",
    "data returned from Python workers": "py_returned_b",
    "number of written files": "sink_files",
    "written output": "sink_b",
    "task commit time": "sink_commit_s",
    "job commit time": "sink_commit_s",
}


class SparkRest:
    """Stage and SQL-execution counters from the live UI's REST API.

    ``mark()`` remembers what the status store holds now; ``since(mark)``
    sums what completed after it. ``settle()`` first drains the listener bus,
    so every finished stage and execution is in the store.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def settle(self) -> None:
        self._bus.waitUntilEmpty(30_000)

    def mark(self) -> dict[str, int]:
        self.settle()
        stages = self._get("/stages")
        executions = self._get("/sql?details=false&planDescription=false&length=100000")
        return {
            "stage": max((s["stageId"] for s in stages), default=-1),
            "sql": len(executions),
        }

    def since(self, mark: dict[str, int]) -> dict[str, float]:
        self.settle()
        out = dict.fromkeys(
            ["stages", "tasks", "run_s", "cpu_rest_s", "input_b", "shuffle_read_b",
             "shuffle_write_b", "spill_b",
             *SCAN_METRICS.values(), *NODE_METRICS.values()],
            0.0,
        )
        for s in self._get("/stages?status=complete"):
            if s["stageId"] <= mark["stage"]:
                continue
            out["stages"] += 1
            out["tasks"] += s["numCompleteTasks"]
            out["run_s"] += s["executorRunTime"] / 1e3
            out["cpu_rest_s"] += s["executorCpuTime"] / 1e9
            out["input_b"] += s["inputBytes"]
            out["shuffle_read_b"] += s["shuffleReadBytes"]
            out["shuffle_write_b"] += s["shuffleWriteBytes"]
            out["spill_b"] += s["diskBytesSpilled"]
        execs = self._get(
            f"/sql?details=true&planDescription=false&offset={mark['sql']}&length=100000"
        )
        for e in execs:
            for node in e.get("nodes", []):
                scan = node["nodeName"].startswith("Scan parquet")
                for m in node.get("metrics", []):
                    key = NODE_METRICS.get(m["name"]) or (scan and SCAN_METRICS.get(m["name"]))
                    if key:
                        out[key] += metric_value(m["value"])
        return out
