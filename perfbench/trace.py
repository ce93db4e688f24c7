"""Per-layer metrics for the traced run, measured from outside the engine.

Two sources:

- wrappers, installed for the timed phase only, that replace public
  functions of the engine's modules with timed versions (the engine looks
  them up as module attributes at call time, so calls made inside the
  engine are timed too) and are removed afterwards;
- Spark's own event log, written to the run's scratch, for the engine
  metrics (jobs, tasks, executor time, scan, shuffle, spill, Python
  transfer) of the jobs started in the timed phase.

Times and counts are reported per timed operation (a kernels pass or a
drain wave), so runs of different length compare. A metric of a layer the
workload does not reach reads 0.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import resource
import time
from collections import defaultdict

from perfbench.workloads import KERNEL_QUERIES, dir_bytes

PHASE_KEY = "perfbench.phase"

# (module, public function, metric)
WRAPPED = [
    ("aisdb_spark.streaming.upsert", "upsert_batch_cascade", "streaming.cascade_batch_s"),
    ("aisdb_spark.streaming.upsert", "upsert_batch", "streaming.upsert_batch_s"),
    ("aisdb_spark.streaming.upsert", "refresh_coarser", "streaming.refresh_coarser_s"),
    ("aisdb_spark.streaming.txn", "recover", "streaming.txn_recover_s"),
    ("aisdb_spark.streaming.txn", "swap_commit", "streaming.txn_swap_commit_s"),
]
ENGINE = [
    ("engine.jobs", "count"),
    ("engine.tasks", "count"),
    ("engine.executor_run_s", "s"),
    ("engine.executor_cpu_s", "s"),
    ("engine.gc_s", "s"),
    ("engine.scan_mb", "MB"),
    ("engine.shuffle_write_mb", "MB"),
    ("engine.spill_mb", "MB"),
    ("engine.python_run_s", "s"),
    ("engine.to_python_mb", "MB"),
    ("engine.from_python_mb", "MB"),
]
# accumulator names of the Python runners' SQL metrics
PYTHON_ACCUMULATORS = {
    "data sent to Python workers": ("engine.to_python_mb", 1e-6),
    "data returned from Python workers": ("engine.from_python_mb", 1e-6),
    "time to run Python workers": ("engine.python_run_s", 1e-3),
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    units = {
        "session.get_spark_s": "s",
        "sources.load_s": "s",
        "queries.build_s": "s",
        "queries.plan_cache_hits": "count",
    }
    units.update({f"query.{q}.s": "s" for q in KERNEL_QUERIES})
    units.update({m: "s" for _mod, _fn, m in WRAPPED})
    units.update(
        {
            "streaming.jobs_per_batch": "count",
            "streaming.commit_tail_s": "s",
            "fsio.scratch_mb_left": "MB",
        }
    )
    units.update(dict(ENGINE))
    units.update(
        {
            "engine.peak_storage_mb": "MB",
            "proc.jvm_peak_rss_mb": "MB",
            "proc.python_peak_rss_mb": "MB",
            "wall.rows_per_s": "1/s",
            "wall.commit_p50_s": "s",
            "traced.rows_per_cpu_s": "1/s",
        }
    )
    return units


class Tracer:
    def __init__(self):
        self.t: dict[str, float] = defaultdict(float)
        self.saved: list = []

    def _timed(self, key: str, fn):
        def wrapper(*args, **kwargs):
            t0 = time.monotonic()
            try:
                return fn(*args, **kwargs)
            finally:
                self.t[key] += time.monotonic() - t0
                self.t[key + ".calls"] += 1

        return wrapper

    def _timed_builder(self, name: str, fn, queries):
        """Time inside ``QUERIES[name]`` (plan build, before execution) and
        count plan-cache hits: a call of a cacheable query that adds no
        cache entry reused a prepared plan."""

        def wrapper(spark, sf_dir):
            before = len(queries._PLAN_CACHE)  # noqa: SLF001
            t0 = time.monotonic()
            df = fn(spark, sf_dir)
            self.t["queries.build_s"] += time.monotonic() - t0
            if name not in queries._UNCACHEABLE and len(queries._PLAN_CACHE) == before:  # noqa: SLF001
                self.t["queries.plan_cache_hits"] += 1
            return df

        return wrapper

    def install(self, spark) -> None:
        from aisdb_spark import queries

        for mod_name, fn_name, key in WRAPPED:
            mod = importlib.import_module(mod_name)
            self.saved.append((mod, fn_name, getattr(mod, fn_name)))
            setattr(mod, fn_name, self._timed(key, getattr(mod, fn_name)))
        for name in KERNEL_QUERIES:
            fn = queries.QUERIES[name]
            self.saved.append((queries.QUERIES, name, fn))
            queries.QUERIES[name] = self._timed_builder(name, fn, queries)
        spark.sparkContext.setLocalProperty(PHASE_KEY, "timed")

    def uninstall(self, spark) -> None:
        spark.sparkContext.setLocalProperty(PHASE_KEY, None)
        for owner, name, fn in reversed(self.saved):
            if isinstance(owner, dict):
                owner[name] = fn
            else:
                setattr(owner, name, fn)
        self.saved = []

    def metrics(self, spark, wl, op_s: list[float], session_s: float, load_s: float,
                run_dir: str) -> dict:
        ops = len(op_s)
        out = dict.fromkeys(per_layer_units(), 0.0)
        out["session.get_spark_s"] = session_s
        if wl.name == "kernels":
            out["sources.load_s"] = load_s
            out.update({f"query.{q}.s": s / ops for q, s in wl.query_s.items()})
        for k in ("queries.build_s", "queries.plan_cache_hits", *(m for _mod, _fn, m in WRAPPED)):
            out[k] = self.t[k] / ops
        ev = read_eventlog(os.path.join(run_dir, "eventlog"))
        out.update({k: ev[k] / ops for k, _u in ENGINE})
        out["engine.peak_storage_mb"] = ev["engine.peak_storage_mb"]
        batches = self.t["streaming.cascade_batch_s.calls"]
        if batches:
            out["streaming.jobs_per_batch"] = ev["engine.jobs"] / batches
            out["streaming.commit_tail_s"] = (sum(op_s) - self.t["streaming.cascade_batch_s"]) / ops
        out["fsio.scratch_mb_left"] = dir_bytes(os.path.join(run_dir, "scratch")) / 1e6
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
        out["proc.jvm_peak_rss_mb"] = peak_rss_mb(jvm_pid)
        out["proc.python_peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        return out


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def read_eventlog(eventlog_dir: str) -> dict:
    """Sum task metrics over the jobs started in the timed phase."""
    out: dict[str, float] = defaultdict(float)
    timed_stages: set[int] = set()
    for path in glob.glob(os.path.join(eventlog_dir, "*")):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    if (e.get("Properties") or {}).get(PHASE_KEY) == "timed":
                        out["engine.jobs"] += 1
                        timed_stages.update(e.get("Stage IDs", []))
                elif kind == "SparkListenerTaskEnd" and e.get("Stage ID") in timed_stages:
                    m = e.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    out["engine.tasks"] += 1
                    out["engine.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    out["engine.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    out["engine.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    out["engine.scan_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6
                    out["engine.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    out["engine.spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 1e6
                    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                        key = PYTHON_ACCUMULATORS.get(acc.get("Name", ""))
                        if key is not None:
                            out[key[0]] += float(acc.get("Update") or 0) * key[1]
                elif kind == "SparkListenerStageExecutorMetrics":
                    mb = (e.get("Executor Metrics") or {}).get("OnHeapStorageMemory", 0) / 1e6
                    out["engine.peak_storage_mb"] = max(out["engine.peak_storage_mb"], mb)
    return out
