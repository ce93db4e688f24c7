"""Benchmark of the transcript time-series engine.

    python3 perfbench/run.py --workload <kernels|drain> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the repository root. One run is one fresh process: it generates
(or reuses from ``.perfbench/inputs``) the seeded input, starts a Spark
session with fixed deployment settings and isolated scratch and local
dirs, warms the workload by a fixed number of operations, runs operations
in a closed loop for ``--seconds``, checks the outputs of the last
operation against computations made apart from Spark, removes everything
the run created, and prints one JSON line as its last line of output.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics (see README.md).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Operations run before timing starts, counted in setup_s. Sized from the
# per-operation curves in README.md and the run budget: after them an
# operation is within about 25% of its later times.
WARMUP_OPS = {"kernels": 1, "drain": 2}
DRIVER_MEM = "3g"


def deployment_env(run_dir: str) -> dict[str, str]:
    """The fixed deployment settings, identical for every run."""
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),  # nproc
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_SCRATCH": os.path.join(run_dir, "scratch"),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # spark-submit's launcher JVM: no hsperfdata or temp files in /tmp
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        # Python workers import the engine's worker daemon from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }


@contextlib.contextmanager
def isolated(name: str):
    """A fresh run dir under ``.perfbench/runs`` with the deployment
    settings in the environment; removed on exit, also on failure."""
    run_dir = os.path.join(ROOT, ".perfbench", "runs", name)
    shutil.rmtree(run_dir, ignore_errors=True)
    env = deployment_env(run_dir)
    for k in ("SPARK_GRAFT_SCRATCH", "SPARK_GRAFT_LOCAL_DIR", "TMPDIR"):
        os.makedirs(env[k])
    os.environ.update(env)
    try:
        yield run_dir
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_window(before: list[int]) -> dict:
    """The machine's CPU since ``before``: the busy seconds (user, system
    and interrupt time of every process) and the share of CPU time its
    host stole, which the busy seconds do not include."""
    d = [b - a for a, b in zip(before, cpu_times())]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]  # user, nice, system, irq, softirq
    return {"steal": d[7] / max(sum(d), 1), "busy_s": busy / os.sysconf("SC_CLK_TCK")}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WARMUP_OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_spark(run_dir: str, trace: bool):
    from aisdb_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        # JVM temp files stay inside the run dir; no hsperfdata in /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.logStageExecutorMetrics": "true",
            }
        )
    return get_spark("perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM that pyspark launched, and
    wait for it to exit (its Python worker daemon exits with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on end of input
        proc.wait(timeout=60)


def measure(args, inp: str, run_dir: str, gen_s: float) -> dict:
    from perfbench.workloads import WORKLOADS

    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
    t0 = time.monotonic()
    spark = start_spark(run_dir, bool(args.trace))
    try:
        session_s = time.monotonic() - t0
        work = os.path.join(run_dir, "work")
        os.makedirs(work)
        wl = WORKLOADS[args.workload](spark, inp, work)
        t1 = time.monotonic()
        wl.setup()
        load_s = time.monotonic() - t1
        for _ in range(WARMUP_OPS[args.workload]):
            wl.op()
        wl.reset()
        if tracer:
            tracer.install(spark)
        cpu0 = cpu_times()
        t_first = time.monotonic()
        setup_s = t_first - T_START - gen_s
        op_s, rows, attempted, n = [], 0, 0, 0
        while True:
            t = time.monotonic()
            r, n = wl.op()
            op_s.append(time.monotonic() - t)
            rows += r
            attempted += n
            if time.monotonic() - t_first >= args.seconds:
                break
        if tracer:
            tracer.uninstall(spark)
        cpu = cpu_window(cpu0)
        print(json.dumps({"op_s": op_s, **cpu}), file=sys.stderr)
        failures = wl.check()
        for f in failures:
            print("CHECK FAILED:", f, file=sys.stderr)
        result = {
            "correct": not failures,
            "attempted": attempted,
            # the checks read the last operation's outputs
            "failed": n if failures else 0,
        }
        if args.trace:
            from perfbench.trace import per_layer_units

            values = tracer.metrics(spark, wl, op_s, session_s, load_s, run_dir)
            values["wall.rows_per_s"] = rows / sum(op_s)
            values["wall.commit_p50_s"] = statistics.median(op_s)
            values["traced.rows_per_cpu_s"] = rows / cpu["busy_s"]
            metrics = {k: (values[k], u) for k, u in per_layer_units().items()}
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "rows_per_cpu_s": (rows / cpu["busy_s"], "1/s"),
                "stored_bytes_per_row": (wl.stored_bytes_per_row(), "B"),
            }
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        return result
    finally:
        stop_spark(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "aisdb_spark")):
        print(f"perfbench: no engine package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import gen

    t = time.monotonic()
    inp = gen.cached(args.seed, os.path.join(ROOT, ".perfbench", "inputs"))
    gen_s = time.monotonic() - t

    with isolated(f"run-{os.getpid()}") as run_dir:
        result = measure(args, inp, run_dir, gen_s)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
