"""Per-operation warm-up curve of one workload in a fresh JVM.

    python3 perfbench/curve.py --workload kernels --seed 1 --ops 10

Starts a session with the benchmark's deployment settings, runs the
workload's setup and then ``--ops`` operations with no warm-up, and prints
one JSON line: setup seconds and the seconds of each operation in order.
``WARMUP_OPS`` in run.py is sized from these curves (README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--ops", type=int, default=10)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    from perfbench import gen, run
    from perfbench.workloads import WORKLOADS

    inp = gen.cached(args.seed, os.path.join(ROOT, ".perfbench", "inputs"))
    with run.isolated(f"curve-{os.getpid()}") as run_dir:
        t = time.monotonic()
        spark = run.start_spark(run_dir, False)
        try:
            session_s = time.monotonic() - t
            os.makedirs(os.path.join(run_dir, "work"))
            wl = WORKLOADS[args.workload](spark, inp, os.path.join(run_dir, "work"))
            t = time.monotonic()
            wl.setup()
            setup_s = time.monotonic() - t
            op_s = []
            for _ in range(args.ops):
                t = time.monotonic()
                wl.op()
                op_s.append(round(time.monotonic() - t, 3))
        finally:
            run.stop_spark(spark)
    print(json.dumps({"workload": args.workload, "session_s": round(session_s, 3),
                      "setup_s": round(setup_s, 3), "op_s": op_s}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
