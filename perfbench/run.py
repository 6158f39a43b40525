#!/usr/bin/env python3
"""The repo's benchmark: one command runs one named workload.

    python3 perfbench/run.py --workload {live,tail} --seed N --seconds S --trace {0,1}

Run it from the root of a checkout.  It runs the workload in a child
process (``perfbench/workload.py``, one Spark application on
``local[4]``), brackets it with a host calibration probe, and prints as
its last line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``).  The line before it, prefixed ``detail``,
carries the workload-specific numbers, the recorded input properties,
the effective Spark config and the calibration readings.

Everything the run writes stays under ``perfbench/.work`` in the
checkout.  A workload that dies or prints no result is reported by name
with the tail of its output, and the command exits non-zero.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from collections import deque

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
#: the child must finish well inside the 180 s a run may take
CHILD_TIMEOUT_S = 170


def _burn(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


def calibrate() -> dict:
    """Host context, recorded and never gated on: single-core Python
    burn rate (M iterations/s) and single-core memory copy bandwidth (GB/s)
    over a 64 MB buffer."""
    import numpy as np

    t0 = time.perf_counter()
    _burn(3_000_000)
    cpu = 3.0 / (time.perf_counter() - t0)
    a = np.ones(64 << 20, dtype=np.uint8)
    b = np.empty_like(a)
    np.copyto(b, a)
    t0 = time.perf_counter()
    reps = 0
    while time.perf_counter() - t0 < 0.25:
        np.copyto(b, a)
        reps += 1
    bw = reps * a.nbytes / (time.perf_counter() - t0) / 1e9
    return {"cpu_miters_per_s": cpu, "copy_gb_per_s": bw}


def _stop(signum, frame):
    # turn SIGTERM into an exit that runs the cleanup below, so the child's
    # JVM and Python workers are stopped with this process
    raise SystemExit(128 + signum)


def main() -> int:
    signal.signal(signal.SIGTERM, _stop)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "holi_search_engine_spark")):
        print(
            f"workload {args.workload}: no holi_search_engine_spark package "
            f"in {ROOT}; run from the root of a checkout",
            file=sys.stderr,
        )
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d))
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        TMPDIR=os.path.join(WORK, "tmp"),
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_LOCAL_DIR=os.path.join(WORK, "spark-local"),
        PYTHONHASHSEED="0",
    )
    before = calibrate()
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", WORK,
    ]
    tail: deque[str] = deque(maxlen=40)
    lines: list[str] = []
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, start_new_session=True,
    )
    deadline = time.monotonic() + CHILD_TIMEOUT_S
    timed_out = False
    try:
        import selectors

        sel = selectors.DefaultSelector()
        sel.register(proc.stdout, selectors.EVENT_READ)
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                timed_out = True
                break
            if not sel.select(timeout=min(left, 1.0)):
                continue
            line = proc.stdout.readline()
            if not line:
                break
            tail.append(line.rstrip("\n"))
            if line.startswith("{") or line.startswith("detail "):
                lines.append(line.rstrip("\n"))
    finally:
        # stop the whole process group: the JVM and the Python workers too
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGTERM)
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        try:
            os.killpg(proc.pid, signal.SIGKILL)  # stragglers left in the group
        except ProcessLookupError:
            pass
        shutil.rmtree(WORK, ignore_errors=True)
    after = calibrate()

    result = None
    detail = {}
    for line in lines:
        if line.startswith("detail "):
            detail = json.loads(line[len("detail "):])
        else:
            result = json.loads(line)
    if timed_out or proc.returncode != 0 or result is None:
        why = "timed out" if timed_out else f"exit code {proc.returncode}"
        print(f"workload {args.workload} failed ({why}); last output:", file=sys.stderr)
        for line in tail:
            print("  " + line, file=sys.stderr)
        return 1
    detail["calibration"] = {"before": before, "after": after}
    print("detail " + json.dumps({"workload": args.workload, "seed": args.seed, **detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
