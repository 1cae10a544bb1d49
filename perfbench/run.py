#!/usr/bin/env python3
"""Benchmark entry point: one seeded run of one workload.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The inputs are generated here, from
``--seed``, before the worker starts, so the worker's time and memory
cover only the program. The run happens in a fresh worker process
(``worker.py``) whose temp dir, Spark local dirs, warehouse dir and cwd
all sit in a per-run scratch directory under ``perfbench/.work/``; that
directory is removed when the run ends, and every process the run
started is stopped; a worker still running 170 s into the run is
killed. Prints two lines on stdout: a detail object (per-key times and
oracle verdicts, master, parallelism, seed, scale, key order) and, last,
the result ``{"correct", "attempted", "failed", "metrics"}``.
Exits non-zero without a result if the run fails.
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

from workloads import PACKAGE, WARMUP_SF, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
#: stride between the dataset seeds of successive passes in one run
PASS_SEED_STRIDE = 7919
#: the worker is killed this long after the run started; a run must end
#: within 180 s, and stopping the worker's processes takes up to 8 s
DEADLINE_S = 170


def stop_group(proc: subprocess.Popen) -> None:
    """Stop every process left in the worker's process group (the Spark
    JVM and its Python workers) and wait until none is left: SIGTERM
    for 5 s, then SIGKILL for 3 s more, so a run that times out still
    ends within 180 s."""
    start = time.time()
    while time.time() - start < 8:
        proc.poll()  # reap the worker itself once it has exited
        sig = signal.SIGTERM if time.time() - start < 5 else signal.SIGKILL
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        time.sleep(0.1)
    print(f"processes of group {proc.pid} still present", file=sys.stderr)


def main(argv: list[str] | None = None, worker: list[str] | None = None) -> int:
    """Run once and print the result; ``worker`` replaces the command
    that starts ``worker.py`` (the sensitivity test wraps it)."""
    ap = argparse.ArgumentParser(description="spark-graft benchmark run")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    start = time.time()
    # a SIGTERM to the run still stops the worker's processes (see finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(REPO, PACKAGE, "__init__.py")):
        print(f"package {PACKAGE} not found under {REPO}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    results = os.path.join(HERE, ".results")
    out = os.path.join(work, "result.json")
    sys.path.insert(0, REPO)
    import gen

    try:
        for d in (os.path.join(work, "tmp"), os.path.join(work, "spark-local"), results):
            os.makedirs(d, exist_ok=True)
        data_root = os.path.join(work, "data")
        tiny = gen.generate(data_root, args.seed, WARMUP_SF)
        # one unseen dataset per pass: a traced run makes three passes
        data = [
            gen.generate(data_root, args.seed + PASS_SEED_STRIDE * i, WORKLOADS[args.workload].sf)
            for i in range(3 if args.trace else 1)
        ]
        generate_s = time.time() - start
        env = dict(os.environ)
        env.update(
            TMPDIR=os.path.join(work, "tmp"),
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_DRIVER_PYTHON=sys.executable,
        )
        cmd = (worker or [sys.executable, os.path.join(HERE, "worker.py")]) + [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--repo", REPO, "--work", work, "--results", results,
            "--tiny", tiny, "--data", *data, "--out", out, "--t0", repr(time.time()),
        ]
        proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdout=2, start_new_session=True  # worker prints to stderr
        )
        try:
            code = proc.wait(timeout=start + DEADLINE_S - time.time())
        except subprocess.TimeoutExpired:
            code = None
            print(f"worker still running {DEADLINE_S} s into the run", file=sys.stderr)
        finally:
            stop_group(proc)
            proc.wait()
        if code != 0:
            print(f"worker exited with {code}", file=sys.stderr)
            return 1
        with open(out) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    detail = result.pop("detail")
    detail["generate_s"] = generate_s
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
