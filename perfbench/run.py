#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_narrow --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Each run starts one fresh interpreter and
JVM (perfbench/workloads.py) in its own session, so no run inherits
another's heap, Python workers or Spark state. The child gets the
checkout on PYTHONPATH (the Spark Python workers need it too), a 4-core
local master, a fixed 2 GB driver heap, and a scratch directory inside the
checkout (``.perfbench_work/``) for Spark's local dirs, temp files,
tables and the cached oracle digests. When the child ends, every process
left in its session (the JVM, Python workers) is stopped and waited for.

The last line on stdout is the result object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
A detailed report and, for traced runs, the spans are written to
``.perfbench_work/out/``.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_narrow", "operator_queries")
CHILD_TIMEOUT_S = 165
DRIVER_MEM = "2g"
CORES = "4"


def _session_pids(sid: int) -> list:
    pids = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(p))
    return pids


def _stop_session(sid: int, grace_s: float = 15.0):
    """Wait for the child's session to empty; then TERM, then KILL."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        deadline = time.time() + (grace_s if sig is None else 5.0)
        while True:
            pids = _session_pids(sid)
            if not pids:
                return
            if time.time() >= deadline:
                break
            time.sleep(0.1)
        for p in pids:
            try:
                os.kill(p, sig or signal.SIGTERM)
            except ProcessLookupError:
                pass
    if _session_pids(sid):
        raise RuntimeError(f"processes of session {sid} would not stop")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "disco_crawl_spark",
                                       "__init__.py")):
        print("perfbench: no disco_crawl_spark package next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(base, "runs", f"{tag}-{os.getpid()}")
    out = os.path.join(base, "out")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out, exist_ok=True)
    result_path = os.path.join(work, "result.json")

    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": CORES,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # a fixed-size heap: the JVM's resident set then depends on the
        # work, not on when the collector chose to grow the heap. No
        # perf-data file: the JVM would write it to /tmp
        "SPARK_SUBMIT_OPTS": (env.get("SPARK_SUBMIT_OPTS", "") +
                              f" -Xms{DRIVER_MEM} -XX:-UsePerfData"
                              f" -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
                              ).strip(),
        "DISCO_SPARK_EXTRA": json.dumps({
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse")}),
    })
    for k in ("DISCO_PROFILE", "DISCO_COMMIT_FILES"):
        env.pop(k, None)
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "work_dir": work, "spawn_time": time.time(),
            "result_path": result_path,
            "oracle_cache": os.path.join(base, "oracle-digests.json"),
            "report_path": os.path.join(out, f"{tag}.json")}
    child = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "workloads.py"), json.dumps(args)],
        cwd=work, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr,
        start_new_session=True)
    try:
        rc = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        rc = None
    finally:
        _stop_session(child.pid)
        if child.poll() is None:
            child.kill()
        child.wait()

    result = None
    if rc == 0 and os.path.isfile(result_path):
        with open(result_path) as f:
            result = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        print(f"perfbench: run failed (exit {rc})", file=sys.stderr)
        return 1
    for name, m in result["metrics"].items():
        print(f"{a.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
