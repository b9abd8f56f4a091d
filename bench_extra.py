#!/usr/bin/env python3
"""Per-query isolation harness for optimization work (guide §1).

NOT the driver bench — bench.py is frozen for measurement. This tool:

  time  <q> [<q>...]   best-of-N wall seconds per query, same .count()
                       methodology as bench.run_queries, one session
  noop  <q> [<q>...]   same but with the noop sink (computes every column;
                       isolates computation from the count() shortcut)
  plan  <q> [<q>...]   write .explain(formatted) to plans/r06/<q>_<tag>.txt
  jobs  <q> [<q>...]   job/stage/task counts per query, counted as perfbench
                       counts them (perfbench/tracing.py JobCounter)

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
Flags: --repeats N (default 3), --tag before|after (plan file suffix).
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)


def _spark():
    from disco_crawl_spark.session import build_session
    return build_session("disco-bench-extra", master=f"local[{CPUS}]",
                         shuffle_partitions=CPUS)


def _gc(spark):
    spark.catalog.clearCache()
    import gc
    gc.collect()


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    opts = {a.split("=")[0].lstrip("-"): (a.split("=", 1)[1] if "=" in a else True)
            for a in sys.argv[1:] if a.startswith("--")}
    mode, names = args[0], args[1:]
    repeats = int(opts.get("repeats", 3))
    tag = opts.get("tag", "before")

    from disco_crawl_spark import queries as q
    from disco_crawl_spark.plans import explain_str
    reg = q.queries()
    if names == ["all"]:
        import bench
        names = bench.HEADLINE

    from tracing import JobCounter
    spark = _spark()
    jobs = JobCounter(spark.sparkContext)
    out = {}
    try:
        for name in names:
            fn = reg[name]
            if mode == "plan":
                os.makedirs(os.path.join(REPO, "plans", "r06"), exist_ok=True)
                txt = explain_str(fn(spark, SF_DIR))
                p = os.path.join(REPO, "plans", "r06", f"{name}_{tag}.txt")
                with open(p, "w") as f:
                    f.write(txt)
                print(f"{name}: wrote {p} ({txt.count('Exchange')} Exchange, "
                      f"{txt.count('BatchEvalPython')} BatchEvalPython, "
                      f"{txt.count('ArrowEvalPython')} ArrowEvalPython, "
                      f"{txt.count('MapInPandas') + txt.count('MapInArrow')} mapIn*)")
                _gc(spark)
                continue
            if mode == "jobs":
                lo = jobs.last_job_id(settle=True)
                t0 = time.time()
                fn(spark, SF_DIR).count()
                dt = time.time() - t0
                ids = range(lo + 1, jobs.last_job_id(settle=True) + 1)
                nst, ntask = jobs.stages_tasks(ids)
                print(f"{name}: {len(ids)} jobs, {nst} stages, {ntask} tasks, "
                      f"{dt:.3f}s (cold)")
                out[name] = len(ids)
                _gc(spark)
                continue
            # time / noop
            best = None
            samples = []
            for _ in range(repeats):
                t0 = time.time()
                df = fn(spark, SF_DIR)
                if mode == "noop":
                    df.write.format("noop").mode("overwrite").save()
                else:
                    df.count()
                dt = time.time() - t0
                samples.append(round(dt, 3))
                best = dt if best is None else min(best, dt)
            out[name] = round(best, 3)
            print(f"{name}: best={best:.3f}s samples={samples}")
            _gc(spark)
    finally:
        spark.stop()
    if mode in ("time", "noop", "jobs"):
        import json
        print(json.dumps(out))


if __name__ == "__main__":
    main()
