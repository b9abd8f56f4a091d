#!/usr/bin/env python3
"""Precompute the DuckDB oracle digests operator_queries checks against.

    python3 perfbench/oracles.py 0 49

Builds the seeded query tables for every seed in the inclusive range and
writes the digest of each sentinel oracle to perfbench/oracle_digests.json.
Digests are keyed by the table bytes and the oracle text, so after a change
to inputs.py or to an oracle's SQL the old entries are simply never hit;
rerun this script to ship fresh ones.
"""

from __future__ import annotations

import os
import shutil
import sys

import inputs
import workloads


def main(lo: int, hi: int) -> int:
    base = os.path.join(workloads.ROOT, ".perfbench_work", "oracles")
    shutil.rmtree(base, ignore_errors=True)
    out = os.path.join(base, "digests.json")
    for seed in range(lo, hi + 1):
        data = inputs.write_query_tables(seed, os.path.join(base, f"s{seed}"))
        workloads._oracle_digests(data, out, shipped=None)
        print("seed", seed, "done", flush=True)
    os.replace(out, workloads.ORACLE_DIGESTS)
    shutil.rmtree(base, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(int(sys.argv[1]), int(sys.argv[2])))
