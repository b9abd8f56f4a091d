#!/usr/bin/env python3
"""spark-submit entry point for the crawl engine (north_rule: 'run via
spark-submit --py-files on a multi-executor cluster').

Usage:
    python scripts/build_pyfiles.py                       # -> dist/disco_crawl_spark.zip
    spark-submit --py-files dist/disco_crawl_spark.zip \
        scripts/run_crawl.py --warehouse /path/wh \
        [--pages /path/pages_parquet] [--rounds N] [--resume]

Without --pages a deterministic synthetic corpus is generated (robots and
host attributes derived from it). With --pages, robots/attrs default to
permissive (every host crawlable, no robots) unless a corpus sidecar is
supplied — the live-cluster deployment would materialize a robots corpus
table the same way the sandbox one is built.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--pages", default=None)
    ap.add_argument("--rounds", type=int, default=10)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--seeds", nargs="*", default=None)
    args = ap.parse_args()

    # --py-files puts the zip on sys.path for executors AND driver
    from disco_crawl_spark import corpus as corpus_mod
    from disco_crawl_spark.engine import CrawlEngine
    from disco_crawl_spark.corpus import HostAttrs
    from disco_crawl_spark.sources import pages_frame

    spark = (SparkSession.builder.appName("disco-crawl")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())

    if args.pages:
        pages = spark.read.parquet(args.pages)
        hosts = [r["h"] for r in
                 pages.selectExpr("parse_url(url,'HOST') h").distinct()
                 .collect()]
        attrs = {h: HostAttrs(host=h) for h in hosts}
        robots = {}
        seeds = args.seeds or sorted(hosts)[:10]
    else:
        c = corpus_mod.generate()
        pages = pages_frame(spark, c)
        attrs, robots, seeds = c.hosts, c.robots, (args.seeds or c.seeds)

    build = CrawlEngine.resume if args.resume else CrawlEngine
    eng = build(spark, pages, robots, attrs, args.warehouse, seeds=seeds)
    eng.run(max_rounds=eng.round_no + args.rounds)
    order = eng.crawl_order()
    summary = {
        "rounds": eng.round_no,
        "fetched": len(order),
        # distinct hosts with crawl-log rows (finished hosts keep only a
        # compact {state, group} record on the driver)
        "hosts": len({h for _, h, _, _ in order}),
        "states": {},
    }
    for d in eng.dom.values():
        summary["states"][d["state"]] = summary["states"].get(d["state"], 0) + 1
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
