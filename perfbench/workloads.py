"""One benchmark run, in a fresh interpreter and JVM started by run.py.

    python3 perfbench/workloads.py '<json arguments from run.py>'

Writes the result object (``correct``, ``attempted``, ``failed``,
``metrics``) plus a detailed report to the paths it is given; run.py
prints the result line.

A run builds its inputs from the seed, sets up the program (session,
inputs and, for the crawl, the engine), then repeats the workload's fixed unit
of work until ``--seconds`` of timed wall have passed (at least once),
checking every unit's output untimed. End-to-end metrics come from the
untraced run; ``--trace 1`` adds spans around each layer's calls and
reports the per-layer metrics instead.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import statistics
import sys
import time
from urllib.parse import urlsplit

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import inputs  # noqa: E402
from tracing import JobCounter, Tracer  # noqa: E402

CORES = 4
SETUP_REPEATS = 3            # input generation is repeated; median reported
FLOOR_SAMPLES = 20           # range(10).count() calls for the job floor
KERNEL_SAMPLE_PAGES = 200    # pages the parse kernels are timed over

NARROW_ROUNDS = 1
NARROW_STEWARD_BATCH = 100

# Fixed sentinel set: the same keys every run, so a query that gets faster
# stays in the report. frontier_priority is the job-count-bound iterative
# graph composition (personalized PageRank plus BFS depth); the dedup and
# SURT leaves are the ones the roadmap carries. The first query also pays
# the JVM's cold start (a warm-up plan run before it cost more wall than it
# took out of the timed queries); minhash, which starts the Python workers
# anyway, goes first, so frontier_priority's 77 jobs run warm.
SENTINELS = ("dedup_keep_minhash", "frontier_priority", "cdx_surt_index")
QUERY_TABLES = ("documents", "events", "embeddings")
# oracle digests of seeds 0-49, computed once by perfbench/oracles.py
ORACLE_DIGESTS = os.path.join(HERE, "oracle_digests.json")

END_TO_END = {
    "setup_s": "s", "timed_s": "s", "throughput_per_s": "1/s",
    "spark_jobs": "count", "peak_rss_mb": "MB",
    "ok_ops_ratio": "ratio",
}
PER_LAYER = {
    "session.start_s": "s", "session.job_floor_ms": "ms",
    "corpus.generate_s": "s",
    "engine.init_s": "s", "engine.step_s.p50": "s", "engine.step_s.max": "s",
    "engine.step_self_s.p50": "s", "engine.jobs_per_round": "count",
    "engine.stages_per_round": "count", "engine.tasks_per_round": "count",
    "engine.dispatch_share": "ratio", "engine.urls_per_round": "count",
    "engine.fetch_hit_ratio": "ratio",
    "tables.append_s": "s", "tables.append_calls": "count",
    "tables.append_jobs": "count", "tables.commit_state_s": "s",
    "tables.compact_s": "s", "tables.files_written": "count",
    "tables.bytes_written": "B",
    "refsem.extract_links_us": "us", "refsem.meta_us": "us",
    "refsem.extract_text_us": "us", "refsem.content_hash_us": "us",
    "refsem.classify_links_us": "us", "refsem.url_seen_key_us": "us",
    "robots.allow_us": "us", "udfs.parse_us": "us", "udfs.parse_share": "ratio",
    **{f"queries.{q}.{k}": u for q in SENTINELS
       for k, u in (("s", "s"), ("jobs", "count"), ("stages", "count"),
                    ("tasks", "count"))},
    "trace.throughput_per_s": "1/s", "trace.overhead_s": "s",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this Python driver plus its JVM."""
    def hwm_kb(pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    me, total = os.getpid(), hwm_kb("self")
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except (OSError, ValueError, IndexError):
            continue
        if ppid == me and comm == "java":
            total += hwm_kb(pid)
    return total / 1024.0


class Run:
    """Shared state of one run: session, counters, tracer, timings."""

    def __init__(self, args: dict):
        self.args = args
        self.seed = int(args["seed"])
        self.seconds = float(args["seconds"])
        self.traced = bool(args["trace"])
        self.work = args["work_dir"]
        self.attempted = 0
        self.failed = 0
        self.errors: list = []
        self.e2e: dict = {}
        self.layer: dict = {k: 0.0 for k in PER_LAYER}

        from disco_crawl_spark.session import build_session
        t = time.perf_counter()
        self.spark = build_session("perfbench", master=f"local[{CORES}]",
                                   shuffle_partitions=CORES)
        self.layer["session.start_s"] = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jobs = JobCounter(self.spark.sparkContext)
        self.tracer = Tracer(self.jobs, enabled=self.traced)

    def setup_done(self, repeats: list):
        """Process start to the first timed operation, counting the
        repeated input generation once, at its median."""
        self.e2e["setup_s"] = (time.time() - float(self.args["spawn_time"])
                               - sum(repeats) + _median(repeats))

    def fail(self, why: str):
        self.failed += 1
        self.errors.append(why)

    def job_floor(self):
        df = self.spark.range(10)
        walls = []
        for _ in range(FLOOR_SAMPLES):
            t = time.perf_counter()
            df.count()
            walls.append(time.perf_counter() - t)
        self.layer["session.job_floor_ms"] = _median(walls) * 1000.0

    def result(self) -> dict:
        self.e2e["ok_ops_ratio"] = 1.0 - self.failed / max(1, self.attempted)
        names = PER_LAYER if self.traced else END_TO_END
        vals = self.layer if self.traced else self.e2e
        return {
            "correct": self.failed == 0,
            "attempted": int(self.attempted),
            "failed": int(self.failed),
            "metrics": {k: {"value": float(vals.get(k, 0.0)), "unit": u}
                        for k, u in names.items()},
        }


# ---------------------------------------------------------------------------
# crawl_narrow
# ---------------------------------------------------------------------------


def crawl_narrow(run: Run):
    from disco_crawl_spark.engine import CrawlEngine
    from disco_crawl_spark.refsim import SimConfig, Simulator

    spark, tr = run.spark, run.tracer
    gen = []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        c = inputs.narrow_corpus(run.seed)
        gen.append(time.perf_counter() - t)
    run.layer["corpus.generate_s"] = _median(gen)
    cfg = SimConfig(steward_batch=NARROW_STEWARD_BATCH, max_rounds=NARROW_ROUNDS)

    def engine(unit: int):
        t = time.perf_counter()
        pages = spark.createDataFrame(
            [(r["url"], r["warc_ts"], bytearray(r["html"]), r["text"],
              r["lang"], r.get("redirect_to")) for r in c.page_rows()],
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string, redirect_to string")
        eng = CrawlEngine(spark, pages, c.robots, c.hosts,
                          os.path.join(run.work, f"warehouse-{unit}"),
                          config=cfg, seeds=c.seeds)
        return eng, time.perf_counter() - t

    eng, run.layer["engine.init_s"] = engine(0)
    run.setup_done(gen)

    sim = None
    units = []
    while True:
        if tr.enabled:
            _trace_engine(run, eng)
        lo = run.jobs.last_job_id(settle=True)
        t = time.perf_counter()
        eng.run(max_rounds=NARROW_ROUNDS)
        wall = time.perf_counter() - t
        hi = run.jobs.last_job_id(settle=True)
        overhead = tr.overhead_s
        urls = sum(m["scheduled"] for m in eng.metrics)
        units.append({"wall": wall, "urls": urls, "jobs": hi - lo})
        if len(units) == 1:
            run.e2e["peak_rss_mb"] = _peak_rss_mb()

        # output check, untimed: crawl order and url_seen equal refsim's
        sim = sim or Simulator(c, cfg).run()
        order = eng.crawl_order()
        run.attempted += eng.round_no
        for rnd in range(eng.round_no):
            if ([o for o in order if o[0] == rnd]
                    != [o for o in sim.order if o[0] == rnd]):
                run.fail(f"round {rnd}: crawl order differs from refsim")
        if eng.round_no != NARROW_ROUNDS:
            run.fail(f"crawl stopped after {eng.round_no} rounds")
        want_seen = {(g, k) for g, ks in sim.url_seen.items() for k in ks}
        if eng.url_seen_set() != want_seen:
            run.fail("url_seen set differs from refsim")

        if tr.enabled or sum(u["wall"] for u in units) >= run.seconds:
            break
        eng.pages.unpersist()
        eng, _ = engine(len(units))

    run.e2e.update({
        "timed_s": _median([u["wall"] for u in units]),
        "throughput_per_s": _median([u["urls"] / u["wall"] for u in units]),
        "spark_jobs": _median([u["jobs"] for u in units]),
    })
    if tr.enabled:
        _engine_layers(run, eng, c, units[0], overhead)


def _trace_engine(run: Run, eng):
    """Spans around the engine's step and its table calls (instance-level
    wrappers; the package itself is unchanged)."""
    tr, jobs = run.tracer, run.jobs
    inner_step = eng.step

    def step():
        jobs.set_group(f"round-{eng.round_no}")
        with tr.span("engine.step", round=eng.round_no):
            inner_step()

    eng.step = step
    for t in (eng.t_frontier, eng.t_seen, eng.t_log):
        tr.wrap(t, "append", "tables.append")
    tr.wrap(eng.t_log, "commit_state", "tables.commit_state")


def _engine_layers(run: Run, eng, c, unit, overhead):
    from disco_crawl_spark import refsem, robots as robots_mod

    tr, L, jobs = run.tracer, run.layer, run.jobs
    steps = tr.named("engine.step")
    walls = [tr.duration(s) for s in steps]
    step_jobs = [len(tr.job_ids([s])) for s in steps]
    st = [jobs.stages_tasks(tr.job_ids([s])) for s in steps]
    appends = tr.named("tables.append")
    metrics = eng.metrics
    scheduled = sum(m["scheduled"] for m in metrics)
    fetched = sum(m["fetched_200"] for m in metrics)
    L.update({
        "engine.step_s.p50": _median(walls),
        "engine.step_s.max": max(walls),
        "engine.step_self_s.p50": _median([tr.self_time(s) for s in steps]),
        "engine.jobs_per_round": _median(step_jobs),
        "engine.stages_per_round": _median([s for s, _ in st]),
        "engine.tasks_per_round": _median([t for _, t in st]),
        "engine.urls_per_round": scheduled / len(steps),
        "engine.fetch_hit_ratio": fetched / scheduled,
        "tables.append_s": sum(tr.duration(s) for s in appends),
        "tables.append_calls": len(appends),
        "tables.append_jobs": len(tr.job_ids(appends)),
        "tables.commit_state_s": sum(
            tr.duration(s) for s in tr.named("tables.commit_state")),
        "trace.throughput_per_s": unit["urls"] / unit["wall"],
        "trace.overhead_s": overhead,
    })
    files = size = 0
    for root, _dirs, names in os.walk(os.path.dirname(eng.t_log.path)):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    L["tables.files_written"], L["tables.bytes_written"] = files, size
    with tr.span("tables.compact"):
        eng.compact_seen()
        eng.compact_tables()
    L["tables.compact_s"] = sum(tr.duration(s)
                                for s in tr.named("tables.compact"))

    run.job_floor()
    L["engine.dispatch_share"] = (sum(step_jobs) * L["session.job_floor_ms"]
                                  / 1000.0 / sum(walls))

    # parse kernels, single-threaded in this process, over the first
    # pages of the crawl's own corpus in URL order
    sample = []
    for url in sorted(c.pages):
        row = c.pages[url]
        if not row.get("redirect_to"):
            sample.append((urlsplit(url).netloc, url, bytes(row["html"])))
        if len(sample) == KERNEL_SAMPLE_PAGES:
            break
    docs = [(h, u, b, b.decode("utf-8", errors="replace")) for h, u, b in sample]
    scheme = {h: u.split(":", 1)[0] for h, u, _b in sample}

    def per_item(fn, items):
        t = time.perf_counter()
        for it in items:
            fn(it)
        return (time.perf_counter() - t) * 1e6 / max(1, len(items))

    links = {}
    L["refsem.extract_links_us"] = per_item(
        lambda d: links.__setitem__(d[1], refsem.extract_links(d[3], d[1])),
        docs)
    L["refsem.classify_links_us"] = per_item(
        lambda d: refsem.classify_links(links[d[1]], d[0], scheme[d[0]]), docs)
    L["refsem.meta_us"] = per_item(
        lambda d: (refsem.page_title(d[3]), refsem.keywords(d[3])), docs)
    L["refsem.extract_text_us"] = per_item(
        lambda d: refsem.extract_text(d[2]), docs)
    L["refsem.content_hash_us"] = per_item(
        lambda d: refsem.content_hash(d[2]), docs)
    all_links = [(d[0], l) for d in docs for l in links[d[1]]]
    L["refsem.url_seen_key_us"] = per_item(
        lambda hl: refsem.url_seen_key(hl[1]), all_links)
    rc = robots_mod.RobotsCache(c.robots)
    L["robots.allow_us"] = per_item(lambda hl: rc.allow(*hl), all_links)
    L["udfs.parse_us"] = sum(L[k] for k in (
        "refsem.extract_links_us", "refsem.classify_links_us",
        "refsem.meta_us", "refsem.extract_text_us", "refsem.content_hash_us"))
    L["udfs.parse_share"] = (fetched * L["udfs.parse_us"] / 1e6
                             / (CORES * unit["wall"]))


# ---------------------------------------------------------------------------
# operator_queries
# ---------------------------------------------------------------------------


def _canon(v):
    """Value canonicalization of the repository's oracle tests."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    return str(v)


def _digest(cols, rows) -> str:
    """Order-insensitive digest: columns sorted by name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("|".join(sorted(cols)).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()


def _load_json(path: str) -> dict:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _oracle_digests(data_dir: str, cache_path: str,
                    shipped: "str | None" = ORACLE_DIGESTS) -> dict:
    """DuckDB oracle digest per sentinel, keyed by the table bytes and the
    oracle text. The near-dup oracles take seconds each, so digests are
    looked up first in ORACLE_DIGESTS (shipped with the benchmark) and in
    the run cache; only missing ones are computed, and those are added to
    the run cache."""
    from disco_crawl_spark import queries as Q

    data_key = hashlib.sha256()
    for t in QUERY_TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            data_key.update(f.read())
    known = {**(_load_json(shipped) if shipped else {}),
             **_load_json(cache_path)}
    out, new, con = {}, {}, None
    for name in SENTINELS:
        sql = Q.oracle_sql()[name]
        key = hashlib.sha256(data_key.digest() + sql.encode()).hexdigest()
        if key not in known:
            if con is None:
                import duckdb
                con = duckdb.connect()
                con.execute(f"SET threads={CORES}")
                for t in QUERY_TABLES:
                    path = os.path.join(data_dir, f"{t}.parquet")
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{path}')")
            res = con.execute(sql)
            known[key] = new[key] = _digest([d[0] for d in res.description],
                                            res.fetchall())
        out[name] = known[key]
    if con is not None:
        con.close()
        tmp = cache_path + f".{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump({**_load_json(cache_path), **new}, f)
        os.replace(tmp, cache_path)
    return out


def operator_queries(run: Run):
    from disco_crawl_spark import queries as Q

    spark, tr, jobs = run.spark, run.tracer, run.jobs
    gen = []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        inputs.query_tables(run.seed)
        gen.append(time.perf_counter() - t)
    data_dir = inputs.write_query_tables(
        run.seed, os.path.join(run.work, "query-tables"))
    fns = {n: Q.queries()[n] for n in SENTINELS}

    if tr.enabled:
        run.job_floor()
    run.setup_done(gen)

    passes = []
    while True:
        per, got, n_jobs = {}, {}, 0
        for name in SENTINELS:
            jobs.set_group(f"query-{name}")
            lo = jobs.last_job_id(settle=True)
            with tr.span(f"queries.{name}") as sp:
                t = time.perf_counter()
                try:
                    df = fns[name](spark, data_dir)
                    cols, rows = df.columns, df.collect()
                except Exception as e:  # a failing query is counted
                    cols, rows = None, f"{type(e).__name__}: {e}"
                per[name] = time.perf_counter() - t
            hi = sp["job_hi"] if sp else jobs.last_job_id(settle=True)
            n_jobs += hi - lo
            run.attempted += 1
            got[name] = (_digest(cols, [tuple(r) for r in rows])
                         if cols is not None else f"error: {rows}")
        passes.append({"per": per, "jobs": n_jobs, "got": got})
        if len(passes) == 1:
            run.e2e["peak_rss_mb"] = _peak_rss_mb()
        if tr.enabled or sum(sum(p["per"].values()) for p in passes) \
                >= run.seconds:
            break

    want = _oracle_digests(data_dir, run.args["oracle_cache"])
    for p in passes:
        for name in SENTINELS:
            if p["got"][name] != want[name]:
                run.fail(f"{name}: result differs from the DuckDB oracle "
                         f"({p['got'][name][:80]})")

    totals = [sum(p["per"].values()) for p in passes]
    run.e2e.update({
        "timed_s": _median(totals),
        "throughput_per_s": _median([len(SENTINELS) / t for t in totals]),
        "spark_jobs": _median([p["jobs"] for p in passes]),
    })
    if tr.enabled:
        overhead = tr.overhead_s
        for name in SENTINELS:
            sp = tr.named(f"queries.{name}")[0]
            ids = tr.job_ids([sp])
            stages, tasks = jobs.stages_tasks(ids)
            run.layer.update({f"queries.{name}.s": tr.duration(sp),
                              f"queries.{name}.jobs": len(ids),
                              f"queries.{name}.stages": stages,
                              f"queries.{name}.tasks": tasks})
        run.layer["trace.throughput_per_s"] = len(SENTINELS) / totals[0]
        run.layer["trace.overhead_s"] = overhead


WORKLOADS = {"crawl_narrow": crawl_narrow, "operator_queries": operator_queries}


def main(argv):
    args = json.loads(argv[1])
    run = Run(args)
    try:
        WORKLOADS[args["workload"]](run)
        result = run.result()
    finally:
        run.spark.stop()
    report = {"args": args, "result": result, "errors": run.errors,
              "end_to_end": run.e2e, "per_layer": run.layer}
    with open(args["report_path"], "w") as f:
        json.dump(report, f, indent=1)
    if run.traced:
        run.tracer.dump(args["report_path"][:-len(".json")] + ".spans.json")
    with open(args["result_path"], "w") as f:
        json.dump(result, f)
    for e in run.errors:
        print("check failed:", e, file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
