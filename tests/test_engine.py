"""End-to-end equivalence of the Spark crawl engine against the oracle
simulator — the north_rule checks: identical crawl ordering, identical
URL-seen set, byte-identical extracted text — plus checkpoint/resume."""

import importlib.util
import os

import pytest

from disco_crawl_spark import corpus as corpus_mod, refsem, refsim
from disco_crawl_spark.engine import CrawlEngine


# small corpus keeps the e2e suite fast while covering dual/robots/govcms/
# hot-host/cap paths; hot_multiplier=5 keeps the hot host's generation in
# flight across the resume kill point (regression: resumed views must be
# seeded from parquet history, not the first post-resume delta)
CORPUS_KW = dict(n_agencies=4, n_govcms=2, n_state=2, n_sections=2,
                 pages_per_section=3, hot_multiplier=5)


@pytest.fixture(scope="module")
def c():
    return corpus_mod.generate(**CORPUS_KW)


@pytest.fixture(scope="module")
def sim(c):
    return refsim.Simulator(c).run()


def _pages_df(spark, c):
    return spark.createDataFrame(
        [(r["url"], r["warc_ts"], bytearray(r["html"]), r["text"], r["lang"],
              r.get("redirect_to"))
         for r in c.page_rows()],
        "url string, warc_ts timestamp, html binary, text string, lang string, redirect_to string")


@pytest.fixture()
def engine(spark, c, tmp_warehouse):
    return CrawlEngine(spark, _pages_df(spark, c), c.robots, c.hosts,
                       tmp_warehouse, seeds=c.seeds)


def test_engine_matches_oracle(engine, sim, c):
    engine.run()
    # 1. identical (round, host, seq, url) crawl ordering
    assert engine.crawl_order() == sim.order
    # 2. identical cumulative URL-seen key set
    sim_seen = {(g, k) for g, ks in sim.url_seen.items() for k in ks}
    assert engine.url_seen_set() == sim_seen
    # 3. byte-identical extracted text per url
    texts = engine.texts()
    assert set(texts) == set(sim.texts)
    for u, t in sim.texts.items():
        assert texts[u].encode() == t.encode(), u
    # 4. identical domain lifecycle events
    assert set(engine.events) == set(sim.events)
    # 5. text also matches the corpus golden column byte-for-byte
    for u, t in texts.items():
        assert t.encode() == c.pages[u]["text"].encode(), u
    # 6. redirect semantics (worker.py:468-494): 302 rows carry redirect_to,
    # and the host nothing links to was discovered+crawled via redirect only
    log = engine._view("crawl_log")
    redir = {r["url"]: (r["status"], r["redirect_to"])
             for r in log.filter(log.redirect_to.isNotNull()).collect()}
    assert redir, "corpus redirect pages must appear in the crawl log"
    assert all(s == 302 for s, _ in redir.values())
    crawled_hosts = {h for _, h, _, _ in engine.crawl_order()}
    assert "via-redirect.gov.au" in crawled_hosts
    sim_redir = {r["url"] for r in sim.crawl_log if r.get("redirect_to")}
    assert set(redir) == sim_redir


def test_round_phases_traceable_without_engine_code(engine):
    # perfbench times a round's phases by wrapping the engine's methods on
    # the instance (perfbench/tracing.py); that only works while step()
    # calls its phases through self — a phase called any other way would
    # silently drop out of the traced per-layer metrics
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "perfbench", "tracing.py")
    spec = importlib.util.spec_from_file_location("perfbench_tracing", path)
    tracing = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tracing)
    tr = tracing.Tracer(tracing.JobCounter(engine.spark.sparkContext))
    for m in ("step", "_start_domains", "_build_generations"):
        tr.wrap(engine, m, m)
    for t in (engine.t_frontier, engine.t_seen, engine.t_log):
        tr.wrap(t, "append", f"append.{t.name}")
    tr.wrap(engine.t_log, "commit_state", "commit_state")
    engine.step()

    (step,) = tr.named("step")
    by_id = {s["id"]: s for s in tr.spans}

    def under_step(span):
        while span["parent"] is not None:
            span = by_id[span["parent"]]
            if span is step:
                return True
        return False

    phases = ("_start_domains", "_build_generations", "append.frontier",
              "append.url_seen", "append.crawl_log", "commit_state")
    for name in phases:
        spans = tr.named(name)
        assert spans, name
        assert all(under_step(s) for s in spans), name
    for name in ("_start_domains", "_build_generations"):
        assert tr.job_ids(tr.named(name)), name
    children = [s for s in tr.spans if s["parent"] == step["id"]]
    assert sum(tr.duration(s) for s in children) <= tr.duration(step)


def test_engine_resume_equals_uninterrupted(spark, c, sim, tmp_warehouse):
    # run 3 rounds, drop the engine, resume from the snapshot, finish;
    # final state must equal the oracle's
    eng = CrawlEngine(spark, _pages_df(spark, c), c.robots, c.hosts,
                      tmp_warehouse, seeds=c.seeds)
    for _ in range(3):
        eng.step()
    del eng
    eng2 = CrawlEngine.resume(spark, _pages_df(spark, c), c.robots, c.hosts,
                              tmp_warehouse)
    assert eng2.round_no == 3
    eng2.run()
    assert eng2.crawl_order() == sim.order
    sim_seen = {(g, k) for g, ks in sim.url_seen.items() for k in ks}
    assert eng2.url_seen_set() == sim_seen
    assert set(eng2.events) == set(sim.events)


def test_engine_cap_resume_matches_oracle(spark, c, tmp_warehouse):
    # low per-domain cap exercises cap-exit + crawl-log resume on both sides
    cfg = refsim.SimConfig(max_pages=15)
    sim = refsim.Simulator(c, cfg).run()
    eng = CrawlEngine(spark, _pages_df(spark, c), c.robots, c.hosts,
                      tmp_warehouse, config=cfg, seeds=c.seeds)
    eng.run()
    assert eng.crawl_order() == sim.order
    sim_seen = {(g, k) for g, ks in sim.url_seen.items() for k in ks}
    assert eng.url_seen_set() == sim_seen


def test_engine_resume_after_midround_kill(spark, c, sim, tmp_warehouse):
    # a kill AFTER a round's table appends but BEFORE its state checkpoint
    # must not lose or double-count the aborted round: resume rolls the
    # state tables back to the last op='state' snapshot and replays
    eng = CrawlEngine(spark, _pages_df(spark, c), c.robots, c.hosts,
                      tmp_warehouse, seeds=c.seeds)
    for _ in range(3):
        eng.step()

    def boom(*a, **k):
        raise RuntimeError("killed mid-round")

    eng.t_log.commit_state = boom  # the crash point: appends landed, no ckpt
    with pytest.raises(RuntimeError):
        eng.step()
    del eng
    eng2 = CrawlEngine.resume(spark, _pages_df(spark, c), c.robots, c.hosts,
                              tmp_warehouse)
    assert eng2.round_no == 3  # the aborted round 3 replays from scratch
    eng2.run()
    assert eng2.crawl_order() == sim.order
    sim_seen = {(g, k) for g, ks in sim.url_seen.items() for k in ks}
    assert eng2.url_seen_set() == sim_seen
    assert set(eng2.events) == set(sim.events)


def test_engine_compaction_preserves_resume_and_pruned_reads(
        spark, c, sim, tmp_warehouse):
    # the icelite maintenance pass (VERDICT r4 #4): natural-parallelism
    # delta commits trade small files for scaling; compaction must
    # (a) actually shrink the file count, (b) keep per-host pruned reads
    # identical, (c) leave mid-crawl resume bit-identical to the oracle
    # run, and (d) register nothing in the session catalog
    tables_before = {t.name for t in spark.catalog.listTables()}
    eng = CrawlEngine(spark, _pages_df(spark, c), c.robots, c.hosts,
                      tmp_warehouse, seeds=c.seeds, compact_every=2)
    for _ in range(4):      # compaction fires after rounds 2 and 4
        eng.step()
    snap = eng.t_frontier.current_snapshot()
    assert snap["op"] == "compact"
    n_files = len(snap["files"])
    assert n_files <= max(2, spark.sparkContext.defaultParallelism // 2)
    # per-host pruned read == full-scan filter on the compacted table
    host = eng.t_frontier.read(spark).select("host").first()["host"]
    full = {tuple(r) for r in eng.t_frontier.read(spark)
            .filter(f"host = '{host}'").collect()}
    pruned_files = eng.t_frontier.prune_files(snap, {"host": host})
    assert 0 < len(pruned_files) < n_files or n_files == 1
    pruned = {tuple(r) for r in spark.read.parquet(*pruned_files)
              .filter(f"host = '{host}'").collect()}
    assert pruned == full
    seen_head = eng.t_seen.current_snapshot()
    del eng
    # resume lands ON the compact snapshots (stamped with the finished
    # round) and the finished crawl still matches the oracle exactly
    eng2 = CrawlEngine.resume(spark, _pages_df(spark, c), c.robots, c.hosts,
                              tmp_warehouse)
    assert eng2.round_no == 4
    assert eng2.t_frontier.current_snapshot()["op"] == "compact"
    seen_after = eng2.t_seen.current_snapshot()
    assert (seen_after["id"], seen_after["op"]) == \
        (seen_head["id"], seen_head["op"])
    assert seen_after["rows"] == eng2.t_seen.read(spark).count()
    assert seen_after["files"]
    eng2.run()
    assert eng2.crawl_order() == sim.order
    sim_seen = {(g, k) for g, ks in sim.url_seen.items() for k in ks}
    assert eng2.url_seen_set() == sim_seen
    assert set(eng2.events) == set(sim.events)
    assert {t.name for t in spark.catalog.listTables()} <= tables_before


def test_dual_domain_computed_from_probes_not_flag(spark, tmp_warehouse):
    # VERDICT r2 #8: dual-ness must be decided by the data (index probes
    # against the pages table, worker.py:283-353), not by a host attribute.
    # Strip the `dual` flag from every host AFTER page generation: the
    # pages table still serves both www.X/ and X/, so the engine and the
    # simulator must STILL dual-skip the bare variants — and agree.
    c2 = corpus_mod.generate(**CORPUS_KW)
    dual_bare = sorted(h for h, a in c2.hosts.items()
                       if a.dual and not h.startswith("www."))
    assert dual_bare, "corpus must contain dual pairs"
    for a in c2.hosts.values():
        a.dual = False  # the flag is dead; only the pages table knows
    sim2 = refsim.Simulator(c2).run()
    eng = CrawlEngine(spark, _pages_df(spark, c2), c2.robots, c2.hosts,
                      tmp_warehouse, seeds=c2.seeds)
    eng.run()
    assert eng.crawl_order() == sim2.order
    assert set(eng.events) == set(sim2.events)
    skipped = {h for _, h, m in eng.events if m == "dual-domain"}
    for h in dual_bare:
        # every started bare dual alias was probe-detected and skipped
        if any(ev[1] == h for ev in eng.events):
            assert h in skipped
    assert skipped & set(dual_bare), "probe-detected dual-skip must fire"
    crawled = {h for _, h, _, _ in eng.crawl_order()}
    assert not (crawled & set(dual_bare))


def test_engine_probes_match_refsem_root_probes(spark, tmp_warehouse):
    # the engine's groupBy and refsem.root_probes must key hosts the same
    # way (lowercased authority, userinfo stripped, port kept) and pick the
    # same redirect when a host has several root rows (max rule)
    rows = [
        ("https://Upper.Gov.AU/", None),
        ("https://Upper.Gov.AU/about", None),
        ("http://crawler@auth.gov.au/", "https://auth.gov.au/"),
        ("https://port.gov.au:8443/", None),
        ("http://both.gov.au/", "https://both.gov.au/"),
        ("https://both.gov.au/", "https://www.both.gov.au/"),
        ("https://www.both.gov.au/", None),
        ("https://deep.gov.au/a/b.html", "https://other.gov.au/"),
        ("https://query.gov.au/?q=1", "https://elsewhere.gov.au/"),
    ]
    pages = spark.createDataFrame(rows, "url string, redirect_to string")
    eng = CrawlEngine(spark, pages, {}, {}, tmp_warehouse)
    expected = refsem.root_probes(rows)
    assert eng._probes == expected
    assert expected["both.gov.au"]["redirect"] == "https://www.both.gov.au/"
    assert expected["deep.gov.au"] == {"root": False, "redirect": None}
    assert expected["query.gov.au"] == {"root": False, "redirect": None}
    assert {"upper.gov.au", "auth.gov.au", "port.gov.au:8443"} <= set(expected)


def test_pages_cache_partitions_sized_by_data_not_cores(
        spark, c, sim, tmp_warehouse):
    """The pages-cache partition count must be controllable independently
    of spark.sql.shuffle.partitions: at wide-64000h the bare
    repartition(url) inherited the core count, so local[16] unrolled 16
    concurrent ~2.5 GB cache blocks and OOMed the 32 GB driver JVM
    (BENCH/CRAWL_BISECT.md round 5, 2026-08-20) while the
    identical corpus at local[4] survived. pages_cache_partitions pins the
    layout to the DATA; the crawl result must be byte-identical to the
    oracle regardless of the count."""
    eng = CrawlEngine(spark, _pages_df(spark, c), c.robots, c.hosts,
                      tmp_warehouse, seeds=c.seeds,
                      pages_cache_partitions=7)
    assert eng.pages.rdd.getNumPartitions() == 7
    eng.run()
    assert eng.crawl_order() == sim.order
    sim_seen = {(g, k) for g, ks in sim.url_seen.items() for k in ks}
    assert eng.url_seen_set() == sim_seen
