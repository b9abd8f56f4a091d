"""End-to-end equivalence of the Spark crawl engine against the oracle
simulator — the north_rule checks: identical crawl ordering, identical
URL-seen set, byte-identical extracted text — plus checkpoint/resume."""

import importlib.util
import itertools
import os
import shutil
import tempfile

import pytest

from disco_crawl_spark import corpus as corpus_mod, refsem, refsim
from disco_crawl_spark.engine import CrawlEngine
from disco_crawl_spark.sources import pages_frame
from disco_crawl_spark.tables import Catalog, Table


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


@pytest.fixture()
def engine(spark, c, tmp_warehouse):
    # pages_cache_partitions must pin the pages-cache width independently
    # of spark.sql.shuffle.partitions: at wide-64000h the bare
    # repartition(url) inherited the core count, so local[16] unrolled 16
    # concurrent ~2.5 GB cache blocks and OOMed the 32 GB driver JVM
    # (BENCH/CRAWL_BISECT.md round 5, 2026-08-20) while the identical
    # corpus at local[4] survived. An odd width (7, not the session's 8)
    # shows the crawl result does not depend on it; the resume and cap
    # tests keep the default width.
    return CrawlEngine(spark, pages_frame(spark, c), c.robots, c.hosts,
                       tmp_warehouse, seeds=c.seeds, pages_cache_partitions=7)


def test_engine_matches_oracle(engine, sim, c):
    assert engine.pages.rdd.getNumPartitions() == 7
    # record the round of every frontier append and generation build
    appends, builds = [], []
    for obj, name, calls in ((engine.t_frontier, "append", appends),
                             (engine, "_build_generations", builds)):
        def counted(*a, _inner=getattr(obj, name), _calls=calls, **kw):
            _calls.append(engine.round_no)
            return _inner(*a, **kw)
        setattr(obj, name, counted)
    engine.run()
    # 0. fresh hosts' roots and next generations share one frontier
    # append: exactly one per round in which any host started or built
    started = {r for r, _, m in engine.events if m == "started"}
    assert started and builds
    for rnd in range(engine.round_no):
        assert appends.count(rnd) == int(rnd in started or rnd in builds), rnd
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
    jsc = engine.spark.sparkContext._jsc
    cached_before = set(jsc.getPersistentRDDs().keySet())
    engine.step()
    # a clean round leaves no cache or checkpoint of its own pinned in the
    # session: what stays is what was there before it (the pages cache)
    assert set(jsc.getPersistentRDDs().keySet()) - cached_before == set()

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


def test_engine_cap_resume_matches_oracle(spark, c, tmp_warehouse):
    # low per-domain cap exercises cap-exit + crawl-log resume on both sides
    cfg = refsim.SimConfig(max_pages=15)
    sim = refsim.Simulator(c, cfg).run()
    eng = CrawlEngine(spark, pages_frame(spark, c), c.robots, c.hosts,
                      tmp_warehouse, config=cfg, seeds=c.seeds)
    eng.run()
    assert eng.crawl_order() == sim.order
    sim_seen = {(g, k) for g, ks in sim.url_seen.items() for k in ks}
    assert eng.url_seen_set() == sim_seen


class Killed(Exception):
    pass


def _kill_at(monkeypatch, k, killed_ops):
    """Make the k-th icelite snapshot commit from now on raise. The write
    before it has landed (an append's or compaction's data dir is on
    disk), its manifest entry has not."""
    real, calls = Table._new_snapshot, itertools.count()

    def dying(self, op, *a, **kw):
        if next(calls) == k:
            killed_ops.append(op)
            raise Killed(f"killed at snapshot commit {k} ({op})")
        return real(self, op, *a, **kw)

    monkeypatch.setattr(Table, "_new_snapshot", dying)


def _unreached_dirs(warehouse) -> list:
    """Data dirs on disk that no snapshot in their table's manifest lists."""
    cat, out = Catalog(warehouse), []
    for name in os.listdir(warehouse):
        t = cat.table(name)
        listed = {d for s in t.history() for d in s["data"]}
        out += [f"{name}/data/{d}"
                for d in os.listdir(os.path.join(t.path, "data"))
                if f"data/{d}" not in listed]
    return out


@pytest.fixture(scope="module")
def killed_crawl(spark, c):
    """One compact_every=2 crawl of the module corpus, killed once before
    round 0's checkpoint and then at every snapshot commit of round 3 (a
    compacting round: append, compaction or the checkpoint itself), resumed
    after each kill, resumed once more from the clean round-4 checkpoint
    and finished. Records what the three resume tests below check, so they
    share one crawl instead of each re-crawling from scratch."""
    warehouse = tempfile.mkdtemp(prefix="disco_wh_")
    mp = pytest.MonkeyPatch()
    jsc = spark.sparkContext._jsc
    cached_before = set(jsc.getPersistentRDDs().keySet())
    rec = {"tables_before": {t.name for t in spark.catalog.listTables()},
           "killed_ops": [], "resumed": [], "cached_after_kill": []}
    args = (spark, pages_frame(spark, c), c.robots, c.hosts, warehouse)
    kw = dict(seeds=c.seeds, compact_every=2)

    def step_killed_at(eng, k) -> bool:
        """Run eng's round with its k-th commit killed; False if killed."""
        _kill_at(mp, k, rec["killed_ops"])
        try:
            eng.step()
            return True
        except Killed:
            return False
        finally:
            mp.undo()

    def resume(dead):
        dead.pages.unpersist()
        # whatever the dead engine left cached in the session
        rec["cached_after_kill"].append(
            set(jsc.getPersistentRDDs().keySet()) - cached_before)
        eng = CrawlEngine.resume(*args, **kw)
        rec["resumed"].append((eng.round_no, _unreached_dirs(warehouse)))
        return eng

    # a kill before round 0's checkpoint resumes to the seeded start
    eng = CrawlEngine(*args, **kw)
    rec["round0_completed"] = step_killed_at(eng, 0)
    eng = resume(eng)
    rec["round0_dom"] = set(eng.dom)
    for _ in range(3):
        eng.step()
    # round 3: kill its k-th commit for k = 0, 1, ... until one completes
    k = 0
    while not step_killed_at(eng, k):
        eng = resume(eng)
        k += 1
    rec["completed_round_no"] = eng.round_no
    # the clean checkpoint names the compacted heads; resume must keep them
    rec["heads"] = {t.name: t.snapshot() for t in (eng.t_frontier, eng.t_seen)}
    eng = resume(eng)
    rec["resumed_heads"] = {t.name: t.snapshot()
                            for t in (eng.t_frontier, eng.t_seen)}
    rec["seen_rows_read"] = eng.t_seen.read(spark).count()
    eng.run()
    rec["order"] = eng.crawl_order()
    rec["seen"] = eng.url_seen_set()
    rec["events"] = set(eng.events)
    rec["tables_after"] = {t.name for t in spark.catalog.listTables()}
    eng.pages.unpersist()
    yield rec
    shutil.rmtree(warehouse, ignore_errors=True)


def _assert_matches_oracle(rec, sim):
    assert rec["order"] == sim.order
    sim_seen = {(g, k) for g, ks in sim.url_seen.items() for k in ks}
    assert rec["seen"] == sim_seen
    assert rec["events"] == set(sim.events)


def test_engine_resume_equals_uninterrupted(killed_crawl, sim):
    # a resume from a clean checkpoint (after round 4) lands on the next
    # round, and the finished crawl's state equals the oracle's
    assert killed_crawl["completed_round_no"] == 4
    assert killed_crawl["resumed"][-1] == (4, [])
    _assert_matches_oracle(killed_crawl, sim)


def test_engine_resume_after_midround_kill(killed_crawl, sim, c):
    # a kill at ANY snapshot commit of a round, after some of its appends
    # landed and before its checkpoint, must not lose or double-count the
    # aborted round: resume rolls every table back to the heads the last
    # checkpoint names, leaves no data dir its manifest does not reach, and
    # the aborted round replays from scratch
    rec = killed_crawl
    assert not rec["round0_completed"]
    assert rec["resumed"][0] == (0, [])
    assert rec["round0_dom"] == set(c.seeds)
    round3 = rec["resumed"][1:-1]
    assert round3 and all(r == (3, []) for r in round3)
    assert {"append", "compact", "state"} <= set(rec["killed_ops"][1:])
    # a commit that raises inside the generation build leaves no cache
    # pinned in the session
    assert rec["cached_after_kill"]
    assert all(not ids for ids in rec["cached_after_kill"])
    _assert_matches_oracle(rec, sim)


def test_engine_compaction_preserves_resume_and_pruned_reads(
        spark, killed_crawl, sim):
    # the icelite maintenance pass: natural-parallelism delta commits trade
    # small files for scaling; compaction must (a) actually shrink the file
    # count, (b) survive resume, since the checkpoint names the compact
    # heads, and (c) register nothing in the session catalog
    rec = killed_crawl
    heads = rec["heads"]
    assert heads["frontier"]["op"] == "compact"
    assert len(heads["frontier"]["files"]) <= max(
        2, spark.sparkContext.defaultParallelism // 2)
    assert rec["resumed_heads"] == heads
    assert heads["url_seen"]["rows"] == rec["seen_rows_read"]
    assert heads["url_seen"]["files"]
    _assert_matches_oracle(rec, sim)
    assert rec["tables_after"] <= rec["tables_before"]


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
    eng = CrawlEngine(spark, pages_frame(spark, c2), c2.robots, c2.hosts,
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
        # urlparse drops an empty query/fragment and splits off ;params
        ("https://emptyq.gov.au/?", None),
        ("https://emptyf.gov.au/#", None),
        ("https://emptyqf.gov.au/?#", None),
        ("https://params.gov.au/;a", None),
        ("https://fragq.gov.au/#?", None),
    ]
    pages = spark.createDataFrame(rows, "url string, redirect_to string")
    eng = CrawlEngine(spark, pages, {}, {}, tmp_warehouse)
    expected = refsem.root_probes(rows)
    assert eng._probes == expected
    assert expected["both.gov.au"]["redirect"] == "https://www.both.gov.au/"
    assert expected["deep.gov.au"] == {"root": False, "redirect": None}
    assert expected["query.gov.au"] == {"root": False, "redirect": None}
    assert {"upper.gov.au", "auth.gov.au", "port.gov.au:8443"} <= set(expected)
    for h in ("emptyq.gov.au", "emptyf.gov.au", "emptyqf.gov.au",
              "params.gov.au"):
        assert expected[h]["root"], h
    assert not expected["fragq.gov.au"]["root"]


def test_engine_disallowed_root_matches_oracle(spark, tmp_warehouse):
    # a fresh host whose robots.txt disallows / gets a 0-row first
    # generation (its root is robots-filtered on the driver) and finishes
    # in its start round, as in refsim
    c3 = corpus_mod.generate(n_agencies=2, n_govcms=1, n_state=1,
                             n_sections=1, pages_per_section=2,
                             hot_multiplier=1)
    host = "agency01.gov.au"
    assert host in c3.seeds and c3.hosts[host].n_sections
    c3.robots[host] = "User-agent: *\nDisallow: /"
    sim3 = refsim.Simulator(c3).run()
    eng = CrawlEngine(spark, pages_frame(spark, c3), c3.robots, c3.hosts,
                      tmp_warehouse, seeds=c3.seeds)
    eng.run()
    assert eng.crawl_order() == sim3.order
    sim_seen = {(g, k) for g, ks in sim3.url_seen.items() for k in ks}
    assert eng.url_seen_set() == sim_seen
    assert set(eng.events) == set(sim3.events)
    assert {(0, host, "started"), (0, host, "finished")} <= set(eng.events)
    assert host not in {h for _, h, _, _ in eng.crawl_order()}
    eng.pages.unpersist()


def test_link_kernel_matches_refsem(spark, c):
    # the generation build's one Python crossing returns, per link, what
    # the four refsem/RobotsCache calls return, over every internal link
    # the test corpus's pages yield, with and without a scheme (a resumed
    # host's kick links are not domainized)
    from urllib.parse import urlsplit

    from disco_crawl_spark import robots as robots_mod, udfs
    rows = set()
    for url, page in c.pages.items():
        u = urlsplit(url)
        internal, _, _ = refsem.classify_links(
            refsem.extract_links(page["html"].decode("utf-8"), url),
            u.netloc, u.scheme)
        rows.update((u.netloc, link, u.scheme) for link in internal)
    host = next(h for h, t in sorted(c.robots.items())
                if t and "Disallow: /private/" in t)
    rows.update((host, link, "https") for link in
                ("/private/x.html", "rel/page.html", "/about#frag", ""))
    rows |= {(h, link, None) for h, link, _ in rows}
    df = spark.createDataFrame(sorted(rows, key=str),
                               "host string, link string, scheme string")
    kernel = udfs.make_link_kernel(spark, c.robots)
    got = {(r["host"], r["link"], r["scheme"]): tuple(r["k"]) for r in
           df.withColumn("k", kernel("host", "link", "scheme")).collect()}
    cache = robots_mod.RobotsCache(c.robots)
    want = {}
    for h, link, scheme in rows:
        raw = refsem.domainize_link(h, link, scheme) if scheme else link
        want[(h, link, scheme)] = (refsem.url_seen_key(link), raw,
                                   cache.allow(h, raw),
                                   refsem.normalize_href(raw))
    assert got == want
    assert {False, True} == {v[2] for v in want.values()}
    assert any(k[1] == "rel/page.html" and v[1].startswith("https://")
               for k, v in want.items())
    assert any("#" in k[1] and "#" not in v[3] for k, v in want.items())


def test_warm_round_job_count(engine):
    # a warm round (one whose hosts build their next generation against
    # the session's seen keys) runs the fetch, parse and crawl_log
    # commit, one checkpoint of the candidates, the url_seen and frontier
    # commits (the next generation's sizes are observed on the frontier
    # write) and one collect of the fetch stats. AQE runs each shuffle
    # stage and each broadcast as its own job, so the pin counts those
    sc = engine.spark.sparkContext

    def job_ids():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(None))

    engine.step()
    before = job_ids()
    engine.step()
    jobs = len(job_ids() - before)
    assert jobs <= 14, jobs     # with a second last-chunk pass, the
    # persisted next generation and a counts collect: 25
