"""Connectors (WARC), streaming postprocess chain, and physical-plan
quality assertions."""

import io
import os

import pytest
from pyspark.sql import functions as F

from disco_crawl_spark import corpus as corpus_mod, plans, refsem, sources, streaming


# ---------------------------------------------------------------------------
# WARC round-trip
# ---------------------------------------------------------------------------


def test_warc_parse_roundtrip_pure():
    body = b"<html><body><a href='/x'>x</a></body></html>"
    buf = io.BytesIO()
    sources.write_warc(
        [("https://a.gov.au/", "2024-01-01T00:00:00Z", body),
         ("https://b.gov.au/p", "2024-01-02T00:00:00Z", b"<p>two</p>")],
        buf)
    recs = sources.parse_warc_records(buf.getvalue())
    assert [r["url"] for r in recs] == ["https://a.gov.au/",
                                        "https://b.gov.au/p"]
    assert recs[0]["body"] == body
    assert recs[0]["status"] == 200
    assert recs[0]["content_type"].startswith("text/html")


def test_warc_parse_gzip():
    buf = io.BytesIO()
    sources.write_warc([("https://a.gov.au/", "2024-01-01T00:00:00Z",
                         b"<p>gz</p>")], buf, compress=True)
    recs = sources.parse_warc_records(buf.getvalue())
    assert len(recs) == 1 and recs[0]["body"] == b"<p>gz</p>"


def test_read_warc_spark(spark, tmp_path):
    p = tmp_path / "f.warc"
    with open(p, "wb") as f:
        sources.write_warc(
            [(f"https://h{i}.gov.au/", "2024-01-01T00:00:00Z",
              f"<html><body>page {i}</body></html>".encode())
             for i in range(5)], f)
    df = sources.read_warc(spark, str(p))
    rows = df.collect()
    assert len(rows) == 5
    assert all(r["html"] is not None for r in rows)
    assert str(rows[0]["warc_ts"]).startswith("2024-01-01")


# ---------------------------------------------------------------------------
# streaming postprocess
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    c = corpus_mod.generate(n_agencies=3, n_govcms=1, n_sections=2,
                            pages_per_section=2)
    d = tmp_path_factory.mktemp("pages")
    df = spark.createDataFrame(
        [(r["url"], r["warc_ts"], bytearray(r["html"]), r["text"], r["lang"],
              r.get("redirect_to"))
         for r in c.page_rows()],
        "url string, warc_ts timestamp, html binary, text string, lang string, redirect_to string")
    df.coalesce(2).write.mode("overwrite").parquet(str(d / "pages"))
    return c, str(d / "pages"), str(d)


def test_stream_postprocess_matches_batch_and_golden(spark, pages_dir):
    c, path, base = pages_dir
    q = streaming.run_postprocess_stream(
        spark, path, base + "/out", base + "/ckpt", available_now=True)
    q.awaitTermination(120)
    out = spark.read.parquet(base + "/out")
    rows = {r["url"]: r for r in out.collect()}
    assert len(rows) == len(c.pages)
    # byte-identical text vs the golden chain
    for url, r in rows.items():
        assert r["text_extracted"].encode() == c.pages[url]["text"].encode()
        assert r["readability"]["ARI"] == refsem.readability_scores(
            c.pages[url]["text"])["ARI"]
    # restart with same checkpoint: no duplicates (exactly-once fixes the
    # reference's documented duplicate bug)
    q2 = streaming.run_postprocess_stream(
        spark, path, base + "/out", base + "/ckpt", available_now=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(base + "/out").count() == len(c.pages)


def test_batch_postprocess_memoizes(spark, pages_dir):
    c, path, base = pages_dir
    df = spark.read.parquet(path)
    # half the rows pretend to be already-processed (text present), half not
    df = df.withColumn(
        "text", F.when(F.crc32(F.col("url")) % 2 == 0, F.col("text")))
    out = streaming.run_postprocess_batch(df)
    rows = {r["url"]: r for r in out.collect()}
    assert len(rows) == len(c.pages)
    for url, r in rows.items():
        assert r["text_extracted"].encode() == c.pages[url]["text"].encode()


# ---------------------------------------------------------------------------
# plan quality (the .explain-and-iterate loop, pinned)
# ---------------------------------------------------------------------------


def test_filter_pushdown_to_parquet_scan(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    q = df.filter(F.col("event_type") == "click").select("event_id")
    assert plans.has_pushed_filter(q, "event_type")
    # column pruning: scan must not read all 6 columns
    rs = plans.scan_schema(q)
    assert "value" not in rs and "props" not in rs


def test_broadcast_join_for_small_dim(spark):
    from disco_crawl_spark import queries as q
    df = q.queries()["seen_anti_join"](spark, "/root/testdata/sf0.001")
    assert plans.uses_broadcast_join(df)


def test_tpch_q1_plan_quality(spark):
    from disco_crawl_spark import queries as q
    df = q.queries()["tpch_q1"](spark, "/root/testdata/sf0.001")
    assert plans.has_pushed_filter(df, "l_shipdate")
    # exactly one shuffle, with map-side partial aggregation before it
    assert plans.shuffle_count(df) == 1
    assert "partial_sum" in plans.explain_str(df, "simple")
    # column pruning: untouched columns never leave the scan
    assert "l_orderkey" not in plans.scan_schema(df)


# ---------------------------------------------------------------------------
# bucketed state tables (the 10^10-frontier layout)
# ---------------------------------------------------------------------------


def _no_broadcast(spark):
    import contextlib

    @contextlib.contextmanager
    def ctx():
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    return ctx()


def test_bucketed_pages_fetch_join_no_big_side_exchange(spark, tmp_path):
    # pages bucketed+sorted by url: the fetch join exchanges ONLY the
    # schedule side; the pages scan feeds the SortMergeJoin in place
    c = corpus_mod.generate(n_agencies=2, n_govcms=0, n_sections=1,
                            pages_per_section=2)
    pages = spark.createDataFrame(
        [(r["url"], r["warc_ts"], bytearray(r["html"]), r["text"], r["lang"],
          r.get("redirect_to")) for r in c.page_rows()],
        sources.PAGES_SCHEMA)
    name = sources.write_pages(pages, str(tmp_path / "pages_b"), buckets=4,
                               name="t_pages_b4")
    t = spark.table(name)
    sched = spark.createDataFrame(
        [(u,) for u in sorted(c.pages)[:5]], "fetch_url string")
    with _no_broadcast(spark):
        j = sched.join(t.withColumnRenamed("url", "fetch_url"),
                       "fetch_url", "left")
        ex = plans.explain_str(j)
        assert "Bucketed: true" in ex
        assert plans.shuffle_count(j) == 1  # schedule side only
    # a fresh session would re-register: exercise the DDL path
    spark.sql("DROP TABLE t_pages_b4")
    name2 = sources.register_bucketed_pages(spark, str(tmp_path / "pages_b"),
                                            buckets=4, name="t_pages_b4")
    with _no_broadcast(spark):
        j2 = sched.join(spark.table(name2).withColumnRenamed(
            "url", "fetch_url"), "fetch_url", "left")
        assert "Bucketed: true" in plans.explain_str(j2)
        assert plans.shuffle_count(j2) == 1


def test_engine_bucketed_pages_and_compaction_match_oracle(
        spark, tmp_warehouse, tmp_path):
    from disco_crawl_spark import refsim
    from disco_crawl_spark.engine import CrawlEngine
    c = corpus_mod.generate(n_agencies=3, n_govcms=1, n_sections=2,
                            pages_per_section=2)
    sim = refsim.Simulator(c).run()
    pages = spark.createDataFrame(
        [(r["url"], r["warc_ts"], bytearray(r["html"]), r["text"], r["lang"],
          r.get("redirect_to")) for r in c.page_rows()],
        sources.PAGES_SCHEMA)
    name = sources.write_pages(pages, str(tmp_path / "pages_e2e"), buckets=4,
                               name="t_pages_e2e")
    eng = CrawlEngine(spark, spark.table(name), c.robots, c.hosts,
                      tmp_warehouse, seeds=c.seeds, pages_bucketed=True,
                      compact_every=2)
    eng.run()
    # url_seen went through Table.compact at least once
    assert any(s["op"] == "compact" for s in eng.t_seen.history())
    assert eng.crawl_order() == sim.order
    sim_seen = {(g, k) for g, ks in sim.url_seen.items() for k in ks}
    assert eng.url_seen_set() == sim_seen
    assert set(eng.events) == set(sim.events)


# ---------------------------------------------------------------------------
# post_domain_aliases audit (process_domain_aliases.py:31-99)
# ---------------------------------------------------------------------------


def test_domain_alias_report(spark):
    from disco_crawl_spark import reports
    c = corpus_mod.generate(n_agencies=4, n_govcms=1, n_sections=1,
                            pages_per_section=1)
    probe = reports.make_attr_probe(spark, c.hosts)
    rows = sorted(tuple(r) for r in reports.domain_alias_report(
        spark, list(c.hosts), probe).collect())
    # every reported row names a real failure of a partly-working group
    assert rows
    for scheme, domain, reason in rows:
        grp = refsem.host_group(domain)
        assert any(refsem.host_group(h) == grp for h in c.hosts)
        assert reason
    # dual hosts register both names: neither variant reports a DNS failure
    dual = [h for h, a in c.hosts.items() if a.dual and h.startswith("www.")]
    for h in dual:
        assert not any(d == h and "gaierror" in r for _, d, r in rows)
    # non-dual agencies: the unregistered www. variant must be reported
    # (reachable group: the bare name works)
    bare = [h for h, a in c.hosts.items()
            if not a.dual and a.index_ok and not h.startswith("www.")
            and h.endswith(".gov.au") and a.n_sections > 0 and a.https]
    assert bare
    reported = {d for _, d, _ in rows}
    for h in bare:
        assert f"www.{h}" in reported
    # fully-dead groups (all 4 variants fail) are ignored, like the reference
    assert not any(refsem.host_group(d) == "deadsite.gov.au"
                   for _, d, _ in rows)
    # determinism
    rows2 = sorted(tuple(r) for r in reports.domain_alias_report(
        spark, list(c.hosts), probe).collect())
    assert rows == rows2


def test_pyfiles_zip_is_complete_and_importable(tmp_path):
    # the spark-submit --py-files artifact must carry the whole package:
    # import it from the zip alone (cwd outside the repo) and drive kernels
    import subprocess
    import sys
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "scripts"))
    try:
        from build_pyfiles import build
    finally:
        sys.path.pop(0)
    zip_path = build(str(tmp_path / "disco_crawl_spark.zip"))
    code = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "from disco_crawl_spark import refsem, corpus, lifecycle\n"
        "from disco_crawl_spark.operators import dedup, similarity\n"
        "from disco_crawl_spark import engine, queries, reports, streaming\n"
        "assert refsem.normalize_href('/a/../b/') == '/b/'\n"
        "assert refsem.redirect_info('a.gov.au', 'https://b.gov.au/x') == "
        "(False, 'b.gov.au')\n"
        "print('zip-import-ok')\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, zip_path], cwd=str(tmp_path),
        capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr[-2000:]
    assert "zip-import-ok" in out.stdout


def test_corpus_mix_sample_plan_no_exchange(spark):
    # hash-Bernoulli sampling must be a pure filter on the scan: no RNG
    # state, no exchange, columns pruned to the projected three
    from disco_crawl_spark import queries as q
    df = q.queries()["corpus_mix_sample"](spark, "/root/testdata/sf0.001")
    assert plans.shuffle_count(df) == 0
    rs = plans.scan_schema(df)
    assert "text" not in rs and "n_chars" not in rs


def test_repetition_stats_row_local_no_shuffle(spark):
    # the round-4 rewrite computes the most-frequent n-gram with a
    # row-local run-length scan over the array_sort-ed gram array, so the
    # whole operator is scan -> project: ZERO exchanges, no window, no
    # gram explode ever hits the wire (the round-3 shape moved (doc,
    # ngram) count rows through two exchanges)
    from disco_crawl_spark import queries as q
    df = q.queries()["repetition_stats"](spark, "/root/testdata/sf0.001")
    s = plans.explain_str(df, "simple")
    assert plans.shuffle_count(df) == 0
    assert "Window" not in s and "Generate" not in s


def test_new_llm_op_plan_quality(spark):
    """Plan pins for the round-4 operators: the shuffle/broadcast shapes
    their docstrings claim are asserted, not just described."""
    from disco_crawl_spark.operators import graph, textstats, dedup
    import __spark_entry__ as e
    SF = "/root/testdata/sf0.001"

    # decontaminate: eval grams broadcast; exactly TWO exchanges total —
    # the eval side's distinct (bounded by the eval suite) and the doc
    # side's per-id rollup; and no exchange anywhere carries a string
    # (both shuffles move int64 gram keys / ids only)
    q = e.queries()["decontaminate"](spark, SF)
    assert plans.uses_broadcast_join(q)
    assert plans.shuffle_count(q) <= 2, plans.explain_str(q, "simple")

    # anchor_text_agg: two narrow exchanges, BOTH behind partial (map-side
    # combined) aggregation, and no window anywhere
    links = spark.range(100).select(
        (F.col("id") % 7).alias("target"),
        (F.col("id") % 3).cast("string").alias("anchor"))
    a = graph.anchor_text_agg(links)
    sa = plans.explain_str(a, "simple")
    assert plans.shuffle_count(a) == 2, sa
    assert sa.lower().count("partial") >= 2, sa
    assert "Window" not in sa

    # tfidf: N broadcast, no window over the scored table
    t = e.queries()["tfidf_top_terms"](spark, SF)
    s = plans.explain_str(t, "simple")
    assert "Window" not in s
    assert plans.uses_broadcast_join(t) or "BroadcastNestedLoopJoin" in s

    # inverted postings: no window; partial aggregation present
    p = e.queries()["inverted_postings"](spark, SF)
    sp = plans.explain_str(p, "simple")
    assert "Window" not in sp
    assert "partial" in sp.lower(), sp

    # substring_dedup: the frequency agg is map-side combinable (partial)
    d = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j")],
        "doc_id int, text string")
    sd = dedup.substring_dedup(d, "text", "doc_id", k=8)
    ss = plans.explain_str(sd, "simple")
    assert "partial" in ss.lower(), ss


def test_session6_op_plan_quality(spark):
    """Plan pins for the session-6 operators (snapshot diff, cross-corpus
    dedup, LM perplexity, BPE pair stats): the shuffle/broadcast shapes
    their docstrings claim."""
    from disco_crawl_spark.operators import textstats
    from disco_crawl_spark.operators.diff import snapshot_diff
    import __spark_entry__ as e
    SF = "/root/testdata/sf0.001"

    # snapshot_diff: the full-outer exchange carries (key, md5) ONLY —
    # the text payload must be hashed BEFORE the shuffle, never moved
    d = spark.read.parquet(f"{SF}/documents.parquet")
    sd = snapshot_diff(d, d, "doc_id", ["text"])
    fm = plans.explain_str(sd, "formatted")
    import re
    for m in re.finditer(r"Exchange hashpartitioning.*", fm):
        assert "text#" not in m.group(0), m.group(0)

    # lm_perplexity: LM table + T/V + tertile cuts all broadcast; the doc
    # side's only wide exchange is the per-id rollup; no Window anywhere
    lp = e.queries()["ccnet_perplexity"](spark, SF)
    s = plans.explain_str(lp, "simple")
    assert plans.uses_broadcast_join(lp) or "BroadcastNestedLoopJoin" in s
    assert "Window" not in s, s

    # bpe_pair_stats: both aggregations map-side combined (partial), and
    # the global top-k is a TakeOrdered, not a full sort of the corpus
    bp = e.queries()["bpe_pair_stats"](spark, SF)
    sb = plans.explain_str(bp, "simple")
    assert sb.lower().count("partial") >= 2, sb
    assert "TakeOrderedAndProject" in sb, sb

    # cross-corpus dedup: the winner election is ONE aggregation — no
    # Window in the final stage (the bounded-bucket windows upstream are
    # inside the checkpointed candidate stage, not the scored output)
    cc = e.queries()["dedup_cross_corpus"](spark, SF)
    sc_ = plans.explain_str(cc, "simple")
    assert "Window" not in sc_, sc_


def test_round4_late_op_plan_quality(spark):
    """Plan pins for the late-round-4 operators (DSIR, windowed metrics,
    SemDeDup): the shuffle/broadcast shapes their docstrings claim."""
    import __spark_entry__ as e
    SF = "/root/testdata/sf0.001"

    # dsir_select: the bucket-ratio table rides in as a BROADCAST; the
    # doc-side rollup is map-side combined (partial agg present)
    d = e.queries()["dsir_select"](spark, SF)
    s = plans.explain_str(d, "simple")
    assert plans.uses_broadcast_join(d), s
    assert "partial" in s.lower(), s

    # windowed_event_stats: ONE exchange (the window/key agg), map-side
    # combined, no Window operator (tumbling windows are a groupBy)
    w = e.queries()["windowed_event_stats"](spark, SF)
    sw = plans.explain_str(w, "simple")
    assert plans.shuffle_count(w) == 1, sw
    assert "partial" in sw.lower(), sw
    assert "Window" not in sw

    # semantic_dedup: the in-cluster self-join hash-partitions by
    # ivf_list — no broadcast of the full embedding table into a
    # nested-loop; no cartesian product anywhere
    sd = e.queries()["semantic_dedup"](spark, SF)
    ss = plans.explain_str(sd, "simple")
    assert "CartesianProduct" not in ss, ss

    # bm25_topk: the checkpointed query-term postings keep the final
    # plan at ONE corpus scan (column-pruned to text, for avgdl); df
    # and stats ride in as broadcasts; the global top-k is a
    # TakeOrdered, never a full sort exchange
    bm = e.queries()["bm25_topk"](spark, SF)
    sb = plans.explain_str(bm, "simple")
    assert "TakeOrderedAndProject" in sb, sb
    assert plans.uses_broadcast_join(bm), sb
    assert sb.count("Scan parquet") == 1, sb
    assert "Scan ExistingRDD" in sb, sb

    # quality_lr: scoring is a PURE MAP pass — the learned weights ride
    # as a literal array, zero exchanges, one column-pruned corpus scan
    ql = e.queries()["quality_lr"](spark, SF)
    sq = plans.explain_str(ql, "simple")
    assert plans.shuffle_count(ql) == 0, sq
    assert sq.count("Scan parquet") == 1, sq

    # pq_ann_topk: the re-rank stage is a bounded point-lookup — the 100
    # shortlisted ids land in the parquet scan as a pushed In filter,
    # zero exchanges, TakeOrdered top-k
    pq = e.queries()["pq_ann_topk"](spark, SF)
    sp = plans.explain_str(pq, "formatted")
    assert "TakeOrderedAndProject" in sp, sp
    assert plans.shuffle_count(pq) == 0, sp
    assert "In(vec_id" in sp, sp

    # bm25_batch: postings from the checkpointed RDD (one parquet scan —
    # the avgdl aggregate), query fan-out and df as broadcasts, no
    # cartesian on the doc side
    bb = e.queries()["bm25_batch"](spark, SF)
    sbb = plans.explain_str(bb, "simple")
    assert sbb.count("Scan parquet") == 1, sbb
    assert plans.uses_broadcast_join(bb), sbb
    assert "Scan ExistingRDD" in sbb, sbb


def test_rendezvous_assign_plan_has_no_exchange(spark):
    """The HRW docstring claims zero-shuffle assignment: the literal
    struct-array argmax must compile to a pure projection."""
    from disco_crawl_spark.operators import schedule
    from disco_crawl_spark import plans
    keys = spark.range(100).selectExpr("concat('h', id) AS host")
    df = schedule.rendezvous_assign(keys, "host",
                                    [f"s{i}" for i in range(8)])
    s = plans.explain_str(df, "simple")
    assert "Exchange" not in s, s
    assert "Python" not in s, s           # pure codegen, no UDF


def test_surt_key_plan_pure_projection(spark):
    from pyspark.sql import functions as F
    from disco_crawl_spark import functions as cf, plans
    df = (spark.range(100)
          .selectExpr("concat('http://www.h', id, '.gov.au/p?b=1&a=2') AS u")
          .select(cf.surt_key(F.col("u")).alias("surt")))
    s = plans.explain_str(df, "simple")
    assert "Exchange" not in s, s
    assert "Python" not in s, s


def test_cms_plan_partial_combine_and_broadcast_probe(spark):
    """cms_counters must partial-aggregate (map-side combine bounds each
    partition's exchange at depth*width counters); cms_estimate must
    BROADCAST the counter grid to the probes."""
    from disco_crawl_spark.operators import sketch
    from disco_crawl_spark import plans
    df = spark.range(1000).selectExpr("concat('k', id % 37) AS k")
    counters = sketch.cms_counters(df, "k", 4, 64)
    sc = plans.explain_str(counters, "simple")
    assert "partial_count" in sc, sc
    est = sketch.cms_estimate(counters, df, "k", 4, 64)
    se = plans.explain_str(est, "simple")
    assert "BroadcastHashJoin" in se or "BroadcastExchange" in se, se


def test_robots_sitemaps_variants(spark):
    bodies = [
        ("h0", "User-agent: *\nDisallow: /tmp\n"
               "Sitemap: https://h0/sitemap.xml"),
        ("h1", "sitemap:https://h1/s1.xml\r\n\tSITEMAP : https://h1/s2.xml"),
        ("h2", "User-agent: *\nAllow: /"),          # none
        ("h3", "Sitemap: https://h3/a.xml\nSitemap: https://h3/a.xml"),
    ]
    df = spark.createDataFrame(bodies, "host string, body string")
    out = sorted((r["host"], r["sitemap_url"]) for r in
                 sources.robots_sitemaps(df, "host", "body").collect())
    assert out == [("h0", "https://h0/sitemap.xml"),
                   ("h1", "https://h1/s1.xml"),
                   ("h1", "https://h1/s2.xml"),
                   ("h3", "https://h3/a.xml")]


def test_soft_404_flags_crafted(spark):
    rows = [
        ("u1", 200, b"<html><title>Page Not Found</title>" + b"x" * 100),
        ("u2", 200, b"<html><body>plenty of genuine content here, " +
         b"carefully exceeding the minimum body size floor</body></html>"),
        ("u3", 404, b"<html>hard not found</html>"),   # real 404: not soft
        ("u4", 200, b"tiny"),                           # short-body soft 404
    ]
    df = spark.createDataFrame(rows, "url string, status int, html binary")
    out = {r["url"]: r for r in sources.soft_404_flags(df).collect()}
    assert out["u1"]["is_soft_404"] == 1 and out["u1"]["has_404_phrase"] == 1
    assert out["u2"]["is_soft_404"] == 0
    assert out["u3"]["is_soft_404"] == 0 and out["u3"]["has_404_phrase"] == 1
    assert out["u4"]["is_soft_404"] == 1 and out["u4"]["has_404_phrase"] == 0


def test_charset_sniff_precedence(spark):
    rows = [
        # header beats meta
        ("u1", "text/html; charset=ISO-8859-1",
         b'<html><meta charset="utf-8"></html>'),
        ("u2", "text/html", b"<html><meta charset='Shift_JIS'></html>"),
        ("u3", "text/html",
         b'<html><meta http-equiv="Content-Type" '
         b'content="text/html; charset=windows-1251"></html>'),
        ("u4", "text/html", b"<html>nothing declared</html>"),
    ]
    df = spark.createDataFrame(rows, "url string, ct string, html binary")
    out = {r["url"]: (r["charset"], r["charset_source"]) for r in
           sources.charset_sniff(df, ctype_col="ct").collect()}
    assert out["u1"] == ("iso-8859-1", "header")
    assert out["u2"] == ("shift_jis", "meta_charset")
    assert out["u3"] == ("windows-1251", "meta_http_equiv")
    assert out["u4"] == ("utf-8", "default")


def test_robots_cache_plan_actions(spark):
    import datetime

    from disco_crawl_spark.operators import schedule
    hosts = spark.createDataFrame([("a",), ("b",), ("c",)], "host string")
    log = spark.createDataFrame(
        [("a", datetime.datetime(2024, 1, 1, 0, 0, 0)),     # stale
         ("a", datetime.datetime(2024, 1, 2, 12, 0, 0)),    # latest: fresh
         ("b", datetime.datetime(2023, 12, 1, 0, 0, 0))],   # stale
        "host string, ts timestamp")
    out = {r["host"]: r for r in schedule.robots_cache_plan(
        hosts, log, "2024-01-03 00:00:00").collect()}
    assert out["a"]["action"] == "cached" and out["a"]["age_sec"] == 43200
    assert out["b"]["action"] == "refetch"
    assert out["c"]["action"] == "fetch_first"
    assert out["c"]["age_sec"] is None
