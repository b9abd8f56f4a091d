"""The PySpark crawl engine — the reference's whole distributed loop as
DataFrame jobs over snapshot-versioned tables.

Design (SURVEY.md §1.3/§3.1 'Spark rewrite'):

- **frontier / url_seen / crawl_log are DataFrames** backed by icelite
  snapshot tables (tables.py); collected links derive from the crawl log.
  A round ends in one crawl_log state snapshot that names each table's
  head snapshot — that IS the checkpoint; ``resume`` rolls every table
  back to the heads it names (resumable mid-crawl, north_star).
- **domains is tiny** (thousands of hosts vs 10^10 URLs): lifecycle
  decisions (steward pick, start gauntlet, budgets, cursors) run driver-side
  via the same ``lifecycle`` functions the oracle simulator uses. All
  per-URL work — fetch join, parse, link explode, seen anti-join,
  generation build — is distributed.
- **fetch is a join**: the sandbox has no network, so fetching URL u is
  ``schedule ⋈ pages ON fetch_url = url`` (left join; a miss is a 404).
  On a real cluster the join becomes an async-HTTP mapInPandas stage; the
  surrounding plan is unchanged.
- **politeness is computed, not slept**: per-host budgets (robots.py)
  bound each host's rows per round via the schedule's pos-range — the
  window-rank equivalent; govCMS-style groups are serialized by the
  steward's group lock.
- **shuffles per round**, read from the plans (``plans.shuffle_count``;
  DESIGN.md §3 names each): the fetch join exchanges the schedule by url
  (the pages side is the url-partitioned cache, broadcast when small);
  the round's one collect, of the per-host fetch stats, runs 1; a warm
  round's generation build runs 3: the link distinct and the per-key
  dedup window in the candidates checkpoint (the seen-key anti-join adds
  its two sides when the seen keys are too many to broadcast) and the
  per-host windows of the frontier delta. Everything else is broadcast
  (bounds, the last chunk) or narrow (the parse and link kernels,
  explode).

Scale notes (100 TB / 10^10-URL design; local runs verify correctness):
- **pages** can be a url-bucketed catalog table (``pages_bucketed=True``
  + ``sources.write_pages(buckets=N)``): the fetch join then exchanges
  only the per-round schedule, never the corpus (plan-asserted in tests).
- **frontier / url_seen / crawl_log** compact every K rounds
  (``compact_every``) through the icelite rewrite-data-files op into
  host-range-sorted files (url_seen on ``host, url_key``), bounding the
  O(rounds x parallelism) small-file growth that natural-parallelism
  delta commits trade for scaling.
- hot politeness groups are serialized by the group lock; AQE skew-join
  splitting covers hot-host fetch joins.

Reference-faithful quirks reproduced (see refsim module docstring for the
full list): seen-at-schedule-time, blacklist-then-cap, cap-exit-not-
finished with crawl-log resume, un-blacklisted kickstarts.

Run ``python -m disco_crawl_spark.engine --selftest`` for an end-to-end
engine-vs-oracle equivalence check.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from functools import cached_property

from pyspark.sql import (DataFrame, Observation, SparkSession, Window,
                         functions as F)

from . import functions as cf, lifecycle, refsem, robots as robots_mod, udfs
from .operators.ckpt import CheckpointScope
from .refsim import SimConfig
from .tables import Catalog


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        robots_corpus: dict,
        host_attrs: dict,
        warehouse: str,
        config: "SimConfig | None" = None,
        seeds: "list | None" = None,
        pages_bucketed: bool = False,
        compact_every: "int | None" = None,
        pages_cache_partitions: "int | None" = None,
    ):
        self.spark = spark
        self.cfg = config or SimConfig()
        self.robots = robots_mod.RobotsCache(robots_corpus)
        self.attrs = host_attrs
        self.cat = Catalog(warehouse)
        self.t_frontier = self.cat.table("frontier")
        self.t_seen = self.cat.table("url_seen")
        self.t_log = self.cat.table("crawl_log")
        self.t_metrics = self.cat.table("metrics")
        self.link_kernel = udfs.make_link_kernel(spark, robots_corpus)
        if "redirect_to" not in pages.columns:
            pages = pages.withColumn("redirect_to", F.lit(None).cast("string"))
        if pages_bucketed:
            # pages came from a url-bucketed catalog table
            # (sources.write_pages/register_bucketed_pages): the fetch join
            # reads it in place — no exchange of the pages side, no cache
            # pin of the whole corpus. This is the 100 TB path; the
            # repartition+persist below is the small-corpus convenience.
            self.pages = pages
        else:
            # partitioned AND sorted by the join key once, reused every
            # round: InMemoryTableScan propagates the cached ordering, so
            # the per-round fetch SortMergeJoin needs NO sort of the pages
            # side. Without the sortWithinPartitions every round re-ran an
            # external sort over the full corpus' html payloads inside
            # each task — measured as the round loop's scaling ceiling
            # (spill-bound: ~11 s/round at ANY core count on a 409k-page
            # corpus; sorted cache: 5.4 s at 4 cores, 2.6 s at 16).
            #
            # Partition COUNT must be sized to the DATA, not the core
            # count: a bare repartition(col) inherits
            # spark.sql.shuffle.partitions, so a 39 GB corpus on a
            # 16-thread / 16-shuffle-partition session unrolls as 16
            # concurrent ~2.5 GB deserialized blocks during the cache
            # build — measured as a deterministic driver-JVM heap OOM at
            # wide-64000h/local[16] (BENCH/worker_err_crawl_wide_*.log,
            # 2026-08-20) while the SAME corpus at local[4] survived with
            # only 4 unrolls in flight. Callers that know the corpus size
            # pass pages_cache_partitions ~ bytes/192MB; the default keeps
            # the session's shuffle width (fine for test-scale corpora).
            # The 100 TB path is pages_bucketed above — no cache at all.
            if pages_cache_partitions:
                part = pages.repartition(int(pages_cache_partitions),
                                         F.col("url"))
            else:
                part = pages.repartition(F.col("url"))
            self.pages = part.sortWithinPartitions("url").persist()
            # fill the sorted fetch-join cache NOW, at engine startup:
            # left lazy it materialized inside round 0's first consumer
            # (the root-probe aggregation), charging the one-time corpus
            # sort/upload to the first crawl round — a production engine
            # warms its join layout before the loop, and for a driver-
            # built corpus the dominant cost is re-serializing the local
            # relation, which this bounds to exactly once
            self.pages.count()
        self.compact_every = compact_every
        self.dom: dict = {}          # host -> driver state dict
        self.events: list = []       # (round, host, event)
        self.metrics: list = []      # per-round per-host fetch/parse stats
        # checkpoint watermarks: events/metrics below these indexes are
        # already committed in earlier state snapshots (deltas only)
        self._ckpt_events = 0
        self._ckpt_metrics = 0
        self.round_no = 0
        # In-run views of the state tables: each committed delta's parquet
        # files are read back and unioned here (flat lineage, no recompute).
        # The snapshots are the durable checkpoint; ``resume`` rebuilds the
        # views from the committed history.
        self._mem: dict = {"frontier": None, "url_seen": None,
                           "crawl_log": None}
        if seeds:
            for s in seeds:
                self._seen_host(s, 0)

    # ------------------------------------------------------------------
    # driver-side domain state
    # ------------------------------------------------------------------
    def _seen_host(self, host: str, round_no: int):
        # merely-SEEN hosts carry the 3-field compact form (state, group,
        # first-seen) — at 10^6 discovered hosts the driver dict stays
        # O(3 fields)/host; the full crawl fields inflate lazily on start
        # (_inflate_host) and compact again on finish (_finish_host), so
        # only steward-batch-bounded ACTIVE hosts ever hold the wide form.
        if host not in self.dom:
            self.dom[host] = {
                "state": "seen",
                "group": lifecycle.politeness_group(host, self.attrs.get(host)),
                "first_seen_round": round_no,
            }

    def _inflate_host(self, host: str):
        """Attach the per-crawl fields a host needs while active; a cap-exit
        host re-entering keeps its session/ever_crawled history."""
        d = self.dom[host]
        for k, v in (("scheme", None), ("budget", 0), ("gen", 0),
                     ("gen_size", 0), ("cursor", 0), ("crawled", 0),
                     ("session", 0), ("ever_crawled", False)):
            d.setdefault(k, v)

    def _event(self, round_no: int, host: str, msg: str):
        self.events.append((round_no, host, msg))

    def _finish_host(self, host: str):
        """Terminal transition: drop the per-host crawl fields and keep only
        what the steward needs to never restart it (state + group). Driver
        memory for completed hosts is O(2 strings), so the dict survives a
        10^6-host crawl; active hosts are bounded by the steward batch."""
        d = self.dom[host]
        self.dom[host] = {"state": "finished", "group": d["group"]}

    def _active_hosts(self) -> list:
        return sorted(h for h, d in self.dom.items() if d["state"] == "active")

    # ------------------------------------------------------------------
    # root probes (index HEAD / dual-domain gauntlet inputs)
    # ------------------------------------------------------------------
    @cached_property
    def _probes(self) -> dict:
        """refsem.root_probes over the pages table, built on the first
        steward batch with one O(hosts) groupBy (never a URL-level
        collect). The host key (lowercased authority, userinfo stripped,
        port kept), the max-redirect rule and the root test are refsem's:
        path ``/`` (``;params`` allowed) with no query or fragment beyond
        an empty ``?`` or ``#``, as ``urlparse`` splits it."""
        is_root = F.col("url").rlike(
            r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+/(;[^/?#]*)?\??#?$")
        auth = F.regexp_extract(
            "url", r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)
        host = F.lower(F.regexp_replace(auth, r"^[^@/]*@", ""))
        rows = (self.pages.select(host.alias("h"), is_root.alias("r"),
                                  "redirect_to")
                .groupBy("h")
                .agg(F.max(F.when(F.col("r"),
                                  F.coalesce("redirect_to", F.lit(""))))
                     .alias("rr"))
                .collect())
        return {r["h"]: {"root": r["rr"] is not None,
                         "redirect": r["rr"] or None} for r in rows}

    # ------------------------------------------------------------------
    # state-table plumbing: commit a delta to parquet AND to the in-memory
    # accumulated view
    # ------------------------------------------------------------------
    def _table(self, name: str):
        return {"frontier": self.t_frontier, "url_seen": self.t_seen,
                "crawl_log": self.t_log}[name]

    def _frame(self, rows: list, schema: str) -> DataFrame:
        """A driver-built frame in ONE slice. ``createDataFrame`` over a
        list makes ``defaultParallelism`` slices and each costs a Python
        pass: ``coalesce(1)`` runs those one after another and
        ``repartition(1)`` adds a shuffle job. Writing 300 rows on a
        4-core box at local[4] / local[8]: coalesce(1) 0.74-0.93 /
        1.3-1.7 s, repartition(1) 0.44-0.59 / 0.55-0.88 s, one slice
        0.29-0.39 / 0.25-0.36 s, one job and one file
        (BENCH/CRAWL_BISECT.md)."""
        return self.spark.createDataFrame(
            self.spark.sparkContext.parallelize(rows, 1), schema)

    def _append(self, name: str, delta: DataFrame):
        # Commit the delta to parquet (ONE Spark action), then use the
        # written files as the in-run view. Reading back the files both
        # truncates lineage (without this, every round's plan nests the
        # whole previous union and planning cost grows exponentially) and
        # keeps each append at a single job (per-action dispatch overhead
        # dominates round latency at small delta sizes).
        # Materialize the pre-append view FIRST: after a resume the view
        # must be seeded from the committed parquet history, not from this
        # delta alone (reading after the append would double-count it).
        cur = self._view(name)
        # The delta is written at the job's NATURAL parallelism, never
        # coalesced. The previous one-file-per-commit coalesce(1) was
        # measured to be the round loop's scaling killer: coalesce collapses
        # everything after the delta plan's last exchange — the fetch-parse
        # UDF, the frontier window — into ONE task, a serial term that grows
        # linearly with round width (BENCH/BASELINE.md §3: efficiency pinned
        # at ~0.2 across 1x-16x round sizes until this fix). Small files per
        # round are the correct Iceberg-shaped trade; compaction
        # (_compact, every ``compact_every`` rounds) is the remedy, never a
        # serial write path.
        _, data_dir = self._table(name).append(delta)
        # explicit schema: parquet reads without one spend a driver job on
        # footer/schema inference — at round-loop cadence that is one
        # wasted dispatch per append (3/round), pure serial cost
        delta_view = self.spark.read.schema(delta.schema).parquet(data_dir)
        self._mem[name] = (delta_view if cur is None
                           else cur.unionByName(delta_view))
        return delta_view

    def _view(self, name: str) -> "DataFrame | None":
        if self._mem[name] is None:
            self._mem[name] = self._table(name).read(self.spark)
        return self._mem[name]

    @staticmethod
    def _observe_sizes(df: DataFrame, first, size):
        """``df`` with ``size`` (an aggregate) over each host's rows, and
        the Observation that reports it as ``get["n"]``, a list of
        ``(host, size)`` taken from the rows ``first`` marks (one a host).
        The write of ``df`` computes it; read ``get`` only after that
        write returned, since it blocks until the action has run."""
        obs = Observation()
        df = df.withColumn("_n", size.over(Window.partitionBy("host")))
        return df.observe(obs, F.collect_list(
            F.when(first, F.struct("host", "_n"))).alias("n")), obs

    def _compact(self, names):
        """Iceberg ``rewrite_data_files`` maintenance pass over the
        delta-accumulating tables. The r4 scaling fix commits every
        round's deltas at the job's NATURAL parallelism (the serial
        ``coalesce(1)`` was the round loop's Amdahl killer,
        BENCH/CRAWL_BISECT.md) — the deliberate trade is
        O(rounds x parallelism) small files on a long-lived table. This
        is the remedy: every ``compact_every`` rounds each table rewrites
        its whole delta chain into ``max(2, parallelism // 2)``
        host-range-sorted files (ES's implicit segment merge is the
        reference analog that kept worker.py:244-280 resume scans
        viable). Host-sorting keeps each row group's host range narrow,
        so the parquet reader serves ``_first_generation``'s crawl_log
        ``host IN`` filter from row-group footer stats. Time travel,
        rollback, and mid-crawl resume are unaffected: the compact
        snapshot holds the same rows, and older snapshots keep their
        dirs until an explicit ``expire_before``."""
        tf = max(2, self.spark.sparkContext.defaultParallelism // 2)
        for name in names:
            t = self._table(name)
            cur = t.snapshot()
            if not cur or not cur["data"] or len(cur.get("files", ())) <= tf:
                continue                    # nothing worth rewriting
            t.compact(self.spark, target_files=tf,
                      sort_cols=(["host", "url_key"] if name == "url_seen"
                                 else ["host"]))
            # re-seed the in-run view from the compacted snapshot: the
            # old view stays correct (old dirs persist) but would keep
            # planning over the uncompacted file list
            self._mem[name] = None

    def compact_seen(self):
        """Compact url_seen (see ``_compact``)."""
        self._compact(["url_seen"])

    def compact_tables(self):
        """Compact frontier and crawl_log (see ``_compact``)."""
        self._compact(["frontier", "crawl_log"])

    # ------------------------------------------------------------------
    # domain starts (steward + start gauntlet)
    # ------------------------------------------------------------------
    def _start_domains(self):
        states = {h: d["state"] for h, d in self.dom.items()}
        groups = {h: d["group"] for h, d in self.dom.items()}
        active_groups = {self.dom[h]["group"] for h in self._active_hosts()}
        picks = lifecycle.pick_domains(states, groups, active_groups,
                                       self.round_no, self.cfg.steward_batch)
        started = []
        for host in picks:
            d = lifecycle.start_decision(host, self.attrs.get(host),
                                         self.robots, probes=self._probes)
            self._inflate_host(host)
            st = self.dom[host]
            if d.action == "dual-skip":
                self._seen_host("www." + host, self.round_no)
                self._event(self.round_no, host, "dual-domain")
                self._event(self.round_no, host, "finished")
                self._finish_host(host)
                continue
            if d.action == "broken":
                self._event(self.round_no, host, "broken")
                self._finish_host(host)
                continue
            self._event(self.round_no, host, "started")
            st.update(state="active", scheme=d.scheme, budget=d.budget,
                      gen=1, cursor=0, crawled=0, gen_size=0,
                      session=st["session"] + 1)
            started.append(host)
        return self._first_generation(started)

    def _first_generation(self, hosts: list) -> "DataFrame | None":
        """Set the started hosts' first generation, as refsim's
        ``_start_domain``: kick links from the crawl log, else the root.

        A fresh host's generation is its root alone, built on the driver
        with the functions the UDFs wrap (robots filter, ``normalize_href``,
        pos 0), as refsim's ``_prepare_generation``. These rows are
        returned uncommitted: the round schedules from ``frontier ∪ rows``
        and commits them in its one frontier append.

        A host crawled in an earlier session resumes from its log
        (worker.py:244-280) on the Spark path, committed here: url_seen is
        blacklist-seeded with every previously fetched URL's key, and the
        kickstart is their internal links minus fetched, sorted, capped.
        Kickstart links are NOT seen-inserted (reference-faithful). A
        resumed host with every logged link already crawled
        (worker.py:678-679 'if not next_links') starts from its root; the
        choice is made on the raw kick list, before the robots filter."""
        fresh, resumed = [], []
        for h in hosts:
            d = self.dom[h]
            root = f"{d['scheme']}://{h}/"
            ok, link = self.robots.allow(h, root), refsem.normalize_href(root)
            if d["ever_crawled"]:
                resumed.append((h, d["session"], 0, ok, link))
            elif ok:
                d["gen_size"] = 1
                fresh.append((h, d["session"], 1, 0, link))
        if resumed:
            sess = self._frame(resumed, "host string, session int, ord int, "
                               "allowed boolean, link string")
            logs = self._view("crawl_log").filter(
                F.col("host").isin([r[0] for r in resumed]))
            crawled = (logs.select("host", "url").distinct()
                       .withColumn("url_key", udfs.url_seen_key(F.col("url"))))
            sk = F.broadcast(sess.select("host", "session"))
            self._append("url_seen", crawled.join(sk, "host")
                         .withColumn("host_group", cf.host_group(F.col("host")))
                         .select("host", "session", "host_group", "url_key"))
            # kick links are not domainized: the kernel gets no scheme
            kick = (logs.select("host", F.explode("links").alias("src"))
                    .distinct()
                    .withColumn("k", self.link_kernel(
                        F.col("host"), F.col("src"), F.lit(None).cast("string")))
                    .select("host", "src", "k.url_key", "k.allowed", "k.link")
                    .join(crawled.select("host", "url_key"),
                          ["host", "url_key"], "left_anti"))
            w = Window.partitionBy("host").orderBy("src")
            kick = (kick.withColumn("ord", F.row_number().over(w))
                    .filter(F.col("ord") <= self.cfg.max_pages)
                    .join(sk, "host"))
            roots = sess.join(kick.select("host").distinct(), "host",
                              "left_anti")
            front = (kick.select(*roots.columns).unionByName(roots)
                     .filter("allowed").withColumn("pos", F.row_number().over(
                         Window.partitionBy("host").orderBy("ord")) - 1))
            front, obs = self._observe_sizes(front, F.col("pos") == 0,
                                             F.count(F.lit(1)))
            self._append("frontier", front.select(
                "host", "session", F.lit(1).alias("gen"), "pos", "link"))
            for h, n in obs.get["n"]:
                self.dom[h]["gen_size"] = n
        return self._frame(fresh, "host string, session int, gen int, "
                           "pos int, link string") if fresh else None

    # ------------------------------------------------------------------
    # one crawl round
    # ------------------------------------------------------------------
    def step(self):
        rnd = self.round_no
        fresh = self._start_domains()

        # -- schedule: per-host pos range [cursor, cursor+budget) ------
        bounds_rows = []
        for h in self._active_hosts():
            d = self.dom[h]
            if d["cursor"] < d["gen_size"]:
                bounds_rows.append((h, d["session"], d["gen"], d["cursor"],
                                    min(d["cursor"] + d["budget"],
                                        d["gen_size"]), d["scheme"]))
        results, stats_rows = None, []
        if bounds_rows:
            bounds = self.spark.createDataFrame(
                bounds_rows,
                "host string, session int, gen int, lo int, hi int, scheme string")
            # fresh hosts' driver-built roots join the committed frontier
            # here and are committed in the round's one frontier append
            frontier = self._view("frontier")
            if fresh is not None:
                frontier = (fresh if frontier is None
                            else frontier.unionByName(fresh))
            # generation pushdown: the frontier view unions every
            # generation's delta files, but a round only schedules from
            # the handful of generations active hosts sit in. The isin
            # filter reaches the parquet scan (each delta dir holds one
            # generation, so min(gen)==max(gen) per file and row-group
            # stats skip WHOLE dead-generation files) — without it a
            # long-lived crawl re-reads its entire frontier history
            # every round just to join-discard it
            active_gens = sorted({g for _, _, g, _, _, _ in bounds_rows})
            schedule = (
                frontier.filter(F.col("gen").isin(active_gens))
                .join(F.broadcast(bounds), ["host", "session", "gen"])
                .filter((F.col("pos") >= F.col("lo")) & (F.col("pos") < F.col("hi")))
                .withColumn("seq", F.col("pos") - F.col("lo"))
                .withColumn("fetch_url", udfs.domainize(
                    F.col("host"), F.col("link"), F.col("scheme")))
            )
            # -- fetch join + parse (the two hot stages) ---------------
            fetched = schedule.join(
                self.pages.select(F.col("url").alias("fetch_url"), "html",
                                  "warc_ts", "redirect_to"),
                "fetch_url", "left")
            parsed = fetched.withColumn(
                "p", udfs.parse_page(F.col("html"), F.col("fetch_url"),
                                     F.col("host"), F.col("scheme"),
                                     F.col("redirect_to")))
            ct = F.when(F.col("html").isNotNull(),
                        F.lit("text/html; charset=utf-8"))
            # full ES-document field parity (SURVEY §1.1 table); omitted by
            # design: uuid (nondeterministic), requestTime/SpiderErrorMessage
            # (no live network), indexedAt (the round IS the clock),
            # externalDomains (dead code in the reference)
            results = (
                parsed.select(
                    F.lit(rnd).alias("round"), "host", "session", "gen",
                    "seq", F.col("fetch_url").alias("url"), "link",
                    F.when(F.col("redirect_to").isNotNull(), F.lit(302))
                     .when(F.col("html").isNotNull(), F.lit(200))
                     .otherwise(F.lit(404)).alias("status"),
                    F.col("redirect_to"),
                    udfs.sha256_url(F.col("fetch_url")).alias("url_sha256"),
                    F.lit("v3").alias("crawler"),
                    cf.host_group(F.col("host")).alias("host_group"),
                    cf.jurisdiction(F.col("host")).alias("jurisdiction"),
                    cf.mime_type(ct).alias("mime_type"),
                    cf.mime_encoding(ct).alias("mime_encoding"),
                    cf.mime_group(ct).alias("mime_group"),
                    cf.mime_format(ct).alias("mime_format"),
                    cf.filename_guess(F.col("fetch_url")).alias("filename"),
                    F.lit("en-us").alias("language"),
                    F.col("warc_ts").alias("date_created"),
                    F.col("p.links").alias("links"),
                    F.size("p.links").alias("links_count"),
                    # schema parity with the ES doc (parser.py:147-173):
                    # externalLinks is a map keyed by url whose values are
                    # always empty dicts (the prefetch is dead code that
                    # returns {url: {}}). Value type is an empty map — it
                    # JSON-serializes to {} exactly like the reference's
                    # value, and unlike struct<> it is parquet-storable
                    # (parquet forbids empty groups).
                    F.map_from_arrays(
                        F.col("p.external_links"),
                        F.transform("p.external_links",
                                    lambda _: F.map_from_arrays(
                                        F.array().cast("array<string>"),
                                        F.array().cast("array<string>"))))
                     .alias("external_links"),
                    F.size("p.external_links").alias("external_links_count"),
                    F.col("p.discovered").alias("discovered"),
                    F.col("p.title").alias("title"),
                    F.col("p.keywords").alias("keywords"),
                    F.col("p.content_hash").alias("content_hash"),
                    F.col("p.content_size").alias("content_size"),
                    F.col("p.text").alias("text"),
                )
            )
            results = self._append("crawl_log", results)
            # one aggregation drives BOTH new-domain discovery and the
            # per-host fetch/parse metrics (statsd-counter taxonomy of
            # worker.py:466,492,499-501), recorded in the round-state
            # snapshot. It is the round's one collect: the generation
            # build reads its per-host sizes off its frontier write
            stats_rows = results.groupBy("host").agg(
                F.count(F.lit(1)).alias("scheduled"),
                F.sum(F.when(F.col("status") == 200, 1).otherwise(0))
                 .alias("fetched_200"),
                F.sum(F.size("links")).alias("internal_links"),
                F.sum(F.size("external_links")).alias("external_links"),
                F.flatten(F.collect_set("discovered")).alias("discovered"),
            ).collect()

        # -- driver cursor/crawl accounting ----------------------------
        ended = []
        for h, s, g, lo, hi, _ in bounds_rows:
            d = self.dom[h]
            n = hi - lo
            d["cursor"] += n
            d["crawled"] += n
            if n:
                d["ever_crawled"] = True
        for h in self._active_hosts():
            d = self.dom[h]
            if d["cursor"] >= d["gen_size"]:
                ended.append(h)

        # -- generation end --------------------------------------------
        build = []
        for h in ended:
            d = self.dom[h]
            if d["crawled"] >= self.cfg.max_pages:
                d["state"] = "seen"  # cap exit: NOT finished
            elif d["gen_size"]:
                build.append(h)
            else:
                # an empty generation (e.g. a root robots disallows) logged
                # no links, so the next one is empty too: finish it here
                self._event(rnd, h, "finished")
                self._finish_host(h)
        if build:
            self._build_generations(build, results, fresh)
        elif fresh is not None:
            self._append("frontier", fresh)

        # -- per-host fetch/parse metrics + new-domain discovery -------
        discovered_all = set()
        for r in stats_rows:
            sch = r["scheduled"]
            self.metrics.append({
                "round": rnd, "host": r["host"],
                "scheduled": sch,
                "fetched_200": int(r["fetched_200"]),
                "fetched_404": sch - int(r["fetched_200"]),
                "internal_links": int(r["internal_links"]),
                "external_links": int(r["external_links"]),
            })
            discovered_all.update(r["discovered"])
        for d in sorted(discovered_all):
            self._seen_host(d, rnd)

        # compaction lands before the checkpoint, so the checkpoint's
        # heads name the compact snapshots
        if self.compact_every and (rnd + 1) % self.compact_every == 0:
            self._compact(["frontier", "url_seen", "crawl_log"])

        # -- snapshot the driver state (the round checkpoint) ----------
        self.t_log.commit_state(self._state_dict())
        # watermarks advance only after the checkpoint LANDS: a failed
        # commit leaves the deltas pending for the next attempt
        self._ckpt_events = len(self.events)
        self._ckpt_metrics = len(self.metrics)
        self.round_no += 1

    def _build_generations(self, hosts: list, results: DataFrame,
                           fresh: "DataFrame | None"):
        """SURVEY.md §8.3 frontier-update rule (refsim ``_end_generation``),
        one distributed pass for all generation-ending hosts: one
        checkpoint of the candidates, then two commits that read it. The
        generation's last chunk is read from ``results``, the round's
        crawl_log delta, which holds ``host, link`` for every scheduled
        row. The next generations and ``fresh`` (the round's driver-built
        roots) land in the round's one frontier append, and each host's
        next generation size is observed on that write."""
        sess = self._frame(
            [(h, self.dom[h]["session"], self.dom[h]["gen"],
              self.dom[h]["scheme"]) for h in hosts],
            "host string, session int, gen int, scheme string")
        # the last chunk, read by both joins below through one reused
        # broadcast: the anti-join ignores repeated rows, and the key
        # dedup drops the identical copies a repeat makes in the left join
        chunk = results.filter(F.col("host").isin(hosts)).select(
            F.col("host").alias("c_host"), F.col("link").alias("c_link"))

        def in_chunk(col: str):
            return ((F.col("host") == F.col("c_host"))
                    & (F.col(col) == F.col("c_link")))
        # collected links are derived from the crawl log (the log stores
        # each page's raw internal links, exactly like the reference's ES
        # docs), minus the last chunk; one kernel pass per distinct link
        cand = (self._view("crawl_log")
                .join(F.broadcast(sess), ["host", "session", "gen"])
                .select("host", "session", "gen",
                        F.explode("links").alias("src"), "scheme")
                .distinct()
                .join(chunk, in_chunk("src"), "left_anti")
                .withColumn("k", self.link_kernel(
                    F.col("host"), F.col("src"), F.col("scheme")))
                .select("host", "session", "gen", "src", "k.*"))
        # anti-join against this session's seen keys
        seen = self._view("url_seen")
        if seen is not None:
            cand = cand.join(seen.filter(F.col("host").isin(hosts))
                             .select("host", "session", "url_key"),
                             ["host", "session", "url_key"], "left_anti")
        # ``dup`` flags the links whose domainized form is in the last
        # chunk: seen-inserted, not crawled again. Then the within-batch
        # key dedup: first raw link per key wins (the oracle marks keys
        # sequentially in sorted order); session is fixed per host, so the
        # window keeps the anti-join's partitioning
        wk = Window.partitionBy("host", "session", "url_key").orderBy("src")
        cand = (cand.join(chunk, in_chunk("link_raw"), "left")
                .withColumn("dup", F.col("c_link").isNotNull())
                .drop("c_host", "c_link")
                .withColumn("rn", F.row_number().over(wk))
                .filter(F.col("rn") == 1).drop("rn"))
        w = Window.partitionBy("host").orderBy("src")
        # the scope frees the checkpoint however the round ends
        with CheckpointScope(self.spark.sparkContext) as scope:
            cand = scope.ckpt(cand)
            new_seen = cand.select(
                "host", "session",
                cf.host_group(F.col("host")).alias("host_group"), "url_key")
            # cap in raw order, then robots: every window partitions by
            # host, so the frontier delta exchanges once. A host with no
            # raw row finishes; one whose rows robots all drop stays
            # active one round with an empty generation, like the reference
            nxt = (cand.filter(~F.col("dup"))
                   .withColumn("ord", F.row_number().over(w))
                   .filter(F.col("ord") <= self.cfg.max_pages))
            nxt, obs = self._observe_sizes(nxt, F.col("ord") == 1,
                                           F.count_if("allowed"))
            front = nxt.filter("allowed").select(
                "host", "session", (F.col("gen") + 1).alias("gen"),
                (F.row_number().over(w) - 1).alias("pos"), "link")
            if fresh is not None:
                front = front.unionByName(fresh)
            # the two commits touch different tables and read the settled
            # checkpoint; a mid-round kill discards both tables'
            # uncheckpointed deltas on resume (engine.resume), so their
            # order is immaterial. Overlapped, the frontier job's tail
            # backfills the seen write's idle executors: run one after the
            # other they measured ~0.4 s slower per warm round (4 cores)
            with ThreadPoolExecutor(max_workers=2) as pool:
                f_seen = pool.submit(self._append, "url_seen", new_seen)
                f_front = pool.submit(self._append, "frontier", front)
                f_front.result()
                f_seen.result()
        # read once both commits returned: one that raised never gets here
        sizes = dict(obs.get["n"])
        for h in hosts:
            d = self.dom[h]
            if h not in sizes:
                self._event(self.round_no, h, "finished")
                self._finish_host(h)
            else:
                d.update(gen=d["gen"] + 1, cursor=0, gen_size=sizes[h])

    # ------------------------------------------------------------------
    # run / resume / results
    # ------------------------------------------------------------------
    def _state_dict(self) -> dict:
        """Round-checkpoint payload. ``heads`` names the frontier and
        url_seen snapshots this round ended on (crawl_log's is the
        checkpoint snapshot itself). ``dom`` is the full mutable state
        (O(active + seen hosts), compact 3-field entries for inactive
        hosts); events/metrics are PER-ROUND DELTAS — serializing the
        full accumulated lists made the checkpoint an O(rounds x hosts)
        serial term that grew every round (measured 0.1 -> 6 s/round
        over a 10-round 1000-host crawl). ``resume`` replays the deltas
        of every state snapshot in commit order, so the reconstructed
        lists are identical to the in-memory ones."""
        heads = {n: (self._table(n).snapshot() or {}).get("id")
                 for n in ("frontier", "url_seen")}
        return {"round": self.round_no, "heads": heads, "dom": self.dom,
                "events_delta": [list(e) for e in
                                 self.events[self._ckpt_events:]],
                "metrics_delta": self.metrics[self._ckpt_metrics:]}

    def run(self, max_rounds: "int | None" = None) -> dict:
        import time as _time
        max_rounds = max_rounds or self.cfg.max_rounds
        self.round_walls: list = []   # (round_no, wall_secs) per step
        while self.round_no < max_rounds:
            states = {h: d["state"] for h, d in self.dom.items()}
            groups = {h: d["group"] for h, d in self.dom.items()}
            active = [h for h, s in states.items() if s == "active"]
            startable = lifecycle.pick_domains(
                states, groups, {groups[h] for h in active},
                self.round_no, self.cfg.steward_batch)
            if not active and not startable:
                break
            _t0 = _time.time()
            self.step()
            self.round_walls.append((self.round_no - 1, _time.time() - _t0))
        # persist the metrics + domain-event tables (queryable forms of the
        # per-round stats carried in the state snapshots; events mirror the
        # reference's domain-lifecycle ES index, worker.py:535-547)
        # driver-built frames are small: one slice, so one file and one
        # job each
        if self.metrics:
            # explicit schema + tuple rows: createDataFrame over a list of
            # dicts pays a full-list schema-inference pass on the driver
            # (measured ~5 s for a 10-round run's metrics)
            # column order/types match what dict inference produced
            # (alphabetical keys, longs) so downstream readers see the
            # identical table schema
            self.t_metrics.overwrite(self._frame(
                [(m["external_links"], m["fetched_200"], m["fetched_404"],
                  m["host"], m["internal_links"], m["round"], m["scheduled"])
                 for m in self.metrics],
                "external_links bigint, fetched_200 bigint, "
                "fetched_404 bigint, host string, "
                "internal_links bigint, round bigint, scheduled bigint"))
        if self.events:
            self.cat.table("domain_events").overwrite(self._frame(
                self.events, "round int, host string, event string"))
        # drop the in-run views; later reads load the committed snapshots
        self._mem = {k: None for k in self._mem}
        return {"rounds": self.round_no,
                "states": {h: d["state"] for h, d in self.dom.items()}}

    @classmethod
    def resume(cls, *args, **kwargs) -> "CrawlEngine":
        """Build an engine from the constructor's arguments, then restore
        the latest round checkpoint: the newest crawl_log state snapshot.

        Crash-safe against mid-round kills: a round's appends and
        compactions land before its checkpoint, so after an abort each
        table can hold snapshots of a round that never finished. Every
        table rolls back to the head the checkpoint names (crawl_log to
        the checkpoint itself; all three to empty when no round finished,
        leaving the constructor's seeded state), which discards the
        aborted snapshots and their data dirs; the re-run round recomputes
        them identically (the engine is deterministic given the
        checkpoint state)."""
        eng = cls(*args, **kwargs)
        ckpt = next((s for s in reversed(eng.t_log.history())
                     if s["op"] == "state"), None)
        st = eng.t_log.load_state(ckpt["state"]) if ckpt else {"heads": {}}
        heads = {**st["heads"], "crawl_log": ckpt and ckpt["id"]}
        for name in ("frontier", "url_seen", "crawl_log"):
            eng._table(name).rollback(heads.get(name))
        if ckpt is None:
            return eng
        eng.round_no = st["round"] + 1
        eng.dom = st["dom"]
        # events/metrics are per-round deltas, one per state snapshot:
        # replay them all in commit order
        for s in eng.t_log.history():
            if s["op"] == "state":
                eng.events.extend(tuple(e) for e in s["state"]["events_delta"])
                eng.metrics.extend(s["state"]["metrics_delta"])
        eng._ckpt_events = len(eng.events)
        eng._ckpt_metrics = len(eng.metrics)
        return eng

    def crawl_order(self) -> list:
        df = self._view("crawl_log")
        if df is None:
            return []
        rows = (df.select("round", "host", "seq", "url")
                .orderBy("round", "host", "seq").collect())
        return [(r["round"], r["host"], r["seq"], r["url"]) for r in rows]

    def url_seen_set(self) -> set:
        df = self._view("url_seen")
        if df is None:
            return set()
        return {(r["host_group"], r["url_key"])
                for r in df.select("host_group", "url_key").distinct().collect()}

    def texts(self) -> dict:
        df = self._view("crawl_log")
        if df is None:
            return {}
        rows = (df.filter(F.col("text").isNotNull())
                .select("url", "text").distinct().collect())
        return {r["url"]: r["text"] for r in rows}


# ---------------------------------------------------------------------------
# self-test: engine vs oracle end-to-end
# ---------------------------------------------------------------------------


def selftest(tmpdir: "str | None" = None, **corpus_kwargs) -> bool:
    import shutil
    import tempfile

    from . import corpus as corpus_mod, refsim
    from .session import build_session
    from .sources import pages_frame

    c = corpus_mod.generate(**corpus_kwargs)
    sim = refsim.Simulator(c).run()

    spark = build_session("disco-selftest")
    wh = tmpdir or tempfile.mkdtemp(prefix="disco_wh_")
    try:
        eng = CrawlEngine(spark, pages_frame(spark, c), c.robots, c.hosts, wh,
                          seeds=c.seeds)
        eng.run()
        ok = True
        order_s, order_e = sim.order, eng.crawl_order()
        if order_s != order_e:
            ok = False
            print(f"ORDER MISMATCH: sim={len(order_s)} eng={len(order_e)}")
            for a, b in zip(order_s, order_e):
                if a != b:
                    print("  first diff:", a, "vs", b)
                    break
        seen_s = {(g, k) for g, ks in sim.url_seen.items() for k in ks}
        if seen_s != eng.url_seen_set():
            ok = False
            print(f"SEEN MISMATCH: sim={len(seen_s)} eng={len(eng.url_seen_set())}")
        texts_e = eng.texts()
        bad_text = [u for u, t in sim.texts.items()
                    if texts_e.get(u, "").encode() != t.encode()]
        if bad_text:
            ok = False
            print(f"TEXT MISMATCH on {len(bad_text)} urls, e.g. {bad_text[:3]}")
        ev_s, ev_e = set(sim.events), set(eng.events)
        if ev_s != ev_e:
            ok = False
            print("EVENT MISMATCH:", ev_s ^ ev_e)
        print("SELFTEST", "PASS" if ok else "FAIL",
              f"({len(order_s)} fetches, {eng.round_no} rounds)")
        return ok
    finally:
        if tmpdir is None:
            shutil.rmtree(wh, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    import sys
    if "--selftest" in sys.argv:
        sys.exit(0 if selftest() else 1)
