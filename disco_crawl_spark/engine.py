"""The PySpark crawl engine — the reference's whole distributed loop as
DataFrame jobs over snapshot-versioned tables.

Design (SURVEY.md §1.3/§3.1 'Spark rewrite'):

- **frontier / url_seen / crawl_log are DataFrames** backed by icelite
  snapshot tables (tables.py); collected links derive from the crawl log.
  One crawl round commits one snapshot set — that IS the checkpoint
  (resumable mid-crawl, north_star).
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
- **two shuffles per round** on the hot path: the fetch join (by url) and
  the generation-build distinct/anti-join (by host,link). Everything else
  is broadcast (bounds, robots) or narrow (parse UDF, explode).

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

from functools import cached_property

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import functions as cf, lifecycle, robots as robots_mod, udfs
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
        self.robots_allow = udfs.make_robots_allow(spark, robots_corpus)
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
        _, data_dir = self._table(name).append(delta, self.round_no)
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
        dirs until an explicit ``expire_before``.

        The compact snapshot is stamped with the LAST CHECKPOINTED round
        (the hook runs after ``round_no`` advances): resume rolls each
        table back to its newest snapshot with round <= the checkpoint's,
        so a compaction stamped with the not-yet-run next round would be
        discarded on every resume; stamped with the finished round it IS
        the snapshot resume lands on."""
        tf = max(2, self.spark.sparkContext.defaultParallelism // 2)
        rnd = max(self.round_no - 1, 0)
        for name in names:
            t = self._table(name)
            cur = t.current_snapshot()
            if not cur or not cur["data"] or len(cur.get("files", ())) <= tf:
                continue                    # nothing worth rewriting
            t.compact(self.spark, rnd, target_files=tf,
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

    def _drop_views(self):
        # drop in-run views (the committed snapshots hold the same rows);
        # later reads re-load from them
        self._mem = {k: None for k in self._mem}

    # ------------------------------------------------------------------
    # generation preparation (worker.py:685-693): normalize + robots filter,
    # dense positions in raw order
    # ------------------------------------------------------------------
    def _prepare(self, raw: DataFrame) -> DataFrame:
        """raw: (host, session, gen, ord, link_raw) → frontier rows."""
        allowed = raw.filter(self.robots_allow(F.col("host"), F.col("link_raw")))
        w = Window.partitionBy("host", "session", "gen").orderBy("ord")
        return (
            allowed
            .withColumn("link", udfs.normalize_href(F.col("link_raw")))
            .withColumn("pos", F.row_number().over(w) - 1)
            .select("host", "session", "gen", "pos", "link")
        )

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
        if started:
            self._first_generation(started)

    def _first_generation(self, hosts: list):
        """Commit the started hosts' first generation, as refsim's
        ``_start_domain``: kick links from the crawl log, else the root.
        A host crawled in an earlier session resumes from its log
        (worker.py:244-280): url_seen is blacklist-seeded with every
        previously fetched URL's key, and the kickstart is their internal
        links minus fetched, sorted, capped. Kickstart links are NOT
        seen-inserted (reference-faithful). A host with no kick links,
        fresh or with every logged link already crawled (worker.py:678-679
        'if not next_links'), starts from its root."""
        # one slice: the frame is <= steward_batch rows, and a
        # parallelized local relation pays ~0.15 s per SLICE on every
        # downstream interaction in this environment (the repartition(1)
        # end-of-run lesson) — 32 four-row slices made round 0's frontier
        # prepare+commit a multi-second job
        sess = self.spark.createDataFrame(
            [(h, self.dom[h]["session"], self.dom[h]["scheme"])
             for h in hosts],
            "host string, session int, scheme string").repartition(1)
        roots = sess
        kick = None
        resumed = [h for h in hosts if self.dom[h]["ever_crawled"]]
        if resumed:
            logs = self._view("crawl_log").filter(F.col("host").isin(resumed))
            crawled = (logs.select("host", "url").distinct()
                       .withColumn("url_key", udfs.url_seen_key(F.col("url"))))
            sk = F.broadcast(sess.select("host", "session"))
            self._append("url_seen", crawled.join(sk, "host")
                         .withColumn("host_group", cf.host_group(F.col("host")))
                         .select("host", "session", "host_group", "url_key"))
            kick = (logs.select("host", F.explode("links").alias("link_raw"))
                    .distinct()
                    .withColumn("url_key", udfs.url_seen_key(F.col("link_raw")))
                    .join(crawled.select("host", "url_key"),
                          ["host", "url_key"], "left_anti"))
            w = Window.partitionBy("host").orderBy("link_raw")
            kick = (kick.withColumn("ord", F.row_number().over(w))
                    .filter(F.col("ord") <= self.cfg.max_pages)
                    .join(sk, "host")
                    .select("host", "session", F.lit(1).alias("gen"), "ord",
                            "link_raw"))
            roots = sess.join(kick.select("host").distinct(), "host",
                              "left_anti")
        raw = roots.select("host", "session", F.lit(1).alias("gen"),
                           F.lit(0).alias("ord"),
                           F.concat(F.col("scheme"), F.lit("://"),
                                    F.col("host"), F.lit("/")).alias("link_raw"))
        if kick is not None:
            raw = kick.unionByName(raw)
        delta = self._append("frontier", self._prepare(raw))
        counts = {r["host"]: r["count"]
                  for r in delta.groupBy("host").count().collect()}
        for h in hosts:
            self.dom[h]["gen_size"] = counts.get(h, 0)

    # ------------------------------------------------------------------
    # one crawl round
    # ------------------------------------------------------------------
    def step(self):
        rnd = self.round_no
        self._start_domains()

        # -- schedule: per-host pos range [cursor, cursor+budget) ------
        bounds_rows = []
        for h in self._active_hosts():
            d = self.dom[h]
            if d["cursor"] < d["gen_size"]:
                bounds_rows.append((h, d["session"], d["gen"], d["cursor"],
                                    min(d["cursor"] + d["budget"],
                                        d["gen_size"]), d["scheme"]))
        results = None
        schedule = None
        if bounds_rows:
            bounds = self.spark.createDataFrame(
                bounds_rows,
                "host string, session int, gen int, lo int, hi int, scheme string")
            frontier = self._view("frontier")
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
            # snapshot. NOT collected here: when a generation ends this
            # round, _build_generations folds it into its own counts
            # collect — one driver action per round instead of two (the
            # per-action dispatch latency is the round loop's serial
            # floor)
            stats_df = results.groupBy("host").agg(
                F.count(F.lit(1)).alias("scheduled"),
                F.sum(F.when(F.col("status") == 200, 1).otherwise(0))
                 .alias("fetched_200"),
                F.sum(F.size("links")).alias("internal_links"),
                F.sum(F.size("external_links")).alias("external_links"),
                F.flatten(F.collect_set("discovered")).alias("discovered"),
            )
        else:
            stats_df = None

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
        capped = [h for h in ended if self.dom[h]["crawled"] >= self.cfg.max_pages]
        build = [h for h in ended if h not in capped]
        for h in capped:
            self.dom[h]["state"] = "seen"  # cap exit: NOT finished
        if build:
            stats_rows = self._build_generations(build, schedule, stats_df)
        elif stats_df is not None:
            stats_rows = stats_df.collect()
        else:
            stats_rows = []

        # -- per-host fetch/parse metrics + new-domain discovery -------
        discovered_all = set()
        for r in stats_rows:
            sch = r["scheduled"] if "scheduled" in r else None
            if sch is None:
                continue
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

        # -- snapshot the driver state (the round checkpoint) ----------
        self.t_log.commit_state(rnd, self._state_dict())
        # watermarks advance only after the checkpoint LANDS: a failed
        # commit leaves the deltas pending for the next attempt
        self._ckpt_events = len(self.events)
        self._ckpt_metrics = len(self.metrics)
        self.round_no += 1
        if self.compact_every and self.round_no % self.compact_every == 0:
            self._compact(["frontier", "url_seen", "crawl_log"])

    def _build_generations(self, hosts: list, schedule: "DataFrame | None",
                           stats_df: "DataFrame | None" = None):
        """SURVEY.md §8.3 frontier-update rule, one distributed pass for all
        generation-ending hosts. ``stats_df`` (the round's per-host
        fetch/parse aggregation) rides along in the counts collect so the
        whole round runs ONE driver action beyond its three table
        commits; returns the collected rows for the caller's metrics
        accounting."""
        sess = self.spark.createDataFrame(
            [(h, self.dom[h]["session"], self.dom[h]["gen"],
              self.dom[h]["scheme"]) for h in hosts],
            "host string, session int, gen int, scheme string")
        # collected links are derived from the crawl log (the log stores
        # each page's raw internal links, exactly like the reference's ES
        # docs) — no separate table, no extra per-round write
        log = self._view("crawl_log")
        if log is None:
            cand = self.spark.createDataFrame(
                [], "host string, link string, scheme string")
        else:
            cand = (log.join(F.broadcast(sess), ["host", "session", "gen"])
                    .select("host", F.explode("links").alias("link"), "scheme")
                    .distinct())
        # minus the generation's LAST chunk (this round's schedule)
        if schedule is not None:
            last_chunk = (schedule.filter(F.col("host").isin(hosts))
                          .select("host", "link").distinct())
            cand = cand.join(last_chunk, ["host", "link"], "left_anti")
        cand = (cand
                .withColumn("url_key", udfs.url_seen_key(F.col("link")))
                .withColumn("host_group", cf.host_group(F.col("host"))))
        # anti-join against this session's seen keys
        seen = self._view("url_seen")
        if seen is not None:
            seen = (seen.join(F.broadcast(sess.select("host", "session")),
                              ["host", "session"])
                    .select("host", "url_key").distinct())
            cand = cand.join(seen, ["host", "url_key"], "left_anti")
        # within-batch key dedup: first raw link per key wins (the oracle
        # marks keys sequentially in sorted order)
        wk = Window.partitionBy("host", "url_key").orderBy("link")
        cand = (cand.withColumn("rn", F.row_number().over(wk))
                .filter(F.col("rn") == 1).drop("rn").persist())
        # fill the shared cand cache ONCE at natural parallelism (one
        # cheap parallel count over the round's delta). This (a) lets the
        # two table commits below run CONCURRENTLY — the r4 experiment
        # that measured concurrent commits slower raced both jobs into
        # materializing this cache; with the cache pre-filled the race is
        # gone — and (b) returns the exact candidate count that sizes the
        # seen append's output files from DATA instead of inheriting the
        # cached plan's partition count (32 near-empty files per round at
        # bench widths; ~1.5 M keys ≈ 100 MB per file at any width, so
        # wide rounds keep writing many files in parallel)
        n_cand = cand.count()
        # every survivor is seen-inserted, even ones the cap then drops
        new_seen = (cand.join(F.broadcast(sess.select("host", "session")), "host")
                    .select("host", "session", "host_group", "url_key")
                    .coalesce(int(n_cand // 1_500_000) + 1))
        nxt = cand.withColumn("link_raw", udfs.domainize(
            F.col("host"), F.col("link"), F.col("scheme")))
        if schedule is not None:
            nxt = nxt.join(
                last_chunk.select("host", F.col("link").alias("link_raw")),
                ["host", "link_raw"], "left_anti")
        w = Window.partitionBy("host").orderBy("link")
        nxt = (nxt.withColumn("ord", F.row_number().over(w))
               .filter(F.col("ord") <= self.cfg.max_pages)
               .join(F.broadcast(sess.select(
                   "host", "session", (F.col("gen") + 1).alias("gen"))),
                   ["host"])
               .select("host", "session", "gen", "ord", "link_raw"))
        nxt = nxt.persist()
        # the two commits touch different tables and both read only the
        # pre-filled cand cache; a mid-round kill discards BOTH tables'
        # uncheckpointed deltas on resume (rollback is per-table by round,
        # engine.resume), so commit order between them is immaterial —
        # overlap them so the frontier job's tail backfills the seen
        # write's idle executors (guide §2.6 shape)
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_seen = pool.submit(self._append, "url_seen", new_seen)
            f_front = pool.submit(
                lambda: self._append("frontier", self._prepare(nxt)))
            prepared_delta = f_front.result()
            f_seen.result()
        # ONE collect for everything the driver needs this round: raw
        # next-gen size (finish decision — an all-robots-filtered gen
        # still stays active one round, like the reference), prepared
        # size (the schedule cursor bound), and — when the caller hands
        # one in — the round's per-host fetch/parse stats
        counts_df = (nxt.groupBy("host").agg(F.count(F.lit(1)).alias("raw_n"))
                     .join(prepared_delta.groupBy("host")
                           .agg(F.count(F.lit(1)).alias("prep_n")),
                           "host", "full_outer"))
        if stats_df is not None:
            counts_df = stats_df.join(counts_df, "host", "full_outer")
        stats = counts_df.collect()
        raw_counts = {r["host"]: (r["raw_n"] or 0) for r in stats}
        counts = {r["host"]: (r["prep_n"] or 0) for r in stats}
        cand.unpersist()
        nxt.unpersist()
        for h in hosts:
            d = self.dom[h]
            if raw_counts.get(h, 0) == 0:
                self._event(self.round_no, h, "finished")
                self._finish_host(h)
            else:
                d.update(gen=d["gen"] + 1, cursor=0,
                         gen_size=counts.get(h, 0))
        return stats

    # ------------------------------------------------------------------
    # run / resume / results
    # ------------------------------------------------------------------
    def _state_dict(self) -> dict:
        """Round-checkpoint payload. ``dom`` is the full mutable state
        (O(active + seen hosts), compact 3-field entries for inactive
        hosts); events/metrics are PER-ROUND DELTAS — serializing the
        full accumulated lists made the checkpoint an O(rounds x hosts)
        serial term that grew every round (measured 0.1 -> 6 s/round
        over a 10-round 1000-host crawl). ``resume`` replays the deltas
        of every state snapshot in commit order, so the reconstructed
        lists are identical to the in-memory ones."""
        return {"round": self.round_no, "dom": self.dom,
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
        # driver-built frames are small: always a single file each
        if self.metrics:
            # explicit schema + tuple rows: createDataFrame over a list of
            # dicts pays a full-list schema-inference pass on the driver
            # (measured ~5 s for a 10-round run's metrics)
            # column order/types match what dict inference produced
            # (alphabetical keys, longs) so downstream readers see the
            # identical table schema
            self.t_metrics.overwrite(
                self.spark.createDataFrame(
                    [(m["external_links"], m["fetched_200"],
                      m["fetched_404"], m["host"], m["internal_links"],
                      m["round"], m["scheduled"])
                     for m in self.metrics],
                    "external_links bigint, fetched_200 bigint, "
                    "fetched_404 bigint, host string, "
                    "internal_links bigint, round bigint, scheduled bigint")
                .repartition(1), self.round_no)
        if self.events:
            self.cat.table("domain_events").overwrite(
                self.spark.createDataFrame(
                    [(r, h, m) for r, h, m in self.events],
                    "round int, host string, event string")
                .repartition(1), self.round_no)
        # drop cached deltas; later reads come from the committed snapshots
        self._drop_views()
        return {"rounds": self.round_no,
                "states": {h: d["state"] for h, d in self.dom.items()}}

    @classmethod
    def resume(cls, spark, pages, robots_corpus, host_attrs, warehouse,
               config=None) -> "CrawlEngine":
        """Rebuild an engine from the latest committed round checkpoint.

        Crash-safe against mid-round kills: a round's table appends land
        before its ``commit_state`` checkpoint, so after an abort the head
        snapshots can be op='append' deltas of a round that never finished.
        Recovery scans history for the newest real checkpoint (op='state')
        and ROLLS BACK frontier/url_seen/crawl_log to their last snapshot of
        that round — aborted deltas are discarded from every view, and the
        re-run round recomputes them identically (the engine is
        deterministic given the checkpoint state)."""
        eng = cls(spark, pages, robots_corpus, host_attrs, warehouse,
                  config=config)
        ckpt = next((s for s in reversed(eng.t_log.history())
                     if s["op"] == "state" and s.get("state")), None)
        if ckpt is None:
            # no finished round: start over from scratch
            for name in ("frontier", "url_seen", "crawl_log"):
                eng._table(name).rollback(None)
            return eng
        st = eng.t_log.load_state(ckpt["state"])
        eng.round_no = st["round"] + 1 if "round" in st else 0
        eng.dom = st["dom"]
        # events/metrics are per-round deltas (one per state snapshot):
        # replay every checkpoint up to and including the chosen one, in
        # commit order.
        eng.events, eng.metrics = [], []
        for s in eng.t_log.history():
            if s["op"] != "state" or not s.get("state"):
                continue
            if s["id"] > ckpt["id"]:
                break
            ss = s["state"]
            eng.events.extend(tuple(e) for e in ss.get("events_delta", []))
            eng.metrics.extend(ss.get("metrics_delta", []))
        eng._ckpt_events = len(eng.events)
        eng._ckpt_metrics = len(eng.metrics)
        ckpt_round = st.get("round", -1)
        for name in ("frontier", "url_seen", "crawl_log"):
            t = eng._table(name)
            good = [s for s in t.history() if s["round"] <= ckpt_round]
            t.rollback(good[-1]["id"] if good else None)
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
