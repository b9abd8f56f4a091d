"""Link-graph operators: PageRank over the outlink graph and anchor-text
aggregation — the two classic web-corpus graph computations a crawl
pipeline runs between rounds (frontier prioritization by authority, and
per-target anchor summaries for indexing).

The reference crawler orders its frontier by discovery generation +
per-host budget only (worker.py:563-640 hash-ordered steward batches); a
web-scale crawl additionally prioritizes by link authority. ``pagerank``
supplies that signal as a first-class DataFrame operator so the scheduler
can join it into the priority expression.

Scale notes (the 100 TB reading):

* ``pagerank`` is the standard synchronous power iteration with ONE
  exchange per round: the edge join's message rows (dst, r/outdeg) and
  the fixed state rows (n, dangling, p) meet in one ``groupBy`` on the
  node id (the ``connected_components`` round shape), with no key join
  back to the state. Such a join is never exchange-free: under AQE a
  ``localCheckpoint`` reports ``UnknownPartitioning(0)``, so the join
  would re-shuffle the state every round, and AQE would re-plan it as a
  broadcast that runs as one more job. The edge table is joined with
  outdeg, repartitioned by ``src`` and persisted ONCE; that persisted
  layout does keep its hash partitioning, so only the narrow ranks move
  to meet it, and at small sizes (the benchmark's 200-node graph) the
  planner broadcasts the layout once per round instead. ``opic`` and
  the BFS frontier expansion share the round shape. The dangling mass
  is observed by the checkpoint that materializes the ranks
  (``CheckpointScope.ckpt(observe=)``) and folded into the next round
  as a literal: no aggregate job, no broadcast.
* Rounds are ``localCheckpoint``-ed (every round on graphs with dangling
  nodes, whose mass the driver reads; every ``_PAGERANK_CKPT_EVERY``
  otherwise) so the logical plan stays flat — the failure mode measured
  for connected_components (dedup.py). Superseded checkpoints are freed
  by the operator's ``ckpt.CheckpointScope``.
* ``anchor_text_agg`` is two map-side-combinable hash aggregations and
  nothing else — no window, no sort: the per-target winner is elected
  with ``max(struct(cnt, anchor))`` exactly like the passage-dedup winner
  election. Two narrow exchanges ((target, anchor) counts, then the
  per-target rollup), both behind partial aggregation — deliberately NOT
  collapsed to one by pre-partitioning on target, which would shuffle
  raw link rows uncombined (anchor text repeats massively on the web;
  the map-side combine is worth the second exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .ckpt import CheckpointScope

__all__ = ["pagerank", "anchor_text_agg", "hits", "bfs_depth",
           "cocitation", "label_propagation", "resolve_redirects",
           "reciprocity", "opic", "harmonic_centrality"]


# Intermediate pagerank rounds chained lazily between eager checkpoints on
# dangling-free graphs (graphs with dangling nodes checkpoint every round).
_PAGERANK_CKPT_EVERY = 6


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             iters: int = 5, damping: float = 0.85,
             personalization: DataFrame | None = None,
             seed_col: str | None = None) -> DataFrame:
    """Power-iteration PageRank over an edge table; returns (node, pagerank).

    Semantics (the textbook formulation, so the DuckDB oracle can unroll
    it exactly):

    * node set = distinct union of src and dst endpoints
    * r0(v) = 1/N for every node
    * r_{t+1}(v) = (1-d)/N + d * (sum_{u->v} r_t(u)/outdeg(u) + D_t/N)
      where D_t = total rank mass on dangling nodes (no out-edges)
    * exactly ``iters`` synchronous rounds, no convergence test — the
      caller picks the round count (rank deltas decay ~d^t); ``iters=0``
      returns r0.

    With ``personalization`` (a one-column DataFrame of seed node ids)
    this becomes TrustRank (Gyöngyi et al. 2004) — the spam-demotion
    variant a web crawl runs with a hand-vetted seed list: the teleport
    vector p(v) is uniform over the SEEDS (0 elsewhere) instead of 1/N,
    and both the (1-d) teleport term and the dangling redistribution use
    p(v), so rank mass can only enter the graph at trusted nodes:

    * r0(v) = p(v)
    * r_{t+1}(v) = (1-d)*p(v) + d * (sum_{u->v} r_t(u)/outdeg(u)
      + D_t*p(v))

    Seeds absent from the node set are ignored (they can neither receive
    nor forward mass); an empty effective seed set raises. p rides in the
    one checkpointed state table (n, dangling, p) whose rows every round
    groups with its messages — never a driver-side structure. A NULL
    endpoint is one dangling node that receives no link mass and is never
    a seed (``_node_table``).

    Multi-edges are collapsed first (a crawl link graph counts a link
    once per (src, dst) page pair); self-loops are kept as ordinary edges
    if present upstream — filter before calling if the graph semantics
    exclude them.

    Round materialization policy (round-6 shape): the FINAL round is
    always eagerly localCheckpoint-ed (consumers read settled blocks and
    a downstream ``count()`` measures real work). A round references the
    previous ranks exactly once, so on dangling-free graphs up to
    ``_PAGERANK_CKPT_EVERY`` intermediate rounds chain lazily as a
    straight-line plan (linear work — verified with a noop sink). With
    dangling nodes present every round is checkpointed: its checkpoint
    observes D_t, which the next round's blend reads as a literal. The
    setup counts (N, |S|, and the dangling node and seed counts that
    give D_0) are observed by the state checkpoint the same way.
    """
    with CheckpointScope(edges.sparkSession.sparkContext) as scope:
        # the deduped edge table feeds two derivations (the node table and
        # the per-round edge layout) — materialize it once so neither
        # re-runs the upstream lineage
        e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
             .distinct())
        # ONE state table carries everything a round needs beside the
        # edges: (n, dangling, p). The state checkpoint observes the
        # counts the run reads on the driver. n_dangling == 0 lets every
        # round skip the dangling mass outright (D_t ≡ 0 exactly): a
        # data-dependent fast path that is exact at any scale, and real
        # link graphs deduped on (src, dst) usually have few or no
        # dangling nodes
        flags, c, contrib_edges = _node_table(
            scope, scope.ckpt(e), personalization, seed_col)
        n_nodes, n_seeds = c["n"], c["s"]
        if personalization is not None and n_seeds == 0:
            raise ValueError("pagerank personalization: no seed node is "
                             "present in the graph")
        base = (1.0 - damping) / n_nodes
        # teleport vector p as a lazy projection over the state blocks
        state = flags.select(
            "n", "dangling",
            (F.when(F.col("seed"), F.lit(1.0 / n_seeds))
             .otherwise(F.lit(0.0))
             if personalization is not None else F.lit(0.0)).alias("p"))
        # ranks carries the dangling flag so each round's checkpoint can
        # observe the next round's dangling mass
        ranks = state.select(
            "n", "dangling",
            (F.col("p") if personalization is not None
             else F.lit(1.0 / n_nodes)).alias("r"))
        # D_0 = the r0 mass on dangling nodes: c["d"] addends of 1/N, or
        # (TrustRank) c["ds"] addends of 1/|S| — only seeds hold r0 mass
        dmass = (c["ds"] * (1.0 / n_seeds) if personalization is not None
                 else c["d"] * (1.0 / n_nodes))
        # Round chaining: the final round is ALWAYS eagerly
        # localCheckpoint-ed (materializing every column — so a downstream
        # count() measures the real computation and consumers read settled
        # blocks). A round references the previous ranks exactly ONCE (the
        # message join; its state rows come from the fixed flags
        # checkpoint), so on dangling-free graphs intermediate rounds
        # chain lazily — the chained segment is a straight-line plan whose
        # materialization executes every exchange once (linear work,
        # verified with a noop sink), it just pays one job-dispatch
        # sequence instead of one per round. With dangling nodes present
        # the next round needs D_t on the driver, so every round is
        # checkpointed and its checkpoint observes that mass; it enters
        # the blend as a literal (the HITS norm idiom).
        every = 1 if c["d"] else _PAGERANK_CKPT_EVERY
        last = None
        for t in range(1, iters + 1):
            # one exchange per round: the message rows (n=dst, c) and the
            # state rows (n, dangling, p) meet in ONE groupBy on n — the
            # connected_components round shape; a state row's NULL c adds
            # nothing to the sum
            msgs = (contrib_edges
                    .join(ranks.select(F.col("n").alias("src"), "r"), "src")
                    .select(F.col("dst").alias("n"),
                            (F.col("r") / F.col("outdeg")).alias("c")))
            grouped = (state.unionByName(msgs, allowMissingColumns=True)
                       .groupBy("n")
                       .agg(F.max("dangling").alias("dangling"),
                            F.max("p").alias("p"),
                            F.sum("c").alias("contrib")))
            recv = F.coalesce(F.col("contrib"), F.lit(0.0))
            if personalization is None:
                r = F.lit(base) + F.lit(damping) * (
                    recv + F.lit(dmass) / F.lit(float(n_nodes)))
            else:
                r = (F.lit(1.0 - damping) * F.col("p") + F.lit(damping)
                     * (recv + F.lit(dmass) * F.col("p")))
            ranks = grouped.select("n", "dangling", r.alias("r"))
            if t % every == 0 or t == iters:
                ranks, m = scope.ckpt(ranks, replaces=last, observe={
                    "dmass": F.sum(F.when(F.col("dangling"), F.col("r")))})
                last = ranks
                dmass = m["dmass"] or 0.0
        # iters=0 returns r0, a projection over the state blocks
        scope.keep(ranks if iters else flags)
        return ranks.select(F.col("n").alias("node"),
                            F.col("r").alias("pagerank"))


def _node_table(scope, e, seeds=None, seed_col=None):
    """The setup of ``pagerank`` and ``opic``: ONE union-aggregate over
    the edge table ``e`` (src, dst) builds the node table
    (n, outdeg, dangling, seed) — src rows count the out-degree, dst rows
    only name a node, and seed rows set ``seed`` and are kept only if an
    edge names the node. Returns the checkpointed node table, the counts
    its checkpoint observes (nodes n, dangling d, seeds s, dangling seeds
    ds) and the edge table joined with outdeg, laid out by src and
    persisted.

    NULL ids keep the semantics of an equi-join: a NULL endpoint is one
    node that is dangling (its out-edges join nothing) and is never a
    seed; an edge into NULL counts in its source's out-degree, and its
    share leaves the graph."""
    rows = (e.select(F.col("src").alias("n"),
                     F.col("src").isNotNull().cast("long").alias("o"),
                     F.lit(False).alias("s"))
            .union(e.select(F.col("dst").alias("n"),
                            F.lit(0).cast("long").alias("o"),
                            F.lit(False).alias("s"))))
    if seeds is not None:
        scol = F.col(seed_col if seed_col is not None else seeds.columns[0])
        # seed rows carry a NULL out-degree term, so a node named by seed
        # rows alone sums to NULL and is dropped; a NULL seed sets no flag
        rows = rows.union(seeds.select(scol.alias("n"),
                                       F.lit(None).cast("long").alias("o"),
                                       scol.isNotNull().alias("s")))
    nodes, c = scope.ckpt(
        rows.groupBy("n").agg(F.sum("o").alias("outdeg"),
                              F.max("s").alias("seed"))
        .filter(F.col("outdeg").isNotNull())
        .select("n", "outdeg", (F.col("outdeg") == 0).alias("dangling"),
                "seed"),
        observe={"n": F.count(F.lit(1)), "d": F.count_if("dangling"),
                 "s": F.count_if("seed"),
                 "ds": F.count_if(F.col("dangling") & F.col("seed"))})
    contrib_edges = scope.persist(
        e.filter(F.col("dst").isNotNull())
        .join(nodes.select(F.col("n").alias("src"), "outdeg"), "src")
        .repartition("src").sortWithinPartitions("src"))
    return nodes, c, contrib_edges


def anchor_text_agg(links: DataFrame, target: str = "target",
                    anchor: str = "anchor") -> DataFrame:
    """Per-target anchor-text summary: total in-links, distinct anchors,
    and the modal anchor text (ties broken toward the lexicographically
    LARGEST anchor so the winner is deterministic on both engines).

    Returns (target, n_links, n_anchors, top_anchor). Two hash
    aggregations, both map-side combinable; the winner election is
    ``max(struct(cnt, anchor))`` — no window, no per-target sort.
    """
    per_anchor = (links.groupBy(F.col(target).alias("target"),
                                F.col(anchor).alias("anchor"))
                  .agg(F.count(F.lit(1)).alias("cnt")))
    return (per_anchor.groupBy("target")
            .agg(F.sum("cnt").alias("n_links"),
                 F.count(F.lit(1)).alias("n_anchors"),
                 F.max(F.struct("cnt", "anchor")).alias("_w"))
            .select("target", "n_links", "n_anchors",
                    F.col("_w.anchor").alias("top_anchor")))


def hits(edges: DataFrame, src: str = "src", dst: str = "dst",
         iters: int = 5, round_dp: int = 9) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) — PageRank's companion
    frontier signal: authorities are pages many hubs point to, hubs are
    pages that point to many authorities. Returns (node, authority, hub),
    both L1-normalized, 6dp.

    Semantics (textbook synchronous iteration, so the oracle unrolls it):
    h0(v) = 1 for every node; each round computes
    a(v) = Σ_{u→v} h(u) then L1-normalizes, then h(u) = Σ_{u→v} a(v)
    then L1-normalizes — exactly ``iters`` rounds, no convergence test.
    Scores are rounded to ``round_dp`` dp after EVERY normalization in
    both engines (the quality_lr GD lesson): summation-order drift can
    never compound across iterations, so the DuckDB mirror matches the
    6dp output exactly.

    Scale shape: the edge table is shuffled ONCE per join side — two
    persisted layouts (by src for the hub→authority push, by dst for the
    authority→hub pull), the standard space-for-shuffle trade; only the
    narrow, SPARSE (node, score) tables move per round (zero rows carry
    no L1 mass and no join contribution — zeros are re-attached once at
    the end). Each half-step checkpoints its RAW sums and observes their
    L1 norm in that same job (``CheckpointScope.ckpt(observe=)``); the
    norm is folded back as a literal (bit-identical IEEE division, no
    aggregate or broadcast job, and the norm never re-runs the edge
    join). Superseded blocks are released by the operator's
    ``CheckpointScope``."""
    if iters < 1:
        raise ValueError("hits() needs iters >= 1 (scores are only "
                         "L1-normalized after a full round)")
    with CheckpointScope(edges.sparkSession.sparkContext) as scope:
        # the deduped edge table feeds THREE derivations (the two
        # persisted join layouts and the node set) — materialize it once
        # so none of them re-runs the upstream lineage (the pagerank setup
        # lesson)
        e = scope.ckpt(
            edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
            .distinct())
        nodes = (e.select(F.col("src").alias("n"))
                 .union(e.select(F.col("dst").alias("n")))
                 .distinct())
        by_src = scope.persist(e.repartition("src")
                               .sortWithinPartitions("src"))
        by_dst = scope.persist(e.repartition("dst")
                               .sortWithinPartitions("dst"))

        def _l1_over_ckpt(df, key, col, prev):
            # checkpoint the raw scores, observing their L1 norm in the
            # same job; the norm is folded back as a literal — a Python
            # float IS an IEEE-754 double, so the division is
            # bit-identical to a broadcast-column form
            raw, m = scope.ckpt(df, replaces=prev,
                                observe={"norm": F.sum(col)})
            return raw, raw.select(F.col(key).alias("n"),
                                   F.round(F.col(col) / F.lit(m["norm"]),
                                           round_dp).alias(col))

        # Internal states are SPARSE: a score table only carries nodes
        # whose raw sum has a contributing edge — a dense zero row neither
        # moves any L1 norm (adds 0.0) nor any push/pull sum (joins
        # contribute 0), so the per-half-step outer join against the full
        # node set that the previous shape paid for is equivalent to one
        # left join at the END that re-attaches 0.0 for never-scored
        # nodes. A half-step checkpoint is now exactly: edge join +
        # (dst|src) aggregation — the eager per-half-step cadence stays,
        # because the next half-step needs the observed L1 norm on the
        # driver.
        # h0 over out-edge sources only (other nodes' hub 1.0 feeds no push).
        h = by_src.select(F.col("src").alias("n")).distinct() \
            .select("n", F.lit(1.0).alias("hub"))
        raw_a = raw_h = None
        for _ in range(iters):
            raw_a, a = _l1_over_ckpt(
                by_src.join(h.select(F.col("n").alias("src"), "hub"), "src")
                .groupBy("dst").agg(F.sum("hub").alias("authority")),
                "dst", "authority", raw_a)
            raw_h, h = _l1_over_ckpt(
                by_dst.join(a.select(F.col("n").alias("dst"), "authority"),
                            "dst")
                .groupBy("src").agg(F.sum("authority").alias("hub")),
                "src", "hub", raw_h)
        # materialize the full output once (every column — a downstream
        # count() then measures the real computation, and the zero-attach
        # left joins cannot be pruned away)
        return scope.keep(scope.ckpt(
            nodes.join(a, "n", "left").join(h, "n", "left")
            .select(F.col("n").alias("node"),
                    F.round(F.coalesce("authority", F.lit(0.0)), 6)
                    .alias("authority"),
                    F.round(F.coalesce("hub", F.lit(0.0)), 6)
                    .alias("hub"))))


def bfs_depth(edges: DataFrame, seeds: DataFrame, src: str = "src",
              dst: str = "dst", seed_col: str | None = None,
              max_iters: int = 32) -> DataFrame:
    """Seed-set BFS: minimum link distance from any seed to each reachable
    node — the crawl-depth signal (the reference tracks a per-URL discovery
    generation only implicitly, via its round counter; worker.py's steward
    loop never exposes "how many hops from the seed list is this page",
    which is the standard frontier-quality / crawl-policy feature: depth
    correlates with spam and decreasing utility on the web graph).

    Returns (node, depth) for REACHED nodes only (seeds at depth 0);
    unreachable nodes are absent — left-join downstream if a NULL-depth
    row per orphan is wanted. Deterministic: min over a set, no RNG.

    Semantics (so the DuckDB oracle can mirror it with a bounded
    recursive CTE): depth(v) = length of the shortest directed path from
    any seed, computed by synchronous frontier expansion — round t settles
    exactly the nodes whose BFS depth is t. Raises if a frontier is still
    non-empty after ``max_iters`` rounds (web-graph diameters are tiny;
    a deeper graph means the caller's bound, and the oracle's recursion
    bound, must rise together).

    Scale shape: the edge table is repartitioned by src and persisted
    ONCE (a layout that keeps its hash partitioning), and every round's
    expansion joins the narrow frontier against it; each round
    checkpoints ONLY its frontier (flat plans — the connected_components
    lesson), and the settled set is the lazy union of those O(diameter)
    materialized narrow blocks, so no round pays a second
    materialization for a dense settled table. Each round is ONE
    exchange: settled ∪ reached grouped on the node id with
    ``min(depth)``, kept where the minimum is the new level — a
    distinct + anti-join against the checkpointed settled set would
    shuffle both again (a checkpoint carries no partitioning) and AQE
    would broadcast the join as a further job. Edge work totals O(edges
    within the reached subgraph), the textbook frontier BFS bound, and
    each of the O(diameter) rounds rescans the narrow settled set.
    The emptiness test is a row count the round's frontier checkpoint
    observes (no job of its own); the output is consolidated into ONE
    checkpoint at the end and the per-round blocks are released."""
    if seed_col is None:
        seed_col = seeds.columns[0]
    with CheckpointScope(edges.sparkSession.sparkContext) as scope:
        e = scope.persist(
            edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
            .distinct().repartition("src").sortWithinPartitions("src"))
        reached = _expand_frontiers(
            scope, e, seeds.select(F.col(seed_col).alias("node")).distinct()
            .withColumn("depth", F.lit(0).cast("long")),
            [], "depth", max_iters, "bfs_depth")
        # consolidate the O(diameter) per-round frontier blocks into ONE
        # materialized table — callers hold a single checkpoint
        return scope.keep(scope.ckpt(reached))


def _expand_frontiers(scope, e, frontier, carry, level, max_iters, name):
    """Synchronous frontier expansion over the src-partitioned edge table
    ``e`` — the BFS loop of ``bfs_depth`` and ``harmonic_centrality``.
    ``frontier`` holds the level-0 rows ``(node, *carry, level)``; round
    t checkpoints exactly the ``(node, *carry)`` keys first reached at
    distance t: one union + ``groupBy(node, *carry)`` with ``min(level)``,
    filtered to level t. Returns the lazy union of every round's
    checkpointed frontier; raises if a frontier is still non-empty after
    ``max_iters`` rounds."""
    keys = ["node", *carry]
    frontiers = [scope.ckpt(frontier)]
    for t in range(1, max_iters + 1):
        # settled is a LAZY union of the checkpointed per-round frontiers
        # — each round's groupBy scans the union of O(diameter)
        # materialized narrow blocks instead of paying a second
        # materialization per round for a dense settled table (halves the
        # round's checkpoint jobs; web diameters keep the union width tiny)
        settled = frontiers[0]
        for f in frontiers[1:]:
            settled = settled.unionByName(f)
        # one exchange per round: the reached keys, tagged t, meet the
        # settled ones in ONE groupBy; a key whose min level is t is new
        reached = (e.join(frontiers[-1].select(F.col("node").alias("src"),
                                               *carry), "src")
                   .select(F.col("dst").alias("node"), *carry,
                           F.lit(t).cast("long").alias(level)))
        frontier, m = scope.ckpt(
            settled.unionByName(reached).groupBy(*keys)
            .agg(F.min(level).alias(level)).filter(F.col(level) == t),
            observe={"rows": F.count(F.lit(1))})
        if not m["rows"]:
            return settled
        frontiers.append(frontier)
    raise RuntimeError(
        f"{name} frontier still non-empty after {max_iters} rounds — raise "
        f"max_iters AND the oracle's recursion bound together")


def cocitation(edges: DataFrame, src: str = "src", dst: str = "dst",
               max_out_degree: int = 50, min_count: int = 2) -> DataFrame:
    """Co-citation similarity (Small 1973, the webgraph related-pages /
    mirror-detection primitive): two pages are related when many sources
    link to BOTH. Returns (a, b, cocite) with a < b — the count of
    distinct sources citing both endpoints.

    Scale shape: the all-pairs blowup is bounded BEFORE the self-join by
    capping each source's out-list at ``max_out_degree`` (keep the
    lexicographically smallest targets — deterministic, so both engines
    cap identically): a mega-hub directory page would otherwise
    contribute O(outdeg²) pairs on its own while carrying almost no
    similarity signal (the standard super-hub drop in co-citation /
    collaborative-filtering pipelines). After the cap the join is
    per-src bounded at C(cap, 2) pairs, partitioned on src, and the
    final (a, b) count is one map-side-combinable aggregation;
    ``min_count`` prunes the long singleton tail before it ships to the
    caller. Multi-edges collapse first (a source cites a target once).
    """
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .distinct())
    w = Window.partitionBy("src").orderBy("dst")
    capped = (e.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") <= max_out_degree).drop("__rn"))
    x, y = capped.alias("x"), capped.alias("y")
    return (x.join(y, (F.col("x.src") == F.col("y.src"))
                   & (F.col("x.dst") < F.col("y.dst")))
            .groupBy(F.col("x.dst").alias("a"), F.col("y.dst").alias("b"))
            .agg(F.count(F.lit(1)).alias("cocite"))
            .filter(F.col("cocite") >= min_count))


def label_propagation(edges: DataFrame, src: str = "src", dst: str = "dst",
                      iters: int = 4) -> DataFrame:
    """Synchronous, deterministic label propagation communities (LPA,
    Raghavan et al. 2007) over the undirected link graph: every node
    starts labeled with itself; each round it adopts the most frequent
    label among its neighbors, ties broken by the SMALLEST label.  Fixed
    ``iters`` synchronous rounds make the result a pure function of the
    graph (asynchronous/randomized LPA is not reproducible — useless for
    an oracle-checked pipeline).  Detects host communities / mirror
    farms / link rings between crawl rounds — the policy signal that
    caps or downweights a whole community rather than one host.

    Returns (node, community).

    100 TB shape: per round exactly two map-side-combinable hash
    aggregations — (node, neighbor-label) counts, then the per-node
    winner via ``max(struct(cnt, -label))`` — no window, no sort.  The
    symmetrized edge table is repartitioned on the join key and persisted
    ONCE; labels are the only narrow table that moves per round, each
    generation localCheckpoint-ed and the superseded one released
    (``CheckpointScope``).
    """
    a, b = F.col(src).alias("a"), F.col(dst).alias("b")
    with CheckpointScope(edges.sparkSession.sparkContext) as scope:
        und = scope.persist(edges.select(a, b)
                            .union(edges.select(F.col(dst).alias("a"),
                                                F.col(src).alias("b")))
                            .filter(F.col("a") != F.col("b"))
                            .distinct()
                            .repartition("b")
                            .sortWithinPartitions("b"))
        # the identity labeling is never joined (round one degenerates,
        # see below) — no point materializing it; iters=0 returns it lazily
        labels = (und.select(F.col("a").alias("n")).distinct()
                  .select("n", F.col("n").alias("lab")))
        for rnd in range(iters):
            if rnd == 0:
                # identity labels: every neighbor label is distinct (und
                # is a deduped pair set), so the frequency vote
                # degenerates to the -label tie-break — round one is
                # exactly min(neighbor id) per node: one aggregation, no
                # join, no second groupBy
                new = (und.groupBy("a").agg(F.min("b").alias("lab"))
                       .select(F.col("a").alias("n"), "lab"))
            else:
                nb = und.join(labels.withColumnRenamed("n", "b"), "b")
                cnt = nb.groupBy("a", "lab").agg(F.count(F.lit(1))
                                                 .alias("cnt"))
                new = (cnt.groupBy("a")
                       .agg(F.max(F.struct(F.col("cnt"),
                                           (-F.col("lab")).alias("neg")))
                            .alias("w"))
                       .select(F.col("a").alias("n"),
                               (-F.col("w.neg")).alias("lab")))
            labels = scope.ckpt(new, replaces=labels)
        if iters:
            scope.keep(labels)
        return labels.select("n", F.col("lab").alias("community"))


def resolve_redirects(redirects: DataFrame, src: str = "src",
                      dst: str = "dst", max_hops: int = 8) -> DataFrame:
    """Whole-graph redirect-chain resolution: for every URL in the
    redirect map (sources and targets), the terminal URL its chain lands
    on, the exact hop count, and whether the chain resolves within
    ``max_hops``. The reference follows redirects one hop at a time with
    ``allow_redirects=False`` during its scheme/www probes
    (crawler-node/src/crawler/worker.py:286-340, is_redirect_local at
    worker.py:228-245) and caps the walk; this is the batch analog a
    frontier needs — collapsing every discovered URL to its redirect
    terminal BEFORE the seen-check, so `a → b → c` never occupies three
    frontier slots and re-crawls of moved sites dedup to the new home.

    Input must be a FUNCTIONAL map (at most one ``dst`` per ``src`` — an
    HTTP response has one Location header); duplicate sources would make
    the walk nondeterministic, so duplicates raise. Returns
    ``(url, final_url, hops, resolved)`` for every distinct URL in
    src ∪ dst: terminals resolve to themselves at hop 0; a chain of
    length L ≤ max_hops resolves with ``hops = L``; longer chains AND
    cycles (a cycle never terminates) report ``final_url = NULL,
    hops = max_hops, resolved = 0`` — exactly what a crawler's
    too-many-redirects abort records.

    Algorithm: pointer doubling on the map itself. Round k's table maps
    each source to the node 2^k hops away — or to its terminal with the
    exact hop count if the chain ends sooner (the left join simply
    misses, freezing the row). ceil(log2(max_hops)) rounds therefore
    settle every chain of length ≤ max_hops, and every row still
    mid-chain afterwards has walked ≥ max_hops hops, which proves its
    chain is longer than the cap — no cycle detection pass needed.
    Each round is ONE self-join of the checkpointed map, shuffling on
    the join key; rounds are O(log max_hops), not O(chain length), and
    per-round plans stay flat (the connected_components lineage lesson).
    At a 10^10-URL frontier the map is the redirect subset (~1-5% of
    URLs); every stage is hash-partitioned on the URL — no driver-side
    state, no collect.
    """
    m = redirects.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    with CheckpointScope(redirects.sparkSession.sparkContext) as scope:
        jump = scope.ckpt(m.select("a", "b",
                                   F.lit(1).cast("long").alias("s")))
        dup = (jump.groupBy("a").count().filter(F.col("count") > 1)
               .isEmpty())
        if not dup:
            raise ValueError("resolve_redirects needs a functional map: "
                             "a src with two dsts has no single chain")
        rounds = max(1, (max_hops - 1).bit_length())  # ceil(log2(max_hops))
        for _ in range(rounds):
            nxt = (jump.alias("l")
                   .join(jump.select(F.col("a").alias("b"),
                                     F.col("b").alias("b2"),
                                     F.col("s").alias("s2")).alias("r"),
                         "b", "left")
                   .select(F.col("l.a").alias("a"),
                           F.coalesce("r.b2", "l.b").alias("b"),
                           (F.col("l.s")
                            + F.coalesce("r.s2", F.lit(0))).alias("s")))
            jump = scope.ckpt(nxt, replaces=jump)
        scope.keep(jump)
    srcs = m.select(F.col("a").alias("t")).distinct()
    uni = (m.select(F.col("a").alias("url"))
           .union(m.select(F.col("b").alias("url"))).distinct())
    mark = srcs.select(F.col("t").alias("b"), F.lit(1).alias("__in_map"))
    res = (uni.join(jump.withColumnRenamed("a", "url"), "url", "left")
           .join(mark, "b", "left"))
    terminal = F.col("__in_map").isNull()
    resolved = (F.col("b").isNotNull() & terminal
                & (F.col("s") <= max_hops)) | F.col("b").isNull()
    return res.select(
        "url",
        F.when(F.col("b").isNull(), F.col("url"))
        .when(resolved, F.col("b")).alias("final_url"),
        F.when(F.col("b").isNull(), F.lit(0).cast("long"))
        .when(resolved, F.col("s"))
        .otherwise(F.lit(max_hops).cast("long")).alias("hops"),
        resolved.cast("int").alias("resolved"))


def reciprocity(edges: DataFrame, src: str = "src",
                dst: str = "dst") -> DataFrame:
    """Per-node link reciprocity — the classic link-farm / link-exchange
    signal (Gyöngyi & Garcia-Molina, "Link Spam Alliances", 2005): spam
    cliques reciprocate nearly every edge, while organic authority is
    overwhelmingly one-directional. Run over the HOST graph (collapse
    page edges to host edges first — host cardinality is 10^6-10^7 at a
    10^10-URL frontier, so the input here is the small graph). Returns
    ``(node, out_deg, mutual, reciprocity_micro)`` per source node:
    distinct out-neighbors, how many of them link back, and the
    fixed-point ratio (micros, integer division — exact and
    engine-portable, the frontier_priority lesson).

    Scale shape: dedup the edge set once, then ONE self-semi-join on the
    full (src, dst) pair marks mutual edges — both sides hash-partition
    on the same composite key — and two map-side-combinable counts per
    src finish it. No windows, no driver state.
    """
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .filter(F.col("a") != F.col("b")).distinct())
    rev = e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    mutual = e.join(rev, ["a", "b"], "left_semi")
    out = e.groupBy("a").agg(F.count(F.lit(1)).alias("out_deg"))
    mut = mutual.groupBy("a").agg(F.count(F.lit(1)).alias("mutual"))
    return (out.join(mut, "a", "left")
            .select(F.col("a").alias("node"), "out_deg",
                    F.coalesce("mutual", F.lit(0)).alias("mutual"))
            .withColumn("reciprocity_micro",
                        F.expr("(mutual * 1000000) div out_deg")))


def opic(edges: DataFrame, src: str = "src", dst: str = "dst",
         iters: int = 5, cash0: int = 1_000_000) -> DataFrame:
    """OPIC — On-line Page Importance Computation (Abiteboul, Preda &
    Cobéna, WWW 2003): the importance estimator built FOR crawling.
    Unlike PageRank (a batch fixpoint over a frozen snapshot), OPIC's
    cash/history pair is incremental — a crawler can update it one page
    at a time as fetches land, and the running ``history + cash`` total
    ranks the frontier at any instant without waiting for convergence.
    This operator is the synchronous batch step a Spark round runs over
    the links discovered so far; the reference crawler has no importance
    signal at all (its steward batches are hash-ordered,
    steward.py:100-130), so this is the upgrade path its frontier needs.

    Semantics (exact, so the DuckDB oracle can unroll it):

    * node set = distinct src ∪ dst endpoints; multi-edges collapse
    * cash_0(v) = ``cash0`` micros, history_0(v) = 0 (what ``iters=0``
      returns)
    * each round, synchronously: every node banks its cash into history
      and distributes it — ``cash DIV outdeg`` to each out-neighbor;
      DANGLING nodes distribute ``cash DIV n_nodes`` to every node (the
      paper's virtual page, flattened)
    * importance after the round = history + received cash

    All arithmetic is INTEGER micros with floor division, so the result
    is bit-reproducible cross-engine; the remainders (< outdeg micros
    per node·round) are retired, a documented sub-ppm mass decay instead
    of a float-summation-order hazard.

    Scale shape mirrors ``pagerank``: one union-aggregate builds the node
    table, the edge table is joined with outdeg and laid out by src ONCE,
    and each round is ONE exchange — the message rows (dst, cash DIV
    outdeg) and the previous state's rows grouped on the node id, no key
    join back to the checkpointed state. The dangling cash is observed by
    each round's state checkpoint and enters the next round as a
    literal, and superseded states are released — O(iters) flat plans,
    no driver-side per-node state. A NULL endpoint is one dangling node
    that receives no cash (``_node_table``).
    """
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .distinct())
    with CheckpointScope(edges.sparkSession.sparkContext) as scope:
        nodes, c, contrib_edges = _node_table(scope, e)
        n_nodes = max(c["n"], 1)  # an empty graph divides no row
        dcash = int(cash0) * c["d"]  # round 0: every node holds cash0
        state = nodes.select(
            "n", "dangling", F.lit(int(cash0)).cast("long").alias("cash"),
            F.lit(0).cast("long").alias("hist"))
        for _ in range(iters):
            # the pagerank round: message rows (n=dst, recv) and the
            # state rows meet in ONE groupBy on n
            msgs = (contrib_edges
                    .join(state.select(F.col("n").alias("src"), "cash"),
                          "src")
                    .select(F.col("dst").alias("n"),
                            F.expr("cash div outdeg").alias("recv")))
            new_state = (
                state.unionByName(msgs, allowMissingColumns=True)
                .groupBy("n")
                .agg(F.max("dangling").alias("dangling"),
                     (F.coalesce(F.sum("recv"), F.lit(0))
                      + F.lit(dcash // n_nodes)).cast("long").alias("cash"),
                     (F.max("hist") + F.max("cash")).cast("long")
                     .alias("hist")))
            state, m = scope.ckpt(new_state, replaces=state, observe={
                "dcash": F.sum(F.when(F.col("dangling"), F.col("cash")))})
            dcash = m["dcash"] or 0
        # iters=0 returns the round-0 state, a projection over the nodes
        scope.keep(state if iters else nodes)
    return state.select(F.col("n").alias("node"), "cash", "hist",
                        (F.col("cash") + F.col("hist"))
                        .alias("importance_micro"))


def harmonic_centrality(edges: DataFrame, src: str = "src",
                        dst: str = "dst", max_iters: int = 32) -> DataFrame:
    """Harmonic centrality H(v) = sum over u != v reaching v of 1/d(u, v)
    — the ranking Common Crawl publishes for its host graph (Boldi &
    Vigna, "Axioms for centrality", 2014) and the standard crawl-priority
    signal that, unlike PageRank, is well-defined on the web graph's many
    non-strongly-connected components. Distance is directed u -> v, so
    centrality counts the pages that can REACH v (incoming authority),
    matching the Common Crawl host-rank convention. The reference orders
    its frontier by hash + budget only (worker.py:563-640); harmonic is
    the between-rounds authority signal its scheduler lacks.

    All-pairs BFS by pair-frontier expansion: settled (node, origin,
    dist) triples grow one synchronous round at a time; round t settles
    exactly the pairs at shortest distance t (a min-level groupBy keeps
    minima, like bfs_depth). Output per reached node: ``harmonic_micro``
    = sum of floor(1e6 / d) per reaching origin (per-term integer floor,
    then integer sum — exact in any order, so a DuckDB recursive-CTE
    oracle matches bit-for-bit) and ``n_reachers``. Pair tuples are
    O(n^2) worst case — this is the oracle-parity / small-graph path,
    NOT the 100 TB plan.

    The edge table is laid out ONCE (repartitioned by src and persisted,
    a layout that keeps its hash partitioning); every round joins the
    narrow frontier against it, and at small sizes the planner
    broadcasts the layout once per round. A round is the one-exchange
    union + ``groupBy`` of ``_expand_frontiers``; each round rescans the
    settled pairs. Round state is localCheckpoint-ed with superseded
    blocks released (``CheckpointScope``). Raises past ``max_iters``
    non-empty frontiers, mirroring the oracle's recursion bound.
    """
    with CheckpointScope(edges.sparkSession.sparkContext) as scope:
        e = scope.persist(
            edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
            .filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
            .distinct().repartition("src").sortWithinPartitions("src"))
        nodes = (e.select(F.col("src").alias("node"))
                 .union(e.select(F.col("dst").alias("node")))
                 .distinct())
        settled = _expand_frontiers(
            scope, e, nodes.select("node", F.col("node").alias("origin"),
                                   F.lit(0).cast("long").alias("dist")),
            ["origin"], "dist", max_iters, "harmonic_centrality")
        return scope.keep(scope.ckpt(
            settled.filter(F.col("dist") > 0)
            .groupBy("node")
            .agg(F.sum(F.floor(F.lit(1000000) / F.col("dist")))
                 .cast("long").alias("harmonic_micro"),
                 F.count(F.lit(1)).cast("long").alias("n_reachers"))))


def degree_powerlaw(edges: DataFrame, src: str = "src", dst: str = "dst",
                    d_min: int = 1) -> DataFrame:
    """Out-degree-distribution audit for a link graph (multi-edges
    collapse first): the full degree histogram with exact integer CCDF
    plus the Hill (1975) MLE of the power-law tail exponent,
    alpha = 1 + n / sum ln(d_i / d_min) over nodes with d_i >= d_min —
    the web-graph sanity check (in/out degrees
    are famously Zipfian, alpha ~ 2.1/2.7 for the web) and the input to
    skew planning: the histogram IS the evidence for whether a
    hot-host/hot-digest key needs salting, and alpha says how bad the
    heaviest key grows with corpus size.

    Returns one row per distinct degree: (degree, n_nodes, ccdf_micro,
    alpha_mhat) — ccdf_micro = floor(1e6 * |{v: deg(v) >= d}| / n), all
    integer arithmetic (exact across engines); alpha_mhat repeats on
    every row, rounded to 6 dp (a sum of ~n logs carries last-ulp
    accumulation-order noise; 6 dp is 9 orders above it).

    Scale shape: two map-side-combinable hash aggregations (node degree,
    then histogram) and ONE global window over the HISTOGRAM — bounded
    by the number of DISTINCT degrees (≤ max degree, thousands at web
    scale), not by nodes; the Hill sum is a 1-row broadcast aggregate
    over the degree table. Nothing row-scale is sorted.
    """
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .distinct())
    deg = (e.groupBy(F.col("src").alias("node"))
           .agg(F.count(F.lit(1)).cast("long").alias("degree")))
    hist = (deg.groupBy("degree")
            .agg(F.count(F.lit(1)).cast("long").alias("n_nodes")))
    stats = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(F.when(F.col("degree") >= d_min,
                     F.log(F.col("degree") / F.lit(float(d_min)))))
        .alias("slog"),
        F.sum(F.when(F.col("degree") >= d_min, 1).otherwise(0))
        .cast("long").alias("n_tail"))
    w = Window.orderBy(F.col("degree").desc())
    return (hist.withColumn("cum", F.sum("n_nodes").over(w))
            .crossJoin(F.broadcast(stats))
            .select("degree", "n_nodes",
                    F.expr("(cum * 1000000) div n_total")
                    .cast("long").alias("ccdf_micro"),
                    F.round(F.lit(1.0)
                            + F.col("n_tail") / F.col("slog"), 6)
                    .alias("alpha_mhat")))
