"""Frontier scheduling operators beyond the reference's fixed per-host
chunk: global budget reallocation across hosts.

The reference crawler gives every host the same per-round budget
(worker.py:563-640 — a fixed chunk size per steward batch), so rounds
waste budget on hosts with few pending URLs while starving deep hosts.
``budget_waterfill`` computes the classic max-min fair (water-filling)
allocation instead: satisfy small demands in full, split what remains
evenly across the rest — entirely in integer arithmetic so the result
is exact, reproducible, and oracle-checkable.

Scale notes (the 100 TB reading): the computation sorts HOSTS, not
URLs — host cardinality is 10^6-10^7 at a 10^10-URL frontier, so the
single global sort window is a bounded narrow table (host, demand), two
columns.  Everything else is one 1-row aggregate broadcast back over the
sorted table.  The per-URL work (counting demand per host) is the one
big map-side-combinable aggregation, exactly the shuffle the steward
batch already pays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["budget_waterfill", "trap_templates", "recrawl_change_rates",
           "politeness_audit", "mine_junk_params",
           "apply_param_canonicalization", "recrawl_priority",
           "rendezvous_assign", "rendezvous_churn",
           "ucb_priority", "error_ema", "robots_wildcard_gate",
           "parse_robots_rules", "growth_fit",
           "fetch_batch_pack", "conditional_get_plan", "path_cycle_flags",
           "robots_cache_plan"]


def budget_waterfill(demands: DataFrame, budget: int,
                     host_col: str = "host",
                     demand_col: str = "demand") -> DataFrame:
    """Max-min fair integer allocation of ``budget`` fetch slots across
    hosts with pending-URL ``demand``: find the water level L such that
    ``sum(min(demand, L))`` exhausts the budget; hosts below the level
    are satisfied in full, hosts above it get ``L`` (with the integer
    remainder distributed one slot each to the first hosts in
    (demand, host) order — deterministic, no RNG).

    Returns (host, demand, allocated) with the invariants
    ``allocated <= demand``, ``sum(allocated) == min(budget,
    sum(demand))``, and no satisfied host ever receives less than an
    unsatisfied one.

    Pure integer window algebra: rank hosts by (demand, host), prefix-sum
    the demands, pick the largest rank k whose demand could be granted to
    every remaining host within budget (``prefix[k-1] + d[k]*(n-k+1) <=
    B``); the 1-row (k, prefix[k], n) aggregate is broadcast back and the
    allocation is a closed-form expression per row.

    100 TB shape: the ranking window is a single-task global sort —
    DELIBERATE and bounded: the input is the per-HOST demand table
    (10^4-10^6 rows of 3 narrow columns at a 10^10-URL frontier, the same
    class as the steward pick and ``frontier_priority``'s global oracle
    variant), never URL-cardinality data.
    """
    d = demands.select(F.col(host_col).alias("host"),
                       F.col(demand_col).cast("long").alias("demand"))
    w = Window.orderBy("demand", "host")
    # materialize the ranked demand table once: the 1-row level aggregate
    # AND the final allocation projection both consume it — without the
    # checkpoint the broadcast subtree re-executes the caller's whole
    # upstream demand pipeline a second time. Host-cardinality rows, so
    # the materialization is bounded at any corpus scale.
    ranked = d.select(
        "host", "demand",
        F.row_number().over(w).alias("rn"),
        F.sum("demand").over(w).alias("prefix"),
    ).localCheckpoint(eager=True)
    b = F.lit(int(budget)).cast("long")
    # largest k with prefix[k-1] + d[k] * (n - k + 1) <= B  (the level
    # test: grant host k's full demand to it and every larger host)
    okd = (ranked
           .withColumn("n", F.max("rn").over(Window.partitionBy()))
           .withColumn(
               "ok",
               (F.col("prefix") - F.col("demand")
                + F.col("demand") * (F.col("n") - F.col("rn") + 1)) <= b))
    scalar = okd.agg(
        F.max(F.when(F.col("ok"), F.col("rn")).otherwise(0)).alias("k"),
        F.max(F.when(F.col("ok"), F.col("prefix")).otherwise(0))
        .alias("pk"),
        F.max("rn").alias("n"))
    out = ranked.crossJoin(F.broadcast(scalar))
    rem_hosts = F.col("n") - F.col("k")
    leftover = b - F.col("pk")
    # greatest(...,1) guards the k == n (everyone satisfied) case: the
    # otherwise-branch is then never taken, but ANSI mode would still
    # reject a divide-by-zero in the expression
    level = (leftover / F.greatest(rem_hosts, F.lit(1))).cast("long")
    extra = leftover - level * rem_hosts  # == leftover mod rem_hosts
    alloc = (F.when(F.col("rn") <= F.col("k"), F.col("demand"))
             .otherwise(level
                        + F.when(F.col("rn") - F.col("k") <= extra, 1)
                        .otherwise(0)))
    return (out.select("host", "demand",
                       alloc.cast("long").alias("allocated")))


def trap_templates(urls: DataFrame, host_col: str = "host",
                   path_col: str = "path", cap: int = 40) -> DataFrame:
    """Spider-trap detection via URL structural templates: collapse every
    digit run in the path to ``N`` and count distinct URLs per
    (host, template).  A template whose URL count explodes (calendar
    pages, session ids, faceted search) is an infinite-URL-space
    signature — the frontier-hygiene gate crawlers apply before
    scheduling (IRLbot's spam/trap budgeting, Mercator's dup-URL
    observations); the reference has no equivalent (its scope filter is
    host-level only, worker.py:231-268).

    Returns (host, tmpl, n_urls, share_micro, is_trap): the distinct-URL
    count per template, its fixed-point share of the host's distinct
    URLs, and the over-``cap`` flag.

    100 TB shape: two map-side-combinable hash aggregations — distinct
    (host, template, path) then the (host, template) rollup — plus a
    per-host total joined back on the host key (host cardinality is
    bounded, and the join input is already the small rollup, never raw
    URLs).  Pure built-ins, no UDF, no window.
    """
    t = urls.select(
        F.col(host_col).alias("host"),
        F.regexp_replace(F.col(path_col), "[0-9]+", "N").alias("tmpl"),
        F.col(path_col).alias("path"))
    per = (t.groupBy("host", "tmpl")
           .agg(F.count_distinct("path").alias("n_urls")))
    tot = (per.groupBy("host")
           .agg(F.sum("n_urls").alias("host_urls")))
    return (per.join(tot, "host")
            .select("host", "tmpl", "n_urls",
                    F.expr("CAST(n_urls AS BIGINT) * 1000000 DIV "
                           "CAST(host_urls AS BIGINT)").alias("share_micro"),
                    F.when(F.col("n_urls") > cap, 1).otherwise(0)
                    .alias("is_trap")))


def recrawl_change_rates(visits: DataFrame, url_col: str = "url_id",
                         ts_col: str = "ts", content_col: str = "ver",
                         tie_col: "str | None" = None) -> DataFrame:
    """Per-URL change-rate estimation from a revisit log — the freshness
    signal incremental crawlers schedule by (Cho & Garcia-Molina 2003:
    revisit frequency proportional to the observed change rate).  For
    each URL, order its visits by time and count transitions where the
    observed content differs from the previous visit's.

    Returns (url_id, n_visits, n_changed, change_rate_micro, last_ts):
    the revisit count, observed changes, fixed-point changes-per-revisit
    (0 for single-visit URLs), and the latest visit time — the inputs a
    scheduler blends into a recrawl priority (the ``frontier_priority``
    composition pattern).

    ``tie_col`` breaks exact-timestamp ties deterministically (pass the
    event id); without it equal-timestamp visit order would be
    partition-layout-dependent.

    100 TB shape: ONE shuffle on the URL key shared by the lag window
    and the per-URL aggregate (same partitioning, no second exchange);
    output is one narrow row per URL.  Pure built-ins, integer
    arithmetic on the rate.
    """
    order = [F.col(ts_col)] + ([F.col(tie_col)] if tie_col else [])
    w = Window.partitionBy(url_col).orderBy(*order)
    prev = F.lag(F.col(content_col)).over(w)
    lagged = visits.select(
        F.col(url_col), F.col(ts_col), F.col(content_col),
        F.when(prev.isNotNull() & (prev != F.col(content_col)), 1)
        .otherwise(0).alias("chg"))
    return (lagged.groupBy(url_col)
            .agg(F.count(F.lit(1)).alias("n_visits"),
                 F.sum("chg").cast("long").alias("n_changed"),
                 F.max(ts_col).alias("last_ts"))
            .select(F.col(url_col), "n_visits", "n_changed",
                    F.when(F.col("n_visits") > 1,
                           F.expr("CAST(n_changed AS BIGINT) * 1000000 DIV "
                                  "(CAST(n_visits AS BIGINT) - 1)"))
                    .otherwise(0).cast("long").alias("change_rate_micro"),
                    "last_ts"))


def politeness_audit(fetches: DataFrame, host_col: str = "host",
                     ts_col: str = "ts",
                     min_delay_sec: float = 120.0) -> DataFrame:
    """Per-host politeness compliance over a fetch log: inter-fetch gaps
    (lag window per host), the minimum observed gap, and how many gaps
    undershot ``min_delay_sec`` — the audit a crawl operator runs to
    prove the fleet honours crawl-delay before pointing it at real
    hosts (the reference enforces politeness with sleeps,
    worker.py:472-520, but never MEASURES compliance; at fleet scale
    enforcement bugs are found by auditing the log, not the code).

    Returns (host, n_fetches, min_gap_sec_micro, n_violations,
    violation_rate_micro); single-fetch hosts report zero gaps and a
    NULL min gap.

    100 TB shape: one shuffle on the host key shared by the lag window
    and the rollup; gaps are computed as integer microsecond deltas
    (``unix_micros``) so both engines agree exactly.
    """
    w = Window.partitionBy(host_col).orderBy(ts_col)
    lim_us = int(min_delay_sec * 1_000_000)
    # timestampdiff handles TIMESTAMP and TIMESTAMP_NTZ alike (parquet
    # scans yield NTZ, unix_micros would reject it)
    lagged = (fetches.select(
        F.col(host_col), F.col(ts_col).alias("__ts"),
        F.lag(F.col(ts_col)).over(w).alias("__prev"))
        .select(F.col(host_col),
                F.expr("timestampdiff(MICROSECOND, __prev, __ts)")
                .alias("gap_us")))
    return (lagged.groupBy(host_col)
            .agg(F.count(F.lit(1)).alias("n_fetches"),
                 F.min("gap_us").alias("min_gap_us"),
                 F.sum(F.when(F.col("gap_us") < lim_us, 1).otherwise(0))
                 .cast("long").alias("n_violations"))
            .select(F.col(host_col), "n_fetches",
                    F.col("min_gap_us").cast("long")
                    .alias("min_gap_sec_micro"),
                    "n_violations",
                    F.when(F.col("n_fetches") > 1,
                           F.expr("CAST(n_violations AS BIGINT) * 1000000 "
                                  "DIV (CAST(n_fetches AS BIGINT) - 1)"))
                    .otherwise(0).cast("long")
                    .alias("violation_rate_micro")))


def mine_junk_params(urls: DataFrame, url_col: str = "url",
                     hash_col: str = "content_hash",
                     min_values: int = 2) -> DataFrame:
    """URL query-parameter mining (the crawl-hygiene pass behind every
    production canonicalizer, e.g. the URL-normalization rules search
    engines learn): a parameter is JUNK when, everywhere it appears,
    stripping it never changes the fetched content — session ids,
    tracking tags, cache busters. The frontier then canonicalizes junk
    params away BEFORE the seen-check, so ``?session=…`` variants stop
    multiplying the frontier (the reference's suspicious-domain filter
    at worker.py:152-181 catches whole hosts, never the per-param
    pattern).

    Evidence rule, computed from (url, content_hash) observations:
    param ``k`` is junk iff (a) within EVERY group of URLs identical
    except for ``k``'s value — same path, same other params — the
    content hash is constant, and (b) ``k`` was actually observed with
    ≥ ``min_values`` distinct values somewhere (one value = vacuous, no
    evidence either way). Returns one row per param key:
    ``(param, n_urls, n_values, junk)``.

    Precondition: within one URL a given ``k=v`` pair appears at most
    once (duplicate identical pairs would strip together); repeated
    KEYS with different values are fine — each occurrence is judged
    against the others.

    Scale shape: split/explode the query string with built-ins (no
    UDF), then two map-side-combinable hash aggregations — per
    (param, url-minus-param) distinct-hash counts, then a per-param
    rollup — plus one per-param distinct-value/url count joined on the
    tiny param-key table. The shuffled rows are (param, path, others)
    triples; the output is param-cardinality (thousands), never
    URL-cardinality.
    """
    url = F.col(url_col)
    path = F.substring_index(url, "?", 1)
    qs = F.when(url.contains("?"),
                F.substring_index(url, "?", -1)).otherwise(F.lit(""))
    params = F.array_sort(F.filter(F.split(qs, "&"),
                                   lambda x: x != ""))
    base = urls.select(url.alias("u"), F.col(hash_col).alias("h"),
                       path.alias("path"), params.alias("params"))
    ex = (base.select("u", "h", "path", "params",
                      F.explode("params").alias("p"))
          .select("u", "h", "path",
                  F.substring_index("p", "=", 1).alias("k"),
                  F.substring_index(F.col("p"), "=", -1).alias("v"),
                  F.array_join(F.array_remove(F.col("params"),
                                              F.col("p")), "&")
                  .alias("others")))
    grp = (ex.groupBy("k", "path", "others")
           .agg(F.count_distinct("h").alias("nh")))
    per_key = grp.groupBy("k").agg(F.max("nh").alias("max_nh"))
    stats = (ex.groupBy("k")
             .agg(F.count_distinct("u").alias("n_urls"),
                  F.count_distinct("v").alias("n_values")))
    return (per_key.join(stats, "k")
            .select(F.col("k").alias("param"), "n_urls", "n_values",
                    ((F.col("max_nh") == 1)
                     & (F.col("n_values") >= min_values))
                    .cast("int").alias("junk")))


def apply_param_canonicalization(urls: DataFrame, junk: DataFrame,
                                 url_col: str = "url",
                                 param_col: str = "param",
                                 junk_col: str = "junk") -> DataFrame:
    """Apply mined junk-param verdicts (``mine_junk_params``) to a URL
    set: every convicted parameter is stripped and the survivors are
    re-emitted in sorted order, yielding the canonical form the frontier
    seen-check should key on. Returns one row per DISTINCT input URL:
    ``(url, canonical_url)`` — downstream, ``count(distinct
    canonical_url) / count(distinct url)`` is the frontier-shrink win.

    Scale shape: the verdict table is param-cardinality (thousands of
    rows) and broadcasts; the URL side explodes its query string with
    built-ins, drops convicted params against the broadcast map (no
    shuffle), and reassembles per URL with one hash aggregation on the
    URL itself — the same key the seen-check shuffles on anyway, so at
    10^10 URLs this pass rides the exchange the frontier already pays.
    """
    u = urls.select(F.col(url_col).alias("url")).distinct()
    url = F.col("url")
    path = F.substring_index(url, "?", 1)
    qs = F.when(url.contains("?"),
                F.substring_index(url, "?", -1)).otherwise(F.lit(""))
    params = F.filter(F.split(qs, "&"), lambda x: x != "")
    ex = (u.select("url", path.alias("path"),
                   F.explode_outer(params).alias("p"))
          .withColumn("k", F.substring_index("p", "=", 1)))
    verdicts = junk.select(F.col(param_col).alias("k"),
                           F.col(junk_col).alias("__junk"))
    kept = (ex.join(F.broadcast(verdicts), "k", "left")
            .withColumn("keep",
                        F.col("p").isNotNull()
                        & (F.coalesce("__junk", F.lit(0)) == 0)))
    agg = (kept.groupBy("url")
           .agg(F.any_value("path").alias("path"),
                F.array_sort(F.collect_list(
                    F.when(F.col("keep"), F.col("p")))).alias("kp")))
    return agg.select(
        "url",
        F.when(F.size("kp") > 0,
               F.concat(F.col("path"), F.lit("?"),
                        F.array_join("kp", "&")))
        .otherwise(F.col("path")).alias("canonical_url"))


def recrawl_priority(rates: DataFrame, now: str, url_col: str = "url_id",
                     rate_col: str = "change_rate_micro",
                     ts_col: str = "last_ts", k: int = 100) -> DataFrame:
    """Turn ``recrawl_change_rates`` output into the revisit schedule
    itself: priority = staleness × observed change rate (Cho &
    Garcia-Molina 2003 — revisit effort proportional to change
    frequency, weighted by how long since we looked). Returns the
    global top-``k`` ``(url_id, age_sec, change_rate_micro,
    priority_micro)`` — the next recrawl batch.

    ``priority_micro = age_sec * (1 + change_rate_micro)``: the +1
    keeps never-changed pages aging (everything is eventually
    re-verified), and the whole expression stays in BIGINT — age caps
    at ~10^8 s, the rate at 10^6, product ≤ 10^14, no float and no
    overflow. ``now`` is an explicit literal so runs are reproducible
    (never wall-clock).

    Scale shape: a projection over the per-URL rates table plus ONE
    TakeOrdered top-k (never a global sort); ties cannot exist because
    the URL id is the final sort key. At 10^10 URLs run per steward
    batch / host shard exactly like window_budget_rank.
    """
    # age via MICROSECOND diff then integer-divide: Spark's
    # timestampdiff(SECOND) and DuckDB's date_diff('second') disagree by
    # one on sub-second timestamps (boundary-crossing vs truncation);
    # floor(microseconds / 1e6) is identical in both engines (the
    # politeness_audit NTZ lesson, one unit finer)
    age = F.expr(
        f"timestampdiff(MICROSECOND, {ts_col}, timestamp'{now}') "
        f"div 1000000").cast("long")
    scored = rates.select(
        F.col(url_col), age.alias("age_sec"), F.col(rate_col),
        (age * (F.lit(1) + F.col(rate_col))).alias("priority_micro"))
    return (scored
            .orderBy(F.col("priority_micro").desc(), F.col(url_col))
            .limit(k))


def _hrw_weight(key_col: str, shard: str, seed: int):
    return F.conv(F.substring(
        F.md5(F.concat_ws("|", F.lit(str(seed)), F.lit(shard),
                          F.col(key_col).cast("string"))), 1, 8),
        16, 10).cast("bigint")


def rendezvous_assign(df: DataFrame, key_col: str, shards: "list[str]",
                      seed: int = 42, out_col: str = "shard") -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment: each key goes
    to ``argmax over shards of md5(seed|shard|key)``.  This is the
    minimal-churn generalization of the reference's modulo steward hash
    (steward.py:100-130 hashes hosts into a FIXED steward count — any
    fleet resize remaps ~``n/(n+1)`` of all hosts and cold-starts their
    politeness state): under HRW, adding a shard moves only the keys the
    NEW shard now wins, expected ``1/(n+1)`` of them, and removing one
    moves only the removed shard's keys. No key ever moves between two
    surviving shards (each surviving shard's weight is unchanged, so a
    key it already won it still wins) — ``rendezvous_churn``'s test
    pins exactly that.

    Scale shape: the weight list is a row-local literal struct array
    (shard fleets are 10^1-10^3 entries) folded with ``array_max`` —
    pure codegen beside the scan, NO shuffle, no shard table join; the
    10^10-key frontier pays zero exchange for (re)assignment.  Ties
    (p ~ 2^-32 per pair) break deterministically to the highest shard
    index, mirrored exactly by the oracle's descending-index CASE."""
    arr = F.array(*[
        F.struct(_hrw_weight(key_col, s, seed).alias("h"),
                 F.lit(i).alias("i"), F.lit(s).alias("shard"))
        for i, s in enumerate(shards)])
    return df.withColumn(out_col, F.array_max(arr)["shard"])


def rendezvous_churn(df: DataFrame, key_col: str, shards_before: "list[str]",
                     shards_after: "list[str]", seed: int = 42) -> DataFrame:
    """Transition matrix of an HRW fleet resize over the distinct keys of
    ``df``: (shard_before, shard_after, n_keys).  Off-diagonal mass is
    the churn; the HRW invariant says every off-diagonal row's
    ``shard_after`` is a NEWLY ADDED shard (grow) / its ``shard_before``
    a removed one (shrink).  One distinct + one tiny aggregation; both
    assignments are row-local."""
    keys = df.select(F.col(key_col)).distinct()
    a = rendezvous_assign(keys, key_col, shards_before, seed, "shard_before")
    b = rendezvous_assign(a, key_col, shards_after, seed, "shard_after")
    return (b.groupBy("shard_before", "shard_after")
            .agg(F.count(F.lit(1)).alias("n_keys")))


def ucb_priority(history: DataFrame, host_col: str = "host",
                 n_col: str = "n_fetches",
                 wins_col: str = "n_useful") -> DataFrame:
    """UCB1 host scheduling (Auer et al. 2002): rank hosts by
    ``mean_reward + sqrt(2·ln N / n)`` so the frontier keeps probing
    under-sampled hosts (exploration) without abandoning proven ones
    (exploitation) — the bandit answer to the reference's fixed
    round-robin steward batches (steward.py:100-130 hashes hosts into
    equal batches regardless of how productive each host has been).

    Reward per fetch is whatever the caller counts as useful (novel
    content, in-scope links); input is the bounded per-host history
    table (host, n_fetches, n_useful).

    Determinism: everything is fixed-point integer math so the ranking
    is exactly reproducible cross-engine.  ``ln N`` is replaced by
    ``floor(log2(N))`` (same exploration order, base-2; exact in
    doubles for any bigint), and the bonus is
    ``floor(sqrt((2·L·10^12) DIV n))`` micros — the integer division
    happens BEFORE the sqrt so both engines take sqrt of the same exact
    integer (< 2^52, where IEEE-correctly-rounded sqrt + floor is exact
    isqrt).  Never-fetched hosts (n = 0) rank first with an infinite
    bonus, modeled as ucb_micro = 2^62.

    Scale shape: host-cardinality input (10^6-10^7 rows at a 10^10-URL
    frontier), ONE 1-row total-N aggregate broadcast back, then a
    row-local projection — no URL-cardinality data ever moves.
    """
    h = history.select(F.col(host_col).alias("host"),
                       F.col(n_col).cast("long").alias("n"),
                       F.col(wins_col).cast("long").alias("wins"))
    tot = h.agg(F.sum("n").alias("n_total"))
    j = h.crossJoin(F.broadcast(tot))
    L = F.floor(F.log2(F.col("n_total"))).cast("long")
    x = F.lit(2) * L * F.lit(1_000_000_000_000)
    # exact integer division BEFORE the sqrt: (x - x%n) is exactly
    # divisible, its double quotient exact (< 2^53), so both engines take
    # sqrt of the same integer — floor(sqrt(exact int < 2^52)) is isqrt.
    # greatest(n,1) keeps the unused n=0 branch ANSI-safe (waterfill idiom)
    n1 = F.greatest(F.col("n"), F.lit(1))
    q = (x - x % n1).cast("double") / n1.cast("double")
    mean_micro = ((F.col("wins") * F.lit(1_000_000)
                   - (F.col("wins") * F.lit(1_000_000)) % n1)
                  .cast("double") / n1.cast("double"))
    ucb = (F.when(F.col("n") == 0, F.lit(1 << 62))
           .otherwise(mean_micro.cast("long")
                      + F.floor(F.sqrt(q)).cast("long")))
    return (j.select("host", "n", "wins", ucb.alias("ucb_micro"))
            .orderBy(F.col("ucb_micro").desc(), "host"))


def error_ema(rounds: DataFrame, host_col: str = "host",
              round_col: str = "round", err_col: str = "err_micro",
              window: int = 32) -> DataFrame:
    """Per-host exponentially-weighted fetch-error rate with
    ``alpha = 1/2`` — the health signal a scheduler feeds into
    budget_waterfill / ucb_priority to cool down hosts that started
    timing out, while forgiving ancient incidents (the reference only
    tracks a boolean lifetime failure state, worker.py:418-431 marks a
    domain failed and never revisits the decision).

    ``ema_r = (err_r + ema_{r-1}) / 2`` with ``ema_0 = err_0``, folded
    to the closed form ``ema_R = sum_k err_k · w_k`` where
    ``w_k = 2^(k-R-1)`` for k ≥ 1 and ``w_0 = 2^(-R)`` (k = the host's
    0-based observation index in round order), computed over the last
    ``window`` (default 32) observations per host: the truncated series
    treats observation n-window as the seed, which differs from the
    unbounded recursion by < 2^-(window-1)·max_err < 2^-11 micro.

    The window bound is what makes the bit-reproducibility claim TRUE
    for any history length, not just short ones: with alpha = 1/2 every
    weight is a power of two ≥ 2^-(window-1), so each product
    err·2^-j is an exact IEEE shift (micro-scale err < 2^20 needs
    ≤ 20+31 = 51 ≤ 53 significand bits) and every partial sum is an
    exact dyadic rational with the same lsb bound — bit-identical
    cross-engine in ANY summation order, then floored to micros.
    Without the bound, weights 2^-(n-k) for n ≳ 33 push partial sums
    past the 53-bit significand and the floor becomes order-dependent.

    One host-partitioned window for the observation index + one grouped
    sum: a single narrow (host, round, err) shuffle, host-cardinality
    output; the truncation also caps per-host state at ``window`` rows
    for a long-lived crawl."""
    r = rounds.select(F.col(host_col).alias("host"),
                      F.col(round_col).cast("long").alias("rnd"),
                      F.col(err_col).cast("long").alias("err"))
    w = Window.partitionBy("host").orderBy("rnd")
    idx = (r.withColumn("k", F.row_number().over(w) - 1)
           .withColumn("n", F.count(F.lit(1)).over(
               Window.partitionBy("host"))))
    start = F.greatest(F.col("n") - F.lit(window), F.lit(0))
    k2 = F.col("k") - start
    n2 = F.least(F.col("n"), F.lit(window))
    weight = F.when(k2 == 0, F.pow(F.lit(0.5), n2 - 1)) \
              .otherwise(F.pow(F.lit(0.5), n2 - k2))
    return (idx.groupBy("host")
            .agg(F.floor(F.sum(F.when(F.col("k") >= start,
                                      F.col("err").cast("double") * weight)
                               .otherwise(F.lit(0.0))))
                 .cast("long").alias("ema_micro"),
                 F.count(F.lit(1)).alias("n_rounds")))


def robots_wildcard_gate(urls: DataFrame, rules: DataFrame,
                         host_col: str = "host", path_col: str = "path",
                         pattern_col: str = "pattern",
                         allow_col: str = "allow") -> DataFrame:
    """RFC 9309 / Googlebot-style robots matching with ``*`` and ``$``
    wildcards and longest-match-wins precedence — the modern superset of
    the stdlib prefix matcher the reference relies on (robotparser via
    reppy, worker.py:180-200; ``udfs.make_link_kernel`` pins that exact
    legacy semantics).  Real robots.txt files in a Common-Crawl-scale
    corpus use wildcards heavily, so a frontier needs this gate too.

    Semantics per RFC 9309 §2.2.2-2.2.3:

    * ``*`` in a rule matches any character sequence; a TRAILING ``$``
      anchors the rule at the end of the path; otherwise a rule is a
      prefix match.
    * Among the rules of a host that match a path, the MOST SPECIFIC
      (longest ``pattern``, counting wildcards — the octet count the RFC
      prescribes) wins; on a length tie an allow rule beats a disallow
      (``spec DESC, allow DESC``, then pattern DESC as a final
      deterministic tie-break between distinct same-verdict patterns).
    * A path no rule matches is allowed.
    * A rule with more than 10 ``*``s is IGNORED (dropped before
      compilation, the Googlebot bound): robots.txt is
      attacker-controlled input, and a many-star pattern compiled to
      ``.*``-chains backtracks polynomially against long non-matching
      paths inside the executors (ReDoS); real rules use 1-3 stars.

    Implementation: each rule's pattern is compiled to an anchored regex
    BY COLUMN EXPRESSIONS (escape regex metachars, then ``\\*`` → ``.*``,
    ``^`` prefix, ``$`` iff the rule was end-anchored) so rules stay a
    DataFrame — no driver-side compile, no collect.  The gate is one
    host-co-partitioned join (rules are host-bounded: a robots file is
    ~10-100 lines, so the join multiplies each URL by its host's rule
    count only), one RLIKE filter, and one max(struct) winner election —
    the anchor_text_agg idiom, no window over URL cardinality.

    Returns (host, path, allowed, winning pattern or NULL).
    """
    r = (rules.select(F.col(host_col).alias("host"),
                      F.col(pattern_col).alias("pat"),
                      F.col(allow_col).cast("int").alias("allow"))
         .filter(F.length("pat")
                 - F.length(F.expr("replace(pat, '*', '')")) <= 10))
    anchored = F.col("pat").endswith("$")
    body = F.when(anchored, F.expr("substring(pat, 1, length(pat) - 1)")) \
            .otherwise(F.col("pat"))
    esc = F.regexp_replace(body, r"([.^$+?*(){}\[\]|\\])", r"\\$1")
    wild = F.regexp_replace(esc, r"\\\*", ".*")
    rx = F.concat(F.lit("^"), wild,
                  F.when(anchored, F.lit("$")).otherwise(F.lit("")))
    rr = r.select("host", "pat", "allow", rx.alias("rx"),
                  F.length("pat").cast("long").alias("spec"))
    u = (urls.select(F.col(host_col).alias("host"),
                     F.col(path_col).alias("path")).distinct())
    j = (u.join(rr, "host", "left")
         .withColumn("m", F.expr("path rlike rx")))
    win = (j.groupBy("host", "path")
           .agg(F.max(F.when(F.col("m"),
                             F.struct("spec", "allow", "pat")))
                .alias("w")))
    return win.select(
        "host", "path",
        F.coalesce(F.col("w.allow"), F.lit(1)).alias("allowed"),
        F.col("w.pat").alias("rule"))


def parse_robots_rules(robots: DataFrame, host_col: str = "host",
                       txt_col: str = "robots_txt",
                       agent: str = "*") -> DataFrame:
    """Parse raw robots.txt TEXT into the (host, pattern, allow) rules
    table ``robots_wildcard_gate`` consumes — the missing first half of
    the raw-bytes → verdict pipeline (the reference hands the text to
    reppy/robotparser per host in Python, worker.py:180-200; here the
    parse itself is set-oriented, one row per file line).

    RFC 9309 grammar subset, deterministic by construction:

    * lines split on ``\\n``; ``#`` comments stripped; a line parses iff
      it matches ``field: value`` — anything else (blank lines, HTML
      error pages served as robots.txt) is ignored.
    * CONSECUTIVE ``User-agent`` lines form one group header; the
      group's rules run until the next header (a User-agent line whose
      predecessor parsed line is NOT a User-agent line starts a new
      group — the lag/running-sum construction below).
    * group selection for ``agent``: every group listing the agent
      case-insensitively wins; if none, the ``*`` groups.  Per RFC all
      matching groups MERGE (their rules union).
    * ``Allow``/``Disallow`` with an EMPTY pattern matches nothing and
      is dropped (RFC 9309 §2.2.2); ``Crawl-delay``/``Sitemap``/unknown
      fields are out of scope here (the politeness stream models
      crawl-delay separately).

    100 TB shape: one ``posexplode`` over lines (row-local), one
    host-partitioned window pair (lag for group starts, running sum for
    group ids — the SAME host-keyed exchange serves both), one per-host
    semi-join of rule rows against matching group ids.  Host-cardinality
    throughout; robots files are KB-bounded so lines-per-host is ~10^2.

    Returns distinct (host, pattern, allow:int).
    """
    lines = robots.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(txt_col), "\n")).alias("ln", "raw"))
    parsed = (lines
              .withColumn("clean", F.regexp_replace("raw", "#.*$", ""))
              .withColumn("field", F.lower(F.regexp_extract(
                  "clean", r"^\s*([A-Za-z-]+)\s*:\s*(\S*)\s*$", 1)))
              .withColumn("value", F.regexp_extract(
                  "clean", r"^\s*([A-Za-z-]+)\s*:\s*(\S*)\s*$", 2))
              .filter(F.col("field").isin("user-agent", "allow",
                                          "disallow")))
    w = Window.partitionBy("host").orderBy("ln")
    grouped = (parsed
               .withColumn("is_ua", (F.col("field") == "user-agent")
                           .cast("int"))
               .withColumn("prev_ua", F.coalesce(
                   F.lag("is_ua").over(w), F.lit(0)))
               .withColumn("starts", ((F.col("is_ua") == 1)
                                      & (F.col("prev_ua") == 0)).cast("int"))
               .withColumn("gid", F.sum("starts").over(
                   w.rowsBetween(Window.unboundedPreceding, 0))))
    agents = (grouped.filter(F.col("is_ua") == 1)
              .select("host", "gid", F.lower("value").alias("ua")))
    want = agent.lower()
    exact = (agents.filter(F.col("ua") == want)
             .select("host", "gid").distinct())
    star = (agents.filter(F.col("ua") == "*")
            .select("host", "gid").distinct())
    hosts_with_exact = exact.select("host").distinct()
    chosen = exact.unionByName(
        star.join(hosts_with_exact, "host", "left_anti"))
    rules = (grouped.filter((F.col("is_ua") == 0)
                            & (F.length("value") > 0))
             .select("host", "gid", F.col("value").alias("pattern"),
                     (F.col("field") == "allow").cast("int").alias("allow")))
    return (rules.join(chosen, ["host", "gid"])
            .select("host", "pattern", "allow").distinct())


def growth_fit(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Closed-form OLS over an (x, y) series — the frontier-growth
    forecaster: fit discovered-URLs-per-round against the round number
    and extrapolate one round ahead, the signal capacity planning reads
    before the next crawl wave (no ML library, no iteration: the fit is
    ONE exact-integer moment aggregate).

    slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²), intercept = (ΣyΣx² −
    ΣxΣxy) / (same denominator): numerators and denominator are computed
    in exact BIGINT arithmetic, so each output is ONE correctly-rounded
    double division of identical integers cross-engine, rounded to 6dp.
    The next-round forecast is composed from the exact rationals
    ((num·(max_x+1) + inum) / den), never from the rounded outputs.
    Degenerate input (all x equal) yields NULLs rather than a division
    error.

    100 TB shape: one map-side-combinable aggregate over the series —
    the series itself is rounds-cardinality (tiny); the expensive part
    (counting y per x) is whatever aggregation produced the input."""
    # widen BEFORE multiplying: int-typed x·y above ~46340 would wrap in
    # the input type (silently, in non-ANSI Spark) if cast only after
    xl, yl = F.col(x_col).cast("long"), F.col(y_col).cast("long")
    mom = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xl).alias("sx"),
        F.sum(yl).alias("sy"),
        F.sum(xl * xl).alias("sxx"),
        F.sum(xl * yl).alias("sxy"),
        F.max(xl).alias("mx"))
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    inum = F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")
    safe_den = F.when(den != 0, den)   # NULL poisons the degenerate case
    return mom.select(
        F.col("n").alias("n_points"),
        F.round(num.cast("double") / safe_den.cast("double"), 6)
        .alias("slope"),
        F.round(inum.cast("double") / safe_den.cast("double"), 6)
        .alias("intercept"),
        F.round((num * (F.col("mx") + 1) + inum).cast("double")
                / safe_den.cast("double"), 6).alias("forecast_next"))


def fetch_batch_pack(frontier: DataFrame, capacity: int,
                     host_col: str = "host", url_col: str = "url_id",
                     pri_col: "str | None" = None) -> DataFrame:
    """Politeness-aware fetch-batch assignment: interleave the frontier
    round-robin across hosts, then chunk the interleaved order into
    batches of ``capacity`` URLs.  Each URL gets a ``wave`` (its rank
    within its host, priority-first) and a ``batch_id``; because the
    global order is wave-major, a batch mixes hosts maximally — no host
    contributes a (k+1)-th URL to any batch before every other pending
    host has contributed its k-th.  This is the dispatch layout the
    reference approximates with per-steward host chunks
    (worker.py:563-640): one queue slot per host per pass.

    Returns (host, url_id, wave, batch_id), batch_id 0-based; batches
    are exactly ``capacity`` URLs except the last.

    100 TB shape: the wave window partitions by HOST (parallel,
    hot-host-bounded by the frontier cap).  The global interleaved rank
    deliberately does NOT use a single-partition window: like
    ``shard_pack``, it is the two-level scan — per-WAVE row_number
    plus an exclusive per-wave offset.  The offsets are a prefix-sum
    window over the O(waves) size rollup BROADCAST-JOINED back (waves =
    the deepest host's pending count, 10^4-10^5 at a real frontier —
    far too many for a map-literal expression, trivial as a broadcast
    table; measured 3.2 s → sub-second at sf0.1 after the swap).
    """
    if capacity < 1:
        raise ValueError("capacity must be >= 1")
    order = ([F.col(pri_col).desc()] if pri_col else []) + [F.col(url_col)]
    wave = F.row_number().over(
        Window.partitionBy(host_col).orderBy(*order)) - 1
    waved = (frontier.withColumn("wave", wave.cast("long"))
             .select(F.col(host_col).alias("host"),
                     F.col(url_col).alias("url_id"), "wave")
             .localCheckpoint(eager=True))
    pos = F.row_number().over(
        Window.partitionBy("wave").orderBy("host", "url_id")) - 1
    local = waved.withColumn("_pos", pos.cast("long"))
    # exclusive per-wave offsets: a prefix-sum window over the O(waves)
    # size rollup, broadcast-joined back — never a driver collect or a
    # map literal (waves = deepest host's pending count, which at a real
    # frontier can be 10^4-10^5: too big for a literal expression, still
    # trivially small as a broadcast table)
    woff = (local.groupBy("wave").agg(F.count(F.lit(1)).alias("_c"))
            .withColumn(
                "_off",
                F.coalesce(
                    F.sum("_c").over(
                        Window.orderBy("wave")
                        .rowsBetween(Window.unboundedPreceding, -1)),
                    F.lit(0)))
            .select("wave", "_off"))
    local = local.join(F.broadcast(woff), "wave")
    slot = (F.col("_pos") + F.col("_off")).cast("long")
    # exact integer division (float division would wobble past 2^53 slots)
    return (local.withColumn("_slot", slot)
            .select("host", "url_id", "wave",
                    F.expr(f"_slot DIV {int(capacity)}").cast("long")
                    .alias("batch_id")))


def conditional_get_plan(rates: DataFrame, hi_micro: int = 500_000,
                         lo_micro: int = 100_000,
                         url_col: str = "url_id",
                         bytes_col: str = "last_bytes") -> DataFrame:
    """Revalidation economics over ``recrawl_change_rates`` output: pick
    per-URL the cheapest HTTP verb that preserves freshness.  URLs whose
    observed change rate is at least ``hi_micro`` get a full ``fetch``
    (a conditional GET would almost always return 200 anyway, wasting a
    round-trip); between ``lo_micro`` and ``hi_micro`` a ``cond_get``
    (If-None-Match/If-Modified-Since — the expected 304 skips the body);
    below ``lo_micro`` a ``skip`` this cycle.  Single-visit URLs
    (n_visits < 2, rate unknown) always ``fetch``.  The reference
    re-GETs unconditionally (worker.py:370 fetches every scheduled URL);
    at 10^10-URL scale revalidation is the difference between re-paying
    the corpus in bandwidth every cycle and paying only the changed
    slice.

    Returns (url_id, change_rate_micro, action, saved_bytes_micro):
    ``saved_bytes_micro`` is the expected body bytes NOT transferred
    this cycle in byte-micros — ``bytes*(1e6-rate)`` for cond_get (the
    304 probability), ``bytes*1e6`` for skip, 0 for fetch — integer
    arithmetic end to end so the economy report is exactly
    oracle-checkable.

    100 TB shape: a pure per-row projection over the per-URL rates
    table (no shuffle, no window); compose as
    ``conditional_get_plan(recrawl_change_rates(visits))``.
    """
    rate = F.col("change_rate_micro")
    known = F.col("n_visits") >= 2
    action = (F.when(~known | (rate >= hi_micro), "fetch")
              .when(rate >= lo_micro, "cond_get")
              .otherwise("skip"))
    b = F.col(bytes_col).cast("long")
    saved = (F.when(action == "cond_get",
                    b * (F.lit(1_000_000).cast("long") - rate))
             .when(action == "skip", b * F.lit(1_000_000).cast("long"))
             .otherwise(F.lit(0))).cast("long")
    return rates.select(F.col(url_col), rate.alias("change_rate_micro"),
                        action.alias("action"),
                        saved.alias("saved_bytes_micro"))


def path_cycle_flags(urls: DataFrame, host_col: str = "host",
                     path_col: str = "path", min_depth: int = 4,
                     min_dups: int = 2) -> DataFrame:
    """Cycle-trap detection on the URL PATH structure: a path that keeps
    revisiting the same segments (``/a/b/a/b/a``) is the signature of a
    relative-link loop through a rewriting server — each recursion mints
    a "new" URL, so the seen-filter never fires and the frontier grows
    without bound (the classic Mercator trap; ``trap_templates`` catches
    numeric-template explosions, this catches segment recursion — the
    two are complementary frontier-hygiene gates).

    Flags paths with at least ``min_depth`` segments of which at least
    ``min_dups`` repeat earlier ones.  Returns (host, path, depth,
    n_dup_segs, is_cycle_trap).

    100 TB shape: a pure per-row array expression (split → filter →
    array_distinct) — no shuffle, no UDF; runs inside the link-scan
    projection before any URL reaches the frontier.
    """
    segs = F.filter(F.split(F.col(path_col), "/"), lambda s: s != "")
    depth = F.size(segs).cast("long")
    ndup = (F.size(segs) - F.size(F.array_distinct(segs))).cast("long")
    return urls.select(
        F.col(host_col).alias("host"), F.col(path_col).alias("path"),
        depth.alias("depth"), ndup.alias("n_dup_segs"),
        F.when((depth >= min_depth) & (ndup >= min_dups), 1)
        .otherwise(0).alias("is_cycle_trap"))


def robots_cache_plan(hosts: DataFrame, robots_log: DataFrame,
                      now: str, ttl_hours: int = 24,
                      host_col: str = "host",
                      ts_col: str = "ts") -> DataFrame:
    """Robots-cache refresh planning per RFC 9309 §2.4: cached
    robots.txt MAY be used for up to 24 hours; past that a polite
    crawler refetches before scheduling the host again.  For every
    frontier host, join the latest robots-fetch timestamp from the log
    and classify: never fetched → ``fetch_first`` (the host cannot be
    scheduled until robots is known), stale (age > TTL) → ``refetch``,
    else → ``cached``.

    ``now`` is an explicit timestamp string, never wall-clock — plans
    must be reproducible (same input + same now → same plan).  Returns
    (host, last_fetch_ts, age_sec, action); age is NULL for
    never-fetched hosts.  Integer-second arithmetic via timestampdiff
    (NTZ-safe, same idiom as ``politeness_audit``).

    100 TB shape: one map-side-combinable max() per host over the log,
    then a host-keyed join against the (bounded, host-cardinality)
    frontier host list — both tiny next to the URL tables.
    """
    latest = (robots_log.groupBy(F.col(host_col).alias("host"))
              .agg(F.max(ts_col).alias("last_fetch_ts")))
    j = (hosts.select(F.col(host_col).alias("host")).distinct()
         .join(latest, "host", "left"))
    # microsecond diff then integer-divide: SECOND-granularity diffs
    # disagree across engines on fractional timestamps (floor-of-exact vs
    # boundary count); micros are exact in both
    age = F.expr(
        f"timestampdiff(MICROSECOND, last_fetch_ts, TIMESTAMP '{now}') "
        "DIV 1000000").cast("long")
    ttl_sec = int(ttl_hours) * 3600
    action = (F.when(F.col("last_fetch_ts").isNull(), "fetch_first")
              .when(age > ttl_sec, "refetch")
              .otherwise("cached"))
    return j.select("host", "last_fetch_ts", age.alias("age_sec"),
                    action.alias("action"))


def sitemap_recrawl(entries: DataFrame, crawl_log: DataFrame,
                    url_col: str = "loc", lastmod_col: str = "lastmod",
                    log_url_col: str = "url",
                    fetched_col: str = "fetched_on") -> DataFrame:
    """Sitemap-driven conditional recrawl (sitemaps.org ``lastmod``):
    join the publisher-declared change dates against the crawl log's
    last fetch and emit the verdict the scheduler acts on — ``new``
    (never fetched), ``stale`` (declared lastmod strictly after the
    last fetch → refetch), ``fresh`` (fetched on/after lastmod → skip),
    ``unknown`` (no lastmod declared → fall back to
    ``recrawl_priority``'s own change-rate estimator). This is the
    free-information half of recrawl scheduling: where a sitemap is
    honest it replaces conditional-GET probing entirely (the reference
    refetches unconditionally; worker.py has no lastmod handling).

    DATE-granular compares only — whole days, never timestamp
    arithmetic (the cross-engine sub-second hazard ``recrawl_priority``
    documents). Returns ``(url, lastmod, last_fetch, verdict)``.

    Scale shape: both sides project to (url, date) BEFORE the exchange,
    then ONE url-keyed left join — the key the frontier shuffles on
    anyway — plus a codegen CASE; the log side pre-aggregates
    ``max(fetch)`` per url with map-side combine."""
    e = entries.select(F.col(url_col).alias("url"),
                       F.to_date(F.col(lastmod_col)).alias("lastmod"))
    g = (crawl_log.select(F.col(log_url_col).alias("url"),
                          F.to_date(F.col(fetched_col)).alias("lf"))
         .groupBy("url").agg(F.max("lf").alias("last_fetch")))
    verdict = (F.when(F.col("last_fetch").isNull(), "new")
               .when(F.col("lastmod").isNull(), "unknown")
               .when(F.col("lastmod") > F.col("last_fetch"), "stale")
               .otherwise("fresh"))
    return (e.join(g, "url", "left")
            .select("url", "lastmod", "last_fetch",
                    verdict.alias("verdict")))


def robots_crawl_delay(robots: DataFrame, host_col: str = "host",
                       txt_col: str = "robots_txt",
                       agent: str = "discobot") -> DataFrame:
    """Per-host ``Crawl-delay`` extraction with full RFC 9309 group
    semantics — the field ``parse_robots_rules`` deliberately scopes
    out: consecutive User-agent headers share a group, exact-agent
    groups beat and SUPPRESS the ``*`` groups, matching groups merge
    with the MAX declared delay (the conservative politeness read when
    a file declares several), non-numeric and negative values are
    dropped, and fractional delays (the Yandex extension) are kept.
    The reference hardcodes its politeness interval (worker.py:450-461);
    honoring the crawled site's own declared delay is the real-web
    extension.

    Returns ``(host, delay_micro)`` for hosts whose matching group
    declares a valid delay — fixed-point micros via ``floor(value ·
    10^6)`` on the parsed double (short decimal literals parse and
    scale bit-identically cross-engine, so the floor is deterministic).

    100 TB shape: identical to ``parse_robots_rules`` — one row-local
    posexplode over KB-bounded robots lines, ONE host-keyed window
    exchange serving both the lag and the running-sum, host-cardinality
    aggregation after; composable with the rules parse on the same
    exchange."""
    lines = robots.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(txt_col), "\n")).alias("ln", "raw"))
    parsed = (lines
              .withColumn("clean", F.regexp_replace("raw", "#.*$", ""))
              .withColumn("field", F.lower(F.regexp_extract(
                  "clean", r"^\s*([A-Za-z-]+)\s*:\s*(\S*)\s*$", 1)))
              .withColumn("value", F.regexp_extract(
                  "clean", r"^\s*([A-Za-z-]+)\s*:\s*(\S*)\s*$", 2))
              # rule lines stay through the group numbering: a User-agent
              # after an Allow/Disallow opens a new group (RFC 9309 §2.1)
              .filter(F.col("field").isin("user-agent", "crawl-delay",
                                          "allow", "disallow")))
    w = Window.partitionBy("host").orderBy("ln")
    grouped = (parsed
               .withColumn("is_ua", (F.col("field") == "user-agent")
                           .cast("int"))
               .withColumn("prev_ua", F.coalesce(
                   F.lag("is_ua").over(w), F.lit(0)))
               .withColumn("starts", ((F.col("is_ua") == 1)
                                      & (F.col("prev_ua") == 0))
                           .cast("int"))
               .withColumn("gid", F.sum("starts").over(
                   w.rowsBetween(Window.unboundedPreceding, 0))))
    agents = (grouped.filter(F.col("is_ua") == 1)
              .select("host", "gid", F.lower("value").alias("ua")))
    want = agent.lower()
    exact = (agents.filter(F.col("ua") == want)
             .select("host", "gid").distinct())
    star = (agents.filter(F.col("ua") == "*")
            .select("host", "gid").distinct())
    hosts_with_exact = exact.select("host").distinct()
    chosen = exact.unionByName(
        star.join(hosts_with_exact, "host", "left_anti"))
    dval = F.col("value").try_cast("double")
    delays = (grouped.filter((F.col("field") == "crawl-delay")
                             & dval.isNotNull() & (dval >= 0))
              .select("host", "gid",
                      F.floor(dval * 1000000).cast("long")
                      .alias("delay_micro")))
    return (delays.join(chosen, ["host", "gid"])
            .groupBy("host")
            .agg(F.max("delay_micro").alias("delay_micro")))
