"""Structured Streaming form of the reference's Kinesis post-processing
pipeline (postprocessor/README.md:3-16).

The reference chains five Kinesis streams (qualified_urls → verified_raw →
verified_bs4 → verified_goose → readability_scored), one OS process per
shard, memoizing each stage as an S3 object (base_node.py:58-96). Here the
whole chain is ONE streaming query: readStream over the pages/crawl_log
table → text extraction + readability + quality columns → writeStream with
checkpointing. Shards become partitions; stage memoization becomes
exactly-once micro-batch semantics (fixing the duplicate-records bug the
reference documents, postprocessor/README.md:23); the missing
checkpointing (settings.py:20-21 'TODO') is a checkpointLocation.

``run_postprocess_batch`` is the batch-round equivalent the engine uses
(same transformation, applied incrementally under null-guard memoization,
process_bs4.py:22-23).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import textstats
from .. import udfs


def postprocess_columns(df: DataFrame, html_col: str = "html",
                        url_col: str = "url") -> DataFrame:
    """The stage chain as column transforms: raw-repair+text (process_raw +
    process_bs4), readability struct (process_readability), plus quality/
    token stats (our training-data additions), and the verified_goose
    main-content stage (goose3 when importable, a deterministic stdlib
    heuristic otherwise — refsem.goose_text). Only textract is skipped:
    acknowledged broken in the reference (process_textract.py:34)."""
    parsed = df.withColumn(
        "_p", udfs.parse_page(F.col(html_col), F.col(url_col),
                              F.coalesce(F.parse_url(F.col(url_col),
                                                     F.lit("HOST")),
                                         F.lit("")),
                              F.lit("https"),
                              F.lit(None).cast("string")))
    out = (parsed
           .withColumn("text_extracted", F.col("_p.text"))
           .withColumn("title", F.col("_p.title"))
           .withColumn("keywords", F.col("_p.keywords"))
           .withColumn("content_hash", F.col("_p.content_hash"))
           .drop("_p"))
    # the verified_goose stage: main-content text (goose3 when importable,
    # stdlib heuristic otherwise — refsem.goose_text)
    out = out.withColumn("text_goose", udfs.goose_text(F.col(html_col)))
    return out.withColumn(
        "readability", textstats.readability_struct(F.col("text_extracted")))


def run_postprocess_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    available_now: bool = True,
):
    """Streaming query over a pages parquet directory. ``available_now``
    processes the current backlog then stops (used in tests and backfills);
    without it the query follows new files — the live-crawl tail."""
    src = (spark.readStream.schema(
        "url string, warc_ts timestamp, html binary, text string, lang string")
        .parquet(input_path))
    out = postprocess_columns(src)
    writer = (out.writeStream.format("parquet")
              .option("path", output_path)
              .option("checkpointLocation", checkpoint_path)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_postprocess_batch(df: DataFrame) -> DataFrame:
    """Batch-round form with the reference's idempotence semantics: rows
    that already carry text are not recomputed (stage memoization,
    process_bs4.py:22-23)."""
    fresh = postprocess_columns(df.filter(F.col("text").isNull()))
    done = (df.filter(F.col("text").isNotNull())
            .withColumn("text_extracted", F.col("text"))
            .withColumn("title", F.lit(None).cast("string"))
            .withColumn("keywords", F.lit(None).cast("array<string>"))
            .withColumn("content_hash", F.lit(None).cast("string"))
            .withColumn("text_goose", F.lit(None).cast("string"))
            .withColumn("readability",
                        textstats.readability_struct(F.col("text"))))
    return fresh.unionByName(done)


def windowed_crawl_metrics(df: DataFrame, ts_col: str = "ts",
                           key_col: str = "event_type",
                           value_col: str = "value",
                           window: str = "1 hour",
                           watermark: str = "30 minutes") -> DataFrame:
    """Late-data-tolerant per-window crawl metrics: tumbling event-time
    windows over the fetch/parse event stream (the streaming form of the
    reference's per-round metrics JSON, worker.py metrics block), keyed by
    event type.

    Works on BOTH streaming and batch frames — the watermark only attaches
    on a stream. Streaming semantics (append mode): a (window, key) row is
    emitted exactly once, when the watermark passes the window end; events
    later than ``watermark`` behind the max seen event time are dropped —
    the bounded-state contract that lets the aggregation run forever. The
    watermark persists in the checkpoint, so late-data decisions survive
    restarts.

    Scale shape: windows partition by (window, key) — a map-side-combined
    hash aggregation whose state is O(open windows × keys), independent of
    stream length; no per-event state.
    """
    src = df.withWatermark(ts_col, watermark) if df.isStreaming else df
    return (src.groupBy(F.window(F.col(ts_col), window).alias("w"),
                        F.col(key_col))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum(value_col), 6).alias("total_value"))
            .select(F.col("w.start").alias("window_start"),
                    F.col(key_col), F.col("n"), F.col("total_value")))


def run_windowed_metrics_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    schema: str = ("event_id long, ts timestamp, user_id long, "
                   "event_type string, value double"),
    window: str = "1 hour",
    watermark: str = "30 minutes",
    available_now: bool = True,
):
    """Streaming windowed metrics over an events parquet directory; append
    mode, so each closed window lands in ``output_path`` exactly once."""
    src = spark.readStream.schema(schema).parquet(input_path)
    out = windowed_crawl_metrics(src, window=window, watermark=watermark)
    writer = (out.writeStream.format("parquet")
              .option("path", output_path)
              .option("checkpointLocation", checkpoint_path)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_seen_filter_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    available_now: bool = True,
    bloom_bits: int = 1 << 20,
    bloom_k: int = 4,
):
    """Streaming URL-seen dedup — the frontier's seen semantics as a custom
    stateful operator (``applyInPandasWithState``, the brief's named tool):
    candidate links arrive as a stream and only first-seen rows are
    emitted. The state store is checkpointed with the query, so a restarted
    stream continues where it stopped — keys seen in earlier runs stay
    deduplicated (asserted in tests). Keyed by host_group, the state
    partitions like the batch engine's url_seen table: one group's keys
    never shuffle to another task.

    Per-group state is a fixed-size Bloom bitmap (``bloom_bits`` bits,
    default 128 KiB/group) plus a key counter, NOT the key set: state size
    is O(bits) no matter how many keys stream through, and each
    micro-batch rewrites a constant-size value — a 10^10-key group would
    overflow any exact GroupState.

    Error direction matters: a Bloom false positive here could only ever
    misclassify, never lose, a row — the operator is LOSSLESS (round-3
    ADVICE; the prior fail-open design still dropped sub-saturation FP
    rows, the unrecoverable direction). Every first in-batch occurrence of
    a key is emitted exactly once, tagged by a ``verdict`` column:

    - ``new`` — no Bloom bit was set: PROVABLY first-seen, no downstream
      check needed;
    - ``maybe_seen`` — all bits set (a true duplicate or a false
      positive), or the filter is saturated (> ``max_keys``, default
      sized so fp ≤ ~1e-4 at ~10% fill): the exact, bucketed batch
      anti-join downstream decides — the recoverable direction, since it
      can remove re-emitted duplicates but could never resurrect a
      dropped row.

    Repeated keys within one micro-batch are exact in-batch duplicates
    (no FP involved) and are still dropped. Bit indexes come from
    operators/bloom.py: md5-hex key material sliced directly, no rehash."""
    import numpy as np
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.bloom import _indexes

    max_keys = bloom_bits // 38  # ≈10% fill ⇒ fp ≈ 1e-4 at k=4

    src = (spark.readStream
           .schema("host_group string, url_key string, url string")
           .parquet(input_path))

    def dedup(key, pdfs, state: GroupState):
        if state.exists:
            bm = np.frombuffer(state.get[0], dtype=np.uint8).copy()
            n_keys = int(state.get[1])
        else:
            bm = np.zeros(bloom_bits // 8, dtype=np.uint8)
            n_keys = 0
        for pdf in pdfs:
            pdf = pdf.drop_duplicates(subset=["url_key"], keep="first")
            if not len(pdf):
                continue
            if n_keys > max_keys:
                # saturated: no inserts, nothing provable — everything
                # passes as maybe_seen for the exact anti-join downstream
                yield pdf[["host_group", "url_key", "url"]].assign(
                    verdict="maybe_seen")
                continue
            idx = _indexes(list(pdf["url_key"]), bloom_bits, bloom_k)
            fresh = ~(((bm[idx // 8] >> (idx % 8)) & 1).all(axis=1))
            fi = idx[fresh].ravel()
            np.bitwise_or.at(bm, fi // 8, (1 << (fi % 8)).astype(np.uint8))
            n_keys += int(fresh.sum())
            out = pdf[["host_group", "url_key", "url"]].assign(
                verdict=np.where(fresh, "new", "maybe_seen"))
            yield out
        state.update((bytearray(bm.tobytes()), n_keys))

    out = src.groupBy("host_group").applyInPandasWithState(
        dedup,
        outputStructType=("host_group string, url_key string, url string, "
                          "verdict string"),
        stateStructType="filter binary, n_keys long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    writer = (out.writeStream.format("parquet")
              .option("path", output_path)
              .option("checkpointLocation", checkpoint_path)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_politeness_gate_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    available_now: bool = True,
    capacity_tokens: int = 3,
    refill_milli_per_sec: int = 100,
):
    """Streaming per-host politeness gate — the reference's sleep-based
    crawl-delay (worker.py:450-461,505-506) re-expressed as a stateful
    token bucket (``applyInPandasWithState``): fetch candidates stream in
    as (host, ts, url); each host's bucket starts full
    (``capacity_tokens``), refills at ``refill_milli_per_sec``
    milli-tokens per event-time second, and each allowed fetch spends
    1000 milli-tokens.  Rows are emitted tagged ``allow`` or ``defer`` —
    the gate never drops (a deferred candidate re-enters the frontier;
    losing it would be the unrecoverable direction, same contract as the
    seen-filter stream).

    Determinism: all arithmetic is integer (event-time microseconds ×
    milli-tokens), and each micro-batch's group rows are processed in
    (ts, url) order — the verdict sequence is a pure function of the
    event times, never of arrival interleaving.  State per host is two
    longs (bucket level, last refill time), checkpointed with the query:
    a restarted stream continues with the tokens it had.

    100 TB shape: state is O(hosts) × 16 bytes; the stream partitions by
    host exactly like the batch schedule, so one host's gate never
    shuffles to another task.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    cap_milli = capacity_tokens * 1000

    src = (spark.readStream
           .schema("host string, ts timestamp, url string")
           .parquet(input_path))

    def gate(key, pdfs, state: GroupState):
        if state.exists:
            tokens, last_us = int(state.get[0]), int(state.get[1])
        else:
            tokens, last_us = cap_milli, None
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if not len(pdf):
            state.update((tokens, last_us if last_us is not None else 0))
            return
        pdf = pdf.sort_values(["ts", "url"], kind="mergesort")
        # unit-explicit: .astype(int64) alone would yield ns or us
        # depending on the Arrow/pandas storage unit
        ts_us = (pdf["ts"].values.astype("datetime64[us]")
                 .astype("int64").tolist())
        verdicts = []
        for t in ts_us:
            if last_us is not None and t > last_us:
                tokens = min(cap_milli,
                             tokens + (t - last_us) * refill_milli_per_sec
                             // 1_000_000)
            last_us = t if last_us is None else max(last_us, t)
            if tokens >= 1000:
                tokens -= 1000
                verdicts.append("allow")
            else:
                verdicts.append("defer")
        out = pdf[["host", "ts", "url"]].assign(verdict=verdicts)
        state.update((tokens, last_us))
        yield out

    out = src.groupBy("host").applyInPandasWithState(
        gate,
        outputStructType="host string, ts timestamp, url string, "
                         "verdict string",
        stateStructType="tokens long, last_us long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    writer = (out.writeStream.format("parquet")
              .option("path", output_path)
              .option("checkpointLocation", checkpoint_path)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_hot_hosts_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    available_now: bool = True,
    threshold: int = 10,
    depth: int = 4,
    width: int = 256,
    n_shards: int = 8,
    seed: int = 42,
):
    """Streaming heavy-host monitor with BOUNDED state: the batch
    count-min sketch (operators/sketch.py) as a stateful stream.  Fetch
    events stream in as (host, ts, url); hosts are sharded by
    md5(host) % n_shards and each shard's state is its own depth x width
    int64 counter grid stored as fixed bytes — ``n_shards * depth *
    width * 8`` bytes TOTAL regardless of host cardinality, the same
    bounded-state contract as the Bloom seen-filter stream (an exact
    per-host-count GroupState would be O(hosts) and grow forever).
    Because sharding sends EVERY occurrence of a host to one shard, a
    shard's sub-grid sees exactly that host's full stream: estimates
    equal a batch CMS built per shard, and with ``n_shards=1`` equal the
    batch ``cms_estimate`` bit-for-bit (the parity test pins this).

    Each micro-batch folds its rows into the grid, then emits every
    DISTINCT host of the batch whose current estimate reaches
    ``threshold`` — (host, est), an at-latest-estimate monitor feed.
    CMS error is one-sided (est >= true count), so a true heavy host is
    never missed once its traffic arrives; state checkpoints with the
    query, so a restarted stream continues its counts.

    Hashing is the same portable md5-prefix family as the batch sketch
    (hashlib here, F.md5/DuckDB md5 there) — one hash spec across the
    batch operator, the stream, and the SQL oracle."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = (spark.readStream
           .schema("host string, ts timestamp, url string")
           .parquet(input_path))

    def _buckets(host: str) -> list:
        return [int(hashlib.md5(f"{seed}|{j}|{host}".encode())
                    .hexdigest()[:8], 16) % width
                for j in range(depth)]

    def fold(key, pdfs, state: GroupState):
        if state.exists:
            grid = np.frombuffer(state.get[0], dtype=np.int64) \
                     .reshape(depth, width).copy()
        else:
            grid = np.zeros((depth, width), dtype=np.int64)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            counts = pdf["host"].value_counts()
            rows = np.arange(depth)
            for host, c in counts.items():
                grid[rows, _buckets(host)] += int(c)
            est = {h: int(grid[rows, _buckets(h)].min())
                   for h in counts.index}
            hot = sorted(h for h, e in est.items() if e >= threshold)
            if hot:
                yield pd.DataFrame({"host": hot,
                                    "est": [est[h] for h in hot]})
        state.update((grid.tobytes(),))

    shard = (F.conv(F.substring(F.md5(F.col("host")), 1, 8), 16, 10)
             .cast("bigint") % n_shards)
    out = (src.withColumn("shard", shard)
           .groupBy("shard")
           .applyInPandasWithState(
               fold,
               outputStructType="host string, est long",
               stateStructType="grid binary",
               outputMode="append",
               timeoutConf=GroupStateTimeout.NoTimeout,
           ))
    writer = (out.writeStream.format("parquet")
              .option("path", output_path)
              .option("checkpointLocation", checkpoint_path)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_robots_ttl_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    available_now: bool = True,
    ttl_hours: int = 24,
):
    """Streaming robots-cache freshness gate — the stateful mirror of
    ``operators.schedule.robots_cache_plan`` (RFC 9309 §2.4: cached
    robots.txt MAY be used up to 24 h).  Two row kinds stream in as
    (host, ts, kind, url): ``robots_fetch`` rows update the host's
    last-robots-fetch state and emit nothing; ``candidate`` rows emit a
    verdict against the state AS OF their event time — ``fetch_first``
    (robots never fetched), ``refetch`` (cache older than TTL), or
    ``cached``.

    Determinism: per micro-batch each host's rows are processed in
    (ts, kind, url) order with ``candidate`` sorting BEFORE an
    equal-timestamp ``robots_fetch`` (a fetch completed at t serves
    candidates strictly after t); verdicts are integer microsecond
    arithmetic, a pure function of event times.  State per host is one
    long (last robots-fetch micros), checkpointed with the query — a
    restarted stream continues with the cache ages it had.

    Cross-paradigm contract (tested): feeding every robots_fetch event
    plus one candidate per host at a common time T yields exactly the
    batch ``robots_cache_plan(hosts, log, now=T)`` actions.

    100 TB shape: state is O(hosts) × 8 bytes, partitioned by host like
    the batch scheduler — one host's gate never crosses tasks.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ttl_sec = int(ttl_hours) * 3600

    src = (spark.readStream
           .schema("host string, ts timestamp, kind string, url string")
           .parquet(input_path))

    def gate(key, pdfs, state: GroupState):
        last_us = int(state.get[0]) if state.exists else -1
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if not len(pdf):
            state.update((last_us,))
            return
        # 'candidate' < 'robots_fetch' lexicographically — the desired
        # same-timestamp order falls out of the plain (ts, kind) sort
        pdf = pdf.sort_values(["ts", "kind", "url"], kind="mergesort")
        ts_us = (pdf["ts"].values.astype("datetime64[us]")
                 .astype("int64").tolist())
        hosts, tss, urls, verdicts = [], [], [], []
        for t, kind, host, ts, url in zip(ts_us, pdf["kind"], pdf["host"],
                                          pdf["ts"], pdf["url"]):
            if kind == "robots_fetch":
                last_us = max(last_us, t)
                continue
            if last_us < 0:
                v = "fetch_first"
            elif (t - last_us) // 1_000_000 > ttl_sec:
                v = "refetch"
            else:
                v = "cached"
            hosts.append(host); tss.append(ts); urls.append(url)
            verdicts.append(v)
        state.update((last_us,))
        if hosts:
            yield pd.DataFrame({"host": hosts, "ts": tss, "url": urls,
                                "verdict": verdicts})

    out = src.groupBy("host").applyInPandasWithState(
        gate,
        outputStructType="host string, ts timestamp, url string, "
                         "verdict string",
        stateStructType="last_us long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    writer = (out.writeStream.format("parquet")
              .option("path", output_path)
              .option("checkpointLocation", checkpoint_path)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
