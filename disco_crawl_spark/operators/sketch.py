"""Bounded-memory frequency sketches for frontier monitoring.

The reference crawler's monitoring sums exact per-host counts
(reference worker.py:640-700 keeps per-steward fetch tallies), which is
fine at gov.au host cardinality but becomes a full O(distinct-keys)
shuffle at a 10^10-URL frontier.  A count-min sketch (Cormode &
Muthukrishnan 2005) replaces that with a fixed ``depth x width`` counter
grid: every partition collapses to at most ``depth*width`` partial
counters before the exchange (map-side combine), the merged grid is a
few-KB broadcastable table, and any key's frequency is over-estimated by
at most ``2N/width`` with probability ``1 - 2^-depth`` — one-sided
error, never an undercount.

Determinism: bucket hashes are the house md5-prefix idiom (portable to
ANSI SQL, unlike xxhash64), so the sketch — and therefore every estimate
— is bit-identical across engines, partitionings, and cluster sizes,
which is what makes ``cms_heavy_hitters`` exactly oracle-checkable
rather than "approximately right".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["cms_bucket", "cms_counters", "cms_estimate",
           "cms_heavy_hitters", "binned_quantiles"]


def cms_bucket(col, j: int, width: int, seed: int = 42):
    """Row j's bucket for a key: first 8 hex chars of md5(seed|j|key) as
    an integer, mod width.  2^32 >> width keeps the mod unbiased enough
    for counter use; the md5 prefix (not xxhash64) is the cross-engine
    portable choice."""
    h = F.conv(F.substring(
        F.md5(F.concat_ws("|", F.lit(str(seed)), F.lit(str(j)),
                          col.cast("string"))), 1, 8), 16, 10)
    return (h.cast("bigint") % width).alias(f"b{j}")


def cms_counters(df: DataFrame, key_col: str, depth: int = 4,
                 width: int = 1024, seed: int = 42) -> DataFrame:
    """Build the sketch: (j, bucket, cnt) with at most ``depth*width``
    rows regardless of key cardinality.

    Scale shape: ONE scan — each row emits its ``depth`` (j, bucket)
    pairs via a row-local inline array + explode, then a hash aggregation
    whose partial (map-side) combine bounds every partition's exchange
    contribution at ``depth*width`` rows.  The exchange therefore carries
    O(depth * width * partitions) counters, independent of how many
    distinct keys the 10^10-row input holds — the whole point versus an
    exact groupBy(key)."""
    pairs = F.array(*[
        F.struct(F.lit(j).alias("j"),
                 cms_bucket(F.col(key_col), j, width, seed).alias("bucket"))
        for j in range(depth)])
    return (df.select(F.explode(pairs).alias("p"))
            .select(F.col("p.j").alias("j"), F.col("p.bucket").alias("bucket"))
            .groupBy("j", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt")))


def cms_estimate(counters: DataFrame, keys: DataFrame, key_col: str,
                 depth: int = 4, width: int = 1024,
                 seed: int = 42) -> DataFrame:
    """Point-query the sketch for each distinct key in ``keys``: the
    estimate is min over rows j of counter[j][bucket_j(key)] (missing
    counter rows mean zero observed — count 0).  Returns (key, est).

    Scale shape: the counter grid (<= depth*width rows, ~KBs) is
    BROADCAST; each candidate key explodes to its ``depth`` probes,
    probes hash-join the broadcast grid with no exchange on the key
    side beyond the candidates' own distinct, and a key-keyed min
    aggregation folds the rows back."""
    probes = (keys.select(F.col(key_col)).distinct()
              .select(key_col, F.explode(F.array(*[
                  F.struct(F.lit(j).alias("j"),
                           cms_bucket(F.col(key_col), j, width, seed)
                           .alias("bucket"))
                  for j in range(depth)])).alias("p"))
              .select(key_col, "p.j", "p.bucket"))
    return (probes.join(F.broadcast(counters), ["j", "bucket"], "left")
            .groupBy(key_col)
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est")))


def cms_heavy_hitters(df: DataFrame, key_col: str, threshold: int,
                      depth: int = 4, width: int = 1024,
                      seed: int = 42) -> DataFrame:
    """Keys whose sketch estimate reaches ``threshold``, with the exact
    count alongside: (key, est, exact, overcount).  ``est >= exact``
    always (CMS error is one-sided), so the report can never MISS a true
    heavy hitter — only audit a few false candidates, each exposed by
    its ``overcount``.

    The point-queried keys are the distinct keys of ``df`` (fine up to
    ~10^7 keys); the counter build exchanges counters, not keys.  Two
    scans of ``df`` total: the counter build, and the exact audit
    filtered to sketch-flagged candidates."""
    counters = cms_counters(df, key_col, depth, width, seed)
    est = cms_estimate(counters, df, key_col, depth, width, seed)
    hot = est.filter(F.col("est") >= threshold)
    exact = (df.join(F.broadcast(hot.select(key_col)), key_col, "semi")
             .groupBy(key_col).agg(F.count(F.lit(1)).alias("exact")))
    return (hot.join(exact, key_col)
            .select(key_col, "est", "exact",
                    (F.col("est") - F.col("exact")).alias("overcount")))


def binned_quantiles(df: DataFrame, val_col: str, probs: "list[int]",
                     bin_width: int = 64) -> DataFrame:
    """Bounded-memory quantile estimation for a non-negative integer
    measure (doc length, token count): fixed-width value bins, a
    cumulative count over the BIN table (bounded by value-range/width,
    not row count), and for each integer percentile p the lower edge of
    the first bin whose cumulative count reaches ``k = ceil(p*N/100)``.
    The estimate is within ``bin_width`` below the true order statistic
    by construction: ``est <= exact < est + bin_width``.

    This is the length-distribution report every corpus card carries
    (Gopher §A3, CCNet's per-shard stats) computed WITHOUT the global
    sort an exact quantile needs: the only row-cardinality work is one
    map-side-combinable bin count; the bin table (10^3-10^5 rows for any
    realistic length range) fits one task's window.  Deterministic — no
    sampling, no interpolation — so it oracle-checks exactly.

    Returns (p_pct, k, est) for each requested integer percentile.
    """
    from pyspark.sql import Window
    n = df.count()
    bins = (df.groupBy(F.floor(F.col(val_col) / bin_width).alias("bin"))
            .agg(F.count(F.lit(1)).alias("cnt")))
    cum = bins.withColumn(
        "cum", F.sum("cnt").over(
            Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)))
    ps = [(int(p), (int(p) * n + 99) // 100) for p in probs]
    pdf = df.sparkSession.createDataFrame(ps, ["p_pct", "k"])
    return (cum.join(F.broadcast(pdf), F.col("cum") >= F.col("k"))
            .groupBy("p_pct", "k")
            .agg((F.min("bin") * bin_width).alias("est")))
