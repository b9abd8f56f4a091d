"""Text analysis operators: token counting, quality scoring, language id,
document fingerprinting, readability.

Token/quality operators are pure Catalyst expressions (codegen, pushdown-
friendly); language-id and fingerprinting are vectorized pandas UDFs with
deterministic seeded hashing.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (ArrayType, IntegerType, LongType, StringType,
                               StructField, StructType)

from .. import refsem
from .ckpt import CheckpointScope

STOPWORDS_EN = (
    "the a an and or of to in is are was were be been it this that for on "
    "with as at by from".split()
)


def token_count(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Whitespace token count + distinct count + char length — built-ins
    only."""
    toks = F.split(F.col(text_col), " ")
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length(F.col(text_col)).alias("n_chars"),
    )


def bpe_ish_token_count(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Sub-word-ish token count: split on word boundaries AND length-4
    chunks of long words — a cheap, deterministic BPE proxy (regexp only)."""
    pieces = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(r"[a-z]{1,4}|[0-9]+|[^a-z0-9\s]"), 0)
    return df.select(F.col(id_col), F.size(pieces).alias("n_bpe_tokens"))


def quality_score(df: DataFrame, text_col: str, id_col: str,
                  keep_cols: "tuple | list" = ()) -> DataFrame:
    """Heuristic quality features + composite score, all built-ins: length,
    mean word length, punctuation ratio, stopword ratio, uppercase ratio.
    Mirrors common crawl-corpus quality filters (C4-style). ``keep_cols``
    pass-through columns ride along (e.g. the domain key for
    ``domain_quality_gate``) so callers avoid a re-join on ``id_col``."""
    t = F.col(text_col)
    toks = F.split(t, " ")
    n_tok = F.size(toks)
    n_chars = F.length(t)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    n_stop = F.size(F.array_intersect(F.array_distinct(
        F.split(F.lower(t), " ")), stop_arr))
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[.,;:!?]", ""))
    n_upper = n_chars - F.length(F.regexp_replace(t, r"[A-Z]", ""))
    # empty/degenerate docs: define every ratio as 0 (ANSI-safe try_divide)
    mean_wl = F.round(
        F.coalesce(F.try_divide(n_chars - n_tok + 1, n_tok), F.lit(0.0)), 6)
    punct_ratio = F.round(
        F.coalesce(F.try_divide(n_punct, n_chars), F.lit(0.0)), 6)
    stop_ratio = F.round(
        F.coalesce(F.try_divide(
            n_stop, F.size(F.array_distinct(F.split(F.lower(t), " ")))),
            F.lit(0.0)), 6)
    upper_ratio = F.round(
        F.coalesce(F.try_divide(n_upper, n_chars), F.lit(0.0)), 6)
    score = F.round(
        F.when(n_tok >= 10, 1.0).otherwise(0.0)
        + F.when((mean_wl >= 3) & (mean_wl <= 10), 1.0).otherwise(0.0)
        + F.when(punct_ratio <= 0.1, 1.0).otherwise(0.0)
        + stop_ratio, 6)
    return df.select(
        F.col(id_col), n_tok.alias("n_tokens"), mean_wl.alias("mean_word_len"),
        punct_ratio.alias("punct_ratio"), stop_ratio.alias("stopword_ratio"),
        upper_ratio.alias("upper_ratio"), score.alias("quality"),
        *[F.col(c) for c in keep_cols],
    )


def domain_quality_gate(df: DataFrame, text_col: str, id_col: str,
                        domain_col: str,
                        min_avg_quality: "float | None" = None,
                        top_k: "int | None" = None) -> DataFrame:
    """Domain-level quality gating (the FineWeb/C4 'bad domain' filter):
    score every document, aggregate the mean score per domain, and keep
    documents from domains that clear the gate — either an absolute
    ``min_avg_quality`` threshold or the ``top_k`` domains ranked by
    (mean quality desc, domain asc) (deterministic tie-break).

    Scale shape: one narrow (domain, quality) shuffle with map-side
    partial aggregation builds the domain table — domains are orders of
    magnitude fewer than documents, so the surviving-domain list is
    broadcast back and the gate join never shuffles the document side.
    The top_k rank is a window over the DOMAIN table only (bounded; at
    10^8+ domains switch to an approx-quantile threshold instead). The
    scored projection is pure Catalyst (no UDF), so computing it on both
    sides of the plan is a re-scan of pruned columns, not cached python
    work. Domain means round to 4dp before the gate so the keep-set is
    stable under aggregation order."""
    if (min_avg_quality is None) == (top_k is None):
        raise ValueError("exactly one of min_avg_quality / top_k required")
    scored = quality_score(df, text_col, id_col, keep_cols=[domain_col]) \
        .select(id_col, domain_col, "quality")
    dom = (scored.groupBy(domain_col)
           .agg(F.round(F.avg("quality"), 4).alias("domain_quality"),
                F.count(F.lit(1)).alias("domain_docs")))
    if top_k is not None:
        w = Window.orderBy(F.col("domain_quality").desc(), F.col(domain_col))
        good = (dom.withColumn("rnk", F.row_number().over(w))
                .filter(F.col("rnk") <= top_k).drop("rnk"))
    else:
        good = dom.filter(F.col("domain_quality") >= min_avg_quality)
    return scored.join(F.broadcast(good), domain_col).select(
        id_col, domain_col, "quality", "domain_quality", "domain_docs")


# ---------------------------------------------------------------------------
# repetition stats (Gopher/MassiveText-style repetition filters)
# ---------------------------------------------------------------------------


def repetition_stats(df: DataFrame, text_col: str, id_col: str,
                     ngram: int = 2) -> DataFrame:
    """The repetition signals large-corpus quality filters cut on (Gopher
    rules: Rae et al. 2021 §A1.1): duplicate-token fraction and the
    character fraction covered by the single most frequent word n-gram.
    Entirely built-in expressions, and entirely ROW-LOCAL: the n-grams are
    built with ``transform(sequence(...))`` over the token array and the
    max-frequency n-gram is found by a run-length scan over the
    ``array_sort``-ed gram array (``F.aggregate``), so the operator performs
    ZERO shuffles — scan → project, embarrassingly parallel at any scale.
    Tie-break matches the SQL oracle's ``ORDER BY c DESC, g ASC``: the scan
    walks grams ascending and only displaces the best on a strictly greater
    run length, so the smallest gram among equal-count maxima wins.
    Returns (id, n_tokens, dup_token_frac, top_ngram, top_ngram_frac)."""
    # token array staged before the gram lambda (DESIGN.md §4: lambda
    # bodies re-evaluate free subexpressions per element)
    s0 = df.select(F.col(id_col), F.length(F.col(text_col))
                   .alias("n_chars"),
                   F.split(F.lower(F.col(text_col)), " ").alias("__tk"))
    n_tok = F.size("__tk")
    dup_frac = F.round(F.coalesce(
        F.try_divide(n_tok - F.size(F.array_distinct("__tk")), n_tok),
        F.lit(0.0)), 6)
    base = s0.select(
        F.col(id_col), "n_chars",
        n_tok.alias("n_tokens"), dup_frac.alias("dup_token_frac"),
        F.when(n_tok >= ngram, F.transform(
            F.sequence(F.lit(0), n_tok - ngram),
            lambda i: F.concat_ws(
                " ", *[F.element_at("__tk", (i + j + 1).cast("int"))
                       for j in range(ngram)])))
        .otherwise(F.array().cast("array<string>")).alias("grams"))

    # Run-length scan over the sorted grams: state = (best_gram, best_count,
    # current_gram, current_count).  cg starts "" / cc starts 0, which is
    # safe even if a real gram equals "" (the first run still counts from 1).
    def _merge(acc, x):
        nc = F.when(x == acc["cg"], acc["cc"] + F.lit(1)) \
              .otherwise(F.lit(1).cast("long"))
        better = nc > acc["bc"]
        return F.struct(
            F.when(better, x).otherwise(acc["bg"]).alias("bg"),
            F.when(better, nc).otherwise(acc["bc"]).alias("bc"),
            x.alias("cg"), nc.alias("cc"))

    best = F.aggregate(
        F.array_sort(F.col("grams")),
        F.struct(F.lit("").alias("bg"), F.lit(0).cast("long").alias("bc"),
                 F.lit("").alias("cg"), F.lit(0).cast("long").alias("cc")),
        _merge)
    empty = F.size(F.col("grams")) == 0
    top_frac = F.round(F.coalesce(
        F.try_divide(best["bc"] * F.length(best["bg"]), F.col("n_chars")),
        F.lit(0.0)), 6)
    return base.select(
        F.col(id_col), F.col("n_tokens"), F.col("dup_token_frac"),
        F.when(empty, F.lit("")).otherwise(best["bg"]).alias("top_ngram"),
        F.when(empty, F.lit(0.0)).otherwise(top_frac)
         .alias("top_ngram_frac"))


# ---------------------------------------------------------------------------
# deterministic weighted sampling (corpus mixing)
# ---------------------------------------------------------------------------


def weighted_sample(df: DataFrame, group_col: str, weights: dict,
                    id_col: str, seed: int = 42,
                    default_weight: float = 1.0) -> DataFrame:
    """Per-group Bernoulli sampling for training-mix construction: keep a
    row iff U(md5(seed|id)) < weight(group). The uniform draw is a pure
    hash of the row id — no RNG state, so the sample is identical across
    retries, repartitions, and cluster sizes (the property a distributed
    sampler needs and ``DataFrame.sample`` does not give), and it is
    ANSI-SQL-expressible for the oracle. 13 hex digits = 52 bits, below a
    double's 53-bit mantissa, so the integer→double conversion and the
    division by 2^52 are EXACT on every engine — no rounding at weight
    boundaries."""
    u = (F.conv(F.substring(
        F.md5(F.concat_ws("|", F.lit(str(seed)), F.col(id_col).cast("string"))),
        1, 13), 16, 10).cast("double") / float(16 ** 13))
    w = F.lit(float(default_weight))
    for g, frac in sorted(weights.items()):
        w = F.when(F.col(group_col) == g, F.lit(float(frac))).otherwise(w)
    return df.filter(u < w)


def stratified_sample(df: DataFrame, group_col: str, quota: int,
                      id_col: str, seed: int = 42) -> DataFrame:
    """Exact per-group quota sampling (the complement of ``weighted_sample``:
    Bernoulli gives unbiased FRACTIONS, a training-mix spec often wants
    exact per-source COUNTS). Rank rows inside each group by
    md5(seed|id) — a pure hash, so the selected set is identical across
    retries, repartitions, and cluster sizes — and keep the first
    ``quota``. Ties are impossible (id breaks them deterministically).

    Scale shape: one shuffle on ``group_col``; the per-partition sort is
    over (group, hash) so each group's work is bounded by its own size.
    A group so skewed that one task can't sort it calls for the two-phase
    variant (salted local row_number keeping ``quota`` per salt, then this
    exact pass over the ≤ salt·quota survivors) — at a typical
    domains-as-groups corpus the plain form is the right default."""
    key = F.md5(F.concat_ws(
        "|", F.lit(str(seed)), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(key, F.col(id_col))
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= int(quota)).drop("_rn"))


# ---------------------------------------------------------------------------
# decontamination (eval-set n-gram overlap) and sequence packing
# ---------------------------------------------------------------------------


def _ws_tokens(col):
    """Lowercased whitespace tokens with empties dropped — the shared
    tokenization of the dedup/LM operators (mirrors the oracle CTEs'
    ``string_split_regex(lower(text), '\\s+')`` + non-empty filter)."""
    return F.filter(F.split(F.lower(col), r"\s+"), lambda x: x != "")


def _ws_tokens_nn(text_col: str):
    """``_ws_tokens`` over a possibly-NULL text column: NULL reads as the
    empty document (mirrors the oracle CTEs' ``coalesce(text, '')``)."""
    return _ws_tokens(F.coalesce(F.col(text_col), F.lit("")))


def lm_perplexity(df: DataFrame, text_col: str, id_col: str,
                  ref_df: "DataFrame | None" = None,
                  approx: bool = False) -> DataFrame:
    """CCNet-style language-model quality bucketing: score every document
    by unigram cross-entropy under an add-one-smoothed LM trained on a
    reference corpus, then split the corpus into ``head`` / ``middle`` /
    ``tail`` tertiles (CCNet trains KenLM on Wikipedia and buckets Common
    Crawl by perplexity; the unigram LM is the deterministic,
    oracle-checkable stand-in — the bucketing machinery is identical).

    Returns (id, n_tokens, cross_entropy, perplexity, bucket).

    * LM: p(tok) = (cnt + 1) / (T + V + 1) over ``ref_df`` (defaults to
      ``df`` itself); unseen tokens get the floor 1 / (T + V + 1).
    * cross_entropy = -mean log p (nats), rounded 6dp; empty docs → 0.
    * buckets: exact tertile cut points of the rounded cross-entropy
      (lower = more fluent = head).

    Scale shape: the LM is a (token, count) table — web vocab is ~10^7
    rows, broadcastable; the document side explodes tokens, probes the
    broadcast, and aggregates (id, Σlog p, n) with map-side combine — one
    narrow exchange. T/V and the tertile cut points ride in as broadcast
    1-row aggregates (no driver collect). The exact percentile gathers the
    per-doc entropy column onto one reducer — fine to ~10^8 docs; pass
    ``approx=True`` at 10^9+ to use ``approx_percentile`` (t-digest,
    fully distributed) at the cost of oracle-exactness of the cut points.
    """
    ref = ref_df if ref_df is not None else df
    counts = (ref.select(F.explode(_ws_tokens(F.col(text_col))).alias("tok"))
              .groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")))
    tv = counts.agg(F.sum("cnt").alias("_t"),
                    F.count(F.lit(1)).alias("_v"))
    doc_toks = df.select(
        F.col(id_col),
        F.explode(
            F.when(F.size(_ws_tokens(F.col(text_col))) > 0,
                   _ws_tokens(F.col(text_col)))
            .otherwise(F.array(F.lit(None).cast("string")))).alias("tok"))
    scored = (doc_toks.join(F.broadcast(counts), "tok", "left")
              .crossJoin(F.broadcast(tv)))
    logp = F.log((F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1))
                 / (F.col("_t") + F.col("_v") + F.lit(1)))
    per_doc = (scored.groupBy(id_col)
               .agg(F.sum(F.when(F.col("tok").isNotNull(), logp))
                    .alias("_slp"),
                    F.count(F.col("tok")).alias("n_tokens")))
    h = F.round(F.coalesce(F.try_divide(-F.col("_slp"),
                                        F.col("n_tokens")),
                           F.lit(0.0)), 6)
    per_doc = per_doc.select(F.col(id_col), F.col("n_tokens"),
                             h.alias("cross_entropy"))
    pct = (F.approx_percentile if approx else F.percentile)
    cuts = per_doc.agg(
        pct(F.col("cross_entropy"),
            F.lit([0.3333333333333333, 0.6666666666666666])).alias("_q"))
    bucket = (F.when(F.col("cross_entropy") <= F.col("_q")[0], "head")
              .when(F.col("cross_entropy") <= F.col("_q")[1], "middle")
              .otherwise("tail"))
    return (per_doc.crossJoin(F.broadcast(cuts))
            .select(id_col, "n_tokens", "cross_entropy",
                    F.round(F.exp(F.col("cross_entropy")), 3)
                    .alias("perplexity"),
                    bucket.alias("bucket")))


def _hash_bucket(col, buckets: int):
    """Portable feature-hash bucket: first 32 bits of md5, mod ``buckets``.

    md5 is the one keyed hash both engines (Spark, DuckDB) compute
    byte-identically — the same idiom domain_split / corpus_mix_sample
    use for their deterministic draws."""
    return (F.conv(F.substring(F.md5(col), 1, 8), 16, 10)
            .cast("long") % buckets)


def dsir_importance(df: DataFrame, text_col: str, id_col: str,
                    target_filter, buckets: int = 4096,
                    keep_frac: float = 0.3,
                    approx: bool = False) -> DataFrame:
    """DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how target-like its hashed n-gram profile is, and keep the
    top ``keep_frac`` fraction.

    * features: unigrams + adjacent bigrams of the shared whitespace
      tokenization, feature-hashed into ``buckets`` buckets via the
      portable md5-32 bucket (DSIR's "hashed n-gram features").
    * bag-of-buckets LMs: p(b) = (cnt(b) + 1) / (T + buckets) estimated
      once on the target slice (rows passing ``target_filter``) and once
      on the full raw corpus (add-one smoothing).
    * per-doc log importance weight = Σ_occurrences
      [ln p_target(bucket) − ln p_raw(bucket)], rounded 6dp; docs with no
      tokens score 0.0 with n_feats 0.
    * keep = log_weight ≥ the exact (1 − keep_frac) quantile — the
      deterministic top-fraction variant of DSIR's Gumbel resampling (no
      RNG state, stable across partitioning).

    Returns (id, n_feats, log_weight, keep).

    Scale shape: the two LMs collapse to ≤ ``buckets``-row tables
    (map-side-combined aggregations), joined into one broadcastable
    log-ratio table; the document side explodes features, probes the
    broadcast, and aggregates (id, Σ, count) with map-side combine — one
    narrow exchange over (id, bucket) pairs, nothing wider than the
    corpus' token stream. The quantile gathers one double column; pass
    ``approx=True`` at 10^9+ docs for a t-digest cut (loses oracle
    exactness of the boundary)."""
    toks = _ws_tokens(F.col(text_col))
    bigr = F.when(
        F.size(toks) >= 2,
        F.zip_with(F.slice(toks, 1, F.size(toks) - 1),
                   F.slice(toks, 2, F.size(toks) - 1),
                   lambda a, b: F.concat_ws(" ", a, b))
    ).otherwise(F.array().cast("array<string>"))
    feats = F.concat(toks, bigr)
    occ = df.select(
        F.col(id_col), target_filter.alias("_is_t"),
        F.explode(
            F.when(F.size(feats) > 0, feats)
            .otherwise(F.array(F.lit(None).cast("string")))).alias("f")
    ).select(id_col, "_is_t",
             F.when(F.col("f").isNotNull(),
                    _hash_bucket(F.col("f"), buckets)).alias("b"))
    raw = (occ.filter(F.col("b").isNotNull())
           .groupBy("b")
           .agg(F.count(F.lit(1)).alias("cr"),
                F.count_if(F.col("_is_t")).alias("ct")))
    tots = raw.agg(F.sum("cr").alias("_tr"), F.sum("ct").alias("_tt"))
    ratio = raw.crossJoin(F.broadcast(tots)).select(
        "b",
        (F.log((F.col("ct") + F.lit(1.0))
               / (F.col("_tt") + F.lit(float(buckets))))
         - F.log((F.col("cr") + F.lit(1.0))
                 / (F.col("_tr") + F.lit(float(buckets))))).alias("lr"))
    per_doc = (occ.join(F.broadcast(ratio), "b", "left")
               .groupBy(id_col)
               .agg(F.count(F.col("b")).alias("n_feats"),
                    F.round(F.coalesce(
                        F.sum(F.when(F.col("b").isNotNull(), F.col("lr"))),
                        F.lit(0.0)), 6).alias("log_weight")))
    pct = (F.approx_percentile if approx else F.percentile)
    cut = per_doc.agg(pct(F.col("log_weight"),
                          F.lit(1.0 - keep_frac)).alias("_c"))
    return (per_doc.crossJoin(F.broadcast(cut))
            .select(id_col, "n_feats", "log_weight",
                    (F.col("log_weight") >= F.col("_c")).alias("keep")))


def bpe_pair_stats(df: DataFrame, text_col: str,
                   top_k: int = 50) -> DataFrame:
    """First-iteration BPE merge statistics: corpus-wide frequency of every
    adjacent character-symbol pair (with the ``</w>`` end-of-word marker),
    weighted by word frequency — the count table the first BPE merge rule
    is chosen from when inducing a tokenizer vocab on a new corpus.
    Returns the ``top_k`` pairs as (left, right, n), count-desc.

    Scale shape: the corpus collapses to (distinct word, count) FIRST (one
    map-side-combined exchange over ~10^7-row web vocab), so the per-char
    explode runs over the vocab, never the corpus; the pair aggregation is
    another map-side-combined exchange over ≤ |vocab|·avg_len rows, and
    the top-k sorts the ~|alphabet|² aggregated pairs. Nothing touches
    full documents after the first aggregation.
    """
    words = (df.select(F.explode(_ws_tokens(F.col(text_col))).alias("w"))
             .groupBy("w").agg(F.count(F.lit(1)).alias("cnt")))
    L = F.length("w")
    pos = words.select(
        "w", "cnt", L.alias("_l"),
        F.explode(F.sequence(F.lit(1), L)).alias("i"))
    left = F.substring(F.col("w"), F.col("i"), 1)
    right = F.when(F.col("i") < F.col("_l"),
                   F.substring(F.col("w"), F.col("i") + 1, 1)
                   ).otherwise(F.lit("</w>"))
    return (pos.select(left.alias("sym_l"), right.alias("sym_r"), "cnt")
            .groupBy("sym_l", "sym_r").agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), "sym_l", "sym_r")
            .limit(top_k))


def c4_line_filter(df: DataFrame, text_col: str, id_col: str,
                   min_words: int = 5, require_terminal_punct: bool = True,
                   min_kept_lines: int = 3, segmenter: str = "newline",
                   k_tokens: int = 12) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): keep only
    lines with ≥ ``min_words`` words (and, when ``require_terminal_punct``,
    ending in ``. ! ?`` or a closing quote), drop lines containing
    "javascript"; then drop whole pages with fewer than ``min_kept_lines``
    surviving lines or containing "lorem ipsum" or a ``{``. Returns
    (id, clean_text, n_lines, n_kept, dropped) — ``dropped = 1`` pages
    keep their stats but empty ``clean_text``.

    ``segmenter``: ``newline`` (C4's actual unit) or ``tokens`` (fixed
    ``k_tokens``-token blocks — same fallback as ``passage_dedup`` for
    corpora without line structure).

    Scale shape: pure Catalyst higher-order functions over the text
    column — no shuffle, no UDF; runs inside the scan's codegen stage and
    composes with any downstream exchange.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    # the token-block segmenter references the tokenized array inside a
    # per-segment lambda: stage it as a real column first, or interpreted
    # higher-order eval re-tokenizes the document per segment (the
    # fingerprints O(n^3) lesson; >=2 references below keep
    # CollapseProject from undoing the staging)
    if segmenter == "newline":
        pre = df.select(F.col(id_col), t.alias("__t"),
                        F.split(t, "\n").alias("__lines"))
    elif segmenter == "tokens":
        s0 = df.select(F.col(id_col), t.alias("__t"),
                       _ws_tokens(t).alias("__tk"))
        n_seg = F.ceil(F.size("__tk") / F.lit(k_tokens)).cast("int")
        pre = s0.select(F.col(id_col), "__t", F.transform(
            F.sequence(F.lit(0), F.greatest(n_seg, F.lit(1)) - 1),
            lambda i: F.array_join(
                F.slice("__tk", i * k_tokens + 1, k_tokens), " "))
            .alias("__lines"))
    else:
        raise ValueError(f"unknown segmenter {segmenter!r}")
    lines = F.col("__lines")
    wc = lambda ln: F.size(F.filter(F.split(ln, r"\s+"),
                                    lambda x: x != ""))
    keep = lambda ln: (
        (wc(ln) >= min_words)
        & ~F.lower(ln).contains("javascript")
        & ((F.rtrim(ln).rlike(r"""[.!?"”']$"""))
           if require_terminal_punct else F.lit(True)))
    kept = F.filter(lines, keep)
    page_bad = (F.lower("__t").contains("lorem ipsum")
                | F.col("__t").contains("{")
                | (F.size(kept) < min_kept_lines))
    return pre.select(
        F.col(id_col),
        F.when(page_bad, F.lit(""))
        .otherwise(F.array_join(kept, "\n")).alias("clean_text"),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        page_bad.cast("int").alias("dropped"))


def domain_split(df: DataFrame, group_col: str, id_col: str,
                 fractions: "tuple[float, float]" = (0.9, 0.05),
                 seed: int = 42) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split is a pure hash of
    the GROUP key (domain / source), so every document of a group — and
    therefore every within-group near-duplicate — lands in the same split
    (the C4/Pile hygiene rule: never split a domain across train and
    eval). Returns (id, group, split).

    ``fractions`` = (train, val); test gets the remainder. The draw is the
    first 8 hex chars of md5(seed|group) scaled to [0, 1) — deterministic
    across engines, partitionings, and cluster sizes (exact integer
    compare against fraction·2³², never a float draw).

    Scale shape: a projection — no shuffle, no join; the hash recomputes
    per row (cheaper at any scale than shuffling a groups table in, and
    identical by construction).
    """
    h = F.conv(F.substring(
        F.md5(F.concat_ws("|", F.lit(str(seed)), F.col(group_col))),
        1, 8), 16, 10).cast("bigint")
    t_cut = int(fractions[0] * (1 << 32))
    v_cut = int((fractions[0] + fractions[1]) * (1 << 32))
    split = (F.when(h < t_cut, "train")
             .when(h < v_cut, "val")
             .otherwise("test"))
    return df.select(F.col(id_col), F.col(group_col),
                     split.alias("split"))


def _gram_array(toks, n: int):
    """Array of 64-bit token ``n``-gram keys (empty when len(toks) < n):
    ``xxhash64`` over the token SLICE itself, so no concatenated gram
    string is ever materialized — built-ins only, row-local, no UDF.
    Measured 2× faster than space-joined string grams at sf0.1 (the gram
    strings dominated the explode+probe memory traffic). A key collision
    (~2⁻⁶⁴ per gram pair) could only add a spurious hit — the same
    accepted bound as the md5-64 window keys in substring_dedup."""
    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(1), F.size(toks) - n + 1),
                    lambda i: F.xxhash64(F.slice(toks, i, n)))
    ).otherwise(F.array().cast("array<bigint>"))


def decontaminate(df: DataFrame, text_col: str, id_col: str,
                  bench_df: DataFrame, bench_text_col: "str | None" = None,
                  ngram: int = 4) -> DataFrame:
    """Benchmark decontamination (the GPT-3 §2.2 / PaLM-style filter): count,
    per training document, the token ``ngram``-gram occurrences that also
    appear anywhere in the evaluation corpus ``bench_df``. Returns
    (id, n_hits, contaminated) — callers drop ``contaminated = 1`` rows or
    route them to audit.

    Scale shape: the eval side is gram-keys→distinct→broadcast (benchmark
    suites are ~10^6-10^7 distinct n-grams — broadcastable by
    construction, 8 bytes per key); the document side explodes 64-bit
    gram keys (never gram strings) and probes the broadcast hash map with
    NO shuffle, then aggregates (id, hit-count) with map-side combine —
    the only exchange moves one int64 per document. Documents shorter than ``ngram`` tokens contribute a single
    null sentinel gram (matches nothing) so every input id survives to the
    output without a join-back.

    The ~4 s bench wall at sf0.1 is entirely the fixed dispatch +
    whole-stage-codegen floor, not per-row cost: the identical plan over
    10× the documents measures the SAME wall (3.3 vs 3.7 s, 2026-08-18),
    so the number amortizes to nothing at real scale."""
    bench_text_col = bench_text_col or text_col
    # token arrays staged before the gram lambda (DESIGN.md §4: lambda
    # bodies re-evaluate free subexpressions per element)
    bench_grams = (bench_df
                   .select(F.split(F.lower(F.col(bench_text_col)), " ")
                           .alias("__tk"))
                   .select(F.explode(_gram_array(F.col("__tk"), ngram))
                           .alias("g"))
                   .distinct().withColumn("_hit", F.lit(1)))
    tkd = df.select(F.col(id_col),
                    F.split(F.lower(F.col(text_col)), " ").alias("__tk"))
    grams = _gram_array(F.col("__tk"), ngram)
    doc_grams = tkd.select(
        F.col(id_col),
        F.explode(F.when(F.size(grams) > 0, grams)
                  .otherwise(F.array(F.lit(None).cast("bigint")))).alias("g"))
    n_hits = F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
    return (doc_grams.join(F.broadcast(bench_grams), "g", "left")
            .groupBy(id_col)
            .agg(n_hits.alias("n_hits"))
            .select(F.col(id_col), F.col("n_hits"),
                    (F.col("n_hits") > 0).cast("int").alias("contaminated")))


def pack_chunks(df: DataFrame, text_col: str, id_col: str, ctx: int = 512,
                buckets: int = 32) -> DataFrame:
    """Sequence packing for LLM pretraining (concat-and-chunk): lay every
    document's tokens end-to-end in ``id_col`` order and cut the stream
    into fixed ``ctx``-token windows. Returns per document
    (id, n_tokens, start_offset, chunk_id, n_chunks_spanned) — the exact
    global token offset each doc starts at, and which training windows it
    lands in.

    The naive plan is one GLOBAL window cumsum — a single-task sort at any
    scale. This implements the scalable two-level scan instead:
    range-partition by id into ``buckets``, per-partition cumsum (parallel
    window over spark_partition_id), then collect only the B partition
    totals (driver data is O(buckets), not O(rows)) and add each
    partition's exclusive prefix back as a broadcast map literal. The
    partitioned frame is pinned with localCheckpoint first because
    RangePartitioner samples boundaries per job — the totals collect and
    the final projection must see the SAME partitioning."""
    base = df.select(F.col(id_col),
                     F.size(F.split(F.col(text_col), " ")).alias("n_tokens"))
    parts = (base.repartitionByRange(buckets, F.col(id_col))
             .withColumn("_pid", F.spark_partition_id())
             .localCheckpoint(eager=True))
    w = (Window.partitionBy("_pid").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    local = parts.withColumn("_end", F.sum("n_tokens").over(w))
    totals = {r["_pid"]: r["tot"] for r in
              local.groupBy("_pid").agg(F.max("_end").alias("tot")).collect()}
    offsets, running = {}, 0
    for pid in sorted(totals):
        offsets[pid] = running
        running += totals[pid]
    off = (F.coalesce(F.create_map(
        *[F.lit(v) for pid_off in sorted(offsets.items()) for v in pid_off]
    )[F.col("_pid")], F.lit(0)) if offsets else F.lit(0))
    start = (F.col("_end") - F.col("n_tokens") + off).cast("long")
    first = F.floor(start / ctx).cast("long")
    last = F.floor((start + F.col("n_tokens") - 1) / ctx).cast("long")
    return local.select(
        F.col(id_col), F.col("n_tokens"), start.alias("start_offset"),
        first.alias("chunk_id"),
        F.when(F.col("n_tokens") > 0, last - first + 1).otherwise(F.lit(0))
        .cast("long").alias("n_chunks_spanned"))


# ---------------------------------------------------------------------------
# language id (character n-gram heuristic)
# ---------------------------------------------------------------------------

_LANG_PROFILES = {
    "en": ["the", "and", "ing", "ion", "to ", " of", "is ", "ed "],
    "es": ["de ", "la ", "os ", "el ", "ión", " qu", "es ", "ar "],
    "fr": ["le ", "de ", "es ", "ent", " qu", "la ", "une", "ais"],
    "de": ["der", "die", "und", "ein", "sch", "ich", "en ", "cht"],
}


@pandas_udf(StringType())
def lang_id(text: pd.Series) -> pd.Series:
    """Trigram-profile language guess; 'und' when nothing matches. Pure
    function of the text — deterministic."""
    out = []
    for t in text:
        s = (t or "").lower()
        best, best_score = "und", 0
        for lang, grams in _LANG_PROFILES.items():
            score = sum(s.count(g) for g in grams)
            if score > best_score:
                best, best_score = lang, score
        out.append(best)
    return pd.Series(out)


def language_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return df.select(F.col(id_col), lang_id(F.col(text_col)).alias("lang_guess"))


# ---------------------------------------------------------------------------
# document fingerprinting (winnowing over rolling hashes)
# ---------------------------------------------------------------------------


def make_fingerprint_udf(k: int = 5, window: int = 4):
    @pandas_udf(ArrayType(LongType()))
    def fingerprint(text: pd.Series) -> pd.Series:
        """Winnowing (Schleimer et al. 2003): md5-based k-gram hashes, min
        per sliding window, deduped, sorted — a compact, deterministic
        document sketch for copy detection."""
        out = []
        for t in text:
            toks = (t or "").lower().split()
            grams = [" ".join(toks[i:i + k])
                     for i in range(max(0, len(toks) - k + 1))]
            hs = [int.from_bytes(hashlib.md5(g.encode()).digest()[:8], "big",
                                 signed=False) >> 1
                  for g in grams]
            if not hs:
                out.append([])
                continue
            picks = set()
            for i in range(max(1, len(hs) - window + 1)):
                picks.add(min(hs[i:i + window]))
            out.append(sorted(picks))
        return pd.Series(out)

    return fingerprint


def fingerprints(df: DataFrame, text_col: str, id_col: str,
                 k: int = 5, window: int = 4) -> DataFrame:
    """Winnowing document sketches (Schleimer et al. 2003), pure
    Catalyst: k-gram construction, 63-bit md5 hash, sliding-window min,
    and distinct-sort all run ROW-LOCALLY as JVM array expressions —
    no UDF, no Arrow transfer, no shuffle of any kind (the pandas-UDF
    reference kernel survives as ``make_fingerprint_udf``, pinned equal
    by the parity unit test). The 64-bit hex hash is assembled as
    ``hi60·8 + lo4>>1`` — two 15+1-hex ``conv`` reads — because a full
    16-hex conv overflows BIGINT before the ``>>1`` can drop the sign
    bit; the algebra is exactly ``int(hex16, 16) >> 1``."""
    toks = _ws_tokens_nn(text_col)

    def _h(g):
        m = F.md5(g)
        hi = F.conv(F.substring(m, 1, 15), 16, 10).cast("long")
        lo = F.conv(F.substring(m, 16, 1), 16, 10).cast("long")
        return hi * 8 + F.shiftright(lo, 1)

    # STAGED projections, deliberately: building one nested Column would
    # inline the token-split expression into every lambda body, and
    # higher-order functions evaluate interpreted (no codegen CSE) — the
    # sliding-window min would then re-tokenize the document per window,
    # O(n³) per doc (measured: a single bench task pinned a core for 40+
    # minutes at sf0.1). Each stage below references its input alias
    # more than once, which also stops CollapseProject from undoing the
    # materialization — every array is computed exactly once per row.
    s1 = df.select(F.col(id_col), toks.alias("__tk"))
    n_g_ = F.greatest(F.size("__tk") - F.lit(k - 1), F.lit(0))
    grams = F.when(n_g_ > 0, F.transform(
        F.sequence(F.lit(1), n_g_),
        lambda i: F.array_join(F.slice("__tk", i, k), " "))
    ).otherwise(F.array().cast("array<string>"))
    s2 = s1.select(F.col(id_col), grams.alias("__g"))
    s3 = s2.select(F.col(id_col), F.size("__g").alias("__ng"),
                   F.transform("__g", _h).alias("__h"))
    n_w = F.greatest(F.size("__h") - F.lit(window - 1), F.lit(1))
    picks = F.when(F.size("__h") > 0, F.array_sort(F.array_distinct(
        F.transform(F.sequence(F.lit(1), n_w),
                    lambda i: F.array_min(F.slice("__h", i, window)))))
    ).otherwise(F.array().cast("array<long>"))
    return s3.select(F.col(id_col), picks.alias("fingerprint"))


def fingerprint_overlap_pairs(df: DataFrame, text_col: str, id_col: str,
                              min_shared: int = 2,
                              max_df: int = 10,
                              sketch_partitions: "int | None" = None
                              ) -> DataFrame:
    """Copy-detection join: explode fingerprints, self-join on hash, count
    shared hashes per pair — the scalable (inverted-index) form.

    ``max_df`` drops fingerprints carried by more than that many
    documents BEFORE the self-join — the standard MOSS-style
    ubiquitous-fingerprint suppression: a hash shared corpus-wide is
    chrome/boilerplate, not copy evidence, and it is also exactly what
    detonates the join (pair fan-out is Σ C(df, 2); winnowing picks
    LOW hashes, so hot grams correlate across documents — measured
    596 s at sf0.1 uncapped vs ~2 s capped, same top pairs). The cap
    bounds every hash's fan-out at C(max_df, 2) so the join is linear
    in fingerprint volume at any corpus size; the oracle applies the
    identical HAVING.

    The per-doc fingerprint table is localCheckpoint-ed BEFORE the
    explode, deliberately: the checkpoint is a hard optimizer barrier.
    Placed after the explode, generator-side rewrites
    (GeneratorNestedColumnAliasing / column pruning) inline the whole
    staged sketch chain back into one Generate expression — undoing the
    ``fingerprints`` staging and re-creating the O(n³) per-row eval
    (measured: the checkpoint job itself pinned one core). It also
    pins the sketch so the three consumers (df_ count, both pair-join
    sides) read it instead of re-running the projection. Sketch
    generation is repartitioned up front so a narrow input cannot pin
    the md5 work to a few cores — a single-row-group parquet file is
    unsplittable, so the work would otherwise run on ONE core no
    matter the cluster. The repartition is unconditional with an
    explicit ``sketch_partitions`` (default: cluster parallelism): the
    previous ``rdd.getNumPartitions()`` width probe forced a driver-side
    RDD conversion of the logical plan on every invocation (ADVICE r5);
    a caller whose scan is already wide passes ``sketch_partitions=0``
    to skip the exchange entirely."""
    sc = df.sparkSession.sparkContext
    if sketch_partitions is None:
        sketch_partitions = sc.defaultParallelism
    if sketch_partitions:
        df = df.repartition(sketch_partitions)
    fps = fingerprints(df, text_col, id_col).localCheckpoint(eager=True)
    ex = fps.select(F.col(id_col), F.explode("fingerprint").alias("h"))
    rare = (ex.groupBy("h").agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") <= max_df).select("h"))
    ex = ex.join(rare, "h", "semi")
    a = ex.select(F.col(id_col).alias("a"), "h")
    b = ex.select(F.col(id_col).alias("b"), "h")
    return (a.join(b, "h").filter(F.col("a") < F.col("b"))
            .groupBy("a", "b").agg(F.count(F.lit(1)).alias("shared"))
            .filter(F.col("shared") >= min_shared))


# ---------------------------------------------------------------------------
# readability (the postprocessor's 7-score stage, over any text table)
# ---------------------------------------------------------------------------

READABILITY_SCHEMA = StructType([
    StructField(name, IntegerType()) for name in
    ("ARI", "ColemanLiau", "DaleChall", "Flesch", "FleschKincaid",
     "LinsearWrite", "SMOG")
])


@pandas_udf(READABILITY_SCHEMA)
def readability_struct(text: pd.Series) -> pd.DataFrame:
    rows = [refsem.readability_scores(t or "") for t in text]
    return pd.DataFrame(rows)


def readability(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """process_readability.py:45-52 as one vectorized pass → struct of the
    seven min_age scores."""
    return df.select(F.col(id_col),
                     readability_struct(F.col(text_col)).alias("readability"))


# ---------------------------------------------------------------------------
# PII redaction (training-data scrub; pure Catalyst)
# ---------------------------------------------------------------------------

# RE2-compatible patterns (no backreferences/lookaround), so the exact same
# strings drive Spark's regexp_replace and the DuckDB oracle
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{1,3}[ -]?\d{1,4}[ -]?\d{3,4}[ -]?\d{3,4}", "<PHONE>"),
]


def redact_pii(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Training-data PII scrub: emails, IPv4 addresses, and international
    phone numbers become typed placeholder tokens — entirely built-in
    regexp_replace (whole-stage codegen, no Python). Order matters: emails
    go first (an address's dotted domain would otherwise partially match
    the IP pattern), then IPs, then phones."""
    col = F.col(text_col)
    for _name, pat, tok in PII_PATTERNS:
        col = F.regexp_replace(col, pat, tok)
    return df.select(F.col(id_col), col.alias("text_redacted"))


def inverted_index_stats(df: DataFrame, text_col: str, id_col: str,
                         min_df: int = 1) -> DataFrame:
    """Per-term postings statistics — the Spark-side expression of the
    indexing stage the reference delegates to Elasticsearch (es_mapping.py
    text fields; postprocessor push at process_es.py): document frequency,
    total term frequency, and the highest-tf document per term (ties
    toward the SMALLEST doc id, the ES-scoring-style deterministic pick).

    Returns (term, doc_freq, total_tf, top_doc). Two hash aggregations —
    (term, doc) tf then per-term rollup — both map-side combinable, the
    winner elected with ``max(struct(tf, -id))`` so no window or sort
    appears anywhere; the only shuffles move (term, id, tf) triples then
    per-term scalars. ``min_df`` prunes hapax terms AFTER aggregation
    (a HAVING, not a pre-shuffle filter — tf is needed to decide)."""
    toks = _ws_tokens_nn(text_col)
    tf = (df.select(F.col(id_col).alias("__id"),
                    F.explode(toks).alias("term"))
          .groupBy("term", "__id").agg(F.count(F.lit(1)).alias("tf")))
    return (tf.groupBy("term")
            .agg(F.count(F.lit(1)).alias("doc_freq"),
                 F.sum("tf").alias("total_tf"),
                 F.max(F.struct(F.col("tf"),
                                (-F.col("__id")).alias("negid"))).alias("_w"))
            .filter(F.col("doc_freq") >= min_df)
            .select("term", "doc_freq", "total_tf",
                    (-F.col("_w.negid")).alias("top_doc")))


def tfidf_top_terms(df: DataFrame, text_col: str, id_col: str,
                    k: int = 3) -> DataFrame:
    """Top-``k`` TF-IDF terms per document — the per-doc keyword signal an
    indexing/retrieval pipeline derives right after postings (score =
    tf · ln(N/df), the classic smooth-free form). Returns
    (id, term, tfidf), ≤ k rows per doc, ranked (tfidf desc, term asc)
    with the score rounded to 6dp BEFORE ranking so ties are stable
    across engines and partitionings.

    Scale shape: one (term, doc) tf aggregation, one per-term df rollup,
    N as a broadcast 1-row aggregate (never a driver collect), and the
    per-doc top-k via ``slice(array_sort(collect_list(...)))`` inside the
    doc-keyed aggregation — no window over the (huge) scored table, so
    the only exchanges move (term, id, tf) triples and per-doc arrays
    bounded by the doc's distinct-term count."""
    toks = _ws_tokens_nn(text_col)
    tf = (df.select(F.col(id_col).alias("__id"),
                    F.explode(toks).alias("term"))
          .groupBy("term", "__id").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    score = F.round(F.col("tf")
                    * F.log(F.col("n_docs") / F.col("doc_freq")), 6)
    scored = (tf.join(dfreq, "term")
              .crossJoin(F.broadcast(n_docs))
              .select("__id", "term", score.alias("tfidf")))
    return (scored.groupBy("__id")
            .agg(F.slice(F.array_sort(F.collect_list(
                F.struct((-F.col("tfidf")).alias("neg"), F.col("term")))),
                1, k).alias("top"))
            .select(F.col("__id").alias(id_col),
                    F.explode("top").alias("t"))
            .select(id_col, F.col("t.term").alias("term"),
                    (-F.col("t.neg")).alias("tfidf")))


def bm25_topk(df: DataFrame, text_col: str, id_col: str, query: str,
              k: int = 10, k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """BM25 ranked retrieval: the query a user of the reference runs
    against its Elasticsearch index (es_mapping.py text fields; ES's
    default similarity IS BM25), re-expressed as a first-class Spark op
    so retrieval works straight off the corpus table.

    score(d) = Σ_{t∈q} ln(1 + (N - df + 0.5)/(df + 0.5))
                 · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))

    Returns (doc id, score) — top ``k`` by (score desc, id asc), score
    rounded to 6dp BEFORE ranking so ties are stable across engines.

    Scale shape (the 100 TB lever is selectivity): the exploded token
    stream is filtered to the query's terms with a literal IN *before*
    the (doc, term) shuffle, so the tf aggregation moves only postings
    of the handful of query terms — at web scale that is MB, not TB.
    Per-doc length rides along with each exploded row (``size(toks)``
    computed in the same scan) so no join back to the full corpus is
    ever needed; N and avgdl are a broadcast 1-row aggregate; the final
    top-k is a TakeOrdered (no global sort). Two corpus scans total
    (postings + the avgdl aggregate), both column-pruned to (id, text):
    the filtered postings are localCheckpointed (they are MB-sized by
    construction) so the per-term document frequency derives from the
    materialized postings instead of a third corpus scan — the simhash
    lesson: Catalyst re-executes a shared subtree once per branch.
    """
    toks = _ws_tokens_nn(text_col)
    qterms = sorted({t for t in query.lower().split() if t})
    stats = df.agg(F.count(F.lit(1)).cast("double").alias("n_docs"),
                   F.avg(F.size(toks)).alias("avgdl"))
    tf = (df.select(F.col(id_col).alias("__id"),
                    F.size(toks).alias("dl"),
                    F.explode(toks).alias("term"))
          .filter(F.col("term").isin(qterms))
          .groupBy("__id", "term")
          .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
          .localCheckpoint())
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("doc_freq") + 0.5)
                / (F.col("doc_freq") + 0.5))
    part = (idf * F.col("tf") * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl")
                                   / F.col("avgdl"))))
    return (tf.join(F.broadcast(dfreq), "term")
            .crossJoin(F.broadcast(stats))
            .groupBy("__id").agg(F.round(F.sum(part), 6).alias("score"))
            .select(F.col("__id").alias(id_col), "score")
            .orderBy(F.col("score").desc(), F.col(id_col).asc())
            .limit(k))


def quality_lr_score(df: DataFrame, text_col: str, id_col: str,
                     label_col: str, n_buckets: int = 64, steps: int = 5,
                     lr: float = 1.0, n_train: int = 128,
                     round_w: int = 9) -> DataFrame:
    """Model-based quality filtering (the CCNet/RefinedWeb/FineWeb
    pipeline stage the reference approximates with hand rules): a
    logistic-regression classifier over md5-hashed unigram frequencies,
    trained by full-batch gradient descent on a bounded deterministic
    sample, then scored over the whole corpus.

    Returns (id, lr_score, pred): σ(bias + w·x) rounded to 6dp, and
    pred = (score ≥ 0.5) as a long — the keep/drop gate.

    Determinism across engines: the training sample is the first
    ``n_train`` docs by id (the IVF-kmeans bounded-ordered-sample
    pattern); weights and bias are rounded to ``round_w`` dp after EVERY
    gradient step, so the driver's numpy GD and the oracle's unrolled
    CTE GD see bit-identical parameters at each step regardless of
    summation order — drift cannot compound across iterations.

    Scale shape: training is one bounded collect (``n_train`` token
    arrays — O(n_train·doclen) driver memory, same bound class as the
    IVF k-means sample) and O(steps·n_train·n_buckets) numpy work;
    scoring is a PURE MAP pass — the learned weights ride as a literal
    array and the margin folds over each row's own tokens
    (``aggregate``), so the full-corpus pass has ZERO shuffles and one
    column-pruned scan (plan-pinned). At 100 TB the classifier trains
    in seconds and scoring is scan-bound, exactly like the production
    fasttext filters this models."""
    import numpy as np

    toks = _ws_tokens_nn(text_col)
    base = df.select(F.col(id_col).alias("__id"),
                     F.coalesce(F.col(label_col).cast("int"),
                                F.lit(0)).alias("__y"),
                     toks.alias("__t"))

    def _bucket_py(tok: str) -> int:
        import hashlib
        return int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:8],
                   16) % n_buckets

    samp = base.orderBy("__id").limit(n_train).collect()
    X = np.zeros((len(samp), n_buckets))
    y = np.array([float(r["__y"]) for r in samp])
    for i, r in enumerate(samp):
        ts = r["__t"] or []
        for t in ts:
            X[i, _bucket_py(t)] += 1.0
        if ts:
            X[i] /= float(len(ts))
    w = np.zeros(n_buckets)
    bias, n = 0.0, float(len(samp))
    for _ in range(steps):
        p = 1.0 / (1.0 + np.exp(-(X @ w + bias)))
        err = p - y
        w = np.round(w - lr * (X.T @ err) / n, round_w)
        bias = round(bias - lr * float(err.mean()), round_w)

    w_arr = F.array(*[F.lit(float(v)) for v in w])

    def _bucket(c):
        return (F.conv(F.substring(F.md5(c), 1, 8), 16, 10)
                .cast("long") % n_buckets)

    dl = F.size("__t")
    contrib = F.aggregate(
        "__t", F.lit(0.0),
        lambda acc, x: acc + F.element_at(w_arr,
                                          (_bucket(x) + 1).cast("int")))
    margin = (F.lit(bias)
              + F.when(dl > 0, contrib / dl).otherwise(F.lit(0.0)))
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)), 6)
    return (base.select(F.col("__id").alias(id_col),
                        score.alias("lr_score"))
            .withColumn("pred", (F.col("lr_score") >= 0.5).cast("long")))


def bpe_learn_merges(df: DataFrame, text_col: str,
                     n_merges: int = 10) -> DataFrame:
    """Tokenizer induction: learn the first ``n_merges`` BPE merge rules
    (Sennrich et al. 2016) over the corpus — the iterative continuation
    of ``bpe_pair_stats`` (which is exactly iteration 1). Returns the
    merge table (step, sym_l, sym_r, pair_count), the artifact a
    tokenizer ships.

    Distributed shape: the corpus is reduced ONCE to the (word, count)
    vocabulary (the only corpus-wide shuffle); every merge step then runs
    on the vocabulary table — one map-side-combinable pair-count
    aggregation, a 1-row TakeOrdered collect (count desc, pair asc — the
    deterministic tie-break), and a row-local literal rewrite of the
    symbol sequences. Per-step sequences are eagerly localCheckpointed
    with the superseded round's blocks released by a ``CheckpointScope``,
    so plans stay flat and at most two vocabulary tables are held. At
    100 TB the vocab is millions of rows, not billions — every iteration
    is seconds.

    Merge application: the symbol sequence is a single-space-joined
    string with sentinel spaces, and a merge applies as TWO leftmost
    non-overlapping literal replaces of ``" l r "`` → ``" lr "`` — the
    first pass can consume the boundary space of an adjacent site, the
    second catches those (no third site can survive: pass-1 leftovers
    are isolated). Both engines' ``replace`` scan leftmost
    non-overlapping, so Spark and the SQL oracle rewrite identically
    (for odd same-symbol runs this yields the same deterministic
    grouping in both, which may differ from strict greedy-left — the
    cross-engine agreement is the contract)."""
    spark = df.sparkSession
    toks = _ws_tokens_nn(text_col)
    words = (df.select(F.explode(toks).alias("w"))
             .groupBy("w").agg(F.count(F.lit(1)).alias("cnt")))
    merges = []
    with CheckpointScope(spark.sparkContext) as scope:
        seq = base = scope.ckpt(words.select(
            F.concat(F.lit(" "), F.concat_ws(" ", F.split("w", "")),
                     F.lit(" </w> ")).alias("s"),
            "cnt"))
        for step in range(1, n_merges + 1):
            syms = F.filter(F.split("s", " "), lambda x: x != "")
            pair_arr = F.when(
                F.size(syms) >= 2,
                F.transform(F.sequence(F.lit(0), F.size(syms) - 2),
                            lambda i: F.struct(
                                F.element_at(syms, (i + 1).cast("int"))
                                .alias("l"),
                                F.element_at(syms, (i + 2).cast("int"))
                                .alias("r")))
            ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
            best = (seq.select(F.explode(pair_arr).alias("p"), "cnt")
                    .groupBy("p.l", "p.r").agg(F.sum("cnt").alias("c"))
                    .orderBy(F.col("c").desc(), F.col("l").asc(),
                             F.col("r").asc())
                    .limit(1).collect())
            if not best:
                break
            l, r, c = best[0]["l"], best[0]["r"], int(best[0]["c"])
            merges.append((step, l, r, c))
            pat, rep = F.lit(f" {l} {r} "), F.lit(f" {l}{r} ")
            # the merge rewrite is a NARROW projection over the vocabulary
            # — chain up to 4 of them lazily instead of materializing each
            # one (each step's pair-count job then re-runs at most 3
            # pending replace passes over the checkpointed vocab blocks, a
            # map-only cost far below the per-step checkpoint job it
            # replaces)
            seq = seq.select(
                F.replace(F.replace("s", pat, rep), pat, rep).alias("s"),
                "cnt")
            if step % 4 == 0:
                seq = base = scope.ckpt(seq, replaces=base)
    return spark.createDataFrame(
        merges, "step long, sym_l string, sym_r string, pair_count long")


def bm25_batch_topk(df: DataFrame, text_col: str, id_col: str,
                    queries_df: DataFrame, q_id_col: str, q_text_col: str,
                    k: int = 5, k1: float = 1.2,
                    b: float = 0.75) -> DataFrame:
    """Batched many-queries BM25 — the form a search/eval pipeline
    actually runs: a whole queries DataFrame scored against the corpus
    in ONE job (the lexical twin of ``ivf_batch_query``).

    Scale shape: the union of every query's terms — bounded by the
    query workload's vocabulary, collected like ``ivf_batch_query``'s
    probed-list set — filters the exploded token stream BEFORE the
    (doc, term) shuffle, so the postings aggregation moves only the
    workload's terms; the filtered postings are localCheckpointed once
    and reused for document frequency (no second corpus scan); queries
    fan out via a BROADCAST join on term; the per-query top-k window
    partitions the (query, matching-doc) rows only. Repeated terms
    within one query weigh once (distinct (query, term) — the common
    BM25 simplification). Returns (query_id, id, score, rank)."""
    toks = _ws_tokens_nn(text_col)
    qtok = _ws_tokens_nn(q_text_col)
    # collect the bounded (query_id, term) workload ONCE and rebuild it
    # as a single-slice local frame: the lazy explode+distinct subplan
    # was otherwise re-executed (a shuffle included) inside the scoring
    # join's broadcast build, and the term filter needed a second
    # distinct over it — the workload is driver-bounded by contract
    # (like the IVF probed-list set), so one collect serves both
    qlazy = (queries_df.select(F.col(q_id_col).alias("query_id"),
                               F.explode(qtok).alias("term"))
             .distinct())
    qrows = qlazy.collect()
    qterms = df.sparkSession.createDataFrame(
        qrows, qlazy.schema).repartition(1)
    term_list = sorted({r["term"] for r in qrows})
    stats = df.agg(F.count(F.lit(1)).cast("double").alias("n_docs"),
                   F.avg(F.size(toks)).alias("avgdl"))
    tf = (df.select(F.col(id_col).alias("__id"),
                    F.size(toks).alias("dl"),
                    F.explode(toks).alias("term"))
          .filter(F.col("term").isin(term_list))
          .groupBy("__id", "term")
          .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
          .localCheckpoint())
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("doc_freq") + 0.5)
                / (F.col("doc_freq") + 0.5))
    part = (idf * F.col("tf") * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl")
                                   / F.col("avgdl"))))
    scored = (tf.join(F.broadcast(dfreq), "term")
              .join(F.broadcast(qterms), "term")
              .crossJoin(F.broadcast(stats))
              .groupBy("query_id", "__id")
              .agg(F.round(F.sum(part), 6).alias("score")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("__id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col("__id").alias(id_col),
                    "score", "rank"))


def bpe_encode_count(df: DataFrame, text_col: str, id_col: str,
                     merges: "list[tuple[str, str]]") -> DataFrame:
    """Apply a learned BPE merge list to the corpus and count the
    resulting tokens per document — the other half of the tokenizer
    story (``bpe_learn_merges`` ships the artifact; this op is what a
    data pipeline runs with it: exact token budgets per doc under the
    trained tokenizer, not the ``bpe_ish_token_count`` heuristic).

    ``merges`` is the ordered (sym_l, sym_r) list — the bounded
    driver-side artifact (like the IVF centroids): a tokenizer ships
    thousands of rules, never corpus-scale data. Merge application is
    the same double leftmost-non-overlapping literal replace as the
    learner, so learn→encode round-trips symbol-for-symbol and the
    DuckDB oracle mirrors it with the identical ``replace`` calls.

    Scale shape: encoding runs over the DISTINCT VOCABULARY, not the
    corpus — one (id, word) count aggregation (map-side combinable),
    one vocabulary projection applying all merges as a single nested
    chain of JVM ``replace`` calls (pure codegen, no UDF, no per-merge
    pass over the data), one join back on word, one final per-doc sum.
    At 100 TB the vocab is millions of rows against billions of doc
    words — the merge chain cost is O(vocab), the rest is two hash
    aggregations and a join. Returns (id, n_bpe_tokens) for EVERY input
    doc (empty/NULL text → 0)."""
    toks = _ws_tokens_nn(text_col)
    doc_words = (df.select(F.col(id_col), F.explode(toks).alias("w"))
                 .groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("k")))
    s = F.concat(F.lit(" "), F.concat_ws(" ", F.split("w", "")),
                 F.lit(" </w> "))
    for l, r in merges:
        pat, rep = F.lit(f" {l} {r} "), F.lit(f" {l}{r} ")
        s = F.replace(F.replace(s, pat, rep), pat, rep)
    enc = (doc_words.select("w").distinct()
           .select("w", F.size(F.filter(F.split(s, " "),
                                        lambda x: x != ""))
                   .cast("long").alias("n_syms")))
    summed = (doc_words.join(enc, "w")
              .groupBy(id_col)
              .agg(F.sum(F.col("k") * F.col("n_syms"))
                   .alias("n_bpe_tokens")))
    return (df.select(F.col(id_col)).distinct()
            .join(summed, id_col, "left")
            .select(id_col, F.coalesce("n_bpe_tokens", F.lit(0))
                    .cast("long").alias("n_bpe_tokens")))


# Gopher (Rae et al. 2021, arXiv:2112.11446 §A1.1) document-quality rules.
# The eight required "stop words" from the paper's final rule.
GOPHER_REQUIRED_STOPWORDS = ("the", "be", "to", "of", "and",
                             "that", "have", "with")


def gopher_rules(df: DataFrame, text_col: str, id_col: str,
                 min_words: int = 50, max_words: int = 100_000,
                 min_mean_wl: float = 3.0, max_mean_wl: float = 10.0,
                 max_symbol_ratio: float = 0.1,
                 max_bullet_frac: float = 0.9,
                 max_ellipsis_frac: float = 0.3,
                 min_alpha_frac: float = 0.8,
                 min_stop_hits: int = 2) -> DataFrame:
    """Gopher document-quality rule set as one pure-Catalyst projection:
    word-count bounds, mean-word-length bounds, symbol-to-word ratio
    ('#' + '...'), bullet-started and ellipsis-ended line fractions,
    fraction of words containing an alphabetic character, and the
    required-stopword count.  Per-rule flags are folded into one
    ``gopher_pass`` 0/1 so downstream filters read a single column.

    100 TB shape: narrow per-row projection, no shuffle, whole-stage
    codegen end to end; filters on ``gopher_pass`` push down to the scan
    when the projection is materialized as a column.  Ratios are rounded
    to 6 dp for display; the PASS flags compare the unrounded doubles
    (identical IEEE division in Spark and DuckDB, so the oracle agrees).
    """
    t = F.col(text_col)
    words = F.split(t, " ")
    n_words = F.size(words)
    n_chars = F.length(t)
    mean_wl = F.try_divide(n_chars - n_words + 1, n_words)
    n_hash = n_chars - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ell = F.regexp_count(t, F.lit(r"\.\.\."))
    symbol_ratio = F.try_divide(n_hash + n_ell, n_words)
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    bullet_frac = F.try_divide(
        F.size(F.filter(lines, lambda l: l.rlike(r"^[-*•]"))), n_lines)
    ellipsis_frac = F.try_divide(
        F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)$"))),
        n_lines)
    alpha_frac = F.try_divide(
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))), n_words)
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_REQUIRED_STOPWORDS])
    stop_hits = F.size(F.array_intersect(
        F.array_distinct(F.split(F.lower(t), " ")), stop_arr))
    gopher_pass = (
        n_words.between(min_words, max_words)
        & mean_wl.between(min_mean_wl, max_mean_wl)
        & (F.coalesce(symbol_ratio, F.lit(0.0)) <= max_symbol_ratio)
        & (F.coalesce(bullet_frac, F.lit(0.0)) <= max_bullet_frac)
        & (F.coalesce(ellipsis_frac, F.lit(0.0)) <= max_ellipsis_frac)
        & (F.coalesce(alpha_frac, F.lit(0.0)) >= min_alpha_frac)
        & (stop_hits >= min_stop_hits))
    z = F.lit(0.0)
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(F.coalesce(mean_wl, z), 6).alias("mean_word_len"),
        F.round(F.coalesce(symbol_ratio, z), 6).alias("symbol_ratio"),
        F.round(F.coalesce(bullet_frac, z), 6).alias("bullet_line_frac"),
        F.round(F.coalesce(ellipsis_frac, z), 6).alias("ellipsis_line_frac"),
        F.round(F.coalesce(alpha_frac, z), 6).alias("alpha_word_frac"),
        stop_hits.alias("n_stop_hits"),
        F.when(gopher_pass, 1).otherwise(0).alias("gopher_pass"),
    )


def compression_struct(text: pd.Series) -> pd.DataFrame:
    """Per-doc zlib (DEFLATE level 6) sizes — C-speed inside the Arrow
    batch, no per-row Python beyond the encode."""
    import zlib
    raw, comp = [], []
    for t in text:
        b = (t or "").encode("utf-8")
        raw.append(len(b))
        comp.append(len(zlib.compress(b, 6)))
    return pd.DataFrame({"raw_len": raw, "zlib_len": comp})


def compression_ratio(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Compression-ratio quality signal (RefinedWeb/MassiveText practice):
    DEFLATE size over raw size per document, fixed-point micro units.
    Boilerplate/templated/repetitive pages compress far below prose;
    random-ish spam compresses worse — quality gates trim both tails.

    Returns (id, raw_len, zlib_len, ratio_micro).

    rows-only by design: no ANSI SQL engine exposes DEFLATE, so the
    oracle is the pytest parity test against python zlib directly
    (byte-exact, same level); determinism caveat — the ratio is exact
    for a given zlib build, and one cluster ships one zlib.

    100 TB shape: one Arrow-vectorized projection, no shuffle; the UDF
    moves (id, text) in and three longs out.
    """
    comp = pandas_udf(compression_struct,
                      "struct<raw_len:long, zlib_len:long>")
    return (df.select(F.col(id_col), comp(F.col(text_col)).alias("c"))
            .select(F.col(id_col),
                    F.col("c.raw_len").alias("raw_len"),
                    F.col("c.zlib_len").alias("zlib_len"),
                    F.when(F.col("c.raw_len") > 0,
                           F.expr("c.zlib_len * 1000000 DIV c.raw_len"))
                    .otherwise(0).cast("long").alias("ratio_micro")))


def host_line_dedup(df: DataFrame, text_col: str, id_col: str,
                    group_col: str, min_docs: int = 3,
                    segmenter: str = "newline",
                    k_tokens: int = 12) -> DataFrame:
    """Per-host boilerplate line removal (the CCNet/RefinedWeb hygiene
    pass): a line whose normalized form (lower + trim) appears in
    ``min_docs`` or more DISTINCT documents of the same group (host /
    source) is chrome — nav bars, footers, cookie banners — and is
    dropped from every document; C4-style per-line rules can't catch it
    because each copy looks like prose. Returns
    ``(id, clean_text, n_lines, n_dropped)`` with surviving lines
    rejoined in original order.

    ``segmenter`` mirrors ``c4_line_filter``: ``newline`` (the real
    unit) or ``tokens`` (fixed ``k_tokens``-token blocks for corpora
    without line structure).

    Scale shape: explode → ONE (group, line)-keyed hash aggregation with
    map-side combine (count distinct docs per line) → join the exploded
    lines back on the same (group, line) key — the exchange is reused,
    not repeated — → one (id)-keyed aggregation to reassemble. All
    built-ins; the shuffled payload is (group, line-hash-sized strings),
    never whole documents. At 100 TB run it per host partition: the
    count and the join co-locate on the same key, and no host's line
    table exceeds its own page count. This is the per-shard duplicate-
    paragraph pass CCNet (Wenzek et al. 2020 §3.1) runs before LM
    filtering.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    # stage the token array before the per-segment lambda (the
    # fingerprints O(n^3) lesson: interpreted higher-order eval would
    # re-tokenize the document per segment otherwise)
    if segmenter == "newline":
        pre = df.select(F.col(id_col).alias("id"),
                        F.col(group_col).alias("grp"),
                        F.split(t, "\n").alias("__lines"))
    elif segmenter == "tokens":
        s0 = df.select(F.col(id_col).alias("id"),
                       F.col(group_col).alias("grp"),
                       _ws_tokens(t).alias("__tk"))
        n_seg = F.ceil(F.size("__tk") / F.lit(k_tokens)).cast("int")
        pre = s0.select("id", "grp", F.transform(
            F.sequence(F.lit(0), F.greatest(n_seg, F.lit(1)) - 1),
            lambda i: F.array_join(
                F.slice("__tk", i * k_tokens + 1, k_tokens), " "))
            .alias("__lines"))
    else:
        raise ValueError(f"unknown segmenter {segmenter!r}")
    seg = pre.select("id", "grp",
                     F.posexplode("__lines").alias("pos", "line"))
    seg = seg.withColumn("norm", F.lower(F.trim(F.col("line"))))
    # only lines that ARE chrome need the join-back: filter the count
    # table to the boiler subset first — chrome is rare by construction
    # (a line in >= min_docs distinct docs of one host), so the build
    # side collapses from line-cardinality to chrome-cardinality and AQE
    # broadcasts it; the exploded lines then shuffle ONCE (the final
    # per-doc reassembly) instead of twice. (Local sf0.1 wall is scan-
    # and collect-bound — the 5000-doc table is one parquet file, one
    # scan partition — so the win shows at scale, not in bench.py.)
    boiler_keys = (seg.groupBy("grp", "norm")
                   .agg(F.count_distinct("id").alias("docs"))
                   .filter(F.col("docs") >= min_docs)
                   .select("grp", "norm", F.lit(1).alias("__b")))
    j = seg.join(boiler_keys, ["grp", "norm"], "left")
    arr = F.array_sort(F.collect_list(
        F.struct(F.col("pos").alias("p"), F.col("line").alias("ln"),
                 F.col("__b").isNotNull().alias("boiler"))))
    return (j.groupBy("id")
            .agg(arr.alias("a"))
            .select(
                F.col("id").alias(id_col),
                F.array_join(
                    F.transform(F.filter("a", lambda x: ~x["boiler"]),
                                lambda x: x["ln"]), "\n")
                .alias("clean_text"),
                F.size("a").cast("int").alias("n_lines"),
                F.size(F.filter("a", lambda x: x["boiler"]))
                .cast("int").alias("n_dropped")))


def script_mix(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Unicode-script composition per document — the mC4/CCNet language-
    pipeline gate that catches what trigram lang-id can't: mixed-script
    spam, mojibake (declared-Latin pages full of replacement/Cyrillic
    bytes), and wrong-script boilerplate around a short real text.
    Counts Latin letters, CJK ideographs, Cyrillic, digits, and
    whitespace by deleting each class's complement (one regexp_replace
    per class — chars, not bytes, both engines agree), and reports the
    dominant-script fraction as fixed-point micros (integer division —
    the cross-engine midpoint-safe display idiom).

    Returns (id, n_chars_s, n_latin, n_cjk, n_cyrillic, n_digit,
    latin_frac_micro).

    Scale shape: a pure projection — five codegen regexp passes beside
    the scan, no UDF, no exchange of any kind; at 100 TB this pipelines
    with whatever aggregation consumes it."""
    t = F.col(text_col)

    def n_of(cls: str):
        return F.length(F.regexp_replace(t, f"[^{cls}]", ""))

    n = F.length(t)
    lat = n_of("a-zA-Z")
    b = lambda c: c.cast("bigint")
    return df.select(
        F.col(id_col),
        b(n).alias("n_chars_s"),
        b(lat).alias("n_latin"),
        b(n_of("一-鿿")).alias("n_cjk"),
        b(n_of("Ѐ-ӿ")).alias("n_cyrillic"),
        b(n_of("0-9")).alias("n_digit"),
        # the count MUST widen to BIGINT before *1e6: Spark length() is
        # INT and 2200 chars * 1000000 silently wraps past 2^31
        F.expr(f"CAST(length(regexp_replace({text_col}, '[^a-zA-Z]', ''))"
               f" AS BIGINT) * 1000000"
               f" DIV nullif(length({text_col}), 0)")
        .alias("latin_frac_micro"))


def hash_normalize(text_col) -> "F.Column":
    """CCNet-style hash normalization (Wenzek et al. 2019 §4.1 — the
    transform CCNet applies to a paragraph BEFORE hashing it for dedup,
    so that trivially re-rendered copies collide): lowercase, every digit
    folded to ``0``, ASCII punctuation stripped, whitespace runs
    collapsed to one space, ends trimmed.  Restricted to the
    deterministic ASCII subset both engines implement identically (the
    full CCNet recipe also strips unicode accents; that fold is
    locale-dependent and lives outside the exactly-oracled kernel).

    A pure column expression — four regexp passes in codegen beside the
    scan, usable inside any dedup key (``md5(hash_normalize(text))``)."""
    c = F.lower(text_col) if not isinstance(text_col, str) \
        else F.lower(F.col(text_col))
    c = F.regexp_replace(c, "[0-9]", "0")
    c = F.regexp_replace(c, r"[!-&(-/:-@\[-`{-~]", "")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def normalized_exact_dedup(df: DataFrame, text_col: str,
                           id_col: str) -> DataFrame:
    """Exact dedup on the CCNet-normalized text: re-cased, re-numbered
    and re-punctuated copies of the same document collapse into one
    group that raw ``dedup.exact_dedup`` keeps apart.  Returns
    (norm_hash, id = min over the group, dup_count, n_raw_variants) —
    the raw-variant count is the evidence column: every group with
    ``n_raw_variants > 1`` is a duplicate the raw pass missed.

    Same 100 TB shape as exact_dedup: ONE map-side-combinable hash
    aggregation on a 32-byte key; the normalization itself is row-local
    codegen."""
    return (df.select(F.col(id_col),
                      F.md5(F.col(text_col)).alias("raw_hash"),
                      F.md5(hash_normalize(text_col)).alias("norm_hash"))
            .groupBy("norm_hash")
            .agg(F.min(id_col).alias(id_col),
                 F.count(F.lit(1)).alias("dup_count"),
                 F.count_distinct("raw_hash").alias("n_raw_variants")))


def kneser_ney_bigrams(df: DataFrame, text_col: str,
                       min_count: int = 3) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities with the standard
    fixed discount D = 0.75 — the statistical core of the n-gram LM
    CCNet scores corpora with (KenLM is KN-smoothed; Wenzek et al. 2019
    §4.3 filters by its perplexity; `ccnet_perplexity` consumes a model
    table like the one this operator TRAINS):

        pkn(w2|w1) = max(c12 − D, 0)/c(w1•)
                     + (D·N1+(w1•)/c(w1•)) · N1+(•w2)/B

    where N1+(w1•) / N1+(•w2) are distinct-continuation counts and B the
    number of distinct bigram types.  D = 3/4 keeps everything RATIONAL:
    scaled by 4 the formula is pure integer arithmetic, emitted in
    micros as two floor divisions (documented: the two-term floor differs
    from the single-fraction floor by ≤ 1 micro, identically in both
    engines).  Intermediate products stay < 2^63 up to ~10^6 bigram
    types × 10^6 max count; past that switch the numerators to DECIMAL.

    100 TB shape: the corpus-sized work is ONE (w1, w2) hash aggregation
    with map-side combine over exploded bigrams (gram strings shuffle
    once); every derived statistic (history counts, continuation counts,
    the 1-row type total) is computed from that bigram-TYPE table —
    orders of magnitude smaller than the corpus — and joined back on
    vocabulary-cardinality keys.  ``min_count`` prunes the hapax tail
    from the OUTPUT only (the statistics still see it, as KN requires).

    Returns (w1, w2, c12, pkn_micro) for bigrams with c12 >= min_count.
    """
    n = F.size("__tk")
    pair_t = "array<struct<w1:string,w2:string>>"
    pairs = (F.when(n >= 2, F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.struct(
            F.element_at("__tk", (i + 1).cast("int")).alias("w1"),
            F.element_at("__tk", (i + 2).cast("int")).alias("w2"))))
        .otherwise(F.array().cast(pair_t)))
    # token array staged before the bigram lambda (DESIGN.md §4)
    bg = (df.select(F.split(F.lower(F.col(text_col)), " ").alias("__tk"))
          .select(F.explode(pairs).alias("b")).select("b.w1", "b.w2"))
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    cw1 = c12.groupBy("w1").agg(F.sum("c12").alias("cw1"),
                                F.count(F.lit(1)).alias("n1_fw"))
    n1b = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("n1_bw"))
    bt = c12.agg(F.count(F.lit(1)).alias("b_types"))
    return (c12.join(cw1, "w1").join(n1b, "w2")
            .crossJoin(F.broadcast(bt))
            .filter(F.col("c12") >= int(min_count))
            .select("w1", "w2", "c12",
                    (F.expr("(1000000 * greatest(4 * c12 - 3, 0)) "
                            "div (4 * cw1)")
                     + F.expr("(3000000 * n1_fw * n1_bw) "
                              "div (4 * cw1 * b_types)"))
                    .cast("long").alias("pkn_micro")))


def shard_pack(df: DataFrame, id_col: str, size_col: str, n_shards: int,
               buckets: int = 32) -> DataFrame:
    """Balanced output-shard assignment for corpus writing: place
    documents into ``n_shards`` shards so shard byte totals stay within
    one max-document of each other — the step before writing training
    shards, where unbalanced files become stragglers for every epoch
    that follows.  Deterministic (no sampling): snake/boustrophedon
    placement over the (size DESC, id) rank — rank r goes to shard
    ``r mod 2N`` forward then backward — the classic LPT-flavored
    balancer that is pure arithmetic on the rank, hence exactly
    oracle-checkable (unlike greedy best-fit, whose argmin is
    sequential).

    The global rank does NOT use a single-partition window: like
    ``pack_chunks``, it is the two-level scan — range-partition by the
    sort key into ``buckets``, per-partition row_number (parallel
    window), collect only the B partition COUNTS and add each
    partition's exclusive offset back as a broadcast map literal.  The
    partitioned frame is localCheckpoint-ed first because
    RangePartitioner samples boundaries per job (the counts collect and
    the final projection must see the same partitioning).

    Returns (id, size, rank, shard).
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    base = df.select(F.col(id_col), F.col(size_col).cast("long")
                     .alias("__size"))
    parts = (base.repartitionByRange(buckets, F.col("__size").desc(),
                                     F.col(id_col))
             .withColumn("_pid", F.spark_partition_id())
             .localCheckpoint(eager=True))
    w = Window.partitionBy("_pid").orderBy(F.col("__size").desc(),
                                           F.col(id_col))
    local = parts.withColumn("_rn", F.row_number().over(w))
    counts = {r["_pid"]: r["c"] for r in
              local.groupBy("_pid").agg(F.count(F.lit(1)).alias("c"))
              .collect()}
    offsets, running = {}, 0
    for pid in sorted(counts):
        offsets[pid] = running
        running += counts[pid]
    off = (F.coalesce(F.create_map(
        *[F.lit(v) for pid_off in sorted(offsets.items()) for v in pid_off]
    )[F.col("_pid")], F.lit(0)) if offsets else F.lit(0))
    rank = (F.col("_rn") - 1 + off).cast("long")
    k = rank % (2 * n_shards)
    shard = (F.when(k < n_shards, k)
             .otherwise(2 * n_shards - 1 - k)).cast("long")
    return local.select(F.col(id_col), F.col("__size").alias(size_col),
                        rank.alias("rank"), shard.alias("shard"))


def badwords_gate(df: DataFrame, text_col: str, id_col: str,
                  badwords: "list[str]") -> DataFrame:
    """C4-style blocklist gate: drop any document containing a word from
    a curated blocklist (Raffel et al. 2020 §2.2 removed pages with any
    "List of Dirty, Naughty ... Words" hit).  Tokenizes on non-letter
    runs, lowercases, and counts blocklist hits WITH multiplicity — the
    count (not just the flag) feeds threshold variants and audit
    reports.

    Returns (doc_id, n_tok, n_bad, bad_micro, blocked): token count,
    blocklist hits, fixed-point hit rate, and the C4 drop flag
    (any hit → 1).

    100 TB shape: a pure per-row higher-order-function expression —
    split → filter(array_contains(lit(blocklist))) — no explode, no
    shuffle, no UDF; the blocklist rides the plan as an array literal
    (curated lists are O(10^2-10^3) words).  Runs inside the quality
    projection alongside ``gopher_rules``.
    """
    bad = F.array(*[F.lit(w) for w in badwords])
    toks = F.filter(F.split(F.lower(F.col(text_col)), "[^a-z]+"),
                    lambda t: t != "")
    hits = F.filter(toks, lambda t: F.array_contains(bad, t))
    n_tok = F.size(toks).cast("long")
    n_bad = F.size(hits).cast("long")
    counted = df.select(F.col(id_col), n_tok.alias("n_tok"),
                        n_bad.alias("n_bad"))
    return counted.select(
        F.col(id_col), "n_tok", "n_bad",
        F.when(F.col("n_tok") > 0,
               F.expr("CAST(n_bad AS BIGINT) * 1000000 DIV "
                      "CAST(n_tok AS BIGINT)"))
        .otherwise(0).cast("long").alias("bad_micro"),
        F.when(F.col("n_bad") > 0, 1).otherwise(0).alias("blocked"))


def token_budget_select(df: DataFrame, id_col: str, tok_col: str,
                        quality_col: str, budget: int,
                        buckets: int = 32) -> DataFrame:
    """Greedy corpus selection under a global token budget: take
    documents best-quality-first until the running token total exceeds
    ``budget`` — the "data-constrained" selection step of corpus
    curation (keep the best B tokens, not the best N documents).
    Deterministic: ordered by (quality DESC, id), a document is kept iff
    its inclusive prefix token sum is within budget.

    Returns only the selected rows as (id, n_tok, cum_tok).

    100 TB shape: the prefix sum does NOT use a single-partition window
    — like ``shard_pack``, it is the two-level scan: range-partition by
    the (quality DESC, id) sort key, per-partition cumulative sum
    (parallel window), then collect only the B per-partition TOTALS and
    broadcast each partition's exclusive token offset back as a map
    literal.  Equivalently: at scale this is a quality-threshold scan —
    the budget boundary lands inside one partition and every other
    partition is decided by its broadcast offset alone.
    """
    base = df.select(F.col(id_col), F.col(tok_col).cast("long")
                     .alias("n_tok"), F.col(quality_col).alias("__q"))
    parts = (base.repartitionByRange(buckets, F.col("__q").desc(),
                                     F.col(id_col))
             .withColumn("_pid", F.spark_partition_id())
             .localCheckpoint(eager=True))
    w = (Window.partitionBy("_pid")
         .orderBy(F.col("__q").desc(), F.col(id_col))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    local = parts.withColumn("_cum", F.sum("n_tok").over(w))
    totals = {r["_pid"]: r["t"] for r in
              local.groupBy("_pid").agg(F.sum("n_tok").alias("t"))
              .collect()}
    offsets, running = {}, 0
    for pid in sorted(totals):
        offsets[pid] = running
        running += totals[pid]
    off = (F.coalesce(F.create_map(
        *[F.lit(v) for kv in sorted(offsets.items()) for v in kv]
    )[F.col("_pid")], F.lit(0)) if offsets else F.lit(0))
    cum = (F.col("_cum") + off).cast("long")
    return (local.withColumn("cum_tok", cum)
            .filter(F.col("cum_tok") <= budget)
            .select(F.col(id_col), "n_tok", "cum_tok"))


def quality_percentile_gate(df: DataFrame, group_col: str, id_col: str,
                            quality_col: str,
                            keep_micro: int = 300_000) -> DataFrame:
    """Per-group adaptive quality threshold: within each group (language,
    domain, source) keep the top ``keep_micro``/1e6 fraction of
    documents by quality — the FineWeb-style refinement where a single
    global cutoff would empty low-resource groups and barely touch
    high-resource ones.  Deterministic integer predicate:
    ``rank * 1e6 <= keep_micro * n_group`` with (quality DESC, id)
    row-number ranking, so ties never make the kept set
    layout-dependent.

    Returns (group, id, quality, rnk, kept) for ALL rows (the gate flag,
    not the filtered set — callers audit the boundary before dropping).

    100 TB shape: one shuffle on the group key shared by the ranking
    window and the per-group count (same partitioning, single
    exchange); groups are language/domain-bounded, and hot groups split
    cleanly under AQE skew handling because the window frame is
    row-number only.
    """
    w = Window.partitionBy(group_col).orderBy(F.col(quality_col).desc(),
                                              F.col(id_col))
    cnt = Window.partitionBy(group_col)
    rnk = F.row_number().over(w).cast("long")
    n = F.count(F.lit(1)).over(cnt).cast("long")
    return df.select(
        F.col(group_col), F.col(id_col),
        F.col(quality_col).alias("quality"), rnk.alias("rnk"),
        F.when(rnk * 1_000_000 <= F.lit(int(keep_micro)) * n, 1)
        .otherwise(0).alias("kept"))


def temperature_mix(df: DataFrame, lang_col: str, id_col: str,
                    budget: int, alpha: float = 0.7, seed: int = 42,
                    exact: bool = True) -> DataFrame:
    """Temperature-based multilingual sampling (mBERT / XLM-R §3.1; the
    standard fix for "English swamps everything and tail languages
    starve"): with corpus shares p_l = n_l / N, a language's target count
    is budget * p_l^alpha / sum_m p_m^alpha — alpha=1 keeps natural
    proportions, alpha=0 flattens to uniform, 0.7 is the published
    sweet spot. Returns the selected rows as (id, lang, rk) with
    rk = the doc's deterministic rank within its language. Selection is
    WITHOUT replacement: a tail language whose target exceeds its size
    contributes everything it has (the published recipes upsample by
    re-visiting tail docs across epochs — an epoch scheduler's job, not
    a corpus selector's).

    Two selection strategies behind the same target counts:

    * ``exact=True`` — rank docs inside each language by md5(seed|id)
      (the stratified_sample idiom: reproducible across retries,
      repartitions, cluster sizes; ties impossible) and keep the first
      target_l. One shuffle on lang; per-language work bounded by the
      language's own size, with the same salted two-phase remedy
      stratified_sample documents if one language outgrows a task.
    * ``exact=False`` — the 10^10-row path: hash-threshold selection
      (first 8 md5 hex chars of (seed|id) as a u32, selected iff
      < floor(2^32 * target_l / n_l) — an INTEGER compare, no float
      draw). Pure projection + one broadcast join of the tiny per-lang
      threshold table: NO per-language sort anywhere, at the price of
      Binomial(n_l, target_l/n_l) count noise; rk is then the selection
      hash's rank surrogate (the u32 itself) rather than a dense rank.

    Per-language targets are tiny-table math (few hundred languages):
    two 1-row broadcast scalars (N, sum q_l) and one floor at the end;
    everything row-scale stays integer/hash arithmetic.
    """
    counts = df.groupBy(F.col(lang_col).alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n_l"))
    total = counts.agg(F.sum("n_l").alias("n"))
    ratio = F.col("n_l") / F.col("n")
    # alpha=0.5 routes through sqrt: IEEE-754 requires sqrt and / to be
    # correctly rounded, so the weights are BIT-identical across engines
    # (pow's last ulp is implementation-defined and feeds a floor) — the
    # oracled query pins this alpha for that reason
    qexpr = (F.sqrt(ratio) if float(alpha) == 0.5
             else F.pow(ratio, F.lit(float(alpha))))
    q = (counts.crossJoin(F.broadcast(total))
         .select("lang", "n_l", qexpr.alias("q_l")))
    z = q.agg(F.sum("q_l").alias("z"))
    tgt = (q.crossJoin(F.broadcast(z))
           .select("lang", "n_l",
                   F.floor(F.lit(int(budget)) * F.col("q_l") / F.col("z"))
                   .cast("long").alias("target")))
    if exact:
        key = F.md5(F.concat_ws(
            "|", F.lit(str(seed)), F.col(id_col).cast("string")))
        w = Window.partitionBy(lang_col).orderBy(key, F.col(id_col))
        ranked = df.select(F.col(id_col), F.col(lang_col),
                           F.row_number().over(w).cast("long").alias("rk"))
        tt = tgt.select(F.col("lang").alias("__lang"), "target")
        return (ranked.join(F.broadcast(tt),
                            ranked[lang_col] == tt["__lang"])
                .filter(F.col("rk") <= F.col("target"))
                .select(F.col(id_col), F.col(lang_col), "rk"))
    h = F.conv(F.substring(
        F.md5(F.concat_ws("|", F.lit(str(seed)),
                          F.col(id_col).cast("string"))), 1, 8),
        16, 10).cast("bigint")
    thr = (F.floor(F.lit(float(1 << 32)) * F.col("target") / F.col("n_l"))
           .cast("long").alias("thr"))
    tt = tgt.select(F.col("lang").alias("__lang"), thr)
    sel = df.select(F.col(id_col), F.col(lang_col), h.alias("rk"))
    return (sel.join(F.broadcast(tt), sel[lang_col] == tt["__lang"])
            .filter(F.col("rk") < F.col("thr"))
            .select(F.col(id_col), F.col(lang_col), "rk"))


def phrase_search(df: DataFrame, text_col: str, id_col: str,
                  phrase: "list[str]") -> DataFrame:
    """Positional phrase query over the corpus — the exact-phrase
    retrieval the reference delegates to Elasticsearch ``match_phrase``
    (es_mapping.py text fields): count, per document, the occurrences of
    ``phrase`` as CONSECUTIVE whitespace tokens (the ``inverted_index_
    stats`` tokenization, so postings and phrase agree on positions).

    Returns ``(id, n_matches)`` for documents with ≥1 occurrence.

    Scale shape: the classic positional-postings adjacency join is
    re-expressed as ONE aggregation — each posting whose term matches
    phrase slot ``i`` emits the anchor ``pos - i``, and an anchor that
    collects ALL ``len(phrase)`` distinct slots is a full occurrence
    (repeated words in the phrase emit one row per slot they match, so
    "the cat the" anchors correctly). The posting stream is filtered to
    the phrase's word set BEFORE any exchange — only matching-term
    postings ever shuffle, the per-(id, anchor) and per-id aggregations
    are both map-side combinable, and there is no join, window, or sort
    anywhere. At 100 TB the exchange carries (id, anchor, slot) triples
    for phrase-vocabulary postings only — the same postings a term-
    sharded ES index would touch, without materializing the index."""
    if not phrase:
        raise ValueError("phrase must be non-empty")
    words = [w.lower() for w in phrase]
    k = len(words)
    # slot table as a row-local literal array: (slot i, word) pairs the
    # posting probes with array_position-style matching in codegen
    toks = _ws_tokens_nn(text_col)
    posting = df.select(F.col(id_col).alias("__id"),
                        F.posexplode(toks).alias("pos", "term"))
    slots = F.array(*[
        F.struct(F.lit(i).alias("i"), F.lit(w).alias("w"))
        for i, w in enumerate(words)])
    hits = (posting
            .filter(F.col("term").isin(*set(words)))
            .select("__id", "pos",
                    F.explode(F.filter(slots,
                                       lambda s: s["w"] == F.col("term")))
                    .alias("s"))
            .select("__id", (F.col("pos") - F.col("s.i")).alias("anchor"),
                    F.col("s.i").alias("i")))
    full = (hits.groupBy("__id", "anchor")
            .agg(F.count_distinct("i").alias("nslots"))
            .filter(F.col("nslots") == k))
    return (full.groupBy("__id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_matches"))
            .select(F.col("__id").alias(id_col), "n_matches"))


def nfc_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Unicode-canonicalized exact dedup: collapse documents whose texts
    are canonically equivalent (NFC — precomposed ``é`` vs ``e`` + U+0301
    combining acute, singleton replacements) but byte-distinct, the
    duplicate class raw ``dedup_exact`` misses on multi-encoder web
    corpora (different extractors emit different normal forms of the
    SAME page). The composed/decomposed split is real crawl data: NFC is
    what the W3C charmod-norm spec asks producers for, and what half of
    them skip.

    Returns ``(nfc_md5, n_docs, n_raw_forms, keep_id)`` per normalized
    class: total members, how many DISTINCT raw byte forms it collapses
    (``n_raw_forms ≥ 2`` ⟺ raw dedup would have missed a pair), and the
    smallest member id as the deterministic canonical survivor.

    Scale shape: the normalization is a vectorized Arrow-batched pandas
    UDF (``unicodedata.normalize`` has no Catalyst built-in — this is
    the documented slow-path exception, one str pass per batch) computed
    BESIDE the scan, then everything downstream is ONE hash aggregation
    on the 32-byte normalized digest with map-side combine — the
    exchange carries (digest, raw-digest, id), never text. The UDF is
    the map stage of the dedup's own shuffle, so at 100 TB it pipelines
    with the scan exactly like the MinHash kernel does."""
    import unicodedata as _ud

    @pandas_udf(StringType())
    def _nfc(s: pd.Series) -> pd.Series:
        return s.fillna("").map(lambda t: _ud.normalize("NFC", t))

    t = F.coalesce(F.col(text_col), F.lit(""))
    keyed = df.select(F.col(id_col).alias("__id"),
                      F.md5(_nfc(F.col(text_col))).alias("nfc_md5"),
                      F.md5(t).alias("raw_md5"))
    return (keyed.groupBy("nfc_md5")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.count_distinct("raw_md5").cast("long")
                 .alias("n_raw_forms"),
                 F.min("__id").alias("keep_id")))


def vocab_drift_tvd(df: DataFrame, text_col: str, id_col: str,
                    side_expr, top_k: int = 50) -> DataFrame:
    """Corpus drift monitor: per-term total-variation contribution
    between two corpus slices (dump N vs dump N+1, web vs curated, train
    vs incoming) — the distribution-shift early-warning a training-data
    pipeline runs before a new crawl wave is mixed in. ``side_expr`` is
    a boolean column expression naming the A side.

    Per term with counts ``a``/``b`` and slice totals ``A``/``B``, the
    TVD contribution ``|a/A − b/B| / 2`` is computed as the single exact
    integer division ``|a·B − b·A| · 10^6 div (2·A·B)`` (micros) — one
    correctly-rounded-by-construction operation, no float subtraction of
    near-equal frequencies (catastrophic cancellation is the classic bug
    in drift monitors). BIGINT bound: ``|a·B−b·A|·10^6 < 2^63`` holds to
    ~10^6-count terms against 10^6-token slices; beyond that switch the
    two products to DECIMAL(38,0) — documented contract limit, same
    class as growth_fit's. Returns the ``top_k`` most-drifted terms
    ``(term, cnt_a, cnt_b, tvd_micro)`` with ``(tvd_micro DESC, term)``
    as the exact deterministic order. When one slice is empty the TVD
    is undefined and ``tvd_micro`` is NULL (the oracle's integer ``//``
    by zero), not an ANSI divide-by-zero error.

    Scale shape: ONE (term)-keyed hash aggregation with map-side combine
    (conditional sums fold both slices in a single pass — no per-slice
    scan, no join), the two totals broadcast as a 1-row scalar, and the
    top-k is a TakeOrdered over term-cardinality rows — corpus-sized
    data crosses exactly one exchange, as (term, a, b) triples."""
    side = F.when(side_expr, F.lit(1)).otherwise(F.lit(0))
    toks = (df.select(side.alias("in_a"),
                      F.explode(_ws_tokens_nn(text_col)).alias("term")))
    per_term = (toks.groupBy("term")
                .agg(F.sum("in_a").cast("long").alias("cnt_a"),
                     F.sum(1 - F.col("in_a")).cast("long").alias("cnt_b")))
    totals = per_term.agg(F.sum("cnt_a").alias("ta"),
                          F.sum("cnt_b").alias("tb"))
    return (per_term.crossJoin(F.broadcast(totals))
            .select("term", "cnt_a", "cnt_b",
                    F.expr("(abs(cnt_a * tb - cnt_b * ta) * 1000000) "
                           "div nullif(2 * ta * tb, 0)")
                    .cast("long").alias("tvd_micro"))
            .orderBy(F.col("tvd_micro").desc(), "term")
            .limit(int(top_k)))


def good_turing_novelty(df: DataFrame, text_col: str, id_col: str,
                        group_col: str) -> DataFrame:
    """Good-Turing novelty monitor per corpus slice: the probability
    that the NEXT document drawn from a source is content never seen
    before, estimated by the missing-mass rule ``f1/N`` (Good 1953 —
    the fraction of singleton content hashes). A crawl steward reads
    this per host/source as the keep-crawling signal: novelty near 0
    means the source is exhausted (every new fetch duplicates known
    content), novelty near 1 means untapped; ``round_novelty`` measures
    the same idea across ROUNDS, this across SLICES, from counts alone.

    Returns ``(grp, n_docs, n_distinct, f1, f2, p_new_micro)`` —
    singleton/doubleton hash counts (f2 feeds the Simple-Good-Turing
    smoothing a consumer may apply) and the missing mass in exact
    fixed-point micros (``f1·10^6 div N``).

    Scale shape: TWO map-side-combinable hash aggregations — (grp,
    content-hash) counts, then the per-grp rollup — shuffling first
    (grp, 16-byte digest) pairs and then per-grp scalars; the digest
    agg is the SAME exchange ``dedup.exact_dedup`` runs, so a pipeline
    computes both for one shuffle. All built-ins, all integers."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    per_hash = (df.select(F.col(group_col).alias("grp"),
                          F.md5(t).alias("h"))
                .groupBy("grp", "h")
                .agg(F.count(F.lit(1)).alias("c")))
    return (per_hash.groupBy("grp")
            .agg(F.sum("c").cast("long").alias("n_docs"),
                 F.count(F.lit(1)).cast("long").alias("n_distinct"),
                 F.sum((F.col("c") == 1).cast("long")).alias("f1"),
                 F.sum((F.col("c") == 2).cast("long")).alias("f2"))
            .select("grp", "n_docs", "n_distinct", "f1", "f2",
                    F.expr("(f1 * 1000000) div n_docs").cast("long")
                    .alias("p_new_micro")))
