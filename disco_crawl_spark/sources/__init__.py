"""Input connectors: the pages table (parquet/icelite) and Common-Crawl
WARC files.

WARC reading uses file-level parallelism (``binaryFiles`` → pure-python
record parser per file) — the standard shape for Common Crawl, whose corpus
is ~90k × ~1 GB WARC files per snapshot; each file is one task, so a
1000-executor cluster streams the snapshot without coordination. gzip
members per record (the CC layout) are handled transparently.
"""

from __future__ import annotations

import gzip
import io

from pyspark.sql import DataFrame, SparkSession, functions as F

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, text string, "
                "lang string, redirect_to string")


def pages_frame(spark: SparkSession, corpus) -> DataFrame:
    """A generated corpus' pages (``corpus.generate``) as a driver-built
    DataFrame over ``PAGES_SCHEMA``."""
    return spark.createDataFrame(
        [(r["url"], r["warc_ts"], bytearray(r["html"]), r["text"], r["lang"],
          r.get("redirect_to")) for r in corpus.page_rows()],
        PAGES_SCHEMA)


def write_pages(df: DataFrame, path: str, buckets: int = 0,
                name: "str | None" = None) -> "str | None":
    """Write a pages table; with buckets>0, bucket (and sort) by url — the
    fetch-join key — so the join exchanges only the (small) per-round
    schedule side, never the pages side. Returns the catalog table name
    registered for the bucketed layout (None for the plain write)."""
    if buckets:
        name = name or f"pages_b{buckets}"
        spark = df.sparkSession
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (df.write.mode("overwrite").format("parquet")
         .bucketBy(buckets, "url").sortBy("url")
         .option("path", path).saveAsTable(name))
        return name
    df.write.mode("overwrite").parquet(path)
    return None


def register_bucketed_pages(spark: SparkSession, path: str, buckets: int,
                            name: "str | None" = None) -> str:
    """Re-register a bucketed pages table written by ``write_pages`` in a
    NEW session (the in-memory catalog does not persist metadata): plain
    parquet readers still work on the files, but only a catalog-registered
    bucketed table lets Catalyst skip the pages-side exchange."""
    name = name or f"pages_b{buckets}"
    schema = spark.read.parquet(path).schema
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                     for f in schema.fields)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} ({cols}) USING parquet "
        f"CLUSTERED BY (url) SORTED BY (url) INTO {buckets} BUCKETS "
        f"LOCATION '{path}'")
    return name


# ---------------------------------------------------------------------------
# WARC
# ---------------------------------------------------------------------------


def parse_warc_records(raw: bytes) -> list:
    """Parse WARC/1.0 response records from one (possibly gzipped or
    multi-member-gzip) WARC file. Returns dicts with warc headers, http
    status, content-type, and body bytes. Pure function — unit-testable
    without Spark."""
    if raw[:2] == b"\x1f\x8b":
        # concatenated gzip members (Common Crawl layout)
        out = io.BytesIO()
        with gzip.open(io.BytesIO(raw)) as g:
            out.write(g.read())
        raw = out.getvalue()
    records = []
    pos = 0
    while True:
        start = raw.find(b"WARC/1.0", pos)
        if start < 0:
            break
        hdr_end = raw.find(b"\r\n\r\n", start)
        if hdr_end < 0:
            break
        headers = {}
        for line in raw[start:hdr_end].decode("utf-8", "replace").split("\r\n")[1:]:
            if ":" in line:
                k, _, v = line.partition(":")
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get("content-length", "0"))
        except ValueError:
            length = 0
        block = raw[hdr_end + 4: hdr_end + 4 + length]
        pos = hdr_end + 4 + length
        if headers.get("warc-type") != "response":
            continue
        status, ctype, body = 0, None, block
        if block[:5] in (b"HTTP/",):
            he = block.find(b"\r\n\r\n")
            if he >= 0:
                head_lines = block[:he].decode("utf-8", "replace").split("\r\n")
                try:
                    status = int(head_lines[0].split()[1])
                except (IndexError, ValueError):
                    status = 0
                for hl in head_lines[1:]:
                    if hl.lower().startswith("content-type:"):
                        ctype = hl.partition(":")[2].strip()
                body = block[he + 4:]
        records.append({
            "url": headers.get("warc-target-uri"),
            "warc_ts": headers.get("warc-date"),
            "status": status,
            "content_type": ctype,
            "body": body,
        })
    return records


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC files → pages-shaped DataFrame (text left null; the
    postprocess/streaming stage fills it). One task per WARC file."""
    sc = spark.sparkContext

    def to_rows(kv):
        _, raw = kv
        for r in parse_warc_records(bytes(raw)):
            if not r["url"] or r["status"] not in (0, 200):
                continue
            yield (r["url"], r["warc_ts"], bytearray(r["body"]), None, None)

    rdd = sc.binaryFiles(path).flatMap(to_rows)
    df = spark.createDataFrame(rdd, "url string, warc_ts string, html binary,"
                                    " text string, lang string")
    from pyspark.sql import functions as F
    return df.withColumn("warc_ts", F.to_timestamp("warc_ts"))


def write_warc(records: list, fileobj, compress: bool = False):
    """Serialize (url, warc_date, body_bytes) records as a WARC/1.0 file —
    used to build test fixtures (and round-trip-tests the reader)."""
    buf = io.BytesIO()
    for url, date, body in records:
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8"
                b"\r\n\r\n" + body)
        hdr = (f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {url}"
               f"\r\nWARC-Date: {date}\r\nContent-Type: application/http"
               f"\r\nContent-Length: {len(http)}\r\n\r\n").encode()
        buf.write(hdr + http + b"\r\n\r\n")
    data = buf.getvalue()
    if compress:
        data = gzip.compress(data)
    fileobj.write(data)


def sitemap_entries(df: DataFrame, xml_col: str) -> DataFrame:
    """Parse sitemap-protocol ``<url>`` entries (sitemaps.org XML) out of
    a string column holding one entry or a whole ``<urlset>`` per row:
    extract every ``<loc>`` with its positionally-matching ``<lastmod>``
    and ``<changefreq>`` (absent tags → NULL) — the seed-ingestion source
    a crawler reads before the frontier exists.  The reference crawls
    from a fixed seed list (conf.py AGENCIES); sitemap ingestion is the
    standard web-scale replacement.

    Pure ``regexp_extract_all`` + ``arrays_zip`` + ``explode`` —
    entry-scoped regexes (match within ``<url>…</url>``) so a missing
    optional tag cannot shift the positional pairing; no XML library, no
    UDF: at 100 TB this is a codegen projection over whatever scan
    carries the sitemap bodies.

    Returns one row per ``<loc>``: (…input cols…, loc, lastmod,
    changefreq).
    """
    entry = F.regexp_extract_all(F.col(xml_col),
                                 F.lit(r"<url>(.*?)</url>"), F.lit(1))
    z = F.explode(entry).alias("__entry")
    one = lambda pat: F.nullif(  # noqa: E731 — tiny local extractor
        F.regexp_extract(F.col("__entry"), pat, 1), F.lit(""))
    return (df.select("*", z)
            .select("*",
                    one(r"<loc>([^<]+)</loc>").alias("loc"),
                    one(r"<lastmod>([^<]+)</lastmod>").alias("lastmod"),
                    one(r"<changefreq>([^<]+)</changefreq>")
                    .alias("changefreq"))
            .drop("__entry")
            .filter(F.col("loc").isNotNull()))


def rel_canonical_map(df: DataFrame, url_col: str = "url",
                      html_col: str = "html") -> DataFrame:
    """Extract each page's declared ``<link rel="canonical">`` target —
    the publisher-side dedup hint every production crawler honors (print
    views, tracking-parameter variants, and pagination all declare the
    same canonical, so the frontier can collapse them WITHOUT fetching
    twice; the reference never reads the tag). Returns
    ``(url, canonical_url, declared)``: the declared href when present
    (either attribute order), else the URL itself; ``declared`` flags
    pages that actually carried the tag.

    Pure regexp projection — no XML/HTML library, no UDF, no shuffle;
    like ``sitemap_entries`` it runs inside the scan's codegen stage, so
    at 100 TB it is free relative to the fetch that produced the bytes.
    Relative hrefs pass through verbatim (resolve downstream with the
    same normalize_href chain links use).
    """
    h = F.col(html_col).cast("string")
    pat_rel_first = '<link[^>]*rel="canonical"[^>]*href="([^"]*)"'
    pat_href_first = '<link[^>]*href="([^"]*)"[^>]*rel="canonical"'
    href = F.coalesce(
        F.nullif(F.regexp_extract(h, pat_rel_first, 1), F.lit("")),
        F.nullif(F.regexp_extract(h, pat_href_first, 1), F.lit("")))
    return df.select(
        F.col(url_col).alias("url"),
        F.coalesce(href, F.col(url_col)).alias("canonical_url"),
        href.isNotNull().cast("int").alias("declared"))


def dom_template_stats(df: DataFrame, host_col: str, html_col: str,
                       hot_micro: int = 300000) -> DataFrame:
    """DOM-template fingerprinting: hash each page's opening-tag
    sequence (markup skeleton, text stripped) and measure how much of a
    host each template covers. CMS-generated sites concentrate on a few
    skeletons — pages sharing a template differ only in content, so a
    high-share template is the structural analog of
    ``host_line_dedup``'s chrome (and the DOM-level sibling of
    ``trap_templates``' URL mining): extract its static furniture once,
    diff only the slots. Returns
    ``(host, template, n_pages, share_micro, hot)`` per (host,
    template); ``hot`` flags templates covering ≥ ``hot_micro`` of the
    host's pages.

    Scale shape: the tag-sequence extraction is a regexp projection in
    codegen beside the scan (no UDF — the skeleton never leaves the
    executor as anything but its md5); then ONE (host, template) hash
    aggregation with map-side combine plus a per-host rollup joined on
    the small host table. Nothing URL-cardinality ever shuffles except
    the 32-byte fingerprints.
    """
    h = F.col(html_col).cast("string")
    tags = F.regexp_extract_all(h, F.lit("<([a-z][a-z0-9]*)"), 1)
    tpl = F.md5(F.array_join(tags, ","))
    per = (df.select(F.col(host_col).alias("host"),
                     tpl.alias("template"))
           .groupBy("host", "template")
           .agg(F.count(F.lit(1)).alias("n_pages")))
    totals = per.groupBy("host").agg(F.sum("n_pages").alias("total"))
    return (per.join(F.broadcast(totals), "host")
            .withColumn("share_micro",
                        F.expr("(n_pages * 1000000) div total"))
            .drop("total")
            .withColumn("hot", (F.col("share_micro") >= hot_micro)
                        .cast("int")))


def meta_robots_flags(df: DataFrame, url_col: str = "url",
                      html_col: str = "html") -> DataFrame:
    """Extract the page-level ``<meta name="robots">`` directives a
    polite crawler must honor AFTER fetching (robots.txt gates the
    fetch; the meta tag gates what happens next — REP's second layer,
    which the reference never reads): ``noindex`` removes the page from
    the index stage, ``nofollow`` suppresses its outlink emission into
    the frontier.

    Returns (url, noindex:int, nofollow:int, declared:int).  The parse
    is fail-CLOSED with respect to real-HTML variance: every ``<meta>``
    tag is scanned, a robots tag is recognized with double-quoted,
    single-quoted, or unquoted ``name`` values and arbitrary whitespace
    around ``=`` (so attribute order is irrelevant), the ``content``
    value is likewise accepted in any quoting, and when a page carries
    MULTIPLE robots meta tags the directive flags are OR'd across all
    of them (most-restrictive-wins, matching Googlebot).  Directive
    matching is case-insensitive and token-based
    (``content="NOINDEX, nofollow"`` parses; ``noindexing`` does not
    match ``noindex``; a page with no tag defaults to index,follow).
    Pure regexp + higher-order array projection in the scan's codegen —
    no HTML library, no UDF, no shuffle."""
    h = F.col(html_col).cast("string")
    tags = F.regexp_extract_all(h, F.lit("(?i)<meta[^>]*>"), 0)
    is_robots = "(?i)name\\s*=\\s*(\"robots\"|'robots'|robots[\\s/>])"
    robots_tags = F.filter(tags, lambda t: t.rlike(is_robots))
    content_of = lambda t: F.lower(F.coalesce(
        F.nullif(F.regexp_extract(
            t, '(?i)content\\s*=\\s*"([^"]*)"', 1), F.lit("")),
        F.nullif(F.regexp_extract(
            t, "(?i)content\\s*=\\s*'([^']*)'", 1), F.lit("")),
        F.nullif(F.regexp_extract(
            t, "(?i)content\\s*=\\s*([^\\s\"'>/][^\\s>]*)", 1),
            F.lit(""))))
    contents = F.filter(F.transform(robots_tags, content_of),
                        lambda c: c.isNotNull())
    has_tok = lambda t: F.exists(
        contents, lambda c: c.rlike(r"(^|[,\s])" + t + r"($|[,\s])"))
    return df.select(
        F.col(url_col).alias("url"),
        (has_tok("noindex") | has_tok("none")).cast("int").alias("noindex"),
        (has_tok("nofollow") | has_tok("none")).cast("int")
        .alias("nofollow"),
        (F.size(contents) > 0).cast("int").alias("declared"))


def robots_sitemaps(df: DataFrame, host_col: str,
                    body_col: str) -> DataFrame:
    """Sitemap discovery from robots.txt bodies: extract every
    ``Sitemap:`` line — per RFC 9309 §2.3 / sitemaps.org, Sitemap lines
    are GLOBAL (not scoped to a User-agent group), so unlike the
    allow/disallow rules (``parse_robots_rules``) they can be pulled
    with a line regex without group bookkeeping.  This is the seed
    chain a web-scale crawler follows before the frontier exists:
    robots.txt → sitemap index → ``sitemap_entries`` → seed URLs.

    Returns one row per declared sitemap: (host, sitemap_url), in
    declaration order de-duplicated per host.  Case-insensitive key,
    tolerant of leading whitespace and \\r line ends.

    100 TB shape: pure regexp_extract_all + explode over the robots
    bodies (host-cardinality input, tiny); no UDF, no extra shuffle
    beyond the per-host distinct.
    """
    pat = r"(?mi)^[ \t]*sitemap[ \t]*:[ \t]*(\S+)"
    urls = F.regexp_extract_all(F.col(body_col), F.lit(pat), F.lit(1))
    return (df.select(F.col(host_col).alias("host"),
                      F.explode(urls).alias("sitemap_url"))
            .distinct())


def soft_404_flags(df: DataFrame, url_col: str = "url",
                   html_col: str = "html", status_col: str = "status",
                   min_body: int = 64) -> DataFrame:
    """Soft-404 detection: pages that answer HTTP 200 but are really
    error pages (misconfigured CMSes return the "not found" template
    with a 200).  A crawler that trusts the status code indexes the
    same boilerplate thousands of times per host and pollutes both the
    dedup tables and the corpus; detecting them is standard frontier
    hygiene (Bar-Yossef et al., "Sic transit gloria telae", WWW'04).

    Heuristics (OR'd): a not-found phrase in the markup
    ("404", "page not found", "does not exist", "no longer available"),
    or a body shorter than ``min_body`` bytes.  Returns
    (url, status, body_len, has_404_phrase, is_soft_404) — the flag
    fires only for status==200 rows (a real 404 is not a SOFT 404).

    Pure regexp + length projection in the scan's codegen — no UDF, no
    shuffle; at 100 TB it rides the fetch-parse pass for free.
    """
    h = F.col(html_col).cast("string")
    phrase = h.rlike(
        "(?i)(page not found|not found|does not exist|"
        "no longer available|error 404|\\b404\\b)")
    blen = F.length(F.col(html_col)).cast("long")
    return df.select(
        F.col(url_col).alias("url"),
        F.col(status_col).cast("int").alias("status"),
        blen.alias("body_len"),
        phrase.cast("int").alias("has_404_phrase"),
        ((F.col(status_col) == 200)
         & (phrase | (blen < min_body))).cast("int").alias("is_soft_404"))


def charset_sniff(df: DataFrame, url_col: str = "url",
                  html_col: str = "html",
                  ctype_col: "str | None" = None) -> DataFrame:
    """Charset detection in WHATWG precedence order — the step before
    text extraction can decode the ``html`` bytes: (1) ``charset=`` in
    the Content-Type HEADER, (2) ``<meta charset=...>``, (3)
    ``<meta http-equiv="Content-Type" content="...charset=...">``,
    else the utf-8 default.  Returns (url, charset, charset_source)
    with charset lowercased and quote-stripped, source one of
    header|meta_charset|meta_http_equiv|default.

    Pure regexp projection, no UDF, no shuffle.  (The reference decodes
    with requests' inferred encoding and repairs mojibake afterwards —
    worker.py text handling; sniffing first avoids the repair.)
    """
    h = F.col(html_col).cast("string")
    cs = lambda c: F.lower(F.nullif(c, F.lit("")))  # noqa: E731
    hdr = (cs(F.regexp_extract(F.col(ctype_col),
                               "(?i)charset=\"?'?([a-z0-9_\\-]+)", 1))
           if ctype_col else F.lit(None).cast("string"))
    meta = cs(F.regexp_extract(
        h, "(?i)<meta\\s+charset\\s*=\\s*[\"']?([a-z0-9_\\-]+)", 1))
    http_equiv = cs(F.regexp_extract(
        h, "(?i)<meta[^>]*http-equiv\\s*=\\s*[\"']?content-type[^>]*"
           "charset=([a-z0-9_\\-]+)", 1))
    charset = F.coalesce(hdr, meta, http_equiv, F.lit("utf-8"))
    source = (F.when(hdr.isNotNull(), "header")
              .when(meta.isNotNull(), "meta_charset")
              .when(http_equiv.isNotNull(), "meta_http_equiv")
              .otherwise("default"))
    return df.select(F.col(url_col).alias("url"),
                     charset.alias("charset"),
                     source.alias("charset_source"))


def warc_revisit_records(df: DataFrame, url_col: str = "url",
                         ts_col: str = "ts",
                         digest_col: str = "digest") -> DataFrame:
    """WARC dedup under the "identical payload digest" profile
    (WARC/1.1 §6.7.2, the policy wayback/heritrix crawls ship): the
    FIRST capture of a payload digest (ordered by capture time, URL as
    the tiebreak) is stored as a full ``response`` record; every later
    capture of the same digest becomes a ``revisit`` record that stores
    no payload and points at the original via
    (refers_to_url, refers_to_ts). Re-crawls of unchanged pages — most
    of a mature crawl's fetches — then cost metadata only, which is the
    entire economics of archive-scale storage.

    Scale shape: the winner per digest is an ALGEBRAIC min followed by
    one hash join back on digest, deliberately NOT a window: a
    boilerplate digest (empty page, soft-404 template) can hold millions
    of captures, and a window would sort every such partition while the
    agg streams it; AQE's skew-join split handles the join-side hot
    digest. Election is TWO-LEVEL because neither min(struct) nor a
    packed min(string) stays a HashAggregate (struct/string aggregation
    buffers are not mutable types, so Catalyst compiles both to
    SortAggregate with a full-table map-side sort — .explain caught
    it): (1) min(unix_micros) per digest — a LONG buffer, true
    map-side-combinable HashAggregate over the big table; (2) the url
    tiebreak's min(string) runs only over the TIE SET (captures at
    their digest's winning microsecond — ~one row per digest), where
    the unavoidable SortAggregate is trivial. The big table is never
    sorted. All exchanges hash on ``digest``.

    Reference: the crawler stores every body unconditionally
    (process_raw.py put_s3 path); content-addressed keys dedup bytes but
    not records — revisit bookkeeping is the WARC-native form.
    """
    # TIMESTAMP_NTZ (the parquet default) has no unix_micros; cast
    # through the session zone (UTC throughout this repo) and cast the
    # winner back to the input's exact type so the output schema is
    # invariant
    ts_type = df.schema[ts_col].dataType.simpleString()
    m = F.unix_micros(F.col(ts_col).cast("timestamp"))
    wm = (df.groupBy(F.col(digest_col).alias("__d"))
          .agg(F.min(m).alias("__wm")))
    winners = (df.join(wm, df[digest_col] == F.col("__d"))
               .filter(m == F.col("__wm"))
               .groupBy("__d", "__wm")
               .agg(F.min(url_col).alias("__wu")))
    w_ts = F.timestamp_micros(F.col("__wm")).cast(ts_type)
    w_url = F.col("__wu")
    out = (df.join(winners, df[digest_col] == F.col("__d"))
           .drop("__d"))
    is_first = ((F.col(ts_col) == w_ts) & (F.col(url_col) == w_url))
    return out.select(
        F.col(url_col).alias("url"), F.col(ts_col).alias("ts"),
        F.col(digest_col).alias("digest"),
        F.when(is_first, F.lit("response")).otherwise(F.lit("revisit"))
        .alias("record_type"),
        F.when(is_first, F.lit(None).cast("string"))
        .otherwise(w_url).alias("refers_to_url"),
        F.when(is_first, F.lit(None).cast("timestamp"))
        .otherwise(w_ts).alias("refers_to_ts"))


def hreflang_alternates(df: DataFrame, url_col: str = "url",
                        html_col: str = "html") -> DataFrame:
    """Extract each page's declared ``<link rel="alternate"
    hreflang=...>`` language-variant set and elect the variant the
    frontier should charge — the multilingual sibling of
    ``rel_canonical_map``: a site that publishes /en/ /de/ /fr/ copies
    of every page declares them mutually, so a polite crawler can
    collapse the variant set to ONE frontier key instead of fetching
    every language (the reference fetches them all; worker.py has no
    alternate handling). Election: the ``x-default`` href when declared
    (the search-engine convention for the canonical fallback), else the
    lexicographically smallest variant href, else the page itself.

    Returns ``(url, n_variants, canonical_variant, has_x_default,
    declared)`` — one row per input page, undeclared pages electing
    themselves with ``declared = 0``.

    Same contract as the other head-parsing projections
    (``rel_canonical_map``, ``meta_robots_flags``): pure-regexp tag
    scan in codegen beside the fetch — both attribute orders,
    single/double/unquoted values, case-insensitive — no HTML library,
    no UDF. The only exchange is ONE hash aggregation keyed on the URL,
    the key the frontier shuffles on anyway."""
    h = F.col(html_col).cast("string")
    tags = F.regexp_extract_all(h, F.lit("(?i)<link[^>]*>"), F.lit(0))
    is_alt = "(?i)rel\\s*=\\s*(\"alternate\"|'alternate'|alternate[\\s/>])"

    def _attr(t, name):
        return F.nullif(F.coalesce(
            F.nullif(F.regexp_extract(
                t, '(?i)' + name + '\\s*=\\s*"([^"]*)"', 1), F.lit("")),
            F.nullif(F.regexp_extract(
                t, "(?i)" + name + "\\s*=\\s*'([^']*)'", 1), F.lit("")),
            F.nullif(F.regexp_extract(
                t, '(?i)' + name + '\\s*=\\s*([^\\s"\'>][^\\s>]*)', 1),
                F.lit("")),
            F.lit("")), F.lit(""))

    alts = F.filter(
        F.transform(
            F.filter(tags, lambda t: t.rlike(is_alt)),
            lambda t: F.struct(F.lower(_attr(t, "hreflang")).alias("lang"),
                               _attr(t, "href").alias("href"))),
        lambda s: s["lang"].isNotNull() & s["href"].isNotNull())
    ex = df.select(F.col(url_col).alias("url"),
                   F.explode_outer(alts).alias("a"))
    agg = (ex.groupBy("url")
           .agg(F.count("a.href").cast("long").alias("n_variants"),
                F.max((F.col("a.lang") == "x-default").cast("int"))
                .alias("has_x_default"),
                F.min(F.when(F.col("a.lang") == "x-default",
                             F.col("a.href"))).alias("__xd"),
                F.min("a.href").alias("__any")))
    return agg.select(
        "url", "n_variants",
        F.coalesce("__xd", "__any", "url").alias("canonical_variant"),
        F.coalesce("has_x_default", F.lit(0)).cast("int")
        .alias("has_x_default"),
        (F.col("n_variants") > 0).cast("int").alias("declared"))
