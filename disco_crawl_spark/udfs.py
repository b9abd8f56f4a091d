"""Vectorized pandas/Arrow UDFs wrapping the semantics kernel.

Per BASELINE.json input_hint there is no per-row Python at the DataFrame
level: every row-wise computation crosses into Python exactly once, as an
Arrow batch through these pandas UDFs (SURVEY.md §2.9). Inside a batch,
per-row loops over HTML are the accepted pattern (HTML parsing is not
vectorizable); URL/hash ops are cheap per row and dominated by Arrow
transfer, which these UDFs amortize.

The UDFs delegate to ``refsem`` — the same functions the oracle simulator
runs — so engine-vs-oracle equivalence reduces to plan structure, not
reimplemented row logic.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType, LongType, StringType, StructField, StructType,
)

from . import refsem, robots as robots_mod

# ---------------------------------------------------------------------------
# Page parse: one Arrow round-trip per fetched page
# ---------------------------------------------------------------------------

PARSE_SCHEMA = StructType([
    StructField("links", ArrayType(StringType())),          # internal, raw, sorted
    StructField("external_links", ArrayType(StringType())),
    StructField("discovered", ArrayType(StringType())),     # new .gov.au hosts
    StructField("title", StringType()),
    StructField("keywords", ArrayType(StringType())),
    StructField("content_hash", StringType()),
    StructField("content_size", LongType()),
    StructField("text", StringType()),
])


@pandas_udf(PARSE_SCHEMA)
def parse_page(html: pd.Series, url: pd.Series, host: pd.Series,
               scheme: pd.Series, redirect_to: pd.Series) -> pd.DataFrame:
    """Everything the reference derives from one fetched body in one pass:
    LinkParser link extraction + classification (worker.py:184-210,377-407),
    title/keywords (parser.py:92-98,329-338), content hash (parser.py:54-57),
    the byte-identical text chain (process_raw.py + process_bs4.py), and
    HEAD-redirect discovery (worker.py:468-494): an external ``.gov.au``
    Location target joins the ``discovered`` list alongside link-discovered
    domains."""
    out = {k: [] for k in
           ("links", "external_links", "discovered", "title", "keywords",
            "content_hash", "content_size", "text")}
    for body, u, h, sch, rto in zip(html, url, host, scheme, redirect_to):
        _local, extra = refsem.redirect_info(h, rto)
        if body is None:
            for k in ("links", "external_links", "keywords"):
                out[k].append([])
            out["discovered"].append([extra] if extra else [])
            out["title"].append(None)
            out["content_hash"].append(None)
            out["content_size"].append(0)
            out["text"].append(None)
            continue
        body = bytes(body)
        html_str = body.decode("utf-8", errors="replace")
        links = refsem.extract_links(html_str, u)
        internal, external, discovered = refsem.classify_links(links, h, sch)
        if extra and extra not in discovered:
            discovered = sorted(discovered + [extra])
        out["links"].append(internal)
        out["external_links"].append(external)
        out["discovered"].append(discovered)
        out["title"].append(refsem.page_title(html_str) or None)
        out["keywords"].append(refsem.keywords(html_str))
        out["content_hash"].append(refsem.content_hash(body))
        out["content_size"].append(len(body))
        out["text"].append(refsem.extract_text(body))
    return pd.DataFrame(out)


# ---------------------------------------------------------------------------
# URL scalar kernels
# ---------------------------------------------------------------------------


@pandas_udf(StringType())
def goose_text(html: pd.Series) -> pd.Series:
    """Main-content extraction stage (process_goose.py:16-46) as one Arrow
    pass; see refsem.goose_text for the semantics and the goose3 gate."""
    return pd.Series([
        refsem.goose_text(bytes(b)) if b is not None else None
        for b in html
    ])


@pandas_udf(StringType())
def url_seen_key(url: pd.Series) -> pd.Series:
    """md5 of the scheme/netloc-stripped URL (worker.py:120-128). Must stay
    md5 (not xxhash): it IS the reference's authoritative seen key."""
    return url.map(refsem.url_seen_key)


@pandas_udf(StringType())
def normalize_href(link: pd.Series) -> pd.Series:
    """Generation-start normalization with no base page (worker.py:686-688)."""
    return link.map(lambda l: refsem.normalize_href(l) if l is not None else None)


@pandas_udf(StringType())
def domainize(host: pd.Series, link: pd.Series, scheme: pd.Series) -> pd.Series:
    return pd.Series([
        refsem.domainize_link(h, l, s)
        for h, l, s in zip(host, link, scheme)
    ])


# seen key of the input link; the link domainized (when a scheme is
# given); the robots verdict on that; its normalize_href form
LINK_SCHEMA = "url_key string, link_raw string, allowed boolean, link string"


def make_link_kernel(spark, robots_corpus: dict):
    """The generation end's per-link pass (worker.py:734-753 then 685-693)
    in one Arrow round-trip: seen key, domainize, robots, normalize. A NULL
    ``scheme`` leaves the link as it is (a resumed host's kick links are
    not domainized, worker.py:668-680). The robots corpus is a Spark
    broadcast; each executor parses a host's robots.txt once (RobotsCache)
    and evaluates stdlib RobotFileParser.can_fetch, as worker.py:97-101.
    The iterator form builds that cache once per TASK, not per batch.
    Marked nondeterministic so the optimizer keeps it where it stands:
    otherwise it pushes a later anti-join on ``url_key`` below the
    distinct the kernel reads, and the kernel runs twice, once per raw
    link."""
    bc = spark.sparkContext.broadcast(robots_corpus)

    @pandas_udf(LINK_SCHEMA)
    def link_kernel(it: Iterator[Tuple[pd.Series, pd.Series, pd.Series]]
                    ) -> Iterator[pd.DataFrame]:
        cache = robots_mod.RobotsCache(bc.value)
        for host, link, scheme in it:
            raw = [refsem.domainize_link(h, l, s) if s else l
                   for h, l, s in zip(host, link, scheme)]
            yield pd.DataFrame({
                "url_key": [refsem.url_seen_key(l) for l in link],
                "link_raw": raw,
                "allowed": [cache.allow(h, r) for h, r in zip(host, raw)],
                "link": [refsem.normalize_href(r) for r in raw]})

    return link_kernel.asNondeterministic()


# ---------------------------------------------------------------------------
# Column-expression helpers (JVM-side, no Python)
# ---------------------------------------------------------------------------


def sha256_url(col):
    """ES doc id equivalent (parser.py:70) — built-in sha2, no UDF."""
    return F.sha2(col, 256)
