"""JVM-side column expressions for reference scalar functions.

Everything here compiles to Catalyst expressions (whole-stage codegen, no
Python). Where a reference function needs byte-exact urllib/os.path fidelity
it lives in udfs.py instead; these are the functions whose semantics are
expressible with built-ins (SURVEY.md §2.7 'Spark mapping' column).
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import Column, functions as F

from ..refsem import STATE_BLACKLIST, _THIRD_LEVEL

# ---------------------------------------------------------------------------
# Crawl scope (steward.py:25-36)
# ---------------------------------------------------------------------------


def should_be_crawled(host: Column) -> Column:
    """gov.au scope filter minus state/data blacklist — pure Catalyst."""
    in_scope = host.endswith("gov.au")
    blacklisted = reduce(or_, [host.endswith(b) for b in STATE_BLACKLIST])
    return in_scope & ~blacklisted


# ---------------------------------------------------------------------------
# Jurisdiction classifier (parser.py:279-293)
# ---------------------------------------------------------------------------


def jurisdiction(host: Column) -> Column:
    parts = F.split(host, r"\.")
    n = F.size(parts)
    # F.get is 0-based and null-safe out of range — element_at(parts, 0)
    # would raise under ANSI mode for two-part hosts even inside a guarded
    # when() if Catalyst reorders predicates
    third = F.get(parts, n - 3)  # parts[-3]
    expr = F.when((n >= 3) & third.isin(*_THIRD_LEVEL), F.upper(third))
    expr = expr.when(host.endswith(".gov.nf"), F.lit("Norfolk Island"))
    expr = expr.when(host.endswith("gov.cx"), F.lit("Christmas Island"))
    expr = expr.when(host.endswith(".shire.cc"), F.lit("Cocos Keeling Islands"))
    return expr.otherwise(F.lit("Commonwealth"))


# ---------------------------------------------------------------------------
# MIME split (parser.py:295-317)
# ---------------------------------------------------------------------------


def mime_type(content_type: Column) -> Column:
    """MIMEType — emitted only when ';' present (reference quirk)."""
    has_semi = content_type.contains(";")
    first = F.lower(F.trim(F.element_at(F.split(content_type, ";"), 1)))
    return F.when(has_semi, first)


def mime_encoding(content_type: Column) -> Column:
    parts = F.split(content_type, ";")
    return F.when(
        content_type.contains(";") & (F.size(parts) > 1),
        F.lower(F.trim(F.get(parts, 1))),
    )


def mime_group(content_type: Column) -> Column:
    mt = mime_type(content_type)
    return F.when(mt.contains("/"), F.get(F.split(mt, "/"), 0))


def mime_format(content_type: Column) -> Column:
    mt = mime_type(content_type)
    parts = F.split(mt, "/")
    return F.when(mt.contains("/") & (F.size(parts) > 1),
                  F.get(parts, 1))


# ---------------------------------------------------------------------------
# Misc (worker.py / parser.py expressions)
# ---------------------------------------------------------------------------


def host_group(host: Column) -> Column:
    """www-collapsed lowercase host (seen-set scope, SURVEY.md §8.2)."""
    h = F.lower(F.trim(host))
    return F.when(h.startswith("www."), F.substring(h, 5, 2 ** 24)).otherwise(h)


def is_html(content_type: Column) -> Column:
    """Body-fetch gate (worker.py:496-497)."""
    return content_type.startswith("text/")


def filename_guess(url: Column) -> Column:
    """Ext-length 2..8 heuristic (parser.py:231-255), as a regexp: last path
    segment of a non-trailing-slash URL with a dotted extension."""
    stripped = F.regexp_replace(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    stripped = F.regexp_replace(stripped, r"^www\.", "")
    last = F.element_at(F.split(stripped, "/"), -1)
    ok = (
        stripped.contains("/")
        & ~stripped.endswith("/")
        & last.rlike(r"^.+\.[^.]{2,8}$")
    )
    return F.when(ok, last)


def surt_key(url: Column) -> Column:
    """SURT (Sort-friendly URL Reordering Transform) canonical key — the
    CDX index key Common Crawl / Wayback use so that one index RANGE SCAN
    answers "every capture under this host (or host suffix, or path
    prefix)": ``com,example)/path?a=1&b=2`` sorts all of example.com
    together, subdomains adjacent, parents before children.

    Transform (public SURT spec, the subset our synthetic URLs
    exercise): lowercase; strip scheme, leading ``www.``, port, and
    fragment; reverse host labels joined by commas; append ``)`` + path;
    sort query params byte-wise (the ``url_canonicalize`` rule, so two
    capture URLs differing only in param order share a key).

    Pure Catalyst — regexp + split/reverse/sort/join built-ins, no UDF;
    this runs beside the scan in whole-stage codegen, so keying 10^10
    capture records costs no exchange at all (the global SORT the CDX
    contract wants is the writer's range partition, not this
    expression's)."""
    u = F.lower(url)
    u = F.regexp_replace(u, r"^[a-z][a-z0-9+.-]*://", "")   # scheme
    u = F.regexp_replace(u, r"#.*$", "")                    # fragment
    hostport = F.regexp_replace(F.split(u, "/", 2)[0], r"^www\.", "")
    host = F.regexp_replace(hostport, r":\d+$", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    rest = F.when(u.contains("/"),
                  F.concat(F.lit("/"), F.split(u, "/", 2)[1])
                  ).otherwise(F.lit("/"))
    path = F.split(rest, r"\?", 2)[0]
    qs = F.when(rest.contains("?"), F.split(rest, r"\?", 2)[1])
    params = F.array_join(
        F.array_sort(F.filter(F.split(qs, "&"), lambda p: p != "")), "&")
    tail = F.when(qs.isNotNull() & (params != ""),
                  F.concat(path, F.lit("?"), params)).otherwise(path)
    return F.concat(rev, F.lit(")"), tail)


# ---------------------------------------------------------------------------
# Registered domain (eTLD+1) — the PLD Common Crawl aggregates by
# ---------------------------------------------------------------------------

# deterministic public-suffix mini-list: the two-label suffixes the
# reference's jurisdiction map cares about (gov.au et al., refsem's
# domainize) plus the common ccTLD second levels; production swaps in the
# full Mozilla PSL — the EXPRESSION (pure Catalyst: split/slice/join, no
# UDF) is the deliverable, the list is data
PSL2 = ("com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au",
        "id.au", "co.uk", "org.uk", "ac.uk", "gov.uk", "co.nz",
        "org.nz", "govt.nz", "com.br", "co.jp", "or.jp", "ne.jp")


def registered_domain(host: Column) -> Column:
    """eTLD+1 / pay-level domain: the unit web-scale corpora aggregate
    by (Common Crawl's host ranks collapse to PLDs; per-PLD budgets are
    the standard politeness grain above per-host). 'www.x.gov.au' ->
    'x.gov.au', 'a.b.example.com' -> 'example.com'; hosts with too few
    labels roll up to themselves. Pure Catalyst (lowercase, split,
    slice, array_join) — whole-stage codegen, no Python."""
    h = F.lower(host)
    labels = F.split(h, r"\.")
    n = F.size(labels)
    # greatest() keeps the slice start >= 1 for single-label hosts (the
    # is_psl2 probe is evaluated for EVERY row, unlike the guarded
    # branches below); a lone label never matches the dotted PSL2 entries
    last2 = F.array_join(F.slice(labels, F.greatest(n - 1, F.lit(1)), 2),
                         ".")
    is_psl2 = last2.isin(*PSL2)
    take = F.when(is_psl2, F.lit(3)).otherwise(F.lit(2))
    return (F.when(n <= take, h)
            .otherwise(F.array_join(F.slice(labels, n - take + 1, 100),
                                    ".")))
