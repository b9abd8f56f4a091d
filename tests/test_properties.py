"""Property-based tests of the semantics kernel (no Spark): invariants that
must hold for ANY input, not just the tabled cases."""

import string

from hypothesis import given, settings, strategies as st

from disco_crawl_spark import refsem, robots as robots_mod

# url-ish building blocks
_seg = st.text(alphabet=string.ascii_lowercase + string.digits + "-_",
               min_size=1, max_size=8)
_path = st.lists(st.one_of(_seg, st.just("."), st.just("..")),
                 min_size=0, max_size=6).map(lambda p: "/" + "/".join(p))
_host = st.lists(_seg, min_size=1, max_size=4).map(".".join)
_scheme = st.sampled_from(["http", "https"])


@st.composite
def urls(draw):
    return f"{draw(_scheme)}://{draw(_host)}{draw(_path)}"


@st.composite
def hrefs(draw):
    kind = draw(st.integers(0, 3))
    p = draw(_path)
    if kind == 0:
        return p                              # absolute path
    if kind == 1:
        return p.lstrip("/")                  # relative
    if kind == 2:
        return draw(urls())                   # absolute url
    return p + "#" + draw(_seg)               # with fragment


@given(hrefs(), urls())
@settings(max_examples=300, deadline=None)
def test_normalize_idempotent(href, page):
    once = refsem.normalize_href(href, page)
    assert refsem.normalize_href(once) == refsem.normalize_href(once)
    # normalizing an already-normalized path-only url is stable
    twice = refsem.normalize_href(once)
    assert refsem.normalize_href(twice) == twice


@given(hrefs(), urls())
@settings(max_examples=300, deadline=None)
def test_normalize_strips_fragment_and_dotsegments(href, page):
    out = refsem.normalize_href(href, page)
    from urllib.parse import urlparse
    p = urlparse(out)
    assert not p.fragment
    # no '..' or '/./' survives in the path (normpath contract)
    assert "/../" not in p.path + "/"
    assert "/./" not in p.path + "/"


@given(_host, _path, st.sampled_from(["http", "https"]))
@settings(max_examples=200, deadline=None)
def test_url_seen_key_host_scheme_invariant(host, path, scheme):
    # the seen key ignores scheme and host entirely (worker.py:120-128)
    k1 = refsem.url_seen_key(f"{scheme}://{host}{path}")
    k2 = refsem.url_seen_key(f"http://other.example{path}")
    k3 = refsem.url_seen_key(path or "/")
    assert k1 == k2 == k3


@given(_host, _path, _scheme)
@settings(max_examples=200, deadline=None)
def test_domainize_forces_host_and_nonempty_path(host, path, scheme):
    out = refsem.domainize_link(host, path, scheme)
    from urllib.parse import urlparse
    p = urlparse(out)
    assert p.netloc == host and p.scheme == scheme
    assert p.path != ""


@given(st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_extract_text_total_and_deterministic(s):
    # the text chain never raises and is a pure function of the bytes
    b = s.encode("utf-8", "replace")
    assert refsem.extract_text(b) == refsem.extract_text(b)


@given(st.text(alphabet=string.printable, max_size=300))
@settings(max_examples=200, deadline=None)
def test_extract_links_never_raises_and_links_are_clean(html):
    links = refsem.extract_links(html, "https://x.gov.au/a/")
    assert links == sorted(links)
    for l in links:
        assert "\n" not in l and "\r" not in l
        low = l.lower()
        assert not low.startswith(("javascript:", "mailto:", "tel:"))


@given(st.integers(0, 120))
@settings(max_examples=60, deadline=None)
def test_page_budget_monotone_in_delay(delay):
    rp = robots_mod.parse_robots(
        f"User-agent: *\nCrawl-delay: {delay}\nDisallow: /private/\n")
    b = robots_mod.page_budget(rp)
    assert 1 <= b <= robots_mod.CHUNK
    if delay <= 5:
        assert b == robots_mod.CHUNK  # reference default chunk


@given(st.binary(max_size=500))
@settings(max_examples=200, deadline=None)
def test_content_hash_deterministic_and_ascii(b):
    h = refsem.content_hash(b)
    assert h == refsem.content_hash(b)
    assert all(c in refsem._B58_ALPHABET for c in h)


@given(_host, st.one_of(st.none(), urls(), _path))
@settings(max_examples=300, deadline=None)
def test_redirect_info_invariants(host, target):
    local, disc = refsem.redirect_info(host, target)
    # a discovered domain is always an external .gov.au netloc
    if disc is not None:
        assert not local
        assert disc.endswith(".gov.au")
        assert disc != host.lower()
    # no redirect / relative target is always local
    if not target or not target.startswith(("http://", "https://")):
        assert local and disc is None


@given(st.lists(st.lists(_seg, min_size=0, max_size=30),
                min_size=1, max_size=10))
@settings(max_examples=60, deadline=None)
def test_vectorized_simhash_matches_scalar_spec(docs):
    # the batch unpackbits pipeline must equal the per-token scalar
    # definition: bit i of the fingerprint = sign of sum of ±1 by (h>>i)&1
    import hashlib
    import numpy as np
    import pandas as pd
    from disco_crawl_spark.operators import dedup

    texts = pd.Series([" ".join(toks) for toks in docs])
    got = list(dedup.make_simhash_udf().func(texts))

    for toks, fp in zip(docs, got):
        toks = " ".join(toks).lower().split()
        if not toks:
            assert fp == 0
            continue
        acc = [0] * 64
        for tok in toks:
            h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
            for i in range(64):
                acc[i] += 1 if (h >> i) & 1 else -1
        v = 0
        for i in range(64):
            if acc[i] > 0:
                v |= 1 << i
        assert fp == (v - (1 << 64) if v >= (1 << 63) else v)
