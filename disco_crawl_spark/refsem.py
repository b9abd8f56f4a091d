"""Pure-Python semantics kernel — the pinned spec of the reference crawler.

Every function here reproduces the *observable behavior* of a function in
/root/reference (cited per-function). No Spark imports: this module is shared
by (a) the deterministic reference simulator (``refsim``, the test oracle)
and (b) the vectorized pandas UDFs (``udfs``) the Spark engine runs — so the
engine and the oracle agree by construction on per-row semantics, and the
tests assert they agree on the *composition* (crawl order, seen-set, text).

Everything is deterministic: no wall clocks, no uuid4, no set-iteration-order
dependence escapes this module (functions that the reference fed from sets
return sorted results, per SURVEY.md §8.4).
"""

from __future__ import annotations

import functools
import hashlib
import os
import re
from urllib.parse import urlparse, ParseResult

from . import htmltext

# ---------------------------------------------------------------------------
# URL canonicalization
# ---------------------------------------------------------------------------


def normalize_href(href: str, page_url: "str | ParseResult | None" = None) -> str:
    """URL canonicalization with the exact semantics of the reference's
    ``normalize_href`` (crawler-node/src/crawler/worker.py:152-181):

    - empty href returned unchanged;
    - relative path (no netloc, not ``/``-rooted) resolved against the
      directory of the page path;
    - ``os.path.normpath`` collapse (``//``→``/``, ``.``/``..`` resolved),
      with a trailing ``/`` restored when the input path ended with one;
    - a resulting path of ``'.'`` becomes ``''`` (root); a trailing ``'/.'``
      loses the dot;
    - fragment stripped; query preserved; scheme lowercased by urlparse;
      host case preserved; no percent-encoding changes.
    """
    if not href:
        return href
    parsed = urlparse(href)

    path = parsed.path
    if not parsed.netloc and not path.startswith("/") and page_url is not None:
        base = page_url if isinstance(page_url, ParseResult) else urlparse(page_url)
        base_dir = os.path.dirname(base.path)
        if not base_dir.endswith("/"):
            base_dir += "/"
        path = base_dir + path

    norm = os.path.normpath(path)
    if path.endswith("/") and not norm.endswith("/"):
        norm += "/"
    out = parsed._replace(path=norm)
    if out.path == ".":
        out = out._replace(path="")
    if out.path.endswith("/."):
        out = out._replace(path=out.path[:-1])
    if out.fragment:
        out = out._replace(fragment="")
    return out.geturl()


def domainize_link(domain_name: str, link: str, scheme: str = "http") -> str:
    """Force scheme+netloc onto a link; empty path becomes ``/``
    (reference worker.py:104-109)."""
    parsed = urlparse(link)
    out = parsed._replace(scheme=scheme, netloc=domain_name)
    if out.path == "":
        out = out._replace(path="/")
    return out.geturl()


def url_seen_key(link: str) -> str:
    """The URL-seen blacklist key (reference worker.py:120-128): md5 of the
    URL with scheme and netloc stripped; an empty remainder keys as ``/``.
    Collapses www/non-www and http/https variants of the same path."""
    parsed = urlparse(link)
    clean = parsed._replace(scheme="", netloc="").geturl() or "/"
    return hashlib.md5(clean.encode("utf-8")).hexdigest().lower()


def host_group(host: str) -> str:
    """Scope of the reference's per-domain-process seen-set: www/non-www
    variants of a host crawl as one unit (worker.py:283-353 dual-domain,
    steward.py:80-89 lock check covers both names)."""
    h = (host or "").strip().lower()
    return h[4:] if h.startswith("www.") else h


def is_domain_local(our_domain: str, target_domain: str) -> bool:
    """Exact lowercase host equality (worker.py:213-214; the www-collapsing
    variant there is commented-out/dead and NOT reproduced)."""
    return our_domain.strip().lower() == target_domain.strip().lower()


def redirect_info(host: str, redirect_to: "str | None") -> "tuple[bool, str | None]":
    """HEAD-redirect classification (worker.py:468-494 + is_redirect_local,
    worker.py:227-241): returns (is_local, discovered_domain).

    - no redirect, empty target netloc, or netloc == our host (exact
      lowercase compare — www/non-www are NOT collapsed here, deliberately,
      per the reference's comment) → local, nothing discovered;
    - external redirect whose netloc ends with ``.gov.au`` → that domain is
      added to the domain-SEEN set (worker.py:480-482); other externals are
      only counted.
    """
    if not redirect_to:
        return True, None
    netloc = urlparse(redirect_to).netloc.lower().strip()
    if not netloc or netloc == (host or "").lower().strip():
        return True, None
    return False, (netloc if netloc.endswith(".gov.au") else None)


# ---------------------------------------------------------------------------
# Root-probe model (HEAD index-page probes answered from the pages table)
# ---------------------------------------------------------------------------


def is_root_url(url: str) -> bool:
    """True for an index-page URL (path ``/``, no query/fragment) — the URL
    the reference's HEAD probes hit (worker.py:299-303,565,636)."""
    p = urlparse(url)
    return p.path == "/" and not p.query and not p.fragment


def root_probes(url_redirects) -> dict:
    """Build the probe table the lifecycle gauntlet consults, from
    (url, redirect_to) pairs of the fetch corpus: host → {root: bool,
    redirect: str|None}. Presence of a host (any page) models "the server
    answers"; a missing host models a connection error. The Spark engine
    computes the identical O(hosts) dict with a groupBy over the pages
    table (never a driver-side URL scan); parity is pinned by
    tests/test_engine.py::test_engine_probes_match_refsem_root_probes.

    A host can carry multiple root rows (e.g. an http and an https root in
    a merged table). Both implementations apply the same input-order-free
    rule — ``redirect = max over root rows of (redirect_to or '')``, empty
    meaning a content response — which the engine expresses as
    ``F.max(when(is_root, coalesce(redirect_to, '')))``."""
    probes: dict = {}
    for url, redirect_to in url_redirects:
        # key normalization mirrors the engine's probe aggregation exactly:
        # lowercased authority with userinfo stripped, port kept — netloc
        # alone diverges from Spark's parse on ports/userinfo/case
        host = urlparse(url).netloc.rpartition("@")[2].lower()
        p = probes.setdefault(host, {"root": False, "redirect": ""})
        if is_root_url(url):
            p["root"] = True
            p["redirect"] = max(p["redirect"] or "", redirect_to or "")
    for p in probes.values():
        p["redirect"] = p["redirect"] or None
    return probes


def probe_no_redirect_or_local(probes: dict, domain_name: str) -> bool:
    """``no_redirect_or_local_redirect`` (worker.py:292-338) over the probe
    table: HEAD the index page with redirects disabled.

    - host absent from the table → connection error on both the https and
      the http fallback → False;
    - any non-redirect response → True (a live host with no root page
      answers 404, which is not a redirect — only exceptions return False);
    - a redirect whose (resolved) target netloc equals the domain
      (case-insensitive; a path-only Location is local by construction) →
      True; an external redirect → False.
    """
    p = probes.get(domain_name)
    if p is None:
        return False
    loc = p["redirect"] if p["root"] else None
    if not loc:
        return True
    netloc = urlparse(loc).netloc
    if not netloc:
        return True
    return netloc.lower() == domain_name.lower()


def is_dual_domain(probes: dict, domain_name: str) -> bool:
    """``is_website_dualdomain`` (worker.py:283-353): a site is dual iff
    BOTH the www and the bare variant answer their index probe with content
    or a local redirect — i.e. neither is a mere redirect-alias of the
    other and both actually serve."""
    nowww = domain_name[4:] if domain_name.startswith("www.") else domain_name
    www = domain_name if domain_name.startswith("www.") else "www." + domain_name
    return (probe_no_redirect_or_local(probes, www)
            and probe_no_redirect_or_local(probes, nowww))


# ---------------------------------------------------------------------------
# Link extraction (LinkParser semantics) and classification
# ---------------------------------------------------------------------------

from html.parser import HTMLParser as _HTMLParser


class _LinkScan(_HTMLParser):
    """Anchor-tag scan reproducing the reference's ``LinkParser``
    (worker.py:184-210): href of every ``<a>``, skipping fragment-only,
    rel=nofollow, javascript:, mailto:, tel:; each kept href is normalized
    against the page URL then stripped of whitespace/newlines."""

    def __init__(self, page_url: str):
        super().__init__(convert_charrefs=True)
        self.page = urlparse(page_url)
        self.links: set[str] = set()

    def handle_starttag(self, tag, attrs):
        if tag != "a":
            return
        attrs = dict(attrs)
        href = (attrs.get("href", "") or "").strip()
        rel = (attrs.get("rel", "") or "").lower().strip()
        if href.startswith("#") or rel == "nofollow":
            return
        low = href.lower()
        if href == "#" or low.startswith("javascript:") or low.startswith("mailto:") or low.startswith("tel:"):
            return
        self.links.add(
            normalize_href(href, self.page).strip().replace("\n", "").replace("\r", "")
        )


def extract_links(html: str, page_url: str) -> list[str]:
    """All candidate links of a page, **sorted** (determinization of the
    reference's set iteration, SURVEY.md §8.4)."""
    p = _LinkScan(page_url)
    try:
        p.feed(html)
        p.close()
    except Exception:
        pass
    return sorted(p.links)


def classify_links(
    links: list[str], domain_name: str, scheme: str
) -> tuple[list[str], list[str], list[str]]:
    """Post-parse link classification (reference postprocess_resp,
    worker.py:377-407): returns (internal, external, external_new_gov_domains),
    each sorted. Reproduces the re-filtering, the ``'/.'`` tail strip, the
    scheme fill-in for protocol-relative links, the 1024-char internal-link
    cap, and the suspicious-domain (``:``/``@``) guard on discovered
    ``.gov.au`` hosts."""
    internal: set[str] = set()
    external: set[str] = set()
    seen_ext_domains: set[str] = set()
    discovered: set[str] = set()
    for link in links:
        if not link:
            continue
        low = link.lower()
        if link.startswith(("mailto:", "tel:", "#")) or low.startswith("javascript:"):
            continue
        if link.endswith("/."):
            link = link[:-1]
        parsed = urlparse(link)
        if not parsed.scheme and parsed.netloc:
            parsed = parsed._replace(scheme=scheme)
        if not parsed.netloc or is_domain_local(domain_name, parsed.netloc):
            url = parsed.geturl()
            if len(url) < 1024:  # reference's experimental cap (worker.py:394)
                internal.add(url)
        else:
            external.add(parsed.geturl())
            if parsed.netloc != domain_name and parsed.netloc not in seen_ext_domains:
                seen_ext_domains.add(parsed.netloc)
                if parsed.netloc.endswith(".gov.au"):
                    if ":" not in parsed.netloc and "@" not in parsed.netloc:
                        discovered.add(parsed.netloc)
    return sorted(internal), sorted(external), sorted(discovered)


# ---------------------------------------------------------------------------
# Crawl scope
# ---------------------------------------------------------------------------

STATE_BLACKLIST = (
    ".qld.gov.au", ".nsw.gov.au", ".vic.gov.au", ".nt.gov.au",
    ".sa.gov.au", ".wa.gov.au", ".tas.gov.au", ".act.gov.au",
    ".data.gov.au",
)


def should_be_crawled(domain_name: str) -> bool:
    """Steward crawl-scope rule (crawler-steward/src/steward.py:25-36):
    must end with ``gov.au`` and not with any state/data suffix."""
    if not domain_name.endswith("gov.au"):
        return False
    return not any(domain_name.endswith(b) for b in STATE_BLACKLIST)


# ---------------------------------------------------------------------------
# Page metadata (WebsiteParser semantics)
# ---------------------------------------------------------------------------


@functools.lru_cache(maxsize=1)
def _meta_soup(html: str) -> htmltext.DocExtractor:
    # the reference strips script/ul/table/form before meta extraction
    # (parser.py:92-97). maxsize=1 memo: the parse-page hot loop calls
    # page_title() then keywords() back-to-back on the same document —
    # without it every page is meta-parsed twice (measured ~330 us/page,
    # ~20% of the whole parse kernel); one retained entry bounds memory.
    return htmltext.parse_doc(
        html,
        exclude=("script", "ul", "table", "form"),
        collect=("title", "h1", "h2", "h3", "h4", "p"),
    )


def page_title(html: str) -> str:
    """``soup.title.text`` newline-stripped+trimmed (parser.py:98); empty
    string when no title element."""
    doc = _meta_soup(html)
    titles = doc.collected.get("title") or []
    if not titles:
        return ""
    return titles[0].replace("\n", "").strip()


def keywords(html: str) -> list[str]:
    """Words longer than 6 chars from h1..h4 headers, comma/period-trimmed,
    deduped, lowercased (parser.py:329-338); sorted for determinism
    (reference emits in set order, SURVEY.md §8.4)."""
    doc = _meta_soup(html)
    kws: set[str] = set()
    for tag in ("h1", "h2", "h3", "h4"):
        for header in doc.collected.get(tag, []):
            # length filter applies to the raw token, BEFORE the comma/period
            # strip (parser.py:335) — 'update.' (len 7) keeps 'update'
            for w in (x for x in header.split() if len(x) > 6):
                kws.add(w.strip().strip(",").strip("."))
    return sorted(kw.lower() for kw in kws if kw.strip())


def description(html: str) -> str:
    """The reference computes a description then drops it (parser.py:136-141
    never adds ``descr`` to the result) — ported for completeness, flagged
    vestigial. Semantics (parser.py:257-277): og:title/title meta content,
    else first ``<p>`` over 150 chars without 'script', else the longest
    ``<p>``, else full text; truncated to 300, stripped."""
    doc = _meta_soup(html)
    for name in ("og:title", "title"):
        for m in doc.metas:
            if m.get("property") == name and m.get("content"):
                return m["content"]
    ret = ""
    for t in doc.collected.get("p", []):
        if len(t) > 150 and "script" not in t.lower():
            return t
        if len(t) > len(ret):
            ret = t
    if not ret:
        ret = "".join(doc.text_parts).strip()
    return ret[:300].strip()


_THIRD_LEVEL = ("qld", "nsw", "vic", "nt", "sa", "wa", "tas", "act")


def jurisdiction(domain_name: str) -> str:
    """Suffix-based jurisdiction classifier (parser.py:279-293)."""
    parts = domain_name.split(".")
    if len(parts) >= 3 and parts[-3] in _THIRD_LEVEL:
        return parts[-3].upper()
    if domain_name.endswith(".gov.nf"):
        return "Norfolk Island"
    if domain_name.endswith("gov.cx"):
        return "Christmas Island"
    if domain_name.endswith(".shire.cc"):
        return "Cocos Keeling Islands"
    return "Commonwealth"


def mime_split(content_type: "str | None") -> dict:
    """Split a Content-Type header into MIMEType/encoding/MIMEGroup/
    MIMEFormat (parser.py:295-317). Note the reference only emits MIMEType
    when a ``;`` is present — reproduced faithfully."""
    r: dict = {}
    if content_type and ";" in content_type:
        parts = content_type.split(";")
        if len(parts) > 0:
            r["MIMEType"] = parts[0].strip().lower()
        if len(parts) > 1:
            r["encoding"] = parts[1].strip().lower()
    if "MIMEType" in r and "/" in r["MIMEType"]:
        grp = r["MIMEType"].split("/")
        if len(grp) > 0:
            r["MIMEGroup"] = grp[0]
        if len(grp) > 1:
            r["MIMEFormat"] = grp[1]
    return r


def filename_guess(identifier: str) -> "str | None":
    """Last path segment when it 'looks like a file' — extension length
    2..8 (parser.py:231-255)."""
    if "//" in identifier:
        stripped = identifier[identifier.index("//") + 2:]
    else:
        stripped = identifier
    if stripped.startswith("www."):
        stripped = stripped[len("www."):]
    if "/" not in stripped:
        return None
    if stripped.endswith("/"):
        return None
    last = stripped.split("/")[-1]
    parts = last.split(".")
    if len(parts) > 1 and 2 <= len(parts[-1]) <= 8:
        return last
    return None


def language(_html: str = "") -> str:
    """Constant (parser.py:340-341)."""
    return "en-us"


# ---------------------------------------------------------------------------
# govCMS detection
# ---------------------------------------------------------------------------

GOVCMS_META_GENERATOR = "Drupal 7 (http://drupal.org) + govCMS (http://govcms.gov.au)"
GOVCMS_GA_RE = re.compile("UA-54970022-1")


def govcms_score(html: str) -> int:
    """govCMS likelihood 0..2 (govcms/__init__.py:63-103): +1 for the exact
    Drupal-7 meta-generator, +1 for the whole-of-government GA id in any
    ``<script>`` body (counted once). -1 (unparseable) is unreachable with
    the forgiving stdlib parser, as with bs4's html.parser backend."""
    doc = htmltext.parse_doc(html, exclude=(), collect=())
    score = 0
    for m in doc.metas:
        if m.get("name") == "generator" and m.get("content") == GOVCMS_META_GENERATOR:
            score += 1
            break
    for code in doc.scripts:
        if code and GOVCMS_GA_RE.search(code):
            score += 1
            break
    return score


def is_govcms_header(x_generator: "str | None") -> bool:
    """Header-based govCMS check used for politeness grouping
    (worker.py:647)."""
    return "govcms" in (x_generator or "").lower()


# ---------------------------------------------------------------------------
# Content hashing
# ---------------------------------------------------------------------------

_B58_ALPHABET = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"


def base58_encode(raw: bytes) -> str:
    """Bitcoin-alphabet base58 (public encoding; the reference uses the
    ``base58`` pypi package, parser.py:54-57)."""
    n = int.from_bytes(raw, "big")
    out = []
    while n:
        n, rem = divmod(n, 58)
        out.append(_B58_ALPHABET[rem])
    pad = 0
    for b in raw:
        if b == 0:
            pad += 1
        else:
            break
    return "1" * pad + "".join(reversed(out))


def content_hash(body: bytes) -> str:
    """Content-addressed body key: base58(multihash(SHA1(body))) where the
    multihash frame is ``0x11 || 0x14 || digest`` (parser.py:54-57; multihash
    spec is public). Identical bodies dedupe to one object."""
    digest = hashlib.sha1(body).digest()
    return base58_encode(bytes([0x11, len(digest)]) + digest)


def es_doc_id(url: str) -> str:
    """Document identity: sha256(url) hexdigest (parser.py:70) — re-crawls
    upsert in place."""
    return hashlib.sha256(url.encode("utf-8")).hexdigest()


# ---------------------------------------------------------------------------
# Text-extraction chain (the byte-identical invariant)
# ---------------------------------------------------------------------------


def repair_raw(body: bytes) -> str:
    """Stage 'raw' (postprocessor/process_raw.py:36-40): the stored body is
    read and passed through ``str()`` — which wraps bytes as ``"b'...'"``
    with backslash-escapes — then ``unicode_escape``-decoded. This lossy
    round-trip (including the literal ``b'``/``'`` framing) is part of the
    reference's observable output and is reproduced exactly."""
    import warnings
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        return bytes(str(body), "utf-8").decode("unicode_escape")


def extract_text(body: bytes) -> str:
    """The full bs4-stage chain (process_raw.py:36-50 → process_bs4.py:25-39):
    repair_raw, a second ``unicode_escape`` decode of the stored raw content,
    then strip ``script``/``style`` and concatenate all text nodes
    (``soup.get_text()``). Returns the str whose utf-8 encoding is the
    byte-identical ``text`` golden."""
    raw = repair_raw(body)
    # process_bs4 re-reads the stored utf-8 bytes and unicode_escape-decodes
    # them again (process_bs4.py:29-33), then re-encodes to utf-8 for bs4.
    # (unicode_escape on arbitrary text emits invalid-escape warnings by
    # design — that IS the reference quirk being reproduced.)
    import warnings
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            stage2 = bytes(raw.encode("utf-8").decode("unicode_escape"), "utf-8")
    except Exception:
        return ""
    html = stage2.decode("utf-8", errors="replace")
    return htmltext.get_text(html, exclude=("script", "style"))


def goose_text(body: bytes) -> str:
    """The goose stage (postprocessor/process_goose.py:16-46): extract the
    main article text from the stored raw content, then reproduce the
    stage's escape quirk — ``bytes(cleaned, 'utf-8').decode('unicode_escape')``
    mangles the cleaned text exactly as the reference stores it. goose3 is
    an optional heavy dependency: when importable it is used verbatim
    (enable_image_fetching=False, like the reference); otherwise a
    deterministic stdlib main-content heuristic (htmltext.main_content)
    stands in — the stage plumbing and quirk are exact, the extraction
    algorithm is a documented approximation."""
    raw = repair_raw(body)
    try:  # pragma: no cover - goose3 absent in this environment
        from goose3 import Goose
        g = Goose()
        g.config.enable_image_fetching = False
        cleaned = g.extract(raw_html=raw).cleaned_text or ""
    except ImportError:
        cleaned = htmltext.main_content(raw)
    import warnings
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            return cleaned.encode("utf-8").decode("unicode_escape")
    except Exception:
        return ""


# ---------------------------------------------------------------------------
# Readability scores (postprocessor/process_readability.py:45-52)
# ---------------------------------------------------------------------------

_SENT_RE = re.compile(r"[.!?]+")
_WORD_RE = re.compile(r"[A-Za-z']+")
_VOWEL_GROUP_RE = re.compile(r"[aeiouy]+")


def _syllables(word: str) -> int:
    w = word.lower().strip("'")
    if not w:
        return 0
    n = len(_VOWEL_GROUP_RE.findall(w))
    if w.endswith("e") and n > 1 and not w.endswith(("le", "ee")):
        n -= 1
    return max(1, n)


def text_stats(text: str) -> dict:
    """Sentence/word/char/syllable counts feeding the closed-form
    readability formulas."""
    sentences = [s for s in _SENT_RE.split(text) if s.strip()]
    words = _WORD_RE.findall(text)
    syl = [_syllables(w) for w in words]
    return {
        "sentences": max(1, len(sentences)),
        "words": max(1, len(words)),
        "chars": sum(len(w) for w in words),
        "syllables": sum(syl),
        "polysyllables": sum(1 for s in syl if s >= 3),
        "long_words": sum(1 for w in words if len(w) >= 7),
    }


def readability_scores(text: str) -> dict:
    """The seven ``min_age`` scores of the readability stage
    (process_readability.py:45-52). The reference delegates to the
    readability_score package; these are the same published closed-form
    grade formulas (ARI, Coleman-Liau, Dale-Chall, Flesch, Flesch-Kincaid,
    Linsear Write, SMOG) with min_age = US grade + 5. Dale-Chall 'difficult
    word' approximated as >=3 syllables (the package's 3000-word list is not
    redistributable here) — a documented deviation; there is no reference
    golden since its goose stage is skipped in-sandbox."""
    s = text_stats(text)
    W, S, C, Y, P = (s["words"], s["sentences"], s["chars"], s["syllables"],
                     s["polysyllables"])
    ari = 4.71 * (C / W) + 0.5 * (W / S) - 21.43
    L, Sp100 = (C / W) * 100, (S / W) * 100
    coleman = 0.0588 * L - 0.296 * Sp100 - 15.8
    pct_diff = 100.0 * P / W
    dale = 0.1579 * pct_diff + 0.0496 * (W / S)
    if pct_diff > 5:
        dale += 3.6365
    flesch_score = 206.835 - 1.015 * (W / S) - 84.6 * (Y / W)
    # Flesch reading-ease → grade banding (as the package maps ease→min_age)
    flesch_grade = (100 - flesch_score) / 10.0
    fk = 0.39 * (W / S) + 11.8 * (Y / W) - 15.59
    lw_points = (s["words"] - P) * 1 + P * 3
    lw = (lw_points / S)
    lw = lw / 2 if lw > 20 else (lw - 2) / 2
    smog = 1.0430 * (30.0 * P / S) ** 0.5 + 3.1291

    def age(grade: float) -> int:
        return int(round(max(0.0, grade))) + 5

    return {
        "ARI": age(ari),
        "ColemanLiau": age(coleman),
        "DaleChall": age(dale),
        "Flesch": age(flesch_grade),
        "FleschKincaid": age(fk),
        "LinsearWrite": age(lw),
        "SMOG": age(smog),
    }
