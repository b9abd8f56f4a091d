"""Domain-lifecycle decisions shared by the oracle simulator and the Spark
engine driver.

The reference makes these decisions per-domain-process with live probes
(https HEAD, dual-domain probes, robots fetch, index HEAD, X-Generator
header — worker.py:550-664). The rebuild answers the dual-domain and index
probes from the pages table (``refsem.root_probes``), and the https,
robots-timeout and X-Generator probes from the corpus's host attributes.
The *domains* table is tiny (thousands of hosts vs a 10^10-URL frontier),
so this logic runs driver-side on collected state in both the simulator
and the engine — the heavy per-URL work stays in DataFrames.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

from . import refsem, robots as robots_mod


def steward_rank(host: str, round_no: int) -> str:
    """Deterministic replacement for the steward's random.shuffle
    (steward.py:112, SURVEY.md §8.4): seeded hash order, re-permuted each
    round. md5 is used (not xxhash64) so the simulator and Spark compute the
    identical ordering with stdlib alone."""
    return hashlib.md5(f"{host}|{round_no}".encode()).hexdigest()


def politeness_group(host: str, attrs) -> str:
    """govCMS SaaS sites share one politeness group/lock
    (worker.py:657-664, govcms/README.md:15-17); everyone else groups by
    www-collapsed host."""
    if attrs is not None and getattr(attrs, "is_govcms", False):
        return "govcms"
    return refsem.host_group(host)


@dataclass
class StartDecision:
    action: str                    # 'crawl' | 'dual-skip' | 'broken'
    scheme: str = "https"
    budget: int = robots_mod.CHUNK
    rp: object = None              # parsed robots (None = unrestricted)


def start_decision(host: str, attrs, robots_cache: robots_mod.RobotsCache,
                   probes: dict) -> StartDecision:
    """The domain-start gauntlet (worker.py:563-664): https probe →
    dual-domain check → robots fetch (timeout ⇒ broken) → index probe
    (failure ⇒ broken). govCMS grouping is handled by the caller via
    politeness_group().

    ``probes`` is the refsem.root_probes table both the engine and the
    simulator build from the pages corpus: the dual decision and the index
    probe are COMPUTED from data, exactly like the reference's 4-HEAD
    ``is_website_dualdomain`` + index HEAD (worker.py:283-353,636-644):
    dual-ness is whatever the page corpus serves, not a host attribute.
    The https scheme guess stays attribute-modeled: the corpus serves
    scheme-agnostic content, so a data probe cannot distinguish it
    (documented sandbox limit; worker.py:564-577)."""
    scheme = "https" if (attrs is None or getattr(attrs, "https", True)) else "http"
    if refsem.is_dual_domain(probes, host) and not host.startswith("www."):
        return StartDecision(action="dual-skip", scheme=scheme)
    if attrs is not None and getattr(attrs, "robots_broken", False):
        return StartDecision(action="broken", scheme=scheme)
    # index HEAD (worker.py:636-644): only a connection error breaks a
    # domain — a live host answers (any status); a host serving nothing
    # is dead
    if host not in probes:
        return StartDecision(action="broken", scheme=scheme)
    rp = robots_cache.get(host)
    return StartDecision(action="crawl", scheme=scheme,
                         budget=robots_mod.page_budget(rp), rp=rp)


def pick_domains(
    states: dict,
    groups: dict,
    active_groups: set,
    round_no: int,
    batch: int,
) -> list:
    """Steward eligibility + selection (steward.py:92-182): 'seen' domains in
    crawl scope whose politeness group is free, hash-ordered, at most one per
    group, capped at the per-iteration batch (SEND_PER_ITERATION=50)."""
    eligible = [
        h for h, st in states.items()
        if st == "seen"
        and refsem.should_be_crawled(h)
        and groups[h] not in active_groups
    ]
    eligible.sort(key=lambda h: steward_rank(h, round_no))
    picked, used = [], set(active_groups)
    for h in eligible:
        g = groups[h]
        if g in used:
            continue
        used.add(g)
        picked.append(h)
        if len(picked) >= batch:
            break
    return picked
