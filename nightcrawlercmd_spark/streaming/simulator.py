"""Sequential pure-Python crawl oracle (SURVEY.md §5.2.3).

Implements the reference crawler's loop semantics (fetch → store →
extract → filter → enqueue-unseen → repeat; mainCrawler.go:84-198) with
the engine's pinned deterministic dequeue rule — the reference iterates
a Go map (nondeterministic run-to-run), so "matching the reference's
crawl ordering" (BASELINE.json north_rule) is interpreted as: both
engine and oracle follow the same total order (priority DESC,
canon_url ASC) under the same seed list and politeness budget.

No Spark imports: this is the independent referee. It shares only the
*pure* world functions (corpus / urlnorm / html) with the engine, so a
bug in the engine's distributed plumbing cannot hide in the oracle.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from ..functions.html import extract_hrefs, extract_srcs, link_scannable
from ..functions.linkfilter import filter_hrefs
from ..functions.urlnorm import canonicalize, host_of, resolve
from ..sources.corpus import (
    WorldConfig,
    crawl_budget,
    fetch_one,
    priority_of,
    robots_rows,
    seed_rows,
)


@dataclass
class SimResult:
    log: list[tuple[int, int, str, int]] = field(default_factory=list)  # round, seq, url, status
    seen: dict[str, tuple[int, int]] = field(default_factory=dict)  # canon → (first_round, depth)
    rounds: int = 0
    fetched: int = 0


def _path_of(canon: str) -> str:
    # fragment/query cut FIRST (Go url.Parse order), then the path
    # split — identical to links.path_of_col including the empty path
    # for raw pathless URLs (canonical URLs always carry a '/')
    rest = canon.split("://", 1)[1].split("#", 1)[0].split("?", 1)[0]
    i = rest.find("/")
    return rest[i:] if i >= 0 else ""


def simulate(
    world: WorldConfig,
    seeds: list[str] | None = None,
    scope_seed_hosts: bool = True,
    default_budget: int = 4,
    max_rounds: int = 64,
    max_pages: int | None = None,
    no_new_links: bool = False,
    round_capacity: int | None = None,
    follow: list[str] | None = None,
    dont_follow: list[str] | None = None,
    load_resources: bool = False,
) -> SimResult:
    robots = {r["host"]: r["disallow_prefixes"] for r in robots_rows(world)}
    budgets = {h: crawl_budget(world, h) for h in robots}

    def allowed(canon: str) -> bool:
        host = host_of(canon)
        prefixes = robots.get(host)
        if not prefixes:
            return True
        path = _path_of(canon)
        return not any(path.startswith(p) for p in prefixes)

    raw_seeds = seeds if seeds is not None else [r["url"] for r in seed_rows(world)]
    canon_seeds = sorted({c for c in (canonicalize(u) for u in raw_seeds) if c})
    canon_seeds = [c for c in canon_seeds if allowed(c)]
    # scope = hosts of the robots-ALLOWED seeds, matching the engine,
    # which derives scope from the round-0 seen table written after the
    # robots filter: a host whose every seed is disallowed is out of
    # scope on both sides
    scope: set[str] | None = None
    if scope_seed_hosts:
        scope = {host_of(c) for c in canon_seeds}

    res = SimResult()
    pending: dict[str, tuple[float, int]] = {}  # canon → (priority, depth)
    for c in canon_seeds:
        pending[c] = (priority_of(c, 0), 0)
        res.seen[c] = (0, 0)

    for r in range(1, max_rounds + 1):
        if not pending or (max_pages is not None and res.fetched >= max_pages):
            break
        # --- dequeue: per-host budget, order (priority desc, canon asc) ---
        by_host: dict[str, list[tuple[str, float, int]]] = {}
        for c, (prio, depth) in pending.items():
            by_host.setdefault(host_of(c), []).append((c, prio, depth))
        dequeued: list[tuple[str, float, int]] = []
        for host, items in by_host.items():
            items.sort(key=lambda t: (-t[1], t[0]))
            # max(0, ·): the engine's row_number <= budget keeps nothing
            # for a negative budget; a raw Python slice would keep
            # len+budget items and diverge
            dequeued.extend(items[: max(0, budgets.get(host, default_budget))])
        dequeued.sort(key=lambda t: (-t[1], t[0]))
        if max_pages is not None:
            dequeued = dequeued[: max_pages - res.fetched]
        if round_capacity is not None:
            dequeued = dequeued[:round_capacity]
        if not dequeued:
            # the engine commits (and counts) the empty round before
            # stopping — mirror that so `rounds` parity holds
            res.rounds = r
            break
        # --- fetch + log + collect candidate links over the whole round ---
        candidates: dict[str, tuple[int, str]] = {}  # canon → (depth, parent)
        for seq, (canon, prio, depth) in enumerate(dequeued, start=1):
            del pending[canon]
            page = fetch_one(world, canon)
            res.fetched += 1
            res.log.append((r, seq, canon, page["status_code"]))
            if (
                page["status_code"] == 200
                and not no_new_links
                # shared binary-deny gate mirrors the engine's fetch
                # stage: 200 binary payloads (load_resources image
                # fetches) are never link-scanned on either side, but
                # missing/odd Content-Type still scans like goquery
                and link_scannable(page["content_type"])
            ):
                hrefs = filter_hrefs(extract_hrefs(page["body"]), follow, dont_follow)
                if load_resources:
                    # -load-resources: unfiltered src URLs appended
                    # after the href filters (mainCrawler.go:191-196);
                    # the no-new-links early return wins over this
                    hrefs = hrefs + extract_srcs(page["body"])
            elif 300 <= page["status_code"] <= 307 and page["location"]:
                hrefs = [page["location"]]
            else:
                hrefs = []
            for href in hrefs:
                child = resolve(canon, href)
                if child is None:
                    continue
                if scope is not None and host_of(child) not in scope:
                    continue
                if not allowed(child):
                    continue
                prev = candidates.get(child)
                if prev is None or (depth, canon) < prev:
                    candidates[child] = (depth, canon)
        # --- dedupe vs seen, enqueue ---
        for child, (pdepth, parent) in candidates.items():
            if child in res.seen:
                continue
            d = pdepth + 1
            res.seen[child] = (r, d)
            pending[child] = (priority_of(child, d), d)
        res.rounds = r
    return res
