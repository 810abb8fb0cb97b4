"""Follow / don't-follow link filters (SURVEY.md O20/O40).

Reference semantics (reference mainCrawler.go:175-216):

* ``-follow``  → keep a link only if it contains ALL the given
  substrings (``containsAllText``);
* ``-dont-follow`` → drop a link if it contains ANY of the given
  substrings (``containsAnyText``);
* a link survives iff ``matchFollow && !matchDontFollow``.

Two documented deltas from the reference (SURVEY.md O40):

* a *dont-follow-only* configuration acts as a plain blacklist: an
  absent follow list matches every link. The reference drops every
  link there (matchFollow is false when no follow list is set), which
  reads like a latent bug;
* with NO filters configured the reference hits its nil-slice ``copy``
  quirk (mainCrawler.go:198 copies into a nil slice → enqueues
  nothing); here no filters means no filtering.

Filters apply to the RAW href text before base-resolution, exactly
where the reference applies them (page.RespInfo.Hrefs entries).
Redirect Location targets are never filtered: they are the same
resource moved, and the reference's HTTP client follows them
transparently.

This is a pure function shared by the engine's fused fetch pass and
the sequential oracle simulator, so both worlds agree byte-for-byte.
"""

from __future__ import annotations


def href_passes(
    href: str,
    follow: list[str] | None,
    dont_follow: list[str] | None,
) -> bool:
    match_f = not follow or all(s in href for s in follow)
    match_d = bool(dont_follow) and any(s in href for s in dont_follow)
    return match_f and not match_d


def filter_hrefs(
    hrefs: list[str],
    follow: list[str] | None,
    dont_follow: list[str] | None,
) -> list[str]:
    if not follow and not dont_follow:
        return hrefs
    return [h for h in hrefs if href_passes(h, follow, dont_follow)]
