"""RFC-3986 URL canonicalization (SURVEY.md O18).

The reference normalizes URLs via Go's ``net/url`` and
``crawlbase.ToAbsUrl`` (reference: mainCrawler.go:124, mainHttpScan.go:172-176).
We pin one canonical form and use it as the dedupe key of the whole
engine (``url_hash = xxhash64(canon_url)`` on the Spark side):

* scheme and host lowercased
* default ports dropped (http:80, https:443)
* dot-segments resolved (RFC 3986 §5.2.4)
* empty path → "/"
* query parameters sorted as raw ``k=v`` byte strings; empty query
  dropped. Pairs are NOT decoded/re-encoded: only the percent-triplet
  normalization below is applied, so reserved encodings (``%26``,
  ``%3D``, ``%2B``) stay distinct from their literal forms — RFC 3986
  §2.2 requires that, and the url_hash seen-key must never collide two
  distinct resources.
* fragment stripped
* percent-encodings uppercased; unreserved characters decoded
* IPv6 literal hosts keep their brackets (``http://[::1]:8080/p``)

The same pure-Python function backs the vectorized pandas UDF (engine
side) and the sequential oracle (test side), so both worlds agree
byte-for-byte.
"""

from __future__ import annotations

import re
import string
from functools import lru_cache
from urllib.parse import urlsplit, urlunsplit, urljoin

_DEFAULT_PORTS = {"http": "80", "https": "443"}
_UNRESERVED = set(string.ascii_letters + string.digits + "-._~")
_PCT_RE = re.compile(r"%([0-9A-Fa-f]{2})")


def _norm_pct(s: str) -> str:
    """RFC 3986 §6.2.2.1-2: uppercase percent triplets; decode only the
    unreserved set (decoding reserved chars like %2F would change the
    resource identity)."""
    if "%" not in s:  # no triplet can match — the sub() is the identity
        return s

    def repl(m: re.Match) -> str:
        ch = chr(int(m.group(1), 16))
        return ch if ch in _UNRESERVED else "%" + m.group(1).upper()

    return _PCT_RE.sub(repl, s)


def _remove_dot_segments(path: str) -> str:
    if "." not in path:
        # no "." or ".." segment can exist: split/join is the identity
        # apart from guaranteeing the leading slash
        return path if path.startswith("/") else "/" + path
    segs = path.split("/")
    out: list[str] = []
    for seg in segs:
        if seg == ".":
            continue
        if seg == "..":
            if out and out[-1] != "":
                out.pop()
                if not out:
                    out = [""]
        else:
            out.append(seg)
    # RFC 3986 §5.2.4: a path ENDING in "." or ".." resolves to the
    # directory — with a trailing slash ("/a/b/.." → "/a/", like Go's
    # net/url). Dropping it pointed the crawler at "/a", a different
    # resource, and split one identity into two url_hash seen-keys.
    if segs and segs[-1] in (".", "..") and (not out or out[-1] != ""):
        out.append("")
    norm = "/".join(out)
    if not norm.startswith("/"):
        norm = "/" + norm
    return norm


# URLs this regex accepts are FIXPOINTS of canonicalize: lowercase
# http scheme; authority of [a-z0-9.-] not ending in '.' (no port, no
# userinfo, no brackets, no uppercase — each of those would be
# rewritten); a '/'-led path free of '%' (pct normalization is the
# identity), '?'/'#' (nothing to sort/strip), and of '.' segments
# (checked separately below — dot-segment removal is the identity).
# \Z (not $, which matches before a trailing newline) and the \s
# exclusion keep whitespace-carrying inputs on the full path, which
# strip()s them first.
_CANON_FIXPOINT_RE = re.compile(
    r"^http://[a-z0-9-]([a-z0-9.-]*[a-z0-9-])?(/[^%?#\s]*)?\Z"
)


def _canonical_fixpoint(url: str) -> bool:
    m = _CANON_FIXPOINT_RE.match(url)
    if m is None:
        return False
    path = m.group(2)
    if path is None:
        return False  # empty path → canonicalize appends '/'
    # any '.'-only segment would be rewritten by dot-segment removal
    return not (
        "/../" in path or "/./" in path
        or path.endswith(("/..", "/."))
    )


def canonicalize(url: str) -> str | None:
    """Canonical absolute form of ``url``; None if not absolute http(s)).

    The fixpoint fast path returns already-canonical simple URLs
    (≈half of the crawl's resolved hrefs) without the urlsplit
    round-trip or an LRU slot; everything else goes through the full
    memoized normalization."""
    if url is None:
        return None
    if _canonical_fixpoint(url):
        return url
    return _canonicalize_full(url)


@lru_cache(maxsize=1 << 17)
def _canonicalize_full(url: str) -> str | None:
    """Full normalization (memoized: the crawl's fetch tasks are
    partitioned by host, and a host's outgoing links draw from that
    host's bounded page set — the same absolute URL string recurs
    across pages and rounds within one long-lived Python worker;
    ~13 MB worst case per worker at the 2^17 cap)."""
    url = url.strip()
    if not url:
        return None
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    host = (parts.hostname or "").lower().rstrip(".")
    if not host:
        return None
    port = None
    try:
        port = parts.port
    except ValueError:
        return None
    # IPv6 literals come back bracket-stripped from .hostname — re-wrap
    # or the rebuilt URL is invalid and not idempotent (ADVICE r1)
    netloc = f"[{host}]" if ":" in host else host
    if port is not None and str(port) != _DEFAULT_PORTS[scheme]:
        netloc = f"{netloc}:{port}"
    # userinfo is part of the resource identity (RFC 3986 §3.2.1; Go's
    # net/url preserves it) — dropping it both broke auth-protected
    # fetches and collided http://alice@h and http://bob@h into one
    # url_hash seen-key. Percent-triplet-normalized like every other
    # component; raw '@' inside userinfo must itself be encoded, so
    # host_of's last-'@' split stays unambiguous.
    if parts.username is not None:
        userinfo = _norm_pct(parts.username)
        if parts.password is not None:
            userinfo += ":" + _norm_pct(parts.password)
        netloc = f"{userinfo}@{netloc}"
    # path: normalize percent-encoding in place, resolve dot segments
    path = _remove_dot_segments(_norm_pct(parts.path) or "/")
    # query: sort raw `k=v` pairs after percent-triplet normalization
    # only — never unquote/requote (parse_qsl+urlencode collapses %26/%3D
    # /%2B into their literal forms, colliding distinct resources)
    q = ""
    if parts.query:
        q = "&".join(sorted(_norm_pct(p) for p in parts.query.split("&") if p))
    return urlunsplit((scheme, netloc, path, q, ""))


def resolve(base: str, href: str) -> str | None:
    """Resolve ``href`` against ``base`` and canonicalize (O18 ToAbsUrl)."""
    if href is None:
        return None
    href = href.strip()
    if not href or href.startswith(("javascript:", "mailto:", "data:", "#")):
        return None
    if href.startswith(("http://", "https://")):
        # Absolute href: skip urljoin entirely. Deliberate delta from
        # urljoin(base, href): urlparse-based urljoin silently drops a
        # trailing ';' (empty path-params artifact); going straight to
        # canonicalize keeps ';' and makes the same URL string
        # canonicalize identically whether it arrives as a seed or as
        # an extracted href. urljoin does no dot-segment removal on
        # netloc-qualified refs, so nothing else differs.
        return canonicalize(href)
    if href[0] == "/" and not href.startswith("//") and ";" not in href:
        # Root-relative href: RFC 3986 §5.3 recomposes scheme://authority
        # + href verbatim, and canonicalize re-does dot-segment removal,
        # so origin-concat == urljoin for this shape — minus urljoin's
        # urlparse round-trip per call (the fetch hot path resolves ~5
        # of these per page). ';' on either side falls back: urljoin's
        # params split drops a trailing ';' and the delta must stay
        # confined to the absolute-href branch above where it is
        # documented. A base with no '/' after the authority (raw
        # pathless input) falls back too.
        s = base.find("://")
        if s >= 0 and ";" not in base:
            p = base.find("/", s + 3)
            # the '/' must actually end the authority: a '?' or '#'
            # before it (raw pathless base with a '/' inside the query)
            # means base[:p] would swallow query bytes — fall back
            if p > 0 and "?" not in base[s + 3 : p] and "#" not in base[s + 3 : p]:
                return canonicalize(base[:p] + href)
    try:
        absu = urljoin(base, href)
    except ValueError:
        return None
    return canonicalize(absu)


def host_of(canon_url: str) -> str:
    """Host component of a URL (cheap split). Fragment and query are
    cut first (Go url.Parse order) so RAW pathless inputs like
    'http://h.test?x=1' don't leak the query into the authority — a
    no-op for canonical URLs, which always carry a '/' path; twin of
    links.host_of_col."""
    rest = canon_url.split("://", 1)[1].split("#", 1)[0].split("?", 1)[0]
    authority = rest.split("/", 1)[0]
    # strip userinfo (canonical form keeps it; '@' in userinfo is
    # always percent-encoded, so the LAST '@' is the delimiter)
    authority = authority.rsplit("@", 1)[-1]
    if authority.startswith("["):  # IPv6 literal: [::1] or [::1]:8080
        return authority[1 : authority.index("]")]
    return authority.rsplit(":", 1)[0] if ":" in authority else authority
