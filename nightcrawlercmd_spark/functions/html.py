"""HTML extraction functions (SURVEY.md O29/O30).

The reference extracts hrefs/forms/resources inside crawlbase (goquery;
consumed at mainCrawler.go:179,192-194 and mainReport.go:163-169) and
converts HTML to text via html2text (mainReport.go:109-110). Here both
are pure functions shared by the Spark pandas UDFs and the sequential
oracle — regex-based, deterministic, no external parser.
"""

from __future__ import annotations

import html as _html
import re

# quote handling backreferences the OPENING quote — ["']...["'] would
# let a value containing the other quote char terminate early
# (href="/q?x=o'brien" must not truncate at the apostrophe); the
# third alternative accepts legal UNQUOTED values (<a href=/about>,
# common in the wild and parsed by the reference's goquery) up to
# whitespace or '>'
_HREF_RE = re.compile(
    r"""href\s*=\s*(?:(["'])(.*?)\1|([^\s>"'][^\s>]*))""",
    re.IGNORECASE | re.DOTALL,
)
_SRC_RE = re.compile(
    r"""src\s*=\s*(?:(["'])(.*?)\1|([^\s>"'][^\s>]*))""",
    re.IGNORECASE | re.DOTALL,
)
# IGNORECASE: <SCRIPT>/<STYLE> blocks must drop as BLOCKS (content and
# all) — case-sensitive matching would strip only the tags and leak
# script source into the text
# the \Z alternates drop an UNCLOSED script/style block to EOF —
# without them a page truncated mid-script leaks raw JS source into
# the text column (and from there into generated wordlists)
_TAG_RE = re.compile(
    r"<script\b.*?(?:</script\s*>|\Z)|<style\b.*?(?:</style\s*>|\Z)|<[^>]+>",
    re.DOTALL | re.IGNORECASE,
)
_WS_RE = re.compile(r"\s+")
_FORM_RE = re.compile(r"<form\b([^>]*)>(.*?)</form>", re.IGNORECASE | re.DOTALL)
_ATTR_RE = re.compile(
    r"""(\w+)\s*=\s*(?:(["'])(.*?)\2|([^\s>"']+))""", re.DOTALL
)
_INPUT_RE = re.compile(r"<input\b([^>]*)>", re.IGNORECASE)


def _as_text(body) -> str:
    if body is None:
        return ""
    if isinstance(body, (bytes, bytearray)):
        return bytes(body).decode("utf-8", errors="replace")
    return str(body)


# deny-list, not an allow-list: the reference's goquery link-scans any
# 200 body regardless of Content-Type, so a server that omits the
# header (ct == "") or serves application/xhtml+xml MUST still be
# scanned — an allow-list of "text/html" silently kills such crawls at
# the first hop. The gate exists only to keep known-binary payloads
# (load_resources image fetches) out of the hot path's regex scan.
_BINARY_CT_PREFIXES = ("image/", "video/", "audio/", "font/")
_BINARY_CT_EXACT = ("application/octet-stream", "application/pdf")


def link_scannable(content_type: str | None) -> bool:
    """Whether a 200 body should be scanned for links given its
    Content-Type header. Shared verbatim by the fetch stage and the
    sequential oracle so the gate can never diverge between them."""
    ct = (content_type or "").lower().split(";", 1)[0].strip()
    return not (ct.startswith(_BINARY_CT_PREFIXES) or ct in _BINARY_CT_EXACT)


def extract_hrefs(body) -> list[str]:
    """All href attribute values, document order, duplicates preserved
    (dedupe is a separate relational step — array_distinct / anti-join)."""
    return [
        m.group(2) if m.group(2) is not None else m.group(3)
        for m in _HREF_RE.finditer(_as_text(body))
    ]


def extract_srcs(body) -> list[str]:
    return [
        m.group(2) if m.group(2) is not None else m.group(3)
        for m in _SRC_RE.finditer(_as_text(body))
    ]


def extract_forms(body) -> list[dict]:
    """Forms with action/method + input names (reference pageReport.Forms,
    mainReport.go:44, consumed by the formtags report mainReport.go:243-259)."""
    out = []
    def _attrs(fragment: str) -> dict:
        # attribute NAMES are case-insensitive in HTML (goquery/x/net
        # parse them lowercased); values keep their case
        return {
            a.group(1).lower(): (a.group(3) if a.group(3) is not None else a.group(4))
            for a in _ATTR_RE.finditer(fragment)
        }

    for m in _FORM_RE.finditer(_as_text(body)):
        attrs = _attrs(m.group(1))
        inputs = [
            _attrs(i.group(1)).get("name", "")
            for i in _INPUT_RE.finditer(m.group(2))
        ]
        out.append(
            {
                "action": attrs.get("action", ""),
                "method": attrs.get("method", "").upper(),
                "inputs": inputs,
            }
        )
    return out


def html_to_text(body) -> str:
    """Tag-strip + entity decode + whitespace collapse (O29)."""
    txt = _TAG_RE.sub(" ", _as_text(body))
    return _WS_RE.sub(" ", _html.unescape(txt)).strip()
