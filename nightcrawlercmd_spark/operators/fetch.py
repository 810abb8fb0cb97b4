"""Vectorized fetch stage (SURVEY.md O6) and page schema.

The reference fetches with a single-threaded ``http.DefaultClient.Do``
loop (mainHttpScan.go:178-204, mainCrawler.go:81). The engine fetches a
whole micro-batch per round with ``mapInPandas``: the dequeued frontier
rows are repartitioned by ``(host_hash, salt)`` so each task holds a
slice of hosts (politeness already enforced by the dequeue budget) and
a hot host's rows spread over ``n_salts`` tasks.

With ``decode_images=True`` the stage also fetches + decodes each 200
page's referenced image payload inline (north_star: "fetch and decode
image payloads via vectorized pandas/Arrow UDFs") and emits the decoded
metadata + perceptual hash columns.

This sandbox is offline, so the fetch body is the deterministic
synthetic responder from ``sources.corpus`` — a pure function of the
URL. A real deployment swaps ``fetch_one`` for an HTTP client (and the
image bytes for the actual response body); the Spark plumbing (schema,
partitioning, batch shape) is identical.
"""

from __future__ import annotations

import re
import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..functions import codecs_np as C
from ..functions.html import extract_hrefs, extract_srcs, link_scannable
from ..functions.linkfilter import filter_hrefs
from ..functions.urlnorm import resolve
from ..sources.corpus import WorldConfig, fetch_one, gen_image, priority_of

PAGE_SCHEMA = (
    "canon_url string, url_hash bigint, host string, host_hash bigint, "
    "salt int, depth int, priority double, "
    "status_code int, location string, content_type string, body binary, "
    "image_id string, caption string, resp_ms int, error string, "
    "img_w int, img_h int, img_fmt string, img_phash bigint, "
    "children array<struct<canon_url: string, priority: double>>"
)

_PASSTHRU = ["canon_url", "url_hash", "host", "host_hash", "salt", "depth", "priority"]
_FETCHED = ["status_code", "location", "content_type", "body", "image_id",
            "caption", "resp_ms", "error"]

# page identity markers emitted by the synthetic world's bodies — the
# real-HTTP path recovers image_id/caption by parsing, like a real
# crawler would (the synthetic responder hands them over directly)
_IMG_TAG_RE = re.compile(rb'<img src="/img/(img-[0-9a-f]{16})\.png" alt="([^"]*)"')


class HttpFetcher:
    """Real HTTP client against a WorldHTTPServer-style endpoint
    (``host:port``): virtual-hosted GETs with keep-alive, redirects NOT
    followed (the engine enqueues Location targets itself, O76). Same
    row shape as the synthetic ``corpus.fetch_one``."""

    def __init__(self, endpoint: str):
        host, port = endpoint.rsplit(":", 1)
        self._addr = (host, int(port))
        self._conn = None

    def _connection(self):
        import http.client

        if self._conn is None:
            self._conn = http.client.HTTPConnection(*self._addr, timeout=30)
        return self._conn

    def _get(self, path: str, vhost: str):
        conn = self._connection()
        try:
            conn.request("GET", path, headers={"Host": vhost})
            return conn.getresponse()
        except Exception:
            # stale keep-alive — reconnect once
            self._conn.close()
            self._conn = None
            conn = self._connection()
            conn.request("GET", path, headers={"Host": vhost})
            return conn.getresponse()

    def fetch(self, canon_url: str) -> dict:
        rest = canon_url.split("://", 1)[1]
        vhost, _, pathq = rest.partition("/")
        t0 = time.perf_counter()
        base = {
            "canon_url": canon_url, "status_code": 0, "location": None,
            "content_type": "", "body": b"", "image_id": None,
            "caption": None, "resp_ms": 0, "error": None,
        }
        try:
            resp = self._get("/" + pathq, vhost)
            body = resp.read()
        except Exception as e:
            base["error"] = f"fetch: {e}"
            base["resp_ms"] = int((time.perf_counter() - t0) * 1000)
            return base
        synth_err = resp.getheader("X-Synthetic-Error")
        if synth_err:
            # the fixture server can't raise a resolver exception over
            # a socket, so it marks DNS-fail rows; translate back to
            # the (status 0, error) row fetch_one produces, keeping
            # real-vs-synthetic parity for out-of-world hosts
            base["error"] = synth_err
            base["content_type"] = resp.getheader("Content-Type") or ""
            base["resp_ms"] = int((time.perf_counter() - t0) * 1000)
            return base
        base["status_code"] = resp.status
        base["location"] = resp.getheader("Location")
        base["content_type"] = resp.getheader("Content-Type") or ""
        base["body"] = body
        base["resp_ms"] = int((time.perf_counter() - t0) * 1000)
        if resp.status == 200:
            m = _IMG_TAG_RE.search(body)
            if m:
                base["image_id"] = m.group(1).decode()
                base["caption"] = m.group(2).decode()
        return base

    def fetch_image(self, image_id: str):
        """GET the payload bytes + typed metadata; decode happens in the
        caller (same codec path as the synthetic mode). Returns None on
        a non-200 response or missing metadata headers — one transient
        image failure must degrade that row (null img columns), never
        raise inside mapInPandas and fail the whole task/round."""
        try:
            resp = self._get(f"/img/{image_id}.png", self._addr[0])
            blob = resp.read()
            fmt = resp.getheader("X-Img-Fmt")
            w, h = resp.getheader("X-Img-W"), resp.getheader("X-Img-H")
        except Exception:
            return None
        if resp.status != 200 or not fmt or w is None or h is None:
            return None
        return blob, int(w), int(h), fmt


def _decode_phash(blob, w, h, fmt) -> int | None:
    """Decode a fetched payload and phash it, or None on ANY failure —
    a real endpoint can hand back a corrupt payload (truncated blob,
    bad stream, unknown fmt), and that must degrade THIS row to null
    img columns like multimodal.py does, never fail the task/round
    (review r4)."""
    try:
        return int(C.phash64(C.decode(blob, fmt, w, h)))
    except Exception:
        return None


def fetch_stage(
    dequeued: DataFrame,
    world: WorldConfig,
    n_tasks: int,
    decode_images: bool = False,
    follow: list[str] | None = None,
    dont_follow: list[str] | None = None,
    http_endpoint: str | None = None,
    no_new_links: bool = False,
    load_resources: bool = False,
) -> DataFrame:
    """dequeued frontier rows → fetched pages (one row per URL).

    Fetch, payload decode, link extraction, base-resolution,
    canonicalization and child-priority all happen HERE, in one Arrow
    round-trip — the rest of the round (dedupe, filters, merge) is pure
    JVM. The page body crosses the Python boundary exactly once.

    ``load_resources`` additionally enqueues resource URLs (img/script
    src attributes) from 200 pages — the reference's `-load-resources`
    (mainCrawler.go:55,191-196). Resources are appended AFTER the
    follow/dont-follow filters and are never subject to them, and the
    reference's no-new-links early return wins: no resources in that
    mode (mainCrawler.go:165-173).
    """

    def fetch_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one keep-alive connection per task when fetching real HTTP
        fetcher = HttpFetcher(http_endpoint) if http_endpoint else None
        for pdf in batches:
            if pdf.empty:
                continue
            if fetcher is not None:
                res = [fetcher.fetch(u) for u in pdf["canon_url"]]
            else:
                res = [fetch_one(world, u) for u in pdf["canon_url"]]
            out = pdf[_PASSTHRU].reset_index(drop=True)
            rdf = pd.DataFrame(res).reset_index(drop=True)
            for col in _FETCHED:
                out[col] = rdf[col]
            img_cols: dict[str, list] = {"img_w": [], "img_h": [], "img_fmt": [], "img_phash": []}
            children: list[list[tuple[str, float]]] = []
            for r, depth in zip(res, pdf["depth"]):
                got_img = None
                if decode_images and r["image_id"] is not None:
                    # fetch the referenced payload (real GET when an
                    # endpoint is set, deterministic bytes otherwise),
                    # then decode + hash — the per-page media work a
                    # real crawler pays. encode = wire, decode = ingest.
                    if fetcher is not None:
                        got_img = fetcher.fetch_image(r["image_id"])
                    else:
                        img, w, h, fmt = gen_image(world, r["image_id"])
                        got_img = (C.encode(img, fmt), w, h, fmt)
                phash = (
                    _decode_phash(*got_img) if got_img is not None else None
                )
                if phash is not None:
                    blob, w, h, fmt = got_img
                    img_cols["img_w"].append(w)
                    img_cols["img_h"].append(h)
                    img_cols["img_fmt"].append(fmt)
                    img_cols["img_phash"].append(phash)
                else:
                    for k in img_cols:
                        img_cols[k].append(None)
                # link extraction + canonicalization (SURVEY.md O30/O18)
                if no_new_links:
                    # only redirect Locations may enqueue (O78): skip
                    # the per-href extract/resolve/canonicalize work on
                    # 200 pages entirely — it would be discarded anyway
                    hrefs = (
                        [r["location"]]
                        if 300 <= (r["status_code"] or 0) <= 307 and r["location"]
                        else []
                    )
                elif r["status_code"] == 200 and link_scannable(
                    r["content_type"]
                ):
                    # follow/dont-follow on the RAW href, pre-resolution
                    # (reference mainCrawler.go:175-196, O20/O40).
                    # link_scannable is a binary-type DENY list, not a
                    # text/html allow list: goquery link-scans any 200
                    # body, so missing/odd Content-Type still scans;
                    # only load_resources' fetched image payloads skip
                    # the regex pass. simulator.py gates identically
                    hrefs = filter_hrefs(extract_hrefs(r["body"]), follow, dont_follow)
                    if load_resources:
                        # unfiltered, appended after the href filters
                        # (mainCrawler.go:191-196)
                        hrefs = hrefs + extract_srcs(r["body"])
                elif 300 <= r["status_code"] <= 307 and r["location"]:
                    hrefs = [r["location"]]  # redirect enqueue, O76 (never filtered)
                else:
                    hrefs = []
                cd = int(depth) + 1
                kids = []
                for href in hrefs:
                    child = resolve(r["canon_url"], href)
                    if child is not None:
                        kids.append((child, priority_of(child, cd)))
                children.append(kids)
            for k, v in img_cols.items():
                out[k] = pd.Series(v, dtype=object)
            out["children"] = pd.Series(children, dtype=object)
            yield out

    return dequeued.repartition(n_tasks, "host_hash", "salt").mapInPandas(
        fetch_batches, schema=PAGE_SCHEMA
    )
