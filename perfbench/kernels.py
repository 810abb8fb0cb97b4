"""Kernel table: the per-page Python functions and the bloom filter,
timed directly on one core over fixed inputs drawn from the seed's
crawl world.

Each kernel runs once untimed (caches fill as they do in a long-lived
crawl worker), then ``REPS`` timed passes over the same inputs; the
reported value is the median per-call time and ``iqr`` holds the
spread between passes.
"""

from __future__ import annotations

import statistics
import time
from urllib.parse import urljoin

import numpy as np
import pandas as pd

from nightcrawlercmd_spark.functions import codecs_np as C
from nightcrawlercmd_spark.functions.html import extract_hrefs
from nightcrawlercmd_spark.functions.urlnorm import canonicalize, host_of, resolve
from nightcrawlercmd_spark.operators.bloomseen import (
    BloomConfig,
    PartitionedBloom,
    build_filter_rows_from_hashes,
)
from nightcrawlercmd_spark.operators.fetch import fetch_stage
from nightcrawlercmd_spark.sources.corpus import all_page_urls, fetch_one, gen_image, priority_of
from nightcrawlercmd_spark.streaming.engine import EngineConfig

REPS = 5
PAGES = 300  # pages sampled for the pure-Python kernels
STAGE_PAGES = 800  # pages fed to one fetch_stage task
STAGE_REPS = 3
BLOOM_PROBES = 200_000


def _time_per_call(fn, args: list[tuple], reps: int = REPS) -> tuple[float, float]:
    """(median, IQR) of the per-call seconds over ``reps`` passes."""
    for a in args:
        fn(*a)
    per = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for a in args:
            fn(*a)
        per.append((time.perf_counter() - t0) / len(args))
    q = statistics.quantiles(per, n=4)
    return statistics.median(per), q[2] - q[0]


def _sample_pages(world, n: int, seed: int) -> list[str]:
    urls = all_page_urls(world)
    rng = np.random.default_rng(seed)
    return [urls[i] for i in sorted(rng.choice(len(urls), size=min(n, len(urls)), replace=False))]


def _stage_us_per_page(spark, world, seed: int) -> tuple[float, float]:
    """One ``fetch_stage`` task (one core) over a fixed dequeued sample."""
    urls = _sample_pages(world, STAGE_PAGES, seed + 1)
    pdf = pd.DataFrame({
        "canon_url": urls,
        "url_hash": np.arange(len(urls), dtype=np.int64),
        "host": [host_of(u) for u in urls],
        "host_hash": np.zeros(len(urls), dtype=np.int64),
        "salt": np.zeros(len(urls), dtype=np.int32),
        "depth": np.ones(len(urls), dtype=np.int32),
        "priority": [priority_of(u, 1) for u in urls],
    })
    df = spark.createDataFrame(pdf).coalesce(1).cache()
    df.count()
    stage = fetch_stage(df, world, n_tasks=1, decode_images=True)
    per = []
    try:
        for _ in range(STAGE_REPS + 1):  # the first pass spawns the worker
            t0 = time.perf_counter()
            stage.write.format("noop").mode("overwrite").save()
            per.append((time.perf_counter() - t0) / len(urls))
    finally:
        df.unpersist()
    per = per[1:]
    return statistics.median(per), max(per) - min(per)


def _bloom(seed: int) -> dict[str, tuple[float, float]]:
    """Probe and build cost per key, and the false-positive share of
    unseen keys, for the engine's default filter at its design fill
    (``EngineConfig.expected_urls`` keys)."""
    cfg, n = BloomConfig(), EngineConfig.__dataclass_fields__["expected_urls"].default
    m_bits = PartitionedBloom.size_for(n, cfg)
    rng = np.random.default_rng(seed)
    keys = rng.integers(-(1 << 63), (1 << 63) - 1, size=n + BLOOM_PROBES, dtype=np.int64)
    seen, unseen = keys[:n], keys[n:]
    build = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        rows = build_filter_rows_from_hashes(seen, cfg, m_bits)
        build.append((time.perf_counter() - t0) / n)
    bloom = PartitionedBloom(cfg, m_bits)
    bloom.add_filter_rows(rows)
    if not bloom.maybe_contains(seen[:10_000]).all():
        raise RuntimeError("bloom filter lost an inserted key")
    probe = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        hits = bloom.maybe_contains(unseen)
        probe.append((time.perf_counter() - t0) / len(unseen))
        fp = float(hits.mean())
    qb, qp = statistics.quantiles(build, n=4), statistics.quantiles(probe, n=4)
    return {
        "bloom.probe_ns_per_key": (statistics.median(probe) * 1e9, (qp[2] - qp[0]) * 1e9),
        "bloom.build_ns_per_key": (statistics.median(build) * 1e9, (qb[2] - qb[0]) * 1e9),
        "bloom.fp_rate": (fp, 0.0),
    }


def kernel_table(spark, world, seed: int) -> dict[str, tuple[float, float]]:
    """name → (median, IQR) for every kernel metric."""
    urls = _sample_pages(world, PAGES, seed)
    pages = [fetch_one(world, u) for u in urls]
    ok = [p for p in pages if p["status_code"] == 200]
    image_ids = [p["image_id"] for p in ok]
    images = [gen_image(world, i) for i in image_ids]
    blobs = [(C.encode(img, fmt), fmt, w, h) for img, w, h, fmt in images]
    decoded = [C.decode(*b) for b in blobs]
    pairs = [(p["canon_url"], h) for p in ok for h in extract_hrefs(p["body"])]
    absolute = []
    for base, href in pairs:
        try:
            absolute.append(urljoin(base, href.strip()))
        except ValueError:
            continue
    out = {}
    for name, fn, args in (
        ("corpus.fetch_one_us", fetch_one, [(world, u) for u in urls]),
        ("corpus.gen_image_us", gen_image, [(world, i) for i in image_ids]),
        ("html.extract_hrefs_us", extract_hrefs, [(p["body"],) for p in ok]),
        ("urlnorm.resolve_us", resolve, pairs),
        ("urlnorm.canonicalize_us", canonicalize, [(u,) for u in absolute]),
        ("codecs.encode_us", C.encode, [(img, fmt) for img, _, _, fmt in images]),
        ("codecs.decode_us", C.decode, blobs),
        ("codecs.phash64_us", C.phash64, [(d,) for d in decoded]),
    ):
        med, iqr = _time_per_call(fn, args)
        out[name] = (med * 1e6, iqr * 1e6)
    med, spread = _stage_us_per_page(spark, world, seed)
    out["fetch.stage_us_per_page"] = (med * 1e6, spread * 1e6)
    out.update(_bloom(seed))
    return out
