"""Engine vs sequential oracle: identical crawl ordering + URL-seen set
(BASELINE.json north_rule correctness gate), plus per-row payload
invariants (pixel PSNR / byte-exact captions)."""

import numpy as np
import pytest

from nightcrawlercmd_spark.functions import codecs_np as C
from nightcrawlercmd_spark.sources.corpus import WorldConfig, gen_image
from nightcrawlercmd_spark.streaming.engine import (
    CrawlEngine,
    EngineConfig,
    world_seed_canon_df,
)
from nightcrawlercmd_spark.streaming.simulator import simulate

WORLD = WorldConfig(n_hosts=6, base_pages=12, hot_factor=5, tag="t-oracle")


@pytest.fixture(scope="module")
def engine_result(spark, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("crawl_state"))
    cfg = EngineConfig(
        state_dir=state,
        world=WORLD,
        max_rounds=10,
        max_pages=150,
        fetch_tasks=8,
        expected_urls=1 << 14,
    )
    eng = CrawlEngine(spark, cfg)
    stats = eng.run()
    return eng, stats


@pytest.fixture(scope="module")
def oracle_result():
    return simulate(WORLD, max_rounds=10, max_pages=150)


def test_crawl_ordering_matches_oracle(engine_result, oracle_result):
    eng, _ = engine_result
    got = [
        (r["round"], r["seq"], r["canon_url"], r["status_code"])
        for r in eng.crawl_log().collect()
    ]
    assert got == oracle_result.log


def test_seen_set_matches_oracle(engine_result, oracle_result):
    eng, _ = engine_result
    got = {
        r["canon_url"]: (r["first_round"], r["depth"]) for r in eng.seen().collect()
    }
    assert got == oracle_result.seen


def test_politeness_budget_never_exceeded(engine_result):
    from nightcrawlercmd_spark.sources.corpus import crawl_budget

    eng, _ = engine_result
    per = (
        eng.crawl_log()
        .groupBy("round", "host")
        .count()
        .collect()
    )
    for row in per:
        assert row["count"] <= crawl_budget(WORLD, row["host"]), row


def test_robots_never_fetched(engine_result):
    eng, _ = engine_result
    bad = eng.crawl_log().filter("canon_url LIKE '%/private/%' OR canon_url LIKE '%/admin%'")
    assert bad.count() == 0


def test_max_pages_honored(engine_result):
    eng, stats = engine_result
    assert stats["fetched_total"] <= 150
    assert eng.crawl_log().count() == stats["fetched_total"]


def test_payload_invariants(engine_result, spark, tmp_path_factory):
    """Per-row invariant (input_hint): decoded pixels match the
    reference decode (PSNR≥40dB lossy, exact lossless); captions byte-equal."""
    from nightcrawlercmd_spark.sources.corpus_writer import write_corpus

    corpus_dir = str(tmp_path_factory.mktemp("corpus"))
    write_corpus(spark, corpus_dir, WORLD)
    images = spark.read.parquet(f"{corpus_dir}/images.parquet")
    eng, _ = engine_result
    fetched = eng.pages().filter("status_code = 200").select("canon_url", "image_id", "caption")
    joined = fetched.join(images, "image_id").collect()
    assert joined, "no fetched pages joined to images"
    for row in joined[:50]:
        ref_img, w, h, fmt = gen_image(WORLD, row["image_id"])
        assert (w, h, fmt) == (row["w"], row["h"], row["fmt"])
        dec = C.decode(bytes(row["bytes"]), row["fmt"], row["w"], row["h"])
        if fmt == "dctq":
            assert C.psnr(ref_img, dec) >= 40.0
        else:
            assert np.array_equal(ref_img, dec)
        assert C.phash64(dec) is not None and row["phash"] == C.phash64(ref_img)


def test_world_seed_canon_matches_seed_rows(spark):
    """World seeds are expanded per host on the executors, canonicalized
    and prioritized in one Python stage; the result must equal, as a
    multiset, the sequential seed list through canonicalize and the
    depth-0 priority, with junk (null canon) seeds dropped."""
    from collections import Counter

    from nightcrawlercmd_spark.functions.urlnorm import canonicalize
    from nightcrawlercmd_spark.sources.corpus import priority_of, seed_rows

    cfg = EngineConfig(state_dir="unused", world=WORLD)
    got = Counter(
        (r["canon_url"], r["priority"])
        for r in world_seed_canon_df(spark, cfg).collect()
    )
    canon = [canonicalize(row["url"]) for row in seed_rows(WORLD)]
    want = Counter((c, priority_of(c, 0)) for c in canon if c is not None)
    assert got == want
    # the hot host's duplicated seeds survive as multiplicities
    assert max(want.values()) > 1
