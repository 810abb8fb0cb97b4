"""Config changes across resume must not corrupt the seen set.

The bloom filters are a *cache* of the seen table; every path that
consults them must use the geometry and probe mode they were built
with (both pinned in round-0 meta). These tests stop a crawl mid-way,
resume with changed bloom geometry / pending buckets, and require the
exact oracle crawl log and seen set — a single bloom false negative
would surface as a duplicate fetch here."""

import pytest

from nightcrawlercmd_spark.sources.corpus import WorldConfig
from nightcrawlercmd_spark.streaming import engine
from nightcrawlercmd_spark.streaming.engine import CrawlEngine, EngineConfig
from nightcrawlercmd_spark.streaming.simulator import simulate

WORLD = WorldConfig(n_hosts=5, base_pages=10, hot_factor=4, tag="t-rcfg")
ROUNDS, PAGES = 8, 120


def _assert_oracle_parity(eng):
    sim = simulate(WORLD, max_rounds=ROUNDS, max_pages=PAGES)
    got_log = [
        (r["round"], r["seq"], r["canon_url"], r["status_code"])
        for r in eng.crawl_log().collect()
    ]
    assert got_log == sim.log
    got_seen = {
        r["canon_url"]: (r["first_round"], r["depth"]) for r in eng.seen().collect()
    }
    assert got_seen == sim.seen


def _cfg(state, **kw):
    base = dict(
        state_dir=state,
        world=WORLD,
        max_rounds=ROUNDS,
        max_pages=PAGES,
        fetch_tasks=8,
        expected_urls=1 << 13,
    )
    base.update(kw)
    return EngineConfig(**base)


def test_resume_with_changed_bloom_geometry(spark, tmp_path_factory):
    """Table-probe resume with a different expected_urls must keep using
    the pinned build-time geometry — probing old blobs with a new filter
    size or partition count would produce false negatives that bypass
    the exact probe — and the pinned probe mode: the resume's broadcast
    budget would pick broadcast mode for a fresh store of this size, but
    the first run's rounds persisted filter deltas, so it keeps probing
    the table."""
    state = str(tmp_path_factory.mktemp("rcfg_geom"))
    first = _cfg(state, max_rounds=3, compact_seen_every=0)  # 2^13 keys
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(engine, "_BLOOM_BROADCAST_MAX_BYTES", 0)
        CrawlEngine(spark, first).run()
    # a fresh store would take 4,096-bit broadcast filters here
    eng = CrawlEngine(spark, _cfg(state, expected_urls=1 << 12, compact_seen_every=3))
    pinned = eng._layout()
    assert pinned.bloom_m_bits == 8192  # pinned, not the new config
    assert pinned.bloom_table_probe is True  # pinned, not re-decided
    # ... and 1,024 partitions of 2^27 bits at 10^10 keys
    huge = CrawlEngine(spark, _cfg(state, expected_urls=10**10))
    assert (huge._layout().bloom_partitions, huge._layout().bloom_m_bits) == (16, 8192)
    eng.run()
    assert eng._bc_generations == 0
    _assert_oracle_parity(eng)


def test_scope_excludes_host_with_only_disallowed_seeds(spark, tmp_path_factory):
    """Scope semantics, both sides: scope = hosts of the robots-ALLOWED
    seeds. A host whose every seed is disallowed must be out of scope
    for the engine AND the oracle (the simulator used to compute scope
    pre-filter and diverge here)."""
    world = WorldConfig(n_hosts=4, base_pages=10, hot_factor=4, tag="t-scope2")
    seeds = [
        "http://host00.t-scope2.test/p/0",
        "http://host01.t-scope2.test/p/0",
        "http://host02.t-scope2.test/private/x",  # its ONLY seed is disallowed
    ]
    sp = str(tmp_path_factory.mktemp("seeds")) + "/seeds.parquet"
    spark.createDataFrame([(u,) for u in seeds], "url string").write.parquet(sp)
    state = str(tmp_path_factory.mktemp("rcfg_scope"))
    eng = CrawlEngine(
        spark,
        EngineConfig(
            state_dir=state,
            world=world,
            seeds_path=sp,
            max_rounds=6,
            max_pages=80,
            fetch_tasks=8,
            expected_urls=1 << 12,
        ),
    )
    eng.run()
    sim = simulate(world, seeds=seeds, max_rounds=6, max_pages=80)
    got_log = [
        (r["round"], r["seq"], r["canon_url"], r["status_code"])
        for r in eng.crawl_log().collect()
    ]
    assert got_log == sim.log
    got_seen = {
        r["canon_url"]: (r["first_round"], r["depth"]) for r in eng.seen().collect()
    }
    assert got_seen == sim.seen
    assert not any("host02" in u for u in got_seen)  # out of scope on both sides


def test_resume_with_changed_pending_buckets(spark, tmp_path_factory):
    """pending_buckets is pinned at round 0 like seen_buckets/bloom
    geometry: a resume with a different modulus would hash deltas into
    pbuckets the manifest and fold watermarks never heard of, re-adding
    already-folded rows (duplicate pending → re-fetches)."""
    state = str(tmp_path_factory.mktemp("rcfg_pb"))
    CrawlEngine(
        spark,
        _cfg(state, max_rounds=3, pending_buckets=4, pending_compact_every=2),
    ).run()
    eng = CrawlEngine(
        spark, _cfg(state, pending_buckets=16, pending_compact_every=2)
    )
    assert eng._layout().pending_buckets == 4  # pinned, not the new config
    eng.run()
    _assert_oracle_parity(eng)


def test_stalled_store_rerun_is_noop(spark, tmp_path_factory):
    """A crawl that concluded via the zero-fetch path (pending exists
    but nothing dequeuable — every host budget 0) must be terminal:
    re-running the engine used to append one spurious committed empty
    round per invocation, breaking exact-resume (O77)."""
    world = WorldConfig(
        n_hosts=3, base_pages=6, budget_lo=0, budget_hi=0, tag="t-stall"
    )
    state = str(tmp_path_factory.mktemp("stall"))
    cfg = EngineConfig(
        state_dir=state, world=world, max_rounds=6, fetch_tasks=4,
        expected_urls=1 << 10,
    )
    eng = CrawlEngine(spark, cfg)
    first = eng.run()
    assert first["fetched_total"] == 0
    last_before = eng.store.last_round()
    again = CrawlEngine(spark, cfg).run()
    assert eng.store.last_round() == last_before  # no spurious round
    assert again["fetched_total"] == 0
    # zero pages ever fetched: accessors return EMPTY frames, not None
    log = eng.crawl_log()
    assert log.count() == 0
    assert set(log.columns) == {
        "round", "seq", "canon_url", "status_code", "host", "depth"
    }
    assert eng.pages().count() == 0
