"""Config changes across resume must not corrupt the seen set.

The bloom filters are a *cache* of the seen table; every path that
consults them must either use the geometry they were built with
(pinned in round-0 meta) or rebuild from the exact rows. These tests
stop a crawl mid-way, resume with changed bloom geometry / probe mode,
and require the exact oracle crawl log and seen set — a
single bloom false negative would surface as a duplicate fetch here."""

from nightcrawlercmd_spark.operators.bloomseen import BloomConfig
from nightcrawlercmd_spark.sources.corpus import WorldConfig
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
    """Table-probe resume with a different partitions/k must keep using
    the pinned build-time geometry — probing old blobs with a new
    modulus would produce false negatives that bypass the exact probe."""
    state = str(tmp_path_factory.mktemp("rcfg_geom"))
    first = _cfg(
        state,
        max_rounds=3,
        bloom_table_probe=True,
        bloom=BloomConfig(partitions=4, bits_per_key=12, k=5),
        compact_seen_every=0,
    )
    CrawlEngine(spark, first).run()
    second = _cfg(
        state,
        bloom_table_probe=True,
        bloom=BloomConfig(partitions=8, bits_per_key=10, k=7),  # changed
        compact_seen_every=3,
    )
    eng = CrawlEngine(spark, second)
    assert eng._layout().bloom.partitions == 4  # pinned, not the new config
    assert eng._layout().bloom.k == 5
    eng.run()
    _assert_oracle_parity(eng)


def test_resume_broadcast_then_table_probe(spark, tmp_path_factory):
    """Broadcast-mode rounds persist no filter deltas; a later
    table-probe resume must heal the empty filter table from the seen
    rows (in memory — never writing into committed round dirs)."""
    state = str(tmp_path_factory.mktemp("rcfg_mode"))
    CrawlEngine(
        spark, _cfg(state, max_rounds=3, bloom_table_probe=False, compact_seen_every=0)
    ).run()
    store_dirs_before = sorted(
        d for d in __import__("os").listdir(state) if d.startswith("seen_filters")
    )
    assert store_dirs_before == []  # broadcast mode wrote no filter dirs
    eng = CrawlEngine(
        spark, _cfg(state, bloom_table_probe=True, compact_seen_every=3)
    )
    eng.run()
    _assert_oracle_parity(eng)
    # the catch-up was folded into a persisted base by compaction
    last = eng.store.last_round()
    assert eng.store.meta(last).get("filters_base_round") is not None


def test_resume_with_bloom_gap_rounds(spark, tmp_path_factory):
    """Rounds executed in broadcast mode between table-probe rounds
    leave a gap in the filter table; a later table-probe resume must cover those rounds' seen
    rows via the catch-up delta, not treat the stale filters as
    complete."""
    state = str(tmp_path_factory.mktemp("rcfg_gap"))
    CrawlEngine(
        spark, _cfg(state, max_rounds=2, bloom_table_probe=True, compact_seen_every=0)
    ).run()
    CrawlEngine(
        spark, _cfg(state, max_rounds=5, bloom_table_probe=False, compact_seen_every=0)
    ).run()
    eng = CrawlEngine(
        spark, _cfg(state, bloom_table_probe=True, compact_seen_every=0)
    )
    eng.run()
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
