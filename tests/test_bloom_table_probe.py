"""Co-partitioned bloom table probe (the 10^10-URL design-point path):
a crawl whose round 0 picks the table probe (forced here by a zero
broadcast budget) must reproduce the exact oracle seen set and crawl
ordering with NO driver-held filters and NO broadcast, and the
broadcast path must keep exactly one live generation."""

import numpy as np

from nightcrawlercmd_spark.operators.bloomseen import (
    BloomConfig,
    PartitionedBloom,
    bloom_probe_cogroup,
    build_filter_delta_df,
    or_merge_filters_df,
)
from nightcrawlercmd_spark.sources.corpus import WorldConfig
from nightcrawlercmd_spark.streaming import engine
from nightcrawlercmd_spark.streaming.engine import CrawlEngine, EngineConfig
from nightcrawlercmd_spark.streaming.simulator import simulate

WORLD = WorldConfig(n_hosts=5, base_pages=10, hot_factor=4, tag="t-tbl")


def _keys(n, seed):
    rng = np.random.Generator(np.random.Philox(seed))
    return rng.integers(-(2**62), 2**62, size=n, dtype=np.int64)


def test_cogroup_probe_matches_driver_probe(spark):
    """Same bits, different transport: the cogroup probe over a
    multi-delta (pid, filter) table equals the driver-held probe."""
    cfg = BloomConfig(partitions=4, bits_per_key=12, k=7)
    a, b = _keys(3000, 11), _keys(3000, 12)
    m = PartitionedBloom.size_for(6000, cfg)
    bloom = PartitionedBloom(cfg, m)
    deltas = []
    for chunk in (a, b):
        df = spark.createDataFrame([(int(x),) for x in chunk], "url_hash bigint")
        delta = build_filter_delta_df(df, cfg, m)
        bloom.add_filter_rows((r["pid"], r["filter"]) for r in delta.collect())
        deltas.append(delta)
    filters = deltas[0].unionByName(deltas[1])
    probes = np.concatenate([a[:500], _keys(500, 13)])
    cand = spark.createDataFrame([(int(x),) for x in probes], "url_hash bigint")
    got = (
        bloom_probe_cogroup(cand, filters, cfg, m)
        .toPandas()
        .sort_values("url_hash")
    )
    want = bloom.maybe_contains(got["url_hash"].to_numpy())
    assert (got["maybe_seen"].to_numpy() == want).all()
    # OR-merge compaction must not change probe results
    merged = or_merge_filters_df(filters)
    assert merged.count() == cfg.partitions
    got2 = (
        bloom_probe_cogroup(cand, merged, cfg, m)
        .toPandas()
        .sort_values("url_hash")
    )
    assert (got2["maybe_seen"].to_numpy() == want).all()


def test_table_probe_crawl_matches_oracle(spark, tmp_path_factory, monkeypatch):
    # any filter size exceeds a zero budget: round 0 pins the table probe
    monkeypatch.setattr(engine, "_BLOOM_BROADCAST_MAX_BYTES", 0)
    state = str(tmp_path_factory.mktemp("crawl_state_tbl"))
    cfg = EngineConfig(
        state_dir=state,
        world=WORLD,
        max_rounds=8,
        max_pages=120,
        fetch_tasks=8,
        compact_seen_every=3,  # exercise filter compaction mid-crawl
        expected_urls=1 << 13,
    )
    eng = CrawlEngine(spark, cfg)
    eng.run()
    assert eng.store.meta(0)["bloom_table_probe"] is True
    sim = simulate(WORLD, max_rounds=8, max_pages=120)
    got_log = [
        (r["round"], r["seq"], r["canon_url"], r["status_code"])
        for r in eng.crawl_log().collect()
    ]
    assert got_log == sim.log
    got_seen = {
        r["canon_url"]: (r["first_round"], r["depth"]) for r in eng.seen().collect()
    }
    assert got_seen == sim.seen
    # no driver-held filters and no broadcast in table mode
    assert eng._bloom is None
    assert eng._bc_generations == 0
    # the filter table exists and compacted at least once
    assert eng.store.exists("seen_filters", 0)
    last = eng.store.last_round()
    assert eng.store.meta(last).get("filters_base_round") is not None


def test_broadcast_mode_single_live_generation(spark, tmp_path_factory):
    """Broadcast mode: stale generations are destroyed each round —
    exactly one live handle regardless of round count."""
    state = str(tmp_path_factory.mktemp("crawl_state_bc"))
    cfg = EngineConfig(
        state_dir=state,
        world=WORLD,
        max_rounds=8,
        max_pages=120,
        fetch_tasks=8,
        expected_urls=1 << 13,
    )
    eng = CrawlEngine(spark, cfg)
    stats = eng.run()
    assert eng.store.meta(0)["bloom_table_probe"] is False
    assert stats["rounds"] >= 3
    # one generation per round that probed (filters change each round),
    # but only the newest may be live
    assert eng._bc_generations >= 2
    assert eng._bloom_bc is not None
