"""Kitchen-sink integration: every engine feature enabled at once —
co-partitioned bloom TABLE probe, broadcast-inverted exact seen probe
(forced on), seen+filter+pending compaction mid-crawl, follow /
dont-follow filters, round capacity — still bit-exact against the
sequential oracle. Features are individually tested elsewhere; this
guards their interactions."""

from nightcrawlercmd_spark.sources.corpus import WorldConfig
from nightcrawlercmd_spark.streaming import engine
from nightcrawlercmd_spark.streaming.engine import CrawlEngine, EngineConfig
from nightcrawlercmd_spark.streaming.simulator import simulate

WORLD = WorldConfig(n_hosts=10, base_pages=10, hot_factor=3, tag="t-all")
FOLLOW = None
DONT = ["admin"]


def test_all_features_crawl_matches_oracle(spark, tmp_path, monkeypatch):
    # co-partitioned filter-table probe: round 0 pins it when the
    # filters exceed the broadcast budget
    monkeypatch.setattr(engine, "_BLOOM_BROADCAST_MAX_BYTES", 0)
    # count the suspects from round 1 on (inverted exact probe)
    monkeypatch.setattr(engine, "_SUSPECT_COUNT_MIN_FETCHED", 0)
    monkeypatch.setattr(engine, "SEEN_BUCKETS", 8)
    cfg = EngineConfig(
        state_dir=str(tmp_path / "all"),
        world=WORLD,
        max_rounds=7,
        round_capacity=40,
        fetch_tasks=8,
        n_salts=4,
        compact_seen_every=2,        # seen + filter compaction mid-crawl
        pending_buckets=16,
        pending_compact_every=3,     # pending compaction on a different cadence
        follow=FOLLOW,
        dont_follow=DONT,
        expected_urls=1 << 13,
    )
    eng = CrawlEngine(spark, cfg)
    stats = eng.run()
    assert stats["fetched_total"] > 0

    sim = simulate(
        WORLD,
        max_rounds=7,
        default_budget=cfg.default_budget,
        round_capacity=40,
        follow=FOLLOW,
        dont_follow=DONT,
    )
    got_log = [
        (r["round"], r["seq"], r["canon_url"], r["status_code"])
        for r in eng.crawl_log().collect()
    ]
    assert got_log == [(r, s, u, st) for r, s, u, st in sim.log]
    assert {r["canon_url"] for r in eng.seen().collect()} == set(sim.seen)
    # every feature actually engaged: filter table rows exist, bases
    # compacted, pending rewritten only on its cadence
    store = eng.store
    last = store.last_round()
    assert store.meta(last).get("seen_base_round") is not None
    assert store.meta(last).get("filters_base_round") is not None
    rewrites = [
        store.meta(r).get("pending_rewritten", 0)
        for r in store.committed_rounds()
        if r > 0
    ]
    assert any(v > 0 for v in rewrites) and any(v == 0 for v in rewrites)
    # the broadcast-inverted exact probe engaged (suspect counts are
    # far under the default threshold at this scale) and is visible in
    # the per-round stats the bench records
    assert any(rt.get("seen_probe_inverted") for rt in stats["round_times"])
