"""Priority-stat bucket pruning of the pending read (VERDICT r3 item
2): capacity-bound rounds assemble only the maxp-ranked bucket prefix
that can reach the round's cutoff, verified sound per round (full
capacity + min selected priority strictly above every skipped bucket's
bound, falling back to the full read otherwise) — so the crawl matches the
sequential oracle, and the per-round read is O(contributing buckets)."""

import dataclasses

from nightcrawlercmd_spark.sources.corpus import WorldConfig
from nightcrawlercmd_spark.streaming.engine import CrawlEngine, EngineConfig
from nightcrawlercmd_spark.streaming.simulator import simulate

# wide world, thin per-bucket pending: capacity ≪ hosts is the design
# point where rounds must not read the whole frontier
WORLD = WorldConfig(
    n_hosts=60,
    base_pages=8,
    hot_factor=2,
    seeds_lo=1,
    seeds_hi=2,
    tag="t-prune",
)
ROUNDS = 5
CAPACITY = 8
BUCKETS = 32


def _cfg(tmp, **kw):
    return EngineConfig(
        state_dir=tmp,
        world=WORLD,
        max_rounds=ROUNDS,
        round_capacity=CAPACITY,
        fetch_tasks=8,
        pending_buckets=BUCKETS,
        pending_compact_every=2,
        expected_urls=1 << 13,
        **kw,
    )


def _log(eng):
    return [
        (r["round"], r["seq"], r["canon_url"], r["status_code"])
        for r in eng.crawl_log().collect()
    ]


def test_prune_bites_and_matches_oracle(spark, tmp_path_factory, assert_pending_counts):
    sc = spark.sparkContext
    sc.setJobDescription("caller's description")
    try:
        eng = CrawlEngine(spark, _cfg(str(tmp_path_factory.mktemp("prune_on"))))
        stats = eng.run()
        assert sc.getLocalProperty("spark.job.description") == "caller's description"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    # every commit records where its round's time went; run() reports
    # the same phases, and they cover the round's wall time
    assert eng.store.meta(0)["phases"]
    for t in stats["round_times"]:
        phases = eng.store.meta(t["round"])["phases"]
        assert phases.keys() == t["phases"].keys() and phases, t
        assert abs(sum(phases.values()) - t["seconds"]) <= 0.05 * t["seconds"], t
    reads = [t["pending_buckets_read"] for t in stats["round_times"]]
    pruned = [n for n in reads if n is not None]
    assert pruned and all(n < BUCKETS for n in pruned), reads
    sim = simulate(WORLD, max_rounds=ROUNDS, round_capacity=CAPACITY)
    assert _log(eng) == sim.log
    got_seen = {
        r["canon_url"]: (r["first_round"], r["depth"]) for r in eng.seen().collect()
    }
    assert got_seen == sim.seen
    assert_pending_counts(eng)


def test_round_capacity_zero_terminates(spark, tmp_path_factory):
    """Review r4: round_capacity=0 (remaining=0) must not enter the
    geometric-growth loop with an unfillable capacity — the crawl
    dequeues nothing and terminates, as it did pre-pruning."""
    cfg = EngineConfig(
        state_dir=str(tmp_path_factory.mktemp("prune_cap0")),
        world=WORLD,
        max_rounds=2,
        round_capacity=0,
        fetch_tasks=4,
        expected_urls=1 << 12,
    )
    stats = CrawlEngine(spark, cfg).run()
    assert sum(t["fetched"] for t in stats["round_times"]) == 0


def test_legacy_meta_bootstraps_stats_on_resume(spark, tmp_path_factory, assert_pending_counts):
    """A store whose last commit carries no bucket bounds must resume
    correctly under a capacity: an uncapacitated init (max_rounds=0,
    no round_capacity / max_pages) writes no stats, so the first
    capacity-bound round of the resumed crawl bootstraps the bounds
    with one full-frontier agg and later commits carry them."""
    state = str(tmp_path_factory.mktemp("prune_bootstrap"))
    init = CrawlEngine(
        spark, dataclasses.replace(_cfg(state), max_rounds=0, round_capacity=None)
    )
    init.run()
    assert init.store.last_round() == 0
    assert "pending_bucket_maxp" not in init.store.meta(0)
    eng = CrawlEngine(spark, _cfg(state))
    eng.run()
    sim = simulate(WORLD, max_rounds=ROUNDS, round_capacity=CAPACITY)
    assert _log(eng) == sim.log
    last_meta = eng.store.meta(eng.store.last_round())
    assert "pending_bucket_maxp" in last_meta  # bounds regrown
    assert_pending_counts(eng)
