"""Seen-table compaction: long crawls must read O(1) state dirs per
round and compaction must never lose a URL (dedupe stays exact)."""

from nightcrawlercmd_spark.sources.corpus import WorldConfig
from nightcrawlercmd_spark.streaming import engine
from nightcrawlercmd_spark.streaming.engine import (
    SEEN_KEY_BUCKETS,
    CrawlEngine,
    EngineConfig,
)
from nightcrawlercmd_spark.streaming.simulator import simulate

WORLD = WorldConfig(n_hosts=4, base_pages=14, hot_factor=3, budget_lo=2, budget_hi=3, tag="t-compact")


def _run(spark, tmp, every):
    eng = CrawlEngine(
        spark,
        EngineConfig(state_dir=str(tmp), world=WORLD, max_rounds=9,
                     fetch_tasks=4, compact_seen_every=every),
    )
    eng.run()
    return eng


def test_compaction_preserves_crawl_exactly(spark, tmp_path):
    eng = _run(spark, tmp_path / "c", every=3)  # compacts at rounds 3,6,9
    sim = simulate(WORLD, max_rounds=9, default_budget=4)
    got_log = [
        (r["round"], r["seq"], r["canon_url"]) for r in eng.crawl_log().collect()
    ]
    assert got_log == [(r, s, u) for r, s, u, _ in sim.log]
    got_seen = {r["canon_url"] for r in eng.seen().collect()}
    assert got_seen == set(sim.seen)
    # a base snapshot actually exists and is recorded in the meta chain
    last = eng.store.last_round()
    assert eng.store.meta(last).get("seen_base_round") is not None
    assert eng.store.exists("seen_base", eng.store.meta(last)["seen_base_round"])


def test_resume_across_compaction_boundary(spark, tmp_path):
    first = CrawlEngine(
        spark,
        EngineConfig(state_dir=str(tmp_path / "r"), world=WORLD, max_rounds=4,
                     fetch_tasks=4, compact_seen_every=3),
    )
    first.run()  # stops after round 4 (compaction happened at 3)
    second = CrawlEngine(
        spark,
        EngineConfig(state_dir=str(tmp_path / "r"), world=WORLD, max_rounds=9,
                     fetch_tasks=4, compact_seen_every=3),
    )
    second.run()
    full = _run(spark, tmp_path / "full", every=3)
    a = [(r["round"], r["seq"], r["canon_url"]) for r in second.crawl_log().collect()]
    b = [(r["round"], r["seq"], r["canon_url"]) for r in full.crawl_log().collect()]
    assert a == b


def test_inverted_seen_probe_crawl_is_exact(spark, tmp_path, monkeypatch):
    """Count the suspects from round 1 on (_SUSPECT_COUNT_MIN_FETCHED=0, 8
    sbuckets, compaction every 2 rounds), so the exact probe runs
    broadcast-inverted against the folded bases and deltas: the crawl
    log and seen set must still match the sequential oracle exactly,
    and the compacted base must be laid out as sbucket= partition
    dirs."""
    import os

    monkeypatch.setattr(engine, "_SUSPECT_COUNT_MIN_FETCHED", 0)
    monkeypatch.setattr(engine, "SEEN_BUCKETS", 8)
    eng = CrawlEngine(
        spark,
        EngineConfig(state_dir=str(tmp_path / "p"), world=WORLD, max_rounds=9,
                     fetch_tasks=4, compact_seen_every=2),
    )
    stats = eng.run()
    assert all(rt["seen_probe_inverted"] for rt in stats["round_times"])
    sim = simulate(WORLD, max_rounds=9, default_budget=4)
    got_log = [
        (r["round"], r["seq"], r["canon_url"]) for r in eng.crawl_log().collect()
    ]
    assert got_log == [(r, s, u) for r, s, u, _ in sim.log]
    assert {r["canon_url"] for r in eng.seen().collect()} == set(sim.seen)
    base_round = eng.store.meta(eng.store.last_round())["seen_base_round"]
    base_dir = os.path.join(eng.store.root, "seen_base", f"round={base_round}")
    parts = [p for p in os.listdir(base_dir) if p.startswith("sbucket=")]
    assert parts, "compacted seen base must be sbucket-partitioned"
    # the seen fold's bucket-restricted read reaches the SCAN: every
    # base file backing its parts lives under sbucket=1 or =3
    restricted = eng._read_seen_parts(
        eng.store.last_round(), engine.SEEN_COLS, buckets=[1, 3]
    )
    base_files = [
        f for part in restricted for f in part.inputFiles() if "/seen_base/" in f
    ]
    assert base_files, "restricted read must still scan base dirs"
    assert all(
        "/sbucket=1/" in f or "/sbucket=3/" in f for f in base_files
    ), base_files


def test_resume_with_different_seen_buckets_is_exact(spark, tmp_path, monkeypatch):
    """Resuming with a different SEEN_BUCKETS modulus must NOT trust
    the old base's on-disk sbucket partition values (pruning with
    new-modulus bucket ids against old-modulus partitions would
    silently miss seen URLs → re-fetch duplicates). The modulus is
    PINNED in round-0 meta (like the bloom geometry): the resumed
    engine keeps bucketing with the build-time value and the changed
    constant is ignored."""
    def cfg(rounds):
        return EngineConfig(
            state_dir=str(tmp_path / "m"), world=WORLD, max_rounds=rounds,
            fetch_tasks=4, compact_seen_every=2,
        )

    monkeypatch.setattr(engine, "_SUSPECT_COUNT_MIN_FETCHED", 0)
    monkeypatch.setattr(engine, "SEEN_BUCKETS", 8)
    first = CrawlEngine(spark, cfg(4))
    first.run()  # compactions at 2 and 4 with modulus 8
    monkeypatch.setattr(engine, "SEEN_BUCKETS", 4)
    second = CrawlEngine(spark, cfg(9))  # resume, new modulus
    second.run()
    assert second._layout().seen_buckets == 8  # pinned build-time modulus wins
    monkeypatch.undo()  # the reference crawl runs with the default modulus

    full = CrawlEngine(
        spark,
        EngineConfig(state_dir=str(tmp_path / "f"), world=WORLD, max_rounds=9,
                     fetch_tasks=4, compact_seen_every=2),
    )
    full.run()
    a = [(r["round"], r["seq"], r["canon_url"]) for r in second.crawl_log().collect()]
    b = [(r["round"], r["seq"], r["canon_url"]) for r in full.crawl_log().collect()]
    assert a == b
    got = sorted(r["canon_url"] for r in second.seen().collect())
    want = sorted(r["canon_url"] for r in full.seen().collect())
    assert got == want  # no duplicates, no misses


def test_incremental_seen_compaction_mixed_manifest(spark, tmp_path, monkeypatch):
    """Seen analog of incremental pending compaction: with activity
    concentrated in few hosts, later compactions fold only buckets
    with unfolded deltas — the manifest ends up holding base dirs from
    more than one round — while dedupe stays exact vs the oracle."""
    from nightcrawlercmd_spark.sources.corpus import WorldConfig as WC

    world = WC(
        n_hosts=40, base_pages=10, hot_factor=2,
        p_same=0.97, p_cross=0.97, p_offsite=0.97,
        seeds_lo=1, seeds_hi=2, budget_lo=6, budget_hi=8, tag="t-seeninc",
    )
    monkeypatch.setattr(engine, "_SUSPECT_COUNT_MIN_FETCHED", 0)
    monkeypatch.setattr(engine, "SEEN_BUCKETS", 32)
    eng = CrawlEngine(
        spark,
        EngineConfig(
            state_dir=str(tmp_path / "si"), world=world, max_rounds=6,
            round_capacity=12, fetch_tasks=8, compact_seen_every=2,
            # sbuckets are url_hash-uniform, so in a young crawl every
            # bucket crosses any small dirty threshold together; a high
            # frac isolates the cohort staggering (≈1/max_lag of the
            # table per compaction after the first full fold)
            compact_dirty_frac=10.0,
        ),
    )
    eng.run()
    meta = eng.store.meta(eng.store.last_round())
    manifest = {int(k): int(v) for k, v in meta["seen_manifest"].items()}
    folded = {int(k): int(v) for k, v in meta["seen_folded"].items()}
    assert len(set(manifest.values())) > 1, manifest  # mixed-round bases
    assert all(folded[b] >= v for b, v in manifest.items())
    sim = simulate(world, max_rounds=6, round_capacity=12)
    got = [(r["round"], r["seq"], r["canon_url"]) for r in eng.crawl_log().collect()]
    assert got == [(r, s, u) for r, s, u, _ in sim.log]
    assert {r["canon_url"] for r in eng.seen().collect()} == set(sim.seen)


def test_large_suspect_probe_storage_partitioned_exact(spark, tmp_path, monkeypatch):
    """Force the LARGE-suspect regime (_SUSPECT_BROADCAST_MAX=0 disables
    the broadcast-inverted form; _SUSPECT_COUNT_MIN_FETCHED=0 counts the
    suspects from round 1): once the first fold writes a keyed base,
    the exact probe must run the storage-partitioned chain (every round
    not seen_probe_inverted) — and the crawl log + seen set must still match
    the sequential oracle exactly."""
    monkeypatch.setattr(engine, "_SUSPECT_BROADCAST_MAX", 0)
    monkeypatch.setattr(engine, "_SUSPECT_COUNT_MIN_FETCHED", 0)
    monkeypatch.setattr(engine, "SEEN_BUCKETS", 8)
    eng = CrawlEngine(
        spark,
        EngineConfig(state_dir=str(tmp_path / "lp"), world=WORLD, max_rounds=9,
                     fetch_tasks=4, compact_seen_every=2),
    )
    stats = eng.run()
    sim = simulate(WORLD, max_rounds=9, default_budget=4)
    got_log = [
        (r["round"], r["seq"], r["canon_url"]) for r in eng.crawl_log().collect()
    ]
    assert got_log == [(r, s, u) for r, s, u, _ in sim.log]
    assert {r["canon_url"] for r in eng.seen().collect()} == set(sim.seen)
    # the chain actually ran after the first fold, and the fold round
    # recorded its layout so resume re-registers the same bucket spec
    assert stats["round_times"]
    assert not any(rt["seen_probe_inverted"] for rt in stats["round_times"])
    base_round = eng.store.meta(eng.store.last_round())["seen_base_round"]
    layout = eng.store.meta(base_round)["seen_base_layout"]
    assert layout["key_buckets"] == SEEN_KEY_BUCKETS
