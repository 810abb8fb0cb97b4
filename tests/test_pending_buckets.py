"""Merge-on-read pending maintenance (Iceberg equality-delete / LSM
analog): non-compaction rounds write ZERO pending rows (the seen delta
and pages log double as add/remove deltas), compaction rounds rewrite
the assembled bucket-partitioned base, the arithmetic pending count
equals the assembled table, and the end state still matches the
sequential oracle exactly."""

import os

from nightcrawlercmd_spark.sources.corpus import WorldConfig
from nightcrawlercmd_spark.streaming.engine import (
    _COMPACT_MAX_LAG,
    CrawlEngine,
    EngineConfig,
    _fold_selection,
)
from nightcrawlercmd_spark.streaming.simulator import simulate

WORLD = WorldConfig(n_hosts=12, base_pages=8, hot_factor=2, tag="t-pb")
MAX_PAGES = 40
MAX_ROUNDS = 5
CAPACITY = 10


def _engine(spark, tmp_path_factory):
    cfg = EngineConfig(
        state_dir=str(tmp_path_factory.mktemp("crawl_state_pb")),
        world=WORLD,
        max_rounds=MAX_ROUNDS,
        max_pages=MAX_PAGES,
        round_capacity=CAPACITY,
        fetch_tasks=8,
        pending_buckets=32,
        pending_compact_every=2,  # exercise compaction mid-crawl
        expected_urls=1 << 13,
    )
    eng = CrawlEngine(spark, cfg)
    eng.run()
    return eng


def test_pending_merge_on_read_writes_are_o_delta(
    spark, tmp_path_factory, assert_pending_counts
):
    eng = _engine(spark, tmp_path_factory)
    store = eng.store
    rounds = store.committed_rounds()
    assert len(rounds) >= 4
    # round 0 writes the seeds once, as seen delta 0: no pending base,
    # every pending watermark at -1 (only compactions write pending_b)
    assert not os.path.isdir(os.path.join(store.root, "pending_b", "round=0"))
    meta0 = store.meta(0)
    assert meta0["pending_manifest"] == {}
    assert set(meta0["pending_folded"].values()) == {-1}
    assert len(meta0["pending_folded"]) == 32

    saw_zero_write = saw_compaction = False
    for r in rounds:
        meta = store.meta(r)
        if r > 0:
            rew = meta.get("pending_rewritten")
            compacted = r % 2 == 0 and meta.get("fetched_round", 0) > 0
            dir_exists = os.path.isdir(
                os.path.join(store.root, "pending_b", f"round={r}")
            )
            if compacted:
                saw_compaction = True
                folded = {int(k): int(v) for k, v in meta["pending_folded"].items()}
                manifest = {
                    int(k): int(v) for k, v in meta["pending_manifest"].items()
                }
                # a bucket's base is never newer than its fold watermark
                assert all(folded[b] >= v for b, v in manifest.items())
                if meta.get("pending_rewritten", 0) > 0:
                    assert dir_exists, r
            elif rew is not None:
                # non-compaction round: zero pending rows written
                saw_zero_write = True
                assert rew == 0, (r, rew)
                assert not dir_exists, r
    assert saw_zero_write and saw_compaction
    # arithmetic count == assembled table count (exact-resume invariant)
    assert_pending_counts(eng)

    # end state still exactly matches the oracle
    sim = simulate(
        WORLD,
        max_rounds=MAX_ROUNDS,
        max_pages=MAX_PAGES,
        round_capacity=CAPACITY,
    )
    got_log = [
        (r["round"], r["seq"], r["canon_url"], r["status_code"])
        for r in eng.crawl_log().collect()
    ]
    assert got_log == sim.log
    got_seen = {
        r["canon_url"]: (r["first_round"], r["depth"]) for r in eng.seen().collect()
    }
    assert got_seen == sim.seen


def test_round_capacity_parity_with_links(spark, tmp_path_factory):
    """round_capacity with normal link discovery still matches the
    oracle ordering + seen set exactly."""
    world = WorldConfig(n_hosts=5, base_pages=8, hot_factor=3, tag="t-cap")
    cfg = EngineConfig(
        state_dir=str(tmp_path_factory.mktemp("crawl_state_cap")),
        world=world,
        max_rounds=5,
        round_capacity=12,
        fetch_tasks=8,
        expected_urls=1 << 13,
    )
    eng = CrawlEngine(spark, cfg)
    eng.run()
    sim = simulate(world, max_rounds=5, round_capacity=12)
    got = [
        (r["round"], r["seq"], r["canon_url"], r["status_code"])
        for r in eng.crawl_log().collect()
    ]
    assert got == sim.log
    got_seen = {
        r["canon_url"]: (r["first_round"], r["depth"]) for r in eng.seen().collect()
    }
    assert got_seen == sim.seen


def test_lineage_and_round_metrics_accessors(spark, tmp_path_factory):
    """north_rule: "per-partition lineage + metrics" — lineage() maps
    every pending bucket to the round that wrote its on-disk state and
    agrees with the commit manifest; round_metrics() carries the
    write-time observed counters and the phase seconds of every
    committed round."""
    eng = _engine(spark, tmp_path_factory)
    store = eng.store
    last = store.last_round()
    manifest = {int(k): int(v) for k, v in store.meta(last)["pending_manifest"].items()}

    lin = {r["pbucket"]: r["written_round"] for r in eng.lineage().collect()}
    assert lin == manifest
    assert all(r["as_of_round"] == last for r in eng.lineage().collect())

    met = {r["round"]: r for r in eng.round_metrics().collect()}
    rounds = [r for r in store.committed_rounds() if r > 0]
    assert sorted(met) == rounds
    for r in rounds:
        m = store.meta(r)
        assert met[r]["fetched"] == m.get("fetched_round", 0)
        assert met[r]["pending_after"] == m.get("pending", 0)
        assert met[r]["phases"] == m["phases"]
        # fetched = ok + redirects + errors partition (synthetic world
        # never 404s: every dequeued URL resolves or errors)
        assert (
            met[r]["ok_200"] + met[r]["redirects"] + met[r]["errors"]
            <= met[r]["fetched"]
        )
    assert sum(x["fetched"] for x in met.values()) == store.meta(last)["fetched_total"]


def test_incremental_compaction_touches_only_dirty_buckets(
    spark, tmp_path_factory, assert_pending_counts
):
    """VERDICT r2 item 4: with crawl activity concentrated in a few
    hosts (capacity ≪ frontier, host-local links), a compaction round
    folds ONLY the buckets with unfolded deltas — untouched buckets
    keep their older on-disk base (mixed rounds in the manifest) while
    their fold watermark advances for free — and reads stay exact."""
    world = WorldConfig(
        n_hosts=40,
        base_pages=10,
        hot_factor=2,
        p_same=0.97,
        p_cross=0.97,
        p_offsite=0.97,
        seeds_lo=1,
        seeds_hi=2,
        budget_lo=6,
        budget_hi=8,
        tag="t-inc",
    )
    cfg = EngineConfig(
        state_dir=str(tmp_path_factory.mktemp("crawl_state_inc")),
        world=world,
        max_rounds=6,
        round_capacity=12,  # drains ~2 hosts/round of 40
        fetch_tasks=8,
        pending_buckets=32,
        pending_compact_every=2,
        expected_urls=1 << 13,
    )
    eng = CrawlEngine(spark, cfg)
    eng.run()
    store = eng.store
    last = store.last_round()
    meta = store.meta(last)
    manifest = {int(k): int(v) for k, v in meta["pending_manifest"].items()}
    folded = {int(k): int(v) for k, v in meta["pending_folded"].items()}
    # incrementality: after ≥2 compactions the manifest must hold bases
    # from more than one round (the last compaction did NOT rewrite
    # every bucket)
    assert len(set(manifest.values())) > 1, manifest
    # every bucket's watermark is valid and ≥ its base round
    assert all(folded[b] >= v for b, v in manifest.items())
    # reads over the mixed-round manifest are still exact
    assert_pending_counts(eng)
    # and the crawl itself matches the sequential oracle
    sim = simulate(world, max_rounds=6, round_capacity=12)
    got = [
        (r["round"], r["seq"], r["canon_url"], r["status_code"])
        for r in eng.crawl_log().collect()
    ]
    assert got == sim.log


def test_fold_selection_policy():
    """The one fold policy of pending and seen on hand-built dicts:
    dirty threshold (strict), round-robin cohort b % lag, lag floor,
    and the free watermark advance of clean buckets only."""
    assert _COMPACT_MAX_LAG == 4
    every, r = 2, 10  # cohort (10 // 2) % 4 == 1, lag floor 10 - 4*2 == 2
    dirty = {0: 11, 4: 10, 1: 1, 2: 1, 3: 1}
    base_rows = {0: 100, 4: 100, 1: 100, 2: 100, 3: 100, 5: 100, 6: 7}
    folded = {0: 8, 4: 8, 1: 8, 2: 2, 3: 1, 5: 8, 6: 8}
    fold_set, new_folded = _fold_selection(dirty, base_rows, folded, r, every, 0.1)
    # 0: 11 > 0.1*100; 4: 10 is not > 10; 1: cohort; 2: watermark at the
    # floor is not behind it; 3: watermark behind the floor
    assert fold_set == {0, 1, 3}
    # clean buckets (no unfolded delta) advance to r; dirty ones keep
    # their watermark until the fold bookkeeping moves them
    assert new_folded == {0: 8, 4: 8, 1: 8, 2: 2, 3: 1, 5: 10, 6: 10}
    assert folded[5] == 8  # the input is not mutated
    # a bucket missing from base_rows has no base: any delta is dirty;
    # a cohort bucket without delta is clean, not folded
    fold_set, _ = _fold_selection({7: 1}, {}, {7: 9, 9: 9}, r, every, 10.0)
    assert fold_set == {7}
    fold_set, _ = _fold_selection({}, {}, {1: 9, 5: 9}, r, every, 0.1)
    assert fold_set == set()
