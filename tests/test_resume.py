"""Exact resume from checkpoint (SURVEY.md O77 / north_rule):
stop after round k, restart, final state identical to uninterrupted run."""

from nightcrawlercmd_spark.sources.corpus import WorldConfig
from nightcrawlercmd_spark.streaming.engine import CrawlEngine, EngineConfig
from nightcrawlercmd_spark.streaming.simulator import simulate

WORLD = WorldConfig(n_hosts=4, base_pages=8, hot_factor=4, tag="t-resume")


def _cfg(state_dir, max_rounds):
    return EngineConfig(
        state_dir=state_dir,
        world=WORLD,
        max_rounds=max_rounds,
        max_pages=60,
        fetch_tasks=4,
        expected_urls=1 << 12,
    )


def _final_state(eng):
    log = [
        (r["round"], r["seq"], r["canon_url"], r["status_code"])
        for r in eng.crawl_log().collect()
    ]
    seen = sorted(
        (r["canon_url"], r["first_round"], r["depth"]) for r in eng.seen().collect()
    )
    return log, seen


def test_resume_matches_uninterrupted(spark, tmp_path):
    full_dir, part_dir = str(tmp_path / "full"), str(tmp_path / "part")

    full = CrawlEngine(spark, _cfg(full_dir, max_rounds=8))
    full.run()

    # interrupted run: stop after 3 rounds ...
    first = CrawlEngine(spark, _cfg(part_dir, max_rounds=3))
    first.run()
    assert first.store.last_round() == 3
    # ... new engine instance (fresh bloom — must rebuild from the seen
    # table) continues from the commit marker
    second = CrawlEngine(spark, _cfg(part_dir, max_rounds=8))
    second.run()

    assert _final_state(second) == _final_state(full)
    assert second.store.last_round() == full.store.last_round()


def test_rerun_completed_crawl_is_noop(spark, tmp_path):
    d = str(tmp_path / "s")
    eng = CrawlEngine(spark, _cfg(d, max_rounds=8))
    eng.run()
    last = eng.store.last_round()
    again = CrawlEngine(spark, _cfg(d, max_rounds=8))
    again.run()
    assert again.store.last_round() == last


def test_resume_ignores_uncommitted_partial_round(spark, tmp_path):
    """Crash mid-round: tables for round k+1 were written but the
    commit marker was not — resume must treat the crawl as stopped at
    round k, ignore the orphan dirs, and converge to the same final
    state as an uninterrupted run (the commit marker, not directory
    existence, is the truth)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    full_dir, part_dir = str(tmp_path / "full2"), str(tmp_path / "part2")
    full = CrawlEngine(spark, _cfg(full_dir, max_rounds=8))
    full.run()

    first = CrawlEngine(spark, _cfg(part_dir, max_rounds=3))
    first.run()
    # forge an uncommitted round-4: partial pages + seen dirs with junk
    for table in ("pages", "seen"):
        d = os.path.join(part_dir, table, "round=4")
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            pa.table({"canon_url": ["http://junk.test/x"], "url_hash": [123]}),
            os.path.join(d, "junk.parquet"),
        )
    # and a crash AFTER an incremental compaction wrote its bucket dirs
    # but BEFORE the commit: the leftover base dirs are referenced by no
    # manifest and must be ignored (or cleared by the re-run's static
    # overwrite), never adopted
    for table, bucket in (("seen_base", "sbucket"), ("pending_b", "pbucket")):
        d = os.path.join(part_dir, table, "round=4", f"{bucket}=0")
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            pa.table({"canon_url": ["http://junk.test/y"], "url_hash": [456]}),
            os.path.join(d, "junk.parquet"),
        )
    second = CrawlEngine(spark, _cfg(part_dir, max_rounds=8))
    second.run()
    assert _final_state(second) == _final_state(full)
    junk = second.crawl_log().filter("canon_url LIKE '%junk.test%'").count()
    assert junk == 0


def test_resume_rebuilds_identical_bloom(spark, tmp_path):
    """A restarted engine's driver-built bloom filter equals, byte for
    byte, the one the stopped engine held (built at its start and
    extended by each round's delta), and the resumed crawl stays
    identical to the sequential simulator."""
    d = str(tmp_path / "s")
    first = CrawlEngine(spark, _cfg(d, max_rounds=3))
    first.run()
    held = first._bloom
    assert held is not None and held.filters
    second = CrawlEngine(spark, _cfg(d, max_rounds=8))
    rebuilt = second._ensure_bloom(first.store.last_round())
    assert rebuilt.m_bits == held.m_bits
    assert sorted(rebuilt.filters) == sorted(held.filters)
    for pid, arr in held.filters.items():
        assert rebuilt.filters[pid].tobytes() == arr.tobytes(), pid
    stats = second.run()
    sim = simulate(WORLD, max_rounds=8, max_pages=60)
    log, seen = _final_state(second)
    assert log == [tuple(x) for x in sim.log]
    assert seen == sorted((u, fr, dp) for u, (fr, dp) in sim.seen.items())
    assert stats["fetched_total"] == sim.fetched
