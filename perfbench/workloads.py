"""The two benchmark workloads and their oracle gates.

Each workload is a closed loop driven from this one process: the next
operation (a crawl round or a query) starts when the previous one has
finished. A workload returns its operations as (kind, start, end)
spans, the times it measured, and its oracle verdict. The oracle gates
run after the timed region.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from collections import defaultdict

from nightcrawlercmd_spark.sources.corpus import WorldConfig
from nightcrawlercmd_spark.streaming.engine import CrawlEngine, EngineConfig
from nightcrawlercmd_spark.streaming.simulator import simulate

from bench import BENCH_QUERIES

# ----------------------------------------------------------------- crawl --

CRAWL_HOSTS = 48
STOP_ROUND = 1  # the first invocation ends here, a non-compaction round
LAST_ROUND = 3  # the resumed invocation runs to here
COMPACT_EVERY = 3  # so round 3 folds the pending table


def crawl_world(seed: int) -> WorldConfig:
    """A young image+caption crawl in the shape of ``bench.bench_world``:
    6x hot host, 5-9 links per page, 48-96 px images."""
    return WorldConfig(
        n_hosts=CRAWL_HOSTS, base_pages=520, hot_factor=6, links_lo=5, links_hi=9,
        budget_lo=110, budget_hi=150, seeds_lo=100, seeds_hi=140,
        img_lo=48, img_hi=96, tag=f"perfbench-{seed}",
    )


def crawl_config(state_dir: str, world: WorldConfig, cores: int, max_rounds: int) -> EngineConfig:
    return EngineConfig(
        state_dir=state_dir, world=world, max_rounds=max_rounds,
        fetch_tasks=2 * cores, decode_images=True, pending_compact_every=COMPACT_EVERY,
    )


def crawl_mismatches(eng: CrawlEngine, sim) -> set[int]:
    """Rounds whose crawl-log slice or newly seen URLs differ from the
    sequential simulator's."""
    got_log = defaultdict(list)
    for r in eng.crawl_log().collect():
        got_log[r["round"]].append((r["round"], r["seq"], r["canon_url"], r["status_code"]))
    want_log = defaultdict(list)
    for row in sim.log:
        want_log[row[0]].append(tuple(row))
    bad = {r for r in set(got_log) | set(want_log) if got_log[r] != want_log[r]}
    got_seen = {r["canon_url"]: (r["first_round"], r["depth"]) for r in eng.seen().collect()}
    for url in set(got_seen) | set(sim.seen):
        g, w = got_seen.get(url), sim.seen.get(url)
        if g != w:
            bad.add((g or w)[0])
    return bad


def crawl(spark, ctx) -> dict:
    """Seed and crawl to STOP_ROUND, restart with a fresh engine on the
    same state dir (the bloom filter is rebuilt from the seen table),
    and crawl on to LAST_ROUND, whose commit compacts the pending table."""
    world = crawl_world(ctx.seed)
    state = os.path.join(ctx.work, "state")
    t0 = time.time()
    s1 = CrawlEngine(spark, crawl_config(state, world, ctx.cores, STOP_ROUND)).run()
    t1 = time.time()
    eng = CrawlEngine(spark, crawl_config(state, world, ctx.cores, LAST_ROUND))
    s2 = eng.run()
    t2 = time.time()
    rts = s1["round_times"] + s2["round_times"]
    secs = {rt["round"]: rt["seconds"] for rt in rts}
    resumed = s2["round_times"][0]["round"]
    # the resumed round carries the constructor and run()'s set-up
    secs[resumed] = (t2 - t1) - sum(rt["seconds"] for rt in s2["round_times"][1:])
    init_s = (t1 - t0) - sum(rt["seconds"] for rt in s1["round_times"])
    ops, t = [("init", t0, t0 + init_s)], t0 + init_s
    for r in sorted(secs):
        t = t1 if r == resumed else t
        ops.append((f"round{r}", t, t + secs[r]))
        t += secs[r]

    sim = simulate(world, max_rounds=LAST_ROUND)
    bad = crawl_mismatches(eng, sim)
    for rt in rts:
        if rt["round"] % COMPACT_EVERY and (rt["pending_rewritten"] or 0) != 0:
            bad.add(rt["round"])
    if eng.store.last_round() != LAST_ROUND or s2["fetched_total"] != sim.fetched:
        bad.add(-1)
    return {
        "total_s": t2 - t0,
        "op_s": {
            "op.cold_s": secs[resumed],
            "op.steady_s": statistics.median(s for r, s in secs.items()
                                             if r % COMPACT_EVERY and r != resumed),
            "op.peak_s": max(s for r, s in secs.items() if r % COMPACT_EVERY == 0),
        },
        "ops": ops,
        "attempted": len(secs) + 1,
        "failed": min(len(bad), len(secs) + 1),
        "state_dir": state,
        "detail": {
            "urls": s2["fetched_total"],
            "urls_per_s": s2["fetched_total"] / (t2 - t0),
            "init_s": init_s,
            "round_s": secs,
            "round_times": rts,
            "counts": {
                "pending.rewritten_rows": sum(rt["pending_rewritten"] or 0 for rt in rts),
                "seen.rewritten_rows": sum(rt["seen_rewritten"] or 0 for rt in rts),
                "pending.buckets_read": sum(rt["pending_buckets_read"] or 0 for rt in rts),
            },
            "oracle_bad_rounds": sorted(bad),
        },
    }


QUERY_SCALE = 0.01
MIN_WARM_PASSES = 2  # so the warm time is never a single sample


def _normalize(rows, cols):
    """Order-insensitive, 6-dp form of a result (as tests/test_queries_oracle.py)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = round(v, 6)
                if math.isnan(v):
                    v = "NaN"
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


def query_mismatches(results: dict, data_dir: str) -> list[str]:
    """Queries whose collected Spark rows differ from their DuckDB oracle."""
    import duckdb

    from nightcrawlercmd_spark.plans.queries import ORACLES

    from datagen import TABLES

    bad = []
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        for name, (cols, rows) in results.items():
            res = con.execute(ORACLES[name])
            want_cols = [d[0] for d in res.description]
            want = _normalize(res.fetchall(), want_cols)
            if sorted(cols) != sorted(want_cols) or _normalize(rows, cols) != want:
                bad.append(name)
    finally:
        con.close()
    return bad


def queries(spark, ctx) -> dict:
    """A cold pass collects each query's rows (they go to the oracle);
    warm passes write each query to the noop sink, bench.py's form,
    at least MIN_WARM_PASSES of them and until ``ctx.seconds`` of warm
    passes have run. The warm pass time is the sum of each query's
    median over the passes."""
    from nightcrawlercmd_spark.plans.queries import QUERIES

    data_dir = ctx.data_dir
    ops, cold, warm_passes, results = [], {}, [], {}
    for name in BENCH_QUERIES:
        t0 = time.time()
        df = QUERIES[name](spark, data_dir)
        results[name] = (df.columns, [tuple(r) for r in df.collect()])
        t1 = time.time()
        cold[name] = t1 - t0
        ops.append((f"cold:{name}", t0, t1))
    while (len(warm_passes) < MIN_WARM_PASSES
           or sum(sum(p.values()) for p in warm_passes) < ctx.seconds):
        times = {}
        for name in BENCH_QUERIES:
            t0 = time.time()
            QUERIES[name](spark, data_dir).write.format("noop").mode("overwrite").save()
            t1 = time.time()
            times[name] = t1 - t0
            ops.append((f"warm:{name}", t0, t1))
        warm_passes.append(times)
    warm = {n: statistics.median(p[n] for p in warm_passes) for n in BENCH_QUERIES}
    warm_s = sum(warm.values())
    bad = query_mismatches(results, data_dir)
    return {
        "total_s": warm_s,
        "op_s": {
            "op.cold_s": sum(cold.values()),
            "op.steady_s": warm_s,
            "op.peak_s": max(warm.values()),
        },
        "ops": ops,
        "attempted": len(BENCH_QUERIES),
        "failed": len(bad),
        "state_dir": data_dir,
        "detail": {
            "queries_cold_s": sum(cold.values()),
            "queries_warm_s": warm_s,
            "warm_passes": len(warm_passes),
            "cold": cold,
            "warm": warm,
            "oracle_bad_queries": bad,
        },
    }


WORKLOADS = {"crawl": crawl, "queries": queries}
