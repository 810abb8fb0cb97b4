#!/usr/bin/env python
"""Round-6 optimization harness (NOT the frozen bench.py).

Per-query noop-sink isolation (guide §1.4) + formatted-plan capture
(guide §7.2) for every benched query, plus optional repeat runs so
before/after deltas are separable from session warmup noise. Each query
run is split into plan build (the ``QUERIES[name](...)`` call, on the
driver) and execute (the noop write), and reports the py4j round trips
the build made, with py4j's object-release commands counted apart.

Usage:
  python bench_extra.py queries [--reps N] [--plans DIR] [--queries a,b,c]
  python bench_extra.py crawl  [--cpus N] [--rounds N] [--world bench|mid]
  python bench_extra.py pytask

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

BENCH_QUERIES = [
    "report_wordlist",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ngram_jaccard",
    "quality_score",
    "token_count",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "dedup_clusters",
    "tfidf_top_terms",
    "embedding_norms",
    "repetition_filter",
    "asof_attribution",
    "pricing_summary",
    "join_orders_customers",
    "window_dequeue",
    "anti_join_resume",
]


def warm(spark):
    """Same warmup as bench.py: parquet reader + codegen + regex."""
    from pyspark.sql import functions as F

    from nightcrawlercmd_spark.operators.textops import WORD_RE

    docs_warm = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs_warm.write.format("noop").mode("overwrite").save()
    (
        docs_warm.limit(50)
        .select(F.explode(F.regexp_extract_all("text", F.lit(WORD_RE), F.lit(0))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"), F.min(F.length("w")).alias("m"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def count_round_trips() -> dict[str, int]:
    """Count every driver→JVM py4j command from now on. py4j's
    object-release (memory-delete) commands go to ``releases``: its
    finalizer thread sends one whenever Python drops a Java object, so
    how many land inside a timed window follows the garbage collector.
    Every other command goes to ``calls``."""
    from py4j.clientserver import ClientServerConnection
    from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

    release = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME
    count = {"calls": 0, "releases": 0}
    send = ClientServerConnection.send_command

    def counted(self, command):
        count["releases" if command.startswith(release) else "calls"] += 1
        return send(self, command)

    ClientServerConnection.send_command = counted
    return count


def run_queries(args) -> None:
    from nightcrawlercmd_spark.plans.queries import QUERIES
    from nightcrawlercmd_spark.session import get_spark

    spark = get_spark(app="ncs-bench-extra", cpus=CPUS, shuffle_partitions=max(8, CPUS))
    warm(spark)
    round_trips = count_round_trips()
    names = args.queries.split(",") if args.queries else BENCH_QUERIES
    out: dict[str, list[float]] = {}
    build: dict[str, list[float]] = {}
    execute: dict[str, list[float]] = {}
    trips: dict[str, int] = {}
    releases: dict[str, int] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        out[name], build[name], execute[name] = [], [], []
        for rep in range(args.reps):
            # drop the earlier reps' garbage before the build, so its
            # Java objects are not released inside the timed window
            gc.collect()
            rt0 = dict(round_trips)
            t0 = time.time()
            df = QUERIES[name](spark, SF_DIR)
            t1 = time.time()
            trips[name] = round_trips["calls"] - rt0["calls"]
            releases[name] = round_trips["releases"] - rt0["releases"]
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            out[name].append(round(t2 - t0, 3))
            build[name].append(round(t1 - t0, 3))
            execute[name].append(round(t2 - t1, 3))
        print(f"{name}: {out[name]} build {build[name]} execute {execute[name]} "
              f"build_round_trips {trips[name]} build_releases {releases[name]}",
              flush=True)
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = QUERIES[name](spark, SF_DIR)
            path = os.path.join(args.plans, f"{name}{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
    spark.sparkContext.setJobDescription(None)
    mins = {k: min(v) for k, v in out.items()}
    print(json.dumps({"queries_min": mins, "total_min": round(sum(mins.values()), 2),
                      "build_min": {k: min(v) for k, v in build.items()},
                      "execute_min": {k: min(v) for k, v in execute.items()},
                      "build_round_trips": trips,
                      "build_releases": releases,
                      "samples": out}))
    spark.stop()


def run_crawl_profile(args) -> None:
    import bench

    world = bench.bench_world() if args.world == "bench" else bench.mid_world(6)
    t0 = time.time()
    res = bench.run_crawl(args.cpus, args.rounds, world=world)
    for rt in res.pop("round_times", []):
        print(f"round {rt['round']} ({rt['seconds']}s): {json.dumps(rt['phases'])}", flush=True)
    print(json.dumps({"wall": round(time.time() - t0, 2), **res}))


def run_pytask() -> None:
    """Fixed cost of a Python task, as the median of 5 in one session:
    an 8-task identity ``mapInPandas`` at 8 and at 40,000 rows, its
    JVM-only equivalent, and the seconds one task's worker spends in
    ``importlib.invalidate_caches()`` (pyspark calls it every task)."""
    import statistics

    from nightcrawlercmd_spark.session import get_spark

    spark = get_spark(app="ncs-bench-pytask", cpus=CPUS, shuffle_partitions=max(8, CPUS))

    def identity(batches):
        yield from batches

    def invalidate_s(batches):
        import importlib

        import pandas as pd

        t0 = time.perf_counter()
        importlib.invalidate_caches()
        seconds = time.perf_counter() - t0
        for _ in batches:
            pass
        yield pd.DataFrame({"s": [seconds]})

    def median_s(make_df) -> float:
        samples = []
        for _ in range(5):
            t0 = time.perf_counter()
            make_df().write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        return round(statistics.median(samples), 3)

    def rows(n):
        return spark.range(n, numPartitions=8)

    # the first Python job starts the worker daemon; keep it out of the samples
    rows(8).mapInPandas(identity, "id long").collect()
    out = {
        "identity_8_rows_s": median_s(lambda: rows(8).mapInPandas(identity, "id long")),
        "identity_40000_rows_s": median_s(lambda: rows(40_000).mapInPandas(identity, "id long")),
        "jvm_only_40000_rows_s": median_s(lambda: rows(40_000).select("id")),
    }
    task_s = [r.s for _ in range(5) for r in rows(8).mapInPandas(invalidate_s, "s double").collect()]
    out["invalidate_caches_s_per_task"] = round(statistics.median(task_s), 4)
    print(json.dumps(out))
    spark.stop()


def main() -> None:
    p = argparse.ArgumentParser()
    sub = p.add_subparsers(dest="cmd", required=True)
    q = sub.add_parser("queries")
    q.add_argument("--reps", type=int, default=2)
    q.add_argument("--plans", default=None)
    q.add_argument("--suffix", default="_before")
    q.add_argument("--queries", default=None)
    c = sub.add_parser("crawl")
    c.add_argument("--cpus", type=int, default=CPUS)
    c.add_argument("--rounds", type=int, default=3)
    c.add_argument("--world", choices=["bench", "mid"], default="bench")
    sub.add_parser("pytask")
    args = p.parse_args()
    if args.cmd == "queries":
        run_queries(args)
    elif args.cmd == "pytask":
        run_pytask()
    else:
        run_crawl_profile(args)


if __name__ == "__main__":
    main()
