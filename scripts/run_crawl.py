#!/usr/bin/env python
"""spark-submit entry point for the crawl engine (north_rule: "run via
spark-submit --py-files on a multi-executor cluster").

Usage (cluster):
    zip -r ncs.zip nightcrawlercmd_spark
    spark-submit --py-files ncs.zip scripts/run_crawl.py \
        --state-dir hdfs://…/crawl_state --seeds hdfs://…/seeds.parquet \
        --max-rounds 50 --fetch-tasks 4096 --n-salts 64

Usage (sandbox smoke):
    python scripts/run_crawl.py --state-dir /tmp/crawl --max-rounds 3

On a cluster the SparkSession comes from spark-submit's conf (master,
executors); locally it falls back to local[*]. The engine resumes from
the last commit marker automatically, so re-submitting the same job
continues the crawl.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--state-dir", required=True)
    ap.add_argument("--seeds", default=None, help="parquet with column `url`")
    ap.add_argument("--max-rounds", type=int, default=16)
    ap.add_argument("--max-pages", type=int, default=None)
    ap.add_argument("--fetch-tasks", type=int, default=64)
    ap.add_argument("--n-salts", type=int, default=16)
    ap.add_argument("--default-budget", type=int, default=4)
    ap.add_argument("--expected-urls", type=int, default=1 << 21)
    ap.add_argument("--decode-images", action="store_true")
    ap.add_argument("--world-hosts", type=int, default=20)
    ap.add_argument("--world-pages", type=int, default=40)
    ap.add_argument("--world-tag", type=str, default="submit")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("ncs-crawl")
    if "--master" not in " ".join(sys.argv):
        builder = builder.config("spark.sql.adaptive.enabled", "true").config(
            "spark.sql.files.maxPartitionBytes", "16m"
        )
    spark = builder.getOrCreate()

    from nightcrawlercmd_spark.sources.corpus import WorldConfig
    from nightcrawlercmd_spark.streaming.engine import CrawlEngine, EngineConfig

    world = WorldConfig(
        n_hosts=args.world_hosts, base_pages=args.world_pages, tag=args.world_tag
    )
    cfg = EngineConfig(
        state_dir=args.state_dir,
        world=world,
        seeds_path=args.seeds,
        max_rounds=args.max_rounds,
        max_pages=args.max_pages,
        fetch_tasks=args.fetch_tasks,
        n_salts=args.n_salts,
        default_budget=args.default_budget,
        decode_images=args.decode_images,
        expected_urls=args.expected_urls,
    )
    t0 = time.time()
    stats = CrawlEngine(spark, cfg).run()
    stats["wall_seconds"] = round(time.time() - t0, 2)
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
