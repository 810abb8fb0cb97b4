"""Bloom seen-set properties: zero false negatives, bounded FPR (SURVEY.md §5.2.1)."""

import numpy as np

from nightcrawlercmd_spark.operators.bloomseen import (
    MAX_PARTITION_BITS,
    BloomConfig,
    PartitionedBloom,
    bloom_partition_df,
    bloom_payload,
    build_filter_delta_df,
    build_filter_rows_from_hashes,
    partitions_for,
)
from nightcrawlercmd_spark.sources.corpus import WorldConfig
from nightcrawlercmd_spark.streaming.engine import CrawlEngine, EngineConfig, _Layout


def _keys(n, seed):
    rng = np.random.Generator(np.random.Philox(seed))
    return rng.integers(-(2**62), 2**62, size=n, dtype=np.int64)


def _build(df, cfg, m):
    """The distributed build's (pid, filter) rows, collected."""
    return [(r["pid"], r["filter"]) for r in build_filter_delta_df(df, cfg, m).collect()]


def test_no_false_negatives_and_low_fpr(spark):
    cfg = BloomConfig(partitions=8, bits_per_key=12, k=7)
    inserted = _keys(20_000, 1)
    probes_absent = np.setdiff1d(_keys(20_000, 2), inserted)
    m = PartitionedBloom.size_for(len(inserted), cfg)
    bloom = PartitionedBloom(cfg, m)
    df = spark.createDataFrame([(int(k),) for k in inserted], "url_hash bigint")
    bloom.add_filter_rows(_build(df, cfg, m))
    # every inserted key must be 'maybe' (no false negatives)
    assert bloom.maybe_contains(inserted).all()
    # absent keys: false-positive rate well under 1%
    fpr = bloom.maybe_contains(probes_absent).mean()
    assert fpr < 0.01, fpr


def test_incremental_or_merge(spark):
    cfg = BloomConfig(partitions=4, bits_per_key=12, k=7)
    a, b = _keys(5000, 3), _keys(5000, 4)
    m = PartitionedBloom.size_for(10_000, cfg)
    bloom = PartitionedBloom(cfg, m)
    for chunk in (a, b):
        df = spark.createDataFrame([(int(k),) for k in chunk], "url_hash bigint")
        bloom.add_filter_rows(_build(df, cfg, m))
    assert bloom.maybe_contains(a).all() and bloom.maybe_contains(b).all()


def test_probe_udf_matches_driver_probe(spark):
    cfg = BloomConfig(partitions=4, bits_per_key=12, k=7)
    keys = _keys(2000, 5)
    m = PartitionedBloom.size_for(len(keys), cfg)
    bloom = PartitionedBloom(cfg, m)
    df = spark.createDataFrame([(int(k),) for k in keys], "url_hash bigint")
    bloom.add_filter_rows(_build(df, cfg, m))
    probes = np.concatenate([keys[:500], _keys(500, 6)])
    bc = spark.sparkContext.broadcast(bloom_payload(bloom))
    try:
        pdf = (
            bloom_partition_df(
                spark.createDataFrame([(int(k),) for k in probes], "url_hash bigint"), bc
            )
            .toPandas()
            .sort_values("url_hash")
        )
    finally:
        bc.destroy()
    want = bloom.maybe_contains(pdf["url_hash"].to_numpy())
    assert (pdf["maybe_seen"].to_numpy() == want).all()


def test_driver_build_matches_distributed_build(spark):
    """The driver-local build (round deltas, resume rebuilds) and the
    distributed build set the same bits: one row per pid each, with
    byte-equal blobs, on negative hashes too. The input has more Spark
    partitions than pids and small Arrow batches, so every pid's keys
    come from several input tasks and each build task streams several
    batches through the kernel."""
    cfg = BloomConfig(partitions=8, bits_per_key=12, k=7)
    keys = np.concatenate([_keys(6000, 7), -np.abs(_keys(2000, 8)), [0, -1, 1]])
    assert (keys < 0).sum() > 2000
    m = PartitionedBloom.size_for(len(keys), cfg)
    driver = build_filter_rows_from_hashes(keys, cfg, m)
    assert len(driver) == len({pid for pid, _ in driver}) == cfg.partitions
    df = spark.createDataFrame([(int(k),) for k in keys], "url_hash bigint").repartition(
        3 * cfg.partitions
    )
    assert df.rdd.getNumPartitions() > cfg.partitions
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "128")  # ~1,000 keys per pid: 8+ batches a task
    try:
        dist = _build(df, cfg, m)
    finally:
        spark.conf.set(conf, old)
    assert len(dist) == len({pid for pid, _ in dist}) == cfg.partitions
    assert dict(dist) == dict(driver)


def test_partitions_for_bounds_each_filter():
    """The partition count follows the key count: the BloomConfig()
    geometry (16 partitions, the same filter bits) for every
    expected_urls this repository uses, 1,024 filters of 16 MB at the
    10^10-URL design point, and never a filter above MAX_PARTITION_BITS."""
    assert MAX_PARTITION_BITS == 1 << 27
    for n in (1 << 10, 1 << 17, 1 << 21):
        assert partitions_for(n) == 16
    assert partitions_for(10**10) == 1024
    for e in range(10, 22):  # 2^10 .. 2^21
        p = partitions_for(1 << e)
        assert p == 16
        assert PartitionedBloom.size_for(1 << e, BloomConfig(p)) == PartitionedBloom.size_for(
            1 << e, BloomConfig()
        )
    for n in [1 << e for e in range(10, 42)] + [10**10, 3 * 10**9, 10**12]:
        p = partitions_for(n)
        assert p >= 16 and p & (p - 1) == 0
        assert PartitionedBloom.size_for(n, BloomConfig(p)) <= MAX_PARTITION_BITS
        # the smallest such count: half of it would overflow a filter
        assert p == 16 or PartitionedBloom.size_for(n, BloomConfig(p // 2)) > MAX_PARTITION_BITS


def test_fresh_store_layout_under_default_config(spark, tmp_path):
    """A fresh store's round-0 layout under the default config: 16
    pending and 64 seen buckets, seed-host scope, the BloomConfig()
    geometry at 2^17 keys and the broadcast probe — the values existing
    default-config stores hold pinned, so their resumes stay exact."""
    eng = CrawlEngine(spark, EngineConfig(state_dir=str(tmp_path), world=WorldConfig()))
    assert eng._layout() == _Layout(
        16, 64, True, 16, 12, 7, PartitionedBloom.size_for(1 << 17, BloomConfig()), False
    )
