"""Schema-known state reads and local relations: ``StateStore`` reads each
round table with the schema its own write produced (or one inference per
table), and must return exactly what ``spark.read.parquet`` returns,
while a repeated read starts no Spark job."""

import os

import pytest

from nightcrawlercmd_spark.sources.corpus import WorldConfig
from nightcrawlercmd_spark.sources.tableio import StateStore
from nightcrawlercmd_spark.streaming.engine import (
    CrawlEngine,
    EngineConfig,
    _local_df,
    _watermark_dim,
)

WORLD = WorldConfig(n_hosts=4, base_pages=8, hot_factor=4, tag="t-reads")


def _jobs_of(spark, fn, group):
    """Result of ``fn()`` and the ids of the Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    """A small table-probe crawl whose rounds write every state table:
    pages, seen, pending_b leaves, seen_filters, and seen_base and
    seen_filters_base after the round-2 seen compaction."""
    d = str(tmp_path_factory.mktemp("reads") / "state")
    eng = CrawlEngine(
        spark,
        EngineConfig(
            state_dir=d, world=WORLD, max_rounds=4, max_pages=60, fetch_tasks=4,
            expected_urls=1 << 12, bloom_table_probe=True,
            compact_seen_every=2, pending_compact_every=2,
        ),
    )
    eng.run()
    return eng


def _table_dirs(root, name):
    base = os.path.join(root, name)
    return sorted(
        os.path.join(base, p) for p in os.listdir(base) if p.startswith("round=")
    )


def test_known_schema_reads_match_inference(spark, crawled):
    store = crawled.store
    fresh = StateStore(store.root)  # reads through the one-inference path
    flat = ["pages", "seen", "seen_filters", "seen_filters_base"]
    leaf = {"pending_b": "pbucket", "seen_base": "sbucket"}
    for name in flat + list(leaf):
        assert _table_dirs(store.root, name), name
    for name in flat:
        for d in _table_dirs(store.root, name):
            r = int(d.rsplit("=", 1)[1])
            want = spark.read.parquet(d)
            for s in (store, fresh):
                got = s.read_snapshot(spark, name, r)
                assert got.schema == want.schema, (name, r)
                assert _rows(got) == _rows(want), (name, r)
    for name, col in leaf.items():
        for d in _table_dirs(store.root, name):
            r = int(d.rsplit("=", 1)[1])
            for p in sorted(os.listdir(d)):
                if not p.startswith(col + "="):
                    continue
                want = spark.read.parquet(os.path.join(d, p))
                for s in (store, fresh):
                    got = s.read_buckets(spark, name, {int(p.split("=")[1]): r}, col)
                    assert got.schema == want.schema, (name, r, p)
                    assert _rows(got) == _rows(want), (name, r, p)
    want = spark.read.parquet(*_table_dirs(store.root, "pages"))
    got = store.read_appends(spark, "pages", store.last_round())
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def test_repeated_read_starts_no_job(spark, crawled):
    fresh = StateStore(crawled.store.root)
    _, first = _jobs_of(spark, lambda: fresh.read_snapshot(spark, "seen", 1), "ncs-read-1")
    assert len(first) == 1  # the one schema inference of this store
    for r, g in ((1, "ncs-read-2"), (2, "ncs-read-3")):
        df, ids = _jobs_of(spark, lambda: fresh.read_snapshot(spark, "seen", r), g)
        assert ids == [], (r, ids)
        assert df.schema == spark.read.parquet(fresh._dir("seen", r)).schema
    # a store that wrote the table knows its schema from the write
    _, ids = _jobs_of(
        spark, lambda: crawled.store.read_snapshot(spark, "pages", 1), "ncs-read-4"
    )
    assert ids == []


def test_local_frames_are_local_relations(spark):
    """Watermark dims and empty fallbacks are built in the JVM (no
    parallelize through Python workers), with the declared types."""
    wm = _watermark_dim(spark, {3: 1, 0: 2}, "pbucket")
    empty = _local_df(spark, [("a", "bigint"), ("b", "string")])
    for df in (wm, empty):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation"), plan
    assert wm.schema.simpleString() == "struct<pbucket:int,__folded:int>"
    assert sorted(map(tuple, wm.collect())) == [(0, 2), (3, 1)]
    assert empty.schema.simpleString() == "struct<a:bigint,b:string>"
    assert empty.collect() == []
