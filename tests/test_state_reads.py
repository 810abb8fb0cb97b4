"""Schema-known reads and local relations: ``StateStore`` reads each
round table with the schema its own write produced and saved (or one
inference per table for a store without saved schemas), and
``read_parquet_file`` reads a single parquet file with the schema it
inferred once; both must return exactly what ``spark.read.parquet``
returns, while a repeated read starts no Spark job."""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from nightcrawlercmd_spark.sources.corpus import WorldConfig
from nightcrawlercmd_spark.sources.tableio import StateStore, read_parquet_file
from nightcrawlercmd_spark.streaming import engine
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


def _cache_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


# whether the session's CacheManager was empty before the ``crawled``
# fixture built its engine and after its run()
_CACHE_AROUND_RUN: dict[str, bool] = {}


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    """A small table-probe crawl whose rounds write every state table:
    pages, seen, pending_b leaves, seen_filters, and seen_base and
    seen_filters_base after the round-2 seen compaction."""
    d = str(tmp_path_factory.mktemp("reads") / "state")
    spark.catalog.clearCache()  # frames cached by earlier test modules
    _CACHE_AROUND_RUN["before"] = _cache_empty(spark)
    eng = CrawlEngine(
        spark,
        EngineConfig(
            state_dir=d, world=WORLD, max_rounds=4, max_pages=60, fetch_tasks=4,
            expected_urls=1 << 12, compact_seen_every=2, pending_compact_every=2,
        ),
    )
    with pytest.MonkeyPatch.context() as mp:
        # a zero broadcast budget makes round 0 pin the table probe
        mp.setattr(engine, "_BLOOM_BROADCAST_MAX_BYTES", 0)
        eng.run()
    _CACHE_AROUND_RUN["after"] = _cache_empty(spark)
    return eng


@pytest.fixture(scope="module")
def unsaved(crawled, tmp_path_factory):
    """A copy of the crawl's store without its saved schemas: the store
    a crawl written before they existed leaves, read by inference."""
    d = str(tmp_path_factory.mktemp("reads-unsaved") / "state")
    shutil.copytree(crawled.store.root, d, ignore=shutil.ignore_patterns("_schemas"))
    return d


def _table_dirs(root, name):
    base = os.path.join(root, name)
    return sorted(
        os.path.join(base, p) for p in os.listdir(base) if p.startswith("round=")
    )


def test_known_schema_reads_match_inference(spark, crawled, unsaved):
    store = crawled.store
    fresh = StateStore(store.root)  # reads through the saved schemas
    inferred = StateStore(unsaved)  # reads through the one-inference path
    flat = ["pages", "seen", "seen_filters", "seen_filters_base"]
    leaf = {"pending_b": "pbucket", "seen_base": "sbucket"}
    for name in flat + list(leaf):
        assert _table_dirs(store.root, name), name
    for name in flat:
        for d in _table_dirs(store.root, name):
            r = int(d.rsplit("=", 1)[1])
            want = spark.read.parquet(d)
            for s in (store, fresh, inferred):
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
                for s in (store, fresh, inferred):
                    got = s.read_buckets(spark, name, {int(p.split("=")[1]): r}, col)
                    assert got.schema == want.schema, (name, r, p)
                    assert _rows(got) == _rows(want), (name, r, p)
    want = spark.read.parquet(*_table_dirs(store.root, "pages"))
    got = store.read_appends(spark, "pages", store.last_round())
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def test_repeated_read_starts_no_job(spark, unsaved, crawled):
    fresh = StateStore(unsaved)
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


def test_fresh_store_reads_saved_schemas_without_jobs(spark, crawled):
    """A store opened on a crawled root (a resumed engine) reads every
    table through the schemas the writes saved: no inference job, and
    the schema and rows of ``spark.read.parquet``."""
    root = crawled.store.root
    assert sorted(os.listdir(os.path.join(root, "_schemas"))) == [
        "pages-flat.json", "pending_b-leaf.json", "seen-flat.json",
        "seen_base-leaf.json", "seen_filters-flat.json",
        "seen_filters_base-flat.json",
    ]
    fresh = StateStore(root)
    reads = [
        (name, d, lambda n=name, r=int(d.rsplit("=", 1)[1]): fresh.read_snapshot(spark, n, r))
        for name in ("pages", "seen", "seen_filters", "seen_filters_base")
        for d in _table_dirs(root, name)
    ]
    for name, col in (("pending_b", "pbucket"), ("seen_base", "sbucket")):
        for d in _table_dirs(root, name):
            for p in sorted(q for q in os.listdir(d) if q.startswith(col + "=")):
                manifest = {int(p.split("=")[1]): int(d.rsplit("=", 1)[1])}
                reads.append((
                    name, os.path.join(d, p),
                    lambda n=name, m=manifest, c=col: fresh.read_buckets(spark, n, m, c),
                ))
    for i, (name, path, read) in enumerate(reads):
        got, ids = _jobs_of(spark, read, f"ncs-saved-{i}")
        assert ids == [], (name, path, ids)
        want = spark.read.parquet(path)
        assert got.schema == want.schema, (name, path)
        assert _rows(got) == _rows(want), (name, path)


def test_run_leaves_no_cached_frames(crawled):
    """run() leaves no frame cached: the session's cache is as empty
    afterwards as before (the scope hosts, the one frame run() caches,
    are released)."""
    assert _CACHE_AROUND_RUN == {"before": True, "after": True}


def test_shared_reader_infers_once_per_file_version(spark, tmp_path):
    """``read_parquet_file``: the first read of a file infers its schema
    (one job), repeated reads start no job and return the inferred
    schema and the same rows; a rewritten file (new size) is inferred
    again."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), path)
    _, ids = _jobs_of(spark, lambda: read_parquet_file(spark, path), "ncs-file-1")
    assert len(ids) == 1
    want = spark.read.parquet(path)
    for g in ("ncs-file-2", "ncs-file-3"):
        got, ids = _jobs_of(spark, lambda: read_parquet_file(spark, path), g)
        assert ids == [], ids
        assert got.schema == want.schema
        assert _rows(got) == _rows(want)
    size = os.stat(path).st_size
    pq.write_table(pa.table({"k": [1, 2], "w": [0.5, 1.5], "v": ["a", "b"]}), path)
    assert os.stat(path).st_size != size
    got, ids = _jobs_of(spark, lambda: read_parquet_file(spark, path), "ncs-file-4")
    assert len(ids) == 1  # the rewrite is inferred again
    assert got.schema.fieldNames() == ["k", "w", "v"]
    assert _rows(got) == _rows(spark.read.parquet(path))


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
