"""ANN LSH recall vs brute force, thumbnails, and no-new-links mode."""

import numpy as np

from nightcrawlercmd_spark.functions import codecs_np as C
from nightcrawlercmd_spark.operators import annsearch as ANN
from nightcrawlercmd_spark.operators.multimodal import thumbnails
from nightcrawlercmd_spark.sources.corpus import WorldConfig, all_page_urls, images_pdf
from nightcrawlercmd_spark.streaming.engine import CrawlEngine, EngineConfig
from nightcrawlercmd_spark.streaming.simulator import simulate

SF = "/root/testdata/sf0.001"


def test_ann_lsh_recall_vs_brute_force(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    planes = ANN.deterministic_planes(len(q), n_planes=4)
    exact = [r["vec_id"] for r in ANN.brute_force_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in ANN.lsh_topk(emb, q, planes, k=10).collect()]
    recall = len(set(exact) & set(approx)) / len(exact)
    # near-random synthetic embeddings (top-10 cosine ≈ 0.3-0.47, i.e.
    # 60-70° away) are LSH-hostile; distance-2 multi-probe still has to
    # find at least half
    assert recall >= 0.5, (recall, exact, approx)
    # candidate set must be a real subset (LSH actually pruned)
    n_all = emb.count()
    n_cands = ANN.hyperplane_signature(emb, planes).filter(
        "bucket is not null"
    ).count()
    assert n_cands == n_all  # sanity: signature covers everything


def test_lsh_signature_wide_planes_no_overflow(spark):
    """≥32 planes must keep the column signature bit-exact with the
    Python-side probe signature (an int32 signature wraps at bit 31 —
    ANSI mode throws, non-ANSI silently probes nothing); >63 planes
    must refuse."""
    import pytest

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(20)
    rows = emb.collect()
    dim = len(rows[0]["embedding"])
    planes = ANN.deterministic_planes(dim, n_planes=36)
    sigs = {
        r["vec_id"]: r["bucket"]
        for r in ANN.hyperplane_signature(emb, planes).collect()
    }
    for r in rows:
        want = 0
        vec = [float(x) for x in r["embedding"]]
        for i, p in enumerate(planes):
            if sum(a * b for a, b in zip(vec, p)) >= 0:
                want |= 1 << i
        assert sigs[r["vec_id"]] == want, r["vec_id"]
    assert any(s >= (1 << 31) for s in sigs.values())  # the overflow regime
    with pytest.raises(ValueError):
        ANN.hyperplane_signature(emb, ANN.deterministic_planes(dim, n_planes=64))


def test_thumbnails_shape_and_determinism(spark):
    world = WorldConfig(n_hosts=2, base_pages=4, tag="t-thumb")
    pdf = images_pdf(world, all_page_urls(world))
    images = spark.createDataFrame(pdf)
    t1 = {r["image_id"]: bytes(r["thumb"]) for r in thumbnails(images, size=8, n_tasks=2).collect()}
    t2 = {r["image_id"]: bytes(r["thumb"]) for r in thumbnails(images, size=8, n_tasks=4).collect()}
    assert t1 == t2  # partitioning-independent
    for tid, blob in t1.items():
        arr = C.decode_rgb8(blob, 8, 8)
        assert arr.shape == (8, 8, 3)


def test_no_new_links_mode_matches_oracle(spark, tmp_path):
    world = WorldConfig(n_hosts=4, base_pages=10, tag="t-nonewlinks")
    eng = CrawlEngine(
        spark,
        EngineConfig(state_dir=str(tmp_path / "s"), world=world, max_rounds=6,
                     fetch_tasks=4, no_new_links=True),
    )
    eng.run()
    sim = simulate(world, max_rounds=6, no_new_links=True)
    got_log = [
        (r["round"], r["seq"], r["canon_url"], r["status_code"])
        for r in eng.crawl_log().collect()
    ]
    assert got_log == sim.log
    got_seen = {r["canon_url"] for r in eng.seen().collect()}
    assert got_seen == set(sim.seen)
    # only seeds + redirect targets ever get crawled in this mode
    assert len(got_seen) <= eng.crawl_log().count() + 5


def test_emb_head_rows_filtered_read_matches_full_read(tmp_path):
    """The vec_id bound pushed into the pyarrow read returns exactly the
    rows of a full read filtered on the driver."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nightcrawlercmd_spark.plans.queries import _emb_head_rows

    rng = np.random.Generator(np.random.Philox(3))
    ids = rng.permutation(200)  # head rows spread over the row groups
    emb = rng.standard_normal((200, 8)).astype(np.float32)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        }),
        tmp_path / "embeddings.parquet",
        row_group_size=16,
    )
    t = pq.read_table(tmp_path / "embeddings.parquet")
    for below in (0, 1, 8, 200, 1000):
        want = {
            int(v): [float(x) for x in e]
            for v, e in zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist())
            if v < below
        }
        got = _emb_head_rows(str(tmp_path), below)
        assert got == want and list(got) == list(want), below
