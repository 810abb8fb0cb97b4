"""Physical-plan property assertions.

The oracle suite checks *values*; this file checks the *plan* — the
scale guarantees PLANS.md documents, locked in CI so a refactor can't
silently regress them: predicate pushdown reaching the parquet scan,
column pruning, broadcast dims, bucket-keyed (never cartesian)
self-joins, push-down top-k, and whole-stage codegen on the hot
expressions.
"""

import contextlib
import io

from pyspark.sql import functions as F

from nightcrawlercmd_spark.operators import annsearch as ANN
from nightcrawlercmd_spark.operators import textops as T
from nightcrawlercmd_spark.plans import queries as Q

SF = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_and_column_pruning(spark):
    df = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .filter(F.col("o_custkey") == 5)
        .select("o_orderkey")
    )
    p = plan_of(df)
    assert "PushedFilters" in p and "o_custkey" in p.split("PushedFilters")[1].split("\n")[0]
    read_schema = p.split("ReadSchema")[1].split("\n")[0]
    assert "o_orderkey" in read_schema
    assert "o_totalprice" not in read_schema  # unused columns never leave the scan


def test_wordlist_scan_prunes_unused_columns(spark):
    p = plan_of(Q.q_report_wordlist(spark, SF))
    read_schema = p.split("ReadSchema")[1].split("\n")[0]
    assert "text" in read_schema and "doc_id" in read_schema
    assert "n_chars" not in read_schema and "lang" not in read_schema


def test_dim_join_is_broadcast(spark):
    p = plan_of(Q.q_join_orders_customers(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_minhash_selfjoin_keyed_on_bands(spark):
    df = T.minhash_lsh_pairs(
        spark.read.parquet(f"{SF}/documents.parquet"), n_hashes=8, band_size=2
    )
    p = plan_of(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "band_hash" in p  # the join key is the LSH bucket, not all-pairs


def test_cosine_lsh_selfjoin_keyed_on_bucket(spark):
    planes = ANN.deterministic_planes(64, n_planes=4)
    df = ANN.cosine_near_dup_lsh(
        spark.read.parquet(f"{SF}/embeddings.parquet"), planes, threshold=0.35
    )
    p = plan_of(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "blk" in p  # the join key is the LSH bucket (aliased blk)


def test_topk_is_pushdown_not_global_sort(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    assert "TakeOrderedAndProject" in plan_of(ANN.brute_force_topk(emb, qv, k=10))


def test_ivf_assignment_is_shuffle_free(spark):
    """IVF cell assignment must be a narrow map: no join, no exchange
    between the scan and the probe filter (the only exchange allowed is
    the final top-k, which TakeOrderedAndProject avoids anyway)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    p = plan_of(ANN.ivf_topk(emb, qv, centroids_k=8, nprobe=2, k=10))
    assert "TakeOrderedAndProject" in p
    assert "Exchange" not in p  # zero shuffles in the whole query
    assert "Join" not in p  # codebook is unrolled into expressions, not joined


def test_exact_dedup_partial_aggregation(spark):
    p = plan_of(T.dedup_exact(spark.read.parquet(f"{SF}/documents.parquet")))
    # map-side combine: partial agg below a single exchange, final above
    assert "partial_min" in p and "partial_count" in p
    assert p.count("Exchange (") == 1  # tree nodes render as "Exchange (n)"


def test_hot_expressions_stay_jvm_side(spark):
    """No Python-eval nodes anywhere in the text/dedup hot paths —
    everything is JVM expression eval (quality_score's higher-order
    lambdas are interpreted-JVM, which Spark legitimately keeps outside
    whole-stage codegen; still no Arrow/pickle boundary)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (
        T.quality_score(docs),
        T.token_counts_by_source(docs),
        T.minhash_lsh_pairs(docs, n_hashes=8, band_size=2),
    ):
        p = plan_of(df)
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_relational_agg_is_whole_stage_codegen(spark):
    df = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )
    df.collect()  # AQE renders codegen markers only in the executed final plan
    p = plan_of(df, "simple")
    assert "isFinalPlan=true" in p
    assert "*(1)" in p  # codegen stage markers present


def test_salted_join_spreads_key(spark):
    p = plan_of(Q.q_salted_join_skew(spark, SF))
    assert "_salt" in p  # join key includes the salt column
    assert "CartesianProduct" not in p


def test_repetition_filter_is_pure_map(spark):
    """Gopher repetition metrics are array-native per row: no shuffle,
    no Python boundary — the whole operator is a map over the scan."""
    p = plan_of(Q.q_repetition_filter(spark, SF))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_contamination_bench_set_is_broadcast(spark):
    """The benchmark shingle set joins the corpus side as a broadcast
    hash join — the big side is never shuffled for the membership
    probe (the per-doc groupBy is its only exchange)."""
    p = plan_of(Q.q_contamination_overlap(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_asof_join_single_shuffle_no_range_blowup(spark):
    """The union-window as-of plan: exactly one hash exchange (the key
    partitioning for the window) and no nested-loop/cartesian node —
    the shape that survives a 100× scale-up."""
    p = plan_of(Q.q_asof_attribution(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert p.count("Exchange (") == 1  # the window's key partitioning


def test_range_join_is_binned_equi_join(spark):
    """The trailing range join must plan as an equi-join on
    (key, bin) — never the broadcast-nested-loop Spark produces for a
    naive inequality join."""
    p = plan_of(Q.q_range_join_trailing(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "_bin" in p  # bin key participates in the join


def test_dequeue_per_host_two_level(spark):
    """Per-host budget rank (VERDICT r3 item 1): the hot-host sort
    must be two-level — rank inside (host, __hsalt) partitions, filter
    to ≤ budget per salt, then the per-host window over survivors —
    and exactly match the naive single per-host window (the order
    (priority desc, canon_url asc) is unique per host, so the true
    top-budget rows each rank ≤ budget inside their own salt)."""
    from pyspark.sql import Window

    from nightcrawlercmd_spark.operators.dequeue import dequeue

    rows = [  # one hot host with duplicate priorities + small hosts
        ("hot", f"http://hot.test/p{i:05d}", float((i * 7919) % 997))
        for i in range(4000)
    ]
    rows += [
        (f"h{j}", f"http://h{j}.test/q{i}", float(i))
        for j in range(5)
        for i in range(20)
    ]
    pending = spark.createDataFrame(
        rows, "host string, canon_url string, priority double"
    )
    robots = spark.createDataFrame([("hot", 25)], "host string, crawl_budget int")
    got = dequeue(pending, robots, default_budget=7, salts=8)
    p = plan_of(got)
    assert "__hsalt" in p and "__hrk" in p

    w = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("canon_url"))
    expect = (
        pending.join(F.broadcast(robots), "host", "left")
        .withColumn("budget", F.coalesce("crawl_budget", F.lit(7)))
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= F.col("budget"))
        .drop("__rk", "budget", "crawl_budget")
    )
    a = sorted(tuple(r) for r in got.collect())
    b = sorted(tuple(r) for r in expect.collect())
    assert len(a) == 25 + 5 * 7 and a == b


def test_dequeue_max_take_two_level(spark):
    """max_take truncation (VERDICT r2 item 3): no single-partition
    window over the full dequeued set. The plan must rank inside
    hash-salted partitions first (a Window keyed by __tsalt), filter,
    and only then run the global-order window over the ≤ salts×max_take
    survivors; the result must equal the naive global row_number."""
    from pyspark.sql import Window

    from nightcrawlercmd_spark.operators.dequeue import dequeue

    rows = [
        (f"h{i % 37}", f"http://h{i % 37}.test/p{i}", float((i * 7919) % 1000))
        for i in range(5000)
    ]
    pending = spark.createDataFrame(rows, "host string, canon_url string, priority double")
    robots = spark.createDataFrame(
        [(f"h{i}", 40) for i in range(37)], "host string, crawl_budget int"
    )
    got = dequeue(pending, robots, default_budget=40, max_take=123)
    p = plan_of(got)
    # the salt window runs before the global one, separated by the
    # per-partition rank filter
    i_salt = p.find("__tsalt")
    i_seq = p.find("__seq")
    assert i_salt != -1 and i_seq != -1 and i_salt < i_seq
    assert "__prk" in p

    # exact parity with the naive single-window truncation
    naive = dequeue(pending, robots, default_budget=40, max_take=None)
    w = Window.orderBy(F.desc("priority"), F.asc("canon_url"))
    expect = (
        naive.withColumn("__seq", F.row_number().over(w))
        .filter(F.col("__seq") <= 123)
        .drop("__seq")
    )
    a = sorted(tuple(r) for r in got.collect())
    b = sorted(tuple(r) for r in expect.collect())
    assert len(a) == 123 and a == b


def test_seen_anti_join_invert_is_shuffle_free(spark):
    """The broadcast-inverted exact probe (PLANS.md "Known scale
    limits" closure): with a small suspect set the seen history must
    be a streamed scan — zero shuffle Exchange in the executed plan,
    only BroadcastExchange of suspect-sized sets — and the result must
    equal the plain LEFT ANTI row-for-row, duplicates included.
    auto-broadcast is disabled so the plain form exhibits the shuffle
    it takes at scale (the explicit hints in the inverted form are
    unaffected by the threshold)."""
    from nightcrawlercmd_spark.streaming.engine import seen_anti_join

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        suspects = spark.createDataFrame(
            # SURVIVING key 1 is duplicated on the left: LEFT ANTI must
            # keep both copies (a distinct()/inner-join rewrite inside
            # the inverted form would collapse them and fail here)
            [(1, "http://a.test/", "a.test"),
             (1, "http://a.test/", "a.test"),
             (2, "http://b.test/", "b.test"),
             (3, "http://c.test/", "c.test"),
             (7, "http://h.test/", "h.test")],
            "url_hash bigint, canon_url string, host string",
        )
        seen = spark.createDataFrame(
            [(2, "http://b.test/", 0), (3, "http://c.test/", 1),
             (9, "http://z.test/", 2), (7, "http://OTHER.test/", 3)],
            "url_hash bigint, canon_url string, first_round int",
        )
        inv = seen_anti_join(suspects, seen)
        p = plan_of(inv, "simple")
        assert "Exchange hashpartitioning" not in p  # seen never shuffles
        assert "BroadcastHashJoin" in p
        assert "LeftSemi" in p and "LeftAnti" in p
        plain = suspects.join(
            seen.select("url_hash", "canon_url"), ["url_hash", "canon_url"], "left_anti"
        )
        assert "Exchange hashpartitioning" in plan_of(plain, "simple")
        a = sorted(tuple(r) for r in inv.collect())
        b = sorted(tuple(r) for r in plain.collect())
        # hash 7 survives: the composite (hash, canon) key must miss on
        # a hash-only birthday collision; hash 1 survives TWICE
        assert a == b == [(1, "http://a.test/", "a.test"),
                          (1, "http://a.test/", "a.test"),
                          (7, "http://h.test/", "h.test")]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_keyed_seen_base_anti_join_zero_history_exchange(spark, tmp_path):
    """The LARGE-suspect exact probe (VERDICT r4 item 1 — the last
    shuffle seam): a seen_base fold written as a key-bucketed table
    (tableio.write_keyed_bucketed, the Iceberg bucket(N, key) transform
    analog) must join with its HashPartitioning satisfied FROM STORAGE.
    With auto-broadcast off (the regime a 10^10-row history is always
    in), the executed plan must contain EXACTLY ONE hash Exchange — the
    suspect side — and a bucketed file scan: zero Exchange on the
    history side. Result must equal the plain LEFT ANTI row-for-row,
    duplicates included."""
    from nightcrawlercmd_spark.sources.tableio import StateStore
    from nightcrawlercmd_spark.streaming.engine import seen_anti_join_parts

    store = StateStore(str(tmp_path / "kb"))
    seen = spark.range(0, 4000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        F.concat(F.lit("http://h"), (F.col("id") % 13).cast("string"),
                 F.lit(".test/p"), F.col("id").cast("string")).alias("canon_url"),
        F.lit(1).alias("first_round"),
    ).withColumn("sbucket", F.pmod(F.col("url_hash"), F.lit(8)).cast("int"))
    written = store.write_keyed_bucketed(
        seen.repartition(16, "url_hash", "canon_url"),
        "seen_base", 2, ["url_hash", "canon_url"], 16,
    )
    base = store.read_keyed_bucketed(
        spark, "seen_base", 2, ["url_hash", "canon_url"], 16
    ).filter(F.col("sbucket").isin(written))
    # overlap 2000..3999 seen, 4000..5999 fresh; 5000 duplicated on the
    # left (id 6000 remapped — a Union here would let Catalyst push the
    # anti-join below it and split the suspect Exchange in two) —
    # LEFT ANTI must keep both copies through the chain
    susp = spark.range(2000, 6001).select(
        F.when(F.col("id") == 6000, F.lit(5000)).otherwise(F.col("id")).alias("id")
    ).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        F.concat(F.lit("http://h"), (F.col("id") % 13).cast("string"),
                 F.lit(".test/p"), F.col("id").cast("string")).alias("canon_url"),
        F.lit("h.test").alias("host"),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = seen_anti_join_parts(
            susp, [base.select("url_hash", "canon_url")]
        )
        p = plan_of(out, "simple")
        assert "Bucketed: true" in p  # history read as a bucketed scan
        assert p.count("Exchange hashpartitioning") == 1  # suspects only
        assert "LeftAnti" in p
        plain = susp.join(
            seen.select("url_hash", "canon_url"),
            ["url_hash", "canon_url"], "left_anti",
        )
        a = sorted(tuple(r) for r in out.collect())
        b = sorted(tuple(r) for r in plain.collect())
        assert a == b and len(a) == 2001  # 4000-5999 fresh + dup of 5000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
