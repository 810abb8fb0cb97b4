"""Driver-side plan building: the ANN vector literals and the simhash /
MinHash expression lists are built in one JVM call each (``F.expr``
strings), and ``round6`` passes its constants as
Python floats instead of ``F.lit`` columns. Each must give exactly the
rows of its per-element Column-API form, kept here as the reference,
on sf0.001."""

import re

import pytest
from pyspark.sql import functions as F

from nightcrawlercmd_spark.functions.numeric import round6
from nightcrawlercmd_spark.operators import annsearch as ANN
from nightcrawlercmd_spark.operators import textops as T
from nightcrawlercmd_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _ref_simhash16(docs):
    w = docs.select(
        "doc_id", F.explode(T.words(F.lower(F.col("text")))).alias("word")
    ).withColumn("h", T.md5i(F.col("word")))
    bit_sums = [
        F.sum(
            F.when(F.expr(f"(h >> {i}) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"b{i}")
        for i in range(16)
    ]
    agg = w.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for i in range(16):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.cast("bigint").alias("simhash"))


def _ref_minhash_signatures(docs, n_hashes=8, k=3):
    sh = T.shingle_table(docs, k, distinct=False)
    aggs = [
        F.min(T.md5i(F.concat(F.lit(f"p{p}|"), F.col("shingle")))).alias(f"mh{p}")
        for p in range(n_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _ref_bands(sig, n_hashes=8, band_size=2):
    structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat_ws(
                "_",
                *[F.col(f"mh{b * band_size + j}").cast("string") for j in range(band_size)],
            ).alias("band_hash"),
        )
        for b in range(n_hashes // band_size)
    ]
    return sig.select("doc_id", F.explode(F.array(*structs)).alias("band")).select(
        "doc_id", "band.band_id", "band.band_hash"
    )


def _optimized_plan(df):
    """The optimized logical plan without expression ids."""
    return re.sub(r"#\d+", "", df._jdf.queryExecution().optimizedPlan().toString())


def test_round6_matches_lit_form(spark):
    """``round6`` with Python-float constants folds to the same plan and
    rows as its three-``F.lit`` form."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    x = F.col("l_extendedprice") * F.col("l_discount") / F.col("l_quantity")
    got = li.select(round6(x).alias("r"))
    want = li.select(
        (F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("r")
    )
    assert _optimized_plan(got) == _optimized_plan(want)
    assert _rows(got) == _rows(want)
    assert got.count() > 0


def test_simhash_expr_matches_column_form(docs):
    got = T.simhash16(docs)
    want = _ref_simhash16(docs)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def test_minhash_expr_matches_column_form(docs):
    sig = T.minhash_signatures(docs, n_hashes=8, k=3)
    want = _ref_minhash_signatures(docs)
    assert sig.schema == want.schema
    assert _rows(sig) == _rows(want)
    # the band structs: the candidate pairs of the same self-join
    b = _ref_bands(want).alias("b")
    a = _ref_bands(want).alias("a")
    ref_pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    pairs = T.minhash_lsh_pairs(docs, n_hashes=8, band_size=2)
    assert _rows(pairs) == _rows(ref_pairs)
    assert pairs.count() > 0


def test_ann_vector_literal_plan_matches_numpy_literal(spark):
    """The SQL-string vector folds to the numpy ``lit``'s literal, bit
    for bit, signed zero and subnormals included."""
    import numpy as np

    v = [0.1, -0.0, 0.0, 1 / 3, 5e-324, -1e300, 123456789.125, 2.5e-8]
    got = spark.range(1).select(ANN._vec(v).alias("q"))
    want = spark.range(1).select(F.lit(np.asarray(v, dtype=np.float64)).alias("q"))
    assert got.schema == want.schema
    assert _optimized_plan(got) == _optimized_plan(want)
    with pytest.raises(ValueError):
        ANN._vec([1.0, float("nan")])


@pytest.mark.parametrize(
    "name", ["ann_cosine_topk", "ann_ivf_topk", "ann_lsh_topk", "cosine_near_dup_lsh"]
)
def test_ann_vector_literals_match_per_element_arrays(spark, monkeypatch, name):
    got = QUERIES[name](spark, SF)
    got_rows = _rows(got)
    monkeypatch.setattr(
        ANN, "_vec", lambda v: F.array(*[F.lit(float(x)) for x in v])
    )
    want = QUERIES[name](spark, SF)
    assert got.columns == want.columns
    assert got_rows == _rows(want)
    assert got_rows
