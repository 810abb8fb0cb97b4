"""Similarity search over an embedding column (array<float>).

Target-side capability (no reference analog — the reference has no
vector data): brute-force cosine top-k as the exact baseline, and a
random-hyperplane LSH-bucketed variant as the scale path (candidates
come from matching signature buckets only, so the pairwise work drops
from O(N) per query to O(N / 2^bits) expected).

All arithmetic stays JVM-side (`zip_with` / `aggregate` fold) — the
fold order over the array is sequential in both Spark and DuckDB, so
results are bit-identical and oracle-checkable.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import round6


def _double_sql(x: float) -> str:
    """SQL double literal of a finite ``x``: ``repr`` round-trips every
    finite double exactly; SQL has no non-finite double literal, so
    those are refused."""
    if not math.isfinite(x):
        raise ValueError("vector literal holds a non-finite value")
    return f"{float(x)!r}D"


def _vec_sql(v) -> str:
    return f"cast(array({', '.join(_double_sql(float(x)) for x in v)}) as array<double>)"


def _vec(v) -> Column:
    """``array<double>`` literal parsed from one SQL string, so it costs
    a few py4j round trips in all: an ``F.array`` of per-element
    ``F.lit``s costs about four per element on the driver, a numpy
    ``lit`` two. The optimized plan holds the same folded array literal
    as either form."""
    return F.expr(_vec_sql(v))


def _nearest_cell(cents: list[tuple[int, list[float]]]) -> Column:
    """``struct(csim, ncid)`` of each row's nearest centroid, from the
    row's ``v`` (array<double>) and its norm ``vn``: the ``array_max``
    over one ``struct(cosine, -cid)`` per centroid, so ties break to the
    lowest cid. Parsed from one SQL string (one py4j round trip instead
    of dozens per centroid for the Column-API form); the optimized plan
    is the Column form's (tests/test_plan_build.py)."""

    def cell(cid: int, c: list[float]) -> str:
        cn = _double_sql(math.sqrt(sum(x * x for x in c)))
        dot = f"aggregate(zip_with(v, {_vec_sql(c)}, (x, y) -> x * y), 0.0D, (x, y) -> x + y)"
        # round6's floor(x*1e6 + 0.5)/1e6; a zero-norm row/centroid
        # gets -2.0, below any cosine
        csim = (
            f"coalesce(CASE WHEN (vn > 0) AND ({cn} > 0) THEN "
            f"floor({dot} / (vn * {cn}) * 1000000.0D + 0.5D) / 1000000.0D END, -2.0D)"
        )
        return f"struct({csim} AS csim, {-cid} AS ncid)"

    return F.expr(f"array_max(array({', '.join(cell(cid, c) for cid, c in cents)}))")


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))


def cosine_to_query(emb: DataFrame, query_vec: list[float]) -> DataFrame:
    q = _vec(query_vec)
    qn = sum(float(x) ** 2 for x in query_vec) ** 0.5
    e = F.col("embedding").cast("array<double>")
    denom = _norm(e) * F.lit(qn)
    # zero-norm guard: a dead/padded embedding (or zero query) yields a
    # NULL sim instead of a division error (ANSI) or engine-dependent
    # behavior; desc ordering sorts NULLs last, threshold filters drop
    # them
    return emb.select(
        "vec_id",
        F.when(denom > 0, round6(_dot(e, q) / denom)).alias("sim"),
    )


def brute_force_topk(emb: DataFrame, query_vec: list[float], k: int = 10) -> DataFrame:
    """Exact cosine top-k. At scale this is a single map + a TakeOrdered
    (no shuffle of the full table — Spark's sort-limit pushes k down)."""
    return (
        cosine_to_query(emb, query_vec)
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(k)
    )


def hyperplane_signature(emb: DataFrame, planes: list[list[float]]) -> DataFrame:
    """Deterministic random-hyperplane LSH signature (one int bucket)."""
    if not planes:
        raise ValueError(
            "hyperplane_signature: need at least one plane (0 planes = "
            "one bucket = brute force; call brute_force_topk instead)"
        )
    if len(planes) > 63:
        # bucket is a signed 64-bit column and lsh_topk's Python-side
        # probe signature must match it bit-for-bit; 64+ planes would
        # overflow the column while the Python int keeps growing, so
        # every probe would silently miss its bucket
        raise ValueError(
            f"hyperplane_signature: at most 63 planes (got {len(planes)}); "
            "a 63-bit signature already over-partitions any corpus"
        )
    e = F.col("embedding").cast("array<double>")
    sig = None
    for i, p in enumerate(planes):
        # bigint literals: 1 << 31 already exceeds int32, and the
        # summed signature must stay exact for the bucket equality
        bit = F.when(
            _dot(e, _vec(p)) >= 0,
            F.lit(1 << i).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
        sig = bit if sig is None else sig + bit
    return emb.withColumn("bucket", sig.cast("bigint"))


def lsh_topk(
    emb: DataFrame,
    query_vec: list[float],
    planes: list[list[float]],
    k: int = 10,
    probe_hamming: int = 2,
) -> DataFrame:
    """ANN top-k: probe the query's bucket plus all buckets within
    ``probe_hamming`` sign flips (multi-probe), then exact-rank the
    candidates. Probe width trades recall vs candidate volume — with 6
    planes and distance 2 the candidate set is ~1/3 of the corpus."""
    if probe_hamming > 2:
        raise ValueError(
            "lsh_topk: probe_hamming > 2 is not implemented — a larger "
            "value would silently behave like 2 and under-deliver recall"
        )
    qsig = 0
    n = len(planes)
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(query_vec, p)) >= 0:
            qsig |= 1 << i
    probe = {qsig}
    if probe_hamming >= 1:
        probe |= {qsig ^ (1 << i) for i in range(n)}
    if probe_hamming >= 2:
        probe |= {qsig ^ (1 << i) ^ (1 << j) for i in range(n) for j in range(i + 1, n)}
    cands = hyperplane_signature(emb, planes).filter(
        F.col("bucket").isin(sorted(probe))
    )
    return (
        cosine_to_query(cands, query_vec)
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(k)
    )


def ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    centroids_k: int = 8,
    nprobe: int = 2,
    k: int = 10,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN top-k — the coarse-quantizer scale path
    that complements ``lsh_topk``.

    Structure (what matters at 100 TB): every vector is assigned to its
    nearest of K centroids (the "cells"); a query probes only the
    ``nprobe`` cells nearest to it, so the exact-rank work drops from
    O(N) to O(N * nprobe / K) expected. Centroids here are the first K
    vectors of the corpus — a deterministic stand-in for a trained
    k-means codebook that keeps the operator oracle-checkable; swap in
    trained centroids without touching the plan.

    Plan shape: the codebook is driver-collected (K rows, small by
    construction) and unrolled into a per-row JVM expression
    (``array_max`` over ``struct(sim, -cid)``), so cell assignment is a
    narrow map — NO shuffle, NO crossJoin, no Python. The probe filter
    then prunes to the candidate cells and ``TakeOrderedAndProject``
    finishes top-k. Ties break to the lowest centroid id (struct
    ordering on ``(csim, -cid)``), matching the oracle's
    ``ORDER BY csim DESC, cid``.
    """
    import math

    # `centroids` lets a caller hand over the K-row codebook without a
    # Spark collect (e.g. a driver-side pyarrow footer read of the same
    # input, or a trained codebook) — the values must equal what the
    # collect would produce; the default keeps the self-contained form.
    cents = (
        sorted((int(c), [float(x) for x in v]) for c, v in centroids)
        if centroids is not None
        else sorted(
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in emb.filter(F.col("vec_id") < centroids_k)
            .select("vec_id", "embedding")
            .collect()
        )
    )
    qn = math.sqrt(sum(x * x for x in query_vec))

    if qn == 0:
        raise ValueError("ivf_topk: query vector has zero norm")

    def _drv_cos(c: list[float]) -> float:
        cn = math.sqrt(sum(x * x for x in c))
        if cn == 0:  # zero-norm 'centroid': sort last, never probed first
            return float("-inf")
        # same floor(x*1e6+0.5)/1e6 as round6/sql_round6 — Python's
        # round() is banker's and would disagree with both engines on
        # half boundaries when picking probe cells
        x = sum(a * b for a, b in zip(query_vec, c)) / (qn * cn)
        return math.floor(x * 1e6 + 0.5) / 1e6

    probe_ids = sorted(
        cid for cid, _ in sorted(cents, key=lambda t: (-_drv_cos(t[1]), t[0]))[:nprobe]
    )
    v = F.col("v")
    # the row norm is an O(dim) aggregate fold — compute it ONCE per row
    # (column vn) instead of re-deriving it inside every centroid's
    # when-branch (2 per centroid + 2 in the final sim ≈ 18 redundant
    # folds per row at K=8 if Catalyst doesn't collapse them)
    vn = F.col("vn")
    best = _nearest_cell(cents)
    q = _vec(query_vec)
    return (
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("vn", _norm(v))
        .withColumn("cell", (-best["ncid"]).cast("bigint"))
        .filter(F.col("cell").isin(probe_ids))
        .select(
            "vec_id",
            F.when(
                vn * F.lit(qn) > 0,
                round6(_dot(v, q) / (vn * F.lit(qn))),
            ).alias("sim"),
            "cell",
        )
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(k)
    )


def cosine_near_dup_lsh(
    emb: DataFrame, planes: list[list[float]], threshold: float = 0.9
) -> DataFrame:
    """The composed scale path for embedding near-dup: hyperplane-LSH
    bucketing → exact cosine within buckets. The self-join key is the
    LSH bucket (data-derived, high-cardinality), not a toy label — the
    form that survives 100 TB. Recall follows the LSH guarantee: pairs
    split across buckets are missed, tune n_planes/probe accordingly."""
    return cosine_near_dup_pairs(
        hyperplane_signature(emb, planes), threshold, block_col="bucket"
    )


def cosine_near_dup_pairs(
    emb: DataFrame, threshold: float = 0.9, block_col: str = "label"
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked on ``block_col``
    so the self-join is per-block, never the full cross product. The
    default ``label`` block is a small-scale verifier only; at scale
    use ``cosine_near_dup_lsh`` (LSH-bucket block key)."""
    e = F.col("embedding").cast("array<double>")
    nrm = emb.select("vec_id", F.col(block_col).alias("blk"), e.alias("v")).withColumn(
        "n", _norm(F.col("v"))
    )
    a, b = nrm.alias("a"), nrm.alias("b")
    denom = F.col("a.n") * F.col("b.n")
    # zero-norm rows can pair-match in a block; NULL sim → filtered out
    sim = F.when(denom > 0, _dot(F.col("a.v"), F.col("b.v")) / denom)
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            round6(sim).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def norm_stats_by_label(emb: DataFrame) -> DataFrame:
    """Per-label embedding L2-norm statistics (oracle-checkable)."""
    e = F.col("embedding").cast("array<double>")
    return (
        emb.select("label", _norm(e).alias("nrm"))
        .groupBy("label")
        .agg(
            round6(F.avg("nrm")).alias("avg_norm"),
            round6(F.min("nrm")).alias("min_norm"),
            round6(F.max("nrm")).alias("max_norm"),
            F.count("*").alias("n"),
        )
    )


def deterministic_planes(dim: int, n_planes: int = 6) -> list[list[float]]:
    """Pseudo-random hyperplanes derived from a counter hash — no RNG
    state, reproducible everywhere."""
    from ..functions.determinism import hfloat

    return [
        [hfloat("plane", i, j) * 2.0 - 1.0 for j in range(dim)] for i in range(n_planes)
    ]
