"""Partitioned bloom-filter URL-seen set (SURVEY.md O51, §4.2.1).

The reference's seen set is an in-memory Go map probed before enqueue
(``cw.Links``; reference mainCrawler.go:110-136) — O(1) per probe but
bounded by one machine's RAM. At 10^10 URLs the engine keeps the exact
truth in the ``seen`` table (anti-join) and uses partitioned bloom
filters as a *pre-probe* so the expensive exact anti-join only sees
candidates the filter cannot rule out. Bloom "no" is definitive (no
false negatives) → those rows skip the shuffle entirely.

Partitioning: filter ``pid = url_hash mod P``. One in-place kernel
(``PartitionedBloom.add_keys``) splits a batch of keys by pid and sets
their bits; every build runs it: on the driver for round-scale key sets
(``build_filter_rows_from_hashes``), or distributed
(``build_filter_delta_df``: keys hash-partitioned by pid, each task
streaming its Arrow batches through the kernel, one row per pid). The
filters are OR-merged incrementally per round.

Two probe paths, same bit layout and one bit test (``_all_bits_set``):

* **broadcast** (``bloom_partition_df``): the P filters ship to
  executors as one broadcast dict — right up to ~1e8 keys. The engine
  owns the broadcast handle and destroys the previous generation each
  round, so memory stays flat over long crawls.
* **co-partitioned table probe** (``bloom_probe_cogroup``): candidates
  grouped by pid are cogrouped with the persisted ``seen_filters(pid,
  filter)`` rows — no driver state, no broadcast; a pid's blob is held
  only by the task probing that pid. At the 10^10-URL design point
  (BASELINE.json north_star) total filter bytes (~15 GB at 12
  bits/key) exceed any broadcast budget; this path still works because
  nothing ever holds more than one partition's filter.

Filters are a cache, the ``seen`` table is the truth: resume rebuilds
filters from the table, so a lost filter can never corrupt dedupe
(SURVEY.md §7.3.4).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_GOLD = np.uint64(0x9E3779B97F4A7C15)
_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — decorrelates the k index hashes."""
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9) & _MASK
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB) & _MASK
    return x ^ (x >> np.uint64(31))


def _positions(url_hash: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    """(n, k) bit positions for each key."""
    u = url_hash.astype(np.int64).view(np.uint64)
    out = np.empty((len(u), k), dtype=np.int64)
    with np.errstate(over="ignore"):  # uint64 wraparound is the point
        for i in range(k):
            out[:, i] = (
                _mix((u + np.uint64(i) * _GOLD) & _MASK) % np.uint64(m_bits)
            ).astype(np.int64)
    return out


def _by_pid(url_hash: np.ndarray, partitions: int) -> list[tuple[int, np.ndarray]]:
    """(pid, row mask) for each filter partition ``url_hash`` touches:
    pid = pmod(url_hash, partitions), Spark's split too (numpy's ``%``
    takes the divisor's sign, so negative hashes land where pmod puts
    them) — THE split of the build kernel and the broadcast probe."""
    pid = url_hash.astype(np.int64) % partitions
    return [(int(p), pid == p) for p in np.unique(pid)]


def _or_blobs(blobs) -> np.ndarray:
    """OR-merge of one pid's filter blobs (the deltas of several rounds)
    — THE merge of filter compaction and the co-partitioned probe."""
    acc = None
    for blob in blobs:
        arr = np.frombuffer(blob, dtype=np.uint8)
        acc = arr.copy() if acc is None else (acc | arr)
    return acc


def _all_bits_set(filt: np.ndarray, url_hash: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    """True where all k bits of a key are set in ``filt`` — THE bit test
    of both probe paths (broadcast and co-partitioned)."""
    pos = _positions(url_hash, k, m_bits)
    return ((filt[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1).all(axis=1)


class BloomConfig:
    def __init__(self, partitions: int = 16, bits_per_key: int = 12, k: int = 7):
        self.partitions = partitions
        self.bits_per_key = bits_per_key
        self.k = k


class PartitionedBloom:
    """Driver-held dict pid → bit array (np.uint8 packed)."""

    def __init__(self, cfg: BloomConfig, m_bits: int):
        self.cfg = cfg
        self.m_bits = m_bits
        self.filters: dict[int, np.ndarray] = {}

    @staticmethod
    def size_for(expected_keys: int, cfg: BloomConfig) -> int:
        """Bits of EACH partition filter: the expected keys spread over
        cfg.partitions filters (total memory = expected*bits_per_key,
        not partitions×that — a P× sizing bug here turns the per-round
        broadcast into the scaling bottleneck)."""
        m = max(1024, expected_keys * cfg.bits_per_key // cfg.partitions)
        return 1 << int(math.ceil(math.log2(m)))  # pow2 → cheap modulo

    def add_keys(self, url_hash: np.ndarray) -> None:
        """OR a batch of keys into the held filters in place — THE
        bit-setting kernel of every build (driver-local, distributed and
        the round extensions of the driver-held filters)."""
        h = np.asarray(url_hash, dtype=np.int64)
        for p, mask in _by_pid(h, self.cfg.partitions):
            filt = self.filters.get(p)
            if filt is None:
                filt = self.filters[p] = np.zeros(self.m_bits // 8, dtype=np.uint8)
            pos = _positions(h[mask], self.cfg.k, self.m_bits)
            np.bitwise_or.at(filt, pos >> 3, (1 << (pos & 7)).astype(np.uint8))

    def rows(self) -> list[tuple[int, bytes]]:
        """The held filters as (pid, filter) rows, by pid."""
        return [(p, f.tobytes()) for p, f in sorted(self.filters.items())]

    def add_filter_rows(self, rows: list[tuple[int, bytes]]) -> None:
        """OR per-partition filter deltas into the held filters."""
        for pid, blob in rows:
            arr = np.frombuffer(blob, dtype=np.uint8)
            if pid in self.filters:
                self.filters[pid] = self.filters[pid] | arr
            else:
                self.filters[pid] = arr.copy()

    def maybe_contains(self, url_hash: np.ndarray) -> np.ndarray:
        """Vectorized probe: True = maybe seen, False = definitely new."""
        out = np.zeros(len(url_hash), dtype=bool)
        for p, mask in _by_pid(url_hash, self.cfg.partitions):
            filt = self.filters.get(p)
            if filt is not None:
                out[mask] = _all_bits_set(filt, url_hash[mask], self.cfg.k, self.m_bits)
        return out


# bits of one partition filter partitions_for stays within (16 MB: the
# largest blob one table-probe task holds)
MAX_PARTITION_BITS = 1 << 27


def partitions_for(expected_keys: int) -> int:
    """Bloom partition count for ``expected_keys``: the smallest power
    of two ≥ the BloomConfig() default (16) whose ``size_for`` filters,
    at the default bits per key, each hold ≤ MAX_PARTITION_BITS. 16 up
    to ~1.8e8 keys; 1,024 filters of 16 MB at 10^10."""
    p = BloomConfig().partitions
    while PartitionedBloom.size_for(expected_keys, BloomConfig(p)) > MAX_PARTITION_BITS:
        p *= 2
    return p


def build_filter_delta_df(
    df: DataFrame, cfg: BloomConfig, m_bits: int, hash_col: str = "url_hash"
) -> DataFrame:
    """Distributed filter build as a DataFrame of (pid, filter) rows,
    exactly one per pid present. The keys are hash-partitioned by pid
    into ``cfg.partitions`` tasks, so each pid's keys meet in one task,
    which streams its Arrow batches through ``add_keys``: a task holds
    one batch of keys and its own pids' filters (a few of at most
    MAX_PARTITION_BITS each), never a pid's whole key set."""

    def build(batches):
        bloom = PartitionedBloom(cfg, m_bits)
        for pdf in batches:
            bloom.add_keys(pdf[hash_col].to_numpy())
        if bloom.filters:
            yield pd.DataFrame(bloom.rows(), columns=["pid", "filter"])

    part = cfg.partitions
    return (
        df.select(hash_col)
        .repartition(part, F.pmod(F.col(hash_col), F.lit(part)))
        .mapInPandas(build, schema="pid int, filter binary")
    )


def build_filter_rows_from_hashes(
    hashes: np.ndarray, cfg: BloomConfig, m_bits: int
) -> list[tuple[int, bytes]]:
    """Driver-local twin of ``build_filter_delta_df`` for round-scale key
    sets: the same kernel over one array, zero Spark stages, one row
    per pid present."""
    bloom = PartitionedBloom(cfg, m_bits)
    bloom.add_keys(hashes)
    return bloom.rows()


def bloom_payload(bloom: PartitionedBloom) -> tuple:
    """The broadcast payload for the probe UDF."""
    return (bloom.cfg.partitions, bloom.cfg.k, bloom.m_bits, bloom.filters)


def bloom_partition_df(candidates: DataFrame, bc, hash_col: str = "url_hash") -> DataFrame:
    """Tag candidates with ``maybe_seen``; broadcast-probe pandas UDF.

    ``bc`` is a broadcast of ``bloom_payload(...)`` that the caller owns:
    it reuses one across calls and destroys stale generations (a fresh
    broadcast per round that is never unpersisted grows driver+executor
    memory unboundedly; ADVICE r1)."""

    @F.pandas_udf("boolean")
    def probe(h: pd.Series) -> pd.Series:
        part, k, m_bits, filters = bc.value
        b = PartitionedBloom(BloomConfig(partitions=part, k=k), m_bits)
        b.filters = filters
        return pd.Series(b.maybe_contains(h.to_numpy()))

    return candidates.withColumn("maybe_seen", probe(F.col(hash_col)))


def or_merge_filters_df(filters: DataFrame) -> DataFrame:
    """Compact a (pid, filter) delta table: OR-merge each pid's blobs
    into one row (the filter-table analog of seen compaction)."""

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = _or_blobs(pdf["filter"])
        return pd.DataFrame({"pid": [int(pdf["pid"].iloc[0])], "filter": [acc.tobytes()]})

    return filters.groupBy("pid").applyInPandas(merge, schema="pid int, filter binary")


def bloom_probe_cogroup(
    candidates: DataFrame,
    filters: DataFrame,
    cfg: BloomConfig,
    m_bits: int,
    hash_col: str = "url_hash",
) -> DataFrame:
    """Co-partitioned probe: tag candidates with ``maybe_seen`` without
    any driver-held filter state or broadcast.

    Candidates grouped by ``pid = url_hash mod P`` are cogrouped with
    the persisted ``seen_filters(pid, filter)`` rows; each task ORs the
    (possibly multi-delta) blobs for its pid and probes its candidate
    slice vectorized. Scales to filter sets far beyond broadcast size —
    the probe shuffle carries only the candidate rows, and each filter
    blob moves to exactly one task."""
    from pyspark.sql.types import BooleanType, StructField, StructType

    k = cfg.k
    out_schema = StructType(
        list(candidates.schema.fields) + [StructField("maybe_seen", BooleanType())]
    )
    cand = candidates.withColumn(
        "__pid", F.pmod(F.col(hash_col), F.lit(cfg.partitions)).cast("int")
    )

    def probe(cdf: pd.DataFrame, fdf: pd.DataFrame) -> pd.DataFrame:
        out = cdf.drop(columns=["__pid"])
        if out.empty:
            out["maybe_seen"] = pd.Series([], dtype=bool)
            return out
        if fdf.empty:
            out["maybe_seen"] = False
            return out
        filt = _or_blobs(fdf["filter"])
        out["maybe_seen"] = _all_bits_set(filt, out[hash_col].to_numpy(), k, m_bits)
        return out

    return (
        cand.groupBy("__pid")
        .cogroup(filters.groupBy("pid"))
        .applyInPandas(probe, schema=out_schema)
    )
