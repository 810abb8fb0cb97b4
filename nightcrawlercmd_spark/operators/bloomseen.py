"""Partitioned bloom-filter URL-seen set (SURVEY.md O51, §4.2.1).

The reference's seen set is an in-memory Go map probed before enqueue
(``cw.Links``; reference mainCrawler.go:110-136) — O(1) per probe but
bounded by one machine's RAM. At 10^10 URLs the engine keeps the exact
truth in the ``seen`` table (anti-join) and uses partitioned bloom
filters as a *pre-probe* so the expensive exact anti-join only sees
candidates the filter cannot rule out. Bloom "no" is definitive (no
false negatives) → those rows skip the shuffle entirely.

Partitioning: filter ``pid = url_hash mod P``; each partition filter is
built distributed (applyInPandas per pid, optionally sub-split so no
single task materializes a whole partition's keys) or, for round-scale
key sets, on the driver (``build_filter_rows_from_hashes``) — both
through the one bit-setting function ``_filter_blob`` — and OR-merged
incrementally per round.

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


def _filter_blob(url_hash: np.ndarray, k: int, m_bits: int) -> bytes:
    """One partition filter holding ``url_hash`` — THE bit-setting code
    of every build path (driver-local and distributed)."""
    arr = np.zeros(m_bits // 8, dtype=np.uint8)
    pos = _positions(url_hash, k, m_bits)
    np.bitwise_or.at(arr, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
    return arr.tobytes()


def _or_blobs(blobs) -> np.ndarray:
    """OR-merge of one pid's filter blobs (deltas, subsplit groups) —
    THE merge of filter compaction and the co-partitioned probe."""
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

    def _empty(self) -> np.ndarray:
        return np.zeros(self.m_bits // 8, dtype=np.uint8)

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
        if not self.filters:
            return np.zeros(len(url_hash), dtype=bool)
        pid = (url_hash.astype(np.int64) % self.cfg.partitions + self.cfg.partitions) % (
            self.cfg.partitions
        )
        out = np.zeros(len(url_hash), dtype=bool)
        for p in np.unique(pid):
            filt = self.filters.get(int(p))
            if filt is not None:
                mask = pid == p
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
    df: DataFrame,
    cfg: BloomConfig,
    m_bits: int,
    hash_col: str = "url_hash",
    subsplits: int = 1,
) -> DataFrame:
    """Distributed filter build as a DataFrame of (pid, filter) rows.

    With ``subsplits > 1`` each pid's keys are built in that many
    independent groups (multiple rows per pid; consumers OR-merge), so
    no single task ever materializes a whole partition's key set —
    the bound that matters when rebuilding from a 10^10-row seen table
    at resume."""
    k, part = cfg.k, cfg.partitions

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(pdf["pid"].iloc[0])
        blob = _filter_blob(pdf[hash_col].to_numpy(), k, m_bits)
        return pd.DataFrame({"pid": [pid], "filter": [blob]})

    keyed = df.select(hash_col).withColumn(
        "pid", F.pmod(F.col(hash_col), F.lit(part)).cast("int")
    )
    if subsplits > 1:
        keyed = keyed.withColumn(
            "sub", F.pmod(F.abs(F.hash(F.col(hash_col))), F.lit(subsplits)).cast("int")
        )
        grouped = keyed.groupBy("pid", "sub")
    else:
        grouped = keyed.groupBy("pid")
    return grouped.applyInPandas(build, schema="pid int, filter binary")


def build_filter_deltas(
    df: DataFrame,
    cfg: BloomConfig,
    m_bits: int,
    hash_col: str = "url_hash",
    subsplits: int = 1,
) -> list[tuple[int, bytes]]:
    """Collected form of ``build_filter_delta_df`` for the driver-held
    broadcast path (blobs are small by construction there)."""
    rows = build_filter_delta_df(df, cfg, m_bits, hash_col, subsplits).collect()
    return [(r["pid"], r["filter"]) for r in rows]


def build_filter_rows_from_hashes(
    hashes: np.ndarray, cfg: BloomConfig, m_bits: int
) -> list[tuple[int, bytes]]:
    """Driver-local twin of ``build_filter_deltas`` for round-scale key
    sets in broadcast mode: identical pid assignment (pmod) and bit
    setting, zero Spark stages, one row per pid. The distributed form
    shuffles the keys into partitions × subsplits pandas groups and
    collects the blobs — right for a 10^8-row rebuild, pure fixed cost
    for a few MB of hashes; the engine gates on the key count."""
    h = np.asarray(hashes, dtype=np.int64)
    p = cfg.partitions
    pid = ((h % p) + p) % p  # pmod semantics on signed hashes
    return [(int(pv), _filter_blob(h[pid == pv], cfg.k, m_bits)) for pv in np.unique(pid)]


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
