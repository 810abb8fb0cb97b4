"""The crawl round loop — driver-side micro-batch iteration (SURVEY.md O73).

Replaces the reference's single-threaded fetch→store→extract→enqueue
loop (``cw.FetchSites``; mainCrawler.go:84-89,142-146) with rounds of
distributed micro-batches:

    dequeue (window-ranked per-host budget, O69/O74)
      → mapInPandas fetch (O6)
      → link extract + canonicalize + scope/robots filters (O30/O18/O39/O75)
      → bloom pre-probe + exact probe of the bloom positives vs seen (O51)
      → append pages/seen (crawl_log is a projection of pages), commit marker

Structured Streaming cannot express the feedback edge (the frontier
feeds itself), so the loop is driver-side; every round re-reads state
from parquet, which doubles as lineage truncation (plan depth stays
O(1) in rounds) and as the exact-resume checkpoint (O77): the loop can
be killed after any round and restarted — it continues from the last
commit marker and the final state is identical to an uninterrupted run.

Scale design (10^10 frontier): pending is merge-on-read (Iceberg
equality-delete / LSM analog) — pending(r) assembles from the last
compacted ``pbucket = host_hash mod B`` base ∪ the seen deltas since ∖
the fetched log since, all tables the rounds already write, so the
per-round pending write is zero rows at any frontier size. Round 0
writes the seed frontier once, as seen delta 0, and starts pending with
no base and every fold watermark at -1, as it starts seen. The
``pending_b`` bases are a cache of seen ∖ pages that only a scheduled
compaction (``pending_compact_every``) writes, to bound read
amplification, with a bucket→round manifest + per-bucket fold
watermarks in the commit marker. The seen set is append-only
with partitioned bloom filters as pre-probe so each round's exact probe
only carries bloom-positive candidates; beyond broadcast size the
filters live in a co-partitioned ``seen_filters`` table (no driver
state); which of the two probes a crawl uses is decided once, at round
0, from the bloom geometry and pinned with it. Seen compaction folds
deltas into a base clustered by (url_hash, canon_url) into
``SEEN_KEY_BUCKETS`` buckets, so the exact
probe never shuffles the history: small suspect sets run the
broadcast-inverted join (``seen_anti_join``), large ones a chain of
storage-partitioned joins (``seen_anti_join_parts``). Every seen read
(the exact probe, the seen fold, the bloom rebuild, ``seen()``) is
``_read_seen_parts``: one key-bucketed scan per fold round plus the
unfolded deltas, unioned where no join needs the storage
partitioning. Every filter build runs the one bloom kernel
(``PartitionedBloom.add_keys``), on the driver or streamed per Arrow
batch in a distributed build. Hot hosts are
defused by the salt in the fetch repartition + the per-host dequeue
budget; AQE handles residual skew. With Iceberg
jars, pending/seen become MERGE-maintained tables (sources/tableio.py
is the seam).

Pending and seen compactions share one fold policy
(``_fold_selection``), one fold bookkeeping (``_apply_fold``) and one
delta counter (``_delta_counts``); the bucket moduli, scope switch,
bloom geometry and bloom probe mode are pinned in round-0 meta
(``_layout``). Each round runs as named phases (``_phase``) that label
their Spark jobs ``round {r}: {name}`` and record wall seconds in the
commit meta's ``phases`` dict, which ``run()`` and ``round_metrics()``
return per round too.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, fields
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.bloomseen import (
    BloomConfig,
    PartitionedBloom,
    bloom_partition_df,
    bloom_payload,
    bloom_probe_cogroup,
    build_filter_delta_df,
    or_merge_filters_df,
    partitions_for,
)
from ..operators.dequeue import dequeue
from ..operators.fetch import fetch_stage
from ..operators.links import (
    enqueue_rows,
    host_of_col,
    path_of_col,
    robots_allowed_filter,
)
from ..sources.corpus import WorldConfig, priority_of
from ..sources.tableio import StateStore
from ..functions.urlnorm import canonicalize

import pandas as pd
import pyarrow as pa

# Bump whenever round/ordering semantics change: deterministic state
# dirs (e.g. q_crawl_e2e's) are salted with this so stale state from an
# older engine version is never resumed.
# v3: priority_of tie-spread rescaled to the inter-depth gap (dequeue
# ordering changed) — resuming v2 state would replay old-order rounds
# against the new simulator and fail the self-validation column.
# v4: round-0 meta pins the bloom probe mode (``bloom_table_probe``);
# a v3 store has no such key to resume from.
STATE_VERSION = 4

PENDING_COLS = [
    "canon_url",
    "url_hash",
    "host",
    "host_hash",
    "salt",
    "priority",
    "depth",
    "discovered_round",
    "parent_url_hash",
]

# the seen table shares the pending shape plus the discovery round
SEEN_COLS = PENDING_COLS + ["first_round"]

# broadcast-mode bloom builds of at most this many keys (≤16 MB of
# hashes) run on the driver; larger ones run distributed
_DRIVER_BLOOM_MAX_ROWS = 2_000_000
# total filter bytes above which a crawl keeps its filters in the
# seen_filters table instead of a broadcast; read once, when round 0
# pins the probe mode (_layout), so a later change never switches the
# mode of an existing store
_BLOOM_BROADCAST_MAX_BYTES = 128 << 20
# suspect rows up to which the exact seen probe runs the
# broadcast-inverted join (seen_anti_join: the seen side is a streamed
# scan, only O(suspects) bytes move); ~100 B/row bounds its broadcast
# build at ≈ 20 MB. Larger suspect sets run the storage-partitioned
# chain (seen_anti_join_parts), so the history side carries zero
# Exchange in both regimes
_SUSPECT_BROADCAST_MAX = 200_000
# from this fetched_total on, each round counts its bloom-positive
# suspects (one small job against the round-cached tagged set) and
# runs the exact seen probe broadcast-inverted (seen_anti_join) when
# they are at most _SUSPECT_BROADCAST_MAX; below it, and for larger
# suspect sets, the storage-partitioned chain (seen_anti_join_parts)
# runs. Only the probe form depends on it
_SUSPECT_COUNT_MIN_FETCHED = 5_000_000
# the pruned pending read starts from the maxp-ranked bucket prefix
# holding ≥ this many × capacity candidate rows
_PENDING_PRUNE_SLACK = 4.0
# incremental compaction cohorts: a dirty bucket is folded at least once
# per this many compactions, bounding its watermark lag (pending and seen)
_COMPACT_MAX_LAG = 4
# seen_base is written partitioned by sbucket = url_hash mod this;
# round-0 meta pins it (_layout), so a resume keeps the build-time
# modulus
SEEN_BUCKETS = 64
# key-hash buckets per sbucket dir of a seen_base fold (the Iceberg
# bucket(N, key) transform analog, tableio.write_keyed_bucketed). Each
# fold round records its value in commit meta (seen_base_layout) and
# readers use the recorded one.
SEEN_KEY_BUCKETS = 32
# seen-layout meta keys a round without a seen fold carries forward
_SEEN_CARRY = ("seen_manifest", "seen_folded", "seen_bucket_rows", "seen_base_round")
# the keys every run() round_times entry carries (None when a round
# does not set one), besides round, seconds and phases
_ROUND_TIME_KEYS = (
    "fetched", "pending_before", "pending_rewritten", "seen_rewritten",
    "pending_buckets_read", "prune_fallback", "seen_probe_inverted",
)

_PENDING_SCHEMA = [
    ("canon_url", "string"),
    ("url_hash", "bigint"),
    ("host", "string"),
    ("host_hash", "bigint"),
    ("salt", "int"),
    ("priority", "double"),
    ("depth", "int"),
    ("discovered_round", "int"),
    ("parent_url_hash", "bigint"),
]
_SEEN_SCHEMA = _PENDING_SCHEMA + [("first_round", "int")]


@dataclass
class EngineConfig:
    state_dir: str
    world: WorldConfig
    seeds_path: str | None = None  # parquet with column `url`; None → world seeds
    scope_seed_hosts: bool = True
    default_budget: int = 4
    max_rounds: int = 64
    max_pages: int | None = None
    # per-round global fetch capacity (cluster capacity per micro-batch):
    # dequeue the global top-priority slice up to this size. This is the
    # regime where bucketed pending maintenance is O(delta) — hosts
    # outside the round's slice never touch their bucket.
    round_capacity: int | None = None
    n_salts: int = 8
    fetch_tasks: int = 32
    decode_images: bool = False  # fetch+decode image payloads per page
    no_new_links: bool = False  # O78: enqueue only redirect Locations
    # -load-resources: also enqueue img/script src URLs from 200 pages
    # (mainCrawler.go:55,191-196; unfiltered, loses to no_new_links)
    load_resources: bool = False
    # O20/O40: substring filters on raw hrefs (reference -follow /
    # -dont-follow, mainCrawler.go:175-216; see functions/linkfilter.py)
    follow: list[str] | None = None
    dont_follow: list[str] | None = None
    # real-HTTP mode (O13 fixture / deployment seam): "host:port" of a
    # WorldHTTPServer (or any virtual-hosting endpoint); None = the
    # deterministic in-process responder
    http_endpoint: str | None = None
    compact_seen_every: int = 8  # consolidate seen deltas every K rounds
    # sizes the bloom filters (partition count: bloomseen.partitions_for;
    # bits per key and k: the BloomConfig() defaults), which round 0
    # pins with the probe mode they imply (_layout: the seen_filters
    # table probe beyond _BLOOM_BROADCAST_MAX_BYTES of filters, a
    # broadcast below)
    expected_urls: int = 1 << 17
    # pending is merge-on-read (Iceberg equality-delete / LSM analog):
    # per round NOTHING extra is written — pending(r) assembles from the
    # last compacted bucket base ∪ the seen deltas since ∖ the fetched
    # log since (both already materialized by the round itself). Every
    # `pending_compact_every` rounds the assembled table is rewritten
    # into `pbucket = host_hash mod pending_buckets` partitions, keeping
    # read amplification bounded. Write cost per round is O(delta) by
    # construction, independent of how activity spreads over hosts.
    pending_buckets: int = 16
    pending_compact_every: int = 8
    # incremental compaction (VERDICT r2 item 4), pending and seen
    # alike (_fold_selection): a compaction round folds ONLY buckets
    # whose accumulated delta rows exceed `compact_dirty_frac` of the
    # bucket's base rows (clean buckets advance their fold watermark
    # for free; a full-table rewrite never happens once the crawl
    # focuses a subset of hosts — at 10^10 pending rows a compaction
    # touches O(dirty buckets), not the table). Low-delta buckets may
    # skip several compactions, so their watermark lags;
    # _COMPACT_MAX_LAG force-folds any dirty bucket more than that many
    # compaction periods behind, bounding the merge-on-read delta
    # window to _COMPACT_MAX_LAG × the table's cadence
    # (pending_compact_every / compact_seen_every) rounds.
    compact_dirty_frac: float = 0.1
    # state-table backend: "parquet" (this sandbox — Iceberg contract
    # emulated on files, tableio.py) or "iceberg" (real catalog,
    # tableio_iceberg.py — bucket(N,key) transform + MERGE INTO;
    # requires the runtime jar, gated by iceberg_available)
    state_backend: str = "parquet"
    state_catalog: str = "iceberg"


def seed_udf():
    """url → struct(canon_url, priority@depth0) — one fused Python pass."""

    def fn(url: pd.Series) -> pd.DataFrame:
        canon = url.map(canonicalize)
        prio = [None if c is None else priority_of(c, 0) for c in canon]
        return pd.DataFrame({"canon_url": canon, "priority": prio})

    return F.pandas_udf(fn, "canon_url string, priority double")


def _local_df(
    spark: SparkSession, cols: list[tuple[str, str]], rows: list[tuple] | None = None
) -> DataFrame:
    """Driver-held rows (``cols`` = [(name, sql type)]) as a local
    relation. ``createDataFrame`` over an Arrow table stays in the JVM;
    over a Python list it parallelizes pickled rows, so every consumer
    (a broadcast build, a union) runs Python worker tasks for a handful
    of rows."""
    data = list(zip(*rows)) if rows else [[] for _ in cols]
    table = pa.table({c: pa.array(list(v)) for (c, _), v in zip(cols, data)})
    return spark.createDataFrame(table, ", ".join(f"{c} {t}" for c, t in cols))


def _union(parts: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, parts)


def _count_by(df: DataFrame, key: str) -> dict[int, int]:
    """Rows per value of the int column ``key`` (one small collect)."""
    return {int(x[key]): int(x["count"]) for x in df.groupBy(key).count().collect()}


def _watermark_dim(spark: SparkSession, folded: dict[int, int], key: str) -> DataFrame:
    """(``key``, __folded) rows of a per-bucket fold watermark."""
    return _local_df(
        spark, [(key, "int"), ("__folded", "int")],
        [(int(b), int(v)) for b, v in sorted(folded.items())],
    )


@dataclass(frozen=True)
class _Layout:
    """Values PINNED in round-0 meta (field name = meta key): a changed
    bucket modulus would hash rows into buckets the manifests and fold
    watermarks never heard of, a changed bloom geometry would probe
    persisted blobs with the wrong bits (false negatives), and a
    switch to the table probe would find no filter deltas for the
    rounds run in broadcast mode. Config changes to these take effect
    only on a fresh store."""

    pending_buckets: int
    seen_buckets: int
    scope_seed_hosts: bool
    bloom_partitions: int
    bloom_bits_per_key: int
    bloom_k: int
    bloom_m_bits: int
    # filters in the co-partitioned seen_filters table (the 10^10-URL
    # path) instead of a driver-held broadcast
    bloom_table_probe: bool

    @property
    def bloom(self) -> BloomConfig:
        return BloomConfig(self.bloom_partitions, self.bloom_bits_per_key, self.bloom_k)


def _fold_selection(
    dirty: dict[int, int],
    base_rows: dict[int, int],
    folded: dict[int, int],
    r: int,
    every: int,
    dirty_frac: float,
) -> tuple[set[int], dict[int, int]]:
    """THE incremental-compaction policy of pending and seen at
    compaction round ``r`` (cadence ``every``): fold a bucket with
    unfolded delta rows (``dirty``) beyond ``dirty_frac`` of its base
    rows, in this compaction's round-robin cohort, or with a watermark
    more than _COMPACT_MAX_LAG compactions behind. The cohorts keep
    uniform activity (seen's url_hash buckets) from folding the whole
    table in one burst: the worst compaction is ≈ 1/_COMPACT_MAX_LAG of
    the table plus hot buckets. Returns (buckets to fold, watermarks
    with each clean bucket advanced to ``r`` for free)."""
    lag = _COMPACT_MAX_LAG
    cohort = (r // every) % lag
    lag_floor = r - lag * every
    fold_set = {
        b
        for b, c in dirty.items()
        if c > dirty_frac * base_rows.get(b, 0)
        or b % lag == cohort
        or folded.get(b, -1) < lag_floor
    }
    return fold_set, {b: (v if b in dirty else r) for b, v in folded.items()}


def _apply_fold(
    manifest: dict[int, int],
    folded: dict[int, int],
    base_rows: dict[int, int],
    fold_set: set[int],
    written: list[int],
    counts: dict[int, int],
    r: int,
) -> None:
    """Bookkeeping after round ``r`` folded ``fold_set`` (in place):
    watermarks move to ``r``, base dirs are the ``written`` ones (an
    emptied bucket has none) and base sizes the fold's ``counts``."""
    for b in fold_set:
        folded[b] = r
        manifest.pop(b, None)
        base_rows[b] = 0
    for b in written:
        manifest[b] = r
    base_rows.update(counts)


def _with_salt_cols(df: DataFrame, n_salts: int) -> DataFrame:
    return df.withColumn("salt", F.pmod(F.col("url_hash"), F.lit(n_salts)).cast("int"))


_SEEN_KEY = ["url_hash", "canon_url"]


def seen_anti_join(suspects: DataFrame, seen: DataFrame) -> DataFrame:
    """Rows of ``suspects`` whose (url_hash, canon_url) is NOT in
    ``seen`` — the exact half of the O51 dedupe (the hash alone has
    expected birthday collisions > 1 at the 10^10-URL design point; a
    hash-only key would drop a distinct URL forever).

    Broadcast-inverted form for small suspect sets: confirmed = seen
    LEFT SEMI broadcast(suspect keys), then suspects LEFT ANTI
    broadcast(confirmed). Set-identical to the plain LEFT ANTI
    (anti(S, T) ≡ anti(S, T ∩ S), and LEFT ANTI keeps left
    multiplicity either way) but the executed plan carries NO shuffle
    Exchange — the seen side is a streamed scan probed against a
    ≤ |suspects|-row broadcast, so a 10^10-row history moves zero
    bytes. Engaged by the engine only when the suspect count is at
    most ``_SUSPECT_BROADCAST_MAX``;
    larger sets run ``seen_anti_join_parts``."""
    confirmed = seen.select(*_SEEN_KEY).join(
        F.broadcast(suspects.select(*_SEEN_KEY)), _SEEN_KEY, "left_semi"
    )
    return suspects.join(F.broadcast(confirmed), _SEEN_KEY, "left_anti")


def seen_anti_join_parts(suspects: DataFrame, parts: list[DataFrame]) -> DataFrame:
    """Chained exact probe for the LARGE-suspect regime:
    ``anti(S, ∪ parts) ≡ anti(…anti(anti(S, p1), p2)…, pn)`` (LEFT ANTI
    distributes over the right side's union and keeps left multiplicity
    throughout), so instead of unioning the seen side — which erases
    storage partitioning and forces the whole history through an
    Exchange — each part is probed on its own. Keyed base parts
    (tableio.read_keyed_bucketed) arrive with
    ``HashPartitioning(url_hash, canon_url, K)`` satisfied from
    storage: the SortMergeJoin shuffles ONLY the suspect side, once —
    its output keeps that partitioning, so the chain's later joins add
    no further suspect-side Exchange either. Delta parts are
    round-scale on both sides. Net shuffled bytes per round: O(round),
    never O(history), even when the suspect set is too large for the
    broadcast-inverted form."""
    out = suspects
    for p in parts:
        out = out.join(p.select(*_SEEN_KEY), _SEEN_KEY, "left_anti")
    return out


def robots_df(spark: SparkSession, cfg: EngineConfig) -> DataFrame:
    from ..sources.corpus import robots_rows

    return spark.createDataFrame(
        pd.DataFrame(robots_rows(cfg.world)),  # pandas → arrow fast path
        schema="host string, disallow_prefixes array<string>, crawl_budget int",
    )


def world_seed_canon_df(spark: SparkSession, cfg: EngineConfig) -> DataFrame:
    """World seeds already canonicalized, generated on the executors:
    the driver ships only the O(n_hosts) host list, and ONE fused
    Python stage does per-host expansion (``host_seed_urls``, the unit
    the sequential ``seed_rows`` uses → the identical seed multiset) +
    canonicalize + depth-0 priority (the functions seed_udf applies).
    Null canon rows (junk seeds) are dropped inside the stage. Used by
    _init_round0 when no seeds_path is set; a seeds_path parquet runs
    the raw-url + seed_udf pipeline."""
    from ..sources.corpus import host_seed_urls, hosts

    world = cfg.world
    hs = hosts(world)
    host_pdf = pd.DataFrame({"host": hs, "is_hot": [h == hs[0] for h in hs]})
    n_hosts = len(hs)

    def expand(batches):
        for pdf in batches:
            canon: list[str] = []
            prio: list[float] = []
            for hst, hot in zip(pdf["host"], pdf["is_hot"]):
                for u in host_seed_urls(world, hst, bool(hot), n_hosts):
                    c = canonicalize(u)
                    if c is not None:
                        canon.append(c)
                        prio.append(priority_of(c, 0))
            yield pd.DataFrame({"canon_url": canon, "priority": prio})

    n_parts = max(1, min(n_hosts, spark.sparkContext.defaultParallelism * 2))
    return (
        spark.createDataFrame(host_pdf)
        .repartition(n_parts)
        .mapInPandas(expand, schema="canon_url string, priority double")
    )


class CrawlEngine:
    def __init__(self, spark: SparkSession, cfg: EngineConfig):
        self.spark = spark
        self.cfg = cfg
        if cfg.state_backend == "parquet":
            self.store = StateStore(cfg.state_dir)
        else:
            # cluster path (SURVEY §7.5(a)): same contract on a real
            # Iceberg catalog — jar-gated, raises a clear error here
            from ..sources.tableio_iceberg import make_state_store

            self.store = make_state_store(
                cfg.state_dir, spark, backend=cfg.state_backend,
                catalog=cfg.state_catalog,
            )
        # not cached: a LocalRelation, so every use reads driver memory,
        # while a cached copy costs a Spark job per engine to build
        self.robots = robots_df(spark, cfg)
        self._bloom: PartitionedBloom | None = None
        self._bloom_bc = None  # current broadcast generation (broadcast mode)
        self._bloom_bc_stale = True
        self._bc_generations = 0  # observability: broadcasts created so far
        self._pinned: _Layout | None = None  # round-0 layout (_layout)
        self._round_no = 0  # the round _phase labels and times
        self._phases: dict[str, float] = {}

    def _layout(self) -> _Layout:
        """The values pinned in round-0 meta (see _Layout). Before round
        0 exists: the config's values, not cached, with the table probe
        chosen when the total filter bytes exceed
        _BLOOM_BROADCAST_MAX_BYTES. After: round 0's, read once — they
        are immutable by construction, and the bucket functions and the
        bloom probe sit on the per-round hot path."""
        if self._pinned is None:
            try:
                m = self.store.meta(0)
            except FileNotFoundError:
                cfg = self.cfg
                bloom = BloomConfig(partitions_for(cfg.expected_urls))
                m_bits = PartitionedBloom.size_for(cfg.expected_urls, bloom)
                return _Layout(
                    cfg.pending_buckets, SEEN_BUCKETS, cfg.scope_seed_hosts,
                    bloom.partitions, bloom.bits_per_key, bloom.k, m_bits,
                    bloom.partitions * m_bits // 8 > _BLOOM_BROADCAST_MAX_BYTES,
                )
            self._pinned = _Layout(**{f.name: m[f.name] for f in fields(_Layout)})
        return self._pinned

    @contextmanager
    def _phase(self, name: str):
        """One named phase of the current round: its Spark jobs carry
        the description ``round {r}: {name}`` (the UI and event log map
        each stage to its phase) and its wall seconds go into the
        round's ``phases`` dict. The caller's description is restored on
        exit; no Spark job is started."""
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"round {self._round_no}: {name}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._phases[name] = round(time.perf_counter() - t0, 3)
            sc.setLocalProperty("spark.job.description", prev)

    # ------------------------------------------------------------ init ----

    def _init_round0(self) -> None:
        """Seed the frontier (reference: url-list load + ToAbsUrl +
        RemoveLinksNotSameHost, mainCrawler.go:117-140)."""
        cfg, phase = self.cfg, self._phase
        self._round_no, self._phases = 0, {}
        with phase("seed"):
            if cfg.seeds_path:
                canon_seeds = (
                    self.spark.read.parquet(cfg.seeds_path)
                    .select(seed_udf()(F.col("url")).alias("s"))
                    .select("s.canon_url", "s.priority")
                    .filter(F.col("canon_url").isNotNull())
                )
            else:
                # world seeds: canonicalization fused into the distributed
                # expansion — one Python stage instead of two
                canon_seeds = world_seed_canon_df(self.spark, cfg)
            seeds = canon_seeds.withColumn("host", host_of_col(F.col("canon_url")))
            # scope hosts are NOT collected to the driver: the filter is a
            # semi-join against the seed-host set derived from the round-0
            # seen table at run time (a 10^8-host seed list stays distributed)
            # robots applies to seeds too (north_rule: robots compliance)
            seeds = robots_allowed_filter(
                seeds.withColumn("path", path_of_col(F.col("canon_url"))), self.robots
            ).drop("path")
            pend = (
                seeds.groupBy("canon_url", "host")
                .agg(F.min("priority").alias("priority"))  # distinct (canon is fn → same prio)
                .withColumn("url_hash", F.xxhash64("canon_url"))
                .withColumn("host_hash", F.xxhash64("host"))
                .withColumn("depth", F.lit(0))
                .withColumn("discovered_round", F.lit(0))
                .withColumn("parent_url_hash", F.lit(None).cast("bigint"))
            )
            pend = _with_salt_cols(pend, cfg.n_salts).select(*PENDING_COLS)
        # the seed frontier is written once, as seen delta 0: pending(0)
        # is that delta (no compacted base yet, every watermark at -1)
        with phase("write_seen"):
            n = self._append_seen(pend, 0)
        with phase("bloom_delta"):
            self._extend_bloom(0, n)
        # per-bucket priority/count bounds for the pruned pending read
        # (one column-pruned agg over seen delta 0, as the per-round
        # upkeep aggregates each later delta). Bounds are only consumed
        # by capacitated rounds; an uncapacitated crawl (no
        # round_capacity / max_pages) skips the init agg — a later
        # capacitated invocation bootstraps them via _bucket_stats
        stats = None
        with phase("prune_stats"):
            if cfg.round_capacity is not None or cfg.max_pages is not None:
                stats = self._bucket_stats(self.store.read_snapshot(self.spark, "seen", 0))
        self.store.commit(
            0,
            {
                "fetched_total": 0,
                "pending": n,
                # pending and seen both start with no base dirs and
                # every bucket's watermark at -1 (all deltas, round 0
                # included, are unfolded); base sizes start unknown ({}
                # → every dirty bucket folds at the first compaction,
                # which populates them)
                "pending_manifest": {},
                "pending_folded": {b: -1 for b in range(cfg.pending_buckets)},
                "pending_bucket_rows": {},
                **(
                    {
                        "pending_bucket_maxp": stats[0],
                        "pending_bucket_cnt_ub": stats[1],
                    }
                    if stats is not None
                    else {}
                ),
                "seen_manifest": {},
                "seen_folded": {b: -1 for b in range(SEEN_BUCKETS)},
                "seen_bucket_rows": {},
                # bucket moduli, scope switch, bloom geometry and probe
                # mode, pinned for every later round and resume (_layout)
                **asdict(self._layout()),
                "phases": self._phases,
            },
        )

    # --------------------------------------------------------- pending ----

    def _with_pbucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "pbucket",
            F.pmod(F.col("host_hash"), F.lit(self._layout().pending_buckets)).cast("int"),
        )

    @staticmethod
    def _state_of(meta: dict, table: str) -> tuple[dict, dict, dict]:
        """(manifest, folded, bucket_rows) of the bucketed ``table``
        ("pending" / "seen") recorded in a commit meta: the round of
        each bucket's base dir, each bucket's fold watermark (the round
        up to which its deltas are folded into its base) and base rows."""
        return tuple(
            {int(k): int(v) for k, v in (meta.get(f"{table}_{part}") or {}).items()}
            for part in ("manifest", "folded", "bucket_rows")
        )

    def _assemble_pending(
        self,
        manifest: dict[int, int],
        folded: dict[int, int],
        upto_round: int,
        buckets: set[int] | None = None,
    ) -> DataFrame:
        """Merge-on-read pending: per-bucket compacted base ∪ each
        bucket's seen deltas in (folded[b], upto_round] ∖ fetched log.
        Uses only tables the rounds already wrote — zero extra write
        per round (Iceberg equality-delete analog; VERDICT r1 item 3).
        Until a bucket's first compaction it has no base and watermark
        -1, so its pending is its seen deltas from round 0 (the seeds)
        on ∖ its fetched pages; ``manifest={}`` with every watermark at
        -1 derives pending from scratch, which the compacted bases
        only cache. The watermark is per-bucket: adds
        are filtered by a broadcast (pbucket, folded) dimension so a
        delta already folded into one bucket's base is never re-added,
        while a lagging bucket still sees its older deltas. Removals
        (fetched pages) are applied over the whole window — an already-
        folded removal anti-joins nothing (idempotent; a fetched URL
        can never re-enter pending because the seen anti-join blocks
        it). ``buckets`` restricts assembly to a bucket subset (the
        incremental-compaction path folds only dirty buckets)."""
        if buckets is not None:
            manifest = {b: v for b, v in manifest.items() if b in buckets}
            folded = {b: v for b, v in folded.items() if b in buckets}
        base = self.store.read_buckets(self.spark, "pending_b", manifest)
        add = self._unfolded_deltas(
            ("seen",), PENDING_COLS, folded, upto_round,
            self._with_pbucket, "pbucket", buckets,
        )
        parts = [p.select(*PENDING_COLS) for p in (base, add) if p is not None]
        if not parts:
            return _local_df(self.spark, _PENDING_SCHEMA)
        df = _union(parts)
        lo = min(folded.values(), default=upto_round)
        removals = [
            self.store.read_snapshot(self.spark, "pages", j).select(
                "url_hash", "canon_url", "host_hash"
            )
            for j in range(lo + 1, upto_round + 1)
            if self.store.exists("pages", j)
        ]
        if removals:
            rem = _union(removals)
            if buckets is not None:
                rem = self._with_pbucket(rem).filter(
                    F.col("pbucket").isin(sorted(buckets))
                )
            # (hash, canon) key: a 64-bit collision must not evict a
            # distinct never-fetched pending row. The join moves its keys
            # first; the select restores the column order, so every
            # compaction writes pending_b in one schema
            df = df.join(
                rem.select("url_hash", "canon_url"),
                ["url_hash", "canon_url"],
                "left_anti",
            ).select(*PENDING_COLS)
        return df

    def _bucket_stats(self, df: DataFrame) -> tuple[dict[int, float], dict[int, int]]:
        """(maxp, count) per pbucket — THE definition of the pruning
        bounds; every producer (round-0 init, bootstrap after
        uncapacitated rounds, fallback refresh, compaction fold) goes
        through here so the soundness invariant (every bucket with rows
        has an entry) cannot drift between copies."""
        rows = (
            self._with_pbucket(df)
            .groupBy("pbucket")
            .agg(F.count(F.lit(1)).alias("c"), F.max("priority").alias("mp"))
            .collect()
        )
        return (
            {int(x["pbucket"]): float(x["mp"]) for x in rows},
            {int(x["pbucket"]): int(x["c"]) for x in rows},
        )

    def _pending_stats_of(self, meta: dict) -> tuple[dict, dict] | None:
        """(maxp, cnt_ub) per-bucket upper bounds from the commit meta,
        or None when the commit carries none (an uncapacitated init or
        round drops them) — the next capacitated round bootstraps
        them."""
        mp = meta.get("pending_bucket_maxp")
        cu = meta.get("pending_bucket_cnt_ub")
        if mp is None or cu is None:
            return None
        return (
            {int(k): float(v) for k, v in mp.items()},
            {int(k): int(v) for k, v in cu.items()},
        )

    def _unfolded_deltas(
        self,
        tables: tuple[str, ...],
        cols: list[str] | None,
        folded: dict[int, int],
        upto_round: int,
        bucket_of,
        wm_key: str,
        buckets: set[int] | list[int] | None = None,
    ) -> DataFrame | None:
        """THE single definition of the fold-window scan: union the
        delta snapshots of ``tables`` over (min folded, upto_round] and
        keep only rows past their bucket's fold watermark (buckets
        missing from ``folded`` count as never folded). ``buckets``
        restricts the scan to a bucket subset (the pruned and fold
        reads). ``bucket_of`` adds the ``wm_key`` bucket column, which
        the result carries only when a bucket filter or the watermark
        join needs it. Uniform watermarks (every round of a crawl
        without incremental folds) take the fast path: the window start
        IS every bucket's watermark, so rows are neither round-tagged
        (``__dr``) nor joined to the watermark dim. Shared by the
        pending and seen reads, both compaction-decision scans and both
        fold assemblies so the invariant cannot drift between copies.
        Returns None when no delta dirs exist in the window."""
        if buckets is not None:
            buckets = set(buckets)
            folded = {b: v for b, v in folded.items() if b in buckets}
        lo = min(folded.values(), default=upto_round)
        uniform = len(set(folded.values())) <= 1
        parts = []
        for j in range(max(lo + 1, 0), upto_round + 1):
            for tbl in tables:
                if self.store.exists(tbl, j):
                    d = self.store.read_snapshot(self.spark, tbl, j)
                    if cols is not None:
                        d = d.select(*cols)
                    parts.append(d if uniform else d.withColumn("__dr", F.lit(j)))
        if not parts:
            return None
        df = _union(parts)
        if buckets is not None or not uniform:
            df = bucket_of(df)
        if buckets is not None:
            df = df.filter(F.col(wm_key).isin(sorted(buckets)))
        if not uniform:
            wm = _watermark_dim(self.spark, folded, wm_key)
            df = df.join(F.broadcast(wm), wm_key, "left").filter(
                F.col("__dr") > F.coalesce(F.col("__folded"), F.lit(-1))
            )
        return df

    def _delta_counts(
        self,
        tables: tuple[str, ...],
        hash_col: str,
        bucket_of,
        wm_key: str,
        folded: dict[int, int],
        upto_round: int,
    ) -> dict[int, int]:
        """Per-bucket count of UNFOLDED delta rows of ``tables`` in
        (min folded, upto_round] — the input of _fold_selection. Scans
        only the delta tables, never the base, so the compaction
        decision itself is O(delta). ``bucket_of`` derives the ``wm_key``
        bucket from ``hash_col``. Pending counts adds and removals
        (seen + pages), seen only adds (it is append-only)."""
        df = self._unfolded_deltas(
            tables, [hash_col], folded, upto_round, bucket_of, wm_key
        )
        if df is None:
            return {}
        return _count_by(bucket_of(df), wm_key)

    def _read_pending(self, round_no: int) -> DataFrame:
        manifest, folded, _ = self._state_of(self.store.meta(round_no), "pending")
        return self._assemble_pending(manifest, folded, round_no)

    # ------------------------------------------------------------ seen ----

    def _sbucket(self, col):
        return F.pmod(col, F.lit(self._layout().seen_buckets)).cast("int")

    def _with_sbucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn("__sb", self._sbucket(F.col("url_hash")))

    def _read_seen_parts(
        self,
        upto_round: int,
        cols: list[str],
        buckets: list[int] | None = None,
        state: tuple[dict, dict] | None = None,
    ) -> list[DataFrame]:
        """THE seen read, as parts whose union is seen = per-bucket
        compacted base ∪ each bucket's deltas after its fold watermark:
        one catalog bucketed-table scan per fold round whose base dirs
        are still current (tableio.read_keyed_bucketed, carrying
        HashPartitioning(url_hash, canon_url) from storage), plus one
        round-scale unfolded-delta part (the fold-window scan). Fed to
        seen_anti_join_parts, the history side joins with zero
        Exchange; the other readers union the parts (_read_seen).

        Each base scan is filtered to the manifest's buckets for its
        round: an sbucket refolded at a later round leaves its stale dir
        in the earlier round's path, and the manifest, not the directory
        listing, is the truth. Each base is read with the key bucket
        count its fold round recorded (seen_base_layout). ``buckets``
        restricts every part to those sbuckets (the seen fold's read).
        Seen is append-only, so unlike pending there are no removals:
        the watermark only keeps deltas already folded into a base from
        being read again. ``state`` = (manifest, folded) defaults to
        round ``upto_round``'s commit meta; a seen fold passes its own,
        since its round (whose delta it folds) is not committed yet."""
        manifest, folded = state or self._state_of(self.store.meta(upto_round), "seen")[:2]
        if buckets is not None:
            manifest = {b: v for b, v in manifest.items() if b in buckets}
        by_round: dict[int, list[int]] = {}
        for b, rr in manifest.items():
            by_round.setdefault(rr, []).append(b)
        parts = []
        for rr in sorted(by_round):
            kb = int(self.store.meta(rr)["seen_base_layout"]["key_buckets"])
            base = self.store.read_keyed_bucketed(
                self.spark, "seen_base", rr, list(_SEEN_KEY), kb,
                bucket_col="sbucket",
            )
            parts.append(
                base.filter(F.col("sbucket").isin(sorted(by_round[rr]))).select(*cols)
            )
        add = self._unfolded_deltas(
            ("seen",), None, folded, upto_round, self._with_sbucket, "__sb", buckets
        )
        if add is not None:
            parts.append(add.select(*cols))
        return parts

    def _read_seen(
        self,
        upto_round: int,
        cols: list[str] = SEEN_COLS,
        buckets: list[int] | None = None,
        state: tuple[dict, dict] | None = None,
    ) -> DataFrame:
        """The union of ``_read_seen_parts`` (an empty frame of ``cols``
        when there is none)."""
        parts = self._read_seen_parts(upto_round, cols, buckets, state)
        if not parts:
            types = dict(_SEEN_SCHEMA)
            return _local_df(self.spark, [(c, types[c]) for c in cols])
        return _union(parts)

    def _write_seen_base(self, assembled: DataFrame, r: int) -> list[int]:
        """Write a fold round's seen base as a Spark bucketed table
        CLUSTERED BY (url_hash, canon_url) INTO SEEN_KEY_BUCKETS — the
        Iceberg bucket(N, key) transform analog — so the large-suspect
        exact probe joins it with zero seen-side Exchange
        (tableio.write_keyed_bucketed). The pre-write repartition uses
        the SAME (key, N) hash partitioning as the bucket spec, so each
        write task holds exactly one key-bucket: one file per
        (sbucket, key-bucket) pair instead of tasks × buckets."""
        return self.store.write_keyed_bucketed(
            assembled.repartition(SEEN_KEY_BUCKETS, *_SEEN_KEY),
            "seen_base",
            r,
            list(_SEEN_KEY),
            SEEN_KEY_BUCKETS,
            bucket_col="sbucket",
        )

    def _maybe_compact_pending(
        self, r: int, prev_meta: dict, stats: tuple[dict, dict] | None
    ) -> dict:
        """Every ``pending_compact_every`` rounds, fold the pbuckets
        _fold_selection picks into base dirs of round r — O(dirty
        buckets), never the table (VERDICT r2 item 4). A fold resets the
        folded buckets' pruning bounds in ``stats`` to exact values (in
        place). Returns the commit-meta updates."""
        cfg = self.cfg
        manifest, folded, brows = self._state_of(prev_meta, "pending")
        rewritten = 0
        if cfg.pending_compact_every and r % cfg.pending_compact_every == 0:
            dirty = self._delta_counts(
                ("seen", "pages"), "host_hash", self._with_pbucket, "pbucket",
                folded, r,
            )
            fold_set, folded = _fold_selection(
                dirty, brows, folded, r, cfg.pending_compact_every,
                cfg.compact_dirty_frac,
            )
            if fold_set:
                assembled = self._with_pbucket(
                    self._assemble_pending(manifest, folded, r, buckets=fold_set)
                ).persist()
                written = self.store.write_bucketed(
                    assembled.repartition(cfg.fetch_tasks, "pbucket", "salt"),
                    "pending_b",
                    r,
                )
                fold_stats = self._bucket_stats(assembled)
                assembled.unpersist()
                _apply_fold(manifest, folded, brows, fold_set, written, fold_stats[1], r)
                if stats is not None:
                    for bound, exact in zip(stats, fold_stats):
                        for b in fold_set:
                            bound.pop(b, None)
                        bound.update(exact)
                rewritten = sum(fold_stats[1].values())
        return {
            "pending_manifest": manifest,
            "pending_folded": folded,
            "pending_bucket_rows": brows,
            # O(delta) evidence: pending rows rewritten this round
            # (0 except compaction rounds) — the bench's
            # frontier-growth check reads this
            "pending_rewritten": rewritten,
        }

    def _maybe_compact_seen(self, r: int) -> dict:
        """Every K rounds, fold the sbuckets _fold_selection picks into
        per-bucket base dirs — the seen analog of incremental pending
        compaction (VERDICT r2 watch item: at 10^10 fetched rows a
        full-table base rewrite every K rounds is the worst round's
        cost; dirty-bucket folding bounds it to O(active buckets)).
        sbuckets hash url_hash uniformly, so the cohorts, not the dirty
        threshold, pace these folds. Returns the commit-meta updates
        (carried forward unchanged on non-compaction rounds). Round r's
        just-written (uncommitted) delta is inside the fold window —
        dropping it would lose a round of discoveries from the base."""
        cfg, store = self.cfg, self.store
        prev = store.meta(r - 1)
        carry = {k: prev[k] for k in _SEEN_CARRY if prev.get(k) is not None}
        if not cfg.compact_seen_every or r % cfg.compact_seen_every != 0:
            carry["seen_rewritten"] = 0
            return carry
        manifest, folded, brows = self._state_of(prev, "seen")
        dirty = self._delta_counts(
            ("seen",), "url_hash", self._with_sbucket, "__sb", folded, r
        )
        fold_set, folded = _fold_selection(
            dirty, brows, folded, r, cfg.compact_seen_every, cfg.compact_dirty_frac
        )
        base_round = carry.get("seen_base_round")
        counts: dict[int, int] = {}
        if fold_set:
            assembled = (
                self._read_seen(r, buckets=sorted(fold_set), state=(manifest, folded))
                .withColumn("sbucket", self._sbucket(F.col("url_hash")))
                .persist()
            )
            written = self._write_seen_base(assembled, r)
            counts = _count_by(assembled, "sbucket")
            assembled.unpersist()
            _apply_fold(manifest, folded, brows, fold_set, written, counts, r)
            base_round = r
        return {
            "seen_manifest": manifest,
            "seen_folded": folded,
            "seen_bucket_rows": brows,
            "seen_base_round": base_round,
            # recorded ONLY on rounds that wrote a base: _read_seen_parts
            # looks the layout up per manifest round
            **(
                {"seen_base_layout": {"key_buckets": SEEN_KEY_BUCKETS}}
                if fold_set
                else {}
            ),
            # O(dirty-buckets) evidence, seen analog of pending_rewritten
            "seen_rewritten": sum(counts.values()),
        }

    def _maybe_compact_filters(self, r: int) -> int | None:
        """Filter-table analog of seen compaction: OR-merge all delta
        blobs per pid into one base row (table-probe mode only)."""
        cfg = self.cfg
        if not self._layout().bloom_table_probe:
            return None
        if not cfg.compact_seen_every or r % cfg.compact_seen_every != 0:
            return None
        # _read_filters(r-1) plus round r's just-written (uncommitted)
        # delta, as the seen fold includes round r's delta
        df = self._read_filters(r - 1)
        if self.store.exists("seen_filters", r):
            df = df.unionByName(self.store.read_snapshot(self.spark, "seen_filters", r))
        self.store.write_snapshot(or_merge_filters_df(df), "seen_filters_base", r)
        return r

    # ----------------------------------------------------------- bloom ----

    def _ensure_bloom(self, upto_round: int) -> PartitionedBloom:
        """Rebuild filters from the exact seen table (filters are a
        cache; the table is the truth — SURVEY.md §7.3.4). The seen row
        count is arithmetic from the commit meta (every seen URL is
        either fetched or still pending), so a round-scale table builds
        on the driver with no count job."""
        if self._bloom is not None:
            return self._bloom
        meta = self.store.meta(upto_round)
        lay = self._layout()
        self._bloom = PartitionedBloom(lay.bloom, lay.bloom_m_bits)
        self._add_to_bloom(
            self._read_seen(upto_round, ["url_hash"]),
            meta["fetched_total"] + meta["pending"],
        )
        return self._bloom

    def _add_to_bloom(self, df: DataFrame, n_rows: int) -> None:
        """OR the url_hash keys of ``df`` (``n_rows`` rows) into the
        driver-held filters: up to _DRIVER_BLOOM_MAX_ROWS keys with one
        column-pruned Arrow collect and the kernel on the driver — the
        same bits as the distributed build (pinned by a differential
        test) without its shuffle and Python stage — beyond that by
        collecting the distributed build's one row per pid."""
        if n_rows <= _DRIVER_BLOOM_MAX_ROWS:
            self._bloom.add_keys(df.select("url_hash").toPandas()["url_hash"].to_numpy())
        else:
            self._bloom.add_filter_rows(
                (r["pid"], r["filter"])
                for r in build_filter_delta_df(
                    df, self._bloom.cfg, self._bloom.m_bits
                ).collect()
            )
        self._bloom_bc_stale = True

    def _bloom_broadcast(self):
        """One live broadcast generation at a time: destroy the previous
        one before re-broadcasting the updated filters (a long crawl
        must not accumulate a stale copy per round; ADVICE r1)."""
        if self._bloom_bc is not None and not self._bloom_bc_stale:
            return self._bloom_bc
        if self._bloom_bc is not None:
            self._bloom_bc.unpersist(blocking=False)
            self._bloom_bc.destroy(blocking=False)
        self._bloom_bc = self.spark.sparkContext.broadcast(bloom_payload(self._bloom))
        self._bloom_bc_stale = False
        self._bc_generations += 1
        return self._bloom_bc

    def _read_filters(self, upto_round: int) -> DataFrame:
        """seen_filters = latest compacted base + the deltas after it.
        Complete by construction: the probe mode is pinned at round 0,
        so every round that wrote a seen delta also wrote its filter
        delta (filters are a cache, and a missing delta would turn into
        bloom false negatives whose rows bypass the exact anti-join)."""
        base_round = self.store.meta(upto_round).get("filters_base_round")
        base_round = -1 if base_round is None else base_round
        parts = []
        if base_round >= 0:
            parts.append(self.store.read_snapshot(self.spark, "seen_filters_base", base_round))
        parts += [
            self.store.read_snapshot(self.spark, "seen_filters", r)
            for r in range(base_round + 1, upto_round + 1)
            if self.store.exists("seen_filters", r)
        ]
        return _union(parts)

    # ------------------------------------------------------------ round ---

    def _dequeue(
        self, r: int, prev_meta: dict, pending: DataFrame, remaining: int | None
    ) -> tuple[DataFrame, bool, tuple[dict, dict] | None, dict]:
        """Round r's dequeue, from the pruned pending read when the
        per-bucket bounds allow it (priority-stat bucket pruning,
        VERDICT r3 item 2). With a global capacity (round_capacity /
        max_pages remainder) the dequeue keeps only the top-capacity
        rows, so a round need not READ pending buckets that cannot
        reach the cutoff. The commit meta carries per-bucket upper
        bounds (max priority / row count: exact at fold time,
        max/sum-updated with each round's delta, removals ignored —
        stale-high is still a sound bound). The round assembles the
        maxp-ranked bucket prefix holding ≥ _PENDING_PRUNE_SLACK ×
        capacity candidate rows, dequeues it, and accepts iff the
        result is FULL and its minimum selected priority strictly beats
        every skipped bucket's bound — sound because pbucket is a pure
        function of host, so per-host budget ranks are bucket-local.
        Anything else falls back to the full read (counted in
        prune_fallback), so the per-round read is O(contributing
        buckets) in the capacity-bound regime and never wrong outside
        it. Returns (dequeued rows, whether they are cached — the
        caller unpersists after the fetch, the bounds the round started
        from, prune info)."""
        cfg = self.cfg
        stats = self._pending_stats_of(prev_meta)
        info = {"buckets_read": None, "prune_fallback": 0}
        if remaining is not None and stats is None:
            # bootstrap (the store's last commit was uncapacitated, so it
            # carries no bounds): one full-frontier agg this round;
            # every later round prunes off the maintained bounds
            stats = self._bucket_stats(pending)
            info["refreshed"] = True  # bootstrap IS a refresh
        if (
            remaining is not None
            and 0 < remaining < prev_meta["pending"]  # full drain needs every bucket
            and stats is not None
            # supply-limited regime (post-budget eligible rows < the
            # capacity — review r4 finding): no prefix can ever fill
            # the capacity, so skip the attempts until a round fills it
            and prev_meta.get("capacity_filled", True)
        ):
            maxp_b, cnt_b = stats
            order_b = sorted(maxp_b, key=lambda b: (-maxp_b[b], b))
            target = _PENDING_PRUNE_SLACK * remaining
            # initial prefix: maxp-ranked buckets holding ≥ slack×
            # capacity candidate rows. That can undershoot — the top-k
            # rows live in the first j* buckets where j* = count of
            # buckets with maxp ≥ the true cutoff, and j* is not
            # derivable from the bounds — so the prefix GROWS
            # geometrically on a failed check (≤ log attempts, total
            # rows read bounded by a constant × the final prefix) and
            # degenerates to the full read when the frontier genuinely
            # needs every bucket (uniform top band).
            m = 0
            acc = 0
            while m < len(order_b) and acc < target:
                acc += cnt_b.get(order_b[m], 0)
                m += 1
            attempts = 0
            while m < len(order_b):
                prefix = order_b[:m]
                skipped = order_b[m:]
                attempts += 1
                pruned = self._assemble_pending(
                    *self._state_of(prev_meta, "pending")[:2], r - 1,
                    buckets=set(prefix),
                )
                cand = dequeue(
                    pruned, self.robots, cfg.default_budget, max_take=remaining
                ).persist()
                a = cand.agg(
                    F.count(F.lit(1)).alias("c"), F.min("priority").alias("mp")
                ).collect()[0]
                thresh = max(maxp_b[b] for b in skipped)
                # sound iff the capacity filled from the prefix AND the
                # worst selected priority strictly beats every skipped
                # bucket's bound (a tie could lose on canon_url order)
                if (
                    int(a["c"]) == remaining
                    and a["mp"] is not None
                    and float(a["mp"]) > thresh
                ):
                    info["buckets_read"] = len(prefix)
                    return cand, True, stats, info
                cand.unpersist()
                m = min(len(order_b), max(m * 4, 1))
            if attempts:
                info["prune_fallback"] = 1
        deq = dequeue(pending, self.robots, cfg.default_budget, max_take=remaining)
        return deq, False, stats, info

    def _dedupe_and_write_seen(
        self, r: int, pages: DataFrame, scope_hosts: DataFrame | None, fetched_total: int
    ) -> tuple[int, bool]:
        """Extract round r's links, keep those never seen before (bloom
        pre-probe + exact probe of the bloom positives) and append them
        as the seen delta — which doubles as the round's pending adds.
        Returns (new rows, whether the exact probe ran inverted)."""
        cfg = self.cfg
        link_src = pages
        if cfg.no_new_links:
            # reference no-new-links mode: page hrefs are NOT enqueued,
            # only redirect Location targets (mainCrawler.go:164-173)
            link_src = pages.filter(F.col("status_code").between(300, 307))
        cands = enqueue_rows(link_src, self.robots, scope_hosts, r)
        # persist: the bloom split consumes `tagged` twice (fresh +
        # suspects) — without the cache the extract/dedupe pipeline
        # runs twice per round
        lay = self._layout()
        if lay.bloom_table_probe:
            tagged = bloom_probe_cogroup(
                cands, self._read_filters(r - 1), lay.bloom, lay.bloom_m_bits
            ).persist()
        else:
            self._ensure_bloom(r - 1)
            tagged = bloom_partition_df(cands, self._bloom_broadcast()).persist()
        fresh = tagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
        raw_suspects = tagged.filter(F.col("maybe_seen")).drop("maybe_seen")
        # exact probe of the suspects: once the crawl is large, one
        # count job against the cached tagged set picks the join form.
        # A small suspect set inverts the anti-join to the broadcast
        # form (seen_anti_join), so the history is scanned, never
        # shuffled; otherwise each storage-bucketed base part is probed
        # on its own (seen_anti_join_parts) — the history side carries
        # zero Exchange and only the suspect set reshuffles, once. Bloom
        # stays hash-keyed (a colliding new URL just becomes a suspect
        # and resolves in the exact probe).
        small_suspects = (
            fetched_total >= _SUSPECT_COUNT_MIN_FETCHED
            and 0 < raw_suspects.count() <= _SUSPECT_BROADCAST_MAX
        )
        if small_suspects:
            suspects = seen_anti_join(raw_suspects, self._read_seen(r - 1, _SEEN_KEY))
        else:
            parts = self._read_seen_parts(r - 1, _SEEN_KEY)
            suspects = seen_anti_join_parts(raw_suspects, parts)
        new = _with_salt_cols(fresh.unionByName(suspects), cfg.n_salts)
        n_new = self._append_seen(new.select(*PENDING_COLS), r)
        tagged.unpersist()
        return n_new, small_suspects

    def _append_seen(self, df: DataFrame, r: int) -> int:
        """Append the pending-shaped ``df`` as round r's seen delta
        (``first_round`` = r) and return its row count, observed during
        the write — no extra count job. The delta carries the full
        pending shape (lineage incl.), so pending's adds are a
        column-pruned re-read of it, not a recompute."""
        obs = Observation(f"seen_{r}")
        self.store.append(
            df.withColumn("first_round", F.lit(r)).observe(
                obs, F.count(F.lit(1)).alias("rows")
            ),
            "seen",
            r,
        )
        return int(obs.get.get("rows") or 0)

    def _prune_stats_upkeep(
        self,
        r: int,
        prev_meta: dict,
        stats: tuple[dict, dict] | None,
        info: dict,
        pending: DataFrame,
        full_round: bool,
        n_new: int,
    ) -> tuple[tuple[dict, dict] | None, int]:
        """The per-bucket pruning bounds after round r: the round's
        starting ``stats`` max/sum-updated with its seen delta (the
        pending adds) by one O(delta) agg; removals are ignored, so they
        stay upper bounds. Never created from deltas alone (not an upper
        bound for untracked base rows): only round-0 init and the
        bootstrap create them. Returns (bounds or None, refresh round)."""
        refresh_round = int(prev_meta.get("pending_stats_refresh_round", 0))
        if stats is None:
            return None, refresh_round
        st_maxp, st_cnt = dict(stats[0]), dict(stats[1])
        if info.get("refreshed"):
            refresh_round = r
        elif info["prune_fallback"] and full_round and r - refresh_round >= 2:
            # a fallback means the stored bounds no longer rank the
            # buckets usefully (stale-high maxp after the top rows
            # were fetched) — re-derive them exactly from the
            # frontier the fallback already paid to read. Rate-
            # limited so a genuinely unprunable (uniform-top-band)
            # frontier doesn't pay a refresh scan every round.
            st_maxp, st_cnt = self._bucket_stats(pending)
            refresh_round = r
        if n_new:
            d_maxp, d_cnt = self._bucket_stats(
                self.store.read_snapshot(self.spark, "seen", r)
            )
            for b, mp in d_maxp.items():
                st_maxp[b] = max(st_maxp.get(b, mp), mp)
                st_cnt[b] = st_cnt.get(b, 0) + d_cnt[b]
        return (st_maxp, st_cnt), refresh_round

    def _extend_bloom(self, r: int, n_new: int) -> None:
        """Extend the filters with round r's seen delta (``n_new`` rows):
        a persisted filter delta in table-probe mode, else an OR into the
        driver-held filters once they exist."""
        delta = self.store.read_snapshot(self.spark, "seen", r)
        lay = self._layout()
        if lay.bloom_table_probe:
            self.store.append(
                build_filter_delta_df(delta, lay.bloom, lay.bloom_m_bits),
                "seen_filters",
                r,
            )
        elif self._bloom is not None and n_new:
            self._add_to_bloom(delta, n_new)

    def _run_round(self, r: int, scope_hosts: DataFrame | None, fetched_total: int) -> dict:
        cfg, store, phase = self.cfg, self.store, self._phase
        self._round_no, self._phases = r, {}
        with phase("dequeue"):
            prev_meta = store.meta(r - 1)
            prev_pending_n = prev_meta["pending"]
            # the round's global capacity (None = uncapacitated)
            caps = [cfg.round_capacity]
            if cfg.max_pages is not None:
                caps.append(cfg.max_pages - fetched_total)  # > 0: run() stops at 0
            remaining = min((c for c in caps if c is not None), default=None)
            pending = self._read_pending(r - 1)
            deq, deq_cached, stats, prune_info = self._dequeue(
                r, prev_meta, pending, remaining
            )
        with phase("fetch"):
            pages = fetch_stage(
                deq,
                cfg.world,
                cfg.fetch_tasks,
                decode_images=cfg.decode_images,
                follow=cfg.follow,
                dont_follow=cfg.dont_follow,
                http_endpoint=cfg.http_endpoint,
                no_new_links=cfg.no_new_links,
                load_resources=cfg.load_resources,
            )
            # free per-round metrics: observed during the write action itself
            obs = Observation(f"round_{r}")
            pages = pages.observe(
                obs,
                F.count(F.lit(1)).alias("fetched"),
                F.sum((F.col("status_code") == 200).cast("int")).alias("ok_200"),
                F.sum(F.col("status_code").between(300, 307).cast("int")).alias("redirects"),
                F.sum(F.col("error").isNotNull().cast("int")).alias("errors"),
                F.sum(F.col("img_phash").isNotNull().cast("int")).alias("images_decoded"),
                F.sum("resp_ms").alias("sum_resp_ms"),
            )
            store.append(pages, "pages", r)  # materializes the fetch exactly once
            if deq_cached:
                deq.unpersist()
            metrics = {k: (int(v) if v is not None else 0) for k, v in obs.get.items()}
        # free: observed during the write — no extra count job per round
        n_fetched = metrics.get("fetched", 0)
        if n_fetched == 0:
            # nothing dequeued → pending unchanged; carry the manifests,
            # watermarks and bounds forward instead of rewriting any bucket
            carry = {
                k: prev_meta[k]
                for k in ("pending_manifest", "pending_folded", "pending_bucket_rows",
                          *_SEEN_CARRY, "pending_bucket_maxp", "pending_bucket_cnt_ub",
                          "pending_stats_refresh_round", "filters_base_round")
                if prev_meta.get(k) is not None
            }
            store.commit(r, {"fetched_total": fetched_total, "pending": prev_pending_n,
                             **carry, "fetched_round": 0, "phases": self._phases})
            return {"fetched": 0, "stop": True}
        # NOTE: no separate crawl-log write — the pages table already
        # carries (canon_url, status_code, host, depth, priority) and
        # the round number is in the partition path; crawl_log() is a
        # column-pruned read of pages. One fewer job per round: constant
        # per-round cost is the Amdahl serial fraction of the whole
        # engine, so every removed fixed job buys scaling efficiency.
        with phase("dedupe"):
            pages = store.read_snapshot(self.spark, "pages", r)
            n_new, small_suspects = self._dedupe_and_write_seen(
                r, pages, scope_hosts, fetched_total
            )
        with phase("prune_stats"):
            # an uncapacitated round can never prune (pruning needs a
            # capacity), so it skips the upkeep agg and DROPS the bounds
            # from its commit (carried un-maintained they would break
            # the upper-bound invariant); a later capacitated round
            # bootstraps fresh ones
            stats, refresh_round = self._prune_stats_upkeep(
                r, prev_meta, stats if remaining is not None else None,
                prune_info, pending, n_fetched >= (remaining or 0), n_new,
            )
        with phase("compact_pending"):
            pending_meta = self._maybe_compact_pending(r, prev_meta, stats)
        # dequeued rows == pages (1:1) and the adds are exactly the seen
        # delta, so the count is arithmetic — no frontier scan
        n_pending = prev_pending_n - n_fetched + n_new
        with phase("bloom_delta"):
            self._extend_bloom(r, n_new)
        with phase("compact_seen"):
            seen_meta = self._maybe_compact_seen(r)  # fold or carry forward
            fbase = self._maybe_compact_filters(r)
            if fbase is None:
                fbase = prev_meta.get("filters_base_round")
        store.commit(
            r,
            {
                "fetched_total": fetched_total + n_fetched,
                "pending": n_pending,
                **pending_meta,
                "fetched_round": n_fetched,
                "metrics": metrics,
                **seen_meta,
                "filters_base_round": fbase,
                # supply regime marker for the prune guard: did this
                # round's dequeue fill its capacity?
                "capacity_filled": remaining is None or n_fetched >= remaining,
                **(
                    {
                        "pending_bucket_maxp": stats[0],
                        "pending_bucket_cnt_ub": stats[1],
                        "pending_stats_refresh_round": refresh_round,
                    }
                    if stats is not None
                    else {}
                ),
                "phases": self._phases,
            },
        )
        return {
            "fetched": n_fetched,
            "pending": n_pending,
            "pending_rewritten": pending_meta["pending_rewritten"],
            "seen_rewritten": seen_meta.get("seen_rewritten", 0),
            "pending_before": prev_pending_n,
            # O(contributing buckets) evidence for the pruned read:
            # buckets actually assembled for the dequeue (None = full)
            "pending_buckets_read": prune_info["buckets_read"],
            "prune_fallback": prune_info["prune_fallback"],
            # whether the exact seen probe ran as the shuffle-free
            # broadcast-inverted join this round (small suspect set;
            # otherwise the zero-history-Exchange storage-partitioned
            # chain ran)
            "seen_probe_inverted": small_suspects,
            "stop": n_pending == 0,
        }

    # ------------------------------------------------------------- run ----

    def run(self) -> dict:
        cfg, store = self.cfg, self.store
        if store.last_round() is None:
            self._init_round0()
        last = store.last_round()
        scope_hosts = None
        if self._layout().scope_seed_hosts:
            # seed hosts = round-0 seen table (exact under resume too);
            # cached: it is re-joined every round
            scope_hosts = (
                store.read_snapshot(self.spark, "seen", 0)
                .select("host")
                .distinct()
                .cache()
            )
        stats: dict = {"rounds": last, "round_times": []}
        for r in range(last + 1, cfg.max_rounds + 1):
            prev = store.meta(r - 1)
            fetched_total = prev["fetched_total"]
            if prev.get("pending") == 0:
                break
            if cfg.max_pages is not None and fetched_total >= cfg.max_pages:
                break
            if r - 1 > 0 and prev.get("fetched_round") == 0:
                # stalled stop: the prior invocation concluded with an
                # empty round (pending exists but nothing dequeuable —
                # e.g. budget-0 hosts). The dequeue is deterministic
                # under a pinned config, so re-running would only
                # append another spurious empty committed round per
                # invocation, breaking exact-resume (O77) and the
                # simulator's rounds parity.
                break
            t0 = time.time()
            out = self._run_round(r, scope_hosts, fetched_total)
            stats["round_times"].append(
                {"round": r, "seconds": round(time.time() - t0, 2),
                 **dict.fromkeys(_ROUND_TIME_KEYS), **out, "phases": self._phases}
            )
            stats["rounds"] = r
            if out.get("stop"):
                break
        stats["fetched_total"] = store.meta(store.last_round())["fetched_total"]
        if scope_hosts is not None:
            scope_hosts.unpersist()
        return stats

    # ------------------------------------------------------- accessors ----

    def crawl_log(self) -> DataFrame:
        """Crawl log with the derived sequence number, projected from
        the pages table (column-pruned parquet scan — body never read;
        the round comes from the ``round=K`` partition path). The total
        order is pinned as (round, priority desc, canon_url); seq is an
        analytics-time window, never part of the crawl hot path."""
        from pyspark.sql import Window

        df = self.store.read_appends(self.spark, "pages", self.store.last_round() or 0)
        if df is None:
            # zero pages ever fetched (all seeds robots-blocked / empty
            # seed list): an EMPTY log, not None — the simulator oracle
            # returns [] for the same inputs and callers chain
            # .collect()/.filter() directly
            return self.spark.createDataFrame(
                [],
                "round int, seq int, canon_url string, status_code int, "
                "host string, depth int",
            )
        df = df.select(
            # anchored to the file's own partition dir (…/round=K/<file>)
            # so a state_dir path that itself contains "round=" can't
            # shadow the real partition value
            F.regexp_extract(F.input_file_name(), r"round=(\d+)/[^/]+$", 1)
            .cast("int")
            .alias("round"),
            "canon_url", "status_code", "host", "depth", "priority",
        )
        # distributed per-round rank (VERDICT r3 item 9): a 10^8-page
        # round must not sort in one task, so seq is computed as the
        # standard range-partitioned rank — range-partition by the
        # total order (round asc, priority desc, canon_url asc), rank
        # WITHIN each (round, partition) slice, and add the count of
        # the round's rows in earlier partitions. Range partitioning
        # guarantees every row of partition i precedes every row of
        # partition j>i in that order, so offset+rank is the exact
        # global rank. The offset table is ≤ rounds×npart rows
        # (broadcast); both consumers of `ranked` hang off the same
        # range Exchange. __pid is only meaningful if both consumers
        # see the SAME partitioning instance — RangePartitioner
        # re-samples boundaries with an rdd.id-derived seed on every
        # execution, so relying on ReusedExchange alone would corrupt
        # seq whenever the planner doesn't (or can't) reuse it. The
        # localCheckpoint pins the partitioned data once: both
        # branches read the identical materialized partitions, and an
        # executor loss fails loudly instead of recomputing into a
        # different partitioning (review r4 finding).
        npart = max(16, self.spark.sparkContext.defaultParallelism)
        order = [F.desc("priority"), F.asc("canon_url")]
        ranked = (
            df.repartitionByRange(npart, F.asc("round"), *order)
            .withColumn("__pid", F.spark_partition_id())
            .localCheckpoint(eager=False)
        )
        w = Window.partitionBy("round", "__pid").orderBy(*order)
        ranked = ranked.withColumn("__rk", F.row_number().over(w))
        cum = (
            Window.partitionBy("round")
            .orderBy("__pid")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offs = (
            ranked.groupBy("round", "__pid")
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .withColumn("__off", F.coalesce(F.sum("__cnt").over(cum), F.lit(0)))
            .select("round", "__pid", "__off")
        )
        return (
            ranked.join(F.broadcast(offs), ["round", "__pid"])
            .withColumn("seq", (F.col("__off") + F.col("__rk")).cast("int"))
            .select("round", "seq", "canon_url", "status_code", "host", "depth")
            .orderBy("round", "seq")
        )

    def seen(self) -> DataFrame:
        return self._read_seen(self.store.last_round() or 0)

    def lineage(self) -> DataFrame:
        """Per-partition lineage (north_rule): for every pending bucket
        with a compacted base, the round whose compaction wrote it — the
        bucket-level provenance the merge-on-read reader resolves
        against. A bucket has a row only once a compaction has written
        its base; before that its pending is read from the seen deltas
        alone. Rows: (pbucket, written_round, as_of_round)."""
        last = self.store.last_round() or 0
        meta = self.store.meta(last)
        manifest = self._state_of(meta, "pending")[0]
        rows = [
            {"pbucket": b, "written_round": r, "as_of_round": last}
            for b, r in sorted(manifest.items())
        ]
        schema = "pbucket int, written_round int, as_of_round int"
        return self.spark.createDataFrame(rows, schema=schema)

    def round_metrics(self) -> DataFrame:
        """Per-round crawl metrics from the commit markers (observed
        during the writes — zero extra jobs at crawl time): fetched,
        ok_200, redirects, errors, images_decoded, sum_resp_ms, plus
        frontier accounting and the round's ``phases`` wall seconds. The
        ops-dashboard twin of crawl_monitor."""
        rows = []
        for r in self.store.committed_rounds():
            if r == 0:
                continue
            m = self.store.meta(r)
            met = m.get("metrics", {})
            rows.append(
                {
                    "round": r,
                    "fetched": int(m.get("fetched_round", 0)),
                    "ok_200": int(met.get("ok_200", 0)),
                    "redirects": int(met.get("redirects", 0)),
                    "errors": int(met.get("errors", 0)),
                    "images_decoded": int(met.get("images_decoded", 0)),
                    "sum_resp_ms": int(met.get("sum_resp_ms", 0)),
                    "pending_after": int(m.get("pending", 0)),
                    "pending_rewritten": int(m.get("pending_rewritten", 0)),
                    "phases": {k: float(v) for k, v in m.get("phases", {}).items()},
                }
            )
        schema = (
            "round int, fetched bigint, ok_200 bigint, redirects bigint, "
            "errors bigint, images_decoded bigint, sum_resp_ms bigint, "
            "pending_after bigint, pending_rewritten bigint, "
            "phases map<string,double>"
        )
        return self.spark.createDataFrame(rows, schema=schema)

    def pages(self) -> DataFrame:
        df = self.store.read_appends(self.spark, "pages", self.store.last_round() or 0)
        if df is None:
            # same empty-not-None contract as crawl_log()
            from ..operators.fetch import PAGE_SCHEMA

            return self.spark.createDataFrame([], PAGE_SCHEMA)
        return df
