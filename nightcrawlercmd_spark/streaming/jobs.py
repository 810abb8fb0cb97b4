"""Structured Streaming jobs over the engine's outputs.

The crawl loop itself is driver-side rounds (the frontier feeds itself
— SURVEY.md O73), but its *outputs* are append-only tables that stream
naturally. Two jobs:

* ``crawl_monitor`` — a file-source stream over the pages table with a
  custom stateful operator (``applyInPandasWithState``): per-host
  cumulative fetch counts and an exponential moving average of
  response time, state carried across micro-batches. This is the
  pattern a live crawl-ops dashboard runs on.
* ``events_windowed_counts`` — event-time windowed aggregation with a
  watermark for late data (SURVEY.md O80 noted the reference has no
  event-time; the engine supports it anyway for stream tables like the
  driver's ``events``). ``availableNow`` trigger → deterministic, and
  the batch twin is the oracle.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.fetch import PAGE_SCHEMA
from ..sources.tableio import read_parquet_file

MONITOR_OUTPUT_SCHEMA = (
    "host string, pages bigint, errors bigint, ema_resp_ms double, batches int"
)
MONITOR_STATE_SCHEMA = "pages bigint, errors bigint, ema double, batches int"

_EMA_ALPHA = 0.2


def _monitor_fn(
    key: Tuple[str], batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        pages, errors, ema, nb = state.get
    else:
        pages, errors, ema, nb = 0, 0, None, 0
    # EMA is order-sensitive; shuffle delivery order is not
    # deterministic, so fold in a pinned order (canon_url) — the same
    # pages always produce the same ema_resp_ms. The sort must happen
    # over the WHOLE micro-batch: groups larger than one Arrow chunk
    # arrive as several pdfs in nondeterministic order, so sorting each
    # chunk independently would still leak arrival order into the fold.
    chunks = [c for c in batches if len(c)]
    pdf = pd.concat(chunks, ignore_index=True) if chunks else None
    if pdf is not None:
        pages += len(pdf)
        errors += int(pdf["error"].notna().sum())
        pdf = pdf.sort_values("canon_url")
        for v in pdf["resp_ms"]:
            ema = float(v) if ema is None else (1 - _EMA_ALPHA) * ema + _EMA_ALPHA * float(v)
    nb += 1
    state.update((pages, errors, ema, nb))
    yield pd.DataFrame(
        [{"host": key[0], "pages": pages, "errors": errors,
          "ema_resp_ms": ema, "batches": nb}]
    )


def crawl_monitor(
    spark: SparkSession,
    state_dir: str,
    checkpoint: str,
    query_name: str = "crawl_monitor",
    max_files_per_trigger: int | None = None,
):
    """Stream the pages table → per-host stateful stats (memory sink;
    availableNow so tests drain deterministically)."""
    src = (
        spark.readStream.schema(PAGE_SCHEMA)
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger:
        src = src.option("maxFilesPerTrigger", str(max_files_per_trigger))
    pages = src.parquet(f"{state_dir}/pages").select(
        # prune BEFORE the state shuffle: the monitor needs 4 columns,
        # not the body blobs / children structs of the full page rows
        "host", "canon_url", "resp_ms", "error"
    )
    stats = pages.groupBy("host").applyInPandasWithState(
        _monitor_fn,
        outputStructType=MONITOR_OUTPUT_SCHEMA,
        stateStructType=MONITOR_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        stats.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _events_stream_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared stream source over the driver's events table.
    events.parquet is a single file; the file stream source wants a
    directory → stream the dir with a glob filter. testdata ts is
    TIMESTAMP_NTZ; watermarks need TIMESTAMP (session TZ is pinned to
    UTC so the instants are identical)."""
    schema = read_parquet_file(spark, f"{sf_dir}/events.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def events_windowed_counts_stream(
    spark: SparkSession, sf_dir: str, checkpoint: str, query_name: str = "ev_win"
):
    """10-minute tumbling windows over events.ts with a 5-minute
    watermark, per event_type; availableNow drains the parquet once.

    Append-mode contract: a window is emitted only once the final
    watermark (max event ts − 5 min) passes its END. Windows still open
    when the source drains stay in state and are NOT emitted — so
    equality with ``events_windowed_counts_batch`` holds only for the
    watermark-closed prefix. Compare on windows whose end ≤ final
    watermark (the driver's events table satisfies this for all but at
    most the trailing window)."""
    src = _events_stream_src(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            # decimal sum: micro-batch accumulation order must not be
            # able to move the result across the rounding boundary
            # (same hardening as user_sessions_stream)
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("win_start"), "event_type", "cnt", "sum_value"
        )
    )
    return (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def user_sessions_stream(
    spark: SparkSession, sf_dir: str, checkpoint: str, query_name: str = "ev_sessions"
):
    """Stateful session windows on a stream: 30-minute inactivity gap
    per user with a watermark (Spark's native session_window state
    store does the merging across micro-batches). availableNow +
    append → once the stream drains, the memory sink equals the batch
    twin (plans/queries.q_sessionize_events)."""
    src = _events_stream_src(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "1 minute")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("sw.start")).alias("session_start"),
            "n_events",
            "sum_value",
        )
    )
    return (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup(
    spark: SparkSession,
    src_dir: str,
    checkpoint: str,
    schema,
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    query_name: str = "dedup_stream",
):
    """Streaming dedup with bounded state: emit the first occurrence of
    each key, drop re-deliveries arriving within the watermark.
    ``dropDuplicatesWithinWatermark`` expires key state once the
    watermark passes, so state size is O(keys per watermark window) —
    the form that survives an unbounded stream, unlike plain
    ``dropDuplicates`` whose state grows forever. This is the streaming
    twin of the engine's URL-seen anti-join (a re-announced URL inside
    the redelivery window is dropped exactly once)."""
    src = (
        spark.readStream.schema(schema)
        .parquet(src_dir)
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(list(key_cols))
    )
    return (
        src.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def events_windowed_counts_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin — the oracle for the streaming job."""
    ev = read_parquet_file(spark, f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            # decimal sum: micro-batch accumulation order must not be
            # able to move the result across the rounding boundary
            # (same hardening as user_sessions_stream)
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
            ).alias("sum_value"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "cnt", "sum_value")
    )


ASOF_OUTPUT_SCHEMA = (
    "click_id bigint, user_id bigint, click_epoch bigint, attributed_view bigint"
)
ASOF_STATE_SCHEMA = "last_us bigint, last_id bigint"


def _asof_fn(
    key: Tuple[int], batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    # explicit has-state flag: a (-1, -1) sentinel would collide with
    # legitimate pre-epoch timestamps (us < 0) and drop those views
    have = state.exists
    last_us, last_id = state.get if have else (None, None)
    out = []
    pdf = pd.concat(list(batches), ignore_index=True)
    # views sort before clicks at equal ts (a click attributes to a
    # same-timestamp view), then event_id ascending so the newest view
    # wins ties
    pdf["_is_click"] = (pdf["event_type"] == "click").astype(int)
    pdf = pdf.sort_values(["ts", "_is_click", "event_id"])
    for r in pdf.itertuples():
        us = r.ts.value // 1_000  # pandas ns → µs, full fidelity
        if r.event_type == "view":
            if not have or us > last_us or (us == last_us and r.event_id > last_id):
                last_us, last_id = us, int(r.event_id)
                have = True
        elif r.event_type == "click":
            out.append(
                {
                    "click_id": int(r.event_id),
                    "user_id": int(key[0]),
                    "click_epoch": us // 1_000_000,
                    "attributed_view": last_id if have else None,
                }
            )
    if have:
        state.update((last_us, last_id))
    yield pd.DataFrame(out, columns=["click_id", "user_id", "click_epoch", "attributed_view"])


def asof_attribution_stream(
    spark: SparkSession,
    src_dir: str,
    checkpoint: str,
    schema,
    query_name: str = "asof_stream",
    max_files_per_trigger: int | None = 1,
):
    """Streaming as-of enrichment: attribute each click to the user's
    most recent view, with the latest-view watermark carried across
    micro-batches in ``applyInPandasWithState`` (state = one (ts, id)
    pair per user — O(users), never O(events)). The custom stateful
    operator the batch twin (plans/queries.q_asof_attribution) cannot
    express incrementally: a click in batch N attributes to a view
    seen in batch 1 without ever re-reading batch 1.

    Requires micro-batch boundaries that respect event time per user
    (files pre-split on timestamp ranges) — the same contract as any
    log-shipped stream. availableNow + update mode → drains
    deterministically in tests."""
    src = spark.readStream.schema(schema)
    if max_files_per_trigger:
        src = src.option("maxFilesPerTrigger", str(max_files_per_trigger))
    ev = (
        src.parquet(src_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("event_id", "user_id", "ts", "event_type")
    )
    out = ev.groupBy("user_id").applyInPandasWithState(
        _asof_fn,
        outputStructType=ASOF_OUTPUT_SCHEMA,
        stateStructType=ASOF_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        out.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
