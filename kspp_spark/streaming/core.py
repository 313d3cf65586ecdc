"""Streaming overlays of the batch operators (SURVEY.md §2.7).

Same semantics as the batch forms in operators/ — each function here is
the `readStream` face of the same logical plan, with watermarking for
the reference's low-watermark/buffering-delay behavior
(topology.cpp:236-253, cluster_config.h:44-46) and update-mode output
for punctuate-style periodic emission (count.h:92-101).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _event_time_watermarks(df: DataFrame) -> list:
    """Every EventTimeWatermark node of `df`'s analyzed plan (a batch
    plan has none: analysis removes them)."""
    found, todo = [], [df._jdf.queryExecution().analyzed()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "EventTimeWatermark":
            found.append(node)
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return found


def with_watermark(df: DataFrame, event_time: str, delay: str) -> DataFrame:
    """The reference's min_buffering_ms: out-of-orderness tolerated up
    to `delay`; older records are late (dropped by stateful ops —
    mem_windowed_store.h:132-135's late-data drop).

    Composable: Spark refuses to start a query that redefines a
    watermark, so an input that already carries one on `event_time`
    with the same delay is returned as is, and a different column or
    delay raises ValueError naming both."""
    existing = _event_time_watermarks(df)
    if not existing:
        return df.withWatermark(event_time, delay)
    intervals = df.sparkSession._jvm.org.apache.spark.sql.catalyst.util.IntervalUtils
    wanted = intervals.fromIntervalString(delay)
    for node in existing:
        column, have = node.eventTime().name(), node.delay()
        if column != event_time or not have.equals(wanted):
            raise ValueError(
                f"input already has a watermark on {column!r} with delay "
                f"{have.toString()!r}; cannot redefine it as {event_time!r} "
                f"with delay {delay!r}"
            )
    return df


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def use_rocksdb_state(spark, changelog_checkpointing: bool = True) -> None:
    """Switch streaming state to the RocksDB provider — the Spark
    analog of the reference's rocksdb_store/rocksdb_windowed_store
    tier (state_stores/rocksdb_store.h:19-281): keyed state spills to
    local disk instead of living on the executor heap, which is what
    makes billions of keys per executor viable at 100 TB. Changelog
    checkpointing ships deltas (not full SST snapshots) to the
    checkpoint location — the analog of the reference's incremental
    offset+store persistence. Call BEFORE starting queries; applies to
    queries started from this session."""
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true" if changelog_checkpointing else "false",
    )


def count_by_key_stream(df: DataFrame, key: str | list[str], out: str = "cnt") -> DataFrame:
    """Streaming count_by_key. Run in 'update' output mode with a
    processing-time trigger: each trigger emits changed keys — the
    punctuate snapshot restricted to deltas (documented deviation:
    SURVEY.md §7 hard-part #2; 'complete' mode gives the literal full
    snapshot for small key spaces)."""
    keys = [key] if isinstance(key, str) else list(key)
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(out))


def count_by_value_stream(
    df: DataFrame, key: str | list[str], value: Column | str, out: str = "total"
) -> DataFrame:
    keys = [key] if isinstance(key, str) else list(key)
    v = F.col(value) if isinstance(value, str) else value
    return df.groupBy(*keys).agg(F.sum(v).alias(out))


def ktable_stream(
    df: DataFrame,
    key: str | list[str],
    value_cols: list[str],
    event_time: str = "event_time",
) -> DataFrame:
    """Streaming latest-per-key (LWW by event_time) — the ktable
    changelog materialization, emitting updates per micro-batch in
    update mode."""
    keys = [key] if isinstance(key, str) else list(key)
    payload = F.struct(F.col(event_time), *[F.col(c) for c in value_cols])
    agg = df.groupBy(*keys).agg(F.max(payload).alias("_w"))
    return agg.select(
        *keys,
        *[F.col(f"_w.{c}").alias(c) for c in value_cols],
        F.col(f"_w.{event_time}").alias(event_time),
    )


def windowed_count_stream(
    df: DataFrame,
    event_time: str,
    slot_width: str,
    watermark_delay: str,
    key: str | list[str] | None = None,
    out: str = "cnt",
) -> DataFrame:
    """Tumbling-window streaming count with watermark eviction — the
    mem_windowed_store retention model: slots finalize once the
    watermark passes; late records beyond the delay are dropped
    (exactly the reference's oldest-kept-slot drop)."""
    keys = [] if key is None else ([key] if isinstance(key, str) else list(key))
    wm = with_watermark(df, event_time, watermark_delay)
    w = F.window(F.col(event_time), slot_width)
    return (
        wm.groupBy(w.alias("_w"), *keys)
        .agg(F.count(F.lit(1)).alias(out))
        .select(
            F.col("_w.start").alias("window_start"),
            F.col("_w.end").alias("window_end"),
            *keys,
            out,
        )
    )


def dedup_stream(
    df: DataFrame,
    keys: str | list[str],
    event_time: str = "event_time",
    watermark_delay: str | None = None,
) -> DataFrame:
    """Streaming exact deduplication — the `readStream` face of
    functions/dedup.py:exact_dedup (first record per key wins).

    With a watermark delay, state per key is EVICTED once the watermark
    passes (dropDuplicatesWithinWatermark): duplicates are only
    suppressed within the out-of-orderness window, which is the form
    that survives unbounded streams — state is O(keys-per-window), not
    O(all keys ever). Without a delay, dropDuplicates keeps state
    forever (only safe for bounded key spaces)."""
    ks = [keys] if isinstance(keys, str) else list(keys)
    if watermark_delay is None:
        return df.dropDuplicates(ks)
    return with_watermark(df, event_time, watermark_delay).dropDuplicatesWithinWatermark(ks)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on,
    event_time_left: str,
    event_time_right: str,
    delay: str,
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join — the scalable form of the
    reference's co-partitioned stream joins when BOTH sides update.
    State is bounded by the watermark delay on each side."""
    l = with_watermark(left, event_time_left, delay)
    r = with_watermark(right, event_time_right, delay)
    return l.join(r, on=on, how=how)
