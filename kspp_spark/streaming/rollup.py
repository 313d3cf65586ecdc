"""Continuous aggregate (streaming materialized rollup).

The streaming face of operators/aggregates.cascade_rollup: each
micro-batch aggregates ONLY its own rows to the finest grain and
appends those partials to a parquet state directory; reading the
current rollup merges partials per window (the same re-aggregation
exprs that power the batch cascade's coarser grains) and then cascades
upward. This is the timescale-style continuous-aggregate pattern on
Spark primitives:

- per-batch work is O(batch), never a rescan of history;
- state is pre-aggregated partials — orders of magnitude smaller than
  the raw stream;
- partials live in the epoch-fold store (streaming/epochs), so
  checkpoint-recovery replays overwrite rather than double-append;
- the snapshot is algebraically exact: decomposable measures
  (count/sum/min/max) merge associatively, so partials from any batch
  split produce the identical rollup (verified against the batch
  cascade in tests/test_streaming.py).

Reference: no kspp equivalent (count.h punctuates full snapshots of a
single key space; this materializes multi-grain time rollups) —
beyond-reference north-star operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kspp_spark.operators.aggregates import rollup_agg_exprs
from kspp_spark.streaming.epochs import (
    fold_stream,
    guard_epoch_monotonic,
    require_fresh,
    write_epoch,
)


def rollup_partials_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_dir: str,
    event_time: str,
    keys: list[str],
    measures: dict[str, tuple[str, str]],
    grain: str = "hour",
) -> None:
    """foreachBatch body: aggregate the micro-batch to finest-grain
    partials and write them as this trigger's epoch (reset-guarded,
    replay-idempotent)."""
    guard_epoch_monotonic(
        batch_df.sparkSession, epoch_id, "rollup_partials_batch", state_dir
    )
    first_aggs, _ = rollup_agg_exprs(measures)
    partials = batch_df.groupBy(
        F.date_trunc(grain, F.col(event_time)).alias("window_start"), *keys
    ).agg(*first_aggs)
    write_epoch(partials, state_dir, epoch_id)


def rollup_stream(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint: str,
    event_time: str,
    keys: list[str],
    measures: dict[str, tuple[str, str]],
    grain: str = "hour",
):
    """Wire a stream into the continuous-rollup loop. Returns the
    started StreamingQuery; finest-grain partials accumulate in
    state_dir and `rollup_snapshot` serves the current multi-grain
    rollup."""
    return fold_stream(
        stream_df,
        checkpoint,
        lambda batch_df, epoch_id: rollup_partials_batch(
            batch_df, epoch_id, state_dir, event_time, keys, measures, grain
        ),
    )


def rollup_snapshot(
    spark,
    state_dir: str,
    keys: list[str],
    measures: dict[str, tuple[str, str]],
    grains: tuple[str, ...] = ("hour", "day"),
) -> DataFrame:
    """Current multi-grain rollup from the accumulated partials:
    merge partials per finest window (re-agg exprs — exact for
    decomposable measures), then cascade coarser grains from the
    merged finest grain exactly like the batch cascade_rollup. Output
    schema matches cascade_rollup: (grain, window_start, *keys,
    *measures)."""
    _, re_aggs = rollup_agg_exprs(measures)
    partials = spark.read.parquet(state_dir).drop("epoch")
    cur = partials.groupBy("window_start", *keys).agg(*re_aggs)
    out_cols = ["window_start", *keys, *measures]
    frames = [cur.select(F.lit(grains[0]).alias("grain"), *out_cols)]
    for g in grains[1:]:
        cur = cur.groupBy(
            F.date_trunc(g, F.col("window_start")).alias("window_start"), *keys
        ).agg(*re_aggs)
        frames.append(cur.select(F.lit(g).alias("grain"), *out_cols))
    result = frames[0]
    for f in frames[1:]:
        result = result.unionByName(f)
    return result


def rollup_bootstrap(
    history_df: DataFrame,
    state_dir: str,
    event_time: str,
    keys: list[str],
    measures: dict[str, tuple[str, str]],
    grain: str = "hour",
) -> None:
    """Bootstrap the continuous rollup from HISTORICAL data (the
    warehouse-to-stream migration move): one finest-grain aggregation over
    the history lands as the epoch=-1 partial; a fresh stream's
    epochs (0, 1, ...) then merge with it through the normal
    snapshot re-aggregation — exact for decomposable measures even
    when history and stream overlap a window. Refuses non-fresh
    directories."""
    require_fresh(history_df.sparkSession, "rollup_bootstrap", state_dir=state_dir)
    rollup_partials_batch(
        history_df, -1, state_dir, event_time, keys, measures, grain
    )
