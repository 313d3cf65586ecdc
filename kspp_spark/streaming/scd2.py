"""Streaming SCD type-2: incremental dimension-history maintenance.

The streaming face of operators/aggregates.scd2_history: each
micro-batch folds its changes into the OPEN versions only — newly
closed intervals append to a history area, the new open set replaces
the state snapshot — so per-trigger work is O(batch + open keys),
never a recompute over all history. Both areas live in the epoch-fold
store (streaming/epochs: layout, reset guards, stream wiring).

Correctness window: a change folds correctly as long as it is not
older than an ALREADY-CLOSED interval of its key (closed history is
immutable). Changes may arrive out of order relative to the open
version — the per-key window recompute inside each fold handles that —
but data late enough to precede a closed interval needs the batch
operator over the full changelog. This is the standard warehouse
trade; the reference's LWW stores simply drop such records
(mem_store.h:75-77), so this is strictly more permissive.

Reference: no kspp equivalent (ktable keeps latest only) —
beyond-reference north-star operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kspp_spark.io import fs_delete
from kspp_spark.operators.aggregates import scd2_history
from kspp_spark.streaming.epochs import (
    epoch_dirs,
    fold_stream,
    guard_epoch_monotonic,
    require_fresh,
    write_epoch,
)


# the module-level name the prior-state listing goes through (tests
# substitute it to inject an unprunable snapshot)
_epoch_dirs = epoch_dirs


def scd2_fold_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_dir: str,
    history_dir: str,
    key: str | list[str],
    value_cols: list[str],
    event_time: str = "event_time",
    seq: str | None = None,
    tombstone_col: str | None = None,
    keep_state_epochs: int = 2,
) -> None:
    """foreachBatch body: (prior open versions ∪ batch changes) -> one
    per-key scd2 window pass -> closed intervals append to
    history/epoch=<id>, surviving open versions replace
    state/epoch=<id>. Reads ONLY the newest prior state epoch (the
    state snapshot is self-contained); prunes state epochs older than
    `keep_state_epochs` behind the current one."""
    spark = batch_df.sparkSession
    keys = [key] if isinstance(key, str) else list(key)
    if tombstone_col and tombstone_col not in value_cols:
        # state persists value_cols only; a standalone delete-flag
        # column could not survive the fold's round trip
        raise ValueError(
            "streaming scd2 fold: tombstone_col must be one of value_cols"
        )
    cols = [*keys, *value_cols, event_time, *([seq] if seq else [])]
    changes = batch_df.select(*cols)

    # retained history counts too (state_dir pruned, history_dir kept):
    # a reset would otherwise OVERWRITE immutable history epochs
    guard_epoch_monotonic(spark, epoch_id, "scd2_fold_batch", state_dir, history_dir)
    # strictly-before epochs only: a checkpoint-recovery replay of
    # epoch N (whose own state N already exists) rebuilds from N-1
    epochs = [(e, p) for e, p in _epoch_dirs(spark, state_dir) if e < int(epoch_id)]
    if epochs:
        prior = spark.read.parquet(epochs[-1][1])
        open_rows = prior.select(
            *keys,
            *value_cols,
            F.col("valid_from").alias(event_time),
            *([seq] if seq else []),
        )
        changes = changes.unionByName(open_rows)

    versioned = scd2_history(
        changes,
        key=keys,
        value_cols=value_cols,
        event_time=event_time,
        seq=seq,
        tombstone_col=tombstone_col,
    ).localCheckpoint(eager=True)
    # ONE materialized evaluation feeds both writes. cache() is not
    # enough: caching is best-effort, and an evicted block would let the
    # two actions re-execute the fold independently — an equal-timestamp
    # tie (no seq) could then resolve differently between history and
    # state, leaving a version both closed and open (or neither).
    # localCheckpoint severs lineage: a lost block fails the trigger
    # (and checkpoint recovery replays it) instead of recomputing.
    closed = versioned.filter(F.col("valid_to").isNotNull()).drop("is_current")
    open_new = versioned.filter(F.col("valid_to").isNull()).drop(
        "valid_to", "is_current"
    )
    # seq must ride along in state so later folds keep the tiebreak;
    # equal (key, ts) collisions keep the max seq (the version that won)
    if seq:
        seq_src = changes.groupBy(
            *keys, F.col(event_time).alias("valid_from")
        ).agg(F.max(seq).alias(seq))
        open_new = open_new.join(seq_src, [*keys, "valid_from"], "left")
    write_epoch(closed, history_dir, epoch_id)
    write_epoch(open_new, state_dir, epoch_id)
    # (the localCheckpoint blocks are released by the ContextCleaner
    # once `versioned` goes out of scope — no explicit unpersist)
    # prune old state snapshots (each is self-contained); a failed
    # delete only warns: stale snapshots are inert
    for e, p in epochs[:-keep_state_epochs] if keep_state_epochs else []:
        fs_delete(spark, p, "an old scd2 state snapshot")


def scd2_stream(
    stream_df: DataFrame,
    state_dir: str,
    history_dir: str,
    checkpoint: str,
    **kwargs,
):
    """Wire a changelog stream into the SCD2 fold loop. Returns the
    started StreamingQuery; `scd2_snapshot` serves the full history."""
    return fold_stream(
        stream_df,
        checkpoint,
        lambda batch_df, epoch_id: scd2_fold_batch(
            batch_df, epoch_id, state_dir=state_dir, history_dir=history_dir,
            **kwargs,
        ),
    )


def scd2_snapshot(
    spark, state_dir: str, history_dir: str, seq: str | None = None
) -> DataFrame:
    """Current full SCD2 view: all closed intervals (immutable history
    epochs) plus the newest open set with valid_to NULL / is_current
    TRUE — the same schema as the batch scd2_history. Pass the same
    `seq` as the fold so its state-plumbing column is dropped."""
    # LIST ORDER MATTERS under a concurrently-running fold: state
    # FIRST, then history. The fold writes history/epoch=N before
    # state/epoch=N; listing history first could miss epoch N's
    # closed intervals while the subsequent state listing already sees
    # state N (which no longer holds them) — versions closed at N
    # would vanish from the snapshot. Listing state first pairs state
    # N-1 (or N) with history <= that epoch, which is always a
    # consistent view; the e <= newest_state filter handles the
    # crash-between-writes case the same way.
    state_epochs = _epoch_dirs(spark, state_dir)
    hist_epochs = _epoch_dirs(spark, history_dir)
    if state_epochs:
        newest_state = state_epochs[-1][0]
        hist_epochs = [(e, p) for e, p in hist_epochs if e <= newest_state]
    closed = (
        spark.read.parquet(*[p for _, p in hist_epochs]).withColumn(
            "is_current", F.lit(False)
        )
        if hist_epochs
        else None
    )
    open_set = None
    if state_epochs:
        open_set = spark.read.parquet(state_epochs[-1][1])
        if seq:
            open_set = open_set.drop(seq)
        # valid_to must match valid_from's type (the batch operator
        # supports any orderable event_time, e.g. bigint epoch-millis —
        # a hardcoded timestamp cast would break the unionByName)
        vf_type = open_set.schema["valid_from"].dataType
        open_set = open_set.withColumn(
            "valid_to", F.lit(None).cast(vf_type)
        ).withColumn("is_current", F.lit(True))
    if closed is None and open_set is None:
        raise ValueError("no scd2 state or history found")
    if closed is None:
        return open_set
    if open_set is None:
        return closed
    return closed.unionByName(open_set.select(*closed.columns))


def scd2_enrich_stream(
    facts_stream: DataFrame,
    state_dir: str,
    history_dir: str,
    key: str | list[str],
    sink,
    checkpoint: str,
    fact_time: str = "event_time",
    seq: str | None = None,
    value_cols: list[str] | None = None,
    how: str = "inner",
    broadcast_history: bool = True,
):
    """Streaming point-in-time enrichment: each fact micro-batch joins
    against the CURRENT scd2 snapshot (closed history + open set) with
    scd2_lookup_join semantics — facts pick up the dimension version
    valid at their own event time, including versions closed long ago.
    The composition of this module's fold (dimension side) with the
    batch lookup operator (fact side): the dimension stream folds via
    scd2_stream into state_dir/history_dir; the fact stream enriches
    here.

    CORRECTNESS PRECONDITION — the dimension stream must LEAD fact
    event times: a fact enriched while its key's next dimension change
    is still in flight matches the then-open version, and once the
    sink has it there is no retraction. Operationally that means
    delaying facts past the dimension lag (operators/stateless delay
    or a watermark gap), exactly the reference's min_buffering
    discipline (cluster_config.h:44-46). For the same reason a
    checkpoint-recovery REPLAY of a fact epoch joins against the
    snapshot at replay time, which may be newer than the original
    attempt saw — pair this with an overwrite-by-epoch sink (the
    module's convention) so a replay fully replaces the epoch's
    output rather than mixing with it.

    `sink(enriched_df, epoch_id)` receives each enriched batch (write
    it wherever the pipeline lands). Snapshot reads are per-trigger —
    at scale, history epochs are parquet already partitioned by epoch,
    and the broadcast keeps the fact side shuffle-free.

    Returns the started StreamingQuery.
    """
    from kspp_spark.operators.aggregates import scd2_lookup_join

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            hist = scd2_snapshot(spark, state_dir, history_dir, seq=seq)
        except ValueError:
            # no dimension state yet (fact stream started first)
            if batch_df.isEmpty():
                return  # nothing to enrich, nothing lost
            raise ValueError(
                "scd2_enrich_stream: facts arrived before the dimension "
                "fold produced any state — start scd2_stream first (the "
                "dimension must lead fact event times; see docstring)"
            )
        enriched = scd2_lookup_join(
            batch_df,
            hist,
            key=key,
            fact_time=fact_time,
            value_cols=value_cols,
            how=how,
            broadcast_history=broadcast_history,
        )
        sink(enriched, epoch_id)

    return fold_stream(facts_stream, checkpoint, handle)


def scd2_bootstrap(
    changelog_df: DataFrame,
    state_dir: str,
    history_dir: str,
    key: str | list[str],
    value_cols: list[str],
    event_time: str = "event_time",
    seq: str | None = None,
    tombstone_col: str | None = None,
) -> None:
    """Bootstrap the streaming fold's state from a HISTORICAL batch
    changelog — the standard migration move when a table's past lives
    in a warehouse and only new changes arrive on the stream: one
    batch scd2_history pass over the full history, closed intervals
    land in history/epoch=-1 and the open set in state/epoch=-1, so a
    FRESH streaming checkpoint (whose first trigger is epoch 0) picks
    the bootstrap state up through the normal strictly-before-epoch
    read. Refuses to run over dirs that already hold epochs.
    """
    require_fresh(
        changelog_df.sparkSession, "scd2_bootstrap",
        state_dir=state_dir, history_dir=history_dir,
    )
    scd2_fold_batch(
        changelog_df, -1, state_dir, history_dir, key=key,
        value_cols=value_cols, event_time=event_time, seq=seq,
        tombstone_col=tombstone_col,
    )
