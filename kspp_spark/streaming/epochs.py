"""The epoch-fold store: how the changelog folds (streaming/scd2,
rollup, index_incremental, boilerplate_incremental, dedup_incremental)
lay out, guard, merge, compact and drive their parquet state. The fold
modules keep only their per-batch logic and their snapshots.

LAYOUT: each micro-batch overwrites its own `<dir>/epoch=<id>`
directory, so a checkpoint-recovery replay of epoch N rewrites N
instead of appending twice (Structured Streaming's idempotent sink
over a deterministic replay). Bootstraps and compactions write
`epoch=-1` into a fresh directory, below a fresh checkpoint's first
trigger (epoch 0), and snapshots merge every epoch on read.

GUARDS: a fold refuses a directory that holds an epoch NEWER than its
trigger (a checkpoint reset against retained state would overwrite
epoch 0 while the stale newer epochs keep winning every merge), and a
bootstrap or compaction refuses a directory that holds any epoch.

MERGE (kspp's materialized-store rule: mem_store.h:64-83 last write
wins per key, krecord.h:23-25 a NULL value deletes): per key only the
winning version's rows survive. Without a `_seq` column the winner is
the newest epoch (arrival order). With one it is max (_seq, epoch)
(event order), so a late STALE write loses; rows with NULL _seq
(epochs folded before seq mode was adopted, surfaced by mergeSchema)
rank below every real seq, and the join back is null-safe.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F


def epoch_dirs(spark, base: str) -> list[tuple[int, str]]:
    """(epoch, path) under base via the Hadoop FS API (any scheme);
    [] when the base does not exist yet."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(base)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return []
    out = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if name.startswith("epoch="):
            out.append((int(name.split("=", 1)[1]), str(st.getPath())))
    return sorted(out)


def write_epoch(df: DataFrame, base: str, epoch_id: int) -> None:
    """Write df as base/epoch=<id>, replacing what a replay wrote."""
    df.write.mode("overwrite").parquet(os.path.join(base, f"epoch={int(epoch_id)}"))


def guard_epoch_monotonic(spark, epoch_id: int, what: str, *dirs: str | None) -> None:
    """Refuse a fold when any of dirs (None entries skipped) already
    holds an epoch NEWER than the current trigger: the checkpoint was
    reset against retained state, and folding would mix stale epochs
    into every merge-on-read snapshot. A replay of the CURRENT epoch
    stays legal (it overwrites its own directory)."""
    for d in (d for d in dirs if d is not None):
        if any(e > int(epoch_id) for e, _ in epoch_dirs(spark, d)):
            raise ValueError(
                f"{what}: {d} contains epochs newer than the current "
                "trigger — the checkpoint was reset against an existing "
                "state directory. Resume with the original checkpoint, or "
                "fold into a fresh directory."
            )


def require_fresh(spark, what: str, **dirs: str | None) -> None:
    """Refuse to bootstrap or compact into a directory that already
    holds epochs (None entries skipped); every directory is checked
    before the caller writes anything, so a refused call leaves
    nothing half-written."""
    for label, d in dirs.items():
        if d is not None and epoch_dirs(spark, d):
            raise ValueError(
                f"{what}: {label} already contains epochs — it only "
                "writes fresh directories"
            )


def read_state(spark, base: str, missing_ok: bool = False) -> DataFrame | None:
    """Every epoch under base, with `epoch` as a discovered partition
    column. mergeSchema so a state that started seq-less surfaces NULL
    _seq on its legacy epochs. With missing_ok, ONLY a missing or
    empty base returns None (a first epoch); any other failure
    (transient S3/HDFS error, permissions, corrupt footer) re-raises —
    swallowing it would silently drop the accumulated state."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.option("mergeSchema", "true").parquet(base)
    except AnalysisException as e:
        msg = str(e)
        if missing_ok and any(
            tag in msg
            for tag in (
                "PATH_NOT_FOUND",
                "Path does not exist",
                "UNABLE_TO_INFER_SCHEMA",
                "Unable to infer schema",
            )
        ):
            return None
        raise


def winner_versions(state: DataFrame, id_col: str) -> DataFrame:
    """Per-key winning version (_lid, _wseq, _wepoch) of an epoch
    state — the store's merge rule (module docstring). _wseq is NULL
    in arrival mode. A tiny aggregate next to the state rows."""
    if "_seq" in state.columns:
        return state.groupBy(F.col(id_col).alias("_lid")).agg(
            F.max(F.struct("_seq", "epoch")).alias("_w")
        ).select(
            "_lid",
            F.col("_w._seq").alias("_wseq"),
            F.col("_w.epoch").alias("_wepoch"),
        )
    return state.groupBy(F.col(id_col).alias("_lid")).agg(
        F.max("epoch").alias("_wepoch")
    ).select("_lid", F.lit(None).cast("long").alias("_wseq"), "_wepoch")


def winner_rows(state: DataFrame, id_col: str, keep_seq: bool = True) -> DataFrame:
    """The winning version's rows per key (sentinel rows included),
    epoch dropped; _seq dropped too unless keep_seq."""
    versions = winner_versions(state, id_col)
    cond = (F.col(id_col) == F.col("_lid")) & (F.col("epoch") == F.col("_wepoch"))
    if "_seq" in state.columns:
        cond = cond & F.col("_seq").eqNullSafe(F.col("_wseq"))
    drop = ["_lid", "_wseq", "_wepoch", "epoch"] + ([] if keep_seq else ["_seq"])
    return state.join(versions, cond).drop(*drop)


def compact(
    spark,
    what: str,
    id_col: str,
    targets: dict[str, tuple[str, str]],
    cols: list[str] | None = None,
) -> None:
    """Rewrite each accumulated state as a single epoch=-1 of its
    winners in a FRESH directory; targets maps a label to (source
    dir, out dir), and every out dir is checked before anything is
    written. `cols` projects the winners (_seq rides along when
    present). The winners KEEP their sentinel rows and seqs: a
    tombstoned key's surviving row is its sentinel carrying the
    delete's seq, which is what makes a late stale write lose the
    merge after compaction. Point the stream at the out dirs with a
    fresh checkpoint afterwards."""
    require_fresh(spark, what, **{label: out for label, (_, out) in targets.items()})
    for src, out in targets.values():
        winners = winner_rows(read_state(spark, src), id_col)
        if cols is not None:
            winners = winners.select(
                *cols, *(["_seq"] if "_seq" in winners.columns else [])
            )
        write_epoch(winners, out, -1)


def fold_stream(stream_df: DataFrame, checkpoint: str, fold):
    """Drive `fold(batch_df, epoch_id)` over every micro-batch the
    stream has available, then stop (availableNow). Returns the
    started StreamingQuery."""
    return (
        stream_df.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
