"""Incremental boilerplate-frequency maintenance for document
CHANGELOGS — the streaming face of functions/text.boilerplate_units /
remove_boilerplate (CCNet / RefinedWeb line dedup).

A crawl stream folds unit document-frequencies as they arrive; the
boilerplate SET (units in >= min_docs distinct live documents)
materializes on read and feeds remove_boilerplate_with_set, so
documents are stripped against a continuously-maintained set without
ever recounting the corpus.

Structurally this IS the inverted-index fold with md5'd text units as
the "terms" (one unit-frequency state is one postings state), so it
reuses streaming/index_incremental's per-batch partials and presence
sentinels, on the epoch-fold store of streaming/epochs (layout, reset
guards, last-write-wins merge, compaction, stream wiring). A
re-crawled document's units supersede its old ones — its old units'
frequencies DROP — and a tombstone (NULL text) removes the document's
contribution entirely. A batch recount over the live corpus gives the
identical set (equivalence-tested).

Scale shape: per trigger only the batch splits into units; only
(digest, id) pairs persist; the snapshot's doc->winner map is a tiny
aggregate. The set itself is small by construction (corpus-frequent
units) — the same broadcast-rewrite contract as the batch form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kspp_spark.functions.text import text_units
from kspp_spark.streaming.epochs import fold_stream, require_fresh
from kspp_spark.streaming.index_incremental import (
    _live_rows,
    compact_index_state,
    index_partials_batch,
)


def _unitizer(split_pattern: str | None, n_tokens: int):
    """Column fn: text -> array of md5 unit digests (the fold's
    'terms'). Digests, not raw units, persist in the state — text
    never lands in the fold."""
    return lambda t: F.transform(
        text_units(t, split_pattern, n_tokens), F.md5
    )


def boilerplate_partials_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    split_pattern: str | None = None,
    n_tokens: int = 10,
    seq_col: str | None = None,
) -> None:
    """foreachBatch body: split ONLY the micro-batch into units and
    fold (unit_digest, doc_id, occurrences) partials as this trigger's
    epoch with the index fold's changelog semantics (supersede + tombstone +
    replay idempotency)."""
    index_partials_batch(
        batch_df,
        epoch_id,
        state_dir,
        id_col=id_col,
        text_col=text_col,
        seq_col=seq_col,
        unitize=_unitizer(split_pattern, n_tokens),
    )


def boilerplate_stream(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    split_pattern: str | None = None,
    n_tokens: int = 10,
    seq_col: str | None = None,
):
    """Wire a document changelog into the boilerplate-frequency fold.
    Returns the started StreamingQuery; boilerplate_set_snapshot
    serves the current set."""
    return fold_stream(
        stream_df,
        checkpoint,
        lambda batch_df, epoch_id: boilerplate_partials_batch(
            batch_df,
            epoch_id,
            state_dir,
            id_col=id_col,
            text_col=text_col,
            split_pattern=split_pattern,
            n_tokens=n_tokens,
            seq_col=seq_col,
        ),
    )


def boilerplate_set_snapshot(
    spark,
    state_dir: str,
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Current boilerplate set from the accumulated partials:
    (unit_digest, n_docs) for units present in >= min_docs distinct
    LIVE documents — superseded and tombstoned documents no longer
    count (their units' frequencies dropped when their newer version
    won the merge). Matches functions/text.boilerplate_units(
    keep_unit=False) over the live corpus exactly: the live corpus
    holds one row per doc_id (the last write per id, tombstones
    dropped), which is boilerplate_units' one-row-per-document
    precondition."""
    live = _live_rows(spark, state_dir, id_col)
    return (
        live.groupBy(F.col("term").alias("unit_digest"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def boilerplate_bootstrap(
    corpus_df: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    split_pattern: str | None = None,
    n_tokens: int = 10,
    seq_col: str | None = None,
) -> None:
    """Bootstrap the fold from an EXISTING corpus: one batch unit
    pass lands as the epoch=-1 partial; a fresh stream's
    epochs accumulate on top, and streamed doc_ids may update or
    tombstone bootstrapped ones across the boundary. Refuses
    non-fresh directories. Keep seq mode consistent between bootstrap
    and stream (synthesize F.lit(0) when the corpus has none)."""
    require_fresh(corpus_df.sparkSession, "boilerplate_bootstrap", state_dir=state_dir)
    boilerplate_partials_batch(
        corpus_df,
        -1,
        state_dir,
        id_col=id_col,
        text_col=text_col,
        split_pattern=split_pattern,
        n_tokens=n_tokens,
        seq_col=seq_col,
    )


def compact_boilerplate_state(
    spark, state_dir: str, out_dir: str, id_col: str = "doc_id"
) -> None:
    """Rewrite the accumulated fold as a single epoch=-1 partial in a
    fresh out_dir when triggers pile up — identical mechanics to the
    index fold's compaction (tf-only: unit folds carry no positions)."""
    compact_index_state(spark, state_dir, out_dir, id_col=id_col, positional=False)
