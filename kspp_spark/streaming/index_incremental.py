"""Incremental inverted-index maintenance for document CHANGELOGS.

The streaming face of functions/text.inverted_index: each micro-batch
writes its own (term, doc_id, tf) partial postings as one epoch of the
epoch-fold store (streaming/epochs: layout, reset guards, last-write-
wins merge, compaction, stream wiring); the queryable index
materializes on read by merging partials — so per-trigger work is
O(batch), never a re-tokenization of the accumulated corpus.

CHANGELOG SEMANTICS: a re-emitted doc_id SUPERSEDES its older
postings, and a tombstone (NULL text) REMOVES them. Every epoch
writes, besides its postings, one SENTINEL row (term NULL, tf 0) per
doc_id the batch touched, so tombstoned and empty documents still
register their presence; the snapshot keeps only each doc's winning
version's rows, then drops sentinels. A deleted doc's winner holds
only its sentinel => no postings survive. df counts and posting lists
are computed AFTER superseding, so they never count ghosts.

A doc_id must appear at most once per micro-batch (the standard
compacted-changelog shape); pass `seq_col` to let the fold resolve
within-batch collisions last-write-wins by that column instead — AND
to make the cross-epoch merge EVENT-ordered, so a late-arriving STALE
update or delete is ignored. Use one seq mode consistently across
bootstrap, stream, and compaction (compaction preserves winning seqs).

Scale shape: per trigger, only the batch tokenizes; on read, only
integer/term triples shuffle (text never does), and the doc->epoch
map is a tiny aggregate the join side can broadcast. Snapshot cost
grows with the number of retained epochs — `compact_index_state`
rewrites the accumulated fold as a single epoch when triggers pile
up.

Reference: no kspp equivalent — beyond-reference north-star operator
(the retrieval complement of the BM25/keyword-search surface), with
delete/update propagation matching the reference's table semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kspp_spark.functions.text import per_doc_term_stats, tokenize
from kspp_spark.streaming.epochs import (
    compact,
    fold_stream,
    guard_epoch_monotonic,
    read_state,
    require_fresh,
    winner_rows,
    write_epoch,
)


def _lww_batch(batch_df: DataFrame, id_col: str, text_col: str, seq_col: str | None):
    """Resolve within-batch doc_id collisions last-write-wins by
    seq_col (max_by — the mem_store LWW rule applied inside one
    trigger), keeping the winning seq as `_seq` so the CROSS-epoch
    merge is event-ordered too (see module docstring). Without
    seq_col the batch is trusted to be compacted (one row per
    doc_id) and the merge falls back to arrival (epoch) order."""
    if seq_col is None:
        return batch_df
    # _seq is pinned to BIGINT: epochs written from differently-typed
    # seq sources (int literals vs long columns) must merge-read
    return batch_df.groupBy(id_col).agg(
        F.max_by(F.col(text_col), F.col(seq_col)).alias(text_col),
        F.max(seq_col).cast("long").alias("_seq"),
    )


def index_partials_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_col: str | None = None,
    unitize=None,
) -> None:
    """foreachBatch body: tokenize ONLY the micro-batch and write its
    (term, doc_id, tf) partial postings as this trigger's epoch, plus one
    NULL-term sentinel per touched doc_id (the changelog presence
    marker — see module docstring).

    `unitize` (Column -> array<string> Column, default whitespace
    tokenize) generalizes what a "term" is: the boilerplate fold
    (streaming/boilerplate_incremental) passes md5'd text units, so
    the same changelog machinery maintains a unit-frequency state."""
    guard_epoch_monotonic(
        batch_df.sparkSession, epoch_id, "index_partials_batch", state_dir
    )
    batch = _lww_batch(batch_df, id_col, text_col, seq_col)
    seq_cols = [F.col("_seq")] if seq_col else []
    units = (unitize or tokenize)(F.col(text_col))
    # MAP-ONLY per-doc tf (r13-opt): the (term, doc) groups all come
    # from one changelog row (a doc_id appears at most once per batch
    # — the fold's documented contract, enforced by _lww_batch in seq
    # mode), so the old explode + groupBy shuffled every token of
    # every trigger to compute a per-row quantity. _seq passes
    # through — it is per-doc constant after _lww_batch.
    partial = per_doc_term_stats(
        batch, units, id_col=id_col,
        passthrough=("_seq",) if seq_col else (),
    )
    sentinels = batch.select(
        F.lit(None).cast("string").alias("term"),
        F.col(id_col),
        F.lit(0).cast("long").alias("tf"),
        *seq_cols,
    )
    write_epoch(partial.unionByName(sentinels), state_dir, epoch_id)


def index_stream(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_col: str | None = None,
):
    """Wire a document changelog into the index fold. Returns the
    started StreamingQuery; `index_snapshot` serves the current
    index."""
    return fold_stream(
        stream_df,
        checkpoint,
        lambda batch_df, epoch_id: index_partials_batch(
            batch_df, epoch_id, state_dir, id_col=id_col, text_col=text_col,
            seq_col=seq_col,
        ),
    )


def _live_rows(spark, state_dir: str, id_col: str) -> DataFrame:
    """Winning postings only: the store's winner merge minus the
    NULL-term presence sentinels (a deleted doc's winner is its
    sentinel alone, so nothing of it survives here)."""
    return winner_rows(
        read_state(spark, state_dir), id_col, keep_seq=False
    ).filter(F.col("term").isNotNull())


def index_snapshot(
    spark,
    state_dir: str,
    id_col: str = "doc_id",
    min_df: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Current inverted index from the accumulated partials — same
    schema and vocabulary bounds as the batch inverted_index:
    (term, df, n_occ, postings). Superseded and tombstoned documents
    are invisible: df/n_occ/postings are computed after the
    winner merge."""
    live = _live_rows(spark, state_dir, id_col)
    agg = live.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("n_occ"),
        F.sort_array(F.collect_list(F.col(id_col))).alias("_postings"),
    )
    out = agg.filter(F.col("df") >= min_df)
    if max_df is not None:
        out = out.filter(F.col("df") <= max_df)
    return out.select(
        "term",
        "df",
        "n_occ",
        F.concat_ws(
            ",", F.transform(F.col("_postings"), lambda x: x.cast("string"))
        ).alias("postings"),
    )


def positional_partials_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    doclen_dir: str | None = None,
    seq_col: str | None = None,
) -> None:
    """foreachBatch body for the POSITIONAL index: tokenize only the
    micro-batch and write its (term, doc_id, tf, positions) partial
    postings as this trigger's epoch — the streaming producer of the
    positional_index artifact phrase_search_indexed / bm25_indexed
    consume — plus the NULL-term sentinel per touched doc (changelog
    presence marker). With `doclen_dir`, the per-doc token lengths
    fold too (BM25's side table): every touched doc writes its length
    each epoch (0 for tombstones), and the snapshot takes the winner."""
    guard_epoch_monotonic(
        batch_df.sparkSession, epoch_id, "positional_partials_batch",
        state_dir, doclen_dir,
    )
    batch = _lww_batch(batch_df, id_col, text_col, seq_col)
    seq_cols = [F.col("_seq")] if seq_col else []
    # MAP-ONLY per-doc (tf, positions) — same r13-opt rationale as
    # index_partials_batch: nothing in the first index aggregation
    # ever needs to leave its changelog row.
    partial = per_doc_term_stats(
        batch, tokenize(F.col(text_col)), id_col=id_col, positional=True,
        passthrough=("_seq",) if seq_col else (),
    )
    sentinels = batch.select(
        F.lit(None).cast("string").alias("term"),
        F.col(id_col),
        F.lit(0).cast("long").alias("tf"),
        F.array().cast("array<int>").alias("positions"),
        *seq_cols,
    )
    write_epoch(partial.unionByName(sentinels), state_dir, epoch_id)
    if doclen_dir is not None:
        # directly (not via text.doc_lengths, which drops dl=0 rows):
        # tombstoned/empty docs must register a 0 length so their
        # stale lengths lose the winner merge
        lengths = batch.select(
            F.col(id_col),
            F.coalesce(
                F.size(tokenize(F.col(text_col))), F.lit(0)
            ).cast("long").alias("dl"),
            *seq_cols,
        )
        write_epoch(lengths, doclen_dir, epoch_id)


def doc_lengths_snapshot(
    spark, doclen_dir: str, id_col: str = "doc_id"
) -> DataFrame:
    """Current doc-length table from the accumulated per-epoch folds —
    the streaming-maintained form of functions/text.doc_lengths, fed
    straight into bm25_indexed. The winning version per doc; dl=0 rows
    (tombstoned/empty docs) drop out, matching the batch operator's
    dl > 0 contract. `id_col` must match the fold's (explicit, like
    every sibling snapshot — never inferred from physical column
    order, which schema merges could reshuffle)."""
    state = read_state(spark, doclen_dir)
    if id_col not in state.columns:
        raise ValueError(
            f"doc_lengths_snapshot: id_col {id_col!r} not in doclen "
            f"state columns {state.columns} — pass the id_col the fold ran with"
        )
    return winner_rows(state, id_col, keep_seq=False).filter(F.col("dl") > 0)


def positional_index_stream(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    doclen_dir: str | None = None,
    seq_col: str | None = None,
):
    """Wire a document changelog into the positional-index fold.
    Returns the started StreamingQuery; `positional_index_snapshot`
    (and `doc_lengths_snapshot` when doclen_dir is set) serve the
    current artifacts."""
    return fold_stream(
        stream_df,
        checkpoint,
        lambda batch_df, epoch_id: positional_partials_batch(
            batch_df, epoch_id, state_dir, id_col=id_col, text_col=text_col,
            doclen_dir=doclen_dir, seq_col=seq_col,
        ),
    )


def positional_index_snapshot(
    spark,
    state_dir: str,
    id_col: str = "doc_id",
    min_df: int = 1,
    max_df: int | None = None,
) -> DataFrame:
    """Current positional index from the accumulated partials — the
    exact schema of the batch functions/text.positional_index
    ((term, doc_id, tf, df, positions)), so the indexed query
    operators run unchanged against a streaming-maintained index.
    The winner merge supersedes updated docs and erases
    tombstoned ones BEFORE df counts, so the served index equals a
    fresh batch index over the corpus's current logical state. The
    merge joins only the tiny doc->epoch map; the df side broadcasts
    via AQE, so the position arrays never re-shuffle (same plan shape
    as the batch positional_index)."""
    live = _live_rows(spark, state_dir, id_col)
    dfreq = live.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if min_df > 1:
        dfreq = dfreq.filter(F.col("df") >= min_df)
    if max_df is not None:
        dfreq = dfreq.filter(F.col("df") <= max_df)
    out = live.join(dfreq, "term")
    return out.select("term", id_col, "tf", "df", "positions")


def index_bootstrap(
    corpus_df: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    positional: bool = False,
    doclen_dir: str | None = None,
    seq_col: str | None = None,
) -> None:
    """Bootstrap the incremental index from an EXISTING corpus: one
    batch tokenize pass lands as the epoch=-1 partial; a fresh stream's
    epochs then accumulate on top through the normal merge-on-read
    snapshot. positional=True writes the positional partials (and the
    doc-length fold when doclen_dir is set). Refuses non-fresh
    directories — BOTH state_dir and doclen_dir (a doclen_dir with
    retained epochs would shadow the bootstrap lengths and skew
    BM25's N/avgdl). Streamed doc_ids may update or tombstone
    bootstrapped ones — the changelog merge supersedes across the
    bootstrap boundary like any other epoch. seq mode must be
    CONSISTENT across bootstrap and stream: if the stream folds with
    seq_col, bootstrap with one too (a seq column is synthesizable as
    F.lit(0) when the corpus has none — every real stream seq then
    supersedes it)."""
    require_fresh(
        corpus_df.sparkSession, "index_bootstrap",
        state_dir=state_dir, doclen_dir=doclen_dir,
    )
    if positional:
        positional_partials_batch(
            corpus_df, -1, state_dir, id_col=id_col, text_col=text_col,
            doclen_dir=doclen_dir, seq_col=seq_col,
        )
    else:
        index_partials_batch(
            corpus_df, -1, state_dir, id_col=id_col, text_col=text_col,
            seq_col=seq_col,
        )


def compact_index_state(
    spark,
    state_dir: str,
    out_dir: str,
    id_col: str = "doc_id",
    positional: bool = True,
) -> None:
    """Rewrite an accumulated fold as a single epoch=-1 partial of its
    winners in a FRESH out_dir (streaming/epochs.compact): the merge
    runs once here instead of on every snapshot read, and superseded
    postings physically disappear. positional=False keeps tf only."""
    compact(
        spark, "compact_index_state", id_col, {"out_dir": (state_dir, out_dir)},
        cols=["term", id_col, "tf"] + (["positions"] if positional else []),
    )
