"""Incremental near-duplicate detection for document streams.

The ingestion-pipeline form of MinHash/LSH dedup: each micro-batch of
new documents is checked against the ACCUMULATED corpus — not just
within itself — by joining its banded signatures against a persisted
band-bucket state table, then appending them to it. This is the
pattern a production corpus builder runs: "is this incoming document a
near-copy of anything we already have?"

Batch dedup over the full corpus is functions/dedup.py
(minhash_signatures + minhash_candidates); this module reuses the same
signature/banding code so streaming and batch agree exactly.

CHANGELOG SEMANTICS: the state is an epoch-fold store
(streaming/epochs: layout, reset guards, last-write-wins merge,
compaction, stream wiring). A re-emitted id SUPERSEDES its older
signatures and a tombstone (NULL text/vector -> no signature rows)
deletes the doc from the probe-able state. With `seq_col` a
late-arriving STALE update or delete is IGNORED: the doc keeps serving
its fresher state content, the stale batch content generates no pairs,
and the stale rows lose every future winner merge.

Scale notes: state holds (id, band, band_hash[, _seq]) — fixed width,
~bands rows per document, far smaller than text. The per-batch probe
is an equi-join on (band, band_hash): broadcast when the batch is
small, shuffle otherwise (Spark's planner picks). At very large
corpus sizes, persist the state bucketed by band_hash
(io.write_bucketed) so the probe join is shuffle-free on the state
side. No driver-side state anywhere; recovery is Spark checkpointing
over the store's replay-idempotent epochs.

Reference: no kspp equivalent (beyond-reference north-star operator);
the changelog rules mirror krecord.h:23-25 / mem_store.h:64-83.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kspp_spark.functions.dedup import minhash_signatures, srp_signatures
from kspp_spark.streaming.epochs import (
    compact,
    fold_stream,
    guard_epoch_monotonic,
    read_state,
    winner_rows,
    winner_versions,
    write_epoch,
)


def srp_banded_signatures(
    df: DataFrame,
    vec: str = "embedding",
    id_col: str = "vec_id",
    planes: int = 32,
    dims: int = 64,
    bands: int = 4,
    seed: int = 0,
) -> DataFrame:
    """(id, band, bhash) banded SRP signatures — the dedup-state row
    format for EMBEDDING streams (the streaming face of the hyperplane
    LSH tier, functions/dedup.srp_signatures): band b's bhash is the
    b-th bit-slice of the packed signature, so two vectors share a
    bucket iff that slice matches — identical semantics to the batch
    path's simhash_candidates(sim_col="srp") banding. Pass as
    `banded_fn` to probe_and_update / incremental_near_dedup."""
    from kspp_spark.functions.dedup import signature_band_slices

    sigs = srp_signatures(
        df, vec=vec, id_col=id_col, planes=planes, dims=dims, seed=seed
    )
    return signature_band_slices(
        sigs, id_col=id_col, sim_col="srp", bands=bands, bits=planes, out_id="id"
    )


def srp_sig_fn(
    vec: str = "embedding",
    id_col: str = "vec_id",
    planes: int = 32,
    dims: int = 64,
    seed: int = 0,
):
    """`sig_fn` for the verify stage on EMBEDDING streams: the packed
    SRP signature per id (NULL embedding -> NULL sig, the tombstone
    shape the verify state expects). Pair with srp_score_fn(planes)."""

    def fn(df: DataFrame) -> DataFrame:
        return srp_signatures(
            df, vec=vec, id_col=id_col, planes=planes, dims=dims, seed=seed
        ).select(F.col(id_col).alias("id"), F.col("srp").alias("sig"))

    return fn


def srp_score_fn(planes: int = 32):
    """`score_fn` for SRP/simhash packed-bit signatures: hamming
    SIMILARITY 1 - popcount(a XOR b)/planes — 1.0 for identical
    signatures, and E[score] = 1 - angle(a,b)/pi for SRP (Charikar
    2002), so a cosine-style threshold applies directly."""

    def fn(a, b):
        return F.lit(1.0) - F.bit_count(a.bitwiseXOR(b)) / F.lit(float(planes))

    return fn


def banded_signatures(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
    bands: int = 16,
) -> DataFrame:
    """(id, band, bhash) banded-signature relation — the dedup state
    row format. rows_per_band = num_hashes // bands."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(
        df, text=text, id_col=id_col, num_hashes=num_hashes, shingle_n=shingle_n
    )
    banded = sigs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                F.transform(
                                    F.slice("sig", b * rows_per_band + 1, rows_per_band),
                                    lambda x: x.cast("string"),
                                ),
                            )
                        ).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    )
    return banded.select("id", "bb.band", "bb.bhash")


def probe_and_update(
    batch_df: DataFrame,
    epoch_id: int,
    state_dir: str,
    pairs_dir: str,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
    bands: int = 16,
    banded_fn=None,
    seq_col: str | None = None,
    verify: bool = False,
    sigs_dir: str | None = None,
    sig_fn=None,
    score_fn=None,
    min_score: float = 0.7,
) -> None:
    """foreachBatch body: emit (new_id, dup_of) candidate pairs for the
    micro-batch — against the accumulated state AND within the batch —
    then append the batch's banded signatures to the state.

    `banded_fn` (batch DataFrame -> (id, band, bhash)) swaps the
    signature family: default is the MinHash text path
    (banded_signatures); pass srp_banded_signatures for embedding
    streams. The probe/update machinery is family-agnostic.

    CHANGELOG SEMANTICS (the store's merge rule, streaming/epochs): a
    re-emitted id SUPERSEDES its older signatures — the probe only
    matches each doc's winning version's bands — and a tombstone
    (NULL text/vector, which produces no signature rows) deletes the
    doc from the probe-able state. Every epoch writes one band=-1
    presence SENTINEL per touched id to register updates/deletes.
    Without `seq_col`, ids must be unique within a batch (the
    compacted-changelog shape). With `seq_col` (non-NULL event
    sequence / event-time column on the batch), within-batch
    collisions resolve max_by(seq), and a STALE update or delete —
    lower seq than the doc's state — pairs with nothing and
    supersedes nothing. Use one seq mode consistently across the
    stream's life.

    VERIFY STAGE (`verify=True`): raw band collisions become scored
    pairs (new_id, dup_of, score, verified). A per-doc signature
    state (default `sigs_dir` = state_dir + "_sigs") folds alongside
    the band state under the same epoch/changelog rules (one row per
    touched id per epoch; NULL sig = tombstone), and each batch's
    candidate pairs join both members' winning signatures:
    - default (MinHash): score = fraction of equal signature
      components — the standard unbiased MinHash estimate of Jaccard
      (Broder 1997), exact-deterministic for a given hash family;
    - custom families pass `sig_fn` (batch -> (id, sig); NULL sig for
      NULL payloads — srp_sig_fn is the embedding form) and
      `score_fn` (sig_a, sig_b -> score; srp_score_fn is hamming
      similarity).
    `verified` = score >= min_score; pairs are emitted unfiltered so
    consumers choose their own gate. Keep `verify` constant across a
    stream's life: toggling it mid-stream leaves pairs_dir epochs
    with two schemas (read them with mergeSchema) and a sigs state
    that misses the unverified epochs' docs. Candidates are already
    band-bounded, so the verify join is candidate-sized — never a
    corpus join. PRECISION NOTE: the score is the signature ESTIMATE
    (variance ~ sqrt(j(1-j)/num_hashes)); a gate needing exact
    Jaccard re-scores verified pairs against retained text with
    functions/dedup.ngram_jaccard_pairs. Enable verify from the
    stream's FIRST epoch (or compact first): pairs whose state-side
    member has band rows but no signature row are dropped by the
    verify join.

    The band, sigs and pairs areas are epochs of the store
    (streaming/epochs): replay-idempotent and reset-guarded."""
    spark = batch_df.sparkSession
    guard_epoch_monotonic(spark, epoch_id, "probe_and_update", state_dir)
    if seq_col is not None:
        payload = [c for c in batch_df.columns if c not in (id_col, seq_col)]
        batch = (
            batch_df.groupBy(id_col)
            .agg(
                F.max_by(
                    F.struct(*[F.col(c) for c in payload]), F.col(seq_col)
                ).alias("_p"),
                F.max(seq_col).cast("long").alias("_seq"),
            )
            .select(
                F.col(id_col),
                *[F.col(f"_p.{c}").alias(c) for c in payload],
                F.col("_seq"),
            )
        )
    else:
        batch = batch_df
    if banded_fn is None:
        # NULL text must yield NO signature rows (the tombstone
        # contract) — unfiltered, _shingles' concat_ws fallback turns
        # NULL into the empty-string signature and every tombstone
        # would near-dup-match every other tombstone.
        new = banded_signatures(
            batch.filter(F.col(text).isNotNull()),
            text=text, id_col=id_col, num_hashes=num_hashes,
            shingle_n=shingle_n, bands=bands,
        )
    else:
        # contract for custom families: banded_fn must emit no rows
        # for NULL payloads (srp_banded_signatures does — verified)
        new = banded_fn(batch)
    seq_cols = []
    if seq_col is not None:
        # every state row of the batch carries the doc's winning seq
        new = new.join(
            batch.select(F.col(id_col).alias("id"), "_seq"), "id"
        )
        seq_cols = [F.col("_seq")]
    new = new.cache()
    sentinels = batch.select(
        F.col(id_col).alias("id"),
        F.lit(-1).alias("band"),
        F.lit(0).cast("long").alias("bhash"),
        *seq_cols,
    ).distinct()

    state = read_state(spark, state_dir, missing_ok=True)
    stale_ids = None  # batch ids whose write is STALE vs the state
    probe_state = None
    if state is not None and "epoch" in state.columns:
        # epoch=N directory naming surfaces as a discovered partition
        # column: exclude the CURRENT epoch so a checkpoint-recovery
        # replay (which already wrote this epoch's state) doesn't emit
        # the within-batch pairs a second time in (a,b)+(b,a) form.
        state = state.filter(F.col("epoch") != F.lit(int(epoch_id)))
        versions = winner_versions(state, "id")
        if seq_col is not None and "_seq" in state.columns:
            # event-ordered LWW: the batch write LOSES for ids whose
            # state winner carries a strictly greater seq (NULL legacy
            # seqs rank below every real seq; on seq ties the batch —
            # the newer epoch — wins, matching max(struct(_seq,epoch)))
            stale_ids = (
                versions.join(
                    batch.select(F.col(id_col).alias("_lid"), "_seq"), "_lid"
                )
                .filter(F.col("_wseq") > F.col("_seq"))
                .select(F.col("_lid").alias("id"))
            )
        # winning-version rows only: superseded content and tombstoned
        # docs (whose winner holds only the band=-1 sentinel) stop
        # matching. The versions map is a tiny aggregate relative to
        # the band state.
        probe_state = winner_rows(state, "id").filter(F.col("band") >= 0)
        # docs SUPERSEDED by this batch: their state rows stop being
        # probe-able as of this trigger (the within-batch pass covers
        # their new content). In seq mode, stale batch writes supersede
        # nothing — those ids KEEP their state rows.
        superseding = sentinels.select("id")
        if stale_ids is not None:
            superseding = superseding.join(stale_ids, "id", "left_anti")
        probe_state = probe_state.join(superseding, "id", "left_anti").select(
            "id", "band", "bhash"
        )
    # the probe-able slice of the batch: stale writes pair with nothing
    probe_new = new.select("id", "band", "bhash")
    if stale_ids is not None:
        probe_new = probe_new.join(stale_ids, "id", "left_anti")
    # within-batch pairs: same bucket, smaller id first
    left = probe_new.select("band", "bhash", F.col("id").alias("a"))
    right = probe_new.select("band", "bhash", F.col("id").alias("b"))
    within = (
        left.join(right, ["band", "bhash"])
        .filter(F.col("a") < F.col("b"))
        .select(F.col("b").alias("new_id"), F.col("a").alias("dup_of"))
    )
    pairs = within
    if probe_state is not None:
        cross = (
            probe_new.join(
                probe_state.withColumnRenamed("id", "dup_of"), ["band", "bhash"]
            )
            .select(F.col("id").alias("new_id"), "dup_of")
            # belt-and-braces: never pair a document with itself
            .filter(F.col("new_id") != F.col("dup_of"))
        )
        pairs = within.unionByName(cross)
    pairs = pairs.distinct()

    batch_sigs = None
    if verify:
        pairs, batch_sigs = _verify_pairs(
            spark, batch, pairs, epoch_id,
            sigs_dir or state_dir.rstrip("/") + "_sigs",
            id_col=id_col, text=text, num_hashes=num_hashes,
            shingle_n=shingle_n, seq_col=seq_col, sig_fn=sig_fn,
            score_fn=score_fn, min_score=min_score, stale_ids=stale_ids,
        )
    write_epoch(pairs, pairs_dir, epoch_id)
    write_epoch(new.unionByName(sentinels), state_dir, epoch_id)
    new.unpersist()
    if batch_sigs is not None:
        batch_sigs.unpersist()


def _verify_pairs(
    spark,
    batch: DataFrame,
    pairs: DataFrame,
    epoch_id: int,
    sigs_dir: str,
    id_col: str,
    text: str,
    num_hashes: int,
    shingle_n: int,
    seq_col: str | None,
    sig_fn,
    score_fn,
    min_score: float,
    stale_ids: DataFrame | None,
) -> DataFrame:
    """Score this epoch's candidate pairs against both members'
    winning signatures and fold the batch's signatures into the sigs
    state (one (id, sig[, _seq]) row per touched id per epoch; NULL
    sig = tombstone — the row IS the presence sentinel, carrying the
    delete's seq so compaction cannot resurrect the doc). Returns
    (scored_pairs, cached batch_sigs) — the CALLER writes the scored
    pairs (lazy plans reference the cache) and unpersists after."""
    if sig_fn is None:
        def sig_fn(b):
            return minhash_signatures(
                b.filter(F.col(text).isNotNull()), text=text, id_col=id_col,
                num_hashes=num_hashes, shingle_n=shingle_n,
            ).select(F.col(id_col).alias("id"), "sig")
    if score_fn is None:
        def score_fn(a, b):
            # Broder's estimator: fraction of equal minhash components
            return F.size(
                F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda m: m)
            ) / F.lit(float(num_hashes))
    seq_cols = [F.col("_seq")] if seq_col is not None else []
    # one row per touched id: left join keeps tombstones as NULL sigs
    batch_sigs = batch.select(F.col(id_col).alias("id"), *seq_cols).join(
        sig_fn(batch), "id", "left"
    ).cache()
    # the live-signature lookup this epoch: winning state sigs for ids
    # the batch does NOT supersede + the batch's own non-stale sigs
    # (read BEFORE writing this epoch; exclude it for replay safety)
    lookups = []
    state_sigs = read_state(spark, sigs_dir, missing_ok=True)
    if state_sigs is not None and "epoch" in state_sigs.columns:
        state_sigs = state_sigs.filter(F.col("epoch") != F.lit(int(epoch_id)))
        superseding = batch_sigs.select("id")
        if stale_ids is not None:
            superseding = superseding.join(stale_ids, "id", "left_anti")
        lookups.append(
            winner_rows(state_sigs, "id")
            .join(superseding, "id", "left_anti")
            .select("id", "sig")
        )
    live_batch_sigs = batch_sigs.select("id", "sig").filter(
        F.col("sig").isNotNull()
    )
    if stale_ids is not None:
        live_batch_sigs = live_batch_sigs.join(stale_ids, "id", "left_anti")
    lookups.append(live_batch_sigs)
    lookup = lookups[0]
    for extra in lookups[1:]:
        lookup = lookup.unionByName(extra)
    scored = (
        pairs.join(
            lookup.select(F.col("id").alias("new_id"), F.col("sig").alias("_sa")),
            "new_id",
        )
        .join(
            lookup.select(F.col("id").alias("dup_of"), F.col("sig").alias("_sb")),
            "dup_of",
        )
        .select(
            "new_id",
            "dup_of",
            score_fn(F.col("_sa"), F.col("_sb")).alias("score"),
        )
        .withColumn("verified", F.col("score") >= F.lit(min_score))
    )
    write_epoch(batch_sigs, sigs_dir, epoch_id)
    return scored, batch_sigs


def dedup_sigs_snapshot(spark, sigs_dir: str) -> DataFrame:
    """(id, sig): each live doc's WINNING signature from the verify
    stage's signature state — the same max(seq, epoch) merge as the
    probe. Tombstoned docs (winning row has NULL sig) drop out. Use
    to re-score historical pairs against current content, or to seed
    a batch candidate run that must agree with the stream."""
    state = read_state(spark, sigs_dir, missing_ok=True)
    if state is None:
        raise ValueError(f"dedup_sigs_snapshot: no state at {sigs_dir}")
    return (
        winner_rows(state, "id")
        .filter(F.col("sig").isNotNull())
        .select("id", "sig")
    )


def incremental_near_dedup(
    stream_df: DataFrame,
    state_dir: str,
    pairs_dir: str,
    checkpoint: str,
    **kwargs,
):
    """Wire a document stream into the probe-and-update loop. Returns
    the started StreamingQuery; near-dup pairs accumulate under
    pairs_dir's epochs as (new_id, dup_of) — plus (score, verified)
    when verify=True rides through to probe_and_update."""
    return fold_stream(
        stream_df,
        checkpoint,
        lambda batch_df, epoch_id: probe_and_update(
            batch_df, epoch_id, state_dir=state_dir, pairs_dir=pairs_dir, **kwargs
        ),
    )


def compact_dedup_state(
    spark,
    state_dir: str,
    out_dir: str,
    sigs_dir: str | None = None,
    sigs_out_dir: str | None = None,
) -> None:
    """Rewrite the accumulated band state as a single epoch=-1 of its
    winners in a FRESH out_dir (streaming/epochs.compact) — superseded
    bands physically disappear, so per-trigger probe cost tracks the
    live corpus instead of total update history. Pass the verify
    stage's sigs_dir/sigs_out_dir to compact the signature state in
    lock-step (its NULL-sig tombstone rows are kept like the band
    sentinels)."""
    if sigs_dir is not None and sigs_out_dir is None:
        raise ValueError("compact_dedup_state: sigs_dir needs sigs_out_dir")
    targets = {"out_dir": (state_dir, out_dir)}
    if sigs_dir is not None:
        targets["sigs_out_dir"] = (sigs_dir, sigs_out_dir)
    compact(spark, "compact_dedup_state", "id", targets)
