"""Deduplication for training-data pipelines — exact and near-dup.

Beyond-reference capability (BASELINE.json north star). Designed for
100 TB: every stage is a hash shuffle on bounded-width keys (digests,
band hashes), never on raw text; signatures are fixed-width; candidate
generation is band-bucket joins (LSH) so the cross-product never
materializes globally.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F
from pyspark.sql.types import IntegralType

from kspp_spark.io import ChainReset, materialize_once
from kspp_spark.functions.hashing import md5_long
from kspp_spark.functions.text import doc_fingerprint, tokenize


def exact_dedup(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized content: keep the lowest id per
    fingerprint. One hash aggregation over a 128-bit digest — the scan
    shuffles (digest, id) only, not document bodies."""
    return (
        df.select(doc_fingerprint(F.col(text)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_dups"))
    )


def _shingles(text: Column, n: int) -> Column:
    """Word n-gram shingle set (distinct).

    Built by zipping n shifted slices of the token array — O(n) array
    ops per row. (The naive per-index `slice` inside a `transform`
    lambda re-evaluates the tokenizing regex per element — 3.6x slower
    at sf0.1.) Documents shorter than n words contribute their full
    text as a single shingle.
    """
    toks = tokenize(text)
    k = F.size(toks) - (n - 1)
    parts = [F.slice(toks, i + 1, F.greatest(k, F.lit(0))) for i in range(n)]
    grams = F.when(
        k > 0,
        F.transform(
            F.arrays_zip(*parts),
            lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)]),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return F.array_distinct(grams)


# engine-portable integer hash, shared repo-wide (hashing.md5_long)
_md5_long = md5_long


def minhash_signatures(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash signatures: shingle -> k hash values -> per-doc
    elementwise min. The k mins are k partial-aggregable `min()`s (one
    shuffle of (id, k×int64)); no Python executes per row.

    hash_family:
      - "xxhash64" (default, production): two seeded xxhash64 values,
        permutations via XOR + bit-rotate. Fastest (native JVM hash).
      - "md5": engine-portable double hashing — h1/h2 are two 32-bit
        words of md5(shingle), slot i takes min(h1 + i*h2) (< 2^38,
        ANSI-safe). Bit-for-bit reproducible in any engine with md5
        (DuckDB oracle replay), at the cost of a cryptographic hash
        per shingle. Use for cross-engine-verifiable pipelines.

    Output: (id_col, sig array<bigint>[num_hashes])
    """
    # Each shingle is hashed TWICE; the num_hashes permutations derive
    # via double hashing. Signature slots are partial-aggregable
    # min()s over the exploded shingle relation — map-side combine
    # keeps the shuffle at one row of (id, kxint64) per doc.
    # (Measured: 3.7x faster than computing per-row array_min x64.)
    sh = df.select(
        F.col(id_col), F.explode(_shingles(F.col(text), shingle_n)).alias("shingle")
    )
    if hash_family == "md5":
        hashed = sh.select(
            id_col,
            _md5_long(F.col("shingle"), 1, 8).alias("_h1"),
            _md5_long(F.col("shingle"), 9, 8).alias("_h2"),
        )

        def mix(i: int):
            return F.col("_h1") + F.lit(i) * F.col("_h2")

    else:
        hashed = sh.select(
            id_col,
            F.xxhash64("shingle").alias("_h1"),
            F.xxhash64("shingle", F.lit(1)).alias("_h2"),
        )

        def mix(i: int):
            if i == 0:
                return F.col("_h1")
            rot = F.shiftleft(F.col("_h2"), i).bitwiseOR(
                F.shiftrightunsigned(F.col("_h2"), 64 - i)
            )
            return F.col("_h1").bitwiseXOR(rot)

    agg = hashed.groupBy(id_col).agg(
        *[F.min(mix(i)).alias(f"_m{i}") for i in range(num_hashes)]
    )
    return agg.select(
        id_col, F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_ids: int | None = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """LSH banding: equal band-slices bucket together; same-bucket pairs
    are near-dup candidates.

    Implemented as ONE hash aggregation on (band, band_hash) +
    in-bucket pair expansion — not a self-join, which would recompute
    the whole signature lineage twice and shuffle it twice.

    Oversized buckets (mass-duplicated boilerplate is common in web
    corpora) can be bounded via `max_bucket_ids` (OPT-IN; default None
    = unbounded all-pairs): the quadratic i<j expansion runs over the
    `max_bucket_ids` smallest ids only, and every overflow id instead
    pairs with the bucket's hub (the minimum id) — a STAR expansion.
    Output becomes linear in bucket size past the cap while the
    connected components of the RAW candidate graph stay identical:
    every member remains reachable from the hub. Without the cap one
    10M-doc bucket expands to ~5·10^13 pairs in a single task; the
    residual capped cost is the packed id list itself (8 B/doc — 80 MB
    for a 10M bucket), which is storage, not pair explosion.

    RECALL CAVEAT when capping: if candidates feed a per-pair VERIFY
    stage (e.g. ngram_jaccard_pairs), two true near-dups that both
    land in a bucket's overflow are never scored directly — they
    survive only if each one's hub link passes the verify threshold.
    Identical-content buckets (the mass-boilerplate case the cap
    targets) are unaffected (every hub link verifies at 1.0), but
    borderline near-dups in a capped bucket can be lost
    post-verification. Enable the cap on scale paths where oversized
    buckets are boilerplate; leave it None when verified-pair recall
    must be exact.

    hash_family "md5" uses the engine-portable md5-int band hash (see
    minhash_signatures) so the whole pipeline replays in SQL engines.

    Output: distinct candidate pairs (a, b) with a < b.
    """

    def band_hash(b: int) -> Column:
        joined = F.concat_ws(
            ",",
            F.transform(
                F.slice("sig", b * rows_per_band + 1, rows_per_band),
                lambda x: x.cast("string"),
            ),
        )
        if hash_family == "md5":
            return _md5_long(joined, 1, 15)
        return F.xxhash64(joined)

    banded = sigs.select(
        F.col(id_col).alias("_id"),
        *[band_hash(b).alias(f"_b{b}") for b in range(bands)],
    )
    exploded = banded.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"_b{b}").alias("bhash"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "bb.band", "bb.bhash")
    return _bucket_pair_expansion(exploded, max_bucket_ids)


def _bucket_pair_expansion(
    exploded: DataFrame, max_bucket_ids: int | None
) -> DataFrame:
    """Shared LSH-bucket pair expansion: input (_id, band, bhash), one
    hash aggregation per (band, bhash) bucket, JVM-side i<j expansion
    within each bucket (capped head + hub-star overflow when
    max_bucket_ids is set — see minhash_candidates for semantics).
    Output: distinct (a, b) with a < b."""
    buckets = (
        exploded.groupBy("band", "bhash")
        .agg(F.sort_array(F.collect_list("_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_ids is not None:
        # head: the K smallest ids get the full i<j expansion;
        # overflow ids each pair with the hub (minimum id) only
        buckets = buckets.select(
            F.slice("ids", 1, max_bucket_ids).alias("head"),
            F.when(
                F.size("ids") > max_bucket_ids,
                F.slice(
                    "ids",
                    max_bucket_ids + 1,
                    F.size("ids") - F.lit(max_bucket_ids),
                ),
            )
            .otherwise(F.slice("ids", 1, 0))  # empty, same element type
            .alias("overflow"),
        )
    else:
        buckets = buckets.select(
            F.col("ids").alias("head"), F.slice("ids", 1, 0).alias("overflow")
        )
    # expand i<j pairs within each head JVM-side, + hub->overflow stars
    quad = F.flatten(
        F.transform(
            F.col("head"),
            lambda x, i: F.transform(
                F.slice(F.col("head"), i + 2, F.size(F.col("head"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    star = F.transform(
        F.col("overflow"),
        lambda y: F.struct(F.element_at(F.col("head"), 1).alias("a"), y.alias("b")),
    )
    pairs = buckets.select(
        F.explode(F.concat(quad, star)).alias("p")
    ).select("p.a", "p.b")
    return pairs.distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Verify candidate pairs with exact shingle-set Jaccard.
    Joins shingle sets onto the (small) candidate set only — the
    expensive exact measure never runs on the full cross product.

    The document set is semi-join-pruned to ids that appear in some
    candidate pair BEFORE shingling: candidate counts are tiny relative
    to the corpus (LSH's whole point), so the expensive tokenize+shingle
    projection runs on ~|candidates| docs, not |corpus| — Catalyst can't
    infer this itself because the pruning predicate is dynamic.
    """
    cand_ids = (
        candidates.select(F.col("a").alias(id_col))
        .union(candidates.select(F.col("b").alias(id_col)))
        .distinct()
    )
    pruned = df.join(F.broadcast(cand_ids), id_col, "left_semi")
    sets_ = pruned.select(F.col(id_col), _shingles(F.col(text), shingle_n).alias("sh"))
    a = sets_.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a"))
    b = sets_.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b"))
    j = (
        candidates.join(a, "a")
        .join(b, "b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select("a", "b", "jaccard")


def winnow_fingerprints(
    text: Column | str, k: int = 5, w: int = 4
) -> Column:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003 — the MOSS algorithm): hash every POSITIONAL token k-gram
    (duplicates kept — position matters, unlike _shingles), slide a
    window of `w` consecutive hashes, select each window's MINIMUM
    (rightmost on ties, the paper's robust-winnowing rule), and
    dedupe selections by (position, hash). Guarantee: any shared run
    of >= w + k - 1 tokens between two documents yields at least one
    shared fingerprint, with expected density 2/(w+1) — a principled
    local alternative to fixed-stride span fingerprints
    (substring_dup_spans) for partial-overlap detection.

    Pure JVM Column expression -> array<struct<pos int, fp bigint>>:
    one tokenize, O(len) array ops, no shuffle, no Python. The hash
    is the repo-wide engine-portable md5_long (hashing.py), so the
    whole selection replays bit-exactly in a SQL oracle. Documents
    shorter than k tokens contribute one whole-text gram; shorter
    than w+k-1 tokens, one fingerprint (the global rightmost min);
    empty docs, an empty array.
    """
    # tokenize once and bind as a lambda variable (same no-subexpr-
    # elimination rule as the hashes binding below: the k+2 slice/size
    # references would each re-run the tokenize regex)
    def _grams(toks: Column) -> Column:
        nk = F.size(toks) - (k - 1)
        parts = [
            F.slice(toks, i + 1, F.greatest(nk, F.lit(0))) for i in range(k)
        ]
        return (
            F.when(
                nk > 0,
                F.transform(
                    F.arrays_zip(*parts),
                    lambda s: F.concat_ws(
                        " ", *[s[str(i)] for i in range(k)]
                    ),
                ),
            )
            .when(F.size(toks) > 0, F.array(F.concat_ws(" ", toks)))
            .otherwise(F.array().cast("array<string>"))
        )

    grams = F.element_at(F.transform(F.array(tokenize(text)), _grams), 1)
    hashes = F.transform(grams, lambda g: _md5_long(g, 1, 15))

    # CRITICAL: bind the hash array as a LAMBDA VARIABLE before the
    # per-window selection. Catalyst does no subexpression elimination
    # inside HOF lambdas, so referencing `hashes` (a tokenize + grams
    # + md5-per-gram chain) from the window lambda re-evaluates the
    # WHOLE chain per window position — O(len^2) md5 calls (measured
    # 303s for 270k tokens at sf0.1; ~3s with the binding). Wrapping
    # in a 1-element array + transform makes every reference a cheap
    # variable read.
    def _winnow(hs: Column) -> Column:
        nh = F.size(hs)
        wlen = F.least(F.lit(w), nh)
        nwin = F.when(nh > 0, nh - wlen + 1).otherwise(F.lit(0))

        def _select(p: Column) -> Column:
            # rightmost-tie window minimum via NATIVE collection
            # expressions (r13-opt, guide §1.2 per-task work): the
            # min is array_min; its RIGHTMOST position falls out of
            # array_position over the reversed window (first match
            # from the right at offset rp => index wlen - rp + 1).
            # Replaces a per-window aggregate over zip_with structs —
            # ~wlen struct allocations + when-chains per window,
            # interpreted inside the HOF — with three compiled
            # array loops; selections are identical (array_min over
            # non-null hashes; rightmost occurrence IS the <=-keeps-
            # later rule of the old fold).
            win = F.slice(hs, p, wlen)
            m = F.array_min(win)
            rp = F.array_position(F.reverse(win), m)
            return F.struct(
                (p + wlen - rp).cast("int").alias("pos"),
                m.alias("fp"),
            )

        sels = F.when(
            nwin >= 1, F.transform(F.sequence(F.lit(1), nwin), _select)
        ).otherwise(F.array().cast("array<struct<pos:int,fp:bigint>>"))
        return F.array_distinct(sels)

    return F.element_at(F.transform(F.array(hashes), _winnow), 1)


def winnow_dup_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_bucket_ids: int | None = 256,
) -> DataFrame:
    """Near-duplicate candidate pairs by SHARED winnowing fingerprints
    — the dedup use of winnow_fingerprints (MOSS-style partial-overlap
    detection): documents sharing >= min_shared selected fingerprints
    are candidates, ranked by the shared count. Unlike MinHash (whole-
    document similarity) this catches PARTIAL overlap: any shared run
    of >= w+k-1 tokens contributes fingerprints regardless of how
    different the rest of the two documents is.

    Scale shape — never a row-pair self-join: distinct (doc, fp), one
    aggregation per fingerprint bucket, JVM-side i<j expansion within
    each bucket, then one (a, b) count aggregation. max_bucket_ids
    caps degenerate buckets (a fingerprint shared by thousands of docs
    is boilerplate, not duplication) by keeping the deterministic
    smallest ids; capped buckets under-count n_shared for dropped
    members — the same documented trade as minhash_candidates."""
    fps = (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(winnow_fingerprints(text, k=k, w=w)).alias("s"),
        )
        .select("_id", F.col("s.fp").alias("fp"))
        .distinct()
    )
    buckets = (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_list("_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_ids is not None:
        buckets = buckets.select(F.slice("ids", 1, max_bucket_ids).alias("ids"))
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def substring_dup_spans(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 20,
    hash_family: str = "xxhash64",
    min_docs: int = 2,
) -> DataFrame:
    """EXACT substring duplication: token windows of `span_tokens`
    consecutive tokens, fingerprinted positionally, aggregated to the
    spans appearing in >= min_docs DISTINCT documents -> (fp, n_docs,
    n_occ). This is the span-level complement of document-level
    near-dup (Lee et al., "Deduplicating Training Data Makes Language
    Models Better" — exact-substring match): boilerplate headers,
    license blocks, and templated passages repeat VERBATIM across
    otherwise-distinct pages, which set-based MinHash under-weighs.

    Shape at 100 TB: fingerprints are fixed-width longs — one explode
    (narrow) + ONE hash shuffle of (fp, id); raw text never shuffles.
    Count-distinct over ids is a partial-aggregable two-level agg.
    Documents shorter than span_tokens contribute nothing (a span
    signal needs a full window; short docs are document-level dedup's
    job). hash_family "md5" is the engine-portable variant (DuckDB
    replays bit-for-bit); production default xxhash64.

    Join the result back on fp to locate/redact the spans per doc, or
    aggregate n_occ-weighted to a per-doc duplication score.
    """
    n = span_tokens
    toks = df.select(F.col(id_col), tokenize(F.col(text)).alias("_toks"))
    k = F.size("_toks") - (n - 1)
    # positional windows (NOT distinct — n_occ counts within-doc
    # repeats too); explode(null) emits nothing for short docs
    windows = F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.array_join(F.slice(F.col("_toks"), i, n), " "),
        ),
    )
    spans = toks.select(F.col(id_col), F.explode(windows).alias("_span"))
    if hash_family == "md5":
        fp = _md5_long(F.col("_span"), 1, 15)
    elif hash_family == "xxhash64":
        fp = F.xxhash64(F.col("_span"))
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    return (
        spans.select(F.col(id_col), fp.alias("fp"))
        .groupBy("fp")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def _positional_windows(
    df: DataFrame, text: str, id_col: str, n: int, hash_family: str
) -> DataFrame:
    """(id, pos, fp): every n-token window's fingerprint with its
    1-based START TOKEN position — the positional complement of
    substring_dup_spans' aggregate (same window construction, same
    fingerprint families, so their fps join exactly)."""
    toks = df.select(F.col(id_col), tokenize(F.col(text)).alias("_toks"))
    k = F.size("_toks") - (n - 1)
    windows = F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.struct(
                i.alias("pos"),
                F.array_join(F.slice(F.col("_toks"), i, n), " ").alias("_span"),
            ),
        ),
    )
    spans = toks.select(F.col(id_col), F.explode(windows).alias("w")).select(
        id_col, "w.pos", F.col("w._span").alias("_span")
    )
    if hash_family == "md5":
        fp = _md5_long(F.col("_span"), 1, 15)
    elif hash_family == "xxhash64":
        fp = F.xxhash64(F.col("_span"))
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    return spans.select(id_col, "pos", fp.alias("fp"))


def dup_span_intervals(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 20,
    hash_family: str = "xxhash64",
    min_docs: int = 2,
    min_occ: int | None = None,
    dup_fps: DataFrame | None = None,
) -> DataFrame:
    """MAXIMAL duplicated token intervals per document — the
    span-LOCALIZATION step of exact-substring dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"):
    where substring_dup_spans reports WHICH spans repeat, this reports
    WHERE, with overlapping/adjacent duplicated windows merged into
    maximal intervals so remove_dup_spans can cut them.

    A window is duplicated when its fingerprint appears in >=
    `min_docs` distinct documents (or, with `min_occ`, in >= min_occ
    total occurrences — catches within-doc verbatim repeats too).
    Pass `dup_fps` (a 1-column fp relation) to reuse a precomputed
    detector, e.g. substring_dup_spans output filtered your own way.

    Scale shape: one positional-fingerprint map pass (fixed-width
    longs; raw text never shuffles), the aggregate dup-set, a
    semi-join of positions against it, then a per-DOCUMENT
    gaps-and-islands merge — two window functions partitioned by doc
    id over only the HIT positions (bounded by tokens per doc; docs
    without duplicated spans contribute zero rows).

    Output: (id_col, start_pos, end_pos, n_windows) — 1-based
    inclusive token positions.
    """
    from pyspark.sql import Window as W

    windows = _positional_windows(df, text, id_col, span_tokens, hash_family)
    if dup_fps is None:
        counts = windows.groupBy("fp").agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        cond = F.col("n_docs") >= min_docs
        if min_occ is not None:
            cond = cond | (F.col("n_occ") >= min_occ)
        dup_fps = counts.filter(cond).select("fp")
    hits = windows.join(dup_fps, "fp", "left_semi")
    w = W.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + (span_tokens - 1)).over(
        w.rowsBetween(W.unboundedPreceding, -1)
    )
    # a window starts a NEW island unless it overlaps or directly
    # abuts the running maximum end of everything before it
    new_island = F.when(
        prev_end.isNull() | (F.col("pos") > prev_end + 1), 1
    ).otherwise(0)
    islands = hits.select(
        id_col, "pos", F.sum(new_island).over(w).alias("_island")
    )
    return islands.groupBy(id_col, "_island").agg(
        F.min("pos").alias("start_pos"),
        (F.max("pos") + (span_tokens - 1)).alias("end_pos"),
        F.count(F.lit(1)).alias("n_windows"),
    ).drop("_island")


def remove_dup_spans(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 20,
    hash_family: str = "xxhash64",
    min_docs: int = 2,
    min_occ: int | None = None,
    intervals: DataFrame | None = None,
) -> DataFrame:
    """Cut duplicated spans OUT of each document (the removal step of
    Lee et al. exact-substring dedup): tokens covered by any maximal
    duplicated interval (dup_span_intervals) are dropped; the
    survivors rejoin in order. Documents with nothing duplicated pass
    through untouched (they never enter the interval join — the
    per-doc interval lists exist only for hit documents, so the join
    fan-in is bounded by actual duplication, not corpus size).

    Output: (id_col, clean_text, n_tokens, n_removed). clean_text is
    '' when every token was duplicated (fully-boilerplate doc)."""
    if intervals is None:
        intervals = dup_span_intervals(
            df, text=text, id_col=id_col, span_tokens=span_tokens,
            hash_family=hash_family, min_docs=min_docs, min_occ=min_occ,
        )
    per_doc = intervals.groupBy(id_col).agg(
        F.collect_list(F.struct("start_pos", "end_pos")).alias("_iv")
    )
    # tokenize ONCE into a projected column: referencing the raw
    # tokenize() expression from several lambdas re-evaluates the
    # split per element (the measured transform-closure pitfall)
    toks = df.select(F.col(id_col), tokenize(F.col(text)).alias("_toks")).join(
        per_doc, id_col, "left"
    )
    # two-arg filter lambda receives (element, 0-based index) — the
    # token's 1-based position is i + 1
    kept = F.when(F.col("_iv").isNull(), F.col("_toks")).otherwise(
        F.filter(
            F.col("_toks"),
            lambda t, i: ~F.exists(
                F.col("_iv"),
                lambda s: (i + 1 >= s["start_pos"]) & (i + 1 <= s["end_pos"]),
            ),
        )
    )
    return toks.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("clean_text"),
        F.size("_toks").alias("n_tokens"),
        (F.size("_toks") - F.size(kept)).alias("n_removed"),
    )


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec: str = "embedding",
    threshold: float = 0.9,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, score) with a < b
    and cosine(a, b) >= threshold.

    The dot product and norms are JVM-side higher-order functions
    (zip_with + aggregate) in sequential double arithmetic — exact,
    engine-reproducible, no Python per row.

    Scale path: pass `candidates` (id pairs from an LSH bucket join,
    e.g. minhash-banded simhash of the quantized vectors or
    similarity.lsh_ann buckets) so the exact measure only scores
    candidate pairs. Without `candidates` this is the O(n²/2) id-pruned
    self-join — the correctness baseline, fine per-partition or for
    small corpora.
    """
    from kspp_spark.functions.similarity import _dot

    a = df.select(F.col(id_col).alias("a"), F.col(vec).alias("_va"))
    b = df.select(F.col(id_col).alias("b"), F.col(vec).alias("_vb"))
    if candidates is not None:
        pairs = candidates.join(a, "a").join(b, "b")
    else:
        pairs = a.join(b, F.col("a") < F.col("b"))
    dot = _dot(F.col("_va"), F.col("_vb"))
    na = _dot(F.col("_va"), F.col("_va"))
    nb = _dot(F.col("_vb"), F.col("_vb"))
    # zero-norm guard: ANSI mode (on in the driver session) turns the
    # division into an error; a zero vector matches nothing (NULL score
    # fails the >= threshold filter)
    score = F.when((na > 0) & (nb > 0), dot / F.sqrt(na * nb))
    return (
        pairs.select("a", "b", score.alias("score"))
        .filter(F.col("score") >= threshold)
    )


def ngram_overlap_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_shared: int = 1,
) -> DataFrame:
    """Train/eval decontamination: find training documents sharing at
    least `min_shared` distinct word n-grams with any benchmark/eval
    document — the standard pre-training hygiene check that keeps test
    sets out of the training corpus.

    Shape: both sides shingle (distinct n-grams), equi-join on the
    shingle, then one count aggregation per (train, eval) pair — no
    cross product anywhere; the join fan-out is bounded by true shared
    n-grams. At 100 TB the eval side is tiny (benchmarks), so Spark
    broadcasts it and the train side streams map-side; the shuffle
    carries only (train_id, eval_id) pairs that actually overlap.
    (At extreme shingle cardinality, pre-hash the shingle to a 64-bit
    key to shrink shuffle width — kept as the raw string here so the
    result is engine-exact against the SQL oracle.)

    Output: (train_id, eval_id, shared_ngrams) with shared_ngrams >=
    min_shared.
    """
    t = train.select(
        F.col(id_col).alias("train_id"),
        F.explode(_shingles(F.col(text), shingle_n)).alias("sh"),
    )
    e = eval_df.select(
        F.col(id_col).alias("eval_id"),
        F.explode(_shingles(F.col(text), shingle_n)).alias("sh"),
    )
    return (
        t.join(F.broadcast(e), "sh")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= min_shared)
    )


def contamination_score(
    train: DataFrame,
    eval_df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document contamination FRACTION — how much of each
    training document's n-gram vocabulary appears anywhere in the
    benchmark/eval set. The binary gate (ngram_overlap_contamination
    above) answers "is this doc contaminated at all?"; real curation
    pipelines threshold on the fraction instead (e.g. drop > 10 %
    overlap, keep incidental single-shingle hits), so the score is
    the operator a corpus janitor actually sorts by.

    Output: (doc_id, matched long, total long, score double) for
    EVERY training doc — matched = distinct shingles of the doc also
    present in the eval union, total = the doc's distinct shingle
    count, score = matched/total. matched/total are exact integers;
    score is one IEEE division of those integers (exactly rounded,
    hence engine-portable).

    Shape: the eval side collapses to its DISTINCT shingle set
    (tiny — benchmarks) and BROADCASTS; the train side explodes
    once and LEFT-joins it, then one count aggregation per doc. No
    cross product; the per-doc totals come from the same single
    explode, so the text is shingled exactly once. At 100 TB this is
    a map-side-joined scan — the shuffle carries one row per
    (doc, shingle), the same width as the plain gate."""
    t = train.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_shingles(F.col(text), shingle_n)).alias("sh"),
    )
    ev = (
        eval_df.select(
            F.explode(_shingles(F.col(text), shingle_n)).alias("sh")
        )
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        t.join(F.broadcast(ev), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("_hit").alias("matched"),
            F.count(F.lit(1)).alias("total"),
        )
        .withColumn(
            "score",
            F.col("matched").cast("double") / F.col("total"),
        )
    )


def contamination_bloom(
    train: DataFrame,
    eval_df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_shared: int = 1,
    bits_log2: int = 20,
    k: int = 5,
) -> DataFrame:
    """Two-phase decontamination — IDENTICAL results to
    ngram_overlap_contamination (a Bloom filter has no false
    negatives; it only prunes), built for the 100 TB shape where the
    win is never exploding the clean 99.9% of training docs:

    1. BUILD (distributed): eval shingles hash into a Bloom filter
       (2^bits_log2 bits, k probes of the double-hashing family
       h1 + i*h2 over the repo-portable md5_long words); per-byte
       bit_or aggregation, then the non-zero bytes collect to the
       driver (bounded control plane: the filter itself, 2^(b-3)
       bytes — 128 KiB at the default) and ship back as ONE binary
       literal (one py4j call — the F.lit(list) per-element trap
       documented at with_registrable_domain does not apply to
       bytes).
    2. PREFILTER (map-side, pure JVM): a train doc survives iff ANY
       of its shingles has all k bloom bits set — F.exists over the
       shingle array probing the literal with O(1) substring/byte
       ops. No shuffle, no Python, no explode for bloom-negative
       docs.
    3. EXACT phase: the surviving sliver explodes and runs the same
       broadcast shingle join + pair count as
       ngram_overlap_contamination.

    k <= 5 keeps h1 + i*h2 < 2^63 (md5_long words are < 2^60) — ANSI
    overflow-safe without modular tricks.

    Honest local measurement: at sf0.1/local[32] this is ~2x SLOWER
    than the plain join (4.0s vs 2.0s) — the bloom-build job + the
    second shingle pass (probe, then explode on survivors) cost more
    than the already-cheap broadcast join saves on 5k docs. The
    crossover is corpus size: the plain form explodes EVERY training
    document into shingle rows (shuffle/CPU proportional to corpus
    tokens), the bloom form only the contaminated sliver. Use the
    plain form under ~10^6 docs; this form at pipeline scale."""
    assert 1 <= k <= 5, "k>5 overflows h1 + i*h2 under ANSI arithmetic"
    m = 1 << bits_log2
    ev_sh = eval_df.select(
        F.explode(_shingles(F.col(text), shingle_n)).alias("sh")
    ).distinct()
    probes = ev_sh.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda i: (
                    _md5_long(F.col("sh"), 1, 15)
                    + i * _md5_long(F.col("sh"), 17, 15)
                )
                % m,
            )
        ).alias("bit")
    )
    # pyspark's shiftleft/shiftright take only LITERAL shift counts —
    # power-of-2 arithmetic instead (exact: values < 2^8)
    byte_rows = (
        probes.select(
            (F.col("bit") / 8).cast("long").alias("byte_idx"),
            F.pow(F.lit(2.0), (F.col("bit") % 8).cast("double"))
            .cast("long")
            .alias("mask"),
        )
        .groupBy("byte_idx")
        .agg(F.bit_or("mask").alias("mask"))
        .collect()
    )
    bloom = bytearray(m // 8)
    for r in byte_rows:
        bloom[r.byte_idx] = r.mask
    blit = F.lit(bytes(bloom))

    def _hit(sh: Column) -> Column:
        # bind the two md5 words once per shingle (k references each)
        def _check(hs: Column) -> Column:
            def _bit_ok(acc: Column, i: Column) -> Column:
                bitpos = (hs["h1"] + i * hs["h2"]) % m
                byte = F.conv(
                    F.hex(
                        F.substring(
                            blit, (bitpos / 8).cast("int") + 1, 1
                        )
                    ),
                    16,
                    10,
                ).cast("long")
                # shiftright needs a literal count — floor-div by 2^s
                shifted = F.floor(
                    byte / F.pow(F.lit(2.0), (bitpos % 8).cast("double"))
                ).cast("long")
                return acc & (shifted.bitwiseAND(F.lit(1)) == 1)

            return F.aggregate(
                F.sequence(F.lit(0), F.lit(k - 1)),
                F.lit(True),
                _bit_ok,
            )

        return F.element_at(
            F.transform(
                F.array(
                    F.struct(
                        _md5_long(sh, 1, 15).alias("h1"),
                        _md5_long(sh, 17, 15).alias("h2"),
                    )
                ),
                _check,
            ),
            1,
        )

    # The prune rides a GENERATOR, not .filter(exists(...)): Catalyst
    # pushes deterministic predicates through Repartition, so the
    # whole probe kernel (shingles + 2 md5 words per shingle + k byte
    # probes) sat in a Filter directly on the scan, below any
    # upstream rebalance exchange — serialized on the pre-spread
    # splits of a local scan (r13-opt, same mechanism as the
    # heavy_hitters sketch prune). explode() of a NULL array drops
    # pruned rows identically (false and NULL exists() both yield a
    # NULL array), and a generator cannot be pushed. At scale (no
    # rebalance exchange) generator and filter are the same single
    # map-side pass. Only (id, text) ride through — the exact phase
    # needs nothing else (project early).
    survivors = train.select(
        F.explode(
            F.when(
                F.exists(_shingles(F.col(text), shingle_n), _hit),
                F.array(F.struct(F.col(id_col), F.col(text))),
            )
        ).alias("_bloom_doc")
    ).select(
        F.col("_bloom_doc").getField(id_col).alias(id_col),
        F.col("_bloom_doc").getField(text).alias(text),
    )
    return ngram_overlap_contamination(
        survivors,
        eval_df,
        text=text,
        id_col=id_col,
        shingle_n=shingle_n,
        min_shared=min_shared,
    )


def block_cosine_candidates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec: str = "embedding",
    threshold: float = 0.9,
    margin: float = 1e-9,
    n_blocks: int = 16,
) -> DataFrame:
    """EXACT candidate pairs for embedding-cosine dedup via block-matrix
    scoring — the scale-shaped replacement for the O(n²) `a < b`
    self-join on the full table.

    Vectors hash into `n_blocks` blocks; each block packs into ONE row
    (collect_list). The only join is the block-pair relation — B²/2
    rows of packed blocks, never a row-level cross product — and each
    block pair is scored inside an Arrow-batched task as a single
    vectorized matmul. Pairs with cos >= threshold - margin survive;
    `margin` covers the gap between BLAS pairwise summation and the
    sequential-double arithmetic of the exact rescoring stage (bound
    ~dim x machine-eps ≈ 1e-13 for dim 64, so 1e-9 is generous), which
    makes the candidate set a provable superset of the true pairs —
    unlike probabilistic LSH, which cannot promise recall for
    thresholds near the random-pair cosine range.

    Scale math: per-task memory = 2 blocks ≈ 2·(n/B)·dim·8 bytes;
    work = B²/2 independent tasks. Choose B ≈ n·dim·8 / (64 MB) so a
    block fits comfortably; exact all-pairs is inherently O(n²) —
    this tier is for moderate n (millions); billion-scale goes through
    the approximate tiers (lsh_ann / ivf) with relaxed recall.

    Output: (a, b) with a < b, cos(a, b) >= threshold - margin.
    """
    import numpy as np
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("blk")
    packed = (
        df.select(
            blk,
            F.struct(
                F.col(id_col).alias("i"),
                F.transform(F.col(vec), lambda x: x.cast("double")).alias("v"),
            ).alias("s"),
        )
        .groupBy("blk")
        .agg(F.collect_list("s").alias("items"))
    )
    left = packed.select(F.col("blk").alias("bl"), F.col("items").alias("l_items"))
    right = packed.select(F.col("blk").alias("br"), F.col("items").alias("r_items"))
    joined = left.join(right, F.col("bl") <= F.col("br"))

    cut = threshold - margin

    def score(batches):
        for pdf in batches:
            out_a: list = []
            out_b: list = []
            for bl, br, li, ri in zip(
                pdf["bl"], pdf["br"], pdf["l_items"], pdf["r_items"]
            ):
                ids_l = np.array([x["i"] for x in li])
                V_l = np.array([x["v"] for x in li], dtype=np.float64)
                if bl == br:
                    ids_r, V_r = ids_l, V_l
                else:
                    ids_r = np.array([x["i"] for x in ri])
                    V_r = np.array([x["v"] for x in ri], dtype=np.float64)
                nl = np.linalg.norm(V_l, axis=1)
                nr = np.linalg.norm(V_r, axis=1)
                nl[nl == 0] = np.inf  # zero vectors match nothing
                nr[nr == 0] = np.inf
                S = (V_l / nl[:, None]) @ (V_r / nr[:, None]).T
                hit = S >= cut
                # orient every pair (smaller id, larger id); within a
                # block each unordered pair appears once via the < mask
                hit &= ids_l[:, None] < ids_r[None, :]
                ii, jj = np.nonzero(hit)
                out_a.extend(ids_l[ii].tolist())
                out_b.extend(ids_r[jj].tolist())
                if bl != br:
                    hit2 = (S >= cut) & (ids_l[:, None] > ids_r[None, :])
                    ii2, jj2 = np.nonzero(hit2)
                    out_a.extend(ids_r[jj2].tolist())
                    out_b.extend(ids_l[ii2].tolist())
            yield pd.DataFrame({"a": out_a, "b": out_b})

    return joined.mapInPandas(score, schema=f"a {id_type}, b {id_type}")


def simhash(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash: per-token hash; each bit position votes +1/-1;
    the sign vector packs into one BIGINT. Vectorized as `bits`
    conditional sums in a single hash aggregation.

    hash_family "md5" uses the engine-portable 60-bit md5-int token
    hash (bits must be <= 60) — bit-exact replayable in DuckDB SQL;
    production default stays xxhash64 (native JVM, full 64 bits).

    Near-dup detection = small hamming distance between signatures;
    pair generation can band the signature bytes like minhash.
    """
    toks = df.select(F.col(id_col), F.explode(tokenize(F.col(text))).alias("tok"))
    if hash_family == "md5":
        if bits > 60:
            raise ValueError("md5 hash_family provides 60 usable bits")
        h = toks.select(id_col, _md5_long(F.col("tok"), 1, 15).alias("h"))
    else:
        h = toks.select(id_col, F.xxhash64("tok").alias("h"))
    votes = h.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"_b{i}")
            for i in range(bits)
        ]
    )
    sig = votes.select(
        id_col,
        sum(
            [
                F.when(F.col(f"_b{i}") > 0, F.shiftleft(F.lit(1).cast("bigint"), i)).otherwise(F.lit(0).cast("bigint"))
                for i in range(bits)
            ],
            F.lit(0).cast("bigint"),
        ).alias("simhash"),
    )
    return sig


def simhash_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    bands: int = 4,
    bits: int = 64,
    max_bucket_ids: int | None = None,
) -> DataFrame:
    """SimHash blocking: band the signature into `bands` equal
    bit-slices; documents sharing ANY slice are near-dup candidates.
    Pigeonhole guarantee: every pair within hamming distance < `bands`
    shares at least one identical slice, so the candidate set is a
    SUPERSET of all pairs with hamming <= bands-1 (the standard
    simhash blocking bound) — deterministic recall, unlike minhash's
    probabilistic banding. One hash aggregation on (band, slice) +
    the shared in-bucket expansion; no self-join.

    Output: distinct candidate pairs (a, b) with a < b.
    """
    exploded = signature_band_slices(
        sigs, id_col=id_col, sim_col=sim_col, bands=bands, bits=bits, out_id="_id"
    )
    return _bucket_pair_expansion(exploded, max_bucket_ids)


def signature_band_slices(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    bands: int = 4,
    bits: int = 64,
    out_id: str = "_id",
) -> DataFrame:
    """(out_id, band, bhash): band b of a packed bit signature is its
    b-th `bits // bands`-wide slice. The ONE definition of the slicing
    used by both the batch candidate generator (simhash_candidates,
    incl. the SRP form) and the streaming dedup state
    (streaming/dedup_incremental.srp_banded_signatures) — the two
    must stay bit-identical for probe-vs-batch parity. NULL signatures
    (e.g. NULL embeddings) are dropped — NULL is not a bucket."""
    width = bits // bands
    mask = (1 << width) - 1
    # NULL drop via the generator, NOT a separate .filter(isNotNull):
    # when the signature is a COMPUTED column (srp_signatures' 32-
    # plane projection, simhash's token votes) Catalyst pushes that
    # filter below the projection with the alias substituted, so the
    # whole signature expression evaluates TWICE per row — and below
    # any scan spread, i.e. on the single pre-spread split (r13-opt;
    # the curate_docs/page_links duplication mechanism, guide §4.4).
    # explode() of a NULL array drops the row identically, and the
    # generator's band slices read the materialized attribute.
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col(sim_col), b * width)
                .bitwiseAND(F.lit(mask))
                .alias("bhash"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select(
        F.col(id_col).alias(out_id),
        F.explode(
            F.when(F.col(sim_col).isNotNull(), band_structs)
        ).alias("bb"),
    ).select(out_id, "bb.band", "bb.bhash")


def simhash_hamming_pairs(
    sigs: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    max_hamming: int = 3,
) -> DataFrame:
    """Verify simhash candidates exactly: hamming distance = popcount
    of XOR, JVM-side bit_count — runs only on the candidate set.

    Output: (a, b, hamming) with hamming <= max_hamming.
    """
    sa = sigs.select(F.col(id_col).alias("a"), F.col(sim_col).alias("_sa"))
    sb = sigs.select(F.col(id_col).alias("b"), F.col(sim_col).alias("_sb"))
    return (
        candidates.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def srp_plane_signs(
    planes: int, dims: int, seed: int = 0
) -> list[list[float]]:
    """Deterministic ±1 hyperplane components for sign-random-projection
    LSH: component (p, d) is +1 when the first byte of
    md5("srp:{seed}:{p}:{d}") < 128, else -1. Rademacher (±1) entries
    preserve angles like Gaussian planes (Achlioptas 2003, "Database-
    friendly random projections") while staying engine-portable: any
    runtime that can compute md5 regenerates the identical matrix, so
    an external oracle can replay signatures bit-for-bit.
    """
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"srp:{seed}:{p}:{d}".encode()).digest()[0] < 128
            else -1.0
            for d in range(dims)
        ]
        for p in range(planes)
    ]


def srp_signatures(
    df: DataFrame,
    vec: str = "embedding",
    id_col: str = "vec_id",
    planes: int = 32,
    dims: int = 64,
    seed: int = 0,
) -> DataFrame:
    """Sign-random-projection (hyperplane) LSH signatures for embedding
    near-dup — "simhash for vectors" (Charikar 2002): bit p of the
    signature is 1 iff dot(vec, plane_p) > 0, so
    P[bits differ] = angle(a, b) / π and hamming distance estimates
    the cosine angle.

    This is the SCALE TIER for embedding near-dup that complements the
    exact block-matrix tier (block_cosine_candidates): one MAP-ONLY
    pass over the corpus (no shuffle — each signature is `planes`
    sequential-double dot products against constant ±1 arrays, all
    JVM-side higher-order functions), then band-bucket candidate
    generation via simhash_candidates(sim_col="srp") and exact
    rescoring of candidates only via embedding_dup_pairs(candidates=).
    At 100 TB the corpus never self-joins; only fixed-width signatures
    shuffle.

    The plane matrix is deterministic from (planes, dims, seed)
    (srp_plane_signs) — engine-portable, so a SQL oracle replays the
    whole pipeline exactly; there is no separate "portable" hash
    family needed.

    planes <= 62 (signature packs into one BIGINT, sign convention
    dot > 0, matching simhash's v > 0). Output: (id_col, srp BIGINT).
    """
    if planes > 62:
        raise ValueError("srp_signatures packs into one BIGINT: planes <= 62")
    signs = srp_plane_signs(planes, dims, seed)
    # One SQL expression string for the whole packed signature: the
    # plane matrix is an array<array<double>> literal and the per-plane
    # dot + sign + bit-pack runs inside nested higher-order functions.
    # (The Column-combinator form of the same tree needs planes*dims
    # F.lit py4j round-trips — measured 4s of driver time at 32x64;
    # this parses JVM-side in milliseconds. Dot accumulation order is
    # identical: zip_with + sequential aggregate.)
    planes_lit = (
        "array("
        + ",".join(
            "array(" + ",".join(f"{s}D" for s in row) + ")" for row in signs
        )
        + ")"
    )
    packed = (
        f"aggregate(transform({planes_lit}, (pl, p) -> "
        f"IF(aggregate(zip_with(`{vec}`, pl, (x, y) -> double(x) * y), "
        "0D, (a, x) -> a + x) > 0D, "
        "shiftleft(cast(1 as bigint), p), cast(0 as bigint))), "
        "cast(0 as bigint), (acc, v) -> acc | v)"
    )
    # dims guard: a vector of the wrong length would zip_with-pad with
    # NULLs, silently yielding srp=0 for every row (one giant LSH
    # bucket). Fail loudly — except NULL embeddings, which degrade to
    # NULL signatures (and are dropped by signature_band_slices, so
    # they never bucket together).
    sig_expr = (
        f"CASE WHEN `{vec}` IS NULL THEN cast(NULL as bigint) "
        f"WHEN size(`{vec}`) = {dims} THEN {packed} "
        f"ELSE cast(raise_error('srp_signatures: embedding length <> "
        f"dims={dims}') as bigint) END"
    )
    return df.select(F.col(id_col), F.expr(sig_expr).alias("srp"))


def _cc_halving_rounds(edges, labels, max_iter, chain):
    """Min-label propagation with one fused pointer shortcut per
    materialized round.

    r13-opt round fusion (guide §1.2 "fewer passes"): each round is
    ONE job, not two — the round settles through ``chain.cut``, a
    LAZY localCheckpoint between parquet resets (the plan truncates
    to a LogicalRDD immediately, exactly as the eager form —
    load-bearing, because the round plan references itself twice and
    an untruncated plan doubles per round; a persist()-based variant
    measured 4.6 s -> 99 s on dup_clusters_fixed for exactly that
    reason) and the materializing action IS the max(_chg) convergence
    probe (a full scan, so every partition is computed and
    checkpointed by the same job). The old shape paid
    localCheckpoint's internal count job plus a second
    filter/limit/count probe job per round; on an iterative operator
    the per-round job count is the wall clock."""
    for i in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        prop = labels.join(
            neighbor_min, labels.node == neighbor_min.src, "left"
        ).select(
            "node",
            F.col("component").alias("_orig"),
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
            ).alias("_c1"),
        )
        # pointer halving fused into the round's plan: component <-
        # component's component. Safe for min-labels on an undirected
        # graph (a node's label is always a node in its own component,
        # so the label's label is too). prop appears twice in the plan
        # (probe + pointer side) — 2x the hook computation, cheaper
        # than a second materialization per round.
        ptr = prop.select(F.col("node").alias("_pn"), F.col("_c1").alias("_pc"))
        final = F.least(F.col("_c1"), F.coalesce(F.col("_pc"), F.col("_c1")))
        updated = prop.join(ptr, F.col("_c1") == F.col("_pn"), "left").select(
            "node",
            final.alias("component"),
            (final < F.col("_orig")).alias("_chg"),
        )
        updated = chain.cut(updated, i + 1, last=i + 1 == max_iter)
        row = updated.agg(F.max("_chg")).first()
        labels = updated.drop("_chg")
        if not row[0]:  # None (empty) counts as converged
            break
    return labels


def _cc_partition_contract(sym: DataFrame) -> DataFrame:
    """Partition-local union-find contraction for connected_components
    (see its docstring): one mapInPandas pass over the symmetrized
    edge list; each task union-finds ITS partition's edges in memory
    and emits the (node, local_root) star map, symmetrized back to an
    undirected edge set. Connectivity-exact: every in-partition edge
    (u, v) maps u and v to one root; a node seen by several
    partitions bridges their roots through itself. Per-task memory is
    one dict over that partition's node ids — bounded by the
    partition size the scheduler already chose, never the graph."""

    def _contract(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for u, v in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
                if u not in parent:
                    parent[u] = u
                if v not in parent:
                    parent[v] = v
                ru, rv = find(u), find(v)
                if ru != rv:
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru
        nodes = list(parent)
        yield pd.DataFrame(
            {"src": nodes, "dst": [find(x) for x in nodes]}
        )

    m = sym.mapInPandas(_contract, sym.schema)
    return (
        m.union(
            m.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .where(F.col("src") != F.col("dst"))
        .union(m.where(F.col("src") == F.col("dst")))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    a: str = "a",
    b: str = "b",
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over near-dup pairs -> (node, component),
    component = smallest node id reachable. This is the step that turns
    PAIRS into duplicate CLUSTERS so one canonical doc survives per
    group (pairwise dedup alone under-removes transitive duplicates).

    Iterative min-label propagation WITH pointer halving: each round
    every node takes (a) the min of its label and its neighbors'
    labels (hooking), then (b) its label's label (shortcutting, fused
    into the same round's plan) — labels travel 2 hops per round, so
    a chain-shaped cluster converges in about half the rounds of plain
    propagation (measured 17 -> 9 on the sf0.1 embedding dup graph's
    16-hop chain). Converges when a round changes nothing. The r13
    A/B against Kiveris et al.'s large/small-star contraction and
    hook + full path compression (METRICS.md r13) found that halving
    never lost on real, chain or clique shapes, so only halving
    remains.

    Integer node ids first go through a PARTITION-LOCAL union-find
    contraction (r13-opt, guide §1.2 "fix the distributed algorithm
    first"): each edge partition collapses its own subgraph to
    depth-1 stars in one mapInPandas batch pass, so the rounds
    converge in 1-2 rounds instead of ~log2(diameter) (the 32-length
    chain graph drops from 8 hook rounds to 2). The rewrite preserves
    connectivity, and min reachable id is invariant under it, so
    labels are bit-identical. Non-integral ids skip it: the in-Python
    comparisons are kept to types whose ordering matches the JVM's.
    No driver-side graph state; every step is a plain hash join.

    LINEAGE NOTE (full treatment: SCALE.md "localCheckpoint
    durability boundary"): rounds cut lineage through io.ChainReset —
    a lazy localCheckpoint per round with a hard parquet round-trip
    every io.CHAIN_RESET_EVERY rounds. Reset dir resolution:
    `checkpoint_dir` param > the session's setCheckpointDir() > a
    driver-local temp dir (LOCAL MASTER ONLY — on a cluster master with
    neither source set this raises before any work rather than writing
    to a path the executors can't see). On a cluster master the edge
    list also takes a parquet round-trip up front: it feeds every
    round, and a lost localCheckpoint block there would kill the run
    with no recompute path.
    """
    spark = pairs.sparkSession
    on_cluster = not (spark.sparkContext.master or "").startswith("local")
    with ChainReset(spark, checkpoint_dir, prefix="cc") as chain:
        if on_cluster:
            chain.resolve()  # refuse before any work, not mid-iteration
        sym = (
            pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
            .union(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
            .distinct()
        )
        if all(isinstance(f.dataType, IntegralType) for f in sym.schema.fields):
            sym = _cc_partition_contract(sym)
        if on_cluster:
            edges = chain.reset(sym, "edges")
        else:
            edges = sym.localCheckpoint(eager=True)
        labels = (
            edges.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("component", F.col("node"))
            .localCheckpoint()
        )
        labels = _cc_halving_rounds(edges, labels, max_iter, chain)
        return chain.finalize(labels)


def cluster_representatives(
    clusters: DataFrame,
    scores: DataFrame,
    node_col: str = "node",
    component_col: str = "component",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware duplicate-cluster collapse: given the (node,
    component) labels from connected_components() and a per-node
    quality score, pick each cluster's BEST member -> (component,
    representative, rep_score, cluster_size). The min-id canonical
    (what dedup_near keeps) is the cheap default; production corpus
    curation keeps the highest-QUALITY copy instead (e.g. RefinedWeb
    Penedo et al. 2023 §3.3 dedups toward the best-scoring capture) —
    duplicates differ in boilerplate, truncation, and encoding
    damage, and which copy survives measurably moves downstream
    model quality.

    Deterministic argmax: max score wins, ties broken by SMALLEST
    node id (max_by on the (score, -node) pair — one struct
    comparison, no window, no join-back). ONE hash aggregation on
    component; payload rides the max_by struct. Nodes missing a score
    rank below every scored node (NULL-last via coalesce to LONG_MIN)
    so a partially-scored corpus still collapses every cluster."""
    long_min = -(2**63)
    joined = clusters.join(
        scores.select(
            F.col(node_col).alias("_sn"), F.col(score_col).alias("_sc")
        ),
        F.col(node_col) == F.col("_sn"),
        "left",
    ).select(
        F.col(component_col).alias("component"),
        F.col(node_col).alias("_node"),
        F.coalesce(F.col("_sc").cast("long"), F.lit(long_min)).alias("_sc"),
    )
    order = F.struct(F.col("_sc"), (-F.col("_node")).alias("_neg"))
    return joined.groupBy("component").agg(
        F.max_by(F.col("_node"), order).alias("representative"),
        F.max(F.col("_sc")).alias("rep_score"),
        F.count(F.lit(1)).alias("cluster_size"),
    )


def dedup_paragraph_text(
    text: Column | str, sep: str = "\n"
) -> Column:
    """Intra-document unit dedup (the WITHIN-document counterpart of
    the cross-corpus remove_boilerplate — MassiveText's repetition
    filter keeps one copy of each repeated line/paragraph inside a
    page; Rae et al. 2021 §A.1.1, Penedo et al. 2023 §3.2 line-level
    dedup): split on `sep`, keep the FIRST occurrence of each exact
    unit, rejoin in original order.

    Returns struct<text string, n_units int, n_kept int>.

    Pure JVM Column expression: one split, then a first-occurrence
    filter over the LAMBDA-BOUND array (the array is wrapped in a
    1-element array + transform so every reference inside the filter
    lambda is a cheap variable read — Catalyst does no subexpression
    elimination inside HOF lambdas, the winnow_fingerprints lesson).
    O(units^2) equality probes per document, all in codegen; map-only,
    no shuffle, no Python — the 100 TB shape. Replays exactly in
    DuckDB via list_filter((x, i) -> list_position(l, x) = i).

    Mirrors the reference's per-record transform surface
    (processors/transform.h) — kspp users would write this as a C++
    lambda; here it is a reusable JVM expression.
    """
    import re as _re

    if not sep:
        raise ValueError(
            "dedup_paragraph_text: sep must be non-empty (an empty "
            "separator would split every character)"
        )
    c = F.col(text) if isinstance(text, str) else text
    units = F.split(c, _re.escape(sep), -1)

    def _dd(us: Column) -> Column:
        kept = F.filter(
            us, lambda u, i: F.array_position(us, u) == i + 1
        )
        return F.struct(
            F.array_join(kept, sep).alias("text"),
            F.size(us).cast("int").alias("n_units"),
            F.size(kept).cast("int").alias("n_kept"),
        )

    return F.element_at(F.transform(F.array(units), _dd), 1)


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """DataFrame form of dedup_paragraph_text: (id, deduped text,
    n_units, n_kept). Map-only — safe to fuse into any scan."""
    s = dedup_paragraph_text(F.col(text_col), sep)
    return df.select(
        F.col(id_col),
        s["text"].alias(text_col),
        s["n_units"].alias("n_units"),
        s["n_kept"].alias("n_kept"),
    )


def edit_neighbor_pairs(
    df: DataFrame,
    col: str = "term",
    min_len: int = 4,
) -> DataFrame:
    """Typo-level near-duplicate pairs: all (a, b) with edit distance
    exactly 1, via SymSpell deletion-neighborhood blocking (Garbe's
    symmetric-delete algorithm: if lev(a,b) <= 1 then the two
    1-deletion neighborhoods — each string plus every
    single-character deletion of it — intersect; substitutions meet
    at delete-same-position, insert/delete meet at self-vs-delete).
    Candidates come from ONE equi-join on the variant string, then
    F.levenshtein verifies (kills transposition-style false
    positives like "ab"/"ba" that share a deletion but sit at
    distance 2). The entity-resolution primitive for vocabulary
    cleanup / OCR noise / key reconciliation.

    Shape: explode ~len+1 variants per string (bounded by string
    length), equi-join on the variant, distinct pairs, verify — the
    candidate fan-out is the true neighborhood, NEVER an all-pairs
    product. `min_len` keeps ultra-short strings (whose deletion
    neighborhoods are huge hubs — every 2-char string shares a
    1-char variant bucket with every same-letter sibling) out of
    the blocking; tune it to the vocabulary. Output (a, b), a < b,
    each pair once."""
    if min_len < 2:
        raise ValueError("edit_neighbor_pairs: min_len must be >= 2")
    s = F.col(col).cast("string")
    terms = (
        df.select(s.alias("t"))
        .filter(F.length("t") >= min_len)
        .distinct()
    )
    # r13-opt (guide §2.5 synthetic-parallelism trap, inverted): the
    # variant explode + hash + bucket join downstream of the distinct
    # is COMPUTE-dense, but AQE coalesces the distinct's (byte-tiny)
    # shuffle to ~1 partition, serializing the whole chain on one
    # core. Spread the distinct output when (and only when) the
    # INPUT is smaller than the session's parallelism — on a
    # cluster-sized vocabulary the scan has thousands of splits, the
    # condition never fires, and no extra shuffle is added. Measured
    # 5.0 s -> 1.2 s at sf0.1/local[32]; output is a set either way.
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        terms = terms.repartition(sc.defaultParallelism)
    variants = F.array_distinct(
        F.concat(
            F.array(F.col("t")),
            F.transform(
                F.sequence(F.lit(1), F.length("t")),
                lambda i: F.concat(
                    F.substring(F.col("t"), F.lit(1), i - 1),
                    F.col("t").substr(i + 1, F.length("t")),
                ),
            ),
        )
    )
    # join on the 64-bit hash of the variant, not the string: the
    # shuffle carries 8-byte keys instead of ~len-byte strings, and a
    # hash collision can only ADD candidates (equal variants always
    # hash equal) which the levenshtein verify kills — provably the
    # same output. Verify BEFORE distinct so the dedup shuffle
    # carries only true pairs (candidates outnumber pairs ~50x on
    # structured-key vocabularies). array_distinct above is
    # load-bearing: without it, repeated-character deletions emit
    # the same variant several times and the bucket fan-out
    # multiplies (measured 1.35x slower without). Net: 4.95s ->
    # 4.49s at sf0.1.
    ex = terms.select("t", F.explode(variants).alias("v")).select(
        "t", F.xxhash64("v").alias("h")
    )
    pairs = (
        ex.alias("l")
        .join(ex.alias("r"), "h")
        .select(F.col("l.t").alias("a"), F.col("r.t").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .filter(F.levenshtein("a", "b") == 1)
        .distinct()
    )
    return pairs


def prefix_filter_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """EXACT Jaccard similarity self-join by prefix filtering — the
    AllPairs/PPJoin candidate scheme (Bayardo et al. WWW'07; Xiao et
    al. WWW'08), the third distinct near-dup scale path beside
    MinHash-LSH (probabilistic, minhash_candidates) and winnowing
    (positional, winnow_dup_pairs). Unlike both, this one is LOSSLESS:
    it returns exactly the pairs with shingle-set Jaccard >=
    threshold_num/threshold_den — no false negatives to tune away —
    which is why its oracle can be the brute-force threshold join
    itself (identity certification, the heavy_hitters pattern).

    The theorem: order every set by one global token order and take
    each set's first |x| - ceil(t*|x|) + 1 tokens (its PREFIX). Two
    sets with Jaccard >= t must share at least one prefix token —
    if all shared tokens sat outside both prefixes, the overlap would
    be too small. So an equi-join on prefix tokens finds every
    qualifying pair. The global order is ASCENDING document frequency
    (rarest first, ties by token text): prefixes then hold each
    set's RAREST tokens, so the join's hash buckets are the small
    ones — frequency ordering is simultaneously the correctness
    order and the skew mitigation (a stop-shingle shared by half the
    corpus lands in prefixes only for sets that are nearly all stop
    shingles). The length filter t*|y| <= |x| (Jaccard <= min/max)
    prunes cross-size candidates inside the join condition.

    Threshold is an exact rational (num/den) and every comparison is
    integer cross-multiplied — ceil(t*n) = (num*n + den - 1) DIV den
    — so the keep decision replays bit-for-bit in SQL. Output
    (a, b, n_inter, n_union, jaccard), a < b; jaccard is the one
    IEEE int/int division.

    Execution shape (round-11 rewrite, MEASURED 1.8x the packed-array
    form at sf0.1 — 6.1s -> 3.4s): everything stays in the EXPLODED
    (id, g) stream; packed per-doc arrays are never built. The r10
    form aggregated collect_list(struct(df, g)) + array_sort per doc
    and then fed that wide-array relation to THREE consumers — and
    Catalyst/AQE does not reuse the exchange across the aliased
    branches, so the tokenize + ObjectHashAggregate repack shuffle
    ran 4x per query (verified in the physical plan; localCheckpoint
    to force reuse measured 60% SLOWER still, 5.9s -> 9.3s, because
    materializing the wide arrays costs more than the recompute).
    Here instead:

      1. rank = row_number over (partition id, order df_, g) gives
         each occurrence its global-order position; count over the
         same partition gives |x| — ONE window pass, no arrays.
      2. prefix tokens = rank <= |x| - ceil(t|x|) + 1; prefix
         equi-join on g with the integer length filter inside the
         join condition (as before).
      3. verify = count matching g per candidate pair: two equi-joins
         of the candidate set back onto the exploded stream
         (cand >< ex on a, then on (b, g)) + one hash agg — the
         intersection COUNT, since shingle sets are distinct, equals
         |a intersect b| exactly. Candidate-bounded work.

    Never an all-pairs product; no Python anywhere."""
    if not (0 < threshold_num <= threshold_den):
        raise ValueError("prefix_filter_pairs: need 0 < num <= den")
    num, den = threshold_num, threshold_den
    ex0 = df.select(
        F.col(id_col).alias("id"),
        F.explode(_shingles(F.col(text), shingle_n)).alias("g"),
    )
    # r13-opt: ex0 is consumed THREE times (the df_ window and both
    # verify joins re-derive it — tokenize + explode each time). On a
    # small/local input, materialize the narrow (id, g) stream once
    # (measured ~4.2 s -> ~3.6 s at sf0.1). On cluster-sized inputs
    # (scan wider than the session's parallelism) recomputing the map
    # is cheaper than materializing an exploded corpus, so the
    # condition never fires there — same conditional as
    # rebalance_small_scan.
    sc_ = df.sparkSession.sparkContext
    small_local = df.rdd.getNumPartitions() <= sc_.defaultParallelism
    if small_local:
        ex0 = materialize_once(ex0, eager=True)
    ex = ex0.withColumn("df_", F.count(F.lit(1)).over(W.partitionBy("g")))
    wn = W.partitionBy("id")
    ranked = ex.select(
        "id",
        "g",
        F.row_number().over(wn.orderBy("df_", "g")).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    # prefix length: n - ceil(t*n) + 1, all-integer
    plen = (
        F.col("n") - F.expr(f"({num} * n + {den - 1}) DIV {den}") + F.lit(1)
    )
    ptok = ranked.where(F.col("rk") <= plen).select("id", "n", "g", "rk")
    # r13-opt: the candidate self-join below aliases ptok twice, and
    # Catalyst does not reuse exchanges across aliased branches — the
    # WHOLE prefix subtree (df_ window over g + rank window over id,
    # i.e. two shuffles + two sorts of the full exploded stream) was
    # planned and executed once PER SIDE (plans/r13/ppjoin_pairs
    # captures). A lazy lineage cut computes it once and caches the
    # narrow (id, n, g) prefix stream. UNCONDITIONAL, unlike ex0's
    # materialization above: re-deriving ex0 is a cheap map, but
    # re-deriving ptok replays two full shuffle+sort passes of the
    # exploded stream — strictly more expensive than storing the
    # ~(1-t)-fraction prefix rows once at any scale. Stash A/B at
    # sf0.1: 5.20 -> 4.43 median of 5 (and the final plan drops from
    # four Window passes to two). Durability boundary as everywhere:
    # SCALE.md localCheckpoint section (switch to checkpoint() on a
    # cluster with executor churn).
    ptok = materialize_once(ptok)
    la = ptok.select(
        "g", F.col("id").alias("a"), F.col("n").alias("na"),
        F.col("rk").alias("_ia"),
    )
    lb = ptok.select(
        "g", F.col("id").alias("b"), F.col("n").alias("nb"),
        F.col("rk").alias("_ib"),
    )
    # r14-opt: the candidate dedup was a plain .distinct(); the SAME
    # (a, b, na, nb)-keyed aggregation can carry the PPJoin positional
    # filter (Xiao et al. WWW'08) aggregated over ALL shared prefix
    # tokens for free — count o_p and the ranks (i*, j*) of the
    # globally-LAST shared prefix token (both maxima belong to the
    # same token: within a doc, rank order IS the global token order,
    # so among shared tokens the arg-max agrees). SOUNDNESS of the
    # upper bound  overlap <= o_p + min(na - i*, nb - j*):  any shared
    # token u not counted in o_p sits outside a prefix, so u > t*
    # in the global order (if u < t* and u is in a doc, it ranks
    # before t* there, i.e. INSIDE that prefix, for both docs — then
    # it would be prefix-prefix and counted), hence rank_a(u) > i*
    # and rank_b(u) > j*. Pairs whose bound misses the integer
    # min-overlap ceil(num*(na+nb)/(num+den)) can never verify and
    # are dropped BEFORE the verify joins. The r13 attempt applied
    # the bound per-token (min(i-1,j-1)+1 standing in for o_p) and
    # pruned 0.4%; the aggregated form prunes 61% at sf0.1
    # (309,803 -> 119,907 candidates) and costs only two integer
    # maxes and a count on the exchange the dedup already paid.
    min_overlap = F.expr(
        f"({num} * (na + nb) + {num + den - 1}) DIV {num + den}"
    )
    cand = (
        la.join(lb, "g")
        .where(
            (F.col("a") < F.col("b"))
            & (
                F.least("na", "nb") * den
                >= F.greatest("na", "nb") * num
            )
        )
        .groupBy("a", "b", "na", "nb")
        .agg(
            F.count(F.lit(1)).alias("_op"),
            F.max("_ia").alias("_i"),
            F.max("_ib").alias("_j"),
        )
        .where(
            F.col("_op")
            + F.least(F.col("na") - F.col("_i"), F.col("nb") - F.col("_j"))
            >= min_overlap
        )
        .select("a", "b", "na", "nb")
    )
    exa = ex0.select(F.col("id").alias("a"), "g")
    exb = ex0.select(F.col("id").alias("b"), "g")
    verified = (
        cand.join(exa, "a")
        .join(exb, ["b", "g"])
        .groupBy("a", "b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .withColumn("n_union", F.col("na") + F.col("nb") - F.col("n_inter"))
        .where(F.col("n_inter") * den >= F.col("n_union") * num)
    )
    return verified.select(
        "a",
        "b",
        F.col("n_inter").cast("long").alias("n_inter"),
        F.col("n_union").cast("long").alias("n_union"),
        (F.col("n_inter").cast("double") / F.col("n_union").cast("double")).alias(
            "jaccard"
        ),
    )
