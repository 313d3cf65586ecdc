"""Similarity search over embedding columns (array<float>).

Beyond-reference capability (BASELINE.json north star).

Two tiers:
  * cosine_topk — exact brute force. O(|Q|×|C|) but fully
    distributed: the corpus side streams through executors, the
    (small) query side broadcasts, and the dot product is a JVM-side
    higher-order function (zip_with + aggregate) — no Python per row.
    This is the correctness baseline and is fine whenever |Q| is small.
  * lsh_ann_topk — approximate: random-hyperplane bucketing via
    spark.ml's BucketedRandomProjectionLSH; candidates come from
    bucket joins so the cross product never forms. The 100 TB path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F, Window as W


def _dot(a: Column, b: Column) -> Column:
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def cosine_scores(
    queries: DataFrame,
    corpus: DataFrame,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
) -> DataFrame:
    """All-pairs cosine similarity (query side broadcast)."""
    q = queries.select(
        F.col(q_id).alias("_qid"), F.col(q_vec).alias("_qv")
    ).withColumn("_qn", _dot(F.col("_qv"), F.col("_qv")))
    c = corpus.select(
        F.col(c_id).alias("_cid"), F.col(c_vec).alias("_cv")
    ).withColumn("_cn", _dot(F.col("_cv"), F.col("_cv")))
    pairs = c.crossJoin(F.broadcast(q))
    dot = _dot(F.col("_qv"), F.col("_cv"))
    # norms are deterministic sequential doubles; the final double math
    # is identical given identical inputs in any engine.
    score = dot.cast("double") / F.sqrt(F.col("_qn").cast("double") * F.col("_cn").cast("double"))
    return pairs.select(
        F.col("_qid").alias(q_id),
        F.col("_cid").alias(c_id),
        score.alias("score"),
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k neighbors per query by cosine; deterministic tiebreak on
    (score desc, corpus id asc). Rank via window — the per-query
    partition is |corpus| rows, pruned to k immediately."""
    scores = cosine_scores(queries, corpus, q_id, c_id, q_vec, c_vec)
    if exclude_self:
        scores = scores.filter(F.col(q_id) != F.col(c_id))
    w = W.partitionBy(q_id).orderBy(F.col("score").desc(), F.col(c_id))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, c_id, "rank", "score")
    )


def ivf_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    vec: str = "embedding",
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF (inverted-file) approximate NN: a KMeans coarse quantizer
    partitions the corpus into `nlist` cells; each query probes its
    `nprobe` nearest cells (by L2 to the centroid, KMeans's metric) and
    exact-scores only vectors in those cells.

    Scale shape: the trained centroid table is tiny and broadcast; the
    corpus is shuffled ONCE on cell id (and at 100 TB would be *written
    bucketed* by cell id so repeated queries never reshuffle); each
    query fans out to nprobe cells, so the scored fraction is
    ~nprobe/nlist of the corpus. nprobe = nlist degrades to exact
    brute force — the property the unit test asserts.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c_feat = corpus.select(
        F.col(c_id).alias("_cid"),
        F.col(vec).alias("_cv"),
        array_to_vector(F.col(vec).cast("array<double>")).alias("features"),
    )
    model = KMeans(
        k=nlist, seed=seed, maxIter=20, featuresCol="features", predictionCol="_cell"
    ).fit(c_feat)
    assigned = model.transform(c_feat).select("_cid", "_cv", "_cell")

    spark = corpus.sparkSession
    cent = spark.createDataFrame(
        [(i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>",
    )
    q = queries.select(F.col(q_id).alias("_qid"), F.col(vec).alias("_qv"))
    l2 = F.aggregate(
        F.zip_with(
            F.col("_qv").cast("array<double>"),
            F.col("centroid"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wq = W.partitionBy("_qid").orderBy(F.col("_l2"), F.col("cell"))
    probed = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("_l2", l2)
        .withColumn("_pr", F.row_number().over(wq))
        .filter(F.col("_pr") <= nprobe)
        .select("_qid", "_qv", F.col("cell").alias("_cell"))
    )
    pairs = probed.join(assigned, "_cell")
    if exclude_self:
        pairs = pairs.filter(F.col("_qid") != F.col("_cid"))
    dot = _dot(F.col("_qv"), F.col("_cv"))
    qn = _dot(F.col("_qv"), F.col("_qv"))
    cn = _dot(F.col("_cv"), F.col("_cv"))
    scored = pairs.select(
        "_qid",
        "_cid",
        (dot / F.sqrt(qn * cn)).alias("score"),
    )
    w = W.partitionBy("_qid").orderBy(F.col("score").desc(), F.col("_cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(q_id), F.col("_cid").alias(c_id), "rank", "score"
        )
    )


def lsh_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    vec: str = "embedding",
    bucket_length: float = 2.0,
    num_hash_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate NN via random-projection LSH (spark.ml). Buckets
    co-locate likely neighbors; only bucket-collision pairs are scored.
    Scales to arbitrarily large corpora — shuffle is on bucket keys.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.linalg import VectorUDT  # noqa: F401  (schema dep)

    c = corpus.select(
        F.col(c_id).alias("_cid"),
        array_to_vector(F.col(vec).cast("array<double>")).alias("features"),
    )
    q = queries.select(
        F.col(q_id).alias("_qid"),
        array_to_vector(F.col(vec).cast("array<double>")).alias("features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(c)
    joined = model.approxSimilarityJoin(q, c, float("inf"), distCol="dist")
    pairs = joined.select(
        F.col(f"datasetA._qid").alias(q_id),
        F.col(f"datasetB._cid").alias(c_id),
        F.col("dist"),
    ).filter(F.col(q_id) != F.col(c_id))
    w = W.partitionBy(q_id).orderBy(F.col("dist"), F.col(c_id))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, c_id, "rank", "dist")
    )


def quantize_embeddings(
    df: DataFrame,
    embedding: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric int8 scalar quantization: per-vector scale =
    max(|x|)/127, q_i = floor(x_i/scale + 0.5) — round-half-UP (ties go
    toward +inf, so -2.5 -> -2), computed in exact double arithmetic so
    any engine replaying this formula agrees bitwise (the oracle SQL
    uses the identical floor(x/scale + 0.5) expression).
    4x storage reduction for ANN candidate stages; the scale column
    lets a rescoring stage dequantize (q_i * scale).

    Pure per-row column math — no shuffle, no UDF; at 100 TB this is a
    map-only pass that stays inside whole-stage codegen.
    """
    e = F.col(embedding)
    as_double = F.transform(e, lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(as_double, F.abs))
    # all-zero vectors: scale 0, quantized all-zero (guard the division)
    scale = max_abs / F.lit(127.0)
    # codes live in [-127, 127] -> store as TINYINT (1 byte/element):
    # the actual 4x-vs-float32 storage/bandwidth win. Consumers widen
    # before arithmetic (quantized_cosine_topk's idot casts to bigint).
    q = F.when(
        max_abs == 0.0, F.transform(as_double, lambda x: F.lit(0).cast("tinyint"))
    ).otherwise(
        F.transform(as_double, lambda x: F.floor(x / scale + F.lit(0.5)).cast("tinyint"))
    )
    return df.select(
        F.col(id_col),
        scale.alias("scale"),
        q.alias("q_embedding"),
    )


def srp_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
    planes: int = 32,
    dims: int = 64,
    bands: int = 4,
    seed: int = 0,
    exclude_self: bool = False,
) -> DataFrame:
    """LSH-bucketed approximate nearest neighbors with an EXACT
    replayable plan: candidates are corpus vectors sharing at least
    one SRP signature band with the query (hyperplane LSH — the same
    deterministic md5-derived planes as dedup.srp_signatures, so every
    stage reproduces bit-for-bit in an external SQL engine), scored by
    exact sequential-double cosine, top-k per query with a
    deterministic (score desc, id) tiebreak.

    The scale path next to the brute-force cosine_topk: the corpus is
    touched by one map-only signature pass + a band-bucket equi-join —
    never a query x corpus cross join. Recall is the LSH collision
    probability (raise bands / lower per-band bits to trade candidate
    volume for recall); queries with no collisions return < k rows.

    exclude_self drops candidates whose corpus id EQUALS the query id —
    only meaningful when the queries are drawn from the corpus itself
    (same id space). Leave False (the default) when querying one table
    against another: unrelated tables can share raw id values, and
    excluding those would silently drop true neighbors.

    Output: (q_id, c_id, rank, score).
    """
    from kspp_spark.functions.dedup import (
        signature_band_slices,
        srp_signatures,
    )

    sq = srp_signatures(queries, vec=q_vec, id_col=q_id, planes=planes, dims=dims, seed=seed)
    sc = srp_signatures(corpus, vec=c_vec, id_col=c_id, planes=planes, dims=dims, seed=seed)
    bq = signature_band_slices(
        sq, id_col=q_id, sim_col="srp", bands=bands, bits=planes, out_id="_qid"
    )
    bc = signature_band_slices(
        sc, id_col=c_id, sim_col="srp", bands=bands, bits=planes, out_id="_cid"
    )
    cand = bq.join(bc, ["band", "bhash"]).select("_qid", "_cid").distinct()
    if exclude_self:
        cand = cand.filter(F.col("_qid") != F.col("_cid"))
    qv = queries.select(F.col(q_id).alias("_qid"), F.col(q_vec).alias("_qv"))
    cv = corpus.select(F.col(c_id).alias("_cid"), F.col(c_vec).alias("_cv"))
    scored = cand.join(qv, "_qid").join(cv, "_cid")
    dot = _dot(F.col("_qv"), F.col("_cv"))
    qn = _dot(F.col("_qv"), F.col("_qv"))
    cn = _dot(F.col("_cv"), F.col("_cv"))
    score = F.when((qn > 0) & (cn > 0), dot / F.sqrt(qn * cn))
    scored = scored.select(
        F.col("_qid").alias(q_id), F.col("_cid").alias(c_id), score.alias("score")
    ).filter(F.col("score").isNotNull())  # zero-norm vectors match nothing
    w = W.partitionBy(q_id).orderBy(F.col("score").desc(), F.col(c_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, c_id, "rank", "score")
    )


def quantized_cosine_topk(
    candidates: DataFrame,
    quantized: DataFrame,
    k: int = 5,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    quant_id: str = "vec_id",
) -> DataFrame:
    """Int8 rescoring tier: score candidate pairs with the QUANTIZED
    vectors (quantize_embeddings output) instead of the full-precision
    ones — the memory-bandwidth move at scale (4x less data through
    the scoring join) with a determinism upgrade: dot product and both
    norms are exact BIGINT arithmetic over the int8 codes (symmetric
    quantization makes the per-vector scales cancel out of the cosine),
    so the ONLY float op is one final divide of exact integers —
    bit-reproducible in any engine, no float-summation order anywhere.

    candidates: (q_id, c_id) pairs from any candidate generator
    (srp_ann banding, IVF cells, LSH buckets); both sides resolve
    against `quantized` (quant_id, scale, q_embedding) — scale is
    unused for cosine (cancels) but kept for dot-product/L2 rescoring
    variants. Zero vectors score NULL and are dropped. Output:
    (q_id, c_id, rank, score) with the deterministic (score desc, id)
    tiebreak.
    """

    def idot(a: Column, b: Column) -> Column:
        # widen int8 codes BEFORE multiplying: tinyint*tinyint would
        # overflow at 127*127 under ANSI
        prod = F.zip_with(a, b, lambda x, y: x.cast("bigint") * y.cast("bigint"))
        return F.aggregate(prod, F.lit(0).cast("bigint"), lambda acc, x: acc + x)

    qv = quantized.select(
        F.col(quant_id).alias("_qid"), F.col("q_embedding").alias("_qq")
    )
    cv = quantized.select(
        F.col(quant_id).alias("_cid"), F.col("q_embedding").alias("_qc")
    )
    pairs = (
        candidates.select(F.col(q_id).alias("_qid"), F.col(c_id).alias("_cid"))
        .join(qv, "_qid")
        .join(cv, "_cid")
    )
    dot = idot(F.col("_qq"), F.col("_qc"))
    nq = idot(F.col("_qq"), F.col("_qq"))
    nc = idot(F.col("_qc"), F.col("_qc"))
    score = F.when(
        (nq > 0) & (nc > 0),
        dot.cast("double") / F.sqrt(nq.cast("double") * nc.cast("double")),
    )
    scored = pairs.select(
        F.col("_qid").alias(q_id), F.col("_cid").alias(c_id), score.alias("score")
    ).filter(F.col("score").isNotNull())
    w = W.partitionBy(q_id).orderBy(F.col("score").desc(), F.col(c_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, c_id, "rank", "score")
    )


def kmeans_embedding_clusters(
    df: DataFrame,
    k: int = 16,
    id_col: str = "vec_id",
    vec: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    include_l2: bool = True,
) -> DataFrame:
    """Cluster an embedding column with spark.ml KMeans (the same
    coarse quantizer ivf_ann_topk trains internally, exposed as a
    first-class operator): returns (id_col, cluster[, l2]) where l2
    is the squared distance to the assigned centroid — the standard
    building block for topic bucketing, semantic dedup triage, and
    diversity-aware sampling. include_l2=False skips the centroid
    join entirely for consumers that only need the assignment.

    Scale shape: KMeans training aggregates per-partition partial
    sums (Lloyd's steps are map + tree-aggregate, no shuffle of the
    vectors); assignment is one broadcast of k centroids over a
    map-only pass. Iterative/seeded => rows-only check territory, like
    ivf_ann.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.select(
        F.col(id_col),
        F.col(vec).cast("array<double>").alias("_v"),
        array_to_vector(F.col(vec).cast("array<double>")).alias("features"),
    )
    model = KMeans(
        k=k, seed=seed, maxIter=max_iter, featuresCol="features",
        predictionCol="cluster",
    ).fit(feat)
    assigned = model.transform(feat).select(id_col, "_v", "cluster")
    if not include_l2:
        return assigned.select(id_col, "cluster")
    spark = df.sparkSession
    cent = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cluster int, _centroid array<double>",
    )
    l2 = F.aggregate(
        F.zip_with(F.col("_v"), F.col("_centroid"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        assigned.join(F.broadcast(cent), "cluster")
        .select(id_col, "cluster", l2.alias("l2"))
    )


def cluster_balanced_sample(
    df: DataFrame,
    k: int = 16,
    per_cluster: int = 100,
    id_col: str = "vec_id",
    vec: str = "embedding",
    seed: int = 42,
    salt: str = "",
    max_iter: int = 20,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """Diversity-aware downsampling: cluster the embeddings, then keep
    (up to) `per_cluster` rows from EVERY cluster — the semantic
    complement of stratified_sample's metadata strata. Uniform random
    sampling over-represents dense regions of embedding space; this
    keeps the tails.

    Within each cluster the kept rows are chosen by the repo's
    deterministic md5 draw over the id (partition/rerun-invariant,
    independent draws per salt). To draw several independent samples
    over ONE fitted clustering (rather than re-training KMeans per
    call), pass `assignments` — a (id_col, cluster) frame, e.g.
    kmeans_embedding_clusters(..., include_l2=False) materialized
    once — and vary `salt`.

    Returns (id_col, cluster). One broadcast-assignment pass (skipped
    when assignments are supplied) + one per-cluster rank window over
    (hash, id).
    """
    from kspp_spark.functions.sampling import hash_bucket

    assigned = (
        assignments
        if assignments is not None
        else kmeans_embedding_clusters(
            df, k=k, id_col=id_col, vec=vec, seed=seed, max_iter=max_iter,
            include_l2=False,
        )
    )
    h = hash_bucket(id_col, salt).alias("_h")
    w = W.partitionBy("cluster").orderBy("_h", id_col)
    return (
        assigned.withColumn("_h", h)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= per_cluster)
        .select(id_col, "cluster")
    )


def srp_bucket_sample(
    df: DataFrame,
    per_bucket: int = 100,
    planes: int = 6,
    dims: int = 64,
    id_col: str = "vec_id",
    vec: str = "embedding",
    seed: int = 0,
    salt: str = "",
) -> DataFrame:
    """FULLY DETERMINISTIC diversity-aware downsampling — the
    replayable tier of cluster_balanced_sample: the diversity
    partition is the SRP hyperplane bucket (2^planes buckets; the
    md5-derived ±1 plane matrix of dedup.srp_plane_signs, so any
    engine regenerates the identical assignment bit-for-bit) instead
    of a KMeans fit, and within each bucket the kept rows are the
    repo's md5 draw over the id. Same diversity semantics — nearby
    vectors share buckets (P[split] = angle/π per plane), so keeping
    per_bucket rows from every bucket preserves the tails of
    embedding space — but no iteration, no seed-dependent centroids,
    and an exact SQL oracle.

    Scale shape: one map-only signature pass (srp_signatures — JVM
    higher-order functions, no shuffle), then one rank window
    partitioned by bucket over (hash, id). Independent redraws: vary
    `salt` (the buckets stay fixed).

    Returns (id_col, bucket) with bucket = the packed SRP signature
    in [0, 2^planes).
    """
    from kspp_spark.functions.dedup import srp_signatures
    from kspp_spark.functions.sampling import hash_bucket

    sig = srp_signatures(
        df, vec=vec, id_col=id_col, planes=planes, dims=dims, seed=seed
    )
    h = hash_bucket(id_col, salt).alias("_h")
    w = W.partitionBy("srp").orderBy("_h", id_col)
    return (
        sig.withColumn("_h", h)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= per_bucket)
        .select(F.col(id_col), F.col("srp").alias("bucket"))
    )


def srp_bucket_profile(
    df: DataFrame,
    planes: int = 6,
    dims: int = 64,
    id_col: str = "vec_id",
    vec: str = "embedding",
    seed: int = 0,
) -> DataFrame:
    """Occupancy profile of the SRP diversity buckets (the
    skew-inspection companion to srp_bucket_sample: how balanced is
    the partition a balanced sample would draw from?): one map-only
    signature pass + one integer aggregation per bucket. Returns
    (bucket, n, min_id, max_id) — integer-exact, so the profile
    replays bitwise in SQL."""
    from kspp_spark.functions.dedup import srp_signatures

    sig = srp_signatures(
        df, vec=vec, id_col=id_col, planes=planes, dims=dims, seed=seed
    )
    return sig.groupBy(F.col("srp").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(id_col).alias("min_id"),
        F.max(id_col).alias("max_id"),
    )


def hard_negative_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
    q_label: str = "label",
    c_label: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training (the dense-
    retrieval training-data op: DPR, Karpukhin et al. 2020 §4.2 — per
    anchor, the most-similar corpus items with a DIFFERENT label are
    the informative negatives; SimCSE, Gao et al. 2021): top-k by
    cosine among label-mismatched candidates, deterministic tiebreak
    (score desc, corpus id asc).

    Same distributed shape as cosine_topk: the (small) anchor side
    broadcasts WITH its labels, the corpus streams, and the label
    mismatch filters pairs BEFORE the dot product is computed — an
    anchor never scores its own class. Self-pairs are excluded for
    free (same label). At 100 TB the anchor set is mined in bounded
    batches, or candidates come from srp_candidates/ivf cells first —
    this exact form is the per-batch / per-cell verifier.
    """
    q = queries.select(
        F.col(q_id).alias("_qid"),
        F.col(q_vec).alias("_qv"),
        F.col(q_label).alias("_ql"),
    ).withColumn("_qn", _dot(F.col("_qv"), F.col("_qv")))
    c = corpus.select(
        F.col(c_id).alias("_cid"),
        F.col(c_vec).alias("_cv"),
        F.col(c_label).alias("_cl"),
    ).withColumn("_cn", _dot(F.col("_cv"), F.col("_cv")))
    pairs = c.crossJoin(F.broadcast(q)).filter(
        ~F.col("_ql").eqNullSafe(F.col("_cl"))
    )
    dot = _dot(F.col("_qv"), F.col("_cv"))
    score = dot.cast("double") / F.sqrt(
        F.col("_qn").cast("double") * F.col("_cn").cast("double")
    )
    scored = pairs.select(
        F.col("_qid").alias(q_id),
        F.col("_cid").alias(c_id),
        F.col("_cl").alias("neg_label"),
        score.alias("score"),
    )
    w = W.partitionBy(q_id).orderBy(F.col("score").desc(), F.col(c_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, c_id, "neg_label", "rank", "score")
    )


def minmax_scale(
    df: DataFrame,
    dims: int,
    vec: str = "embedding",
    id_col: str = "vec_id",
    out: str = "scaled",
) -> DataFrame:
    """Per-dimension min-max feature scaling: x' = (x - min_d) /
    (max_d - min_d), the normalization pass before distance-based
    ops when dimensions have different ranges. Constant dimensions
    (max = min) scale to 0.0.

    min/max are ORDER-INDEPENDENT aggregates — unlike mean/variance,
    they are bit-exact under any partitioning and replay in any
    engine, so the scaled doubles hash-match a SQL oracle (the same
    reason the repo's cross-row float aggregation is otherwise
    decimal-only). Plan shape: ONE partial-aggregated reduction to a
    single 2×dims-double stats row (element_at projections — no
    posexplode shuffle of N×dims rows), broadcast back, map-side
    rescale."""
    if dims < 1:
        raise ValueError("minmax_scale: dims must be >= 1")
    stats = df.agg(
        F.array(
            *[
                F.min(F.element_at(vec, i + 1).cast("double"))
                for i in range(dims)
            ]
        ).alias("_mins"),
        F.array(
            *[
                F.max(F.element_at(vec, i + 1).cast("double"))
                for i in range(dims)
            ]
        ).alias("_maxs"),
    )
    scaled = F.zip_with(
        F.col(vec).cast("array<double>"),
        F.zip_with(
            "_mins", "_maxs", lambda lo, hi: F.struct(lo.alias("lo"), hi.alias("hi"))
        ),
        lambda x, s: F.when(
            s["hi"] > s["lo"], (x - s["lo"]) / (s["hi"] - s["lo"])
        ).otherwise(F.lit(0.0)),
    )
    return df.crossJoin(F.broadcast(stats)).select(
        F.col(id_col), F.col(vec), scaled.alias(out)
    )


def rrf_fuse(
    rankings: list[DataFrame],
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    scale: int = 1_000_000_000,
    top_n: int | None = None,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR'09
    — the public RRF formula) over any number of per-query rankings:
    each list contributes scale DIV (k + rank) to every (query, doc)
    it ranks, fused score = the SUM. Contributions are EXACT INTEGERS
    (the published 1/(k+r) scaled by 1e9 and floor-divided), so the
    fusion replays bit-for-bit in SQL — the float spelling would
    depend on engine summation order. k=60 is the paper's constant;
    integer scaling preserves the paper's ordering whenever score
    gaps exceed 1/scale (guaranteed here: distinct (k+r) <= ~1e5
    yield distinct scale DIV terms at scale 1e9).

    The standard hybrid-retrieval combiner: fuse BM25 (bm25_search),
    dense ANN (srp_ann / quantized_ann) and any business ranking
    without score calibration — RRF only reads RANKS, so the lists'
    score scales never meet. Each input list must carry at most one
    rank per (query, doc) — the row_number contract every ranker
    here satisfies; duplicate rows would double-count their list.
    NULL ranks are dropped (no position information). Output: (query, doc, rrf_score, n_lists,
    best_rank) [+ fused_rank when top_n is set, keeping ties broken
    by doc id for determinism].

    Scale shape: one union of the (already small, top-k-sized)
    ranking lists + ONE hash aggregation on (query, doc) + an
    optional rank window partitioned per query over fused rows —
    candidate-sized everywhere, map-side combinable."""
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    if k < 1 or scale < 1:
        raise ValueError("rrf_fuse: k and scale must be >= 1")
    parts = [
        r.select(
            F.col(query_col).alias("q"),
            F.col(doc_col).alias("d"),
            F.col(rank_col).cast("long").alias("r"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    # a NULL rank carries no position information: drop the row
    # entirely (otherwise it would inflate n_lists while adding
    # nothing to the score)
    u = u.where(F.col("r").isNotNull())
    fused = u.groupBy("q", "d").agg(
        F.sum(F.expr(f"{scale} DIV ({k} + r)")).alias("rrf_score"),
        F.count(F.lit(1)).alias("n_lists"),
        F.min("r").alias("best_rank"),
    )
    out = fused.select(
        F.col("q").alias(query_col),
        F.col("d").alias(doc_col),
        F.col("rrf_score").cast("long").alias("rrf_score"),
        F.col("n_lists").cast("long").alias("n_lists"),
        F.col("best_rank").cast("long").alias("best_rank"),
    )
    if top_n is not None:
        from pyspark.sql import Window as W

        w = W.partitionBy(query_col).orderBy(
            F.col("rrf_score").desc(), F.col(doc_col)
        )
        out = out.withColumn(
            "fused_rank", F.row_number().over(w).cast("long")
        ).where(F.col("fused_rank") <= top_n)
    return out
