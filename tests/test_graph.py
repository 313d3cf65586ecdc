"""Link-graph analytics (kspp_spark/functions/graph.py): integer-
scaled PageRank closed-form checks, determinism, the domain-graph
collapse, and the io.ChainReset lineage loop the iterative engines
share."""

import os
import warnings

import pytest
from pyspark.sql import functions as F

from kspp_spark.functions.dedup import connected_components
from kspp_spark.functions.graph import (
    bfs_hops,
    domain_edges,
    graph_nodes,
    hits,
    kcore_peel,
    pagerank,
)

SCALE = 10**12


@pytest.fixture(scope="module")
def two_cycle(spark):
    return spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )


def test_pagerank_two_cycle_fixed_point(spark, two_cycle):
    """a<->b is the exact fixed point: each node keeps scale/2 —
    base (scale/2)*15//100 + 85*(scale/2)//100 = scale/2 exactly."""
    for it in (0, 1, 3):
        got = {r.node: r.rank for r in pagerank(two_cycle, it).collect()}
        assert got == {"a": SCALE // 2, "b": SCALE // 2}, it


def test_pagerank_star_closed_form(spark):
    """Star x,y,z -> hub (hub dangling): after one iteration the hub
    holds base + 0.85 * 3 * (scale/4); spokes hold base only. Checked
    against the hand-computed integer values."""
    e = spark.createDataFrame(
        [("x", "hub"), ("y", "hub"), ("z", "hub")], "src string, dst string"
    )
    r0 = SCALE // 4
    base = r0 * 15 // 100
    want_hub = base + 85 * (3 * (r0 // 1)) // 100
    got = {r.node: r.rank for r in pagerank(e, 1).collect()}
    assert got == {"x": base, "y": base, "z": base, "hub": want_hub}
    # second iteration: the hub is dangling — its mass drops, spokes
    # get base, hub gets base + 0.85 * 3 * (base // 1)
    got2 = {r.node: r.rank for r in pagerank(e, 2).collect()}
    assert got2["hub"] == base + 85 * (3 * base) // 100
    assert got2["x"] == base


def test_pagerank_parallel_edges_collapse(spark):
    """Duplicate (src, dst) rows must not double mass — classic
    PageRank is on the simple digraph."""
    e1 = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "a")], "src string, dst string"
    )
    e2 = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    assert sorted(map(tuple, pagerank(e1, 3).collect())) == sorted(
        map(tuple, pagerank(e2, 3).collect())
    )


def test_pagerank_mass_conservation_no_dangling(spark):
    """With no dangling nodes, total mass stays within the documented
    floor-division leak of the initial scale."""
    edges = [("n%d" % i, "n%d" % ((i * 3 + 1) % 7)) for i in range(7)]
    e = spark.createDataFrame(edges, "src string, dst string")
    total = sum(r.rank for r in pagerank(e, 4).collect())
    assert SCALE - 7 * 4 * 100 <= total <= SCALE


def test_pagerank_deterministic_across_partitionings(spark, two_cycle):
    """Integer arithmetic is associative: repartitioning must not
    change a single rank bit (the reason the API is integer-scaled)."""
    edges = [
        ("n%d" % (i % 13), "n%d" % ((i * 5 + 2) % 13)) for i in range(40)
    ]
    e = spark.createDataFrame(edges, "src string, dst string")
    a = sorted(map(tuple, pagerank(e, 3).collect()))
    b = sorted(map(tuple, pagerank(e.repartition(17), 3).collect()))
    assert a == b


def test_pagerank_rejects_negative_iterations(spark, two_cycle):
    with pytest.raises(ValueError, match="iterations"):
        pagerank(two_cycle, -1)


CHAIN_ENGINES = {
    "pagerank": lambda e, src: pagerank(e, 3),
    "hits": lambda e, src: hits(e, 3),
    "kcore_peel": lambda e, src: kcore_peel(e, k=2, rounds=3),
    "bfs_hops": lambda e, src: bfs_hops(e, src, max_hops=3),
    "connected_components": lambda e, src: connected_components(
        e, "src", "dst"
    ),
}


@pytest.mark.parametrize("engine", sorted(CHAIN_ENGINES))
def test_iterative_chain_reset_bit_identical(spark, monkeypatch, engine):
    """Every iterative engine takes its round count from the caller,
    so its lineage chain takes a parquet reset every
    io.CHAIN_RESET_EVERY rounds. A reset must not change a single
    output bit, and the run dir must be gone afterwards. String ids
    keep connected_components off the integer-only local contraction,
    so the 16-node chain needs enough rounds for a reset to fire."""
    from kspp_spark import io as io_mod

    e = spark.createDataFrame(
        [("n%02d" % i, "n%02d" % (i + 1)) for i in range(15)],
        "src string, dst string",
    )
    src = spark.createDataFrame([("n00",)], "node string")
    run = CHAIN_ENGINES[engine]
    made = []
    real_mkdtemp = io_mod.tempfile.mkdtemp

    def spy_mkdtemp(*a, **kw):
        made.append(real_mkdtemp(*a, **kw))
        return made[-1]

    monkeypatch.setattr(io_mod.tempfile, "mkdtemp", spy_mkdtemp)
    monkeypatch.setattr(io_mod, "CHAIN_RESET_EVERY", 2)
    with_reset = sorted(map(tuple, run(e, src).collect()))
    assert made, "no reset fired"
    assert not any(os.path.exists(d) for d in made), "run dir leaked"
    monkeypatch.setattr(io_mod, "CHAIN_RESET_EVERY", 10**9)
    assert sorted(map(tuple, run(e, src).collect())) == with_reset


def test_chain_reset_warns_once_on_leaked_files(spark):
    """A failed delete of reset files is reported, once per
    ChainReset, naming the leaked path (an unregistered URI scheme
    makes Hadoop's delete fail)."""
    from kspp_spark.io import ChainReset

    chain = ChainReset(spark, checkpoint_dir="kspp-nofs://ck", prefix="leak")
    run_dir = chain.resolve()
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        chain._fs_delete(run_dir + "/a")
        chain._fs_delete(run_dir + "/b")
    assert len(caught) == 1
    assert run_dir + "/a" in str(caught[0].message)
    assert "No FileSystem for scheme" in str(caught[0].message)


def test_chain_reset_finalize_keeps_final_parquet_on_cluster(
    spark, monkeypatch, tmp_path
):
    """Non-local master, caller-supplied checkpoint_dir, no session
    dir: executor blocks would not survive executor loss, so
    finalize() keeps the final frame as parquet under the caller's dir
    and deletes only the intermediates."""
    from kspp_spark.io import ChainReset

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    monkeypatch.setattr(sc, "master", "spark://x:7077")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    with ChainReset(spark, checkpoint_dir=str(tmp_path)) as chain:
        out = chain.finalize(chain.reset(df, "r6"))
        assert sorted(map(tuple, out.collect())) == [(1, "a"), (2, "b")]
    (run_dir,) = tmp_path.iterdir()
    assert [p.name for p in run_dir.iterdir()] == ["final"]


def test_graph_nodes_and_domain_edges(spark):
    links = spark.createDataFrame(
        [
            ("a.com", "b.com"),
            ("a.com", "b.com"),
            ("a.com", "a.com"),  # self-edge: dropped
            ("b.com", "c.com"),
        ],
        "page_domain string, link_domain string",
    )
    de = {(r.src, r.dst): r.n_links for r in domain_edges(links).collect()}
    assert de == {("a.com", "b.com"): 2, ("b.com", "c.com"): 1}
    e = spark.createDataFrame(list(de), "src string, dst string")
    assert {r.node for r in graph_nodes(e).collect()} == {
        "a.com", "b.com", "c.com",
    }


def test_pagerank_plan_no_python(spark):
    """The iterative plan stays JVM-side (no Python crossing) and the
    per-iteration rank join is an equi-join. r13-opt: the final plan
    must read the lazily-materialized round frame (ExistingRDD) — a
    full re-derived lineage here (the pre-cut shape held 88 scans /
    40 exchanges at 3 iterations) means the lineage cut regressed."""
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    plan = pagerank(e, 2)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Scan ExistingRDD" in plan, "pagerank lineage cut regressed"


def test_hits_hand_computed(spark):
    """HITS on a->b, a->c, b->c: hand-unrolled two iterations of the
    integer L1-normalized recurrence (scale 1e6). a is the pure hub
    (it links both), c the pure authority (everything links it), b is
    both-ish — and every value matches the exact floor-division
    arithmetic, so any drift in the normalization order breaks this."""
    from kspp_spark.functions.graph import hits

    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], "src string, dst string"
    )
    got = {r.node: (r.authority, r.hub) for r in hits(e, 2).collect()}
    assert got == {
        "a": (0, 615384),
        "b": (375000, 384615),
        "c": (625000, 0),
    }


def test_hits_parallel_edges_and_dangling(spark):
    """Parallel edges collapse before scoring (a second a->b copy
    changes nothing) and an isolated-source node keeps authority 0 /
    an isolated-sink hub 0 without dropping out of the node set."""
    from kspp_spark.functions.graph import hits

    base = [("a", "b"), ("a", "c"), ("b", "c")]
    e1 = spark.createDataFrame(base, "src string, dst string")
    e2 = spark.createDataFrame(base + [("a", "b")], "src string, dst string")
    assert sorted(map(tuple, hits(e1, 2).collect())) == sorted(
        map(tuple, hits(e2, 2).collect())
    )
    nodes = {r.node for r in hits(e1, 1).collect()}
    assert nodes == {"a", "b", "c"}


def test_hits_deterministic_across_partitioning(spark):
    """Bit-identical under a different shuffle layout — the integer
    claim, same as pagerank's."""
    from kspp_spark.functions.graph import hits

    rows = [
        (f"n{i % 17}", f"n{(i * 7 + 3) % 17}") for i in range(200)
    ]
    e = spark.createDataFrame(rows, "src string, dst string")
    a = sorted(map(tuple, hits(e, 3).collect()))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    try:
        b = sorted(map(tuple, hits(e.repartition(7), 3).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b


def test_hits_plan_no_python(spark):
    from kspp_spark.functions.graph import hits

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    plan = hits(e, 2)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
