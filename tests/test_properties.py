"""Property-based tests (hypothesis) for the load-bearing semantics.

The reference has no property testing (SURVEY.md §5); these pin the
Spark implementations against pure-Python reference replays over
randomized inputs — catching ordering/partitioning bugs the golden
vectors can't.
"""

import datetime

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import types as T

EPOCH = datetime.datetime(2024, 1, 1)

SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("value", T.LongType()),
        T.StructField("event_time", T.TimestampType()),
        T.StructField("seq", T.LongType()),
    ]
)

rows_strategy = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),          # key
        st.integers(min_value=-5, max_value=5),     # value
        st.integers(min_value=0, max_value=120),    # seconds offset
    ),
    min_size=1,
    max_size=25,
)


def _mk_rows(raw):
    return [
        (k, v, EPOCH + datetime.timedelta(seconds=s), i)
        for i, (k, v, s) in enumerate(raw)
    ]


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows_strategy)
def test_ktable_lww_matches_replay(spark, raw):
    """ktable == per-key replay keeping max (event_time, seq)."""
    from kspp_spark.operators.aggregates import ktable

    rows = _mk_rows(raw)
    df = spark.createDataFrame(rows, SCHEMA)
    got = {
        r.key: (r.value, r.event_time)
        for r in ktable(
            df, "key", ["value"], event_time="event_time", seq="seq",
            drop_tombstones=False,
        ).collect()
    }
    expect = {}
    for k, v, t, i in rows:
        if k not in expect or (t, i) > (expect[k][1], expect[k][2]):
            expect[k] = (v, t, i)
    assert got == {k: (v, t) for k, (v, t, _) in expect.items()}


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows_strategy,
    st.integers(min_value=1, max_value=4),      # capacity
    st.integers(min_value=1000, max_value=60_000),  # filltime_ms
)
def test_rate_limit_batch_matches_replay(spark, raw, capacity, filltime_ms):
    """The distributed applyInPandas limiter == a single-threaded
    replay of the reference bucket over each key's (ts, seq) order."""
    from kspp_spark.streaming.stateful import _run_bucket, rate_limit_batch

    rows = _mk_rows(raw)
    df = spark.createDataFrame(rows, SCHEMA)
    out = rate_limit_batch(
        df, key="key", event_time="event_time", filltime_ms=filltime_ms,
        capacity=capacity, seq="seq",
    )
    got = sorted((r.key, r.seq) for r in out.collect())

    expect = []
    bykey = {}
    for k, v, t, i in rows:
        bykey.setdefault(k, []).append((t, i))
    for k, evs in bykey.items():
        evs.sort()
        ts_ms = [int(t.timestamp() * 1000) for t, _ in evs]
        flags, _, _ = _run_bucket(
            ts_ms, capacity, capacity / filltime_ms, float(capacity), 0
        )
        expect += [(k, i) for (t, i), f in zip(evs, flags) if f]
    assert got == sorted(expect)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows_strategy)
def test_salted_count_matches_plain_groupby(spark, raw):
    from kspp_spark.operators.skew import salted_count

    rows = _mk_rows(raw)
    df = spark.createDataFrame(rows, SCHEMA)
    got = {r.key: r.cnt for r in salted_count(df, "key", buckets=4).collect()}
    expect = {}
    for k, *_ in rows:
        expect[k] = expect.get(k, 0) + 1
    assert got == expect


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows_strategy, rows_strategy)
def test_asof_join_matches_replay(spark, raw_l, raw_r):
    """asof_join == per-left-row scan for the right row with the
    greatest (ts, seq) strictly below the left's (ts, seq). seq is
    globally unique across both sides (like event ids)."""
    from kspp_spark.operators.joins import asof_join

    left_rows = _mk_rows(raw_l)
    right_rows = [
        (k, v, t, i + len(left_rows)) for (k, v, t, i) in _mk_rows(raw_r)
    ]
    ldf = spark.createDataFrame(left_rows, SCHEMA)
    rdf = spark.createDataFrame(right_rows, SCHEMA)
    out = asof_join(
        ldf, rdf, key="key", ts="event_time", seq="seq",
        right_payload=["value"], prefix="r_",
    )
    got = {r.seq: r.r_value for r in out.collect()}

    expect = {}
    for k, lv, lt, li in left_rows:
        best = None
        for rk, rv, rt, ri in right_rows:
            if rk == k and (rt, ri) < (lt, li):
                if best is None or (rt, ri) > (best[0], best[1]):
                    best = (rt, ri, rv)
        expect[li] = best[2] if best else None
    assert got == expect


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=40,
             unique=True),
    st.sampled_from(["", "v2", "exp-7"]),
)
def test_split_assign_partitions_exactly(spark, ids, salt):
    """Every id lands in exactly one split; assignment is a pure
    function of (id, salt) — identical across calls and partitionings;
    changing the salt re-rolls the assignment independently."""
    from kspp_spark.functions.sampling import split_assign

    df = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    out = split_assign(df, "doc_id", salt=salt).collect()
    assert len(out) == len(ids)  # no row lost or duplicated
    assert {r.split for r in out} <= {"train", "val", "test"}
    again = {r.doc_id: r.split for r in split_assign(df.repartition(5), "doc_id", salt=salt).collect()}
    assert again == {r.doc_id: r.split for r in out}


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=10**6), st.sampled_from(["x", "y", "z"])),
        min_size=1, max_size=40,
    ),
    st.integers(min_value=1, max_value=5),
)
def test_topk_per_stratum_matches_replay(spark, raw, k):
    """topk_per_stratum == pure-Python replay: the k ids with smallest
    (md5-bucket, id) per stratum, over deduplicated (id, stratum) rows."""
    import hashlib
    from kspp_spark.functions.sampling import topk_per_stratum

    rows = list({(i, g) for i, g in raw})
    df = spark.createDataFrame(rows, ["doc_id", "g"])
    got = sorted((r.g, r.doc_id) for r in topk_per_stratum(df, "g", "doc_id", k).collect())

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 10_000

    expect = []
    for g in {g for _, g in rows}:
        members = sorted((i for i, gg in rows if gg == g), key=lambda i: (bucket(i), i))
        expect += [(g, i) for i in members[:k]]
    assert got == sorted(expect)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(
            st.sampled_from(
                list("abZ09._%+-@() ")
                + ["@example.com", "+1 555 123 4567", "bob", "x@y.io", "555-1234"]
            ),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=20,
    )
)
def test_pii_mask_matches_python_regex_and_is_idempotent(spark, texts):
    """pii_mask == pure-Python re.sub with the same patterns (engine
    parity on adversarial near-PII soup), and masking is idempotent:
    the placeholder tokens never re-match either pattern."""
    import re

    from kspp_spark.functions.text import EMAIL_RE, PHONE_RE, pii_mask
    from pyspark.sql import functions as F

    joined = ["".join(t) for t in texts]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(joined)], ["i", "text"])
    once = {
        r.i: r.m
        for r in df.select("i", pii_mask("text").alias("m")).collect()
    }
    expect = {
        i: re.sub(PHONE_RE, "<PHONE>", re.sub(EMAIL_RE, "<EMAIL>", s))
        for i, s in enumerate(joined)
    }
    assert once == expect
    twice = {
        r.i: r.m
        for r in df.select(
            "i", pii_mask(pii_mask("text")).alias("m")
        ).collect()
    }
    assert twice == once


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(
            st.integers(min_value=-100, max_value=100), min_size=4, max_size=4
        ),
        min_size=2,
        max_size=30,
    ),
    st.integers(min_value=1, max_value=5),
)
def test_block_cosine_candidates_superset_property(spark, vecs, n_blocks):
    """For ANY vector set and block count, the block-candidate stage +
    exact rescore equals the brute-force O(n²) pairs — the provable-
    superset contract under randomized inputs (incl. duplicate and
    zero vectors)."""
    from kspp_spark.functions.dedup import (
        block_cosine_candidates,
        embedding_dup_pairs,
    )

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    brute = {
        (r.a, r.b) for r in embedding_dup_pairs(df, threshold=0.8).collect()
    }
    cands = block_cosine_candidates(
        df, threshold=0.8, margin=1e-6, n_blocks=n_blocks
    )
    blocked = {
        (r.a, r.b)
        for r in embedding_dup_pairs(df, threshold=0.8, candidates=cands).collect()
    }
    assert blocked == brute


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(
            st.integers(min_value=-100, max_value=100), min_size=8, max_size=8
        ),
        min_size=1,
        max_size=20,
    )
)
def test_srp_signatures_match_independent_replay(spark, vecs):
    """The one-SQL-expression SRP signature equals an independent
    pure-Python replay (same md5 plane derivation, same sequential
    dot accumulation) for ANY vector set — pins the packed-bit layout
    and the dot>0 sign convention against the fast JVM form."""
    from kspp_spark.functions.dedup import srp_plane_signs, srp_signatures

    planes, dims = 16, 8
    signs = srp_plane_signs(planes, dims)

    def replay(vec):
        packed = 0
        for p in range(planes):
            dot = 0.0
            for x, s in zip(vec, signs[p]):
                dot += float(x) * s
            if dot > 0:
                packed |= 1 << p
        return packed

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.vec_id: r.srp
        for r in srp_signatures(df, planes=planes, dims=dims).collect()
    }
    assert got == {i: replay(v) for i, v in enumerate(vecs)}


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows_strategy)
def test_scd2_history_matches_replay(spark, raw):
    """scd2_history equals a pure-Python interval replay for ANY
    changelog — including duplicate timestamps (seq tiebreak),
    tombstones (value <= -4 maps to NULL), and re-inserts."""
    from kspp_spark.operators.aggregates import scd2_history

    rows = [
        (k, None if v <= -4 else str(v), EPOCH + datetime.timedelta(seconds=s), i)
        for i, (k, v, s) in enumerate(raw)
    ]
    schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("value", T.StringType()),
            T.StructField("event_time", T.TimestampType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    got = sorted(
        (r.key, r.valid_from, r.value, r.valid_to, r.is_current)
        for r in scd2_history(
            df, key="key", value_cols=["value"], seq="seq"
        ).collect()
    )

    expected = []
    by_key = {}
    for k, v, t, i in rows:
        by_key.setdefault(k, []).append((t, i, v))
    for k, evs in by_key.items():
        evs.sort()  # (event_time, seq) — the operator's version order
        for j, (t, i, v) in enumerate(evs):
            if v is None:
                continue  # tombstones never appear as versions
            nxt = evs[j + 1][0] if j + 1 < len(evs) else None
            expected.append((k, t, v, nxt, nxt is None))
    assert got == sorted(expected)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.sampled_from(["x", "y", "z", "w"]), min_size=0, max_size=8),
        min_size=1,
        max_size=10,
    ),
    st.integers(min_value=1, max_value=4),
)
def test_ngram_counts_matches_python_replay(spark, docs, n):
    """ngram_counts over random token lists equals a pure-Python
    sliding-window count (overlaps included, short docs contribute
    nothing)."""
    from collections import Counter

    from kspp_spark.functions.text import ngram_counts

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.ngram: r.cnt for r in ngram_counts(df, n=n).collect()}
    ref = Counter(
        " ".join(toks[i : i + n])
        for toks in docs
        for i in range(len(toks) - n + 1)
    )
    assert got == dict(ref)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.sampled_from(["p", "q", "r"]), min_size=0, max_size=8),
        min_size=1,
        max_size=8,
    )
)
def test_bigram_lm_scores_match_python_replay(spark, docs):
    """bigram_lm_scores equals the integer milli-probability replay
    computed in pure Python (floor division, per-doc mean)."""
    from collections import Counter

    from kspp_spark.functions.text import bigram_lm_scores

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = [
        (i, a, b)
        for i, toks in enumerate(docs)
        for a, b in zip(toks, toks[1:])
    ]
    cab = Counter((a, b) for _, a, b in pairs)
    ca = Counter(a for _, a, _ in pairs)
    expected = {}
    for i, toks in enumerate(docs):
        ps = list(zip(toks, toks[1:]))
        if not ps:
            continue
        milli = sum((1000 * cab[(a, b)]) // ca[a] for a, b in ps)
        expected[i] = (len(ps), milli / (1000.0 * len(ps)))
    got = {r.doc_id: (r.n_pairs, r.score) for r in bigram_lm_scores(df).collect()}
    assert got == expected


changelog_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=7),  # doc_id (small space =>
        #                                         many update/delete hits)
        st.one_of(
            st.none(),  # tombstone
            st.lists(
                st.sampled_from(["alpha", "beta", "gamma", "delta"]),
                min_size=0,
                max_size=6,
            ).map(" ".join),
        ),
    ),
    min_size=1,
    max_size=24,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(ops=changelog_strategy, n_batches=st.integers(min_value=1, max_value=4))
def test_changelog_index_fold_equals_batch_rebuild(spark, tmp_path_factory, ops, n_batches):
    """PROPERTY: for ANY interleaving of inserts / updates / tombstones
    split across ANY number of fold epochs, the folded positional-index
    snapshot equals a fresh batch positional_index over the changelog's
    final logical state (last write per doc wins; NULL/empty deletes).
    Randomization catches epoch-boundary and collision cases the
    hand-written scenarios can't enumerate."""
    from kspp_spark.functions.text import positional_index
    from kspp_spark.streaming.index_incremental import (
        positional_index_snapshot,
        positional_partials_batch,
    )

    # within one epoch a doc_id must be unique (compacted-changelog
    # contract): keep the LAST op per doc per batch — that is also the
    # reference LWW this property replays
    state = str(tmp_path_factory.mktemp("fold"))
    chunks = [ops[i::n_batches] for i in range(n_batches)]
    final: dict[int, str | None] = {}
    wrote = 0
    for epoch, chunk in enumerate(c for c in chunks if c):
        last = {}
        for doc_id, text in chunk:
            last[doc_id] = text
            final[doc_id] = text
        batch = spark.createDataFrame(
            [(d, t) for d, t in last.items()], "doc_id long, text string"
        )
        positional_partials_batch(batch, epoch, state)
        wrote += 1
    assert wrote >= 1
    live = [
        (d, t) for d, t in final.items() if t  # drop tombstones/empties
    ]
    got = sorted(
        (r.term, r.doc_id, r.tf, r.df, tuple(r.positions))
        for r in positional_index_snapshot(spark, state).collect()
    )
    if not live:
        assert got == []
        return
    want = sorted(
        (r.term, r.doc_id, r.tf, r.df, tuple(r.positions))
        for r in positional_index(
            spark.createDataFrame(live, "doc_id long, text string")
        ).collect()
    )
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    ops=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # doc_id, repeated often
            st.one_of(
                st.none(),  # tombstone
                st.lists(
                    st.sampled_from(["a", "b", "c"]), min_size=0, max_size=6
                ).map(" ".join),
            ),
            st.integers(min_value=0, max_value=20),  # event seq (can be stale)
        ),
        min_size=1,
        max_size=20,
    ),
    n_batches=st.integers(min_value=1, max_value=3),
)
def test_boilerplate_seq_fold_equals_batch_over_lww_corpus(
    spark, tmp_path_factory, ops, n_batches
):
    """PROPERTY: folding a changelog with repeated doc_ids, tombstones
    and stale seqs over several epochs through boilerplate_partials_batch
    in seq mode gives the same boilerplate set as the batch
    boilerplate_units over the LWW-reduced live corpus (winner per doc
    = max (seq, epoch), tombstones dropped)."""
    from kspp_spark.functions.text import boilerplate_units
    from kspp_spark.streaming.boilerplate_incremental import (
        boilerplate_partials_batch,
        boilerplate_set_snapshot,
    )

    state = str(tmp_path_factory.mktemp("blfold"))
    truth: dict[int, tuple[str | None, int, int]] = {}  # id -> (text, seq, epoch)
    epoch = 0
    for chunk in (ops[i::n_batches] for i in range(n_batches)):
        if not chunk:
            continue
        # one row per (doc, seq): max_by between equal seqs is arbitrary
        rows = list({(d, s): (d, t, s) for d, t, s in chunk}.values())
        boilerplate_partials_batch(
            spark.createDataFrame(rows, "doc_id long, text string, seq long"),
            epoch, state, n_tokens=2, seq_col="seq",
        )
        for d, t, s in rows:
            if d not in truth or (s, epoch) > (truth[d][1], truth[d][2]):
                truth[d] = (t, s, epoch)
        epoch += 1
    live = [(d, t) for d, (t, _, _) in truth.items() if t is not None]
    got = sorted(
        (r.unit_digest, r.n_docs)
        for r in boilerplate_set_snapshot(spark, state, min_docs=2).collect()
    )
    want = sorted(
        (r.unit_digest, r.n_docs)
        for r in boilerplate_units(
            spark.createDataFrame(live, "doc_id long, text string"),
            n_tokens=2, min_docs=2, keep_unit=False,
        ).collect()
    ) if live else []
    assert got == want, (truth, got, want)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=12),
        min_size=1,
        max_size=10,
    ),
    st.integers(min_value=1, max_value=8),
)
def test_gopher_repetition_partition_invariant(spark, docs, n_parts):
    """The repetition counters are a pure per-document function: any
    repartitioning of the input (including the small-input rebalance
    path) yields identical rows."""
    from kspp_spark.functions.text import gopher_repetition_counters

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = sorted(map(tuple, gopher_repetition_counters(df).collect()))
    re_p = sorted(
        map(
            tuple,
            gopher_repetition_counters(df.repartition(n_parts)).collect(),
        )
    )
    assert base == re_p


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.sampled_from(["u", "v", "w"]), min_size=0, max_size=15),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=2, max_value=3),
)
def test_remove_boilerplate_is_idempotent(spark, docs, min_docs):
    """Fixed point: after one removal pass, surviving units' document
    frequencies can only have DECREASED (documents never gain units),
    so every survivor stays below min_docs and a second pass with the
    same parameters removes nothing."""
    from kspp_spark.functions.text import remove_boilerplate

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = remove_boilerplate(df, min_docs=min_docs, n_tokens=2)
    cleaned = once.select(
        "doc_id", once.clean_text.alias("text")
    )
    twice = remove_boilerplate(cleaned, min_docs=min_docs, n_tokens=2)
    first = {r.doc_id: r.clean_text for r in once.collect()}
    second = {r.doc_id: r.clean_text for r in twice.collect()}
    assert first == second


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    urls=st.lists(
        st.builds(
            lambda scheme, www, host, port, path, slash, params, frag:
            f"{scheme}://{'www.' if www else ''}{host}"
            + (f":{port}" if port else "")
            + path + ("/" if slash else "")
            + ("?" + "&".join(params) if params else "")
            + ("#x" if frag else ""),
            st.sampled_from(["http", "HTTP", "https", "HTTPS"]),
            st.booleans(),
            st.sampled_from(["Ex.COM", "a.ex.com", "ex.com"]),
            st.sampled_from(["", "80", "443", "8080"]),
            st.sampled_from(["", "/p", "/A/b"]),
            st.booleans(),
            st.lists(
                st.sampled_from(["a=1", "b=2", "utm_source=x", "z="]),
                max_size=3, unique=True,
            ),
            st.booleans(),
        ),
        min_size=1, max_size=12, unique=True,
    )
)
def test_url_canonicalize_idempotent_and_fold_invariant(spark, urls):
    """canon(canon(u)) == canon(u) over randomized URL shapes, and
    case/param-order/fragment/default-port variants of the SAME
    logical URL all land on one canonical form."""
    from pyspark.sql import functions as F

    from kspp_spark.functions.web import canonicalize_url

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = df.select("url", canonicalize_url("url").alias("c1"))
    twice = once.select(
        "url", "c1", canonicalize_url("c1").alias("c2")
    ).collect()
    for r in twice:
        assert r.c1 == r.c2, (r.url, r.c1, r.c2)
    # variant collapse on a fixed logical URL
    variants = [
        "http://Ex.COM:80/p?a=1&b=2#f",
        "HTTP://WWW.ex.com/p?b=2&a=1",
        "http://ex.com/p/?a=1&utm_source=s&b=2",
    ]
    vdf = spark.createDataFrame([(u,) for u in variants], "url string")
    canon = {r.c for r in vdf.select(canonicalize_url("url").alias("c")).collect()}
    assert canon == {"http://ex.com/p?a=1&b=2"}


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    words=st.lists(
        st.text(
            alphabet="abcdefghijklmnopqrstuvwxyz0123456789",
            min_size=1, max_size=8,
        ),
        min_size=1, max_size=30,
    ),
    tag=st.sampled_from(["p", "div", "li", "h2"]),
)
def test_html_to_text_preserves_tag_free_words(spark, words, tag):
    """The tag stripper's failure-mode contract: body text without
    markup characters survives extraction verbatim (word sequence
    preserved), whatever block structure wraps it."""
    from pyspark.sql import functions as F

    from kspp_spark.functions.web import html_to_text

    body = " ".join(words)
    html = (
        f"<html><body><{tag} class='c'>{body}</{tag}>"
        f"<script>drop()</script></body></html>"
    )
    df = spark.createDataFrame([(html,)], "h string")
    out = df.select(html_to_text("h").alias("t")).first().t
    assert out.split() == body.split()


seq_changelog_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # doc_id
        st.one_of(
            st.none(),  # tombstone
            st.sampled_from(
                [
                    "alpha bravo charlie delta echo foxtrot golf hotel",
                    "india juliet kilo lima mike november oscar papa",
                    "quebec romeo sierra tango uniform victor whiskey xray",
                ]
            ),
        ),
        st.integers(min_value=0, max_value=30),  # event seq (can be stale)
    ),
    min_size=1,
    max_size=18,
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(ops=seq_changelog_strategy, n_batches=st.integers(min_value=1, max_value=3))
@pytest.mark.full
def test_seq_dedup_fold_probe_equals_batch_over_lww_state(
    spark, tmp_path_factory, ops, n_batches
):
    """PROPERTY (mem_store.h:64-83 for the near-dup state): for ANY
    interleaving of updates / tombstones with ARBITRARY (possibly
    stale) event seqs split across ANY number of epochs, a
    final-epoch probe pairs with exactly the docs a batch
    banded-signature run over the seq-LWW-resolved live corpus
    collides with — stale writes never supersede, tombstones with the
    winning seq delete, equal seqs resolve to the newer epoch."""
    import os as _os

    from pyspark.sql import functions as F

    from kspp_spark.streaming.dedup_incremental import (
        banded_signatures,
        probe_and_update,
    )

    base = str(tmp_path_factory.mktemp("seqfold"))
    state = _os.path.join(base, "state")
    pairs_dir = _os.path.join(base, "pairs")
    chunks = [ops[i::n_batches] for i in range(n_batches)]
    truth: dict[int, tuple[str | None, int, int]] = {}  # id -> (text, seq, epoch)
    epoch = 0
    for chunk in (c for c in chunks if c):
        # equal (doc, seq) rows in one batch would make max_by's
        # tie-break arbitrary on both sides — keep the last per
        # (doc, seq) so the argmax is unique and mirrorable
        uniq = {(d, s): (d, t, s) for d, t, s in chunk}
        rows = list(uniq.values())
        probe_and_update(
            spark.createDataFrame(rows, "doc_id long, text string, seq long"),
            epoch, state, pairs_dir, seq_col="seq",
        )
        # reference LWW: winner = max (seq, epoch); within a batch the
        # fold resolves by max_by(seq) — epochs tie inside a batch, and
        # Spark's max_by between equal seqs is nondeterministic, so the
        # strategy's 3 texts per seq make collisions harmless only
        # when we mirror per-batch max-seq first
        best: dict[int, tuple[str | None, int]] = {}
        for d, t, s in rows:
            if d not in best or s >= best[d][1]:
                best[d] = (t, s)
        for d, (t, s) in best.items():
            if d not in truth or (s, epoch) >= (truth[d][1], truth[d][2]):
                truth[d] = (t, s, epoch)
        epoch += 1
    live = [(d, t) for d, (t, _, _) in truth.items() if t is not None]
    # final probe: one fresh doc per text family at top seq
    probes = [(100, "alpha bravo charlie delta echo foxtrot golf hotel", 999),
              (200, "india juliet kilo lima mike november oscar papa", 999)]
    probe_and_update(
        spark.createDataFrame(probes, "doc_id long, text string, seq long"),
        epoch, state, pairs_dir, seq_col="seq",
    )
    got = sorted(
        (r.new_id, r.dup_of)
        for r in spark.read.parquet(
            _os.path.join(pairs_dir, f"epoch={epoch}")
        ).collect()
        if r.dup_of not in (100, 200)  # ignore the probe-pair itself
    )
    b = banded_signatures(
        spark.createDataFrame(
            live + [(100, probes[0][1]), (200, probes[1][1])],
            "doc_id long, text string",
        )
    )
    qb = b.filter(F.col("id").isin([100, 200]))
    cb = b.filter(~F.col("id").isin([100, 200]))
    want = sorted(
        set(
            (r.qid, r.id)
            for r in qb.select(F.col("id").alias("qid"), "band", "bhash")
            .join(cb, ["band", "bhash"])
            .collect()
        )
    )
    assert got == want, (truth, got, want)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    records=st.lists(
        st.tuples(
            st.sampled_from(["response", "request", "metadata", "warcinfo"]),
            st.text(
                alphabet="abcdefghijklmnopqrstuvwxyz0123456789:/._-",
                min_size=0, max_size=40,
            ),
            st.binary(max_size=200),  # arbitrary payloads — including
            #                           bytes that LOOK like separators
        ),
        min_size=1, max_size=8,
    ),
    gz=st.booleans(),
)
def test_warc_build_parse_round_trip(records, gz):
    """PROPERTY: Content-Length framing makes the parser immune to
    payload contents — any payload bytes (including embedded
    'WARC/1.0' banners and CRLF runs) round-trip exactly, plain or
    gzipped."""
    import gzip as _gzip

    from kspp_spark.sources.warc import parse_warc_stream

    raw = b""
    for i, (wtype, uri, payload) in enumerate(records):
        headers = {
            "WARC-Type": wtype,
            "WARC-Record-ID": f"<urn:uuid:{i}>",
        }
        if uri:
            headers["WARC-Target-URI"] = uri
        h = "".join(f"{k}: {v}\r\n" for k, v in headers.items())
        raw += (
            b"WARC/1.0\r\n" + h.encode()
            + f"Content-Length: {len(payload)}\r\n\r\n".encode()
            + payload + b"\r\n\r\n"
        )
    data = _gzip.compress(raw) if gz else raw
    got = list(parse_warc_stream(data))
    assert len(got) == len(records)
    for i, (rec, (wtype, uri, payload)) in enumerate(zip(got, records)):
        assert rec["record_no"] == i
        assert rec["warc_type"] == wtype
        assert rec["target_uri"] == (uri or None)
        assert rec["payload"] == payload
        assert rec["content_length"] == len(payload)


def _py_winnow(text: str, k: int, w: int):
    """Pure-Python winnowing replay (Schleimer et al.: rightmost-min
    per w-window over positional k-gram md5_long hashes, (pos, fp)
    dedup) — the independent oracle for the property test."""
    import hashlib

    toks = [t for t in text.split() if t]
    if not toks:
        return []
    if len(toks) >= k:
        grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    else:
        grams = [" ".join(toks)]
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams]
    wl = min(w, len(hs))
    out, seen = [], set()
    for p in range(len(hs) - wl + 1):
        win = hs[p : p + wl]
        m = min(win)
        pos = p + max(i for i, h in enumerate(win) if h == m) + 1
        if (pos, m) not in seen:
            seen.add((pos, m))
            out.append((pos, m))
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        # tiny alphabet -> dense hash TIES, exercising the
        # rightmost-tie rule far harder than real text ever would
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=40).map(
            " ".join
        ),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=2, max_value=4),
    st.integers(min_value=2, max_value=5),
)
def test_winnow_fingerprints_matches_replay(spark, texts, k, w):
    """Engine winnowing == the pure-Python replay on adversarial
    inputs: tiny alphabets force repeated grams (every window a tie),
    lengths straddle the k and w+k-1 boundaries, and empty texts."""
    from kspp_spark.functions.dedup import winnow_fingerprints

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    got = {
        r.i: [(s.pos, s.fp) for s in r.fps]
        for r in df.select(
            "i", winnow_fingerprints("text", k=k, w=w).alias("fps")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _py_winnow(t, k, w), (t, k, w)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.sampled_from("abcdefgh"), min_size=8, max_size=20).map(" ".join),
    st.lists(st.sampled_from("pq"), min_size=0, max_size=6).map(" ".join),
    st.lists(st.sampled_from("xy"), min_size=0, max_size=6).map(" ".join),
)
@pytest.mark.full
def test_winnow_guarantee_shared_run(spark, shared, pre, post):
    """The winnowing GUARANTEE (k=3, w=4): two docs sharing a run of
    >= w+k-1 = 6 tokens share at least one fingerprint, whatever
    surrounds the run."""
    a = (pre + " " + shared).strip()
    b = (shared + " " + post).strip()
    fa = {fp for _, fp in _py_winnow(a, 3, 4)}
    fb = {fp for _, fp in _py_winnow(b, 3, 4)}
    assert fa & fb, (a, b)
    # and the engine agrees with the replay on both docs
    from kspp_spark.functions.dedup import winnow_fingerprints

    df = spark.createDataFrame([(0, a), (1, b)], "i long, text string")
    got = {
        r.i: {(s.pos, s.fp) for s in r.fps}
        for r in df.select(
            "i", winnow_fingerprints("text", k=3, w=4).alias("fps")
        ).collect()
    }
    assert got[0] == set(_py_winnow(a, 3, 4))
    assert got[1] == set(_py_winnow(b, 3, 4))


def _py_stupid_backoff(texts, min_count=2, an=4, ad=10, S=10**9):
    """Pure-Python Stupid Backoff replay (counts with cutoffs, the
    trunc-division score tower) — the independent oracle."""
    from collections import Counter

    def trunc(x):
        return int(x)  # python int() truncates toward zero

    toks = {i: t.split() for i, t in enumerate(texts)}
    toks = {i: [w for w in ws if w] for i, ws in toks.items()}
    toks = {i: ws for i, ws in toks.items() if len(ws) >= 3}
    uni, big, tri = Counter(), Counter(), Counter()
    for ws in toks.values():
        uni.update(ws)
        big.update(" ".join(ws[i : i + 2]) for i in range(len(ws) - 1))
        tri.update(" ".join(ws[i : i + 3]) for i in range(len(ws) - 2))
    N = sum(uni.values())
    big = {g: c for g, c in big.items() if c >= min_count}
    tri = {g: c for g, c in tri.items() if c >= min_count}
    out = {}
    for i, ws in toks.items():
        n = s = f = b1 = b2 = 0
        for p in range(len(ws) - 2):
            w1, w2, w3 = ws[p : p + 3]
            g3, g12, g23 = f"{w1} {w2} {w3}", f"{w1} {w2}", f"{w2} {w3}"
            n += 1
            if g3 in tri:
                s += trunc(tri[g3] * S / big[g12]); f += 1
            elif g23 in big:
                s += trunc(an * trunc(big[g23] * S / uni[w2]) / ad); b1 += 1
            else:
                s += trunc(
                    an * trunc(an * trunc(uni[w3] * S / N) / ad) / ad
                ); b2 += 1
        out[i] = (n, s, f, b1, b2)
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        # tiny alphabet -> many repeated n-grams STRADDLING the
        # min_count cutoff, so all three tiers fire unpredictably
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=25).map(
            " ".join
        ),
        min_size=1,
        max_size=8,
    )
)
def test_stupid_backoff_matches_replay(spark, texts):
    """Engine Stupid Backoff == the pure-Python replay on adversarial
    corpora: 4-letter alphabets put n-gram counts right at the
    min_count cutoff, so tier selection, the count-monotonicity
    assumption, and every trunc in the tower are all load-bearing."""
    from kspp_spark.functions.text import stupid_backoff_scores

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_trigrams, r.score_sum, r.n_full, r.n_backoff1, r.n_backoff2)
        for r in stupid_backoff_scores(df).collect()
    }
    assert got == _py_stupid_backoff(texts), texts


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(
            st.text(alphabet="abc", min_size=0, max_size=3),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_dedup_paragraph_text_matches_python_replay(spark, unit_lists):
    """First-occurrence keep over arbitrary unit lists (including
    empty units and units that EQUAL other docs' units): the JVM HOF
    matches a pure-Python replay, order preserved, counts exact."""
    from kspp_spark.functions.dedup import dedup_paragraphs

    rows = [(i, "\n".join(us)) for i, us in enumerate(unit_lists)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_units"], r["n_kept"])
        for r in dedup_paragraphs(df).collect()
    }
    for i, (_, text) in enumerate(rows):
        units = text.split("\n")
        seen, kept = set(), []
        for u in units:
            if u not in seen:
                seen.add(u)
                kept.append(u)
        assert got[i] == ("\n".join(kept), len(units), len(kept))


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # user
            st.integers(min_value=0, max_value=50),  # ts
            st.sampled_from(["a", "b", "c"]),        # type
        ),
        min_size=0,
        max_size=40,
    )
)
def test_event_transitions_matches_python_replay(spark, raw):
    """Transition counts/users/probabilities match a sequential
    Python replay under arbitrary interleavings and ts ties (the
    event_id tiebreak makes the order total)."""
    from collections import defaultdict

    from kspp_spark.functions.sessions import event_transitions

    rows = [(i, u, t, e) for i, (u, t, e) in enumerate(raw)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts long, event_type string"
    )
    got = {
        (r["prev_type"], r["next_type"]): (
            r["n_transitions"], r["n_users"], r["prob"]
        )
        for r in event_transitions(df, tiebreak="event_id").collect()
    }

    byu = defaultdict(list)
    for eid, u, t, e in rows:
        byu[u].append((t, eid, e))
    n = defaultdict(int)
    users = defaultdict(set)
    for u, evs in byu.items():
        evs.sort()
        for (_, _, p), (_, _, q) in zip(evs, evs[1:]):
            n[(p, q)] += 1
            users[(p, q)].add(u)
    totals = defaultdict(int)
    for (p, q), c in n.items():
        totals[p] += c
    want = {
        k: (c, len(users[k]), c / totals[k[0]]) for k, c in n.items()
    }
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    keys=st.lists(
        st.text(alphabet="abcdefgh0123456789", min_size=1, max_size=12),
        min_size=1,
        max_size=60,
    ),
    n_slices=st.integers(min_value=1, max_value=4),
)
def test_hll_merge_lossless_and_duplicate_invariant(spark, keys, n_slices):
    """HLL structural properties on arbitrary inputs: (1) registers
    of the whole == merge of per-slice registers for ANY slicing;
    (2) duplicating the input changes nothing (max idempotence);
    (3) the Python-replayed registers (md5 via hashlib) match Spark's
    — the cross-engine portability contract without DuckDB."""
    import hashlib

    from kspp_spark.functions.sketch import hll_merge, hll_registers

    p = 5
    m = 1 << p
    rows = [(k, i % n_slices) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, "k string, sl int")

    direct = {
        r["bucket"]: r["r"]
        for r in hll_registers(df, col="k", p=p).collect()
    }
    merged = {
        r["bucket"]: r["r"]
        for r in hll_merge(
            hll_registers(df, col="k", group_cols=("sl",), p=p)
        ).collect()
    }
    doubled = {
        r["bucket"]: r["r"]
        for r in hll_registers(df.unionByName(df), col="k", p=p).collect()
    }
    assert direct == merged == doubled

    # independent replay: pure-Python md5, same word split
    want: dict[int, int] = {}
    for k in set(keys):
        h = hashlib.md5(k.encode()).hexdigest()
        bucket = int(h[0:15], 16) % m
        w = int(h[15:23], 16)
        rank = 33 if w == 0 else 33 - w.bit_length()
        want[bucket] = max(want.get(bucket, 0), rank)
    assert direct == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    old_rows=st.dictionaries(
        st.integers(min_value=0, max_value=30),
        st.one_of(st.none(), st.integers(min_value=0, max_value=5)),
        max_size=20,
    ),
    new_rows=st.dictionaries(
        st.integers(min_value=0, max_value=30),
        st.one_of(st.none(), st.integers(min_value=0, max_value=5)),
        max_size=20,
    ),
)
def test_snapshot_diff_matches_dict_model(spark, old_rows, new_rows):
    """snapshot_diff vs the obvious Python dict model, including NULL
    values on either side (null-safe comparison: None == None is
    unchanged, None -> value is changed)."""
    from kspp_spark.functions.pipeline import snapshot_diff

    schema = "k int, v int"
    old = spark.createDataFrame(list(old_rows.items()), schema)
    new = spark.createDataFrame(list(new_rows.items()), schema)
    got = {
        r["k"]: (r["status"], list(r["changed_cols"]))
        for r in snapshot_diff(old, new, keys=["k"]).collect()
    }
    want = {}
    for k in set(old_rows) | set(new_rows):
        if k not in old_rows:
            want[k] = ("added", [])
        elif k not in new_rows:
            want[k] = ("removed", [])
        elif old_rows[k] != new_rows[k]:
            want[k] = ("changed", ["v"])
        else:
            want[k] = ("unchanged", [])
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    items=st.lists(
        st.sampled_from(["a", "b", "c", "d", "e"]),
        min_size=1,
        max_size=80,
    ),
    min_count=st.integers(min_value=1, max_value=20),
    width=st.integers(min_value=2, max_value=64),
)
def test_heavy_hitters_always_exact(spark, items, min_count, width):
    """The two-pass prune equals plain counting for EVERY sketch
    geometry — collisions only widen the candidate set, never the
    output (CMS one-sidedness + exact recount)."""
    from collections import Counter

    from kspp_spark.functions.sketch import heavy_hitters

    df = spark.createDataFrame([(x,) for x in items], "item string")
    got = {
        r["item"]: r["cnt"]
        for r in heavy_hitters(
            df, min_count=min_count, width=width, depth=2
        ).collect()
    }
    want = {
        k: c for k, c in Counter(items).items() if c >= min_count
    }
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    terms=st.lists(
        st.text(alphabet="ab1", min_size=2, max_size=6),
        min_size=2,
        max_size=25,
    )
)
def test_edit_neighbor_pairs_complete_vs_bruteforce(spark, terms):
    """SymSpell blocking COMPLETENESS (the theorem the operator rests
    on): over a tiny alphabet chosen to force dense edit
    neighborhoods, the deletion-neighborhood join returns EXACTLY the
    brute-force set of distance-1 pairs — nothing missed by the
    blocking, nothing extra surviving the levenshtein verifier."""

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(
                        prev[j] + 1,
                        cur[j - 1] + 1,
                        prev[j - 1] + (ca != cb),
                    )
                )
            prev = cur
        return prev[-1]

    from kspp_spark.functions.dedup import edit_neighbor_pairs

    df = spark.createDataFrame([(t,) for t in terms], "term string")
    got = sorted(
        (r["a"], r["b"])
        for r in edit_neighbor_pairs(df, min_len=2).collect()
    )
    uniq = sorted(set(terms))
    want = sorted(
        (a, b)
        for i, a in enumerate(uniq)
        for b in uniq[i + 1 :]
        if lev(a, b) == 1
    )
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    train=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=10,
    ),
    evals=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=4,
    ),
)
def test_contamination_score_consistent_with_gate(spark, train, evals):
    """contamination_score vs the binary gate it refines: every
    train doc appears exactly once with 0 <= matched <= total and
    score == matched/total, and matched > 0 EXACTLY when
    ngram_overlap_contamination (min_shared=1) flags the doc."""
    from kspp_spark.functions.dedup import (
        contamination_score,
        ngram_overlap_contamination,
    )

    tdf = spark.createDataFrame(
        [(f"t{i}", " ".join(ws)) for i, ws in enumerate(train)],
        "doc_id string, text string",
    )
    edf = spark.createDataFrame(
        [(f"e{i}", " ".join(ws)) for i, ws in enumerate(evals)],
        "doc_id string, text string",
    )
    scores = {
        r["doc_id"]: (r["matched"], r["total"], r["score"])
        for r in contamination_score(tdf, edf).collect()
    }
    assert set(scores) == {f"t{i}" for i in range(len(train))}
    for m, t, s in scores.values():
        assert 0 <= m <= t and t >= 1
        assert s == m / t
    gated = {
        r["train_id"]
        for r in ngram_overlap_contamination(
            tdf, edf, min_shared=1
        ).collect()
    }
    assert gated == {d for d, (m, _, _) in scores.items() if m > 0}


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["x", "y", "z", "w"]), min_size=0, max_size=12
        ).map(" ".join),
        min_size=2,
        max_size=20,
    ),
    num_den=st.sampled_from([(1, 2), (3, 10), (7, 10), (1, 1)]),
)
def test_prefix_filter_pairs_equals_bruteforce(spark, texts, num_den):
    """AllPairs/PPJoin prefix-filter LOSSLESSNESS (the theorem the
    operator rests on): over a 4-token vocabulary chosen to force
    massive shingle-frequency ties, degenerate short docs (< n tokens
    fall back to the whole-text shingle), empty docs, and duplicate
    documents, the prefix-filtered join returns EXACTLY the
    brute-force set of pairs with Jaccard >= num/den — including the
    exact n_inter/n_union integers."""
    from kspp_spark.functions.dedup import prefix_filter_pairs

    num, den = num_den
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = sorted(
        (r["a"], r["b"], r["n_inter"], r["n_union"])
        for r in prefix_filter_pairs(
            df, threshold_num=num, threshold_den=den
        ).collect()
    )

    def sh(t):
        toks = [w for w in t.split() if w]
        # the _shingles fallback: < n tokens -> the whole text as one
        # shingle, INCLUDING the empty document ("" is a real shingle,
        # so all-empty docs are Jaccard-1 duplicates of each other)
        if len(toks) < 3:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sets_ = {i: sh(t) for i, t in enumerate(texts)}
    want = []
    ids = sorted(sets_)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            inter = len(sets_[a] & sets_[b])
            union = len(sets_[a] | sets_[b])
            if inter * den >= union * num:
                want.append((a, b, inter, union))
    assert got == sorted(want)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=0,
        max_size=40,
    )
)
def test_triangle_counts_matches_bruteforce(spark, edges):
    """Degree-ordered wedge counting equals the O(n^3) brute force on
    arbitrary messy input (duplicates, reversed duplicates, self
    loops — all canonicalized away), per node, including degree and
    the deg<2 clustering convention."""
    from kspp_spark.functions.graph import triangle_counts

    df = spark.createDataFrame(
        edges + [(0, 1)], "src long, dst long"  # never empty
    )
    got = {
        r["node"]: (r["degree"], r["n_triangles"], r["clustering"])
        for r in triangle_counts(df).collect()
    }
    adj = {}
    for s, d in edges + [(0, 1)]:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    want = {}
    for n, nbrs in adj.items():
        ns = sorted(nbrs)
        t = sum(
            1
            for i in range(len(ns))
            for j in range(i + 1, len(ns))
            if ns[j] in adj[ns[i]]
        )
        deg = len(nbrs)
        want[n] = (
            deg,
            t,
            (2 * t) / (deg * (deg - 1)) if deg >= 2 else 0.0,
        )
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.integers(min_value=-3, max_value=5000),
        ),
        min_size=1,
        max_size=40,
    ),
    k=st.sampled_from([4, 16, 32]),
)
def test_histogram_percentile_rank_matches_replay(spark, vals, k):
    """CDF probe == pure-Python replay of the shared bin algebra +
    mid-rank cross-multiplication, over values spanning the identity
    region, the log region (collapsed bins share a rank), non-positive
    out-of-domain values (rank 0), and groups of 1."""
    from kspp_spark.functions.sketch import histogram_percentile_rank

    rows = [(i, g, v) for i, (g, v) in enumerate(vals)]
    df = spark.createDataFrame(rows, "rid long, g string, v long")
    got = {
        r["rid"]: r["rank_ppm"]
        for r in histogram_percentile_rank(df, "v", ("g",), k=k).collect()
    }

    log2k = k.bit_length() - 1

    def hbin(v):
        if v < k:
            return v
        e = v.bit_length() - 1
        return e * k + (v >> (e - log2k)) - k

    hist = {}
    for _, g, v in rows:
        if v >= 1:
            hist.setdefault(g, {})
            b = hbin(v)
            hist[g][b] = hist[g].get(b, 0) + 1
    want = {}
    for rid, g, v in rows:
        bins = hist.get(g, {})
        n = sum(bins.values())
        if v < 1 or n == 0:
            below = at = 0
        else:
            b = hbin(v)
            below = sum(c for bb, c in bins.items() if bb < b)
            at = bins.get(b, 0)
        want[rid] = (
            (1_000_000 * (2 * below + at)) // (2 * n) if n else 0
        )
    # groups where EVERY value is non-positive produce no sketch row
    # -> the inner group join drops those rows entirely; mirror that
    want = {
        rid: r
        for rid, r in want.items()
        if hist.get(rows[rid][1])
    }
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),   # basket
            st.sampled_from(list("pqrs")),           # item
        ),
        min_size=2,
        max_size=40,
    ),
    min_pairs=st.sampled_from([1, 2]),
)
def test_cooccurrence_scores_match_bruteforce(spark, rows, min_pairs):
    """The JVM in-array pair expansion + broadcast marginals equal a
    pure-Python model over messy baskets (duplicate memberships,
    singleton baskets excluded, hapax pairs cut by min_pairs), with
    the exact integer ratio scores."""
    from kspp_spark.functions.cooccurrence import cooccurrence_scores

    df = spark.createDataFrame(rows, "bk long, it string")
    got = {
        (r["a"], r["b"]): (
            r["n_ab"], r["n_a"], r["n_b"],
            r["pmi_ratio_ppm"], r["cosine2_ppm"],
        )
        for r in cooccurrence_scores(
            df, "bk", "it", min_pairs=min_pairs, max_basket=100
        ).collect()
    }
    baskets = {}
    for bk, it in rows:
        baskets.setdefault(bk, set()).add(it)
    qual = {bk: its for bk, its in baskets.items() if 2 <= len(its) <= 100}
    nb = len(qual)
    marg = {}
    pair_n = {}
    for its in qual.values():
        s = sorted(its)
        for x in s:
            marg[x] = marg.get(x, 0) + 1
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                pair_n[(s[i], s[j])] = pair_n.get((s[i], s[j]), 0) + 1
    want = {
        p: (
            n, marg[p[0]], marg[p[1]],
            (1_000_000 * n * nb) // (marg[p[0]] * marg[p[1]]),
            (1_000_000 * n * n) // (marg[p[0]] * marg[p[1]]),
        )
        for p, n in pair_n.items()
        if n >= min_pairs
    }
    assert got == want
