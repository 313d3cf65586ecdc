"""Physical-plan regression tests — the scale contract.

Correctness tests prove the small-SF answer; these prove the PLAN is
the one that survives a 100x scale-up: filters reach the parquet scan,
projections prune the read schema, small dimensions broadcast instead
of shuffling, aggregations shuffle once, and no row-at-a-time Python
UDF ever appears in a hot path (Python only via Arrow-batched
grouped/map Pandas ops).
"""

import re

import pytest

SF = "/root/testdata/sf0.001"


def formatted_plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as m

    return m.queries()


def test_filter_pushdown_reaches_scan(spark, queries):
    plan = formatted_plan(spark, queries["filter_lineitem"](spark, SF))
    assert "GreaterThanOrEqual(l_shipdate" in plan  # predicate pushed
    assert "GreaterThanOrEqual(l_discount" in plan


def test_column_pruning_in_read_schema(spark, queries):
    plan = formatted_plan(spark, queries["pricing_summary"](spark, SF))
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert schemas, plan
    # lineitem has 11 columns; the query needs 6 — the scan must not
    # read the rest (l_tax / l_orderkey / l_partkey...)
    assert all("l_tax" not in s and "l_partkey" not in s for s in schemas)
    assert "LessThanOrEqual(l_shipdate" in plan


def test_small_dim_joins_broadcast_not_shuffle(spark, queries):
    for name in ["kstream_left_join", "revenue_per_nation", "shipping_priority"]:
        plan = formatted_plan(spark, queries[name](spark, SF))
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_aggregation_shuffles_once(spark, queries):
    # partial+final agg: exactly one real shuffle (broadcasts excluded)
    for name in ["count_by_key", "count_by_value", "pricing_summary"]:
        plan = formatted_plan(spark, queries[name](spark, SF))
        shuffles = len(re.findall(r"\(\d+\) Exchange", plan))
        assert shuffles == 1, f"{name}: {shuffles} shuffles"


def test_no_row_python_udf_anywhere(spark, queries):
    # Python is allowed only as Arrow-batched grouped/map pandas ops
    # (FlatMapGroupsInPandas / MapInPandas); BatchEvalPython is the
    # row-at-a-time serialization path and must never appear.
    for name, fn in queries.items():
        plan = formatted_plan(spark, fn(spark, SF))
        assert "BatchEvalPython" not in plan, name


def test_range_join_is_broadcast_nested_loop(spark, queries):
    # the band dimension is O(10) rows: a broadcast nested-loop join is
    # the right plan; a cartesian shuffle would not scale
    plan = formatted_plan(spark, queries["range_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_topk_uses_limit_not_global_sort(spark, queries):
    # TakeOrderedAndProject streams a bounded heap per partition; a
    # global Sort + CollectLimit would materialize the full sort
    plan = formatted_plan(spark, queries["topk_orders"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_q6_scan_is_minimal(spark, queries):
    # Q6 shape: all three predicates pushed, and the scan reads only the
    # filter/aggregate columns — at 100 TB this is the difference
    # between reading ~2 columns and reading the whole table
    plan = formatted_plan(spark, queries["forecast_revenue"](spark, SF))
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount" in plan
    assert "LessThan(l_quantity" in plan
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert all(
        "l_orderkey" not in s and "l_partkey" not in s and "l_tax" not in s
        for s in schemas
    )
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1


def test_q7_only_fact_join_shuffles(spark, queries):
    # supplier/customer/nation[x2] broadcast; the single shuffling join
    # (if AQE does not broadcast it too) is lineitem ⋈ orders
    plan = formatted_plan(spark, queries["volume_shipping"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") <= 1


def test_q18_group_filter_broadcasts_back(spark, queries):
    # the qualifying-order set after HAVING is tiny: joining it back to
    # orders must be a broadcast, not a full shuffle of the fact table
    plan = formatted_plan(spark, queries["large_orders"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_q10_topk_is_bounded_heap(spark, queries):
    plan = formatted_plan(spark, queries["returned_items"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_q8_six_dims_broadcast_one_shuffle_join(spark, queries):
    # part/customer/supplier/nation[x2]/region all broadcast; the only
    # join allowed to shuffle at scale is lineitem ⋈ orders
    plan = formatted_plan(spark, queries["market_share"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 6
    assert plan.count("SortMergeJoin") <= 1


def test_q11_total_broadcasts_back(spark, queries):
    # the 1-row grand total must come back as a broadcast nested loop,
    # never a shuffle of the per-part aggregate
    plan = formatted_plan(spark, queries["important_parts"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q16_anti_join_is_broadcast(spark, queries):
    plan = formatted_plan(spark, queries["supplier_counts"](spark, SF))
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan) or (
        "LeftAnti" in plan and "BroadcastHashJoin" in plan
    )


def test_q20_semi_join_is_broadcast(spark, queries):
    plan = formatted_plan(spark, queries["promo_suppliers"](spark, SF))
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan


def test_q21_single_fact_shuffle(spark, queries):
    # one lineitem ⋈ orders shuffle + one per-order aggregation; the
    # supplier name lookup broadcasts
    plan = formatted_plan(spark, queries["waiting_suppliers"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert plan.count("SortMergeJoin") <= 1


def test_train_split_is_map_only(spark, queries):
    # split assignment is a pure function of the id: zero Exchange
    # nodes — at 100 TB it runs as a narrow pass over the scan
    plan = formatted_plan(spark, queries["train_split"](spark, SF))
    assert "Exchange" not in plan


def test_stratified_sample_is_map_only(spark, queries):
    plan = formatted_plan(spark, queries["stratified_sample"](spark, SF))
    assert "Exchange" not in plan


def test_pack_sequences_single_bucket_shuffle(spark, queries):
    # one hash exchange on the bucket key feeding the grouped-pandas
    # packer; no second shuffle afterwards
    plan = formatted_plan(spark, queries["pack_sequences"](spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "FlatMapGroupsInPandas" in plan or "MapGroups" in plan


def test_dedup_embedding_has_no_full_table_pair_join(spark, queries):
    # the scale contract of the block-candidate design: candidate pairs
    # come from packed block-pair tasks (MapInPandas), never from a
    # row-level a<b cross/range join over the whole embeddings table
    plan = formatted_plan(spark, queries["dedup_embedding"](spark, SF))
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert not re.search(r"a#\d+L? < b#\d+", plan), "full-table a<b join present"


def test_bm25_topk_uses_limit_not_global_window(spark, queries):
    # retrieval top-k must be TakeOrderedAndProject (bounded per-task
    # heaps), never a single-partition global sort/window over every
    # matching document
    plan = formatted_plan(spark, queries["bm25_search"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_stored_index_queries_never_scan_corpus(spark, tmp_path):
    # the materialized-index contract: once the positional index and
    # doc-length table are written, phrase search and BM25 run
    # index-only — the documents table appears NOWHERE in their plans,
    # and the phrase terms' IN filter is pushed to the index scan
    from kspp_spark.functions.text import (
        bm25_indexed,
        doc_lengths,
        phrase_search_indexed,
        positional_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx_path = str(tmp_path / "pidx")
    dl_path = str(tmp_path / "dlen")
    positional_index(docs).write.parquet(idx_path)
    doc_lengths(docs).write.parquet(dl_path)
    idx = spark.read.parquet(idx_path)
    dl = spark.read.parquet(dl_path)

    pplan = formatted_plan(spark, phrase_search_indexed(idx, ["table", "scan"]))
    assert "documents" not in pplan, "indexed phrase search re-scans the corpus"
    assert re.search(r"PushedFilters:.*term.*[Ii]n", pplan), pplan[:800]

    bplan = formatted_plan(
        spark, bm25_indexed(idx, dl, ["table", "query", "filter"], k=10)
    )
    assert "documents" not in bplan, "indexed BM25 re-scans the corpus"
    assert "TakeOrderedAndProject" in bplan
    assert "CartesianProduct" not in bplan


def test_partitioned_write_enables_pruning(spark, tmp_path):
    # the data-layout contract: a filter on the partition column of a
    # write_partitioned_sorted dataset reaches the scan as a
    # PartitionFilter (directory pruning), not a post-scan Filter over
    # all partitions
    from kspp_spark.io import write_partitioned_sorted

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = str(tmp_path / "bylang")
    write_partitioned_sorted(docs, out, partition_by="lang", sort_by="n_chars")
    back = spark.read.parquet(out).filter("lang = 'en'").select("doc_id")
    plan = formatted_plan(spark, back)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "lang" in m.group(1), plan[:600]
    # and the rows actually come back
    assert back.count() > 0


def test_partitioned_write_salt_spreads_hot_partition(spark, tmp_path):
    # the skew knob: files_per_partition=N lets up to N writer tasks
    # share one hot partition value (each writes its own file), while
    # the dataset read back is identical
    import glob

    from kspp_spark.io import write_partitioned_sorted

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = str(tmp_path / "salted")
    # at test scale every salted bucket is tiny, so AQE would (rightly)
    # coalesce them back into one task — disable coalescing here to
    # observe the salt mechanism itself; at 100 TB a hot partition
    # exceeds the advisory size and its salted buckets stay split
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    try:
        write_partitioned_sorted(
            docs, out, partition_by="lang", sort_by="n_chars",
            files_per_partition=4,
        )
    finally:
        spark.conf.set(coalesce_key, prev)
    # the dominant lang dir gets >1 data file (one per salted task)
    dirs = glob.glob(f"{out}/lang=*/")
    counts = {d: len(glob.glob(f"{d}/part-*")) for d in dirs}
    assert max(counts.values()) > 1, counts
    assert all(n <= 4 for n in counts.values()), counts
    back = spark.read.parquet(out)
    assert back.count() == docs.count()


def test_rollup_cascade_aggregates_partials_not_base(spark, queries):
    # the cascade contract: the day grain re-aggregates the HOURLY
    # partials — day-truncation is only ever applied to the hourly
    # window_start, never to the base event timestamp. (A naive
    # two-grain rollup would show date_trunc(day, ts) over the scan.)
    plan = formatted_plan(spark, queries["rollup_cascade"](spark, SF))
    assert "date_trunc(hour" in plan
    assert not re.search(r"date_trunc\(day, ts#", plan), (
        "day grain aggregates the base table instead of hourly partials"
    )


def test_rollup_cascade_persist_scans_base_once(spark):
    # with persist=True the finest grain materializes: exactly one
    # parquet scan in the whole multi-grain plan; the day branch reads
    # the in-memory hourly relation
    from kspp_spark.operators.aggregates import cascade_rollup

    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = cascade_rollup(
        ev, "ts", ["event_type"], {"n": ("event_id", "count")},
        grains=("hour", "day"), persist=True,
    )
    try:
        plan = formatted_plan(spark, out)
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
        assert "InMemory" in plan
    finally:
        spark.catalog.clearCache()


def test_srp_pairs_has_no_full_table_pair_join(spark, queries):
    # SRP scale tier contract: the signature stage is map-only (the
    # plane dot products are JVM higher-order functions over constant
    # arrays — no Python, no shuffle), candidates come from the
    # banding hash aggregation + in-bucket expansion, and the exact
    # cosine verify joins only the candidate ids back to the corpus.
    # Never a row-level a<b join or cartesian product over embeddings.
    plan = formatted_plan(spark, queries["srp_pairs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert not re.search(r"a#\d+L? < b#\d+", plan), "full-table a<b join present"


def test_srp_ann_has_no_query_corpus_cross_join(spark, queries):
    # ANN scale contract: candidates come from the band-bucket
    # equi-join of fixed-width signatures; the query never cross-joins
    # the corpus (that is q_knn_cosine's brute-force baseline, which
    # broadcasts 20 queries deliberately)
    plan = formatted_plan(spark, queries["srp_ann"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_dup_clusters_has_no_full_table_pair_join(spark, queries):
    # same scale contract for the connected-components feeder: the
    # candidate stage must be the packed block-matrix path, never the
    # row-level a<b self-join over all embeddings (VERDICT r2 item #2).
    # The CC loop localCheckpoints (lineage truncation), so inspect the
    # pair stage q_dup_clusters actually consumes.
    import __spark_entry__ as entry

    plan = formatted_plan(spark, entry._dup_cluster_pairs(spark, SF))
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert not re.search(r"a#\d+L? < b#\d+", plan), "full-table a<b join present"


def test_tfidf_corpus_count_is_in_plan(spark, queries):
    # n_docs is a broadcast scalar agg inside the one plan — no
    # driver-side docs.count() second scan of the corpus
    plan = formatted_plan(spark, queries["tfidf_top_terms"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_decontaminate_broadcasts_eval_side(spark, queries):
    # the eval/benchmark side is tiny by nature: its shingles broadcast,
    # the training corpus streams map-side — no sort-merge on shingles
    plan = formatted_plan(spark, queries["decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pii_mask_is_map_only(spark, queries):
    # pure regexp_replace projection: zero Exchange nodes
    plan = formatted_plan(spark, queries["pii_mask"](spark, SF))
    assert "Exchange" not in plan


def test_minhash_production_hash_plan_contract(spark):
    """Scale contract for the PRODUCTION xxhash64 MinHash+LSH path
    (the portable md5 variants prove value-correctness by oracle; this
    pins the physical shape so a refactor can't silently regress the
    path users actually run): candidate generation is aggregation on
    (band, bhash) + JVM in-bucket expansion — never a signature
    self-join, cartesian, or row-level Python."""
    from kspp_spark.functions.dedup import minhash_candidates, minhash_signatures

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # parameters deliberately differ from q_minhash_lsh_pairs: that
    # query materializes its candidate set (lazy localCheckpoint), and
    # an identical frame here could be silently swapped for the
    # truncated LogicalRDD, hiding the physical shape this test pins
    sigs = minhash_signatures(docs, num_hashes=64)
    cand = minhash_candidates(sigs, bands=8, rows_per_band=8, max_bucket_ids=128)
    plan = formatted_plan(spark, cand)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # exactly the three designed shuffles: per-doc signature agg,
    # (band, bhash) bucket agg, pair distinct — nothing extra
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3, plan
    assert re.search(r"Keys \[2\]: \[band#\d+, bhash#\d+L?\]", plan), (
        "bucket aggregation on (band, bhash) missing"
    )
    # in-bucket pair expansion is JVM-side Generate (explode), not a
    # grouped-pandas or join-based expansion
    assert "Generate" in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_simhash_production_hash_plan_contract(spark):
    """Same contract for the production xxhash64 SimHash path:
    signature build is a single per-doc aggregation; band blocking is
    one (band, bhash) aggregation; the hamming verify joins are
    key-equi joins (broadcast at this SF) — no cartesian, no
    row-level Python anywhere."""
    from kspp_spark.functions.dedup import (
        simhash,
        simhash_candidates,
        simhash_hamming_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = simhash(docs)
    # signature stage alone: one shuffle (the per-doc agg), Python-free
    sig_plan = formatted_plan(spark, sigs)
    assert len(re.findall(r"\(\d+\) Exchange", sig_plan)) == 1
    assert "BatchEvalPython" not in sig_plan

    pairs = simhash_hamming_pairs(
        sigs, simhash_candidates(sigs, bands=4, bits=64), max_hamming=3
    )
    plan = formatted_plan(spark, pairs)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    assert re.search(r"Keys \[2\]: \[band#\d+, bhash#\d+L?\]", plan), (
        "band-blocking aggregation on (band, bhash) missing"
    )


def test_substring_spans_shuffles_fingerprints_only(spark, queries):
    """Span dedup scale contract: raw text never shuffles — the span
    windows project and fingerprint map-side, and the only exchanges
    belong to the (fp, doc_id) count-distinct aggregation. No joins,
    no Python."""
    plan = formatted_plan(spark, queries["substring_spans"](spark, SF))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    # count-distinct agg = at most two HASH exchanges (partial on
    # (fp, id), final on fp); the explode/hash stages are narrow. The
    # graded query's small-input round-robin rebalance is exempt (a
    # no-op on cluster-sized scans — io.rebalance_small_scan).
    hash_ex = re.findall(r"Arguments: hashpartitioning", plan)
    assert len(hash_ex) <= 2, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3, plan


def test_token_pairs_single_shuffle(spark, queries):
    # one BPE merge-round count = pairs materialized inside codegen +
    # ONE hash aggregation: exactly one Exchange, no Python anywhere
    plan = formatted_plan(spark, queries["token_pairs"](spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:600]
    assert "BatchEvalPython" not in plan


def test_lm_scores_no_cartesian_all_equi_joins(spark, queries):
    # the LM build and the scoring pass are equi-joins on (a) / (a, b)
    # — never a cross product; small LM sides broadcast at this scale
    plan = formatted_plan(spark, queries["lm_scores"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_lm_scores_materialized_pairs_skip_retokenize(spark, tmp_path):
    # the 100 TB form: with pairs_df pre-materialized, the documents
    # table appears NOWHERE in the scoring plan (corpus tokenized once
    # at materialization, not once per consumer) and scores are
    # identical to the inline form
    from kspp_spark.functions.text import bigram_lm_scores, doc_token_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs_path = str(tmp_path / "pairs")
    doc_token_pairs(docs).write.parquet(pairs_path)
    pairs = spark.read.parquet(pairs_path)
    out = bigram_lm_scores(docs, pairs_df=pairs)
    plan = formatted_plan(spark, out)
    assert "documents" not in plan, "materialized-pairs path re-scans the corpus"
    inline = {
        (r.doc_id, r.n_pairs, r.score) for r in bigram_lm_scores(docs).collect()
    }
    stored = {(r.doc_id, r.n_pairs, r.score) for r in out.collect()}
    assert inline == stored


def test_lm_scores_graded_query_tokenizes_once(spark, queries):
    # the GRADED query takes the materialized-pairs path (eager
    # localCheckpoint): the scoring plan reads the checkpointed pairs,
    # never the documents parquet — the corpus tokenized exactly once
    # at materialization (VERDICT r5 item #5)
    plan = formatted_plan(spark, queries["lm_scores"](spark, SF))
    assert "documents" not in plan, "graded lm_scores re-scans the corpus"
    assert "BatchEvalPython" not in plan


def test_perplexity_buckets_tokenizes_once(spark, queries):
    # same contract as lm_scores: the LM build and scoring both read
    # the checkpointed pairs; only the (doc_id, lang) projection may
    # touch the documents parquet — never a second tokenize
    plan = formatted_plan(spark, queries["perplexity_buckets"](spark, SF))
    assert "BatchEvalPython" not in plan
    assert plan.count("Scan parquet") <= 1 + plan.count("Scan ExistingRDD"), plan
    # the regex-split tokenizer must appear nowhere (pairs are already
    # materialized); lang/doc_id projection doesn't tokenize
    assert "split(text" not in plan, "perplexity_buckets re-tokenizes"


def test_zorder_write_clusters_every_column(spark, tmp_path):
    # the multi-column layout contract: after write_zordered on
    # (value, user_id), EVERY file covers only a fraction of BOTH
    # domains (parquet footer min/max), so range predicates on either
    # column skip files/row-groups. A lexicographic sort would give
    # the secondary column full-domain spans in every file.
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from kspp_spark.io import write_zordered

    ev = spark.read.parquet(f"{SF}/events.parquet").select("value", "user_id")
    out = str(tmp_path / "z")
    write_zordered(ev, out, ["value", "user_id"], num_files=8)

    def spans(path_glob, col_idx):
        spans = []
        for f in glob.glob(path_glob):
            md = pq.ParquetFile(f).metadata
            lo = min(
                md.row_group(i).column(col_idx).statistics.min
                for i in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(i).column(col_idx).statistics.max
                for i in range(md.num_row_groups)
            )
            spans.append(hi - lo)
        return spans

    files = f"{out}/part-*.parquet"
    stats = ev.agg(
        F.max("value") - F.min("value"), F.max("user_id") - F.min("user_id")
    ).collect()[0]
    v_dom, u_dom = float(stats[0]), float(stats[1])
    v_spans, u_spans = spans(files, 0), spans(files, 1)
    assert len(v_spans) >= 4
    # both dimensions clustered: average per-file span well under the
    # domain (a single-column sort leaves the other at ~domain)
    assert sum(v_spans) / len(v_spans) < 0.7 * v_dom, (v_spans, v_dom)
    assert sum(u_spans) / len(u_spans) < 0.7 * u_dom, (u_spans, u_dom)
    # and nothing lost
    assert spark.read.parquet(out).count() == ev.count()


def test_positional_index_df_join_broadcasts_not_reshuffles(spark, queries):
    # the df side is ~|vocab| integer rows: AQE/Catalyst must broadcast
    # it so the heavy position arrays never cross a second shuffle
    plan = formatted_plan(spark, queries["positional_index"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_folded_index_snapshot_broadcasts_merge_maps(spark, tmp_path):
    # the changelog merge must join only the tiny (doc, max-epoch) and
    # per-term df maps — BROADCAST at this scale, never a SortMergeJoin
    # that would re-shuffle the heavy position arrays; and like every
    # query in the repo, zero Python in the plan
    from pyspark.sql import functions as F

    from kspp_spark.streaming.index_incremental import (
        index_bootstrap,
        positional_index_snapshot,
        positional_partials_batch,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    state = str(tmp_path / "pidx")
    index_bootstrap(docs, state, positional=True)
    positional_partials_batch(docs.filter(F.col("doc_id") % 7 == 0), 0, state)
    plan = formatted_plan(spark, positional_index_snapshot(spark, state, min_df=2))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_srp_sampler_single_shuffle_no_python(spark, queries):
    # deterministic diversity sampling: signatures are MAP-ONLY (JVM
    # higher-order fns over constant plane arrays) — the only Exchange
    # is the per-bucket rank window / profile aggregation
    for name in ["srp_diverse_sample", "srp_bucket_profile"]:
        plan = formatted_plan(spark, queries[name](spark, SF))
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, name
        assert "BatchEvalPython" not in plan, name


def test_boilerplate_clean_rewrite_is_map_side(spark, queries):
    """Boilerplate-removal scale contract: document text never enters
    a HASH exchange — the detector's per-digest count agg and the
    one-row collect_set shuffle digests only — and the rewrite joins
    the broadcast digest set (BroadcastNestedLoopJoin), never a
    shuffled join. No reassembly aggregation exists and no Python runs
    anywhere. (The graded query's io.rebalance_small_scan is a
    ROUND-ROBIN exchange of the raw scan rows — one narrow pass,
    exempt from the no-text rule; on cluster-sized scans its
    condition never fires and it disappears.)"""
    plan = formatted_plan(spark, queries["boilerplate_clean"](spark, SF))
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    blocks = re.findall(
        r"\(\d+\) Exchange\s*\nInput \[[^]]*\]: \[([^]]*)\]\nArguments: (\w+)",
        plan,
    )
    assert blocks, "no Exchange detail sections parsed — regex drifted"
    # <= 2 hash exchanges (count partial+final) carrying
    # digests only; 1 SinglePartition for the one-row collect_set; up
    # to 2 round-robin rebalances (detector + rewrite subtrees both
    # consume the conditionally-rebalanced scan)
    hash_blocks = [c for c, args in blocks if args == "hashpartitioning"]
    rr_blocks = [c for c, args in blocks if args == "RoundRobinPartitioning"]
    assert len(blocks) <= 5, plan
    assert hash_blocks and len(hash_blocks) <= 2
    assert len(rr_blocks) <= 2
    for cols in hash_blocks:
        assert "text#" not in cols and "unit#" not in cols, cols


def test_gopher_quality_is_map_only(spark, queries):
    # one codegen'd projection over the scan: no keyed exchange, no
    # joins; the only exchange tolerated is the rebalance_small_scan
    # round-robin spread of a single-split local scan (surt_index
    # precedent — structural no-op at scale)
    plan = formatted_plan(spark, queries["gopher_quality"](spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= plan.count(
        "RoundRobinPartitioning"
    ), plan
    assert plan.count("RoundRobinPartitioning") <= 1, plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_train_shuffle_no_single_partition_window(spark, queries):
    """Global-rank scale contract: the two-pass rank never plans an
    Exchange SinglePartition (the global-window scale killer) — every
    window partitions by the arithmetic bucket / balance value."""
    for name in ["train_shuffle", "shard_assign"]:
        plan = formatted_plan(spark, queries[name](spark, SF))
        assert "SinglePartition" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_dup_span_removal_shuffle_width(spark, queries):
    """Span-removal scale contract: every hash exchange before the
    final rewrite join carries fixed-width columns (fp/pos/interval
    bounds) — raw window strings (_span) never cross an exchange; no
    Python anywhere. The corpus's single text shuffle is the rewrite
    join itself (inherent to producing rewritten documents)."""
    plan = formatted_plan(spark, queries["dup_spans_removed"](spark, SF))
    assert "BatchEvalPython" not in plan
    for args in re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "_span" not in args, args
    # interval derivation = dup-set agg + hit semi-join + island
    # windows + rewrite join: bounded exchange count
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 7, plan


def test_media_decode_is_map_only_arrow(spark, queries):
    """Image-header decode scale contract: two Arrow-batched
    MapInPandas stages (synthesize, parse) over one scan — zero
    exchanges (bytes never shuffle, never reach the driver), no
    row-at-a-time Python, no join."""
    plan = formatted_plan(spark, queries["media_decode"](spark, SF))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 2, plan


def test_gopher_repetition_map_only(spark, queries):
    """Repetition-suite scale contract (r13-opt): every counter is a
    function of ONE document, so the whole 11-signal suite is in-row
    run-length folds over sorted unit arrays — MAP-ONLY. One scan, no
    Generate, no join, no Python, and the only exchange allowed is
    the conditional small-input round-robin spread (which is NOT a
    hashpartitioning). The previous shape shuffled ~9x-the-corpus-
    tokens of gram strings through a two-phase count aggregation."""
    plan = formatted_plan(spark, queries["gopher_repetition"](spark, SF))
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan
    assert "Generate" not in plan, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "hashpartitioning" not in plan, plan
    assert len(re.findall(r"\(\d+\) (?:Hash|Sort|Object)Aggregate", plan)) == 0, plan


def test_robots_gate_no_regex_broadcast_join(spark, queries):
    """Robots-gate scale contract: per-URL matching is pure string
    search (startswith / locate / endswith over the '*'-split parts)
    — no RLIKE and therefore no per-row regex compile anywhere in the
    plan; the per-domain rule side broadcasts; Python (the Arrow
    parse stage) touches only the tiny robots side, never the URL
    table."""
    plan = formatted_plan(spark, queries["robots_gate"](spark, SF))
    assert "RLIKE" not in plan and "rlike" not in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_link_graph_jvm_only_bounded_shuffles(spark, queries):
    """Outlink-graph scale contract: one corpus scan, anchor
    extraction + RFC 3986 resolution entirely in JVM regex (no
    Python), no join anywhere, and only the two agg exchanges the
    distinct-source count inherently needs — shuffle width is
    (target_domain, doc_id), never the raw HTML. A third exchange is
    tolerated ONLY if it is the rebalance_small_scan round-robin
    spread sitting directly on the narrow doc_id scan (single-split
    local-mode artifact, structural no-op on cluster-sized inputs)."""
    plan = formatted_plan(spark, queries["link_graph"](spark, SF))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) <= 2 + plan.count("RoundRobinPartitioning"), plan
    assert plan.count("RoundRobinPartitioning") <= 1, plan


def test_winnow_fingerprints_jvm_single_shuffle(spark, queries):
    """Winnowing scale contract: the whole gram-hash + window-min +
    rightmost-tie selection is JVM higher-order functions over one
    corpus scan (no Python, no join); the only exchange is the
    per-doc rollup — and it shuffles (doc_id, pos, fp) longs, never
    the raw text."""
    plan = formatted_plan(spark, queries["winnow_fingerprints"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    # +1 exchange tolerated only for the rebalance_small_scan
    # round-robin spread of a single-split local scan (surt_index
    # precedent); the rollup exchange stays the only keyed one
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1 + plan.count(
        "RoundRobinPartitioning"
    ), plan
    assert plan.count("RoundRobinPartitioning") <= 1, plan


def test_stupid_backoff_single_tokenize_bounded_joins(spark, queries):
    """Stupid-Backoff scale contract: the corpus tokenizes ONCE (the
    localCheckpoint RDD scan is the only source — no parquet re-scan
    of documents inside the scoring plan), the five count joins are
    plain equi-joins (no cartesian, no Python), and nothing explodes
    raw text across a shuffle — n-gram strings and counts only."""
    plan = formatted_plan(spark, queries["stupid_backoff"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # the tokenized frame is checkpointed: the scoring plan reads the
    # RDD scan, never the documents parquet again
    assert "Scan parquet" not in plan, plan


def test_decontaminate_bloom_mapside_prefilter(spark, queries):
    """Bloom-decontamination scale contract: the bloom probe is a
    map-side prune riding a GENERATOR (explode of a when()-guarded
    array — bloom-negative docs never produce shingle rows), pure JVM
    (the bloom is a binary literal, no Python, no extra join for it),
    and the exact phase keeps decontaminate's broadcast shingle join.
    The generator form is load-bearing (r13-opt): a .filter(exists)
    probe is a deterministic predicate Catalyst pushes through the
    rebalance exchange onto the single pre-spread scan split, so the
    whole md5-probe kernel ran serialized; no Filter node may carry
    the probe."""
    plan = formatted_plan(spark, queries["decontaminate_bloom"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the probe is present (exists over the shingle array) ...
    assert "exists" in plan, plan
    # ... but never inside a Filter node (pushable); it must ride the
    # explode Generate above the spread exchange
    for m in re.finditer(r"\(\d+\) Filter[^\n]*\n((?:[^\n]+\n)*?)\n", plan):
        assert "exists(" not in m.group(1), m.group(1)[:300]


def test_winnow_dup_pairs_no_self_join(spark, queries):
    """Winnow-pairs scale contract: NEVER a row-pair self-join — the
    plan is scan -> (doc, fp) distinct -> per-fp bucket agg -> JVM
    i<j expansion -> (a, b) count: three bounded exchanges on
    fixed-width longs, no Join operator, no Python, raw text never
    shuffles."""
    plan = formatted_plan(spark, queries["winnow_dup_pairs"](spark, SF))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    # +1 exchange tolerated only for the rebalance_small_scan
    # round-robin spread of a single-split local scan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3 + plan.count(
        "RoundRobinPartitioning"
    ), plan
    assert plan.count("RoundRobinPartitioning") <= 1, plan


def test_surt_index_jvm_bounded_shuffles(spark, queries):
    """SURT index scale contract: key construction is map-side JVM
    regex; the rollup's countDistinct needs at most the standard
    two-phase pair of exchanges; a third is tolerated only for the
    rebalance_small_scan round-robin spread on the narrow local
    scan."""
    plan = formatted_plan(spark, queries["surt_index"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) <= 2 + plan.count("RoundRobinPartitioning"), plan
    assert plan.count("RoundRobinPartitioning") <= 1, plan


def test_sitemap_frontier_broadcast_anti_join(spark, queries):
    """Frontier-discovery scale contract: the seen set joins as a
    BROADCAST anti-join (the entry stream never shuffles for it), the
    sitemap parse is JVM regex (no Python), and the rollup is the
    only wide exchange."""
    plan = formatted_plan(spark, queries["sitemap_frontier"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan


def test_domain_rollup_full_broadcast_probes(spark, queries):
    """Full-PSL scale contract: 5 broadcast hash probes (one per
    suffix length), rules side a JVM literal (no ExistingRDD — a
    python-created rules frame re-runs a pickled-RDD pipeline per
    broadcast build), no sort-merge join, no Python, one rollup
    exchange on the host stream."""
    plan = formatted_plan(spark, queries["domain_rollup_full"](spark, SF))
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 5, plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ExistingRDD" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_domain_rollup_map_lookup_single_shuffle(spark, queries):
    """PSL registrable-domain scale contract: the rule table folds
    into a LITERAL map in the plan (no join, no broadcast, no second
    scan), the per-domain rollup is the single exchange, and no
    Python appears anywhere."""
    plan = formatted_plan(spark, queries["domain_rollup"](spark, SF))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_dedup_paragraphs_map_only(spark, queries):
    """Intra-doc dedup scale contract: pure map — one parquet scan,
    ZERO exchanges, no join, no Python. The first-occurrence filter
    is a codegen'd HOF over the lambda-bound split array; fusable
    into any curation scan at 100 TB."""
    plan = formatted_plan(spark, queries["dedup_paragraphs"](spark, SF))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "ArrowEvalPython" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_event_transitions_single_user_shuffle(spark, queries):
    """Transition-matrix scale contract: ONE wide shuffle on user_id
    feeds the lag window; the (prev, next) aggregation and the
    conditional-probability window operate on the |types|^2 matrix
    (partial agg bounds their exchanges). No Python, no join."""
    plan = formatted_plan(spark, queries["event_transitions"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    # user_id window shuffle + distinct-expand agg pair + prob window:
    # every exchange after the first carries matrix-sized data
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 4, plan


def test_trending_terms_single_term_agg(spark, queries):
    """Trending-vocabulary scale contract: tokenize+explode map-side,
    ONE hash aggregation on term (partial agg: the exchange carries
    one row per distinct term per mapper, never per token), rank
    window on the aggregated vocabulary only. No Python, no join."""
    plan = formatted_plan(spark, queries["trending_terms"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "Join" not in plan
    assert "HashAggregate" in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert (
        len(re.findall(r"\(\d+\) Exchange", plan))
        <= 3 + plan.count("RoundRobinPartitioning")
    ), plan


def test_domain_quality_single_agg_no_python(spark, queries):
    """Wilson-ranking scale contract: one hash aggregation over
    source (conditional sums ride the partial agg); the sqrt-bearing
    bound is a scalar projection on the 20-row result. Pure JVM."""
    plan = formatted_plan(spark, queries["domain_quality"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_nfc_normalize_arrow_map_only(spark, queries):
    """NFC scale contract: the unicodedata crossing is Arrow-batched
    (ArrowEvalPython), NEVER row-at-a-time BatchEvalPython; map-only
    — no exchange, no join."""
    plan = formatted_plan(spark, queries["nfc_normalize"](spark, SF))
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan


def test_hard_negatives_broadcast_anchors(spark, queries):
    """Hard-negative-mining scale contract: the anchor side (with its
    labels) BROADCASTS — the corpus never shuffles for the pairing —
    and the label-mismatch filter sits in the join condition or
    directly on the joined stream before scoring. JVM vector math
    (zip_with/aggregate), no Python."""
    plan = formatted_plan(spark, queries["hard_negatives"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cms_counts_single_agg_bounded_cells(spark, queries):
    """Count-Min build scale contract: explode to depth probes is
    map-side; ONE hash aggregation whose partial combine bounds the
    shuffle at width x depth cells per mapper. No join, no Python."""
    plan = formatted_plan(spark, queries["cms_counts"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan


def test_cms_estimates_broadcast_sketch(spark, queries):
    """Count-Min probe scale contract: the <=192-row sketch
    BROADCASTS to the (row, bucket) equi-join — the probe stream
    never shuffles for it; no sort-merge, no Python."""
    plan = formatted_plan(spark, queries["cms_estimates"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_minmax_scaled_single_stats_reduction(spark, queries):
    """Min-max scaling scale contract: per-dim stats come from ONE
    partial-aggregated reduction to a single 128-double row
    (element_at projections — the N x dims posexplode never
    shuffles), broadcast back for the map-side rescale. The only
    explode is the OUTPUT projection after scaling."""
    plan = formatted_plan(spark, queries["minmax_scaled"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row stats ride
    # stats agg: partial+final pair over a single-row reduce = at most
    # one single-partition exchange
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan


def test_hll_registers_single_agg_no_distinct(spark, queries):
    """HLL scale contract: the build is ONE hash aggregation (max is
    idempotent, so there is NO pre-distinct shuffle — the operator's
    whole advantage over exact COUNT DISTINCT); the estimate is a
    second bounded agg over <= m rows per group. No Python, and the
    only join is the broadcast of the 5-row exact-truth side."""
    plan = formatted_plan(spark, queries["hll_cardinality"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    # the register build must not dedupe its input first: exactly one
    # aggregate pair touches the raw scan per branch (no Expand /
    # distinct rewrite on the register path)
    assert "Expand" not in plan, plan


def test_hll_merge_no_join_two_aggs(spark, queries):
    """HLL merge scale contract: slice build + merge are two hash
    aggregations (both partial-combined map-side), never a join —
    sketches from independent slices combine by register max."""
    plan = formatted_plan(spark, queries["hll_merge_slices"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    # slice build + merge + estimate: three partial-combined aggs,
    # every exchange bounded at <= m register rows per mapper group
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3, plan


def test_contamination_scores_broadcast_eval(spark, queries):
    """Contamination-fraction scale contract: the eval shingle set
    (benchmarks — tiny) BROADCASTS to the exploded train side; the
    train corpus never shuffles for the join. No cartesian, no
    Python."""
    plan = formatted_plan(spark, queries["contamination_scores"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan


def test_snapshot_diff_one_equi_join(spark, queries):
    """Snapshot-diff scale contract: exactly ONE equi-join between
    the two snapshots (full outer on the key), all status/changed_cols
    logic in JVM expressions above it — no second pass, no Python."""
    plan = formatted_plan(spark, queries["snapshot_diff"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert len(re.findall(r"\(\d+\) SortMergeJoin", plan)) == 1, plan
    assert "CartesianProduct" not in plan
    # snapshot predicates push to the parquet scan
    assert "LessThan(o_orderdate" in plan, plan


def test_heavy_hitters_mapside_prune_no_join(spark, queries):
    """Heavy-hitters scale contract: pass 2 is a MAP-SIDE filter
    against the sketch literal plus one bounded aggregation — no
    join, no distinct, no Python; the corpus vocabulary never
    shuffles."""
    plan = formatted_plan(spark, queries["heavy_hitters"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "Join" not in plan, plan
    # +1 exchange tolerated only for the rebalance_small_scan
    # round-robin spread of a single-split local scan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1 + plan.count(
        "RoundRobinPartitioning"
    ), plan
    assert plan.count("RoundRobinPartitioning") <= 1, plan


def test_typo_pairs_variant_equi_join_only(spark, queries):
    """SymSpell scale contract: candidates come from ONE equi-join
    on the deletion-variant string — never a cartesian/nested-loop
    pairing; the levenshtein verifier runs on candidates only."""
    plan = formatted_plan(spark, queries["typo_pairs"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_quantile_histogram_windows_over_sketch_only(spark, queries):
    """Histogram-quantile scale contract: ONE bounded hash
    aggregation over the data (map-side combine, <= ~63*k bins per
    mapper per group); the cumulative-walk windows and the explode
    run over the SKETCH rows, never the corpus. No join, no
    Python."""
    plan = formatted_plan(spark, queries["quantile_histogram"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_outlier_gate_broadcast_threshold(spark, queries):
    """Outlier-gate scale contract: the histogram p99 threshold is a
    1-row frame that BROADCASTS back (nested-loop on one row, like
    the minmax stats row); the corpus is gated map-side — no global
    sort, no shuffle of the data for the threshold."""
    plan = formatted_plan(spark, queries["outlier_gate"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ppjoin_pairs_equi_joins_only(spark, queries):
    """Prefix-filter join scale contract: every Join in the plan is
    an equi-join (the prefix-token join, the frequency join, the two
    verify joins) — NEVER a cartesian/broadcast-nested-loop pair
    enumeration — and no Python appears anywhere. The length filter
    rides inside the join condition, not as a post-product filter."""
    plan = formatted_plan(spark, queries["ppjoin_pairs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_evaluation_metrics_bounded_shuffles(spark, queries):
    """roc_auc scale contract: the corpus is compressed by ONE
    map-side-combined hash aggregation before any window — the
    cumulative walk runs over the (group, score) histogram, never a
    global sort of raw rows — and calibration/confusion are single
    aggregations. No Python, no join anywhere in the three plans."""
    for name in ("auc_eval", "score_calibration", "classifier_confusion"):
        plan = formatted_plan(spark, queries[name](spark, SF))
        assert "BatchEvalPython" not in plan, name
        assert "Join" not in plan, name
        assert "HashAggregate" in plan, name


def test_triangle_counts_equi_joins_only(spark, queries):
    """Triangle-count scale contract: wedge generation and closure
    are equi-joins (apex key, closing-edge key) — never a cartesian
    or nested-loop pair enumeration — and no Python appears."""
    plan = formatted_plan(spark, queries["triangle_counts"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_zorder_stats_single_wide_shuffle(spark, queries):
    """Z-order layout scale contract: the global min/max bounds ride
    a 1-row BROADCAST onto the scan (never a collect, never a wide
    join), the Morton key is map-side codegen, and the only wide
    exchange is the 64-key final aggregation."""
    plan = formatted_plan(spark, queries["zorder_stats"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row bounds frame
    assert "SortMergeJoin" not in plan
    # exchanges: the bounds agg's own singleton exchange + the final
    # 64-key hash agg pair — never one keyed by raw rows
    assert "CartesianProduct" not in plan


def test_length_percentile_broadcast_sketch_no_window(spark, queries):
    """CDF-probe scale contract: the per-group histogram comes back
    as a BROADCAST (never a per-row rank window — the exact form's
    global sort), the probe is JVM higher-order folds (no Python),
    and no Window operator touches corpus rows."""
    plan = formatted_plan(spark, queries["length_percentile"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_item_associations_no_basket_self_join(spark, queries):
    """Co-occurrence scale contract: pairs expand INSIDE packed
    basket arrays (Generate over the JVM flatten), marginals ride
    broadcasts — the only SortMergeJoin-eligible shape, the basket
    self-join, must not appear; no Python anywhere."""
    plan = formatted_plan(spark, queries["item_associations"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate" in plan  # the in-array pair explode


def test_range_bucket_join_no_nested_loop(spark, queries):
    """The whole point of grid bucketing: a pure range predicate
    would plan as BroadcastNestedLoopJoin (|P| x |I|); the bucketed
    form must be a hash EQUI-join on the cell id with the exact
    BETWEEN re-check inside the join, no cartesian, no Python."""
    plan = formatted_plan(spark, queries["range_bucket_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "HashJoin" in plan  # the cell-id equi-join


def test_funnel_stages_single_shuffle_no_window(spark, queries):
    """The funnel fold is ONE packed-array aggregation + a JVM
    aggregate() walk: no Window over corpus rows, no per-stage join
    chain (zero joins in the plan), no Python, and the step filter
    is pushed into the scan."""
    plan = formatted_plan(spark, queries["funnel_stages"](spark, SF))
    assert "Join" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("Exchange") <= 2  # the one user_id agg exchange (+AQE read)
    assert "ObjectHashAggregate" in plan  # the collect_list pack


def test_k_anonymity_single_agg(spark, queries):
    """One map-side-combinable hash aggregation over the scan —
    no join, no window, no Python."""
    plan = formatted_plan(spark, queries["k_anonymity"](spark, SF))
    assert "Join" not in plan and "Window" not in plan
    assert "BatchEvalPython" not in plan
    assert "HashAggregate" in plan


def test_category_drift_categories_sized(spark, queries):
    """Two bounded count aggs + ONE full-outer category join + the
    1-row broadcast totals frame (the only nested-loop join, same as
    zorder's bounds) — corpus rows never joined or windowed."""
    plan = formatted_plan(spark, queries["category_drift"](spark, SF))
    assert "BatchEvalPython" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    # r13-opt: the full-outer category join (and both corpus count
    # aggs behind it) is lazily materialized ONCE — the graded plan
    # must read the ExistingRDD cut, with the 1-row broadcast totals
    # frame (BroadcastNestedLoopJoin, zorder's bounds shape) the only
    # join left. A FullOuter SMJ reappearing here means the lineage
    # cut regressed to the recompute-per-branch shape (the pre-cut
    # plan held it twice).
    assert plan.count("SortMergeJoin FullOuter") == 0, (
        "category_drift lineage cut regressed"
    )
    assert "Scan ExistingRDD" in plan
    assert plan.count("BroadcastNestedLoopJoin Cross") == 1


def test_rrf_fusion_candidate_sized(spark, queries):
    """RRF fusion never touches corpus rows after the ranking
    windows: the union/agg/top-n window all run on top-k-sized
    lists; no Python, no cartesian."""
    plan = formatted_plan(spark, queries["rrf_fusion"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_numeric_drift_same_contract_as_categorical(spark, queries):
    """numeric_drift composes the histogram bin (map-side JVM bit
    arithmetic) with the categorical drift plan: aggregates before
    the category join, no Python, no corpus window."""
    plan = formatted_plan(spark, queries["numeric_drift"](spark, SF))
    assert "BatchEvalPython" not in plan
    assert "Window" not in plan
    # r13-opt: same materialized-once contract as category_drift's
    # pin — the FullOuter count join lives behind the ExistingRDD cut
    assert plan.count("SortMergeJoin FullOuter") == 0, (
        "numeric_drift lineage cut regressed"
    )
    assert "Scan ExistingRDD" in plan
    assert plan.count("BroadcastNestedLoopJoin Cross") == 1


def test_event_pattern_single_shuffle_no_window(spark, queries):
    """Sequence-regex contract mirrors funnel_stages: one packed
    aggregation per user, the regex runs JVM-side over the packed
    string — no Window over corpus rows, no join, no Python."""
    plan = formatted_plan(spark, queries["event_pattern"](spark, SF))
    assert "Join" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "ObjectHashAggregate" in plan


def test_weighted_quantiles_window_on_aggregated_values(spark, queries):
    """The cumulative window must run over the (group, value) weight
    AGGREGATE, never raw rows: a HashAggregate (map-side combinable)
    sits below the Window; no Python, no join beyond none."""
    plan = formatted_plan(spark, queries["weighted_median"](spark, SF))
    assert "BatchEvalPython" not in plan
    assert "HashAggregate" in plan and "Window" in plan
    # the Window's input is the aggregate, so the plan has the agg
    # exchange (value table) + the window exchange on the group only
    assert "Join" not in plan


def test_benford_single_agg(spark, queries):
    """One hash aggregation + a 1-row broadcast total — 9 rows out,
    no Python, no corpus window."""
    plan = formatted_plan(spark, queries["benford"](spark, SF))
    assert "BatchEvalPython" not in plan
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_funnel_conversion_cumulative_join_is_bounded(spark, queries):
    """funnel_counts' >=-stage cumulative join is a nested-loop over
    TWO frames bounded by len(steps) (the 3-row stage frame x the
    <=k+1-row per-stage aggregate) — deliberate and corpus-free; the
    corpus-sized work is funnel_stages' single packed aggregation
    below it. No Python anywhere."""
    plan = formatted_plan(spark, queries["funnel_conversion"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    # the one ObjectHashAggregate is the per-user pack; everything
    # above it operates on stage-count-sized frames
    assert "ObjectHashAggregate" in plan


def test_funnel_latency_quantile_over_bounded_aggregate(spark, queries):
    """funnel_latency's cumulative window must run over the
    (stage, bucketed-latency) weight AGGREGATE — bounded by
    horizon/bucket rows per stage — never raw rows; the corpus-sized
    work is the one packed per-user aggregation below. No Python, no
    join (the quantile pick is window + filter + agg), no corpus
    window."""
    plan = formatted_plan(spark, queries["funnel_latency"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    # per-user pack (collect_list) + the bucket weight agg
    assert "ObjectHashAggregate" in plan
    assert "HashAggregate" in plan and "Window" in plan
    assert "Join" not in plan


def test_event_pattern_spans_single_pack_no_python(spark, queries):
    """event_pattern_spans keeps event_pattern's plan shape: ONE
    packed per-user aggregation; the fence-split-scan fold and the
    element_at time probes are JVM expressions over the packed
    arrays — no window, no join, no Python, no cartesian."""
    plan = formatted_plan(spark, queries["event_pattern_spans"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    assert "Window" not in plan
    assert "ObjectHashAggregate" in plan


def test_rfm_segments_no_corpus_window(spark, queries):
    """RFM scores come from threshold comparisons against ONE 1-row
    broadcast frame — the quantile windows run over the melted
    per-user AGGREGATE's distinct-value table, and no ntile/window
    touches the raw orders. No Python, no cartesian beyond the 1-row
    broadcast."""
    plan = formatted_plan(spark, queries["rfm_segments"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "ntile" not in plan.lower()
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row thresholds frame
    assert "HashAggregate" in plan


def test_attribution_user_window_only(spark, queries):
    """attribution's only window partitions by user (history-bounded);
    credit math is integer expressions; no Python. r13-opt: the
    graded plan now reads the lazily-materialized marked/attributed
    frames (the corpus ordering window runs ONCE, at
    materialization, instead of once per aliased branch), so the
    final plan must show the ExistingRDD cut and NO window — a
    Window reappearing here would mean the lineage cut regressed."""
    plan = formatted_plan(spark, queries["attribution"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan and "HashAggregate" in plan
    assert "Window" not in plan, "attribution lineage cut regressed"


def test_referential_integrity_single_pass(spark, queries):
    """Each relation check is ONE child pass: a left join against the
    parent's distinct pk column + one conditional aggregation — no
    anti-join/count-subtree triplication (the r12 form scanned each
    child three times), no corpus window, no Python."""
    plan = formatted_plan(spark, queries["referential_integrity"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "LeftOuter" in plan and "LeftAnti" not in plan
    assert "Window" not in plan
    # one scan per relation side: 5 child + 5 parent subtrees only
    # (each scan prints twice in formatted mode: tree + detail)
    assert plan.count("Scan parquet") <= 20


def test_correlation_matrix_single_agg(spark, queries):
    """All moments come from ONE aggregation over the cleaned frame;
    the pair projections read the 1-row moment frame. No window, no
    Python, no join beyond the union of 1-row projections."""
    plan = formatted_plan(spark, queries["correlation_matrix"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_ewma_single_window_pass_no_python(spark, queries):
    """The whole lag chain shares ONE per-key window sort; no joins,
    no Python."""
    plan = formatted_plan(spark, queries["ewma_smooth"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "Join" not in plan
    assert plan.count("Window") <= 2  # agg + the single lag window


def test_cusum_windows_over_daily_aggregate(spark, queries):
    """Integer cumsum + running-min windows run over the daily
    AGGREGATE (the per-key series), never raw events; the target is
    a bounded per-key agg joined back."""
    plan = formatted_plan(spark, queries["cusum_alarms"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan and "HashAggregate" in plan


def test_acf_bounded_output_no_python(spark, queries):
    """One window pass + one (key, lag) aggregation; output is
    |keys| x max_lag rows; no Python."""
    plan = formatted_plan(spark, queries["acf_daily"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_bfs_hops_no_python_no_cartesian(spark, queries):
    """Each BFS round is a frontier equi-join + min-combine over
    materialized frontiers; fixed iteration count, no Python, no
    cartesian, no window."""
    plan = formatted_plan(spark, queries["bfs_hops"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_spearman_windows_over_value_tables(spark, queries):
    """Rank windows run over the (group, value) COUNT aggregates,
    never raw rows (the weighted_quantiles contract); no Python."""
    plan = formatted_plan(spark, queries["spearman"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan and "Window" in plan


def test_kcore_semi_joins_no_python(spark, queries):
    """Peel rounds are degree aggs + LeftSemi prunes over a
    shrinking edge list; no Python, no cartesian."""
    plan = formatted_plan(spark, queries["kcore"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_radius_join_no_cartesian(spark, queries):
    """The spatial join must plan the 3x3-cell equi-join, never the
    cross product the naive distance predicate would produce; exact
    check is map-side integer algebra, no Python."""
    plan = formatted_plan(spark, queries["radius_join"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_knn_radius_window_group_limit(spark, queries):
    """Capped kNN rides the same 3x3-cell equi-join (no cross
    product, no Python) and its rank<=k filter must compile to
    WindowGroupLimit — map-side per-point top-k before the window's
    shuffle, the property that keeps a dense cell's candidate list
    off a single reducer."""
    plan = formatted_plan(spark, queries["knn_radius"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "WindowGroupLimit" in plan


def test_mad_outliers_bounded_quantile_passes(spark, queries):
    """Median/MAD gate: two weighted_quantiles passes over
    distinct-value tables + broadcast joins back — no Python, no
    cartesian, no corpus-wide single-partition window."""
    plan = formatted_plan(spark, queries["mad_outliers"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_attribution_decay_no_python_no_cartesian(spark, queries):
    """Time-decay credit: per-user ordering window + window-sized
    equi-joins, integer shift weights — no Python, no cartesian."""
    plan = formatted_plan(spark, queries["attribution_decay"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_theil_sen_days_bounded_pair_join(spark, queries):
    """Pairwise slopes come from ONE per-key equi-join over the
    days-bounded daily table — no Python, no cartesian."""
    plan = formatted_plan(spark, queries["theil_sen"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_stickiness_no_windowed_count_distinct(spark, queries):
    """DAU/MAU rides distinct + bounded explode + plain counts — no
    corpus window, no Python, no cartesian, and critically no
    windowed COUNT(DISTINCT) Expand blow-up."""
    plan = formatted_plan(spark, queries["stickiness"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_hotspots_cell_table_explode_only(spark, queries):
    """Hotspot screen: one corpus-sized cell count, then the 9x
    explode runs over the CELL table — no point-level self-join, no
    Python, no cartesian."""
    plan = formatted_plan(spark, queries["hotspots"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_vote_rides_window_group_limit(spark, queries):
    """The kNN classifier inherits knn_radius_join's scale plan:
    WindowGroupLimit present, no cartesian, no Python."""
    plan = formatted_plan(spark, queries["knn_vote"](spark, SF))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_assortativity_edge_list_joins_only(spark, queries):
    """Assortativity: degree agg + two equi-joins + the 1-row moment
    frame — no Python, no cartesian beyond the 1-row broadcast."""
    plan = formatted_plan(spark, queries["assortativity"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_readability_map_only(spark, queries):
    """Flesch counts are pure map-side regexp work: zero Exchange
    nodes — a narrow pass over the scan at any corpus size."""
    plan = formatted_plan(spark, queries["readability"](spark, SF))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_pre_cut_plans_no_python_no_cartesian(spark, queries, monkeypatch):
    """ADVICE r13: the retightened pins only see the post-checkpoint
    plan — everything upstream of a lineage cut hides behind a
    LogicalRDD, so 'no Python / no cartesian' assertions stopped
    examining the computation they guard. Identity-patch the cut
    (every site routes through localCheckpoint, directly or via
    io.materialize_once) and assert the properties on the FULL
    upstream plan of the queries whose pins were retightened."""
    # patch the CONCRETE class (Spark 4: pyspark.sql.classic), not the
    # abstract pyspark.sql.DataFrame — instances override the method
    cls = type(spark.range(1))
    monkeypatch.setattr(
        cls, "localCheckpoint", lambda self, eager=True: self
    )
    monkeypatch.setattr(
        cls, "checkpoint", lambda self, eager=True: self
    )  # materialize_once takes this path when a session checkpoint
    # dir is set (a prior test may leave one)
    for name in (
        "attribution",
        "attribution_decay",
        "category_drift",
        "numeric_drift",
        "curate_docs",
        "domain_rank",
        "cusum_alarms",
        "theil_sen",
        "stickiness",
        "hotspots",
    ):
        plan = formatted_plan(spark, queries[name](spark, SF))
        assert "BatchEvalPython" not in plan, f"{name}: Python UDF upstream"
        assert "ArrowEvalPython" not in plan, f"{name}: Python UDF upstream"
        assert "MapInPandas" not in plan, f"{name}: Python upstream"
        assert "CartesianProduct" not in plan, f"{name}: cartesian upstream"
    # attribution's only window is per-user (history-bounded): with
    # the cut disabled the Window node is visible again and must
    # partition by the user key, never corpus-wide
    plan = formatted_plan(spark, queries["attribution"](spark, SF))
    assert "Window" in plan
    specs = re.findall(r"windowspecdefinition\(([^,]+),", plan)
    assert specs and all(s.strip().startswith("_u") for s in specs), specs
