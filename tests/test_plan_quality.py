"""Plan-quality gates: the scale properties — pushdown, pruning,
broadcast, partial aggregation — asserted on real plans so a refactor
cannot silently regress them. (A correct result with a bad plan is
not done.)"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry


def _plan(spark, qname, sf_dir):
    df = entry.queries()[qname](spark, sf_dir)
    full = df._jdf.queryExecution().executedPlan().toString()
    return full.split("== Initial Plan ==")[0]


def test_q1_pushdown_and_partial_agg(spark, sf_dir):
    plan = _plan(spark, "q1_pricing_summary", sf_dir)
    # the shipdate filter reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # map-side partial aggregation before the exchange
    assert "partial_sum" in plan
    # no Python in the hot path
    assert "EvalPython" not in plan


def test_scan_prunes_columns(spark, sf_dir):
    plan = _plan(spark, "high_value_orders", sf_dir)
    # only the four needed columns are read
    assert "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double,o_orderdate" in plan
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,100000.0)]" in plan


def test_q5_broadcasts_dims(spark, sf_dir):
    plan = _plan(spark, "q5_region_revenue", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2  # nation + region at least
    assert "SortMergeJoin" not in plan or plan.count("BroadcastHashJoin") >= 2


def test_join_last_unique_side_has_single_agg(spark, sf_dir):
    plan = _plan(spark, "join_last_order_lineitem", sf_dir)
    # the orders side (declared unique) must not aggregate
    assert plan.count("partial_max") == 1


def test_keyed_agg_keys_stay_natural_type(spark, sf_dir):
    plan = _plan(spark, "max_order_per_customer", sf_dir)
    # no string casts of the bigint key anywhere in the plan
    assert "cast(o_custkey#" not in plan or "as string" not in plan.lower()


@pytest.mark.parametrize("qname", ["wordcount", "hourly_event_counts", "reduce_minmax_price"])
def test_no_python_eval_in_declarative_queries(spark, sf_dir, qname):
    plan = _plan(spark, qname, sf_dir)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q6_all_filters_pushed(spark, sf_dir):
    """Q6's five predicates all reach the parquet scan; the plan is
    scan -> partial agg -> single-row exchange."""
    plan = _plan(spark, "q6_forecast_revenue", sf_dir)
    assert "DataFilters: [isnotnull(l_shipdate" in plan
    # scan reads only the 4 referenced columns (pruning)
    assert "FileScan parquet [l_quantity#" in plan
    assert "l_shipdate#" in plan.split("FileScan")[1].split("]")[0]
    assert "HashAggregate" in plan


def test_semi_join_is_semi_and_broadcast(spark, sf_dir):
    """returned_orders_by_priority plans a LeftSemi (no payload from
    the build side) and broadcasts the small filtered orders side."""
    plan = _plan(spark, "returned_orders_by_priority", sf_dir)
    assert "LeftSemi" in plan
    assert "Broadcast" in plan


def test_anti_join_is_anti(spark, sf_dir):
    plan = _plan(spark, "customers_without_orders", sf_dir)
    assert "LeftAnti" in plan
    assert "Broadcast" in plan


def test_q10_topk_is_take_ordered(spark, sf_dir):
    """Q10's top-20 plans as TakeOrderedAndProject (per-partition heap,
    no global sort materialization) and nation broadcasts."""
    plan = _plan(spark, "q10_returned_revenue", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_q14_part_broadcasts_no_fact_shuffle(spark, sf_dir):
    """Q14: part is a broadcast dim, so the lineitem fact reaches the
    one-row aggregate without ever shuffling on a join key."""
    plan = _plan(spark, "q14_promo_revenue", sf_dir)
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "partial_sum" in plan


def test_q18_aggregates_before_join(spark, sf_dir):
    """Q18 folds lineitem to (orderkey, sum_qty) before any join — the
    partial sum sits under the exchange; the HAVING survivors
    broadcast through orders and customer."""
    plan = _plan(spark, "q18_large_volume_customers", sf_dir)
    assert "partial_sum" in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_q19_or_envelope_reaches_scan(spark, sf_dir):
    """Q19's disjunctive predicate keeps a pushable quantity envelope:
    the 1..35 range lands in the lineitem scan's PushedFilters while
    the OR stays as the residual filter."""
    plan = _plan(spark, "q19_disjunctive_revenue", sf_dir)
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan
    assert "LessThanOrEqual(l_quantity,35.0)" in plan
    assert "EvalPython" not in plan


def test_cap_per_group_bounded_two_phase_rank(spark, sf_dir):
    """cap_per_group shuffles twice — first on (group, subbucket),
    bounding every group before the final per-group rank — and the
    scan reads only the needed columns, no Python anywhere."""
    plan = _plan(spark, "cap_docs_per_source", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 2
    assert "ReadSchema: struct<doc_id:bigint,source:string>" in plan
    assert "EvalPython" not in plan


def test_quantile_band_corpus_never_shuffles(spark, sf_dir):
    """quantile_band reduces the scan to a 1-row sketch and broadcasts
    it back: the corpus side must show no hash-partition exchange and
    the thresholds arrive via broadcast."""
    plan = _plan(spark, "quality_band_docs", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "EvalPython" not in plan


def test_kmeans_assignment_is_map_side(spark, sf_dir):
    """assign_cells embeds centroids as plan literals: the only
    exchanges are the count aggregation and final sort — no join for
    the assignment itself, single-column scan."""
    plan = _plan(spark, "kmeans_cells_embeddings", sf_dir)
    assert "Join" not in plan
    assert "ReadSchema: struct<embedding:array<float>>" in plan
    assert "partial_count" in plan


def test_domain_mixture_count_bounded_to_listed_domains(spark, sf_dir):
    """domain_mixture's driver-side count must aggregate ONLY the
    domains named in ``shares`` — the In() filter reaches the parquet
    scan, so a corpus with 10^8 distinct domains still collects at most
    len(shares) rows."""
    from bytewax_spark.functions.sampling import _domain_counts
    from bytewax_spark.io import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    cnt = _domain_counts(docs, "source", {"web": 5, "books": 3})
    plan = cnt._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "PushedFilters: [In(source" in plan
    assert "partial_count" in plan


def test_lsh_multiprobe_one_pinned_bucket_exchange(spark, sf_dir):
    """The hamming-1 multiprobe is ONE exchange on the probe bucket
    key feeding grouped Arrow kernels — never a nested-loop over
    pairs, never a per-row Python UDF, and the kernel stage keeps the
    pinned shuffle-partition fan-out (AQE would coalesce the
    byte-small bucket shuffle and serialize the quadratic per-bucket
    work). Its rows are checked against DuckDB SQL in
    tests/test_functions.py."""
    plan = _plan(spark, "lsh_cosine_multiprobe_pairs", sf_dir)
    assert "NestedLoop" not in plan
    assert "FlatMapGroupsInPandas" in plan  # grouped kernel, not a join
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    df = entry.queries()["lsh_cosine_multiprobe_pairs"](spark, sf_dir)
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert df.rdd.getNumPartitions() >= parts


def test_quantize_corpus_side_never_hash_shuffles(spark, sf_dir):
    """quantize_embeddings: only the dims-rows scale aggregation may
    exchange; the vector table itself reaches the zip_with through a
    1-row broadcast."""
    plan = _plan(spark, "quantized_embeddings_int8", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan
    assert "EvalPython" not in plan


def test_minhash_incremental_single_signature_pass(spark, sf_dir):
    """Incremental MinHash shingles every document ONCE: each join
    side's filter on the union tag prunes the one tagged pass to its
    own scan, so the plan holds one scan and one shingle explode per
    side, over disjoint rows. The tagged band table is an exploding
    sliver and is not cached (``functions/_materialize.py``)."""
    plan = _plan(spark, "minhash_incremental_docs", sf_dir)
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 2
    assert sum("NOT ((doc_id" in ln for ln in scans) == 1  # new vs seen rows
    shingles = [
        ln for ln in plan.splitlines() if "Generate" in ln and "split(lower(text" in ln
    ]
    assert len(shingles) == 2  # one shingle explode per side
    assert "InMemoryTableScan" not in plan
    assert "EvalPython" not in plan


def test_line_dedup_stays_jvm_side(spark, sf_dir):
    """Corpus-wide line dedup: explode, rank and reassembly are all
    Catalyst — no Python, no nested-loop join."""
    plan = _plan(spark, "line_dedup_docs", sf_dir)
    assert "EvalPython" not in plan
    assert "NestedLoop" not in plan


def test_corpus_shuffle_head_no_global_sort(spark, sf_dir):
    """A shuffled head probe must collapse to TakeOrdered — sorting
    the whole corpus to look at 25 rows is the wrong plan."""
    plan = _plan(spark, "corpus_shuffle_head", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_chunk_documents_is_shuffle_free(spark, sf_dir):
    plan = _plan(spark, "chunk_docs_32", sf_dir)
    assert "Exchange" not in plan      # pure per-row: scan -> generate -> project
    assert "EvalPython" not in plan


def test_sample_exact_n_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, "sample_exact_100_docs", sf_dir)
    assert "TakeOrderedAndProject" in plan  # per-partition heaps, no global sort
    assert "Sort " not in plan or "TakeOrderedAndProject" in plan


def test_bm25_take_ordered_and_jvm_side(spark, sf_dir):
    plan = _plan(spark, "bm25_search_docs", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_dsir_weight_table_broadcasts(spark, sf_dir):
    plan = _plan(spark, "dsir_weights_docs", sf_dir)
    # the B-row weight table joins by broadcast; the only hash
    # exchanges are the (id, bucket) partial-count aggregations
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_winnow_single_hash_transform_in_plan(spark, sf_dir):
    # the winnow is per-document, so the plan must be scan → the
    # mapInArrow kernel with NO keyed Exchange (a row-based plan pays
    # a full gram-row exchange + sort for the window)
    plan = _plan(spark, "winnow_fingerprints_docs", sf_dir)
    assert "MapInArrow" in plan
    # no keyed shuffle and no window machinery remain; the only
    # Exchange permitted is the round-robin parallelism guard for
    # under-split inputs (ensure_min_partitions — no-op at scale)
    assert "hashpartitioning" not in plan
    assert "Window" not in plan
    assert plan.count("Exchange") <= 1


def test_span_dedup_shuffles_hashes_not_text(spark, sf_dir):
    plan = _plan(spark, "span_dedup_docs", sf_dir)
    # rank-of-first-occurrence runs over (id, pos, hash) rows; the
    # interval merge and token filter are per-row folds, so no join
    # against the ranges and no Python anywhere
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_bloom_incremental_probe_is_map_side_literal(spark, sf_dir):
    plan = _plan(spark, "bloom_dedup_incremental_docs", sf_dir)
    # the bloom probe is a filter over a plan literal — no extra join
    # for the novel branch; exactly the dedup aggregation + one
    # anti-join + the union of the two branches
    assert plan.count("LeftAnti") == 1
    assert "Union" in plan
    assert "EvalPython" not in plan


def test_semdedup_blocked_join_no_python(spark, sf_dir):
    plan = _plan(spark, "semdedup_docs", sf_dir)
    assert "CartesianProduct" not in plan  # cell-blocked equi-join, never all-pairs
    assert "EvalPython" not in plan


def test_sample_weighted_n_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, "sample_weighted_100_docs", sf_dir)
    assert "TakeOrderedAndProject" in plan  # per-partition top-n heaps
    assert "EvalPython" not in plan


def test_hard_negatives_take_ordered_no_join(spark, sf_dir):
    plan = _plan(spark, "hard_negatives_vec0", sf_dir)
    assert "TakeOrderedAndProject" in plan
    # the label test is a filter fused into the scan side, not a join
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_random_projection_shuffle_free(spark, sf_dir):
    plan = _plan(spark, "random_projection_embeddings", sf_dir)
    # plan-literal sign matrix: pure projection, zero exchanges
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_pagerank_shuffles_ids_not_payloads(spark, sf_dir):
    plan = _plan(spark, "pagerank_purchase_graph", sf_dir)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_triangle_counts_no_cartesian_no_python(spark, sf_dir):
    plan = _plan(spark, "triangle_counts_copart", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_percentile_normalize_windows_distinct_scores_only(spark, sf_dir):
    """The rank window must run over the per-(source, score) aggregate,
    never the corpus: a partial aggregation precedes the window sort."""
    plan = _plan(spark, "pct_nchars_by_source_docs", sf_dir)
    assert "partial_count" in plan  # corpus reduces before the window
    assert "Window" in plan
    assert "EvalPython" not in plan


def test_temperature_mixture_no_collect_shape(spark, sf_dir):
    """Thresholds join back distributedly: one-row weight sum
    broadcasts, the corpus-side decision is a hash filter — no Python,
    no cartesian."""
    plan = _plan(spark, "temperature_mixture_docs", sf_dir)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan  # domain counts combine map-side


def test_vocab_coverage_topv_take_ordered(spark, sf_dir):
    plan = _plan(spark, "vocab_coverage_docs", sf_dir)
    assert "TakeOrderedAndProject" in plan  # top-V never global-sorts
    assert "partial_count" in plan
    assert "EvalPython" not in plan


def test_assoc_rules_basket_equi_join_no_cartesian(spark, sf_dir):
    plan = _plan(spark, "assoc_rules_parts", sf_dir)
    assert "CartesianProduct" not in plan  # pair gen joins on the basket key
    assert "EvalPython" not in plan
    assert "partial_count" in plan  # support counts combine map-side


def test_perplexity_bigram_lm_broadcasts(spark, sf_dir):
    """The 4096-bucket bigram LM must reach the corpus as a broadcast,
    never a corpus-side shuffle join."""
    plan = _plan(spark, "perplexity_bigram_docs", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_cosine_topk_batch_scatter_kernel_skinny_shuffle(spark, sf_dir):
    """Probes scatter to a MapInPandas corpus scan (the Arrow kernel —
    deliberate: interpreted higher-order cosines are ~7x slower, see
    cosine_topk_batch's docstring) emitting per-batch partial top-k;
    the rank shuffle carries only (probe_id, id, cosine)."""
    plan = _plan(spark, "cosine_topk_batch_embeddings", sf_dir)
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    # map-side per-group limits run BEFORE each exchange (Spark fuses
    # row_number()<=k into partial WindowGroupLimit), so at most k rows
    # per (probe, subbucket) per partition ever shuffle
    assert "WindowGroupLimit" in plan and ", Partial" in plan
    # the kernel already emits skinny rows: the exchange partitions on
    # probe_id, not on any vector column
    assert "Exchange hashpartitioning(probe_id" in plan


def test_trailing_agg_partitions_by_key(spark, sf_dir):
    """The RANGE window must partition by the key — never a
    single-partition global window."""
    plan = _plan(spark, "trailing_24h_user_value", sf_dir)
    assert "Exchange hashpartitioning(user_id" in plan
    assert "RangeFrame" in plan
    assert "EvalPython" not in plan


def test_countmin_single_bounded_shuffle_no_python(spark, sf_dir):
    """The sketch build is one map-side-combined aggregation: exactly
    one hash exchange (carrying <= depth*width rows per partition) and
    zero Python."""
    plan = _plan(spark, "countmin_sketch_users", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan
    assert "EvalPython" not in plan


def test_countmin_estimate_broadcasts_sketch(spark, sf_dir):
    """Probing never shuffles the probe side against the sketch: the
    2048-row sketch arrives by broadcast."""
    plan = _plan(spark, "countmin_estimate_users", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_pmi_topk_is_take_ordered_no_python(spark, sf_dir):
    """PMI's global top-100 must be a TakeOrdered (per-partition
    heaps), not a full sort, and the counts must partial-aggregate
    map-side."""
    plan = _plan(spark, "pmi_collocations_docs", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan
    assert "EvalPython" not in plan


def test_hll_registers_single_bounded_shuffle(spark, sf_dir):
    """HLL build is one map-side-combined max aggregation: one hash
    exchange carrying <= 2**p rows per partition, zero Python."""
    plan = _plan(spark, "hll_registers_users", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_max" in plan
    assert "EvalPython" not in plan


def test_lsh_pair_stage_parallelism_pinned(spark, sf_dir):
    """The LSH pair joins' comparator stage must keep
    spark.sql.shuffle.partitions tasks: the shuffled bytes are small so
    AQE would coalesce the exchange, but downstream cost is per-PAIR
    (quadratic in bucket size) — coalescing serializes the comparator
    pass (measured 12x degradation under contention). The explicit
    -count repartition on (_slice, _blk) pins the fan-out; this
    executes the pair stage and asserts the pinned partition count
    survives AQE."""
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for qname in ("lsh_cosine_multiprobe_pairs", "lsh_cosine_neardup_pairs"):
        df = entry.queries()[qname](spark, sf_dir)
        assert df.rdd.getNumPartitions() >= parts, qname
# Draft plan-quality tests for the round-5 operators (to append to
# tests/test_plan_quality.py once the full suite finishes).


def test_sorted_neighborhood_join_is_equi_not_cartesian(spark, sf_dir):
    from bytewax_spark.functions import linkage

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    df = linkage.sorted_neighborhood_pairs(
        cust, "c_custkey", "c_name", "c_name", 2, window=10
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmv_overlap_pair_join_broadcasts(spark, sf_dir):
    from bytewax_spark.functions import sketches as sk
    from bytewax_spark.functions import text as tx

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    keyed = docs.select("source", tx.fingerprint("text").alias("fp"))
    shards = sk.kmv_build(keyed, "fp", k=64, group_cols=["source"])
    df = sk.kmv_overlap_matrix(shards, "source", k=64)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the pair list rides a broadcast; the sketch rows never cartesian
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ohlc_aggregate_is_partial(spark, sf_dir):
    from bytewax_spark.functions import timeseries as tsf

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = tsf.ohlc_resample(
        ev, "ts", "value", "1 hour", key_cols=["event_type"], tie_col="event_id"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # open/close compile into the SAME partial aggregate as the rest —
    # no window, map-side combine before the exchange
    assert "partial_min" in plan and "partial_max" in plan
    assert "Window" not in plan


def test_moments_build_partial_agg_single_row_exchange(spark, sf_dir):
    """The moments sketch must combine map-side: partial power sums
    before the exchange, scan pruned to the value column."""
    plan = _plan(spark, "moments_sketch_value_events", sf_dir)
    assert "partial_sum" in plan and "partial_min" in plan
    assert "ReadSchema: struct<value:double>" in plan
    assert "EvalPython" not in plan


def test_nb_score_broadcasts_model(spark, sf_dir):
    """The classifier model join must broadcast (<= 2^bits rows by
    construction) — a shuffled model join would re-shuffle every token
    occurrence of a 100 TB corpus."""
    plan = _plan(spark, "nb_score_lang_docs", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_normalize_text_is_scan_rate(spark, sf_dir):
    """Normalization is a pure projection: no exchange, no Python."""
    plan = _plan(spark, "normalize_text_docs", sf_dir)
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_simhash_neighbor_pairs_no_cartesian(spark, sf_dir):
    """Pigeonhole candidates come from equality joins — a cartesian /
    nested-loop product would be the N^2 shape the design avoids."""
    plan = _plan(spark, "simhash_neighbor_pairs_docs", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dq_expression_rules_one_pass(spark, sf_dir):
    """All expression rules share one aggregation over the scan: the
    orders table appears in exactly 3 scans (expr rules + unique +
    fk), not once per rule."""
    plan = _plan(spark, "dq_report_orders", sf_dir)
    assert plan.count("Scan parquet") - plan.count("customer.parquet") == 3


def test_readability_is_scan_rate(spark, sf_dir):
    plan = _plan(spark, "readability_docs", sf_dir)
    # pure per-row expressions: no shuffle, no Python, pruned scan
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_k_anonymity_single_keyed_shuffle(spark, sf_dir):
    plan = _plan(spark, "k_anonymity_customers", sf_dir)
    # one keyed exchange (quasi-id count) + the single-row final agg
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan


def test_bloom_semijoin_probe_is_scan_side(spark, sf_dir):
    plan = _plan(spark, "bloom_semijoin_lineitem", sf_dir)
    # the bloom probe is a plan-literal filter on the fact scan: the
    # only join is the exact-confirm against the tiny member side
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan
    # fact scan reads only the join key (report needs nothing else)
    assert "ReadSchema: struct<l_orderkey:bigint>" in plan


def test_ewma_fold_stays_jvm_side(spark, sf_dir):
    plan = _plan(spark, "ewma_value_by_user", sf_dir)
    assert "EvalPython" not in plan
    # one keyed exchange for the collect_list aggregation
    assert plan.count("Exchange hashpartitioning") == 1


def test_gini_window_shares_group_partitioning(spark, sf_dir):
    plan = _plan(spark, "gini_value_by_type", sf_dir)
    # the rank window and the aggregation share ONE keyed exchange
    assert plan.count("Exchange hashpartitioning") == 1
    assert "EvalPython" not in plan


def test_pareto_window_runs_on_key_table(spark, sf_dir):
    plan = _plan(spark, "pareto_suppliers_revenue", sf_dir)
    # full-data shuffle only for the per-key sum; the single-partition
    # window exchange sits above the G-row aggregate, not the scan
    assert "partial_sum" in plan
    assert "EvalPython" not in plan


def test_vwap_single_partial_agg(spark, sf_dir):
    plan = _plan(spark, "vwap_monthly_lineitem", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan
    assert "EvalPython" not in plan


def test_feature_prop_messages_are_longs(spark, sf_dir):
    plan = _plan(spark, "feature_prop_acctbal", sf_dir)
    # the groupBy(node) sum is map-side combined; no Python anywhere
    assert "partial_sum" in plan or "partial_count" in plan
    assert "EvalPython" not in plan


def test_table_checksum_single_pass(spark, sf_dir):
    plan = _plan(spark, "table_checksum_lineitem", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "EvalPython" not in plan


def test_seasonal_index_totals_broadcast_back(spark, sf_dir):
    plan = _plan(spark, "seasonal_index_hourly", sf_dir)
    # the G-row totals broadcast back to the slot table (no re-shuffle
    # of the slot side onto the group key); the extra keyed exchanges
    # are the totals subtree recomputing its own (group, slot) agg
    assert "BroadcastExchange" in plan
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "EvalPython" not in plan


def test_image_ahash_binary_never_shuffles(spark, sf_dir):
    plan = _plan(spark, "image_ahash_docs", sf_dir)
    # the pipeline is scan -> synth -> hash: no Exchange at all; the
    # only Python is the Arrow-batched decode (ArrowEvalPython-free,
    # mapInPandas shows as MapInPandas)
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_ranking_eval_joins_rank_tables_not_corpus(spark, sf_dir):
    plan = _plan(spark, "compression_ranking_eval_embeddings", sf_dir)
    # probe scoring is the deliberate broadcast nested loop; the final
    # eval join must be broadcast/equi, and nothing sorts globally more
    # than the two bounded top-k ranks
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_stickiness_dedup_is_the_only_wide_shuffle(spark, sf_dir):
    plan = _plan(spark, "stickiness_monthly", sf_dir)
    assert "partial_count" in plan or "partial_sum" in plan
    assert "EvalPython" not in plan


def test_zipf_and_powerlaw_single_row_out(spark, sf_dir):
    for q in ("zipf_alpha_docs", "degree_powerlaw_parts"):
        plan = _plan(spark, q, sf_dir)
        assert "EvalPython" not in plan, q


def _window_partition_sizes(df):
    """(simpleName, partitionSpec size) for every window node in the
    pre-AQE physical plan, via py4j tree traversal."""
    out = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if "Window" in name:
            try:
                out.append((name, node.partitionSpec().size()))
            except Exception:  # noqa: BLE001 - node without a spec
                out.append((name, -1))
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().sparkPlan())
    return out


def test_rfm_no_unpartitioned_window_over_users(spark, sf_dir, monkeypatch):
    """r4->r6 fix, r7 scale-adaptive: above the single-task sort bound
    (`_CROSSED_BLOCK_WINDOW_MAX`) every window in the plan must be
    partitioned (prefix-sum `_pid` buckets or crossed-tie-block keys)
    and driver pulls stay bounded at <= n_tiles-1 crossed blocks/dim.
    Below the bound the per-user table is small by MEASUREMENT (the
    count feeding the branch), and rfm deliberately uses the three
    plain ntile windows instead. Force the big path to keep the scale
    claim tested regardless of fixture size."""
    from bytewax_spark.functions import behavior as bh

    monkeypatch.setattr(bh, "_CROSSED_BLOCK_WINDOW_MAX", 0)
    df = entry.queries()["rfm_segments_users"](spark, sf_dir)
    wins = _window_partition_sizes(df)
    assert wins, "expected partitioned windows in the rfm plan"
    bad = [w for w in wins if w[1] <= 0]
    assert not bad, f"unpartitioned window nodes in rfm plan: {bad}"


def test_rfm_small_input_takes_plain_ntile_windows(spark, sf_dir):
    """Below the sort bound the plan should be the compact form: three
    window nodes over the per-user aggregate, no prefix-sum buckets,
    no ntile joins — and the tile assignment is identical to the
    distributed path by the _scalable_ntile parity tests."""
    plan = _plan(spark, "rfm_segments_users", sf_dir)
    assert "SortMergeJoin" not in plan
    assert "ntile" in plan


def test_qq_is_pure_percentile_aggregate(spark, sf_dir):
    """qq_table is two array-percentile aggregations + a 1x1 join — no
    window anywhere, no Python (the exact-order-statistics caveat is
    its documented pre-bin contract)."""
    plan = _plan(spark, "qq_click_purchase_value", sf_dir)
    assert "Window" not in plan
    assert "percentile" in plan
    assert "EvalPython" not in plan


@pytest.mark.parametrize(
    "qname",
    [
        "ks_click_purchase_value",
        "pareto_suppliers_revenue",
        "heavy_hitters_users",
        "skew_report_lineitem_suppkey",
    ],
)
def test_global_window_family_runs_over_aggregated_input(spark, sf_dir, qname):
    """The cumulative/rank windows in the KS / QQ / Pareto / heavy
    hitter family are bounded by DISTINCT-VALUE or KEY cardinality by
    contract (their docstrings say "bin first at a billion distinct
    values"). Lock it in: a map-side partial aggregate must reduce the
    corpus BEFORE any window/sort, and no Python in the path."""
    plan = _plan(spark, qname, sf_dir)
    assert "Window" in plan or "TakeOrdered" in plan, qname
    assert "partial_count" in plan or "partial_sum" in plan, qname
    assert "EvalPython" not in plan, qname


def test_knn_lsh_is_bucket_kernel_no_nested_loop(spark, sf_dir):
    """The corpus-scale kNN agreement path must candidate inside LSH
    buckets — one shuffle on the bucket key feeding the per-bucket
    Arrow kernel — never a broadcast nested loop or cartesian over the
    corpus (that is the brute-force QA-sample variant's deliberate
    shape, not this one's). The kernel is a deliberate Arrow surface
    (interpreted higher-order cosines measured 7x slower producing the
    same pairs — see knn_label_agreement_lsh's docstring), so
    FlatMapGroupsInPandas is REQUIRED here, and row-at-a-time
    BatchEvalPython stays banned."""
    plan = _plan(spark, "knn_label_agreement_lsh_embeddings", sf_dir)
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_link_prediction_adjacency_wedges_no_self_join(spark, sf_dir):
    """common_neighbors shares adamic_adar's r7 two-exchange wedge
    shape: collect_set adjacency arrays (dedup in-agg, degree =
    size) + posexplode/slice emit each unordered pair once, and the
    adjacency exclusion is FOLDED into the pair aggregation via
    sentinel rows — no LeftAnti stage, no join between the middle
    table and a shuffled copy of itself."""
    plan = _plan(spark, "link_prediction_parts", sf_dir)
    assert "Generate" in plan
    assert "collect_set" in plan
    assert "LeftAnti" not in plan      # folded into the pair agg
    assert "EvalPython" not in plan


def test_adamic_adar_single_wedge_shuffle_no_self_join(spark, sf_dir):
    """r7 wedge enumeration: collect_set adjacency arrays (dedup
    in-agg — no separate distinct or degree exchanges) +
    posexplode/slice emit each unordered pair once, and the
    non-adjacency exclusion is folded into the pair aggregation as
    -2^62 sentinel rows — the plan must carry NO join between the
    middle table and a second shuffled copy of itself and NO
    LeftAnti, just the pinned repartition + collect_set + the pair
    aggregation."""
    plan = _plan(spark, "adamic_adar_parts", sf_dir)
    assert "Generate" in plan          # posexplode/slice pair emission
    assert "collect_set" in plan
    assert "LeftAnti" not in plan      # folded into the pair agg
    assert "EvalPython" not in plan
