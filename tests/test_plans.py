"""Physical-plan assertions: the optimizations we claim must be visible
in `.explain` output — pushed filters, broadcast joins, no cartesian
products in the LSH ops."""

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

import __spark_entry__ as ent

QS = ent.queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def test_watermark_filter_pushed_to_scan(spark):
    df = QS["ingest_incremental_watermark"](spark, SF_SMALL)
    plan = _optimized(df)
    assert "PushedFilters: [IsNotNull(ts), GreaterThan(ts," in plan, plan[-2000:]


def test_q1_scan_prunes_columns(spark):
    df = QS["q1_pricing_summary"](spark, SF_SMALL)
    plan = _optimized(df)
    # ReadSchema must not include unused columns like l_orderkey/l_partkey
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][-1]
    assert "l_orderkey" not in read_schema
    assert "l_quantity" in read_schema
    # shipdate filter pushed
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_q5_broadcasts_dimensions(spark):
    plan = _plan(QS["q5_local_supplier"](spark, SF_SMALL))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_lsh_ops_avoid_cartesian(spark):
    for name in ("dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_embedding_cosine"):
        plan = _plan(QS[name](spark, SF_SMALL))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_fingerprint_has_no_shuffle(spark):
    plan = _plan(QS["doc_fingerprint"](spark, SF_SMALL))
    assert "Exchange" not in plan


def test_sessionize_single_shuffle(spark):
    plan = _plan(QS["sessionize"](spark, SF_SMALL))
    # one hash partitioning on user_id, reused by both window functions
    assert plan.count("Exchange hashpartitioning") == 1


def test_q4_plans_a_semi_join(spark):
    plan = _plan(QS["q4_order_priority"](spark, SF_SMALL))
    assert "LeftSemi" in plan, plan[-2000:]
    assert "CartesianProduct" not in plan


def test_q22_prunes_orders_scan_by_date(spark):
    plan = _optimized(QS["q22_global_sales_opportunity"](spark, SF_SMALL))
    # the anti-join side must push the dormancy cutoff into the scan
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan[-3000:]


def test_ann_cosine_join_codegens(spark):
    plan = _plan(QS["ann_topk_cosine"](spark, SF_SMALL))
    # the pmod-key trick must yield a hash join, not a nested loop
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rollup_is_single_scan(spark):
    plan = _plan(QS["events_rollup_report"](spark, SF_SMALL))
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan  # rollup levels from one pass, not a union of scans


def test_time_on_page_incremental_single_batch_exchange(spark):
    """The boundary patch must ride the window's user_id partitioning:
    exactly one exchange of the big batch side (for the window), one of
    the tiny per-user head agg — and no cartesian product."""
    df = QS["time_on_page_incremental"](spark, SF_SMALL)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") <= 3, plan[:3000]


def test_ann_lsh_no_cartesian(spark):
    plan = _plan(QS["ann_lsh_topk"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # candidates via equi-join only


def test_ivf_assign_codegen_broadcast(spark):
    """Centroid assignment must be a codegen BroadcastHashJoin (pmod
    constant key), never an interpreted nested-loop cross join."""
    plan = _plan(QS["ann_ivf_topk"](spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_df_computed_by_agg_join_not_term_window(spark):
    """Document frequency must come from groupBy("term") + join (map-side
    partial agg, AQE-broadcastable/skew-splittable), never
    count().over(Window.partitionBy("term")) — a window partition on a
    Zipf-skewed term key puts ~N_docs rows in one task at 100 TB and AQE
    cannot split it (round-4 verdict finding #2). The per-doc rank window
    stays (doc_id is high-cardinality)."""
    for name in ("tfidf_top_terms", "corpus_index_pipeline"):
        plan = _optimized(QS[name](spark, SF_SMALL))
        assert "windowspecdefinition(term" not in plan, (name, plan[-2000:])


def test_tfidf_reuses_tokenize_exchange(spark):
    """The tf/df branches share one tokenize subtree: the final adaptive
    plan must contain a ReusedExchange, i.e. the corpus is scanned and
    exploded ONCE even though df aggregates over the same tf relation."""
    df = QS["tfidf_top_terms"](spark, SF_SMALL)
    df.write.mode("overwrite").format("noop").save()
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, plan


def test_ivf_seed_pick_no_global_window(spark):
    """Seed selection must be a distributed TakeOrderedAndProject —
    never a row_number over a global (single-partition) Window, which
    would funnel the ~50% training sample through one task at scale
    (round-4 verdict finding #1)."""
    from etl_jlp_spark.catalog import load_table
    from etl_jlp_spark.operators.similarity import (
        IVF_SAMPLE_HEX,
        _emb_dim,
        _ivf_seed_pick,
        _with_norm,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    samp = _with_norm(emb, _emb_dim(emb), "vec_id", "v").filter(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) < IVF_SAMPLE_HEX
    )
    plan = _plan(_ivf_seed_pick(samp))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_quality_report_dup_check_shuffles_digest_not_payload(spark):
    """The duplicate-check distinct must exchange md5(props) (32-char
    digest), never the raw props payload — ~10x fewer shuffle bytes."""
    plan = _plan(QS["quality_report"](spark, SF_SMALL))
    dup_exchanges = [
        l for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "props" in l
    ]
    assert dup_exchanges, plan[:3000]  # the dup-check exchange exists
    for line in dup_exchanges:
        assert "props_h" in line and "md5" not in line, line


def test_doc_chunk_has_no_shuffle(spark):
    # chunking is a pure array-expression projection: the only allowed
    # exchange would be a round-robin injected by widen() on a tiny
    # local scan — never a hash shuffle
    plan = _plan(QS["doc_chunk"](spark, SF_SMALL))
    assert "Exchange hashpartitioning" not in plan


def test_paragraph_dedup_two_hash_exchanges(spark):
    # one shuffle on the block digest (the dedup window), one on doc_id
    # (reassembly + left join share the partitioning)
    plan = _plan(QS["paragraph_dedup"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan[:3000]


def test_semantic_dedup_joins_within_cell_only(spark):
    plan = _plan(QS["semantic_dedup"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_training_data_pipeline_shape(spark):
    plan = _plan(QS["training_data_pipeline"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the decontamination join must broadcast the benchmark shingle side
    assert "BroadcastHashJoin" in plan


def test_retention_cohorts_plans_hash_joins_only(spark):
    plan = _plan(QS["user_retention_cohorts"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan  # user-keyed equi joins only


def test_skew_report_uses_takeordered_not_global_sort(spark):
    plan = _plan(QS["key_skew_report"](spark, SF_SMALL))
    assert "TakeOrdered" in plan  # top-N without a full sort stage
    assert "CartesianProduct" not in plan


def test_gapfill_and_psi_cross_joins_are_broadcast_scalars(spark):
    """The only nested-loop joins allowed are the broadcast 1-row
    scalar / span-bounded grid sides — never a real cartesian."""
    for name in ("timeseries_gapfill", "psi_drift_report"):
        plan = _plan(QS[name](spark, SF_SMALL))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan, name  # the data-sized join is hashed


def test_anomaly_zscore_window_runs_on_prereduced_daily(spark):
    """The z-score window must partition by event_type OVER THE DAILY
    AGG — exactly one hash exchange feeds both the groupBy and the
    window (same key), and the raw-events scan reads only ts +
    event_type."""
    df = QS["anomaly_zscore"](spark, SF_SMALL)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    read_schema = [l for l in _optimized(df).splitlines() if "ReadSchema" in l][-1]
    assert "props" not in read_schema and "user_id" not in read_schema


def test_ewma_lags_share_one_window(spark):
    """All 10 lag() terms must collapse into ONE Window operator over
    the pre-reduced daily relation, not 10 repeated window stages."""
    plan = _plan(QS["ewma_daily_revenue"](spark, SF_SMALL))
    assert plan.count("RunningWindowFunction") + plan.count("Window") <= 2, plan
    assert "CartesianProduct" not in plan


def test_dsir_lm_joins_broadcast_and_rank_is_bounded(spark):
    """Both LM sides + both stats scalars broadcast; the global rank
    window only ever sees the ≤K-row TakeOrdered result."""
    plan = _plan(QS["dsir_select"](spark, SF_SMALL))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "TakeOrdered" in plan


def test_bpe_encode_reuses_scan_and_broadcasts_vocab(spark):
    """All three corpus branches (doc-term counts, merge-pool vocab,
    encode vocab) hang off the SAME widened scan shuffle — the final
    adaptive plan must reuse it (one scan + one raw-text exchange; the
    regex explode re-runs per branch but reads the reused shuffle).
    The merge table must come from a TakeOrdered (never a vocab-wide
    sort), and the vocab-sized encode map must broadcast back onto the
    doc-term relation."""
    df = QS["bpe_encode"](spark, SF_SMALL)
    df.write.mode("overwrite").format("noop").save()
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, plan[-3000:]
    assert "TakeOrdered" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dup_span_report_reuses_gram_exchange_no_cartesian(spark):
    """The positional-gram relation feeds both the dup-gram agg and the
    coverage join off ONE widened exchange (ReusedExchange in the final
    adaptive plan); candidates come from the gram equi-join — never a
    cartesian/BNLJ; the island windows partition on doc_id only."""
    df = QS["dup_span_report"](spark, SF_SMALL)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    opt = _optimized(df)
    assert "windowspecdefinition(g" not in opt  # no window on the gram key


def test_pmi_totals_derive_from_aggregates(spark):
    """Corpus totals must come from the vocab-sized aggregates (their
    exchanges reused), not a third corpus scan; the only nested-loop
    joins are the broadcast 1-row scalar attachments; top-K is
    TakeOrdered, not a global sort."""
    df = QS["pmi_collocations"](spark, SF_SMALL)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert plan.count("ReusedExchange") >= 2, plan
    assert "CartesianProduct" not in plan
    assert "TakeOrdered" in plan


def test_lexical_diversity_two_aggs_no_join(spark):
    """One (doc,term) count + one doc-keyed agg — no joins, no
    cartesian, both aggs map-side combinable (partial_count in the
    optimized plan)."""
    plan = _plan(QS["lexical_diversity"](spark, SF_SMALL))
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan


def test_source_mix_temperature_rate_table_broadcast(spark):
    """The rate table side must broadcast onto the corpus (one
    BroadcastHashJoin on source); the scalar total attaches by a 1-row
    broadcast; no shuffle keyed on the doc side beyond the final agg."""
    plan = _plan(QS["source_mix_temperature"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_softdedup_membership_joins_are_hash_joins(spark):
    """Corpus ← cluster-membership joins must be hash equi-joins (AQE
    broadcasts the match-bounded sides), never nested-loop."""
    plan = _plan(QS["softdedup_weights"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_random_projection_zero_shuffle_codegen(spark):
    """The projection must be a pure scan+project: no Exchange, no
    Join, and the dot products expanded into a codegen'd Project
    (static_dot — `(vv[0] * s0) + ...` — not an interpreted
    higher-order aggregate)."""
    plan = _plan(QS["embedding_random_projection"](spark, SF_SMALL))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan
    assert "*(1) Project" in plan or "WholeStageCodegen" in plan, plan
    assert "aggregate(" not in plan  # no interpreted lambda in the hot path


def test_per_source_sample_filters_before_window(spark):
    """The md5-prefix pre-filter must run BELOW the rank window (the
    window sees only ~8k survivors per source), the rate table must
    broadcast, and Spark's rank-limit pushdown (WindowGroupLimit) must
    apply so even the survivor sort keeps top-k per partition only."""
    df = QS["per_source_sample_k"](spark, SF_SMALL)
    opt = _optimized(df)
    wi = opt.index("Window ")
    ji = opt.index("Join Inner")  # the filtering broadcast join
    assert ji > wi, opt[:2000]
    assert "substring(md5(" in opt[ji:], opt[ji : ji + 500]
    assert "WindowGroupLimit" in opt
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cms_counter_state_is_bounded(spark):
    """The sketch side must collapse map-side: its HashAggregate keys
    are (r, bucket) — never user_id — and the probe join against the
    ≤256-row counter relation must broadcast."""
    plan = _plan(QS["heavy_hitters_cms"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrdered" in plan  # exact top-k, no global sort


def test_referential_integrity_broadcasts_dimension_parents(spark):
    """Each FK edge is a hash join with the parent's distinct-key side
    broadcast (dimensions) — no cartesian anywhere; aggs collapse to
    one row per edge."""
    plan = _plan(QS["referential_integrity_report"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 5, plan.count("BroadcastHashJoin")


def test_cc_incremental_untouched_labels_move_by_anti_join(spark):
    """The stored-label carry-over must be a broadcast/hash anti join
    (LeftAnti), never a recompute of unaffected components."""
    plan = _plan(QS["dedup_cc_incremental"](spark, SF_SMALL))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_cc_incremental_tokenizes_batch_once(spark):
    """The probe pairs and the new↔new self-join must share ONE
    session-cached (shingles, bands) pair: batch_shingles_bands is
    memoized per (app, store key) — same DataFrame objects back — and
    the cc_incremental plan reads the batch through InMemoryTableScan,
    never a second shingle pipeline over the documents scan."""
    from etl_jlp_spark.operators.similarity import (
        batch_shingles_bands,
        ensure_minhash_store,
    )

    bands_path, _sh = ensure_minhash_store(spark, SF_SMALL)
    p1 = batch_shingles_bands(spark, SF_SMALL, bands_path)
    p2 = batch_shingles_bands(spark, SF_SMALL, bands_path)
    assert p1[0] is p2[0] and p1[1] is p2[1]
    # the probe's plan must read the batch through the cached relation
    # (InMemoryTableScan), not re-run the shingle pipeline on the scan
    # (dedup_cc_incremental's own plan can't be asserted here: at test
    # scale the ≤100k-edge adaptive path solves on the driver, so its
    # result plan is ExistingRDD — the probe IS its batch-side input)
    plan = _plan(QS["dedup_minhash_prebuilt"](spark, SF_SMALL))
    assert "InMemoryTableScan" in plan


def test_batch_memo_recaches_after_clear_cache(spark):
    """``spark.catalog.clearCache()`` drops the memoized batch frames
    from the CacheManager; the next call must cache them again, so the
    probe still reads the batch through InMemoryTableScan."""
    from etl_jlp_spark.operators.similarity import (
        batch_shingles_bands,
        ensure_minhash_store,
    )

    bands_path, _sh = ensure_minhash_store(spark, SF_SMALL)
    batch_shingles_bands(spark, SF_SMALL, bands_path)
    spark.catalog.clearCache()
    plan = _plan(QS["dedup_minhash_prebuilt"](spark, SF_SMALL))
    assert "InMemoryTableScan" in plan


def test_bigram_lm_sides_are_aggregates_not_windows(spark):
    """All three LM sides must be groupBy aggregates joined back
    term-keyed (partial agg + AQE), never count-over-window on the
    Zipf-skewed term keys; the scalar totals attach by broadcast."""
    df = QS["bigram_lm_score"](spark, SF_SMALL)
    opt = _optimized(df)
    assert "windowspecdefinition(term" not in opt
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_ab_report_is_two_agg_passes_no_window(spark):
    """The readout must be aggregation-only: no Window over users or
    events, the moment row attaches by a broadcast 1-row join, and the
    per-user relation shrinks map-side (partial aggregation)."""
    df = QS["ab_test_report"](spark, SF_SMALL)
    plan = _plan(df)
    assert "Window" not in plan, plan[:1500]
    assert "CartesianProduct" not in plan


def test_ab_report_reuses_per_user_exchange_without_persist(spark):
    """The per_user aggregate feeds BOTH the moment row and the adjusted
    readout; dedup must come from runtime exchange reuse (ReusedExchange
    in the final adaptive plan), not from a persist() that would leak
    cached blocks for the session lifetime (no InMemoryRelation)."""
    df = QS["ab_test_report"](spark, SF_SMALL)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, plan[-3000:]
    assert "InMemoryRelation" not in plan


def test_seasonal_naive_joins_prereduced_daily_only(spark):
    """Both lag joins must run on the pre-reduced daily relation —
    the raw events scan feeds exactly one aggregate, and the joins are
    hash equi-joins (AQE broadcasts the #days×#types sides)."""
    df = QS["seasonal_naive_eval"](spark, SF_SMALL)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    opt = _optimized(df)
    read_schema = [l for l in opt.splitlines() if "ReadSchema" in l]
    for line in read_schema:  # scans read only ts + event_type
        assert "props" not in line and "user_id" not in line


def test_attribution_shares_sessionize_exchange(spark):
    """Sessionize + the last-touch lookup + the channel rollup must run
    on ONE user-key exchange (the window partition keys are a prefix of
    the sessionize keys) plus one final agg exchange on the tiny channel
    dimension."""
    plan = _plan(QS["session_conversion_attribution"](spark, SF_SMALL))
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan[:3000]


def test_contamination_bench_side_is_broadcast(spark):
    plan = _plan(QS["contamination_ngram_overlap"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_er_blocking_never_materializes_pairs(spark):
    """The candidate-pair count is arithmetic over block sizes: no join
    at all may appear in the plan."""
    plan = _plan(QS["entity_resolution_blocking"](spark, SF_SMALL))
    for op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct", "ShuffledHashJoin"):
        assert op not in plan, op


def test_erasure_audit_filter_reaches_scan(spark):
    plan = _optimized(QS["gdpr_erasure_audit"](spark, SF_SMALL))
    # the md5-prefix predicate is not pushable (expression on a column),
    # but column pruning must hold: props/event payload never read
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][-1]
    assert "props" not in read_schema


def test_length_histogram_never_reads_text(spark):
    plan = _optimized(QS["docs_length_histogram"](spark, SF_SMALL))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][-1]
    assert "text" not in read_schema
    assert "n_chars" in read_schema


def test_cusum_single_pass_over_events(spark):
    """Daily reduce once; mean/std ride a 1-row broadcast; the events
    scan must appear exactly once (ReusedExchange or a single scan)."""
    plan = _plan(QS["cusum_changepoint"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" not in plan
    # stats side joins as a broadcast (1 row), never a shuffle join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_fertility_reuses_bpe_exchange(spark):
    """The word-count branch and the bpe_encode branches hang off the
    same tokenized (doc, term) shuffle — the FINAL adaptive plan must
    dedupe them (same AQE runtime-reuse contract bpe_encode pins)."""
    df = QS["tokenizer_fertility_report"](spark, SF_SMALL)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, plan[-3000:]
    assert "CartesianProduct" not in plan


def test_hll_register_state_is_bounded(spark):
    """The HLL sketch side must collapse map-side to (day, bucket)
    registers — the shuffle never carries event_id for the estimate
    branch — and the exact side joins back broadcast on the day key."""
    plan = _plan(QS["hll_distinct_daily"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_statistical_tests_are_single_row_pipelines(spark):
    """KS runs its window on the (event_type, value) pre-aggregate (tie
    collapse before the sort); MW ranks distinct metric values only.
    Neither may cartesian; KS's scalar-span side broadcasts."""
    for name in ("ks_drift_report", "mann_whitney_ab"):
        plan = _plan(QS[name](spark, SF_SMALL))
        assert "CartesianProduct" not in plan, name


def test_sequence_windows_partition_by_user(spark):
    """Transition matrix / burstiness lag windows must be keyed on
    user_id — the sort is per-user-history, never global — and the
    events scan must not read the props payload column."""
    for name in ("event_transition_matrix", "interarrival_burstiness"):
        df = QS[name](spark, SF_SMALL)
        plan = _plan(df)
        assert "CartesianProduct" not in plan, name
        read_schema = [l for l in _optimized(df).splitlines() if "ReadSchema" in l][-1]
        assert "props" not in read_schema, name


def test_pareto_and_es_sampling_plan_shapes(spark):
    """Pareto joins its ≤10⁴-row frontier grid broadcast (no pair
    join anywhere); ES sampling must be a TakeOrdered top-k, never a
    global Sort+Limit over all docs."""
    plan = _plan(QS["pareto_frontier_docs"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    plan = _plan(QS["weighted_sample_es"](spark, SF_SMALL))
    assert "TakeOrdered" in plan


def test_rfm_windows_sort_customer_aggregate_only(spark):
    """ntile windows must run over the per-customer aggregate (orders
    collapse first); the customer dim joins broadcast."""
    plan = _plan(QS["rfm_segmentation"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_assoc_rules_pair_join_is_user_keyed(spark):
    """The basket pair join must be an equi-join on user_id over the
    DISTINCT (user, type) relation — never a cartesian."""
    plan = _plan(QS["assoc_rules_events"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_ols_single_scan_pruned(spark):
    """OLS reads exactly the three lineitem columns it needs and plans
    ONE hash aggregate pair (partial+final) — the sufficient-statistic
    shape."""
    df = QS["ols_discount_elasticity"](spark, SF_SMALL)
    plan = _optimized(df)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][-1]
    assert "l_shipdate" in read_schema and "l_discount" in read_schema
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema
    phys = _plan(df)
    assert phys.count("Exchange") == 1, phys


def test_corr_matrix_single_stats_scan(spark):
    """All 6 correlations come from ONE statistics aggregate: the
    struct-array explode keeps a single lineitem scan (a 6-way UNION of
    per-pair selects measured 12 scans — projection pushdown
    specializes the aggregate per branch and defeats ReusedExchange)."""
    df = QS["lineitem_corr_matrix"](spark, SF_SMALL)
    df.collect()
    phys = _plan(df)
    assert "isFinalPlan=true" in phys
    assert phys.count("Scan parquet") <= 2, phys


def test_acf_reuses_daily_series_exchange(spark):
    """The daily aggregate subtree appears under dev/den/tot consumers;
    the final adaptive plan must dedupe it via ReusedExchange rather
    than re-scanning orders per consumer."""
    df = QS["acf_daily_revenue"](spark, SF_SMALL)
    df.collect()
    phys = _plan(df)
    assert "isFinalPlan=true" in phys
    assert phys.count("ReusedExchange") >= 3, phys


def test_copurchase_no_cartesian_and_pair_join_on_orderkey(spark):
    phys = _plan(QS["part_copurchase_lift"](spark, SF_SMALL))
    assert "CartesianProduct" not in phys
    # the pair join is an equi-join (SortMerge or Hash) on the order key
    assert "ok" in phys and ("SortMergeJoin" in phys or "ShuffledHashJoin" in phys or "BroadcastHashJoin" in phys)


def test_calendar_dim_single_scalar_scan(spark):
    """The grid derives from ONE 1-row min/max aggregate; the orders
    scan reads only o_orderdate."""
    df = QS["calendar_dim"](spark, SF_SMALL)
    plan = _optimized(df)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][-1]
    assert "o_orderdate" in read_schema and "o_custkey" not in read_schema


def test_bootstrap_join_is_equi_join(spark):
    """The draws→ranked join must be an equi-join on the rank key (the
    B×n fan-out is a projection, never a nested-loop pairing)."""
    phys = _plan(QS["bootstrap_ci_mean"](spark, SF_SMALL))
    assert "CartesianProduct" not in phys
    assert "SortMergeJoin" in phys or "ShuffledHashJoin" in phys or "BroadcastHashJoin" in phys


def test_user_entropy_single_events_exchange(spark):
    """user_event_entropy: one shuffle to (user,type) groups; the
    window runs over the grouped relation partitioned by the same key
    (no extra events-wide exchange)."""
    phys = _plan(QS["user_event_entropy"](spark, SF_SMALL))
    assert phys.count("Scan parquet") - phys.count("ReusedExchange") <= 1, phys


def _distinct_scans(plan: str, table: str | None = None) -> int:
    import re

    scans = set()
    for m in re.finditer(r"FileScan parquet \[[^\]]*\][^\n]*", plan):
        if table is None or f"{table}.parquet" in m.group(0) or table in m.group(0):
            scans.add(m.group(0)[:70])
    return len(scans)


def test_theil_sen_no_repeated_orders_scan(spark):
    """The checkpointed daily series must leave ZERO parquet scans in
    the final plan (the one orders scan happens at checkpoint build);
    without the cut each of the estimator's branches replants it."""
    df = QS["theil_sen_trend"](spark, SF_SMALL)
    df.collect()
    assert _distinct_scans(_plan(df)) == 0, _plan(df)[-2000:]


def test_spearman_single_fact_scan(spark):
    """One lineitem scan in the join chain; the 4 rank tables come from
    the checkpointed one-pass histogram, not per-column scans."""
    df = QS["spearman_corr_matrix"](spark, SF_SMALL)
    df.collect()
    assert _distinct_scans(_plan(df)) == 1, _plan(df)[-2000:]


def test_nb_langid_single_tokenize(spark):
    """All model/eval relations derive from the checkpointed tf
    relation: at most the tiny lang-only priors scan may remain."""
    df = QS["nb_langid_confusion"](spark, SF_SMALL)
    df.collect()
    plan = _plan(df)
    assert _distinct_scans(plan) <= 1, plan[-2000:]
    # and whatever scan remains must NOT re-read the text column
    import re

    for m in re.finditer(r"FileScan parquet \[[^\]]*\]", plan):
        assert "text" not in m.group(0), m.group(0)


def test_doc_similarity_broadcasts_query_side(spark):
    """The md5 query sample must reach the term join as a broadcast
    (sample × posting-list, never corpus²) and no cartesian product
    may appear."""
    df = QS["doc_similarity_tfidf_topk"](spark, SF_SMALL)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_hll_weekly_union_single_register_build(spark):
    """The weekly estimate merges the daily register relation; the
    events table is scanned once for registers and once for the exact
    side that measures the error — never a third time."""
    df = QS["hll_weekly_union"](spark, SF_SMALL)
    df.collect()
    assert _distinct_scans(_plan(df)) <= 2, _plan(df)[-2000:]


# --- round-8 batch ---------------------------------------------------------


def test_readability_single_scan_one_shuffle(spark):
    df = QS["readability_report"](spark, SF_SMALL)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    # the per-source agg is the only exchange
    assert plan.count("Exchange hashpartitioning") == 1


def test_partition_advisor_single_fact_scan(spark):
    # the per-day rollup is localCheckpoint-ed so the median branch does
    # not trigger a second fact scan
    plan = _plan(QS["partition_size_advisor"](spark, SF_SMALL))
    assert plan.count("Scan parquet") == 0
    assert plan.count("Scan ExistingRDD") >= 1
    assert "BroadcastExchange" in plan  # median joined back as a scalar


def test_value_mask_aggregates_before_union(spark):
    plan = _plan(QS["value_mask_profile"](spark, SF_SMALL))
    # one scan per profiled table, already column-pruned
    read_schemas = [l for l in _optimized(QS["value_mask_profile"](spark, SF_SMALL)).splitlines() if "ReadSchema" in l]
    for rs in read_schemas:
        # no profiled table reads more than the one (or two, for part)
        # profiled columns
        struct = rs.split("ReadSchema: struct<", 1)[1]
        assert struct.count(":") <= 2, rs


def test_kmv_sketch_no_global_sort(spark):
    # the two-level build must not plan a single global Sort of all
    # hashes: every Sort is inside a partitioned window
    plan = _plan(QS["kmv_distinct_by_type"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") <= 2  # sketch pass + exact pass


def test_pq_codebook_side_broadcast(spark):
    plan = _plan(QS["ann_pq_topk"](spark, SF_SMALL))
    # codebooks and the ADC lookup table ride broadcast joins; the code
    # table is never cross-joined against raw vectors
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_hits_type_side_broadcast(spark):
    plan = _plan(QS["hits_authorities"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ols_cv_single_scan(spark):
    df = QS["ols_cv_eval"](spark, SF_SMALL)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    rs = [l for l in _optimized(df).splitlines() if "ReadSchema" in l][-1]
    assert "l_comment" not in rs and "l_shipdate" not in rs


def test_periodogram_one_fact_pass(spark):
    # the daily rollup is localCheckpoint-ed: the serving plan reads the
    # checkpointed days-bounded RDD and must NOT re-scan the fact table
    # (the single parquet pass happens inside the checkpoint build)
    plan = _plan(QS["periodogram_daily_revenue"](spark, SF_SMALL))
    assert plan.count("Scan parquet") == 0
    assert plan.count("Scan ExistingRDD") >= 1


def test_conformal_one_fact_pass(spark):
    plan = _plan(QS["conformal_forecast_interval"](spark, SF_SMALL))
    assert plan.count("Scan parquet") == 0
    assert plan.count("Scan ExistingRDD") >= 1


def test_pr_curve_no_per_threshold_rescan(spark):
    plan = _plan(QS["quality_score_pr_curve"](spark, SF_SMALL))
    # 9 thresholds must NOT mean 9 scans of documents
    assert plan.count("Scan parquet") <= 3


def test_mix_shift_broadcasts_part_and_pushes_year_filter(spark):
    df = QS["mix_shift_decomposition"](spark, SF_SMALL)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    opt = _optimized(df)
    # year-IN filter reaches the lineitem scan (as a shipdate residual)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in opt


def test_kendall_daily_pair_join_broadcasts(spark):
    plan = _plan(QS["kendall_tau_daily"](spark, SF_SMALL))
    # the day-pair theta join must run over the broadcast daily agg,
    # never a shuffle of the orders scan; the two static scans of the
    # daily agg collapse via AQE exchange reuse at runtime
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("FileScan") <= 2


def test_target_encoding_single_fact_shuffle(spark):
    plan = _plan(QS["target_encoding_kfold"](spark, SF_SMALL))
    assert plan.count("FileScan") == 1
    # one agg shuffle on (event_type, fold) + the window's exchange on
    # event_type — nothing proportional to the fact table beyond those
    assert plan.count("Exchange hashpartitioning") <= 2


def test_js_divergence_no_cartesian(spark):
    plan = _plan(QS["js_divergence_sources"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan


def test_quantile_normalize_grid_joins_broadcast(spark):
    plan = _plan(QS["quantile_normalize_scores"](spark, SF_SMALL))
    # both the boundary build (k x cdf range join) and the final doc ->
    # grid equi-join must be broadcast-side, never a corpus shuffle
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 2
    assert "CartesianProduct" not in plan


def test_fellegi_sunter_single_customer_scan(spark):
    plan = _plan(QS["fellegi_sunter_weights"](spark, SF_SMALL))
    assert plan.count("FileScan") == 1  # stacked explode, not UNION re-scans


def test_anova_welch_single_fact_scan(spark):
    for name in ("anova_oneway_value", "welch_ttest_by_type"):
        plan = _plan(QS[name](spark, SF_SMALL))
        # stacked/conditional aggs, never a per-factor re-scan
        assert plan.count("FileScan") <= 2, name
        assert "CartesianProduct" not in plan, name


def test_reconciliation_join_is_keyed(spark):
    plan = _plan(QS["order_reconciliation_report"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert plan.count("FileScan") == 2  # lineitem once, orders once


def test_oov_curve_sorts_vocab_not_corpus(spark):
    df = QS["oov_rate_curve"](spark, SF_SMALL)
    plan = _plan(df)
    # the rank window sorts the vocab aggregate; the corpus-side explode
    # must reach it through exactly one hash aggregation
    assert plan.count("FileScan") == 1
    assert "CartesianProduct" not in plan


def test_rolling_distinct_no_day_fanout(spark):
    # the delta-segment algorithm must never range-join days × window —
    # the plan has only equi-joins, and exactly one events scan feeds
    # both the deltas and the per-day counts... (two scans allowed: the
    # ud relation is used twice without a checkpoint)
    df = QS["rolling_distinct_users_exact"](spark, SF_SMALL)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    rs = [l for l in _optimized(df).splitlines() if "ReadSchema" in l][-1]
    assert "props" not in rs and "value" not in rs


def test_ridge_single_scan_single_agg(spark):
    df = QS["ridge_regression_path"](spark, SF_SMALL)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    rs = [l for l in _optimized(df).splitlines() if "ReadSchema" in l][-1]
    assert "l_shipdate" not in rs and "l_returnflag" not in rs


def test_woe_unpivots_before_single_cell_agg(spark):
    # three features must NOT mean three scans of orders
    plan = _plan(QS["woe_iv_report"](spark, SF_SMALL))
    assert plan.count("Scan parquet") <= 3  # orders + customer + lineitem
    assert "CartesianProduct" not in plan


def test_lang_consistency_single_pass(spark):
    # block scoring and doc aggregation share ONE documents scan
    plan = _plan(QS["doc_lang_consistency"](spark, SF_SMALL))
    assert plan.count("Scan parquet") == 1


def test_span_excise_explodes_only_affected_docs(spark):
    # the token re-assembly side must be gated by a semi join
    plan = _plan(QS["dup_span_excise"](spark, SF_SMALL))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_freshness_single_scan_agg(spark):
    # trailing-window counts are conditional sums, not per-window scans
    plan = _plan(QS["data_freshness_report"](spark, SF_SMALL))
    assert plan.count("Scan parquet") <= 2  # events + the 1-row as-of scalar


def test_ivfpq_store_scan_prunes_floats(spark):
    # the persisted IVF store is scanned for (vec_id, cell) ONLY —
    # IVF-PQ's whole point is that corpus floats never load at query
    # time (pricing goes through PQ codes + the broadcast ADC table)
    df = QS["ann_ivfpq_topk"](spark, SF_SMALL)
    plan = _optimized(df)
    store_scans = [
        l for l in plan.splitlines() if "ivf_assigned" in l and "ReadSchema" in l
    ]
    assert store_scans, "expected a scan of the persisted IVF store"
    for l in store_scans:
        assert "v:array" not in l and "nrm_vec_id" not in l, l[-300:]


# --- round-7 continuation session (nonparam / sampling / index wave) ---


def test_cliffs_delta_single_fact_scan(spark):
    # the (type, cents) counts are checkpointed; every branch (baseline,
    # type list, merged domain) must read the checkpoint, not events
    plan = _plan(QS["cliffs_delta_value"](spark, SF_SMALL))
    assert "FileScan parquet" not in plan  # checkpoint feeds all branches
    assert "CartesianProduct" not in plan


def test_wasserstein_grid_windows_share_partitioning(spark):
    plan = _plan(QS["wasserstein_value_drift"](spark, SF_SMALL))
    # grid windows run on the (type, cents) agg, partitioned by type —
    # the fact table is scanned once for the agg and once for the 1-row
    # min-date scalar, never more
    assert plan.count("FileScan parquet") == 2
    assert "CartesianProduct" not in plan


def test_abc_reduces_to_part_grain_before_window(spark):
    plan = _plan(QS["abc_inventory_class"](spark, SF_SMALL))
    # exactly one fact scan; the rank window consumes the part-grain agg
    assert plan.count("FileScan parquet") == 1
    assert "Window" in plan and "HashAggregate" in plan


def test_shapley_single_fact_aggregation(spark):
    plan = _plan(QS["shapley_channel_attribution"](spark, SF_SMALL))
    # the 16-row coalition-worth relation is checkpointed: the events
    # rollup ran once at build time; nothing downstream rescans the fact
    assert "FileScan parquet" not in plan
    assert "CartesianProduct" not in plan


def test_jackknife_broadcasts_dims(spark):
    plan = _plan(QS["jackknife_mean_se"](spark, SF_SMALL))
    # the 25-row nation relation is checkpointed, so the orders scan and
    # both broadcast dim joins ran exactly once at build time
    assert "FileScan parquet" not in plan


def test_price_index_pushes_year_filter(spark):
    df = QS["price_index_report"](spark, SF_SMALL)
    # part-grain priced relation is checkpointed: the pairing self-join
    # reads the checkpoint, not a second fact scan (the shipdate filter
    # pushdown happens inside the checkpoint build, before this plan)
    assert "FileScan parquet" not in _plan(df)


def test_pps_thresholds_broadcast(spark):
    plan = _plan(QS["pps_systematic_sample"](spark, SF_SMALL))
    assert plan.count("FileScan parquet") == 1
    assert "BroadcastNestedLoopJoin" in plan  # 25-row threshold side is broadcast


def test_partial_corr_single_scan_single_agg(spark):
    plan = _plan(QS["partial_corr_matrix"](spark, SF_SMALL))
    # the 1-row r relation is checkpointed: ONE moment pass at build time
    assert "FileScan parquet" not in plan
    assert "Exchange hashpartitioning" not in plan  # only the checkpoint union remains


def test_ql_dirichlet_single_tokenize_pass(spark):
    plan = _plan(QS["ql_dirichlet_search"](spark, SF_SMALL))
    # the pivot trick: dl and every per-term tf come from one explode per
    # pass; like bm25_search, the 1-row corpus-stats branch is the second
    # (accepted: an index-time statistic at production scale)
    assert plan.count("Generate explode") <= 2
    assert "TakeOrderedAndProject" in plan  # top-k is TakeOrdered, not a global sort
