"""Physical-plan assertions — the 100 TB design contract.

These tests pin the *plan shapes* that make the engine viable at scale:
filters reach the parquet scan, small dims broadcast, the nearest-centroid
UDF path shuffles nothing, and scans prune to the referenced columns.
A regression here is a performance bug even when results stay correct.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as m
from vector_search_optimization_spark.operators import nearest_centroid as NC
from vector_search_optimization_spark.operators import vector_agg as VA
from vector_search_optimization_spark.session import release_caches
from vector_search_optimization_spark.sources import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filters_push_to_scan(spark, sf_small):
    plan = _plan(m.queries()["p_filters"](spark, sf_small))
    assert "PushedFilters: [" in plan
    assert "o_totalprice" in plan.split("PushedFilters")[1][:400]


def test_scan_prunes_columns(spark, sf_small):
    li = load_table(spark, sf_small, "lineitem")
    two_cols = li.select("l_orderkey", "l_quantity")
    plan = _plan(two_cols)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema  # untouched column pruned


def test_dim_joins_broadcast(spark, sf_small):
    plan = _plan(m.queries()["j5_lookup_chain"](spark, sf_small))
    assert plan.count("BroadcastHashJoin") >= 2  # nation AND region
    assert "SortMergeJoin" not in plan


def test_nearest_centroid_udf_path_no_shuffle(spark, sf_small):
    e = load_table(spark, sf_small, "embeddings")
    cents = VA.group_vector_mean(e, "label", "embedding").withColumnRenamed(
        "label", "cluster_label"
    )
    assigned = NC.nearest_centroid(e, cents, vector_col="embedding")
    plan = _plan(assigned)
    # map-only: the fact table streams through mapInPandas, no Exchange
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_q1_partial_aggregation(spark, sf_small):
    plan = _plan(m.queries()["q1_pricing_summary"](spark, sf_small))
    # partial + final HashAggregate pair around one shuffle
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan  # map-side combine before the exchange


def test_upsert_broadcasts_updates(spark, sf_small):
    plan = _plan(m.queries()["s11_upsert"](spark, sf_small))
    assert "BroadcastHashJoin" in plan


def test_decontaminate_benchmark_set_broadcasts(spark, sf_small):
    """The benchmark fingerprint side of the overlap semi-join must
    broadcast — shuffling the exploded training fingerprints on g would
    be the 100 TB bottleneck."""
    plan = _plan(m.queries()["decontaminate_overlap"](spark, sf_small))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_split_assign_is_single_agg_shuffle(spark, sf_small):
    """The split column is a pure projection: exactly one exchange (the
    groupBy) and no join in the plan."""
    plan = _plan(m.queries()["split_assign"](spark, sf_small))
    assert "Join" not in plan
    # one partial+final agg pair around a single shuffle
    assert plan.count("HashAggregate") >= 2


def test_asof_join_is_windowed_not_joined(spark, sf_small):
    """The as-of join must compile to union + window carry-forward —
    ZERO join operators in the final plan (the whole point of the
    pattern: one user_id shuffle, no per-pair range probe)."""
    plan = _plan(m.queries()["evt_asof_join"](spark, sf_small))
    assert "Join" not in plan
    assert "Window" in plan


def test_range_join_is_bucketed_equi_join(spark, sf_small):
    """The banded range join must plan as a hash equi-join on
    (user_id, bucket) — an inequality-only join would go
    BroadcastNestedLoop/Cartesian and die at scale."""
    plan = _plan(m.queries()["evt_range_join"](spark, sf_small))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# Queries ALLOWED a nested-loop/cartesian: each is a deliberate
# broadcast of a bounded small side, not a corpus×corpus blowup.
_NESTED_LOOP_OK = {
    "j9_distance_matrix",   # reference's all-pairs matrix over a bounded set
    "ann_topk_batch",       # 5-row query table broadcast against the corpus
    "hybrid_search_rrf",    # 1-row corpus-stats frame broadcast for idf
    "lm_quality_scores",    # 1-row (N, V) model-totals frame broadcast
    "tfidf_keywords",       # 1-row corpus-size frame broadcast for idf
    "curation_pipeline",    # 1-row median-threshold frame broadcast
    "evt_psi_drift",        # 1-row reference-range frame broadcast
    "ann_recall_audit",     # 5-row query table broadcast (exact side
                            # reuses ann_topk_batch's crossJoin pattern)
    "evt_sketch_audit",     # 1-row agg frames joined + 1-row sketch-p50
                            # frame broadcast back for the rank gate
    "evt_gap_fill",         # 1-row bounds frame broadcast to the spine
    "source_mixture_weights",  # 1-row totals frame broadcast to 20 sources
    "mixture_sample_apply",    # same 1-row totals broadcast (reuses
                               # sampling.mixture_weights for its rates)
    "corpus_heavy_hitters",    # 1-row total-count frame broadcast to the
                               # bounded verified-candidate set
    "evt_ks_drift",            # 1-row global-median frame broadcast to
                               # tag the early/late cohorts
    "evt_ab_bootstrap",        # 1-row point-stats × 1-row CI frame join
    "g5_triangle_count",       # 1-row max-weight frame broadcast for the
                               # relative edge-sparsification threshold
    "mmr_diverse_topk",        # k×k (≤10×10) selected-set pair join for
                               # the engine-side max-prior-sim recompute
    "customer_rfm_segments",   # 1-row quartile-cutoff frame broadcast
                               # onto the per-customer RFM aggregate
    "nb_lang_confusion",       # 5-row class-constants frame (and its
                               # 1-row vocab-size input) broadcast onto
                               # the doc spine — bounded by |classes|
    "orders_benford_audit",    # 1-row total-count frame broadcast onto
                               # the literal 9-digit universe
    "vocab_growth_heaps",      # 1-row (min, max) bounds frame broadcast
                               # for decile bucketing
    "doc_bigram_lm",           # 1-row (N, V) model-totals frame
                               # broadcast (the lm_quality pattern)
    "split_leakage_audit",     # 1-row totals frame broadcast onto the
                               # literal 6-row split-pair universe
    "customer_pareto_lorenz",  # 5-row quantile×1-row-totals frame
                               # broadcast range-joined onto the
                               # lattice-bounded revenue grid
    "source_quantile_divergence",  # 1-row corpus-quantile frame
                                   # broadcast onto the |sources|×5
                                   # per-source quantile frame
    "text_word_burstiness",    # 1-row doc-count frame broadcast onto
                               # the top-100 word frame for the
                               # Poisson df baseline
    "corpus_zipf_slope",       # 1-row corpus-totals frame broadcast
                               # onto the 1-row OLS-stats frame
    "evt_lag_correlation",     # 4-row lag frame broadcast onto the
                               # calendar-bounded daily series
    "orders_chain_ladder",     # 1-row last-calendar-month frame
                               # broadcast onto the cohort list for
                               # the run-off grid bounds
    "evt_type_trend_ols",      # 1-row global-min-day frame broadcast
                               # onto the daily series
    "doc_lang_source_chi2",    # |langs|×|sources| literal-dimension
                               # universe + 1-row totals broadcasts
    "label_centroid_cosine",   # 1-row global-centroid frame broadcast
                               # onto the |labels| centroid frame
    "evt_type_affinity",       # 1-row user-count frame broadcast onto
                               # the |types|² pair frame
    "customer_order_survival",  # 1-row max-date frame broadcast onto
                               # the spell frame; 1-row totals frame
                               # broadcast onto the week grid
    "evt_proportion_ztest",    # 1-row cohort-A × 1-row cohort-B
                               # count-frame join
    "conformal_interval_audit",  # 1-row calibration-τ frame broadcast
                                 # into the test-split aggregate
    "g6_clustering_coeff",     # 1-row max-weight frame broadcast for
                               # the relative edge-sparsification
                               # threshold (the g5 pattern)
    "evt_welch_ttest",         # |types|-row per-type-stats frame
                               # broadcast pair join (t1 < t2)
    "doc_source_mi",           # 1-row corpus-total + 1-row MI-sum
                               # frame broadcasts onto the cell frame
    "nation_theil_decomposition",  # 1-row totals frame broadcast onto
                                   # the |nations| aggregate
    "g9_assortativity",        # 1-row global-moments frame broadcast
                               # onto the per-degree knn profile
    "doc_js_divergence",       # 1-row corpus-total frame broadcast
                               # onto the per-source-word frame
    "evt_histogram_quantile_audit",  # 1-row min/max/n broadcast + 5-row
                                     # quantile probe range-joined onto
                                     # the bounded cum frames
    "g11_component_profile",   # 1-row component-totals frame broadcast
                               # onto the size histogram
    "emb_loo_knn_accuracy",    # ≤limit: broadcast GEMM kernel; above:
                               # per-IVF-cell applyInPandas (r10). The
                               # corpus² pair join survives only as the
                               # _loo_knn_pair_join pytest oracle twin
    "evt_dau_mau_stickiness",  # 1-row calendar-span frame broadcast
                               # onto the per-day timeline
    "evt_power_sample_size",   # |types|-row per-type-stats frame
                               # broadcast pair join (the welch shape)
    "source_neyman_allocation",  # 1-row allocation-total frame
                                 # broadcast onto |sources| strata
    "evt_funnel_conversion",   # 1-row all-users denominator frame
                               # broadcast onto the 3-row step union
    "evt_granger_lag1",        # 1-row global-calendar-span frame
                               # broadcast to build the type×day grid
    "customer_segment_migration",  # 1-row span + two 1-row quartile-
                                   # cut frames broadcast onto the
                                   # per-customer spend aggregates
    "lineitem_abc_xyz",        # 1-row month-count + 1-row revenue-
                               # total frames broadcast onto the
                               # per-part aggregate
    "source_stylometry_delta",  # |sources|×30 marker grid build —
                                # the top-30 frame broadcast-crossed
                                # onto the 20-source dimension
    "evt_session_paths",       # 1-row total-sessions frame broadcast
                               # onto the TakeOrdered-20 path list
    "evt_type_emd",            # |types|-row (5) group frame broadcast-
                               # crossed onto the domain-bounded support
                               # grid (operators/distribution.py
                               # densification — constant-size at any
                               # corpus volume)
    "doc_length_ks_drift",     # |sources|-row (20) frame broadcast-
                               # crossed onto the length-domain-bounded
                               # support grid + 1-row corpus-total
                               # broadcast (same densification posture)
    "basket_brand_rules",      # 1-row basket-total frame broadcast onto
                               # the brand-pair frame for support/lift
    "dedup_exact_stats",       # 1-row survivor-total frame broadcast
                               # onto the 1-row stats aggregate
}


def test_no_unplanned_cartesian_in_any_registered_query(spark, sf_small):
    """Global plan hygiene: no registered query may plan a cartesian or
    nested-loop join unless it is on the documented whitelist of
    bounded-small-side broadcasts. A new offender here is a 100 TB
    scale bug even if its results are correct."""
    offenders = {}
    for name, fn in m.queries().items():
        plan = _plan(fn(spark, sf_small))
        hits = [
            kind
            for kind in ("CartesianProduct", "BroadcastNestedLoopJoin")
            if kind in plan
        ]
        if hits and name not in _NESTED_LOOP_OK:
            offenders[name] = hits
    assert not offenders, offenders


def test_dbscan_eps_join_has_no_cartesian(spark, sf_small):
    from vector_search_optimization_spark.operators import dbscan as DB

    e = load_table(spark, sf_small, "embeddings")
    plan = _plan(DB.eps_neighbor_pairs(e, eps=1.1))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan or "MapInPandas" in plan


def test_jaccard_prefix_join_is_equi_join_with_broadcast_verify(spark, sf_small):
    """The AllPairs candidate stage must plan as an EQUI-join on the
    shingle hash (a nested-loop/cartesian there is the scale bug prefix
    filtering exists to avoid), and the verification stage must restrict
    the corpus via a broadcast left-semi on the bounded candidate ids."""
    plan = _plan(m.queries()["ngram_jaccard_dedup"](spark, sf_small))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_doc_chunking_is_map_only(spark, sf_small):
    """Chunking is projection + generator only — ZERO Exchange in the
    plan. A shuffle here would be charged on every byte of a 100 TB
    ingest."""
    plan = _plan(m.queries()["doc_chunking"](spark, sf_small))
    assert "Exchange" not in plan
    assert "Generate" in plan  # the posexplode


def test_rollup_is_single_pass_expand(spark, sf_small):
    """The three report granularities must compile to ONE Expand + one
    partial/final aggregate pair — not three scans/jobs."""
    plan = _plan(m.queries()["evt_rollup"](spark, sf_small))
    assert "Expand" in plan
    assert plan.count("Scan") == 1
    assert plan.count("HashAggregate") >= 2  # partial + final around one shuffle


def test_pii_redaction_is_map_only(spark, sf_small):
    """PII scrub is a pure projection: the only Exchange allowed is the
    presentation orderBy (range partitioning), never a hash shuffle or
    join — at 100 TB the scrub runs in the scan stage."""
    plan = _plan(m.queries()["pii_redaction"](spark, sf_small))
    assert "Join" not in plan
    assert "hashpartitioning" not in plan


def test_fraction_sample_filters_before_agg(spark, sf_small):
    """Hash-threshold sampling is a scan-stage Filter + one combinable
    agg shuffle — no window, no join."""
    plan = _plan(m.queries()["fraction_sample"](spark, sf_small))
    assert "Join" not in plan and "Window" not in plan
    assert "Filter" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_stratified_sample_single_window_with_group_limit(spark, sf_small):
    """Fixed-n stratified sampling is ONE window shuffle; Spark's
    WindowGroupLimit keeps <= n rows per stratum map-side before the
    exchange, so a hot stratum never materializes fully."""
    plan = _plan(m.queries()["stratified_sample"](spark, sf_small))
    assert "Join" not in plan
    assert plan.count("hashpartitioning") == 1
    assert "WindowGroupLimit" in plan


def test_lm_quality_vocab_join_broadcasts(spark, sf_small):
    """The unigram scoring join must broadcast the vocabulary (and the
    1-row totals) — shuffling the exploded corpus tokens on word would
    be the 100 TB bottleneck."""
    plan = _plan(m.queries()["lm_quality_scores"](spark, sf_small))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_orc_partitioned_writes_prune_at_scan(spark, sf_small, tmp_path):
    """ORC must get the same partition-pruning lever as parquet: a
    partitionBy(lang) layout probed with a lang filter shows the
    predicate as a PartitionFilter (directories skipped), not a row
    filter over a full scan."""
    from vector_search_optimization_spark.sources.writers import write_orc

    docs = load_table(spark, sf_small, "documents")
    path = str(tmp_path / "docs_orc")
    write_orc(docs, path, partition_by=["lang"])
    back = spark.read.orc(path).where("lang = 'en'").select("doc_id")
    plan = _plan(back)
    # assert the CONTENT of the PartitionFilters bracket: a flat layout
    # would still print 'PartitionFilters: []' with the lang predicate in
    # the adjacent PushedFilters, which a loose substring check misses
    inside = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "lang" in inside, f"no partition filter on lang: [{inside}]"
    assert back.count() == docs.where("lang = 'en'").count()


def test_text_repetition_is_map_only(spark, sf_small):
    """The repetition metrics run as ONE Arrow kernel pass — zero
    Exchange (the r3 explode + two-groupBy formulation survives only as
    the equivalence oracle). A shuffle here is charged on every
    document of a 100 TB corpus."""
    plan = _plan(m.queries()["text_repetition"](spark, sf_small))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan  # the gram-stats kernel


def test_gopher_repetition_is_map_only(spark, sf_small):
    plan = _plan(m.queries()["text_gopher_repetition"](spark, sf_small))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_line_repetition_is_map_only(spark, sf_small):
    """The Gopher line/paragraph dup metrics run as ONE Arrow kernel
    pass — zero Exchange (the explode-split declarative formulation
    survives only as the equivalence oracle)."""
    plan = _plan(m.queries()["text_line_repetition"](spark, sf_small))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_semantic_dedup_pairs_stay_intra_cell(spark, sf_small):
    """SemDeDup's pair stage must be the per-cell GEMM kernel
    (FlatMapGroupsInPandas grouped on the cell key) — never a corpus
    cross join; the assignment stage is broadcast-argmin (MapInPandas),
    so the only Exchange keys are the cell and the final agg."""
    plan = _plan(m.queries()["semantic_dedup"](spark, sf_small))
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_decontamination_prefilter_is_map_side(spark, sf_small):
    """The Bloom probe must run as an Arrow-batched filter ON THE SCAN
    side (before the exact verify join) — that placement is the whole
    point: only FPR-bounded survivors reach the join."""
    plan = _plan(m.queries()["decontaminate_bloom"](spark, sf_small))
    assert "ArrowEvalPython" in plan
    assert "CartesianProduct" not in plan


def test_weighted_sample_is_take_ordered(spark, sf_small):
    """A-ES sampling must be projection + TakeOrdered (n·partitions rows
    shuffle), never a global Sort of the corpus."""
    plan = _plan(m.queries()["weighted_sample"](spark, sf_small))
    assert "TakeOrderedAndProject" in plan


def test_matryoshka_stages_are_take_ordered(spark, sf_small):
    """Both MRL stages (prefix shortlist, full re-rank) must be
    TakeOrdered — no global sort at either stage."""
    plan = _plan(m.queries()["ann_matryoshka_topk"](spark, sf_small))
    assert plan.count("TakeOrderedAndProject") >= 2


def test_q4_exists_decorrelates_to_semi_join(spark, sf_small):
    """The correlated EXISTS (non-equi date correlation) must decorrelate
    into ONE left-semi join on l_orderkey — no nested-loop re-execution
    of the subquery, no cartesian."""
    plan = _plan(m.queries()["q4_order_priority"](spark, sf_small))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the quarter filter reaches the orders scan
    assert "PushedFilters: [" in plan


def test_q18_in_having_decorrelates_to_semi_join(spark, sf_small):
    """IN over a grouped-HAVING subquery must become an aggregate feeding a
    left-semi join, and the final top-k must be TakeOrdered — no global
    sort of the joined fact."""
    plan = _plan(m.queries()["q18_large_orders"](spark, sf_small))
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q10_dims_broadcast(spark, sf_small):
    """Customer and nation are broadcast onto the filtered fact-fact join;
    the top-20 is TakeOrdered."""
    plan = _plan(m.queries()["q10_returned_items"](spark, sf_small))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan


def test_q17_scalar_subquery_decorrelates_to_single_agg(spark, sf_small):
    """The correlated scalar subquery must become ONE per-part aggregate
    (map-side partial on l_quantity) joined back on the l_partkey equi
    key — never a per-row re-scan, never a cartesian. The stats-side
    join STRATEGY is deliberately left to Catalyst's size estimate:
    at test scale the tiny aggregate broadcasts (optimal); at 100 TB it
    exceeds the broadcast threshold and falls back to a shuffle join on
    l_partkey — both are equi-joins on the same key."""
    plan = _plan(m.queries()["q17_small_qty_revenue"](spark, sf_small))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_sum" in plan  # decorrelated agg, map-side combine
    # exactly two lineitem scans: probe side + stats side (no N-times re-scan)
    assert plan.count("lineitem.parquet") == 2


def test_q6_filters_reach_the_scan(spark, sf_small):
    """Q6 is the scan-path canary: the date window and quantity cap must
    appear in PushedFilters, the scan must read only the 4 referenced
    columns, and the whole query is one combinable aggregate — a single
    Exchange, no join."""
    plan = _plan(m.queries()["q6_forecast_revenue"](spark, sf_small))
    assert "PushedFilters: [IsNotNull" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    # column pruning: the scan schema carries only the 4 used columns
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln][0]
    assert "l_tax" not in scan and "l_returnflag" not in scan


def test_q16_not_in_becomes_anti_join(spark, sf_small):
    """NOT IN (subquery) over a non-null key must plan as ONE anti join
    (null-aware, broadcast at this scale) — never a per-row subquery;
    the distinct count runs as the standard two-level Expand aggregate."""
    plan = _plan(m.queries()["q16_supplier_variety"](spark, sf_small))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    # part predicates prune the part scan before its broadcast
    assert "PushedFilters: [IsNotNull(p_brand)" in plan or "Brand#3" in plan


def test_q21_exists_pair_decorrelates_to_semi_plus_anti(spark, sf_small):
    """The EXISTS / NOT EXISTS pair must decorrelate into one LEFT SEMI
    and one LEFT ANTI join on l_orderkey — the classic Q21 shape; a
    failure here re-executes a subquery per outer row and dies at
    100 TB."""
    plan = _plan(m.queries()["q21_waiting_suppliers"](spark, sf_small))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q22_anti_join_and_scalar_subqueries(spark, sf_small):
    """NOT EXISTS must become a LEFT ANTI join on c_custkey with the date
    cutoff pushed to the orders scan; the above-average gate runs as
    scalar subqueries (separate tiny jobs), not a joined cartesian."""
    plan = _plan(m.queries()["q22_idle_balance"](spark, sf_small))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bitmap_rollup_scans_events_once(spark, sf_small):
    """The bitmap pre-agg is persisted and BOTH rollup branches (daily
    sums, weekly merges) must read the cache — at 100 TB this is the
    difference between one pass over raw events and two. The plan shows
    exactly one events FileScan (inside the cached pre-agg) plus
    InMemoryTableScans for the branches."""
    df = m.queries()["evt_bitmap_rollup"](spark, sf_small)
    try:
        plan = _plan(df)
        # both branches read the persisted pre-agg (each InMemoryTableScan
        # re-prints the cached relation's lineage, so counting raw
        # events.parquet occurrences would double-count the same scan)
        assert plan.count("InMemoryTableScan") >= 2
        # no events scan OUTSIDE a cached-relation block: strip the
        # InMemoryRelation sections and the FileScan must vanish
        outside = plan.split("InMemoryRelation")[0]
        assert "events.parquet" not in outside
    finally:
        release_caches(df)


def test_nb_confusion_scoring_is_equi_join(spark, sf_small):
    """NB scoring must reach the executor as hash equi-joins on the word
    (plus the whitelisted bounded class-consts broadcast) — a per-row
    rescan or cartesian on the vocab join would be quadratic in corpus
    × vocab."""
    plan = _plan(m.queries()["nb_lang_confusion"](spark, sf_small))
    assert "CartesianProduct" not in plan
    # the (doc, word) x (class, word) join is an equi join
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_markov_single_user_shuffle(spark, sf_small):
    """The lead window must ride ONE hashpartitioning(user_id) exchange;
    the pair count and row-total window operate on the tiny matrix
    frame."""
    plan = _plan(m.queries()["evt_markov_transitions"](spark, sf_small))
    assert plan.count("hashpartitioning(user_id") == 1
    assert "CartesianProduct" not in plan


def test_q2_correlated_min_decorrelates(spark, sf_small):
    """Q2's correlated MIN (re-joining supplier/nation/region under the
    correlation) must become ONE per-part aggregate joined back on the
    exact-integer (p_partkey, supplycost) key — exactly two lineitem
    scans (outer ps build + subquery side), no nested loop."""
    plan = _plan(m.queries()["q2_min_cost_supplier"](spark, sf_small))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_min" in plan
    assert plan.count("lineitem.parquet") == 2


def test_q20_nested_in_flattens_to_semi_chain(spark, sf_small):
    """Q20's doubly-nested IN (+ correlated scalar agg) must flatten into
    a semi-join chain — a per-row re-execution of the inner scalar is
    quadratic in (parts × suppliers)."""
    plan = _plan(m.queries()["q20_surplus_suppliers"](spark, sf_small))
    assert plan.count("LeftSemi") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lateral_topk_decorrelates_to_window(spark, sf_small):
    """The correlated LATERAL (ORDER BY … LIMIT 2 per outer row) must
    decorrelate into ONE rank window + an equi join — executing the
    subquery per customer is |customers| query re-runs at scale."""
    plan = _plan(m.queries()["j13_lateral_topk"](spark, sf_small))
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q8_fact_join_shuffles_dims_broadcast(spark, sf_small):
    """Q8's eight-table join must keep exactly one fact-fact shuffle join
    (lineitem⋈orders); part/customer/supplier/nation×2/region all
    broadcast."""
    plan = _plan(m.queries()["q8_market_share"](spark, sf_small))
    assert plan.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_r7_analytics_fact_pass_pushdown(spark, sf_small):
    """The r7 grid/daily analytics all gate on value IS NOT NULL — that
    filter must reach the events parquet scan, and the fact-side
    aggregate must be a partial+final pair (map-side combine) so the
    shuffle carries grid/daily cells, not events."""
    for q in (
        "evt_value_auc",
        "evt_dow_seasonality",
        "evt_type_trend_ols",
        "evt_lag_correlation",
        "evt_ewma_daily",
    ):
        plan = _plan(m.queries()[q](spark, sf_small))
        assert "PushedFilters: [IsNotNull(value)" in plan, q
        assert plan.count("HashAggregate") >= 2, q
        assert "partial_" in plan, q


def test_lorenz_scan_prunes_to_two_columns(spark, sf_small):
    """customer_pareto_lorenz needs only (o_custkey, o_totalprice) —
    the orders scan must prune to exactly those."""
    plan = _plan(m.queries()["customer_pareto_lorenz"](spark, sf_small))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_custkey" in read_schema and "o_totalprice" in read_schema
    assert "o_orderdate" not in read_schema
    assert "o_orderpriority" not in read_schema


def test_centroid_cosine_no_sort_merge(spark, sf_small):
    """label_centroid_cosine's only join is the 1-row global-centroid
    broadcast — a SortMergeJoin would mean the broadcast regressed."""
    plan = _plan(m.queries()["label_centroid_cosine"](spark, sf_small))
    assert "SortMergeJoin" not in plan


def test_funnel_steps_are_equi_joins_no_fact_window(spark, sf_small):
    """evt_funnel_conversion: every step must be an equi-join + min
    agg keyed on user_id — no SortMergeJoin-free requirement (user
    joins may SMJ at scale) but absolutely NO window over the fact
    table (the 3-row step frame's lag window is fine) and no
    cartesian anywhere."""
    plan = _plan(m.queries()["evt_funnel_conversion"](spark, sf_small))
    assert "CartesianProduct" not in plan
    # the only Window in the plan runs AFTER the 3-row union (its
    # child contains the Union of the three 1-row aggregates)
    assert plan.count("Window") <= 1


def test_cohort_ltv_sizes_broadcast(spark, sf_small):
    """orders_cohort_ltv: the cohort-size dimension joins broadcast
    onto the curve frame — a shuffle there would key on the tiny
    cohort id for no reason."""
    plan = _plan(m.queries()["orders_cohort_ltv"](spark, sf_small))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_stylometry_grid_joins_broadcast(spark, sf_small):
    """source_stylometry_delta: the top-30 marker list and the
    per-word moment stats broadcast onto the |sources|x30 grid."""
    plan = _plan(m.queries()["source_stylometry_delta"](spark, sf_small))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan


def test_pot_threshold_pick_is_broadcast(spark, sf_small):
    """evt_peak_over_threshold: the per-type threshold row broadcasts
    back onto the dense grid (never a shuffle keyed on 5 rows)."""
    plan = _plan(m.queries()["evt_peak_over_threshold"](spark, sf_small))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_sax_motifs_topk_is_window_group_limit(spark, sf_small):
    """evt_sax_motifs: the top-3-per-type rank filter must plan as a
    WindowGroupLimit (per-partition limit before the full sort), and
    the motif build is window+agg only — no joins at all."""
    plan = _plan(m.queries()["evt_sax_motifs"](spark, sf_small))
    assert "WindowGroupLimit" in plan
    assert "Join" not in plan


def test_friedman_k_and_moment_attach_broadcast(spark, sf_small):
    """evt_friedman_test: the 1-row k frame and the 1-row cross-type
    moment frame both attach via BroadcastHashJoin — a sort-merge on a
    1-row side would shuffle the day grid for nothing."""
    plan = _plan(m.queries()["evt_friedman_test"](spark, sf_small))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_emd_pair_join_keeps_partial_aggregation(spark, sf_small):
    """evt_type_emd: the per-pair EMD sum must map-side combine
    (partial_sum before the exchange) — the |pairs|×|grid| frame never
    shuffles unaggregated at scale."""
    plan = _plan(m.queries()["evt_type_emd"](spark, sf_small))
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2


def test_hill_tail_threshold_broadcasts(spark, sf_small):
    """evt_hill_tail_index: per-type counts and the single threshold
    row broadcast back onto the ranked frame (the POT discipline)."""
    plan = _plan(m.queries()["evt_hill_tail_index"](spark, sf_small))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_rqa_pair_join_is_equi_on_type(spark, sf_small):
    """evt_rqa_determinism: the day-pair build must be an equi-join on
    event_type (calendar²-bounded per type), never a cartesian across
    types."""
    plan = _plan(m.queries()["evt_rqa_determinism"](spark, sf_small))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mattr_is_single_fact_pass_no_joins(spark, sf_small):
    """doc_mattr_diversity: the first-occurrence identity needs ONE
    tokenization pass + one lag window — any join would mean the
    O(n·W) formulation snuck back in."""
    plan = _plan(m.queries()["doc_mattr_diversity"](spark, sf_small))
    assert "Join" not in plan
    assert "Generate" in plan  # the posexplode pass


def test_loo_knn_cell_route_no_cartesian(spark):
    """The beyond-limit LOO route must never plan a cartesian: cell
    assignment is a broadcast argmin and the per-cell GEMM is an
    applyInPandas over one shuffle on cell id."""
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    plan = _plan(m._loo_knn_ivf_cells(spark, emb, emb.count()))
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_skew_salted_join_runs_on_salted_keys(spark, sf_small):
    """skew_salted_join: the small side must replicate via explode and
    the join keys must include the salt — the hot-key spread is the
    whole point (the oracle's plain join proves semantics)."""
    plan = _plan(m.queries()["skew_salted_join"](spark, sf_small))
    assert "explode" in plan.lower()
    assert "_salt" in plan


def test_tail_dependence_attaches_broadcast_no_cartesian(spark, sf_small):
    """evt_tail_dependence: the pair frame is day-keyed equi-join only;
    the n and threshold attaches are |types|²-row broadcasts."""
    plan = _plan(m.queries()["evt_tail_dependence"](spark, sf_small))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_price_index_base_basket_broadcasts(spark, sf_small):
    """part_price_index: the base-month basket is a |parts|-row frame
    — it must broadcast onto the (part, month) rollup, never shuffle
    the rollup side."""
    plan = _plan(m.queries()["part_price_index"](spark, sf_small))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_containment_topk_is_take_ordered(spark, sf_small):
    """doc_shingle_containment: the GLOBAL top-20 must push the limit
    under the rank window (LimitPushDownThroughWindow →
    TakeOrderedAndProject — the global-window sibling of the
    partitioned WindowGroupLimit), and the size attaches broadcast;
    the only shuffling join is the inverted-index equi-join."""
    plan = _plan(m.queries()["doc_shingle_containment"](spark, sf_small))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_adamic_adar_topk_and_anti_join(spark, sf_small):
    """g13_adamic_adar: candidates leave through a limit-pushed global
    top-20 (TakeOrderedAndProject) and existing edges are removed by a
    (left) anti join — never a post-collect filter."""
    plan = _plan(m.queries()["g13_adamic_adar"](spark, sf_small))
    assert "TakeOrderedAndProject" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_weibull_moments_keep_partial_aggregation(spark, sf_small):
    """lineitem_weibull_delay: the OLS moment agg over the ranked frame
    must keep map-side partial aggregation (combinable sums), and the
    only join is the orderkey equi-join."""
    plan = _plan(m.queries()["lineitem_weibull_delay"](spark, sf_small))
    assert "partial_" in plan  # map-side partial agg of the moments
    assert "CartesianProduct" not in plan
