"""Physical-plan shape invariants — the scale contracts the docstrings
claim, asserted against explain() output so a regression (a forced
broadcast of an unbounded table, a cartesian product sneaking into a dedup
path, a shuffle appearing in a pure projection) fails CI instead of OOMing
a cluster later.

These check STRUCTURE, not timing: plan text at sf0.001 has the same
operator skeleton as at 100 TB for these queries (AQE may rewrite exchanges
at runtime, but a static CartesianProduct or a hint-forced BroadcastExchange
is visible statically).
"""

from __future__ import annotations

import pytest

from sri_spark.plans import all_queries
from tests.advisor import unbounded_nested_loops


def _plan(spark, sf_dir, name: str) -> str:
    df = all_queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


NO_CARTESIAN = [
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "similarity_lsh_near_pairs",
    "text_sparse_cosine_pairs",
    "join_asof_attribution",
    "join_range_price_bands",
    "join_point_in_time",
]


@pytest.mark.parametrize("name", NO_CARTESIAN)
def test_no_cartesian_or_nested_loop(spark, sf_dir, name):
    """Every pair-generating operator must candidate-join on a key — an
    all-pairs CartesianProduct or nested-loop join is the plan that dies at
    scale (the as-of/range/PIT operators exist precisely to avoid the
    non-equi nested loop)."""
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name
    assert not unbounded_nested_loops(plan), name


ZERO_SHUFFLE = [
    # pure projections: assigning shards / scoring text costs no exchange
    "corpus_shuffle_assign",
    "text_quality_score",
    "text_language_id",
    "text_pii_redact",
    "embeddings_normalize_stats",
]


@pytest.mark.parametrize("name", ZERO_SHUFFLE)
def test_pure_projection_has_no_shuffle(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "Exchange" not in plan, f"{name} claims zero shuffles:\n{plan[:2000]}"


def test_topk_uses_take_ordered_not_global_sort(spark, sf_dir):
    """Top-k queries must compile to TakeOrderedAndProject (per-partition
    heap + driver merge), never a full Sort of the aggregate output."""
    for name in ["flagship_star_rollup", "topk_orders", "metrics_by_brand"]:
        plan = _plan(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, name


# expected number of explicit broadcast hints per query — exactly the
# bounded-cardinality dims (nation=25 rows, region=5 at any SF). A count
# above this means someone hinted a scale-growing table (customer, part,
# the vocabulary df) — the 100 TB OOM regression this test exists to catch.
EXPECTED_BROADCAST_HINTS = {
    "join_left_single": 1,  # nation
    "star_integrity_count": 2,  # nation, region
    "metrics_by_brand": 0,
    "metrics_by_region": 2,  # nation, region
    "flagship_star_rollup": 1,  # nation
    "text_tfidf_top_terms": 0,
    "text_sparse_cosine_pairs": 0,
    "dedup_minhash_lsh": 0,
    "dedup_ngram_jaccard": 0,
    "similarity_lsh_near_pairs": 0,
}


@pytest.mark.parametrize("name", sorted(EXPECTED_BROADCAST_HINTS))
def test_no_forced_broadcast_on_scale_growing_tables(spark, sf_dir, name):
    """Size-stat broadcasts chosen by Catalyst/AQE are fine (the same stats
    pick a shuffle join at 100 TB); what must not appear is a LOGICAL hint
    (`strategy=broadcast` on a join node) beyond the fixed-size dims each
    query declares — hints bypass AQE no matter how large the side grows."""
    df = all_queries()[name](spark, sf_dir)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    hints = logical.count("strategy=broadcast")
    assert hints == EXPECTED_BROADCAST_HINTS[name], (
        f"{name}: {hints} broadcast hints, expected "
        f"{EXPECTED_BROADCAST_HINTS[name]}\n{logical[:2000]}"
    )


def test_shingle_build_is_narrow(spark, sf_dir):
    """The distinct (id, shingle_h) set must be produced without any
    exchange — per-document array_distinct, not a DataFrame.distinct()."""
    from sri_spark.dedup.shingles import shingle_hashes_df
    from sri_spark.sources.testdata import load_table

    sh = shingle_hashes_df(load_table(spark, sf_dir, "documents"))
    plan = sh._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]


NO_CARTESIAN_R3 = [
    "orders_basket_pairs",
    "dedup_containment",
    "text_novelty_vs_corpus",
    "events_markov_transitions",
    "customers_rfm_segments",
    "text_bigram_lm_score",
]


@pytest.mark.parametrize("name", NO_CARTESIAN_R3)
def test_round3_ops_have_no_cartesian(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name
    assert not unbounded_nested_loops(plan), name


ZERO_SHUFFLE_R3 = [
    "embeddings_array_ops",  # per-row array expressions fuse into the scan
    "corpus_sample_weighted",  # projection + TakeOrderedAndProject only
    "agg_histogram",  # bin id is a projection; agg is partial+final
]


def test_round3_projection_ops_stay_narrow(spark, sf_dir):
    plan = _plan(spark, sf_dir, "embeddings_array_ops")
    assert "Exchange" not in plan, plan[:2000]
    # weighted sample: the only wide op is the top-N (TakeOrderedAndProject),
    # never a full Sort + Exchange of the corpus
    plan = _plan(spark, sf_dir, "corpus_sample_weighted")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan, plan[:2000]


def test_ewma_uses_single_window_pass(spark, sf_dir):
    """All DEPTH lag() calls share one (user_id) window — the plan must
    contain exactly one Window node and one Exchange, not one per lag."""
    plan = _plan(spark, sf_dir, "events_ewma")
    assert plan.count("Window") == 1, plan[:2000]
    assert plan.count("Exchange") == 1, plan[:2000]


def test_user_trend_is_one_hash_aggregate(spark, sf_dir):
    """regr_* must compile to partial+final hash aggregation (one shuffle),
    proving the sums-based formulation is map-combinable."""
    plan = _plan(spark, sf_dir, "events_user_trend")
    assert plan.count("Exchange") == 1, plan[:2000]
    assert "HashAggregate" in plan


def test_q6_predicates_reach_the_scan(spark, sf_dir):
    """All three Q6 predicates must appear as PushedFilters on the parquet
    scan AND the scan must read only the 4 referenced columns — the two
    properties that make a filter+aggregate scan-bound at 100 TB."""
    plan = _plan(spark, sf_dir, "metrics_forecast_revenue")
    assert "PushedFilters" in plan, plan[:2000]
    pushed = plan.split("PushedFilters")[1][:400]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed:\n{pushed}"
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema, "column pruning failed"


NO_CARTESIAN_R4 = [
    "text_ngram_novelty",       # distinct-shingle LEFT join on the shingle key
    "corpus_version_diff",      # fingerprint full-outer join on the hash
]


@pytest.mark.parametrize("name", NO_CARTESIAN_R4)
def test_round4_ops_have_no_cartesian(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name


def test_gopher_gate_prunes_scan_and_aggregates_once(spark, sf_dir):
    """The quality gate claims 'one scan, one hash aggregate': the parquet
    read must prune to (source, text) — not drag lang/n_chars through a
    100 TB scan — and the only exchange is the per-source aggregate's."""
    df = all_queries()["text_gopher_gate"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan[:1500]
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"source", "text"}, cols
    assert plan.count("Exchange") == 1, plan[:2000]


def test_watermark_lateness_partitions_by_minute(spark, sf_dir):
    """The lateness window must be PARTITIONED (by arrival minute) — a
    global single-partition running max is the plan that dies at scale."""
    df = all_queries()["events_watermark_lateness"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "date_trunc" in plan
    # a Window with an empty partition spec logs/plans as a single
    # partition; partitioning on the minute keys the exchange instead
    assert "SinglePartition" not in plan, plan[:2000]


ROUND4_NO_CARTESIAN = [
    "dedup_span_exact",
    "dedup_span_hot",
    "agg_cms_heavy_hitters",
    "join_bloom_prefilter",
    "graph_triangle_count",
    "join_fuzzy_blocked",
]


@pytest.mark.parametrize("name", ROUND4_NO_CARTESIAN)
def test_round4_ops_keyed_joins_only(spark, sf_dir, name):
    """Round-4 pair/probe operators candidate-join on keys (span text,
    (seed, bucket), bit position, IVF cell), and the triangle count joins
    no edge list with itself — a static CartesianProduct or nested loop
    here is the plan that dies at scale."""
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name
    assert not unbounded_nested_loops(plan), name


def test_triangle_count_plans_its_edge_list_once(spark, sf_dir):
    """graph_triangle_count references its top-30 edge list once (packed
    into one array), so the trade rollup and its top-k run once, not once
    per self-join side plus once for the edge count."""
    plan = _plan(spark, sf_dir, "graph_triangle_count")
    assert plan.count("TakeOrderedAndProject") == 1, plan


def test_span_dedup_two_exchanges(spark, sf_dir):
    """dedup_span_exact = ONE span-key window shuffle + ONE per-source
    aggregate shuffle; the window explode itself must stay narrow."""
    plan = _plan(spark, sf_dir, "dedup_span_exact")
    assert plan.count("Exchange") == 2, plan


def test_skyline_is_aggregate_plus_frontier_window(spark, sf_dir):
    """part_pareto_skyline: a hash aggregate over the input plus a window
    on the distinct-size frontier — never a dominance self-join."""
    plan = _plan(spark, sf_dir, "part_pareto_skyline")
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 3, plan


def test_bitmap_distinct_uses_partial_aggregation(spark, sf_dir):
    """The bitmap rollup must keep map-side partial aggregation (the whole
    point: fixed-size bitmap state combines before the shuffle)."""
    plan = _plan(spark, sf_dir, "events_bitmap_exact_distinct")
    assert "bitmap_construct_agg" in plan
    assert "HashAggregate" in plan


TPCH_SHAPES = [
    "tpch_q2_min_cost_supplier",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q10_returned_items",
    "tpch_q11_important_stock",
    "tpch_q12_late_lines_priority",
    "tpch_q13_customer_distribution",
    "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_part_counts",
    "tpch_q19_disjunctive_revenue",
    "tpch_q20_supplier_part_chain",
    "tpch_q21_waiting_suppliers",
]


@pytest.mark.parametrize("name", TPCH_SHAPES)
def test_tpch_shapes_no_cartesian(spark, sf_dir, name):
    """The adapted TPC-H suite must never degrade to a cartesian product;
    the only sanctioned nested-loop joins are the 1-row scalar-subquery
    broadcasts in Q11 (threshold) and Q15 (max revenue)."""
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name
    if name not in ("tpch_q11_important_stock", "tpch_q15_top_supplier"):
        assert not unbounded_nested_loops(plan), name


def test_tpch_q10_topk_is_take_ordered(spark, sf_dir):
    """Q10's top-20 must be TakeOrderedAndProject, not a global sort."""
    plan = _plan(spark, sf_dir, "tpch_q10_returned_items")
    assert "TakeOrderedAndProject" in plan, plan


def test_tpch_q21_is_single_fact_aggregation(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS pair is re-expressed as ONE per-order
    aggregation — the plan must contain exactly one lineitem scan (the
    double fact-fact self-join of the literal spec translation would show
    two more)."""
    plan = _plan(spark, sf_dir, "tpch_q21_waiting_suppliers")
    assert plan.count("lineitem.parquet") <= 1, plan


def test_tpch_q19_common_residuals_pushed(spark, sf_dir):
    """Q19's disjunction spans both join sides, but the derivable
    single-side bounds (l_quantity <= 35, p_size <= 30) must reach the
    scans as pushed filters."""
    plan = _plan(spark, sf_dir, "tpch_q19_disjunctive_revenue")
    assert "PushedFilters: [" in plan, plan


def test_bm25_topk_is_take_ordered(spark, sf_dir):
    """BM25's top-10 must compile to TakeOrderedAndProject, and the plan
    must contain no cartesian product — the stats/df sides join as 1-row /
    3-row broadcasts."""
    plan = _plan(spark, sf_dir, "text_bm25_topk")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bpe_pairs_single_aggregation(spark, sf_dir):
    """BPE pair counting is explode + hash aggregate: exactly one exchange
    (the pair-count shuffle) — pair generation itself must stay narrow."""
    plan = _plan(spark, sf_dir, "text_bpe_merge_pairs")
    assert plan.count("Exchange") <= 1, plan


def test_rrf_rank_windows_run_on_topn_only(spark, sf_dir):
    """The RRF fusion's single-partition rank windows must sit above a
    limit (top-N candidates), never above the corpus scan — the plan
    carries TakeOrderedAndProject under each Window."""
    plan = _plan(spark, sf_dir, "retrieval_hybrid_rrf")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


AUDIT_KEYED_ONLY = [
    "governance_k_anonymity",
    "governance_fd_audit",
    "dedup_sentence_exact",
    "embeddings_outlier_zscore",
    "graph_khop_reach",
]


@pytest.mark.parametrize("name", AUDIT_KEYED_ONLY)
def test_audit_ops_keyed_joins_only(spark, sf_dir, name):
    """The audit/statistics family joins only on keys (label+dim, seed,
    FD lhs, QI tuple) — a static CartesianProduct or nested loop would be
    the all-pairs plan these operators exist to avoid."""
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name
    assert not unbounded_nested_loops(plan), name


def test_chi_square_marginals_broadcast(spark, sf_dir):
    """stats_chi_square_independence: the contingency aggregate is the only
    full-data pass; both marginals and the scalar total must come back as
    broadcasts (they are grouped frames over tiny key spaces), never as a
    shuffle join against the observation frame."""
    plan = _plan(spark, sf_dir, "stats_chi_square_independence")
    assert plan.count("BroadcastExchange") >= 3, plan
    assert "SortMergeJoin" not in plan, plan


# every stats/audit query whose unbounded (or single-partition) window is
# only safe because its input is a BOUNDED grid — value bins, calendar
# days, KM event days — produced by a hash aggregate below it
BINNED_WINDOW_QUERIES = [
    "stats_ks_two_sample",
    "stats_spearman_binned",
    "stats_mann_whitney_binned",
    "stats_autocorr_daily",
    "stats_cusum_drift",
    "stats_psi_drift",
    "orders_revenue_gini_binned",
    "customers_survival_km",
]


@pytest.mark.parametrize("name", BINNED_WINDOW_QUERIES)
def test_window_runs_on_binned_frame(spark, sf_dir, name):
    """Round-11 verdict item 7 (generalizing the r10 KS pin): these
    queries' cumulative/rank windows are single-partition by design,
    which is only safe because the window input is the bounded bin/day
    grid (≤ ~100s of rows) built by a hash aggregate BELOW it. A future
    edit that re-orders the plan so a window runs over raw values would
    be a global sort of the full input — the exact scale-killer this
    family's docstrings rule out. executedPlan prints top-down, so every
    Window node must appear before (above) the bottom-most
    HashAggregate (the binning aggregate sitting on the scan)."""
    plan = _plan(spark, sf_dir, name)
    last_win = plan.rfind("Window")
    last_agg = plan.rfind("HashAggregate")
    assert last_win != -1, f"{name}: expected a Window node\n{plan}"
    assert last_agg != -1, f"{name}: expected a HashAggregate node\n{plan}"
    assert last_win < last_agg, (
        f"{name}: a Window runs below the binning aggregate "
        f"(over unbounded rows)\n{plan}"
    )


def test_lateral_topn_decorrelates_to_window(spark, sf_dir):
    """sql_lateral_topn: the per-nation LIMIT subquery must decorrelate —
    one scan of orders feeding a ranked window, never a nested-loop
    re-scan per outer row."""
    plan = _plan(spark, sf_dir, "sql_lateral_topn")
    assert plan.count("Scan parquet") <= 3, plan  # nation+orders+customer once
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan, plan


def test_variant_parses_once_per_row(spark, sf_dir):
    """semi_json_variant: exactly one parse_json per row (the VARIANT
    point) — the aggregate consumes variant_get projections, with no
    JSON-string function anywhere in the plan."""
    df = all_queries()["semi_json_variant"](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("parse_json") == 1, analyzed
    assert "get_json_object" not in analyzed, analyzed


SESSION2_SINGLE_WIDE_SHUFFLE = [
    # one wide shuffle (the group-by collect), everything after is narrow
    "events_ordered_transcript",
    "semi_nested_order_document",
]


@pytest.mark.parametrize("name", SESSION2_SINGLE_WIDE_SHUFFLE)
def test_document_assembly_is_one_collect_pass(spark, sf_dir, name):
    """Transcript/nested-document assembly: exactly one data-sized
    exchange (the keyed collect) plus at most one dimension-sized rollup
    exchange — a re-explode or second wide shuffle would double the cost
    of writing nested output at scale."""
    plan = _plan(spark, sf_dir, name)
    assert plan.count("Exchange") <= 2, plan
    assert "Generate" not in plan, plan  # no explode anywhere


def test_multimodal_shard_manifest_single_window_pass(spark, sf_dir):
    """Shard placement = one per-source window cumsum + one rollup; the
    binary payload itself must not appear in any exchange (only its
    length does)."""
    plan = _plan(spark, sf_dir, "multimodal_shard_manifest")
    assert plan.count("Window") == 1, plan
    assert "CartesianProduct" not in plan, plan


# Catalog-wide nested-loop gate (round 8). These queries carry a
# BroadcastNestedLoopJoin whose build side the classifier cannot prove
# 1-row (it only proves keys=[] global aggregates), but each is bounded
# by construction and documented in its builder / PLANS.md audit:
#   - similarity_* / retrieval_*: the query-vector pattern — the build
#     side is a unique-key filter (vec_id == qid) or a top-k Limit,
#     ≤k rows regardless of corpus size;
#   - expr_fuzzy_brand_pairs: non-equi levenshtein join over the brand
#     DIMENSION (6 values) — dimension-sized, never data-sized;
#   - embeddings_pca_top_component: crossJoin bounded by the embedding
#     dimension count (PLANS.md audit), not by rows;
#   - text_source_jsd: per-source distribution join, bounded by the
#     source dimension.
BOUNDED_BY_CONSTRUCTION_BNLJ = {
    "embeddings_pca_top_component",
    "expr_fuzzy_brand_pairs",
    "retrieval_hybrid_rrf",
    "retrieval_phrase_top_docs",
    "similarity_cosine_topk",
    "similarity_ivf_topk",
    "text_source_jsd",
    # TPC-H scalar-subquery broadcasts (threshold / max-revenue), already
    # exempted by name in test_tpch_shapes_no_cartesian
    "tpch_q11_important_stock",
    "tpch_q15_top_supplier",
}


def test_catalog_nested_loops_bounded_or_allowlisted(catalog_builds):
    """EVERY registered query must either plan no nested loop, plan only
    the benign 1-row-aggregate kind, or appear in the documented
    allowlist above. A new query that sneaks in a data-sized nested loop
    fails here instead of OOMing a cluster; an allowlist entry without a
    bounded-by-construction justification is a review failure. Plans come
    from the shared catalog_builds fixture (built once per session); a
    query whose build failed is an offender, never a silent skip."""
    offenders = {}
    for name, rec in catalog_builds.items():
        if rec["error"]:
            offenders[name] = [f"build failed: {rec['error']}"]
            continue
        off = unbounded_nested_loops(rec["plan"])
        if off and name not in BOUNDED_BY_CONSTRUCTION_BNLJ:
            offenders[name] = off[:2]
    assert not offenders, offenders
