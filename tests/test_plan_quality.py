"""Plan-quality regression guard: the scale properties we claim
(broadcast dimension joins, no nested-loop joins, pushed filters)
must be visible in the executed plans, not just asserted in docs.

A refactor that silently turns a broadcast join into a
BroadcastNestedLoopJoin or drops a parquet filter pushdown passes
row-equality tests but dies at 100 TB — this file fails it early.
"""

import pytest

SF_DIR = "/root/testdata/sf0.001"

# every headline bench query + the new operator queries
GUARDED = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q9_product_profit",
    "q18_large_orders",
    "q21_waiting_suppliers",
    "scan_cumulative_revenue",
    "e_sessionize_30min",
    "e_session_windows",
    "e_asof_last_purchase",
    "e_range_purchase_window",
    "e_hypertable_rollup",
    "g_hop_customer_nation",
    "g_hop2_revenue_by_customer",
    "p_ann_cosine_topk",
    "p_ann_topk_ivf",
    # r04 additions
    "p_hash_sample",
    "p_pack_sequences",
    # p_tf_idf moved to the SCALAR_CROSS allowlist below: its corpus
    # total is now a deliberate 1-row broadcast crossJoin (replaced an
    # eager driver collect in r05)
    "p_repetition_signals",
    "p_ann_pq_topk",
    "p_semantic_dup_pairs",
    # r04 continuation: classifier / graph-analytics / rules / embeds
    "p_pagerank",
    "p_incremental_dedup",
    "p_gopher_rules",
    "p_c4_line_clean",
    "p_embed_pipeline",
]

# cosine_pairs without block_col is a documented explicit cross join;
# everything else must stay hash/broadcast-joined
FORBIDDEN = ("BroadcastNestedLoopJoin", "CartesianProduct")


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as e
    return e


@pytest.mark.parametrize("name", GUARDED)
def test_no_nested_loop_joins(spark, entry, name):
    df = entry.queries()[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for bad in FORBIDDEN:
        assert bad not in plan, f"{name} regressed to {bad}"


def test_filter_pushdown_reaches_scan(spark, entry):
    """Selective scans must push predicates into the parquet reader
    (PushedFilters non-empty), not filter post-scan."""
    df = entry.queries()["q19_bracketed_revenue"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and any(p.strip() for p in pushed), \
        "no parquet filter pushdown in q19"


@pytest.mark.slow  # r13 gate split: multi-minute test
def test_every_registered_query_avoids_nested_loops(spark, entry):
    """Sweep ALL registered queries (not just the guarded headline
    set): any BroadcastNestedLoopJoin/CartesianProduct over more than
    one row per side is a 100 TB scale-killer. Allowlisted: the three
    TPC-H shapes joining a broadcast SINGLE-ROW aggregate (a scalar,
    not a table) — q11 mean, q15 max, q22 avg."""
    SCALAR_CROSS = {"q11_part_value_share", "q15_top_supplier",
                    "q22_idle_customers",
                    # corpus-total scalar broadcast (unigram LM norm)
                    "p_unigram_logprob",
                    # 1-row exact agg x 1-row theta agg
                    "p_theta_overlap",
                    # docs x CLASS TABLE (bounded by label count):
                    # the intended per-class scoring fan-out, tiny
                    # broadcast side
                    "p_nb_classifier",
                    # distinct-dims x bucket spine: both sides are
                    # metadata-sized (bounds agg + dim values),
                    # independent of event volume
                    "e_gapfill",
                    # two stacked 1-row scalar broadcasts (mean fill
                    # value, then the two winsor cut points)
                    "p_impute_winsorize",
                    # r05: corpus totals (N / avgdl / |V|) as 1-row
                    # broadcast crossJoins — replaced eager collects
                    "p_tf_idf", "p_bm25_search", "p_bigram_logprob",
                    # HITS: per-iteration 1-row L1-norm broadcasts
                    "p_hits_purchase",
                    # r06: 1-row scalar broadcasts — TF-IDF corpus N,
                    # Benford digit total, RFM as-of max timestamp
                    "p_tfidf_topterms", "p_benford_totalprice",
                    "e_rfm_segments",
                    # 1-row uniqueness-check broadcast
                    "p_data_expectations",
                    # r07: bigram-total N as a 1-row scalar broadcast
                    "p_pmi_collocations",
                    # r07: global PSI — the decile-edge ARRAY and the
                    # bin totals are 1-row broadcasts (keyed PSI uses
                    # hash joins; test_new_op_plans asserts it)
                    "e_psi_drift",
                    # r07: MI/χ² — grand total n, marginal-entropy
                    # sums, and category counts ka/kb are all 1-row
                    # scalar broadcasts over an |A|×|B|-bounded joint
                    # table; the joint/marginal joins are hash joins
                    "w_mutual_info", "w_chi2_independence",
                    # r07 closing tier: basket-count scalar
                    # (association rules), rank/total offsets scalar
                    # (lorenz), global-max-ts censoring scalar (KM) —
                    # all 1-row broadcasts; the heavy joins are hash
                    "p_association_rules", "w_lorenz_revenue",
                    "e_survival_sessions",
                    # r07 evaluation tier: min-max normalizer as a
                    # 1-row scalar broadcast (calibration + brier);
                    # AUC/confusion join nothing but the rank-offset
                    # broadcast (hash join on __rid)
                    "p_calibration_value", "p_brier_value",
                    # r07 feature-stats: global target mean as a
                    # 1-row scalar broadcast (category agg itself is
                    # a hash join)
                    "w_target_encode_priority",
                    # r07 encoding: normalized count_encode's total
                    # is a 1-row scalar broadcast
                    "w_count_encode_cross",
                    # r07 hybrid search: the cosine list inherits
                    # cosine_to_query's 1-row query-vector broadcast
                    "p_rrf_hybrid_search",
                    # r08 kappa: grand total n, diagonal sum and
                    # Σ row·col are THREE 1-row scalar broadcasts
                    # over an |A|×|B|-bounded joint table (the
                    # marginal-product join itself is a hash join on
                    # the label)
                    "e_kappa_consecutive_events"}
    bad = {}
    for name, fn in entry.queries().items():
        if name in SCALAR_CROSS:
            continue
        try:
            plan = fn(spark, SF_DIR)._jdf.queryExecution() \
                .executedPlan().toString()
        except Exception as exc:   # a query that won't plan is worse
            bad[name] = f"failed to plan: {exc}"
            continue
        for pat in FORBIDDEN:
            if pat in plan:
                bad[name] = pat
    assert not bad, bad


def test_pq_pipeline_is_shuffle_free_before_topk(spark, entry):
    """PQ encode + ADC scoring must be pure projections: the ONLY
    plan movement allowed is the TakeOrdered top-k — a shuffle here
    means vector math leaked onto the corpus path."""
    df = entry.queries()["p_ann_pq_topk"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, "PQ scoring plan shuffles"
    assert "Join" not in plan, "PQ scoring plan joins"


def test_kmeans_assignment_is_join_free(spark, entry, sf_dir):
    """kmeans_assign's final projection embeds centroids as literals:
    the assignment plan must contain no join (broadcast-centroid
    Lloyd, not a centroid-table join)."""
    from zef_spark.pipeline.clustering import kmeans_assign
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = kmeans_assign(emb, "embedding", "vec_id", k=4, n_iter=0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan, plan


def test_hash_sample_is_scan_plus_filter(spark, entry, sf_dir):
    """Deterministic sampling is a single scan + filter — no shuffle,
    no aggregation (df.sample parity at the plan level)."""
    from zef_spark.pipeline.corpus import hash_sample
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = hash_sample(docs, 1, 4, "doc_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan, plan


def test_dimension_joins_broadcast(spark, entry):
    """TPC-H star joins keep every dimension on the broadcast side —
    zero SortMergeJoin for q5/q9 at any SF (dims are small by
    schema, not by luck)."""
    for name in ("q5_region_revenue", "q9_product_profit"):
        df = entry.queries()[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, f"{name} lost broadcasts"
        assert "SortMergeJoin" not in plan, \
            f"{name} shuffles a dimension join"


def test_pii_redact_is_pure_map(spark, entry):
    """PII scan+redact is a row-local map stage: no Exchange, no
    Join, no aggregation — anything else means the regex path picked
    up a shuffle it doesn't need."""
    # guard the operator itself (the registered query only adds a
    # presentation orderBy on top)
    from zef_spark.pipeline.text import pii_redact, pii_scan
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = (pii_redact(pii_scan(docs, "text"), "text")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Join" not in plan, plan


def test_sketch_checks_single_shuffle_per_agg(spark, entry):
    """Each sketch aggregate is one partial-agg shuffle keyed by the
    group column: HashAggregate(partial) → Exchange → final. The
    joined check query may reuse the exchange but must never expand
    beyond group-key exchanges (no row-identity shuffle)."""
    from zef_spark.pipeline.sketches import distinct_check
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = (distinct_check(ev, ["event_type"], "user_id")
            ._jdf.queryExecution().executedPlan().toString())
    # countDistinct adds an expand+regroup stage; both exchanges are
    # keyed by event_type — what must NOT appear is a nested loop
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange") <= 2, plan


def test_r05_queries_plan_quality(spark, entry):
    """r05 additions: single-scan funnel, pre-shuffle term filtering
    in BM25, RANGE-window rate limiting — the scale claims in their
    docstrings, checked against the executed plans."""
    q = entry.queries()
    # filter_funnel: one aggregate, no join/union
    plan = q["p_quality_filter_pipeline"](spark, SF_DIR) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Union" not in plan
    # rate limit: exactly one exchange (the user-key window shuffle)
    plan = q["e_rate_limit_events"](spark, SF_DIR) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # bm25: no cartesian beyond the 1-row totals broadcast; the
    # posting filter runs before the (doc, token) aggregate
    plan = q["p_bm25_search"](spark, SF_DIR) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
