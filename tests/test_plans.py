"""Plan-shape regression tests (SURVEY.md §4): the 100 TB checklist —
pushdown reaches the scan, columns are pruned, dims broadcast, hinted SMJ
holds, and nothing falls back to a cartesian product."""

from __future__ import annotations

from hive_test_spark.plans.inspect import analyze, has_pushed_filters, scan_read_columns
from hive_test_spark.session import scoped_confs
from tests.conftest import SF_DIR


def _facts(spark, registry, key):
    qs, _ = registry
    return analyze(qs[key](spark, SF_DIR))


def _facts_with_build(spark, registry, key, monkeypatch):
    """Facts of ``key``'s final plan, then of every plan that reaches
    ``DataFrame.localCheckpoint`` while the key builds: a frame cut by
    ``io.materialize`` runs its scans in its own job, so the final plan
    reads a checkpoint leaf instead."""
    frame_cls = type(spark.range(0))  # the session's concrete DataFrame
    built = []
    local_checkpoint = frame_cls.localCheckpoint

    def spy(df, *args, **kwargs):
        built.append(analyze(df))
        return local_checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", spy)
    return [_facts(spark, registry, key), *built]


def test_flagship_pushdown_and_pruning(spark, registry):
    f = _facts(spark, registry, "flagship_pricing_summary")
    assert has_pushed_filters(f), "shipdate filter must reach the parquet scan"
    assert scan_read_columns(f) == [7], "lineitem scan must read exactly the 7 needed columns"


def test_star_join_broadcasts_dims(spark, registry):
    f = _facts(spark, registry, "join_star_multiway")
    assert f.broadcast_joins >= 4, "star-join dims must be broadcast, not shuffled"
    assert f.cartesian == 0


def test_broadcast_join_is_broadcast(spark, registry):
    f = _facts(spark, registry, "join_broadcast")
    assert f.broadcast_joins == 1
    assert f.sort_merge_joins == 0


def test_merge_hint_is_honored(spark, registry):
    f = _facts(spark, registry, "join_sort_merge")
    assert f.sort_merge_joins == 1


def test_theta_and_range_joins_broadcast_small_side(spark, registry):
    for key in ("join_theta", "join_range_interval"):
        f = _facts(spark, registry, key)
        assert f.broadcast_joins == 1, key
        assert f.cartesian == 0, key


def test_knn_join_no_cartesian(spark, registry):
    f = _facts(spark, registry, "llm_knn_join")
    assert f.cartesian == 0, "label-blocked KNN must not plan a cartesian product"


def test_narrow_projection_prunes_scan(spark, registry):
    f = _facts(spark, registry, "llm_exact_dedup")
    assert scan_read_columns(f) == [2], "dedup reads only (doc_id, text)"


def test_dpp_injects_partition_pruning_subquery(spark, registry):
    """scale_dpp: the year-partitioned fact scan must carry a
    dynamicpruning partition filter derived from the dim side — the
    mechanism that skips unreferenced partitions entirely at 100 TB."""
    qs, _ = registry
    df = qs["scale_dpp"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "DPP subquery missing from fact scan"


def test_unpivot_is_shuffle_free(spark, registry):
    """Melt must be a narrow map-only transform — zero exchanges."""
    f = _facts(spark, registry, "agg_unpivot")
    assert f.exchanges == 0, "unpivot must not shuffle"
    assert scan_read_columns(f) == [3], "part scan reads only the 3 melted columns"


def test_gapfill_has_no_cartesian_fallback(spark, registry):
    """The spine cross join is tiny×tiny and planned as a broadcast; the
    fact-side joins are all equi-joins."""
    f = _facts(spark, registry, "evt_gapfill")
    assert f.cartesian <= 1, "only the intentional tiny spine cross join"
    assert f.broadcast_joins >= 1


def test_ann_lsh_no_cartesian(spark, registry):
    """LSH candidate generation must be an equi-join on (band, sig),
    never an all-pairs product."""
    f = _facts(spark, registry, "llm_ann_lsh")
    assert f.cartesian == 0


def test_dq_audit_single_scan(spark, registry):
    """All column profiles come from ONE pass over orders."""
    from hive_test_spark.plans.inspect import explain_str

    import re

    qs, _ = registry
    plan = explain_str(qs["dq_audit"](spark, SF_DIR))
    # formatted explain lists each node twice (tree + detail) — count the
    # numbered detail entries, one per physical scan node
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)
    assert len(scans) == 1, "dq_audit must profile all columns in one scan"


def test_explode_outer_is_shuffle_free(spark, registry):
    """OUTER Generate is narrow like plain explode — zero exchanges."""
    f = _facts(spark, registry, "udtf_explode_outer")
    assert f.exchanges == 0, "explode_outer must not shuffle"


def test_sequence_match_single_shuffle(spark, registry):
    """The collect+lambda-scan strategy's whole point: ONE shuffle on
    user_id regardless of sequence length (the join chain would need 3)."""
    f = _facts(spark, registry, "evt_sequence_match")
    assert f.exchanges == 1, "sequence match must shuffle exactly once"
    assert f.cartesian == 0


def test_distinct_users_no_extra_exchange(spark, registry):
    """COUNT(DISTINCT) plans as Expand + two-phase agg: one shuffle for
    the dedup phase, one for the final rollup — never more."""
    f = _facts(spark, registry, "evt_distinct_users_hourly")
    assert f.exchanges <= 2, "distinct rollup must stay a two-phase aggregate"


def test_lateral_subquery_is_decorrelated(spark, registry):
    """LATERAL must decorrelate to a ranked window + join — a nested-loop
    per-outer-row re-execution would be O(outer x inner) at 100 TB."""
    f = _facts(spark, registry, "subq_lateral")
    assert f.cartesian == 0, "lateral must not plan a cartesian/nested-loop product"


def test_transform_script_is_map_only(spark, registry):
    """The TRANSFORM wire protocol is a pure row-stream rewrite: no
    shuffle may appear — it scales linearly or not at all."""
    f = _facts(spark, registry, "transform_script")
    assert f.exchanges == 0, "transform_script must be map-only"


def test_regex_serde_pushes_nothing_but_stays_flat(spark, registry):
    """Text scan → regex parse → two-phase agg: exactly the one shuffle
    the groupBy needs (partial agg map-side)."""
    f = _facts(spark, registry, "scan_regex_serde")
    assert f.exchanges <= 1, "regex-serde agg must shuffle at most once"
    assert f.cartesian == 0


def test_contamination_broadcasts_probe_set(spark, registry):
    """The benchmark probe set is bounded by construction (eval suites
    are MBs); the train-side shingle stream must join map-side against a
    broadcast of it — never shuffle the crawl on the n-gram key."""
    f = _facts(spark, registry, "llm_contamination")
    assert f.broadcast_joins >= 1, "probe n-grams must be broadcast"
    assert f.cartesian == 0


def test_pack_sequences_single_shuffle(spark, registry):
    """Packing is windowed per shard; the per-(shard,bin) rollup must
    REUSE the shard hash partitioning (ClusteredDistribution subset rule)
    — exactly one exchange end-to-end or the shard design is broken."""
    f = _facts(spark, registry, "llm_pack_sequences")
    assert f.exchanges == 1, "pack must shuffle once (window) and reuse it for the rollup"


def test_perplexity_no_cartesian_no_forced_broadcast(spark, registry):
    """Corpus-frequency join is vocabulary-keyed: AQE may broadcast at
    toy scale but nothing may force it, and the 1-row total must come in
    as a broadcast rather than a cartesian product."""
    f = _facts(spark, registry, "llm_perplexity_proxy")
    assert f.cartesian == 0
    assert f.exchanges <= 4


def test_dataset_mix_map_then_single_agg(spark, registry):
    """Mixing is a pure map (md5 compare) + one rollup — one exchange."""
    f = _facts(spark, registry, "llm_dataset_mix")
    assert f.exchanges == 1


def test_cluster_by_reuses_partitioning(spark, registry):
    """CLUSTER BY shuffles once on l_suppkey; the verification rollup
    groups on the same key and must reuse that partitioning — a second
    exchange would mean the co-location invariant wasn't actually
    observed on the clustered layout."""
    f = _facts(spark, registry, "sort_cluster_by")
    assert f.exchanges == 1, "cluster-by + same-key rollup must be one shuffle"


def test_repetition_filter_doc_keyed_no_cartesian(spark, registry):
    """Both signal branches aggregate on the natural doc key and join on
    it; nothing may plan a cartesian product and the gram shuffles stay
    bounded (2 per branch: (doc,gram) then doc)."""
    f = _facts(spark, registry, "llm_repetition_filter")
    assert f.cartesian == 0
    assert f.exchanges <= 4


def test_gopher_rules_single_pass(spark, registry):
    """All rule signals are JVM lambdas in ONE map pass over (source,
    text) + one rollup — one exchange, two-column scan."""
    f = _facts(spark, registry, "llm_gopher_rules")
    assert f.exchanges == 1
    assert scan_read_columns(f) == [2], "reads only (source, text)"


def test_ccnet_bucket_no_cartesian_bounded_shuffles(spark, registry):
    """Vocabulary join is shuffle-keyed (AQE may broadcast at toy scale),
    the 1-row total comes in as a broadcast, and the tercile window
    partitions by language — never a global sort."""
    f = _facts(spark, registry, "llm_ccnet_bucket")
    assert f.cartesian == 0
    assert f.exchanges <= 5


def test_embed_quantize_map_then_single_agg(spark, registry):
    """Quantization QA is pure higher-order functions over the vector
    column (no explode: 64-wide vectors never become 64 rows) + one
    label rollup — exactly one exchange, two-column scan."""
    f = _facts(spark, registry, "llm_embed_quantize")
    assert f.exchanges == 1
    assert scan_read_columns(f) == [2], "reads only (label, embedding)"


def test_attribution_single_user_shuffle(spark, registry):
    """Both attribution columns ride ONE user_id window shuffle; the
    channel rollup is the only other exchange. props column pruned."""
    f = _facts(spark, registry, "evt_attribution")
    assert f.exchanges == 2
    assert f.cartesian == 0
    assert scan_read_columns(f) == [5], "props must be pruned from the scan"


def test_rfm_anchor_broadcast_no_cartesian(spark, registry):
    """The corpus max-date anchor is a 1-row broadcast (never an eager
    count); scoring windows run on the customer-sized aggregate."""
    f = _facts(spark, registry, "evt_rfm")
    assert f.broadcast_joins >= 1
    assert f.cartesian == 0
    assert f.exchanges <= 3


def test_anomaly_zscore_rolls_up_before_window(spark, registry):
    """The raw log collapses to (type, day) counts BEFORE the rolling
    window — two exchanges total, (event_type, ts) scan only."""
    f = _facts(spark, registry, "evt_anomaly_zscore")
    assert f.exchanges == 2
    assert scan_read_columns(f) == [2]


def test_q3_pushdown_broadcast_topk(spark, registry):
    """Q3 shape: filters reach the scans, the segment-filtered customer
    dim broadcasts, top-10 is a heap (TakeOrderedAndProject) — never a
    global sort of the join output."""
    from hive_test_spark.plans.inspect import explain_str
    qs, _ = registry
    df = qs["bench_q3_shipping_priority"](spark, SF_DIR)
    f = analyze(df)
    assert has_pushed_filters(f)
    assert f.broadcast_joins >= 1
    assert f.cartesian == 0
    assert "TakeOrderedAndProject" in explain_str(df)


def test_q4_exists_is_semi_join(spark, registry):
    """Q4 shape: the correlated EXISTS must plan as a LEFT SEMI join
    (once-per-order semantics), with the quarter filter pushed down."""
    from hive_test_spark.plans.inspect import explain_str
    qs, _ = registry
    df = qs["bench_q4_order_priority"](spark, SF_DIR)
    f = analyze(df)
    assert has_pushed_filters(f)
    assert f.cartesian == 0
    assert "LeftSemi" in explain_str(df)


def test_q18_aggregates_before_join_topk(spark, registry):
    """Q18 shape: the quantity rollup collapses the fact before any join
    (partial_sum before the first join in the plan), top-100 is a heap."""
    from hive_test_spark.plans.inspect import explain_str
    qs, _ = registry
    df = qs["bench_q18_large_orders"](spark, SF_DIR)
    f = analyze(df)
    assert f.cartesian == 0
    s = explain_str(df)
    assert "TakeOrderedAndProject" in s
    assert "partial_sum" in s, "quantity rollup must be two-phase"
    # Formatted-plan node ids are post-order (leaves lowest): the rollup
    # must execute before (= deeper than) every join.
    import re
    agg_ids = [int(m) for m in re.findall(r"HashAggregate \((\d+)\)", s)]
    join_ids = [int(m) for m in re.findall(r"(?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)[^\n(]*\((\d+)\)", s)]
    assert agg_ids and join_ids and min(agg_ids) < min(join_ids), "agg must feed the joins"


def test_aqe_skew_join_splits_partitions(spark, registry):
    """With the shrunk skew thresholds, the executed adaptive plan must
    mark the skewed sort-merge join `skew=true` — proof the 80%-key
    partition was split instead of serializing on one task."""
    from hive_test_spark.operators.scale import AQE_SKEW_CONFS, skew_join_frame

    with scoped_confs(spark, AQE_SKEW_CONFS):
        df = skew_join_frame(spark, SF_DIR)
        rows = df.collect()
        assert len(rows) == 3  # keys 0, 8, 9
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]


def test_bloom_runtime_filter_injected(spark, registry):
    """With BLOOM_CONFS active, the physical plan must carry the
    bloom_filter_agg build on the selective side and a might_contain
    probe on the fact side — rows that cannot join die pre-shuffle."""
    from hive_test_spark.operators.scale import BLOOM_CONFS, bloom_join_frame

    with scoped_confs(spark, BLOOM_CONFS):
        df = bloom_join_frame(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:1500]
        assert "might_contain" in plan


def test_islands_single_customer_shuffle(spark, registry):
    """Both island windows and both rollups key on o_custkey — ONE
    exchange end-to-end, (custkey, orderdate) scan only."""
    f = _facts(spark, registry, "win_islands")
    assert f.exchanges == 1
    assert scan_read_columns(f) == [2]


def test_scd2_dimension_never_shuffles(spark, registry):
    """SCD2's close/open/pass-through branches broadcast the delta keys:
    zero exchanges — the dimension streams through map-side."""
    f = _facts(spark, registry, "dml_scd2")
    assert f.exchanges == 0, "dimension must not shuffle"
    assert f.broadcast_joins >= 2


def test_regr_is_single_combinable_agg(spark, registry):
    """regr_* are sufficient-statistics aggregates — one two-phase agg,
    one exchange, three-column scan."""
    f = _facts(spark, registry, "agg_regr")
    assert f.exchanges == 1
    assert scan_read_columns(f) == [3]


def test_pagerank_no_cartesian_and_broadcast_n(spark, registry):
    """PageRank's 1-row node-count plan must broadcast (never shuffle the
    rank table against it); no iteration may degrade to a cartesian."""
    f = _facts(spark, registry, "graph_pagerank")
    assert f.cartesian == 0
    assert f.broadcast_joins >= 4  # n_nodes per iteration + init

def test_triangles_ordered_edges_no_cartesian(spark, registry, monkeypatch):
    """Triangle enumeration is two equi-joins over the ordered edge list —
    a cartesian wedge join would be the N^2 failure mode at 100 TB."""
    plans = _facts_with_build(spark, registry, "graph_triangles", monkeypatch)
    assert all(f.cartesian == 0 for f in plans)
    # The edge list is materialized: its build job holds both lineitem
    # scans (the self-join), and the final plan reads the checkpoint.
    cols = [c for f in plans for c in scan_read_columns(f)]
    assert set(cols) == {2}, "every lineitem scan must prune to (orderkey, partkey)"
    assert len(cols) == 2, cols


def test_ohlc_is_single_two_phase_agg(spark, registry):
    """OHLC via min_by/max_by is agg-only: exactly one exchange, no
    window sort pass."""
    f = _facts(spark, registry, "evt_ohlc")
    assert f.exchanges == 1


def test_fill_forward_single_series_shuffle(spark, registry):
    """LOCF is one window over user_id — one exchange, no self-join."""
    f = _facts(spark, registry, "evt_fill_forward")
    assert f.exchanges == 1
    assert f.sort_merge_joins == 0 and f.broadcast_joins == 0


def test_span_dedup_gram_keyed_no_cartesian(spark, registry):
    """Span dedup must stay gram-keyed (shuffle join) — doc×doc or a
    cartesian over grams is the N² failure at 100 TB."""
    f = _facts(spark, registry, "llm_span_dedup")
    assert f.cartesian == 0


def test_count_distinct_over_single_user_shuffle(spark, registry):
    """The collect_set-over-window workaround must cost exactly one
    user_id exchange — a join- or expand-based rewrite would betray the
    per-partition sweep the 100 TB story depends on."""
    f = _facts(spark, registry, "win_count_distinct_over")
    assert f.exchanges == 1
    assert f.cartesian == 0


def test_paragraph_dedup_segment_keyed_no_cartesian(spark, registry):
    """The C4-style rewrite must stay segment-keyed: ownership is a
    groupBy(seg) agg joined back on seg, reassembly a doc_id agg —
    doc×doc or a cartesian over segments is the N² failure at 100 TB."""
    f = _facts(spark, registry, "llm_paragraph_dedup")
    assert f.cartesian == 0
    assert f.sort_merge_joins + f.broadcast_joins >= 1  # seg join is an equi-join


def test_domain_cap_single_window_shuffle(spark, registry):
    f = _facts(spark, registry, "llm_domain_cap")
    assert f.exchanges == 1


def test_q7_dims_broadcast_date_pushed(spark, registry):
    """Q7's nations/supplier broadcast; the disjunctive pair filter never
    forces a cartesian; the ship-date range reaches the lineitem scan."""
    f = _facts(spark, registry, "bench_q7_nation_volume")
    assert f.broadcast_joins >= 3
    assert f.cartesian == 0
    assert has_pushed_filters(f)


def test_q16_anti_join_and_part_prune(spark, registry):
    """Q16's NOT IN over non-null keys must plan as a broadcast anti join
    (not the null-aware nested loop), with part filters pre-join."""
    f = _facts(spark, registry, "bench_q16_supplier_cnt")
    assert "LeftAnti" in f.text
    assert f.broadcast_joins >= 2
    assert f.cartesian == 0


def test_dsir_bucket_tables_broadcast(spark, registry):
    """DSIR's probability sides are 256-row bounded — all three joins
    must broadcast; nothing shuffles except the two token aggregates."""
    f = _facts(spark, registry, "llm_importance_weights")
    assert f.broadcast_joins >= 3
    assert f.cartesian == 0


def test_semdedup_pairs_only_within_cluster(spark, registry):
    """SemDeDup's pairwise stage must be the cluster-blocked equi-join —
    the only nested-loop allowed is the broadcast centroid routing."""
    f = _facts(spark, registry, "llm_semdedup")
    assert f.cartesian == 0


def test_q22_scalar_subquery_broadcast_anti(spark, registry):
    """Q22: the global average arrives broadcast (no eager collect); the
    NOT EXISTS is a broadcast anti join on the date-pruned orders scan."""
    f = _facts(spark, registry, "bench_q22_sales_opportunity")
    assert "LeftAnti" in f.text
    assert f.broadcast_joins >= 1
    assert has_pushed_filters(f)


def test_pipeline_e2e_fused_no_cartesian(spark, registry):
    """The 3-stage pipeline is one lazy plan: fingerprint- and lang-keyed
    shuffles only, no cartesian, bounded exchange count."""
    f = _facts(spark, registry, "llm_pipeline_e2e")
    assert f.cartesian == 0
    assert f.exchanges <= 8


def test_exchange_reuse_fires(spark, registry):
    """The per-nation aggregate must execute once. Under AQE, exchange
    dedup happens at RUNTIME (the stage cache matches canonicalized
    shuffle subtrees as stages materialize), so the ReusedExchange node
    only appears in the FINAL adaptive plan — execute, then assert."""
    from hive_test_spark.plans.inspect import explain_str
    qs, _ = registry
    df = qs["scale_exchange_reuse"](spark, SF_DIR)
    df.collect()
    assert "ReusedExchange" in explain_str(df, "formatted")


def test_cache_reuse_both_branches_in_memory(spark, registry):
    """Both rollup branches must read the cached slice — two
    InMemoryTableScan nodes, and at most one parquet scan of lineitem."""
    import re

    f = _facts(spark, registry, "scale_cache_reuse")
    assert len(re.findall(r"InMemoryTableScan", f.text)) >= 2


def test_bucket_sample_filter_runs_on_scan_side(spark, registry):
    """Bucket sampling is a deterministic filter — no shuffle at all."""
    f = _facts(spark, registry, "scan_bucket_sample")
    assert f.exchanges == 0


def test_q11_scalar_threshold_broadcasts(spark, registry):
    """Q11 shape: the nation-filtered supplier side and the one-row
    threshold both broadcast; the per-part rollup is two-phase so the
    fact shuffles only partials."""
    from hive_test_spark.plans.inspect import explain_str
    qs, _ = registry
    df = qs["bench_q11_important_stock"](spark, SF_DIR)
    f = analyze(df)
    assert f.broadcast_joins + explain_str(df).count("BroadcastNestedLoopJoin") >= 2
    assert f.cartesian == 0
    assert "partial_sum" in explain_str(df)


def test_q15_single_fact_shuffle_max_equality(spark, registry):
    """Q15 shape: revenue agg is two-phase (one fact shuffle); the
    per-quarter max and the supplier dim come back as broadcasts, never
    a second fact-sized shuffle."""
    from hive_test_spark.plans.inspect import explain_str
    qs, _ = registry
    df = qs["bench_q15_top_supplier"](spark, SF_DIR)
    f = analyze(df)
    s = explain_str(df)
    assert has_pushed_filters(f), "ship-date window must reach the scan"
    assert f.broadcast_joins >= 2
    assert f.cartesian == 0
    assert "partial_sum" in s


def test_q17_correlated_avg_decorrelates(spark, registry):
    """Q17 shape: the brand filter reaches the part scan, the correlated
    AVG runs as a two-phase agg joined back on the equi-key, and the
    brand dim broadcasts into both fact scans."""
    from hive_test_spark.plans.inspect import explain_str
    qs, _ = registry
    df = qs["bench_q17_small_qty_revenue"](spark, SF_DIR)
    f = analyze(df)
    assert has_pushed_filters(f), "brand filter must reach the part scan"
    assert f.broadcast_joins >= 2
    assert f.cartesian == 0
    assert "partial_avg" in explain_str(df)


def test_q20_nested_in_is_semi_chain(spark, registry):
    """Q20 shape: both INs plan as LEFT SEMI joins and the HAVING agg
    collapses the fact before the outer semi join."""
    from hive_test_spark.plans.inspect import explain_str
    qs, _ = registry
    df = qs["bench_q20_part_promotion"](spark, SF_DIR)
    f = analyze(df)
    s = explain_str(df)
    assert s.count("LeftSemi") >= 2, "both IN levels must be semi joins"
    assert f.cartesian == 0
    assert "partial_sum" in s, "HAVING qty rollup must be two-phase"


def test_q21_semi_anti_share_orderkey(spark, registry):
    """Q21 shape: the EXISTS probe is a semi join, the NOT EXISTS an anti
    join, no cartesian anywhere, and the two-nation supplier side
    broadcasts."""
    from hive_test_spark.plans.inspect import explain_str
    qs, _ = registry
    df = qs["bench_q21_waiting_supplier"](spark, SF_DIR)
    f = analyze(df)
    s = explain_str(df)
    assert "LeftSemi" in s and "LeftAnti" in s
    assert f.cartesian == 0
    assert f.broadcast_joins >= 1


def test_sql_macro_inlines_to_pure_codegen(spark, registry):
    """SQL-defined functions must be inlined by Catalyst: no Python eval
    node, no UDF barrier — just the same two-phase hash agg the inline
    expression would produce."""
    from hive_test_spark.plans.inspect import explain_str
    qs, _ = registry
    df = qs["fn_sql_macro"](spark, SF_DIR)
    s = explain_str(df)
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s
    assert "partial_sum" in s, "macro aggregate must stay two-phase"


def test_star_join_never_broadcasts_the_fact(spark, registry):
    """Regression guard for the probe-side inversion: no BroadcastExchange
    may sit directly above the lineitem scan — dims build, the fact
    probes (at scale the first join degrades gracefully to a keyed
    shuffle, never to shipping the fact)."""
    import re
    qs, _ = registry
    df = qs["join_star_multiway"](spark, SF_DIR)
    t = df._jdf.queryExecution().executedPlan().toString()
    for m in re.finditer(r"BroadcastExchange[^\n]*\n((?:[^\n]*\n){0,4})", t):
        assert not re.search(
            r"FileScan parquet \[l_", m.group(1)
        ), "lineitem (the fact) must never be the broadcast build side"


def test_aqe_coalesces_small_shuffle(spark, registry):
    """The 5-group rollup must show a coalesced AQEShuffleRead in the
    final adaptive plan — fewer reduce partitions than configured."""
    qs, _ = registry
    df = qs["scale_aqe_coalesce"](spark, SF_DIR)
    df.collect()
    t = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in t and "coalesced" in t, "AQE must coalesce the tiny shuffle"


# --- Round-4 additions: TPC-H completions + SQL front end twins --------


def test_tpch_completions_no_cartesian_and_pushed(spark, registry):
    """Every round-4 TPC-H shape: filters reach a scan, zero cartesian
    products (Q19's OR-of-ANDs notably must stay an equi-join)."""
    for key in (
        "bench_q2_min_cost_supplier",
        "bench_q5_local_supplier_volume",
        "bench_q6_forecast_revenue",
        "bench_q8_market_share",
        "bench_q9_product_profit",
        "bench_q10_returned_items",
        "bench_q12_late_lines",
        "bench_q13_order_count_dist",
        "bench_q14_promo_revenue",
        "bench_q19_disjunctive_revenue",
    ):
        f = _facts(spark, registry, key)
        assert f.cartesian == 0, key
        assert has_pushed_filters(f), key


def test_q6_minimal_scan(spark, registry):
    """Q6 is the canonical scan-bound query: 4 columns, no joins."""
    f = _facts(spark, registry, "bench_q6_forecast_revenue")
    assert scan_read_columns(f) == [4]
    assert f.broadcast_joins == 0 and f.sort_merge_joins == 0


def test_q19_join_stays_equi(spark, registry):
    """The disjunctive predicate must not demote the partkey equi-join
    to a nested-loop plan."""
    f = _facts(spark, registry, "bench_q19_disjunctive_revenue")
    assert f.broadcast_joins + f.sort_merge_joins >= 1
    assert f.cartesian == 0


def test_sql_front_end_plans_match_dataframe_twin(spark, registry):
    """The SQL text front end must produce the same physical plan class
    as the DataFrame API: the Q1 twin gets the same pushdown + pruning
    contract as flagship_pricing_summary."""
    f = _facts(spark, registry, "sql_pricing_summary")
    assert has_pushed_filters(f)
    assert scan_read_columns(f) == [6], "SQL twin must prune to its 6 used columns"


def test_sql_cluster_by_reuses_group_exchange(spark, registry):
    """CLUSTER BY on the grouping key must not add a second shuffle on
    top of the aggregation exchange."""
    f = _facts(spark, registry, "sql_cluster_by_bucket")
    assert f.exchanges <= 2, "agg partial/final + at most the cluster-by reuse"


def test_existence_join_plans_mark_join(spark, registry):
    """The IN-subquery inside a disjunction must compile to Spark's
    ExistenceJoin (mark join) — not a collected isin list and not a
    plain semi join that would drop the OR's other leg."""
    qs, _ = registry
    df = qs["join_existence_mark"](spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ExistenceJoin" in plan, plan[:800]


def test_inline_and_explode_map_are_narrow_generators(spark, registry):
    """inline() and explode(map) are pipelined generators: no shuffle at
    all for inline; explode_map shuffles only for its count aggregate."""
    f = _facts(spark, registry, "udtf_inline")
    assert f.exchanges == 0, "inline fan-out must not shuffle"
    assert f.cartesian == 0
    f2 = _facts(spark, registry, "udtf_explode_map")
    assert f2.exchanges <= 1, "str_to_map+explode then ONE agg exchange"
    assert scan_read_columns(f2) == [2], "events scan reads only (event_type, user_id)"


def test_parse_url_tuple_single_codegen_pass(spark, registry):
    """The one-pass UDTF contract: all URL parts come out of a single
    map-only projection — zero exchanges, one codegen span, pruned scan."""
    f = _facts(spark, registry, "udtf_parse_url_tuple")
    assert f.exchanges == 0, "parse_url_tuple is map-only"
    assert scan_read_columns(f) == [3], "documents scan reads (doc_id, source, lang)"


def test_sentences_is_map_only(spark, registry):
    f = _facts(spark, registry, "fn_sentences")
    assert f.exchanges == 0, "sentences() tokenization must not shuffle"
    assert scan_read_columns(f) == [3], "documents scan reads (doc_id, source, lang)"


def test_salted_agg_spreads_state(spark, registry):
    """The salted rewrite must stay a pure aggregation pipeline: pruned
    3-column scan, no joins, bounded exchanges (distinct-rewrite + the
    salt stage + final merge)."""
    f = _facts(spark, registry, "scale_salted_agg")
    assert scan_read_columns(f) == [3], "events scan reads (event_type, user_id, value)"
    assert f.cartesian == 0 and f.broadcast_joins == 0 and f.sort_merge_joins == 0
    assert f.exchanges <= 3


def test_context_ngrams_filters_before_explode(spark, registry):
    """Context filter runs inside the transform (NULL non-hits dropped
    post-explode): one agg shuffle, text-only scan."""
    f = _facts(spark, registry, "fn_context_ngrams")
    assert f.exchanges == 1
    assert scan_read_columns(f) == [1], "documents scan reads only text"


def test_pandas_on_spark_prunes_like_dataframe_api(spark, registry):
    """The pandas front end must compile to the same pruned/pushed plan
    the DataFrame API would emit — proof it is a wrapper, not an engine."""
    f = _facts(spark, registry, "interop_pandas_on_spark")
    assert scan_read_columns(f) == [2], "orders scan reads (o_orderstatus, o_totalprice)"
    assert f.cartesian == 0
    assert f.exchanges <= 2


def test_bfs_levels_join_no_cartesian(spark, registry):
    """Every BFS relaxation level is an equi-join on the frontier node —
    nothing may degrade to a cartesian, and every scan stays 2-column
    (the graph is built from key pairs only)."""
    f = _facts(spark, registry, "graph_shortest_path")
    assert f.cartesian == 0
    assert all(n <= 2 for n in scan_read_columns(f)), "BFS reads key columns only"


def test_kmeans_broadcasts_centroids(spark, registry):
    """Both Lloyd assignment rounds must probe a BROADCAST centroid
    table (k x dim is tiny by construction) — the corpus side never
    shuffles for the argmin; the only shuffles are the (cluster, pos)
    mean aggregations and the final size join."""
    f = _facts(spark, registry, "llm_kmeans_lloyd")
    assert f.cartesian == 0
    assert f.broadcast_joins >= 2, "centroid tables must broadcast in every round"
    assert all(n <= 2 for n in scan_read_columns(f)), "embeddings scan pruned to (vec_id, embedding)"


def test_dq_constraints_fuses_scalar_rules(spark, registry):
    """Scalar rules fuse into one agg pass per table and referential
    rules are anti joins — no sort-merge anywhere (dim sides broadcast
    or hash at this scale), no cartesian, and the per-rule scans are
    pruned to the checked columns."""
    f = _facts(spark, registry, "dq_constraints")
    assert f.cartesian == 0 and f.sort_merge_joins == 0
    assert all(n <= 3 for n in scan_read_columns(f)), "constraint scans read only checked columns"


def test_curriculum_order_avoids_global_sort(spark, registry):
    """The curriculum schedule must come from stage-partitioned windows
    plus broadcast threshold/offset joins — never a corpus-sized
    single-partition window (bounded exchanges prove it)."""
    f = _facts(spark, registry, "llm_curriculum_order")
    assert f.cartesian == 0
    assert f.broadcast_joins >= 2, "thresholds + offsets must broadcast"
    assert f.exchanges <= 5
    assert all(n <= 2 for n in scan_read_columns(f)), "documents scan pruned to (doc_id, n_chars)"


def test_map_in_arrow_prunes_and_aggregates_jvm_side(spark, registry):
    """mapInArrow is a narrow Arrow-transport map: the scan feeding it is
    pruned to the 3 payload columns and the groupBy on top is the only
    exchange — proof the aggregation stayed JVM-side."""
    f = _facts(spark, registry, "interop_map_in_arrow")
    assert f.cartesian == 0
    assert f.exchanges <= 1
    assert scan_read_columns(f) == [3]


def test_transform_using_is_script_transformation(spark, registry):
    """The SQL TRANSFORM ... USING text must compile to Spark's script
    transformation operator (a real subprocess pipe), not silently fall
    back to a projection."""
    qs, _ = registry
    df = qs["sql_transform_using"](spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ScriptTransformation" in plan, plan[:800]


def test_interval_overlap_join_is_keyed(spark, registry):
    """The overlap join must ride the user_id equi-key (hash or
    broadcast, never a cartesian with a filtered theta): one join, both
    span scans pruned to (user_id, event_type, ts)."""
    f = _facts(spark, registry, "join_interval_overlap")
    assert f.cartesian == 0
    assert f.broadcast_joins + f.sort_merge_joins >= 1
    assert all(n <= 3 for n in scan_read_columns(f))


def test_evt_pipeline_fuses_on_one_user_exchange(spark, registry):
    """The 4-stage analytics pipeline must fuse: both window passes and
    both keyed aggregations ride ONE user_id exchange, plus the tiny
    band rollup — bounded exchanges prove no stage boundary
    materialized; events scan pruned to the 4 needed columns."""
    f = _facts(spark, registry, "evt_pipeline_e2e")
    assert f.cartesian == 0
    assert f.exchanges <= 3, "sessionize+rollups must share the user_id exchange"
    assert all(n <= 4 for n in scan_read_columns(f))


def test_dataset_card_single_expand_pass(spark, registry):
    """The 3-granularity datasheet must come from ONE rollup pass (a
    single Expand + one shuffle), scanning only the 4 source columns."""
    f = _facts(spark, registry, "llm_dataset_card")
    assert f.exchanges <= 1
    assert f.text.count("Expand") >= 1
    assert all(n <= 4 for n in scan_read_columns(f))


def test_histogram_numeric_is_single_agg(spark, registry):
    """The adaptive histogram is one two-phase aggregate — O(b) state,
    no joins, 2-column scan."""
    f = _facts(spark, registry, "agg_histogram_numeric")
    assert f.broadcast_joins == 0 and f.sort_merge_joins == 0
    assert f.exchanges <= 1
    assert scan_read_columns(f) == [2]


def test_temporal_validity_join_broadcasts_dim(spark, registry):
    """The SCD2 consumption join: versioned dim broadcast, key filter
    pushed to the orders scan, no cartesian."""
    f = _facts(spark, registry, "join_temporal_validity")
    assert f.cartesian == 0
    assert f.broadcast_joins >= 1
    assert has_pushed_filters(f)


def test_hard_negative_mining_broadcasts_anchors(spark, registry):
    """Triplet mining: the anchor panel must broadcast (probe-bounded,
    never a corpus x corpus product)."""
    f = _facts(spark, registry, "llm_hard_negative_mining")
    assert f.broadcast_joins >= 1
    assert f.cartesian == 0


def test_bit_ops_single_agg_packed_column(spark, registry):
    """Bitfield aggregation: five flags collapse to one two-phase hash
    aggregate on a single BIGINT column — no joins, one exchange, scan
    pruned to the five mask inputs + group key."""
    f = _facts(spark, registry, "agg_bit_ops")
    assert f.broadcast_joins == 0 and f.sort_merge_joins == 0
    assert f.exchanges <= 1
    assert all(n <= 6 for n in scan_read_columns(f))


def test_time_range_frame_one_keyed_shuffle(spark, registry):
    """Calendar-interval RANGE frame: one user_id exchange, a Window
    node, no joins, and the events scan pruned to the needed columns."""
    f = _facts(spark, registry, "win_time_range_frame")
    assert f.broadcast_joins == 0 and f.cartesian == 0
    assert f.exchanges == 1
    assert "Window" in f.text
    assert scan_read_columns(f) == [4]


def test_sql_file_direct_pushdown(spark, registry):
    """File-direct SQL must lose nothing at the scan layer: filter
    pushed, projection pruned to the 4 referenced columns."""
    f = _facts(spark, registry, "sql_file_direct")
    assert has_pushed_filters(f), "shipdate filter must reach the file-direct scan"
    assert scan_read_columns(f) == [4]


def test_sql_positional_ordinals_resolve_to_pruned_plan(spark, registry):
    """Ordinal sugar is parse-time only — the resolved plan still pushes
    the date filter and prunes to the 3 referenced columns."""
    f = _facts(spark, registry, "sql_positional_ordinals")
    assert has_pushed_filters(f)
    assert scan_read_columns(f) == [3]


def test_llm_html_strip_is_map_then_one_rollup(spark, registry):
    """Markup stripping is narrow codegen work: one corpus scan reading
    only (source, text), a single exchange for the per-source rollup,
    and no Python workers anywhere."""
    f = _facts(spark, registry, "llm_html_strip")
    assert scan_read_columns(f) == [2]
    assert f.exchanges == 1, "only the final per-source rollup may shuffle"
    assert "Python" not in f.text, "regex strip must stay JVM-side"


def test_llm_zipf_fit_single_corpus_pass(spark, registry):
    """The corpus is touched once (text column only); rank/regression
    run on vocabulary-scale data."""
    f = _facts(spark, registry, "llm_zipf_fit")
    assert scan_read_columns(f) == [1]
    assert f.cartesian == 0


def test_arrow_ingest_dim_broadcasts(spark, registry):
    """The Arrow-ingested config dimension must broadcast; the orders
    scan reads only the 2 referenced columns."""
    f = _facts(spark, registry, "interop_arrow_ingest")
    assert f.broadcast_joins == 1
    assert f.sort_merge_joins == 0
    assert scan_read_columns(f) == [2]


def test_survival_rollup_before_window(spark, registry):
    """K-M runs its windows on the bounded time axis, never the raw
    log: the events scan reads 3 columns and no cartesian appears."""
    f = _facts(spark, registry, "evt_survival")
    assert scan_read_columns(f) == [3]
    assert f.cartesian == 0


def test_pivot_clause_single_pass(spark, registry):
    """PIVOT with an explicit IN list must compile to one aggregate
    pass over one pruned scan — no per-value re-scans."""
    f = _facts(spark, registry, "sql_pivot_clause")
    assert len(f.scans) == 1, "explicit-IN pivot reads the fact once"
    assert scan_read_columns(f) == [3]


def test_unpivot_clause_no_rescan(spark, registry):
    """UNPIVOT melts the aggregated wide form: one scan, and the melt
    itself adds no exchange beyond the aggregation shuffle."""
    f = _facts(spark, registry, "sql_unpivot_clause")
    assert len(f.scans) == 1, "UNION-ALL spelling would scan per measure"
    assert f.exchanges <= 1


def test_user_overlap_bounded_self_join(spark, registry):
    """The overlap self-join is equi-keyed on user_id (never a
    cartesian); totals join as broadcasts."""
    f = _facts(spark, registry, "evt_user_overlap")
    assert f.cartesian == 0
    assert f.broadcast_joins >= 2


def test_embed_norm_audit_no_explode_no_python(spark, registry):
    """Norm audit folds arrays in place: no row multiplication by the
    dimension (no Generate/explode) and no Python workers."""
    f = _facts(spark, registry, "llm_embed_norm_audit")
    assert "Generate" not in f.text, "HOF fold must not explode the vectors"
    assert "Python" not in f.text
    assert f.exchanges == 1, "only the label rollup shuffles"


def test_corpus_drift_grid_is_broadcast_marginals(spark, registry):
    """The source×vocab grid comes from broadcast marginal cross joins;
    the corpus-scale side is scanned/aggregated once."""
    f = _facts(spark, registry, "llm_corpus_drift")
    assert f.cartesian == 0, "marginal cross joins must be broadcast BNLJ"
    assert f.broadcast_joins >= 2


def test_bucket_pruning_selects_subset_of_buckets(spark, registry):
    """The 3-key IN probe on the bucketBy column must open at most 3 of
    the 8 bucket files — the file-level complement of partition
    pruning for high-cardinality keys."""
    import re

    f = _facts(spark, registry, "scale_bucket_pruning")
    m = re.search(r"SelectedBucketsCount: (\d+) out of 8", f.text)
    assert m, "scan must stay bucketed (autoBucketedScan pinned off)"
    assert int(m.group(1)) <= 3


def test_limit_offset_is_take_ordered(spark, registry):
    """OFFSET n LIMIT k must plan as TakeOrderedAndProject (per-
    partition top-(n+k) + driver merge), not a global sort."""
    f = _facts(spark, registry, "sort_limit_offset")
    assert "TakeOrderedAndProject" in f.text
    assert scan_read_columns(f) == [2]


def test_range_join_grid_is_equi_keyed(spark, registry):
    """The gridded rewrite must plan as an EQUI join on the bucket key
    — never a BroadcastNestedLoop/cartesian range join."""
    f = _facts(spark, registry, "scale_range_join_grid")
    assert f.cartesian == 0
    assert "BroadcastNestedLoopJoin" not in f.text
    assert f.broadcast_joins + f.sort_merge_joins >= 1


def test_drawdown_one_exchange_for_both_windows(spark, registry):
    """The prefix-sum and prefix-max windows share (partition, order), so
    Catalyst must plan ONE exchange feeding both Window nodes before the
    final per-user aggregate."""
    f = _facts(spark, registry, "evt_drawdown")
    assert f.text.count("Window") >= 2
    assert f.exchanges <= 2, "windows share a sort order: 1 window + 1 agg exchange"


def test_winnowing_is_gram_keyed_never_doc_pairs(spark, registry):
    """Cross-doc fingerprint sharing groups by the 48-bit hash value —
    no cartesian, no doc×doc join, no Python."""
    f = _facts(spark, registry, "llm_winnowing")
    assert f.cartesian == 0
    assert "Python" not in f.text


def test_code_detect_is_pure_narrow_map(spark, registry):
    """Keyword scoring is a single narrow projection: no join, no
    shuffle at all, no Generate, no Python workers."""
    f = _facts(spark, registry, "llm_code_detect")
    assert f.exchanges == 0
    assert "Generate" not in f.text
    assert "Python" not in f.text


def test_anomaly_mad_broadcasts_stats_back(spark, registry):
    """Both per-type stats tables join back onto the event scan as
    broadcasts — the corpus-scale side must never shuffle."""
    f = _facts(spark, registry, "evt_anomaly_mad")
    assert f.broadcast_joins >= 2
    assert f.cartesian == 0


def test_preference_pairs_single_agg_no_window(spark, registry):
    """Endpoint selection is max_by/min_by in ONE hash aggregate — no
    per-group window/sort over the corpus."""
    f = _facts(spark, registry, "llm_preference_pairs")
    assert "Window" not in f.text
    assert f.exchanges == 1


def test_tokenizer_fertility_one_shuffle(spark, registry):
    """The fertility report is a single map-side-combinable aggregate:
    one exchange on lang, no joins, no Python."""
    f = _facts(spark, registry, "llm_tokenizer_fertility")
    assert f.exchanges == 1
    assert "Python" not in f.text


def test_ivf_recall_probe_bounded_ground_truth(spark, registry):
    """The recall gate's ground truth is panel×corpus with a broadcast
    panel — no all-pairs cartesian anywhere, no Python."""
    f = _facts(spark, registry, "llm_ann_ivf_recall")
    assert f.cartesian == 0
    assert f.broadcast_joins >= 2
    assert "Python" not in f.text


def test_asof_tolerance_single_window_pass(spark, registry):
    """Tolerance is a post-predicate on the as-of match: the plan stays
    one union + one windowed pass — no extra join, no range self-join."""
    f = _facts(spark, registry, "join_asof_tolerance")
    assert f.cartesian == 0
    assert f.sort_merge_joins + f.broadcast_joins == 0, "no join at all: union + window"
    assert "Window" in f.text


def test_freshness_anchor_is_scalar_broadcast(spark, registry):
    """The global anchor joins back as a 1-row broadcast (BNLJ), never a
    shuffle of the per-type side; no Python anywhere."""
    f = _facts(spark, registry, "dq_freshness")
    assert f.cartesian == 0
    assert "BroadcastNestedLoopJoin" in f.text
    assert "Python" not in f.text


def test_token_budget_single_corpus_scan(spark, registry):
    """The planner scans the corpus exactly once; globals come from an
    unpartitioned window over the bounded per-source aggregate, not a
    second scan or a join."""
    f = _facts(spark, registry, "llm_token_budget")
    assert f.cartesian == 0
    assert len(scan_read_columns(f)) == 1, "one corpus scan only"
    assert "Window" in f.text
    assert "Python" not in f.text


def test_snaive_rollup_before_lag_join(spark, registry):
    """The log collapses to daily counts BEFORE the lag self-join — the
    join runs on the tiny rollup (equi on type+day, no cartesian), and
    the two rollup branches share one corpus scan shape."""
    f = _facts(spark, registry, "evt_forecast_snaive")
    assert f.cartesian == 0
    assert f.broadcast_joins + f.sort_merge_joins >= 1
    assert "Python" not in f.text


def test_url_dedup_narrow_map_one_shuffle(spark, registry):
    """Canonicalization is codegen'd expression work (no Python workers,
    no join); the only shuffle is the final canonical-key count."""
    f = _facts(spark, registry, "llm_url_dedup")
    assert f.cartesian == 0
    assert f.broadcast_joins + f.sort_merge_joins == 0, "no join anywhere"
    assert "Python" not in f.text
    assert len(scan_read_columns(f)) == 1, "one documents scan only"


def test_badwords_filter_shuffle_free(spark, registry):
    """The lexicon gate is a pure per-row projection: zero exchanges
    besides nothing — it must fuse into the scan stage."""
    f = _facts(spark, registry, "llm_badwords_filter")
    assert f.cartesian == 0
    assert f.exchanges == 0, "verdict projection must be shuffle-free"
    assert "Python" not in f.text


def test_covisitation_caps_before_pairing(spark, registry):
    """The pair join runs on the capped (user, item) rollup: equi-keyed
    on user_id (never cartesian), and the cap's row_number window sits
    between the rollup and the join so whale users are bounded BEFORE
    fan-out."""
    f = _facts(spark, registry, "evt_covisitation")
    assert f.cartesian == 0
    assert "Window" in f.text, "top-N cap must be a window below the join"
    assert "Python" not in f.text


def test_seasonal_decompose_one_rollup_shuffle(spark, registry):
    """The event log collapses to the daily series first; every window
    (trend MA, dow seasonal, grand mean) runs over the bounded daily
    rows. No join, no Python."""
    f = _facts(spark, registry, "evt_seasonal_decompose")
    assert f.cartesian == 0
    assert f.broadcast_joins + f.sort_merge_joins == 0
    assert "Window" in f.text
    assert "Python" not in f.text


def test_gdpr_erasure_broadcasts_key_list(spark, registry):
    """The erasure list and its derived order-key list broadcast; the
    fact tables never shuffle for the markers, and each audit leg is a
    marker left-join + SUM (no anti-join double scan)."""
    f = _facts(spark, registry, "dml_gdpr_erasure")
    assert f.cartesian == 0
    assert f.broadcast_joins >= 3, "all marker joins must broadcast"
    assert f.sort_merge_joins == 0
    assert "Python" not in f.text


def test_rate_limit_two_stacked_aggs_no_window(spark, registry):
    """Bucketing is timestamp truncation inside the first hash agg —
    no window function, no join; the rollup re-aggregates the already
    burst-compressed (user, bucket) rows."""
    f = _facts(spark, registry, "evt_rate_limit")
    assert f.cartesian == 0
    assert f.broadcast_joins + f.sort_merge_joins == 0
    assert "Window" not in f.text, "fixed windows must not plan a window fn"
    assert "Python" not in f.text


def test_bm25_joins_through_inverted_index(spark, registry):
    """Queries join postings on the TERM key (broadcast query side,
    never a queries×docs product); corpus stats ride as a broadcast
    1-row plan; docfreq is NOT force-broadcast (vocabulary-sized)."""
    f = _facts(spark, registry, "llm_bm25_score")
    assert f.cartesian == 0
    assert f.broadcast_joins >= 2, "query set and stats must broadcast"
    assert "Window" in f.text, "top-k cut is a window"
    assert "Python" not in f.text


def test_mmr_unrolled_greedy_stays_jvm_side(spark, registry):
    """The K-step greedy is unrolled dataflow with localCheckpoint
    lineage truncation: the FINAL plan is a bounded union of the
    checkpointed per-step picks (no 2^K candidate-subtree blowup —
    audit_plans showed 323 re-scans before truncation), nothing drops
    to Python, and no step plans a cartesian."""
    f = _facts(spark, registry, "llm_mmr_diversify")
    assert f.cartesian == 0
    assert "Python" not in f.text
    # Truncation proof: the returned plan must NOT re-scan parquet per
    # step — the checkpointed picks surface as in-memory scans.
    assert len(scan_read_columns(f)) == 0, "lineage must be truncated"


def test_rrf_fuses_bounded_rank_lists(spark, registry):
    """Both retrieval legs are bounded-probe shapes (broadcast query/
    probe sides); the fusion join sees top-C rank lists only, and the
    whole pipeline stays JVM-side."""
    f = _facts(spark, registry, "llm_rrf_fusion")
    assert f.cartesian == 0
    assert f.broadcast_joins >= 3, "query set, stats, and probes broadcast"
    assert "Python" not in f.text


def test_ndcg_both_legs_bounded(spark, registry):
    """The metric joins two bounded rank/gain lists built from the
    proven probe shapes — broadcast query/probe sides, no cartesian,
    no Python."""
    f = _facts(spark, registry, "llm_ndcg_eval")
    assert f.cartesian == 0
    assert f.broadcast_joins >= 3
    assert "Python" not in f.text


def test_position_attribution_equi_join_on_user(spark, registry):
    """The path join is equi-keyed on user_id with the lookback as a
    residual predicate — never a cartesian — and the position windows
    run on the already path-compressed pairs."""
    f = _facts(spark, registry, "evt_attribution_position")
    assert f.cartesian == 0
    assert f.broadcast_joins + f.sort_merge_joins >= 1
    assert "Window" in f.text
    assert "Python" not in f.text


def test_benford_nine_key_agg_no_join(spark, registry):
    """Digit extraction is a narrow map; the only shuffle carries ≤9
    partial rows and the grand total is a window over those 9 — no
    join, no Python."""
    f = _facts(spark, registry, "evt_benford")
    assert f.cartesian == 0
    assert f.broadcast_joins + f.sort_merge_joins == 0
    assert "Python" not in f.text


def test_gini_single_corpus_pass(spark, registry):
    """Only the per-customer rollup touches orders; the rank window
    runs on the reduced customer dimension and the final agg is one
    row. No join in the whole plan."""
    f = _facts(spark, registry, "evt_gini")
    assert f.cartesian == 0
    assert f.broadcast_joins + f.sort_merge_joins == 0
    assert "Window" in f.text
    assert "Python" not in f.text
    assert scan_read_columns(f) == [2], "orders scan reads only (custkey, totalprice)"


def test_market_basket_equi_join_on_order(spark, registry):
    """Pairs come from an ORDER-keyed equi-self-join (never a part
    cross product); the marginal joins and the 1-row total broadcast;
    top-20 compiles to TakeOrderedAndProject."""
    f = _facts(spark, registry, "evt_market_basket")
    assert f.cartesian == 0
    assert f.broadcast_joins >= 1, "orders total must broadcast"
    assert "TakeOrderedAndProject" in f.text
    assert "Python" not in f.text


def test_acf_one_corpus_pass_then_day_dimension(spark, registry):
    """The per-day rollup is the only events-scale pass; the lag
    fan-out and self-join run on the day-level series (the lags frame
    broadcasts), and corr aggregates per lag."""
    f = _facts(spark, registry, "evt_acf")
    assert f.cartesian <= 1, "only the bounded day-series × 7-lag fan-out"
    assert f.broadcast_joins >= 1
    assert "Python" not in f.text
    # The checkpointed series surfaces as in-memory scans in the final
    # plan (the llm_mmr_diversify truncation signature): the raw events
    # parquet is scanned exactly once, inside the checkpointed rollup.
    assert len(scan_read_columns(f)) == 0, "self-join must not re-scan events"


def test_rouge_pairs_broadcast_over_grams(spark, registry):
    """The bounded eval-pair frame broadcasts over the per-doc gram
    counts; the overlap join is gram-keyed, never doc×doc."""
    f = _facts(spark, registry, "llm_rouge_overlap")
    assert f.cartesian == 0
    assert f.broadcast_joins >= 1, "pairs frame must broadcast"
    assert "Python" not in f.text


def test_kanonymity_stacked_aggs_no_join(spark, registry):
    """Two stacked map-side-combinable aggregates (QI-class → segment);
    no join, no window, one pruned scan."""
    f = _facts(spark, registry, "llm_kanonymity")
    assert f.cartesian == 0
    assert f.broadcast_joins + f.sort_merge_joins == 0
    assert "Window" not in f.text
    assert "Python" not in f.text
    assert scan_read_columns(f) == [3], "customer scan reads only the 3 QI columns"


def test_pmi_vocabulary_joins_not_forced_broadcast(spark, registry):
    """Marginal joins key on the token (vocabulary dimension) and the
    two 1-row totals broadcast; the top-k is TakeOrderedAndProject."""
    f = _facts(spark, registry, "llm_pmi_collocations")
    assert f.cartesian == 0
    assert f.broadcast_joins >= 2, "1-row totals must broadcast"
    assert "TakeOrderedAndProject" in f.text
    assert "Python" not in f.text


def test_outlier_iqr_two_pruned_passes_broadcast_fences(spark, registry):
    """Quartile pass + recount pass, both pruned to 2 columns; the
    5-row fence table broadcasts so the second pass adds no shuffle."""
    f = _facts(spark, registry, "dq_outlier_iqr")
    assert f.cartesian == 0
    assert f.broadcast_joins >= 1, "fence table must broadcast"
    assert "Python" not in f.text
    assert scan_read_columns(f) == [2, 2], "both passes prune to 2 columns"


def test_skew_diagnose_single_corpus_pass(spark, registry):
    """One per-key rollup feeds both branches; stats frame broadcasts;
    no Python."""
    f = _facts(spark, registry, "scale_skew_diagnose")
    assert f.cartesian <= 1, "1-row stats × top-5 fan-out only"
    assert f.broadcast_joins + f.cartesian >= 1
    assert "Python" not in f.text


def test_power_analysis_single_agg_no_join(spark, registry):
    """One map-side-combinable aggregate on event_type; all arithmetic
    per-group constant work. No join, no window."""
    f = _facts(spark, registry, "evt_power_analysis")
    assert f.cartesian == 0
    assert f.broadcast_joins + f.sort_merge_joins == 0
    assert "Window" not in f.text
    assert "Python" not in f.text
    assert scan_read_columns(f) == [2], "events scan reads only (event_type, value)"


def test_nearest_event_equi_join_then_argmin_window(spark, registry):
    """Candidates come from a USER-keyed equi-join (never a cross
    product); the argmin is a window over pair-compressed rows."""
    f = _facts(spark, registry, "join_nearest_event")
    assert f.cartesian == 0
    assert f.broadcast_joins + f.sort_merge_joins >= 1
    assert "Window" in f.text
    assert "Python" not in f.text


def test_pq_codebook_joins_are_subspace_equi(spark, registry):
    """Every codebook join is EQUI on the subspace id against a
    broadcast M·K table — a subvector never scores against another
    subspace's codewords; the argmin windows partition on (vec, m)."""
    f = _facts(spark, registry, "llm_ann_pq")
    assert f.cartesian == 0
    assert f.broadcast_joins >= 2, "both Lloyd rounds broadcast the codebook"
    assert "Window" in f.text
    assert "Python" not in f.text


def test_concurrency_sweep_single_total_order_window(spark, registry):
    """Sessionization windows are user-keyed; the only total-order
    window runs on session boundaries (2 rows per session)."""
    f = _facts(spark, registry, "evt_concurrency_sweep")
    assert f.cartesian == 0
    assert f.broadcast_joins + f.sort_merge_joins == 0
    assert "Window" in f.text
    assert "Python" not in f.text


def test_new_vs_returning_user_keyed_join(spark, registry):
    """Both reduced frames key on user_id; no cartesian, no Python;
    scans prune to the two needed columns."""
    f = _facts(spark, registry, "evt_new_vs_returning")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert scan_read_columns(f) == [2, 2], "both passes read only (user_id, ts)"


def test_prompt_render_is_narrow_map(spark, registry):
    """Render + measure + hash is a pure map: zero exchanges."""
    f = _facts(spark, registry, "llm_prompt_template_render")
    assert f.exchanges == 0, "template render must not shuffle"
    assert "Python" not in f.text
    assert scan_read_columns(f) == [4]


def test_pq_recall_codes_join_broadcast_partials(spark, registry):
    """The ADC leg joins the integer code stream against the broadcast
    probe partial-distance table; the exact leg broadcasts the probe
    panel — never a corpus×corpus product."""
    f = _facts(spark, registry, "llm_ann_pq_recall")
    assert f.cartesian == 0
    assert f.broadcast_joins >= 3
    assert "Python" not in f.text


def test_label_propagation_checkpointed_edges(spark, registry):
    """The edge list is checkpointed once (pagerank cached-edges idiom)
    so the per-round joins re-read memory — the final plan holds no
    parquet scans; no cartesian anywhere in the unrolled loop."""
    f = _facts(spark, registry, "graph_label_propagation")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert len(scan_read_columns(f)) == 0, "rounds must not re-scan parquet"


def test_interarrival_one_window_one_agg(spark, registry):
    """A (user, type)-keyed LAG then a 5-key rollup — no join."""
    f = _facts(spark, registry, "evt_interarrival")
    assert f.cartesian == 0
    assert f.broadcast_joins + f.sort_merge_joins == 0
    assert "Window" in f.text
    assert "Python" not in f.text
    assert scan_read_columns(f) == [4], "ts, event_id, user_id, event_type"


def test_funnel_steps_user_keyed_chain(spark, registry):
    """Every stage joins on the user key with ordering residuals; the
    scorecard combines three 1-row aggregates via broadcast."""
    f = _facts(spark, registry, "evt_funnel_steps")
    assert f.cartesian <= 2, "only the 1-row scorecard combines"
    assert "Python" not in f.text


def test_heatmap_tiny_key_agg(spark, registry):
    """168-key map-side-combinable aggregate — no join, no window."""
    f = _facts(spark, registry, "evt_heatmap_dow_hour")
    assert f.cartesian == 0
    assert f.broadcast_joins + f.sort_merge_joins == 0
    assert "Window" not in f.text
    assert "Python" not in f.text
    assert scan_read_columns(f) == [2]


def test_shipping_latency_single_fact_join(spark, registry):
    """One order-keyed equi-join, both scans pruned, then a 5-key
    rollup."""
    f = _facts(spark, registry, "evt_shipping_latency")
    assert f.cartesian == 0
    assert f.broadcast_joins + f.sort_merge_joins >= 1
    assert "Python" not in f.text
    assert sorted(scan_read_columns(f)) == [2, 3]


def test_lsh_tuning_reuses_one_signature_table(spark, registry):
    """The checkpointed signature table feeds all configs — the final
    plan re-reads memory, not parquet; candidates come from equi-joins
    (the config fan-out is the only intentional broadcast cross)."""
    f = _facts(spark, registry, "llm_lsh_tuning_curve")
    assert f.cartesian <= 1, "only the bounded sig × 3-config fan-out"
    assert "Python" not in f.text
    assert len(scan_read_columns(f)) == 0, "configs must reuse the checkpointed sig"


def test_ngram_novelty_gram_keyed_join(spark, registry):
    """Docfreq joins on the gram dimension without a forced broadcast;
    the checkpointed gram frame keeps documents to one scan."""
    f = _facts(spark, registry, "llm_ngram_novelty")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert len(scan_read_columns(f)) == 0


def test_holt_is_grouped_map_arrow(spark, registry):
    """The recursion runs as ONE grouped-map Arrow stage over the
    pre-aggregated day series — the Python stage sees series rows, not
    raw events."""
    f = _facts(spark, registry, "evt_holt_linear")
    assert f.cartesian == 0
    assert "FlatMapGroupsInPandas" in f.text or "Python" in f.text
    assert scan_read_columns(f) == [3], "events scan prunes to (type, ts, value)"


def test_cluster_purity_label_join_copartitioned(spark, registry):
    """The label join keys on vec_id; the majority pick windows over
    the tiny k×labels cell matrix; everything upstream is the proven
    Lloyd broadcast shape."""
    f = _facts(spark, registry, "llm_cluster_purity")
    assert f.cartesian == 0
    assert f.broadcast_joins >= 2, "Lloyd centroid tables broadcast"
    assert "Python" not in f.text


def test_price_elasticity_dim_join_then_brand_agg(spark, registry):
    """Part dim join (AQE-broadcastable) then a brand-keyed combinable
    aggregate; scans pruned."""
    f = _facts(spark, registry, "evt_price_elasticity")
    assert f.cartesian == 0
    assert f.broadcast_joins + f.sort_merge_joins >= 1
    assert "Python" not in f.text
    assert sorted(scan_read_columns(f)) == [2, 3]


def test_containment_blocks_on_rare_shingles(spark, registry):
    """Candidates come from the rare-shingle equi-join (never doc×doc);
    exact scoring broadcasts the checkpointed shingle-set frame."""
    f = _facts(spark, registry, "llm_shingle_containment")
    assert f.cartesian == 0
    assert f.broadcast_joins >= 2, "shingle-set sides must broadcast"
    assert "Python" not in f.text
    assert len(scan_read_columns(f)) == 0, "checkpointed shingles: one documents scan"


def test_corr_matrix_single_combinable_agg(spark, registry):
    """The 6-pair correlation matrix is ONE two-phase hash aggregate over
    a 4-column pruned scan; the stack() pivot adds no join or shuffle."""
    f = _facts(spark, registry, "agg_corr_matrix")
    assert f.cartesian == 0
    assert f.sort_merge_joins == 0 and f.broadcast_joins == 0
    assert f.exchanges <= 1, "global agg: one final-merge exchange at most"
    assert "Python" not in f.text
    assert scan_read_columns(f) == [4], "lineitem scan pruned to the 4 measures"


def test_higher_moments_one_combinable_agg(spark, registry):
    """Skew/kurtosis from power sums: one two-phase hash aggregate over a
    2-column pruned scan, moment algebra on the per-group 5-tuple only."""
    f = _facts(spark, registry, "agg_higher_moments")
    assert f.cartesian == 0
    assert f.sort_merge_joins == 0 and f.broadcast_joins == 0
    assert f.exchanges <= 1, "grouped agg: the single partial->final exchange"
    assert "Python" not in f.text
    assert scan_read_columns(f) == [2], "lineitem scan pruned to flag + quantity"


def test_mean_family_one_agg_pushed_positivity(spark, registry):
    """All four Pythagorean means in one combinable aggregate; the
    positivity guard reaches the parquet scan as a pushed filter."""
    f = _facts(spark, registry, "agg_mean_family")
    assert f.cartesian == 0
    assert f.sort_merge_joins == 0 and f.broadcast_joins == 0
    assert f.exchanges <= 1
    assert has_pushed_filters(f), "l_quantity > 0 must reach the scan"
    assert scan_read_columns(f) == [2], "lineitem scan pruned to flag + quantity"
    assert "Python" not in f.text


def test_materialized_view_rewrite_scans_mv_not_fact(spark, registry):
    """meta_materialized_view: the monthly rollup must be answered FROM
    THE STORED MV (partial-aggregate table), never the base orders
    parquet — the plan-level proof that the MV rewrite happened."""
    f = _facts(spark, registry, "meta_materialized_view")
    locs = " ".join(s.get("Location", "") for s in f.scans)
    assert "hts_mv_daily_rev" in locs, "plan must scan the stored MV"
    assert "orders.parquet" not in locs, "rewrite must not touch the fact table"
    assert len(f.scans) == 1, "one MV scan answers the whole rollup"


def test_incremental_minhash_probes_index_no_cartesian(spark, registry):
    """llm_incremental_minhash: the batch must probe the band index via
    an equi-join on (band, band_key) — never batch×corpus."""
    f = _facts(spark, registry, "llm_incremental_minhash")
    assert f.cartesian == 0


def test_aqe_demotes_smj_to_broadcast(spark, registry):
    """scale_aqe_join_switch: under AQE_JOIN_SWITCH_CONFS the static
    plan must carry SortMergeJoin (no broadcast allowed statically) and
    the EXECUTED adaptive plan must have demoted it to a
    BroadcastHashJoin from runtime shuffle statistics."""
    from hive_test_spark.operators.scale import (
        AQE_JOIN_SWITCH_CONFS,
        aqe_switch_join_frame,
    )

    with scoped_confs(spark, AQE_JOIN_SWITCH_CONFS):
        df = aqe_switch_join_frame(spark, SF_DIR)
        static = df._jdf.queryExecution().sparkPlan().toString()
        assert "SortMergeJoin" in static, static[:1500]
        assert "BroadcastHashJoin" not in static
        rows = df.collect()
        assert len(rows) >= 1
        executed = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in executed, executed[:2000]


def test_bootstrap_ci_no_resample_shuffle(spark, registry):
    """evt_bootstrap_ci: the Poisson bootstrap must be weight-based —
    replicate expansion happens AFTER the user-keyed rollup (explode on
    the reduced table), weights are JVM-side md5 expressions, and the
    only joins are the two 1-row broadcast attaches. No cartesian, no
    Python, no per-row resampling shuffle of the corpus."""
    f = _facts(spark, registry, "evt_bootstrap_ci")
    assert f.cartesian == 0
    assert f.sort_merge_joins == 0
    assert f.broadcast_joins == 1, "point x ci: one 1-row broadcast attach"
    assert "Python" not in f.text
    assert scan_read_columns(f) == [2, 2], "events scans pruned to (user_id, value)"


def test_ks_test_value_dimension_windows_only(spark, registry):
    """evt_ks_test: ECDF windows run over the DISTINCT-VALUE dimension
    (post-rollup), the totals ride broadcast attaches, and the corpus
    scans are pruned to the two needed columns."""
    f = _facts(spark, registry, "evt_ks_test")
    assert f.cartesian == 0
    assert f.sort_merge_joins == 0
    assert f.broadcast_joins == 2, "tot and dmax attach as 1-row broadcasts"
    assert "Python" not in f.text
    assert scan_read_columns(f) == [2, 2, 2], "(event_type, value) only"


def test_heaps_law_doc_keyed_join_pruned_scans(spark, registry):
    """llm_heaps_law: the token->offset attach is a doc-keyed equi-join
    (broadcast: offsets live on the doc dimension), never token×doc; the
    regression is one combinable aggregate. The doc-length frame is
    localCheckpoint-materialized (it feeds the offset window AND the
    corpus total), so exactly ONE documents scan remains — the token
    explode, pruned to (doc_id, text)."""
    f = _facts(spark, registry, "llm_heaps_law")
    assert f.cartesian == 0
    assert f.sort_merge_joins == 0
    assert f.broadcast_joins == 2, "doc-offset join + total-tokens attach"
    assert "Python" not in f.text
    assert sorted(scan_read_columns(f)) == [2]


def test_mann_whitney_value_dimension_only(spark, registry):
    """evt_mann_whitney: like the KS twin — one rollup to the
    distinct-value dimension, midrank window over that dimension, no
    joins at all (the whole statistic is one reduction chain)."""
    f = _facts(spark, registry, "evt_mann_whitney")
    assert f.cartesian == 0
    assert f.sort_merge_joins == 0 and f.broadcast_joins == 0
    assert "Python" not in f.text
    assert scan_read_columns(f) == [2], "(event_type, value) only"


def test_chi2_grid_is_marginal_broadcasts(spark, registry):
    """evt_chi2_cramers: the complete r×c grid builds from broadcast
    marginal cross joins on the bounded contingency dimension — never
    corpus×corpus; scans prune to (event_type, ts)."""
    f = _facts(spark, registry, "evt_chi2_cramers")
    assert f.cartesian == 0
    assert f.sort_merge_joins == 0
    assert f.broadcast_joins >= 3, "ct, n and the final attach ride broadcasts"
    assert "Python" not in f.text
    assert set(scan_read_columns(f)) == {2}


def test_referential_audit_key_projected_anti_joins(spark, registry):
    """dq_referential: every edge is a key-projected anti join — all
    child/parent scans read EXACTLY ONE column, and no edge falls back
    to a cartesian."""
    f = _facts(spark, registry, "dq_referential")
    assert f.cartesian == 0
    assert set(scan_read_columns(f)) == {1}, "key columns only on every scan"
    assert "Python" not in f.text


def test_degree_distribution_two_rollups_broadcast_fit(spark, registry, monkeypatch):
    """graph_degree_distribution: degree count + histogram count, the
    1-row fit attached by broadcast; scans prune to the join/key pairs
    (in the job that materializes the degrees)."""
    plans = _facts_with_build(spark, registry, "graph_degree_distribution", monkeypatch)
    assert all(f.cartesian == 0 and "Python" not in f.text for f in plans)
    cols = [c for f in plans for c in scan_read_columns(f)]
    assert cols == [2, 2, 2, 2], "(o_orderkey,o_custkey)/(l_orderkey,l_suppkey)"


def test_common_neighbors_wedge_join_broadcast_degrees(spark, registry, monkeypatch):
    """graph_common_neighbors: the wedge join is a shared-customer
    equi-join (never supplier×supplier); supplier degrees ride
    broadcasts; the hub cap is applied before the quadratic term (in
    the job that materializes the kept edges, where the scans are)."""
    plans = _facts_with_build(spark, registry, "graph_common_neighbors", monkeypatch)
    assert all(p.cartesian == 0 and "Python" not in p.text for p in plans)
    assert plans[0].broadcast_joins >= 2, "both degree attaches broadcast"
    assert [c for p in plans for c in scan_read_columns(p)] == [2, 2, 2, 2]


def test_grpo_advantage_single_key_family(spark, registry, monkeypatch):
    """llm_grpo_advantage: one (S,Q) rollup keyed on prompt_id joined
    straight back on the same key — no second key family, no Python.
    The documents scan runs in the job that materializes the rollouts."""
    plans = _facts_with_build(spark, registry, "llm_grpo_advantage", monkeypatch)
    assert all(f.cartesian == 0 and "Python" not in f.text for f in plans)
    cols = [c for f in plans for c in scan_read_columns(f)]
    assert cols == [2], "(doc_id, text) only"


def test_bayes_ab_grid_is_broadcast_epilogue(spark, registry):
    """evt_bayes_ab: the event log collapses to a 1-row count vector;
    the 256-point quadrature rides broadcast cross joins (BNLJ against
    1-row sides, never CartesianProduct) and one bounded window."""
    f = _facts(spark, registry, "evt_bayes_ab")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert scan_read_columns(f) == [2], "(user_id, value) only"


def test_funnel_latency_single_user_key_family(spark, registry):
    """evt_funnel_latency: the step chain joins and aggregates on
    user_id only (the evt_funnel_steps shape) — no cartesian, no
    Python, events scan pruned to the 3 needed columns."""
    f = _facts(spark, registry, "evt_funnel_latency")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert set(scan_read_columns(f)) == {3}, "(user_id, event_type, ts)"


def test_roc_auc_prefix_scan_over_score_grid(spark, registry):
    """llm_roc_auc: one combinable rollup keyed on the rounded score,
    then an ordered pass over the DISTINCT-score grid — never a
    corpus-wide sort; documents scan prunes to text only."""
    f = _facts(spark, registry, "llm_roc_auc")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert set(scan_read_columns(f)) == {1}, "(text) only"


def test_bpe_roundtrip_pure_map_single_reduce(spark, registry):
    """llm_bpe_roundtrip: codegen'd string map + one 1-row rollup —
    zero joins of any kind, zero Python."""
    f = _facts(spark, registry, "llm_bpe_roundtrip")
    assert f.cartesian == 0
    assert f.broadcast_joins == 0 and f.sort_merge_joins == 0
    assert "Python" not in f.text
    assert set(scan_read_columns(f)) == {1}, "(text) only"


def test_retention_fit_user_keyed_with_broadcast_grid(spark, registry):
    """evt_retention_fit: day-k membership joins user-keyed against a
    broadcast 14-row grid; the OLS epilogue rides 1-row broadcasts —
    no cartesian, events scan pruned to (user_id, ts)."""
    f = _facts(spark, registry, "evt_retention_fit")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert set(scan_read_columns(f)) == {2}, "(user_id, ts) only"


def test_nprobe_curve_routed_never_corpus_pairs(spark, registry):
    """llm_ann_nprobe_curve: routing is probes x broadcast centroids;
    every sweep point searches only routed cells (label equi-joins) —
    no cartesian, no Python."""
    f = _facts(spark, registry, "llm_ann_nprobe_curve")
    assert f.cartesian == 0
    assert f.broadcast_joins >= 3, "centroid routing + candidate attaches"
    assert "Python" not in f.text


def test_pack_curve_one_corpus_pass_broadcast_grid(spark, registry):
    """llm_pack_efficiency_curve: one narrow token-count scan crossed
    with the broadcast 3-row ctx grid; the packed side rides the 8-row
    shard rollup — no cartesian, no Python, text-only scans."""
    f = _facts(spark, registry, "llm_pack_efficiency_curve")
    assert f.cartesian == 0
    assert "Python" not in f.text
    # The unpacked branch needs only text (token counts); the packed
    # branch additionally needs doc_id for the shard key — pruning
    # should give exactly those shapes.
    assert sorted(scan_read_columns(f)) == [1, 2], "text-only + (doc_id, text)"


def test_soft_dedup_weights_same_key_joins(spark, registry):
    """llm_soft_dedup_weights: cluster sizes are one combinable count
    on cluster_id joined back same-key, metadata attaches on doc_id —
    no cartesian, no Python, documents scan pruned to (doc_id, source)
    beyond the checkpointed CC labels."""
    f = _facts(spark, registry, "llm_soft_dedup_weights")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert 2 in set(scan_read_columns(f)), "(doc_id, source) metadata scan"


def test_cluster_density_audit_bounded_joins(spark, registry):
    """llm_cluster_density_audit: pair-homing is a doc_id equi-join of
    the (already LSH-bounded) verified pairs against the labels, the
    rollup runs on the tiny cluster-size domain — no cartesian, no
    Python anywhere in the chain."""
    f = _facts(spark, registry, "llm_cluster_density_audit")
    assert f.cartesian == 0
    assert "Python" not in f.text


def test_sql_scripting_checkpointed_scalar_result(spark, registry):
    """sql_scripting: the script's loop statements execute at call time
    (driver-side control flow around distributed counts); the returned
    frame is the checkpointed 1-row result — no joins, no Python, no
    cartesian, and no session-variable references left in the plan."""
    qs, _ = registry
    df = qs["sql_scripting"](spark, SF_DIR)
    f = analyze(df)
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert f.exchanges == 0, "checkpointed scalar result must not shuffle"
    row = df.collect()[0]
    assert row["minimal"], "loop must stop at the FIRST satisfying threshold"
    assert row["n_above"] <= 150 < (row["n_above_prev"] or 151)


def test_database_lifecycle_zero_col_count_scan(spark, registry):
    """meta_database_lifecycle: the one distributed fact is a count over
    the path-read external table — pruned to zero columns; everything
    else is literal fact rows. No Python, no cartesian."""
    f = _facts(spark, registry, "meta_database_lifecycle")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert all(c == 0 for c in scan_read_columns(f)), "count() prunes all columns"


def test_cache_table_pruned_scan_both_phases(spark, registry):
    """meta_cache_table: both phases aggregate the same 2-column
    lineitem slice — the returnflag filter reaches the scan and no
    phase widens the read; cache/uncache is pure catalog lifecycle."""
    f = _facts(spark, registry, "meta_cache_table")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert has_pushed_filters(f), "l_returnflag='R' must reach the scan"
    assert set(scan_read_columns(f)) == {2}, "phase sink + pruned lineitem"


def test_geo_grid_join_is_equi_blocked(spark, registry):
    """join_geo_grid: the radius join must plan as an EQUI join on the
    cell id (hash or broadcast), never a cartesian — the blocking is
    the whole point; the haversine is a post-join filter."""
    f = _facts(spark, registry, "join_geo_grid")
    assert f.cartesian == 0, "grid blocking must avoid the cross product"
    assert "Python" not in f.text


def test_modularity_broadcasts_node_attributes(spark, registry):
    """graph_modularity: the two node-attribute dimension joins
    (customer/supplier nation labels) broadcast; the only fact-sized
    work is the orders x lineitem edge derivation."""
    f = _facts(spark, registry, "graph_modularity")
    assert f.cartesian == 0
    assert f.broadcast_joins >= 3, "dims + 1-row edge total must broadcast"


def test_drift_psi_single_fact_scan_shape(spark, registry):
    """dq_drift_psi: the fact contributes one 2-column (date, price)
    scan feeding a map-side-combinable (year, bin) count; the grid /
    smoothing / reference joins run on ~70 rows."""
    f = _facts(spark, registry, "dq_drift_psi")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert min(scan_read_columns(f)) <= 2, "fact scan pruned to 2 columns"


def test_theil_sen_pair_join_keyed_on_series(spark, registry):
    """evt_theil_sen: the pairwise-slope join is EQUI on event_type
    (calendar-bounded per series) and the tiny slope frame broadcasts
    back; no cartesian, no Python."""
    f = _facts(spark, registry, "evt_theil_sen")
    assert f.cartesian == 0
    assert f.broadcast_joins >= 1, "per-series slope medians broadcast back"
    assert "Python" not in f.text


def test_pca_power_iter_corpus_never_shuffles(spark, registry):
    """llm_pca_power_iter: every iteration reduces to 64-group
    aggregates — the corpus-sized frame itself is never exchange-keyed
    (all joins against 1-row iterate/norm frames are broadcast)."""
    f = _facts(spark, registry, "llm_pca_power_iter")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert f.broadcast_joins >= 4, "iterate/norm frames join via broadcast"


def test_ivfpq_equi_joins_only(spark, registry):
    """llm_ann_ivfpq: routing is a broadcast of the centroid table;
    ADC is equi-keyed on (cell) then (probe, m, code); no cartesian
    anywhere in the compound plan."""
    f = _facts(spark, registry, "llm_ann_ivfpq")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert f.broadcast_joins >= 2


def test_dp_counts_one_aggregate(spark, registry):
    """llm_dp_counts: one map-side-combinable (lang, source) count; the
    noise is a pure projection — no joins at all."""
    f = _facts(spark, registry, "llm_dp_counts")
    assert f.cartesian == 0
    assert f.broadcast_joins == 0 and f.sort_merge_joins == 0
    assert "Python" not in f.text


def test_holt_winters_single_series_shuffle(spark, registry):
    """evt_holt_winters: the only corpus-sized shuffles are the daily
    rollup and the series-keyed grouped-map; the recursion itself is
    one Arrow batch per series."""
    f = _facts(spark, registry, "evt_holt_winters")
    assert f.cartesian == 0
    assert "FlatMapGroupsInPandas" in f.text or "Python" in f.text


def test_codec_tradeoff_projection_pruned(spark, registry):
    """scale_codec_tradeoff: every leg (source agg + three re-reads)
    aggregates a pruned slice; no joins beyond the broadcast 1-row
    source totals, no Python."""
    f = _facts(spark, registry, "scale_codec_tradeoff")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert f.sort_merge_joins == 0


def test_pacf_is_scalar_epilogue(spark, registry):
    """evt_pacf: one corpus pass (the evt_acf day rollup); the
    Durbin-Levinson chain runs on a ONE-ROW frame — no extra joins of
    fact-sized frames, no Python."""
    f = _facts(spark, registry, "evt_pacf")
    assert f.cartesian == 0
    assert "Python" not in f.text


def test_seasonality_strength_two_aggs_on_day_frame(spark, registry):
    """evt_seasonality_strength: the decompose day-frame feeds two
    variance aggregates — day-dimension-sized work after the single
    date-keyed rollup."""
    f = _facts(spark, registry, "evt_seasonality_strength")
    assert f.cartesian == 0
    assert "Python" not in f.text


def test_forecast_backtest_single_window_pass(spark, registry):
    """evt_forecast_backtest: one daily rollup, one series-keyed window
    pass computing all three predictors, a 3x unpivot, and a tiny agg —
    no joins, no Python."""
    f = _facts(spark, registry, "evt_forecast_backtest")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert f.broadcast_joins == 0 and f.sort_merge_joins == 0


def test_clustering_coefficient_shares_copurchase_graph(spark, registry):
    """graph_clustering_coefficient: support-filtered edge list feeds
    both the degree count and the bounded wedge join; no cartesian,
    no Python."""
    f = _facts(spark, registry, "graph_clustering_coefficient")
    assert f.cartesian == 0
    assert "Python" not in f.text


def test_entropy_over_time_single_corpus_pass(spark, registry):
    """evt_entropy_over_time: one (day, type) count is the only
    corpus-sized work; the grid/LAG/reduction run on calendar x enum
    rows with the type frame broadcast."""
    f = _facts(spark, registry, "evt_entropy_over_time")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert f.broadcast_joins >= 1


def test_ivfpq_recall_pair_keyed_join(spark, registry):
    """llm_ann_ivfpq_recall: the ADC leg is the serving plan verbatim;
    the exact leg broadcasts the bounded probe panel; the recall join
    is pair-keyed. No cartesian."""
    f = _facts(spark, registry, "llm_ann_ivfpq_recall")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert f.broadcast_joins >= 2


def test_bm25_tuning_reuses_index_frames(spark, registry):
    """llm_bm25_tuning_curve: each grid point re-scores the SAME
    checkpointed postings/doclen/query frames (index built once); no
    cartesian, no Python. The distinct checkpoint-RDD count proves the
    hoist: 3 shared frames (tf/dlen/queries), not 3-per-grid-point."""
    import re

    f = _facts(spark, registry, "llm_bm25_tuning_curve")
    assert f.cartesian == 0
    assert "Python" not in f.text
    rdd_ids = set(re.findall(r"MapPartitionsRDD\[(\d+)\] at localCheckpoint", f.text))
    assert 0 < len(rdd_ids) <= 3, (
        f"index frames must be built once and shared: {sorted(rdd_ids)}"
    )


def test_did_event_study_one_aggregate(spark, registry):
    """evt_did_event_study: one (rel_week, treated) aggregate is the
    only corpus pass; baseline + epilogue run on |weeks| rows with the
    1-row pre-gap broadcast."""
    f = _facts(spark, registry, "evt_did_event_study")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert f.broadcast_joins >= 1


def test_simhash_hamming_band_join_no_arrays(spark, registry):
    """llm_simhash_hamming: candidates come from the (band, bval)
    equi-self-join over the 16-byte fingerprint table; verification is
    integer bit_count on the joined row — no cartesian, no Python, and
    no token-array rejoin (the whole point vs minhash verify)."""
    f = _facts(spark, registry, "llm_simhash_hamming")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert "array_intersect" not in f.text


def test_hits_iterates_with_broadcast_norms(spark, registry):
    """graph_hits: each half-step is one equi-join of the checkpointed
    pair list against the score frame plus a 1-row broadcast norm; no
    cartesian, no Python."""
    f = _facts(spark, registry, "graph_hits")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert f.broadcast_joins >= 2


def test_ccf_broadcasts_lag_spine(spark, registry):
    """evt_ccf: the 15-row lag spine broadcasts against the daily frame
    and each lag's pairing is an equi-join on the shifted date; one
    corpus rollup, no cartesian, no Python."""
    f = _facts(spark, registry, "evt_ccf")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert f.broadcast_joins >= 1


def test_granger_single_corpus_pass(spark, registry):
    """evt_granger: one (type, day) rollup is the only corpus work;
    each direction is a 1-row moment reduction + scalar epilogue. No
    cartesian, no Python."""
    f = _facts(spark, registry, "evt_granger")
    assert f.cartesian == 0
    assert "Python" not in f.text


def test_assortativity_no_window_no_cartesian(spark, registry):
    """graph_assortativity: degree lookups are equi-joins on node id
    and the correlation is a 1-row co-moment reduction — no global
    window, no cartesian, no Python."""
    f = _facts(spark, registry, "graph_assortativity")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert "Window" not in f.simple


def test_winsorized_mean_broadcasts_quantiles(spark, registry):
    """evt_winsorized_mean: the 5-row quantile frame broadcasts back
    onto the fact side — the events table is never shuffled for the
    join."""
    f = _facts(spark, registry, "evt_winsorized_mean")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert f.broadcast_joins >= 1


def test_shuffle_hash_hint_is_honored(spark, registry):
    """join_shuffle_hash: the SHUFFLE_HASH hint must pin
    ShuffledHashJoin — the third physical strategy beside the asserted
    broadcast and sort-merge ops."""
    f = _facts(spark, registry, "join_shuffle_hash")
    assert "ShuffledHashJoin" in f.text
    assert f.sort_merge_joins == 0
    assert f.cartesian == 0


def test_kruskal_wallis_value_dimension_window(spark, registry):
    """evt_kruskal_wallis: the prefix-sum window runs over the distinct
    VALUE dimension (two map-side rollups are the only corpus passes);
    epilogues are 1-row broadcasts. No cartesian, no Python."""
    f = _facts(spark, registry, "evt_kruskal_wallis")
    assert f.cartesian == 0
    assert "Python" not in f.text


def test_levene_broadcasts_medians(spark, registry):
    """evt_levene: the 5-row median frame broadcasts onto the fact
    side; moment sums reduce map-side. No cartesian, no Python, no
    window at all."""
    f = _facts(spark, registry, "evt_levene")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert f.broadcast_joins >= 1
    assert "Window" not in f.simple


def test_rank_rbo_shares_index_frames(spark, registry):
    """llm_rank_rbo: both config legs score the SAME checkpointed index
    frames (the tuning-curve hoist — <= 3 distinct checkpoint RDDs);
    the RBO fold is one pair-keyed equi-join, no cartesian, no
    Python, no per-depth explode."""
    import re

    f = _facts(spark, registry, "llm_rank_rbo")
    assert f.cartesian == 0
    assert "Python" not in f.text
    rdd_ids = set(re.findall(r"MapPartitionsRDD\[(\d+)\] at localCheckpoint", f.text))
    assert 0 < len(rdd_ids) <= 3, sorted(rdd_ids)


def test_spearman_rank_dimension_only(spark, registry):
    """evt_spearman: the (type, day) rollup is the only corpus pass;
    midranks window over the distinct-value dimension and join back
    broadcast-size. No cartesian, no Python."""
    f = _facts(spark, registry, "evt_spearman")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert f.broadcast_joins >= 2


def test_mrr_postings_join_never_queries_x_docs(spark, registry):
    """llm_mrr: the lexical leg is the shared postings equi-join and
    the dense relevance leg broadcasts the probe panel — no cartesian
    blowup, no Python."""
    f = _facts(spark, registry, "llm_mrr")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert f.broadcast_joins >= 2


def test_benjamini_hochberg_single_fact_pass(spark, registry):
    """evt_benjamini_hochberg: ONE map-side-combinable pass over the
    fact table (totals derive from the per-type decimal sums); the BH
    windows run over the 5-row hypothesis family. No cartesian beyond
    the 1-row totals broadcast, no Python."""
    f = _facts(spark, registry, "evt_benjamini_hochberg")
    assert "Python" not in f.text
    assert (
        sum(1 for s in f.scans if "events" in s.get("Location", "")) == 1
    )


def test_chao1_no_joins_no_windows(spark, registry):
    """llm_chao1_vocab: explode + two map-side-combinable aggregates
    per census unit — no joins, no windows, no Python."""
    f = _facts(spark, registry, "llm_chao1_vocab")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert "Window" not in f.simple
    assert f.sort_merge_joins == 0 and f.broadcast_joins == 0


def test_friedman_blocks_partition_the_rank_window(spark, registry):
    """evt_friedman_test: the midrank window is PARTITIONED BY DAY
    (blocks parallelize); one (type, day) rollup is the only corpus
    work. No cartesian, no Python."""
    f = _facts(spark, registry, "evt_friedman_test")
    assert f.cartesian == 0
    assert "Python" not in f.text


def test_kendall_pair_join_is_day_bounded(spark, registry):
    """evt_kendall_tau: the pair census self-joins the CALENDAR frame
    (broadcast, day < day theta join) — the corpus is rolled up once;
    no Python."""
    f = _facts(spark, registry, "evt_kendall_tau")
    assert "Python" not in f.text
    assert f.broadcast_joins >= 1


def test_runs_test_single_rollup(spark, registry):
    """evt_runs_test: one day rollup, a broadcast median, one bounded
    LAG window, 1-row epilogue. No cartesian blowup, no Python."""
    f = _facts(spark, registry, "evt_runs_test")
    assert "Python" not in f.text
    assert f.broadcast_joins >= 1


def test_page_hinkley_rollup_before_window(spark, registry):
    """evt_page_hinkley: the log collapses to (type, day) once; every
    later stage is a running window over the bounded per-series daily
    frame. No joins, no cartesian, no Python."""
    f = _facts(spark, registry, "evt_page_hinkley")
    assert f.cartesian == 0
    assert "Python" not in f.text
    assert f.sort_merge_joins == 0 and f.broadcast_joins == 0


def test_hurst_rollup_before_chunk_windows(spark, registry):
    """evt_hurst_exponent: one day rollup; chunk windows run over the
    bounded calendar frame; the 3-point log-log fit is a broadcast
    epilogue. No Python, no cartesian blowup."""
    f = _facts(spark, registry, "evt_hurst_exponent")
    assert "Python" not in f.text
    assert f.broadcast_joins >= 1


def test_ljung_box_composes_verified_acf(spark, registry):
    """evt_ljung_box: consumes the registered evt_acf frame (one
    date-rollup corpus pass via its checkpoint); the Q ladder is a
    7-row running-window epilogue with a broadcast criticals join.
    No cartesian blowup, no Python."""
    f = _facts(spark, registry, "evt_ljung_box")
    assert "Python" not in f.text
    assert f.broadcast_joins >= 1
    assert f.cartesian == 0


def test_mann_kendall_census_is_day_bounded(spark, registry):
    """evt_mann_kendall: one (type, day) rollup corpus pass; the S pair
    census is a broadcast theta self-join over the calendar frame and
    the tie term an integer rollup — no cartesian, no Python."""
    f = _facts(spark, registry, "evt_mann_kendall")
    assert "Python" not in f.text
    assert f.broadcast_joins >= 1
    assert f.cartesian == 0


def test_jarque_bera_single_combinable_pass(spark, registry):
    """evt_jarque_bera: ONE map-side-combinable aggregate carrying four
    decimal power sums — no joins at all, no Python."""
    f = _facts(spark, registry, "evt_jarque_bera")
    assert "Python" not in f.text
    assert f.broadcast_joins == 0 and f.sort_merge_joins == 0
    assert f.cartesian == 0


def test_tukey_fences_broadcasts_fence_table(spark, registry):
    """evt_tukey_fences: quantile pass reduces to a 5-row fence table
    that joins back broadcast; the census is a second combinable
    scan. No cartesian, no Python."""
    f = _facts(spark, registry, "evt_tukey_fences")
    assert "Python" not in f.text
    assert f.broadcast_joins >= 1
    assert f.cartesian == 0


def test_pairwise_welch_pair_frame_is_tiny(spark, registry):
    """evt_pairwise_welch: one day rollup, a 7-row moment aggregate,
    then a broadcast 21-pair epilogue — no corpus-scale join, no
    Python."""
    f = _facts(spark, registry, "evt_pairwise_welch")
    assert "Python" not in f.text
    assert f.broadcast_joins >= 1
    assert f.cartesian == 0


def test_mutual_info_contingency_rollup(spark, registry):
    """evt_mutual_info: the corpus collapses to the K x 7 contingency
    in one combinable pass; windows and term sums run over that
    frame. No Python in the hot path."""
    f = _facts(spark, registry, "evt_mutual_info")
    assert f.cartesian == 0
    assert "Python" not in f.text


def test_cliffs_delta_census_is_day_bounded(spark, registry):
    """evt_cliffs_delta: the dominance census crosses the two bounded
    day frames under a broadcast — the corpus is rolled up once; no
    Python."""
    f = _facts(spark, registry, "evt_cliffs_delta")
    assert "Python" not in f.text
    assert f.broadcast_joins >= 1


def test_odds_ratio_single_pass(spark, registry):
    """evt_odds_ratio: a 4-accumulator combinable aggregate plus a
    1-row epilogue — no joins beyond the 1-row broadcast, no
    Python."""
    f = _facts(spark, registry, "evt_odds_ratio")
    assert "Python" not in f.text
    assert f.sort_merge_joins == 0
    assert f.cartesian == 0


def test_silhouette_broadcasts_centroids(spark, registry):
    """llm_silhouette: the k x dim centroid table broadcasts against
    the checkpointed assignment (narrow pass); rollups are k-row.
    No cartesian fallback, no Python."""
    f = _facts(spark, registry, "llm_silhouette")
    assert "Python" not in f.text
    assert f.broadcast_joins >= 1
    assert f.cartesian == 0


def test_davies_bouldin_broadcasts_centroids(spark, registry):
    """llm_davies_bouldin: broadcast centroid scatter pass + k x k
    pair matrix — metadata-sized epilogue. No cartesian, no
    Python."""
    f = _facts(spark, registry, "llm_davies_bouldin")
    assert "Python" not in f.text
    assert f.broadcast_joins >= 1
    assert f.cartesian == 0


def test_precision_recall_postings_join(spark, registry):
    """llm_precision_recall_at_k: the lexical leg is the shared BM25
    postings equi-join (never queries x docs) with the probe panel
    broadcast; the hit census is |Q| x k rows. No cartesian, no
    Python."""
    f = _facts(spark, registry, "llm_precision_recall_at_k")
    assert "Python" not in f.text
    assert f.broadcast_joins >= 1
    assert f.cartesian == 0


def test_cluster_ari_contingency_rollup(spark, registry):
    """llm_cluster_ari: label join keys on vec_id, the contingency is
    k x |labels|, pair-count sums are integer rollups over it. No
    cartesian blowup, no Python."""
    f = _facts(spark, registry, "llm_cluster_ari")
    assert "Python" not in f.text
    assert f.cartesian == 0


def test_cochran_armitage_single_pass(spark, registry):
    """evt_cochran_armitage: one combinable K-row integer rollup plus
    a 1-row epilogue — no corpus-scale joins, no Python."""
    f = _facts(spark, registry, "evt_cochran_armitage")
    assert "Python" not in f.text
    assert f.sort_merge_joins == 0
    assert f.cartesian == 0


def test_katz_per_sweep_join_and_fold(spark, registry):
    """graph_katz_centrality: three edges-x-iterate shuffle joins with
    map-side-combinable dst folds (the pagerank profile); the top-k
    cut is a sort over the node dimension. No cartesian, no
    Python."""
    f = _facts(spark, registry, "graph_katz_centrality")
    assert "Python" not in f.text
    assert f.cartesian == 0


def test_tost_moment_rollup(spark, registry):
    """evt_tost_equivalence: one (type, day) corpus rollup, a 2-row
    moment aggregate, a broadcast 1-row epilogue. No cartesian
    blowup, no Python."""
    f = _facts(spark, registry, "evt_tost_equivalence")
    assert "Python" not in f.text
    assert f.broadcast_joins >= 1
    assert f.cartesian == 0


def test_poisson_rate_single_pass(spark, registry):
    """evt_poisson_rate_ratio: the corpus collapses to per-day counts
    in one combinable pass; the ratio is a 1-row epilogue. No
    corpus-scale joins, no Python."""
    f = _facts(spark, registry, "evt_poisson_rate_ratio")
    assert "Python" not in f.text
    assert f.sort_merge_joins == 0
    assert f.cartesian == 0


def test_bland_altman_paired_day_frame(spark, registry):
    """evt_bland_altman: one (type, day) rollup, a checkpointed paired
    day frame, exact-decimal moment reduction, and a 1-row broadcast
    limits census. No cartesian blowup, no Python."""
    f = _facts(spark, registry, "evt_bland_altman")
    assert "Python" not in f.text
    assert f.broadcast_joins >= 1


def test_brier_two_combinable_passes(spark, registry):
    """evt_brier_decomposition: train and test halves collapse to
    7-row bin tables; the decomposition is a 7-row broadcast join.
    No Python."""
    f = _facts(spark, registry, "evt_brier_decomposition")
    assert "Python" not in f.text
    assert f.sort_merge_joins == 0


def test_bartlett_moment_rollup(spark, registry):
    """evt_bartlett: one day rollup, a 7-row moment aggregate, a 1-row
    epilogue — the anova profile. No joins, no Python."""
    f = _facts(spark, registry, "evt_bartlett")
    assert "Python" not in f.text
    assert f.broadcast_joins == 0 and f.sort_merge_joins == 0
    assert f.cartesian == 0
