"""Physical-plan assertions (the 100 TB posture, SURVEY.md §4.2):
pushdown, pruning, broadcast choice, codegen'd hot paths.  Correctness
tests prove the answers right; these prove the *plans* are the ones
that survive scale-up.

Every default-conf plan read goes through the session-wide
``key_plan`` fixture (tests/conftest.py): one shared plan pass that
builds each registry key once and keeps its schema and executed-plan
text, so the registry-wide gates here and in test_hygiene.py cost one
pass between them.  A test that changes a session conf before it
plans builds its key itself.
"""

from __future__ import annotations

import s3spark.queries  # noqa: F401
from s3spark.registry import REGISTRY


def test_projection_pushdown_prunes_columns(key_plan):
    plan = key_plan("scan_projection_pushdown").plan
    assert "PushedFilters: [IsNotNull(l_linenumber), EqualTo(l_linenumber,1)]" in plan
    # ReadSchema lists only the 3 referenced columns, not all 11
    read = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "l_orderkey" in read and "l_quantity" in read
    assert "l_extendedprice" not in read and "l_shipdate" not in read


def test_flagship_pushes_shipdate_filter(key_plan):
    plan = key_plan("agg_groupby").plan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # partial + final hash aggregation (map-side combine before shuffle)
    assert plan.count("HashAggregate") >= 2


def test_broadcast_hint_produces_broadcast_hash_join(key_plan):
    plan = key_plan("join_broadcast").plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_join_is_a_join_not_distinct(key_plan):
    plan = key_plan("join_semi").plan
    assert "LeftSemi" in plan


def test_topk_uses_take_ordered_not_global_sort(key_plan):
    plan = key_plan("limit_topk").plan
    assert "TakeOrderedAndProject" in plan


def test_hot_path_queries_have_no_python_eval(key_plan):
    """Everything except the declared UDx/multimodal keys must stay
    JVM-side: no BatchEvalPython / ArrowEvalPython / MapInPandas
    operators in the plan."""
    python_ok = {
        "udf_python",
        "udf_pandas",
        "udaf_pandas",
        "udaf_cogrouped_pandas",
        "udf_arrow_map",
        "udtf_python_custom",
        "text_unicode_normalize",  # declared Arrow-UDF key (Spark has no
        # NFC builtin) — the one UDx key with a full DuckDB value oracle
        "source_python_datasource",
        "mm_decode_png",
        "mm_image_resize",
        "mm_frame_sample_wav",
        "mm_image_phash_dedup",
        "mm_audio_fingerprint_dedup",
        "mm_pipeline_e2e",
        "mm_curation_pipeline_e2e",
        "mm_frame_sample_video",
        "mm_video_phash_dedup",
    }
    offenders = [
        name
        for name, kp in key_plan.every(python_ok)
        if any(
            tok in kp.plan
            for tok in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas")
        )
    ]
    assert not offenders, f"Python in hot path: {offenders}"


def test_bucketed_join_has_no_exchange(key_plan):
    """The co-located join must read bucket-aligned files: a
    SortMergeJoin with no hash exchange on either join key.  Each side
    is still sorted within its bucket (a ``Sort`` on the key under each
    side of the join); only the shuffle is pinned here."""
    plan = key_plan("join_bucketed_colocated").plan
    assert "SortMergeJoin" in plan
    # the only exchanges allowed are AFTER the join (for the groupBy)
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan


def test_bloom_filter_runtime_pruning_available(spark, sf_dir):
    """Runtime row-level filtering: with a selective build side, Spark
    injects a bloom_filter_agg on the dim keys and semi-filters the
    fact scan before the SMJ — the modern alternative to manual
    pre-filter joins at 100 TB. Conf-gated; asserted here so the
    capability is pinned for the cluster profile."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        from s3spark.io import table

        o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
        li = table(spark, sf_dir, "lineitem")
        j = (
            li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_exact_match_filter_becomes_pushed_equality(spark, sf_dir):
    from s3spark import fs

    listing = fs.list_files_distributed(spark, sf_dir)
    matched = fs.match_files(listing, f"{sf_dir}/nation.parquet", fs.EXACT_MATCH)
    assert matched.count() == 1


def test_disjunctive_predicates_derive_per_side_pushdown(key_plan):
    """q19: the OR-of-ANDs spans both join sides, so it can't push
    whole — but Catalyst derives each side's implied disjunction and
    pushes it into that scan, shrinking join inputs."""
    plan = key_plan("q19_disjunctive").plan
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    li = next(s for s in scans if "l_quantity" in s)
    p = next(s for s in scans if "p_brand" in s)
    assert "l_quantity" in li.split("DataFilters:")[1]
    assert "Brand#12" in p.split("DataFilters:")[1]


def test_banded_range_join_avoids_nested_loop(key_plan):
    """join_range_bucketed: band-key equi join + residual must plan as
    a hash/merge join — the whole point vs join_theta_range's BNLJ."""
    plan = key_plan("join_range_bucketed").plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_theta_range_broadcasts_the_bounded_side(key_plan):
    """join_theta_range: the BNLJ must build/broadcast SUPPLIER (the
    bounded 1:15 side), never customer — broadcasting the growing side
    OOMs executors at scale.  Supplier is the left input, so the plan
    must say BuildLeft, and the supplier scan must sit under the
    broadcast exchange."""
    plan = key_plan("join_theta_range").plan
    assert "BroadcastNestedLoopJoin BuildLeft" in plan
    exchange = plan[plan.index("BroadcastExchange") :]
    scan = exchange[exchange.index("Scan parquet") :].splitlines()[0]
    assert "supplier" in scan
    assert "customer" not in scan


def test_q4_exists_decorrelates_to_semi_join(key_plan):
    """q4: correlated EXISTS with non-equi correlate becomes one
    LeftSemi join carrying the inequality as residual; the quarter
    filter reaches the orders scan."""
    plan = key_plan("q4_order_priority").plan
    assert "LeftSemi" in plan
    assert "o_orderdate" in plan[plan.index("PushedFilters") :].splitlines()[0]


def test_keep_latest_uses_window_group_limit(key_plan):
    """dedup_keep_latest: the rn=1 filter must push into the window as
    a per-partition top-1 (WindowGroupLimit), not a full per-key sort."""
    plan = key_plan("dedup_keep_latest").plan
    assert "WindowGroupLimit" in plan


def test_multi_distinct_uses_expand(key_plan):
    """agg_multi_distinct: several COUNT(DISTINCT) over different
    columns must plan as one Expand + two-level agg, not N jobs."""
    plan = key_plan("agg_multi_distinct").plan
    assert "Expand" in plan


def test_dynamic_partition_pruning_fires(key_plan):
    """join_partition_pruning_dynamic: the day filter arrives only via
    the dim join, yet the fact scan must carry a runtime
    dynamicpruningexpression partition filter."""
    plan = key_plan("join_partition_pruning_dynamic").plan
    assert "dynamicpruning" in plan.lower()


def test_q9_broadcasts_all_dims_single_fact_shuffle(key_plan):
    """Q9 shape: part/supplier/nation legs all broadcast; the only
    non-broadcast join is the lineitem⋈orders fact join."""
    plan = key_plan("q9_product_type_profit").plan
    assert plan.count("BroadcastHashJoin") >= 3
    # the part name filter is pushed to the part scan, not post-join
    assert "PushedFilters: [IsNotNull(p_name)" in plan or "StringContains(p_name,widget)" in plan


def test_q16_not_in_is_broadcast_anti_join(key_plan):
    """The supplier exclusion runs as a broadcast LEFT ANTI join —
    never a shuffled subquery or a nested loop."""
    plan = key_plan("q16_supplier_part_variety").plan
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_corpus_mix_prunes_and_single_shuffle(key_plan):
    """The mixing decision rides the scan: only (doc_id, source) read
    from the footer, keep-logic in the scan-side Project, and exactly
    one hash exchange (the partial+final per-source agg)."""
    plan = key_plan("corpus_mix_weighted_sample").plan
    read = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "doc_id" in read and "source" in read and "text" not in read
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") >= 2  # map-side combine present


def test_q12_pushes_window_residual_join_filter(key_plan):
    """The shipdate window pushes to the lineitem scan; the lateness
    predicate (correlating both join sides) stays a residual on the
    orderkey equi-join — NOT a nested loop."""
    plan = key_plan("q12_shipmode_priority").plan
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_q20_nested_in_is_two_broadcast_semi_joins(key_plan):
    """Q20's doubly nested IN must plan as two broadcast LEFT SEMI
    joins (part keep-list into the fact scan, surviving suppkeys into
    supplier) — the fact table never widens and only one shuffle (the
    (partkey, suppkey) aggregate) remains."""
    plan = key_plan("q20_part_promotion").plan
    assert plan.count("LeftSemi") >= 2
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontaminate_broadcasts_eval_side(key_plan):
    """The held-out eval shingle set rides the task side; train
    shingles stream through map-side — no shuffle of the big side.
    The broadcast payload is the 8-byte xxhash64 key + doc id, never
    the raw 8-gram string: the string must not survive past the
    hashing Project (i.e. no `ngram` column in the exchanged/joined
    attributes, only in the scan-side Generate/Project)."""
    plan = key_plan("decontaminate_ngram_overlap").plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "xxhash64" in plan
    # the join itself keys on the hash, not the string
    join_lines = [ln for ln in plan.splitlines() if "BroadcastHashJoin" in ln]
    assert join_lines and all("ngh" in ln for ln in join_lines)
    assert all("ngram" not in ln for ln in join_lines)
    # no aggregate ever touches the raw string either
    agg_lines = [ln for ln in plan.splitlines() if "HashAggregate" in ln]
    assert agg_lines and all("ngram#" not in ln for ln in agg_lines)


def test_chunking_is_shuffle_free(key_plan):
    """Chunking must be row-local (Scan -> Generate -> Project) with
    ZERO exchanges: round 8 dropped the trailing presentational
    orderBy, which range-shuffled ~1.33x the corpus text and made this
    the only super-linear scale-panel key (12.95x at 10x docs).
    Chunking 100 TB is exactly as parallel as scanning it."""
    plan = key_plan("doc_chunk_overlap").plan
    assert "Generate explode" in plan
    assert plan.count("Exchange") == 0


def test_ivf_assignment_is_mapside_argmax(key_plan):
    """IVF centroid assignment must be a pure map-side array-HOF
    argmax against the broadcast centroid array — the only Window (and
    its exchange) in the whole plan is the final per-query top-k.
    Rounds 1-2 ranked a 16xN crossJoin with row_number(), a full-table
    exchange+sort per branch; this pins the rewrite."""
    plan = key_plan("sim_ann_ivf").plan
    assert plan.count("Window [") == 1
    assert "array_max" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row centroid-array join


def test_curation_pipeline_single_big_side_shuffle(key_plan):
    """curation_pipeline_e2e composes quality -> decontaminate ->
    dedup-survivors -> pack without extra exchanges between stages:
    every join is broadcast (no SortMergeJoin anywhere), the full
    corpus is hash-shuffled exactly ONCE (the per-source packing
    window, whose partitioning the final groupBy then reuses), and the
    only other exchanges are tiny-side distincts/broadcasts + the
    output sort."""
    plan = key_plan("curation_pipeline_e2e").plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning(source") == 1
    assert plan.count("Exchange") <= 7


def test_recursive_cte_runs_as_union_loop(key_plan):
    """WITH RECURSIVE must execute as Spark 4's UnionLoop (anchor +
    per-level distributed join), not some collected driver loop."""
    plan = key_plan("sql_recursive_cte").plan
    assert "UnionLoop" in plan


def test_lateral_topk_decorrelates_to_window_group_limit(key_plan):
    """The correlated LATERAL ORDER BY/LIMIT subquery must decorrelate
    into the WindowGroupLimit plan (same as topk_per_group) — a BNLJ
    here would mean per-outer-row re-execution."""
    plan = key_plan("join_lateral_topk").plan
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_segment_dedup_is_two_shuffles(key_plan):
    """doc_segment_dedup: one exchange on segment text (window), one
    back on doc_id — corpus-scale dedup must not add more."""
    plan = key_plan("doc_segment_dedup").plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert plan.count("Window [") <= 1 or plan.count("Window") >= 1


def test_triangle_count_joins_are_equi(key_plan):
    """After the oriented-edge materialization, the wedge-closing
    self-joins must be hash/merge equi-joins (the only BNLJ is the
    declared 1-row count cross join)."""
    plan = key_plan("graph_triangle_count").plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_no_undeclared_nested_loop_joins(key_plan):
    """Registry-wide BNLJ gate: a BroadcastNestedLoopJoin is O(n*m)
    work and only tolerable when the build side is CONSTANT-size.
    Every key allowed here has one — scalar-subquery broadcasts
    (winsorize caps, q11/q22 thresholds, corpus stats, date spine),
    single-row centroid/plane arrays (kmeans, ivf), fixed 5-20 row
    query sides (sim_*/edit distance), bounded exact baselines
    (embedding cosine), the declared cross join, and theta (BuildLeft
    plan-asserted separately).  Any NEW key that plans a nested loop
    fails this test until it is either re-shaped to an equi-join or
    consciously declared here."""
    bnlj_ok = {
        "agg_kmv_distinct",  # two 1-row aggregates cross-joined
        "agg_kmv_intersection",  # 1-row sketch stats × 1-row true count
        "graph_triangle_count",  # 1-row edge count × 1-row triangle count
        "agg_winsorize",
        "bpe_train_unrolled",  # 1-row argmax-pair + 1-row corpus total
        "dedup_semdedup",  # 1-row broadcast centroid array (ivf pattern)
        "embedding_pca_power_iteration",  # 1-row direction/norm broadcasts
        "dedup_embedding_cosine",
        "join_bloom_prune",  # 1-row 4 KB bloom-bitmap broadcast
        "funnel_stages",
        "join_cross",
        "join_theta_range",
        "ml_kmeans_lloyd",
        "q11_important_share",
        "q22_dormant_customers",
        "sim_ann_ivf",
        "sim_cosine_topk",
        "sim_knn_classify",
        "text_edit_distance",
        # round-11: constant-size build sides by construction
        "dq_column_profile",  # two 1-row aggregates joined ON true
        "sim_pq_codebook_assign",  # 16-row codebook cross (ivf pattern)
        "sim_pq_adc_topk",  # 16-row codebook + 5-row query-LUT crosses
        "sim_ivfpq_search_e2e",  # same bounded crosses as adc_topk
        # round-12: 5-query x 16-centroid qpc cross + 10-row probe
        # broadcast — all build sides constant in corpus size
        "sim_ivfpq_persisted_read",
        # round-12: 1-row corpus-total and 1-row leftover/active-weight
        # broadcasts crossed onto the 20-row source relation
        "sample_token_budget_mixture",
        "stats_benjamini_hochberg",  # 1-row global-moments cross join
        "sim_matryoshka_recall_eval",  # 5-row query side per k-block
        "sample_stratified_neyman",  # 1-row denom + 5-row alloc crosses
        "text_unigram_logprob",
        "timeseries_gapfill",
        "timeseries_interpolate_linear",  # same user×day spine as gapfill
        "text_bm25_rank",  # 1-row corpus-stats (N, avgdl) broadcast
        "join_null_aware_anti_shuffled",  # two 1-row null/empty guards
        "text_bigram_logprob",  # 1-row vocabulary-size broadcast
        "pareto_frontier",  # exact residual on staircase candidates only
        "sample_pps_poisson",  # 1-row corpus-weight-total broadcast
        "cooccurrence_pmi",  # 1-row corpus-size broadcast
        "sample_systematic_distributed_index",  # 1-row min/max key stats
        "join_fallback_hierarchy",  # 1-row global-rate broadcast
        "rfm_customer_segments",  # 1-row max-date + 1-row quartile bounds
        "stats_bootstrap_ci_poisson",  # 1-row point-estimate broadcast
        "dq_freshness_calendar_gaps",  # 1-row gap-stats/bounds per series
        "stats_ks_two_sample",  # 1-row min/max stats + 1-row dmax/argmax
        "dq_drift_psi",  # 1-row min/max bin-bounds broadcast
        "stats_mann_whitney_u",  # 1-row bucket-range stats broadcast
        "stats_spearman_corr",  # two 1-row bucket-range stats broadcasts
        # calendar-bounded pair join (<=2,400-row daily table both
        # sides, constant in fact scale) + 1-row count/stats broadcasts
        "timeseries_theil_sen",
        # 1-row threshold + 1-row observed-diff broadcasts
        "stats_permutation_test",
        # 1-row vocabulary-size broadcast (Laplace denominator)
        "ml_naive_bayes_text",
        # 1-row total-bigram-count broadcast (contingency marginals)
        "text_collocations_llr",
        # calendar-bounded pair join (theil-sen recipe) + 1-row tie sum
        "timeseries_mann_kendall",
        # bounded-domain exact enumeration: <=1,501-row generated
        # factorial/k tables crossed with 1-row count/obs/const
        # aggregates (constant at any SF by the c_custkey cut)
        "stats_fisher_exact",
        # 1-row basket-total broadcast (lift denominator)
        "basket_association_lift",
        # 1-row bucket-range stats broadcast (the MWU prefix scheme)
        "rank_metrics_auc",
        # 1-row bucket-range stats + 1-row tie-fold broadcasts
        "stats_kruskal_wallis",
    }
    offenders = [
        name
        for name, kp in key_plan.every(bnlj_ok)
        if "BroadcastNestedLoopJoin" in kp.plan or "CartesianProduct" in kp.plan
    ]
    assert not offenders, f"undeclared nested-loop join in: {offenders}"


def test_join_multiway_builds_dims_never_facts(spark, sf_dir):
    """The star join broadcasts ONLY the bounded dims (region⋈nation,
    ≤30 rows at any SF) and sort-merges the unbounded edges — the
    shape a 100 TB plan needs regardless of stats quality, in BOTH
    directions: a stats under-estimate must not put a fact on a hash
    build side (observed 20× wall-clock at the 10× scale-stress step),
    and an unconditional hint must not broadcast customer, whose
    150k·SF rows guarantee a driver OOM at large SF.  With
    auto-broadcast DISABLED the bounded-dim hint must survive, both
    fact edges must shuffle, and neither lineitem, orders, nor
    customer may appear under a BroadcastExchange.  Conf-gated
    save/restore, the skew-test pattern."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # built here, not through key_plan: a non-default-conf plan
        # must not enter the shared cache
        df = REGISTRY["join_multiway"].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # the explicit bounded-dim hint survives; both fact edges shuffle
    assert "BroadcastHashJoin" in plan
    assert (
        plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") >= 2
    ), "customer⋈orders and orders⋈lineitem must both shuffle"
    # no unbounded table is ever on a broadcast build side: in the tree
    # rendering a BroadcastExchange's build subtree follows it until the
    # next shuffle-join operator
    assert "BroadcastExchange" in plan
    for seg in plan.split("BroadcastExchange")[1:]:
        head = seg[:600].split("SortMergeJoin")[0].split("ShuffledHashJoin")[0]
        for tbl in ("lineitem", "orders", "customer"):
            assert tbl not in head, (
                f"unbounded table {tbl} on a broadcast build: " + head[:200]
            )


def test_aqe_skew_join_splits_hot_partitions(spark, sf_dir):
    """AQE skew-join handling is the runtime defense the cluster
    profile relies on (manual salting keys are the deterministic
    fallback): with one hot key dominating a sort-merge join, the
    post-execution adaptive plan must mark the join skew-handled
    (`skew=true`), proving oversized partitions were split.
    Conf-gated in the test only (save/restore, same pattern as the
    bloom-filter pin)."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # without force, OptimizeSkewedJoin bails whenever the split
        # might add a downstream shuffle — the cluster profile sets it
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # 200k rows of key 0 vs 100 spread keys: key 0's partition is
        # >2x the median and beyond the byte threshold
        hot = spark.range(200_000).select(
            F.lit(0).alias("k"), F.col("id").alias("payload")
        )
        tail = spark.range(5_000).select(
            (F.col("id") % 100 + 1).alias("k"), F.col("id").alias("payload")
        )
        left = hot.unionAll(tail)
        right = spark.range(101).select(
            F.col("id").alias("k"), F.lit("dim").alias("name")
        )
        j = left.join(right.hint("merge"), "k")
        # collect() executes THIS queryExecution (a writer would clone
        # the plan and hide the adaptive result)
        assert len(j.collect()) == 205_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not split the skewed join"
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bloom_prune_filters_below_join_exchange(key_plan):
    """join_bloom_prune: the bloom membership test must sit BELOW the
    fact-side shuffle (that is the whole point — rows failing the
    bloom never cross the wire), the final join must be the declared
    shuffle-hash join, and the fact scan must stay pruned to the 3
    referenced columns."""
    plan = key_plan("join_bloom_prune").plan
    assert "ShuffledHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row bloom broadcast
    # tree prints parent before child: the fact-side exchange must be
    # an ancestor of the bloom probe join
    assert plan.index("Exchange hashpartitioning(l_partkey") < plan.index(
        "BroadcastNestedLoopJoin"
    )
    read = plan[plan.index("ReadSchema: struct<l_partkey") :].splitlines()[0]
    assert "l_extendedprice" in read and "l_shipdate" not in read


def test_heavy_hitters_bucket_pass_is_bounded_and_broadcast(key_plan):
    """agg_heavy_hitters_twopass: pass 1 must partial-aggregate the
    BOUNDED bucket key map-side (<=B rows ever shuffle) and the heavy
    bucket ids must come back as a broadcast, not a shuffle join; both
    scans must read only o_custkey."""
    plan = key_plan("agg_heavy_hitters_twopass").plan
    assert "partial_count" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("ReadSchema: struct<o_custkey:bigint>") == 2


def test_zorder_is_codegen_bitmath_with_range_partitioning(key_plan):
    """sort_zorder_layout: the Morton interleave must be plain codegen
    bitwise expressions feeding a rangepartitioning exchange on the
    z-value — no Python evaluation, no extra shuffles beyond layout +
    stats."""
    plan = key_plan("sort_zorder_layout").plan
    assert "Exchange rangepartitioning(zval" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") <= 3  # layout + stats agg + final sort


def test_pagerank_single_scan_and_partial_sums(key_plan):
    """graph_pagerank_unrolled: iteration state (the degree-annotated
    edge list) must be checkpointed — the final plan reads ONLY the
    materialized edge table (once per unrolled iteration; a
    block-manager ExistingRDD since round-12, previously parquet
    scratch), never the raw lineitem input, whose scan/dedup would
    otherwise re-expand 4x through the unrolled lineage.
    Contributions must partial-sum map-side and the top-20 must be a
    TakeOrderedAndProject, not a global sort."""
    plan = key_plan("graph_pagerank_unrolled").plan
    assert "lineitem" not in plan
    assert "FileScan" not in plan  # nothing re-reads the raw input
    assert plan.count("Scan ExistingRDD") == 2  # ed in r1 + ed in r2
    assert "partial_sum" in plan
    assert "TakeOrderedAndProject" in plan


def test_not_in_plans_null_aware_anti_join(key_plan):
    """join_null_aware_anti: the NOT IN subquery must become a single
    null-aware broadcast anti join (the trailing `true` flag on the
    BroadcastHashJoin is Catalyst's isNullAwareAntiJoin marker), never
    a cartesian/BNLJ fallback, and the CASE-wrapped probe key must not
    block pushing the o_totalprice filter to the scan."""
    plan = key_plan("join_null_aware_anti").plan
    assert "LeftAnti, BuildRight, true" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "GreaterThan(o_totalprice,100000.0)" in plan


def test_islands_windows_share_one_hash_exchange(key_plan):
    """window_islands_value_runs: both row_number windows cluster by
    o_custkey, so HashPartitioning(custkey) must satisfy the
    (custkey, status) clustering too — ONE hash exchange feeding two
    sorts, not an exchange per window.  The only other exchange is
    the final presentation orderBy."""
    plan = key_plan("window_islands_value_runs").plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 2


def test_fuzzy_join_is_equi_on_deletion_variants(key_plan):
    """join_fuzzy_edit_distance: candidate generation must be a hash
    equi-join on the exploded deletion variants — no nested-loop /
    cartesian all-pairs anywhere, and the levenshtein verify must be
    codegen (no Python eval)."""
    plan = key_plan("join_fuzzy_edit_distance").plan
    assert "HashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_naaj_shuffled_rewrite_is_sort_merge_anti(key_plan):
    """join_null_aware_anti_shuffled: the scalable NOT IN rewrite must
    anti-join via a shuffled SortMergeJoin (no broadcast NAAJ — that
    is the whole point), with the only broadcasts being the 1-row
    null/empty guard."""
    plan = key_plan("join_null_aware_anti_shuffled").plan
    assert "SortMergeJoin" in plan and "LeftAnti" in plan
    assert "BuildRight, true" not in plan


def test_asof_nearest_is_one_shuffle_no_nested_loop(key_plan):
    """join_asof_nearest: both directional window passes must ride ONE
    user_id hash exchange — the union-window emulation, never a range
    join or BNLJ."""
    plan = key_plan("join_asof_nearest").plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bfs_final_plan_reads_only_checkpoint(key_plan):
    """graph_bfs_distance: after three unrolled levels the final plan
    must read the last checkpointed distance table only — no lineitem
    rescan, no replayed edge build (the pagerank materialization
    lesson)."""
    plan = key_plan("graph_bfs_distance").plan
    assert "lineitem" not in plan
    assert "FileScan parquet" not in plan


def test_mm_pipeline_python_touches_each_payload_once(key_plan):
    """mm_pipeline_e2e: the encode + fused decode/feature/hash kernels
    run ONCE, at the eager signature checkpoint — the final plan fans
    out over the checkpointed signature table (Scan ExistingRDD) with
    ZERO Python stages; banding, Hamming verify, and survivorship are
    JVM codegen.  (Without the lineage cut the 4-way signature fan-out
    replayed both kernels per reference: 10 MapInPandas stages,
    payloads decoded 5x.)"""
    plan = key_plan("mm_pipeline_e2e").plan
    assert plan.count("MapInPandas") == 0
    assert "Scan ExistingRDD" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_mm_curation_pipeline_stays_jvm_after_signature(key_plan):
    """mm_curation_pipeline_e2e: same kernel-once contract as
    mm_pipeline_e2e (final plan fans out over the eager signature
    checkpoint, zero Python stages), plus the composite's own shape
    guarantees — the quality filter fuses above the checkpointed scan
    (no extra exchange before the band join) and the only
    range-partitioning-free shuffles downstream are the band-join
    hash exchange and the per-shard packing window."""
    plan = key_plan("mm_curation_pipeline_e2e").plan
    assert plan.count("MapInPandas") == 0
    assert "Scan ExistingRDD" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the packing window keys on the shard nibble (hash exchange),
    # never a global sort of the survivor corpus; the only range
    # exchange allowed is the bounded (<=~90-row) final manifest sort
    assert "hashpartitioning(shard" in plan, plan


def test_mm_video_dedup_stays_jvm_after_kernel(key_plan):
    """mm_frame_sample_video: exactly two Python stages (AVI synth +
    demux/hash kernel — payload touches Python once each way), and
    the temporal dedup downstream is pure JVM: the lag window keys on
    doc_id (hash exchange per video, never a global shuffle of frame
    rows before the window)."""
    plan = key_plan("mm_frame_sample_video").plan
    assert plan.count("MapInPandas") == 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "hashpartitioning(doc_id" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# Round-8 registry-wide trailing-sort audit (VERDICT r7 item 3): every
# key whose output scales with the input had its decorative global
# orderBy removed — a presentational sort range-shuffles a constant
# fraction of the corpus at 100 TB for nothing (the driver value-hash
# is order-insensitive; doc_chunk_overlap's sort alone measured 12.95x
# at the 10x doc step).  Bounded-output aggregates and keys whose
# declared semantics include ordering (TPC-H shapes, top-k, sort
# showcases) keep theirs and are NOT listed here.  Row-scale keys added
# later join the list from their first commit.
def test_row_scale_keys_have_no_global_sort_anywhere(key_plan):
    """No row-count-scale key may contain a range-partitioning exchange
    ANYWHERE in its physical plan.  Guards the round-8 sweep against
    regression — a new trailing orderBy on any of these re-introduces a
    full-output shuffle that grows with the corpus.  Hardened per the
    round-8 ADVICE: the old gate only inspected the TOP operator of the
    optimized logical plan, so ``orderBy(...).select(...)`` left a
    Project above the Sort and evaded it.  The executed plan from the
    shared plan pass (``key_plan``) can't be fooled that way — a
    global sort compiles to ``Exchange rangepartitioning`` wherever it
    sits; ``sparkPlan()``, read before ``EnsureRequirements`` adds the
    exchanges, shows only a bare ``Sort`` and would pass anything
    (test_sort_free_gate_sees_a_trailing_order_by pins this) — while
    the bounded top-K shapes these keys ARE allowed
    (``orderBy().limit()`` → TakeOrderedAndProject, e.g.
    tokenizer_vocab_coverage's vocab cut) plan with no range exchange
    at all."""
    sort_free = (
        "agg_having", "array_set_algebra", "attribution_last_touch",
        "cdc_apply_tombstones", "dedup_exact",
        "dedup_exact_normalized", "dedup_fuzzy_minhash",
        "dedup_incremental_minhash", "dedup_keep_latest",
        "dedup_minhash_survivors", "dedup_simhash",
        "dedup_substring_exact", "dedup_substring_mask",
        "dedup_url_canonical", "doc_boilerplate_strip",
        "doc_chunk_overlap", "doc_fingerprint", "doc_segment_dedup",
        "embedding_quantize_int8", "feature_target_encode",
        "filter_rlike", "generator_explode_outer",
        "graph_bfs_distance", "incremental_agg_maintenance",
        "interval_coalesce", "interval_max_concurrency",
        "interval_subtract_measure", "join_asof",
        "join_asof_nearest", "join_asof_tolerance",
        "join_bitemporal", "join_fuzzy_edit_distance",
        "join_interval_overlap", "join_null_safe",
        "join_phonetic_soundex", "join_pit_features",
        "join_scd2_point_in_time", "join_spatial_grid",
        "mm_audio_fingerprint_dedup", "mm_binary_meta",
        "mm_decode_png", "mm_frame_sample_wav",
        "mm_image_phash_dedup", "mm_image_resize",
        "pack_sequences_greedy", "project_rename_enumerate",
        "quality_classifier_hashed", "quality_gopher_rules",
        "sample_hash_based", "scalar_binary_encode",
        "scalar_bitwise", "scalar_conditional",
        "scalar_datetime_extended", "scalar_hash_json",
        "scalar_json_malformed", "scalar_point_in_polygon",
        "scalar_string_extended", "scalar_try_error_safe",
        "scalar_url_parse", "scan_text_regex_parse", "scan_xml",
        "scd2_dimension", "sessionize_gaps",
        "set_union_missing_columns", "sim_ann_lsh",
        "sim_pq_codebook_assign", "split_leakage_safe",
        "stream_session", "subquery_above_avg",
        "subquery_scalar_global", "text_bigram_logprob",
        "text_bm25_rank", "text_edit_distance", "text_lang_quality",
        "text_langid_char_ngram", "text_pii_scrub",
        "text_repetition_filter", "text_stats",
        "text_tfidf_topterms", "text_token_bpe",
        "text_unicode_normalize", "text_unigram_logprob",
        "timeseries_downsample_lttb", "timeseries_gapfill",
        "timeseries_interpolate_linear", "timeseries_ohlc_bars",
        "tokenizer_vocab_coverage", "udf_arrow_map",
        "udtf_python_custom", "window_count_distinct",
        "window_cumulative_reset", "window_distribution",
        "window_forward_fill", "window_islands_value_runs",
        "window_moving_zscore", "window_pattern_match",
        "window_rolling_median", "window_time_decay",
    )
    offenders = [
        name for name in sort_free if "rangepartitioning" in key_plan(name).plan
    ]
    assert not offenders, (
        "global-sort range shuffle re-introduced on row-scale keys: "
        f"{offenders}"
    )


def test_sort_free_gate_sees_a_trailing_order_by(spark, key_plan):
    """The sort-free gate's plan text must show a global sort hidden
    under a Project: ``orderBy(...).select(...)`` plans a range
    exchange in the executed plan, and the gate reads plans exactly as
    ``key_plan.of`` renders this one."""
    df = spark.range(100).selectExpr("id % 7 AS k", "id").orderBy("k").select("id")
    assert "rangepartitioning" in key_plan.of(df).plan


def test_orphan_audit_preaggregates_no_expand(key_plan):
    """Round-13: dq_referential_orphans pre-aggregates each fact by
    its FK before the dim join, so no COUNT(DISTINCT) Expand remains —
    the old plan tripled every fact row through Expand three times
    (once per relationship).  Key-level join probes keep the 100 TB
    join input at |distinct keys|, not |fact rows|."""
    plan = key_plan("dq_referential_orphans").plan
    assert "Expand" not in plan
    # three relationships, each with a partial+final pre-aggregate
    assert plan.count("HashAggregate") >= 6


def test_ngram_novelty_window_df_no_join(key_plan):
    """Round-13: document frequency rides a window count over the
    trigram key instead of a groupBy + join-back that replayed the
    shingle subtree on both join sides — the plan has exactly one
    shingle explode and no join at all."""
    plan = key_plan("text_ngram_novelty").plan
    assert "Join" not in plan
    assert "Window" in plan
    assert plan.count("Generate explode") == 1


def test_decontaminate_hashes_tokens_in_codegen(key_plan):
    """Round-13: the 8-gram key is a multi-argument xxhash64 over the
    eight tokens in whole-stage codegen; the interpreted transform()
    lambda (and the assembled n-gram string) are gone from the plan."""
    plan = key_plan("decontaminate_ngram_overlap").plan
    assert "xxhash64" in plan
    assert "transform(" not in plan
    assert "concat_ws" not in plan
