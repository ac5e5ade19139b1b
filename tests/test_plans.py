"""t1 plan-shape assertions: the physical plan must be the scale-ready one.

Each assertion pins a property that matters at the 100 TB design point;
a change that silently degrades the plan (broadcast → sort-merge, top-k →
global sort, pruned scan → full scan, codegen → Python eval) fails here.
"""

from __future__ import annotations

from multi_model_vectorsearch_spark.operators import ann as N
from multi_model_vectorsearch_spark.operators import relational as R
from multi_model_vectorsearch_spark.operators import vector_ops as V
from multi_model_vectorsearch_spark.plans import explain_formatted


def test_dim_joins_broadcast(tables):
    plan = explain_formatted(R.dq04_join_broadcast(tables))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_knn_topk_is_take_ordered(tables):
    # exact KNN must plan as TakeOrderedAndProject (per-partition heap +
    # driver merge), never a global sort of the corpus
    plan = explain_formatted(V.dq29_knn_topk(tables))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_scan_prunes_columns(tables):
    plan = explain_formatted(R.dq01_scan_project(tables))
    assert "l_orderkey" in plan and "l_quantity" in plan
    # untouched wide columns must not be read
    assert "l_comment" not in plan and "l_shipdate" not in plan


def test_filters_push_to_parquet(tables):
    plan = explain_formatted(R.dq02_filter_battery(tables))
    assert "PushedFilters" in plan
    assert "o_totalprice" in plan.split("PushedFilters")[1].split("\n")[0]


def test_relational_plans_are_jvm_only(tables):
    # no Python evaluation in any relational/vector declared query
    for builder in [R.dq10_hash_agg, R.dq15_topk_per_group, V.dq29_knn_topk,
                    V.dq31_knn_join, N.dq46_cosine_neardup_topk]:
        plan = explain_formatted(builder(tables))
        assert "EvalPython" not in plan, builder.__name__


def test_whole_stage_codegen_active(tables):
    # AQE finalizes the plan at execution; inspect the executed plan
    df = R.dq10_hash_agg(tables)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # whole-stage codegen spans appear as "*(n)" prefixes in the final plan
    assert "*(1)" in executed and "*(2)" in executed
    # AQE coalesced the 8 shuffle partitions for this tiny agg
    assert "AQEShuffleRead" in executed


def test_partial_aggregation_before_shuffle(tables):
    # hash agg must combine map-side: partial_sum below the exchange
    plan = explain_formatted(R.dq10_hash_agg(tables))
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2


def test_ivf_assignment_broadcasts_centroids(tables):
    plan = explain_formatted(N.assign_clusters(tables))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_range_join_broadcasts_small_side(tables):
    plan = explain_formatted(R.dq08_range_join(tables))
    assert "BroadcastNestedLoopJoin" in plan


def test_graph_render_payload_shape(tables):
    """A23: nodes carry modality colors; edge widths scale scores."""
    from multi_model_vectorsearch_spark.operators.graph import (
        MODALITY_COLORS,
        dq35_hydrate_filter,
        graph_render_payload,
    )

    nodes, edges = graph_render_payload(tables)
    n = nodes.collect()
    assert len(n) > 0
    assert {r.color for r in n} <= set(MODALITY_COLORS.values()) | {"#999999"}
    assert all(r.label == f"doc:{r.id}" for r in n)
    srcs = dq35_hydrate_filter(tables)
    assert edges.count() == srcs.count()
    w = edges.collect()
    assert all(0.0 <= r.width <= 5.0 for r in w)


def test_asof_join_is_pure_window(tables):
    """dq09 must stay the merged-stream window form — no join node at all."""
    from multi_model_vectorsearch_spark.operators.relational import (
        dq09_asof_join,
    )
    from multi_model_vectorsearch_spark.plans.explain import explain_formatted

    plan = explain_formatted(dq09_asof_join(tables))
    assert "Join" not in plan, plan
    assert "Window" in plan


def test_blocked_neardup_avoids_pair_materialization(tables):
    """dq46 must not plan a cartesian/nested-loop pair table."""
    from multi_model_vectorsearch_spark.operators.ann import (
        dq46_cosine_neardup_topk,
    )
    from multi_model_vectorsearch_spark.plans.explain import explain_formatted

    plan = explain_formatted(dq46_cosine_neardup_topk(tables))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan  # the matmul kernel
    assert "TakeOrderedAndProject" in plan  # global top-k fusion


def test_bm25_broadcasts_tiny_sides(tables):
    """dq63's df/corpus-stats sides must broadcast, never shuffle the stream."""
    from multi_model_vectorsearch_spark.operators.retrieval import (
        dq63_bm25_topk,
    )
    from multi_model_vectorsearch_spark.plans.explain import explain_formatted

    plan = explain_formatted(dq63_bm25_topk(tables))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan


def test_quantization_ops_are_map_only_jvm(tables):
    """dq108/dq110: per-row quantization folds must stay JVM-side and
    shuffle nothing except the final top-k / tiny exchange."""
    from multi_model_vectorsearch_spark.operators import vector_ops as VO

    for builder in [VO.dq108_int8_quantize, VO.dq110_hamming_knn]:
        plan = explain_formatted(builder(tables))
        assert "EvalPython" not in plan, builder.__name__
    # hamming KNN: broadcast query signature + TakeOrderedAndProject
    plan = explain_formatted(VO.dq110_hamming_knn(tables))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_weighted_sample_is_takeordered_no_shuffle(tables):
    """dq112: map-only key computation + global top-n; a full Exchange
    would mean the sample shuffles the 100 TB corpus."""
    from multi_model_vectorsearch_spark.operators import curation as C

    plan = explain_formatted(C.dq112_weighted_sample(tables))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_temperature_mixture_broadcasts_rates(tables):
    """dq107: the per-source rate table must broadcast — the corpus-side
    keep decision may not shuffle on source."""
    from multi_model_vectorsearch_spark.operators import curation as C

    plan = explain_formatted(C.dq107_temperature_mixture(tables))
    assert "BroadcastHashJoin" in plan


def test_pq_codebook_broadcasts(tables):
    from multi_model_vectorsearch_spark.operators import ann as A

    plan = explain_formatted(A.dq114_pq_assign(tables))
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_hybrid_rrf_arms_are_take_ordered(tables):
    """dq64: each fusion arm's top-k must be TakeOrderedAndProject over the
    scored corpus; arm ranks come from the sorted-array posexplode over the
    ≤ arm_k-row arm result (r15) — no window anywhere, so no corpus-sized
    single-partition sort can sneak in."""
    from multi_model_vectorsearch_spark.operators.retrieval import (
        dq64_hybrid_rrf,
    )

    plan = explain_formatted(dq64_hybrid_rrf(tables))
    # one TakeOrdered per arm (vector + lexical) — the corpus-sized sorts
    assert plan.count("TakeOrderedAndProject") >= 2
    # ranks are array positions over the collected arm pool, not windows
    assert "windowspecdefinition" not in plan
    assert "posexplode" in plan.lower() or "Generate" in plan


def test_edit_distance_window_is_block_partitioned(tables):
    """dq119: the sorted-neighborhood lead() must partition on the blocking
    key — a global Window.orderBy funnels the corpus through one task."""
    from multi_model_vectorsearch_spark.operators.textpipe import (
        dq119_edit_distance_neighbors,
    )

    plan = explain_formatted(dq119_edit_distance_neighbors(tables))
    assert "Window" in plan
    assert "partitionBy" not in plan  # formatted plans spell it as a spec:
    # the window spec must carry a partition expression (blk) — a global
    # window renders as windowspecdefinition(doc_id ASC ...) with no
    # partition column before the ordering
    import re
    spec = re.search(r"windowspecdefinition\(([^)]*)\)", plan)
    assert spec and spec.group(1).strip().startswith("blk")


def test_profile_reads_only_orders_columns(tables):
    """dq125: six independent aggregates must not leak a join/shuffle of
    the fact table — each arm is scan + partial agg + single-row merge."""
    from multi_model_vectorsearch_spark.operators import relational as R2

    plan = explain_formatted(R2.dq125_column_profile(tables))
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_diversity_filter_all_broadcast(tables):
    # the candidate pool is <=50 rows: hydration, pairwise block, and the
    # final anti-join must all broadcast — a sort-merge join here would
    # shuffle the corpus for a driver-sized pool
    plan = explain_formatted(V.dq149_diversity_filter(tables))
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_semdedup_pairs_join_on_cluster_key(tables):
    # the within-cluster square must join on cid (bounded by cluster size),
    # never a cartesian product over the corpus
    plan = explain_formatted(N.dq148_semdedup(tables))
    assert "CartesianProduct" not in plan
    # centroid assignment broadcasts the centroid set
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_doc_chunks_is_map_only(tables):
    # chunking is generate+project — any Exchange means a regression
    from multi_model_vectorsearch_spark.operators import textpipe as T
    plan = explain_formatted(T.dq150_doc_chunks(tables))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_centroid_drift_never_collects_vectors(tables):
    # drift folds to (label, pos) aggregates: no broadcast of the corpus,
    # no Python, shuffles keyed on the tiny (label, pos) space
    plan = explain_formatted(V.dq154_centroid_drift(tables))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_graph_ann_touches_only_candidates(tables):
    # the beam walk must score candidate sets against a broadcast query —
    # a sort-merge join or corpus-wide cartesian means the walk degraded
    # to a scan and the ANN property is gone
    from multi_model_vectorsearch_spark.operators import graph as G
    plan = explain_formatted(G.dq165_graph_ann(tables))
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_countmin_cells_broadcast(tables):
    # the sketch table is depth x width cells: probing it must broadcast,
    # never shuffle the token stream against it
    from multi_model_vectorsearch_spark.operators import curation as C
    plan = explain_formatted(C.dq164_countmin_freq(tables))
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_dup_spans_join_is_equi_on_fp(tables):
    # the anchor build must be an equi-join on the fingerprint, never a
    # cartesian pair enumeration, and stay JVM-side end to end
    from multi_model_vectorsearch_spark.operators import textpipe as T

    plan = explain_formatted(T.dq168_dup_spans(tables))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan
    assert "fp" in plan


def test_source_cap_single_window_exchange(tables):
    # per-source cap: one hash partitioning on source, no global
    # single-partition window
    from multi_model_vectorsearch_spark.operators import curation as C

    plan = explain_formatted(C.dq169_source_cap(tables))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(source" in plan


def test_label_prop_broadcasts_seed_side(tables):
    # the unlabeled corpus must stream (never shuffle, never broadcast);
    # the broadcast operand must be the bounded seed (vec_id < seed_size),
    # whose size is constant in corpus size. In the simple plan string the
    # broadcast subtree is everything printed after BroadcastExchange, so
    # the seed filter must appear there and the corpus filter must not.
    from multi_model_vectorsearch_spark.operators import vector_ops as VO

    df = VO.dq170_knn_label_prop(tables)
    plan = explain_formatted(df)
    assert "EvalPython" not in plan
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in simple
    bcast_subtree = simple.split("BroadcastExchange", 1)[1]
    assert "< 100" in bcast_subtree
    assert ">= 100" not in bcast_subtree
    # map-only on the corpus: top-k + voting are in-array expressions, so
    # the only Exchange is the seed collapse (SinglePartition) — a
    # regression to the window/groupBy form reintroduces hashpartitioning
    assert "hashpartitioning" not in simple


def test_registry_wide_plan_hygiene(tables):
    """Every declared query must plan without a cartesian product, and
    Python evaluation may appear ONLY in the entries that are intentionally
    kernel/UDTF/UDF surfaces — a new operator that silently falls off the
    JVM path fails here."""
    from multi_model_vectorsearch_spark import dq

    python_ok = {
        "dq46_cosine_neardup_topk",   # blocked-matmul exact arm
        "dq48_embed_stub",            # pandas-UDF embedding surface (B56)
        "dq49_embed_knn",             # consumes the embed UDF
        "dq52_centroid_applyinpandas",  # UDAF surface (B57)
        "dq56_bigram_udtf",           # UDTF surface (B58)
        "dq148_semdedup",             # per-cluster numpy pair kernel
    }
    offenders = []
    for e in dq.registry():
        plan = explain_formatted(e.builder(tables))
        if "CartesianProduct" in plan:
            offenders.append((e.name, "cartesian"))
        uses_py = ("EvalPython" in plan or "MapInPandas" in plan
                   or "FlatMapGroupsInPandas" in plan)
        if uses_py and e.name not in python_ok:
            offenders.append((e.name, "python"))
    assert not offenders, offenders


def test_grid_dbscan_join_is_hash_not_cartesian(tables):
    # the epsilon join must go through the cell-key equi-join (shuffled or
    # broadcast HASH join) — never a nested-loop over all point pairs
    plan = explain_formatted(N.dq204_grid_dbscan(tables))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan


def test_ewma_window_is_single_user_exchange(tables):
    # one hashpartitioning(user_id) exchange feeds the bounded-row frame;
    # no global (empty-key) window may appear
    from multi_model_vectorsearch_spark.operators import timeseries as TS

    plan = explain_formatted(TS.dq198_ewma(tables))
    assert "Window" in plan
    assert plan.count("hashpartitioning(user_id") >= 1
    assert "SinglePartition" not in plan


def test_link_prediction_no_cartesian(tables):
    # the upstream edge build legitimately contains the broadcast-query
    # KNN cross (BroadcastNestedLoopJoin over the tiny query side); the
    # wedge/anti legs added HERE must all be key-based joins
    from multi_model_vectorsearch_spark.operators import graph as G

    plan = explain_formatted(G.dq214_link_prediction(tables))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin LeftAnti" in plan or "HashJoin LeftAnti" in plan
    assert "SortMergeJoin Inner" in plan or "HashJoin Inner" in plan


def test_sorted_neighborhood_has_no_join(tables):
    # the SNM candidate pass is one window + explode — the block self-join
    # form (n_blk^2 intermediate rows) must not come back
    from multi_model_vectorsearch_spark.operators import textpipe as T

    plan = explain_formatted(T.dq200_sorted_neighborhood(tables))
    assert "Join" not in plan
    assert "Window" in plan


def test_lsh_pair_band_join_is_shuffled_equi_join(tables):
    """The r7 pair-band candidate join must plan as an equi-join on the
    (band, key) columns — a nested-loop or cartesian here means the band
    keys stopped being join keys and the candidate step went doc×doc."""
    from multi_model_vectorsearch_spark.operators import textpipe as T

    plan = explain_formatted(T.dq41_minhash_lsh_pairs(tables))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)


def test_partitionless_windows_all_classified(tables):
    """Round-8 verdict item 1: every partitionless window in the registry
    is accounted for 1:1. A Window with empty PARTITION BY executes as a
    single task — the plan-level scale-killer behind the bench tail's "No
    Partition Defined" warnings. Each one must be declared in
    GLOBAL_WINDOW_CLASS as domain-bounded (input collapses to a bounded
    distinct-value/aggregate table), driver-bounded (post-LIMIT pool), or
    a declared global-order contract with a scale-safe twin; this test
    fails the registry the moment a new entry plans an unclassified one —
    and goes stale-red if a classified entry stops planning one (so the
    whitelist can never silently outgrow reality)."""
    from multi_model_vectorsearch_spark import dq
    from multi_model_vectorsearch_spark.plans.window_audit import (
        GLOBAL_WINDOW_CLASS,
        partitionless_windows,
    )

    offenders = {
        e.name: w
        for e in dq.registry()
        if (w := partitionless_windows(e.builder(tables)))
    }
    unclassified = {k: offenders[k] for k in
                    set(offenders) - set(GLOBAL_WINDOW_CLASS)}
    stale = sorted(set(GLOBAL_WINDOW_CLASS) - set(offenders))
    assert not unclassified, (
        f"unclassified partitionless windows (migrate to "
        f"scale.global_order_scalable or classify): {unclassified}")
    assert not stale, f"classified entries no longer plan one: {stale}"


def test_partitionless_windows_serving_plans_classified(tables, tmp_path,
                                                        monkeypatch):
    """Round-9 verdict item 3: the registry audit above misses serving and
    ingest plans. Build the representative serving DataFrames (exact
    /search cold+warm, probed search_ivf, ingest KNN on both physical
    routes, every graph-build route) and apply the same classified-or-fail
    rule via SERVING_WINDOW_CLASS — any NEW unclassified global window in
    the serving path fails here, and a classified plan that stops planning
    one goes stale-red. The warm audit runs on the Spark tier
    (``DRIVER_TIER_BYTES`` at 0), whose pool plans read the cached
    corpus."""
    from pyspark.sql import functions as F

    from multi_model_vectorsearch_spark.streaming import ingest

    from multi_model_vectorsearch_spark.plans.window_audit import (
        SERVING_WINDOW_CLASS,
        partitionless_windows,
        serving_plan_suite,
    )
    from multi_model_vectorsearch_spark.streaming.ingest import IngestPipeline

    docs = tables["documents"].limit(80).select(
        "doc_id", "text",
        F.element_at(
            F.array(F.lit("text"), F.lit("image"), F.lit("audio")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
    )
    pipe = IngestPipeline(spark=tables["documents"].sparkSession,
                          state_dir=str(tmp_path / "st"), k=4,
                          maintain_ivf=True)
    pipe.process_batch(docs, 0)  # 80 docs: IVF bootstrapped
    text = docs.orderBy("doc_id").first().text

    def audit(tag):
        found = {
            name: w
            for name, df in serving_plan_suite(pipe, text).items()
            if (w := partitionless_windows(df))
        }
        unclassified = {k: found[k]
                        for k in set(found) - set(SERVING_WINDOW_CLASS)}
        assert not unclassified, (
            f"[{tag}] unclassified partitionless windows in serving "
            f"plans: {unclassified}")
        stale = sorted(set(SERVING_WINDOW_CLASS) - set(found))
        assert not stale, (
            f"[{tag}] classified serving plans no longer plan one: {stale}")

    audit("cold")
    monkeypatch.setattr(ingest, "DRIVER_TIER_BYTES", 0)
    pipe.warm()
    assert "corpus" in pipe._warm
    try:
        audit("warm")
    finally:
        pipe.unwarm()
