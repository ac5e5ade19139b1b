"""Declared-query registry: name → (Spark builder, DuckDB oracle SQL).

This is the engine's correctness contract (SURVEY.md §2.3): every operator
claimed in the inventory has a declared query over the driver testdata whose
result must hash-match the DuckDB oracle at sf0.01. Builders return
DataFrames; oracles are ANSI-ish SQL in DuckDB dialect over the same parquet
tables (pre-registered views: region nation customer supplier part orders
lineitem events documents embeddings).

Column names and types are aligned on both sides (the comparison sorts
columns by name and hashes values order-insensitively).

DuckDB dialect shims used in oracles (SURVEY.md §5.3 rule 4):
``len``/``size``, ``[i]``/``element_at``, ``sha256``/``sha2``,
``json_extract_string``/``get_json_object``, ``string_split+unnest``/
``split+explode``, ``list_sort(list())``/``sort_array(collect_list())``,
``epoch_us``/``unix_micros``.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession

from multi_model_vectorsearch_spark.operators.registrations import (
    MODULES,
)
from multi_model_vectorsearch_spark.operators.registrations.base import (
    DQ,  # noqa: F401  (re-exported: the registry's public record type)
)
from multi_model_vectorsearch_spark.sources.registry import load_tables


def _run(builder: Callable[[dict], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    def runner(spark: SparkSession, sf_dir: str) -> DataFrame:
        return builder(load_tables(spark, sf_dir))
    return runner


# --- registry aggregation ----------------------------------------------------
# Entries live next to their operator modules (operators/registrations/*,
# r9 verdict item 6 — dq.py was a 183 KB merge-conflict magnet); this stays
# the one aggregation point. _GATE_ORDER pins the historical, curated gate
# order the per-round CORRECTNESS/GATE artifacts were recorded against;
# future entries may simply be appended to their module's DQS — unordered
# names sort after the pinned ones, by name, deterministically.
_GATE_ORDER: tuple[str, ...] = (
    "dq01_scan_project",
    "dq02_filter_battery",
    "dq03_case_expr",
    "dq04_join_broadcast",
    "dq05_left_outer",
    "dq06_left_semi",
    "dq07_left_anti",
    "dq08_range_join",
    "dq09_asof_join",
    "dq10_hash_agg",
    "dq11_count_distinct",
    "dq12_rollup",
    "dq13_ordered_collect",
    "dq14_conditional_agg",
    "dq15_topk_per_group",
    "dq16_lag",
    "dq17_running_sum",
    "dq18_ntile",
    "dq19_union",
    "dq20_intersect_except",
    "dq21_string_battery",
    "dq22_datetime_battery",
    "dq23_math_battery",
    "dq24_array_battery",
    "dq25_json_extract",
    "dq26_tokenize_explode",
    "dq27_sha256",
    "dq28_dedup_by_hash",
    "dq65_unpivot",
    "dq66_regex_battery",
    "dq67_null_battery",
    "dq68_date_arith",
    "dq69_array_ops",
    "dq29_knn_topk",
    "dq30_l2_normalize",
    "dq31_knn_join",
    "dq32_modality_balanced_topk",
    "dq33_build_edges",
    "dq34_expand",
    "dq72_pagerank",
    "dq35_hydrate_filter",
    "dq54_expand_top1",
    "dq55_expand_2hop",
    "dq56_bigram_udtf",
    "dq57_approx_distinct",
    "dq58_pivot",
    "dq59_percentiles",
    "dq60_stats_agg",
    "dq63_bm25_topk",
    "dq64_hybrid_rrf",
    "dq84_normalize_text",
    "dq85_vocab_topk",
    "dq86_length_filter",
    "dq62_winnow_fingerprint",
    "dq61_dedup_clusters",
    "dq36_tumbling",
    "dq37_sliding",
    "dq38_session",
    "dq75_window_battery",
    "dq76_nullsafe_join",
    "dq73_cube",
    "dq74_histogram",
    "dq82_correlated_subquery",
    "dq83_map_ops",
    "dq81_sql_text",
    "dq77_tpch_q1",
    "dq78_tpch_q3",
    "dq79_tpch_q5",
    "dq80_tpch_q6",
    "dq87_tpch_q4",
    "dq88_tpch_q10",
    "dq89_tpch_q12",
    "dq90_tpch_q14",
    "dq91_tpch_q15",
    "dq92_tpch_q18",
    "dq93_tpch_q19",
    "dq94_tpch_q22",
    "dq70_gapfill",
    "dq71_funnel",
    "dq40_minhash_signatures",
    "dq41_minhash_lsh_pairs",
    "dq42_ngram_jaccard_topk",
    "dq43_simhash",
    "dq44_langid",
    "dq45_quality",
    "dq46_cosine_neardup_topk",
    "dq47_ivf_knn",
    "dq51_lsh_ann",
    "dq52_centroid_applyinpandas",
    "dq53_bpe_tokens",
    "dq48_embed_stub",
    "dq49_embed_knn",
    "dq95_hash_split",
    "dq96_stratified_sample",
    "dq97_pack_sequences",
    "dq98_contamination",
    "dq99_pii_redact",
    "dq100_pmi_bigrams",
    "dq107_temperature_mixture",
    "dq108_int8_quantize",
    "dq109_matryoshka_knn",
    "dq110_hamming_knn",
    "dq111_word_entropy",
    "dq112_weighted_sample",
    "dq113_cluster_representatives",
    "dq114_pq_assign",
    "dq115_epoch_plan",
    "dq116_salted_agg",
    "dq117_sessionize",
    "dq118_rolling_range",
    "dq119_edit_distance_neighbors",
    "dq120_ivf_recall",
    "dq121_bfs_layers",
    "dq122_kmeans_lloyd",
    "dq123_tfidf_keywords",
    "dq124_lateral_topn",
    "dq125_column_profile",
    "dq126_integrity_audit",
    "dq127_unigram_surprisal",
    "dq128_simhash_band_pairs",
    "dq130_repeated_ngrams",
    "dq131_quality_ensemble",
    "dq132_latest_event",
    "dq133_dedup_apply",
    "dq134_heavy_hitters",
    "dq135_curation_funnel",
    "dq136_ivf_multiprobe",
    "dq137_dup_rate_by_source",
    "dq138_prenorm_dot_knn",
    "dq139_blocked_fuzzy_join",
    "dq140_approx_quantiles",
    "dq141_bloom_screen",
    "dq142_count_anomalies",
    "dq143_retention_cohorts",
    "dq144_transition_matrix",
    "dq145_filtered_knn",
    "dq146_grouped_maxsim",
    "dq147_mutual_knn",
    "dq129_reagg_rollup",
    "dq106_view_purchase_join",
    "dq102_gopher_repetition",
    "dq103_bpe_merge_pairs",
    "dq104_triangles",
    "dq105_degree_histogram",
    "dq101_scd2_intervals",
    "dq148_semdedup",
    "dq149_diversity_filter",
    "dq150_doc_chunks",
    "dq151_zipf_slope",
    "dq152_perplexity_buckets",
    "dq153_lsh_recall",
    "dq154_centroid_drift",
    "dq155_ngram_novelty",
    "dq156_tpch_q7",
    "dq157_tpch_q8",
    "dq158_tpch_q13",
    "dq159_tpch_q17",
    "dq160_tpch_q21",
    "dq161_incremental_dedup",
    "dq162_chunk_dedup_stats",
    "dq163_quality_by_dup_status",
    "dq164_countmin_freq",
    "dq165_graph_ann",
    "dq166_graph_ann_recall",
    "dq167_dataset_card",
    "dq168_dup_spans",
    "dq169_source_cap",
    "dq170_knn_label_prop",
    "dq171_global_ntile_scalable",
    "dq173_tpch_q2",
    "dq174_tpch_q9",
    "dq175_tpch_q11",
    "dq176_tpch_q16",
    "dq177_tpch_q20",
    "dq178_interpolate",
    "dq179_rolling_median",
    "dq180_tfidf_top_terms",
    "dq181_neardup_first_occurrence",
    "dq182_hard_negatives",
    "dq172_minhash_estimate_audit",
    "dq183_prefix_filter_join",
    "dq184_ohlc_bars",
    "dq185_inverted_index",
    "dq186_basket_lift",
    "dq187_changelog_compact",
    "dq188_psi_drift",
    "dq189_zorder_layout",
    "dq190_kcore",
    "dq191_pit_features",
    "dq192_source_kl",
    "dq193_user_trend",
    "dq194_training_triplets",
    "dq195_winsorized_stats",
    "dq196_hll_rollup",
    "dq197_skyline",
    "dq198_ewma",
    "dq199_weighted_median",
    "dq201_compaction_plan",
    "dq200_sorted_neighborhood",
    "dq202_bigram_lm",
    "dq203_containment_join",
    "dq204_grid_dbscan",
    "dq205_feature_auc",
    "dq206_mutual_info",
    "dq207_ks_test",
    "dq208_cusum",
    "dq209_dup_flow_matrix",
    "dq210_cluster_purity",
    "dq211_calibration_bins",
    "dq212_grouping_sets",
    "dq213_rolling_zscore",
    "dq214_link_prediction",
    "dq215_local_clustering",
    "dq216_seasonal_profile",
    "dq217_dedup_savings",
    "dq218_phrase_search",
    "dq219_order_audit",
    "dq220_ari",
    "dq221_langid_confusion",
    "dq222_lsh_pr_curve",
    "dq223_nearest_event_join",
    "dq224_weighted_reservoir",
    "dq225_mad_outliers",
    "dq226_time_weighted_avg",
    "dq227_vocab_coverage_curve",
    "dq228_ivfpq_search",
    "dq229_ivfpq_recall",
    "dq230_template_mining",
    "dq231_autocorr",
    "dq232_period_over_period",
    "dq233_benford_audit",
    "dq234_equiheight_histogram",
    "dq235_markov_nll",
    "dq236_gini",
    "dq237_assortativity",
    "dq238_rfm_segments",
    "dq239_quantile_normalize",
    "dq240_burstiness",
    "dq241_effective_sources",
    "dq242_split_uniformity",
    "dq243_lorenz_deciles",
    "dq244_growth_accounting",
    "dq245_lsh_pairs_strict",
    "dq246_span_dedup",
)

_REGISTRY: list[DQ] = [e for m in MODULES for e in m.DQS]
_names = [e.name for e in _REGISTRY]
if len(_names) != len(set(_names)):
    raise AssertionError("duplicate DQ registration names")
_IDX = {n: i for i, n in enumerate(_GATE_ORDER)}
_REGISTRY.sort(key=lambda e: (_IDX.get(e.name, len(_GATE_ORDER)), e.name))


def _driver_verified_now() -> frozenset[str]:
    """Every green row found in the committed CORRECTNESS_r*.json files.

    Each round's oracle gate checks only the first 50 registry entries,
    so ``registry()`` rotates not-yet-verified entries to the front.
    Reading the driver's own result files makes the rotation hands-free:
    when a new round's CORRECTNESS lands in the repo root, its green
    entries automatically stop occupying the next round's gate window.
    A green name is one with rows+schema+hash all matching, or a
    rows-only-by-design entry (err == "no_oracle").

    Memoized on the (path, mtime) list of the driver files: registry() is
    called repeatedly by tests and the entry contract, and re-globbing +
    re-parsing every file per call made registry ORDER depend on repeated
    filesystem reads. Note the rotation still depends on which
    CORRECTNESS_r*.json files exist in the workspace — content is
    unaffected, only run order / bench entry rotation."""
    import glob
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    key = tuple((p, os.path.getmtime(p)) for p in paths)
    return _parse_driver_files(key)


@lru_cache(maxsize=8)
def _parse_driver_files(key: tuple) -> frozenset[str]:
    import json

    names: set[str] = set()
    for path, _mtime in key:
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except Exception:  # pragma: no cover - malformed driver output
            continue
        if not isinstance(rows, dict):
            continue
        for name, res in rows.items():
            if not isinstance(res, dict):
                continue
            green = (res.get("rows_match") and res.get("schema_match")
                     and res.get("hash_match"))
            if green or res.get("err") == "no_oracle":
                names.add(name)
    return frozenset(names)


def registry() -> list[DQ]:
    """Registry with not-yet-driver-verified entries rotated to the front.

    The driver's per-round oracle gate covers a fixed-size prefix of the
    registered queries; putting unverified entries first means each round's
    CORRECTNESS window converts the maximum number of components from
    "locally green" to "driver-verified".  Relative order within each group
    is preserved so results remain deterministic.
    """
    verified = _driver_verified_now()
    pending = [dq for dq in _REGISTRY if dq.name not in verified]
    done = [dq for dq in _REGISTRY if dq.name in verified]
    return pending + done


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {dq.name: _run(dq.builder) for dq in registry()}


def oracle_sql() -> dict[str, str]:
    return {dq.name: dq.oracle for dq in registry() if dq.oracle is not None}
