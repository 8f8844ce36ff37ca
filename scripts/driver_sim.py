#!/usr/bin/env python
"""Driver simulation — the /verify harness for this repo.

Mimics the external driver: fresh SparkSession with hostile defaults
(non-UTC timezone, no legacy confs), imports __spark_entry__ by file path,
runs entry() and a representative sample of queries() vs oracle_sql()
through DuckDB at sf0.01, comparing row sets exactly (floats via repr).
"""

from __future__ import annotations

import importlib.util
import sys

import duckdb
from pyspark.sql import SparkSession

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# The external driver records correctness for the first registry.DRIVER_PREFIX
# entries of queries(); simulate exactly that, plus post-prefix spot checks.
# resolved from registry.DRIVER_PREFIX inside main() (importable only
# after __spark_entry__ has put the repo on sys.path)
EXTRA = [
    # Post-prefix spot checks.  A row rotated out of the evidence prefix
    # stays here, so a regression is caught before the driver's
    # spot-check; new surface is proven here before it takes a slot.
    "vt_reorg_purge_threshold",
    "rb_setops_breadth",
    "a20_hll_distinct_bounds",
    "a21_weighted_median",
    "w13_value_range_window",
    "g3_stack_inline_breadth",
    "o5_null_ordering_breadth",
    "rb_map_funcs_breadth",
    "mm_payload_dedup",
    "mv_incremental_minmax",
    "sim_embed_quantize",
    "e_mad_outliers",
    "t_fuzzy_match_levenshtein",
    "ts_ewma_dyadic",
    "j7_null_safe_join",
    "w11_cumulative_distinct",
    "j9_bloom_prefilter_semi",
    "ts_seasonal_naive_forecast",
    "e_two_proportion_ztest",
    "g_triangle_count",
    "prof_column_stats",
    "t_rake_keywords",
    "cp_mix_temperature",
    "cp_source_mix",
    "sd_semantic_dedup",
    "w1_dedup_keep_latest",
    "d_exact_dedup_keep_first",
    "tj_asof_click_view",
    "j2_three_way_inner",
    "vt_history_time_travel",
    "mm_audio_features",
    "t_tfidf_topk",
    "ws_medallion_gold",
    "a17_exact_median_twopass",
    "a12_corr_covar",
    "sh_simhash_dup_pairs",
    "sim_cosine_topk",
    "vt_optimize_roundtrip",
    "st_stream_dedup",
    "cp_bm25_search",
    "st_session_eviction",
    "mm_byte_features",
    "ts_forward_fill",
    "ts_spine_gapfill",
    "ts_rollup_cascade",
    "ts_ohlc_bars",
    "a14_bitwise_aggs",
    "a15_value_histogram",
    "a16_freq_items_bound",
    "e_chi_square_independence",
    "cp_weighted_sample",
    "cp_quality_percentile_gate",
    "cp_dedup_stage_report",
    "cp_pack_fill_report",
    "rb_array_hof_breadth",
    "c5_recursive_cte_hierarchy",
    "j8_lateral_topk_per_region",
    "w9_sliding_event_windows",
    "w10_ignore_nulls_window_breadth",
    "t_url_parse",
    "t_collocation_dice",
    "sim_power_iteration_pc1",
    "g_pagerank_dupgraph",
    "pp_partition_skew_report",
    "mv_incremental_delete",
    "vt_maintenance_sql",
    "tj_sessionize_gap30",
    "tj_range_click_purchase",
    "cp_stratified_sample",
    "cl_kmeans_two_rounds",
    "rag_chunk_topk",
    "f19_date_arithmetic",
    "pp_partition_pruned_events",
    "cp_decontaminate",
    "cp_sequence_packing",
    "d_incremental_dedup_probe",
    "a8_rollup",
    "a9_cube",
    "a10_grouping_sets",
    "c3_union_except_intersect",
    "c4_correlated_scalar_subquery",
    "b_pivot_event_types",
    "w3_lead_lag_gap",
    "w5_distribution_ranks",
    "t_quality_score",
    "cp_pii_redact",
    "vt_update_case",
    "ws_expectation_drop",
    "ws_expectation_quarantine",
    "st_windowed_event_counts",
    "cp_cdc_passage_chunks",
    "cp_shared_passages",
    "d_dedup_survivors",
    "ann_pq_fullrerank_exact",
    "tj_sessionize_sql_script",
    "f13_size_split",
    "t_text_stats",
    "t_token_count_regex",
    "t_bpe_pair_counts",
    "t_lang_guess",
    "t_fingerprint",
    "d_dup_group_stats",
    "sim_label_centroid_dist",
    "vt_stats_skipping",
    "cp_incremental_corpus",
    "mm_resize_roundtrip",
    "cp_quality_gate_stats",
    "cp_clean_text_stats",
    "cp_pii_pattern_scan",
    "cp_repetition_filter",
    "cp_split_assignment",
    "a_sketch_bounds",
    "b_unpivot_event_stats",
    "cp_bigram_lm_score",
    "cp_chunk_documents",
    # rows-only serve paths (recall-tested; exact twins are in-prefix)
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "rb_string_funcs_breadth",
    "rb_time_funcs_breadth",
    # more rows rotated out of the prefix
    "vt_table_diff",
    "a18_count_min_sketch",
    "pp_zorder_layout",
    "t_bpe_learn_merges",
    "t_bpe_vocab_stats",
    "mm_frame_sample",
    "pp_bucketed_join_agg",
    "pp_salted_skew_agg",
    "s_orc_roundtrip",
    "e_retention_cohorts",
    "e_user_path_bigrams",
    "w6_time_range_window",
    "a13_filtered_agg",
    "mv_incremental_agg",
    "t_winnowing_fingerprint",
    "d_containment_pairs",
    "t_bpe_token_ids",
    "tj_range_sql_script",
    "sim_knn_classify",
    "cp_shard_manifest",
    "e_session_topk_paths",
    "st_funnel_stages",
    "j5_outer_semi_anti",
    "tj_interval_overlap",
]


def norm(v):
    if isinstance(v, float):
        return repr(v)
    # array cells: Spark rows yield python lists, DuckDB fetchdf yields
    # numpy arrays — canonicalize both element-wise (str(ndarray) would
    # truncate long arrays and format differently from str(list))
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(
            norm(x.item() if hasattr(x, "item") else x) for x in v
        ) + "]"
    return str(v)


def main() -> None:
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", "/root/repo/__spark_entry__.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    df = m.entry(spark)
    rows = df.collect()
    assert len(rows) > 0, "entry() returned no rows"
    print(f"entry rows: {len(rows)} schema: {df.columns}")

    qs, orc = m.queries(), m.oracle_sql()
    assert set(orc) <= set(qs), "oracle keys not subset of query keys"
    print(f"queries: {len(qs)} oracles: {len(orc)}")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    from dataengineeringworkshop_spark.plans.registry import DRIVER_PREFIX

    prefix = list(qs)[:DRIVER_PREFIX]
    sample = prefix + [n for n in EXTRA if n not in prefix]
    failures = []
    for name in sample:
        if name not in qs:
            continue
        sp = qs[name](spark, SF_DIR).toPandas()
        if name not in orc:
            print(f"{name}: rows-only ({len(sp)})")
            continue
        du = con.execute(orc[name]).fetchdf()
        cols = sorted(sp.columns)
        if cols != sorted(du.columns):
            failures.append(f"{name}: columns {cols} vs {sorted(du.columns)}")
            continue
        a = sorted(tuple(norm(v) for v in r) for r in sp[cols].itertuples(index=False, name=None))
        b = sorted(tuple(norm(v) for v in r) for r in du[cols].itertuples(index=False, name=None))
        ok = a == b
        print(f"{name}: rows {len(a)} match: {ok}")
        if not ok:
            failures.append(name)

    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("DRIVER-SIM ALL OK")


if __name__ == "__main__":
    main()
