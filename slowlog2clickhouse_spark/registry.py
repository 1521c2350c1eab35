"""Operator registry — the single source of truth behind
``__spark_entry__.queries()`` / ``oracle_sql()``.

Every operator from SURVEY.md §2 registers itself here with its op id,
a ``(spark, sf_dir) -> DataFrame`` builder, and (when SQL-expressible)
the equivalent DuckDB oracle SQL. The driver's correctness gate and our
pytest parity suite both iterate this registry, so an op exists exactly
once.

Conventions (SURVEY.md §7 G — keep the DuckDB value-hash exact):
  * lowercase column aliases on BOTH sides, identical names;
  * round order-dependent float aggregates (sum/avg/percentile) to 4
    decimals on both sides; scalar float math is IEEE-deterministic and
    needs no rounding;
  * explicit NULLS FIRST/LAST on every ORDER BY that feeds a LIMIT;
  * unique tiebreak column on every top-k;
  * md5/sha2 are cross-engine stable, xxhash64/hash are not (rows-only).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Op:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, None => rows-only check
    doc: str = ""


_REGISTRY: dict[str, Op] = {}


def op(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query builder under a SURVEY.md §2 op id."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate op id: {name}")
        _REGISTRY[name] = Op(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


# Deterministic rotation tiebreak. The external correctness driver
# scores ops in queries() dict order under a finite budget (50 rows
# per round). Since round 8 the order is COMPUTED, not hand-curated
# (VERDICT r7 #5): all_ops() sorts by (latest round the driver scored
# the op, position in this tuple). Never-scored ops — and the ops in
# _STALE_RESCORE, whose only scores predate their current oracles —
# sort to the head automatically, so a newly registered op reaches a
# driver window the round it lands and stale scores age out
# round-robin: with ~300 ops and 50 rows/round, max staleness is
# ceil(300/50) = 6 rounds (tests/test_coverage.py simulates and pins
# this). This tuple is the tiebreak WITHIN a staleness class and the
# explicit-placement contract (every op listed exactly once).
_PRIORITY: tuple[str, ...] = (
    "fn_fingerprint_parity",
    "scan_slowlog_mysql80",
    "scan_text_gzip",
    "vec_quantize_pq",
    "vec_knn_pq_adc",
    "qan_workload_compress",
    "qan_workload_sample",
    "vec_knn_ivf_pq",
    "sink_zorder_parquet",
    "slowlog_classes_incremental",
    "slowlog_classes_incremental_pctl",
    "stream_classes_pctl_merge",
    "qan_pctl_hist_error",
    "fn_fingerprint_router",
    "fn_fingerprint_routed",
    "slowlog_classes_routed",
    "ann_ivfpq_sweep",
    "dedup_lsh_band_sweep",
    "dedup_simhash_radius_sweep",
    "agg_weighted_percentile",
    "events_journey_pattern",
    "vec_contamination_probe",
    "dedup_simhash_accuracy",
    "stream_journey_state",
    "qan_overview",
    "dedup_keep_best",
    "corpus_dedup_rate_by_source",
    "qan_trend_regression",
    "text_zipf_fit",
    "mm_resize",
    "mm_decode_pgm",
    "graph_components_star",
    "dedup_cluster_incremental",
    "stream_slowlog_tail",
    "stream_slowlog_tail_multi",
    "ann_recall_clustered",
    "ann_pq_bits_clustered",
    "ann_opq_rotation",
    "stream_slowlog_tail_sharded",
    "vec_ivf_append",
    "mm_resize_pgm",
    "mm_frame_sample",
    "orders_pareto",
    "events_rfm",
    "stream_dedup_minhash",
    "join_dynamic_partition_pruning",
    "udtf_table_arg",
    "dedup_containment",
    "mm_phash_dedup",
    "llm_curation_funnel",
    "qan_latency_histogram",
    "qan_load_heatmap",
    "qan_digest_examples",
    "qan_digest_cooccurrence",
    "agg_bitmap_distinct",
    "doc_chunk_sliding",
    "time_rolling_distinct",
    "text_bpe_pairs",
    "join_interval_binned",
    "slowlog_efficiency",
    "text_oov_rate",
    "win_rolling_median",
    "text_dup_spans",
    "agg_session_window_builtin",
    "scan_binary_files",
    "events_attribution",
    "scan_jsonl_corrupt",
    "dq_drift",
    "mm_scene_cut",
    "slowlog_dimensions_matrix",
    "events_markov_transitions",
    "basket_part_pairs",
    "time_resample_ohlc",
    "slowlog_load_share",
    "text_idf_keywords",
    "dq_sequence_gaps",
    "text_entropy",
    "events_ab_lift",
    "slowlog_rate_adjusted",
    "ann_nprobe_sweep",
    "events_conversion_lag",
    "join_null_skew_isolation",
    "slowlog_top_tables",
    "mm_duplicate_frames",
    "text_lang_mismatch",
    "orders_running_share",
    "customer_wallet_share",
    "events_props_band_stats",
    "slowlog_classes_approx",
    "agg_hll_daily_merge",
    "scan_xml",
    "str_collation",
    "sql_pipe_syntax",
    "agg_percentile_disc",
    "agg_filter_clause",
    "sql_lateral_alias",
    "sql_identifier_clause",
    "scan_csv_multiline",
    "dedup_prefix",
    "events_trigram_paths",
    "reshape_transpose",
    "events_bounce_rate",
    "supplier_balance_outliers",
    "part_price_dispersion",
    "events_user_lifetime",
    "stream_rate_source",
    "stream_progress_metrics",
    # r7 additions (SURVEY §2 L): queued directly behind the deferred
    # never-scored block so they reach a driver window within 2 rounds
    "dedup_minhash_accuracy",
    "corpus_token_budget",
    "vec_dim_stats",
    "fn_hash64",
    "agg_approx_count_distinct",
    "agg_percentile_approx",
    "map_in_pandas_chunker",
    "pandas_udf_fingerprint",
    "scan_text_multiline",
    "scan_slowlog_pyds",
    "qan_filter_dimensions",
    "sink_parquet",
    "sink_parquet_partitioned",
    "scan_csv",
    "text_fingerprint_rolling",
    "stream_file_source",
    "stream_sliding_agg",
    "stream_session_window",
    "stream_dedup_watermark",
    "stream_late_data",
    "sink_stream_foreachbatch",
    "stream_stream_join",
    "stream_transform_with_state",
    "stream_slowlog_classes",
    "stream_slowlog_to_jdbc",
    "sink_compact",
    "sink_partition_overwrite",
    "scan_schema_evolution",
    "sink_v2_writeto",
    "cache_branch_reuse",
    "observe_metrics",
    "vec_quantize_int8",
    "dedup_cluster",
    "udf_arrow_optimized",
    "join_bucketed_colocated",
    "stream_stateful_counter",
    "qan_anomaly_mad",
    "text_ngram_topk",
    "vec_knn_ivf",
    "pack_sequences",
    "vec_kmeans",
    "graph_pagerank",
    "sample_fraction",
    "sink_jdbc_clickhouse",
    "vec_knn_lsh",
    "vec_knn_lsh_multiprobe",
    "ann_recall_eval",
    "corpus_mix_rebalance",
    "dedup_minhash_verified",
    "mm_decode_features",
    "mm_feature_knn",
    "mm_audio_energy",
    "qan_new_digests",
    "scan_partition_pruned",
    "win_moving_avg_time",
    "win_sessionize",
    "qan_compare_periods",
    "text_pii_scrub",
    "text_repetition",
    "sample_stratified",
    "text_decontaminate",
    "text_unigram_logprob",
    "merge_upsert",
    "cohort_retention",
    "funnel_events",
    "diff_snapshots",
    "scd2_intervals",
    "map_funcs",
    "text_normalize",
    "join_lateral",
    "filter_scalar_subquery",
    "agg_histogram",
    "json_variant",
    "join_bloom_runtime_filter",
    "sql_parameterized",
    "set_intersect_all",
    "set_except_all",
    "map_in_arrow",
    "cte_recursive_spine",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q18",
    "tpch_q14",
    "join_strategy_hints",
    "join_null_safe",
    "set_union_by_name",
    "time_weighted_avg",
    "win_islands_runs",
    "str_array_funcs2",
    "agg_bool",
    "win_nth_value",
    "agg_skew_kurt",
    "explode_outer_nulls",
    "str_regex_extract_all",
    "agg_bitwise",
    "str_hex_base64",
    "agg_product",
    "time_bucket_custom",
    "qan_apdex",
    "qan_slo_burn",
    "date_try_parse",
    "str_regex_backref",
    "mm_metadata_filter",
    "win_running_sum",
    "win_first_last_value",
    "win_percent_cume",
    "qan_sparkline",
    "sort_multikey_nulls",
    "limit_topk",
    "set_union_all",
    "set_union_distinct",
    "set_intersect",
    "set_except",
    "dedup_distinct",
    "pivot_wide",
    "unpivot_long",
    "scan_parquet",
    "scan_json_props",
    "agg_salted_twophase",
    "text_wordcount",
    "text_tfidf",
    "text_langid",
    "text_quality",
    "text_token_count",
    "pandas_grouped_agg",
    "grouped_map_normalize",
    "vec_cosine_pairs",
    "vec_knn_topk",
    "vec_centroid",
    "join_semi_anti_rewrite",
    "corpus_curation",
    "join_salted_skew",
    "time_gapfill_locf",
    "tpch_q2",
    "tpch_q4",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9",
    "tpch_q10",
    "tpch_q11",
    "tpch_q12",
    "tpch_q13",
    "tpch_q15",
    "tpch_q16",
    "tpch_q17",
    "tpch_q19",
    "tpch_q20",
    "tpch_q21",
    "tpch_q22",
    "dq_profile",
    "dq_constraints",
    "dq_fk_integrity",
    "events_pipeline",
    "xml_funcs",
    "fuzzy_match_levenshtein",
    "agg_corr_cov",
    "ansi_try_funcs",
    "agg_string_concat",
    "agg_median_mode",
    "win_ratio_to_report",
    "date_month_arith",
    "fn_digest_sha256",
    "array_clean_funcs",
    "agg_grouping_id",
    "agg_regression",
    "str_split_part",
    "map_transform_funcs",
    "fn_from_csv",
    "grouped_apply_arrow",
    "scan_jdbc",
    "scan_orc",
    "scan_jsonl",
    "mm_binary_chunks",
    "slowlog_classes",
    "slowlog_global",
    "slowlog_top_digests",
    "slowlog_parse_stats",
    "udtf_parse_slowlog",
    "udf_fingerprint_py",
    "dedup_minhash",
    "dedup_simhash",
    "stream_tumbling_agg",
    "stream_static_join",
    # r1-green foundational ops (previously reached the driver via the
    # append-at-end fallback; listed explicitly so the rotation guard
    # can assert every op has a deliberate queue position)
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "str_basic",
    "str_regex_extract",
    "fn_fingerprint_sql",
    "fn_digest_md5",
    "date_parse",
    "date_parts",
    "date_trunc_bucket",
    "math_funcs",
    "json_funcs",
    "array_funcs",
    "higher_order_fns",
    "null_funcs",
    "project_select",
    "project_case",
    "filter_pred",
    "filter_null",
    "join_broadcast_inner",
    "join_shuffle_inner",
    "join_left_outer",
    "join_full_outer",
    "join_semi",
    "join_anti",
    "join_cross",
    "join_theta_range",
    "join_asof",
    "agg_global",
    "agg_groupby_stats",
    "agg_time_bucket",
    "agg_percentile",
    "agg_count_distinct",
    "agg_having",
    "agg_conditional",
    "agg_argmax_example",
    "agg_rollup",
    "agg_cube",
    "agg_grouping_sets",
    "agg_collect_sorted",
    "win_topk_per_group",
    "win_rank_dense_ntile",
    "win_lag_lead",
)


# Ops whose ONLY driver scores predate their current oracle (scored
# rows-only at r1/r3; partial value-oracles landed r6 and have never
# been driver-exercised). Treated as never-scored so the rotation
# re-runs them under the oracle they now carry (VERDICT r7 #3).
_STALE_RESCORE: frozenset[str] = frozenset(
    {"fn_hash64", "agg_approx_count_distinct", "agg_percentile_approx"}
)

# Generalization of _STALE_RESCORE for optimization rounds (VERDICT
# r16 #4/#7): an op whose PLAN-SHAPE was rewritten in round N is only
# driver-verified by a score from round >= N — earlier scores prove
# the old code. Map: op id -> first round whose score counts. The r16
# rewrites (_bucket_pairs map-side LSH pairs, _star_loop converged-
# groupBy labels, ann arm folding, drain triggers, shared tokenize/
# signature passes) left 12 of 14 changed ops outside the r16 driver
# window; listing them here sorts them into the next window so the
# plan-level claims get driver-side parity proof. Ops touched again in
# r17 (top-k aggregate ranks, certificate observe, AvailableNow drains)
# carry 17.
_REWRITE_RESCORE: dict[str, int] = {
    "dedup_minhash": 16,
    "dedup_minhash_verified": 16,
    "dedup_minhash_accuracy": 16,
    "dedup_simhash": 16,
    "dedup_simhash_accuracy": 16,
    "llm_curation_funnel": 16,
    "ann_recall_eval": 18,
    "graph_components_star": 17,
    "dedup_cluster": 17,
    "dedup_keep_best": 17,
    "stream_slowlog_tail": 17,
    "stream_slowlog_tail_multi": 17,
}


def latest_scored(root: str | None = None) -> dict[str, int]:
    """op id -> latest round number with a CORRECTNESS_r*.json row.

    Reads the committed driver artifacts at the repo root; absent files
    (fresh checkout) degrade to 'nothing ever scored', i.e. pure
    _PRIORITY order. _STALE_RESCORE ops are reported as unscored."""
    import glob
    import json
    import os
    import re

    if root is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            d = json.load(open(path))
        except (OSError, json.JSONDecodeError):
            continue
        if "results" in d:
            d = d["results"]
        for k, v in d.items():
            if not isinstance(v, dict):
                continue
            # A row that FAILED scoring (err set, or an oracle hash
            # mismatch) must not push the op to the back of the
            # rotation — treat it like never-scored so it re-sorts to
            # the head of the next window instead of waiting ~6 rounds
            # (r8 ADVICE). Exception: err='no_oracle' is the DECLARED
            # contract for rows-only ops (oracle=None) — for those it
            # IS a successful score; for an op that carries an oracle
            # today it's a stale pre-oracle row and doesn't count
            # (generalizes _STALE_RESCORE).
            err = v.get("err")
            if err == "no_oracle":
                _load_all()
                reg = _REGISTRY.get(k)
                if reg is not None and reg.oracle is not None:
                    continue
            elif err is not None or v.get("hash_match") is False:
                continue
            out[k] = max(out.get(k, 0), rnd)
    for k in _STALE_RESCORE:
        # their partial oracles landed in round 6 — any score from an
        # earlier round never exercised the oracle and doesn't count
        if out.get(k, 0) < 6:
            out.pop(k, None)
    for k, first_valid in _REWRITE_RESCORE.items():
        # scores older than the op's last plan-shape rewrite verified
        # the OLD implementation — treat as unscored so the rotation
        # re-samples the op under its current plan (VERDICT r16 #7)
        if out.get(k, 0) < first_valid:
            out.pop(k, None)
    return out


def rotation_order(
    names: list[str], scored: dict[str, int]
) -> list[str]:
    """Least-recently-scored first; _PRIORITY position breaks ties.
    Pure function so tests can simulate future rounds."""
    pos = {n: i for i, n in enumerate(_PRIORITY)}
    return sorted(
        names, key=lambda n: (scored.get(n, 0), pos.get(n, len(pos)))
    )


def all_ops() -> dict[str, Op]:
    _load_all()
    order = rotation_order(list(_REGISTRY), latest_scored())
    return {name: _REGISTRY[name] for name in order}


_LOADED = False


def _load_all() -> None:
    """Import every op module so registration side-effects run."""
    global _LOADED
    if _LOADED:
        return
    from slowlog2clickhouse_spark import operators  # noqa: F401

    _LOADED = True
