#!/usr/bin/env python3
"""Regenerate SCALING.md: measured wall-clock for headline queries across
the 100x scale-factor range (sf0.001 -> sf0.1), with growth ratios.

The point is extrapolation evidence: a query whose cost grows ~linearly
with SF is data-proportional (shuffle/scan bound — scales out with
executors); one whose cost barely moves is overhead-dominated locally
(scheduling + JVM fixed costs) and has headroom at scale. Superlinear
growth would flag an operator whose work grows faster than its input —
none should.

Each query is timed by bench.py's ``measure`` on local[$SPARK_GRAFT_CPUS]
(default 32). Only the table at the end of SCALING.md is rewritten; the
prose above it is edited in SCALING.md itself. Run from the repo root:

    python tools/scaling_check.py [--only q1,q2]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import measure, session  # noqa: E402

SFS = ["0.001", "0.01", "0.1"]

#: (query, cost shape it demonstrates)
QUERIES = [
    ("pricing_summary", "scan + hash agg (map-side combine)"),
    ("customer_sales_report", "multi-join mart + scale-safe rank"),
    ("minhash_near_dups", "MinHash-LSH banded self-join"),
    ("dup_clusters", "iterative connected components"),
    ("knn_cosine_topk", "broadcast-query brute-force kNN"),
    ("cdc_orders_snapshot", "changelog max_by + anti join"),
    ("bigram_lm_scores", "HOF explode + model-as-data joins"),
    ("event_sessions", "sessionization (gaps-and-islands)"),
    ("packed_training_sequences", "distributed prefix-sum packing"),
    ("cdc_bucketed_state", "bucketed CDC fold (O(delta) bucket rewrite)"),
    ("semdedup_survivors", "cluster-blocked embedding dedup (SemDeDup)"),
    ("token_budget_mix", "per-source token-budget mixing"),
    ("streaming_interval_join_parity", "stream-stream interval join (micro-batch)"),
    ("streaming_outer_join_parity", "stream-stream LEFT OUTER join (micro-batch)"),
    ("knn_pq_topk", "PQ codebook train + ADC shortlist + exact re-rank"),
    ("dup_passage_spans", "inverted gram index + islands merge"),
    ("incremental_dedup_pairs", "delta-vs-base banded join (no base x base)"),
    ("quality_logit_scores", "row-local features + broadcast model join"),
    ("knn_ivfpq_topk", "IVF route + PQ/ADC score + exact re-rank"),
    ("heavy_hitter_tokens", "MG candidates (map-only) + exact recount"),
    ("hybrid_search_rrf", "BM25 + dense rankers, rank-only fusion"),
    ("curated_shard_manifest", "curation verdict -> shard manifest"),
    ("knn_ivfpq_residual_topk", "residual IVF-PQ (assign+residual checkpoint)"),
    ("eval_ngram_contamination", "train-gram explode + broadcast eval semi-join"),
    ("quality_drift_psi", "two-scan PSI over broadcast bin edges"),
    ("normalized_dup_gain", "normalization-aware MinHash audit (two passes)"),
    ("zonemap_pruned_scan", "manifest zone-map file skipping (2 of 14 files)"),
    ("clustered_skipping_gain", "range-clustered vs hashed layout skipping"),
    ("leakage_free_splits", "cluster-routed splits + cross-split leak audit"),
    ("quality_importance_sample", "hash-variate soft quality sampling"),
    ("merge_into_orders", "MERGE INTO (one full-outer equi-join)"),
    ("quality_weighted_sample", "E-S weighted top-k sample (no global sort)"),
    ("skipgram_cooccurrence", "skip-gram pairs: scan-stage HOF + one agg"),
    ("lineitem_corr_matrix", "one-scan sufficient-statistics correlation"),
    ("fellegi_sunter_links", "blocked probabilistic record linkage"),
    ("theil_sen_daily_trend", "calendar-bounded pairwise-slope median"),
    ("copurchase_jaccard_parts", "order-local item-item similarity"),
    ("global_decile_source_mix", "scalable two-pass global decile rank"),
    ("knn_jl_topk", "JL random-projection search (scan-stage matmul-free)"),
    ("mor_shuffled_delete_scan", "MoR read via unhinted (AQE) anti-join"),
    ("dedup_threshold_sweep", "one pair materialization, 5-threshold sweep"),
    ("skipgram_pmi", "PMI over checkpointed pair counts (one corpus scan)"),
    ("countmin_estimate_audit", "CMS build (bounded agg) + top-50 audit"),
    ("per_source_weighted_sample", "per-group E-S quota (narrow window)"),
    ("prefix_jaccard_pairs", "PPJoin prefix-filtered exact Jaccard join"),
    ("containment_dup_pairs", "containment join (prefix vs full index)"),
    ("streaming_countmin_parity", "streaming CMS fold (micro-batch)"),
    ("token_entropy_scores", "per-doc entropy (two bounded aggs)"),
    ("robust_length_outliers", "rank-discrete quartiles + IQR fences"),
    ("quality_vs_dup_calibration", "quality x dup cross-signal (id joins)"),
    ("merged_event_intervals", "variable-interval union (running-max window)"),
    ("quality_score_percentiles", "per-group collapsed-frame percent_rank"),
    ("streaming_weighted_sample_parity", "streaming E-S top-k fold"),
    ("embedding_covariance_matrix", "partition-partial Gram (one Arrow pass)"),
    ("pca_power_projection", "driver eigenstep + JVM broadcast projection"),
    ("part_copurchase_pagerank", "capped-out-degree power iteration (n*64 transitions)"),
    ("streaming_gram_parity", "streaming Gram-moment fold (micro-batch)"),
    ("copurchase_triangle_rank", "mutual-top-64 kNN graph triangles (linear wedges)"),
    ("hll_register_table", "white-box HLL: one partial-max aggregate"),
    ("streaming_hll_parity", "streaming HLL max-fold (micro-batch)"),
    ("selfjoin_size_estimate", "CM inner-product join-size estimate"),
    ("incremental_join_view", "delta-join IVM (broadcast deltas)"),
    ("bootstrap_mean_ci", "one-pass Poisson bootstrap (32 replicates)"),
    ("bloom_prune_audit", "Bloom build + map-side probe prune + exact audit"),
    ("ewma_daily_orders", "banded-equi-join EWMA (calendar-bounded spine)"),
    ("revenue_grouping_sets", "one-scan Expand grouping sets"),
    ("market_basket_rules", "order-local pair expansion + broadcast rates"),
    ("bpe_merge_steps", "3-step BPE merge loop over the word-freq table"),
    ("mor_delete_scan", "MoR broadcast-anti-join live scan (3 delete commits)"),
    ("mor_compaction_profile", "targeted MoR compaction + post-state audit"),
    ("knn_bq_topk", "binary-quantization Hamming shortlist + exact re-rank"),
    ("hll_set_algebra_audit", "mergeable HLL union + inclusion-exclusion"),
    ("order_volume_anomalies", "EWMA-forecast spike flags (integer-exact)"),
    ("streaming_mor_delete_parity", "streaming MoR delete fold (micro-batch)"),
    # round-9 additions: the shapes whose scale behavior is the claim
    ("order_value_percentile_bands", "two-pass global cumsum percentiles"),
    ("ks_two_sample_price", "integer-exact KS over two-pass CDFs"),
    ("spearman_price_qty", "tie-corrected rank correlation (two-pass)"),
    ("kendall_tau_daily", "calendar-bounded pairwise sign test"),
    ("rolling_active_users_7d", "bounded coverage-expansion rolling distinct"),
    ("session_duration_deciles", "per-user sessions + two-pass global deciles"),
    ("event_value_pareto", "two-pass global rank + top-20% share"),
    ("cosine_pair_histogram", "corpus-derived blocks: n*64/2 cosine pairs"),
    ("heaps_law_fit", "range-bucketed vocab growth + quantized OLS"),
    ("hapax_legomena_rate", "per-source vocab profile (Zipf-bounded)"),
    ("embedding_label_centroid_spread", "label geometry from moments only"),
    ("yoy_revenue_growth_by_region", "broadcast dims + bounded self-join"),
    ("order_fulfillment_backlog", "two fact reductions + bounded spine"),
    ("key_cardinality_audit", "10-table distinct-key audit (one agg each)"),
    ("streaming_retry_fold_parity", "retried-batch argmax fold (batch_id<n)"),
    # round-10 additions
    ("fuzzy_part_name_pairs", "PassJoin segment-blocked edit-distance join"),
    ("first_touch_attribution", "per-user min_by fold + bounded rollup"),
    ("interarrival_burstiness", "per-user gap moments (exact integer sums)"),
    ("supplier_nation_herfindahl", "one fact agg + broadcast dims HHI"),
    ("centroid_distance_bands", "n-scaled integer centroid distances"),
    ("user_survival_curve", "KM estimator over day-bounded count table"),
    ("largest_remainder_allocation", "integer Hamilton apportionment"),
    # round-11 additions
    ("frequent_triples", "capped basket triple expansion (<=C(24,3)/order)"),
    ("cusum_daily_revenue", "reflected-cumsum CUSUM (calendar-bounded)"),
    ("lorenz_curve_points", "one-pass multi-measure global cumsum"),
    ("price_size_skyline", "bounded-domain cummax skyline"),
    ("open_order_concurrency", "sweep-line interval concurrency (2 deltas/row)"),
    ("kruskal_wallis_brand_price", "doubled-rank KW off bounded count tables"),
    ("brown_forsythe_price_variance", "exact-median robust variance ANOVA"),
    ("jarque_bera_order_values", "four exact power sums, one scan"),
    ("hot_key_skew_safe_distinct", "two-phase distinct under 30% key skew"),
    ("doc_bigram_entropy_scores", "char-bigram entropy (O(chars) explode)"),
    ("repeat_interval_median_by_segment", "per-key lag + bounded gap medians"),
    ("double_ewma_trend", "Brown double EWMA (two integer weight sets)"),
    ("time_travel_version_diff", "per-version MoR time-travel scans"),
    ("two_way_anova_price", "cells-decomposition two-way ANOVA"),
    ("weekend_event_value_qq", "exact type-1 ventiles off count tables"),
    ("weibull_interarrival_shape", "geometric survival grid + quantized OLS"),
    ("hill_tail_index", "TakeOrdered top-500 + quantized-ln Hill"),
    ("below_median_streaks", "islands over the bounded daily table"),
    ("event_type_lift_matrix", "type-vocabulary-bounded lift matrix"),
    ("dedup_cluster_size_powerlaw", "components size-frequency OLS (cached pairs)"),
    ("simhash_hamming_of_candidates", "simhash/minhash cross-calibration"),
    ("streaming_ingest_dedup_parity", "shared-trilogy stream fixture (dedup fold)"),
    ("streaming_semi_additive_parity", "shared events fixture (argmax fold)"),
    ("systematic_sample_global_rank", "every-k-th audit sample (2-pass multi cumsum)"),
    ("cube_margins_audit", "CUBE margins via one Expand + GROUPING flags"),
    ("price_mad_robust_scale", "nested exact medians over distinct-value frames"),
    ("null_safe_join_audit", "null-safe <=> join with derived null keys"),
    ("regex_token_profile", "stated-subset regex tokenizer rollup"),
    ("first_last_nonnull_window_audit", "IGNORE NULLS first/last spans"),
    ("streaming_sliding_parity", "sliding windows as a real stream"),
    ("streaming_static_enrich_parity", "stream-static broadcast join parity"),
    ("streaming_late_batch_fold_parity", "anti-chronological fold (suite fixture)"),
    ("streaming_watermark_drop_parity", "watermark drop/emission contract stream"),
    # round-13 additions
    ("embedding_degenerate_audit", "NaN-safe degenerate-vector census"),
    ("nan_total_order_audit", "IEEE NaN grouping/comparison/ordering pins"),
    ("pmod_negative_keys_audit", "truncated % vs pmod on negative keys"),
    ("explode_outer_empty_audit", "explode_outer row preservation rollup"),
    ("interpolated_quartiles_audit", "percentile vs quantile_cont blend"),
]

TABLE_HEAD = "| query | shape | sf0.001 | sf0.01 | sf0.1 | x10 @0.01 | x10 @0.1 |"
SCALING_MD = os.path.join(REPO, "SCALING.md")


def _prior_times(path: str) -> dict[str, dict[str, float]]:
    """Parse the existing table so --only re-measures a subset without
    discarding every other row's numbers."""
    times: dict[str, dict[str, float]] = {}
    with open(path) as fh:
        lines = fh.readlines()
    for ln in lines:
        parts = [p.strip() for p in ln.split("|")]
        if len(parts) < 8 or not parts[3].endswith("s"):
            continue
        try:
            times[parts[1]] = {
                sf: float(parts[3 + i].rstrip("s"))
                for i, sf in enumerate(SFS)
            }
        except ValueError:
            continue
    return times


def write_table(path: str, times: dict[str, dict[str, float]]) -> None:
    """Rewrite the table at the end of ``path`` from ``times``
    (``{query: {sf: seconds}}``); every line above the table header is
    kept byte for byte, so SCALING.md is the one source of its prose."""
    with open(path) as fh:
        text = fh.read()
    lines = [TABLE_HEAD, "|---|---|---|---|---|---|---|"]
    for name, shape in QUERIES:
        # ratios from the printed cells, so a row --only leaves alone
        # keeps its ratios digit for digit
        t = {sf: round(sec, 2) for sf, sec in times[name].items()}
        r1 = t["0.01"] / t["0.001"] if t["0.001"] > 0 else float("nan")
        r2 = t["0.1"] / t["0.01"] if t["0.01"] > 0 else float("nan")
        lines.append(
            f"| {name} | {shape} | {t['0.001']:.2f}s | {t['0.01']:.2f}s "
            f"| {t['0.1']:.2f}s | {r1:.1f} | {r2:.1f} |"
        )
    with open(path, "w") as fh:
        fh.write(text[: text.index(TABLE_HEAD)] + "\n".join(lines) + "\n")


def main() -> None:
    from asritha_metamorphetl_spark.plans.registry import all_queries

    only: set[str] | None = None
    if len(sys.argv) > 2 and sys.argv[1] == "--only":
        only = set(sys.argv[2].split(","))

    spark = session(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    qs = all_queries()
    subset = {n: qs[n] for n, _ in QUERIES if only is None or n in only}

    times = _prior_times(SCALING_MD)
    for sf in SFS:
        runs, failed = measure(spark, subset, f"/root/testdata/sf{sf}")
        if failed:
            sys.exit(f"scaling_check: sf{sf} failed: {failed}")
        for name, run in runs.items():
            times.setdefault(name, {})[sf] = sum(run)
            print(f"sf{sf} {name}: {sum(run):.2f}s", file=sys.stderr)
    spark.stop()
    write_table(SCALING_MD, times)
    print(f"wrote SCALING.md ({len(QUERIES)} queries x {len(SFS)} SFs)")


if __name__ == "__main__":
    main()
