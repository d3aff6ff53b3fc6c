#!/usr/bin/env python3
"""Regenerate PLANS.md: formatted physical plans for the headline queries,
annotated with what to look for. Run from the repo root:

    python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import plan_text, session  # noqa: E402

SF = "/root/testdata/sf0.01"

#: (query name, what the plan demonstrates)
HEADLINERS = [
    ("supplier_performance", "dimension broadcasts, two-level hash agg with "
     "map-side partials, fused max_by top-1 (no window shuffle)"),
    ("customer_sales_report", "scale-safe percent_rank (SinglePartition only "
     "above the collapsed distinct-value aggregate), display attributes "
     "joined after the heavy shuffles"),
    ("pricing_summary", "pushed filters + pruned ReadSchema at the scan, "
     "whole-stage codegen spans"),
    ("forecast_revenue_change", "pure scan-filter-agg: every predicate in "
     "PushedFilters"),
    ("minhash_near_dups", "pinned exchange on the band key reused by both "
     "self-join sides (ReusedExchange)"),
    ("top5_orders", "TakeOrderedAndProject instead of a global sort"),
    ("packed_training_sequences", "global prefix sum as one range exchange "
     "+ per-partition windows + broadcast offset join — no single-partition "
     "window anywhere"),
    ("salted_hot_user_events", "hot keys scattered across salts; join is a "
     "plain hash equi-join on (key, salt)"),
    ("kmeans_step_centroids", "broadcast 8-row centroid side, top-1 fused "
     "into max_by (no ranking window), bounded k×dim aggregate"),
    ("event_funnel", "per-stage conditional-min aggregates chained on "
     "user_id; event_type filters pushed to every scan"),
    ("legacy_day_slice", "DAY_DT partition pruning: the day filter shows "
     "as PartitionFilters at the scan — one directory read, history "
     "untouched"),
    ("knn_ivf_topk", "Lloyd-refined centroid assignment in the scan stage "
     "(Arrow matmul), probe join shuffles on the bounded cell id"),
    ("cdc_orders_snapshot", "changelog collapsed by a map-side-combinable "
     "max_by (no window), then a LeftAnti join AQE can broadcast — the "
     "O(delta) CDC merge shape"),
    ("incremental_revenue_state", "every state aggregate keeps its partial "
     "stage; the merge is union + one re-aggregate, O(delta + state)"),
    ("zorder_layout_profile", "Morton interleave as pure JVM shift/mask "
     "arithmetic in the projection — codegen-eligible, no UDF"),
    ("scd2_pointintime_totals", "point-in-time fact-to-version join: hash "
     "equi-join on the business key, bracket as a residual filter — "
     "fan-out bounded by version count"),
    ("bigram_lm_scores", "LM model-as-data: HOF bigram explode + count-"
     "table joins, no Python eval, no forced broadcast"),
    ("cdc_bucketed_changefeed", "bucketed CDC consumption: the replica "
     "scans only v1's bucket directories plus the rewritten-bucket feed "
     "(manifest-named paths — untouched buckets never read), merged by "
     "one map-side-combinable max_by"),
    ("semdedup_survivors", "SemDeDup: Arrow assignment kernel in the "
     "scan stage, pair test as an equi-join on the bounded cell id "
     "(clustering IS the blocking — no cartesian), one anti-join for "
     "the keep rule"),
    ("knn_pq_topk", "PQ/ADC: exactly one Arrow stage (the byte encode "
     "against broadcast codebooks); ADC scoring is JVM element_at "
     "lookups over the broadcast per-query LUT frame, exact re-rank "
     "only on the shortlist"),
    ("dup_passage_spans", "passage dedup: gram doc-frequency as one "
     "hash agg on the xxhash64 key, equi-join back to positions, "
     "islands window partitioned by doc — no cartesian, no global "
     "window"),
    ("incremental_dedup_pairs", "delta-vs-base dedup: one equi-join on "
     "band_key whose right side is ONLY the delta's band rows — "
     "base x base pairs are structurally impossible, so batch cost is "
     "O(delta collisions)"),
    ("quality_logit_scores", "model-as-data quality filter: features "
     "in the scan stage projection, one BroadcastHashJoin against the "
     "O(languages) weights table, no shuffle of the corpus"),
    ("bm25_search", "keyword retrieval: token explode semi-joins the "
     "broadcast query-term set before the tf aggregate — postings are "
     "O(matching terms), the corpus text never shuffles; the postings "
     "and doc-length frames are localCheckpointed so the final plan "
     "re-reads the materialized RDDs (zero parquet re-scans — the "
     "corpus tokenizes exactly twice total, r6 directive #2)"),
    ("curation_verdict", "the four curation stages composed: every "
     "verdict join is id-keyed; no stage adds a pair-granularity join "
     "beyond what its standalone plan already pinned"),
    ("knn_ivfpq_topk", "IVF-PQ composition: one Arrow stage encodes "
     "cell + codes map-side against the broadcast centroids/codebooks; "
     "candidates come from an equi-join on the bounded cell id with "
     "the probe side broadcast; ADC cosine is JVM element_at lookups "
     "over the broadcast LUT frame; only the shortlist touches full "
     "vectors again"),
    ("hybrid_search_rrf", "rank-only fusion: both inputs are already "
     "top-k lists, so the full-outer join and final window move "
     "O(queries*k) rows — corpus-scale work lives in the rankers, "
     "which keep their own pinned plans"),
    ("heavy_hitter_tokens", "exact heavy hitters, bounded memory: "
     "pass 1 is a map-only mapInPandas Misra-Gries (O(k) state per "
     "task); pass 2 semi-joins the BROADCAST candidate set inside the "
     "scan stage before the count aggregate — the shuffle carries "
     "candidate postings, never the vocabulary"),
    ("curated_shard_manifest", "curate -> shard last mile: the verdict "
     "joins stay id-keyed, the kept-set join is one id equi-join, and "
     "everything collapses to the bounded N_SHARDS-row aggregate"),
    ("knn_ivfpq_residual_topk", "residual IVF-PQ: the checkpointed "
     "assign+residual pass feeds training and encode once; ADC scoring "
     "is pure JVM lookups over the broadcast per-query LUTs plus the "
     "precomputed centroid/codeword tables riding the same frame; only "
     "the shortlist touches full vectors"),
    ("eval_ngram_contamination", "benchmark decontamination: train "
     "grams explode map-side and semi-join the BROADCAST eval gram set "
     "before any aggregation — the train corpus (the 100 TB side) "
     "never shuffles"),
    ("zonemap_pruned_scan", "manifest zone-map skipping: the parquet "
     "scan's file list is pruned driver-side against per-file min/max "
     "BEFORE planning — the plan's scan holds only the 2 surviving "
     "files of 14; the six excluded years cost zero tasks"),
    ("clustered_skipping_gain", "layout x zone maps: identical rows, "
     "identical read path — the range-clustered layout reads 2 of 14 "
     "files, the hash layout all 14, both counts oracle literals; the "
     "pruning a 100 TB scan gets is exactly as good as the physical "
     "layout's correlation with the predicate"),
    ("leakage_free_splits", "cluster-granular splits: component closure "
     "is the audited min-label propagation, routing a row-local hash of "
     "the cluster id, and the leak audit two id equi-joins over the "
     "O(pairs) frame — nothing pair-quadratic, no corpus-wide window"),
    ("quality_importance_sample", "soft quality sampling: P(keep) = "
     "score vs a content-hash uniform variate — row-local decisions, "
     "one broadcast weights join inherited from the score fragment, "
     "one O(sources) rollup; reproducible with zero RNG state"),
    ("quality_weighted_sample", "exact weighted sampling without "
     "replacement: row-local E-S key (hash variate, inherited broadcast "
     "weights join) + TakeOrderedAndProject — per-partition k-best, "
     "no global sort anywhere"),
    ("skipgram_cooccurrence", "co-occurrence statistics: skip-gram "
     "pairs generated by a higher-order function inside the scan "
     "stage; the whole plan is Generate + one partial/final hash "
     "aggregate — a single exchange on the pair key"),
    ("quality_score_percentiles", "per-group scale-safe percent_rank: "
     "windows partition by language over the collapsed (lang, score, "
     "count) frame — NO SinglePartition stage anywhere; the corpus "
     "meets the rank map in an AQE-broadcast (lang, score) equi-join"),
    ("quality_vs_dup_calibration", "cross-signal calibration: both "
     "verified fragments meet by doc id; the score decile is row-local "
     "floor(score*10) — no rank window over the corpus anywhere"),
    ("prefix_jaccard_pairs", "prefix-filtered exact Jaccard join: the "
     "checkpointed hashed-shingle frame feeds five consumers in one "
     "materialization; prefix selection is a per-doc window over "
     "narrow (long, long) rows; candidates and verify are hash "
     "equi-joins on the shingle key — complete at the threshold with "
     "no cartesian anywhere"),
    ("countmin_estimate_audit", "Count-Min sketch audit: the sketch "
     "build is Generate + one partial/final aggregate (shuffle bounded "
     "by depth*width rows per task, never the vocabulary); estimates "
     "join the sketch broadcast and min over depth rows"),
    ("merge_into_orders", "declarative MERGE INTO: all clause algebra "
     "(conditional delete/update, fall-through keep, rejecting insert) "
     "compiled into ONE full-outer equi-join — the target moves "
     "exactly once; the source-ambiguity guard is a delta-side-only "
     "window riding the source projection, never a target re-shuffle"),
    ("embedding_covariance_matrix", "distributed second moments: the "
     "corpus is read ONCE through a single MapInPandas stage holding a "
     "d×d float64 accumulator per task; the only shuffle carries "
     "O(partitions·d²) moment rows, and every downstream join runs "
     "broadcast over the checkpointed bounded frame — nothing "
     "row-proportional ever shuffles"),
    ("pca_power_projection", "broadcast-projection PCA: the dense "
     "algebra happened driver-side (O(d²) moment collect), so the "
     "returned plan is one parquet scan with the centered dot product "
     "as pure JVM zip_with/aggregate expressions feeding "
     "TakeOrderedAndProject — no Python stage, no global sort"),
    ("part_copurchase_pagerank", "iterative sparse matvec: the "
     "transition frame is checkpointed once and each PageRank round is "
     "a co-partitioned join + partial-agg sum behind it, so the final "
     "plan reads only the iterated rank RDD (zero parquet re-scans), "
     "broadcasts the O(1)-row node count, and top-ks via "
     "TakeOrderedAndProject"),
    ("hll_register_table", "white-box HyperLogLog: one map-side-"
     "combining partial_max aggregate whose shuffle carries at most "
     "groups x 64 register rows per task, never the distinct ids — "
     "and every register is oracle-replayed bit-for-bit"),
    ("incremental_join_view", "delta-join view maintenance: the three "
     "delta terms each broadcast the small delta against a base scan "
     "(no base-side shuffle); old-x-old is the stored view in "
     "production, recomputed here only to prove parity"),
    ("bloom_prune_audit", "Bloom join pruning: the packed bitmap rides "
     "a ONE-ROW BroadcastNestedLoopJoin into the probe scan stage — "
     "probe rows are filtered by JVM bit tests before ANY exchange; "
     "the only shuffles are the per-segment count aggregates"),
    ("ewma_daily_orders", "recursive statistic as a banded EQUI-join: "
     "the 16-lag contributor band hash-joins on (priority, rn-bucket) "
     "— no BroadcastNestedLoop theta-join, no per-key quadratic "
     "pairing; integer power-of-two weights keep sums exact"),
    ("revenue_grouping_sets", "four aggregation granularities from ONE "
     "FileScan through Expand into a single hash aggregate with "
     "map-side partials — not four scans unioned"),
    ("market_basket_rules", "order-local HOF pair expansion (Generate "
     "over the collected basket, single lineitem scan via lazy "
     "localCheckpoint) + TakeOrderedAndProject top-N — no op-x-op "
     "self-join, no global row_number funnel"),
    ("bpe_merge_steps", "iterative tokenizer training on the "
     "Zipf-bounded vocabulary: per-step row-local pair Generate, one "
     "SUM aggregate, TakeOrdered(1) argmax, map-side replace — the "
     "corpus is scanned once, iterations never touch it"),
    ("mor_delete_scan", "merge-on-read live scan: the accumulated "
     "positional-delete set broadcasts into the base scan stage "
     "(BroadcastHashJoin LeftAnti, BuildRight) — the base side has "
     "ZERO exchanges before the final count aggregate; deletes never "
     "rewrite or shuffle the data"),
    ("knn_bq_topk", "binary quantization: sign-bit packing is a "
     "scan-stage HOF aggregate (pure JVM), Hamming scoring is "
     "XOR+popcount against broadcast query codes, and only the "
     "shortlist ever touches float vectors again for the exact "
     "re-rank"),
    ("order_volume_anomalies", "recursive-forecast anomaly flags as a "
     "banded equi-join (prior-days-only contributor band); the spike "
     "decision is exact bigint cross-multiplication — no float feeds "
     "a boolean"),
    ("hll_set_algebra_audit", "sketch set algebra: two register "
     "tables merge by per-bucket MAX (never re-touching raw data), "
     "register frames localCheckpointed so each feeds its estimate "
     "AND the union from one materialization; all four exact counts "
     "from ONE per-customer pass"),
    ("lineitem_corr_matrix", "all 6 correlations from ONE FileScan: "
     "15 exact-integer sufficient statistics in a single hash "
     "aggregate (map-side partials), stack-unpivoted — a union of "
     "per-pair selects would rescan 6x"),
    ("fellegi_sunter_links", "record linkage paired by the blocking "
     "EQUI-join (nation + name prefix) — no BroadcastNestedLoopJoin, "
     "no customer x customer product; scoring is map-side CASE "
     "arithmetic on the joined rows"),
    ("mor_shuffled_delete_scan", "the large-delete-set MoR read: NO "
     "broadcast hint on the anti-join (size-conditioned switch at "
     "broadcast_threshold_bytes) — the optimizer picks the join "
     "shape from real sizes, so a driver-OOM-scale delete set "
     "shuffles instead of collecting"),
    ("theil_sen_daily_trend", "median of pairwise slopes WITHOUT a "
     "global row sort: slopes collapse to per-value counts "
     "(map-side-combining aggregate) before the cumulative window "
     "walks the O(distinct) table — the SinglePartition stage sits "
     "above an aggregation, never raw rows"),
    ("global_decile_source_mix", "global decile rank via the two-pass "
     "machinery: repartitionByRange + per-partition row_number + "
     "broadcast offsets — no raw-row SinglePartition exchange "
     "anywhere in the plan"),
    ("rollup_region_nation_revenue", "geo hierarchy ROLLUP: three "
     "BroadcastHashJoins (dimensions never shuffle the fact side) "
     "into one Expand + grouped exchange — three granularities, one "
     "shuffle"),
    ("zipf_token_slope", "vocabulary top-N as TakeOrderedAndProject "
     "(per-partition top-N + driver merge) — round 9 replaced the "
     "global row_number window that single-partitioned the whole "
     "vocab; the only window now ranks the 500-row survivor frame"),
    ("copurchase_jaccard_parts", "global top-50 of the O(orders x "
     "basket^2) scored-pair table as TakeOrderedAndProject — the "
     "round-8 global-window spelling is gone; pair generation stays "
     "order-local (no part x part product)"),
    ("order_value_percentile_bands", "exact percentiles by cumulative "
     "counting with the two-pass global_cumsum: repartitionByRange + "
     "per-pid running sums + O(partitions) offset broadcast; the "
     "near-unique cents table never crosses a SinglePartition "
     "exchange"),
    ("ks_two_sample_price", "both empirical CDFs from the two-pass "
     "cumsum; sup-distance maximized in decimal over exact integers; "
     "the only SinglePartition exchanges merge partial aggregates"),
    ("rolling_active_users_7d", "rolling 7-day distinct actives via "
     "coverage expansion (sequence + explode to <=7 target days, "
     "dedup, count) — equi-joins and hash aggregates only; the "
     "windowed-count-distinct and theta-join spellings both appear "
     "nowhere"),
    ("fuzzy_part_name_pairs", "PassJoin segment blocking: candidate "
     "generation is an equi-join on (length, segment_idx, segment) keys "
     "— no length-block cartesian; exact-recall contract proven by the "
     "naive oracle hash-matching"),
    ("cosine_pair_histogram", "corpus-derived hash blocks: the pair "
     "join is a hash equi-join on the bucket id (B = ceil(n/64) from "
     "one bounded count), never a cartesian — pair work linear in n"),
    ("copurchase_triangle_rank", "mutual-top-64 kNN graph: basket-array "
     "pair expansion (no fact self-join) materialized once per session "
     "via the fixture cache and reused by cap window + semi-join + "
     "wedge machinery (and by pagerank); degree strictly bounded so "
     "wedges are linear in nodes"),
    ("first_touch_attribution", "attribution as a mergeable min_by "
     "fold: no window over the fact table, one per-user aggregate, "
     "bounded type rollup"),
    ("user_survival_curve", "Kaplan-Meier on the day-bounded lifetime "
     "count table: descending cumsum for at-risk, exp(sum(ln)) product "
     "— both windows over the bounded spine only"),
    # round-11 additions
    ("price_size_skyline", "distributed skyline: one hash aggregate "
     "collapses parts onto the bounded (price, size) domain, per-price "
     "argmax, then ONE cummax window over the per-price table — the "
     "quadratic dominance anti-join never appears"),
    ("lorenz_curve_points", "one-pass multi-measure global cumsum: a "
     "single repartitionByRange + pinned per-partition windows compute "
     "BOTH the running revenue and the global position (cumsum of a "
     "ones column), offsets broadcast — two measures, one shuffle, no "
     "SinglePartition stage"),
    ("hot_key_skew_safe_distinct", "two-phase distinct under 30% key "
     "skew: phase 1 hash-aggregates on (key, part) so the hot key "
     "spreads across its value domain, phase 2 counts survivors per "
     "key — both stages keep map-side partials; the heavy-hitter "
     "filter broadcasts a 1-row total"),
    ("open_order_concurrency", "interval concurrency via sweep-line: "
     "each order emits two (day, ±1) deltas, one hash aggregate folds "
     "them per day, and the cumsum window runs over the bounded "
     "calendar table — no day×order range join, the fact side is "
     "touched once"),
    ("frequent_triples", "capped basket triple expansion: "
     "slice(array_sort(collect_set), 1, 24) inside the aggregate bounds "
     "Generate at C(24,3) structs per order structurally; support "
     "counting is one hash aggregate with map-side partials"),
    ("systematic_sample_global_rank", "every-k-th global audit sample: "
     "ONE range exchange + per-partition windows + a broadcast "
     "O(partitions) offset join carry BOTH the exact row number and "
     "the running revenue — no single-partition ROW_NUMBER anywhere"),
    ("cube_margins_audit", "CUBE as one Expand (4 grouping sets) into "
     "a single partial/final hash aggregate — margins cost one "
     "map-side pass, not four scans; GROUPING() flags are plain "
     "projections off the expand's gid"),
]


def main() -> None:
    from asritha_metamorphetl_spark.plans.registry import all_queries

    # local[8] is the session the plan shapes in PLANS.md were pinned on.
    spark = session(8)
    qs = all_queries()
    out = [
        "# PLANS",
        "",
        "Formatted physical plans for the headline queries at sf0.01, "
        "regenerated by `python tools/dump_plans.py`. Each section notes "
        "the plan property it demonstrates; the plan-quality tests "
        "(`tests/test_plan_quality.py`) pin these shapes.",
        "",
    ]
    for name, note in HEADLINERS:
        plan = plan_text(qs[name](spark, SF))
        out += [f"## {name}", "", f"_{note}_", "", "```", plan.rstrip(), "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote PLANS.md ({len(HEADLINERS)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
