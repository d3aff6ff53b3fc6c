#!/usr/bin/env python3
"""Benchmark harness, and the one measurement core of the repo's tools.

``python bench.py`` runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default 32),
writes the full record to BENCH_FULL.json and prints one JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {name: sec},
"n_queries": ..., "n_failed": ..., "sf": ...}. ``python bench.py q1 q2``
times only the named queries: the same line, carrying their seconds, and
no BENCH_FULL.json.

Each query is timed as plan-build + execution to completion. Results are
materialized with a cheap count-style action (``write.format("noop")``)
so measured time is engine work, not driver-side pandas conversion.

The other tools import the pieces: ``session`` builds the SparkSession,
``prewarm`` reads the catalog once, ``measure`` applies the timing policy
to each query and ``plan_text`` returns a frame's formatted plan.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO_ROOT)

#: Warm-up scale: the same plan structure at tiny SF, so whole-stage
#: codegen compile + JIT happen outside the timed region and the number
#: reflects steady-state engine throughput.
WARMUP_DIR = "/root/testdata/sf0.001"

# Same-commit bench totals spanned 402-531 s in round 8 — container
# weather, not code (SCALING.md documents a ±50% noise band on
# sub-2s queries). De-noise the cheap tail with MIN-OF-2: a query
# whose first timed run lands under this threshold gets one more
# timed run and reports the minimum. Expensive queries stay
# single-run (their fixture/micro-batch machinery dominates and a
# second run would add minutes of wall-clock for little signal).
RETRY_UNDER_SEC = 2.0

# r01/r02 post-mortem: the driver captures only a bounded tail of
# stdout, and the full ~90-query dict pushed the line past that
# buffer — "parsed": null both rounds despite rc=0 and a well-formed
# line. So stdout carries a stable HEADLINE subset (fits any sane
# tail window) and the complete per-query timings go to
# BENCH_FULL.json next to this script. Entries are never removed.
HEADLINE = [
    "supplier_performance",
    "product_performance",
    "customer_sales_report",
    "pricing_summary",
    "market_share",
    "nation_year_profit",
    "revenue_rollup",
    "running_customer_spend",
    "event_sessions",
    "user_journeys",
    "reconcile_orchestrated",
    "exact_dup_groups",
    "minhash_near_dups",
    "ngram_jaccard_pairs",
    "knn_cosine_topk",
    "knn_lsh_topk",
    "knn_ivf_topk",
    "winnow_candidate_pairs",
    "dup_clusters",
    "cross_split_contamination",
    "packed_training_sequences",
    "quality_deciles",
    "kmeans_step_centroids",
    "event_funnel",
    "streaming_hourly_events",
    "streaming_sessions_parity",
    # round-6 additions
    "curation_verdict",
    "knn_pq_topk",
    "dup_passage_spans",
    "incremental_dedup_pairs",
    "streaming_ingest_dedup_parity",
    "bm25_search",
    "quality_logit_scores",
    "semdedup_survivors",
    "token_budget_mix",
    # round-7 additions
    "knn_ivfpq_topk",
    "curated_shard_manifest",
    "hybrid_search_rrf",
    "heavy_hitter_tokens",
    "near_dup_best_keeper",
    "shard_manifest_incremental",
    "knn_ivfpq_residual_topk",
    "eval_ngram_contamination",
    "quality_drift_psi",
    "normalized_dup_gain",
    "zonemap_pruned_scan",
    "clustered_skipping_gain",
    "leakage_free_splits",
    "quality_importance_sample",
    # round-7 second wave
    "bloom_prune_audit",
    "ewma_daily_orders",
    "revenue_grouping_sets",
    "market_basket_rules",
    "bpe_merge_steps",
    "mor_delete_scan",
    "mor_compaction_profile",
    "knn_bq_topk",
    "hll_set_algebra_audit",
    "order_volume_anomalies",
    "streaming_mor_delete_parity",
]


def session(cpus: int):
    """The measurement session: local[cpus] with as many shuffle
    partitions, Spark logging at ERROR."""
    from asritha_metamorphetl_spark.session import create_session

    spark = create_session(
        app_name="metamorph-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def prewarm(spark, sf_dir: str) -> None:
    """Read every catalog table at ``sf_dir`` once: a full pass per table
    pulls the parquet files through the OS page cache and finalizes scan
    codegen, so the FIRST timed query measures engine throughput, not
    cold-disk reads it happens to be scheduled before."""
    from asritha_metamorphetl_spark.sources.files import Catalog

    cat = Catalog(sf_dir)
    for table in cat.tables:
        if os.path.exists(cat.path(table)):
            _noop(cat.load(spark, table))


def _timed_run(spark, fn, sf_dir: str) -> tuple[float, float]:
    start = time.perf_counter()
    df = fn(spark, sf_dir)
    built = time.perf_counter()
    _noop(df)
    return built - start, time.perf_counter() - built


def measure(
    spark, queries: dict, sf_dir: str
) -> tuple[dict[str, tuple[float, float]], list[str]]:
    """Time each ``{name: fn}`` query at ``sf_dir``, one after another.

    Per query: a warm-up run at ``WARMUP_DIR`` (its failure is ignored),
    then a timed run of the builder plus the noop action; a run under
    ``RETRY_UNDER_SEC`` gets a second one and the faster run is kept.
    ``spark.catalog.clearCache()`` runs after each query, so no cached
    frame leaks into the next. ``session.CURRENT_CONSUMER`` names the
    query while it runs, so shared-fixture builds are charged to it in
    ``FIXTURE_BUILD_LOG``, and is ``None`` afterwards.

    Returns ``({name: (build_s, exec_s)}, failed)``; a query whose
    timed run raises is listed in ``failed`` and the loop carries on.
    """
    from asritha_metamorphetl_spark import session as session_mod

    runs: dict[str, tuple[float, float]] = {}
    failed: list[str] = []
    try:
        for name, fn in queries.items():
            session_mod.CURRENT_CONSUMER = name
            try:
                _noop(fn(spark, WARMUP_DIR))
            except Exception:
                pass
            try:
                run = _timed_run(spark, fn, sf_dir)
                if sum(run) < RETRY_UNDER_SEC:
                    spark.catalog.clearCache()
                    try:
                        run = min(run, _timed_run(spark, fn, sf_dir), key=sum)
                    except Exception as exc:
                        # keep the first successful timing, but a
                        # pass-then-fail query is a flake worth seeing
                        print(
                            f"bench: {name} second run FAILED "
                            f"(keeping first timing): {exc}",
                            file=sys.stderr,
                        )
                runs[name] = run
            except Exception as exc:  # one broken query must not sink the run
                print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
                failed.append(name)
            spark.catalog.clearCache()
    finally:
        session_mod.CURRENT_CONSUMER = None
    return runs, failed


def plan_text(df) -> str:
    """``df``'s formatted physical plan, as ``explain("formatted")``
    prints it."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _full_record(runs, failed, fixture_builds, sf) -> dict:
    """BENCH_FULL.json: every query's seconds and, from the same run,
    its build/exec split (``build_s + exec_s`` is its seconds)."""
    queries = {name: round(sum(run), 3) for name, run in runs.items()}
    phases = {
        name: {
            "build_s": round(build, 3),
            "exec_s": round(queries[name] - round(build, 3), 3),
        }
        for name, (build, _) in runs.items()
    }
    return {
        "metric": "total wall-clock over all registered queries, min-of-2 under 2s",
        "value": round(sum(sum(run) for run in runs.values()), 3),
        "unit": "sec",
        "queries": queries,
        "phases": phases,
        "failed": failed,
        "fixture_builds": fixture_builds,
        "sf": sf,
    }


def main(names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "", 1).isdigit() else sf

    # Guarantee the JSON line is the SOLE stdout of this process: the JVM
    # inherits fd 1, so redirect the real stdout to stderr for the whole
    # run and keep a dup of the original for the final JSON write. Any
    # Spark/py4j/log4j chatter lands on stderr no matter which stream the
    # JVM thinks it is writing to.
    json_fd = os.dup(1)
    os.dup2(2, 1)

    from asritha_metamorphetl_spark import session as session_mod
    from asritha_metamorphetl_spark.plans.registry import all_queries

    registry = all_queries()
    unknown = [n for n in names if n not in registry]
    if unknown:
        sys.exit(f"bench: unknown queries: {unknown}")
    queries = {n: registry[n] for n in names} if names else registry

    spark = session(cpus)
    prewarm(spark, sf_dir)
    runs, failed = measure(spark, queries, sf_dir)
    # Only the timed-SF builds matter for reading the bench tail; the
    # warmup-SF builds are noise (cheap, and charged to the same query).
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    fixture_builds = {
        label: rec
        for label, rec in session_mod.FIXTURE_BUILD_LOG.items()
        if label.endswith(f"@{tag}")
    }
    spark.stop()
    record = _full_record(runs, failed, fixture_builds, sf_val)
    if not names:
        with open(os.path.join(REPO_ROOT, "BENCH_FULL.json"), "w") as fh:
            json.dump(record, fh, indent=1)
    # The JSON line is the contract: sole and FINAL stdout line, written
    # to the dup of the original stdout; failed queries live in their
    # own list, never as sentinel values mixed into the timings. Keep
    # it SMALL (VERDICT r13 #2): round 12's line outgrew the driver's
    # stdout-tail window and the whole round-over-round comparison was
    # lost, so fixture_builds and the build/exec split stay in
    # BENCH_FULL.json only.
    line = json.dumps(
        {
            "metric": "total wall-clock, all registered queries, min-of-2 under 2s (headline subset inline; full timings + fixture_builds in BENCH_FULL.json)",
            "value": record["value"],
            "unit": "sec",
            "queries": {
                q: record["queries"][q]
                for q in names or HEADLINE
                if q in record["queries"]
            },
            "n_queries": len(runs),
            "n_failed": len(failed),
            "sf": sf_val,
        },
        separators=(",", ":"),
    )
    os.write(json_fd, (line + "\n").encode())
    os.close(json_fd)


if __name__ == "__main__":
    main(sys.argv[1:])
