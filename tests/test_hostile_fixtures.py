"""Adversarial HOSTILE-TEXT and HOSTILE-TIME sweeps (VERDICT r11
directive #6): registered queries and their DuckDB oracles run
UNCHANGED over two deliberately hostile catalogs through the
driver-faithful harness (tools/check_correctness.py):

- hostile TEXT (tools/build_hostile_text_fixture.py): NULL / empty /
  whitespace-only documents, unicode-confusable rewrites (Cyrillic
  lookalikes), and identical-prefix boilerplate — the degenerate
  payloads the dedup + text-quality families assume away. The empty
  class doubles as a corpus-sized exact-dup cluster.
- hostile TIME (tools/build_hostile_time_fixture.py): every odd
  event_id shifted back 7 days — so the streaming last-value fixtures'
  ``event_id % 2`` batch split delivers an almost entirely OLDER second
  micro-batch (late arrivals across a batch boundary) — plus a 20%
  midnight tie plateau that forces every (ts)-ordered window and argmax
  fold through its event_id tiebreak.

- hostile EMBEDDINGS (tools/build_hostile_embedding_fixture.py,
  round 13 / VERDICT r12 directive #6): zero vectors, two corpus-sized
  exact-duplicate clusters, NaN / ±Inf components, and subnormally
  tiny vectors — swept through the FINITE-VECTOR-gated ANN + SemDeDup
  + kmeans + recall-eval families plus the NaN-robust audits, against
  unchanged oracles.

A hash mismatch here means the two engines disagree on null/empty
split semantics, multi-byte strings, tiebreak determinism,
arrival-order independence, or IEEE-754 edge semantics (0/0 cosine,
NaN ordering, Inf arithmetic) — exactly the divergences that
otherwise first surface at cluster scale."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC_SF = "/root/testdata/sf0.01"

#: Dedup + text-quality machinery swept over the hostile-text catalog:
#: exact hashing (NULL/empty groups), shingle/MinHash banding and its
#: incremental + streaming forms (empty shingle lists, confusable
#: multi-byte shingles, shared-prefix band collisions), SimHash,
#: n-gram verification, prefix dup groups, and the quality panel's
#: length/ratio expressions over NULL and whitespace-only text.
TEXT_SWEEP = (
    "exact_dup_groups",
    "simhash_docs",
    "ngram_jaccard_pairs",
    "minhash_near_dups",
    "incremental_dedup_pairs",
    "dup_clusters",
    "doc_prefix_dup_groups",
    "doc_text_stats",
    "doc_language_counts",
    "gopher_quality_flags",
    "doc_repetition_profile",
    "doc_bigram_entropy_scores",
    "token_length_histogram",
    "streaming_ingest_dedup_parity",
    # round-12 addition: NULL text must flow through regexp_extract_all
    # without dropping or zero-filling rows differently per engine, and
    # the Cyrillic-confusable class falls OUT of '[A-Za-z]+' in both
    # dialects identically
    "regex_token_profile",
    # round-13 addition: NULL-text documents produce a NULL token
    # array, the exact row explode_outer must PRESERVE (and the padded
    # unnest oracle must mirror) — the hostile corpus makes the
    # empty/NULL classes corpus-sized instead of incidental
    "explode_outer_empty_audit",
)

#: Ordered-window and streaming-fold machinery swept over the
#: hostile-time catalog: the last-value/argmax folds (late second
#: batch), first-touch/min folds (later events arriving first),
#: sessionization and journey windows over the tie plateau, and the
#: windowed streaming parities.
TIME_SWEEP = (
    "streaming_semi_additive_parity",
    "streaming_retry_fold_parity",
    "streaming_new_users_parity",
    "streaming_first_touch_parity",
    "streaming_sessions_parity",
    "streaming_hourly_events",
    "event_sessions",
    "event_gaps",
    "first_touch_attribution",
    "daily_new_vs_returning",
    "semi_additive_last_balance",
    "user_journeys",
    "funnel_conversion_latency",
    "session_gap_sensitivity",
    # round-12 additions: the shifted/tied timestamps feed the
    # anti-chronological fold's terciles, the watermark stream's
    # data-derived cutoffs (its drop boundary moves a week and the tie
    # plateau sits at midnights — window ends stay exact hours so the
    # drop/emission inequalities still never tie), and the sliding
    # windows' 4-overlap assignment
    "streaming_late_batch_fold_parity",
    "streaming_watermark_drop_parity",
    "streaming_sliding_parity",
)


#: Vector machinery swept over the hostile-embedding catalog: the
#: FINITE-VECTOR-gated similarity/clustering families (gate mirrored
#: verbatim in every oracle via similarity.finite_vec_where), the
#: families whose math is NaN-safe without a gate (L2 distances never
#: divide by a norm; BQ/JL/PCA/kfold/sampling are
#: moment- or hash-driven), and the two round-13 audits DESIGNED for
#: degenerate vectors (census + IEEE total-order contracts).
EMBEDDING_SWEEP = (
    # gated families (operators/similarity.finite_vectors)
    "knn_cosine_topk",
    "knn_lsh_topk",
    "knn_lsh_recall_eval",
    "embedding_near_dups",
    "knn_ivf_topk",
    "knn_ivf_recall_eval",
    "semdedup_survivors",
    "semdedup_recall_eval",
    "ivf_twolevel_agreement",
    "kmeans_step_centroids",
    "embedding_cluster_sizes",
    "embedding_norm_outliers",
    "cosine_pair_histogram",
    "embedding_dim_clip_profile",
    "embedding_label_centroid_spread",
    # gated after this sweep first caught them crashing (NaN -> BIGINT
    # under ANSI) or floor-breaking ungated: the quantizing ANN
    # families, the profile/centering/covariance family, hybrid RRF's
    # dense side, and curation_verdict's semantic stage
    "knn_pq_topk",
    "knn_pq_recall_eval",
    "knn_ivfpq_topk",
    "knn_ivfpq_recall_eval",
    "knn_ivfpq_residual_topk",
    "knn_ivfpq_residual_recall_eval",
    "knn_bq_recall_eval",
    "hard_negative_mining",
    "pq_code_histogram",
    "hybrid_search_rrf",
    "embedding_covariance_matrix",
    "embedding_label_stats",
    "embedding_int8_profile",
    "embedding_dim_profile",
    "label_centering_profile",
    "centroid_distance_bands",
    "curation_verdict",
    "streaming_gram_parity",
    # naturally hostile-safe (no normalization in the scored space)
    "knn_l2_topk",
    "knn_bq_topk",
    "knn_jl_topk",
    "knn_jl_recall_eval",
    "pca_power_projection",
    "stratified_kfold_assignment",
    "stratified_label_sample",
    "embedding_sign_bias_profile",
    # round-13 audits designed for degenerate vectors
    "embedding_degenerate_audit",
    "nan_total_order_audit",
)


@pytest.fixture(scope="session")
def hostile_text_dir(tmp_path_factory) -> str:
    sys.path.insert(0, REPO)
    from tools.build_hostile_text_fixture import build

    out = str(tmp_path_factory.mktemp("hostile_text") / "sf0.01")
    return build(SRC_SF, out)


@pytest.fixture(scope="session")
def hostile_time_dir(tmp_path_factory) -> str:
    sys.path.insert(0, REPO)
    from tools.build_hostile_time_fixture import build

    out = str(tmp_path_factory.mktemp("hostile_time") / "sf0.01")
    return build(SRC_SF, out)


@pytest.fixture(scope="session")
def hostile_embedding_dir(tmp_path_factory) -> str:
    sys.path.insert(0, REPO)
    from tools.build_hostile_embedding_fixture import build

    out = str(tmp_path_factory.mktemp("hostile_embedding") / "sf0.01")
    return build(SRC_SF, out)


def test_embedding_fixture_is_actually_hostile(hostile_embedding_dir):
    """The corpus must really carry every degenerate class — zero,
    duplicate-cluster, NaN, ±Inf, tiny — or the sweep proves nothing."""
    import duckdb

    con = duckdb.connect()
    e = f"read_parquet('{hostile_embedding_dir}/embeddings.parquet')"
    (n_zero, n_nan, n_pos, n_neg, n_tiny, n_e0, n_e1, total) = con.sql(
        f"""SELECT
            COUNT(*) FILTER (list_dot_product(embedding::DOUBLE[],
                             embedding::DOUBLE[]) = 0),
            COUNT(*) FILTER (isnan(embedding[1])),
            COUNT(*) FILTER (embedding[1] = 'Infinity'::FLOAT),
            COUNT(*) FILTER (embedding[1] = '-Infinity'::FLOAT),
            COUNT(*) FILTER (vec_id % 29 = 5),
            COUNT(*) FILTER (embedding[1] = 1.0 AND embedding[2] = 0.0
                             AND vec_id % 29 = 1),
            COUNT(*) FILTER (embedding[2] = 1.0 AND vec_id % 29 = 6),
            COUNT(*)
        FROM {e}"""
    ).fetchone()
    assert min(n_zero, n_nan, n_pos, n_neg, n_tiny) >= total // 40
    # the two constant classes form corpus-sized exact-dup clusters
    assert n_e0 > 5 and n_e1 > 5
    # tiny vectors are FINITE and nonzero (they must PASS the gate)
    n_tiny_pass = con.sql(
        f"""SELECT COUNT(*) FROM {e} WHERE vec_id % 29 = 5
            AND list_aggregate(list_transform(embedding,
                x -> CASE WHEN isfinite(CAST(x AS DOUBLE)) THEN 0
                     ELSE 1 END), 'sum') = 0
            AND list_dot_product(embedding::DOUBLE[],
                                 embedding::DOUBLE[]) > 0"""
    ).fetchone()[0]
    assert n_tiny_pass == n_tiny


def test_hostile_embedding_sweep_all_green(hostile_embedding_dir):
    """Every gated similarity/clustering query, every naturally
    NaN-safe vector query, and both round-13 degenerate audits must be
    rows+schema+hash green against UNCHANGED oracles on the hostile
    vector catalog."""
    _run_sweep(hostile_embedding_dir, EMBEDDING_SWEEP)


def test_text_fixture_is_actually_hostile(hostile_text_dir):
    """The corpus must really carry the degenerate classes, or the
    sweep proves nothing."""
    import duckdb

    con = duckdb.connect()
    n_null, n_empty, n_ws, n_conf, n_pref, total = con.sql(
        "SELECT COUNT(*) FILTER (text IS NULL),"
        " COUNT(*) FILTER (text = ''),"
        " COUNT(*) FILTER (text = '   '),"
        " COUNT(*) FILTER (text LIKE '%а%'),"  # Cyrillic а
        " COUNT(*) FILTER (text LIKE 'terms of service%'),"
        " COUNT(*) "
        f"FROM read_parquet('{hostile_text_dir}/documents.parquet')"
    ).fetchone()
    assert min(n_null, n_empty, n_ws, n_conf) >= total // 40
    assert n_pref >= total // 20  # two modulo classes share the prefix
    # the empty class must form ONE giant exact-dup group
    assert n_empty > 5


def test_time_fixture_is_actually_hostile(hostile_time_dir):
    """Late second batch + a real tie plateau + the session-boundary
    invariant every parity oracle depends on (no gap of EXACTLY the
    session threshold)."""
    import duckdb

    con = duckdb.connect()
    ev = f"read_parquet('{hostile_time_dir}/events.parquet')"
    tied_rows, total = con.sql(
        f"""SELECT (SELECT SUM(c) FROM (
                SELECT user_id, ts, COUNT(*) c FROM {ev}
                GROUP BY 1, 2 HAVING COUNT(*) > 1)),
               (SELECT COUNT(*) FROM {ev})"""
    ).fetchone()
    assert tied_rows and tied_rows >= total // 50, (tied_rows, total)
    # the odd (second-batch) class must be OLDER than the even class
    # in the aggregate — that asymmetry IS the late-arrival axis
    older = con.sql(
        f"""SELECT AVG(CASE WHEN event_id % 2 = 1 THEN epoch_us(ts) END)
                 < AVG(CASE WHEN event_id % 2 = 0 THEN epoch_us(ts) END)
            FROM {ev}"""
    ).fetchone()[0]
    assert older
    boundary = con.sql(
        f"""WITH o AS (SELECT user_id, epoch_us(ts) us FROM {ev})
            SELECT COUNT(*) FROM (
                SELECT us - LAG(us) OVER (
                    PARTITION BY user_id ORDER BY us) AS g FROM o)
            WHERE g = 1800000000"""
    ).fetchone()[0]
    assert boundary == 0, boundary


def _run_sweep(sf_dir: str, sweep: tuple[str, ...]) -> None:
    # --jobs 3: the swept queries are independent; the harness prints
    # the same records as a sequential run.
    proc = subprocess.run(
        [sys.executable, "tools/check_correctness.py", sf_dir, *sweep,
         "--jobs", "3"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=900,
    )
    out = json.loads(proc.stdout)
    out.pop("__meta__", None)
    assert set(out) == set(sweep)
    bad = {
        k: v
        for k, v in out.items()
        if v["err"]
        or not (v["rows_match"] and v["schema_match"] and v["hash_match"])
    }
    assert not bad, f"hostile sweep failures: {json.dumps(bad, indent=1)[:2000]}"


def test_hostile_text_sweep_all_green(hostile_text_dir):
    """Every dedup/text-quality query must be rows+schema+hash green
    against its UNCHANGED oracle on the degenerate corpus."""
    _run_sweep(hostile_text_dir, TEXT_SWEEP)


def test_hostile_time_sweep_all_green(hostile_time_dir):
    """Every ordered-window/streaming-fold query must be rows+schema+
    hash green against its UNCHANGED oracle with a late second batch
    and a 20% timestamp tie plateau."""
    _run_sweep(hostile_time_dir, TIME_SWEEP)
