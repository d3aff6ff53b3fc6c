"""Session-cached materializations of deterministic intermediate frames
shared by several registered queries (round-13 optimization).

Several registered queries start from the IDENTICAL expensive
sub-derivation — the MinHash-LSH candidate pair set, its connected-
component closure, the exact rare-shingle Jaccard pair table, the
brute-force kNN truth tables, the SemDeDup assignment — and each used
to recompute it from the raw corpus (guide §1.2: fix the distributed
algorithm first — don't compute things twice). In a production
warehouse these ARE materializations: the dedup graph is built once per
corpus snapshot and every downstream consumer (split router, keeper
picker, contamination audit, calibration report) reads the
materialized table; the ANN truth table is built once per eval wave.
This module gives the bench/sweep session the same shape through the
audited ``cached_fixture`` mechanism: built at most once per
(session, sf), attributed in ``FIXTURE_BUILD_LOG`` (bench.py emits the
map so per-query numbers stay honest), rebuilt from the parquet inputs
by every fresh session — never persisted across runs.

The OPERATOR-DEMO queries (``minhash_near_dups``,
``ngram_jaccard_pairs``, ``knn_cosine_topk``, ``knn_l2_topk``,
``semdedup_survivors``) deliberately keep their inline pipelines:
their job is to demonstrate the operator itself, so their bench rows
keep paying the real pipeline cost. Only DOWNSTREAM consumers read the
materialization.

Content is deterministic (salted content hashes, no RNG), so consumers'
oracle hashes are unchanged — verified per consumer through
tools/check_correctness.py after the switch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from asritha_metamorphetl_spark.session import cached_fixture
from asritha_metamorphetl_spark.sources.files import Catalog

#: The one (threshold, max_doc_freq) setting every sharing consumer
#: uses — the registered sweep's loosest tau equals the recall/band
#: truth threshold, so a single materialization at this setting serves
#: all of them (consumers re-filter ``jaccard >= tau`` for tighter
#: taus; the filter is the pipeline's final row predicate, so the
#: result is identical to an inline run at that tau).
NGRAM_FIXTURE_TAU = 0.5
NGRAM_FIXTURE_MAX_DF = 100

# ---------------------------------------------------------------------------
# Fixture suites: one concurrent build per (session, sf, family)
# ---------------------------------------------------------------------------

import threading as _threading
from concurrent.futures import Future, ThreadPoolExecutor

#: Family builds of one suite in flight at once, NOT one per family
#: (guide §2.6: "2-3 jobs in flight is plenty: enough to fill the tail,
#: not so many that they fight"). Each family build is itself a
#: driver-heavy pipeline — micro-batch planning, checkpoint commits,
#: foreachBatch Python folds, tiny shuffles — so eight concurrent builds
#: fight for the driver (GIL + py4j) and the filesystem more than they
#: use the 32 cores. Measured on the full streaming parity suite at
#: sf0.1 on local[32], back to back: 8 workers = 50.2 s wall,
#: 4 = 32.6, 3/2 = 28.9-39.7, 1 = 50.1 (sequential sum) — the bounded
#: pool roughly HALVES the wall and every family's own build seconds
#: drop 2-4x (trilogy 50.2 -> 11.5 thread-seconds at 2 workers). Three
#: keeps slack for one slow family without re-creating the pile-up.
_SUITE_WORKERS = 3
#: Thread-name prefix of the suite pools: a suite call made on one of
#: these threads comes from inside a family build.
_SUITE_THREAD = "fixture-suite"
#: (applicationId, abspath(sf_dir), family) → that family's build. A
#: done future is both the success marker and the failure memo: its
#: consumers get the result, or the build's original exception, without
#: a rebuild. Keyed by applicationId like ``cached_fixture`` roots, so a
#: fresh session (new scratch roots, possibly fixed environment) builds
#: and retries from scratch; keyed by sf so one scale's failure never
#: answers for another's.
_SUITE_BUILDS: dict[tuple[str, str, str], Future] = {}
#: Held only while a suite's builds are submitted, never across them.
_SUITE_SUBMIT = _threading.Lock()


def _prewarm(spark: SparkSession, sf_dir: str, families: dict, family: str):
    """Return ``family``'s build result. The first touch of any family
    of a suite in this (session, sf) submits EVERY family of the suite,
    in table order, to one pool of ``_SUITE_WORKERS`` and waits for the
    whole suite: the families are independent jobs that each underuse
    the cluster alone, so the first consumer pays the suite's makespan
    instead of sum(builds) as queries touch them one by one (guide
    §2.6). Every later consumer, concurrent or not, waits on its own
    family only.

    ``families`` is the suite's table, ``{family: build(spark,
    sf_dir)}`` in submission order, resolved by the caller at call time
    (tests and the traced bench rebind the builders). Failures are per
    family: another family's failed build never raises here, and a
    failed family is built once per (session, sf). A call made from
    inside a family build (chains resolving their dependency) returns
    None at once: the build itself owns that work."""
    if family not in families:
        raise KeyError(f"unknown fixture-suite family {family!r}")
    if _threading.current_thread().name.startswith(_SUITE_THREAD):
        return None
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    # the pool's exit waits for what it ran: the starter's whole suite,
    # or nothing for a later consumer (threads start only on submit)
    with ThreadPoolExecutor(
        max_workers=_SUITE_WORKERS, thread_name_prefix=_SUITE_THREAD
    ) as pool:
        with _SUITE_SUBMIT:
            if (*key, family) not in _SUITE_BUILDS:
                for name, build in families.items():
                    _SUITE_BUILDS[(*key, name)] = pool.submit(
                        build, spark, sf_dir
                    )
    return _SUITE_BUILDS[(*key, family)].result()


def _dedup_suite(spark: SparkSession, sf_dir: str, family: str):
    """The shared dedup/ANN fixture suite: the minhash pairs→labels
    chain, exact n-gram truth, cosine/L2 truth, the SemDeDup assignment,
    the two IVF centroid models and the raw and residual PQ codebook
    chains — independent jobs over two small tables. A chain is one
    family (its dependency resolves inside the family build), so a
    consumer of the chain's dependency (``minhash_pairs``,
    ``ivfpq_centroids``) shares the chain's outcome. Each family is
    named by its ``cached_fixture``/``_cached_model`` label. Demo
    queries keep their inline pipelines and never enter here."""
    return _prewarm(
        spark,
        sf_dir,
        {
            "minhash_labels": minhash_cluster_labels,
            "ngram_scored": ngram_jaccard_scored,
            "cos_truth": cosine_truth_topk,
            "l2_truth": l2_truth_topk_gated,
            "semdedup_asg": semdedup_assignment,
            "ivf_cent_knn": ivf_centroids_knn,
            "pq_books_raw": pq_codebooks_raw,
            "pq_books_res": ivfpq_residual_books,
        },
        family,
    )


def minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH candidate pair set (doc_a < doc_b), materialized
    once per session — the shared front end of the near-dup closure,
    split-leakage, overlap-matrix, and calibration queries."""
    _dedup_suite(spark, sf_dir, "minhash_labels")
    from asritha_metamorphetl_spark.operators import dedup as D

    def build(root: str) -> None:
        docs = Catalog(sf_dir).load(spark, "documents")
        D.minhash_lsh_pairs(docs, "text", "doc_id").write.parquet(
            os.path.join(root, "pairs")
        )

    root = cached_fixture(spark, "minhash_pairs", sf_dir, build)
    return spark.read.parquet(os.path.join(root, "pairs"))


def minhash_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (min-label) of the MinHash pair graph as
    (id, label) — the cluster assignment every keep-one-per-cluster
    consumer re-derived per query. The iterative closure runs once per
    session; the label table is O(clustered docs)."""
    _dedup_suite(spark, sf_dir, "minhash_labels")
    from asritha_metamorphetl_spark.operators.graph import (
        connected_components,
    )

    def build(root: str) -> None:
        pairs = minhash_pairs(spark, sf_dir)
        connected_components(pairs, "doc_a", "doc_b").write.parquet(
            os.path.join(root, "labels")
        )

    root = cached_fixture(spark, "minhash_labels", sf_dir, build)
    return spark.read.parquet(os.path.join(root, "labels"))


def ngram_jaccard_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rare-shingle Jaccard pairs at the shared loosest setting
    (tau=0.5, max_doc_freq=100): (doc_a, doc_b, n_common, jaccard).
    Ground truth for the MinHash recall eval, the band-tuning sweep,
    and the threshold sweep — consumers filter ``jaccard >= tau`` for
    tighter settings."""
    _dedup_suite(spark, sf_dir, "ngram_scored")
    from asritha_metamorphetl_spark.operators import dedup as D

    def build(root: str) -> None:
        docs = Catalog(sf_dir).load(spark, "documents")
        D.ngram_jaccard_pairs(
            docs,
            "text",
            "doc_id",
            threshold=NGRAM_FIXTURE_TAU,
            max_doc_freq=NGRAM_FIXTURE_MAX_DF,
        ).write.parquet(os.path.join(root, "scored"))

    root = cached_fixture(spark, "ngram_scored", sf_dir, build)
    return spark.read.parquet(os.path.join(root, "scored"))


def cosine_truth_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k truth over FINITE-VECTOR-gated embeddings
    (query set = vec_id < KNN_QUERIES, k = KNN_K): the ground-truth
    side every cosine recall eval (LSH, IVF, IVF-PQ, IVF-PQ-residual)
    re-ran as its own cross-join + window. One brute-force pass per
    session serves them all; the demo ranker ``knn_cosine_topk`` keeps
    its inline pipeline."""
    _dedup_suite(spark, sf_dir, "cos_truth")
    from pyspark.sql import functions as F

    from asritha_metamorphetl_spark.operators.similarity import (
        brute_force_topk,
        finite_vectors,
    )
    from asritha_metamorphetl_spark.plans.text_queries import (
        KNN_K,
        KNN_QUERIES,
    )

    def build(root: str) -> None:
        emb = finite_vectors(Catalog(sf_dir).load(spark, "embeddings"))
        queries = emb.filter(F.col("vec_id") < KNN_QUERIES)
        brute_force_topk(
            emb, queries, "vec_id", "embedding", k=KNN_K
        ).write.parquet(os.path.join(root, "truth"))

    root = cached_fixture(spark, "cos_truth", sf_dir, build)
    return spark.read.parquet(os.path.join(root, "truth"))


def l2_truth_topk_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact squared-L2 top-k truth over FINITE-VECTOR-gated embeddings
    (same query set/k contract as ``cosine_truth_topk``) — the truth
    side of the PQ and BQ recall evals. The UNGATED variant used by
    ``knn_l2_topk`` / ``knn_jl_recall_eval`` is deliberately NOT
    served from this fixture: gating changes what those queries
    compute on degenerate inputs."""
    _dedup_suite(spark, sf_dir, "l2_truth")
    from pyspark.sql import functions as F

    from asritha_metamorphetl_spark.operators.similarity import (
        brute_force_l2_topk,
        finite_vectors,
    )
    from asritha_metamorphetl_spark.plans.text_queries import (
        KNN_K,
        KNN_QUERIES,
    )

    def build(root: str) -> None:
        emb = finite_vectors(Catalog(sf_dir).load(spark, "embeddings"))
        queries = emb.filter(F.col("vec_id") < KNN_QUERIES)
        brute_force_l2_topk(
            emb, queries, "vec_id", "embedding", k=KNN_K
        ).write.parquet(os.path.join(root, "truth"))

    root = cached_fixture(spark, "l2_truth", sf_dir, build)
    return spark.read.parquet(os.path.join(root, "truth"))


def semdedup_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup cell assignment + keep verdict
    (vec_id, cell, csim, kept) at the registered knobs
    (SEMDEDUP_NLIST, SEMDEDUP_TAU) — shared by the recall eval and the
    end-to-end curation verdict; ``semdedup_survivors`` (the operator
    demo) keeps its inline pipeline."""
    _dedup_suite(spark, sf_dir, "semdedup_asg")
    from asritha_metamorphetl_spark.operators.similarity import (
        finite_vectors,
        semdedup,
    )
    from asritha_metamorphetl_spark.plans.text_queries import (
        SEMDEDUP_NLIST,
        SEMDEDUP_TAU,
    )

    def build(root: str) -> None:
        emb = finite_vectors(Catalog(sf_dir).load(spark, "embeddings"))
        semdedup(
            emb,
            "vec_id",
            "embedding",
            nlist=SEMDEDUP_NLIST,
            threshold=SEMDEDUP_TAU,
        ).write.parquet(os.path.join(root, "assignment"))

    root = cached_fixture(spark, "semdedup_asg", sf_dir, build)
    return spark.read.parquet(os.path.join(root, "assignment"))


#: Session-scoped scalar memo: (applicationId, abspath(sf_dir), gated)
#: → row count. Keyed by applicationId exactly like ``cached_fixture``
#: roots, so a fresh session always recounts from the parquet input and
#: two concurrent sessions never share state. A benign racing double
#: count computes the same deterministic value. Bounded: one small
#: entry per (session, sf, variant).
_EMB_COUNT_MEMO: dict[tuple[str, str, bool], int] = {}

# ---------------------------------------------------------------------------
# Trained ANN index artifacts (round 13): centroid matrices / PQ codebooks
# ---------------------------------------------------------------------------

#: Session-scoped memo of TRAINED INDEX MODELS — bounded numpy driver
#: state (O(nlist·dim) centroids, O(m·ncodes·subdim) codebooks), keyed
#: by (applicationId, sf, label) so a fresh session always retrains
#: from the parquet inputs and concurrent sessions never share. Unlike
#: the parquet fixtures above these never touch disk: they are exactly
#: the index artifact a production serving stack trains once per
#: corpus snapshot and then LOADS in every serve/eval consumer —
#: retraining the same deterministic model per query was k× the
#: training passes (each training = one seed top-k + one full corpus
#: pass per Lloyd iteration) for byte-identical output. Every
#: consumer's oracle replays the ENTIRE training chain in SQL, so a
#: shared model that diverged from an inline run would go red in
#: CORRECTNESS — equivalence is oracle-proven per consumer, not
#: assumed. Build seconds land in ``FIXTURE_BUILD_LOG`` like every
#: other fixture so bench rows stay honest.
_MODEL_MEMO: dict[tuple[str, str, str], object] = {}
#: Guard created at import time (ADVICE r13: the old lazy check-then-set
#: let two concurrent first callers each mint their own lock and both
#: run build()). r14: one lock PER MODEL KEY, minted under the guard —
#: a single global lock serialized the dedup suite's four model
#: trainings for no correctness gain (distinct keys never share state).
_MODEL_LOCKS_GUARD = _threading.Lock()
_MODEL_LOCKS: dict[tuple[str, str, str], _threading.Lock] = {}


def _cached_model(spark: SparkSession, label: str, sf_dir: str, build):
    import time

    from asritha_metamorphetl_spark import session as _session

    key = (
        spark.sparkContext.applicationId,
        os.path.abspath(sf_dir),
        label,
    )
    with _MODEL_LOCKS_GUARD:
        lock = _MODEL_LOCKS.setdefault(key, _threading.Lock())
    with lock:
        if key in _MODEL_MEMO:
            return _MODEL_MEMO[key]
        t0 = time.perf_counter()
        model = build()
        tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
        _session.FIXTURE_BUILD_LOG[f"{label}@{tag}"] = {
            "seconds": round(time.perf_counter() - t0, 3),
            "charged_to": _session.CURRENT_CONSUMER,
        }
        _MODEL_MEMO[key] = model
        return model


def _gated_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from asritha_metamorphetl_spark.operators.similarity import (
        finite_vectors,
    )

    return finite_vectors(Catalog(sf_dir).load(spark, "embeddings"))


def ivf_centroids_knn(spark: SparkSession, sf_dir: str):
    """IVF centroid matrix at the knn_ivf knobs (IVF_NLIST lowest-id
    seeds + IVF_REFINE_ITERS Lloyd iterations over the gated corpus) —
    shared by ``knn_ivf_topk`` and ``knn_ivf_recall_eval``."""
    _dedup_suite(spark, sf_dir, "ivf_cent_knn")
    from asritha_metamorphetl_spark.operators.similarity import (
        ivf_train_centroids,
    )
    from asritha_metamorphetl_spark.plans.text_queries import (
        IVF_NLIST,
        IVF_REFINE_ITERS,
    )

    def build():
        return ivf_train_centroids(
            _gated_embeddings(spark, sf_dir),
            "vec_id",
            "embedding",
            nlist=IVF_NLIST,
            refine_iters=IVF_REFINE_ITERS,
        )

    return _cached_model(spark, "ivf_cent_knn", sf_dir, build)


def ivfpq_centroids(spark: SparkSession, sf_dir: str):
    """IVF centroid matrix at the IVF-PQ knobs (IVFPQ_NLIST seeds +
    IVFPQ_IVF_REFINE Lloyd iterations, gated corpus) — the routing half
    shared by all four IVF-PQ queries (raw + residual, topk + eval)."""
    _dedup_suite(spark, sf_dir, "pq_books_res")
    from asritha_metamorphetl_spark.operators.similarity import (
        ivf_train_centroids,
    )
    from asritha_metamorphetl_spark.plans.ann_queries import (
        IVFPQ_IVF_REFINE,
        IVFPQ_NLIST,
    )

    def build():
        return ivf_train_centroids(
            _gated_embeddings(spark, sf_dir),
            "vec_id",
            "embedding",
            nlist=IVFPQ_NLIST,
            refine_iters=IVFPQ_IVF_REFINE,
        )

    return _cached_model(spark, "ivfpq_cent", sf_dir, build)


def pq_codebooks_raw(spark: SparkSession, sf_dir: str):
    """Raw-vector PQ codebooks at the registered PQ knobs (PQ_M
    subspaces × PQ_NCODES codewords, PQ_REFINE Lloyd iterations, gated
    corpus) — shared by the PQ pair, the code histogram, and the
    raw-vector IVF-PQ pair (all five train this identical model)."""
    _dedup_suite(spark, sf_dir, "pq_books_raw")
    from asritha_metamorphetl_spark.operators.similarity import (
        pq_train_codebooks,
    )
    from asritha_metamorphetl_spark.plans.ann_queries import (
        PQ_M,
        PQ_NCODES,
        PQ_REFINE,
    )

    def build():
        return pq_train_codebooks(
            _gated_embeddings(spark, sf_dir),
            "embedding",
            "vec_id",
            m=PQ_M,
            ncodes=PQ_NCODES,
            refine_iters=PQ_REFINE,
        )

    return _cached_model(spark, "pq_books_raw", sf_dir, build)


def ivfpq_residual_books(spark: SparkSession, sf_dir: str):
    """Residual PQ codebooks (trained on v − centroid[cell] under the
    shared ``ivfpq_centroids``) — shared by the residual IVF-PQ pair."""
    _dedup_suite(spark, sf_dir, "pq_books_res")
    from asritha_metamorphetl_spark.operators.similarity import (
        ivfpq_residual_train_books,
    )
    from asritha_metamorphetl_spark.plans.ann_queries import (
        PQ_M,
        PQ_NCODES,
        PQ_REFINE,
    )

    # resolve the centroid dependency OUTSIDE the memo lock (the lock
    # is non-reentrant; a nested _cached_model call would deadlock)
    cents = ivfpq_centroids(spark, sf_dir)

    def build():
        return ivfpq_residual_train_books(
            _gated_embeddings(spark, sf_dir),
            "vec_id",
            "embedding",
            centroids_raw=cents,
            m=PQ_M,
            ncodes=PQ_NCODES,
            refine_iters=PQ_REFINE,
        )

    return _cached_model(spark, "pq_books_res", sf_dir, build)


def embedding_count(
    spark: SparkSession, sf_dir: str, gated: bool = True
) -> int:
    """Row count of the embeddings table (optionally FINITE-VECTOR
    gated), counted once per session — eight ANN queries used to each
    pay a full count() scan just to size their re-rank shortlist."""
    from asritha_metamorphetl_spark.operators.similarity import (
        finite_vectors,
    )

    key = (
        spark.sparkContext.applicationId,
        os.path.abspath(sf_dir),
        gated,
    )
    n = _EMB_COUNT_MEMO.get(key)
    if n is None:
        emb = Catalog(sf_dir).load(spark, "embeddings")
        if gated:
            emb = finite_vectors(emb)
        n = emb.count()
        _EMB_COUNT_MEMO[key] = n
    return n
