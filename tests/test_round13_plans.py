"""Gates for the round-13 changes the oracle hashes cannot see:

- the FINITE-VECTOR gate's semantics (keep/drop per degenerate class),
  its DuckDB mirror agreeing row-for-row, and the no-drift pin that
  every gated oracle embeds the rendered ``finite_vec_where`` text;
- the gate's PLAN shape: a row-local Filter inside the scan stage —
  no extra exchange versus the work the query already does;
- the kernel norm-floor regression (subnormally tiny vectors keep
  their direction instead of being crushed by the old 1e-12 clamp);
- price_mad_robust_scale's job count: folding the row count into the
  first median pass means exactly TWO Spark jobs, not three.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

SF = "/root/testdata/sf0.01"

#: Registered queries whose oracle must embed the gate verbatim.
GATED_QUERIES = (
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
    # the seventeen consumers gated after the hostile-embedding sweep
    # showed them crashing (NaN -> BIGINT under ANSI) or floor-breaking
    # ungated; curation_verdict's oracle carries the gate through the
    # shared _semdedup_asg_sql fragment.
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
)

#: Queries that must stay UNGATED: their hostile behavior is already
#: cross-engine identical (EMBEDDING_SWEEP proves it every run), so
#: gating them would discard telemetry for no correctness gain — and a
#: gate sneaking into one side only would hash-diverge. This is the
#: anti-drift pin in the OTHER direction.
UNGATED_QUERIES = (
    "knn_l2_topk",
    "knn_bq_topk",
    "knn_jl_topk",
    "knn_jl_recall_eval",
    "pca_power_projection",
    "embedding_sign_bias_profile",
    "stratified_kfold_assignment",
    "stratified_label_sample",
)


@pytest.fixture()
def degenerate_vectors(spark):
    """One vector per degenerate class + two clean ones."""
    nan, inf = float("nan"), float("inf")
    rows = [
        (1, [1.0, 2.0, 3.0], "clean"),
        (2, [0.5, -0.5, 0.25], "clean"),
        (3, [0.0, 0.0, 0.0], "zero"),
        (4, [nan, 1.0, 1.0], "nan"),
        (5, [inf, 1.0, 1.0], "posinf"),
        (6, [-inf, 1.0, 1.0], "neginf"),
        (7, [1e-20, 2e-20, 2e-20], "tiny"),
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v, _ in rows],
        "vec_id bigint, embedding array<double>",
    )
    return df, rows


def test_finite_vectors_keep_set(spark, degenerate_vectors):
    """Gate keeps clean + tiny (finite, positive norm), drops
    zero/NaN/±Inf."""
    from asritha_metamorphetl_spark.operators.similarity import finite_vectors

    df, rows = degenerate_vectors
    kept = sorted(r.vec_id for r in finite_vectors(df).collect())
    want = sorted(i for i, _, k in rows if k in ("clean", "tiny"))
    assert kept == want, (kept, want)


def test_finite_vec_where_mirrors_engine_gate(degenerate_vectors, spark):
    """The DuckDB WHERE-clause twin keeps exactly the same rows as the
    engine gate on every degenerate class."""
    import duckdb

    from asritha_metamorphetl_spark.operators.similarity import (
        finite_vec_where,
        finite_vectors,
    )

    df, rows = degenerate_vectors
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE v (vec_id BIGINT, embedding DOUBLE[])"
    )

    def lit(x: float) -> str:
        import math

        if math.isnan(x):
            return "'NaN'::DOUBLE"
        if math.isinf(x):
            return f"'{'-' if x < 0 else ''}Infinity'::DOUBLE"
        return repr(x)

    values = ", ".join(
        f"({i}, [{', '.join(lit(x) for x in vec)}])" for i, vec, _ in rows
    )
    con.execute(f"INSERT INTO v VALUES {values}")
    oracle_kept = sorted(
        r[0]
        for r in con.execute(
            f"SELECT vec_id FROM v WHERE {finite_vec_where('embedding')}"
        ).fetchall()
    )
    spark_kept = sorted(r.vec_id for r in finite_vectors(df).collect())
    assert oracle_kept == spark_kept


def test_every_gated_oracle_embeds_the_gate_verbatim():
    """No-drift pin: each gated query's oracle SQL must contain the
    RENDERED finite_vec_where text, so an edit to either side that
    forgets the other fails here before it can hash-diverge."""
    from asritha_metamorphetl_spark.operators.similarity import finite_vec_where
    from asritha_metamorphetl_spark.plans.registry import all_oracles

    gate = finite_vec_where("embedding")
    oracles = all_oracles()
    missing = [
        n for n in GATED_QUERIES if gate not in oracles[n]
    ]
    assert not missing, missing


def test_deliberately_ungated_oracles_stay_ungated():
    """The UNGATED list is a decision, not an omission: these oracles
    must NOT contain the rendered gate (a one-sided gating edit would
    silently shrink their corpus and hash-diverge on hostile data)."""
    from asritha_metamorphetl_spark.operators.similarity import finite_vec_where
    from asritha_metamorphetl_spark.plans.registry import all_oracles

    gate = finite_vec_where("embedding")
    oracles = all_oracles()
    leaked = [n for n in UNGATED_QUERIES if gate in oracles[n]]
    assert not leaked, leaked


def test_gate_is_scan_stage_filter_no_extra_exchange(spark):
    """Plan shape: gating a bare scan adds a Filter but NO Exchange —
    the gate is row-local and must never introduce a shuffle."""
    from asritha_metamorphetl_spark.operators.similarity import finite_vectors

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = finite_vectors(emb)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Filter" in plan


def test_normalize_rows_preserves_tiny_directions():
    """Regression for the 1e-12 clamp: a 1e-20-scale vector must
    normalize to a UNIT vector along its true direction (the old clamp
    produced a ~1e-8-norm stub, zeroing every downstream cosine)."""
    from asritha_metamorphetl_spark.operators.similarity import (
        _NORM_FLOOR,
        _normalize_rows,
    )

    M = np.array([[3e-20, 4e-20], [1.0, 0.0]])
    N = _normalize_rows(M)
    assert np.allclose(np.linalg.norm(N, axis=1), 1.0)
    assert np.allclose(N[0], [0.6, 0.8])
    # the floor still guards the true-zero row against 0/0
    Z = _normalize_rows(np.array([[0.0, 0.0]]))
    assert np.all(np.isfinite(Z))
    assert _NORM_FLOOR < 1e-300


def test_price_mad_runs_exactly_two_actions(spark, monkeypatch):
    """VERDICT r12 finding #1's done-criterion: the standalone
    orders.count() is gone — the whole query body triggers exactly TWO
    actions (one collect per median pass, zero counts), i.e. two scans
    of orders instead of three. Counted by spying on the action
    methods rather than Spark job ids, which AQE multiplies per
    exchange materialization."""
    # patch the CONCRETE class (pyspark.sql.DataFrame is a dispatch
    # facade in Spark 4; instances are classic.dataframe.DataFrame)
    from pyspark.sql.classic.dataframe import DataFrame

    from asritha_metamorphetl_spark.plans.round12_queries import (
        price_mad_robust_scale,
    )

    calls = {"collect": 0, "count": 0}
    orig_collect, orig_count = DataFrame.collect, DataFrame.count

    def spy_collect(self):
        calls["collect"] += 1
        return orig_collect(self)

    def spy_count(self):
        calls["count"] += 1
        return orig_count(self)

    monkeypatch.setattr(DataFrame, "collect", spy_collect)
    monkeypatch.setattr(DataFrame, "count", spy_count)
    price_mad_robust_scale(spark, SF)
    assert calls == {"collect": 2, "count": 0}, calls


def test_build_session_shares_scratch_roots(spark):
    """The parity suite's private build session works BECAUSE
    spark.newSession() shares the SparkContext: same applicationId,
    so cached-fixture roots and markers resolve identically for the
    builder and every consumer. Pin that assumption — if it broke,
    suite consumers would rebuild fixtures the build session already
    wrote."""
    from asritha_metamorphetl_spark.session import scratch_dir

    other = spark.newSession()
    assert other is not spark
    assert (
        scratch_dir(spark, "probe", "/x/sf9.7")
        == scratch_dir(other, "probe", "/x/sf9.7")
    )
    # roots key on the whole sf path, not its basename: two catalogs
    # named alike in one session never share a fixture
    assert scratch_dir(spark, "probe", "/a/sf0.01") != scratch_dir(
        spark, "probe", "/b/sf0.01"
    )
    assert scratch_dir(spark, "probe", "/a/sf0.01/") == scratch_dir(
        spark, "probe", "/a/sf0.01"
    )
    # and the conf isolation the suite relies on
    other.conf.set("spark.sql.shuffle.partitions", "3")
    assert spark.conf.get("spark.sql.shuffle.partitions") != "3"


def test_finite_vectors_drops_null_vector_rows(spark):
    """A NULL embedding (ingest rot the fixture doesn't stage) must be
    dropped by the gate on BOTH sides: Spark's exists() over NULL is
    NULL → filter drops; the oracle's list_transform(NULL) is NULL →
    WHERE drops. Neither engine may pass it into a kernel."""
    import duckdb

    from asritha_metamorphetl_spark.operators.similarity import (
        finite_vec_where,
        finite_vectors,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None)],
        "vec_id bigint, embedding array<double>",
    )
    assert [r.vec_id for r in finite_vectors(df).collect()] == [1]
    con = duckdb.connect()
    con.execute("CREATE TABLE v (vec_id BIGINT, embedding DOUBLE[])")
    con.execute("INSERT INTO v VALUES (1, [1.0, 2.0]), (2, NULL)")
    kept = con.execute(
        f"SELECT vec_id FROM v WHERE {finite_vec_where('embedding')}"
    ).fetchall()
    assert [r[0] for r in kept] == [1]


# ---------------------------------------------------------------------------
# Property fuzz: the gate triple (Spark / DuckDB / reference) must agree
# on ARBITRARY vectors, not just the fixture's seven curated classes.
# ---------------------------------------------------------------------------

_EDGE_FLOATS = (
    float("nan"),
    float("inf"),
    float("-inf"),
    0.0,
    -0.0,
    5e-324,  # smallest subnormal
    2.2250738585072014e-308,  # smallest normal
    1e-200,  # squares underflow to 0 exactly
    1e200,  # squares overflow to inf
    1.0,
    -1.0,
    None,  # null COMPONENT (not a null vector)
)


def _ref_keep(vec) -> bool:
    """Pure-python reference of the gate: finite components only AND a
    strictly positive squared norm (sum in double; terms are nonneg so
    order cannot flip the > 0 decision). A null component fails —
    Spark's exists() predicate goes NULL and the filter drops, DuckDB's
    CASE isfinite(NULL) falls to the ELSE 1 branch."""
    import math

    if any(x is None for x in vec):
        return False
    if not all(math.isfinite(x) for x in vec):
        return False
    s = 0.0
    for x in vec:
        s += x * x
    return s > 0


def _duck_lit(x) -> str:
    import math

    if x is None:
        return "NULL"
    if math.isnan(x):
        return "'NaN'::DOUBLE"
    if math.isinf(x):
        return f"'{'-' if x < 0 else ''}Infinity'::DOUBLE"
    return repr(x)  # shortest round-trip repr; strtod recovers the bits


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_vec = st.lists(
    st.one_of(
        st.sampled_from(_EDGE_FLOATS),
        st.floats(allow_nan=True, allow_infinity=True, width=64),
    ),
    min_size=0,  # the empty vector must be excluded by both engines
    max_size=6,
)


@given(vecs=st.lists(_vec, min_size=1, max_size=10))
@settings(
    max_examples=8,  # each example runs one Spark job — keep it tight
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_gate_triple_agreement_fuzz(spark, vecs):
    """finite_vectors (engine), finite_vec_where (oracle), and the
    python reference keep EXACTLY the same vec_ids for arbitrary
    vectors drawn from the full IEEE-754 edge pool."""
    import duckdb

    from asritha_metamorphetl_spark.operators.similarity import (
        finite_vec_where,
        finite_vectors,
    )

    rows = [(i, list(v)) for i, v in enumerate(vecs)]
    want = sorted(i for i, v in rows if _ref_keep(v))

    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    spark_kept = sorted(r.vec_id for r in finite_vectors(df).collect())
    assert spark_kept == want, (spark_kept, want, rows)

    con = duckdb.connect()
    con.execute("CREATE TABLE v (vec_id BIGINT, embedding DOUBLE[])")
    values = ", ".join(
        f"({i}, [{', '.join(_duck_lit(x) for x in v)}])" for i, v in rows
    )
    con.execute(f"INSERT INTO v VALUES {values}")
    duck_kept = sorted(
        r[0]
        for r in con.execute(
            f"SELECT vec_id FROM v WHERE {finite_vec_where('embedding')}"
        ).fetchall()
    )
    assert duck_kept == want, (duck_kept, want, rows)
