"""Adversarial SKEW sweep (VERDICT r10 directive #6): registered
queries and their DuckDB oracles run UNCHANGED over a deliberately
hostile catalog — one celebrity user owning ~20% of events, one hot
customer owning ~20% of orders, and a ~20% tie plateau on the global
rank machinery's order column — through the driver-faithful harness
(tools/check_correctness.py), so the hash-compare proves the
sessionization, salted-join, running-spend, and two-pass global-rank
plans stay EXACT under the skew they were designed to survive."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC_SF = "/root/testdata/sf0.01"

#: The skew-sensitive machinery swept over the fixture: per-key windows
#: (sessionization, journeys), the explicitly salted join, per-customer
#: running windows, the range-partitioned global rank/cumsum family
#: (cume_dist, percentile bands, top-decile share, weighted median),
#: and the basket expansions against the MEGA-BASKET (one order with
#: 100+ distinct parts — frequent_triples' oracle carries the same
#: ROW_NUMBER<=24 cap, so its hash-match proves the TRUNCATION
#: contract end-to-end on data where the cap BINDS: 12 reported
#: triples capped vs 38 uncapped on this fixture).
SWEEP = (
    "event_sessions",
    "user_journeys",
    "salted_hot_user_events",
    "running_customer_spend",
    "cume_dist_scalable",
    "order_value_percentile_bands",
    "top_decile_revenue_share",
    "weighted_median_price",
    "customer_rfm_segments",
    "frequent_triples",
    "market_basket_rules",
    "hot_key_skew_safe_distinct",
    "copurchase_jaccard_parts",
    # round-12 additions: the tie plateau lands a fifth of the global
    # rank input on one value, so the every-k-th sample's (cents,
    # o_orderkey) tiebreak and both nested medians must stay exact; the
    # hot customer concentrates one o_custkey's window frame; the CUBE
    # margins and null-safe pair arithmetic must absorb the remapped
    # key mass unchanged
    "systematic_sample_global_rank",
    "price_mad_robust_scale",
    "first_last_nonnull_window_audit",
    "cube_margins_audit",
    "null_safe_join_audit",
    # round-13 additions: the constant-price plateau (o_orderkey%5==2)
    # parks a fifth of the cents distribution on ONE value, so the
    # interpolated quartiles' (n-1)·q index lands inside tie runs and
    # the blend must stay engine-exact; the remapped hot keys feed the
    # %/pmod bucket census; the remaining three are the IEEE/lateral
    # contracts, which must be data-shape-independent by design
    "pmod_negative_keys_audit",
    "interpolated_quartiles_audit",
    "explode_outer_empty_audit",
    "nan_total_order_audit",
    "embedding_degenerate_audit",
)


@pytest.fixture(scope="session")
def skew_dir(tmp_path_factory) -> str:
    sys.path.insert(0, REPO)
    from tools.build_skew_fixture import build

    out = str(tmp_path_factory.mktemp("skew") / "sf0.01")
    return build(SRC_SF, out)


def test_fixture_is_actually_skewed(skew_dir):
    """The fixture must be hostile, or the sweep proves nothing: the
    hot user owns ≥15% of events, the hot customer ≥15% of orders, and
    the tie plateau holds ≥15% of the rank column's mass."""
    import duckdb

    con = duckdb.connect()
    ev = con.sql(
        "SELECT COUNT(*) FILTER (user_id = 1) * 1.0 / COUNT(*) "
        f"FROM read_parquet('{skew_dir}/events.parquet')"
    ).fetchone()[0]
    hc, tie = con.sql(
        "SELECT COUNT(*) FILTER (o_custkey = 1) * 1.0 / COUNT(*), "
        "COUNT(*) FILTER (o_totalprice = 11111.11) * 1.0 / COUNT(*) "
        f"FROM read_parquet('{skew_dir}/orders.parquet')"
    ).fetchone()
    assert ev >= 0.15, ev
    assert hc >= 0.15, hc
    assert tie >= 0.15, tie
    # the mega-basket must exceed the triples cap, or the truncation
    # sweep proves nothing
    from asritha_metamorphetl_spark.plans.analytics3_queries import (
        TRIPLE_BASKET_CAP,
    )

    mega = con.sql(
        "SELECT COUNT(DISTINCT l_partkey) "
        f"FROM read_parquet('{skew_dir}/lineitem.parquet') "
        "WHERE l_orderkey = 7"
    ).fetchone()[0]
    assert mega > 2 * TRIPLE_BASKET_CAP, (mega, TRIPLE_BASKET_CAP)


def test_skew_sweep_all_green(skew_dir):
    """Every swept query must be rows+schema+hash green against its
    oracle ON THE SKEWED DATA, via the same harness the round evidence
    uses. A plan that silently drops/duplicates hot-key rows, breaks
    ties nondeterministically, or funnels the plateau into one
    overflowing partition fails here, not at 100 TB."""
    # --jobs 3: the swept queries are independent; the harness prints
    # the same records as a sequential run.
    proc = subprocess.run(
        [sys.executable, "tools/check_correctness.py", skew_dir, *SWEEP,
         "--jobs", "3"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=600,
    )
    out = json.loads(proc.stdout)
    out.pop("__meta__", None)
    assert set(out) == set(SWEEP)
    bad = {
        k: v
        for k, v in out.items()
        if v["err"]
        or not (v["rows_match"] and v["schema_match"] and v["hash_match"])
    }
    assert not bad, f"skew sweep failures: {json.dumps(bad, indent=1)[:2000]}"


def test_hot_user_session_shape(skew_dir, spark):
    """Sanity on the adversarial shape itself: the celebrity user's
    events collapse into FEW long sessions (interleaved timestamps →
    tiny gaps), i.e. the sessionizer really did process a hot
    partition rather than a normal one."""
    from pyspark.sql import functions as F

    from asritha_metamorphetl_spark.plans.operator_queries import (
        event_sessions,
    )

    sess = event_sessions(spark, skew_dir)
    hot = sess.filter(F.col("user_id") == 1)
    n_sessions = hot.count()
    n_events = (
        hot.agg(F.sum("n_events")).collect()[0][0] or 0
    )
    assert n_events > 1000, n_events  # ~20% of all events
    # interleaving makes the mean hot session several times longer
    # than the rest of the population's (~1-2 events at sf0.01)
    rest = (
        sess.filter(F.col("user_id") != 1)
        .agg(
            (F.sum("n_events") / F.count(F.lit(1))).alias("m")
        )
        .collect()[0]["m"]
    )
    hot_mean = n_events / max(n_sessions, 1)
    assert hot_mean > 3 * rest, (hot_mean, rest)
