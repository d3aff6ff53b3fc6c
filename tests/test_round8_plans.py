"""Plan gates for the round-8 query batch: single-scan sufficient
statistics, equi-join blocking (no nested-loop fallbacks), per-group
windows, and broadcast dimension joins."""

from __future__ import annotations

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _q(spark, name):
    from asritha_metamorphetl_spark.plans.registry import all_queries

    return all_queries()[name](spark, SF)


def test_corr_matrix_is_single_scan(spark):
    """All 6 correlations from ONE lineitem scan (stack over one
    aggregate row) — a union of per-pair selects would rescan 6x."""
    plan = _plan(_q(spark, "lineitem_corr_matrix"))
    assert plan.count("FileScan") == 1


def test_fellegi_sunter_blocking_is_equi_join(spark):
    """Record linkage must pair through the blocking EQUI-join —
    a nested-loop cross product over customers is the O(n^2) failure
    the blocking exists to prevent."""
    plan = _plan(_q(spark, "fellegi_sunter_links"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the dirty side is exploded once per salt; the salt count follows
    # the session's parallelism but never past 64
    assert 8 <= _n_salts(plan) <= 64


def test_fellegi_sunter_salt_count_is_capped(spark, monkeypatch):
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "defaultParallelism", property(lambda sc: 1000))
    assert _n_salts(_plan(_q(spark, "fellegi_sunter_links"))) == 64


def _n_salts(plan: str) -> int:
    import re

    (salts,) = re.findall(r"explode\(\[([\d,]+)\]\)", plan)
    return len(salts.split(","))


def test_copurchase_pairs_are_order_local(spark):
    """Item-item similarity pairs come from the order-key equi-join
    (order-local expansion), never a part x part product."""
    plan = _plan(_q(spark, "copurchase_jaccard_parts"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_transition_matrix_windows_are_per_user(spark):
    """The LEAD window partitions by user (hash exchange) — a global
    range sort would serialize the whole event stream."""
    plan = _plan(_q(spark, "event_transition_matrix"))
    assert "Exchange rangepartitioning" not in plan


def test_kfold_windows_are_per_label(spark):
    plan = _plan(_q(spark, "stratified_kfold_assignment"))
    assert "Exchange rangepartitioning" not in plan


def test_rollup_dimension_joins_broadcast(spark):
    """The geo ROLLUP joins dimensions by broadcast and shuffles the
    fact side exactly once (the grouped Expand exchange)."""
    plan = _plan(_q(spark, "rollup_region_nation_revenue"))
    assert plan.count("BroadcastHashJoin") == 3
    assert "Expand" in plan
    assert "SortMergeJoin" not in plan


def test_fk_orphan_audit_broadcasts_parents(spark):
    """Every FK edge probes with the parent side broadcast — the fact
    scans never shuffle for the join."""
    plan = _plan(_q(spark, "fk_orphan_audit"))
    assert "SortMergeJoin" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_autocorr_pairs_via_equi_join(spark):
    """Lagged pairing is an equi-join on the shifted day (the 7-row
    lag frame broadcasts into the tiny series) — no theta join."""
    plan = _plan(_q(spark, "autocorrelation_daily_orders"))
    assert "CartesianProduct" not in plan


def test_benford_pushes_column_pruning(spark):
    """The Benford scan reads only o_totalprice."""
    plan = _plan(_q(spark, "benford_price_digits"))
    scan = plan.split("FileScan")[1]
    header = scan.splitlines()[0]
    rs = header[header.index("ReadSchema"):]
    assert "o_totalprice" in rs
    assert "o_orderdate" not in rs and "o_custkey" not in rs
