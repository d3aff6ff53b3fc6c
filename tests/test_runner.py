"""Pipeline-runner tests: dependency order, fan-out caching, failure
isolation, cycle detection, concurrent scheduling of independent nodes and
per-node job groups — plus the full three-mart DAG in one session."""

from __future__ import annotations

import threading
import time

import pytest

from tests.conftest import SF_SMOKE


def test_topological_execution_and_fanout_cache(spark):
    from asritha_metamorphetl_spark.plans.runner import Pipeline

    seen = []

    def mk(name):
        def fn(s, deps):
            seen.append(name)
            return name

        return fn

    p = (
        Pipeline()
        .add("a", mk("a"))
        .add("b", mk("b"), deps=["a"])
        .add("c", mk("c"), deps=["a"])
        .add("d", mk("d"), deps=["b", "c"])
    )
    results = p.run(spark)
    assert seen.index("a") == 0 and seen.index("d") == 3
    assert results["d"] == "d"


def test_failure_isolation(spark):
    from asritha_metamorphetl_spark.plans.runner import NodeFailed, Pipeline

    ran = []

    def ok(s, deps):
        ran.append("ok")

    def boom(s, deps):
        raise RuntimeError("kaput")

    p = Pipeline().add("ok", ok).add("boom", boom, deps=["ok"]).add(
        "after", ok, deps=["boom"]
    )
    with pytest.raises(NodeFailed) as e:
        p.run(spark)
    assert e.value.node == "boom"
    assert ran == ["ok"]  # downstream never ran


def test_cycle_detection(spark):
    from asritha_metamorphetl_spark.plans.runner import Pipeline

    p = Pipeline().add("a", lambda s, d: 1)
    p.nodes["a"].deps = ("a",)
    with pytest.raises(ValueError, match="cycle"):
        p.run(spark)


def test_independent_nodes_overlap(spark):
    """Two nodes without a path between them run at the same time: each
    waits for the other at a barrier, which a one-at-a-time loop would
    time out on."""
    from asritha_metamorphetl_spark.plans.runner import Pipeline

    barrier = threading.Barrier(2, timeout=30)

    def meet(name):
        def fn(s, deps):
            barrier.wait()
            return name

        return fn

    p = (
        Pipeline()
        .add("left", meet("left"))
        .add("right", meet("right"))
        .add("join", lambda s, d: sorted(d.values()), deps=["left", "right"])
    )
    assert p.run(spark)["join"] == ["left", "right"]


def test_wide_dag_under_fast_thread_switching(spark):
    """A layered DAG wider than the worker pool: every node runs exactly
    once and sees exactly its deps' results, with the interpreter
    switching threads as often as it can."""
    import sys

    from asritha_metamorphetl_spark.plans.runner import Pipeline

    width, depth = 12, 5
    runs = []
    p = Pipeline()
    expected = {}
    for layer in range(depth):
        for i in range(width):
            name = f"n{layer}_{i}"
            deps = [] if layer == 0 else [
                f"n{layer - 1}_{i}", f"n{layer - 1}_{(i * 7 + 3) % width}"
            ]

            def fn(s, d, name=name, deps=tuple(deps)):
                assert set(d) == set(deps)
                runs.append(name)
                return 1 + sum(d.values())

            p.add(name, fn, deps=deps)
            expected[name] = 1 + sum(expected[d] for d in deps)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        results = p.run(spark)
    finally:
        sys.setswitchinterval(interval)
    assert sorted(runs) == sorted(expected)
    assert results == expected


def test_failure_drains_running_siblings_and_submits_nothing_after(spark):
    """One node fails while its siblings fill every worker: the siblings
    finish before the raise, and neither the dependents nor the ready
    node still waiting for a worker ever start."""
    from asritha_metamorphetl_spark.plans.runner import NodeFailed, Pipeline

    n_workers = spark.sparkContext.defaultParallelism
    all_running = threading.Barrier(n_workers, timeout=30)
    events = []

    def sibling(s, deps):
        all_running.wait()
        time.sleep(0.5)  # still running when ``boom`` fails
        events.append("sibling done")

    def boom(s, deps):
        all_running.wait()
        raise RuntimeError("kaput")

    def never(s, deps):
        events.append("should not run")

    p = Pipeline().add("boom", boom)
    for i in range(n_workers - 1):
        p.add(f"sibling{i}", sibling)
    p.add("waiting_for_a_worker", never)
    p.add("after_boom", never, deps=["boom"])
    p.add("after_sibling", never, deps=["sibling0"])
    with pytest.raises(NodeFailed) as e:
        p.run(spark)
    assert e.value.node == "boom"
    assert isinstance(e.value.__cause__, RuntimeError)
    assert events == ["sibling done"] * (n_workers - 1)


def test_fanout_cached_once_and_unpersisted_after_last_consumer(spark, monkeypatch):
    from pyspark.storagelevel import StorageLevel

    from asritha_metamorphetl_spark.plans.runner import Pipeline

    src = spark.range(10)
    calls = []
    original = type(src).cache

    def counting_cache(df):
        calls.append(df)
        return original(df)

    monkeypatch.setattr(type(src), "cache", counting_cache)
    seen = {}

    def consumer(name):
        def fn(s, deps):
            frame = deps["src"]
            seen[name] = (frame, frame.storageLevel)
            return frame.count()

        return fn

    p = (
        Pipeline()
        .add("src", lambda s, d: src)
        .add("b", consumer("b"), deps=["src"])
        .add("c", consumer("c"), deps=["src"])
    )
    results = p.run(spark)
    assert len(calls) == 1
    assert results["b"] == results["c"] == 10
    # both consumers got the one cached frame ...
    assert seen["b"][0] is seen["c"][0] is results["src"]
    assert seen["b"][1].useMemory and seen["c"][1].useMemory
    # ... and it was released once the last of them finished
    assert results["src"].storageLevel == StorageLevel.NONE


def test_cycle_raises_before_any_node_runs(spark):
    from asritha_metamorphetl_spark.plans.runner import Pipeline

    ran = []
    p = (
        Pipeline()
        .add("root", lambda s, d: ran.append("root"))
        .add("x", lambda s, d: ran.append("x"))
        .add("y", lambda s, d: ran.append("y"), deps=["x"])
    )
    p.nodes["x"].deps = ("y",)
    with pytest.raises(ValueError, match="cycle"):
        p.run(spark)
    assert ran == []


def test_overlapping_nodes_jobs_land_in_their_own_groups(spark):
    """Each node's jobs are tagged with its name even while both nodes
    run at once; the caller's own job group is left as it was."""
    from asritha_metamorphetl_spark.plans.runner import Pipeline

    sc = spark.sparkContext
    barrier = threading.Barrier(2, timeout=30)

    def job(partitions):
        def fn(s, deps):
            barrier.wait()
            n = s.sparkContext.parallelize(range(30), partitions).count()
            barrier.wait()
            return n

        return fn

    sc.setJobGroup("runner_test_caller", "caller")
    try:
        p = (
            Pipeline()
            .add("runner_jobs_three", job(3))
            .add("runner_jobs_five", job(5))
        )
        p.run(spark)
        assert sc.getLocalProperty("spark.jobGroup.id") == "runner_test_caller"
    finally:
        sc._jsc.clearJobGroup()

    tracker = sc.statusTracker()

    def task_counts(group):
        # job records reach the status store asynchronously
        deadline = time.monotonic() + 30
        while True:
            ids = tracker.getJobIdsForGroup(group)
            stages = [s for j in ids for s in tracker.getJobInfo(j).stageIds]
            infos = [tracker.getStageInfo(s) for s in stages]
            if ids and all(infos) or time.monotonic() > deadline:
                return sorted(i.numTasks for i in infos if i)
            time.sleep(0.1)

    assert task_counts("runner_jobs_three") == [3]
    assert task_counts("runner_jobs_five") == [5]


def test_three_mart_dag_single_session(spark):
    """The reference's flagship DAG shape (metamorph_etl_dag.py:20-28) in
    one session: sources fan into marts, all three marts complete."""
    from asritha_metamorphetl_spark.pipelines.customer_sales_report import (
        customer_sales_report,
    )
    from asritha_metamorphetl_spark.pipelines.product_performance import (
        product_performance,
    )
    from asritha_metamorphetl_spark.pipelines.supplier_performance import (
        supplier_performance,
    )
    from asritha_metamorphetl_spark.plans.runner import Pipeline
    from asritha_metamorphetl_spark.quality import assert_unique

    p = (
        Pipeline()
        .add("supplier_perf", lambda s, d: supplier_performance(s, SF_SMOKE))
        .add(
            "product_perf",
            lambda s, d: product_performance(s, SF_SMOKE),
            deps=["supplier_perf"],
        )
        .add(
            "customer_sales",
            lambda s, d: customer_sales_report(s, SF_SMOKE),
            deps=["product_perf"],
        )
        .add(
            "dq_gate",
            lambda s, d: assert_unique(d["supplier_perf"], ["supplier_id"]),
            deps=["supplier_perf"],
        )
    )
    results = p.run(spark)
    assert results["supplier_perf"].count() > 0
    assert results["product_perf"].count() > 0
    assert results["customer_sales"].count() > 0
