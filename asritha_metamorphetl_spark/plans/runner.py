"""Declarative pipeline runner (the reference's Airflow layer, engine-side).

The reference orchestrates with Airflow: one @task per step, each opening
its OWN SparkSession and handing data to the next task through Postgres
tables (SURVEY §2.13, §3.1 — `[suppliers, products, customers] >> sales
>> supplier_perf >> product_perf >> customer_sales`,
ETL_Airflow/dags/metamorph_etl_dag.py:20-28). That costs a JVM spin-up per
step and a full materialize/reload between every step.

This runner keeps the same mental model — named nodes, explicit
dependencies, per-node failure isolation (G1's try/except →
AirflowException) — but executes the whole graph in ONE SparkSession,
passing DataFrames directly; nodes that fan out to multiple consumers are
cached once instead of recomputed (fixing SURVEY §3.1 step 5). Like
Airflow, it runs independent nodes side by side: every node whose
dependencies have finished goes to a bounded thread pool, so the Spark
scheduler interleaves their jobs on the session's cores. Airflow (or any
scheduler) can still sit on top by calling ``Pipeline.run`` from a
single task.

Because nodes overlap, ``deps`` is the ONLY ordering there is: a node
must list every node whose output it reads, including output it reads
back through storage (a mart that scans the raw layer an ingest node
writes depends on that ingest node). An undeclared dependency is a race.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable, Sequence
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

log = logging.getLogger("asritha_metamorphetl_spark.runner")

#: A node body: (spark, {dep_name: dep_result}) -> result (DataFrame or any).
NodeFn = Callable[[SparkSession, dict[str, object]], object]


class NodeFailed(Exception):
    """A node body raised; carries the node name (G1 semantics — the
    pipeline aborts, downstream nodes never run)."""

    def __init__(self, node: str, cause: Exception):
        self.node = node
        self.cause = cause
        super().__init__(f"node {node!r} failed: {cause}")


@dataclass
class Node:
    name: str
    fn: NodeFn
    deps: Sequence[str] = ()
    #: cache the result DataFrame iff >1 downstream consumer (set by Pipeline)
    cache: bool | None = None


@dataclass
class Pipeline:
    """A named-node DAG. ``>>`` chains are expressed via ``deps``."""

    nodes: dict[str, Node] = field(default_factory=dict)

    def add(self, name: str, fn: NodeFn, deps: Sequence[str] = (),
            cache: bool | None = None) -> "Pipeline":
        if name in self.nodes:
            raise ValueError(f"duplicate node {name!r}")
        unknown = [d for d in deps if d not in self.nodes]
        if unknown:
            raise ValueError(f"node {name!r} depends on unknown nodes {unknown}")
        self.nodes[name] = Node(name, fn, tuple(deps), cache)
        return self

    def _topo_order(self) -> list[Node]:
        order: list[Node] = []
        seen: set[str] = set()

        def visit(node: Node, stack: tuple[str, ...]) -> None:
            if node.name in stack:
                raise ValueError(f"cycle: {' -> '.join(stack + (node.name,))}")
            if node.name in seen:
                return
            for dep in node.deps:
                visit(self.nodes[dep], stack + (node.name,))
            seen.add(node.name)
            order.append(node)

        for node in self.nodes.values():
            visit(node, ())
        return order

    def run(self, spark: SparkSession) -> dict[str, object]:
        """Execute every node once its deps have finished; returns
        {name: result}.

        The calling thread coordinates. It submits each node whose deps
        have published their results to a pool of
        ``min(len(nodes), defaultParallelism)`` threads and collects
        results as nodes complete, so independent nodes overlap and a
        chain runs one node at a time. A node body receives exactly
        ``{dep: result}`` of its declared ``deps`` — and ``deps`` is the
        only ordering: a node that reads another node's output (also
        through the warehouse) without declaring it races that node.

        All bookkeeping stays on the calling thread: DataFrame results
        consumed by >1 downstream node are cached before any consumer
        starts and unpersisted when their last consumer finishes. Like
        any cached frame in the session, a fan-out cache is partitioned
        by AQE to its size, not to ``spark.sql.shuffle.partitions``.

        Each body runs under ``setJobGroup(node.name, ...)`` on its
        worker thread, so ``statusTracker().getJobIdsForGroup(name)``
        finds the jobs a node submitted even while nodes overlap; with
        PySpark's pinned threads (the default) local properties are
        per-thread, so the caller's own job group is untouched. Jobs a
        body submits from threads it starts itself carry the group only
        if those threads inherit it (``pyspark.InheritableThread``).

        G1 failure semantics: a cycle raises ``ValueError`` before any
        node starts. The first failing node raises ``NodeFailed`` (cause
        chained); no node is submitted after it, nodes already running
        finish first, and no dependent of a failed node ever runs.
        """
        order = self._topo_order()  # cycle check before any node starts
        consumers: dict[str, int] = {name: 0 for name in self.nodes}
        for node in self.nodes.values():
            for dep in node.deps:
                consumers[dep] += 1

        results: dict[str, object] = {}
        remaining = dict(consumers)
        cached: set[str] = set()
        unmet = {node.name: set(node.deps) for node in order}
        running: dict[Future, Node] = {}
        failure: NodeFailed | None = None

        # Never more nodes submitted than threads, so a submitted node is
        # a started one and nothing queued inside the pool outlives a
        # failure.
        workers = max(1, min(len(order), spark.sparkContext.defaultParallelism))
        with ThreadPoolExecutor(workers, thread_name_prefix="pipeline") as pool:
            while True:
                if failure is None:
                    ready = [name for name, deps in unmet.items() if not deps]
                    for name in ready[: workers - len(running)]:
                        del unmet[name]
                        node = self.nodes[name]
                        dep_results = {d: results[d] for d in node.deps}
                        running[pool.submit(_run_node, spark, node, dep_results)] = node
                if not running:
                    break
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in done:
                    node = running.pop(fut)
                    exc = fut.exception()
                    if exc is not None:
                        failure = failure or NodeFailed(node.name, exc)
                        continue
                    out = fut.result()
                    should_cache = (
                        node.cache if node.cache is not None
                        else consumers[node.name] > 1
                    )
                    if should_cache and isinstance(out, DataFrame):
                        out = out.cache()
                        cached.add(node.name)
                    results[node.name] = out
                    for dep in node.deps:
                        remaining[dep] -= 1
                        if remaining[dep] == 0 and dep in cached:
                            results[dep].unpersist()
                    for deps in unmet.values():
                        deps.discard(node.name)
        if failure is not None:
            raise failure from failure.cause
        return results


def _run_node(spark: SparkSession, node: Node, deps: dict[str, object]) -> object:
    """One node body on a pool thread, its jobs tagged with its name."""
    sc = spark.sparkContext
    sc.setJobGroup(node.name, f"pipeline node {node.name}")
    started = time.perf_counter()
    try:
        out = node.fn(spark, deps)
    finally:
        sc._jsc.clearJobGroup()
    log.info("node %s finished in %.2fs", node.name, time.perf_counter() - started)
    return out
