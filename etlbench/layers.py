"""Per-layer instrumentation of the package, and the per-layer metrics.

``instrument`` wraps the public calls of each layer in spans (see
spans.py) and counts shared-fixture cache hits and the DataFrames the
DAG runner caches; ``layer_metrics`` turns
the spans of the traced rounds into the benchmark's per-layer metrics.
Only traced rounds run instrumented; ``Patches.restore`` undoes it.
"""

from __future__ import annotations

import os

from spans import Patches, Tracer, job_owners, public_functions, self_times

#: Per-layer metrics, in report order, with their units.
PER_LAYER = {
    "session.create_s": "s",
    "sources.load_calls": "count",
    "sources.load_s": "s",
    "sources.load_jobs": "count",
    "sources.read_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.exec_s": "s",
    "plans.exec_jobs": "count",
    "fixtures.builds": "count",
    "fixtures.build_s": "s",
    "fixtures.hit_ratio": "ratio",
    "fixtures.first_touch_s": "s",
    "streaming.fixture_s": "s",
    "runner.node_s": "s",
    "runner.cached_nodes": "count",
    "pipelines.ingest_s": "s",
    "pipelines.mart_s": "s",
    "pipelines.bytes_written": "bytes",
    "quality.assert_unique_s": "s",
    "quality.reconcile_s": "s",
    "quality.reconcile_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "trace.run_s": "s",
    "trace.overhead_s": "s",
    "process.peak_rss_mb": "MiB",
}


class JobCounter:
    """Spark jobs submitted so far, across sessions: a fresh session
    restarts the scheduler's count, so the counter carries an offset.
    ``harvest`` records (stages, tasks) per job while the session that
    ran it is alive; stages and tasks count only what ran."""

    def __init__(self):
        self.sc = None
        self.base = 0
        self.harvested = 0
        self.job_stats: dict[int, tuple[int, int]] = {}

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext
        self.harvested = self.base

    def detach(self) -> None:
        """Call before stopping the session: harvests its jobs and carries
        its job count forward."""
        self.harvest()
        self.base += self._local()
        self.sc = None

    def _local(self) -> int:
        return self.sc._jsc.sc().dagScheduler().numTotalJobs()

    def __call__(self) -> int:
        return self.base + self._local()

    def harvest(self) -> None:
        st = self.sc.statusTracker()
        end = self()
        for jid in range(self.harvested, end):
            info = st.getJobInfo(jid - self.base)
            stages = tasks = 0
            for sid in (info.stageIds if info else []):
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
            self.job_stats[jid] = (stages, tasks)
        self.harvested = end


class FixtureLog:
    """New entries of ``session.FIXTURE_BUILD_LOG``. A rebuild of a label
    replaces its entry with a new dict, so entries are told apart by
    identity, not by key."""

    def __init__(self):
        from asritha_metamorphetl_spark import session

        self.log = session.FIXTURE_BUILD_LOG
        self.mark()

    def mark(self) -> None:
        self._seen = {k: id(v) for k, v in self.log.items()}

    def new(self) -> dict[str, float]:
        """{label: build seconds} built since the last ``mark``."""
        return {
            k: v["seconds"] for k, v in self.log.items()
            if self._seen.get(k) != id(v)
        }


def instrument(tracer: Tracer, patches: Patches, hits: dict, cached: dict) -> None:
    """Wrap each layer's public calls in spans. ``hits`` collects
    ``calls`` and ``hits`` of ``cached_fixture`` (a hit finds the ready
    marker); every module that bound ``cached_fixture`` by name is
    rebound, since rebinding ``session.cached_fixture`` alone misses them.
    ``cached["nodes"]`` counts the DataFrames ``Pipeline.run`` itself
    caches: ``cache``/``persist`` calls whose innermost client-thread span
    is the run, not one of its nodes."""
    from importlib import import_module

    from pyspark.sql.classic.dataframe import DataFrame

    # import_module, not ``from pkg import mod``: package __init__ files
    # re-export functions that shadow their module names.
    m = lambda name: import_module(f"asritha_metamorphetl_spark.{name}")  # noqa: E731
    session, ingestion = m("session"), m("pipelines.ingestion")
    fixtures, runner = m("plans.fixtures"), m("plans.runner")
    streaming_queries = m("plans.streaming_queries")
    asserts, orchestrate = m("quality.asserts"), m("quality.orchestrate")
    reconcile = m("quality.reconcile")
    files, registry = m("sources.files"), m("sources.registry")
    stateful, windows = m("streaming.stateful"), m("streaming.windows")

    def wrap_fn(fn, name, layer, on_call=None):
        patches.replace(fn, tracer.wrap(fn, name, layer, on_call))

    def count_hit(args, kwargs, sp):
        spark, label, sf_dir = args[:3]
        marker = os.path.join(session.scratch_dir(spark, label, sf_dir), "_FIXTURE_READY")
        hit = os.path.exists(marker)
        hits["calls"] += 1
        hits["hits"] += hit
        sp.attrs.update(label=label, hit=hit)

    wrap_fn(session.cached_fixture, "fixtures.cached_fixture", "plans.fixtures", count_hit)
    for name in public_functions(fixtures):
        if name != "cached_fixture":
            wrap_fn(getattr(fixtures, name), f"fixtures.{name}", "plans.fixtures")
    wrap_fn(streaming_queries._parity_suite, "fixtures._parity_suite", "plans.fixtures")
    for mod in (windows, stateful):
        for name in public_functions(mod):
            wrap_fn(getattr(mod, name), f"streaming.{name}", "streaming")

    patches.set_attr(files.Catalog, "load", tracer.wrap(
        files.Catalog.load, "sources.Catalog.load", "sources"))
    wrap_fn(registry.read, "sources.read", "sources")

    patches.set_attr(runner.Pipeline, "run", tracer.wrap(
        runner.Pipeline.run, "runner.Pipeline.run", "plans.runner"))

    def count_cache(fn):
        def wrapper(df, *args, **kwargs):
            if tracer.innermost() == "runner.Pipeline.run":
                cached["nodes"] += 1
            return fn(df, *args, **kwargs)
        return wrapper

    for name in ("cache", "persist"):
        patches.set_attr(DataFrame, name, count_cache(getattr(DataFrame, name)))

    def entity(args, kwargs, sp):
        sp.attrs["entity"] = args[2].removesuffix(".parquet")

    wrap_fn(ingestion.ingest_entity, "pipelines.ingest_entity", "pipelines", entity)
    for mart in ("supplier_performance", "product_performance", "customer_sales_report"):
        mod = m(f"pipelines.{mart}")
        patches.set_attr(mod, mart, tracer.wrap(getattr(mod, mart), f"pipelines.{mart}", "pipelines"))

    wrap_fn(asserts.assert_unique, "quality.assert_unique", "quality")
    wrap_fn(reconcile.reconcile, "quality.reconcile", "quality")
    wrap_fn(orchestrate.submit_reconciliation, "quality.submit_reconciliation", "quality")


def _sum(spans, name=None, layer=None, prefix=None, field="seconds", client=None):
    total = 0.0
    for s in spans:
        if name is not None and s.name != name:
            continue
        if layer is not None and s.layer != layer:
            continue
        if prefix is not None and not s.name.startswith(prefix):
            continue
        if client is not None and s.thread != client:
            continue
        total += s.seconds if field == "seconds" else (
            1 if field == "calls" else s.jobs1 - s.jobs0)
    return total


def layer_table(spans: list, client: int, jobs: JobCounter) -> dict[str, dict]:
    """Per layer: client-thread self seconds, other-thread seconds,
    calls, self jobs and the stages and tasks of those jobs."""
    layers = self_times(spans, client)
    for row in layers.values():
        row["stages"] = row["tasks"] = 0
    for jid, sp in job_owners(spans, client).items():
        stages, tasks = jobs.job_stats.get(jid, (0, 0))
        layers[sp.layer]["stages"] += stages
        layers[sp.layer]["tasks"] += tasks
    return layers


def layer_metrics(
    sp: list, c: int, jobs: JobCounter, rounds: int, extra: dict
) -> dict[str, float]:
    """Per-layer metrics per timed round, from the spans ``sp`` of the
    traced rounds (totals divided by the number of rounds; ``c`` is the
    client thread). ``extra`` supplies the values measured outside spans:
    create time, fixture log, bytes, RSS, round time, overhead."""
    per = lambda v: v / rounds  # noqa: E731
    hits = extra["fixture_hits"]
    traced_jobs = [j for s in sp if s.layer == "bench" for j in range(s.jobs0, s.jobs1)]
    stats = [jobs.job_stats.get(j, (0, 0)) for j in traced_jobs]
    return {
        "session.create_s": extra["create_s"],
        "sources.load_calls": per(_sum(sp, name="sources.Catalog.load", field="calls")),
        "sources.load_s": per(_sum(sp, name="sources.Catalog.load")),
        "sources.load_jobs": per(_sum(sp, name="sources.Catalog.load", field="jobs", client=c)),
        "sources.read_s": per(_sum(sp, name="sources.read")),
        "plans.build_s": per(_sum(sp, layer="plans.build")),
        "plans.build_jobs": per(_sum(sp, layer="plans.build", field="jobs", client=c)),
        "plans.exec_s": per(_sum(sp, layer="plans.exec")),
        "plans.exec_jobs": per(_sum(sp, layer="plans.exec", field="jobs", client=c)),
        "fixtures.builds": per(len(extra["fixture_builds"])),
        "fixtures.build_s": per(sum(extra["fixture_builds"].values())),
        "fixtures.hit_ratio": hits["hits"] / hits["calls"] if hits["calls"] else 0.0,
        "fixtures.first_touch_s": per(extra["first_touch_s"]),
        "streaming.fixture_s": per(sum(
            v for k, v in extra["fixture_builds"].items() if k.startswith("stream_"))),
        "runner.node_s": per(_sum(sp, prefix="runner.node.")),
        "runner.cached_nodes": per(extra["cached_nodes"]),
        "pipelines.ingest_s": per(_sum(sp, name="pipelines.ingest_entity")),
        "pipelines.mart_s": per(_sum(sp, prefix="runner.node.mart_")),
        "pipelines.bytes_written": per(extra["bytes_written"]),
        "quality.assert_unique_s": per(_sum(sp, name="quality.assert_unique")),
        "quality.reconcile_s": per(_sum(sp, name="quality.submit_reconciliation")),
        "quality.reconcile_jobs": per(_sum(
            sp, name="quality.submit_reconciliation", field="jobs", client=c)),
        "spark.jobs": per(len(traced_jobs)),
        "spark.stages": per(sum(s for s, _ in stats)),
        "spark.tasks": per(sum(t for _, t in stats)),
        "trace.run_s": extra["run_s"],
        "trace.overhead_s": extra["overhead_s"],
        "process.peak_rss_mb": extra["peak_rss_mb"],
    }


def details(spans: list) -> dict[str, dict[str, float]]:
    """Seconds per DAG node, ingested entity and query, summed over the
    traced rounds: the named breakdowns behind the per-layer totals."""
    out: dict[str, dict[str, float]] = {"node_s": {}, "ingest_s": {}, "query_s": {}}
    for s in spans:
        if s.name.startswith("runner.node."):
            key, bucket = s.name.removeprefix("runner.node."), "node_s"
        elif s.name == "pipelines.ingest_entity":
            key, bucket = s.attrs.get("entity", "?"), "ingest_s"
        elif s.layer in ("plans.build", "plans.exec"):
            key, bucket = s.attrs["query"], "query_s"
        else:
            continue
        out[bucket][key] = out[bucket].get(key, 0.0) + s.seconds
    return out

