"""The two workloads: a daily ETL DAG and a cold shared-fixture suite.

Each workload is a closed loop with one client thread. ``run_round``
performs one unit of work (a DAG day, a cold pass over the fixture
consumers) and returns its operation
latencies; ``check`` compares outputs against DuckDB outside the timed
region. Layer spans come from ``Probe``: a no-op when tracing is off.
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import os
import time
from contextlib import nullcontext

import numpy as np

from datagen import TABLES

# ---------------------------------------------------------------------------
# Query lists
# ---------------------------------------------------------------------------

#: Shared-fixture consumers run cold by fixture_cold: consumers of the
#: dedup/ANN suite and of the streaming parity suite (the first of each
#: builds its whole suite), and consumers of the MoR, CDC-bucketed and
#: legacy-prune table fixtures. Every output is exact (integer hashes,
#: counts, exact Jaccard), so the oracle check holds on any seed; the
#: cosine-based ANN evals can flip on near-ties between engines and are
#: left out (their models still build in the suite). The copurchase and
#: clustered-layout consumers (about 4 s each) and leakage_free_splits /
#: near_dup_survivors (oracles of seconds in DuckDB) are left out to keep
#: one run near a minute.
FIXTURE_CONSUMERS = (
    "dup_clusters minhash_recall_eval "
    "streaming_ingest_dedup_parity streaming_mor_delete_parity "
    "streaming_hll_parity streaming_bucketed_cdc_parity "
    "streaming_watermark_drop_parity mor_delete_scan cdc_bucketed_state "
    "legacy_day_slice"
).split()

#: The DAG's entities, with the key ``assert_unique`` checks at ingest.
#: (l_orderkey, l_linenumber) repeats in the inputs; the 4-column key is
#: unique.
ENTITY_KEYS = {
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "customer": ["c_custkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"],
    "nation": ["n_nationkey"],
    "region": ["r_regionkey"],
}
MART_DEPS = {
    "supplier_performance": ["orders", "lineitem", "part", "supplier"],
    "product_performance": ["lineitem", "part"],
    "customer_sales_report": ["lineitem", "orders", "part", "customer", "nation"],
}
FIRST_DAY = dt.date(2024, 3, 1)


def _oracle_hash():
    """``_hash_rows`` from tools/check_correctness.py: the repository's
    oracle comparison, normalizing NaN, infinities, dates and decimals."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._hash_rows


class Oracle:
    """DuckDB over the generated input files."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet')"
            )
        self._hash = _oracle_hash()

    def matches(self, df, sql: str) -> bool:
        return self.rows_match(df.columns, df.collect(), sql)

    def rows_match(self, cols: list[str], rows, sql: str) -> bool:
        rows = [tuple(r) for r in rows]
        cur = self.con.cursor()
        try:
            cur.execute(sql)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        finally:
            cur.close()
        return (
            len(rows) == len(orows)
            and sorted(cols) == sorted(ocols)
            and self._hash(cols, rows) == self._hash(ocols, orows)
        )

    def close(self) -> None:
        self.con.close()


class Probe:
    """Span and counter hooks. With no tracer every hook is a no-op, so
    untraced rounds run the same code path without recording."""

    def __init__(self, tracer=None):
        self.tracer = tracer

    def span(self, name: str, layer: str, **attrs):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, layer, **attrs)


# ---------------------------------------------------------------------------
# etl_daily
# ---------------------------------------------------------------------------


class EtlDaily:
    """The reference DAG as one ``Pipeline``, one run per simulated day:
    ingest seven entities into raw/legacy, build three marts from the raw
    layer and append them to legacy, reconcile source orders against a
    seed-perturbed copy of the ingested orders."""

    name = "etl_daily"
    fresh_session_per_round = False
    last_first_touch_s = 0.0

    def __init__(self, data_dir: str, work_dir: str, seed: int, rows: dict):
        self.data = data_dir
        self.root = os.path.join(work_dir, "warehouse")
        rng = np.random.default_rng(seed + 7)
        # Perturbation of the reconcile target: bump the price of keys with
        # key % price_mod == price_rem, drop keys with key % drop_mod ==
        # drop_rem, add n_extra keys past the end of the orders table.
        self.price_mod, self.drop_mod = int(rng.integers(7, 13)), int(rng.integers(17, 29))
        self.price_rem = int(rng.integers(0, self.price_mod))
        self.drop_rem = int(rng.integers(0, self.drop_mod))
        self.n_extra = int(rng.integers(5, 50))
        keys = np.arange(rows["orders"])
        dropped = keys % self.drop_mod == self.drop_rem
        self.expected = {
            "mismatched_rows": int(((keys % self.price_mod == self.price_rem) & ~dropped).sum()),
            "source_only_rows": int(dropped.sum()),
            "target_only_rows": self.n_extra,
        }
        self.n_orders = rows["orders"]
        self.day = 0
        self.last_results: dict = {}

    def _target_sql(self) -> str:
        return f"""
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   CASE WHEN o_orderkey % {self.price_mod} = {self.price_rem}
                        THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
            FROM orders WHERE o_orderkey % {self.drop_mod} != {self.drop_rem}
            UNION ALL
            SELECT CAST(id + {self.n_orders} AS BIGINT), 0L, 'O', 1.0D
            FROM range({self.n_extra})
        """

    def pipeline(self, probe: Probe, day: dt.date, node_s: dict):
        from asritha_metamorphetl_spark.pipelines import ingestion
        from asritha_metamorphetl_spark.plans.runner import Pipeline
        from asritha_metamorphetl_spark.quality import orchestrate
        from asritha_metamorphetl_spark.sources.files import Catalog
        import asritha_metamorphetl_spark.pipelines.customer_sales_report as csr
        import asritha_metamorphetl_spark.pipelines.product_performance as pp
        import asritha_metamorphetl_spark.pipelines.supplier_performance as sp

        wh = ingestion.Warehouse(self.root)
        marts = {
            "supplier_performance": sp, "product_performance": pp,
            "customer_sales_report": csr,
        }
        pipe = Pipeline()

        def timed(node: str, body):
            def fn(spark, deps):
                t0 = time.perf_counter()
                with probe.span(f"runner.node.{node}", "plans.runner"):
                    out = body(spark, deps)
                node_s[node] = time.perf_counter() - t0
                return out
            return fn

        def ingest(entity: str):
            def body(spark, _):
                feed = Catalog(self.data).load(spark, entity)
                return ingestion.ingest_entity(
                    feed, wh, f"{entity}.parquet", feed.schema,
                    ENTITY_KEYS[entity], day=day,
                )
            return body

        def mart(name: str):
            def body(spark, _):
                from pyspark.sql import functions as F

                df = getattr(marts[name], name)(spark, wh.raw_path(""))
                with probe.span(f"pipelines.append.{name}", "pipelines"):
                    (df.withColumn("DAY_DT", F.lit(day.isoformat()).cast("date"))
                     .write.mode("append").partitionBy("DAY_DT")
                     .parquet(wh.legacy_path(name)))
                return df
            return body

        def reconcile(spark, _):
            return orchestrate.submit_reconciliation(
                spark,
                orchestrate.ReconcileRequest(
                    source={"type": "parquet",
                            "path": os.path.join(self.data, "orders.parquet")},
                    target={"type": "sql", "query": self._target_sql(),
                            "catalog_root": wh.raw_path(""), "tables": ["orders"]},
                    keys=["o_orderkey"],
                    compare_columns=["o_custkey", "o_orderstatus", "o_totalprice"],
                    artifact_root=os.path.join(self.root, "recon"),
                    run_date=day,
                ),
            )

        for entity in ENTITY_KEYS:
            pipe.add(f"ingest_{entity}", timed(f"ingest_{entity}", ingest(entity)))
        for name, deps in MART_DEPS.items():
            pipe.add(f"mart_{name}", timed(f"mart_{name}", mart(name)),
                     deps=[f"ingest_{d}" for d in deps])
        pipe.add("reconcile_orders", timed("reconcile_orders", reconcile),
                 deps=["ingest_orders"])
        return pipe

    def run_round(self, spark, probe: Probe) -> tuple[list[float], int]:
        """One simulated day; returns (node latencies, failed nodes)."""
        from asritha_metamorphetl_spark.plans.runner import NodeFailed

        day = FIRST_DAY + dt.timedelta(days=self.day)
        self.day += 1
        node_s: dict[str, float] = {}
        pipe = self.pipeline(probe, day, node_s)
        n_nodes = len(pipe.nodes)
        try:
            self.last_results = pipe.run(spark)
        except NodeFailed as exc:
            print(f"etl_daily: {exc}", flush=True)
            self.last_results = {}
        return list(node_s.values()), n_nodes - len(node_s)

    def after_round(self, spark) -> int:
        """Unpersist the day's frames; check the reconcile counts."""
        from pyspark.sql import DataFrame

        failed = 0
        run = self.last_results.get("reconcile_orders")
        for out in self.last_results.values():
            if isinstance(out, DataFrame):
                out.unpersist()
        if run is not None:
            run.unpersist()
            import pyarrow.parquet as pq

            got = pq.read_table(run.artifact_paths["summary"]).to_pylist()[0]
            bad = {k: (got[k], v) for k, v in self.expected.items() if got[k] != v}
            if bad:
                print(f"etl_daily: reconcile counts (got, want): {bad}", flush=True)
                failed += 1
        return failed

    def check(self, spark, oracle: Oracle) -> tuple[int, int]:
        """The mart partitions the last day appended to legacy, read back
        by DuckDB, against each mart's ORACLE_SQL on the inputs. A mart
        that is missing or cannot be read counts as failed."""
        import asritha_metamorphetl_spark.pipelines.customer_sales_report as csr
        import asritha_metamorphetl_spark.pipelines.product_performance as pp
        import asritha_metamorphetl_spark.pipelines.supplier_performance as sp

        day = FIRST_DAY + dt.timedelta(days=self.day - 1)
        failed = 0
        for mod, name in ((sp, "supplier_performance"), (pp, "product_performance"),
                          (csr, "customer_sales_report")):
            part = os.path.join(self.root, "legacy", name, f"DAY_DT={day.isoformat()}")
            cur = oracle.con.cursor()
            try:
                cur.execute(f"SELECT * FROM read_parquet('{part}/*.parquet', hive_partitioning = false)")
                cols = [d[0] for d in cur.description]
                ok = oracle.rows_match(cols, cur.fetchall(), mod.ORACLE_SQL)
            except Exception as exc:
                print(f"etl_daily: check of mart {name} raised {exc!r:.300}", flush=True)
                ok = False
            finally:
                cur.close()
            if not ok:
                print(f"etl_daily: mart {name} differs from its oracle", flush=True)
                failed += 1
        return len(MART_DEPS), failed


# ---------------------------------------------------------------------------
# fixture_cold
# ---------------------------------------------------------------------------


class FixtureCold:
    """The shared-fixture consumers in a fresh session, so every fixture
    builds cold. Each query is built by calling its builder, then run
    with ``collect`` (results are small); a latency spans builder call to
    action completion. The rows are compared with the oracle after the
    timed region."""

    name = "fixture_cold"
    fresh_session_per_round = True

    def __init__(self, data_dir: str, work_dir: str, seed: int, rows: dict):
        from asritha_metamorphetl_spark import session
        from asritha_metamorphetl_spark.plans import registry

        fns, oracles = registry.all_queries(), registry.all_oracles()
        self.data = data_dir
        self.queries = [
            registry.RegisteredQuery(n, fns[n], oracles[n]) for n in FIXTURE_CONSUMERS
        ]
        self.outputs: dict[str, object] = {}
        self.build_log = session.FIXTURE_BUILD_LOG
        self.last_first_touch_s = 0.0

    def run_round(self, spark, probe: Probe) -> tuple[list[float], int]:
        """One pass; ``last_first_touch_s`` sums the latencies of the
        queries during which a shared fixture was built."""
        lat, failed = [], 0
        self.last_first_touch_s = 0.0
        for q in self.queries:
            before = {k: id(v) for k, v in self.build_log.items()}
            t0 = time.perf_counter()
            try:
                with probe.span(f"plans.build.{q.name}", "plans.build", query=q.name):
                    df = q.fn(spark, self.data)
                with probe.span(f"plans.exec.{q.name}", "plans.exec", query=q.name):
                    self.outputs[q.name] = (df.columns, df.collect())
            except Exception as exc:  # a failed query is counted, not fatal
                print(f"fixture_cold: {q.name} raised {exc!r:.300}", flush=True)
                failed += 1
                continue
            lat.append(time.perf_counter() - t0)
            if any(before.get(k) != id(v) for k, v in self.build_log.items()):
                self.last_first_touch_s += lat[-1]
        return lat, failed

    def after_round(self, spark) -> int:
        return 0

    def check(self, spark, oracle: Oracle) -> tuple[int, int]:
        failed = 0
        for q in self.queries:
            out = self.outputs.get(q.name)
            try:
                ok = out is not None and oracle.rows_match(*out, q.oracle)
            except Exception as exc:
                print(f"fixture_cold: check of {q.name} raised {exc!r:.300}", flush=True)
                ok = False
            if not ok:
                print(f"fixture_cold: {q.name} differs from its oracle", flush=True)
                failed += 1
        return len(self.queries), failed


WORKLOADS = {w.name: w for w in (EtlDaily, FixtureCold)}
