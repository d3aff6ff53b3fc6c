"""Regression tests for sessions built OUTSIDE the engine's factory.

Round-1 driver post-mortem: the correctness driver runs ``queries()`` with
its own SparkSession, which lacks ``spark.sql.legacy.parquet.nanosAsLong``.
Every query touching events.parquet (TIMESTAMP(NANOS)) died at scan time,
and ``register_views`` cascaded that failure into queries that never read
events. These tests simulate a conf-less session by unsetting the conf on
the shared session before calling the engine — the engine must restore it
at the read chokepoint.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.fixture
def bare_conf_spark(spark):
    """The shared session with the engine's nanos conf removed — the same
    state as the driver's own session."""
    spark.conf.unset(NANOS_CONF)
    yield spark
    spark.conf.set(NANOS_CONF, "true")


def test_events_load_without_engine_conf(bare_conf_spark):
    from asritha_metamorphetl_spark.sources.files import Catalog

    df = Catalog(SF_SMOKE).load(bare_conf_spark, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.count() > 0


def test_events_query_without_engine_conf(bare_conf_spark):
    from asritha_metamorphetl_spark.plans.registry import all_queries

    df = all_queries()["events_hourly"](bare_conf_spark, SF_SMOKE)
    assert df.count() >= 0


def test_events_ntz_session_normalized_to_ltz(spark):
    """Round-2 driver post-mortem: the driver's session types timestamps as
    NTZ (spark.sql.timestampType=TIMESTAMP_NTZ), under which events.ts
    surfaces as TIMESTAMP_NTZ even with the nanos conf set, and
    ``unix_micros(lead(ts))`` in user_journeys fails analysis. The catalog
    must normalize NTZ → LTZ so instant-typed functions resolve."""
    from asritha_metamorphetl_spark.plans.registry import all_queries
    from asritha_metamorphetl_spark.sources.files import Catalog

    old = spark.conf.get("spark.sql.timestampType")
    spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
    try:
        df = Catalog(SF_SMOKE).load(spark, "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert all_queries()["user_journeys"](spark, SF_SMOKE).count() > 0
    finally:
        spark.conf.set("spark.sql.timestampType", old)


def test_register_views_subset_skips_unrelated_tables(bare_conf_spark, tmp_path):
    """A catalog whose events file is corrupt must still serve queries that
    never touch events, because registration is narrowed to the subset."""
    import os
    import shutil

    from asritha_metamorphetl_spark.sources.files import Catalog

    root = str(tmp_path / "cat")
    os.makedirs(root)
    for t in ("orders", "region"):
        shutil.copy(os.path.join(SF_SMOKE, f"{t}.parquet"), root)
    (tmp_path / "cat" / "events.parquet").write_bytes(b"not parquet at all")

    Catalog(root).register_views(bare_conf_spark, tables=["orders", "region"])
    assert bare_conf_spark.sql("SELECT COUNT(*) AS n FROM orders").collect()[0].n > 0


def test_register_views_unknown_table_rejected(spark):
    from asritha_metamorphetl_spark.sources.files import Catalog

    with pytest.raises(KeyError):
        Catalog(SF_SMOKE).register_views(spark, tables=["nope"])


def test_sql_api_query_survives_missing_events(bare_conf_spark):
    """sql_api_revenue_by_region only registers the four tables it reads."""
    from asritha_metamorphetl_spark.plans.registry import all_queries

    df = all_queries()["sql_api_revenue_by_region"](bare_conf_spark, SF_SMOKE)
    assert df.count() > 0


def test_merged_conf_wires_cloud_connectors():
    """Cloud-storage deploys must be config-only (the reference ships the
    GCS connector jar + scheme conf in its image): jars/packages land on
    spark.jars*, hadoop filesystem confs get the spark.hadoop. prefix,
    and explicit conf keys still win over everything."""
    from asritha_metamorphetl_spark.session import merged_conf

    out = merged_conf(
        conf={"spark.sql.shuffle.partitions": "64"},
        shuffle_partitions=16,  # loses to the explicit conf above
        jars=["/opt/jars/gcs-connector.jar", "/opt/jars/extra.jar"],
        packages=["org.apache.spark:spark-hadoop-cloud_2.13:4.0.0"],
        hadoop_conf={
            "fs.gs.impl": "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFileSystem",
            "fs.AbstractFileSystem.gs.impl": "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFS",
        },
    )
    assert out["spark.jars"] == "/opt/jars/gcs-connector.jar,/opt/jars/extra.jar"
    assert out["spark.jars.packages"] == "org.apache.spark:spark-hadoop-cloud_2.13:4.0.0"
    assert (
        out["spark.hadoop.fs.gs.impl"]
        == "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFileSystem"
    )
    assert (
        out["spark.hadoop.fs.AbstractFileSystem.gs.impl"]
        == "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFS"
    )
    assert out["spark.sql.shuffle.partitions"] == "64"
    # engine defaults survive the merge
    assert out["spark.sql.adaptive.enabled"] == "true"
    assert (
        out["spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"]
        == "true"
    )


def test_merged_conf_ships_package_path_to_workers():
    """Python workers find the package through executor PYTHONPATH by
    default; an explicit conf value still wins."""
    import os

    import asritha_metamorphetl_spark
    from asritha_metamorphetl_spark.session import merged_conf

    parent = os.path.dirname(
        os.path.dirname(os.path.abspath(asritha_metamorphetl_spark.__file__))
    )
    assert merged_conf()["spark.executorEnv.PYTHONPATH"] == parent
    out = merged_conf(conf={"spark.executorEnv.PYTHONPATH": "/elsewhere"})
    assert out["spark.executorEnv.PYTHONPATH"] == "/elsewhere"


_UDF_IMPORTS_PACKAGE = """
import sys
sys.path.insert(0, {repo!r})  # this process only; workers do not see it
from pyspark.sql import functions as F
from asritha_metamorphetl_spark.session import create_session

spark = create_session(
    master="local[1]", shuffle_partitions=1,
    conf={{"spark.driver.memory": "1g"}},
)


@F.udf("string")
def from_package(x):
    import asritha_metamorphetl_spark.schema as schema

    return schema.__name__


print("ROWS", [r[0] for r in spark.range(2).select(from_package("id")).collect()])
spark.stop()
"""


def test_udf_importing_package_runs_outside_repo_cwd(tmp_path):
    """A UDF that imports the package works from any working directory
    with no PYTHONPATH set: create_session ships the package's parent
    directory to the workers."""
    import os
    import subprocess
    import sys

    from tests.conftest import REPO_ROOT

    script = tmp_path / "udf_probe.py"
    script.write_text(_UDF_IMPORTS_PACKAGE.format(repo=REPO_ROOT))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert (
        "ROWS ['asritha_metamorphetl_spark.schema', "
        "'asritha_metamorphetl_spark.schema']" in proc.stdout
    )


def test_create_session_applies_merged_conf(spark):
    """getOrCreate on a live session still routes every merged key
    through the builder (existing-session case: keys that are modifiable
    at runtime take effect; the call must not raise)."""
    from asritha_metamorphetl_spark.session import create_session

    s = create_session(shuffle_partitions=32)
    assert s is not None
