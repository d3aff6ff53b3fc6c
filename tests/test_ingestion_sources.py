"""Connector + ingestion tests: REST source against a live local HTTP
server, CSV feeds through the contract pipeline, drift detection, dual
write, JDBC option construction."""

from __future__ import annotations

import datetime
import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pyspark.sql.functions as F
import pytest

RECORDS = [
    {"SUPPLIER_ID": "S0001", "SUPPLIER_NAME": "Acme", "CONTACT_DETAILS": "x", "REGION": "East"},
    {"SUPPLIER_ID": "S0002", "SUPPLIER_NAME": "Globex", "CONTACT_DETAILS": "y", "REGION": "West"},
]


@pytest.fixture(scope="module")
def api_server():
    """Tiny HTTP server mimicking the reference API envelope + token flow
    (Rest-API/main.py:66-98)."""

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_POST(self):
            if self.path == "/token":
                body = json.dumps({"access_token": "tok123", "token_type": "bearer"})
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(body.encode())

        def do_GET(self):
            if self.path.startswith("/v1/suppliers"):
                auth_required = "secure" in self.path
                if auth_required and self.headers.get("Authorization") != "Bearer tok123":
                    self.send_response(401)
                    self.end_headers()
                    return
                body = json.dumps({"status": 200, "data": RECORDS})
            elif self.path.startswith("/page/"):
                page = int(self.path.rsplit("/", 1)[-1])
                body = json.dumps(
                    {"status": 200, "data": [
                        {"SUPPLIER_ID": f"P{page}-{i}", "SUPPLIER_NAME": f"n{i}",
                         "CONTACT_DETAILS": "", "REGION": "East"}
                        for i in range(3)
                    ]}
                )
            else:
                self.send_response(404)
                self.end_headers()
                return
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(body.encode())

    server = HTTPServer(("127.0.0.1", 0), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    yield f"http://127.0.0.1:{server.server_port}"
    server.shutdown()


def test_read_api_with_schema(spark, api_server):
    from asritha_metamorphetl_spark.schema import SUPPLIERS
    from asritha_metamorphetl_spark.sources.rest import read_api

    df = read_api(spark, f"{api_server}/v1/suppliers", SUPPLIERS)
    assert df.schema == SUPPLIERS
    assert {r.SUPPLIER_ID for r in df.collect()} == {"S0001", "S0002"}


def test_read_api_bearer_token_flow(spark, api_server):
    from asritha_metamorphetl_spark.schema import SUPPLIERS
    from asritha_metamorphetl_spark.sources.rest import fetch_token, read_api

    # without a token the secure endpoint rejects
    import urllib.error

    with pytest.raises(urllib.error.HTTPError):
        read_api(spark, f"{api_server}/v1/suppliers_secure", SUPPLIERS)

    token = fetch_token(f"{api_server}/token", "user", "pass")
    assert token == "tok123"
    df = read_api(
        spark, f"{api_server}/v1/suppliers_secure", SUPPLIERS,
        token_provider=lambda: token,
    )
    assert df.count() == 2


def test_read_api_paged_distributed(spark, api_server):
    from asritha_metamorphetl_spark.schema import SUPPLIERS
    from asritha_metamorphetl_spark.sources.rest import read_api_paged

    df = read_api_paged(
        spark, lambda p: f"{api_server}/page/{p}", n_pages=4, schema=SUPPLIERS
    )
    rows = df.collect()
    assert len(rows) == 12  # 4 pages × 3 records
    assert {r.SUPPLIER_ID for r in rows} >= {"P0-0", "P3-2"}


def test_csv_ingestion_end_to_end(spark, tmp_path):
    """Positional CSV feed → contract → dup-check → raw/legacy dual write
    with a real DAY_DT partition layout."""
    from asritha_metamorphetl_spark.pipelines.ingestion import Warehouse, ingest_entity
    from asritha_metamorphetl_spark.schema import PRIMARY_KEYS, SUPPLIERS
    from asritha_metamorphetl_spark.sources.files import read_csv

    feed_path = tmp_path / "suppliers.csv"
    feed_path.write_text(
        "supplier_id,supplier_name,contact,region\n"
        "S1,Alpha,111,East\nS2,Beta,222,West\nS3,Gamma,333,East\n"
    )
    feed = read_csv(spark, str(feed_path))
    wh = Warehouse(str(tmp_path / "wh"))
    out = ingest_entity(
        feed, wh, "suppliers", SUPPLIERS, PRIMARY_KEYS["suppliers"],
        column_names=["SUPPLIER_ID", "SUPPLIER_NAME", "CONTACT_DETAILS", "REGION"],
        day=datetime.date(2026, 8, 13),
    )
    assert spark.read.parquet(wh.raw_path("suppliers")).count() == 3
    legacy = spark.read.parquet(wh.legacy_path("suppliers"))
    assert legacy.count() == 3
    assert legacy.select("DAY_DT").distinct().collect()[0][0] == datetime.date(2026, 8, 13)
    # partition pruning: DAY_DT filter must hit PartitionFilters
    plan = (
        legacy.filter(F.col("DAY_DT") == "2026-08-13")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [" in plan and "DAY_DT" in plan.split("PartitionFilters")[1][:200]
    out.unpersist()


def test_ingest_writes_join_the_callers_job_group(spark, tmp_path):
    """The raw and legacy writes run on ingest_entity's own pool; they
    inherit the calling thread's job group (Pipeline's node name), so
    none of the ingest's jobs is left without a group."""
    from asritha_metamorphetl_spark.pipelines.ingestion import Warehouse, ingest_entity
    from asritha_metamorphetl_spark.schema import PRIMARY_KEYS, SUPPLIERS

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    feed = spark.createDataFrame(
        [("S1", "A", "1", "East"), ("S2", "B", "2", "West")], SUPPLIERS
    )
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("g", "ingest job-group probe")
    try:
        out = ingest_entity(
            feed, Warehouse(str(tmp_path / "wh")), "suppliers",
            SUPPLIERS, PRIMARY_KEYS["suppliers"],
            day=datetime.date(2026, 8, 13),
        )
    finally:
        sc._jsc.clearJobGroup()
    grouped = tracker.getJobIdsForGroup("g")
    write_jobs = [
        j for j in grouped
        if any(
            tracker.getStageInfo(s).name.startswith("parquet at")
            for s in tracker.getJobInfo(j).stageIds
        )
    ]
    assert len(write_jobs) == 2, grouped
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped_before
    out.unpersist()


def test_ingestion_rejects_duplicate_pk(spark, tmp_path):
    from asritha_metamorphetl_spark.pipelines.ingestion import Warehouse, ingest_entity
    from asritha_metamorphetl_spark.quality import DuplicateKeyError
    from asritha_metamorphetl_spark.schema import PRIMARY_KEYS, SUPPLIERS

    feed = spark.createDataFrame(
        [("S1", "A", "1", "East"), ("S1", "B", "2", "West")], SUPPLIERS
    )
    with pytest.raises(DuplicateKeyError):
        ingest_entity(
            feed, Warehouse(str(tmp_path / "wh")), "suppliers",
            SUPPLIERS, PRIMARY_KEYS["suppliers"],
        )


def test_schema_drift_raises(spark):
    from asritha_metamorphetl_spark.schema import SchemaDriftError, rename_positional

    feed = spark.createDataFrame([(1, 2)], "a int, b int")
    with pytest.raises(SchemaDriftError) as e:
        rename_positional(feed, ["X", "Y", "Z"])
    assert "contract expects 3" in str(e.value)


def test_jdbc_option_construction():
    from asritha_metamorphetl_spark.sources.jdbc import JdbcConfig, pushdown_subquery

    cfg = JdbcConfig(url="jdbc:postgresql://h:5432/db", user="u", password="p")
    props = cfg.properties()
    assert props["driver"] == "org.postgresql.Driver"
    assert pushdown_subquery("SELECT 1") == "(SELECT 1) AS pushdown_query"


def test_source_dispatcher(spark, tmp_path):
    from asritha_metamorphetl_spark.sources.registry import read

    df = spark.createDataFrame([(1, "a")], "id int, v string")
    df.write.parquet(str(tmp_path / "t.parquet"))
    out = read(spark, "parquet", path=str(tmp_path / "t.parquet"))
    assert out.collect() == df.collect()

    import pytest as _pytest

    with _pytest.raises(KeyError, match="unknown source type"):
        read(spark, "carrier_pigeon")

    sql_out = read(
        spark, "sql",
        query="SELECT count(*) AS n FROM orders",
        catalog_root="/root/testdata/sf0.001",
    )
    assert sql_out.collect()[0].n > 0


def test_catalog_stream_normalizes_events(spark, tmp_path):
    from asritha_metamorphetl_spark.sources.files import Catalog

    cat = Catalog("/root/testdata/sf0.001")
    stream = cat.stream(spark, "events")
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory").queryName("cat_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable(); q.stop()
    got = spark.table("cat_stream")
    assert dict(got.dtypes)["ts"] == "timestamp"
    assert got.count() == cat.load(spark, "events").count()


def test_jdbc_bootstrap_ddl_ordering(spark):
    """K2: pre-DDL runs before the write, in order, through the injected
    executor (no live database in this container)."""
    from asritha_metamorphetl_spark.sources.jdbc import (
        JdbcConfig,
        write_table_with_bootstrap,
    )

    events = []
    df = spark.createDataFrame([(1,)], "id int")
    cfg = JdbcConfig(url="jdbc:postgresql://db/x", user="u", password="p")
    try:
        write_table_with_bootstrap(
            df, cfg, "work.t",
            pre_ddl=["CREATE SCHEMA IF NOT EXISTS work", "COMMENT ON SCHEMA work IS 'x'"],
            executor=lambda stmt: events.append(stmt),
        )
    except Exception:
        pass  # the JDBC write itself fails without a database — expected
    assert events == [
        "CREATE SCHEMA IF NOT EXISTS work",
        "COMMENT ON SCHEMA work IS 'x'",
    ]


def test_jsonl_source(spark, tmp_path):
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from asritha_metamorphetl_spark.sources.files import read_jsonl
    from asritha_metamorphetl_spark.sources.registry import read

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"id": 1, "name": "a", "qty": 3}\n'
        '{"id": 2, "name": "b", "qty": null}\n'
        '{"id": 3, "name": "c"}\n'
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("qty", LongType()),
        ]
    )
    df = read_jsonl(spark, str(p), schema=schema)
    assert df.schema == schema  # explicit contract, no inference pass
    rows = {r.id: r for r in df.collect()}
    assert len(rows) == 3
    assert rows[1].qty == 3 and rows[2].qty is None and rows[3].qty is None
    # dispatcher route
    via_registry = read(spark, "jsonl", path=str(p), schema=schema)
    assert via_registry.collect() == df.collect()


def test_csv_quarantine_routes_malformed_rows(spark, tmp_path):
    """Dead-letter channel: bad rows land in quarantine with their raw
    line; good rows flow on with exactly the contract columns."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from asritha_metamorphetl_spark.sources.files import read_csv_quarantine

    p = tmp_path / "feed.csv"
    p.write_text(
        "id,name,qty\n"
        "1,alpha,10\n"
        "2,beta,not_a_number\n"  # type violation -> quarantine
        "3,gamma,30\n"
    )
    schema = StructType(
        [
            StructField("id", IntegerType()),
            StructField("name", StringType()),
            StructField("qty", IntegerType()),
        ]
    )
    good, bad = read_csv_quarantine(spark, str(p), schema)
    assert len(schema.fields) == 3  # caller's contract object not mutated
    assert good.columns == ["id", "name", "qty"]
    assert sorted(r.id for r in good.collect()) == [1, 3]
    bad_rows = [r._corrupt_record for r in bad.collect()]
    assert bad_rows == ["2,beta,not_a_number"]


def test_csv_quarantine_all_good_feed_is_empty_quarantine(spark, tmp_path):
    from pyspark.sql.types import IntegerType, StructField, StructType

    from asritha_metamorphetl_spark.sources.files import read_csv_quarantine

    p = tmp_path / "clean.csv"
    p.write_text("a,b\n1,2\n3,4\n")
    schema = StructType(
        [StructField("a", IntegerType()), StructField("b", IntegerType())]
    )
    good, bad = read_csv_quarantine(spark, str(p), schema)
    assert good.count() == 2 and bad.count() == 0


def test_csv_quarantine_unpersist_releases_the_cached_parse(spark, tmp_path):
    """good/bad are children of one cached parse; result.unpersist()
    must release it (unpersisting the children would be a no-op)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from asritha_metamorphetl_spark.sources.files import read_csv_quarantine

    p = tmp_path / "cached.csv"
    p.write_text("a\n1\n2\n")
    schema = StructType([StructField("a", IntegerType())])
    result = read_csv_quarantine(spark, str(p), schema)
    good, bad = result  # tuple-unpacking compatibility
    assert good.count() == 2 and bad.count() == 0
    assert result.parsed.storageLevel.useMemory
    result.unpersist()
    assert not result.parsed.storageLevel.useMemory
