"""Unit tests for the oracle comparison (``quality.oracle``): DuckDB only,
no Spark job."""

from __future__ import annotations

import datetime
import decimal
import importlib.util
import os

import duckdb
import pytest

from asritha_metamorphetl_spark.quality.oracle import (
    compare,
    diff_sample,
    hash_rows,
    register_views,
)
from tests.conftest import REPO_ROOT, SF_SMOKE

INF, D = float("inf"), decimal.Decimal

# case: (cols, collected rows, oracle SQL, verdict)
CASES = {
    "duckdb_date_vs_python_date": (
        ["d"], [(datetime.date(2024, 1, 1),)], "SELECT DATE '2024-01-01' AS d", True),
    "null_vs_nan": (["x"], [(None,)], "SELECT 'NaN'::DOUBLE AS x", False),
    "nan_vs_null": (["x"], [(float("nan"),)], "SELECT NULL::DOUBLE AS x", False),
    "signed_infinities": (
        ["x"], [(INF,), (-INF,)],
        "SELECT * FROM (VALUES ('-inf'::DOUBLE), ('inf'::DOUBLE)) t(x)", True),
    "inf_vs_minus_inf": (["x"], [(INF,)], "SELECT '-inf'::DOUBLE AS x", False),
    "decimal_vs_float": (
        ["x"], [(D("1.50"),), (D("0.1234567891"),)],
        "SELECT * FROM (VALUES (1.5::DOUBLE), (0.1234567891::DOUBLE)) t(x)", True),
    "float_rounded_to_9_places": (["x"], [(0.1 + 0.2,)], "SELECT 0.3::DOUBLE AS x", True),
    "nested_list_and_dict": (
        ["l", "s"], [([1, None, 3], {"b": "y", "a": 1})],
        "SELECT [1, NULL, 3] AS l, {'a': 1, 'b': 'y'} AS s", True),
    "bytes": (["b"], [(bytearray(b"\x01\xff"),)], r"SELECT '\x01\xFF'::BLOB AS b", True),
    "column_and_row_order": (
        ["b", "a"], [(2, 1), (4, 3)], "SELECT * FROM (VALUES (3, 4), (1, 2)) t(a, b)", True),
    "value_mismatch": (
        ["k", "v"], [(1, "x"), (2, "y")],
        "SELECT * FROM (VALUES (1, 'x'), (2, 'z')) t(k, v)", False),
}


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    yield c
    c.close()


@pytest.mark.parametrize("case", list(CASES))
def test_compare_semantics(con, case):
    cols, rows, sql, want = CASES[case]
    rec = compare(cols, rows, con, sql)
    assert rec["hash_match"] is want, (rec, diff_sample(cols, rows, con, sql))
    assert rec["rows_match"] and rec["schema_match"] and rec["err"] is None


def test_diff_sample_names_the_differing_rows(con):
    cols, rows, sql, _ = CASES["value_mismatch"]
    lines = diff_sample(cols, rows, con, sql).splitlines()
    assert lines[2:] == ["  spark: 2 | y", "  oracle: 2 | z"]
    sql = "SELECT range + 100 AS k FROM range(9)"
    lines = diff_sample(["k"], [(i,) for i in range(9)], con, sql).splitlines()
    assert len(lines) == 2 + 3 + 3  # counts, columns, 3 lines per side


def test_compare_record_fields(con):
    assert compare(["k"], [(1,), (2,)], con, "SELECT 1 AS k") == {
        "rows_match": False, "schema_match": True, "hash_match": False,
        "spark_rows": 2, "oracle_rows": 1, "err": None,
    }
    rec = compare(["k"], [(1,)], con, "SELECT 1 AS j")
    assert (rec["schema_match"], rec["hash_match"]) == (False, False)
    rec = compare(["k"], [(1,)], con, None)
    assert rec["err"] == "no_oracle" and rec["spark_rows"] == 1
    rec = compare(["k"], [(1,)], con, "SELECT * FROM no_such_table")
    assert rec["err"].startswith("ORACLE: ") and rec["hash_match"] is None


def test_register_views_skips_missing_tables(tmp_path):
    os.symlink(os.path.join(SF_SMOKE, "region.parquet"), tmp_path / "region.parquet")
    c = register_views(duckdb.connect(), str(tmp_path))
    assert c.execute("SELECT count(*) FROM region").fetchone()[0] > 0
    with pytest.raises(duckdb.CatalogException):
        c.execute("SELECT * FROM nation")


# A fixed row table and its digest, computed with the harness's hash
# before it moved into quality.oracle. The benchmark loads that hash by
# file path from tools/check_correctness.py, so drift in the
# normalization or a broken load fails here.
GOLDEN_COLS = ["z_id", "a_val", "m_nested"]
GOLDEN_ROWS = [
    (1, None, [1, None]),
    (2, float("nan"), {"b": 2.5, "a": [b"\x01\xff"]}),
    (3, INF, ()),
    (4, -INF, {"k": datetime.date(2024, 1, 1)}),
    (5, 0.1 + 0.2, [True, False]),
    (6, 1e20, "café"),
    (7, D("1.50"), datetime.datetime(2024, 1, 1, 10, 0, 0, 5)),
    (8, D("0.1234567891"), bytearray(b"ab")),
    (9, -3.0, datetime.date(1999, 12, 31)),
    (10, D("NaN"), D("-Infinity")),
]
GOLDEN = "2fc9579ec2f8fa8f605c3e6d09122efa9035d8859ee0260aa145c3bea0bd688a"


def test_hash_rows_is_pinned(monkeypatch):
    assert hash_rows(GOLDEN_COLS, GOLDEN_ROWS) == GOLDEN
    bench = os.path.join(REPO_ROOT, "etlbench")
    monkeypatch.syspath_prepend(bench)  # workloads imports datagen
    spec = importlib.util.spec_from_file_location(
        "etlbench_workloads", os.path.join(bench, "workloads.py")
    )
    workloads = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(workloads)
    assert workloads._oracle_hash()(GOLDEN_COLS, GOLDEN_ROWS) == GOLDEN
