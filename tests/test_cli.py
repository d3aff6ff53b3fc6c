"""CLI adapter: list/explain/oracle against the active test session."""

from __future__ import annotations

import pytest

from asritha_metamorphetl_spark.__main__ import main
from tests.conftest import SF_CORRECT


def test_cli_list_names_every_registered_query(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    from asritha_metamorphetl_spark.plans.registry import all_queries

    for name in all_queries():
        assert name in out


def test_cli_explain_prints_physical_plan(spark, capsys):
    assert main(["explain", "pricing_summary", "--sf-dir", SF_CORRECT]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "HashAggregate" in out


def test_cli_oracle_verdict_green(spark, tmp_path, capsys):
    """An sf directory that lacks some tables (here documents and
    embeddings) still oracle-checks the queries that do not read them."""
    import os

    from asritha_metamorphetl_spark.sources.files import TESTDATA_TABLES

    for t in set(TESTDATA_TABLES) - {"documents", "embeddings"}:
        os.symlink(f"{SF_CORRECT}/{t}.parquet", tmp_path / f"{t}.parquet")
    assert main(["oracle", "pricing_summary", "--sf-dir", str(tmp_path)]) == 0
    assert "hash=True" in capsys.readouterr().out


def test_cli_unknown_query_suggests_names(spark):
    with pytest.raises(SystemExit, match="unknown query"):
        main(["run", "pricing", "--sf-dir", SF_CORRECT])


def test_cli_table_maintenance_dispatches_bucketed(spark, tmp_path, capsys):
    """table versions/prune/vacuum must route through open_table so a
    bucketed root gets the leaf-granular vacuum (the plain one would
    reclaim live commit dirs)."""
    from pyspark.sql import Row

    from asritha_metamorphetl_spark.__main__ import main
    from asritha_metamorphetl_spark.sources.bucketed import (
        BucketedCdcTable,
        open_table,
    )

    root = str(tmp_path / "tbl")
    t = BucketedCdcTable(spark, root, keys=["k"], n_buckets=4)
    t.merge_delta(
        spark.createDataFrame(
            [Row(k=1, val="a", op="U", seq=1), Row(k=2, val="b", op="U", seq=2)],
            "k int, val string, op string, seq int",
        )
    )
    t.merge_delta(
        spark.createDataFrame(
            [Row(k=1, val="z", op="U", seq=9)],
            "k int, val string, op string, seq int",
        )
    )
    assert isinstance(open_table(spark, root), BucketedCdcTable)

    assert main(["table", "versions", root, "--master", "local[2]"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out == ["1", "2"]

    assert main(["table", "prune", root, "--keep-last", "1",
                 "--master", "local[2]"]) == 0
    assert main(["table", "vacuum", root, "--master", "local[2]"]) == 0
    # live data must survive the vacuum
    assert sorted(r.k for r in t.read().collect()) == [1, 2]
