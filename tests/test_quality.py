"""Reconcile + assert_unique operator tests (SURVEY §5 plan, items 4-5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def base(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", None)],
        "id int, name string, amount double",
    )


def test_assert_unique_passes(base):
    from asritha_metamorphetl_spark.quality import assert_unique

    assert assert_unique(base, ["id"]) is base


def test_assert_unique_raises(spark, base):
    from asritha_metamorphetl_spark.quality import DuplicateKeyError, assert_unique

    dup = base.union(spark.createDataFrame([(2, "x", 0.0)], base.schema))
    with pytest.raises(DuplicateKeyError) as e:
        assert_unique(dup, ["id"])
    assert e.value.n_dupes == 1
    assert e.value.sample[0]["id"] == 2


def test_reconcile_identical(spark, base):
    from asritha_metamorphetl_spark.quality import reconcile

    r = reconcile(base, base, ["id"])
    s = r.summary.collect()[0]
    assert s.source_rows == 4 and s.target_rows == 4
    assert s.matched_rows == 4 and s.mismatched_rows == 0
    assert s.source_only_rows == 0 and s.target_only_rows == 0
    assert r.column_mismatches.count() == 0
    r.unpersist()


def test_reconcile_single_cell_perturbation(spark, base):
    from asritha_metamorphetl_spark.quality import reconcile

    target = base.withColumn(
        "amount", F.when(F.col("id") == 2, 99.0).otherwise(F.col("amount"))
    )
    r = reconcile(base, target, ["id"])
    s = r.summary.collect()[0]
    assert s.mismatched_rows == 1
    cm = r.column_mismatches.collect()
    assert len(cm) == 1
    assert cm[0].column_name == "amount"
    assert cm[0].source_value == "20.0" and cm[0].target_value == "99.0"
    assert s.mismatch_pct == 25.0
    r.unpersist()


def test_reconcile_missing_rows_both_sides(spark, base):
    from asritha_metamorphetl_spark.quality import reconcile

    target = base.filter("id != 3").union(
        spark.createDataFrame([(9, "z", 9.0)], base.schema)
    )
    r = reconcile(base, target, ["id"])
    s = r.summary.collect()[0]
    assert s.source_only_rows == 1 and s.target_only_rows == 1
    assert [row.id for row in r.source_only.collect()] == [3]
    assert [row.id for row in r.target_only.collect()] == [9]
    r.unpersist()


def test_reconcile_null_vs_empty(spark):
    from asritha_metamorphetl_spark.quality import reconcile

    src = spark.createDataFrame([(1, None)], "id int, v string")
    tgt = spark.createDataFrame([(1, "")], "id int, v string")
    # Reference semantics: NULL == '' (Raptor na.fill('')).
    lax = reconcile(src, tgt, ["id"])
    assert lax.summary.collect()[0].matched_rows == 1
    lax.unpersist()
    strict = reconcile(src, tgt, ["id"], strict_nulls=True)
    assert strict.summary.collect()[0].mismatched_rows == 1
    strict.unpersist()


def test_column_mismatch_summary(spark, base):
    from asritha_metamorphetl_spark.quality import reconcile
    from asritha_metamorphetl_spark.quality.reconcile import column_mismatch_summary

    target = base.withColumn(
        "name", F.when(F.col("id") <= 2, "zz").otherwise(F.col("name"))
    )
    r = reconcile(base, target, ["id"])
    rows = column_mismatch_summary(r).collect()
    assert len(rows) == 1
    assert rows[0].column_name == "name"
    assert rows[0].mismatch_count == 2
    assert rows[0].mismatch_pct == 50.0
    r.unpersist()


def test_submit_reconciliation_end_to_end(spark, tmp_path):
    """D7: dispatcher-fed sides -> reconcile -> dated artifacts -> report
    delivered through the injected sender (no SMTP, reference K4)."""
    import datetime

    from asritha_metamorphetl_spark.quality import (
        ReconcileRequest,
        submit_reconciliation,
    )

    src = tmp_path / "src.parquet"
    tgt = tmp_path / "tgt.parquet"
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id int, v string, amt double"
    ).write.parquet(str(src))
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 20.0), (4, "d", 40.0)], "id int, v string, amt double"
    ).write.parquet(str(tgt))

    sent = []
    run = submit_reconciliation(
        spark,
        ReconcileRequest(
            source={"type": "parquet", "path": str(src)},
            target={"type": "parquet", "path": str(tgt)},
            keys=["id"],
            artifact_root=str(tmp_path / "artifacts"),
            title="orders recon",
            run_date=datetime.date(2026, 8, 13),
        ),
        sender=lambda subject, body: sent.append((subject, body)),
    )

    s = run.result.summary.collect()[0]
    assert (s.mismatched_rows, s.source_only_rows, s.target_only_rows) == (1, 1, 1)
    cs = {r.column_name: r.mismatch_count for r in run.column_summary.collect()}
    assert cs == {"v": 1}

    # dated artifact layout (reference K3 gs://raptor-workflow/{YYYYMMDD}/...)
    assert set(run.artifact_paths) == {
        "summary", "column_mismatches", "source_only", "target_only",
    }
    for name, path in run.artifact_paths.items():
        assert "/20260813/" in path
        assert spark.read.parquet(path).count() >= 1 or name == "summary"
    assert spark.read.parquet(run.artifact_paths["source_only"]).collect()[0].id == 3

    # report delivery: injected sender got the rendered HTML
    assert len(sent) == 1 and sent[0][0] == "orders recon"
    assert "<h3>Summary</h3>" in sent[0][1] and "orders recon" in sent[0][1]
    assert run.html == sent[0][1]
    run.unpersist()


def test_persisted_diff_is_sized_by_aqe(spark, tmp_path):
    """The persisted diff is coalesced to its size, not kept at
    spark.sql.shuffle.partitions: a small diff reads back as few tasks
    and each artifact is written as one part file."""
    import datetime
    import os

    from asritha_metamorphetl_spark.quality import (
        ReconcileRequest,
        submit_reconciliation,
    )

    src = spark.range(1000).select(
        F.col("id").cast("int").alias("id"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("v"),
    )
    src.write.parquet(str(tmp_path / "src"))
    # every key perturbed: 1000 mismatched rows
    src.withColumn("v", F.concat("v", F.lit("x"))).write.parquet(
        str(tmp_path / "tgt")
    )
    run = submit_reconciliation(
        spark,
        ReconcileRequest(
            source={"type": "parquet", "path": str(tmp_path / "src")},
            target={"type": "parquet", "path": str(tmp_path / "tgt")},
            keys=["id"],
            artifact_root=str(tmp_path / "artifacts"),
            run_date=datetime.date(2026, 8, 13),
        ),
    )
    assert run.result.summary.collect()[0].mismatched_rows == 1000
    shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert run.result.diff.rdd.getNumPartitions() < shuffle_partitions
    parts = [
        f for f in os.listdir(run.artifact_paths["column_mismatches"])
        if f.startswith("part-")
    ]
    assert len(parts) == 1, parts
    run.unpersist()


def test_embedding_near_dup_pairs_blocked_vs_unblocked(spark):
    """Blocked pair generation must equal the all-pairs result when the
    block key is constant, and never cross blocks otherwise."""
    from asritha_metamorphetl_spark.operators.dedup import embedding_near_dup_pairs

    rows = [
        (1, [1.0, 0.0], "x"),
        (2, [0.9, 0.1], "x"),
        (3, [0.0, 1.0], "y"),
        (4, [0.1, 0.9], "y"),
    ]
    df = spark.createDataFrame(rows, "id int, v array<float>, blk string")

    blocked = embedding_near_dup_pairs(df, "id", "v", block_col="blk", threshold=0.9)
    got = {(r.id_a, r.id_b) for r in blocked.collect()}
    assert got == {(1, 2), (3, 4)}  # in-block only, both above 0.9

    allpairs = embedding_near_dup_pairs(df, "id", "v", threshold=0.9)
    got_all = {(r.id_a, r.id_b) for r in allpairs.collect()}
    assert got == got_all  # cross-block pairs are below threshold anyway
