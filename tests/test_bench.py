"""bench.py, the measurement core the timing tools share, and the
SCALING.md table writer of tools/scaling_check.py."""

from __future__ import annotations

import os
import shutil

import pytest

import bench
from asritha_metamorphetl_spark import session as session_mod
from asritha_metamorphetl_spark.plans.registry import all_queries
from tests.conftest import SF_SMOKE

CHEAP = ("pricing_summary", "top5_orders")


def test_measure_splits_build_and_exec(spark):
    qs = all_queries()
    runs, failed = bench.measure(spark, {q: qs[q] for q in CHEAP}, SF_SMOKE)
    assert failed == []
    assert list(runs) == list(CHEAP)
    for build, exec_ in runs.values():
        assert build >= 0 and exec_ > 0
    rec = bench._full_record(runs, failed, {}, 0.001)
    for q in CHEAP:
        phase = rec["phases"][q]
        assert phase["build_s"] + phase["exec_s"] == pytest.approx(
            rec["queries"][q], abs=1e-9
        )
    assert rec["value"] == round(sum(map(sum, runs.values())), 3)
    plan = bench.plan_text(qs["pricing_summary"](spark, SF_SMOKE))
    assert "== Physical Plan ==" in plan


def test_failed_query_is_listed_and_the_loop_carries_on(spark):
    consumers = []

    def boom(spark, sf_dir):
        consumers.append(session_mod.CURRENT_CONSUMER)
        raise RuntimeError("boom")

    qs = {"boom": boom, "pricing_summary": all_queries()["pricing_summary"]}
    runs, failed = bench.measure(spark, qs, SF_SMOKE)
    assert failed == ["boom"]
    assert list(runs) == ["pricing_summary"]
    assert consumers == ["boom", "boom"]  # the warm-up, then the timed run
    assert session_mod.CURRENT_CONSUMER is None


def test_scaling_table_rewrite_keeps_the_prose(tmp_path):
    from tools import scaling_check as sc

    src = os.path.join(bench.REPO_ROOT, "SCALING.md")
    path = str(tmp_path / "SCALING.md")
    shutil.copy(src, path)
    fake = {name: {"0.001": 0.5, "0.01": 1.0, "0.1": 4.0} for name, _ in sc.QUERIES}
    sc.write_table(path, fake)

    with open(src, "rb") as fh:
        before = fh.read().splitlines(keepends=True)
    with open(path, "rb") as fh:
        after = fh.read().splitlines(keepends=True)
    head = before.index(sc.TABLE_HEAD.encode() + b"\n")
    assert after[:head] == before[:head]
    assert after[head] == before[head]
    rows = after[head + 2 :]
    assert rows == [
        f"| {name} | {shape} | 0.50s | 1.00s | 4.00s | 2.0 | 4.0 |\n".encode()
        for name, shape in sc.QUERIES
    ]
    assert sc._prior_times(path) == fake

    # an --only run re-writes the rows it did not measure from the
    # table itself: the committed file round-trips byte for byte
    shutil.copy(src, path)
    sc.write_table(path, sc._prior_times(path))
    with open(path, "rb") as fh:
        assert fh.read() == b"".join(before)
