"""Every registered query must match its DuckDB oracle under the driver's
comparison (``quality.oracle``: row count, column names, and an
order-insensitive sha256 over normalized cells of the collected rows).
This is the umbrella correctness gate — any new @register'd query is
automatically picked up; a query without an oracle is only collected."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest

from asritha_metamorphetl_spark.quality.oracle import diff_sample, oracle_rows, verdict
from tests.conftest import SF_CORRECT


def _names():
    from asritha_metamorphetl_spark.plans.registry import all_queries

    return sorted(all_queries())


@pytest.mark.parametrize("name", _names())
def test_query_matches_oracle(name, spark, duck):
    from asritha_metamorphetl_spark.plans.registry import all_oracles, all_queries

    sql = all_oracles().get(name)
    with ThreadPoolExecutor(1) as pool:
        # DuckDB answers the oracle while Spark builds and collects.
        want = pool.submit(oracle_rows, duck, sql) if sql else None
        df = all_queries()[name](spark, SF_CORRECT)
        rows = df.collect()
    if want is None:
        return  # rows-only: non-SQL-expressible ops are only collected
    rec = verdict(df.columns, rows, *want.result())
    assert rec["hash_match"], (
        f"{name}: {rec}\n{diff_sample(df.columns, rows, duck, sql)}"
    )


def test_query_priority_names_all_exist():
    """Every QUERY_PRIORITY name must be a registered query — a typo here
    would silently demote a query out of the driver's checked window."""
    from asritha_metamorphetl_spark.plans.registry import (
        QUERY_PRIORITY,
        all_queries,
    )

    registered = set(all_queries())
    missing = [n for n in QUERY_PRIORITY if n not in registered]
    assert not missing, f"priority names not registered: {missing}"
    assert len(set(QUERY_PRIORITY)) == len(QUERY_PRIORITY), "duplicates"
    # the driver-checked window is exactly the priority front
    assert list(all_queries())[: len(QUERY_PRIORITY)] == list(QUERY_PRIORITY)


def test_every_registered_query_is_in_priority_list():
    """The converse of the existence pin: _ordered() appends unlisted
    registered queries silently, so a forgotten new query would hide
    behind the window boundary without this assertion."""
    from asritha_metamorphetl_spark.plans.registry import (
        QUERY_PRIORITY,
        all_queries,
    )

    unlisted = [n for n in all_queries() if n not in set(QUERY_PRIORITY)]
    assert not unlisted, f"registered but not in QUERY_PRIORITY: {unlisted}"
