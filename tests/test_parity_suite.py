"""Machinery tests for the concurrent streaming-parity fixture suite
(round 12, VERDICT r11 directive #1; round 13, VERDICT r12 #5) and the
fixture-build attribution log — the orchestration contracts the oracle
hashes cannot see:

- the suite's low shuffle-partition knob is scoped to a PRIVATE build
  session: the caller's session conf is never mutated, so a concurrent
  non-suite query observes the session's own partition count mid-build;
- only the REQUESTED family's failure propagates (fault isolation),
  and a failed family's build is memoized per session so later suite
  entries re-raise cheaply instead of rebuilding it per consumer;
- a failed build leaves no ``_FIXTURE_READY`` marker, so the next
  consumer (in a FRESH session — the memo is applicationId-keyed)
  retries it;
- ``cached_fixture`` records build seconds + the consumer that
  triggered the build in ``FIXTURE_BUILD_LOG`` under the
  ``<label>@<sf_tag>`` key bench.py emits as ``fixture_builds``.
"""

from __future__ import annotations

import os
import threading

import pytest

#: Every family-builder attribute _parity_suite dispatches to.
_FAMILY_FNS = (
    "_docs_trilogy_fixture",
    "_events_lastvalue_fixture",
    "_gram_state_fixture",
    "_hll_state_fixture",
    "_mor_stream_fixture",
    "_cdc_stream_fixture",
    "_latebatch_state_fixture",
    "_wmdrop_state_fixture",
)


def test_cached_fixture_logs_build_attribution(spark, tmp_path):
    from asritha_metamorphetl_spark import session as sm

    label = "attr_probe"
    sm.FIXTURE_BUILD_LOG.pop(f"{label}@sf9.9", None)
    saved = sm.CURRENT_CONSUMER
    sm.CURRENT_CONSUMER = "some_query"
    try:
        def build(root: str) -> None:
            os.makedirs(root, exist_ok=True)
            with open(os.path.join(root, "x"), "w") as fh:
                fh.write("1")

        root = sm.cached_fixture(spark, label, "/x/sf9.9", build)
        assert os.path.exists(os.path.join(root, "_FIXTURE_READY"))
        rec = sm.FIXTURE_BUILD_LOG[f"{label}@sf9.9"]
        assert rec["charged_to"] == "some_query"
        assert rec["seconds"] >= 0
        # second call: marker hit, no rebuild, no re-log
        sm.CURRENT_CONSUMER = "other_query"
        sm.cached_fixture(spark, label, "/x/sf9.9", build)
        assert sm.FIXTURE_BUILD_LOG[f"{label}@sf9.9"]["charged_to"] == (
            "some_query"
        )
    finally:
        sm.CURRENT_CONSUMER = saved


def test_cached_fixture_failed_build_leaves_no_marker(spark):
    from asritha_metamorphetl_spark import session as sm

    calls = {"n": 0}

    def build(root: str) -> None:
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("first build dies")
        os.makedirs(root, exist_ok=True)

    with pytest.raises(RuntimeError):
        sm.cached_fixture(spark, "retry_probe", "/x/sf9.8", build)
    root = sm.cached_fixture(spark, "retry_probe", "/x/sf9.8", build)
    assert calls["n"] == 2
    assert os.path.exists(os.path.join(root, "_FIXTURE_READY"))


def test_parity_suite_fault_isolation_and_build_session(spark, monkeypatch):
    """A broken family must not sink another family's consumer, the
    pinned shuffle-partition setting must live only in the private
    build session (never the caller's), and the failure MUST propagate
    to its own consumer."""
    import asritha_metamorphetl_spark.plans.streaming_queries as SQ

    monkeypatch.setattr(SQ, "_SUITE_FAILURES", {})
    built = {}

    def good(spark_, sf_dir):
        # runs INSIDE the suite's build session: pinned setting live,
        # and the session object is NOT the caller's
        built["partitions_during_build"] = spark_.conf.get(
            "spark.sql.shuffle.partitions"
        )
        built["own_session"] = spark_ is not spark
        return "/tmp/suite_good_root"

    def bad(spark_, sf_dir):
        raise RuntimeError("family build exploded")

    for name in _FAMILY_FNS[:-1]:
        monkeypatch.setattr(SQ, name, good)
    monkeypatch.setattr(SQ, "_wmdrop_state_fixture", bad)

    before = spark.conf.get("spark.sql.shuffle.partitions")
    # another family's consumer succeeds despite the broken family
    root = SQ._parity_suite(spark, "/x/sfT", "trilogy")
    assert root == "/tmp/suite_good_root"
    assert built["partitions_during_build"] == "8"
    assert built["own_session"]
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # the broken family's own consumer sees the failure
    with pytest.raises(RuntimeError, match="family build exploded"):
        SQ._parity_suite(spark, "/x/sfT", "wmdrop")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # unknown family is a loud error, not a silent None
    with pytest.raises(KeyError):
        SQ._parity_suite(spark, "/x/sfT", "nope")


def test_concurrent_nonsuite_query_sees_session_partitions(
    spark, monkeypatch
):
    """VERDICT r12 directive #5's done-criterion: while the suite is
    MID-BUILD, a concurrent non-suite query in the caller's session
    observes the session's own shuffle-partition setting (the old
    session-global set/restore pinned it to 8 for the build window)."""
    import asritha_metamorphetl_spark.plans.streaming_queries as SQ

    monkeypatch.setattr(SQ, "_SUITE_FAILURES", {})
    in_build = threading.Event()
    release = threading.Event()
    seen = {}

    def slow_family(spark_, sf_dir):
        seen["build_partitions"] = spark_.conf.get(
            "spark.sql.shuffle.partitions"
        )
        in_build.set()
        release.wait(timeout=60)
        return "/tmp/suite_slow_root"

    for name in _FAMILY_FNS:
        monkeypatch.setattr(SQ, name, slow_family)

    before = spark.conf.get("spark.sql.shuffle.partitions")

    def run_suite():
        seen["root"] = SQ._parity_suite(spark, "/x/sfC", "gram")

    t = threading.Thread(target=run_suite)
    t.start()
    try:
        assert in_build.wait(timeout=60), "suite never entered a build"
        # mid-build: the CALLER session's conf is untouched, so any
        # concurrent non-suite query shuffles at the session's setting
        mid = spark.conf.get("spark.sql.shuffle.partitions")
    finally:
        release.set()
        t.join(timeout=120)
    assert not t.is_alive()
    assert mid == before
    assert seen["build_partitions"] == "8"
    assert seen["root"] == "/tmp/suite_slow_root"


def test_parity_suite_memoizes_failed_family_builds(spark, monkeypatch):
    """ADVICE r12: a persistently-broken family is built ONCE per
    session; later suite entries skip resubmitting it and its own
    consumers get the memoized exception cheaply."""
    import asritha_metamorphetl_spark.plans.streaming_queries as SQ

    monkeypatch.setattr(SQ, "_SUITE_FAILURES", {})
    calls = {"bad": 0}

    def good(spark_, sf_dir):
        return "/tmp/suite_memo_root"

    def bad(spark_, sf_dir):
        calls["bad"] += 1
        raise RuntimeError("persistently broken")

    for name in _FAMILY_FNS[:-1]:
        monkeypatch.setattr(SQ, name, good)
    monkeypatch.setattr(SQ, "_wmdrop_state_fixture", bad)

    assert SQ._parity_suite(spark, "/x/sfM", "trilogy") == (
        "/tmp/suite_memo_root"
    )
    assert calls["bad"] == 1
    # its own consumer: memoized exception, no rebuild
    with pytest.raises(RuntimeError, match="persistently broken"):
        SQ._parity_suite(spark, "/x/sfM", "wmdrop")
    assert calls["bad"] == 1
    # another family's consumer: broken family not resubmitted
    assert SQ._parity_suite(spark, "/x/sfM", "gram") == (
        "/tmp/suite_memo_root"
    )
    assert calls["bad"] == 1


def test_stream_fixture_landings_are_mtime_pinned_in_batch_order(spark):
    """FileStreamSource delivers files in modification-time order, and
    the fixtures land their batches concurrently (``_overlap``). Each
    landing's directory and files carry the per-index pinned mtime
    (``1000 * (index + 1)`` seconds), so the micro-batch order is the
    batch index, not the commit race."""
    import asritha_metamorphetl_spark.plans.streaming_queries as SQ
    from tests.conftest import SF_SMOKE

    root = SQ._hll_state_fixture(spark, SF_SMOKE)
    for i in range(3):
        d = os.path.join(root, "delta", f"batch{i}")
        paths = [d] + [os.path.join(d, f) for f in os.listdir(d)]
        assert any(p.endswith(".parquet") for p in paths)
        for p in paths:
            assert os.stat(p).st_mtime == 1000 * (i + 1), p
