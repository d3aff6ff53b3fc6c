"""Machinery tests for the shared-fixture suites (``plans.fixtures
._prewarm``: the streaming parity suite and the dedup/ANN suite) and the
fixture-build attribution log — the orchestration contracts the oracle
hashes cannot see:

- only the REQUESTED family's failure propagates (fault isolation),
  and a failed family is built once per (session, sf): later consumers
  get the original exception cheaply instead of rebuilding it, while
  the same family at another scale factor builds afresh;
- a finished family is served at once, even while its suite builds;
- a suite call from inside a family build returns at once;
- the parity suite's low shuffle-partition knob is scoped to a PRIVATE
  build session: the caller's session conf is never mutated, so a
  concurrent non-suite query observes the session's own partition
  count mid-build;
- a failed build leaves no ``_FIXTURE_READY`` marker, so the next
  consumer in a FRESH session (the memo is applicationId-keyed)
  retries it;
- ``cached_fixture`` records build seconds + the consumer that
  triggered the build in ``FIXTURE_BUILD_LOG`` under the
  ``<label>@<sf_tag>`` key bench.py emits as ``fixture_builds``.
"""

from __future__ import annotations

import os
import threading
from importlib import import_module

import pytest

#: Per suite: its module, its caller, and {family: builder attribute}
#: in table order.
_SUITES = {
    "parity": ("streaming_queries", "_parity_suite", {
        "trilogy": "_docs_trilogy_fixture",
        "hll": "_hll_state_fixture",
        "lastvalue": "_events_lastvalue_fixture",
        "latebatch": "_latebatch_state_fixture",
        "mor": "_mor_stream_fixture",
        "cdc": "_cdc_stream_fixture",
        "gram": "_gram_state_fixture",
        "wmdrop": "_wmdrop_state_fixture",
    }),
    "dedup": ("fixtures", "_dedup_suite", {
        "minhash_labels": "minhash_cluster_labels",
        "ngram_scored": "ngram_jaccard_scored",
        "cos_truth": "cosine_truth_topk",
        "l2_truth": "l2_truth_topk_gated",
        "semdedup_asg": "semdedup_assignment",
        "ivf_cent_knn": "ivf_centroids_knn",
        "pq_books_raw": "pq_codebooks_raw",
        "pq_books_res": "ivfpq_residual_books",
    }),
}


def _patch_suite(monkeypatch, suite: str, default, **builders):
    """Clear the suite memo and point every family of ``suite`` at
    ``builders[family]`` or ``default``. Returns the suite's caller."""
    fx = import_module("asritha_metamorphetl_spark.plans.fixtures")
    monkeypatch.setattr(fx, "_SUITE_BUILDS", {})
    mod_name, caller, families = _SUITES[suite]
    mod = import_module(f"asritha_metamorphetl_spark.plans.{mod_name}")
    for family, attr in families.items():
        monkeypatch.setattr(mod, attr, builders.get(family, default))
    return getattr(mod, caller)


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


@pytest.mark.parametrize("suite", sorted(_SUITES))
def test_suite_fault_isolation(spark, monkeypatch, suite):
    """A broken family must not sink another family's consumer, and
    the failure MUST propagate to its own consumer."""

    def bad(spark_, sf_dir):
        raise RuntimeError("family build exploded")

    fams = list(_SUITES[suite][2])
    run = _patch_suite(
        monkeypatch, suite, lambda s, d: "/tmp/suite_good_root",
        **{fams[-1]: bad},
    )
    # another family's consumer succeeds despite the broken family
    assert run(spark, "/x/sfT", fams[0]) == "/tmp/suite_good_root"
    # the broken family's own consumer sees the failure
    with pytest.raises(RuntimeError, match="family build exploded"):
        run(spark, "/x/sfT", fams[-1])
    # unknown family is a loud error, not a silent None
    with pytest.raises(KeyError):
        run(spark, "/x/sfT", "nope")


def test_parity_suite_builds_in_private_session(spark, monkeypatch):
    """The pinned shuffle-partition setting lives only in the private
    build session, never the caller's — also when a family fails."""
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

    run = _patch_suite(monkeypatch, "parity", good, wmdrop=bad)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert run(spark, "/x/sfP", "trilogy") == "/tmp/suite_good_root"
    assert built["partitions_during_build"] == "8"
    assert built["own_session"]
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    with pytest.raises(RuntimeError, match="family build exploded"):
        run(spark, "/x/sfP", "wmdrop")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_concurrent_nonsuite_query_sees_session_partitions(
    spark, monkeypatch
):
    """VERDICT r12 directive #5's done-criterion: while the suite is
    MID-BUILD, a concurrent non-suite query in the caller's session
    observes the session's own shuffle-partition setting (the old
    session-global set/restore pinned it to 8 for the build window)."""
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

    run = _patch_suite(monkeypatch, "parity", slow_family)
    before = spark.conf.get("spark.sql.shuffle.partitions")

    def run_suite():
        seen["root"] = run(spark, "/x/sfC", "gram")

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


@pytest.mark.parametrize("suite", sorted(_SUITES))
def test_suite_memoizes_failed_family_builds(spark, monkeypatch, suite):
    """ADVICE r12: a persistently-broken family is built ONCE per
    (session, sf); later consumers of other families never resubmit it
    and its own consumers get the memoized exception cheaply."""
    calls = {"bad": 0}

    def bad(spark_, sf_dir):
        calls["bad"] += 1
        raise RuntimeError("persistently broken")

    fams = list(_SUITES[suite][2])
    run = _patch_suite(
        monkeypatch, suite, lambda s, d: "/tmp/suite_memo_root",
        **{fams[-1]: bad},
    )
    assert run(spark, "/x/sfM", fams[0]) == "/tmp/suite_memo_root"
    assert calls["bad"] == 1
    # its own consumer: memoized exception, no rebuild
    with pytest.raises(RuntimeError, match="persistently broken"):
        run(spark, "/x/sfM", fams[-1])
    assert calls["bad"] == 1
    # another family's consumer: broken family not resubmitted
    assert run(spark, "/x/sfM", fams[1]) == "/tmp/suite_memo_root"
    assert calls["bad"] == 1


@pytest.mark.parametrize("suite", sorted(_SUITES))
def test_suite_failure_memo_is_keyed_by_scale_factor(
    spark, monkeypatch, suite
):
    """A family that failed at one scale factor builds afresh at
    another in the same session, instead of re-raising the first
    scale's error."""
    broken = {"on": True}

    def flaky(spark_, sf_dir):
        if broken["on"]:
            raise RuntimeError(f"broken at {sf_dir}")
        return f"/tmp/root_{os.path.basename(sf_dir)}"

    fams = list(_SUITES[suite][2])
    run = _patch_suite(
        monkeypatch, suite, lambda s, d: "/tmp/good", **{fams[-1]: flaky}
    )
    with pytest.raises(RuntimeError, match="broken at /x/sfA"):
        run(spark, "/x/sfA", fams[-1])
    broken["on"] = False
    assert run(spark, "/x/sfB", fams[-1]) == "/tmp/root_sfB"
    # the failed scale keeps its memo until a fresh session
    with pytest.raises(RuntimeError, match="broken at /x/sfA"):
        run(spark, "/x/sfA", fams[-1])


@pytest.mark.parametrize("suite", sorted(_SUITES))
def test_finished_family_served_while_suite_builds(
    spark, monkeypatch, suite
):
    """ADVICE r14 #2: while one family still builds, a concurrent
    consumer of an already-finished family gets its result at once
    instead of waiting for the whole suite."""
    release = threading.Event()
    b_done = threading.Event()

    def slow(spark_, sf_dir):
        release.wait(timeout=60)
        return "/tmp/root_a"

    def fast(spark_, sf_dir):
        b_done.set()
        return "/tmp/root_b"

    fams = list(_SUITES[suite][2])
    run = _patch_suite(
        monkeypatch, suite, lambda s, d: "/tmp/good",
        **{fams[0]: slow, fams[1]: fast},
    )
    seen = {}
    starter = threading.Thread(
        target=lambda: seen.update(a=run(spark, "/x/sfW", fams[0]))
    )
    consumer = threading.Thread(
        target=lambda: seen.update(b=run(spark, "/x/sfW", fams[1]))
    )
    starter.start()
    try:
        assert b_done.wait(timeout=60), "family B never built"
        consumer.start()
        consumer.join(timeout=30)
        served_early = not consumer.is_alive() and "a" not in seen
    finally:
        release.set()
        starter.join(timeout=120)
    consumer.join(timeout=120)
    assert served_early, "B's consumer waited for A's build"
    assert seen == {"a": "/tmp/root_a", "b": "/tmp/root_b"}


@pytest.mark.parametrize("suite", sorted(_SUITES))
def test_suite_call_inside_family_build_returns_at_once(
    spark, monkeypatch, suite
):
    """A chain resolving its dependency calls the suite again from
    inside a family build; that call returns None at once (the build
    owns that work) instead of deadlocking on its own suite."""
    fams = list(_SUITES[suite][2])
    nested = {}

    def chain(spark_, sf_dir):
        nested["result"] = run(spark_, sf_dir, fams[1])
        return "/tmp/chain_root"

    run = _patch_suite(
        monkeypatch, suite, lambda s, d: "/tmp/good", **{fams[0]: chain}
    )
    assert run(spark, "/x/sfN", fams[0]) == "/tmp/chain_root"
    assert nested == {"result": None}


def test_concurrent_first_touches_build_each_family_once(
    spark, monkeypatch
):
    """Many consumers touch one suite at once, at two scale factors,
    with a short thread switch interval: every family builds exactly
    once per sf, and every consumer gets its own family's result."""
    import sys

    counts, lock = {}, threading.Lock()

    def builder(family):
        def build(spark_, sf_dir):
            with lock:
                counts[(sf_dir, family)] = counts.get((sf_dir, family), 0) + 1
            return f"{sf_dir}/{family}"

        return build

    fams = list(_SUITES["dedup"][2])
    run = _patch_suite(
        monkeypatch, "dedup", None, **{f: builder(f) for f in fams}
    )
    jobs = [(f"/x/sfS{i // 16}", fams[i % len(fams)]) for i in range(32)]
    got, errors = {}, []

    def consume(job):
        try:
            got[job] = run(spark, *job)
        except Exception as exc:
            errors.append(exc)

    threads = [threading.Thread(target=consume, args=(j,)) for j in jobs]
    saved = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(saved)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert got == {(sf, f): f"{sf}/{f}" for sf, f in jobs}
    assert counts == {
        (f"/x/sfS{i}", f): 1 for i in range(2) for f in fams
    }


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
