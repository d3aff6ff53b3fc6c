"""MergeOnReadTable: positional-delete semantics the oracle umbrella
can't see from the aggregate outputs — write contracts, idempotent
re-delivery, SELECTIVE compaction (cold files byte-untouched), and the
broadcast-anti-join read plan."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from asritha_metamorphetl_spark.sources.mor import MergeOnReadTable


def _mk(spark, tmp_path, n=100, n_files=4):
    t = MergeOnReadTable(
        spark, str(tmp_path / "tbl"), "k", n_files=n_files
    )
    base = spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    t.write_base(base)
    return t


def test_write_base_rejects_duplicate_and_null_keys(spark, tmp_path):
    t = MergeOnReadTable(spark, str(tmp_path / "t1"), "k")
    dup = spark.createDataFrame([(1, "a"), (1, "b")], "k long, v string")
    with pytest.raises(ValueError, match="unique"):
        t.write_base(dup)
    nul = spark.createDataFrame([(None, "a"), (2, "b")], "k long, v string")
    with pytest.raises(ValueError, match="null"):
        t.write_base(nul)


def test_delete_read_parity_and_idempotence(spark, tmp_path):
    t = _mk(spark, tmp_path)
    keys = spark.range(0, 30).select(F.col("id").alias("k"))
    t.delete_keys(keys)
    assert t.read().count() == 70
    # re-delivery of the same delete batch must change nothing
    t.delete_keys(keys)
    assert t.read().count() == 70
    live = {r["k"] for r in t.read().select("k").collect()}
    assert live == set(range(30, 100))


def test_delete_unknown_keys_is_noop(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_keys(spark.range(500, 510).select(F.col("id").alias("k")))
    assert t.read().count() == 100


def test_compact_rewrites_only_hot_files(spark, tmp_path):
    t = _mk(spark, tmp_path, n=100, n_files=4)
    # delete 20 of 25 rows in file 0 (k%4==0), 1 row elsewhere
    hot_keys = [k for k in range(0, 80) if k % 4 == 0]
    t.delete_keys(
        spark.createDataFrame([(k,) for k in hot_keys + [1]], "k long")
    )
    data = t._data
    cold_listing = {
        fid: sorted(os.listdir(f"{data}/_file={fid}")) for fid in (1, 2, 3)
    }
    cold_mtimes = {
        fid: os.path.getmtime(f"{data}/_file={fid}") for fid in (1, 2, 3)
    }
    rewritten = t.compact(min_delete_ratio=0.5)
    assert rewritten == [0]
    # cold file directories: identical listing, untouched mtime
    for fid in (1, 2, 3):
        assert sorted(os.listdir(f"{data}/_file={fid}")) == cold_listing[fid]
        assert os.path.getmtime(f"{data}/_file={fid}") == cold_mtimes[fid]
    # hot file: physically shrunk to its live rows, in the NEW
    # generation dir the manifest points at (old dir stays on disk for
    # snapshot readers until vacuum)
    _, manifest = t._resolve()
    assert manifest["gen_dirs"]["0"].startswith("gen-")
    assert all(manifest["gen_dirs"][str(f)] == "data" for f in (1, 2, 3))
    base0 = spark.read.parquet(
        f"{t.root}/{manifest['gen_dirs']['0']}/_file=0"
    )
    assert base0.count() == 25 - len(hot_keys)
    # pending deletes: only the cold-file entry for k=1 remains
    pend = t._delete_rows().distinct().collect()
    assert len(pend) == 1 and pend[0]["_file"] == 1
    # read parity across compaction
    live = {r["k"] for r in t.read().select("k").collect()}
    assert live == set(range(100)) - set(hot_keys) - {1}


def test_compact_with_precomputed_stats_matches_plain(spark, tmp_path):
    """compact(stats=delete_stats()) must pick the same hot set and
    leave the same table state as recomputing stats internally (r14:
    the compaction profile hands in its pinned pre-state)."""
    import shutil as _sh

    t = _mk(spark, tmp_path / "a", n=100, n_files=4)
    hot_keys = [k for k in range(0, 80) if k % 4 == 0]
    dels = spark.createDataFrame([(k,) for k in hot_keys + [1]], "k long")
    t.delete_keys(dels)
    # twin copy, same state
    _sh.copytree(t.root, tmp_path / "b")
    from asritha_metamorphetl_spark.sources.mor import MergeOnReadTable

    t2 = MergeOnReadTable(spark, str(tmp_path / "b"), "k", n_files=4)
    pre = t.delete_stats().localCheckpoint()
    hot_a = t.compact(min_delete_ratio=0.5, stats=pre)
    hot_b = t2.compact(min_delete_ratio=0.5)
    assert hot_a == hot_b == [0]
    live_a = {r["k"] for r in t.read().select("k").collect()}
    live_b = {r["k"] for r in t2.read().select("k").collect()}
    assert live_a == live_b
    pend_a = sorted(
        (r["_file"], r["_pos"]) for r in t._delete_rows().distinct().collect()
    )
    pend_b = sorted(
        (r["_file"], r["_pos"]) for r in t2._delete_rows().distinct().collect()
    )
    assert pend_a == pend_b


def test_compact_refuses_stats_from_an_older_version(spark, tmp_path):
    """A commit between delete_stats() and compact(stats=...) voids the
    stats: here a compaction drops the fully-deleted file 0, and the
    stale frame still names it as hot."""
    t = _mk(spark, tmp_path, n=100, n_files=4)
    t.delete_keys(
        spark.createDataFrame([(k,) for k in range(0, 100, 4)], "k long")
    )
    pre = t.delete_stats().localCheckpoint()
    assert t.compact(min_delete_ratio=0.5) == [0]
    with pytest.raises(ValueError, match=r"file ids \[0\]"):
        t.compact(min_delete_ratio=0.5, stats=pre)
    assert t.read().count() == 75


def test_compact_below_threshold_is_noop(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_keys(spark.createDataFrame([(1,)], "k long"))
    assert t.compact(min_delete_ratio=0.5) == []
    assert t.read().count() == 99


def test_delete_stats_shapes(spark, tmp_path):
    t = _mk(spark, tmp_path, n=100, n_files=4)
    stats0 = {r["_file"]: r for r in t.delete_stats().collect()}
    assert all(r["n_deleted"] == 0 for r in stats0.values())
    t.delete_keys(spark.range(0, 8).select(F.col("id").alias("k")))
    stats = {r["_file"]: r for r in t.delete_stats().collect()}
    assert all(stats[f]["n_deleted"] == 2 for f in range(4))
    assert stats[0]["delete_ratio"] == round(2 / 25, 4)


def test_read_plan_broadcasts_deletes_never_shuffles_base(spark, tmp_path):
    """The 100 TB read path: the delete set broadcasts into the base
    scan stage — no hash-partition exchange anywhere in the live read."""
    t = _mk(spark, tmp_path)
    t.delete_keys(spark.range(0, 10).select(F.col("id").alias("k")))
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # the STREAMED (base) side — everything printed before the broadcast
    # build — must be exchange-free; the dedup exchange INSIDE the
    # broadcast build touches only the bounded delete set and is fine
    streamed = plan[: plan.index("BroadcastExchange")]
    assert "Exchange hashpartitioning" not in streamed


def test_negative_keys_land_in_nonnegative_files(spark, tmp_path):
    """pmod file assignment: negative keys must not mint directories
    like _file=-3 (Spark's % keeps the dividend's sign)."""
    t = MergeOnReadTable(spark, str(tmp_path / "neg"), "k", n_files=4)
    base = spark.range(-10, 10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write_base(base)
    files = sorted(
        int(d.split("=")[1])
        for d in os.listdir(t._data)
        if d.startswith("_file=")
    )
    assert files == [0, 1, 2, 3]
    # ((k % n) + n) % n replay: -10 -> 2, -1 -> 3
    got = {
        r["k"]: r["_file"]
        for r in spark.read.parquet(t._data).select("k", "_file").collect()
    }
    assert got[-10] == 2 and got[-1] == 3 and got[5] == 1
    t.delete_keys(spark.createDataFrame([(-10,), (5,)], "k long"))
    assert t.read().count() == 18


def test_large_delete_set_drops_broadcast_hint(spark, tmp_path):
    """Past broadcast_threshold_bytes the read path must NOT hard-code
    a broadcast hint: with auto-broadcast disabled the plan falls back
    to a shuffled anti-join — the shape that survives a 100 TB pending
    delete set instead of collecting it to the driver."""
    t = MergeOnReadTable(
        spark, str(tmp_path / "big"), "k", n_files=4,
        broadcast_threshold_bytes=0,
    )
    t.write_base(
        spark.range(0, 100).select(F.col("id").alias("k"), F.col("id").alias("v"))
    )
    t.delete_keys(spark.range(0, 40).select(F.col("id").alias("k")))
    assert t._delete_bytes() > 0
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        df = t.read()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        assert "LeftAnti" in plan
        assert df.count() == 60  # same answer through the shuffled shape
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        if prev_aqe is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe
            )
    # default threshold on the SAME on-disk table: hint comes back even
    # with auto-broadcast off — proving the switch is the threshold
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t2 = MergeOnReadTable(spark, str(tmp_path / "big"), "k", n_files=4)
        plan2 = t2.read()._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_compact_drops_fully_deleted_file(spark, tmp_path):
    """A file whose rows are ALL deleted leaves the table at
    compaction (no empty directory), its delete entries are applied,
    and the live read stays exact."""
    t = _mk(spark, tmp_path, n=100, n_files=4)
    all_file0 = [k for k in range(100) if k % 4 == 0]
    t.delete_keys(spark.createDataFrame([(k,) for k in all_file0], "k long"))
    rewritten = t.compact(min_delete_ratio=0.5)
    assert rewritten == [0]
    # the manifest no longer references file 0 ...
    _, manifest = t._resolve()
    assert "0" not in manifest["gen_dirs"]
    assert t._delete_rows() is None  # all entries were applied
    # ... and vacuum reclaims its directory once retention passes
    t.vacuum(keep_last=1)
    assert not os.path.isdir(f"{t._data}/_file=0")
    live = {r["k"] for r in t.read().select("k").collect()}
    assert live == set(range(100)) - set(all_file0)
    # stats over the shrunk table: three files, nothing pending
    stats = {r["_file"]: r for r in t.delete_stats().collect()}
    assert sorted(stats) == [1, 2, 3]
    assert all(r["n_deleted"] == 0 for r in stats.values())


def test_compact_layout_and_vacuum(spark, tmp_path):
    """After compaction the root holds the manifest dir, base data, the
    new generation, and deletes; vacuum(keep_last=1) prunes everything
    the newest manifest doesn't reference (superseded delete commits,
    the old hot-file dir, old manifests)."""
    t = _mk(spark, tmp_path, n=100, n_files=4)
    hot_keys = [k for k in range(0, 80) if k % 4 == 0]
    t.delete_keys(
        spark.createDataFrame([(k,) for k in hot_keys + [1]], "k long")
    )
    t.compact(min_delete_ratio=0.5)
    entries = sorted(
        n for n in os.listdir(t.root) if not n.startswith("gen-")
    )
    assert entries == ["_v", "data", "deletes"]
    removed = t.vacuum(keep_last=1)
    assert "data/_file=0" in removed  # superseded hot dir reclaimed
    assert len(t.versions()) == 1
    # stale delete entries referencing a rewritten file are a no-op,
    # not a resurrection: re-appending the applied batch changes nothing
    t.delete_keys(spark.createDataFrame([(0,)], "k long"))
    live = {r["k"] for r in t.read().select("k").collect()}
    assert live == set(range(100)) - set(hot_keys) - {1}


def test_compact_crash_at_every_rename_never_resurrects(spark, tmp_path):
    """Kill compact() at EVERY os.rename boundary and assert the read
    path always returns exactly the live set. Under the manifest
    protocol the only rename in compact() is the pointer flip itself:
    a crash before it leaves the table at the previous version (whose
    visible delete set still hides every deleted row — no
    resurrection), a crash after it IS the new version, and no
    intermediate state exists for a reader to observe."""
    from asritha_metamorphetl_spark.sources import mor as mor_mod

    hot_keys = [k for k in range(0, 80) if k % 4 == 0]  # file 0
    cold_key = 1  # file 1 — the delete that must survive every crash
    expected = set(range(100)) - set(hot_keys) - {cold_key}

    class Crash(RuntimeError):
        pass

    real_rename = os.rename
    crash_at = 1
    while True:
        t = _mk(spark, tmp_path / f"c{crash_at}", n=100, n_files=4)
        t.delete_keys(
            spark.createDataFrame(
                [(k,) for k in hot_keys + [cold_key]], "k long"
            )
        )
        calls = {"n": 0}

        def crashing(src_p, dst_p, _budget=crash_at, _calls=calls):
            _calls["n"] += 1
            if _calls["n"] >= _budget:
                raise Crash(f"injected at rename #{_calls['n']}")
            real_rename(src_p, dst_p)

        mor_mod.os.rename = crashing  # compact()-scoped: setup ran clean
        try:
            t.compact(min_delete_ratio=0.5)
            crashed = False
        except Crash:
            crashed = True
        finally:
            mor_mod.os.rename = real_rename
        live = {r["k"] for r in t.read().select("k").collect()}
        assert live == expected, (
            f"crash at rename #{crash_at}: live set wrong "
            f"(missing={expected - live}, resurrected={live - expected})"
        )
        # a crashed run must also leave the table fully operational:
        # the next compaction (and vacuum) completes from the orphans
        if crashed:
            t.compact(min_delete_ratio=0.5)
            live2 = {r["k"] for r in t.read().select("k").collect()}
            assert live2 == expected
            t.vacuum(keep_last=1)
            assert {r["k"] for r in t.read().select("k").collect()} == expected
        if not crashed:  # compaction ran to completion — all points hit
            break
        crash_at += 1
        assert crash_at < 10, "rename budget runaway"


def test_concurrent_reader_is_snapshot_isolated(spark, tmp_path):
    """The directive-#8 contract: a reader plan resolved BEFORE a
    compaction commits keeps collecting the exact same live set while
    and after the new version publishes — compaction never moves or
    deletes files a committed manifest references. Only vacuum (the
    retention boundary) may reclaim them, after which a FRESH read of
    the current version is still exact."""
    t = _mk(spark, tmp_path, n=100, n_files=4)
    hot_keys = [k for k in range(0, 80) if k % 4 == 0]
    t.delete_keys(
        spark.createDataFrame([(k,) for k in hot_keys + [1]], "k long")
    )
    expected = set(range(100)) - set(hot_keys) - {1}

    reader_before = t.read()  # resolves the pre-compaction manifest
    assert t.compact(min_delete_ratio=0.5) == [0]
    # the old plan still collects the exact snapshot — mid/post-commit
    live_old = {r["k"] for r in reader_before.select("k").collect()}
    assert live_old == expected
    # a fresh read at the new version agrees
    live_new = {r["k"] for r in t.read().select("k").collect()}
    assert live_new == expected
    # time travel: both versions remain addressable until vacuum
    vs = t.versions()
    assert len(vs) >= 3  # base, delete commit, compaction
    live_v = {r["k"] for r in t.read(version=vs[-2]).select("k").collect()}
    assert live_v == expected
    # vacuum prunes beyond retention; the current version stays exact
    t.vacuum(keep_last=1)
    assert {r["k"] for r in t.read().select("k").collect()} == expected


def test_vacuum_rejects_zero_retention(spark, tmp_path):
    """vacuum(keep_last=0) would delete every manifest and data dir —
    it must raise, never silently destroy the table (ADVICE r9)."""
    t = _mk(spark, tmp_path, n=20)
    with pytest.raises(ValueError, match="retain"):
        t.vacuum(keep_last=0)
    with pytest.raises(ValueError, match="retain"):
        t.vacuum(keep_last=-1)
    # the table is untouched
    assert t.read().count() == 20


def test_empty_table_reads_from_persisted_schema(spark, tmp_path):
    """Delete every row, compact everything away, vacuum down to the
    newest manifest: data/ holds no readable parquet, but read() must
    still return an empty frame with the base schema (ADVICE r9 — the
    schema is persisted in the manifest)."""
    import shutil

    t = _mk(spark, tmp_path, n=40, n_files=2)
    before = t.read().schema
    t.delete_keys(spark.range(0, 40).select(F.col("id").alias("k")))
    t.compact(min_delete_ratio=0.0)
    t.vacuum(keep_last=1)
    # simulate the pruned layout aggressively: drop any leftover
    # parquet under data/ entirely
    data = os.path.join(str(tmp_path / "tbl"), "data")
    if os.path.isdir(data):
        shutil.rmtree(data)
    got = t.read()
    assert got.count() == 0
    assert got.schema == before


def test_bootstrap_legacy_synthesizes_v1(spark, tmp_path):
    """A pre-round-9 layout (data/ + deletes/, no _v/) migrates with
    one bootstrap_legacy() call and then reads normally (ADVICE r9)."""
    import shutil

    t = _mk(spark, tmp_path, n=50, n_files=2)
    t.delete_keys(spark.range(0, 10).select(F.col("id").alias("k")))
    # strip the manifests: this is exactly the legacy on-disk layout
    shutil.rmtree(os.path.join(str(tmp_path / "tbl"), "_v"))
    t2 = MergeOnReadTable(spark, str(tmp_path / "tbl"), "k", n_files=2)
    with pytest.raises(FileNotFoundError, match="bootstrap_legacy"):
        t2.read()
    v = t2.bootstrap_legacy()
    assert v == 1
    assert t2.read().count() == 40
    with pytest.raises(ValueError, match="already has committed"):
        t2.bootstrap_legacy()
