"""Manifest-based snapshot tables: atomic publish + time travel on
plain parquet.

The reference publishes data by writing into dated directories and
trusting readers to pick the right path (``ingestion_task.py`` —
``gs://bucket/YYYYMMDD/``). That convention has no atomicity (a reader
listing a directory mid-write sees half a snapshot), no history
contract, and no way to know which files belong together. Table formats
(Delta/Iceberg/Hudi) fix this with a metadata layer; this module is
that layer reduced to its load-bearing core, on nothing but parquet +
JSON:

* A table is a directory: ``root/data/commit-<v>-<uuid>/*.parquet``
  plus ``root/_manifests/v<NNNNN>.json``.
* A manifest lists the EXACT data directories of one snapshot. Commits
  write data first, then publish the manifest with a temp-file +
  rename (atomic on HDFS and POSIX; best-effort single-object PUT on
  object stores). Readers resolve a manifest, then read only the files
  it names — a concurrent commit can never tear a read
  (snapshot isolation), and a crashed writer leaves only an orphaned
  data directory that ``vacuum`` reclaims, never a corrupt table.
* Time travel = reading an older manifest. Incremental consumption =
  reading the DIFFERENCE between two manifests (the change feed a
  downstream ``cdc_apply`` consumes).

Everything goes through the Hadoop FileSystem API, so the same code
runs on file://, HDFS, or any object store the session has a connector
for (session.create_session jar/conf passthrough). At 100 TB the
manifest stays tiny — O(commits) entries naming directories, not
per-row metadata; Spark's parquet reader parallelizes over the listed
directories exactly as it would over a raw path.
"""

from __future__ import annotations

import datetime as _dt
import json
import uuid
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from asritha_metamorphetl_spark.session import overlap


def _stat_json(v):
    """A JSON-storable, order-preserving image of a column statistic.

    Dates/timestamps become ISO strings (lexicographic order == temporal
    order), ints/floats/strings pass through. Anything else is refused —
    zone maps only make sense for totally-ordered scalar types."""
    if v is None:
        return None
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, bool) or not isinstance(v, (int, float, str)):
        raise TypeError(
            f"zone-map stats need an orderable scalar type, got {type(v)}"
        )
    return v


class SnapshotTable:
    """A versioned parquet table addressed by manifests.

    ``commit(df)`` appends or replaces atomically and returns the new
    version; ``read(version=...)`` time-travels; ``changes(a, b)``
    yields only the rows added between two versions; ``vacuum()``
    deletes unreferenced data directories."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        jvm = spark._jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(self.root).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )

    # -- manifest plumbing -------------------------------------------------

    def _manifest_dir(self) -> str:
        return f"{self.root}/_manifests"

    def _manifest_path(self, version: int) -> str:
        return f"{self._manifest_dir()}/v{version:05d}.json"

    def versions(self) -> list[int]:
        """All committed versions, ascending (empty for a new table)."""
        mdir = self._Path(self._manifest_dir())
        if not self._fs.exists(mdir):
            return []
        out = []
        for st in self._fs.listStatus(mdir):
            name = st.getPath().getName()
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def _read_manifest(self, version: int) -> dict:
        stream = self._fs.open(self._Path(self._manifest_path(version)))
        try:
            data = bytes(
                self.spark._jvm.org.apache.commons.io.IOUtils.toByteArray(
                    stream
                )
            )
        finally:
            stream.close()
        return json.loads(data.decode("utf-8"))

    def _write_manifest(self, version: int, manifest: dict) -> None:
        """Temp-file + rename publish with read-back verification.

        On HDFS, rename() refuses to clobber an existing destination, so
        a racing writer of the same version fails at the rename — the
        contract Delta's HDFS log store relies on. But Hadoop's
        RawLocalFileSystem (POSIX ``File.renameTo``) and most object-
        store connectors OVERWRITE on rename, so two racing committers
        could both "succeed" with one commit silently lost. Guard
        (BEST-EFFORT on such stores): a unique token is embedded in the
        payload, and after the rename the destination is re-read and
        must carry OUR token. This narrows the race to the window
        between the loser's rename and its read-back — writer A can
        still pass its read-back before writer B renames over the same
        version, leaving both reporting success with A's commit lost.
        Closing it fully needs a primitive the store must provide
        (atomic create-exclusive, or a conditional PUT); on HDFS the
        non-clobbering rename already IS that primitive and the
        read-back is pure redundancy. (Read-back costs one tiny JSON
        GET per commit; manifests are O(commits) entries.)"""
        token = uuid.uuid4().hex
        manifest = dict(manifest, commit_token=token)
        tmp = self._Path(
            f"{self._manifest_dir()}/.tmp-{token}.json"
        )
        dest = self._Path(self._manifest_path(version))
        self._fs.mkdirs(self._Path(self._manifest_dir()))
        if self._fs.exists(dest):
            # cheap pre-check; the read-back below closes the race window
            self._fs.delete(tmp, False)
            raise RuntimeError(
                f"concurrent commit detected publishing version {version} "
                f"of {self.root}"
            )
        out = self._fs.create(tmp, False)
        try:
            out.write(bytearray(json.dumps(manifest, indent=1).encode()))
        finally:
            out.close()
        if not self._fs.rename(tmp, dest):
            self._fs.delete(tmp, False)
            raise RuntimeError(
                f"concurrent commit detected publishing version {version} "
                f"of {self.root}"
            )
        if self._read_manifest(version).get("commit_token") != token:
            raise RuntimeError(
                f"concurrent commit detected publishing version {version} "
                f"of {self.root}: another writer's manifest won the rename"
            )

    # -- public API --------------------------------------------------------

    def commit(
        self,
        df: DataFrame,
        mode: str = "append",
        stats_cols: list[str] | None = None,
    ) -> int:
        """Write ``df`` as a new data directory and publish the next
        version. ``append`` keeps prior directories in the new manifest;
        ``overwrite`` starts the file list fresh (logical replace — old
        snapshots stay readable until vacuumed).

        ``stats_cols`` opts this commit into zone maps: per-FILE min/max
        of the named columns are computed in one distributed pass over
        the just-written directory (``input_file_name`` group-by — the
        stats job scales out with executors, O(delta) work, and the
        driver holds only O(files) rows) and stored in the manifest.
        ``read_skipping`` then prunes whole files against a predicate
        BEFORE Spark ever lists or schedules them — the Delta/Iceberg
        data-skipping core. Append commits carry prior stats forward;
        files committed without stats are simply never skipped."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"unknown commit mode {mode!r}")
        prior = self.versions()
        version = (prior[-1] + 1) if prior else 1
        data_dir = f"{self.root}/data/commit-{version:05d}-{uuid.uuid4().hex[:8]}"
        df.write.mode("error").parquet(data_dir)
        if mode == "overwrite" or not prior:
            dirs, file_stats = [], {}
        else:
            prev = self._read_manifest(prior[-1])
            dirs = list(prev["data_dirs"])
            file_stats = dict(prev.get("file_stats", {}))
        dirs.append(data_dir)
        if stats_cols:
            file_stats.update(self._dir_stats(data_dir, stats_cols))
        self._write_manifest(
            version,
            {
                "version": version,
                "mode": mode,
                "data_dirs": dirs,
                "file_stats": file_stats,
                "schema": df.schema.jsonValue(),
            },
        )
        return version

    def _dir_stats(
        self, data_dir: str, stats_cols: list[str]
    ) -> dict:
        """Per-file min/max zone-map stats for one just-written data
        directory — one distributed ``input_file_name`` group-by, the
        driver holds only O(files) rows."""
        aggs = []
        for c in stats_cols:
            aggs.append(F.min(c).alias(f"__mn_{c}"))
            aggs.append(F.max(c).alias(f"__mx_{c}"))
        rows = (
            self.spark.read.parquet(data_dir)
            .groupBy(F.input_file_name().alias("__file"))
            .agg(*aggs)
            .collect()
        )
        return {
            self._norm_file(r["__file"]): {
                c: [
                    _stat_json(r[f"__mn_{c}"]),
                    _stat_json(r[f"__mx_{c}"]),
                ]
                for c in stats_cols
            }
            for r in rows
        }

    def commit_many(
        self,
        dfs: list[DataFrame],
        stats_cols: list[str] | None = None,
    ) -> list[int]:
        """Append each frame as its own sequential version, overlapping
        the INDEPENDENT per-commit work (data write + stats scan) across
        a pool of 4 threads while publishing manifests strictly in
        order. The manifest chain is structurally identical to
        ``len(dfs)`` sequential ``commit()`` calls — same dir sequence,
        same cumulative per-file stats, same per-version schema — the
        only difference is wall-clock: Spark's scheduler back-fills
        executors freed by one commit's write tail with the next
        commit's tasks (optimization-guide §2.6) instead of paying
        sum(commits) of sequential job latency.

        Append-only by design: an overwrite in the middle of a batch
        has no sequential equivalent worth preserving. Not safe against
        CONCURRENT external committers (same as commit: the manifest
        rename guard detects, not prevents)."""
        if not dfs:
            return []
        prior = self.versions()
        base = (prior[-1] + 1) if prior else 1
        if prior:
            prev = self._read_manifest(prior[-1])
            dirs = list(prev["data_dirs"])
            file_stats = dict(prev.get("file_stats", {}))
        else:
            dirs, file_stats = [], {}

        def _write_one(i: int, df: DataFrame):
            data_dir = (
                f"{self.root}/data/"
                f"commit-{base + i:05d}-{uuid.uuid4().hex[:8]}"
            )
            df.write.mode("error").parquet(data_dir)
            stats = (
                self._dir_stats(data_dir, stats_cols) if stats_cols else {}
            )
            return data_dir, stats

        written = overlap(
            self.spark,
            *[partial(_write_one, i, df) for i, df in enumerate(dfs)],
            workers=4,
        )

        versions = []
        for i, (data_dir, stats) in enumerate(written):
            dirs.append(data_dir)
            file_stats.update(stats)
            self._write_manifest(
                base + i,
                {
                    "version": base + i,
                    "mode": "append",
                    "data_dirs": list(dirs),
                    "file_stats": dict(file_stats),
                    "schema": dfs[i].schema.jsonValue(),
                },
            )
            versions.append(base + i)
        return versions

    def _norm_file(self, uri: str) -> str:
        """Scheme-insensitive file key: ``input_file_name`` URIs
        (file:///a/b) and Hadoop listStatus paths (file:/a/b) must land
        on the same stats entry."""
        return self._Path(uri).toUri().getPath()

    def read_skipping(
        self,
        predicates: list[tuple],
        version: int | None = None,
    ) -> tuple[DataFrame, dict]:
        """Zone-map scan: read only the files whose recorded min/max
        overlap every ``(col, lo, hi)`` closed interval (ANDed), with
        the predicate re-applied to the surviving rows. Files without
        stats for a predicate column are always read (skipping is an
        optimization, never a filter), so the result equals
        ``read(version).filter(...)`` by construction.

        Returns ``(df, report)`` where report carries
        ``files_total / files_read / files_skipped`` — the evidence a
        caller turns into a driver-checked pruning bound. At 100 TB this
        is the difference between scheduling a million tasks and
        scheduling the handful whose zones overlap the predicate; the
        decision is O(files) driver-side metadata, no data touched."""
        versions = self.versions()
        if not versions:
            raise FileNotFoundError(f"no commits under {self.root}")
        v = versions[-1] if version is None else version
        manifest = self._read_manifest(v)
        stats = {
            k: val for k, val in manifest.get("file_stats", {}).items()
        }
        bounds = [
            (c, _stat_json(lo), _stat_json(hi)) for c, lo, hi in predicates
        ]
        selected, total = [], 0
        for d in manifest["data_dirs"]:
            for st in self._fs.listStatus(self._Path(d)):
                p = st.getPath()
                if not p.getName().endswith(".parquet"):
                    continue
                total += 1
                fstats = stats.get(self._norm_file(p.toString()))
                keep = True
                if fstats:
                    for c, lo, hi in bounds:
                        mnmx = fstats.get(c)
                        if mnmx is None:
                            continue
                        mn, mx = mnmx
                        if mn is None or mx is None:
                            continue  # all-NULL file: between() drops it
                        if mx < lo or mn > hi:
                            keep = False
                            break
                if keep:
                    selected.append(p.toString())
        report = {
            "files_total": total,
            "files_read": len(selected),
            "files_skipped": total - len(selected),
        }
        if not selected:
            from pyspark.sql.types import StructType

            df = self.spark.createDataFrame(
                [], StructType.fromJson(manifest["schema"])
            )
        else:
            df = self.spark.read.option("mergeSchema", "true").parquet(
                *selected
            )
        # Residual filter: literals are cast to the column's OWN dtype so
        # naive-datetime bounds compare cleanly against timestamp_ntz
        # columns (a plain lit(datetime) is TIMESTAMP and would make the
        # comparison session-timezone-dependent).
        dtypes = dict(df.dtypes)
        for c, lo, hi in predicates:
            df = df.filter(
                F.col(c).between(
                    F.lit(lo).cast(dtypes[c]), F.lit(hi).cast(dtypes[c])
                )
            )
        return df, report

    def read(self, version: int | None = None) -> DataFrame:
        """The snapshot as of ``version`` (latest when omitted). Reads
        exactly the manifest's directories — concurrent commits are
        invisible (snapshot isolation)."""
        versions = self.versions()
        if not versions:
            raise FileNotFoundError(f"no commits under {self.root}")
        v = versions[-1] if version is None else version
        if v not in versions:
            raise FileNotFoundError(f"version {v} not in {versions}")
        manifest = self._read_manifest(v)
        dirs = manifest["data_dirs"]
        if not dirs:
            # a legal empty snapshot (e.g. a bucketed table whose only
            # commits were empty batches): typed empty frame from the
            # recorded schema rather than a parquet read of nothing
            from pyspark.sql.types import StructType

            return self.spark.createDataFrame(
                [], StructType.fromJson(manifest["schema"])
            )
        # mergeSchema: additive evolution across commits — a later commit
        # may carry new columns; older files surface them as NULL. The
        # manifest records each commit's schema, so an audit can diff
        # them; the read just unifies.
        return self.spark.read.option("mergeSchema", "true").parquet(*dirs)

    def changes(self, since: int, until: int | None = None) -> DataFrame:
        """Rows ADDED by append commits in ``(since, until]`` — the
        incremental change feed: a downstream job processes only the
        delta, never the history. Raises if the range crosses an
        overwrite (the feed's contract is additive)."""
        versions = self.versions()
        until = versions[-1] if until is None else until
        base = set(self._read_manifest(since)["data_dirs"])
        for v in versions:
            if since < v <= until and self._read_manifest(v)["mode"] != "append":
                raise ValueError(
                    f"version {v} is an overwrite; change feed is only "
                    "defined across append commits"
                )
        new = [
            d
            for d in self._read_manifest(until)["data_dirs"]
            if d not in base
        ]
        if not new:
            return self.read(until).limit(0)
        return self.spark.read.parquet(*new)

    def prune_manifests(self, keep_last: int = 10) -> list[int]:
        """History retention: drop manifests older than the newest
        ``keep_last`` versions. Time travel to pruned versions becomes
        impossible; their data directories become unreferenced, so a
        following ``vacuum()`` reclaims the space (the Delta
        ``logRetentionDuration`` + VACUUM pair, by count instead of
        age). Never prunes the latest manifest. Returns the pruned
        version numbers."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        victims = self.versions()[:-keep_last]
        for v in victims:
            self._fs.delete(self._Path(self._manifest_path(v)), False)
        return victims

    def vacuum(self) -> list[str]:
        """Delete data directories no manifest references (crashed
        writers, pre-overwrite history after manifests are pruned).
        Returns the deleted paths."""
        referenced: set[str] = set()
        for v in self.versions():
            referenced.update(self._read_manifest(v)["data_dirs"])
        data_root = self._Path(f"{self.root}/data")
        deleted = []
        if self._fs.exists(data_root):
            for st in self._fs.listStatus(data_root):
                p = st.getPath()
                full = f"{self.root}/data/{p.getName()}"
                if full not in referenced:
                    self._fs.delete(p, True)
                    deleted.append(full)
        return deleted
