"""Merge-on-read tables: positional delete files over immutable base data,
committed through an atomic manifest pointer.

The two industry-standard ways to delete from immutable columnar storage:

- **Copy-on-write** — rewrite every file containing a deleted row at
  delete time (this repo's ``operators/merge.py`` MERGE INTO shape).
  Deletes are expensive, reads are free.
- **Merge-on-read** (this module — the Iceberg v2 "positional delete"
  design, also Delta's deletion vectors and Hive ACID delete deltas) —
  a delete writes only a tiny ``(file, pos)`` list; the READ subtracts
  them with an anti-join. Deletes are O(deleted keys), reads pay one
  broadcast anti-join until a compaction folds the deletes in.

**Commit protocol (round 9 — the snapshot pointer).** Every mutation
(base write, delete commit, compaction) first lands ALL its bytes at
paths no reader can see, then publishes ONE manifest json
(``_v/v<k>.json``, written to a temp name and renamed — atomic on a
POSIX filesystem) that names exactly which data directories and which
delete files constitute version k. Readers resolve the newest manifest
and plan against the paths it names, so:

- a crash anywhere before the manifest rename leaves the previous
  version intact and the half-written files invisible (orphans for
  ``vacuum``) — no roll-back/roll-forward machinery is needed, the
  pointer IS the recovery protocol;
- a CONCURRENT reader is snapshot-isolated: compaction never renames
  or deletes the files a committed manifest references, so a plan
  resolved against version k collects correctly even while version
  k+1 is being written and after it is published. Old versions stay
  readable (time travel) until ``vacuum`` prunes them — exactly the
  Iceberg/Delta retention model, and the closure of the
  reader-isolation window the round-8 rename-swap design left open.

At 100 TB the delete side of a day's GDPR/erasure batch is typically
thousands-to-millions of positions against billions of base rows — the
anti-join broadcasts the delete set and the base scan never shuffles.
But compaction's per-file threshold means the steady-state PENDING
delete set can approach ``min_delete_ratio`` of ALL base rows spread
thin below the trigger — billions of (file, pos) pairs at 100 TB — so
the broadcast hint is **size-conditioned**, not hard-coded: ``read()``
sums the on-disk bytes of the manifest's delete files (filesystem
metadata, no scan) and only hints ``broadcast`` under
``broadcast_threshold_bytes``; above it the join is left to the
optimizer/AQE, which shuffles both sides — slower, but it survives.
Compaction is targeted: only files whose delete ratio crosses the
threshold are rewritten (copy-on-write applied *selectively*, exactly
the Iceberg maintenance recipe); rewritten files land in a fresh
generation directory and the manifest flips hot file ids to it, while
cold files keep their original directories byte-identical.

Positions are assigned deterministically at write time (row_number by
key within each hash-assigned file), so an external SQL oracle can
replay file assignment and delete resolution bit-for-bit — physical
layout stays checkable semantics, the same contract as
``sources/bucketed.py``.

Single-writer caveat (same as ``_next`` counters everywhere in this
package): the version counter comes from listing ``_v/``, which
assumes a strongly-consistent, atomically-listable filesystem and one
writer. Multi-writer deployments route commits through a lock or a
compare-and-swap object store primitive.

Reference scope: the reference loads into mutable Postgres and has no
immutable-storage delete story; this extends the table-format surface
(manifests, zone maps, bucketed CDC) the build brief's scale goals need.
"""

from __future__ import annotations

import json
import os
import shutil
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


class MergeOnReadTable:
    """Positional-delete table rooted at a directory:

    - ``data/``    ``_file=<id>`` base directories (generation 0)
    - ``gen-v<k>/`` ``_file=<id>`` directories rewritten by the
      compaction that published version k
    - ``deletes/`` ``d-<n>.parquet`` delete files of ``(_file, _pos)``
    - ``_v/``      ``v<k>.json`` manifests: the atomic pointers that
      name which directories + delete files form each version

    ``key_col`` must be unique per row (the usual primary-key contract;
    violations make position assignment ambiguous and are the caller's
    bug — ``write_base`` asserts it).
    """

    def __init__(self, spark: SparkSession, root: str, key_col: str,
                 n_files: int = 8,
                 broadcast_threshold_bytes: int = 64 << 20):
        self.spark = spark
        self.root = root.rstrip("/")
        self.key = key_col
        self.n_files = n_files
        #: read() hints broadcast for the delete anti-join only while
        #: the delete files total at most this many ON-DISK bytes
        #: (parquet of two int64 columns ≈ 2-6 bytes/pair compressed,
        #: so the 64 MB default covers ~tens of millions of pending
        #: deletes); past it the join shape is the optimizer's call.
        self.broadcast_threshold_bytes = broadcast_threshold_bytes

    @property
    def _data(self) -> str:
        return f"{self.root}/data"

    @property
    def _deletes(self) -> str:
        return f"{self.root}/deletes"

    @property
    def _manifests(self) -> str:
        return f"{self.root}/_v"

    # -- manifest pointer -------------------------------------------------

    def versions(self) -> list[int]:
        """Committed versions, ascending (empty for a new table)."""
        if not os.path.isdir(self._manifests):
            return []
        out = []
        for n in os.listdir(self._manifests):
            if n.startswith("v") and n.endswith(".json"):
                out.append(int(n[1:-5]))
        return sorted(out)

    def _manifest_path(self, version: int) -> str:
        return f"{self._manifests}/v{version}.json"

    def _read_manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as fh:
            return json.load(fh)

    def _resolve(self, version: int | None = None) -> tuple[int, dict]:
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(
                f"no committed version under {self.root} — write_base "
                "first (or bootstrap_legacy() for a pre-manifest layout)"
            )
        v = max(vs) if version is None else version
        if v not in vs:
            raise ValueError(f"version {v} not in {vs}")
        return v, self._read_manifest(v)

    def _commit(
        self,
        gen_dirs: dict,
        delete_files: list[str],
        schema_json: str | None = None,
    ) -> int:
        """Publish a new version: write the manifest to a temp name,
        fsync, rename into ``_v/v<k>.json`` — the single atomic step
        that makes everything the manifest references visible. A crash
        at any earlier instant leaves the previous version intact and
        the new files as invisible orphans for vacuum().

        The manifest also persists the table SCHEMA (written at
        write_base, carried forward on every later commit) so a fully
        deleted + compacted + vacuumed table can still serve an empty
        frame after ``data/`` holds no readable parquet."""
        os.makedirs(self._manifests, exist_ok=True)
        vs = self.versions()
        if schema_json is None and vs:
            schema_json = self._read_manifest(max(vs)).get("schema")
        version = max(vs, default=0) + 1
        manifest = {
            "version": version,
            "gen_dirs": {str(k): v for k, v in gen_dirs.items()},
            "delete_files": sorted(delete_files),
        }
        if schema_json is not None:
            manifest["schema"] = schema_json
        tmp = f"{self._manifests}/.tmp-v{version}.json"
        with open(tmp, "w") as fh:
            fh.write(json.dumps(manifest))
            fh.flush()
            os.fsync(fh.fileno())
        os.rename(tmp, self._manifest_path(version))
        return version

    # -- write ----------------------------------------------------------

    def write_base(self, df: DataFrame) -> None:
        """Assign each row a (file, position), write the base data, and
        commit version 1.

        File = ``pmod(key, n_files)`` — the NONNEGATIVE modulo (Spark's
        ``%`` keeps the dividend's sign, which would mint directories
        like ``_file=-3`` for negative keys); an oracle replays it as
        ``((key % n) + n) % n``. Position = row_number by key within
        the file — per-file windows, bounded by file size, exactly the
        position a columnar writer would record. ``partitionBy(_file)``
        gives one directory per file id so deletes and compaction
        address files natively."""
        chk = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(self.key).alias("nn"),
            F.countDistinct(self.key).alias("nd"),
        ).head()
        if chk["nn"] != chk["n"]:
            raise ValueError(f"null {self.key} cannot be positioned")
        if chk["nd"] != chk["n"]:
            raise ValueError(
                f"{self.key} must be unique: duplicate keys make position "
                "assignment order-dependent (and the table un-replayable)"
            )
        w = Window.partitionBy("_file").orderBy(self.key)
        positioned = df.withColumn(
            "_file", F.pmod(F.col(self.key), F.lit(self.n_files)).cast("int")
        ).withColumn("_pos", F.row_number().over(w).cast("long"))
        positioned.write.mode("overwrite").partitionBy("_file").parquet(
            self._data
        )
        fids = [
            int(n.split("=")[1])
            for n in os.listdir(self._data)
            if n.startswith("_file=")
        ]
        # read-back schema (footer-only scan): partition col `_file`
        # lands last and is inference-typed — store exactly what
        # readers will see so the empty-table fallback reproduces it
        schema_json = self.spark.read.parquet(self._data).schema.json()
        self._commit(
            {fid: "data" for fid in fids}, [], schema_json=schema_json
        )

    def bootstrap_legacy(self) -> int:
        """One-time migration for tables written by the pre-manifest
        layout (``data/`` + ``deletes/`` but no ``_v/``): synthesize v1
        from a directory listing — every ``data/_file=*`` directory as
        an uncompacted generation member, every ``deletes/d-*.parquet``
        in the delete list. No-op (raises) if the table already has
        manifests, so it can never clobber a committed history."""
        if self.versions():
            raise ValueError(
                f"{self.root} already has committed versions — "
                "bootstrap_legacy is only for pre-manifest tables"
            )
        if not os.path.isdir(self._data):
            raise FileNotFoundError(f"no data/ under {self.root}")
        fids = [
            int(n.split("=")[1])
            for n in os.listdir(self._data)
            if n.startswith("_file=")
        ]
        dels = (
            sorted(
                n
                for n in os.listdir(self._deletes)
                if n.startswith("d-")
            )
            if os.path.isdir(self._deletes)
            else []
        )
        schema_json = self.spark.read.parquet(self._data).schema.json()
        return self._commit(
            {fid: "data" for fid in fids}, dels, schema_json=schema_json
        )

    def _next_delete_commit(self) -> int:
        """Next delete-commit number by listing ``deletes/`` — counts
        orphans from crashed writes too, so a number is never reused
        (an orphan is invisible anyway: only manifested files read)."""
        if not os.path.isdir(self._deletes):
            return 1
        names = [n for n in os.listdir(self._deletes) if n.startswith("d-")]
        return 1 + max(
            (int(n.split("-")[1].split(".")[0]) for n in names), default=0
        )

    def delete_keys(self, keys: DataFrame) -> int:
        """Resolve ``keys`` (single column named like ``key_col``) to
        (file, pos) against the base, write ONE delete file, and commit
        a new version whose delete list includes it.

        The resolution scan is column-pruned to (key, _file, _pos) and
        semi-joined against the (broadcast) key set — the base is read,
        never rewritten; the write is O(matched keys). Re-deleting an
        already-deleted key appends a duplicate (file, pos) row, which
        the read-side anti-join makes harmless — deletes are idempotent
        by construction, the property an at-least-once upstream needs.
        The delete file is INVISIBLE until the manifest commit, so a
        crashed half-written delete can never hide rows or corrupt a
        read. Returns the delete-commit number."""
        _, manifest = self._resolve()
        base = self._base_frame(manifest).select(
            self.key, "_file", "_pos"
        )
        resolved = base.join(F.broadcast(keys), [self.key], "left_semi")
        commit = self._next_delete_commit()
        os.makedirs(self._deletes, exist_ok=True)
        name = f"d-{commit}.parquet"
        resolved.select("_file", "_pos").write.mode("overwrite").parquet(
            f"{self._deletes}/{name}"
        )
        self._commit(
            manifest["gen_dirs"], manifest["delete_files"] + [name]
        )
        return commit

    # -- read -----------------------------------------------------------

    def _base_frame(self, manifest: dict) -> DataFrame:
        """The manifest's base rows: one scan per generation directory
        (``basePath`` keeps ``_file`` as a partition column), unioned.
        Generations are bounded by compaction count (and pruned by
        vacuum), so this is a union of a handful of scans — 1 for an
        uncompacted table."""
        by_parent: dict[str, list[int]] = {}
        for fid, parent in manifest["gen_dirs"].items():
            by_parent.setdefault(parent, []).append(int(fid))
        if not by_parent:
            # every row deleted+compacted away: empty frame, base
            # schema — from the manifest when persisted (data/ may hold
            # no readable parquet after compaction + vacuum), falling
            # back to a data/ footer scan for legacy manifests
            schema_json = manifest.get("schema")
            if schema_json is not None:
                from pyspark.sql.types import StructType

                return self.spark.createDataFrame(
                    [], StructType.fromJson(json.loads(schema_json))
                )
            return self.spark.read.parquet(self._data).limit(0)
        frames = []
        for parent, fids in sorted(by_parent.items()):
            base_path = f"{self.root}/{parent}"
            paths = [f"{base_path}/_file={fid}" for fid in sorted(fids)]
            frames.append(
                self.spark.read.option("basePath", base_path).parquet(
                    *paths
                )
            )
        return reduce(lambda a, b: a.unionByName(b), frames)

    def _delete_paths(self, manifest: dict) -> list[str]:
        return [f"{self._deletes}/{n}" for n in manifest["delete_files"]]

    def _delete_rows(
        self, manifest: dict | None = None
    ) -> DataFrame | None:
        if manifest is None:
            _, manifest = self._resolve()
        paths = self._delete_paths(manifest)
        if not paths:
            return None
        return self.spark.read.parquet(*paths)

    def _delete_bytes(self, manifest: dict | None = None) -> int:
        """On-disk size of the manifest's delete files — filesystem
        metadata only, no data scan; the broadcast-safety signal."""
        if manifest is None:
            _, manifest = self._resolve()
        total = 0
        for d in self._delete_paths(manifest):
            if os.path.isfile(d):
                total += os.path.getsize(d)
                continue
            for dirpath, _, names in os.walk(d):
                total += sum(
                    os.path.getsize(os.path.join(dirpath, n)) for n in names
                )
        return total

    def _anti_join_deletes(
        self, base: DataFrame, dels: DataFrame, manifest: dict
    ) -> DataFrame:
        """base LEFT ANTI deletes on (_file, _pos), hinting broadcast
        ONLY while the delete files are small on disk. Past the
        threshold the shape is the optimizer's call (AQE shuffles or
        broadcasts on real runtime sizes) — a forced hint there would
        collect billions of pairs to the driver and OOM it."""
        dels = dels.distinct()
        if self._delete_bytes(manifest) <= self.broadcast_threshold_bytes:
            dels = F.broadcast(dels)
        return base.join(dels, ["_file", "_pos"], "left_anti")

    def read(self, version: int | None = None) -> DataFrame:
        """Live rows at a version (default: newest): base MINUS that
        version's positional deletes.

        One LEFT ANTI join on (_file, _pos); while the pending delete
        set is small (the common case — compaction re-folds it) the
        join is hinted broadcast and the base never shuffles, the
        Iceberg v2 read path. A delete set past
        ``broadcast_threshold_bytes`` drops the hint and survives as a
        shuffled anti-join instead of OOMing the driver. The plan
        resolves the manifest ONCE, here — a reader holds its snapshot
        through any concurrent commit (files referenced by a committed
        manifest are never moved; only vacuum() reclaims them).
        Carries ``_file`` and ``_pos`` so callers can audit provenance;
        project them away for user-facing reads."""
        _, manifest = self._resolve(version)
        base = self._base_frame(manifest)
        dels = self._delete_rows(manifest)
        if dels is None:
            return base
        return self._anti_join_deletes(base, dels, manifest)

    def delete_stats(self) -> DataFrame:
        """Per-file (n_rows, n_deleted, delete_ratio) — the compaction
        trigger a table service polls. Two bounded aggregates; the
        ratio divides exact bigints once."""
        _, manifest = self._resolve()
        base = self._base_frame(manifest).groupBy("_file").agg(
            F.count(F.lit(1)).alias("n_rows")
        )
        dels = self._delete_rows(manifest)
        if dels is None:
            deleted = base.select("_file").withColumn(
                "n_deleted", F.lit(0).cast("bigint")
            )
        else:
            deleted = (
                dels.distinct()
                .groupBy("_file")
                .agg(F.count(F.lit(1)).alias("n_deleted"))
            )
        return (
            base.join(deleted, "_file", "left")
            .withColumn(
                "n_deleted",
                F.coalesce(F.col("n_deleted"), F.lit(0)).cast("bigint"),
            )
            .withColumn(
                "delete_ratio",
                F.round(
                    F.col("n_deleted").cast("double")
                    / F.col("n_rows").cast("double"),
                    4,
                ),
            )
        )

    # -- maintenance ------------------------------------------------------

    def compact(
        self,
        min_delete_ratio: float = 0.1,
        stats: DataFrame | None = None,
    ) -> list[int]:
        """Fold deletes into the files whose delete ratio ≥ threshold:
        rewrite ONLY those file directories without their deleted rows
        into a fresh generation directory, then commit a manifest that
        (a) points the hot file ids at the new generation, (b) drops
        fully-deleted file ids, and (c) lists only the RESIDUAL delete
        set (entries for non-compacted files). Untouched files keep
        their directories byte-identical — selective copy-on-write,
        the Iceberg maintenance recipe. Returns the rewritten file ids.

        Crash-safe and reader-isolated BY THE POINTER: every new byte
        (the rewritten generation, the residual delete file) lands at
        paths no committed manifest references; the single rename that
        publishes the new manifest is the only visible state change. A
        crash before it leaves the table at the previous version with
        some orphan files (vacuum's job); a crash after it IS the new
        version. A reader that resolved the previous manifest keeps
        collecting correctly throughout, because nothing it references
        moves — the resurrection and missing-file windows of a rename-
        swap design structurally cannot occur."""
        _, manifest = self._resolve()
        # ``stats`` lets a caller that ALREADY materialized this
        # table-version's delete_stats (the compaction profile pins the
        # pre-state before mutating) hand it in instead of paying the
        # base+deletes scan again (r14). It must be delete_stats() of
        # the CURRENT version; hot ids the manifest no longer lists
        # prove a commit came in between, and are refused below.
        if stats is None:
            stats = self.delete_stats()
        stats = stats.filter(
            (F.col("delete_ratio") >= min_delete_ratio)
            & (F.col("n_deleted") > 0)
        )
        hot = [int(r["_file"]) for r in stats.select("_file").collect()]
        stale = sorted(set(hot) - {int(fid) for fid in manifest["gen_dirs"]})
        if stale:
            raise ValueError(
                f"compact(stats=...): file ids {stale} are not in the current "
                "manifest; the stats frame is from an older table version"
            )
        if not hot:
            return []
        dels = self._delete_rows(manifest).distinct()
        base = self._base_frame(manifest)
        gen = f"gen-v{max(self.versions()) + 1}"
        gen_path = f"{self.root}/{gen}"
        shutil.rmtree(gen_path, ignore_errors=True)
        # 1. WRITE NEW: hot files minus their deletes → the new
        # generation, one directory per file id. Sources stay fully
        # intact and visible at the current version.
        base.filter(F.col("_file").isin(hot)).join(
            dels, ["_file", "_pos"], "left_anti"
        ).write.mode("overwrite").partitionBy("_file").parquet(gen_path)
        replaced = [
            fid
            for fid in hot
            if os.path.isdir(f"{gen_path}/_file={fid}")
        ]
        dropped = [fid for fid in hot if fid not in replaced]
        # 2. WRITE the residual delete set (pending deletes for
        # non-compacted files) as a fresh delete commit — invisible
        # until the manifest flips.
        remaining = dels.filter(~F.col("_file").isin(hot))
        has_remaining = remaining.limit(1).count() > 0
        delete_files: list[str] = []
        if has_remaining:
            commit = self._next_delete_commit()
            name = f"d-{commit}.parquet"
            os.makedirs(self._deletes, exist_ok=True)
            remaining.write.mode("overwrite").parquet(
                f"{self._deletes}/{name}"
            )
            delete_files = [name]
        # 3. COMMIT: one atomic pointer flip.
        gen_dirs = {
            int(fid): parent
            for fid, parent in manifest["gen_dirs"].items()
            if int(fid) not in set(dropped)
        }
        for fid in replaced:
            gen_dirs[fid] = gen
        self._commit(gen_dirs, delete_files)
        return sorted(hot)

    def vacuum(self, keep_last: int = 2) -> list[str]:
        """Reclaim storage: delete every data directory and delete file
        not referenced by the newest ``keep_last`` manifests, plus the
        superseded manifests themselves and crash orphans. Retention is
        the reader contract — a plan resolved against a retained
        version stays collectible; only vacuum can break a reader, and
        only one older than the retention horizon (the Iceberg/Delta
        ``VACUUM`` semantics exactly). Returns the removed paths.

        ``keep_last`` must be ≥ 1: retaining zero versions would delete
        every manifest, data directory, and delete file — silently
        destroying the table instead of reclaiming storage (Iceberg/
        Delta VACUUM always retains the current snapshot)."""
        if keep_last < 1:
            raise ValueError(
                f"vacuum(keep_last={keep_last}): must retain >= 1 "
                "version — the current snapshot is never collectible"
            )
        vs = self.versions()
        if not vs:
            return []
        kept = vs[-keep_last:]
        ref_dirs: set[str] = set()
        ref_dels: set[str] = set()
        for v in kept:
            m = self._read_manifest(v)
            for fid, parent in m["gen_dirs"].items():
                ref_dirs.add(f"{parent}/_file={fid}")
            ref_dels.update(m["delete_files"])
        removed: list[str] = []
        # data directories (base + generations)
        parents = [
            n
            for n in os.listdir(self.root)
            if n == "data" or n.startswith("gen-")
        ]
        for parent in parents:
            pdir = f"{self.root}/{parent}"
            if not os.path.isdir(pdir):
                continue
            for n in os.listdir(pdir):
                if not n.startswith("_file="):
                    continue
                rel = f"{parent}/{n}"
                if rel not in ref_dirs:
                    shutil.rmtree(f"{pdir}/{n}", ignore_errors=True)
                    removed.append(rel)
            if not any(
                n.startswith("_file=") for n in os.listdir(pdir)
            ) and parent != "data":
                shutil.rmtree(pdir, ignore_errors=True)
        # delete files
        if os.path.isdir(self._deletes):
            for n in os.listdir(self._deletes):
                if n.startswith("d-") and n not in ref_dels:
                    path = f"{self._deletes}/{n}"
                    if os.path.isdir(path):
                        shutil.rmtree(path, ignore_errors=True)
                    else:
                        os.unlink(path)
                    removed.append(f"deletes/{n}")
        # superseded manifests + crashed temp manifests
        for v in vs:
            if v not in kept:
                os.unlink(self._manifest_path(v))
                removed.append(f"_v/v{v}.json")
        for n in os.listdir(self._manifests):
            if n.startswith(".tmp-"):
                os.unlink(f"{self._manifests}/{n}")
                removed.append(f"_v/{n}")
        return sorted(removed)
