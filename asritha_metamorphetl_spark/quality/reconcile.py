"""Dataset reconciliation (the reference's Raptor engine, D2–D7).

Re-expresses the row/column diff pipeline of the Raptor wheel
(Raptor/Raptor.py:491-684) Spark-first:

reference (per submit_raptor_request)          this engine
---------------------------------------------  --------------------------------
cast-all-to-string + na.fill('') (:552-558)    same normalization, plus a
                                               strict mode that distinguishes
                                               NULL from '' (SURVEY §7.3)
concat_ws('') row fingerprint (:560-568)       xxhash64 with a unit separator
                                               (collision-safe vs '' strings)
inner join + Source!=Target filter (:571-579)  one FULL OUTER join computed
outer join + null filter for extras (:619-645) ONCE, row status derived from
~10 separate count()/write() actions           it, one aggregate for the whole
                                               summary — the cached diff frame
                                               feeds every output instead of
                                               re-executing the plan per count
transform+explode column zip (:581-606)        arrays_zip + explode (same HOF
                                               idiom, fewer passes)

Everything is keyed by the primary key — joins shuffle on it, so the diff
partitions cleanly at any scale; no global windows, no driver-side loops.
The persisted diff's partition count follows its size, not
``spark.sql.shuffle.partitions``: the session lets AQE coalesce cached
plans (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``),
and no output below is keyed on the join key, so none re-shuffles it.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Field separator for the row fingerprint. The reference concatenates with
#: no separator (Raptor/Raptor.py:560-568), so ('ab','c') == ('a','bc');
#: a \x1f unit separator removes that collision class.
_SEP = "\x1f"
#: Distinguishes NULL from empty string in strict mode.
_NULL = "\x00<null>"

def _status() -> "F.Column":
    """Row status off the joined fingerprints. Built lazily — a module-
    level Column would require an active SparkContext at import time,
    breaking any consumer that imports the package before creating a
    session (the driver's import order is not ours to control)."""
    return (
        F.when(F.col("__fp_t").isNull(), "source_only")
        .when(F.col("__fp_s").isNull(), "target_only")
        .when(F.col("__fp_s") == F.col("__fp_t"), "match")
        .otherwise("mismatch")
    )


@dataclass
class ReconcileResult:
    """Lazy result frames; ``diff`` is cached — unpersist() when done."""

    keys: list[str]
    columns: list[str]
    diff: DataFrame           # keys + per-side fingerprints/values + __status
    summary: DataFrame        # one row of counts + mismatch percentage
    row_mismatches: DataFrame  # keys of rows present both sides but different
    column_mismatches: DataFrame  # keys + column_name + source/target values
    source_only: DataFrame    # rows only in source (reference work.src_*)
    target_only: DataFrame    # rows only in target (reference work.tgt_*)

    def unpersist(self) -> None:
        if self.diff.storageLevel.useMemory or self.diff.storageLevel.useDisk:
            self.diff.unpersist()


def _normalize(df: DataFrame, keys: Sequence[str], cols: Sequence[str], strict_nulls: bool, side: str) -> DataFrame:
    null_repr = _NULL if strict_nulls else ""
    as_str = [
        F.coalesce(F.col(c).cast("string"), F.lit(null_repr)).alias(c) for c in cols
    ]
    vals = F.array(*[F.col(c) for c in cols])
    return df.select(*keys, *as_str).select(
        *keys,
        F.xxhash64(F.concat_ws(_SEP, *cols)).alias(f"__fp_{side}"),
        vals.alias(f"__vals_{side}"),
    )


def reconcile(
    source: DataFrame,
    target: DataFrame,
    keys: Sequence[str],
    compare_columns: Sequence[str] | None = None,
    strict_nulls: bool = False,
    persist: bool = True,
) -> ReconcileResult:
    """Full reconciliation of two keyed datasets.

    ``compare_columns`` defaults to the non-key columns common to both
    sides. ``strict_nulls=False`` reproduces the reference's semantics
    where NULL and '' compare equal (Raptor/Raptor.py:554-558);
    ``True`` distinguishes them. ``persist=True`` caches the diff frame
    for callers that consume several result frames (call
    ``result.unpersist()`` when done); pass False for single-result use
    so nothing lingers in the cache. The cached diff is sized by AQE:
    a small diff is a few partitions, not ``spark.sql.shuffle.partitions``,
    so each read of it runs that few tasks.
    """
    keys = list(keys)
    if compare_columns is None:
        common = [c for c in source.columns if c in set(target.columns)]
        compare_columns = [c for c in common if c not in keys]
    cols = list(compare_columns)
    if not cols:
        raise ValueError("no columns to compare")

    src = _normalize(source, keys, cols, strict_nulls, "s")
    tgt = _normalize(target, keys, cols, strict_nulls, "t")

    # ONE full-outer join on the key carries every downstream result.
    diff = src.join(tgt, on=keys, how="full_outer").withColumn("__status", _status())
    if persist:
        diff = diff.persist()

    summary = diff.agg(
        F.count(F.col("__fp_s")).alias("source_rows"),
        F.count(F.col("__fp_t")).alias("target_rows"),
        F.sum(F.when(F.col("__status").isin("match", "mismatch"), 1).otherwise(0)).alias(
            "common_rows"
        ),
        F.sum(F.when(F.col("__status") == "match", 1).otherwise(0)).alias("matched_rows"),
        F.sum(F.when(F.col("__status") == "mismatch", 1).otherwise(0)).alias(
            "mismatched_rows"
        ),
        F.sum(F.when(F.col("__status") == "source_only", 1).otherwise(0)).alias(
            "source_only_rows"
        ),
        F.sum(F.when(F.col("__status") == "target_only", 1).otherwise(0)).alias(
            "target_only_rows"
        ),
    ).withColumn(
        # Reference reports mismatch % of compared rows (Raptor/Raptor.py:456-461).
        "mismatch_pct",
        F.when(F.col("common_rows") > 0,
               F.round(F.col("mismatched_rows") / F.col("common_rows") * 100, 2)
        ).otherwise(F.lit(0.0)),
    )

    mism = diff.filter(F.col("__status") == "mismatch")
    row_mismatches = mism.select(*keys)

    # Column-level expansion: zip names with both value arrays, explode,
    # keep differing cells (reference transform+explode, Raptor/Raptor.py:581-606).
    names = F.array(*[F.lit(c) for c in cols])
    zipped = F.arrays_zip(
        names.alias("column_name"),
        F.col("__vals_s").alias("source_value"),
        F.col("__vals_t").alias("target_value"),
    )
    column_mismatches = (
        mism.select(*keys, F.explode(zipped).alias("z"))
        .select(
            *keys,
            F.col("z.column_name").alias("column_name"),
            F.col("z.source_value").alias("source_value"),
            F.col("z.target_value").alias("target_value"),
        )
        .filter(F.col("source_value") != F.col("target_value"))
    )

    source_only = diff.filter(F.col("__status") == "source_only").select(*keys)
    target_only = diff.filter(F.col("__status") == "target_only").select(*keys)

    return ReconcileResult(
        keys=keys,
        columns=cols,
        diff=diff,
        summary=summary,
        row_mismatches=row_mismatches,
        column_mismatches=column_mismatches,
        source_only=source_only,
        target_only=target_only,
    )


def column_mismatch_summary(result: ReconcileResult) -> DataFrame:
    """Per-column mismatch counts + pct of compared rows (reference D6,
    Raptor/Raptor.py:441-474 — its `group by 1` ordinal SQL).

    The compared-row denominator is a 1-row lazy aggregate cross-joined
    into the per-column rollup — ONE action when the caller materializes,
    not a separate eager count() job per report (both branches read the
    cached diff, so the whole summary is two scans of cache in one
    job)."""
    commons = result.diff.agg(
        F.sum(
            F.when(F.col("__status").isin("match", "mismatch"), 1).otherwise(0)
        )
        .cast("long")
        .alias("__commons")
    )
    out = result.column_mismatches.groupBy("column_name").agg(
        F.count(F.lit(1)).alias("mismatch_count")
    )
    return out.crossJoin(commons).select(
        "column_name",
        "mismatch_count",
        F.when(
            F.col("__commons") > 0,
            F.round(F.col("mismatch_count") / F.col("__commons") * 100, 2),
        )
        .otherwise(F.lit(0.0))
        .alias("mismatch_pct"),
    )
