"""Entity ingestion: feed → contract → dup-check → raw/legacy dual write.

Re-expresses the reference's four ingestion tasks
(ETL_Airflow/dags/tasks/ingestion_task.py:16-298) as one parameterized
pipeline over a parquet warehouse:

    raw/<entity>/        mode=overwrite   (reference raw.<entity>_pre)
    legacy/<entity>/     mode=append, partitioned by DAY_DT
                         (reference legacy.<entity> daily snapshots)

Improvements over the reference (each a documented anti-pattern, SURVEY §4):
- the frame is cached across dup-check + two writes (the reference
  recomputes the full upstream plan for every action),
- DAY_DT is a real partition column, so legacy reads prune by day instead
  of scanning history,
- positional renames validate arity (schema.SchemaDriftError) instead of
  silently mislabeling drifted feeds.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from asritha_metamorphetl_spark.quality.asserts import assert_unique
from asritha_metamorphetl_spark.schema import conform, rename_positional
from asritha_metamorphetl_spark.session import overlap


@dataclass
class Warehouse:
    """Parquet warehouse layout (swap for JDBC sinks via sources/jdbc.py)."""

    root: str

    def raw_path(self, entity: str) -> str:
        return f"{self.root}/raw/{entity}"

    def legacy_path(self, entity: str) -> str:
        return f"{self.root}/legacy/{entity}"


def ingest_entity(
    feed: DataFrame,
    warehouse: Warehouse,
    entity: str,
    contract: StructType,
    primary_key: list[str],
    column_names: list[str] | None = None,
    day: _dt.date | None = None,
) -> DataFrame:
    """Run one entity through the full ingestion path; returns the
    conformed frame (post-write, still cached — caller may unpersist)."""
    if column_names is not None:
        feed = rename_positional(feed, column_names)
    conformed = conform(feed, contract).cache()

    # D1 gate before any write (reference ingestion_task.py:62-63); the
    # cache means the check and both writes share one materialization.
    assert_unique(conformed, primary_key)

    # The raw overwrite and the dated legacy append target DIFFERENT
    # directories and read the same cached frame, so they are
    # independent write jobs — overlap them on a 2-thread pool (guide
    # §2.6: the second job's tasks back-fill the first's commit tail).
    # Same artifacts, same layout; only the wall-clock changes.
    snapshot_day = day or _dt.date.today()

    def write_raw() -> None:
        conformed.write.mode("overwrite").parquet(warehouse.raw_path(entity))

    def write_legacy() -> None:
        (
            conformed.withColumn(
                "DAY_DT", F.lit(snapshot_day.isoformat()).cast("date")
            )
            .write.mode("append")
            .partitionBy("DAY_DT")
            .parquet(warehouse.legacy_path(entity))
        )

    # the pool threads keep the caller's job group (e.g. Pipeline's node
    # name), so the two write jobs are attributed to the calling node
    overlap(conformed.sparkSession, write_raw, write_legacy, workers=2)
    return conformed
