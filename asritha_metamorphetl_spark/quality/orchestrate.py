"""End-to-end reconciliation orchestration (reference D7).

Re-expresses ``Raptor.submit_raptor_request`` (wheel Raptor/Raptor.py:491-684)
as one composable operator over this engine's pieces:

    source dispatcher (S8)  →  reconcile (D2-D6)  →  dated parquet
    artifacts (K3)  →  HTML report (K4, pluggable delivery)

Differences from the reference, each deliberate:
- inputs are dispatcher specs (``{"type": "sql", ...}``) instead of the
  hardwired ``pg_admin``/``reporting`` pair (Raptor.py:113-138), so any
  registered connector can feed either side;
- artifacts are written once from the single cached diff frame — the
  reference re-derives mismatch/extra frames from scratch for each write
  (Raptor.py:619-645), paying the full join repeatedly;
- no SMTP host or credentials in code (Raptor.py:144-145 hardcodes both);
  delivery is an injected callable;
- the run returns a result object instead of mutating global state, so it
  can run inside any scheduler (Airflow, cron, plans.runner.Pipeline).

At scale the whole run is one shuffle (the full-outer join on the key)
plus bounded driver-side renders: summary/report frames are capped rows,
artifact writes stream from the persisted diff without recomputation.
The persisted diff's partition count follows its size (AQE coalesces
cached plans, see ``session``), not ``spark.sql.shuffle.partitions``, so
each artifact is written as that many part files and each report read
runs that many tasks.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from asritha_metamorphetl_spark.quality.reconcile import (
    ReconcileResult,
    column_mismatch_summary,
    reconcile,
)
from asritha_metamorphetl_spark.report import Sender, reconcile_report_html
from asritha_metamorphetl_spark.sources.registry import read


@dataclass
class ReconcileRequest:
    """One reconciliation run (reference docstring contract Raptor.py:495-525).

    ``source``/``target`` are source-dispatcher specs: a dict with a
    ``type`` key (``parquet``/``csv``/``sql``/``jdbc``/``rest``) plus that
    connector's kwargs.
    """

    source: dict[str, Any]
    target: dict[str, Any]
    keys: list[str]
    compare_columns: list[str] | None = None
    strict_nulls: bool = False
    artifact_root: str | None = None  # None → skip artifact writes
    title: str = "Reconciliation report"
    run_date: _dt.date | None = None


@dataclass
class ReconcileRun:
    result: ReconcileResult
    column_summary: DataFrame
    html: str
    artifact_paths: dict[str, str] = field(default_factory=dict)

    def unpersist(self) -> None:
        self.result.unpersist()


def _dispatch(spark: SparkSession, spec: dict[str, Any]) -> DataFrame:
    spec = dict(spec)
    source_type = spec.pop("type")
    return read(spark, source_type, **spec)


def submit_reconciliation(
    spark: SparkSession,
    request: ReconcileRequest,
    sender: Sender | None = None,
) -> ReconcileRun:
    """Fetch both sides, reconcile, persist artifacts, render the report.

    Artifact layout mirrors the reference's dated GCS drops
    (``gs://raptor-workflow/{YYYYMMDD}/{loc}``, Raptor.py:104-109):

        {artifact_root}/{YYYYMMDD}/column_mismatches/
        {artifact_root}/{YYYYMMDD}/source_only/
        {artifact_root}/{YYYYMMDD}/target_only/
        {artifact_root}/{YYYYMMDD}/summary/
    """
    src = _dispatch(spark, request.source)
    tgt = _dispatch(spark, request.target)

    result = reconcile(
        src,
        tgt,
        request.keys,
        compare_columns=request.compare_columns,
        strict_nulls=request.strict_nulls,
        persist=True,  # one materialized diff carries report + artifacts
    )
    column_summary = column_mismatch_summary(result)

    artifact_paths: dict[str, str] = {}
    if request.artifact_root is not None:
        day = (request.run_date or _dt.date.today()).strftime("%Y%m%d")
        sections = {
            "summary": result.summary,
            "column_mismatches": result.column_mismatches,
            "source_only": result.source_only,
            "target_only": result.target_only,
        }
        for name, frame in sections.items():
            path = f"{request.artifact_root}/{day}/{name}"
            frame.write.mode("overwrite").parquet(path)
            artifact_paths[name] = path

    html = reconcile_report_html(
        result, title=request.title, column_summary=column_summary
    )
    if sender is not None:
        sender(request.title, html)
    return ReconcileRun(
        result=result,
        column_summary=column_summary,
        html=html,
        artifact_paths=artifact_paths,
    )
