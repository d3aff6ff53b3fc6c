"""The oracle comparison: a query's collected rows against its DuckDB oracle.

The one engine-vs-oracle check, done the way the grading driver does it,
for the correctness harness, the tests and the ``oracle`` CLI command.
Both sides are plain Python rows (``collect()`` / ``fetchall()``). They
match when row counts and column-name sets agree and an order-insensitive
sha256 over normalized cells agrees: the reference's row- and column-wise
source/target diff (Raptor wheel Raptor/Raptor.py:478-684) as one digest.
"""

from __future__ import annotations

import collections
import datetime
import decimal
import hashlib
import math
import os
import traceback

from asritha_metamorphetl_spark.sources.files import TESTDATA_TABLES

_FIELDS = "rows_match schema_match hash_match spark_rows oracle_rows err".split()


def _norm(v):
    """Normalize a cell so Spark and DuckDB hash identically."""
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):  # int(inf) raises; render the sign portably
            return "Inf" if v > 0 else "-Inf"
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
        return repr(round(v, 9))
    if isinstance(v, decimal.Decimal):
        return _norm(float(v))
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{k}:{_norm(v[k])}" for k in sorted(v)
        ) + "}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def _lines(cols, rows) -> list[str]:
    """One normalized line per row, cells in column-name order, sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x01".join(_norm(r[i]) for i in order) for r in rows)


def hash_rows(cols, rows) -> str:
    """Order-insensitive sha256 hex digest of ``rows`` under ``cols``."""
    h = hashlib.sha256()
    for ln in _lines(cols, rows):
        h.update(ln.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return h.hexdigest()


def register_views(con, sf_dir: str):
    """Register each testdata table present under ``sf_dir`` as a DuckDB
    view over its parquet file; missing tables are skipped. Returns
    ``con``."""
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM read_parquet('{path}')"
            )
    return con


def record(**fields) -> dict:
    """A comparison record: every field None unless given."""
    rec = dict.fromkeys(_FIELDS)
    rec.update(fields)
    return rec


def oracle_rows(con, sql: str):
    """Column names and rows of oracle ``sql`` on ``con``. Runs on a
    private cursor, so callers sharing one connection from several
    threads never interleave on it."""
    cur = con.cursor()
    try:
        cur.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        cur.close()


def compare(cols, rows, con, sql: str | None) -> dict:
    """Compare collected ``rows`` (column names ``cols``) with the result
    of oracle ``sql`` on ``con``.

    Returns a record with ``rows_match``, ``schema_match``, ``hash_match``
    (the verdict; False whenever rows or schema differ), ``spark_rows``,
    ``oracle_rows`` and ``err`` (``"no_oracle"`` when ``sql`` is None, the
    oracle's traceback when it fails, otherwise None)."""
    if sql is None:
        return record(spark_rows=len(rows), err="no_oracle")
    try:
        ocols, orows = oracle_rows(con, sql)
    except Exception:
        return record(
            spark_rows=len(rows),
            err="ORACLE: " + traceback.format_exc(limit=3),
        )
    return verdict(cols, rows, ocols, orows)


def verdict(cols, rows, ocols, orows) -> dict:
    """``compare``'s record for oracle rows already fetched with
    ``oracle_rows``."""
    rec = record(spark_rows=len(rows), oracle_rows=len(orows))
    rec["rows_match"] = len(rows) == len(orows)
    rec["schema_match"] = sorted(cols) == sorted(ocols)
    rec["hash_match"] = (
        rec["rows_match"]
        and rec["schema_match"]
        and hash_rows(cols, rows) == hash_rows(ocols, orows)
    )
    return rec


def diff_sample(cols, rows, con, sql: str, n: int = 3) -> str:
    """Why ``rows`` differ from the oracle: row counts, column names, and
    up to ``n`` normalized lines found on only one side, per side."""
    ocols, orows = oracle_rows(con, sql)
    mine = collections.Counter(_lines(cols, rows))
    theirs = collections.Counter(_lines(ocols, orows))

    def show(side, only):
        return [
            f"  {side}: " + ln.replace("\x01", " | ").replace("\x00", "")
            for ln in sorted(only.elements())[:n]
        ]

    return "\n".join(
        [
            f"rows: spark={len(rows)} oracle={len(orows)}",
            f"columns: spark={sorted(cols)} oracle={sorted(ocols)}",
            *show("spark", mine - theirs),
            *show("oracle", theirs - mine),
        ]
    )
