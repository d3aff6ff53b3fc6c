"""Shared body of the derived-catalog builders (``tools/build_*_fixture.py``).

Each builder derives a catalog from a real sf directory: every testdata
table copies through verbatim except the ones it rewrites with DuckDB
SQL. The output keeps the driver's testdata layout, one parquet file per
table, because the oracle-side ``read_parquet('<path>')`` needs files
(Spark writes directories).
"""

from __future__ import annotations

import os
import shutil
import sys


def derive_catalog(src: str, out: str, rewrites: dict[str, str]) -> str:
    """Write ``out`` from ``src``: table ``t`` is ``rewrites[t]`` (SQL
    with a ``{src}`` placeholder for the source file) when present, a
    byte copy otherwise. Tables missing from ``src`` are skipped."""
    import duckdb

    from asritha_metamorphetl_spark.sources.files import TESTDATA_TABLES

    con = duckdb.connect()
    os.makedirs(out, exist_ok=True)
    for t in TESTDATA_TABLES:
        sp = os.path.join(src, f"{t}.parquet")
        dp = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(sp):
            continue
        if t in rewrites:
            sql = rewrites[t].format(src=sp)
            con.execute(f"COPY ({sql}) TO '{dp}' (FORMAT PARQUET)")
        else:
            shutil.copy2(sp, dp)
    return out


def main(build, out_root: str) -> int:
    """Command line of a builder: ``[src_sf_dir] [out_dir]``, defaulting
    to the package CLI's ``DEFAULT_SF_DIR`` and ``<out_root>/<sf_tag>``;
    prints the output directory."""
    from asritha_metamorphetl_spark.__main__ import DEFAULT_SF_DIR

    src = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF_DIR
    tag = os.path.basename(os.path.normpath(src))
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(out_root, tag)
    build(src, out)
    print(out)
    return 0
