#!/usr/bin/env python3
"""Driver-faithful correctness harness.

Mimics the round driver: builds a BARE SparkSession (no engine confs — the
round-1 events.parquet failure only reproduced under such a session), runs
every ``__spark_entry__.queries()`` entry at sf0.01, runs the matching
``oracle_sql()`` string in DuckDB over the same parquet tables, and compares
them with ``quality.oracle.compare`` (row count, column-name set, and a
value hash computed over columns sorted by name). Run from the repo root:

    python tools/check_correctness.py [sf_dir] [query ...]

Prints one JSON object keyed by query name (same shape as CORRECTNESS_r*.json)
to stdout; progress goes to stderr. Exit code 1 if any query is not green.

OUTPUT-SHAPE CONTRACT: besides the per-query records, the object carries ONE
non-query key, ``__meta__`` (sweep timing/size — VERDICT r10 #7). Query names
are python identifiers, so dunder keys can never collide; every consumer that
iterates the records must skip keys starting with ``__`` (repo audit: the only
in-repo reader, tests/test_skew_fixture.py, pops it; external readers of the
committed SELFCHECK_r*.json files inherit the same rule).

``--jobs N`` runs N queries concurrently (Spark's scheduler interleaves
the actions; each worker compares through its own DuckDB cursor). The
default stays sequential — exactly the driver's cadence — but the
full-registry selfcheck uses --jobs to keep round-end evidence cheap
(VERDICT r9 directive #8). Output is identical either way: results are
collected per query and printed in registry order.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from asritha_metamorphetl_spark.quality.oracle import (  # noqa: E402
    compare,
    hash_rows as _hash_rows,  # noqa: F401 (etlbench loads it by file path)
    record,
    register_views,
)


def main() -> int:
    t_start = time.time()
    args = sys.argv[1:]
    jobs = 1
    if "--jobs" in args:
        i = args.index("--jobs")
        jobs = max(1, int(args[i + 1]))
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    # BARE session, like the driver's: no engine confs beyond master/memory.
    # The driver also types timestamps as NTZ (the r02 user_journeys failure
    # showed events.ts surfacing as TIMESTAMP_NTZ straight off the scan), so
    # mirror that too — it changes how parquet TIMESTAMP(NANOS) resolves.
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "6g")
        .config("spark.sql.timestampType", "TIMESTAMP_NTZ")
        .appName("check-correctness")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = register_views(duckdb.connect(), sf_dir)

    queries = entry.queries()
    oracles = entry.oracle_sql()
    todo = [
        (name, fn)
        for name, fn in queries.items()
        if not only or name in only
    ]

    def _check(name: str, fn) -> dict:
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
        except Exception:
            print(f"  {name}: SPARK ERROR", file=sys.stderr)
            return record(err=traceback.format_exc(limit=5))
        rec = compare(sdf.columns, srows, con, oracles.get(name))
        if rec["err"] == "no_oracle":
            print(f"  {name}: rows-only ({len(srows)})", file=sys.stderr)
        elif rec["err"]:
            print(f"  {name}: ORACLE ERROR", file=sys.stderr)
        else:
            print(
                f"  {name}: {'OK' if rec['hash_match'] else 'MISMATCH'} "
                f"(spark={rec['spark_rows']} oracle={rec['oracle_rows']} "
                f"schema={rec['schema_match']})",
                file=sys.stderr,
            )
        return rec

    results: dict[str, dict] = {}
    if jobs == 1:
        for name, fn in todo:
            results[name] = _check(name, fn)
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=jobs) as pool:
            futs = {name: pool.submit(_check, name, fn) for name, fn in todo}
        results = {name: futs[name].result() for name, _ in todo}

    bad = [
        name
        for name, rec in results.items()
        if not rec["hash_match"] and rec["err"] != "no_oracle"
    ]
    # Timing metadata (VERDICT r10 #7): keep the sweep's cost visible in
    # the evidence file itself as the registry grows. "__meta__" cannot
    # collide with query names (they are python identifiers).
    results["__meta__"] = {
        "sf_dir": sf_dir,
        "jobs": jobs,
        "n_queries": len(todo),
        "n_green": len(todo) - len(bad),
        "wall_seconds": round(time.time() - t_start, 1),
    }
    print(json.dumps(results, indent=1))
    print(
        f"\n{len(todo) - len(bad)}/{len(todo)} green; bad: {bad}",
        file=sys.stderr,
    )
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
