"""Command-line entry point: run, list, explain, and oracle-check the
registered queries without writing any code.

    python -m asritha_metamorphetl_spark list
    python -m asritha_metamorphetl_spark run pricing_summary --sf-dir /root/testdata/sf0.01 -n 10
    python -m asritha_metamorphetl_spark explain cdc_orders_snapshot
    python -m asritha_metamorphetl_spark oracle pricing_summary --sf-dir /root/testdata/sf0.01
    python -m asritha_metamorphetl_spark table versions /warehouse/orders_state
    python -m asritha_metamorphetl_spark table prune /warehouse/orders_state --keep-last 5
    python -m asritha_metamorphetl_spark table vacuum /warehouse/orders_state

The reference exposes its pipelines only as Airflow DAG tasks; this CLI
is the standalone equivalent — every registered query is runnable,
explainable, and oracle-checkable from a shell. ``run`` prints rows
(bounded by ``-n``), ``explain`` prints the formatted physical plan,
``oracle`` runs BOTH engines and reports the same row/schema/hash
verdict the grading driver computes.
"""

from __future__ import annotations

import argparse
import sys

DEFAULT_SF_DIR = "/root/testdata/sf0.01"


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="asritha_metamorphetl_spark",
        description="Run/inspect the engine's registered queries.",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered query names")

    for name, hlp in (
        ("run", "execute a query and print rows"),
        ("explain", "print a query's formatted physical plan"),
        ("oracle", "run query AND DuckDB oracle; compare like the driver"),
    ):
        s = sub.add_parser(name, help=hlp)
        s.add_argument("query", help="registered query name")
        s.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
        if name == "run":
            s.add_argument("-n", "--rows", type=int, default=20)
        s.add_argument("--master", default="local[*]")

    t = sub.add_parser(
        "table", help="snapshot/bucketed table maintenance (versions, "
        "retention, space reclaim)"
    )
    t.add_argument(
        "action", choices=["versions", "vacuum", "prune"],
        help="versions: list; prune: drop manifests beyond --keep-last; "
        "vacuum: delete unreferenced data",
    )
    t.add_argument("root", help="table root directory")
    t.add_argument("--keep-last", type=int, default=10)
    t.add_argument("--master", default="local[*]")
    return p


def _session(master: str):
    from asritha_metamorphetl_spark.session import create_session

    spark = create_session(app_name="ametl-cli", master=master)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _resolve(name: str):
    from asritha_metamorphetl_spark.plans.registry import all_queries

    qs = all_queries()
    if name not in qs:
        close = [q for q in qs if name in q]
        hint = f" (did you mean: {', '.join(close[:5])}?)" if close else ""
        raise SystemExit(f"unknown query {name!r}{hint}")
    return qs[name]


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    if args.cmd == "list":
        from asritha_metamorphetl_spark.plans.registry import (
            all_oracles,
            all_queries,
        )

        oracles = all_oracles()
        for name in all_queries():
            tag = "oracle" if name in oracles else "rows-only"
            print(f"{name}  [{tag}]")
        return 0

    if args.cmd == "table":
        from asritha_metamorphetl_spark.sources.bucketed import open_table

        spark = _session(args.master)
        # open_table dispatches plain vs bucketed by the manifest — the
        # plain vacuum run against a bucketed root would reclaim LIVE
        # commit dirs (bucketed manifests reference _b= subdirectories)
        table = open_table(spark, args.root)
        if args.action == "versions":
            for v in table.versions():
                print(v)
        elif args.action == "prune":
            for v in table.prune_manifests(keep_last=args.keep_last):
                print(f"pruned manifest v{v}")
        else:
            for d in table.vacuum():
                print(f"deleted {d}")
        return 0

    fn = _resolve(args.query)
    spark = _session(args.master)

    if args.cmd == "run":
        df = fn(spark, args.sf_dir)
        df.show(args.rows, truncate=False)
        return 0

    if args.cmd == "explain":
        fn(spark, args.sf_dir).explain("formatted")
        return 0

    # oracle: the driver's compare, one query at a time
    import duckdb

    from asritha_metamorphetl_spark.plans.registry import all_oracles
    from asritha_metamorphetl_spark.quality.oracle import compare, register_views

    sql = all_oracles().get(args.query)
    if sql is None:
        print(f"{args.query}: no oracle registered (rows-only query)")
        return 0
    df = fn(spark, args.sf_dir)
    con = register_views(duckdb.connect(), args.sf_dir)
    rec = compare(df.columns, df.collect(), con, sql)
    print(
        f"{args.query}: rows {rec['spark_rows']}/{rec['oracle_rows']} "
        f"match={rec['rows_match']} schema={rec['schema_match']} "
        f"hash={rec['hash_match']}"
    )
    if rec["err"]:
        print(rec["err"])
    return 0 if rec["hash_match"] else 1


if __name__ == "__main__":
    sys.exit(main())
