#!/usr/bin/env python3
"""Benchmark of the ETL engine: a daily ETL DAG and a cold shared-fixture
suite, each timed end to end and, in a traced run, split by layer.

    python3 etlbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0
    python3 etlbench/run.py --workload fixture_cold --seed 1 --repeat 5
    python3 etlbench/run.py --diff A.json B.json

Run from the repository root. Each run generates its inputs from
``--seed`` (datagen.py), starts one Spark session on ``local[<cpus>]``
with ``create_session`` defaults (JVM launch, session and warm-up:
``setup_s``), then runs rounds of the workload until ``--seconds`` have
passed. Outputs are checked against DuckDB after the timed region.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). A traced run runs the same rounds
with every layer's public calls wrapped in spans (layers.py); it prints a
per-layer table and writes its spans to ``.etlbench/records/``;
``--diff`` compares two records. End-to-end numbers come only from
untraced runs.

``--repeat N`` is the steadiness self-check: N untraced runs with seeds
``seed .. seed+N-1``, then the median and quartile spread per metric.

Everything the run writes stays under ``.etlbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".etlbench")
PACKAGE = "asritha_metamorphetl_spark"

SCALE = 1

#: End-to-end metrics, as in BENCHMARK.json. Query latency percentiles
#: and the peak RSS are printed but not bounded: a run holds 10 or 11
#: latency samples, too few for a steady p90, and the RSS follows JVM
#: heap growth (it spread 30-40% across seeds).
END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
}


def _emit(out, line: str) -> None:
    out.write(line + "\n")
    out.flush()


def _percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest value with at least q% of
    the samples at or below it."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * q // 100))
    return ordered[int(rank) - 1]


def _bytes_since(root: str, since: float) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            if st.st_mtime >= since:
                total += st.st_size
    return total


def _isolate(work: str) -> None:
    """Keep every file the run writes under ``work``: Python and JVM temp
    files, Spark local dirs, warehouse and metastore files (cwd)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # HotSpot writes its perf-data file to /tmp/hsperfdata_<user>/ whatever
    # java.io.tmpdir says; -XX:-UsePerfData keeps it from writing there.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Spark's Python workers import the package from here.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None
    os.chdir(work)


def _stop_jvm() -> None:
    """Stop the active session and the JVM behind it; wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _warm_up(spark, data_dir: str) -> None:
    """Read the smallest input table once: the JVM's first Spark job."""
    from asritha_metamorphetl_spark.sources.files import Catalog

    Catalog(data_dir).load(spark, "region").write.format("noop").mode("overwrite").save()


def bench(args, work: str, out) -> dict:
    import datagen
    import layers
    import spans
    import workloads

    t_start = time.perf_counter()
    phase = lambda what: print(  # noqa: E731
        f"[{time.perf_counter() - t_start:7.2f} s] {what}", file=sys.stderr, flush=True)
    data = os.path.join(work, "data")
    rows = datagen.generate(data, args.seed, SCALE)
    phase("inputs generated")
    wl = workloads.WORKLOADS[args.workload](data, work, args.seed, rows)

    from asritha_metamorphetl_spark.session import create_session

    cpus = len(os.sched_getaffinity(0))
    new_session = lambda: create_session(  # noqa: E731
        app_name=f"etlbench-{args.workload}", master=f"local[{cpus}]")

    # One set-up per process: it launches the JVM. A repeat after
    # spark.stop() would reuse the warm JVM, and one in a new JVM costs as
    # much as the first, so the spread of setup_s comes from runs over seeds.
    t0 = time.perf_counter()
    spark = new_session()
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    _warm_up(spark, data)
    t2 = time.perf_counter()
    setup_s, create_s = t2 - t0, t1 - t0

    phase("set up")
    jobs = layers.JobCounter()
    jobs.attach(spark)
    fixture_log = layers.FixtureLog()
    tracer = None
    if args.trace:
        tracer = spans.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", jobs)
        root = tracer.record("bench.setup", "bench.setup", t0, t2)
        tracer.record("session.create_session", "session", t0, t1, parent=root)
    probe = workloads.Probe(tracer)
    hits = {"calls": 0, "hits": 0}
    cached = {"nodes": 0}
    totals = {"bytes_written": 0, "first_touch_s": 0.0, "fixture_builds": {}}
    walls, lat = [], []
    attempted = failed = 0
    patches = spans.Patches()
    if tracer is not None:
        layers.instrument(tracer, patches, hits, cached)
    try:
        # Rounds until --seconds have passed. One round of either workload
        # takes over 10 s, so a 10 s run times one DAG day or one suite pass
        # in a newly launched JVM, as a nightly run does. Later DAG days in
        # the same JVM ran while the JIT was still compiling: the median of
        # three days spread 0.41 (IQR / median) across ten seeds, the first
        # day alone 0.10.
        while not walls or sum(walls) < args.seconds:
            if wl.fresh_session_per_round and walls:
                jobs.detach()
                spark.stop()
                spark = new_session()
                spark.sparkContext.setLogLevel("ERROR")
                jobs.attach(spark)
            fixture_log.mark()
            since = time.time()
            t0 = time.perf_counter()
            with probe.span("bench.round", "bench"):
                round_lat, round_failed = wl.run_round(spark, probe)
            walls.append(time.perf_counter() - t0)
            lat += round_lat
            attempted += len(round_lat) + round_failed
            failed += round_failed + wl.after_round(spark)
            if tracer is None:
                continue
            jobs.harvest()
            built = fixture_log.new()
            totals["fixture_builds"].update({f"{k}#{len(walls)}": v for k, v in built.items()})
            totals["first_touch_s"] += wl.last_first_touch_s
            if isinstance(wl, workloads.EtlDaily):
                totals["bytes_written"] += _bytes_since(wl.root, since)
    finally:
        patches.restore()

    phase("timed rounds done")
    oracle = workloads.Oracle(data)
    checked, check_failed = wl.check(spark, oracle)
    oracle.close()
    phase("outputs checked")
    # Each output check counts as an operation: a mismatch is a failure.
    attempted += checked
    failed += check_failed

    p50, p90 = (_percentile(lat, 50), _percentile(lat, 90)) if lat else (0.0, 0.0)
    _emit(out, f"{args.workload}: seed {args.seed}, set-up {setup_s:.3f} s, rounds "
               + ", ".join(f"{w:.3f}" for w in walls) + f" s, {len(lat)} "
               f"latency samples ({sum(v > p90 for v in lat)} above p90), "
               f"{checked} outputs checked, {failed} failed "
               f"(failed_frac {failed / max(attempted, 1):.3f})")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    rss = _peak_rss_mb(jvm_pid)

    if tracer is None:
        values = {"setup_s": setup_s, "run_s": statistics.median(walls)}
        _emit(out, f"{args.workload}: query p50 {p50:.3f} s, "
                   f"p90 {p90:.3f} s, peak RSS {rss:.1f} MiB (driver JVM + Python)")
        result["metrics"] = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        return result

    # Tracing overhead: the cost of one span, measured on this tracer, times
    # the spans a round recorded. Traced rounds compared with untraced ones
    # in the same process differ more by JIT warm-up than by tracing; the
    # traced run_s (trace.run_s) against an untraced run's run_s gives the
    # overhead plus run-to-run noise.
    in_rounds = spans.in_rounds(tracer.spans, "bench.round")
    per_span = spans.span_cost(tracer)
    totals.update(create_s=create_s, fixture_hits=hits,
                  cached_nodes=cached["nodes"], peak_rss_mb=rss,
                  run_s=statistics.median(walls),
                  overhead_s=per_span * len(in_rounds) / len(walls))
    metrics = layers.layer_metrics(in_rounds, tracer.client, jobs, len(walls), totals)
    table = layers.layer_table(in_rounds, tracer.client, jobs)
    _emit(out, spans.format_table(
        table, f"{args.workload} seed {args.seed}: per-layer self time over "
               f"{len(walls)} traced rounds, run_s {statistics.median(walls):.3f} s "
               f"(self times sum to the rounds' wall time; tracing overhead "
               f"{metrics['trace.overhead_s']:.3f} s per round)"))
    _emit(out, f"set-up, outside the rounds: session.create_session {create_s:.3f} s, "
               f"set-up {setup_s:.3f} s")
    record = {
        "workload": args.workload, "seed": args.seed, "run": tracer.run_id,
        "rounds": len(walls), "round_s": walls, "setup_s": setup_s,
        "metrics": metrics, "layers": table, "details": layers.details(in_rounds),
        "fixture_builds": totals["fixture_builds"],
        "spans": spans.span_records(tracer.spans, tracer.run_id),
    }
    os.makedirs(os.path.join(STATE, "records"), exist_ok=True)
    path = os.path.join(STATE, "records", f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(record, fh)
    _emit(out, f"record: {os.path.relpath(path, ROOT)}")
    result["metrics"] = {
        k: {"value": metrics[k], "unit": u} for k, u in layers.PER_LAYER.items()
    }
    return result


def _peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS (VmHWM) of the driver JVM plus this Python process, in MiB."""
    with open(f"/proc/{jvm_pid}/status") as fh:
        jvm_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def self_check(args) -> int:
    """Repeat untraced runs over consecutive seeds; print median, quartiles
    and spread (IQR / median) per metric."""
    values: dict[str, list[float]] = {}
    for seed in range(args.seed, args.seed + args.repeat):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        res = json.loads(lines[-1])
        print(f"seed {seed}: correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4f}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    summary = {}
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        summary[k] = {"median": med, "q1": q1, "q3": q3,
                      "spread": (q3 - q1) / med if med else 0.0}
        print(f"{k:<14} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  "
              f"spread {summary[k]['spread']:.4f}")
    print(json.dumps({"workload": args.workload, "runs": args.repeat, "metrics": summary}))
    return 0


def diff(a_path: str, b_path: str) -> int:
    """Per-layer difference of two trace records (B minus A)."""
    with open(a_path) as fh:
        a = json.load(fh)
    with open(b_path) as fh:
        b = json.load(fh)
    ra, rb = a["rounds"], b["rounds"]
    print(f"A {a['workload']} seed {a['seed']} ({ra} rounds)  "
          f"B {b['workload']} seed {b['seed']} ({rb} rounds), per round")
    print(f"{'layer':<16}{'self_s A':>10}{'self_s B':>10}{'delta':>9}"
          f"{'jobs A':>8}{'jobs B':>8}{'tasks A':>9}{'tasks B':>9}")
    for layer in sorted(set(a["layers"]) | set(b["layers"])):
        la = a["layers"].get(layer, {})
        lb = b["layers"].get(layer, {})
        sa, sb = la.get("wall_s", 0) / ra, lb.get("wall_s", 0) / rb
        print(f"{layer:<16}{sa:>10.3f}{sb:>10.3f}{sb - sa:>+9.3f}"
              f"{la.get('jobs', 0) / ra:>8.1f}{lb.get('jobs', 0) / rb:>8.1f}"
              f"{la.get('tasks', 0) / ra:>9.1f}{lb.get('tasks', 0) / rb:>9.1f}")
    for k in a["metrics"]:
        va, vb = a["metrics"][k], b["metrics"].get(k)
        if vb is not None and va != vb:
            print(f"  {k:<26} {va:>12.4f} -> {vb:>12.4f}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("etl_daily", "fixture_cold"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0)
    ap.add_argument("--diff", nargs=2, metavar=("A", "B"))
    args = ap.parse_args()
    if args.diff:
        return diff(*args.diff)
    if args.workload is None:
        ap.error("--workload is required")
    if args.repeat:
        return self_check(args)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE} not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2

    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(STATE, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    # The JVM inherits fd 1: route everything to stderr and keep a dup of
    # stdout for the report, so the JSON line is the last stdout line.
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    _isolate(work)
    try:
        result = bench(args, work, out)
    finally:
        _stop_jvm()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    _emit(out, json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
