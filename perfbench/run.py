#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload analytics_relational --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. It builds nothing: the program is
the `event_store_spark` package next to this directory. The last line of
stdout is one JSON object {correct, attempted, failed, metrics}; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones from a separately traced run. Everything the run writes
stays under ``.bench_run/`` (scratch, removed at exit) and ``.bench_out/``
(reports) in the checkout. The exit code is non-zero when any output was
wrong or the program could not be run. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")

ANALYTICS = ("analytics_relational", "analytics_ml")
#: the ingest workloads run with the same command but are not listed in
#: BENCHMARK.json (see README.md)
WORKLOADS = (*ANALYTICS, "ingest_small", "ingest_bulk")

#: program set-ups per run; setup_s is the session start plus their median
SETUP_REPS = 2

#: end-to-end metrics of the analytics and of the ingest workloads (see
#: README.md)
E2E_COMMON = {"setup_s": "s", "peak_rss_mb": "MB"}
ANALYTICS_E2E = {
    **E2E_COMMON,
    "suite_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "cold_suite_s": "s",
}
INGEST_E2E = {
    **E2E_COMMON,
    "deliver_p50_s": "s",
    "deliver_tail_s": "s",
    "events_per_s": "1/s",
    "catchup_events_per_s": "1/s",
}

#: per-rep set-up steps; setup.session_s is timed once per run
SETUP_STEPS = ("setup.fixtures_s", "setup.warmup_s", "setup.side_tables_s")
INGEST_LAYER = {
    "core.save_s": "s",
    "core.save_jobs": "count",
    "core.files_per_append": "count",
    "core.topic_files": "count",
    "core.bytes_per_event": "B",
    "core.load_s": "s",
    "core.load_jobs": "count",
    "avro.encode_us_per_event": "us",
    "avro.decode_us_per_event": "us",
    "crypto.encrypt_us_per_event": "us",
    "crypto.decrypt_us_per_event": "us",
    "streaming.replicate_p50_s": "s",
    "streaming.replicate_tail_s": "s",
    **{
        f"streaming.{kind}{suffix}": unit
        for kind in ("replicate", "subscribe")
        for suffix, unit in (
            ("_s", "s"),
            ("_jobs", "count"),
            ("_batches", "count"),
            (".latest_offset_ms", "ms"),
            (".query_planning_ms", "ms"),
            (".add_batch_ms", "ms"),
            (".wal_commit_ms", "ms"),
        )
    },
    "streaming.subscribe.processor_s": "s",
    "streaming.skipped_batches": "count",
    "streaming.useful_batch_ratio": "ratio",
}


#: warm-pass medians per query, and the same on the cold pass
PLANS_LAYER = {
    f"plans.{stage}{name}": unit
    for stage in ("", "cold_")
    for name, unit in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))
}


def layer_units(workload: str) -> dict[str, str]:
    """The per-layer metrics a traced run of ``workload`` prints."""
    units = {name: "s" for name in ("setup.session_s", *SETUP_STEPS)}
    units.update(PLANS_LAYER if workload in ANALYTICS else INGEST_LAYER)
    return units


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def prepare_environment(work_dir: str, heap_mb: int) -> None:
    """Point every temporary file of the run (Python, JVM, Spark) at
    ``work_dir`` before pyspark is imported."""
    os.makedirs(work_dir, exist_ok=True)
    os.environ["TMPDIR"] = work_dir
    os.environ["SPARK_LOCAL_DIRS"] = work_dir
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work_dir, "warehouse")
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_mb}m"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    tempfile.tempdir = work_dir


def set_up(workload: str, seed: int, work_dir: str, cores: int):
    """Start the session once, then set up the program's state SETUP_REPS
    times over fresh inputs (a fresh event-log root; a fresh copy of the
    fixtures, so no plan, table or side-table memo carries over) and keep
    the last. Returns (state, session start seconds, per-rep timings)."""
    from common import Tracer, session_conf

    from event_store_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cores, extra_conf=session_conf(work_dir))
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    reps = []
    state = None
    for k in range(SETUP_REPS):
        rep_dir = os.path.join(work_dir, f"setup-{k}")
        os.makedirs(rep_dir)
        steps = {}
        if workload in ANALYTICS:
            import analytics

            sf_dir = shutil.copytree(FIXTURES, os.path.join(rep_dir, "fixtures"))
            t = time.perf_counter()
            analytics.load_fixtures(spark, sf_dir)
            steps["setup.fixtures_s"] = time.perf_counter() - t
            t = time.perf_counter()
            analytics.warmup(spark, sf_dir)
            steps["setup.warmup_s"] = time.perf_counter() - t
            t = time.perf_counter()
            analytics.build_side_tables(spark, sf_dir, workload)
            steps["setup.side_tables_s"] = time.perf_counter() - t
            state = sf_dir
        else:
            import ingest

            t = time.perf_counter()
            pipe = ingest.Pipeline(spark, os.path.join(rep_dir, "eventlog"), seed, Tracer(False))
            steps["setup.fixtures_s"] = time.perf_counter() - t
            t = time.perf_counter()
            ingest.warmup(pipe, seed)
            steps["setup.warmup_s"] = time.perf_counter() - t
            steps["setup.side_tables_s"] = 0.0
            state = pipe
        steps["program_s"] = sum(steps.values())
        reps.append(steps)
    return spark, state, session_s, reps


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    try:
        import event_store_spark  # noqa: F401
        import oracle_harness  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.isdir(FIXTURES):
        print(f"perfbench: fixtures missing at {FIXTURES}", file=sys.stderr)
        return 2

    from common import PeakRss, Tracer, driver_heap_mb, machine_cores, stop_jvm, write_json

    cores, heap_mb = machine_cores(), driver_heap_mb()
    work_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    prepare_environment(work_dir, heap_mb)
    tracer = Tracer(bool(args.trace))
    try:
        if args.workload in ANALYTICS:
            import analytics

            # before the session starts, so neither the time nor the memory
            # of the DuckDB oracle is billed to the program
            oracle = analytics.oracle_results_in_child(FIXTURES, args.workload, out_dir)
        with PeakRss() as rss:
            try:
                spark, state, session_s, setup_reps = set_up(
                    args.workload, args.seed, work_dir, cores
                )
                if args.workload in ANALYTICS:
                    result = analytics.run(
                        spark, state, args.workload, args.seed, args.seconds, tracer, oracle
                    )
                else:
                    import ingest

                    state.tracer = tracer
                    result = ingest.run(state, args.workload, args.seed, args.seconds, tracer)
            except Exception:  # noqa: BLE001 - the program failed: report, do not measure
                traceback.print_exc(file=sys.stderr)
                print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
                return 1
            finally:
                stop_jvm()
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)

    e2e = {
        "setup_s": session_s + statistics.median(r["program_s"] for r in setup_reps),
        "peak_rss_mb": rss.peak_mb,
        **result["e2e"],
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "driver_heap_mb": heap_mb,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "fail_ratio": result["failed"] / result["attempted"],
        "end_to_end": e2e,
        "setup_session_s": session_s,
        "setup_reps": setup_reps,
        "detail": result["detail"],
    }
    untraced_path = os.path.join(out_dir, f"{args.workload}-last-untraced.json")
    if args.trace:
        units = layer_units(args.workload)
        layer = {name: statistics.median(r[name] for r in setup_reps) for name in SETUP_STEPS}
        layer["setup.session_s"] = session_s
        layer.update(result["layer"])
        metrics = {name: {"value": float(layer[name]), "unit": unit} for name, unit in units.items()}
        report["per_layer"] = {k: v["value"] for k, v in metrics.items()}
        report["self_times"] = tracer.self_times()
        report["spans"] = tracer.spans
        if os.path.exists(untraced_path):
            with open(untraced_path) as fh:
                untraced = json.load(fh)["end_to_end"]
            report["tracing_overhead"] = {k: e2e[k] - untraced[k] for k in e2e if k in untraced}
        else:
            report["tracing_overhead"] = "no untraced run of this workload in this checkout yet"
    else:
        units = ANALYTICS_E2E if args.workload in ANALYTICS else INGEST_E2E
        metrics = {name: {"value": float(e2e[name]), "unit": unit} for name, unit in units.items()}
        write_json(untraced_path, report)
    write_json(
        os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), report
    )
    summarize(report, sys.stderr)

    correct = result["failed"] == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


def summarize(report: dict, out) -> None:
    print(
        f"perfbench {report['workload']} seed={report['seed']} cores={report['cores']} "
        f"heap={report['driver_heap_mb']}MB attempted={report['attempted']} "
        f"failed={report['failed']} fail_ratio={report['fail_ratio']:.4f}",
        file=out,
    )
    for k, v in report["end_to_end"].items():
        print(f"  {k:20s} {v:.6g}", file=out)
    if "self_times" in report:
        print("  self time by span (s):", file=out)
        for row in report["self_times"]:
            print(
                f"    {row['span']:24s} calls={row['calls']:5d} self={row['self_s']:.3f} "
                f"total={row['total_s']:.3f} jobs={row['jobs']}",
                file=out,
            )
        print(f"  tracing overhead: {report['tracing_overhead']}", file=out)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
