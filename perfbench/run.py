#!/usr/bin/env python3
"""Benchmark of record for the FGAC analytics engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds one ``build_session()`` session on
``local[<cpus>]``, generates the workload's inputs from the seed, sets
up and warms up, then runs a closed loop with one client for at least
``--seconds``, in whole passes or cycles, and checks every output. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer ones). The line
before it carries the report: sample counts, tail percentiles where at
least ten samples lie beyond them, write latencies, bytes stored per
user byte and every failure. Exits 1 when an output is wrong, 2 when
the engine is not next to this directory.

Every file a run writes goes under ``.bench_work/`` in the checkout,
including Spark's local and temp directories and the driver log (the
JVM's and PySpark's stderr, where ERROR records are counted).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "sample_emr_on_eks_fgac_iceberg_spark"
WORKLOADS = ("analytics_sf01", "warehouse_rw")


def _workload(name: str, run):
    if name == "analytics_sf01":
        from perfbench.analytics import Analytics

        return Analytics(run)
    from perfbench.warehouse_rw import WarehouseRW

    return WarehouseRW(run)


def _warm_up(run, wl) -> None:
    t0 = time.perf_counter()
    wl.warmup()
    run.setup["warmup_ms"] = (time.perf_counter() - t0) * 1000.0


def _cpu_probe_ms() -> float:
    """A fixed single-threaded loop, timed at the start and end of a run
    and reported (not gated), so that drift in the machine's speed
    between runs can be told apart from the program's."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    return (time.perf_counter() - t0) * 1000.0


def _ops_per_s(window: dict) -> float:
    return sum(o.ok for o in window["ops"]) / window["wall_s"]


def execute(args, work: str, log) -> dict:
    from perfbench import harness, layers
    from perfbench.spans import Tracer

    run = harness.Run(args.seed, bool(args.trace), work, log)
    probe = [_cpu_probe_ms()]
    t_run = time.perf_counter()
    phases = {}
    try:
        run.start_spark()
        wl = _workload(args.workload, run)
        run.setup["data_ms"] = []
        for rep in range(harness.SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup_data(rep)
            run.setup["data_ms"].append((time.perf_counter() - t0) * 1000.0)
            if rep == 0 and wl.warm_first:
                _warm_up(run, wl)
        if not wl.warm_first:
            _warm_up(run, wl)

        if not args.trace:
            window = run.measure(wl.steps(), args.seconds, wl.min_ops)
            metrics = run.end_to_end(window)
        else:
            # an untraced half, then the same steps again with spans on,
            # from the same starting state (the same pass order, or a
            # lake landed afresh from the same seed): the difference in
            # throughput over matched work is the tracing overhead
            plain = run.measure(wl.steps(), args.seconds / 2, wl.min_ops)
            wl.reset()
            tracer = Tracer()
            layers.instrument(tracer)
            run.tracer = tracer
            try:
                window = run.measure(wl.steps(), n_steps=plain["steps"])
            finally:
                run.tracer = None
                tracer.uninstall()
            overhead = 100.0 * (1 - _ops_per_s(window) / _ops_per_s(plain))
            run.end_to_end(window)  # fills the report
        phases["measured"] = time.perf_counter() - t_run
        wl.verify()
        phases["verified"] = time.perf_counter() - t_run
    finally:
        run.stop_spark()
    phases["stopped"] = time.perf_counter() - t_run
    probe.append(_cpu_probe_ms())
    log.flush()

    if args.trace:
        logs = glob.glob(os.path.join(work, "eventlog", "*"))
        metrics = layers.layer_metrics(
            run, window["ops"], tracer, logs[0] if logs else None,
            getattr(wl, "disk", {}), layers.count_error_lines(log.name), overhead)
        spans_file = os.path.join(os.path.dirname(work), f"spans-{args.workload}-{args.seed}.json")
        tracer.dump(spans_file)
        run.report["spans_file"] = spans_file
    attempted, failed = run.counts()
    failures = [f"{o.id}: {o.error}" for o in run.ops if not o.ok] + run.check_failures
    run.report.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "setup_ms": run.setup, "elapsed_s": phases, "cpu_probe_ms": probe, "checks": run.checks,
        "error_rate": failed / attempted, "failures": failures[:20],
    })
    print(json.dumps({"report": run.report}, default=str))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"perfbench: the engine package {ENGINE}/ is not next to perfbench/; "
              "run from a full checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update({
        "TZ": "UTC",  # naive datetimes of the fixture rows convert as UTC
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": harness.DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    time.tzset()
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")

    # the JVM inherits fd 2: its log and PySpark's go to the driver log
    saved_err = os.dup(2)
    log = open(os.path.join(work, "driver.log"), "w")
    os.dup2(log.fileno(), 2)
    try:
        result = execute(args, work, log)
    except Exception:
        os.dup2(saved_err, 2)
        traceback.print_exc()
        print(f"perfbench: run failed; driver log kept at {log.name}", file=sys.stderr)
        return 1
    finally:
        os.dup2(saved_err, 2)
        os.close(saved_err)
        log.close()
    if result["correct"]:
        shutil.rmtree(work)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
