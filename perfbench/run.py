#!/usr/bin/env python3
"""Benchmark of the medallion pipeline and the analytic catalog.

Run from the root of a checkout:

    python3 perfbench/run.py --workload flights_refresh --seed 1 --seconds 10 --trace 0

One process, one ``local[<cores>]`` Spark session, one closed-loop
client.  The run sets up once (JVM and session start, inputs made from
``--seed``, warm-up) and reports that time as ``setup_s``; then it runs
whole rounds of the workload's operations until ``--seconds`` of
operation time are measured, checking each operation's output outside
its timed span.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` turns on Spark's event log, prints the per-layer metrics,
and runs the same workload and seed once more untraced in a child
process to report the tracing overhead.  A layer a workload never calls
reports 0.  The last line of standard output is the result object; the
line before it records the environment, the host-noise probes and the
output digests.  Everything the run writes lives under
``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

PACKAGE = "unicargo_medallion_data_pipeline_spark"


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    ``(value, percentile)``; ``(0, 0)`` with ten samples or fewer."""
    n = len(values)
    if n <= 10:
        return 0.0, 0.0
    return sorted(values)[n - 11], 100.0 * (n - 10) / n


def peak_rss_mb() -> float:
    """Driver JVM high-water RSS plus the Python driver's."""
    from pyspark import SparkContext

    jvm_kb = 0
    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def shutdown() -> None:
    """Stop the active session and the gateway JVM, and wait for the JVM
    to exit.  Does nothing when no JVM is running."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def workload_class(name: str):
    from catalog import Catalog
    from flights import FlightsRefresh

    return {w.name: w for w in (FlightsRefresh, Catalog)}[name]


def measure(args, work: str) -> tuple[dict, dict, int, int]:
    """Run one workload; return ``(metrics, evidence, attempted, failed)``."""
    from bench import _cpu_probe
    from spans import EventLog, Tracer, accounting

    from unicargo_medallion_data_pipeline_spark.session import get_spark

    wl = workload_class(args.workload)(work)
    cores = len(os.sched_getaffinity(0))
    events = os.path.join(work, "events")
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={work}/derby -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(events)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{events}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    wl.make_inputs(args.seed)
    wl.warm_up(spark)
    setup_s = time.perf_counter() - t0

    sc = spark.sparkContext
    env = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": cores,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "pyspark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
    wl.with_census = bool(args.trace)
    t0 = time.perf_counter()
    wl.prepare(spark)
    prepare_s = time.perf_counter() - t0

    tracer = Tracer()
    results: list[tuple[str, float, bool]] = []
    probe_before = _cpu_probe()
    measured, rnd = 0.0, 0
    while measured < args.seconds:
        ops = wl.run_round(spark, tracer, rnd, args.seed)
        results += ops
        measured += sum(sec for _, sec, _ in ops)
        rnd += 1
    probe_after = _cpu_probe()

    peak = peak_rss_mb()
    layer = wl.layer_metrics(tracer)
    written = wl.bytes_written()
    app_id = sc.applicationId
    shutdown()

    times = [sec for _, sec, _ in results]
    per_item: dict[str, list[float]] = {}
    for item, sec, _ in results:
        per_item.setdefault(item, []).append(sec)
    failed = sum(1 for *_, ok in results if not ok)
    round_s = sum(statistics.median(v) for v in per_item.values())
    metrics = {
        "setup_s": setup_s,
        "round_s": round_s,
        "bytes_per_input_byte": written / wl.input_bytes(),
    }
    if args.trace:
        reference_s, reference_outputs, reference_correct = untraced_reference(args)
        if not reference_correct or reference_outputs != wl.evidence():
            # the reference run must pass its own checks, and the same
            # seed must give the same outputs with tracing off
            failed = max(failed, 1)
        tail_s, tail_pct = tail(times)
        wall, covered = accounting(tracer, wl.root, wl.layers)
        metrics = {
            **layer,
            **wl.traced_metrics(tracer, EventLog.read(events, app_id)),
            "op_p50_s": statistics.median(times),
            "op_tail_s": tail_s,
            "op_tail_pct": tail_pct,
            "ops": float(len(times)),
            "failed_ratio": failed / len(times),
            "peak_rss_mb": peak,
            "trace.op_s": wall,
            "trace.layer_self_s": covered,
            "trace.gap_s": wall - covered,
            "trace.overhead_s": round_s - reference_s,
            "host.probe_before_s": probe_before,
            "host.probe_after_s": probe_after,
        }
    evidence = {
        "env": env,
        "host_probe_s": {"before": probe_before, "after": probe_after},
        "prepare_s": prepare_s,
        "measured_s": measured,
        "op_s": [[item, sec] for item, sec, _ in results],
        "outputs": wl.evidence(),
    }
    return metrics, evidence, len(times), failed


def untraced_reference(args) -> tuple[float, dict, bool]:
    """``round_s``, output digests and ``correct`` of the same workload
    and seed, run untraced in a child process."""
    cmd = [
        sys.executable, os.path.abspath(__file__),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", "0",
    ]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=170, check=True)
    *_, evidence, result = proc.stdout.strip().splitlines()
    result = json.loads(result)
    return (
        result["metrics"]["round_s"]["value"],
        json.loads(evidence)["outputs"],
        result["correct"] and result["failed"] == 0,
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {root}; run from a checkout's root", file=sys.stderr)
        return 2
    spec = load_spec(root)
    declared = spec["per_layer" if args.trace else "end_to_end"]
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(root, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(root, ".perfbench_work"))
    for d in ("tmp", "local", "inputs"):
        os.makedirs(os.path.join(work, d))
    # Everything Spark, pyspark and the program write goes under `work`.
    # This includes Spark's shuffle and spill files, which the program
    # would put on /dev/shm in local mode.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # Spark's collect() renders timestamps in the process zone; the
    # oracle compares UTC wall times.
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, root)
    try:
        metrics, evidence, attempted, failed = measure(args, work)
    finally:
        shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still holds its work dir there
            pass

    unknown = set(metrics) - {m["name"] for m in declared}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    print(json.dumps(evidence))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in declared
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
