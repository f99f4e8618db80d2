#!/usr/bin/env python3
"""Benchmark of the mapreduce_wsi_spark engine: one workload per process.

    python3 perfbench/run.py --workload wsi_roundtrip --seed 1 --seconds 13 --trace 0

Run from the repository root. The process starts one SparkSession on
``local[N]`` (N = min(4, cores)), stages the workload's inputs from the
seed, runs the workload untimed a few times to warm the JVM and the Python
workers, then runs it again and again until ``--seconds`` have passed (at
least once), checking every run's outputs outside the timed region. Peak
memory is the summed proportional set size of the process tree (Python, the
JVM, its Python workers and script processes), sampled every 0.1 s over
set-up and the warm-up runs. Everything it writes goes
under ``.perfbench_work/`` in the current directory, removed at exit;
``--trace 1`` also leaves the traced run's spans in ``.perfbench_out/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Without tracing the
metrics are the end-to-end ones (``metrics.END_TO_END``); with tracing,
one more run is made with spans and Spark counters on, and the metrics
are the per-layer ones (``metrics.per_layer_units()``). The line above it
is a JSON report of the set: every run time, the drift of the set, the
seed, and any failures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
STAGE_REPEATS = 3


def _prepare_env(work: Path) -> None:
    """Keep the JVM, the Python workers and temp files inside ``work`` and
    let workers import this repository. Must run before Spark starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # JVMs write /tmp/hsperfdata_<user>/<pid> unless perf data is off; this
    # covers spark-submit's launcher JVM, the driver JVM gets it below
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])])
    # a reliable checkpoint dir would send iterative operators' writes
    # outside the work dir
    os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    import tempfile
    tempfile.tempdir = str(tmp)


def _spark_conf(work: Path) -> dict[str, str]:
    java_opts = " ".join([
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dderby.system.home={work / 'derby'}",
        f"-Dderby.stream.error.file={work / 'derby.log'}",
    ])
    return {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": str(work / "tmp"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # the traced run's counters are read after it ends
        "spark.ui.retainedJobs": "10000",
        "spark.ui.retainedStages": "10000",
    }


def _median_quarters(runs: list[float]) -> tuple[float, float]:
    q = max(1, len(runs) // 4)
    return statistics.median(runs[:q]), statistics.median(runs[-q:])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "mapreduce_wsi_spark").is_dir():
        print(f"no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import metrics, proctree
    if args.workload not in metrics.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {metrics.WORKLOADS}",
              file=sys.stderr)
        return 2

    work = Path.cwd() / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _prepare_env(work)
    try:
        with proctree.PeakMemory() as mem:
            result, report = _bench(args, work, mem)
        if not args.trace:
            result["metrics"]["peak_rss_mb"] = mem.peak_bytes / 2**20
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass
    print(json.dumps(report))
    print(json.dumps(metrics.result_line(result, args.trace)))
    return 0


def _bench(args, work: Path, mem):
    from perfbench import metrics
    from perfbench.trace import NullTracer, SparkCounters, Tracer, self_time_by_name

    cpus = min(4, os.cpu_count() or 1)
    t0 = time.perf_counter()
    from mapreduce_wsi_spark.session import Engine, get_spark
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=_spark_conf(work))
    session_s = time.perf_counter() - t0
    try:
        from perfbench.workloads import WORKLOADS
        engine = Engine(spark=spark, base_path=str(work / "scopes"))
        wl = WORKLOADS[args.workload](engine, work, args.seed, cpus)
        try:
            setup = {"session.get_spark.s": session_s, **wl.prepare()}
            stage_s = []
            for _ in range(STAGE_REPEATS):
                t0 = time.perf_counter()
                wl.stage()
                stage_s.append(time.perf_counter() - t0)
            setup_s = sum(setup.values()) + statistics.median(stage_s)
            wl.prepare_checks()

            attempted, failures = 0, []

            def run_checked(k: int, run):
                nonlocal attempted
                t0 = time.perf_counter()
                out = run()
                wall = time.perf_counter() - t0
                bad = wl.failures(k, out)
                attempted += len(wl.ops)
                failures.extend({"run": k, "op": op, "why": why}
                                for op, why in sorted(bad.items()))
                return wall, out

            warmup_s = []
            for k in range(wl.warmup_runs):
                warmup_s.append(run_checked(k, lambda: wl.run(k, NullTracer(), False))[0])
            # reading every process's smaps_rollup slows the timed runs
            # (by about 12% on wsi_roundtrip, 4 vCPUs), so memory is
            # sampled over set-up and the warm-up runs only: those make
            # every call the timed runs make
            mem.stop()
            runs, k = [], wl.warmup_runs
            t_start = time.perf_counter()
            while not runs or time.perf_counter() - t_start < args.seconds:
                runs.append(run_checked(k, lambda: wl.run(k, NullTracer(), False))[0])
                k += 1
            run_s = statistics.median(runs)
            first_q, last_q = _median_quarters(runs)

            layer = {}
            if args.trace:
                counters = SparkCounters(spark.sparkContext, f"perfbench-{k}")
                tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{k}",
                                counters=counters)
                traced_s, out = run_checked(k, lambda: wl.run(k, tracer, True))
                layer = metrics.per_layer(
                    setup, self_time_by_name(tracer.spans),
                    counters.read(tracer.spans), tracer.spans, out.counts)
                failed_ops = {f["op"] for f in failures if f["run"] == k}
                failures.extend(
                    {"run": k, "op": op, "why": "Spark tasks failed"}
                    for op in wl.ops if op not in failed_ops
                    and layer.get(f"{metrics.counted_call(op)}.tasks_failed", 0))
                layer.update({"trace.run_s": traced_s,
                              "trace.overhead_frac": traced_s / run_s - 1,
                              "drift.last_over_first": last_q / first_q})
                _write_spans(args, tracer)
        finally:
            wl.close()
    finally:
        _stop_spark(spark)

    report = {"perfbench": {
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "input_rows": wl.input_rows, "input_bytes": wl.input_bytes,
        "stage_s": stage_s, "warmup_s": warmup_s, "runs_s": runs,
        "drift": {"first_quarter_run_s": first_q, "last_quarter_run_s": last_q,
                  "last_over_first": last_q / first_q},
        "ops_failed_frac": len(failures) / attempted,
        "failures": failures[:20]}}
    end_to_end = {"setup_s": setup_s, "run_s": run_s,
                  "rows_per_s": wl.input_rows / run_s}
    result = {"correct": not failures, "attempted": attempted,
              "failed": len(failures),
              "metrics": layer if args.trace else end_to_end}
    return result, report


def _write_spans(args, tracer) -> None:
    out_dir = Path.cwd() / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    path = out_dir / f"spans-{args.workload}-{args.seed}.json"
    path.write_text(json.dumps(tracer.to_json(), indent=1))


def _stop_spark(spark) -> None:
    """Stop the session and the JVM, then wait for every process we started."""
    from perfbench import proctree
    kids = proctree.descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    proctree.wait_gone(kids, timeout_s=15)


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
