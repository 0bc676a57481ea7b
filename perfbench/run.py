"""Benchmark entry point: runs one named workload with a seed, checks the
program's outputs and prints every metric by name with its unit.

    python3 perfbench/run.py --workload stream|batch --seed 1 --seconds 12 --trace 0|1

Run from the repository root. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 the
run measures untraced, stops the session and its JVM, then sets up and
measures again in a traced session (event log, UDF profiler, job groups,
spans), and the metrics are the per-layer metrics, including the
traced-minus-untraced overhead of each end-to-end metric.
The line before it holds the measurement context. Spans, per-job-group
stage metrics and the full result are written to .perfbench_out/.
"""

from __future__ import annotations

import argparse
import json
import os
import pstats
import shutil
import signal
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
DEADLINE_S = 170


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def program_present() -> bool:
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import sparkksqldbbenchmark_spark.session  # noqa: F401
        import tools.check_correctness  # noqa: F401
    except ImportError as exc:
        print(f"program not found next to the benchmark: {exc}", file=sys.stderr)
        return False
    return True


def watchdog() -> None:
    """Fail the run, without a result line, if it overruns its deadline:
    kill every process this run started, then exit."""
    from measure import tree

    def expire() -> None:
        print(f"run exceeded {DEADLINE_S} s", file=sys.stderr)
        for pid in tree(os.getpid(), set()):
            if pid != os.getpid():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        os._exit(3)

    timer = threading.Timer(DEADLINE_S, expire)
    timer.daemon = True
    timer.start()


def session(trace_dir: str | None):
    """The program's default SessionConfig; a traced session adds only the
    uncompressed, non-rolling event log."""
    from sparkksqldbbenchmark_spark.session import SessionConfig, get_spark

    extra = {}
    if trace_dir:
        os.makedirs(trace_dir, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + trace_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = get_spark(SessionConfig(extra=extra))
    spark.sparkContext.setLogLevel("ERROR")
    if trace_dir:
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    return spark


def shutdown(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def udf_python_s(spark, dump_dir: str) -> float:
    """Total Python time the UDF profiler recorded (0 if no UDF ran)."""
    spark.profile.dump(dump_dir, type="perf")
    if not os.path.isdir(dump_dir):
        return 0.0
    return sum(pstats.Stats(os.path.join(dump_dir, n)).total_tt for n in os.listdir(dump_dir))


def main() -> int:
    args = parse_args()
    # before the program is imported: its SessionConfig reads this default
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    if not program_present():
        return 2
    from measure import Context, TreeSampler, Tracer, process_start_time, read_event_log
    from workloads import Phase, WORKLOADS, probes

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("spark-local", "tmp", "cwd"):
        os.makedirs(os.path.join(WORK, d))
    os.makedirs(OUT, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # Python workers import the program's UDFs by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # keep the JVM's temp files (and no perf-data file) inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(WORK, "tmp"))
    os.chdir(os.path.join(WORK, "cwd"))
    watchdog()

    ctx = Context()
    warm, measure, probe_names = WORKLOADS[args.workload]
    proc_start = process_start_time()

    # untraced setup and measurement
    t_sess = time.time()
    spark = session(None)
    t_warm = time.time()
    ph = Phase(spark, args.seed, args.seconds, WORK, Tracer(False), TreeSampler())
    warm(ph)
    t_ready = time.time()
    setup = {"setup_s": t_ready - proc_start - ctx.sample_s,
             "session.start_s": t_warm - t_sess, "session.warmup_s": t_ready - t_warm}
    untraced = measure(ph)
    results = [untraced]
    metrics_all = {"setup_s": setup["setup_s"], **untraced.e2e}
    layers = {}

    if args.trace:
        # both phases start from a cold JVM and the same warm-up, so the
        # difference between them is the cost of tracing
        shutdown(spark)
        log_dir = os.path.join(WORK, "eventlog")
        spark = session(log_dir)
        tracer = Tracer(True)
        # the traced batch outputs are checked against the untraced ones,
        # which were checked against the oracle
        ph = Phase(spark, args.seed, args.seconds, WORK, tracer, TreeSampler(),
                   expected=untraced.digests or None)
        with tracer.span("warmup"):
            warm(ph)
        spark.profile.clear()
        traced = measure(ph)
        results.append(traced)
        layers = dict(traced.layers)
        layers["udf.python_s"] = udf_python_s(spark, os.path.join(WORK, "udf-profile"))
        layers.update(probes(ph, probe_names))
        layers["session.start_s"] = setup["session.start_s"]
        layers["session.warmup_s"] = setup["session.warmup_s"]
        # peak RSS follows the JVM's adaptive heap growth too closely to
        # hold a bound; it is reported per layer, from the untraced phase
        layers["process.rss_peak_mb"] = untraced.e2e["rss_peak_mb"]
        spark.stop()
        groups = read_event_log(log_dir)
        measured = [g for name, g in groups.items()
                    if name.startswith(tuple(traced.detail["job_groups"]))]
        for key in ("tasks", "executor_run_s", "gc_s", "shuffle_write_bytes", "spill_bytes"):
            layers[f"stage.{key}"] = sum(g[key] for g in measured)
        for m, v in traced.e2e.items():
            layers[f"trace.overhead.{m}"] = v - untraced.e2e[m]
        tracer.dump(os.path.join(OUT, f"{args.workload}-{args.seed}-spans.json"))
    else:
        groups = {}

    shutdown(spark)
    late = [r.detail.get("late_ms_max") for r in results if "late_ms_max" in r.detail]
    context = ctx.finish(max(late) if late else None)
    attempted = sum(r.attempted for r in results)
    failed = sum(r.failed for r in results)
    correct = all(r.wrong == 0 for r in results)

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    source = layers if args.trace else metrics_all
    metrics = {
        m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "context": context,
        "failed_share": failed / max(1, attempted),
        "setup": setup, "e2e": metrics_all, "layers": layers, "job_groups": groups,
        "detail": [r.detail for r in results],
    }
    with open(os.path.join(OUT, f"{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps({"context": context, "failed_share": artifact["failed_share"]}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    raise SystemExit(main())
