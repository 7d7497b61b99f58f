"""Benchmark entry point.

    python3 perfbench/run.py --workload {facade_mix,control_loop,corpus_curation}
                             --seed N --seconds S --trace {0,1} [--scale full|small]

Run from the repository root. Inputs are generated from the seed into a
work directory under perfbench/.work/ by a child process, the program is driven on a local
Spark session sized to this machine, every output is checked, and the last
line of standard output is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. With --trace 0 the metrics are the
end-to-end metrics of BENCHMARK.json; with --trace 1 they are its
per-layer metrics, read from spans of the set-up and of the middle one of
three operations (untraced, traced, untraced); the spans are written to
perfbench/out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("facade_mix", "control_loop", "corpus_curation")
DRIVER_MEM_CAP_MB = 1024


def pin_environment(work: str) -> None:
    """Size the session to this machine and make the program importable by
    Spark's Python workers, through the environment the program reads."""
    cpus = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(DRIVER_MEM_CAP_MB, phys_mb // 4)}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # temporary files of Python and the JVM (native libraries Spark unpacks,
    # its artifact directories, HotSpot's perf-data file) stay in the run's
    # work directory, which is deleted at exit
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, ROOT)


@dataclass
class Context:
    """What a workload needs from the run: the session, the generated
    inputs, a scratch directory, the seed, and the measurement probes."""

    spark: object
    sf_dir: str
    work: str
    seed: int
    tracer: object
    counters: object


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def prepare(spark, tracer, sf_dir: str, workload_cls) -> dict[str, float]:
    """The set-up after the session starts, each phase timed (and spanned,
    in a traced run): the session's first catalog registration, the cached
    domain views the workload reads and, for workloads that run Python UDFs,
    warm Python workers. Return seconds per phase. The set-up is made once
    and counted whole: a second registration in the same JVM is a warm one
    and would hide one-time work moved into the first."""
    from kalytical_spark import catalog
    from kalytical_spark.session import warm_python_workers

    phases = {}
    with tracer.timed("catalog.register") as t:
        catalog.register(spark, sf_dir)
    phases["catalog.register"] = t.seconds
    with tracer.timed("catalog.domain_cache") as t:
        for view in workload_cls.views:
            spark.table(view).count()
    phases["catalog.domain_cache"] = t.seconds
    phases["session.worker_warm"] = 0.0
    if workload_cls.python_workers:
        with tracer.timed("session.worker_warm") as t:
            warm_python_workers(spark)
        phases["session.worker_warm"] = t.seconds
    return phases


def measure(workload, tracer, seconds: float, trace: bool) -> int:
    """Run a fixed number of operations, max(1, round(seconds /
    workload.nominal_op_s)), so every run of a workload does the same work
    and meets the JIT and caches in the same state. A traced run makes three:
    untraced, traced, untraced, so the JIT's warm-up trend between
    operations largely cancels out of the traced/untraced comparison.
    Return the count."""
    ops = 3 if trace else max(1, round(seconds / workload.nominal_op_s))
    for i in range(ops):
        traced = trace and i == 1
        tracer.begin_op(traced)
        workload.step(traced)
    tracer.begin_op(False)
    return ops


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for every process
    this run started."""
    from pyspark import SparkContext

    from probe import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while (left := descendants(os.getpid())) and time.time() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--scale", choices=("full", "small"), default="full")
    args = parser.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    try:
        return run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, spec, work: str) -> int:
    from probe import SparkCounters, Tracer, pct, peak_rss_mb, reset_peak_rss

    from kalytical_spark.session import get_spark

    sf_dir = os.path.join(work, "data")
    # a child process, so the generator's memory is not the benchmark's
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), sf_dir, str(args.seed), args.scale],
                   check=True)
    if args.workload == "facade_mix":
        from facade import FacadeMix as Workload
    elif args.workload == "control_loop":
        from control import ControlLoop as Workload
    else:
        from curation import CorpusCuration as Workload

    tracer = Tracer()
    tracer.begin_op(bool(args.trace))  # the set-up is operation 1
    with tracer.timed("session.start") as start:
        spark = get_spark("perfbench")
    try:
        phases = {"session.start": start.seconds, **prepare(spark, tracer, sf_dir, Workload)}
        log(", ".join(f"{k} {v:.2f}s" for k, v in phases.items()))
        tracer.begin_op(False)
        counters = SparkCounters(spark)
        cache_mb = counters.cached_mb()
        workload = Workload(Context(spark, sf_dir, work, args.seed, tracer, counters))
        log("workload prepared")
        # the peak then covers the measured operations, not the set-up or
        # the benchmark's references
        reset_peak_rss()
        gc0 = counters.gc_ms()
        ops = measure(workload, tracer, args.seconds, bool(args.trace))
        log(f"{ops} operations measured")
        gc_ms = (counters.gc_ms() - gc0) / ops
        peak_mb = peak_rss_mb()
        per_layer = workload.per_layer() if args.trace else {}
    finally:
        stop_session(spark)

    attempted = workload.attempted()
    failed = workload.failed
    for problem in workload.mismatches[:10]:
        print(f"check failed: {problem}", file=sys.stderr)
    if not workload.op_latencies() or (args.trace and not workload.traced_latencies()):
        raise SystemExit(f"no {args.workload} operation completed: nothing to report")
    values = {
        "setup_s": sum(phases.values()),
        "op_p50_ms": pct(workload.op_latencies(), 50),
        "throughput_per_s": workload.throughput(),
        "peak_rss_mb": peak_mb,
    }
    if args.trace:

        def span_s(name):
            return sum(tracer.seconds(name))

        values = {
            "session.start_s": span_s("session.start"),
            "session.worker_warm_s": span_s("session.worker_warm"),
            "jvm.gc_ms": gc_ms,
            "catalog.register_s": span_s("catalog.register"),
            "catalog.cache_mb": cache_mb,
            "spark.jobs": counters.jobs,
            "spark.tasks": counters.tasks,
            "spark.shuffle_read_mb": counters.shuffle_read / 2**20,
            "spark.shuffle_write_mb": counters.shuffle_write / 2**20,
            "spark.spill_mb": counters.spill / 2**20,
            "spark.task_skew": statistics.median(counters.skews) if counters.skews else 1.0,
            "trace.overhead_pct": 100 * (
                pct(workload.traced_latencies(), 50) / pct(workload.op_latencies(), 50) - 1
            ),
            "error_rate": failed / attempted,
            **per_layer,
        }
        tracer.write(os.path.join(HERE, "out", f"trace-{args.workload}-seed{args.seed}.json"))
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    unknown = set(values) - {m["name"] for m in wanted}
    if unknown:
        raise KeyError(f"measured metrics missing from BENCHMARK.json: {sorted(unknown)}")
    # a layer the workload does not exercise did no work on it: zero
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
