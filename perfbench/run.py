"""Benchmark entry point: one workload, one process, one closed-loop client.

Run from the repository root:

    python3 perfbench/run.py --workload etl_ticks --seed 1 --seconds 12 --trace 0

The run builds its session with ``session.get_spark(cpus=<usable cores>)``,
sets the fixture up (several times when that is cheap; ``setup_s`` takes the
median build), warms up with the workload's own operations, then measures
operations for at least ``--seconds``. It checks the program's output against
the generator's record and prints one JSON object as the last line of
standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (``END_TO_END``). With
``--trace 1`` they are the per-layer ones (``PER_LAYER``), averaged per traced
operation: wrappers from ``spans.py`` time calls into the program's modules,
traced and untraced operations alternate (their median difference is
``trace_overhead_s``), and every span is written to
``.perfbench_out/spans-<workload>-<seed>.jsonl``.

All state lives under one fresh directory, ``.perfbench_tmp/<run>/``: the
generated tables, the snapshot tables and checkpoints, Spark's local and
warehouse dirs and the temp dir of both Python and the JVM. It is removed at
exit. A ``callio_*`` temp dir left behind by the program fails the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import threading
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.getcwd()
sys.path.insert(0, HERE)

import spans  # noqa: E402
from workloads import REPORT_QUERIES, WORKLOADS  # noqa: E402

END_TO_END = {
    "op_p50_s": "s",
    "rows_per_s": "1/s",
    "setup_s": "s",
}
PER_LAYER = {
    "sources.requests": "count",
    "sources.logins": "count",
    "io.lock_wait_s": "s",
    "checkpoints.warm_s": "s",
    "checkpoints.flush_s": "s",
    "checkpoints.compact_s": "s",
    "merge.write_s": "s",
    "snapshots.commits": "count",
    "snapshots.commit_s": "s",
    "snapshots.meta_s": "s",
    "snapshots.read_s": "s",
    "snapshots.useful_commit_ratio": "ratio",
    "llm_ops.materialize_s": "s",
    **{f"queries.{q}_s": "s" for q in REPORT_QUERIES},
    "spark.jobs": "count",
    "spark.executor_s": "s",
    "jvm.gc_s": "s",
    "host.calibration_s": "s",
    "op_tail_s": "s",
    "op_tail_pct": "%",
    "other_s": "s",
    "span_share": "ratio",
    "trace_overhead_s": "s",
    "error_rate": "ratio",
}

#: Fixture builds per run (setup_s takes their median), warm-up operations
#: and the fewest measured operations, from probes of the warm-up curve on
#: 4 cores. The ETL fixture ends in a bulk tick of 6-22 s, so it is built
#: once. Each run is kept to about a minute, JVM start included.
BUILDS = {"etl_ticks": 1, "report_queries": 3}
WARMUP = {"etl_ticks": 4, "report_queries": 1}
MIN_OPS = {"etl_ticks": 5, "report_queries": 3}
#: --selftest: scale factor and measured operations
SELFTEST_SF = 0.002
SELFTEST_OPS = 2
#: op_p50_s's bound in BENCHMARK.json: the medians of the first and the
#: second half of the measured operations should agree within it, or the
#: warm-up was too short. A miss is reported on stderr.
TREND_BOUND = 0.25


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measure operations for at least this long")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true",
                   help="tiny input, one build, no warm-up, two operations")
    return p.parse_args(argv)


def usable_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare_env(run_root: str) -> None:
    """Point every temp, scratch and warehouse path of Python, the JVM and
    Spark under ``run_root``, and put the repo on the Python workers' path.
    Must run before pyspark starts the JVM."""
    tmp = os.path.join(run_root, "tmp")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(run_root, d))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        "--conf", shlex.quote(
            "spark.sql.warehouse.dir=" + os.path.join(run_root, "warehouse")
        ),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = tmp


class JvmCounters:
    """Spark job ids, executor task time and JVM GC time, read through py4j.
    ``spark.jobs`` is the job-id high-water mark, so jobs started from the
    program's own thread pools count too."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory

    def read(self) -> dict[str, float]:
        gc_ms = sum(b.getCollectionTime() for b in self.mx.getGarbageCollectorMXBeans())
        return {
            "spark.jobs": self.sc.dagScheduler().nextJobId(),
            "spark.executor_s": self.sc.statusStore()
            .executorSummary("driver").totalDuration() / 1000.0,
            "jvm.gc_s": gc_ms / 1000.0,
        }


def calibration_s(spark, cpus: int) -> float:
    """A fixed pure-CPU yardstick (the shape of bench.calibration_seconds,
    scaled to about a second on 4 cores): hash arithmetic over spark.range
    folded into one aggregate. It attributes host noise; nothing is
    normalized by it."""
    df = (
        spark.range(0, 100_000_000, 1, cpus)
        .selectExpr("xxhash64(id) % 1000003 AS h", "id % 4096 AS g")
        .groupBy("g")
        .agg({"h": "sum"})
    )
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def tail(times: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it (nearest
    rank), and that percentile. With 10 samples or fewer it is p0."""
    s = sorted(times)
    pct = max(0.0, 100.0 * (1.0 - 10.0 / len(s)))
    idx = max(0, min(len(s) - 1, int(pct / 100.0 * len(s)) - 1))
    return s[idx], pct


def setup(args, spark, workload, run_root: str) -> tuple[float, str]:
    """Build the fixture and warm up; returns setup_s and a summary."""
    session_s = time.perf_counter() - T_START
    builds = []
    for i in range(1 if args.selftest else BUILDS[workload.name]):
        t0 = time.perf_counter()
        workload.build(spark, os.path.join(run_root, "state", f"build{i}"))
        builds.append(time.perf_counter() - t0)
    t_warm = time.perf_counter()
    workload.check_pass(spark)
    warm = []
    for _ in range(0 if args.selftest else WARMUP[workload.name]):
        workload.prepare()
        t0 = time.perf_counter()
        workload.op(spark)
        warm.append(time.perf_counter() - t0)
    warmup_s = time.perf_counter() - t_warm
    summary = (
        f"session {session_s:.1f}s, builds {[round(b, 2) for b in builds]}, "
        f"warm-up {warmup_s:.1f}s {[round(t, 2) for t in warm]}"
    )
    return session_s + statistics.median(builds) + warmup_s, summary


def measure(args, spark, workload, run_root: str) -> dict:
    """Set up, warm up, measure and check one workload; returns the run's
    result object."""
    cpus = usable_cpus()
    setup_s, summary = setup(args, spark, workload, run_root)
    tracer = spans.Tracer()
    if args.trace:
        tracer.install()
        jvm = JvmCounters(spark)
        cal = [calibration_s(spark, cpus)]

    times, traced_times, untraced_times = [], [], []
    rows = failed = 0
    layer: dict[str, list[float]] = {}
    t_meas = time.perf_counter()
    n_min = SELFTEST_OPS if args.selftest else MIN_OPS[workload.name]
    seconds = 0.0 if args.selftest else args.seconds
    i = 0
    while i < n_min or time.perf_counter() - t_meas < seconds:
        workload.prepare()
        traced = bool(args.trace) and i % 2 == 0
        if traced:
            tracer.op, tracer.enabled = i, True
            c0 = {**jvm.read(), **workload.counters()}
        t0 = time.perf_counter()
        try:
            rows += workload.op(spark, tracer if traced else None)
        except Exception as exc:  # a failed op is counted, not fatal
            failed += 1
            print(f"operation {i} failed: {exc!r}", file=sys.stderr)
        dt = time.perf_counter() - t0
        tracer.enabled = False
        times.append(dt)
        (traced_times if traced else untraced_times).append(dt)
        if traced:
            c1 = {**jvm.read(), **workload.counters()}
            sample = {k: c1[k] - c0[k] for k in c0}
            for name, secs in tracer.op_totals(i).items():
                sample[name + "_s"] = secs
            sample["snapshots.commits"] = len(tracer.commits.get(i, []))
            covered = tracer.top_level_s(i, threading.current_thread().name)
            sample["other_s"] = dt - covered
            sample["span_share"] = covered / dt
            for name in PER_LAYER:
                layer.setdefault(name, []).append(sample.get(name, 0.0))
        i += 1

    problems = workload.check(spark)
    tmp = os.path.join(run_root, "tmp")
    leaked = sorted(n for n in os.listdir(tmp) if n.startswith("callio_"))
    if leaked:
        problems.append(f"temp dirs leaked by the program: {leaked}")
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    if problems:
        failed = len(times)

    half = len(times) // 2
    trend = statistics.median(times[half:]) / statistics.median(times[:half])
    if abs(trend - 1.0) > TREND_BOUND:
        print(
            f"trend check missed: the second half's median is {trend:.3f}x "
            "the first half's",
            file=sys.stderr,
        )
    if not args.trace:
        metrics = {
            "op_p50_s": statistics.median(times),
            "rows_per_s": rows / sum(times),
            "setup_s": setup_s,
        }
        units = END_TO_END
    else:
        cal.append(calibration_s(spark, cpus))
        metrics = {k: statistics.fmean(v) for k, v in layer.items()}
        commits = [u for op in tracer.commits.values() for u in op]
        metrics["snapshots.useful_commit_ratio"] = (
            sum(commits) / len(commits) if commits else 0.0
        )
        metrics["host.calibration_s"] = statistics.fmean(cal)
        metrics["op_tail_s"], metrics["op_tail_pct"] = tail(times)
        metrics["trace_overhead_s"] = statistics.median(traced_times) - (
            statistics.median(untraced_times) if untraced_times else 0.0
        )
        metrics["error_rate"] = failed / len(times)
        units = PER_LAYER
        out = os.path.join(REPO, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        tracer.dump(os.path.join(out, f"spans-{workload.name}-{args.seed}.jsonl"))
    print(
        f"{workload.name}: {summary}, ops {[round(t, 2) for t in times]}, "
        f"trend {trend:.3f}",
        file=sys.stderr,
    )
    return {
        "correct": not problems and failed == 0,
        "attempted": len(times),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def descendants() -> list[int]:
    """Pids of every live process below this one (Linux /proc)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop the session and the JVM it started (with the Python workers the
    JVM started), and wait until every one of those processes has ended."""
    from pyspark import SparkContext

    procs = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        jvm = getattr(gateway, "proc", None)
        gateway.shutdown()
        if jvm is not None:
            jvm.stdin.close()  # the gateway server exits on stdin EOF
            try:
                jvm.wait(timeout=60)
            except Exception:
                jvm.kill()
                jvm.wait()
    deadline = time.monotonic() + 30
    while procs and time.monotonic() < deadline:
        procs = [p for p in procs if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "callio_etl_spark")):
        print("run from the repository root: callio_etl_spark/ not found",
              file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    run_root = os.path.join(
        REPO, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    prepare_env(run_root)
    workload = WORKLOADS[args.workload](args.seed)
    if args.selftest:
        workload.sf = SELFTEST_SF
    spark = None
    try:
        from callio_etl_spark import registry
        from callio_etl_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}", cpus=usable_cpus())
        registry.all_queries()  # import every module before tracing patches them
        result = measure(args, spark, workload, run_root)
    finally:
        workload.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_root))
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
