"""r15 optimization-round profiler.

Usage:
    python tools/profile_r15.py plan  <query> [<query>...]   # explain to plans/r15/<q>_before.txt
    python tools/profile_r15.py time  <query> [<query>...]   # best-of-3 noop-sink seconds + job count
    python tools/profile_r15.py commit                        # micro-profile snapshot commit sub-steps

Times with the same methodology as bench.py (noop sink, best-of-3, GC beat
between queries) so numbers are comparable with BENCH_DETAIL artifacts.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r15"
)


def _spark():
    from callio_etl_spark.session import get_spark

    spark = get_spark("profile-r14")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _gc_beat(spark):
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.2)


def cmd_plan(names: list[str], suffix: str = "before") -> None:
    from callio_etl_spark.registry import all_queries

    spark = _spark()
    qs = all_queries()
    os.makedirs(PLANS_DIR, exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out = os.path.join(PLANS_DIR, f"{name}_{suffix}.txt")
        with open(out, "w") as fh:
            fh.write(plan)
        print(f"wrote {out} ({plan.count('Exchange')} Exchange refs)")


def cmd_time(names: list[str]) -> None:
    from callio_etl_spark.registry import all_queries

    spark = _spark()
    qs = all_queries()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for name in names:
        _gc_beat(spark)
        best = float("inf")
        jobs0 = len(tracker.getJobIdsForGroup(None) or [])
        for i in range(3):
            t0 = time.perf_counter()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = min(best, dt)
            if i == 0:
                jobs1 = len(tracker.getJobIdsForGroup(None) or [])
        print(f"{name}: best={best:.3f}s  first-pass-jobs~{jobs1 - jobs0}")


def cmd_pyprof(names: list[str]) -> None:
    """cProfile ONE invocation of each query on the driver: splits a
    service row's wall time across commit sub-steps, collects,
    localCheckpoints and py4j waits (cumulative time per function)."""
    import cProfile
    import io as _io
    import pstats

    from callio_etl_spark.registry import all_queries

    spark = _spark()
    qs = all_queries()
    for name in names:
        # warm pass so codegen/JIT isn't attributed to the profile
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        _gc_beat(spark)
        prof = cProfile.Profile()
        t0 = time.perf_counter()
        prof.enable()
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        prof.disable()
        dt = time.perf_counter() - t0
        buf = _io.StringIO()
        st = pstats.Stats(prof, stream=buf)
        st.sort_stats("cumulative").print_stats(45)
        print(f"===== {name}: profiled pass {dt:.3f}s =====")
        # keep only the interesting lines (drop the pstats header noise)
        for line in buf.getvalue().splitlines():
            if (
                "callio_etl_spark" in line
                or "socket" in line
                or "cumtime" in line
                or "readwriter" in line
                or "dataframe.py" in line
            ):
                print(line)


def cmd_commit() -> None:
    """Micro-profile one snapshot_partition_overwrite: where does the time go?"""
    import shutil
    import pyspark.sql.functions as F
    from callio_etl_spark import snapshots as S

    spark = _spark()
    root = "/tmp/r15_commit_prof"
    shutil.rmtree(root, ignore_errors=True)
    df = (
        spark.range(0, 8000)
        .select(
            F.col("id").alias("vec_id"),
            (F.col("id") % 4).cast("string").alias("p"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
    )

    # instrument sub-steps by monkeypatching
    timings: dict[str, float] = {}

    def timed(label, fn):
        def wrap(*a, **k):
            t0 = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                timings[label] = timings.get(label, 0.0) + (
                    time.perf_counter() - t0
                )

        return wrap

    orig = {}
    for label, obj, attr in [
        ("staged_stats", S, "_staged_stats"),
        ("staged_blooms", S, "_staged_blooms"),
        ("move_leaves", S, "_move_staged_leaves"),
        ("write_manifest", S, "_write_manifest"),
        ("vacuum", S, "_vacuum_snapshots"),
        ("leaves_list", S, "_partition_leaves"),
    ]:
        orig[(obj, attr)] = getattr(obj, attr)
        setattr(obj, attr, timed(label, getattr(obj, attr)))

    # also time the raw staged parquet write by wrapping DataFrameWriter? —
    # simpler: time whole call and subtract known parts.
    for i in range(4):
        timings.clear()
        t0 = time.perf_counter()
        S.snapshot_partition_overwrite(
            spark, df, f"{root}/tbl", "p", keep_snapshots=3
        )
        total = time.perf_counter() - t0
        known = sum(timings.values())
        print(
            f"commit {i}: total={total:.3f}s  "
            + "  ".join(f"{k}={v:.3f}" for k, v in sorted(timings.items()))
            + f"  other(write+lock+misc)={total - known:.3f}"
        )
    for (obj, attr), fn in orig.items():
        setattr(obj, attr, fn)

    # how many files did the staged write produce per leaf?
    import glob

    files = glob.glob(f"{root}/tbl/p=*/*/*.parquet")
    leaves = glob.glob(f"{root}/tbl/p=*")
    print(f"table files: {len(files)} across {len(leaves)} leaves")
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    cmd = sys.argv[1]
    if cmd == "plan":
        suffix = "before"
        args = sys.argv[2:]
        if args and args[0].startswith("--suffix="):
            suffix = args[0].split("=", 1)[1]
            args = args[1:]
        cmd_plan(args, suffix)
    elif cmd == "time":
        cmd_time(sys.argv[2:])
    elif cmd == "pyprof":
        cmd_pyprof(sys.argv[2:])
    elif cmd == "commit":
        cmd_commit()
    else:
        raise SystemExit(f"unknown cmd {cmd}")
