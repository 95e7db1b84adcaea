"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints the
full per-query JSON line

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"<name>": sec, ...}, "sf": <sf>}

followed by a truncation-proof summary as the FINAL stdout line (the
driver parses the last line of a 2000-char tail archive — BENCH_r01's
parse=None on a long final line is the proof), carrying the headline
plus the slowest per-query entries that fit a 1900-byte budget:

    {"metric": "...", "value": <total>, "unit": "sec",
     "total_s": <total>, "n_queries": <n>, "calibration_s": <s>,
     "queries_in_line": <k>, "queries": {"<slowest>": sec, ...}, "sf": <sf>}

The COMPLETE per-query dict is also persisted to
``BENCH_DETAIL_r{N}_c{cpus}.json`` beside this script (N inferred from
the newest ``BENCH_r{N}.json`` + 1, i.e. the round being recorded;
cpus the session's local[cpus]; an existing file is never overwritten —
a repeat run gets a ``-2``, ``-3``... suffix): the driver's archive
truncates the stdout line to its last ~65 rows, and per-query numbers
are what spike forensics and the >2 s AND >1.5x calibrated signal line
run on.

RE-MEASURE RULE: after the sweep, every row tagged ``index`` or
``http`` (the multi-commit service rows) plus every row crossing the
signal guard is re-measured in isolation, best-of-2, into the detail
artifact's ``isolated_service_s``.

RUN ORDER: the multi-commit index-service rows (tagged ``index``) run
LAST, in their own tail block. They allocate
10-20 s of block-manager/GC pressure each; with registry-order
interleaving, whichever innocent queries ran directly behind them
absorbed the eviction storm and fired false signal hits two rounds
running (r10: pmi_cooccurrence; r11: domain_stats +3 — both disposed at
parity by isolated re-measure). Per-query numbers stay comparable
across recordings by name via the detail artifact; only the order
changed (BASELINE.md r12 note).

Each query is fully materialized via the noop sink (forces every operator,
unlike count() which lets Catalyst prune aggregation inputs). A warm-up pass
on sf0.001 triggers JVM/codegen warm-up so timings reflect plan execution,
not first-query JIT.

DRIFT CALIBRATION: before the measured sweep, a FIXED synthetic workload
(pure CPU, data-independent — codegen arithmetic + hash aggregate over
spark.range) is timed and reported as ``calibration_s`` in both JSON
lines. Shared-host throughput drift (the +39% ambient level shift that
cost a session of forensics between the r6 and r7 recordings — see
BASELINE.md) moves the calibration and the query totals together, so the
honest cross-recording comparison is the CALIBRATED ratio

    (total_s / calibration_s)  vs  (baseline total_s / calibration_s)

and the 2x bench guard should be read on that ratio whenever the two
recordings' calibrations differ materially (>10%).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def calibration_seconds(spark) -> float:
    """The drift yardstick: a FIXED pure-CPU workload with no data
    dependence — 1B rows of whole-stage-codegen arithmetic folded into
    one hash aggregate across 32 partitions (the same JVM execution
    machinery the measured queries spend their time in; ~2 s at the
    recording host's speed, large enough that scheduler jitter is noise
    on it). Best-of-3 like every measured query. Deterministic by
    construction (spark.range), so any change in its timing between
    recordings is the HOST moving, not the engine."""
    best = float("inf")
    cal = (
        spark.range(0, 1_000_000_000, 1, 32)
        .selectExpr("xxhash64(id) % 1000003 AS h", "id % 4096 AS g")
        .groupBy("g")
        .agg({"h": "sum"})
    )
    for _ in range(3):
        t0 = time.perf_counter()
        cal.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


#: BASELINE.md's recorded host calibration (the "@ ~1.06" every verdict
#: normalizes against) — used to compute the signal-line ratio in-run.
_BASELINE_CAL_S = 1.06


def _baseline_seconds() -> dict[str, float]:
    """Per-query baseline seconds parsed from BASELINE.md's recorded
    table (`| name | sec |` rows). Empty dict when absent/unparseable —
    the signal-line re-measure then simply doesn't trigger."""
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    out: dict[str, float] = {}
    try:
        with open(os.path.join(here, "BASELINE.md")) as fh:
            for line in fh:
                m = re.match(
                    r"\|\s*([a-z0-9_]+)\s*\|\s*([0-9.]+)\s*\|\s*$", line
                )
                if m:
                    out[m.group(1)] = float(m.group(2))
    except OSError:
        pass
    return out


def _write_detail_artifact(
    timings: dict[str, float],
    total: float,
    calibration: float,
    sf_val,
    run_order: list[str],
    isolated: dict[str, float],
    cpus: int,
) -> None:
    """Persist the COMPLETE per-query dict to BENCH_DETAIL_r{N}_c{cpus}.json
    in the repo root (docstring: the driver's stdout archive truncates).
    N = newest existing BENCH_r{N}.json + 1 — the round this run is
    recording for. An existing artifact is never overwritten: a repeat
    run of the same round and core count takes the next free ``-k``
    suffix. Never fails the bench (best-effort I/O)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    try:
        rounds = [
            int(m.group(1))
            for f in glob.glob(os.path.join(here, "BENCH_r*.json"))
            if (m := re.match(r"BENCH_r(\d+)\.json$", os.path.basename(f)))
        ]
        n = (max(rounds) + 1) if rounds else 1
        payload = {
            "round": n,
            "cpus": cpus,
            "metric": "wall_seconds_all_queries",
            "value": total,
            "unit": "sec",
            "calibration_s": calibration,
            "sf": sf_val,
            "n_queries": len(timings),
            "run_order": run_order,
            "queries": timings,
            # dispose-by-default (VERDICT r12 item 7): the re-measure
            # rule's rows, isolated, after the sweep — in-run the service
            # rows absorb each other's block-manager/GC pressure, and
            # without this column every round re-litigated the same
            # expected-mutual-pressure spikes
            "isolated_service_s": isolated,
        }
        stem = os.path.join(here, f"BENCH_DETAIL_r{n:02d}_c{cpus}")
        name, k = f"{stem}.json", 1
        while True:
            try:
                with open(name, "x") as fh:
                    json.dump(payload, fh, indent=1)
                break
            except FileExistsError:
                k += 1
                name = f"{stem}-{k}.json"
        print(f"bench: wrote {os.path.basename(name)}", file=sys.stderr)
    except OSError as exc:
        print(f"bench: detail artifact not written: {exc}", file=sys.stderr)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from callio_etl_spark.session import get_spark
    from callio_etl_spark.registry import REGISTRY, all_queries

    spark = get_spark("callio-etl-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    def tagged(*tags: str) -> list[str]:
        return [n for n in queries if set(tags) & set(REGISTRY[n].tags)]

    # The multi-commit index-service rows run LAST (docstring:
    # position-bias fix). Everything else keeps registry order.
    heavy_tail = tagged("index")
    run_order = [n for n in queries if n not in set(heavy_tail)] + heavy_tail

    # Warm-up at smoke scale (not measured): flagship for JVM codegen/JIT,
    # one Arrow query so Python workers + numpy imports are resident before
    # any mapInPandas timing.
    for warm in ("fact_staff_daily", "media_features"):
        queries[warm](spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
    # Page-cache warm at the MEASURED scale (untimed): one cheap pass over
    # each input table so the first measured queries don't absorb the cold
    # parquet reads — the head-of-run bias that fired false signal hits on
    # whichever rows the rotation moved to positions ~1-10 (r12: the
    # sink_zorder_skip/stat_moments dispositions in SCALE.md).
    import glob as _glob

    for t in sorted(_glob.glob(f"{sf_dir}/*.parquet")):
        # full-width scan (no projection): the noop sink forces every
        # column's bytes through the page cache
        spark.read.parquet(t).write.format("noop").mode("overwrite").save()

    # host-speed yardstick, measured AFTER warm-up, BEFORE the sweep
    calibration = calibration_seconds(spark)

    # Best of two passes per query: the first execution at a new scale pays
    # codegen compilation + buffer-pool warm-up that isn't plan cost; min()
    # reports steady-state execution, which is what scale projections need.
    timings: dict[str, float] = {}
    for name in run_order:
        fn = queries[name]
        # Isolate queries from each other's leftover state: localCheckpoint
        # blocks from earlier queries are reclaimed by the ContextCleaner
        # only after GC notices the dead RDD references — without the nudge,
        # shuffle-heavy queries late in the run absorb the accumulated
        # block-manager/GC pressure and time 2-3x their isolated cost.
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()
        # the ContextCleaner frees dead localCheckpoint blocks
        # asynchronously after the GC notices them — give it a beat so a
        # query isn't timed against its predecessors' eviction storm
        time.sleep(0.2)
        best = float("inf")
        # Best-of-3 unconditionally: scheduler/GC/Python-worker jitter can
        # hit two consecutive passes (observed: a 0.9s Arrow query timing
        # 2.4s twice in a row), so a conditional third pass keyed on the
        # first two is exactly the case that misfires. Three passes bound
        # the spike probability at jitter³ for ~30% more bench wall.
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)

    # The re-measure rule (docstring): the service rows — tagged index
    # or http — plus every row whose in-run best crosses the per-query
    # guard (>2 s AND >1.5x vs its BASELINE.md row, on the calibrated
    # OR the raw ratio: baselines recorded on a slow host would
    # under-trigger the calibrated form alone). Each gets one isolated
    # best-of-2 after the sweep, behind a GC beat, so BENCH_DETAIL
    # carries the disposition number itself — a disposition that could
    # itself be one jitter spike disposes nothing. Additive: in-run
    # timings are untouched.
    base = _baseline_seconds()
    service = set(tagged("index", "http"))

    def crosses_guard(n: str, t: float) -> bool:
        return (
            t > 2.0
            and base.get(n, 0) > 0
            and (
                (t / calibration) / (base[n] / _BASELINE_CAL_S) > 1.5
                or t / base[n] > 1.5
            )
        )

    isolated: dict[str, float] = {}
    for name in [
        n for n in run_order if n in service or crosses_guard(n, timings[n])
    ]:
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
        best = float("inf")
        # Per-row error isolation: a transient failure here (port bind,
        # server hiccup) must not lose the whole recording — the sweep
        # already succeeded.
        try:
            for _ in range(2):
                t0 = time.perf_counter()
                queries[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            isolated[name] = round(best, 3)
        except Exception as exc:
            print(
                f"bench: isolated re-measure of {name} failed: {exc}",
                file=sys.stderr,
            )
            isolated[name] = -1.0  # sentinel: re-measure errored

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    _write_detail_artifact(
        timings, total, calibration, sf_val, run_order, isolated,
        spark.sparkContext.defaultParallelism,
    )
    print(
        json.dumps(
            {
                "metric": "wall_seconds_all_queries",
                "value": total,
                "unit": "sec",
                "calibration_s": calibration,
                "queries": timings,
                "sf": sf_val,
            }
        )
    )
    # FINAL-LINE CONTRACT (VERDICT r14 item 1, driver-tail forensics):
    # the driver parses the LAST stdout line from a 2000-char tail
    # archive (proof: BENCH_r01.json — the full 212-query line was the
    # final line, the archived tail holds its last 2000 chars, and the
    # driver's parse came back None). The complete per-query dict is
    # 5.4+ KB compact and can NEVER survive that window, so the final
    # line carries the headline PLUS as many per-query entries as fit a
    # 1900-byte budget, slowest queries first — the rows that carry the
    # wall-clock total and every >1 s service row the verdict tracks.
    # The line is self-describing (n_queries = full count,
    # queries_in_line = entries present, detail = the complete artifact)
    # so a partial dict can't be misread as dropped queries; the full
    # dict is the line above and BENCH_DETAIL_r{N}_c{cpus}.json.
    # Existing keys unchanged; `queries` here is ADDITIVE (the compact
    # final line never had it).
    head = {
        "metric": "wall_seconds_all_queries",
        "value": total,
        "unit": "sec",
        "total_s": total,
        "n_queries": len(timings),
        "calibration_s": calibration,
        "sf": sf_val,
        "detail": "BENCH_DETAIL",
        "queries_in_line": 0,
        "queries": {},
    }
    budget = 1900
    by_cost = sorted(timings, key=lambda n: (-timings[n], n))
    sel: dict[str, float] = {}
    for name in by_cost:
        sel[name] = timings[name]
        head["queries"] = sel
        head["queries_in_line"] = len(sel)
        if len(json.dumps(head, separators=(",", ":"))) > budget:
            del sel[name]
            head["queries"] = sel
            head["queries_in_line"] = len(sel)
            break
    print(json.dumps(head, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
