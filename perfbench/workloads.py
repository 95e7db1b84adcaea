"""The benchmark's workloads.

Each workload is one closed-loop client in one process: it starts the next
operation only after the previous one returned. A workload object has four
steps, which the runner in ``run.py`` drives:

- ``build(spark, root)``: make the fixture under a fresh directory. The runner
  may build it several times and keeps the last one.
- ``check_pass(spark)``: the first warm-up step; it may check results.
- ``prepare()``: untimed generator work before each operation.
- ``op(spark, tracer)``: one operation; returns the rows it processed.
- ``counters()``: the fixture's own cumulative counters, by metric name.
- ``check(spark)``: compare the program's output with the generator's own
  record; returns a list of mismatch descriptions (empty when correct).
- ``close()``: stop what ``build`` started.

Workloads:

- ``etl_ticks``: the production loop. A local HTTP server serves a seeded
  ``events`` corpus; one bulk tick creates the snapshot target. Each operation
  lands a fixed-size batch on the server (mostly newer versions of existing
  ids, some new ids) and runs one ``queries.api_source._snapshot_loop_tick``.
- ``report_queries``: read-only. Each operation is one pass over a fixed list
  of registered queries, each written to the ``noop`` sink. The results are
  checked against the DuckDB oracles once per run, in the first warm-up pass.
"""

from __future__ import annotations

import math
import os
import re

import numpy as np
import pyarrow as pa

import datagen

#: Jan 1 2024 00:00 UTC: the corpus' events start here.
_T0_MS = datagen.EVENTS_T0_US // 1000
#: Feb 1 2024 00:00 UTC: the bulk tick's window end, past every corpus row.
_BULK_END_MS = _T0_MS + 31 * 86_400_000
#: Each tick's batch spans 10 minutes; ticks are 2 h apart, so the loop's
#: 1 h overlap never re-reads the previous batch and every tick does the
#: same work.
_BATCH_SPAN_MS = 600_000
_TICK_STEP_MS = 7_200_000
_ACCOUNT = {"etl@example.com": "pw"}


class EtlTicks:
    name = "etl_ticks"
    #: events corpus scale (rows = 1M x sf) and rows landed per tick
    sf = 0.01
    batch_rows = 1000
    new_share = 0.1

    def __init__(self, seed: int):
        self.seed = seed
        self.srv = None
        self.root = None

    def build(self, spark, root: str) -> None:
        from callio_etl_spark.checkpoints import CheckpointStore
        from callio_etl_spark.queries.api_source import (
            _OVERLAP_MS,
            _snapshot_loop_tick,
        )
        from callio_etl_spark.sources.local_api_server import (
            LocalCallioApiServer,
        )
        from callio_etl_spark.sources.paged_api import CallioPagedDataSource

        self.close()
        events = datagen.build_tables(self.seed, self.sf, ["events"])["events"]
        ev = events.to_pydict()
        ev["ts"] = events.column("ts").cast(pa.int64()).to_pylist()
        self.record = {
            str(i): {
                "_id": str(i),
                "ts_ms": ts_us // 1000,
                "user_id": int(u),
                "event_type": et,
                "value": float(v),
            }
            for i, ts_us, u, et, v in zip(
                ev["event_id"], ev["ts"], ev["user_id"], ev["event_type"],
                ev["value"],
            )
        }
        self.next_id = len(self.record)
        self.rng = np.random.default_rng(self.seed + 1)
        self.tick_start_ms = _BULK_END_MS + _TICK_STEP_MS
        self.srv = LocalCallioApiServer(
            list(self.record.values()), accounts=_ACCOUNT,
            result_window=10_000,
        )
        self.base_url = self.srv.start()
        self.root = root
        spark.dataSource.register(CallioPagedDataSource)
        # durable seed checkpoint just before the corpus, so the bulk tick
        # fetches the whole corpus instead of a 30-day lookback from now
        store = CheckpointStore(spark, f"{root}/update_log", overlap_ms=_OVERLAP_MS)
        store.log("HttpSnapEvents", "PK", 0, _T0_MS - 1, "NOOP")
        store.flush()
        self.tick = _snapshot_loop_tick
        self.tick(spark, self.base_url, root, _BULK_END_MS)

    def _land_batch(self) -> None:
        """Put one seeded batch on the server: newer versions of existing ids
        replace the old rows, new ids are added. The server keeps its rows in
        descending time order, and every batch is newer than all of them."""
        n_new = int(self.batch_rows * self.new_share)
        old = self.rng.choice(self.next_id, self.batch_rows - n_new, replace=False)
        ids = [str(i) for i in old] + [
            str(i) for i in range(self.next_id, self.next_id + n_new)
        ]
        self.next_id += n_new
        ts = np.sort(
            self.tick_start_ms + self.rng.integers(0, _BATCH_SPAN_MS, len(ids))
        )
        users = self.rng.integers(0, 1500, len(ids))
        types = self.rng.integers(0, len(datagen.EVENT_TYPES), len(ids))
        values = np.round(self.rng.exponential(50.0, len(ids)), 2)
        batch = []
        for i, t, u, et, v in zip(ids, ts, users, types, values):
            row = {
                "_id": i, "ts_ms": int(t), "user_id": int(u),
                "event_type": datagen.EVENT_TYPES[et], "value": float(v),
            }
            self.record[i] = row
            batch.append(row)
        batch.sort(key=lambda r: (-r["ts_ms"], r["_id"]))
        landed = {r["_id"] for r in batch}
        self.srv.rows = batch + [r for r in self.srv.rows if r["_id"] not in landed]

    def check_pass(self, spark) -> None:
        """Nothing to check before the ticks: ``check`` compares the target
        with every row served, after the last one."""

    def prepare(self) -> None:
        """Untimed work before an operation: the generator lands its batch."""
        self._land_batch()

    def op(self, spark, trace=None) -> int:
        window_end = self.tick_start_ms + _BATCH_SPAN_MS
        self.tick(spark, self.base_url, self.root, window_end)
        self.tick_start_ms += _TICK_STEP_MS
        return self.batch_rows

    def counters(self) -> dict[str, int]:
        return {"sources.requests": self.srv.requests, "sources.logins": self.srv.logins}

    def check(self, spark) -> list[str]:
        """The target must equal newest-per-key of every row served."""
        from callio_etl_spark.snapshots import snapshot_read

        got = {
            r["_id"]: r.asDict()
            for r in snapshot_read(spark, f"{self.root}/fact_events")
            .select("_id", "ts_ms", "user_id", "event_type", "value")
            .collect()
        }
        bad = [] if len(got) == len(self.record) else [
            f"target has {len(got)} ids, generator served {len(self.record)}"
        ]
        wrong = [k for k, row in self.record.items() if got.get(k) != row]
        if wrong:
            bad.append(f"{len(wrong)} ids differ from newest-per-key, e.g. {wrong[0]}")
        return bad

    def close(self) -> None:
        if self.srv is not None:
            self.srv.stop()
            self.srv = None


#: The pass: the reference's report SQL, two TPC-H shapes, the window
#: dedup, and the read side of llm_ops (MinHash LSH and PMI, both through
#: matutil.materialize).
REPORT_QUERIES = [
    "fact_staff_daily_sql",
    "tpch_q1_pricing",
    "tpch_q9_profit",
    "latest_per_key",
    "minhash_lsh_pairs",
    "pmi_cooccurrence",
]


def _canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "item") and not isinstance(v, (list, dict, str, bytes)):
        v = v.item()  # numpy scalar
    if type(v).__name__ == "Decimal":
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _rows(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted(
        (tuple(_canon(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )
    return [columns[i] for i in order], out


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
        except (TypeError, ValueError):
            return False
    return str(a) == str(b)


def compare(spark_cols, spark_rows, duck_cols, duck_rows) -> str | None:
    """None when the two results hold the same rows in any order, else the
    first difference."""
    sc, sr = _rows(spark_cols, spark_rows)
    dc, dr = _rows(duck_cols, duck_rows)
    if sc != dc:
        return f"columns {sc} vs {dc}"
    if len(sr) != len(dr):
        return f"{len(sr)} rows vs {len(dr)}"
    for i, (a, b) in enumerate(zip(sr, dr)):
        for col, x, y in zip(sc, a, b):
            if not _same(x, y):
                return f"row {i} column {col}: {x!r} vs {y!r}"
    return None


class ReportQueries:
    name = "report_queries"
    sf = 0.01

    def __init__(self, seed: int):
        self.seed = seed

    def build(self, spark, root: str) -> None:
        from callio_etl_spark import registry

        self.sf_dir = f"{root}/data"
        self.counts = datagen.write_tables(self.sf_dir, self.seed, self.sf)
        self.fns = {n: registry.all_queries()[n] for n in REPORT_QUERIES}
        self.oracles = {n: registry.all_oracles()[n] for n in REPORT_QUERIES}
        # input rows of a pass: every table each query's oracle reads
        self.rows_per_pass = sum(
            rows
            for sql in self.oracles.values()
            for t, rows in self.counts.items()
            if re.search(rf"\b{t}\b", sql)
        )
        self.mismatches: list[str] | None = None

    def prepare(self) -> None:
        pass

    def run_query(self, spark, name: str, collect: bool = False):
        df = self.fns[name](spark, self.sf_dir)
        if collect:
            return df.columns, df.collect()
        df.write.format("noop").mode("overwrite").save()
        return None

    def check_pass(self, spark) -> None:
        """One warm-up pass that collects every result and compares it with
        the query's DuckDB oracle."""
        import duckdb

        results = {n: self.run_query(spark, n, collect=True) for n in REPORT_QUERIES}
        con = duckdb.connect()
        try:
            for t in datagen.TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.sf_dir, t)}.parquet'"
                )
            self.mismatches = []
            for n, (cols, rows) in results.items():
                cur = con.execute(self.oracles[n])
                diff = compare(
                    cols, rows, [d[0] for d in cur.description], cur.fetchall()
                )
                if diff is not None:
                    self.mismatches.append(f"{n}: {diff}")
        finally:
            con.close()

    def op(self, spark, trace=None) -> int:
        for n in REPORT_QUERIES:
            if trace is None:
                self.run_query(spark, n)
            else:
                trace.call(f"queries.{n}", self.run_query, spark, n)
        return self.rows_per_pass

    def counters(self) -> dict[str, int]:
        return {}

    def check(self, spark) -> list[str]:
        if self.mismatches is None:
            return ["the oracle pass did not run"]
        return self.mismatches

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (EtlTicks, ReportQueries)}
