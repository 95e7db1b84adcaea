from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from callio_etl_spark.session import get_spark  # noqa: E402
from callio_etl_spark.tables import TABLE_NAMES  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("callio-etl-tests", cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    from decimal import Decimal

    if isinstance(v, Decimal):
        return float(v)
    try:
        import numpy as np

        if isinstance(v, np.generic):
            return v.item()
    except ImportError:
        pass
    return v


def _frame(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    data = sorted(
        (tuple(_canon(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )
    return [columns[i] for i in order], data


def _cells_match(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return str(a) == str(b)


def assert_oracle_match(sdf, duck, sql: str):
    """Mirror of the driver's t2 gate: columns, rowcount, values."""
    s_cols, s_rows = _frame(sdf.columns, [tuple(r) for r in sdf.collect()])
    cur = duck.execute(sql)
    d_cols, d_rows = _frame([d[0] for d in cur.description], cur.fetchall())
    assert s_cols == d_cols, f"columns differ: {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"rowcount {len(s_rows)} vs {len(d_rows)}"
    for i, (a, b) in enumerate(zip(s_rows, d_rows)):
        for col, x, y in zip(s_cols, a, b):
            assert _cells_match(x, y), f"row {i} col {col}: spark={x!r} duckdb={y!r}"


@pytest.fixture
def viewfs(spark, tmp_path):
    """A viewfs default FS mounted onto a local dir, a stand-in for a
    cluster's HDFS. Yields ``(remote, mounted)``: a scheme-less path
    under ``remote`` resolves into ``mounted``, so a write that lands at
    ``remote`` on the driver's disk bypassed the default FS. Hadoop
    caches one ``viewfs://c/`` instance per JVM with the mount table it
    was built from, so the cache is off while the fixture holds; the
    conf is restored after."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    remote, mounted = tmp_path / "remote", tmp_path / "mounted"
    link = f"fs.viewfs.mounttable.c.link.{remote}"
    keys = ("fs.defaultFS", "fs.viewfs.impl.disable.cache")
    old = {k: conf.get(k) for k in keys}
    conf.set(link, f"file://{mounted}")
    conf.set("fs.defaultFS", "viewfs://c/")
    conf.set("fs.viewfs.impl.disable.cache", "true")
    try:
        yield remote, mounted
    finally:
        for k, v in old.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
        conf.unset(link)
