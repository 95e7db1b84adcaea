"""Per-layer spans recorded from outside the program.

The traced run wraps public functions of the program's modules, so no file of
``callio_etl_spark`` changes. Every module that bound a wrapped function at
import time (``from callio_etl_spark.io import acquire_table_lock``) is patched
too: ``install`` replaces every module attribute that *is* the original
function, so call sites that bound early and call sites that look the name up
late both go through the wrapper.

Spans live in memory as ``(id, parent, op, thread, layer, start, end)`` and are
written out once, at the end of the run. A span nested inside a span of the
same layer is not recorded, so a layer's time is never counted twice.

A wrapper only records while ``Tracer.enabled`` is set; otherwise it calls the
original directly. The runner uses that to alternate traced and untraced
operations, which gives the tracing overhead.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import sys
import threading
import time

#: Layer name -> the (module, attribute) pairs whose calls it covers. A
#: dotted attribute is a method on a class.
LAYERS: dict[str, list[tuple[str, str]]] = {
    "io.lock_wait": [
        ("callio_etl_spark.io", "acquire_service_lock"),
        ("callio_etl_spark.io", "acquire_table_lock"),
    ],
    "checkpoints.warm": [("callio_etl_spark.checkpoints", "CheckpointStore.warm")],
    "checkpoints.flush": [("callio_etl_spark.checkpoints", "CheckpointStore.flush")],
    "checkpoints.compact": [
        ("callio_etl_spark.checkpoints", "CheckpointStore.compact_if_needed")
    ],
    "merge.write": [("callio_etl_spark.merge", "merge_write_snapshot")],
    "snapshots.commit": [
        ("callio_etl_spark.snapshots", "snapshot_partition_overwrite"),
        ("callio_etl_spark.snapshots", "snapshot_append"),
        ("callio_etl_spark.snapshots", "snapshot_upsert_rows"),
        ("callio_etl_spark.snapshots", "snapshot_delete_rows"),
        ("callio_etl_spark.snapshots", "snapshot_delete_partitions"),
    ],
    "snapshots.meta": [
        ("callio_etl_spark.snapshots", "snapshot_has_published_head"),
        ("callio_etl_spark.snapshots", "snapshot_manifest"),
        ("callio_etl_spark.snapshots", "snapshot_properties"),
    ],
    "snapshots.cdc": [("callio_etl_spark.snapshots", "snapshot_consume_changes")],
    "snapshots.read": [("callio_etl_spark.snapshots", "snapshot_read")],
    "llm_ops.materialize": [("callio_etl_spark.llm_ops.matutil", "materialize")],
}


class Tracer:
    """Span recorder shared by every wrapper of one run."""

    def __init__(self) -> None:
        self.enabled = False
        self.op: int | None = None
        self.spans: list[tuple] = []
        self.commits: dict[int, list[bool]] = {}  # op -> useful flag per commit
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._manifest = None  # the unwrapped snapshot_manifest

    def _stack(self) -> list[tuple[int, str]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def call(self, layer: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span of ``layer`` (if tracing is on and no
        span of the same layer is already open on this thread)."""
        stack = self._stack()
        if not self.enabled or any(name == layer for _, name in stack):
            return fn(*args, **kwargs)
        sid = next(self._ids)
        parent = stack[-1][0] if stack else None
        stack.append((sid, layer))
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    (sid, parent, self.op, threading.current_thread().name,
                     layer, t0, t1)
                )

    def _head(self, spark, path: str):
        """The published manifest without its version number, or None when
        the table has no head yet. Two equal results around a commit mean
        the commit published nothing new."""
        try:
            m = dict(self._manifest(spark, path))
        except FileNotFoundError:
            return None
        m.pop("version", None)
        return json.dumps(m, sort_keys=True, default=str)

    def commit(self, fn, sig, *args, **kwargs):
        """A snapshot commit: a span, plus whether it changed the table."""
        if not self.enabled or any(n == "snapshots.commit" for _, n in self._stack()):
            return self.call("snapshots.commit", fn, *args, **kwargs)
        bound = sig.bind(*args, **kwargs)
        spark, path = bound.arguments["spark"], bound.arguments["path"]
        before = self._head(spark, path)
        out = self.call("snapshots.commit", fn, *args, **kwargs)
        useful = self._head(spark, path) != before
        with self._lock:
            self.commits.setdefault(self.op, []).append(useful)
        return out

    def install(self) -> None:
        """Wrap every function in LAYERS, at every module that holds it."""
        import callio_etl_spark.snapshots as snaps

        self._manifest = snaps.snapshot_manifest
        for layer, targets in LAYERS.items():
            for mod_name, attr in targets:
                owner = importlib.import_module(mod_name)
                if "." in attr:
                    cls_name, meth = attr.split(".")
                    cls = getattr(owner, cls_name)
                    setattr(cls, meth, self._wrapper(layer, getattr(cls, meth)))
                    continue
                orig = getattr(owner, attr)
                wrapped = self._wrapper(layer, orig)
                for mod in list(sys.modules.values()):
                    if (getattr(mod, "__name__", "") or "").startswith(
                        "callio_etl_spark"
                    ) and getattr(mod, attr, None) is orig:
                        setattr(mod, attr, wrapped)

    def _wrapper(self, layer: str, fn):
        if layer == "snapshots.commit":
            sig = inspect.signature(fn)

            @functools.wraps(fn)
            def traced_commit(*args, **kwargs):
                return self.commit(fn, sig, *args, **kwargs)

            return traced_commit

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(layer, fn, *args, **kwargs)

        return traced

    def op_totals(self, op: int) -> dict[str, float]:
        """Seconds per layer inside one operation (all threads)."""
        out: dict[str, float] = {}
        for _, _, o, _, layer, t0, t1 in self.spans:
            if o == op:
                out[layer] = out.get(layer, 0.0) + (t1 - t0)
        return out

    def top_level_s(self, op: int, thread: str) -> float:
        """Seconds the op's own thread spent inside root spans."""
        return sum(
            t1 - t0
            for _, parent, o, th, _, t0, t1 in self.spans
            if o == op and parent is None and th == thread
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sid, parent, op, thread, layer, t0, t1 in self.spans:
                fh.write(json.dumps({
                    "id": sid, "parent": parent, "op": op, "thread": thread,
                    "layer": layer, "start": t0, "end": t1,
                }) + "\n")
