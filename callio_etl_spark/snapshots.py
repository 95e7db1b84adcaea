"""Snapshot-isolated tables — the engine's one table format
(partitioned tables, and whole tables stored under one reserved constant
leaf by ``snapshot_overwrite`` and ``snapshot_append(partition_col=None)``:
report facts, dims, the update_log, IVM views, sinks), the
manifest-committed layout that gives a reader scanning MID-COMMIT the
whole old or the whole new table, never a mix of partitions (the
reference's MERGE is BigQuery-atomic, `callio_etl/runner.py:163-199`).
This is the Iceberg/Delta commit idea reduced to its plain-filesystem
core:

- data files are IMMUTABLE once written: each commit lands its partitions
  under `table/<col>=<val>/__s<version>_<token>__/` — a directory no
  current reader resolves, so staging is invisible;
- a commit is ONE atomic filesystem op: creating the next numbered
  manifest `table/__snap__/m<version>.json` (written to a tmp name and
  renamed — readers never observe a partial manifest);
- readers resolve the HIGHEST manifest, then scan exactly the data
  directories it references via `basePath`-anchored leaf paths, so Spark
  still infers the partition column and PartitionFilters still prune.

A reader therefore sees exactly one committed snapshot — never a mixed
state — even while any number of overwrites commit, and keeps seeing it
mid-scan because the files it resolved are immutable and survive until a
vacuum whose retention (``keep_snapshots``) the deployment sizes to exceed
its longest scan, exactly Delta VACUUM's contract.

Concurrency: staging is UNLOCKED (concurrent 100 TB writes proceed in
parallel); the table commit lock covers only manifest read -> data-dir
rename -> manifest publish (metadata ops, milliseconds), so commits
serialize and each new manifest extends the latest committed state —
read-modify-write of DISJOINT partitions composes correctly. Crash before
publish leaves only unreferenced `__s*__` dirs and a stale staging, both
vacuumed by the next committer; crash after publish is a completed commit.
There is no roll-forward/roll-back recovery machine at all — the manifest
either exists (committed) or doesn't (not committed).

Scale: a commit costs one rename per AFFECTED partition plus one manifest
(O(affected), not O(table)); the manifest holds one entry per partition of
the table — fine for date/tenant-grained partitioning (thousands), which is
this engine's partitioning doctrine (SCALE.md); file-grained manifests are
where a full Iceberg binding takes over.

One commit protocol: every manifest-publishing verb commits through
``_commit``, and nothing else writes a manifest. Its steps, in order: take
the table lock; sweep stale stagings; read the published head and the next
version once; let the verb's ``build`` check the head, move its staged
leaves in and return its manifest changes (or a no-op); lay the changes
over the head's carried keys; publish the manifest, fenced
(``_write_manifest``); vacuum; release the lock. The carry rule is the
same for every verb: ``partition_col``, ``schema``, ``bloom``,
``bucket_spec``, ``spec_history``, ``renames``, ``widens``,
``properties``, ``delete_keys`` and the five leaf maps (``partitions``,
``stats``, ``file_stats``, ``file_blooms``, ``deletes``) carry from the
head; ``staged``, ``parent``, ``published_from``, ``segments`` and
``seg_n`` never carry. A verb overrides only the keys it changes.
"""

from __future__ import annotations

import contextlib
import contextvars
import hashlib
import json
import os
import threading
import uuid

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from callio_etl_spark.io import (
    STAGING_SUFFIX,
    _delete,
    _exists,
    _hadoop,
    _jpath,
    _rename,
    _vacuum_stale_stagings,
    acquire_table_lock,
    assert_commit_fencing,
    release_table_lock,
)

SNAP_DIR = "__snap__"
_MANIFEST_RE_PREFIX = "m"  # m000001.json
_TAG_PREFIX = "tag_"  # tag_<name>.json — one file per tag (atomic create)
#: x000003.json — a DISCARDED staged version's number, tombstoned so no
#: later commit can reuse it: a reader/auditor still pinned to that
#: version must error, never silently read an unrelated commit's rows.
_TOMBSTONE_PREFIX = "x"
#: The reserved constant partition column of a WHOLE table
#: (``snapshot_overwrite``, ``snapshot_append(partition_col=None)``): its
#: one leaf ``__table__=all`` holds the whole table, and
#: ``snapshot_read`` drops the column again.
WHOLE_TABLE_COL = "__table__"
_WHOLE_TABLE_VALUE = "all"


def _snap_dir(path: str) -> str:
    return f"{path.rstrip('/')}/{SNAP_DIR}"


def _snapshot_table_at(
    spark: SparkSession, path: str, migrate: str = "snapshot_overwrite it"
) -> bool:
    """The format guard every owner of a table runs before touching it:
    True when ``path`` holds a snapshot table, False when it holds
    nothing. Raises when it holds a plain parquet table — data files
    directly under it, or under the ``.__backup__`` sibling where a
    crashed rename swap of the old plain format left the whole table (a
    snapshot table keeps only ``__snap__`` and ``col=value`` dirs at its
    top level): a snapshot commit there would mix two formats in one
    directory, and a reader would see "no snapshot" where data exists.
    ``migrate`` is the conversion step the message names (the default
    suits a whole table)."""
    jvm, fs, _ = _hadoop(spark, path)
    if _exists(jvm, fs, _snap_dir(path)):
        return True

    def holds_files(p: str) -> bool:
        return _exists(jvm, fs, p) and any(
            st.isFile() and not st.getPath().getName().startswith(("_", "."))
            for st in fs.listStatus(_jpath(jvm, p))
        )

    if holds_files(path) or holds_files(path.rstrip("/") + ".__backup__"):
        raise RuntimeError(
            f"{path} is a plain parquet table, not a snapshot table; "
            f"migrate it once before the next run: read it with "
            f"spark.read.parquet({path!r}), {migrate} into a new path, "
            f"then move the new table to {path!r}"
        )
    return False


def _numbered(jvm, fs, path: str, prefix: str) -> list[int]:
    sd = _snap_dir(path)
    if not _exists(jvm, fs, sd):
        return []
    out = []
    for st in fs.listStatus(_jpath(jvm, sd)):
        name = st.getPath().getName()
        if name.startswith(prefix) and name.endswith(".json"):
            digits = name[len(prefix) : -len(".json")]
            if digits.isdigit():
                out.append(int(digits))
    return sorted(out)


def _manifest_versions(jvm, fs, path: str) -> list[int]:
    return _numbered(jvm, fs, path, _MANIFEST_RE_PREFIX)


def _next_version(jvm, fs, path: str) -> int:
    """The next commit number: past every manifest AND every tombstone,
    so a discarded staged version's number is never reassigned."""
    taken = _manifest_versions(jvm, fs, path) + _numbered(
        jvm, fs, path, _TOMBSTONE_PREFIX
    )
    return (max(taken) if taken else 0) + 1


def _manifest_path(path: str, version: int) -> str:
    return f"{_snap_dir(path)}/m{version:06d}.json"


#: Manifests stay ONE inline JSON up to this many partition leaves; past
#: it the leaf-keyed maps spill into content-addressed SEGMENT files
#: (Iceberg's manifest-list/manifest split, the 100 TB driver-side fix):
#: a commit touching k leaves re-serializes only the segments holding
#: them — every untouched segment has identical content, hashes to the
#: same name, and is REFERENCED, not rewritten — so per-commit metadata
#: write cost is O(touched segments), not O(table), and the retained
#: history (keep_snapshots versions × tags) SHARES segment files instead
#: of multiplying the full enumeration.
_SEGMENT_INLINE_MAX = 4096
#: Leaves per segment target; the segment count is the next power of two
#: of leaves/target, so membership (md5(leaf) % n) reshuffles only when
#: the table crosses a doubling boundary.
_SEGMENT_TARGET_LEAVES = 2048

#: Scoped (per-context) override of the spill thresholds — NEVER mutate
#: the module globals to lower them for a test/bench: a snapshot commit
#: executing concurrently in the same driver would silently spill its
#: manifests at the lowered values. A ContextVar is confined to the
#: calling context, so concurrent queries keep the production defaults.
_SEGMENT_OVERRIDE: "contextvars.ContextVar[tuple[int, int] | None]" = (
    contextvars.ContextVar("segment_thresholds", default=None)
)


@contextlib.contextmanager
def segment_thresholds(inline_max: int, target_leaves: int):
    """Scope lowered manifest-spill thresholds to the enclosed block
    (driver-scale tests exercise the segmented path on 60-leaf tables
    this way). Confined to the current execution context — concurrent
    commits elsewhere in the driver are unaffected.

    CAVEAT: ContextVars do not cross threads. A commit executing on a
    DIFFERENT thread than the one holding this block — notably
    Structured Streaming's foreachBatch, which runs on a py4j callback
    thread — observes the production defaults, so wrapping a streaming
    run in this manager silently exercises the INLINE path. To drive
    the segmented path through the streaming sink, set the override
    inside the batch function itself (it runs on the callback thread)."""
    tok = _SEGMENT_OVERRIDE.set((int(inline_max), int(target_leaves)))
    try:
        yield
    finally:
        _SEGMENT_OVERRIDE.reset(tok)


def _segment_limits() -> tuple[int, int]:
    ov = _SEGMENT_OVERRIDE.get()
    return ov if ov is not None else (
        _SEGMENT_INLINE_MAX,
        _SEGMENT_TARGET_LEAVES,
    )
#: The manifest maps keyed by partition leaf — the parts that spill.
_LEAF_MAPS = ("partitions", "stats", "file_stats", "file_blooms", "deletes")

#: Segment files are immutable (content-addressed), so an in-process
#: cache is always coherent; bounded LRU because tests churn many tables.
#: The lock guards the dict against the PARALLEL loader below (eviction
#: iterates the dict; a concurrent insert would break the iteration) —
#: FS reads themselves stay unlocked and concurrent.
_SEG_CACHE: dict[tuple[str, str], dict] = {}
_SEG_CACHE_MAX = 128
_SEG_CACHE_LOCK = threading.Lock()


def _seg_path(path: str, h: str) -> str:
    return f"{_snap_dir(path)}/seg_{h}.json"


def _segment_index(leaf: str, n: int) -> int:
    return int(hashlib.md5(leaf.encode("utf-8")).hexdigest()[:8], 16) % n


def _read_small_json(jvm, fs, file_path: str) -> dict:
    p = _jpath(jvm, file_path)
    stream = fs.open(p)
    try:
        data = bytes(
            jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        ).decode("utf-8")
    finally:
        stream.close()
    return json.loads(data)


def _load_segment(jvm, fs, path: str, h: str) -> dict:
    key = (_snap_dir(path), h)
    with _SEG_CACHE_LOCK:
        hit = _SEG_CACHE.get(key)
    if hit is not None:
        return hit
    seg = _read_small_json(jvm, fs, _seg_path(path, h))
    with _SEG_CACHE_LOCK:
        if len(_SEG_CACHE) >= _SEG_CACHE_MAX:
            _SEG_CACHE.pop(next(iter(_SEG_CACHE)))
        _SEG_CACHE[key] = seg
    return seg


def _load_segments(jvm, fs, path: str, hashes: list[str]) -> list[dict]:
    """Load many segment files, IN PARALLEL past a handful: each load is
    ~4 py4j round trips (~50 ms of gateway latency, not I/O), so a cold
    full resolve of a 16-segment manifest is latency-bound serial —
    threads overlap the round trips (py4j is thread-safe; each thread
    gets its own gateway connection) and cut the resolve to ~the slowest
    single load. Order of the result matches ``hashes``."""
    if len(hashes) <= 2:
        return [_load_segment(jvm, fs, path, h) for h in hashes]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(16, len(hashes))) as ex:
        return list(
            ex.map(lambda h: _load_segment(jvm, fs, path, h), hashes)
        )


def _fold_segments(jvm, fs, path: str, m: dict, hashes: list[str]) -> dict:
    """Load the segment files ``hashes`` into ``m``'s leaf maps."""
    for mp in _LEAF_MAPS:
        m.setdefault(mp, {})
    for seg in _load_segments(jvm, fs, path, hashes):
        for mp, entries in seg.items():
            m[mp].update(entries)
    return m


def _spill_segments(
    jvm,
    fs,
    path: str,
    manifest: dict,
    parent: dict | None = None,
    touched: set[str] | None = None,
) -> dict:
    """Split the leaf-keyed maps into content-addressed segment files and
    return the top manifest referencing them by hash. Only segments whose
    file is not already on disk are written (an unchanged segment from
    the parent version — or a racing writer producing identical content —
    is free); segment writes happen BEFORE the manifest rename that
    commits, so a crash strands only unreferenced files the next vacuum
    sweeps.

    Driver CPU is O(touched segments), not O(table): when the caller
    passes its ``parent`` manifest and the set of ``touched`` leaves
    (every leaf whose entry in ANY leaf map may differ — added,
    rewritten, or removed), and the segment count is unchanged from the
    parent, the untouched segments' hashes are carried VERBATIM from
    the parent's ``segments`` list — no re-serialization, no re-hash.
    Segments are positional (one slot per ``md5(leaf) % n`` group, an
    empty group writes the constant ``{}`` segment) and the count is
    recorded as ``seg_n`` so alignment with the parent is provable; a
    parent without ``seg_n`` (pre-reuse format) or with a different n
    (doubling boundary crossed) falls back to a full recompute."""
    import math

    leaves = set()
    for mp in _LEAF_MAPS:
        leaves.update(manifest.get(mp) or {})
    _, target_leaves = _segment_limits()
    n = 1
    if len(leaves) > target_leaves:
        n = 1 << math.ceil(math.log2(len(leaves) / target_leaves))
    groups: dict[int, list[str]] = {gi: [] for gi in range(n)}
    for leaf in sorted(leaves):
        groups[_segment_index(leaf, n)].append(leaf)
    parent_hashes = None
    touched_gis: set[int] | None = None
    if (
        parent is not None
        and touched is not None
        and parent.get("seg_n") == n
        and len(parent.get("segments") or []) == n
    ):
        parent_hashes = parent["segments"]
        touched_gis = {_segment_index(leaf, n) for leaf in touched}
    hashes = []
    for gi in range(n):
        if (
            parent_hashes is not None
            and gi not in touched_gis
        ):
            # untouched segment: identical content by the caller's
            # touched-leaves contract — reuse the parent's hash verbatim
            hashes.append(parent_hashes[gi])
            continue
        seg = {
            mp: {
                leaf: manifest[mp][leaf]
                for leaf in groups[gi]
                if leaf in manifest[mp]
            }
            for mp in _LEAF_MAPS
            if manifest.get(mp)
        }
        seg = {mp: entries for mp, entries in seg.items() if entries}
        blob = json.dumps(seg, sort_keys=True).encode("utf-8")
        h = hashlib.md5(blob).hexdigest()
        final = _seg_path(path, h)
        if not _exists(jvm, fs, final):
            tmp = f"{final}.tmp.{uuid.uuid4().hex[:8]}"
            out = fs.create(_jpath(jvm, tmp), True)
            try:
                out.write(bytearray(blob))
            finally:
                out.close()
            try:
                _rename(jvm, fs, tmp, final)
            except IOError:
                # a racing writer landed the identical content first
                if not _exists(jvm, fs, final):
                    raise
                fs.delete(_jpath(jvm, tmp), False)
        hashes.append(h)
    top = {k: v for k, v in manifest.items() if k not in _LEAF_MAPS}
    top["segments"] = hashes
    top["seg_n"] = n
    return top


def _move_staged_leaves(
    jvm, fs, staging: str, path: str, leaves: list[str], token: str
) -> None:
    """Move every staged partition leaf under the table as
    ``<path>/<leaf>/<token>`` (mkdirs + rename), IN PARALLEL past a
    handful: each move is ~2 py4j round trips of pure gateway latency,
    so the in-lock phase of a wide commit (100k staged leaves) would
    otherwise be minutes of serial driver round trips held under the
    table lock — long enough to trip the stale-reclaim window. Threads
    overlap the latency (py4j is thread-safe; each thread gets its own
    gateway connection), the same treatment ``_load_segments`` gives
    the manifest read path. Order is irrelevant: every move is an
    independent (leaf, token) pair and the manifest that makes them
    live publishes strictly after all of them. A failed move raises —
    the commit never publishes, QUEUED moves are cancelled (only the
    ~pool-width in-flight ones complete, so a failure at leaf #5 of
    100k strands a handful of token dirs, not the whole staged set),
    and the strands are exactly what ``snapshot_remove_orphans``
    sweeps."""

    def move(leaf: str) -> None:
        dest_parent = f"{path}/{leaf}"
        fs.mkdirs(_jpath(jvm, dest_parent))
        _rename(jvm, fs, f"{staging}/{leaf}", f"{dest_parent}/{token}")

    if len(leaves) <= 2:
        for leaf in leaves:
            move(leaf)
        return
    from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

    with ThreadPoolExecutor(max_workers=min(16, len(leaves))) as ex:
        futs = [ex.submit(move, leaf) for leaf in leaves]
        done, not_done = wait(futs, return_when=FIRST_EXCEPTION)
        err = next(
            (f.exception() for f in done if f.exception() is not None),
            None,
        )
        if err is not None:
            for f in not_done:
                f.cancel()
            raise err
        # FIRST_EXCEPTION wakes on full completion too: surface a failure
        # that landed after the wait returned
        for f in futs:
            if f.done() and not f.cancelled() and f.exception() is not None:
                raise f.exception()


def _read_manifest(
    spark: SparkSession,
    path: str,
    version: int,
    leaves: list[str] | None = None,
) -> dict:
    """Resolve a manifest: top file + (for spilled tables) its segments.

    ``leaves`` enables PARTIAL resolution — the segmented read path's
    O(touched) half: when the caller knows exactly which partition
    leaves it needs (a point read on the partition column), only the
    segments holding them (``md5(leaf) % seg_n``) are loaded, so a
    point lookup against a 100k-leaf table reads the small top manifest
    plus ONE segment instead of the whole enumeration. The partial
    manifest is a READ-ONLY projection (its leaf maps cover only the
    requested leaves) — a commit must never treat one as the table's
    full enumeration. Two blessed caller shapes: ``snapshot_read``'s
    point probe, and EXHAUSTIVE-candidate membership probes (the caller
    names every leaf the partition column can possibly hold — e.g. the
    band/IVF index's fixed residue set bkt=0..63 — so "present among
    the requested leaves" IS the full enumeration; a non-exhaustive
    candidate list fed into a retire/commit decision would silently
    under-include). Guards
    (any failing -> full resolve, always correct): the table must spill
    positionally (``seg_n`` present), must not span partition specs
    (old-spec dirs can hold any value of the probe column), and every
    requested leaf must belong to the manifest's partition column."""
    jvm, fs, _ = _hadoop(spark, path)
    m = _read_small_json(jvm, fs, _manifest_path(path, version))
    if "segments" in m:
        n = m.get("seg_n")
        partial = (
            leaves is not None
            and n
            and len(m["segments"]) == n
            and "spec_history" not in m
            and all(
                leaf.split("=", 1)[0] == m.get("partition_col")
                for leaf in leaves
            )
        )
        if partial:
            need = sorted({_segment_index(leaf, n) for leaf in leaves})
            hashes = [m["segments"][gi] for gi in need]
        else:
            hashes = m["segments"]
        _fold_segments(jvm, fs, path, m, hashes)
        if partial:
            # a projection must never masquerade as the full enumeration
            keep = set(leaves)
            for mp in _LEAF_MAPS:
                m[mp] = {
                    leaf: v for leaf, v in m[mp].items() if leaf in keep
                }
    return m


def _write_manifest(
    spark: SparkSession,
    path: str,
    manifest: dict,
    parent: dict | None = None,
    touched: set[str] | None = None,
) -> None:
    """Publish a manifest atomically: write complete bytes to a tmp name
    readers ignore (only ``m<digits>.json`` resolves), then rename to the
    final numbered name — the rename IS the commit point. Past
    ``_SEGMENT_INLINE_MAX`` partition leaves the leaf-keyed maps spill to
    content-addressed segment files first (see ``_spill_segments``); a
    stale ``segments``/``seg_n`` key inherited from a parent manifest is
    always recomputed, never trusted.

    ``parent``/``touched`` enable the spill's O(touched-segments) hash
    reuse: pass the manifest this commit was derived from and the exact
    set of partition leaves whose entries changed (added, rewritten, or
    removed — in ANY leaf map). Omitting them is always CORRECT, just
    O(table-leaves) driver CPU on a spilling commit; passing an
    under-inclusive ``touched`` set would publish stale segment content,
    so callers must err on the side of inclusion."""
    jvm, fs, _ = _hadoop(spark, path)
    sd = _snap_dir(path)
    fs.mkdirs(_jpath(jvm, sd))
    manifest = {
        k: v for k, v in manifest.items() if k not in ("segments", "seg_n")
    }
    inline_max, _ = _segment_limits()
    if len(manifest.get("partitions", {})) > inline_max:
        manifest = _spill_segments(
            jvm, fs, path, manifest, parent=parent, touched=touched
        )
    final = _manifest_path(path, manifest["version"])
    tmp = f"{final}.tmp.{uuid.uuid4().hex[:8]}"
    out = fs.create(_jpath(jvm, tmp), True)
    try:
        out.write(bytearray(json.dumps(manifest, sort_keys=True).encode("utf-8")))
    finally:
        out.close()
    # fencing: a writer that stalled past the stale window and lost its
    # lock to a reclaim must not publish over the new holder's commits
    assert_commit_fencing(spark, path)
    _rename(jvm, fs, tmp, final)


def snapshot_versions(spark: SparkSession, path: str) -> list[int]:
    """PUBLISHED snapshot versions, oldest first (time travel surface).
    Staged write-audit-publish manifests (``audit=True`` commits) are
    excluded — they are invisible to every reader that doesn't pin
    their version explicitly; see ``snapshot_staged``."""
    jvm, fs, _ = _hadoop(spark, path)
    return [
        v
        for v in _manifest_versions(jvm, fs, path)
        if not _read_manifest(spark, path, v).get("staged")
    ]


def snapshot_has_published_head(spark: SparkSession, path: str) -> bool:
    """True iff the table has a PUBLISHED snapshot head — the existence
    probe incremental writers branch create-vs-merge on. A bare manifest
    DIR is not enough: a staged-only or fully-tombstoned history (first
    tick's audit failed / crashed mid-audit) must take the create path,
    not crash every retry on snapshot_read's 'no published snapshot'.
    Probes through the Hadoop FS abstraction, so hdfs://-/s3a://-style
    warehouses answer correctly where an os.path check is always False."""
    return bool(snapshot_versions(spark, path))


def snapshot_staged(spark: SparkSession, path: str) -> list[int]:
    """Versions of manifests staged for audit (not yet published)."""
    jvm, fs, _ = _hadoop(spark, path)
    return [
        v
        for v in _manifest_versions(jvm, fs, path)
        if _read_manifest(spark, path, v).get("staged")
    ]


def _published_head(
    spark: SparkSession, jvm, fs, path: str, leaves: list[str] | None = None
) -> dict | None:
    """The latest PUBLISHED manifest — the parent every new commit
    builds on. Skips staged manifests so an in-flight audit never
    leaks into concurrent writers' read-modify-write. ``leaves``
    requests partial segment resolution (read-only projection; see
    ``_read_manifest``) — there is exactly ONE copy of the
    skip-staged rule, shared by commits and the partial read path."""
    for v in reversed(_manifest_versions(jvm, fs, path)):
        m = _read_manifest(spark, path, v, leaves=leaves)
        if not m.get("staged"):
            return m
    return None


#: The manifest keys every commit inherits from the published head unless
#: its verb overrides them (the carry rule; see the module docstring).
_CARRY_KEYS = (
    "partition_col",
    "schema",
    "bloom",
    "bucket_spec",
    "spec_history",
    "renames",
    "widens",
    "properties",
    "delete_keys",
    *_LEAF_MAPS,
)


@contextlib.contextmanager
def _table_locked(spark: SparkSession, path: str):
    """Hold the table commit lock for the enclosed block and yield the
    table's ``(jvm, fs)`` — the one place this module takes and releases
    the lock."""
    jvm, fs, _ = _hadoop(spark, path)
    acquire_table_lock(spark, path)
    try:
        yield jvm, fs
    finally:
        release_table_lock(spark, path)


def _commit(spark: SparkSession, path: str, keep_snapshots: int, build) -> int:
    """The commit transaction (see the module docstring). ``build(prev,
    version)`` runs under the lock against the published head ``prev``
    (None for a new table) and the version this commit would take. It
    returns ``(changes, touched)`` — the manifest keys the verb sets,
    ``op`` included (a ``None`` value removes the key), and every leaf
    whose leaf-map entries it changed — or an int: the version to report
    when there is nothing to commit. A ``published_from`` change marks a
    write-audit-publish publish, whose staged source manifest is removed
    once its live copy is published. Returns the committed version."""
    with _table_locked(spark, path) as (jvm, fs):
        _vacuum_stale_stagings(jvm, fs, path)
        prev = _published_head(spark, jvm, fs, path)
        version = _next_version(jvm, fs, path)
        out = build(prev, version)
        if isinstance(out, int):
            return out
        changes, touched = out
        manifest = {k: prev[k] for k in _CARRY_KEYS if prev and k in prev}
        manifest.update(changes, version=version)
        manifest = {k: v for k, v in manifest.items() if v is not None}
        _write_manifest(spark, path, manifest, parent=prev, touched=touched)
        if "published_from" in manifest:
            _delete(jvm, fs, _manifest_path(path, manifest["published_from"]))
        _vacuum_snapshots(spark, jvm, fs, path, keep_snapshots)
        return version


def _need_head(prev: dict | None, path: str) -> dict:
    if prev is None:
        raise FileNotFoundError(f"no published snapshot at {path}")
    return prev


def _leaf_maps(prev: dict | None) -> dict[str, dict]:
    """Copies of the head's five leaf-keyed maps, for a verb to edit."""
    return {mp: dict((prev or {}).get(mp, {})) for mp in _LEAF_MAPS}


def _forget_leaf(maps: dict[str, dict], leaf: str, mps=_LEAF_MAPS) -> None:
    """Drop ``leaf`` from the named leaf maps (all five by default)."""
    for mp in mps:
        maps[mp].pop(leaf, None)


def _changed_leaves(a: dict | None, b: dict) -> set[str]:
    """Every leaf whose entry differs between two resolved manifests in
    any leaf map — the ``touched`` set of a commit that republishes
    ``b``'s content over head ``a``."""
    a = a or {}
    out = set()
    for mp in _LEAF_MAPS:
        old, new = a.get(mp) or {}, b.get(mp) or {}
        out.update(
            leaf
            for leaf in old.keys() | new.keys()
            if old.get(leaf) != new.get(leaf)
        )
    return out


def _refuse_pending_deletes(prev: dict, path: str, action: str) -> None:
    if any(prev.get("deletes", {}).values()):
        raise ValueError(
            f"table {path} has pending merge-on-read delete files; "
            f"compact them before {action}"
        )


def _column_names(prev: dict, path: str, name: str) -> list[str]:
    """The head's committed column names, after checking ``name`` is one."""
    if "schema" not in prev:
        raise ValueError(f"{path} manifest lacks a committed schema")
    names = [f["name"] for f in prev["schema"]["fields"]]
    if name not in names:
        raise ValueError(f"no column {name!r} in {names}")
    return names


def _check_properties(props: dict) -> None:
    if not all(isinstance(k, str) for k in props):
        raise ValueError("property keys must be strings")
    json.dumps(props)  # fail loud on non-serializable values


def _merged_properties(prev: dict | None, props: dict | None) -> dict | None:
    """The head's properties with ``props`` merged in (a ``None`` value
    unsets its key); None when no property is left."""
    merged = dict((prev or {}).get("properties", {}))
    for k, v in (props or {}).items():
        if v is None:
            merged.pop(k, None)
        else:
            merged[k] = v
    return merged or None


def _tag_file(path: str, name: str) -> str:
    return f"{_snap_dir(path)}/{_TAG_PREFIX}{name}.json"


def _valid_tag(name: str) -> bool:
    return bool(name) and all(c.isalnum() or c in "._-" for c in name)


def snapshot_tags(spark: SparkSession, path: str) -> dict[str, int]:
    """All named tags: {name: version}. Metadata-only."""
    jvm, fs, _ = _hadoop(spark, path)
    sd = _snap_dir(path)
    if not _exists(jvm, fs, sd):
        return {}
    out: dict[str, int] = {}
    for st in fs.listStatus(_jpath(jvm, sd)):
        fname = st.getPath().getName()
        if fname.startswith(_TAG_PREFIX) and fname.endswith(".json"):
            name = fname[len(_TAG_PREFIX) : -len(".json")]
            tag = _read_small_json(jvm, fs, _tag_file(path, name))
            out[name] = int(tag["version"])
    return out


def snapshot_tag(
    spark: SparkSession, path: str, name: str, version: int | None = None
) -> int:
    """Tag a retained version with an IMMUTABLE name (Iceberg tags /
    Delta's named checkpoints): ``snapshot_read(tag=name)`` resolves it
    forever after, and the vacuum PINS the tagged manifest and every
    data dir it references past ``keep_snapshots`` — so 'the corpus we
    trained run X on' stays pinnable while retention moves on. One tag
    is one file created-if-absent under the commit lock (no
    read-modify-write, no torn tag set); re-pointing requires an
    explicit ``snapshot_drop_tag`` first, which is the audit property a
    provenance pointer wants. Tag cost is O(1) metadata; the storage
    cost is the tagged snapshot's UNSHARED data dirs, exactly Iceberg's
    tag-retention trade. Returns the tagged version."""
    if not _valid_tag(name):
        raise ValueError(f"invalid tag name {name!r} (want [A-Za-z0-9._-]+)")
    path = path.rstrip("/")
    with _table_locked(spark, path) as (jvm, fs):
        published = snapshot_versions(spark, path)
        if not published:
            raise FileNotFoundError(f"no published snapshot at {path}")
        v = published[-1] if version is None else version
        if v not in published:
            raise FileNotFoundError(
                f"cannot tag v{v}: published retained history is {published}"
            )
        have = snapshot_tags(spark, path)
        if name in have:
            if have[name] == v:
                return v  # idempotent re-tag of the same version
            raise ValueError(
                f"tag {name!r} already points at v{have[name]}; "
                "drop it first to re-point"
            )
        final = _tag_file(path, name)
        tmp = f"{final}.tmp.{uuid.uuid4().hex[:8]}"
        out = fs.create(_jpath(jvm, tmp), True)
        try:
            out.write(bytearray(json.dumps({"version": v}).encode("utf-8")))
        finally:
            out.close()
        _rename(jvm, fs, tmp, final)
        return v


def snapshot_drop_tag(spark: SparkSession, path: str, name: str) -> None:
    """Remove a tag; the next vacuum may reclaim what only it pinned."""
    if not _valid_tag(name):
        raise ValueError(f"invalid tag name {name!r} (want [A-Za-z0-9._-]+)")
    path = path.rstrip("/")
    with _table_locked(spark, path) as (jvm, fs):
        p = _jpath(jvm, _tag_file(path, name))
        if not fs.exists(p):
            raise FileNotFoundError(f"no tag {name!r} at {path}")
        fs.delete(p, False)


def snapshot_manifest(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    tag: str | None = None,
    leaves: list[str] | None = None,
) -> dict:
    """The committed manifest (latest published, a pinned ``version``,
    or a named ``tag`` — mutually exclusive). An explicit ``version``
    may name a STAGED manifest: that is the auditor's read path in the
    write-audit-publish flow. ``leaves`` requests PARTIAL segment
    resolution (see ``_read_manifest`` — a read-only projection; safe
    for point probes and for EXHAUSTIVE-candidate membership checks
    where the caller names every value the partition column can hold,
    never as a commit's full-enumeration input otherwise)."""
    jvm, fs, _ = _hadoop(spark, path)
    if tag is not None:
        if version is not None:
            raise ValueError("pass version OR tag, not both")
        tags = snapshot_tags(spark, path)
        if tag not in tags:
            raise FileNotFoundError(
                f"no tag {tag!r} at {path}; have {sorted(tags)}"
            )
        version = tags[tag]
    versions = _manifest_versions(jvm, fs, path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    if version is None:
        # head resolution stays cheap on the partial path: 'staged' is a
        # top-manifest field, so each probe loads at most the requested
        # leaves' segments — and the skip-staged rule lives in exactly
        # one place (_published_head) for both paths
        head = _published_head(spark, jvm, fs, path, leaves=leaves)
        if head is None:
            raise FileNotFoundError(
                f"no published snapshot at {path} (staged-only history)"
            )
        return head
    if version not in versions:
        raise FileNotFoundError(
            f"no snapshot version {version} at {path}; have {versions}"
        )
    return _read_manifest(spark, path, version, leaves=leaves)


def snapshot_read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    between: tuple[str, object, object] | None = None,
    point: tuple[str, object] | None = None,
    tag: str | None = None,
) -> DataFrame:
    """Read one committed snapshot (latest by default; pin ``version`` for
    time travel, or a named ``tag`` — see ``snapshot_tag``). Resolves the manifest ONCE, then scans exactly the data
    dirs it references — `basePath` keeps partition-column inference and
    PartitionFilters pruning identical to a plain partitioned read. A
    commit racing this read cannot change what it sees: the resolved dirs
    are immutable and stay on disk for ``keep_snapshots`` more commits.
    A whole table (``snapshot_overwrite``) reads without its reserved
    ``WHOLE_TABLE_COL``.

    ``between=(col, lo, hi)`` prunes by the manifest's per-partition
    [min, max] stats for a NON-partition column (recorded by commits
    that passed ``stats_cols``): partitions whose range cannot intersect
    [lo, hi] are never listed or scanned — metadata-only skipping on a
    second dimension, Iceberg's min/max pruning at partition grain.
    Partitions without stats for the column are conservatively kept.
    NOTE: pruning skips I/O only; apply the row filter on the result for
    exact semantics.

    ``point=(col, value)`` — or ``(col, [v1, v2, ...])`` for an IN-list
    probe (a file is kept if ANY value may be present — the
    decontamination / key-audit shape) — prunes FILES by the manifest's
    per-file bloom bitmaps (recorded by commits that passed
    ``bloom_cols``): the probe
    positions are computed driver-side in pure Python (md5 parity with
    the write-side JVM expressions — zero Spark jobs before the pruned
    scan) and a file whose bitmap proves the value absent is never
    scanned. This is the tier min/max can't give: a point lookup on a
    high-cardinality key the layout is NOT clustered by has file ranges
    that span everything, while a bloom still skips ~all files
    (Delta/Iceberg's bloom-filter index role). Leaves without full
    bloom coverage for the column (e.g. grown by an append that didn't
    pass bloom_cols) are conservatively scanned whole. Composes with
    ``between``: file lists intersect. Same contract as ``between``:
    pruning only — apply the row filter on the result.

    Merge-on-read: if the manifest lists delete files (see
    ``snapshot_delete_rows``), the scan anti-joins them for the scanned
    partitions, so readers always see the LOGICAL content of the pinned
    version.

    PARTITION-SPEC EVOLUTION (``snapshot_evolve_spec``): a table whose
    history spans specs (day-era dirs under ``d=...``, month-era dirs
    under ``ym=...``) is read as one frame — each data dir is evaluated
    under ITS OWN writing spec (per-spec scan groups, so every old row
    keeps its original partition value; the groups align on the
    committed union schema), and pruning applies per spec: ``between``
    on a group's own partition column prunes by the PARTITION VALUES
    themselves (exact), on any other column by the recorded stats
    (conservative keep without them) — Iceberg's
    evaluate-each-file-under-the-spec-that-wrote-it rule."""
    path = path.rstrip("/")
    want_leaves = None
    vals = (
        point[1]
        if point is not None and isinstance(point[1], (list, tuple, set))
        else ([point[1]] if point is not None else [])
    )
    if (
        point is not None
        and len(vals) > 0  # an empty IN-list must fall through to the
        # full path's fail-loud ValueError, not read as an empty frame
        and all(
            # only value types whose Python str() matches Spark's
            # partition-path rendering may name leaves directly: str
            # (with escaping) and int. str(True)="True" vs Spark's
            # "true", str(1e-07) vs Java's "1.0E-7", timestamps etc. all
            # diverge — a constructed leaf that misses would silently
            # return an EMPTY frame where rows exist, so those types
            # take the always-correct full resolve + row filter.
            v is not None
            and isinstance(v, (str, int))
            and not isinstance(v, bool)
            for v in vals
        )
    ):
        # A point probe ON the partition column names its leaves exactly
        # (f"{col}={escaped(v)}" — the SAME path escaping the writer
        # used, or the leaf would miss) — the segmented read path then
        # resolves only their segments (top manifest + touched segments,
        # O(probe) metadata at any leaf count). _read_manifest falls
        # back to a full resolve unless the col really is the partition
        # column, the table spills positionally, and no spec evolution
        # is recorded.
        esc = _catalog_utils(spark).escapePathName
        want_leaves = [f"{point[0]}={esc(str(v))}" for v in vals]
    m = snapshot_manifest(spark, path, version, tag=tag, leaves=want_leaves)
    if m["partition_col"] == WHOLE_TABLE_COL:
        # the constant leaf column is storage layout, not table data
        return _read_single_spec(spark, path, m, between, point).drop(
            WHOLE_TABLE_COL
        )
    prefixes = {leaf.split("=", 1)[0] for leaf in m["partitions"]}
    if len(prefixes) > 1:
        from functools import reduce

        outs = []
        for pc in sorted(prefixes):
            leaves = {
                l: t
                for l, t in m["partitions"].items()
                if l.split("=", 1)[0] == pc
            }
            sub = {
                **m,
                "partition_col": pc,
                **{
                    mp: {
                        l: v for l, v in m.get(mp, {}).items() if l in leaves
                    }
                    for mp in _LEAF_MAPS
                },
            }
            outs.append(_read_single_spec(spark, path, sub, between, point))
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), outs
        )
    if prefixes:
        # The group's spec column is what the leaves were WRITTEN under,
        # not the manifest's current (possibly evolved) spec. Between a
        # metadata-only snapshot_evolve_spec commit and the first new-spec
        # write, every leaf still carries the OLD column — exact
        # value-pruning on the NEW column against old-era leaf values
        # would compare disjoint domains and silently drop every row, so
        # the single-prefix path derives the column from the actual
        # prefix exactly as the multi-prefix branch does.
        (pc,) = prefixes
        if pc != m["partition_col"]:
            m = {**m, "partition_col": pc}
    return _read_single_spec(spark, path, m, between, point)


def _leaf_value_in(spark: SparkSession, leaf: str, lo, hi) -> bool | None:
    """Exact partition-value test for a leaf under its own spec: whether
    its (unescaped) value lies in [lo, hi]. Values are compared in
    lo/hi's own type when the path string casts cleanly (int/float
    partition values are stringified in paths, where lexicographic
    order lies); None — undecided — for the NULL partition and
    uncastable values."""
    raw = leaf.split("=", 1)[1]
    utils = _catalog_utils(spark)
    if raw == utils.DEFAULT_PARTITION_NAME():
        return None
    val = utils.unescapePathName(raw)
    try:
        if isinstance(lo, (int, float)) and not isinstance(lo, bool):
            v = type(lo)(val)
        else:
            v, lo, hi = str(val), str(lo), str(hi)
        return lo <= v <= hi
    except (TypeError, ValueError):
        return None


def _read_single_spec(
    spark: SparkSession,
    path: str,
    m: dict,
    between: tuple[str, object, object] | None,
    point: tuple[str, object] | None,
) -> DataFrame:
    """One spec group's scan — the whole single-spec read path (partition
    prune -> file prune -> bloom prune -> MoR deletes)."""
    keep = sorted(m["partitions"])
    if between is not None:
        bcol, lo, hi = between
        if bcol == m["partition_col"]:
            # the group's OWN spec column: the partition values are the
            # exact truth, no stats needed (undecided leaves are kept)
            keep = [
                leaf
                for leaf in keep
                if _leaf_value_in(spark, leaf, lo, hi) is not False
            ]
        else:
            stats = m.get("stats", {})
            keep = [
                leaf
                for leaf in keep
                if _stat_may_intersect(stats.get(leaf, {}).get(bcol), lo, hi)
            ]
    if not m["partitions"]:
        # an empty snapshot (everything deleted): zero-row frame with the
        # COMMITTED schema when the manifest records one, so downstream
        # unions / view refreshes see the same shape as a non-empty read
        if "schema" in m:
            from pyspark.sql.types import StructType

            return spark.createDataFrame([], StructType.fromJson(m["schema"]))
        return spark.range(0).select(
            F.lit(None).cast("string").alias(m["partition_col"])
        )
    all_leafs = [
        f"{path}/{leaf}/{tok}"
        for leaf in sorted(m["partitions"])
        for tok in _leaf_toks(m, leaf)
    ]
    sch = None
    reader = spark.read.option("basePath", path)
    if "schema" in m:
        # the manifest records the COMMITTED schema: data dirs written by
        # older commits read missing columns as NULL (schema evolution),
        # the partition column keeps its declared type instead of falling
        # to path-string inference, and planning skips footer sampling
        from pyspark.sql.types import StructType

        sch = StructType.fromJson(m["schema"])
        reader = reader.schema(sch)
    if not keep:  # every partition pruned: empty frame, real schema
        return reader.parquet(*all_leafs).limit(0)
    probe = None
    if point is not None:
        pcol, pval = point
        pvals = list(pval) if isinstance(pval, (list, tuple, set)) else [pval]
        if not pvals or any(v is None for v in pvals):
            raise ValueError("point probe values must be non-empty, non-NULL")
        bp = m.get("bloom")
        if bp:
            probe = (
                pcol,
                [bloom_probe_positions(v, bp["m"], bp["k"]) for v in pvals],
            )
    scan: list[str] = []
    for leaf in keep:
        toks = _leaf_toks(m, leaf)
        cand: list[str] | None = None  # None = scan the whole leaf
        per_file = (
            m.get("file_stats", {}).get(leaf) if between is not None else None
        )
        # file-skip is valid only if the recorded files cover EVERY data
        # dir of the leaf (an append without file_stats voids coverage)
        covered = (
            per_file
            and {k.split("/", 1)[0] for k in per_file} == set(toks)
            and all(bcol in fs_ for fs_ in per_file.values())
        )
        if covered:
            # second pruning tier: keep only FILES whose recorded
            # [min, max] can intersect — a z-ordered partition collapses
            # to the few contiguous files covering the range
            cand = [
                key
                for key, fs_ in sorted(per_file.items())
                if _stat_may_intersect(fs_.get(bcol), lo, hi)
            ]  # zero hits: whole partition legitimately skipped
        if probe is not None:
            pcol, positions = probe
            per_bloom = m.get("file_blooms", {}).get(leaf)
            bcovered = (
                per_bloom
                and {k.split("/", 1)[0] for k in per_bloom} == set(toks)
                and all(pcol in b for b in per_bloom.values())
            )
            if bcovered:
                hit = {
                    key
                    for key, b in per_bloom.items()
                    if any(
                        _bloom_may_contain(b[pcol], pos) for pos in positions
                    )
                }
                cand = [
                    key
                    for key in (cand if cand is not None else sorted(per_bloom))
                    if key in hit
                ]
        if cand is None:
            scan.extend(f"{path}/{leaf}/{tok}" for tok in toks)
        else:
            scan.extend(f"{path}/{leaf}/{key}" for key in cand)
    if not scan:
        return reader.parquet(*all_leafs).limit(0)
    return _apply_deletes(spark, path, m, keep, _era_scan(spark, path, m, scan, sch))


#: Dir tokens are ``__s{version:06d}[del]_{hex}__`` — 06d is zero-PADDING,
#: not a width cap (version numbers grow forever and are never reused), so
#: the parse must take every digit up to the `_`/`del` delimiter or a
#: version past 999999 would be truncated and merge-on-read delete
#: sequencing would compare against the wrong version.
_TOKEN_VERSION_RE = "__s([0-9]+)"


def _stored_name(renames: list[dict], current: str, dir_version: int) -> str:
    """The column name a data dir written at ``dir_version`` stores for
    the CURRENT name ``current``: walk the rename history newest-first,
    un-applying every rename that happened after the dir was written
    (chained renames a->b->c resolve era by era)."""
    name = current
    for r in sorted(renames, key=lambda r: -r["version"]):
        if r["version"] > dir_version and r["to"] == name:
            name = r["from"]
    return name


def _stored_field(
    renames: list[dict], widens: list[dict], current: str, cur_type, dir_version: int
):
    """The (name, type) a data dir written at ``dir_version`` stores for
    the column CURRENTLY named ``current`` with committed JSON type
    ``cur_type``: walk the combined rename+widen history newest-first,
    un-applying every event that happened after the dir was written.
    The name is tracked era by era, so a widen recorded before a later
    rename matches against the PRE-rename name it was committed under."""
    events = sorted(
        [("r", r) for r in renames] + [("w", w) for w in widens],
        key=lambda e: -e[1]["version"],
    )
    name, typ = current, cur_type
    for kind, e in events:
        if e["version"] <= dir_version:
            continue
        if kind == "r" and e["to"] == name:
            name = e["from"]
        elif kind == "w" and e["name"] == name:
            typ = e["from"]
    return name, typ


def _era_scan(spark: SparkSession, path: str, m: dict, dirs: list[str], schema):
    """Scan data dirs with RENAME- and WIDEN-AWARE schemas (Iceberg's
    field-ID resolution, done with the commit version the dir token
    carries): dirs are grouped by the (name, type) mapping their era
    implies; each group is read under the names AND types it physically
    stores, then aliased and CAST UP to the current schema, so a renamed
    column's historical values surface under the new name (instead of
    NULL) and a widened column's narrow-era files read at their written
    width (instead of a parquet type-mismatch failure). No history (or
    no committed schema): one plain scan."""
    base = spark.read.option("basePath", path)
    if schema is not None:
        base = base.schema(schema)
    renames = m.get("renames") or []
    widens = m.get("widens") or []
    if (not renames and not widens) or schema is None:
        return base.parquet(*dirs)
    import re as _re

    from pyspark.sql.types import StructType

    cur_fields = {f["name"]: f for f in json.loads(schema.json())["fields"]}
    groups: dict[tuple, list[str]] = {}
    for dpath in dirs:
        # entries are dir paths (…/leaf/token) OR file paths when the
        # between/point tiers pruned to individual files
        # (…/leaf/token/file) — the commit version rides in the token
        # component either way; take the LAST match so a table rooted
        # under a token-looking user path can't confuse the parse
        ver = int(
            list(_re.finditer(_TOKEN_VERSION_RE, dpath))[-1].group(1)
        )
        mp = []
        for f in schema.fields:
            cur_t = cur_fields[f.name]["type"]
            sname, stype = _stored_field(renames, widens, f.name, cur_t, ver)
            if sname != f.name or stype != cur_t:
                mp.append((f.name, sname, json.dumps(stype)))
        groups.setdefault(tuple(sorted(mp)), []).append(dpath)
    outs = []
    for mp, dps in sorted(groups.items()):
        if not mp:
            outs.append(base.parquet(*sorted(dps)))
            continue
        era = {
            cur: (sname, json.loads(stype)) for cur, sname, stype in mp
        }  # current name -> (stored name, stored JSON type)
        stored = StructType.fromJson(
            {
                "type": "struct",
                "fields": [
                    {
                        **cur_fields[f.name],
                        "name": era.get(f.name, (f.name,))[0],
                        **(
                            {"type": era[f.name][1]}
                            if f.name in era
                            else {}
                        ),
                    }
                    for f in schema.fields
                ],
            }
        )
        df = (
            spark.read.option("basePath", path)
            .schema(stored)
            .parquet(*sorted(dps))
        )
        outs.append(
            df.select(
                *[
                    (
                        F.col(era[f.name][0]).cast(f.dataType)
                        if f.name in era
                        else F.col(f.name)
                    ).alias(f.name)
                    for f in schema.fields
                ]
            )
        )
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), outs)


def _apply_deletes(
    spark: SparkSession, path: str, m: dict, leafs, df: DataFrame
) -> DataFrame:
    """Merge-on-read with SEQUENCE-NUMBER semantics (Iceberg v2): a
    delete file applies only to data dirs committed STRICTLY BEFORE it —
    both carry their commit version in the dir token, parsed per row
    from input_file_name, so a key deleted at v5 and re-appended at v6
    is alive, and an upsert can publish its delete files and its new
    data dirs in ONE version (the deletes cover the old rows, never the
    new ones). Partitions without delete entries pass through with no
    join at all; the delete side aggregates to max-delete-version per
    key (tiny), so AQE broadcasts the join. The join is NULL-safe: a
    NULL partition value (the __HIVE_DEFAULT_PARTITION__ leaf) or key
    matches its delete row."""
    dels = {
        leaf: toks
        for leaf, toks in m.get("deletes", {}).items()
        if toks and leaf in set(leafs)
    }
    if not dels:
        return df
    col, keys = m["partition_col"], m["delete_keys"]
    dpaths = [
        f"{path}/{leaf}/{tok}"
        for leaf, toks in sorted(dels.items())
        for tok in toks
    ]
    # the commit version rides in the file's PARENT component (the token
    # dir); extracting from that component alone — not the whole path —
    # keeps a table rooted under a token-looking user path from
    # corrupting the sequence comparison
    ver = F.regexp_extract(
        F.element_at(F.split(F.input_file_name(), "/"), -2),
        _TOKEN_VERSION_RE,
        1,
    ).cast("int")
    pc_type = dict(df.dtypes)[col]
    on = list(dict.fromkeys([col, *keys]))
    dmax = (
        spark.read.option("basePath", path)
        .parquet(*dpaths)
        .select(F.col(col).cast(pc_type).alias(col), *keys, ver.alias("__dv"))
        .groupBy(*on)
        .agg(F.max("__dv").alias("__dv"))
        .toDF(*[f"__d_{c}" for c in on], "__dv")
    )
    match = F.lit(True)
    for c in on:
        match = match & F.col(c).eqNullSafe(F.col(f"__d_{c}"))
    live = (
        df.withColumn("__rv", ver)
        .join(dmax, match, "left")
        .where(F.col("__dv").isNull() | (F.col("__rv") >= F.col("__dv")))
    )
    # join columns first, as an equi-join USING them would order them
    return live.select(*on, *[c for c in df.columns if c not in on])


def _leaf_toks(m: dict, leaf: str) -> list[str]:
    """A partition's data-dir tokens. Scalar (the common single-dir form)
    or a list once ``snapshot_append`` stacked extra dirs onto the leaf."""
    toks = m["partitions"][leaf]
    return [toks] if isinstance(toks, str) else list(toks)


def snapshot_evolve_spec(
    spark: SparkSession,
    path: str,
    new_partition_col: str,
    keep_snapshots: int = 2,
) -> int:
    """EVOLVE the table's partition spec (Iceberg partition-spec
    evolution, done properly rather than as a re-stamp): a METADATA-ONLY
    commit after which new writes partition by ``new_partition_col``
    while every existing data dir stays under the spec that wrote it —
    nothing is rewritten, old rows keep their original partition values,
    and ``snapshot_read`` evaluates each dir under its own spec (per-spec
    scan groups; ``between`` on either spec column prunes exactly within
    its era and by recorded stats across it). The day->month migration a
    growing table needs costs one manifest write, not a 100 TB rewrite;
    old-era partitions migrate lazily, one atomic commit each, via
    ``snapshot_partition_overwrite(df=<their rows under the new spec>,
    retire_leaves=[<their old dirs>])``.

    Subsequent overwrites MUST declare the new column (the usual
    partition-col check now enforces the current spec) and their
    committed schema UNIONS the table's, so carried old-spec dirs keep
    reading their columns. Refused on bucketed tables (the bucketed
    mount declares one partition spec) and while merge-on-read delete
    files are pending (delete files are assigned under one spec;
    compact them first). Returns the committed version."""
    path = path.rstrip("/")

    def build(prev, version):
        prev = _need_head(prev, path)
        if prev["partition_col"] == new_partition_col:
            raise ValueError(
                f"table already partitions by {new_partition_col!r}"
            )
        if prev.get("bucket_spec"):
            raise ValueError(
                f"table {path} is bucket-colocated ({prev['bucket_spec']}): "
                f"the bucketed mount declares a single partition spec — "
                f"drop the bucket layout (full rewrite) before evolving"
            )
        _refuse_pending_deletes(prev, path, "evolving the partition spec")
        history = prev.get("spec_history", [prev["partition_col"]])
        return {
            "op": "evolve-spec",
            "partition_col": new_partition_col,
            "spec_history": history + [new_partition_col],
        }, set()

    return _commit(spark, path, keep_snapshots, build)


def snapshot_set_properties(
    spark: SparkSession,
    path: str,
    props: dict,
    keep_snapshots: int = 2,
) -> int:
    """SET TABLE PROPERTIES in one metadata commit (Iceberg/Delta's
    ``ALTER TABLE ... SET TBLPROPERTIES``): merge ``props`` into the
    manifest's ``properties`` map — a ``None`` value UNSETS its key. No
    data file is touched; properties ride every later commit (data
    commits carry them like the rename/widen histories), version with
    the table (time travel reads the properties as of that version), and
    are the channel operators use to pin table-scoped parameters — e.g.
    the band index's planned LSH geometry, frozen at build time so later
    ticks can never silently re-key the index. Keys must be strings and
    values JSON-serializable. Returns the committed version."""
    path = path.rstrip("/")
    if not props:
        raise ValueError("props must be a non-empty dict")
    _check_properties(props)

    def build(prev, version):
        return {
            "op": "set-properties",
            "properties": _merged_properties(_need_head(prev, path), props),
        }, set()

    return _commit(spark, path, keep_snapshots, build)


def snapshot_properties(
    spark: SparkSession, path: str, version: int | None = None
) -> dict:
    """The table's properties map as of the given (default: latest
    published) version — empty dict if none were ever set. Properties
    are a top-manifest field, so on a spilled (segmented) table this is
    a top-only resolve (leaves=[]): O(1) metadata at any leaf count."""
    return dict(
        snapshot_manifest(spark, path.rstrip("/"), version, leaves=[]).get(
            "properties", {}
        )
    )


def snapshot_rename_column(
    spark: SparkSession,
    path: str,
    old: str,
    new: str,
    keep_snapshots: int = 2,
) -> int:
    """RENAME a column in one metadata commit (Iceberg's field-ID rename,
    resolved here by commit version instead of field ids): no data file
    is rewritten — the manifest schema carries the new name, the rename
    is appended to the manifest's ``renames`` history, and every read
    path resolves each data dir under the names IT stores (the dir token
    carries its commit version; see ``_era_scan``), so historical values
    surface under the new name instead of reading NULL. Renames chain
    (a->b->c across eras) and compose with schema evolution, spec
    evolution, CDC (the feed reads both sides under the TO-version's
    names — a rename alone never fabricates updates), and compaction
    (rewriting a partition migrates it to current names physically).

    Conservative pruning contract: per-partition/per-file stats and
    blooms recorded under the old name are no longer found under the new
    one, so ``between``/``point`` pruning on a renamed column keeps old
    dirs unpruned (never wrong, just unskipped) until a rewrite records
    fresh stats.

    Refused: renaming the partition column (that is spec evolution),
    while merge-on-read delete files are pending (delete files store key
    columns under their writing names; compact first), and on
    bucket-colocated tables (the bucketed mount declares ONE physical
    schema and cannot alias per era — rewrite under the new name
    instead). Returns the committed version."""
    path = path.rstrip("/")

    def build(prev, version):
        prev = _need_head(prev, path)
        if new in _column_names(prev, path, old):
            raise ValueError(f"column {new!r} already exists")
        if old == prev["partition_col"]:
            raise ValueError(
                "renaming the partition column is spec evolution — use "
                "snapshot_evolve_spec"
            )
        if prev.get("bucket_spec"):
            raise ValueError(
                f"table {path} is bucket-colocated ({prev['bucket_spec']}): "
                f"the bucketed mount cannot alias names per era — rewrite "
                f"under the new name instead"
            )
        # delete files store key columns under their writing names
        _refuse_pending_deletes(prev, path, "renaming")
        fields = [
            {**f, "name": new} if f["name"] == old else f
            for f in prev["schema"]["fields"]
        ]
        changes = {
            "op": "rename-column",
            "schema": {**prev["schema"], "fields": fields},
            "renames": prev.get("renames", [])
            + [{"version": version, "from": old, "to": new}],
        }
        if old in prev.get("delete_keys", []):
            # the established MoR key set follows the rename (no delete
            # FILES are pending — checked above — so nothing on disk
            # still stores the old key name)
            changes["delete_keys"] = [
                new if k == old else k for k in prev["delete_keys"]
            ]
        return changes, set()

    return _commit(spark, path, keep_snapshots, build)


def snapshot_drop_column(
    spark: SparkSession,
    path: str,
    name: str,
    keep_snapshots: int = 2,
) -> int:
    """DROP a column in one metadata commit: the field leaves the
    committed schema (reads stop projecting it; no data file is touched)
    and a TOMBSTONE rename is recorded so the drop has Iceberg field-id
    semantics — if a column with the same name is ever ADDED again, data
    dirs older than the drop read it as NULL instead of resurfacing the
    dead column's values (their stored name resolves to the tombstone,
    which no file contains). Same refusal matrix as rename: not the
    partition column, not on bucketed tables, not the delete-key set,
    not while delete files are pending."""
    path = path.rstrip("/")

    def build(prev, version):
        prev = _need_head(prev, path)
        _column_names(prev, path, name)
        if name == prev["partition_col"]:
            raise ValueError("cannot drop the partition column")
        if prev.get("bucket_spec", {}).get("col") == name:
            raise ValueError(
                f"{name!r} is the table's bucket column; rewrite the "
                f"layout before dropping it"
            )
        if name in prev.get("delete_keys", []):
            raise ValueError(
                f"{name!r} is part of the table's delete_keys"
            )
        _refuse_pending_deletes(prev, path, "dropping columns")
        fields = [f for f in prev["schema"]["fields"] if f["name"] != name]
        # tombstone: a future same-named column resolves pre-drop dirs to
        # this never-written name -> NULL, not resurrection
        tomb = f"__dropped_{name}_{uuid.uuid4().hex[:8]}__"
        return {
            "op": "drop-column",
            "schema": {**prev["schema"], "fields": fields},
            "renames": prev.get("renames", [])
            + [{"version": version, "from": tomb, "to": name}],
        }, set()

    return _commit(spark, path, keep_snapshots, build)


#: Type-widening lattice (Iceberg's evolve-type verbs): a column may move
#: RIGHT within its chain, never left, never across chains. Types are the
#: Spark schema-JSON spellings.
_WIDEN_CHAINS = (
    ("byte", "short", "integer", "long"),
    ("float", "double"),
)


def _is_widening(from_t, to_t) -> bool:
    """True iff ``from_t -> to_t`` is a value-preserving widening: the
    integer chain byte<short<integer<long, float<double, or a decimal
    precision increase at the SAME scale. Anything else (narrowing,
    cross-family, scale changes, complex types) is not a widening."""
    if not isinstance(from_t, str) or not isinstance(to_t, str):
        return False
    if from_t == to_t:
        return False
    for chain in _WIDEN_CHAINS:
        if from_t in chain and to_t in chain:
            return chain.index(from_t) < chain.index(to_t)
    import re as _re

    mf = _re.fullmatch(r"decimal\((\d+),(-?\d+)\)", from_t)
    mt = _re.fullmatch(r"decimal\((\d+),(-?\d+)\)", to_t)
    if mf and mt and mf.group(2) == mt.group(2):
        return int(mf.group(1)) < int(mt.group(1))
    return False


def snapshot_widen_column(
    spark: SparkSession,
    path: str,
    name: str,
    new_type: str,
    keep_snapshots: int = 2,
) -> int:
    """WIDEN a column's type in one metadata commit (the remaining
    Iceberg schema-evolution verb after add/rename/drop/spec; the
    reference tolerates the same relaxation on append via
    ``ALLOW_FIELD_RELAXATION``, bigquery_service.py:276-284): no data
    file is rewritten — the manifest schema carries the new type, the
    widen is appended to the manifest's ``widens`` history, and every
    read resolves each data dir under the type IT stores (the dir token
    carries its commit version, exactly the rename-era machinery), so
    old narrow files are read at their written width and CAST UP to the
    committed type in the scan projection. Only value-preserving
    widenings are allowed — byte<short<int<long, float<double, decimal
    precision growth at the same scale; narrowing or cross-family
    changes are refused (the refusal matrix the tests pin).

    Pruning contract: partition/file [min, max] stats stay valid (every
    recorded bound is exactly representable at the wider type), so
    ``between`` pruning keeps working across the widen; the column's
    per-file BLOOM entries are dropped from the manifest (bloom
    positions hash the value's STRING form, which float->double does
    not preserve) — conservative, never wrong, re-recorded on the next
    rewrite that passes bloom_cols.

    Refused: the partition column (its values live in dir paths; evolve
    the spec or rewrite instead), bucket-colocated tables (the bucketed
    mount declares ONE physical schema, and bucket hashes are
    width-sensitive), and delete-key columns (merge-on-read delete
    files store key values at their writing width). Returns the
    committed version."""
    path = path.rstrip("/")

    def build(prev, version):
        prev = _need_head(prev, path)
        _column_names(prev, path, name)
        old_type = next(
            f["type"] for f in prev["schema"]["fields"] if f["name"] == name
        )
        if name == prev["partition_col"]:
            raise ValueError(
                "cannot widen the partition column (its values live in "
                "the dir paths); evolve the spec or rewrite instead"
            )
        if prev.get("bucket_spec"):
            raise ValueError(
                f"table {path} is bucket-colocated ({prev['bucket_spec']}): "
                f"bucket hashes are width-sensitive and the bucketed mount "
                f"declares one physical schema — rewrite instead"
            )
        if name in prev.get("delete_keys", []):
            raise ValueError(
                f"{name!r} is part of the table's delete_keys "
                f"(merge-on-read delete files store key values at their "
                f"writing width); compact and re-key before widening"
            )
        if not _is_widening(old_type, new_type):
            raise ValueError(
                f"{old_type} -> {new_type} is not a widening for "
                f"{name!r}: only byte<short<integer<long, float<double, "
                f"and decimal precision growth at the same scale evolve "
                f"in place — anything narrower needs a rewrite"
            )
        fields = [
            {**f, "type": new_type} if f["name"] == name else f
            for f in prev["schema"]["fields"]
        ]
        blooms = {}
        for leaf, files in prev.get("file_blooms", {}).items():
            kept = {
                key: {c: bm for c, bm in per.items() if c != name}
                for key, per in files.items()
            }
            kept = {key: per for key, per in kept.items() if per}
            if kept:
                blooms[leaf] = kept
        widen = {
            "version": version,
            "name": name,
            "from": old_type,
            "to": new_type,
        }
        # only leaves carrying bloom entries can differ from prev (the
        # widened column's blooms are dropped); a superset is always safe
        return {
            "op": "widen-column",
            "schema": {**prev["schema"], "fields": fields},
            "file_blooms": blooms,
            "widens": prev.get("widens", []) + [widen],
        }, set(prev.get("file_blooms", {}))

    return _commit(spark, path, keep_snapshots, build)


def _relax_batch_types(df: DataFrame, prev: dict | None) -> DataFrame:
    """The write-side half of type widening (the reference's
    ``ALLOW_FIELD_RELAXATION`` on load, bigquery_service.py:276-284):
    when the table's committed schema declares a WIDER type than the
    batch for a column, cast the batch UP before staging, so the new
    data dir physically stores the committed width — its commit version
    is newer than the widen's, and era resolution rightly expects wide
    storage there. A batch WIDER than the table is refused: widening is
    an explicit ``snapshot_widen_column`` commit, never a silent side
    effect of one write."""
    if prev is None or "schema" not in prev:
        return df
    committed = {f["name"]: f["type"] for f in prev["schema"]["fields"]}
    casts: dict[str, str] = {}
    for f in json.loads(df.schema.json())["fields"]:
        have = committed.get(f["name"])
        if have is None or have == f["type"]:
            continue
        if _is_widening(f["type"], have):
            casts[f["name"]] = have
        elif _is_widening(have, f["type"]):
            raise ValueError(
                f"batch column {f['name']!r} is wider ({f['type']}) than "
                f"the table's committed {have}; run snapshot_widen_column "
                f"first"
            )
        # any other mismatch falls through to the commit-time checks
    for c, t in casts.items():
        df = df.withColumn(c, F.col(c).cast(t))
    return df


def _refuse_narrow_batch(prev: dict | None, schema_json: dict) -> None:
    """Commit-lock backstop for ``_relax_batch_types``: the relax runs
    against the head BEFORE staging (outside the lock), so a widen that
    commits in between could leave this batch physically narrower than
    the now-committed type — at a commit version NEWER than the widen's,
    where era resolution expects wide storage. Fail loud; the caller
    re-runs and the relax casts up."""
    if prev is None or "schema" not in prev:
        return
    committed = {f["name"]: f["type"] for f in prev["schema"]["fields"]}
    for f in schema_json["fields"]:
        have = committed.get(f["name"])
        if have is not None and _is_widening(f["type"], have):
            raise ValueError(
                f"batch column {f['name']!r} ({f['type']}) is narrower "
                f"than the committed {have} — a widen raced this write; "
                f"re-run the commit"
            )


def _union_schema_json(prev: dict | None, new: dict) -> dict:
    """Union the head's committed schema with a batch's, column-wise
    (append/upsert/evolved-overwrite rule): old columns keep their
    position, new ones append; a type change is rejected — evolution may
    widen the column set, never silently rewrite a column's type. A head
    without a committed schema yields the batch's."""
    if prev is None or "schema" not in prev:
        return new
    old = prev["schema"]
    old_fields = {f["name"]: f for f in old["fields"]}
    fields = list(old["fields"])
    for f_ in new["fields"]:
        have = old_fields.get(f_["name"])
        if have is None:
            fields.append(f_)
        elif have["type"] != f_["type"]:
            raise ValueError(
                f"schema union changes type of {f_['name']!r}: "
                f"{have['type']} -> {f_['type']}"
            )
    return {**old, "fields": fields}


def snapshot_read_bucketed(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    tag: str | None = None,
) -> tuple[DataFrame, str]:
    """Read a BUCKET-COLOCATED snapshot with its on-disk distribution
    exposed to the planner: mounts the pinned manifest's data dirs as a
    temporary external catalog table declaring the manifest's bucket
    spec (one ``ADD PARTITION ... LOCATION`` per leaf — metadata only,
    nothing is copied or listed beyond the referenced dirs), so joins
    and aggregations on the bucket column run with NO Exchange — the
    write-once shuffle the spec paid is cashed on every read. Returns
    ``(df, table_name)``; drop the catalog entry (``DROP TABLE``) when
    done — it is EXTERNAL, dropping never touches the data.

    The reader VALIDATES the spec before trusting it: the manifest must
    declare ``bucket_spec`` (written by ``snapshot_partition_overwrite
    (bucket_by=...)``, the only commit path allowed on a bucketed
    table), every leaf must hold exactly one data dir, and no delete
    files may be pending — all three are enforced at commit time, so a
    violation here means manifest corruption, and scanning mis-declared
    buckets shuffle-free would silently DROP join pairs. Snapshot
    isolation carries over: the mounted locations are the pinned
    version's immutable dirs, so commits racing this read change
    nothing it sees."""
    path = path.rstrip("/")
    m = snapshot_manifest(spark, path, version, tag=tag)
    spec = m.get("bucket_spec")
    if not spec:
        raise ValueError(f"{path} carries no bucket_spec in its manifest")
    if any(toks for toks in m.get("deletes", {}).values()):
        raise ValueError(
            f"{path} has pending merge-on-read delete files; the "
            f"bucketed read cannot apply them without re-planning the "
            f"distribution"
        )
    multi = sorted(
        leaf for leaf in m["partitions"] if len(_leaf_toks(m, leaf)) > 1
    )
    if multi:
        raise ValueError(
            f"bucketed read needs one data dir per partition, got "
            f"stacked dirs at {multi}"
        )
    if "schema" not in m:
        raise ValueError(f"{path} manifest lacks a committed schema")
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(m["schema"])
    pcol = m["partition_col"]
    renames = m.get("renames") or []
    if renames:
        # the catalog mount declares ONE physical schema; a dir that
        # predates a rename stores the old name and would read NULL —
        # refuse precisely when such a dir is referenced
        import re as _re

        for leaf in sorted(m["partitions"]):
            ver = int(
                _re.search(_TOKEN_VERSION_RE, _leaf_toks(m, leaf)[0]).group(1)
            )
            stale = [
                f.name
                for f in schema.fields
                if _stored_name(renames, f.name, ver) != f.name
            ]
            if stale:
                raise ValueError(
                    f"bucketed read cannot alias renamed columns {stale} "
                    f"stored under old names in {leaf}; rewrite that "
                    f"partition under the current names first"
                )
    data_cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in schema
        if f.name != pcol
    )
    ptype = next(
        (f.dataType.simpleString() for f in schema if f.name == pcol), "string"
    )
    name = f"snapb_{uuid.uuid4().hex[:10]}"
    # LOCATION makes it external: DROP TABLE removes only the catalog
    # entry, never the snapshot's data dirs
    spark.sql(
        f"CREATE TABLE `{name}` ({data_cols}, `{pcol}` {ptype}) "
        f"USING parquet PARTITIONED BY (`{pcol}`) "
        f"CLUSTERED BY (`{spec['col']}`) SORTED BY (`{spec['col']}`) "
        f"INTO {spec['n']} BUCKETS LOCATION '{path}'"
    )
    unescape = _catalog_utils(spark).unescapePathName
    for leaf in sorted(m["partitions"]):
        tok = _leaf_toks(m, leaf)[0]
        val = unescape(leaf.split("=", 1)[1]).replace("'", "''")
        spark.sql(
            f"ALTER TABLE `{name}` ADD PARTITION (`{pcol}`='{val}') "
            f"LOCATION '{path}/{leaf}/{tok}'"
        )
    return spark.table(name), name


def _json_stat(v):
    """A stat value as it will round-trip through the JSON manifest."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    return str(v)  # dates/decimals: stored as strings; caller compares str


def _stat_may_intersect(rng, lo, hi) -> bool:
    """Conservative range test: prune ONLY when stats prove no overlap."""
    if rng is None or rng[0] is None or rng[1] is None:
        return True
    mn, mx = rng
    try:
        if hi is not None and mx is not None and hi < mn:
            return False
        if lo is not None and mn is not None and lo > mx:
            return False
    except TypeError:  # incomparable types: never prune
        return True
    return True


#: Bloom geometry for per-file point-lookup skipping: m bits per
#: (file, column) bitmap (256 bytes -> 512 hex chars in the manifest),
#: k probe positions per value. At ~200 rows/file the false-positive
#: rate is (1 - e^(-k*n/m))^k ~ 0.4%; the knobs are module constants
#: (not per-call) so every bitmap in a table shares one geometry.
BLOOM_M = 2048
BLOOM_K = 5


def _bloom_pos_exprs(col: str, m: int, k: int) -> list:
    """The k bit positions a value sets, as pure JVM expressions:
    md5('<value>:<seed>') -> first 15 hex chars -> long -> mod m.
    md5 (not xxhash64) because the READ side recomputes the same
    positions in pure Python (hashlib) with no Spark job — both engines
    agree byte-for-byte on md5 of the same string. Parity contract:
    Spark's CAST(col AS STRING) must equal Python's str(value) — true
    for string and integral columns, the supported bloom column types
    (floats/timestamps render differently; don't bloom them). NULLs
    contribute the seed-only pattern (concat_ws skips nulls): spurious
    set bits only, never a false negative."""
    return [
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.col(col).cast("string"), F.lit(str(s))
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % m
        )
        for s in range(k)
    ]


def bloom_probe_positions(value, m: int = BLOOM_M, k: int = BLOOM_K) -> list[int]:
    """Python mirror of ``_bloom_pos_exprs`` for one probe value —
    lets ``snapshot_read(point=...)`` prune files from the manifest
    alone, zero Spark jobs before the pruned scan."""
    return [
        int(hashlib.md5(f"{value}:{s}".encode()).hexdigest()[:15], 16) % m
        for s in range(k)
    ]


def _bloom_hex(positions, m: int) -> str:
    """Fold distinct bit positions into an m-bit bitmap, hex-encoded for
    the JSON manifest (m/4 chars)."""
    bits = bytearray(m // 8)
    for p in positions:
        p = int(p)
        bits[p >> 3] |= 1 << (p & 7)
    return bits.hex()


def _bloom_may_contain(hexmap: str, positions: list[int]) -> bool:
    """True unless the bitmap PROVES the value absent (some probe bit
    unset) — the only direction a bloom may prune."""
    bits = bytes.fromhex(hexmap)
    return all(bits[p >> 3] & (1 << (p & 7)) for p in positions)


def _parse_bytes_conf(raw: str) -> int:
    """Spark byte-size conf string -> bytes (``67108864b``, ``256m``,
    ``1g``, bare digits). Mirrors Spark's JavaUtils.byteStringAsBytes for
    the suffixes that appear in practice."""
    s = raw.strip().lower()
    units = {
        "b": 1,
        "k": 1 << 10, "kb": 1 << 10,
        "m": 1 << 20, "mb": 1 << 20,
        "g": 1 << 30, "gb": 1 << 30,
        "t": 1 << 40, "tb": 1 << 40,
    }
    num = s.rstrip("kmgtb")
    suffix = s[len(num):]
    return int(num) * units.get(suffix, 1)


def _plan_size_estimate(df: DataFrame) -> int | None:
    """Catalyst's optimizer size estimate for ``df`` in bytes, or None
    when the plan has none. Catalyst reports UNKNOWN size as the
    defaultSizeInBytes sentinel (Long.MaxValue unless overridden) for
    local relations, RDD-backed frames and some join products. That is
    "no estimate", not "huge". The optimizer also SCALES leaf sizes
    through Project/Filter (a projection over a stats-less leaf reports
    sentinel * ratio, strictly below the sentinel), so an exact equality
    test would leak those frames through as huge (ADVICE r14): anything
    within a factor of 8 of the sentinel counts as stats-less too. The
    one rule for the write-distribution gate (``_distribute_for_write``)
    and the materialization gate (``llm_ops.matutil.materialize``)."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    try:
        sentinel = int(
            df.sparkSession.conf.get("spark.sql.defaultSizeInBytes", str(2**63 - 1))
        )
    except Exception:
        sentinel = 2**63 - 1
    return None if est >= sentinel // 8 else est


def _distribute_for_write(
    df: DataFrame,
    partition_col: str | None,
    override: str | None = None,
) -> DataFrame:
    """Iceberg-style write distribution (``write.distribution-mode=hash``)
    ahead of every staged commit write: REBALANCE the frame on the
    partition column so each leaf lands as few, advisory-sized files
    instead of one file per upstream task per leaf. AQE both COALESCES
    tiny post-shuffle partitions and SKEW-SPLITS oversized ones
    (REBALANCE_PARTITIONS_BY_COL), so the distribution is scale-adaptive
    with no local-only constant: the fixture-scale commit writes ~1 file
    per leaf instead of |tasks| per leaf (r14 measured 4 files vs 128 for
    a 32-task frame over 4 leaves), while a 100 TB leaf still fans out
    across tasks at ``spark.sql.adaptive.advisoryPartitionSizeInBytes``.
    Fewer staged files also means proportionally fewer footer reads in
    ``_staged_stats``/``_staged_blooms``, fewer in-lock rename round
    trips, cheaper vacuum deletes, and fewer file opens on EVERY
    subsequent read of the table (guide: small files hurt twice).

    SIZE-GATED (r14 measure): the rebalance exchange costs a fixed extra
    stage per staged write (~0.2-0.8 s at commit cadence — it showed up
    on every multi-commit service row of the bench), and a frame whose
    optimizer-estimated bytes fit inside ONE advisory partition gains
    nothing from it (AQE would coalesce the shuffle to a single task and
    the plain write already emits few, small files). So the hint is
    applied only when the estimate spans >= 1 advisory partition — a
    data-size-derived rule (guide §2 "derive from input size"), not a
    core-count constant: fixture-scale commits skip the exchange and
    keep bench parity, while any production-scale frame crosses the
    threshold and gets Iceberg-hash file sizing. Catalyst over-estimates
    (e.g. join products) fire the rebalance early, which is safe; a
    frame with no estimate (``_plan_size_estimate``: the sentinel/8
    band) keeps the plain write. A genuine >=2^60-byte single-frame
    estimate keeping the plain write is acceptable — at that size the
    writer's task count already fans the leaf out.

    Production knob: ``spark.callio.write.distribution`` — ``rebalance``
    (default, Iceberg's hash mode, size-gated), ``always`` (ungated, for
    layout-critical tables), or ``none`` (Iceberg's none mode, for
    callers that pre-distribute; the zorder and bucketBy paths already
    impose their own distribution and never reach this). ``override``
    (an explicit per-call mode, e.g. compaction's "none" — its
    coalesce(target_files) IS the distribution) wins over the conf."""
    if override is not None:
        mode = override
    else:
        try:
            mode = df.sparkSession.conf.get(
                "spark.callio.write.distribution", "rebalance"
            )
        except Exception:
            mode = "rebalance"
    if mode not in ("rebalance", "always"):
        return df
    if mode == "rebalance":
        # no estimate -> keep the plain write (see _plan_size_estimate)
        est = _plan_size_estimate(df)
        if est is None:
            return df
        try:
            advisory = _parse_bytes_conf(
                df.sparkSession.conf.get(
                    "spark.sql.adaptive.advisoryPartitionSizeInBytes", "67108864b"
                )
            )
        except Exception:
            return df  # advisory size unavailable: keep the plain write
        if est < advisory:
            return df
    if partition_col:
        return df.hint("rebalance", partition_col)
    return df.hint("rebalance")


def _staged_blooms(
    spark: SparkSession,
    wstaging: str,
    partition_col: str,
    bloom_cols: list[str] | None,
) -> dict[str, dict]:
    """Per-file bloom bitmaps over the staged output, computed BEFORE
    the commit lock like ``_staged_stats``: one distributed aggregate
    keyed by input file collects each file's DISTINCT probe positions
    (<= min(k*rows, m) ints per file — metadata-sized), and the driver
    folds them into hex bitmaps for the manifest. Iceberg stores the
    same artifact in Puffin sidecars; a JSON manifest bounds it to m/4
    hex chars per (file, column). File keys are bare names; the
    committer splices in the data-dir token, same as file stats."""
    out: dict[str, dict] = {}
    if not bloom_cols:
        return out
    staged_df = spark.read.parquet(wstaging).withColumn(
        "__f", F.input_file_name()
    )
    # one aggregate per bloom column: explode the k positions and
    # collect_set them — the partial-aggregate dedups INCREMENTALLY, so
    # the per-group state is bounded by m distinct ints regardless of
    # file row count (a collect_list-then-distinct would buffer k*rows
    # longs per file before deduping — an OOM on big unsplit files)
    for c in bloom_cols:
        rows = (
            staged_df.select(
                partition_col,
                "__f",
                F.explode(
                    F.array(*_bloom_pos_exprs(c, BLOOM_M, BLOOM_K))
                ).alias("__p"),
            )
            .groupBy(partition_col, "__f")
            .agg(F.collect_set("__p").alias("__bp"))
            .collect()
        )
        for r in rows:
            leaf = _leaf_name(spark, partition_col, r[partition_col])
            fname = r["__f"].rsplit("/", 1)[-1]
            out.setdefault(leaf, {}).setdefault(fname, {})[c] = _bloom_hex(
                r["__bp"], BLOOM_M
            )
    return out


def _bloom_params_for_commit(prev: dict | None, bloom_cols) -> dict | None:
    """The table's bloom geometry entry for the next manifest: carried
    from the previous manifest; established at the first bloom-bearing
    commit; a geometry drift (module constants changed under a table
    with recorded bitmaps) is rejected rather than silently mixing
    incompatible bitmaps."""
    params = (prev or {}).get("bloom")
    if bloom_cols:
        if params and (params["m"], params["k"]) != (BLOOM_M, BLOOM_K):
            raise ValueError(
                f"table records bloom geometry {params}, module now uses "
                f"m={BLOOM_M} k={BLOOM_K}; rewrite the table's bloom "
                "partitions before changing geometry"
            )
        params = {"m": BLOOM_M, "k": BLOOM_K}
    return params


def _zorder_expr(df: DataFrame, cols: list[str], bits: int = 8):
    """Morton (Z-order) curve value over ``cols``: each column is
    width-bucketed into 2^bits cells between its observed [min, max]
    (ONE aggregate job, driver gets 2*|cols| scalars), and the cell ids'
    bits are interleaved. Sorting by the result clusters rows so that
    ranges on ANY of the interleaved dimensions map to few contiguous
    runs — the property Delta/Iceberg OPTIMIZE ZORDER exploits for
    file skipping. Pure JVM expressions (width_bucket + shiftleft/or),
    no UDF, no extra shuffle beyond the caller's repartition."""
    aggs = []
    for c in cols:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"__mn_{c}"),
            F.max(F.col(c).cast("double")).alias(f"__mx_{c}"),
        ]
    r = df.agg(*aggs).first()
    cells = 1 << bits
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        mn, mx = r[f"__mn_{c}"], r[f"__mx_{c}"]
        if mn is None or mx is None or mn == mx:
            continue  # constant/empty column contributes nothing
        bucket = (
            F.width_bucket(F.col(c).cast("double"), F.lit(mn), F.lit(mx), F.lit(cells))
            - 1
        )
        bucket = F.greatest(F.lit(0), F.least(F.lit(cells - 1), bucket))
        for b in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(bucket, b).bitwiseAND(F.lit(1)),
                    b * len(cols) + i,
                )
            )
    return z


def _staged_stats(
    spark: SparkSession,
    wstaging: str,
    partition_col: str,
    stats_cols: list[str] | None,
    file_stats: bool,
) -> tuple[dict, dict]:
    """[min, max] stats over the staged output, computed BEFORE the
    commit lock: per-partition always, per-FILE too when ``file_stats``
    (one distributed agg keyed by input file — |files| result rows, the
    Iceberg manifest-entry payload). File keys here are bare names; the
    committer splices in its data-dir token ('<token>/<fname>') so
    coverage stays attributable per dir once appends stack several dirs
    on a leaf."""
    new_stats: dict[str, dict] = {}
    new_fstats: dict[str, dict] = {}
    if not stats_cols:
        return new_stats, new_fstats
    aggs = []
    for c in stats_cols:
        aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
    staged_df = spark.read.parquet(wstaging)
    for r in staged_df.groupBy(partition_col).agg(*aggs).collect():
        leaf = _leaf_name(spark, partition_col, r[partition_col])
        new_stats[leaf] = {
            c: [_json_stat(r[f"__mn_{c}"]), _json_stat(r[f"__mx_{c}"])]
            for c in stats_cols
        }
    if file_stats:
        for r in (
            staged_df.withColumn("__f", F.input_file_name())
            .groupBy(partition_col, "__f")
            .agg(*aggs)
            .collect()
        ):
            leaf = _leaf_name(spark, partition_col, r[partition_col])
            fname = r["__f"].rsplit("/", 1)[-1]
            new_fstats.setdefault(leaf, {})[fname] = {
                c: [_json_stat(r[f"__mn_{c}"]), _json_stat(r[f"__mx_{c}"])]
                for c in stats_cols
            }
    return new_stats, new_fstats


def _whole(df: DataFrame) -> DataFrame:
    """``df`` with the constant ``WHOLE_TABLE_COL`` leaf column added."""
    if WHOLE_TABLE_COL in df.columns:
        raise ValueError(f"column {WHOLE_TABLE_COL!r} is reserved")
    return df.withColumn(WHOLE_TABLE_COL, F.lit(_WHOLE_TABLE_VALUE))


def _arrow_schema_json(tbl: pa.Table) -> dict:
    """The committed schema of a whole-table ``pyarrow.Table`` batch: its
    Spark types plus the leaf column, exactly as ``_whole`` adds it."""
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StringType

    sch = from_arrow_schema(tbl.schema).add(WHOLE_TABLE_COL, StringType(), False)
    return json.loads(sch.json())


def _stage(
    df: DataFrame | pa.Table,
    path: str,
    partition_col: str,
    max_records_per_file: int | None = None,
    spark: SparkSession | None = None,
) -> str:
    """Write ``df`` (already distributed) partitioned by ``partition_col``
    to a fresh writer-unique staging dir beside the table — unlocked,
    invisible to readers — and return the dir.

    ``df`` may also be a ``pyarrow.Table`` of driver-resident rows for a
    whole table (``partition_col`` is ``WHOLE_TABLE_COL``; pass
    ``spark``). When the path's RESOLVED scheme is ``file``, pyarrow
    writes it as one snappy file straight into the staged leaf: a handful
    of rows (an update_log flush) costs ~1 ms there against ~0.5 s for a
    Spark job. Any other scheme — a scheme-less path takes the cluster's
    ``fs.defaultFS``, often hdfs://, where a driver-disk write would be
    invisible to every reader — hands the table to Spark as one
    partition. Either arm lays out the same leaf."""
    wstaging = f"{path}{STAGING_SUFFIX}.{uuid.uuid4().hex[:12]}"
    if isinstance(df, pa.Table):
        jvm, fs, _ = _hadoop(spark, wstaging)
        if fs.getScheme() == "file":
            import pyarrow.parquet as pq

            leaf = fs.pathToFile(
                _jpath(jvm, f"{wstaging}/{partition_col}={_WHOLE_TABLE_VALUE}")
            ).getPath()
            os.makedirs(leaf)
            pq.write_table(
                df,
                f"{leaf}/part-00000-{uuid.uuid4().hex}.snappy.parquet",
                compression="snappy",
            )
            return wstaging
        # repartition(1), NOT coalesce(1): one file per batch, and
        # coalesce on a local relation defeats the LocalTableScan path
        df = _whole(spark.createDataFrame(df).repartition(1))
    writer = df.write.mode("overwrite").partitionBy(partition_col)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(wstaging)
    return wstaging


def _token(version: int, kind: str = "") -> str:
    """A fresh data-dir token for a commit at ``version``; ``kind="del"``
    marks a dir of merge-on-read delete files."""
    return f"__s{version:06d}{kind}_{uuid.uuid4().hex[:8]}__"


def _land(
    jvm, fs, wstaging: str, path: str, partition_col: str, token: str
) -> list[str]:
    """Under the lock: move every staged partition leaf into the table as
    ``<leaf>/<token>`` and drop the emptied staging dir. Returns the
    landed leaves."""
    staged = _partition_leaves(jvm, fs, wstaging, partition_col)
    _move_staged_leaves(jvm, fs, wstaging, path, staged, token)
    _delete(jvm, fs, wstaging)
    return staged


def _under_token(token: str, per_file: dict) -> dict:
    """Key a staged leaf's per-file entries by ``<token>/<file>``, so
    coverage stays attributable per data dir."""
    return {f"{token}/{fname}": v for fname, v in per_file.items()}


def _put_leaf(
    maps: dict[str, dict],
    leaf: str,
    token: str,
    stats: dict,
    fstats: dict,
    blooms: dict,
) -> None:
    """Record ``leaf`` as the single data dir ``token`` with the stats,
    file stats and file blooms its staged write collected."""
    maps["partitions"][leaf] = token
    if leaf in stats:
        maps["stats"][leaf] = stats[leaf]
    if leaf in fstats:
        maps["file_stats"][leaf] = _under_token(token, fstats[leaf])
    if leaf in blooms:
        maps["file_blooms"][leaf] = _under_token(token, blooms[leaf])


def snapshot_partition_overwrite(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_col: str,
    cluster_cols: list[str] | None = None,
    keep_snapshots: int = 2,
    stats_cols: list[str] | None = None,
    zorder_cols: list[str] | None = None,
    file_stats: bool = False,
    bloom_cols: list[str] | None = None,
    max_records_per_file: int | None = None,
    audit: bool = False,
    op_name: str = "overwrite",
    bucket_by: tuple[int, str] | None = None,
    retire_leaves: list[str] | None = None,
    properties: dict | None = None,
    distribution: str | None = None,
) -> int:
    """Commit ``df``'s partitions into the table as one new snapshot:
    partitions present in df replace their predecessors, absent partitions
    carry over unchanged (dynamic-partition-overwrite semantics, but the
    swap is a single manifest publish — a reader sees the whole commit or
    none of it). Safe when df reads from the table: staging completes
    against the old (immutable) files before anything is published.

    Returns the committed snapshot version. ``keep_snapshots`` bounds the
    retained history: older manifests and the data dirs only they
    reference are vacuumed under the commit lock; size it to exceed the
    longest concurrent scan (Delta VACUUM's retention contract).

    ``stats_cols`` records per-partition [min, max] for the named columns
    in the manifest (computed from the staged files BEFORE the lock, so
    lock hold time stays metadata-only) — the Iceberg-style scan-pruning
    metadata ``snapshot_read(between=...)`` uses to skip partitions on a
    NON-partition column (pair it with ``cluster_cols`` so the ranges are
    tight). Carried-over partitions keep their recorded stats; a
    partition rewritten WITHOUT stats_cols loses its entry (no stats =
    never pruned = always safe). Numeric or string columns only (values
    must round-trip through the JSON manifest with ordering intact).

    ``zorder_cols`` clusters each written partition along a Morton curve
    over the named columns (range-repartition on (partition, z) + sort;
    see ``_zorder_expr``) so that, combined with ``max_records_per_file``
    (splits a task's output into sequential files) and
    ``file_stats=True`` (records per-FILE [min, max] for stats_cols in
    the manifest), ``snapshot_read(between=...)`` can skip FILES inside a
    kept partition, not just whole partitions — Iceberg's second pruning
    tier. File stats cost one extra metadata-sized aggregate over the
    staged output (|files| result rows), nothing at read time.

    ``bloom_cols`` records a per-FILE bloom bitmap for each named column
    (string/integral only — see ``_bloom_pos_exprs``'s parity contract)
    so ``snapshot_read(point=...)`` can skip files on a point lookup
    even when the layout is NOT clustered by the column (where [min,
    max] ranges span everything). One extra metadata-sized aggregate at
    commit; BLOOM_M/4 hex chars per (file, column) in the manifest.

    ``audit=True`` STAGES the commit instead of publishing it
    (write-audit-publish): the manifest lands marked ``staged`` and is
    invisible to every reader and every concurrent writer's
    read-modify-write; an auditor reads it by the returned version
    (``snapshot_read(version=...)``), runs its checks, then
    ``snapshot_publish`` makes it live atomically — or
    ``snapshot_discard_staged`` drops it. Iceberg's WAP flow.

    ``bucket_by=(n, col)`` writes every partition's data HASH-BUCKETED
    into ``n`` files keyed on ``col`` (Spark's bucketBy writer — bucket
    ids live in the file names) and records the spec in the manifest, so
    ``snapshot_read_bucketed`` can expose the on-disk distribution to
    the planner and joins/aggregations on ``col`` run with NO Exchange —
    the Iceberg bucket-transform analog for this store. The spec is a
    TABLE property: once committed, every subsequent overwrite must
    declare the identical spec (carried-over partitions' files are
    hashed under it; a divergent rewrite would silently break the
    shuffle-free contract for readers), and fast appends are refused on
    bucketed tables (a second data dir per partition has its own bucket
    file set, which the single-location-per-partition bucketed reader
    cannot mount — rewrite the partition instead). Mutually exclusive
    with ``zorder_cols``/``cluster_cols`` (bucketBy+sortBy fixes the
    in-file order).

    ``properties`` merges table properties into the manifest IN THE SAME
    commit that lands the data (``snapshot_set_properties`` semantics:
    ``None`` unsets a key) — the atomicity an index pin needs: a
    geometry/quantizer fingerprint committed in a separate follow-up
    would leave a crash window in which the index data is live but the
    pin is absent or stale, and the next maintenance tick would silently
    key its delta against the wrong parameters.

    ``retire_leaves`` names partition leaves (exact dir names, e.g.
    ``d=2024-01-05``) that this commit REPLACES OR DROPS: a listed leaf
    that ``df`` writes is replaced by its staged rows, and a listed leaf
    that ``df`` leaves empty is dropped — both in the one manifest
    publish that lands the frame (an empty frame publishes a pure drop).
    Each listed leaf must be held by the head (``FileNotFoundError``
    otherwise — the spec-evolve migration's typo guard). Callers that
    rely on the rule: the spec-evolution migration (retire the old-spec
    dir as its rows land under the current spec),
    ``snapshot_compact_partition`` (a fully deleted partition retires),
    the keyed-delta rewrites of ``maintain_band_index`` /
    ``maintain_vector_index`` (every touched leaf, via
    ``_rewrite_touched``), their ``rebuild_*`` verbs (every head leaf)
    and ``run_foreach_batch_snapshot``'s moved-key path. Retired dirs
    stay pinnable in older versions until retention sweeps them."""
    path = path.rstrip("/")
    if keep_snapshots < 1:
        raise ValueError("keep_snapshots must be >= 1 (the live snapshot)")
    if bucket_by:
        if zorder_cols or cluster_cols:
            raise ValueError(
                "bucket_by fixes the layout (bucket hash + in-bucket sort); "
                "it cannot combine with zorder_cols/cluster_cols"
            )
        n_buckets, bucket_col = bucket_by
        if n_buckets < 1:
            raise ValueError("bucket_by: n must be >= 1")
        if bucket_col == partition_col or bucket_col not in df.columns:
            raise ValueError(
                f"bucket_by column {bucket_col!r} must be a non-partition "
                f"column of the frame"
            )
    if properties:
        # argument-derived checks run BEFORE any staging I/O: failing
        # after the leaf moves would strand token dirs inside live
        # leaves, reclaimable only by the O(table) orphan walk
        _check_properties(properties)
    jvm, fs, _ = _hadoop(spark, path)
    df = _relax_batch_types(df, _published_head(spark, jvm, fs, path))
    if zorder_cols:
        z = _zorder_expr(df, zorder_cols)
        df = (
            df.withColumn("__z", z)
            .repartitionByRange(partition_col, "__z")
            .sortWithinPartitions(partition_col, "__z")
            .drop("__z")
        )
    elif cluster_cols:
        df = _distribute_for_write(
            df, partition_col, override=distribution
        ).sortWithinPartitions(*cluster_cols)
    elif not bucket_by:
        df = _distribute_for_write(df, partition_col, override=distribution)
    if bucket_by:
        # Spark's bucketed writer only runs through the catalog: stage as
        # a TEMPORARY EXTERNAL table at the staging path (bucket ids are
        # encoded in the file names), then drop the catalog entry — the
        # files stay and flow through the normal rename+manifest commit.
        wstaging = f"{path}{STAGING_SUFFIX}.{uuid.uuid4().hex[:12]}"
        tmp_tbl = f"__snap_stage_{uuid.uuid4().hex[:10]}"
        writer = (
            df.write.format("parquet")
            .mode("overwrite")
            .partitionBy(partition_col)
            .bucketBy(n_buckets, bucket_col)
            .sortBy(bucket_col)
            .option("path", wstaging)
        )
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        writer.saveAsTable(tmp_tbl)
        spark.sql(f"DROP TABLE IF EXISTS `{tmp_tbl}`")
    else:
        wstaging = _stage(df, path, partition_col, max_records_per_file)
    schema_json = json.loads(df.schema.json())
    new_stats, new_fstats = _staged_stats(
        spark, wstaging, partition_col, stats_cols, file_stats
    )
    new_blooms = _staged_blooms(spark, wstaging, partition_col, bloom_cols)
    new_spec = {"n": bucket_by[0], "col": bucket_by[1]} if bucket_by else None

    def build(prev, version):
        if prev and prev["partition_col"] != partition_col:
            raise ValueError(
                f"table {path} is partitioned by {prev['partition_col']!r}, "
                f"not {partition_col!r}"
            )
        _refuse_narrow_batch(prev, schema_json)
        prev_spec = prev.get("bucket_spec") if prev else None
        if prev is not None and prev_spec != new_spec:
            raise ValueError(
                f"bucket spec mismatch at {path}: table declares "
                f"{prev_spec}, commit declares {new_spec} — the spec is a "
                f"table property (carried partitions' files are hashed "
                f"under it); every overwrite must keep it"
            )
        bloom = _bloom_params_for_commit(prev, bloom_cols)
        maps = _leaf_maps(prev)
        for leaf in retire_leaves or []:
            if leaf not in maps["partitions"]:
                raise FileNotFoundError(
                    f"retire_leaves: no partition dir {leaf!r} at {path}"
                )
            _forget_leaf(maps, leaf)
        schema = schema_json
        if any(
            leaf.split("=", 1)[0] != partition_col
            for leaf in maps["partitions"]
        ):
            # spec-evolved table with carried old-spec dirs: the committed
            # schema is the UNION, so those dirs keep reading their
            # columns (incl. the old spec column) after this rewrite
            schema = _union_schema_json(prev, schema_json)
        token = _token(version)
        staged = _land(jvm, fs, wstaging, path, partition_col, token)
        for leaf in staged:
            # rewritten: old ranges, blooms and delete files no longer apply
            _forget_leaf(maps, leaf)
            _put_leaf(maps, leaf, token, new_stats, new_fstats, new_blooms)
        changes = {
            "op": op_name,
            "partition_col": partition_col,
            **maps,
            "schema": schema,
            "bloom": bloom,
            "bucket_spec": new_spec,
            "properties": _merged_properties(prev, properties),
        }
        if audit:
            changes.update(staged=True, parent=prev["version"] if prev else 0)
        return changes, set(staged) | set(retire_leaves or [])

    return _commit(spark, path, keep_snapshots, build)


def _rewrite_touched(
    spark: SparkSession,
    path: str,
    col: str,
    values,
    fresh: DataFrame,
    changed: DataFrame,
    key: str,
    exists: bool,
) -> tuple[DataFrame, list[str]]:
    """The rows and retire list of a keyed-delta rewrite of the touched
    partitions ``col IN values``: the head's rows there whose ``key`` is
    not in ``changed``, plus ``fresh``, checkpointed eagerly; and the
    touched leaves the head holds. Pass both to
    ``snapshot_partition_overwrite(retire_leaves=)``: a touched leaf the
    rows still fill is replaced, one they leave empty is dropped, in one
    commit. The leaf probe is a partial manifest resolve — O(touched)
    metadata, never the table's full enumeration."""
    if not exists:
        return fresh.localCheckpoint(eager=True), []
    values = sorted(set(values))
    carried = (
        snapshot_read(spark, path)
        .where(F.col(col).isin(values))
        .join(changed, key, "left_anti")
    )
    out = (
        carried.select(*fresh.columns)
        .unionByName(fresh)
        .localCheckpoint(eager=True)
    )
    names = [_leaf_name(spark, col, v) for v in values]
    held = snapshot_manifest(spark, path, leaves=names)["partitions"]
    return out, [n for n in names if n in held]


def snapshot_overwrite(
    spark: SparkSession, df: DataFrame, path: str, keep_snapshots: int = 2
) -> int:
    """Replace the WHOLE table with ``df`` in one snapshot commit — the
    form of the table format for unpartitioned outputs that are rebuilt
    whole (report facts, dimensions, curated corpora). ``df`` is staged
    under one constant leaf of the reserved ``WHOLE_TABLE_COL``, which
    ``snapshot_read`` drops, so readers see exactly ``df``'s columns
    while restore, ``version=``/``tag=`` reads and vacuum work as on
    any snapshot table. Nothing carries over from the head's data or
    schema: an empty ``df`` publishes an empty table (the old leaf is
    retired in the same commit). Safe when ``df`` reads from the table,
    whose files are immutable. Returns the committed version."""
    path = path.rstrip("/")
    if keep_snapshots < 1:
        raise ValueError("keep_snapshots must be >= 1 (the live snapshot)")
    out = _whole(df)
    # no column to rebalance on: one leaf, sized by the plain rebalance
    wstaging = _stage(_distribute_for_write(out, None), path, WHOLE_TABLE_COL)
    schema_json = json.loads(out.schema.json())
    jvm, fs, _ = _hadoop(spark, path)

    def build(prev, version):
        if prev and prev["partition_col"] != WHOLE_TABLE_COL:
            raise ValueError(
                f"table {path} is partitioned by {prev['partition_col']!r}; "
                "snapshot_overwrite replaces whole tables only"
            )
        token = _token(version)
        maps = _leaf_maps(None)
        staged = _land(jvm, fs, wstaging, path, WHOLE_TABLE_COL, token)
        for leaf in staged:
            maps["partitions"][leaf] = token
        changes = {
            "op": "overwrite",
            "partition_col": WHOLE_TABLE_COL,
            **maps,
            "schema": schema_json,
            "bloom": None,
            "bucket_spec": None,
        }
        return changes, set(staged) | set((prev or {}).get("partitions", {}))

    return _commit(spark, path, keep_snapshots, build)


def _merge_rng(old: dict, new: dict):
    """Merge two {col: [min, max]} maps conservatively: envelope where
    both sides know the column; None (never-pruned) where an end is
    unknown; drop columns either side lacks. Returns None when nothing
    survives (caller drops the leaf's stats entry — always safe)."""
    out = {}
    for c in set(old) & set(new):
        try:
            lo = (
                None
                if old[c][0] is None or new[c][0] is None
                else min(old[c][0], new[c][0])
            )
            hi = (
                None
                if old[c][1] is None or new[c][1] is None
                else max(old[c][1], new[c][1])
            )
        except TypeError:
            return None
        out[c] = [lo, hi]
    return out or None


def snapshot_append(
    spark: SparkSession,
    df: DataFrame | pa.Table,
    path: str,
    partition_col: str | None,
    keep_snapshots: int = 2,
    stats_cols: list[str] | None = None,
    file_stats: bool = False,
    bloom_cols: list[str] | None = None,
    max_records_per_file: int | None = None,
    audit: bool = False,
) -> int:
    """FAST APPEND (Iceberg's append snapshot): commit ``df``'s rows as
    NEW data dirs stacked onto their partitions — existing data dirs are
    never rewritten, renamed, or even listed, so appending a day's batch
    to a 100 TB table costs O(batch) regardless of how much data the
    touched partitions already hold. This is the ingestion shape the
    partition-overwrite commit can't give (it replaces a partition
    wholesale); the streaming sink's per-tick aggregate REPLACEMENT and
    this row-level append are complementary write modes on the same
    manifests.

    Bookkeeping per appended leaf: partition [min, max] stats merge into
    a conservative envelope when both sides have them (dropped
    otherwise — no stats = never pruned = safe); per-file stats extend
    the leaf's map only when it already has full coverage, else the
    leaf's file-skip entry is dropped (partial coverage must never
    skip). Small-file debt accrues per append and is paid by
    ``snapshot_compact_partition``, exactly Delta/Iceberg's division of
    labor. Appending over PENDING delete files is safe: deletes carry
    sequence semantics (they apply only to data dirs committed before
    them — see ``_apply_deletes``), so a re-appended key is alive.

    Schema evolution composes: the manifest schema becomes the union of
    the table's and the batch's columns (type changes are rejected);
    older dirs read the new columns as NULL. Returns the committed
    version. ``audit=True`` stages the append for write-audit-publish
    (see ``snapshot_partition_overwrite``).

    ``partition_col=None`` appends to a WHOLE table — the
    ``snapshot_overwrite`` layout, one leaf that every append stacks a
    data dir onto (the S8 append sink, the update_log). A whole-table
    batch may be a ``pyarrow.Table`` of driver-resident rows, staged
    without a Spark job on a local path (see ``_stage``); its types are
    taken as they are (no widening cast), so they must match the
    table's."""
    path = path.rstrip("/")
    leaf_col = partition_col or WHOLE_TABLE_COL
    jvm, fs, _ = _hadoop(spark, path)
    if isinstance(df, pa.Table):
        if partition_col is not None or WHOLE_TABLE_COL in df.column_names:
            raise ValueError(
                "a pyarrow.Table batch appends to a whole table only "
                f"(partition_col=None, no {WHOLE_TABLE_COL!r} column)"
            )
        wstaging = _stage(df, path, leaf_col, spark=spark)
        batch_schema = _arrow_schema_json(df)
    else:
        df = _relax_batch_types(df, _published_head(spark, jvm, fs, path))
        if partition_col is None:
            df = _whole(df)
        wstaging = _stage(
            _distribute_for_write(df, partition_col),
            path,
            leaf_col,
            max_records_per_file,
        )
        batch_schema = json.loads(df.schema.json())
    new_stats, new_fstats = _staged_stats(
        spark, wstaging, leaf_col, stats_cols, file_stats
    )
    new_blooms = _staged_blooms(spark, wstaging, leaf_col, bloom_cols)

    def build(prev, version):
        if prev and prev["partition_col"] != leaf_col:
            raise ValueError(
                f"table {path} is partitioned by {prev['partition_col']!r}, "
                f"not {leaf_col!r}"
            )
        if prev and prev.get("bucket_spec"):
            raise ValueError(
                f"table {path} is bucket-colocated "
                f"({prev['bucket_spec']}): fast appends would stack a "
                f"second bucket file set onto the partition, which the "
                f"single-location bucketed reader cannot mount — rewrite "
                f"the partition via snapshot_partition_overwrite instead"
            )
        bloom = _bloom_params_for_commit(prev, bloom_cols)
        schema = _union_schema_json(prev, batch_schema)
        maps = _leaf_maps(prev)
        token = _token(version)
        staged = _land(jvm, fs, wstaging, path, leaf_col, token)
        for leaf in staged:
            if leaf not in maps["partitions"]:  # brand-new partition
                _put_leaf(maps, leaf, token, new_stats, new_fstats, new_blooms)
                continue
            maps["partitions"][leaf] = [*_leaf_toks(maps, leaf), token]
            stats = maps["stats"]
            merged = (
                _merge_rng(stats[leaf], new_stats[leaf])
                if leaf in stats and leaf in new_stats
                else None
            )
            if merged:
                stats[leaf] = merged
            else:
                stats.pop(leaf, None)
            # per-file stats and blooms extend a leaf only when both sides
            # cover it: partial coverage must never skip
            for mp, fresh in (
                ("file_stats", new_fstats),
                ("file_blooms", new_blooms),
            ):
                if leaf in maps[mp] and leaf in fresh:
                    maps[mp][leaf] = {
                        **maps[mp][leaf],
                        **_under_token(token, fresh[leaf]),
                    }
                else:
                    maps[mp].pop(leaf, None)
        changes = {
            "op": "append",
            "partition_col": leaf_col,
            **maps,
            "schema": schema,
            "bloom": bloom,
        }
        if audit:
            changes.update(staged=True, parent=prev["version"] if prev else 0)
        return changes, set(staged)

    return _commit(spark, path, keep_snapshots, build)


def _check_mor_target(
    m: dict, path: str, keys: list[str], instead: str
) -> None:
    """Refusals shared by the merge-on-read verbs: delete files break the
    shuffle-free bucketed read, are assigned under ONE partition spec,
    and must match the table's established ``delete_keys``."""
    if m.get("bucket_spec"):
        raise ValueError(
            f"table {path} is bucket-colocated ({m['bucket_spec']}): "
            f"merge-on-read delete files and stacked dirs break the "
            f"shuffle-free bucketed read — {instead}"
        )
    if len({leaf.split("=", 1)[0] for leaf in m["partitions"]}) > 1:
        raise ValueError(
            f"table {path} spans partition specs (spec evolution): delete "
            f"files are assigned under one spec — {instead}"
        )
    if "delete_keys" in m and list(m["delete_keys"]) != list(keys):
        raise ValueError(
            f"table {path} records delete_keys={m['delete_keys']}, got {keys}"
        )


def _abort_if_moved(jvm, fs, m: dict, prev: dict, stagings, what: str) -> None:
    """Optimistic concurrency for the merge-on-read verbs: their delta was
    resolved against ``m``; if another commit landed since, drop the
    stagings and abort (retry-able)."""
    if prev["version"] != m["version"]:
        for wstaging in stagings:
            _delete(jvm, fs, wstaging)
        raise RuntimeError(
            f"concurrent commit: table moved v{m['version']} -> "
            f"v{prev['version']} while staging {what}; retry"
        )


def snapshot_delete_rows(
    spark: SparkSession,
    path: str,
    predicate,
    keys: list[str],
    keep_snapshots: int = 2,
) -> int:
    """MERGE-ON-READ row delete (Iceberg v2 equality-delete files): rows
    matching ``predicate`` are removed from the table WITHOUT rewriting
    any data file — the commit writes per-partition delete files holding
    just the doomed rows' key values and publishes a manifest that lists
    them; readers anti-join at scan time (``_apply_deletes``). Commit
    cost is O(matching rows), not O(touched partitions' data) — the
    shape a GDPR erasure or retention sweep needs on a 100 TB table
    where doomed rows scatter across every partition. Delete files
    stack across commits; compaction (``snapshot_compact_partition``)
    materializes them and clears the debt (merge-on-read's
    copy-on-write escape hatch). Partition/file [min, max] stats stay
    valid upper bounds under row deletes, so pruning remains safe.

    ``keys`` must uniquely identify rows (the same contract as
    ``snapshot_changes``) and must match the table's established
    ``delete_keys`` once set. Optimistic concurrency: the predicate is
    evaluated against the version current at call time; if another
    commit lands before this one takes the lock, the delete aborts
    (retry-able) rather than deleting keys re-inserted meanwhile.
    Returns the committed version (or the current one when the
    predicate matched nothing)."""
    path = path.rstrip("/")
    jvm, fs, _ = _hadoop(spark, path)
    m = snapshot_manifest(spark, path)
    col = m["partition_col"]
    _check_mor_target(
        m,
        path,
        keys,
        "rewrite the affected partitions via snapshot_partition_overwrite "
        "instead",
    )
    doomed = (
        snapshot_read(spark, path, version=m["version"])
        .where(predicate)
        .select(col, *keys)
    )
    wstaging = _stage(_distribute_for_write(doomed, col), path, col)

    def build(prev, version):
        _abort_if_moved(jvm, fs, m, prev, [wstaging], "row deletes")
        token = _token(version, "del")
        staged = _land(jvm, fs, wstaging, path, col, token)
        if not staged:  # predicate matched nothing: no-op, no new version
            return prev["version"]
        deletes = dict(prev.get("deletes", {}))
        for leaf in staged:
            deletes[leaf] = [*deletes.get(leaf, []), token]
        return {
            "op": "delete_rows",
            "deletes": deletes,
            "delete_keys": list(keys),
        }, set(staged)

    return _commit(spark, path, keep_snapshots, build)


def snapshot_upsert_rows(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: list[str],
    keep_snapshots: int = 2,
) -> int:
    """MERGE-ON-READ UPSERT in ONE commit: matched target rows are
    retired by equality delete files, the full source batch lands as
    appended data dirs, and a single manifest publish makes both visible
    together — readers see the pre-upsert or post-upsert state, nothing
    between. Sequence semantics make the same-version combination sound:
    the delete files (version v) apply only to dirs committed before v,
    never to the data dirs this commit appends at v.

    Commit cost is O(|source| + |matched keys|) — no partition is
    rewritten, which is what a 100 TB upsert needs when matched keys
    scatter across the table. This is the merge-on-read complement of
    ``merge_write_snapshot`` (the copy-on-write windowed MERGE): CoW
    pays the rewrite once and keeps reads join-free; MoR makes the
    write cheap and defers the work to scan-time anti-joins until
    compaction retires the debt — Delta/Iceberg expose exactly this
    trade as a table property. A key that moves partitions is handled:
    the delete lands in its OLD partition, the new row in its new one.

    Matched keys are resolved against the version current at call time;
    like ``snapshot_delete_rows`` the commit aborts (retry-able) if
    another writer lands in between. Unconditional update arm (source
    row replaces target row); conditional arms belong to the CoW merge,
    which reads target values anyway. Returns the committed version."""
    path = path.rstrip("/")
    jvm, fs, _ = _hadoop(spark, path)
    m = snapshot_manifest(spark, path)
    col = m["partition_col"]
    _check_mor_target(
        m,
        path,
        keys,
        "use the copy-on-write merge (merge_write_snapshot / "
        "snapshot_partition_overwrite) instead",
    )
    if col not in source.columns:
        raise ValueError(f"source must carry the partition column {col!r}")
    source = _relax_batch_types(source, m)
    target = snapshot_read(spark, path, version=m["version"])
    matched = target.join(
        source.select(*keys).distinct(), keys, "left_semi"
    ).select(col, *keys)
    dstaging = _stage(_distribute_for_write(matched, col), path, col)
    astaging = _stage(_distribute_for_write(source, col), path, col)
    batch_schema = json.loads(source.schema.json())

    def build(prev, version):
        _abort_if_moved(jvm, fs, m, prev, [dstaging, astaging], "upsert")
        schema = _union_schema_json(prev, batch_schema)
        maps = _leaf_maps(prev)
        dtoken, atoken = _token(version, "del"), _token(version)
        dleaves = _land(jvm, fs, dstaging, path, col, dtoken)
        for leaf in dleaves:
            maps["deletes"][leaf] = [*maps["deletes"].get(leaf, []), dtoken]
        aleaves = _land(jvm, fs, astaging, path, col, atoken)
        for leaf in aleaves:
            if leaf not in maps["partitions"]:
                maps["partitions"][leaf] = atoken
                continue
            maps["partitions"][leaf] = [*_leaf_toks(maps, leaf), atoken]
            # appended rows widen unknown ranges: conservative drop
            _forget_leaf(maps, leaf, ("stats", "file_stats", "file_blooms"))
        return {
            "op": "upsert",
            **maps,
            "delete_keys": list(keys),
            "schema": schema,
        }, set(dleaves) | set(aleaves)

    return _commit(spark, path, keep_snapshots, build)


def snapshot_delete_partitions(
    spark: SparkSession,
    path: str,
    values: list[str],
    keep_snapshots: int = 2,
) -> int:
    """Metadata-only partition delete: publish a snapshot whose manifest
    simply omits the given partition values — no data file is touched at
    commit time (the bytes are reclaimed by vacuum once the retained
    history drops them). This is the range-delete the reference runs as a
    BigQuery DELETE (S11), at O(1) data I/O. Returns the new version."""
    path = path.rstrip("/")

    def build(prev, version):
        prev = _need_head(prev, path)
        doomed = {f"{prev['partition_col']}={v}" for v in values}
        maps = _leaf_maps(prev)
        for leaf in doomed:
            _forget_leaf(maps, leaf)
        return {"op": "delete_partitions", **maps}, doomed

    return _commit(spark, path, keep_snapshots, build)


def _partition_leaves(
    jvm, fs, table_dir: str, partition_col: str | None = None
) -> list[str]:
    """First-level ``<partition_col>=value`` dir names under ``table_dir``;
    with ``partition_col=None``, every ``col=value`` dir (all spec eras)."""
    prefix = f"{partition_col}=" if partition_col else ""
    out = []
    for st in fs.listStatus(_jpath(jvm, table_dir)):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(prefix) and "=" in name:
            out.append(name)
    return sorted(out)


#: (JVM view, its ``ExternalCatalogUtils`` class), resolved once per JVM
#: like ``io._jpath``'s Path class: the package walk costs ~5 ms.
_CATALOG_UTILS: list = [None, None]


def _catalog_utils(spark: SparkSession):
    """Spark's ``ExternalCatalogUtils`` (the writer's path escaping)."""
    jvm = spark.sparkContext._jvm
    if _CATALOG_UTILS[0] is not jvm:
        _CATALOG_UTILS[:] = [
            jvm,
            jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils,
        ]
    return _CATALOG_UTILS[1]


def _leaf_name(spark: SparkSession, partition_col: str, value) -> str:
    """Render a collected partition VALUE to the exact directory-leaf name
    Spark's writer produces — manifests key partitions by those dir names
    (via _partition_leaves), so any leaf built from a Python value must
    round-trip through this, never a bare f-string: ``str(True)`` is
    'True' but the dir is 'true'; dates/timestamps have their own forms;
    special characters are percent-escaped by the writer. Mirrors
    PartitioningUtils.getPathFragment and delegates the escaping to the
    SAME JVM helper the writer uses (ExternalCatalogUtils.escapePathName)
    so the bytes match exactly."""
    import datetime

    if value is None:
        # the writer's null token is emitted unescaped
        return f"{partition_col}=__HIVE_DEFAULT_PARTITION__"
    if isinstance(value, bool):
        s = "true" if value else "false"
    elif isinstance(value, datetime.datetime):
        # collect() returns TimestampType as a NAIVE datetime in the
        # PYTHON PROCESS's local timezone, but the writer renders dirs
        # in spark.sql.session.timeZone — convert before formatting or
        # the leaf is shifted whenever the two differ (engine pins the
        # session to UTC on non-UTC hosts)
        if value.tzinfo is None:
            value = value.astimezone()  # stamp the process-local tz
        try:
            from zoneinfo import ZoneInfo

            value = value.astimezone(
                ZoneInfo(spark.conf.get("spark.sql.session.timeZone"))
            )
        except Exception:
            pass  # non-IANA tz id: keep local rendering
        s = value.strftime("%Y-%m-%d %H:%M:%S")
        if value.microsecond:
            s += f".{value.microsecond:06d}".rstrip("0")
    elif isinstance(value, datetime.date):
        s = value.isoformat()
    else:
        # str() matches the writer for string/integral/decimal values
        # and for floats in plain notation; a float that Java renders in
        # scientific notation (|v| < 1e-3 or >= 1e7) would diverge —
        # partitioning by such a float is already pathological (unstable
        # keys), and no engine path does it
        s = str(value)
    return f"{partition_col}={_catalog_utils(spark).escapePathName(s)}"


def _newly_dead_leaves(dropped: dict, live_tokens: dict) -> set:
    """The leaves a dropped manifest can actually orphan data dirs in:
    those holding at least one token (data dir or delete file) that NO
    retained manifest still references. The carry-by-reference model
    means a dropped version shares almost every token with its kept
    successor, so at steady state (every commit drops one version) this
    is the set of leaves the intervening commits TOUCHED — sweeping the
    dropped manifest's full leaf enumeration instead would be an
    O(table) listStatus walk on every commit (~2.5 ms/leaf through
    py4j: minutes per one-row commit at 100k leaves), re-introducing
    exactly the per-commit table walk the scoped vacuum exists to
    avoid. Pure dict math, no FS calls."""
    out = set()
    for leaf in dropped["partitions"]:
        toks = set(_leaf_toks(dropped, leaf))
        toks.update(dropped.get("deletes", {}).get(leaf, []))
        if toks - live_tokens.get(leaf, set()):
            out.add(leaf)
    for leaf, dtoks in dropped.get("deletes", {}).items():
        if leaf not in dropped["partitions"] and set(dtoks) - live_tokens.get(
            leaf, set()
        ):
            out.add(leaf)
    return out


def _vacuum_snapshots(
    spark: SparkSession,
    jvm,
    fs,
    path: str,
    keep_snapshots: int,
    sweep_leaves=None,
    full_sweep: bool = False,
) -> list[int]:
    """Under the commit lock: drop manifests beyond the newest
    ``keep_snapshots`` and reclaim the data dirs no retained manifest
    references; returns the dropped versions, oldest first. The reclaim sweep is SCOPED to the leaves that can
    actually hold newly-dead dirs — the leaves where a dropped
    manifest's tokens are not all still referenced by a kept one
    (``_newly_dead_leaves``: at steady state, exactly the leaves the
    intervening commits touched), plus any caller-supplied
    ``sweep_leaves`` (a discarded staged commit's leaves) — so a
    commit's vacuum cost is O(retained manifests + touched leaves),
    never an O(table) directory walk: per-leaf listStatus through py4j
    measured ~2.5 ms/leaf, a 20 s tax per one-row commit at 8k leaves
    and unbounded at 100 TB. (Sweeping the dropped version's FULL leaf
    enumeration would re-introduce that walk on every commit past
    retention depth, which is every commit at steady state.) Orphan dirs
    from writers that crashed between their data-dir renames and the
    manifest publish live in leaves no manifest names; the explicit
    maintenance action ``snapshot_remove_orphans`` (``full_sweep=True``
    here) walks the whole table for them — Iceberg's separate
    remove_orphan_files procedure, for the same reason. The full sweep
    also covers every spec era's leaves, not just the current
    partition column's.

    TAGGED versions are pinned regardless of age — their manifests and
    the data dirs they reference survive until the tag is dropped
    (Iceberg's tag retention). STAGED write-audit-publish manifests are
    pinned too (their data dirs are referenced by no published manifest;
    sweeping them would tear an audit in flight) — publish/discard is
    their only exit; retention counts PUBLISHED versions only."""
    versions = _manifest_versions(jvm, fs, path)
    metas = {v: _read_manifest(spark, path, v) for v in versions}
    tagged = set(snapshot_tags(spark, path).values())
    published = [v for v in versions if not metas[v].get("staged")]
    keep_pub = set(published[-keep_snapshots:])
    kept = [
        v
        for v in versions
        if v in keep_pub or v in tagged or metas[v].get("staged")
    ]
    dropped = [v for v in versions if v not in set(kept)]
    # tombstones below the newest manifest can go: _next_version's max
    # over manifests alone already clears them, so no number is reusable
    for tv in _numbered(jvm, fs, path, _TOMBSTONE_PREFIX):
        if versions and tv < versions[-1]:
            _delete(
                jvm, fs, f"{_snap_dir(path)}/{_TOMBSTONE_PREFIX}{tv:06d}.json"
            )
    live_tokens: dict[str, set[str]] = {}
    for v in kept:
        m = metas[v]
        for leaf in m["partitions"]:
            live_tokens.setdefault(leaf, set()).update(_leaf_toks(m, leaf))
        for leaf, toks in m.get("deletes", {}).items():
            live_tokens.setdefault(leaf, set()).update(toks)
    candidates = set(sweep_leaves or [])
    for v in dropped:
        candidates |= _newly_dead_leaves(metas[v], live_tokens)
        _delete(jvm, fs, _manifest_path(path, v))
    # segment files referenced by NO retained manifest (dropped versions'
    # exclusive segments, or strands of a crash between segment writes
    # and the manifest rename) are swept; shared segments survive as long
    # as any retained version references them. The __snap__ listing is
    # bounded by retention x segments, not by table size.
    live_segs = {h for v in kept for h in metas[v].get("segments", [])}
    sd = _jpath(jvm, _snap_dir(path))
    if fs.exists(sd):
        for st in fs.listStatus(sd):
            name = st.getPath().getName()
            if (
                name.startswith("seg_")
                and name.endswith(".json")
                and name[len("seg_") : -len(".json")] not in live_segs
            ):
                fs.delete(st.getPath(), False)
    if full_sweep:
        candidates.update(_partition_leaves(jvm, fs, path))
    for leaf in sorted(candidates):
        leaf_path = _jpath(jvm, f"{path}/{leaf}")
        if not fs.exists(leaf_path):
            continue
        for st in fs.listStatus(leaf_path):
            name = st.getPath().getName()
            if (
                st.isDirectory()
                and name.startswith("__s")
                and name.endswith("__")
                and name not in live_tokens.get(leaf, set())
            ):
                fs.delete(st.getPath(), True)
        if not fs.listStatus(leaf_path):
            fs.delete(leaf_path, True)
    return dropped


def snapshot_remove_orphans(
    spark: SparkSession, path: str, keep_snapshots: int = 2
) -> None:
    """MAINTENANCE: full-table orphan sweep (Iceberg's
    remove_orphan_files, run as its own action for the same reason it is
    one there): walks every partition leaf and deletes data dirs no
    retained manifest references — the strands of writers that crashed
    between their data-dir renames and the manifest publish. Per-commit
    vacuums deliberately do NOT pay this O(table) listing (they reclaim
    exactly the dropped manifests' leaves); schedule this with the
    compaction planner's cadence. Safe under the commit lock: an
    in-flight writer's freshly-renamed dirs cannot be swept because its
    manifest publishes under the same lock before this can run."""
    path = path.rstrip("/")
    with _table_locked(spark, path) as (jvm, fs):
        if not _manifest_versions(jvm, fs, path):
            # nothing is referenced by anything: a full sweep here would
            # delete every token-named dir under a path that is not (yet)
            # a snapshot table — refuse instead of destroying
            raise FileNotFoundError(f"no committed snapshot at {path}")
        _vacuum_stale_stagings(jvm, fs, path)
        _vacuum_snapshots(
            spark, jvm, fs, path, keep_snapshots, full_sweep=True
        )


def snapshot_vacuum(
    spark: SparkSession, path: str, keep_snapshots: int
) -> list[int]:
    """VACUUM on demand: drop published versions beyond the newest
    ``keep_snapshots`` (tagged and staged ones stay pinned) and the data
    dirs only they referenced — the same sweep every commit runs, for a
    table whose retention is being tightened. Returns the dropped
    versions, oldest first."""
    path = path.rstrip("/")
    if keep_snapshots < 1:
        raise ValueError("keep_snapshots must be >= 1 (the live snapshot)")
    with _table_locked(spark, path) as (jvm, fs):
        if not _manifest_versions(jvm, fs, path):
            raise FileNotFoundError(f"no committed snapshot at {path}")
        return _vacuum_snapshots(spark, jvm, fs, path, keep_snapshots)


def snapshot_compact_partition(
    spark: SparkSession,
    path: str,
    value: str,
    target_files: int = 1,
    keep_snapshots: int = 2,
) -> int:
    """OPTIMIZE for the snapshot layout: rewrite ONE partition's many
    small files into ``target_files`` and commit the rewrite as a normal
    snapshot (one manifest publish) — readers never see a half-compacted
    partition, siblings carry over by reference, and the pre-compaction
    version remains pinnable until retention drops it. Row-identical by
    construction (a coalesce of the same scan); the small-file debt a
    streaming snapshot sink accrues per tick is paid here, exactly
    Delta OPTIMIZE's division of labor. Returns the committed version."""
    path = path.rstrip("/")
    m = snapshot_manifest(spark, path)
    col = m["partition_col"]
    if m.get("bucket_spec"):
        raise ValueError(
            f"table {path} is bucket-colocated ({m['bucket_spec']}): a "
            f"coalesce rewrite would strip the bucket file layout — "
            f"rewrite the partition via snapshot_partition_overwrite "
            f"with the same bucket_by to re-lay it out"
        )
    leaf = f"{col}={value}"
    if leaf not in m["partitions"]:
        raise FileNotFoundError(f"no partition {leaf} in snapshot of {path}")
    # delete-aware read: compaction MATERIALIZES any pending delete files
    # for this partition (the rewrite clears their manifest entries) —
    # merge-on-read debt is paid here, Iceberg's rewrite_data_files role
    part = _read_leafs(spark, path, m, [leaf]).coalesce(target_files)
    # row-identical to the logical content => identical ranges: re-derive
    # the stats columns the partition already carried so compaction never
    # loses pruning metadata
    # (file-grain stats are re-derived at the NEW file boundaries)
    stats_cols = sorted(m.get("stats", {}).get(leaf, {})) or None
    # blooms too are re-derived at the new file boundaries (stale ones
    # would be outright WRONG post-rewrite: a value could move to a file
    # whose old bitmap lacks it — the overwrite pops them regardless;
    # re-deriving keeps the point-lookup tier through compaction)
    bloom_cols = sorted(
        {
            c
            for fb in m.get("file_blooms", {}).get(leaf, {}).values()
            for c in fb
        }
    ) or None
    return snapshot_partition_overwrite(
        spark, part, path, col, keep_snapshots=keep_snapshots,
        stats_cols=stats_cols,
        file_stats=leaf in m.get("file_stats", {}),
        bloom_cols=bloom_cols,
        op_name="compact",
        # the coalesce(target_files) above IS this write's distribution:
        # the default rebalance would re-shuffle and override the
        # requested file count
        distribution="none",
        # a partition whose every row was deleted stages nothing: it
        # retires instead of lingering with its delete files
        retire_leaves=[leaf],
    )


def _read_leafs(spark: SparkSession, path: str, m: dict, leafs: list[str]) -> DataFrame:
    paths = [
        f"{path}/{leaf}/{tok}"
        for leaf in sorted(leafs)
        for tok in _leaf_toks(m, leaf)
    ]
    sch = None
    if "schema" in m:
        from pyspark.sql.types import StructType

        sch = StructType.fromJson(m["schema"])
    # era-aware (renames) + delete-aware: the slice a consumer (CDC,
    # compaction) sees is the version's LOGICAL content under CURRENT
    # column names, with its delete files applied
    return _apply_deletes(
        spark, path, m, leafs, _era_scan(spark, path, m, paths, sch)
    )


def _manifest_pair_pruned(
    spark: SparkSession, path: str, v_from: int, v_to: int
) -> tuple[dict, dict]:
    """Resolve a CDC window's two manifests, SEGMENT-HASH PRE-DIFFED:
    when both versions spilled at the same segment geometry, a segment
    whose content hash is identical on both sides holds — for every
    leaf map at once — exactly the same leaf entries, so none of its
    leaves can be removed/added/changed; only DIFFERING segments are
    loaded (for both sides). A consumer tick's driver-side metadata
    cost is then O(changed segments), matching the write side's
    O(touched) — without this, every maintain tick against a 100k-leaf
    table would pay the full enumeration just to diff it. Falls back to
    full resolves when either side is inline, pre-``seg_n``, or the
    geometry crossed a doubling boundary between the versions (always
    correct, just O(table)). The projections are complete for every
    leaf whose entries differ, which is all ``snapshot_changes``
    consumes them for."""
    jvm, fs, _ = _hadoop(spark, path)
    versions = _manifest_versions(jvm, fs, path)
    for v in (v_from, v_to):
        if v not in versions:
            raise FileNotFoundError(
                f"no snapshot version {v} at {path}; have {versions}"
            )
    tf = _read_small_json(jvm, fs, _manifest_path(path, v_from))
    tt = _read_small_json(jvm, fs, _manifest_path(path, v_to))
    n = tf.get("seg_n")
    if (
        not n
        or tt.get("seg_n") != n
        or len(tf.get("segments") or []) != n
        or len(tt.get("segments") or []) != n
    ):
        return (
            _read_manifest(spark, path, v_from),
            _read_manifest(spark, path, v_to),
        )
    gis = [gi for gi in range(n) if tf["segments"][gi] != tt["segments"][gi]]

    def resolve(top: dict) -> dict:
        hashes = [top["segments"][gi] for gi in gis]
        return _fold_segments(jvm, fs, path, top, hashes)

    return resolve(tf), resolve(tt)


def snapshot_changes(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    keys: list[str],
    preimages: bool = False,
) -> DataFrame:
    """Change-data feed between two committed snapshots (Delta CDF's role,
    derived rather than stored): every row whose key was inserted,
    deleted, or updated between ``v_from`` and ``v_to``, tagged with a
    ``_change`` column ('insert' | 'delete' | 'update' — update carries
    the NEW values). Keys must be unique per snapshot within a partition.

    ``preimages=True`` switches to Delta CDF's four-class protocol: each
    updated key emits TWO rows, ``update_preimage`` (the old values) and
    ``update_postimage`` (the new values), instead of one ``update`` row.
    That is exactly the form an algebraic consumer needs — a downstream
    aggregate subtracts the preimage and adds the postimage (see
    ``snapshot_refresh_agg``) — and it costs no second scan or join: the
    same full-outer row explodes into a 2-element array, one pass.

    The 100 TB property is METADATA PRUNING: the two manifests are
    compared driver-side first, and only partitions whose data-dir token
    CHANGED between the versions are read at all — untouched partitions
    (carried over by reference) can contain no changes by construction,
    so an incremental consumer pays I/O proportional to what the writers
    touched, not to the table. On a spilled (segmented) table even the
    DRIVER-SIDE diff is pruned: segments whose content hash matches on
    both sides are never loaded (``_manifest_pair_pruned``), so the
    tick's metadata cost is O(changed segments), not O(leaves). Within
    the changed slice it is one full-outer join on (partition leaf,
    keys) + a row compare."""
    path = path.rstrip("/")
    mf, mt = _manifest_pair_pruned(spark, path, v_from, v_to)
    col = mf["partition_col"]
    if mt["partition_col"] != col:
        raise ValueError("partition column changed between versions")
    pf, pt = mf["partitions"], mt["partitions"]

    def sig(m, leaf):
        # a partition's logical content is (data dirs, delete files): a
        # delete-only commit or an append changes the signature with no
        # rewrite of existing data
        return (
            tuple(_leaf_toks(m, leaf)),
            tuple(m.get("deletes", {}).get(leaf, [])),
        )

    removed = [leaf for leaf in pf if leaf not in pt]
    added = [leaf for leaf in pt if leaf not in pf]
    changed = [
        leaf for leaf in pf if leaf in pt and sig(mf, leaf) != sig(mt, leaf)
    ]

    # renames between the versions: read BOTH sides under the TO
    # version's names (its renames history resolves every older dir's
    # stored names by commit version), so a renamed column diffs as the
    # same column — a rename alone (no data commits) changes no leaf
    # signature and yields an empty feed, as it must
    if mt.get("renames") != mf.get("renames") or mt.get("widens") != mf.get(
        "widens"
    ):
        mf = {
            **mf,
            **{k: mt[k] for k in ("schema", "renames", "widens") if k in mt},
        }

    old = _read_leafs(spark, path, mf, removed + changed) if removed + changed else None
    new = _read_leafs(spark, path, mt, added + changed) if added + changed else None
    if old is None and new is None:
        raise ValueError(f"no partition changed between v{v_from} and v{v_to}")

    if new is None:
        return old.select("*", F.lit("delete").alias("_change"))
    if old is None:
        return new.select("*", F.lit("insert").alias("_change"))

    # schema evolution between the versions: align both sides to the
    # union schema (a column absent on one side reads NULL there, so an
    # added/dropped column surfaces as an update wherever it holds data)
    for c, t in new.dtypes:
        if c not in old.columns:
            old = old.withColumn(c, F.lit(None).cast(t))
    for c, t in old.dtypes:
        if c not in new.columns:
            new = new.withColumn(c, F.lit(None).cast(t))

    data_cols = [c for c in new.columns if c not in keys and c != col]
    # the partition column may itself be one of the keys (e.g. a stream
    # sink partitioned by part of its grouping key) — dedupe or the
    # full-outer join sees the same name twice and every downstream
    # reference is ambiguous
    join_keys = list(dict.fromkeys([col, *keys]))
    o = old.select(
        *[F.col(c).alias(f"__old_{c}") for c in old.columns]
    ).withColumn("__in_old", F.lit(1))
    n = new.withColumn("__in_new", F.lit(1))
    # NULL-safe on every join key: a row in the NULL partition
    # (__HIVE_DEFAULT_PARTITION__) or with a NULL key is the same row on
    # both sides, not a delete plus an insert. The select restores the
    # columns an equi-join USING the keys would give.
    match = F.lit(True)
    for c in join_keys:
        match = match & F.col(c).eqNullSafe(F.col(f"__old_{c}"))
    j = n.join(o, match, "full_outer").select(
        *[F.coalesce(c, f"__old_{c}").alias(c) for c in join_keys],
        *[c for c in n.columns if c not in join_keys],
        *[f"__old_{c}" for c in old.columns if c not in join_keys],
        "__in_old",
    )
    differs = F.lit(False)
    for c in data_cols:
        differs = differs | ~(
            F.col(c).eqNullSafe(F.col(f"__old_{c}"))
        )
    change = (
        F.when(F.col("__in_old").isNull(), "insert")
        .when(F.col("__in_new").isNull(), "delete")
        .when(differs, "update")
    )
    if preimages:
        # one-pass four-class feed: each joined row becomes an array of
        # (row-struct, tag) pairs — updates carry BOTH images — and a
        # single explode flattens it. No second join, no re-scan.
        post = F.struct(*[F.col(c).alias(c) for c in new.columns])
        pre = F.struct(
            *[
                (F.col(f"__old_{c}") if c in data_cols else F.col(c)).alias(c)
                for c in new.columns
            ]
        )

        def tagged(s, t):
            return F.struct(s.alias("r"), F.lit(t).alias("t"))

        rows = (
            F.when(F.col("__in_old").isNull(), F.array(tagged(post, "insert")))
            .when(F.col("__in_new").isNull(), F.array(tagged(pre, "delete")))
            .when(
                differs,
                F.array(
                    tagged(pre, "update_preimage"),
                    tagged(post, "update_postimage"),
                ),
            )
        )
        return (
            j.select(F.explode(rows).alias("e"))
            .select("e.r.*", F.col("e.t").alias("_change"))
        )

    out_cols = [
        # deletes carry the OLD values; inserts/updates the NEW (a plain
        # coalesce would resurrect old data wherever an update set NULL)
        F.when(F.col("__in_new").isNull(), F.col(f"__old_{c}"))
        .otherwise(F.col(c))
        .alias(c)
        if c in data_cols
        else F.col(c)
        for c in new.columns
    ]
    return (
        j.withColumn("_change", change)
        .where(F.col("_change").isNotNull())
        .select(*out_cols, "_change")
    )


def snapshot_refresh_agg(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    keys: list[str],
    view_old: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    prep=None,
) -> DataFrame:
    """Incremental view maintenance for an algebraic aggregate: given the
    materialized ``view_old`` of snapshot ``v_from`` — schema
    ``group_cols + [n, sum_<c>...]`` as produced by
    ``prep(snapshot_read(v_from)).groupBy(*group_cols).agg(count, sums)``
    — return the view of ``v_to`` WITHOUT recomputing it, by folding the
    four-class change feed in:

        delta  = feed.groupBy(group).agg(sum(sign), sum(sign * col)...)
        view'  = view FULL OUTER JOIN delta  (add counts/sums, drop n=0)

    where sign is +1 for insert/update_postimage and -1 for
    delete/update_preimage. The classic DBToaster/materialized-view
    delta rule, expressed as two DataFrame aggregates.

    The 100 TB property: cost is O(|touched partitions| + |view|), never
    O(|table|) — the feed reads only partitions whose manifest token
    changed (see ``snapshot_changes``), the delta aggregate is
    delta-sized and map-combined, and the final join is view-sized on
    the group key. A nightly refresh over a 100 TB table whose writers
    touched one day's partitions scans one day, not the decade.

    ``prep`` (optional) maps raw table rows to derived grouping/measure
    columns (e.g. bucketization); it must be row-local (no joins/aggs)
    and deterministic so pre- and post-images stay aligned. Exactness:
    cast measures to DECIMAL in ``prep`` — retract-then-add of doubles
    would drift, DECIMAL addition is exact, so the refreshed view is
    bit-identical to a full recompute (pytest-asserted).

    Reference parity: the reference rebuilds downstream facts from
    scratch on a BigQuery schedule (`/root/reference/callio_etl/
    runner.py`); this is the incremental form of that maintenance.
    """
    ch = snapshot_changes(spark, path, v_from, v_to, keys, preimages=True)
    if prep is not None:
        ch = prep(ch)
        assert "_change" in ch.columns, "prep must preserve _change"
    signed = ch.withColumn("__sign", _change_sign()).drop("_change")
    return _fold_signed_delta(view_old, signed, group_cols, sum_cols)


def _change_sign():
    """+1 for rows entering the view's base (insert/update_postimage),
    -1 for rows leaving it (delete/update_preimage)."""
    return F.when(
        F.col("_change").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))


def _fold_signed_delta(
    view_old: DataFrame,
    signed: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Fold a SIGNED row multiset (``__sign`` = +1/-1) into a
    count+sums view: delta-aggregate, full-outer join on the group key,
    DECIMAL-exact addition, drop groups whose count reaches zero — the
    DBToaster delta rule's second half, shared by the single-table and
    the join-view refresh."""
    delta = signed.groupBy(*group_cols).agg(
        F.sum("__sign").cast("long").alias("__dn"),
        *[
            F.sum(F.col(c) * F.col("__sign")).alias(f"__d_{c}")
            for c in sum_cols
        ],
    )
    sum_names = [f"sum_{c}" for c in sum_cols]
    view_types = dict(view_old.dtypes)
    joined = view_old.join(delta, group_cols, "full_outer")
    n_new = F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("__dn"), F.lit(0))
    out = joined.select(
        *group_cols,
        n_new.cast(view_types["n"]).alias("n"),
        *[
            (
                F.coalesce(F.col(sn).cast("decimal(28,6)"), F.lit(0))
                + F.coalesce(F.col(f"__d_{c}").cast("decimal(28,6)"), F.lit(0))
            )
            .cast(view_types[sn])
            .alias(sn)
            for c, sn in zip(sum_cols, sum_names)
        ],
    )
    # groups whose last row was deleted vanish, exactly as a recompute
    return out.where(F.col("n") > 0)


def snapshot_refresh_agg_join(
    spark: SparkSession,
    fact_path: str,
    dim_path: str,
    vf_from: int,
    vf_to: int,
    vd_from: int,
    vd_to: int,
    fact_keys: list[str],
    dim_keys: list[str],
    join_cols: list[str],
    view_old: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    prep_fact=None,
    prep_dim=None,
) -> DataFrame:
    """Incremental maintenance for an aggregate over a FACT ⋈ DIM join —
    the reporting-view shape (the flagship itself is agg-over-join) the
    single-table ``snapshot_refresh_agg`` can't maintain: given the
    materialized ``view_old`` of ``(vf_from, vd_from)`` — schema
    ``group_cols + [n, sum_<c>...]`` of
    ``(prep_fact(F) ⋈ prep_dim(D) on join_cols).groupBy(group).agg`` —
    return the view of ``(vf_to, vd_to)`` from the change feeds alone,
    by the bilinear delta rule

        Δ(F ⋈ D) = ΔF ⋈ D_new  ∪  F_old ⋈ ΔD

    (exact: expanding with ΔF = F_new − F_old, ΔD = D_new − D_old
    telescopes to F_new⋈D_new − F_old⋈D_old), with each term carrying
    its feed's ±1 sign and both folded by the shared DECIMAL-exact
    delta fold. Either side may be unchanged (pass equal versions);
    both may change in one refresh — the rule handles simultaneous
    deltas without double counting.

    Cost model at 100 TB: the ΔF term is delta-sized joined against the
    (broadcastable) dim — the nightly fact-append case costs touched
    fact partitions only. The ΔD term joins the FULL fact against the
    (tiny, broadcast) dim delta — a dim change costs one fact scan, the
    honest price every materialized-view engine pays when a dimension
    row flips (and why slowly-changing dims are modeled as SCD2 appends
    rather than in-place flips when that scan hurts).

    JOIN SEMANTICS: inner equi-join on ``join_cols``. The reference's
    LEFT joins with COALESCE('Unassigned') defaults are encoded by
    completing the dim with a default row per unmatched key — which
    also keeps the delta rule exact (a LEFT join's null-extension flips
    rows non-linearly and admits no bilinear delta). ``prep_fact`` /
    ``prep_dim`` are row-local column maps (cast measures to DECIMAL
    there); they must preserve the ``__sign`` bookkeeping column."""

    def _prep(df, fn):
        if fn is None:
            return df
        out = fn(df)
        assert "__sign" in out.columns, "prep must preserve __sign"
        return out

    d_new = snapshot_read(spark, dim_path, version=vd_to).withColumn(
        "__sign", F.lit(1)
    )
    terms = []
    if vf_to != vf_from:
        df_feed = snapshot_changes(
            spark, fact_path, vf_from, vf_to, fact_keys, preimages=True
        ).withColumn("__sign", _change_sign()).drop("_change")
        terms.append(
            _prep(df_feed, prep_fact)
            .join(_prep(d_new, prep_dim).drop("__sign"), join_cols)
        )
    if vd_to != vd_from:
        dd_feed = snapshot_changes(
            spark, dim_path, vd_from, vd_to, dim_keys, preimages=True
        ).withColumn("__sign", _change_sign()).drop("_change")
        f_old = snapshot_read(spark, fact_path, version=vf_from).withColumn(
            "__sign", F.lit(1)
        )
        terms.append(
            _prep(f_old, prep_fact)
            .drop("__sign")
            .join(F.broadcast(_prep(dd_feed, prep_dim)), join_cols)
        )
    if not terms:
        return view_old
    from functools import reduce

    cols = sorted(set(group_cols) | set(sum_cols) | {"__sign"})
    signed = reduce(
        lambda a, b: a.unionByName(b), [t.select(*cols) for t in terms]
    )
    return _fold_signed_delta(view_old, signed, group_cols, sum_cols)


def maintain_join_view(
    spark: SparkSession,
    fact_path: str,
    dim_path: str,
    view_path: str,
    fact_keys: list[str],
    dim_keys: list[str],
    join_cols: list[str],
    group_cols: list[str],
    sum_cols: list[str],
    prep_fact=None,
    prep_dim=None,
) -> tuple[int, int]:
    """Keep a materialized FACT ⋈ DIM aggregate view current with BOTH
    source snapshot tables (the join-view analog of
    ``maintain_agg_view``): each call advances the view to the sources'
    live versions — incrementally via ``snapshot_refresh_agg_join``
    while both base versions are still in retained history, by full
    recompute on first build or after retention outran the view. The
    view's provenance (``_fact_version``, ``_dim_version``) travels IN
    the view, a whole snapshot table (``snapshot_overwrite``), so state
    commits atomically with the data and keeps history. Returns the
    (fact, dim) versions the view now reflects."""
    fact_path, dim_path = fact_path.rstrip("/"), dim_path.rstrip("/")
    vf = snapshot_versions(spark, fact_path)
    vd = snapshot_versions(spark, dim_path)
    if not vf or not vd:
        raise FileNotFoundError("both sources need a committed snapshot")
    live_f, live_d = vf[-1], vd[-1]

    def _prep(df, fn):
        return df if fn is None else fn(df.withColumn("__sign", F.lit(1))).drop(
            "__sign"
        )

    def full() -> DataFrame:
        f = _prep(snapshot_read(spark, fact_path, version=live_f), prep_fact)
        d = _prep(snapshot_read(spark, dim_path, version=live_d), prep_dim)
        return f.join(d, join_cols).groupBy(*group_cols).agg(
            F.count("*").cast("long").alias("n"),
            *[F.sum(c).alias(f"sum_{c}") for c in sum_cols],
        )

    v0f = v0d = None
    view_old = None
    # the format guard probes through the Hadoop FS: os.path is always
    # False on hdfs://-/s3a://-style view paths, which would turn every
    # refresh into a silent full rebuild
    if _snapshot_table_at(spark, view_path):
        view_old = snapshot_read(spark, view_path)
        row = view_old.agg(
            F.max("_fact_version"), F.max("_dim_version")
        ).first()
        v0f, v0d = (row[0], row[1]) if row else (None, None)
    if (v0f, v0d) == (live_f, live_d):
        return live_f, live_d
    if v0f in vf and v0d in vd:
        try:
            out = snapshot_refresh_agg_join(
                spark,
                fact_path,
                dim_path,
                int(v0f),
                live_f,
                int(v0d),
                live_d,
                fact_keys,
                dim_keys,
                join_cols,
                view_old.drop("_fact_version", "_dim_version"),
                group_cols,
                sum_cols,
                prep_fact=prep_fact,
                prep_dim=prep_dim,
            )
        except ValueError:
            # a feed cannot span these versions (spec evolution between
            # them): one full rebuild, then incremental resumes
            out = full()
    else:
        out = full()
    snapshot_overwrite(
        spark,
        out.withColumn("_fact_version", F.lit(live_f)).withColumn(
            "_dim_version", F.lit(live_d)
        ),
        view_path,
    )
    return live_f, live_d


def maintain_agg_view(
    spark: SparkSession,
    src_path: str,
    view_path: str,
    keys: list[str],
    group_cols: list[str],
    sum_cols: list[str],
    prep=None,
) -> int:
    """Keep a materialized aggregate view current with the snapshot table
    at ``src_path``: on every call, advance the view stored at
    ``view_path`` to the source's LIVE version — incrementally via
    ``snapshot_refresh_agg`` when the view's last-applied version is
    still in retained history (cost: touched partitions + |view|), by
    full recompute only on first build or when retention already dropped
    the view's base version (the same degradation rule Delta CDF
    consumers apply). A no-op when the view is already current.

    The view's provenance travels IN the view (constant ``_src_version``
    column) so the whole state commits atomically with the data — the
    view is a whole snapshot table (``snapshot_overwrite``), so no
    sidecar file can desynchronize and past view versions stay
    readable. Call this
    after each ``run_foreach_batch_snapshot`` tick (or on any schedule —
    it catches up across any number of missed commits in ONE incremental
    pass, since the change feed diffs manifests, not adjacent ticks).
    Returns the source version the view now reflects."""
    src_path = src_path.rstrip("/")
    versions = snapshot_versions(spark, src_path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshot at {src_path}")
    live = versions[-1]

    def full() -> DataFrame:
        base = snapshot_read(spark, src_path, version=live)
        if prep is not None:
            base = prep(base)
        return base.groupBy(*group_cols).agg(
            F.count("*").cast("long").alias("n"),
            *[F.sum(c).alias(f"sum_{c}") for c in sum_cols],
        )

    v0 = None
    view_old = None
    # Only the missing-view cold start falls back to a full build; any
    # other read failure (corrupt files, permissions, transient FS error)
    # propagates — silently recomputing would mask it and, on a flaky
    # store, turn every incremental refresh into a full recompute. The
    # format guard probes through the Hadoop FS so non-local view paths
    # (hdfs://, s3a://) get the same cold-start-vs-incremental split.
    if _snapshot_table_at(spark, view_path):
        view_old = snapshot_read(spark, view_path)
        row = view_old.agg(F.max("_src_version")).first()
        v0 = row[0] if row else None
    if v0 == live:
        return live
    if v0 is not None and v0 in versions:
        try:
            out = snapshot_refresh_agg(
                spark,
                src_path,
                int(v0),
                live,
                keys,
                view_old.drop("_src_version"),
                group_cols,
                sum_cols,
                prep=prep,
            )
        except ValueError:
            # the feed cannot span these versions (a partition-spec
            # evolution landed in between): degrade to one full rebuild,
            # after which incremental refresh resumes — the same
            # degradation rule as a retention gap
            out = full()
    else:
        out = full()
    snapshot_overwrite(
        spark, out.withColumn("_src_version", F.lit(live)), view_path
    )
    return live


def _write_cursor(cursor_file: str, version: int, table: str) -> None:
    """Atomically acknowledge a consumer cursor (tmp + rename): shared by
    snapshot_consume_changes and the index REBUILD verbs, whose full
    re-derivation from version v supersedes every change up to v.

    MONOTONIC: an ack below the recorded version for the same table is
    refused — only a STALLED consumer that lost its service lock to a
    reclaim (and raced a rebuild that acked further ahead) can produce
    one, and letting it through would silently re-deliver changes the
    newer owner already applied against a newer pin. Deliberate
    re-bootstrap is an explicit cursor-file delete, never a rewind."""
    import os
    import tempfile

    table = table.rstrip("/")  # ack sites pass raw and rstripped paths
    try:
        with open(cursor_file) as fh:
            prior = json.load(fh)
    except (FileNotFoundError, json.JSONDecodeError):
        prior = None  # no (readable) prior ack: nothing to guard
    # A corrupt prior — non-object JSON ('null', a list), or a version
    # that is not a number — is treated like an unreadable one instead of
    # permanently poisoning every future ack (r12 ADVICE fix). The type
    # checks are EXPLICIT rather than a broad except TypeError, which
    # would also swallow a guard-comparison failure and silently bypass
    # the rewind protection.
    if isinstance(prior, dict):
        prior_table = (prior.get("table") or "").rstrip("/")
        prior_version = prior.get("version")
        if (
            prior_table == table
            and isinstance(prior_version, (int, float))
            and not isinstance(prior_version, bool)
            and prior_version > version
        ):
            raise RuntimeError(
                f"cursor fencing: refusing to rewind {cursor_file} from "
                f"v{prior_version} to v{version} — a newer owner "
                "already acknowledged past this point (stalled consumer "
                "raced a reclaim/rebuild); re-bootstrap by deleting the "
                "cursor file if the rewind is intentional"
            )
    d = os.path.dirname(cursor_file) or "."
    fd, tmp = tempfile.mkstemp(dir=d, prefix=".cursor.")
    with os.fdopen(fd, "w") as fh:
        json.dump({"version": version, "table": table}, fh)
    os.replace(tmp, cursor_file)


def snapshot_consume_changes(
    spark: SparkSession,
    path: str,
    cursor_file: str,
    keys: list[str],
    process,
    preimages: bool = False,
) -> int | None:
    """Pull-model CDC consumer with a durable cursor — the role Delta's
    streaming source plays, in the micro-batch form this engine's
    checkpointed scans already use (checkpoints.py doctrine): each call
    delivers everything committed since the cursor's last acknowledged
    version as ONE batch (the manifest-diff feed spans any number of
    commits in a single pass), hands it to ``process``, and advances the
    cursor only after ``process`` returns — a crash mid-batch re-delivers
    it (at-least-once; make ``process`` idempotent, e.g. a MERGE or a
    snapshot commit keyed on the batch's version).

    First call (no cursor) delivers the full current snapshot tagged
    'insert' — the initial load. If retention already vacuumed the
    cursor's version, raises: the consumer lagged past ``keep_snapshots``
    and must re-bootstrap (size retention past the slowest consumer,
    Delta's contract). Returns the version now acknowledged, or None if
    there was nothing new.

    ``process`` may declare a SECOND positional parameter to receive the
    version the batch is bound to (the head this call resolved): a
    consumer that re-reads the source table mid-process must pin that
    version, or a commit racing the tick makes its reads disagree with
    the batch."""
    import inspect
    path = path.rstrip("/")
    versions = snapshot_versions(spark, path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    live = versions[-1]
    last: int | None = None
    try:
        with open(cursor_file) as fh:
            last = json.load(fh)["version"]
    except FileNotFoundError:
        pass
    if last == live:
        return None
    if last is None:
        batch = snapshot_read(spark, path, version=live).select(
            "*", F.lit("insert").alias("_change")
        )
    elif last in versions:
        batch = snapshot_changes(
            spark, path, last, live, keys, preimages=preimages
        )
    else:
        raise ValueError(
            f"cursor at v{last} but retained history is {versions}: the "
            "consumer lagged past keep_snapshots; re-bootstrap (delete "
            "the cursor) or raise retention"
        )
    try:
        # Count only parameters the POSITIONAL call below can actually
        # bind: a consumer like ``def process(batch, **kw)`` or
        # ``def process(batch, *, opt=None)`` has 2+ parameters but
        # accepts ONE positional — calling it process(batch, live)
        # would TypeError. *args accepts any arity.
        params = list(inspect.signature(process).parameters.values())
        positional = [
            p
            for p in params
            if p.kind
            in (
                inspect.Parameter.POSITIONAL_ONLY,
                inspect.Parameter.POSITIONAL_OR_KEYWORD,
            )
        ]
        two_arg = len(positional) >= 2 or any(
            p.kind == inspect.Parameter.VAR_POSITIONAL for p in params
        )
    except (TypeError, ValueError):
        two_arg = False
    if two_arg:
        process(batch, live)
    else:
        process(batch)
    _write_cursor(cursor_file, live, path)  # atomic ack
    return live


def snapshot_history(spark: SparkSession, path: str) -> list[dict]:
    """DESCRIBE HISTORY for the snapshot table: one row per retained
    version — version, op ('overwrite' | 'append' | 'upsert' |
    'delete_rows' | 'delete_partitions' | 'compact' | 'restore' |
    'merge'), partition count, data-dir count, pending delete-file
    count. Metadata-only (reads manifests, never data); older manifests
    written before op recording report op=None."""
    path = path.rstrip("/")
    jvm, fs, _ = _hadoop(spark, path)
    by_version: dict[int, list[str]] = {}
    for name, v in snapshot_tags(spark, path).items():
        by_version.setdefault(v, []).append(name)
    out = []
    # one manifest read per version (snapshot_versions would re-read
    # every manifest just to drop staged ones — filter inline instead)
    for v in _manifest_versions(jvm, fs, path):
        m = _read_manifest(spark, path, v)
        if m.get("staged"):
            continue
        out.append(
            {
                "version": v,
                "op": m.get("op"),
                "tags": sorted(by_version.get(v, [])),
                "n_partitions": len(m["partitions"]),
                "n_data_dirs": sum(
                    len(_leaf_toks(m, leaf)) for leaf in m["partitions"]
                ),
                "n_delete_files": sum(
                    len(toks) for toks in m.get("deletes", {}).values()
                ),
            }
        )
    return out


def snapshot_restore(
    spark: SparkSession, path: str, version: int, keep_snapshots: int = 2
) -> int:
    """Delta RESTORE: publish a NEW version whose content is byte-for-byte
    the given retained version's — one manifest copy, zero data I/O at
    any table size (the restored version's data dirs are still on disk
    because retention kept its manifest; the new manifest re-references
    them, which also re-pins them against future vacuums). History moves
    forward — the bad versions stay inspectable until retention drops
    them, exactly Delta's rollback story. Returns the new version."""
    path = path.rstrip("/")
    jvm, fs, _ = _hadoop(spark, path)

    def build(prev, new_version):
        versions = _manifest_versions(jvm, fs, path)
        if version not in versions:
            raise FileNotFoundError(
                f"cannot restore v{version}: retained history is {versions}"
            )
        src = _read_manifest(spark, path, version)
        if src.get("staged"):
            raise ValueError(
                f"v{version} is a staged audit commit; use snapshot_publish"
            )
        changes = {k: src.get(k) for k in _CARRY_KEYS}
        return {**changes, "op": "restore"}, _changed_leaves(prev, src)

    return _commit(spark, path, keep_snapshots, build)


def snapshot_publish(
    spark: SparkSession, path: str, version: int, keep_snapshots: int = 2
) -> int:
    """PUBLISH a staged audit commit (write-audit-publish, Iceberg's
    WAP flow): re-issue the staged manifest as the next live version in
    one atomic manifest write — the data dirs were already in place
    when the audit read them, so publish is O(1) metadata and what the
    auditor validated is bit-for-bit what readers get. Optimistic
    concurrency: publish REQUIRES the published head to still be the
    staged commit's parent; if another writer landed during the audit,
    it fails (retry = re-stage against the new head) rather than
    silently discarding that writer's changes — the same serialization
    rule every other commit here follows. The staged manifest itself is
    removed once published. IDEMPOTENT across the crash window between
    the publish write and the staged-manifest cleanup: the published
    copy records ``published_from``, so a retry recognizes the earlier
    success, finishes the cleanup, and returns the same live version
    instead of misreporting a conflict. Returns the new live version."""
    path = path.rstrip("/")
    jvm, fs, _ = _hadoop(spark, path)

    def build(prev, new_version):
        versions = _manifest_versions(jvm, fs, path)
        # retry-after-crash: a published copy of this staged version
        # already exists (tombstoned numbering makes published_from
        # unambiguous — version numbers are never reassigned)
        for v2 in reversed(versions):
            m2 = _read_manifest(spark, path, v2)
            if m2.get("published_from") == version and not m2.get("staged"):
                if version in versions and _read_manifest(
                    spark, path, version
                ).get("staged"):
                    _delete(jvm, fs, _manifest_path(path, version))
                return v2
        if version not in versions:
            raise FileNotFoundError(
                f"no manifest v{version} at {path}; have {versions}"
            )
        m = _read_manifest(spark, path, version)
        if not m.get("staged"):
            raise ValueError(f"v{version} is not a staged audit commit")
        head_v = prev["version"] if prev else 0
        if m.get("parent", 0) != head_v:
            raise RuntimeError(
                f"concurrent commit: staged v{version} was built on "
                f"v{m.get('parent', 0)} but the published head is now "
                f"v{head_v}; re-stage against the new head"
            )
        changes = {k: m.get(k) for k in _CARRY_KEYS}
        changes.update(op="publish", published_from=version)
        return changes, _changed_leaves(prev, m)

    return _commit(spark, path, keep_snapshots, build)


def snapshot_discard_staged(
    spark: SparkSession, path: str, version: int, keep_snapshots: int = 2
) -> None:
    """Drop a staged audit commit that failed its checks: the manifest
    is renamed to a TOMBSTONE (its number is never reassigned — an
    auditor still pinned to the discarded version errors instead of
    silently reading whatever commit lands next), and the data dirs
    only it referenced become orphans the vacuum (run here, under the
    same lock) sweeps."""
    path = path.rstrip("/")
    with _table_locked(spark, path) as (jvm, fs):
        versions = _manifest_versions(jvm, fs, path)
        if version not in versions:
            raise FileNotFoundError(
                f"no manifest v{version} at {path}; have {versions}"
            )
        m = _read_manifest(spark, path, version)
        if not m.get("staged"):
            raise ValueError(f"v{version} is not a staged audit commit")
        _rename(
            jvm,
            fs,
            _manifest_path(path, version),
            f"{_snap_dir(path)}/{_TOMBSTONE_PREFIX}{version:06d}.json",
        )
        # the discarded commit's leaves are exactly where its now-orphan
        # data dirs live — hand them to the scoped sweep
        _vacuum_snapshots(
            spark,
            jvm,
            fs,
            path,
            keep_snapshots,
            sweep_leaves=set(m["partitions"]) | set(m.get("deletes", {})),
        )


def snapshot_table_stats(spark: SparkSession, path: str) -> list[dict]:
    """Maintenance telemetry, METADATA-ONLY (manifest + directory
    listings, no data read): one dict per live partition with its data
    dir count, file count, byte size, smallest/largest file, and
    pending delete-file count. This is the input a maintenance
    scheduler feeds to ``plan_compactions`` — at 100 TB you compact the
    partitions whose debt says so, never the table."""
    path = path.rstrip("/")
    jvm, fs, _ = _hadoop(spark, path)
    m = snapshot_manifest(spark, path)
    out = []
    for leaf in sorted(m["partitions"]):
        toks = _leaf_toks(m, leaf)
        n_files = 0
        total = 0
        sizes = []
        for tok in toks:
            d = _jpath(jvm, f"{path}/{leaf}/{tok}")
            for st in fs.listStatus(d):
                name = st.getPath().getName()
                if st.isFile() and not name.startswith(("_", ".")):
                    n_files += 1
                    sz = st.getLen()
                    total += sz
                    sizes.append(sz)
        out.append(
            {
                "partition": leaf,
                "n_data_dirs": len(toks),
                "n_files": n_files,
                "bytes": total,
                "min_file_bytes": min(sizes) if sizes else 0,
                "max_file_bytes": max(sizes) if sizes else 0,
                "n_delete_files": len(m.get("deletes", {}).get(leaf, [])),
            }
        )
    return out


def plan_compactions(
    spark: SparkSession,
    path: str,
    max_files: int = 8,
    max_delete_files: int = 2,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> list[dict]:
    """Pick the partitions whose small-file or merge-on-read debt
    crosses the thresholds and return ready-to-run compaction orders:
    [{partition, value, target_files, reason}]. Debt rules mirror what
    Delta OPTIMIZE / Iceberg rewrite_data_files target: too many files
    per partition (append accumulation), pending equality-delete files
    beyond ``max_delete_files`` (scan-time anti-join debt), or both.
    ``target_files`` is sized so compacted files land near
    ``target_file_bytes`` (never 0). Metadata-only; execute each order
    with ``snapshot_compact_partition(spark, path, value,
    target_files)`` on whatever schedule the deployment runs
    maintenance."""
    orders = []
    for s in snapshot_table_stats(spark, path):
        reasons = []
        if s["n_files"] > max_files:
            reasons.append(f"{s['n_files']} files > {max_files}")
        if s["n_delete_files"] > max_delete_files:
            reasons.append(
                f"{s['n_delete_files']} delete files > {max_delete_files}"
            )
        if not reasons:
            continue
        orders.append(
            {
                "partition": s["partition"],
                "value": s["partition"].split("=", 1)[1],
                "target_files": max(1, round(s["bytes"] / target_file_bytes)),
                "reason": "; ".join(reasons),
            }
        )
    return orders
