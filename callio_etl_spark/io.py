"""Sinks and table-lifecycle helpers (SURVEY.md section 2.1, S8-S13).

Reference: /root/reference/callio_etl/bigquery_service.py:265-330 (loads,
delete, DDL) and runner.py:158-209 (staging lifecycle). Spark-first mapping:

- S8  append sink with schema evolution  -> snapshots.snapshot_append
  (``partition_col=None``: whole table, schema union)
- S9  truncate-replace sink              -> snapshots.snapshot_overwrite
- S10 SQL channel                        -> spark.sql
- S11 range delete                       -> snapshots.snapshot_delete_rows
  (merge-on-read delete files) / snapshot_delete_partitions
- S12 DDL bootstrap w/ partitioning      -> first write with partitionBy
- S13 staging tables                     -> temp views / staging paths

Physical layout (section 1.4): day partitioning via partitionBy(date_col);
BigQuery clustering maps to sortWithinPartitions on the cluster keys, which
gives parquet row-group min/max data skipping on those columns.

Every table the engine commits is a snapshot table (snapshots.py), whose
one commit is a manifest publish. This module holds what that commit
builds on: the Hadoop FS helpers, the table and service locks with their
heartbeat, reclaim and fencing, and the stale-staging sweep.
"""

from __future__ import annotations

import os
import threading
import time
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

#: Commit-protocol sibling dirs (next to the table path, never inside it —
#: a dir inside the table would surface as a bogus partition to readers).
STAGING_SUFFIX = ".__staging__"
LOCK_SUFFIX = ".__commitlock__"

#: Writer-coordination knobs: how long a committer waits for the table
#: lock, and when an unreleased lock / orphaned writer staging counts as a
#: crashed writer and is reclaimed. The stale threshold bounds how long a
#: CRASH can block the table — it does NOT bound legitimate hold time:
#: long holders (the service lock around a rebuild sequence, a wide
#: commit's rename phase) stay unreclaimable because their heartbeat
#: refreshes the lock's mtime every stale_s/4 while the process lives
#: (see acquire_table_lock); only a holder that stopped beating — i.e.
#: actually died — ages into the reclaim window.
LOCK_TIMEOUT_S = 120.0
LOCK_STALE_S = 3600.0
STAGING_STALE_S = 24 * 3600.0


#: (JVM view, its ``org.apache.hadoop.fs.Path`` class): resolving the
#: class through the view costs five py4j round trips per lookup, and a
#: commit builds dozens of paths.
_PATH_CLASS: list = [None, None]


def _jpath(jvm, path: str):
    """``new org.apache.hadoop.fs.Path(path)`` in one py4j round trip."""
    if _PATH_CLASS[0] is not jvm:
        _PATH_CLASS[:] = [jvm, jvm.org.apache.hadoop.fs.Path]
    return _PATH_CLASS[1](path)


def _hadoop(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = _jpath(jvm, path)
    return jvm, p.getFileSystem(conf), p


def _rename(jvm, fs, src: str, dst: str) -> None:
    ok = fs.rename(
        _jpath(jvm, src), _jpath(jvm, dst)
    )
    if not ok:
        raise IOError(f"atomic commit: rename failed: {src} -> {dst}")


def _exists(jvm, fs, path: str) -> bool:
    return fs.exists(_jpath(jvm, path))


def _delete(jvm, fs, path: str) -> None:
    fs.delete(_jpath(jvm, path), True)


def _try_create_exclusive(jvm, fs, path: str, content: str = "") -> bool:
    """Atomic create-if-absent (overwrite=false): exactly one of N
    concurrent callers wins — the mutual-exclusion primitive on HDFS and
    POSIX (object stores without atomic create need a real table format's
    commit service instead — rename is copy+delete there too).
    ``content`` (the winner's ownership token) is written into the file
    on the same exclusive stream.

    The local filesystem's create(overwrite=false) checks for the file and
    then opens it — two creators racing through that gap both win — so a
    local path is created with O_EXCL, which the kernel makes atomic."""
    if fs.getScheme() == "file":
        local = fs.pathToFile(_jpath(jvm, path)).getPath()
        try:
            os.makedirs(os.path.dirname(local), exist_ok=True)
            fd = os.open(local, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
        except OSError:
            return False
        with os.fdopen(fd, "w") as out:
            out.write(content)
        return True
    try:
        out = fs.create(_jpath(jvm, path), False)
    except Exception:
        return False
    try:
        if content:
            out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()
    return True


def _mtime_s(jvm, fs, path: str) -> float:
    return fs.getFileStatus(_jpath(jvm, path)).getModificationTime() / 1000.0


#: Live heartbeats for locks held by THIS process: lock path -> record
#: dict (stop event, fired flag, ownership token, beat mutex, acquire
#: wall-time, stale_s). The beat keeps a long-held lock's
#: mtime fresh so the stale-reclaim path (built for crashed holders) can
#: never fire against a holder that is merely SLOW — the service lock
#: wraps whole rebuild sequences (O(corpus) at 100 TB), and even a commit
#: lock's in-lock rename loop is O(staged leaves), so "legitimate hold
#: duration" is not bounded by milliseconds the way the original stale
#: rationale assumed.
_LOCK_BEATS: dict[str, dict] = {}
_LOCK_BEATS_GUARD = threading.Lock()


def _read_lock_token(jvm, fs, p) -> str:
    stream = fs.open(p)
    try:
        return bytes(
            jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        ).decode("utf-8")
    finally:
        stream.close()


def _start_lock_heartbeat(
    spark: SparkSession, lock: str, token: str, stale_s: float
) -> None:
    stop, fired = threading.Event(), threading.Event()
    mutex = threading.Lock()  # serializes beat FS ops against release
    with _LOCK_BEATS_GUARD:
        old = _LOCK_BEATS.pop(lock, None)
        _LOCK_BEATS[lock] = {
            "stop": stop,
            "fired": fired,
            "token": token,
            "mutex": mutex,
            "acquired_at": time.time(),
            "stale_s": stale_s,
        }
    if old is not None:
        old["stop"].set()  # defensive: same-process re-acquire after a leak

    def beat() -> None:
        # py4j init is DEFERRED past the first wait: a sub-interval hold
        # (every plain commit) releases before the beat ever runs, so the
        # thread must not open its own gateway connection + pay 4 round
        # trips racing the main thread's commit ops on every acquire
        jvm = fs = p = None
        missing_beats = 0  # consecutive beats that saw the lock absent
        while not stop.wait(stale_s / 4.0):
            if jvm is None:
                # own py4j gateway connection per thread (py4j is
                # thread-safe); first beat only. A transient gateway
                # error must NOT kill the thread — a long-held lock
                # would silently lose its live-holder protection
                try:
                    jvm, fs, _ = _hadoop(spark, lock)
                    p = _jpath(jvm, lock)
                except Exception:
                    jvm = fs = p = None
                    continue  # retry at the next beat interval
            with mutex:
                if stop.is_set():
                    return  # release won the race
                try:
                    if _read_lock_token(jvm, fs, p) != token:
                        return  # reclaimed by another holder: respect it
                    fired.set()
                    # refresh mtime WITHOUT replacing the file: a reclaim
                    # racing this beat can therefore never be overwritten
                    # (setTimes on a just-reclaimed foreign lock merely
                    # refreshes the new holder's mtime — harmless, their
                    # own beat does the same)
                    fs.setTimes(p, int(time.time() * 1000), -1)
                    missing_beats = 0
                except Exception:
                    # A waiter's rename-claim makes the lock momentarily
                    # ABSENT even while this holder is live (claim ->
                    # staleness re-check -> restore, several FS round
                    # trips apart — the restore retry loop alone can span
                    # hundreds of ms on a slow gateway), so "missing" is
                    # NOT proof of release: exiting here would leave a
                    # restored lock with no heartbeat — falsely
                    # reclaimable after stale_s, breaking the live-holder
                    # invariant. Two layers of grace: a short in-beat
                    # re-probe window for the common fast restore, and a
                    # cross-beat streak (a second full beat interval,
                    # stale_s/4, must ALSO see the lock absent before the
                    # thread exits) so the conclusion never hinges on a
                    # fixed few-hundred-ms budget racing an arbitrarily
                    # slow FS. The next successful read re-verifies by
                    # TOKEN, so a reclaimed-and-recreated lock is still
                    # respected, never overwritten.
                    gone = False
                    deadline = time.monotonic() + 0.5
                    while True:
                        try:
                            if _exists(jvm, fs, lock):
                                gone = False
                                break
                            gone = True
                        except Exception:
                            gone = False  # probe failed: transient
                            break
                        if time.monotonic() > deadline:
                            break
                        time.sleep(0.05)
                    if gone:
                        missing_beats += 1
                        if missing_beats >= 2 and not stop.is_set():
                            return  # absent across two beat intervals
                    else:
                        missing_beats = 0
                    # transient FS/gateway error: keep beating — dying
                    # here would silently re-expose the live-holder
                    # reclaim this thread exists to prevent (the next
                    # beat is stale_s/4 away, 4 chances per window)
                    continue

    threading.Thread(
        target=beat, daemon=True, name=f"lockbeat:{lock}"
    ).start()


def acquire_table_lock(
    spark: SparkSession,
    path: str,
    timeout_s: float = LOCK_TIMEOUT_S,
    stale_s: float = LOCK_STALE_S,
    poll_s: float = 0.05,
) -> str:
    """Take the table's commit lock (create-if-absent lock file beside the
    table). Concurrent committers spin until the holder releases; a lock
    older than ``stale_s`` is presumed crashed and reclaimed (a dead
    writer leaves at most unpublished staging and token dirs, which the
    next commit's sweeps reclaim). Raises TimeoutError after
    ``timeout_s`` — a committer must never silently skip the commit it
    staged.

    A LIVE holder is never mistaken for a crashed one: the winner writes
    an ownership token into the lock file and a daemon heartbeat re-touches
    it every ``stale_s/4`` while held, so only a holder whose process
    actually died stops refreshing and becomes reclaimable. The heartbeat
    verifies its token before each touch (a reclaim that somehow raced in
    is respected, never overwritten), and release deletes the lock only if
    the token still matches once a heartbeat has fired — the fast path
    (sub-``stale_s/4`` holds, i.e. every plain commit) pays no extra
    round trips."""
    jvm, fs, _ = _hadoop(spark, path)
    lock = path.rstrip("/") + LOCK_SUFFIX
    token = uuid.uuid4().hex
    deadline = time.monotonic() + timeout_s
    while True:
        if _try_create_exclusive(jvm, fs, lock, content=token):
            _start_lock_heartbeat(spark, lock, token, stale_s)
            return lock
        try:
            if time.time() - _mtime_s(jvm, fs, lock) > stale_s:
                # RENAME-claim the stale file (atomic: exactly one waiter
                # wins the rename) and re-check staleness on the claimed
                # file — a plain stat->delete would TOCTOU against a
                # heartbeat that refreshed between the stat and delete
                # creation time rides in the name: rename preserves the
                # STALE lock's mtime, so an mtime age gate would let the
                # staging vacuum delete this claim mid re-check
                claim = f"{lock}.reclaim.{int(time.time() * 1000)}.{uuid.uuid4().hex[:8]}"
                try:
                    _rename(jvm, fs, lock, claim)
                except IOError:
                    continue  # lost the claim race / lock released
                if time.time() - _mtime_s(jvm, fs, claim) > stale_s:
                    _delete(jvm, fs, claim)  # genuinely dead: reclaimed
                else:
                    # raced a live beat: restore the holder's lock (if a
                    # third party created a new lock inside this window,
                    # drop the claim instead — they hold, and the original
                    # holder's beat sees its token gone and stops). On a
                    # TRANSIENT error, retry the probe+restore — the claim
                    # was just verified FRESH (live heartbeat), so deleting
                    # it here would silently un-lock a live holder; delete
                    # only when the probe positively saw a new lock.
                    for restore_attempt in (1, 2, 3):
                        try:
                            if _exists(jvm, fs, lock):
                                try:
                                    _delete(jvm, fs, claim)
                                except Exception:
                                    pass  # stray claim: swept by age later
                            else:
                                _rename(jvm, fs, claim, lock)
                            break
                        except Exception:
                            if restore_attempt == 3:
                                # last resort: blind restore — a stray
                                # claim file beside a restored lock is
                                # harmless (age-swept), but a DELETED
                                # fresh claim is a lost lock
                                try:
                                    _rename(jvm, fs, claim, lock)
                                except Exception:
                                    pass
                                break
                            time.sleep(0.05)
                continue
        except Exception:
            continue  # lock released between the create and the stat
        if time.monotonic() > deadline:
            raise TimeoutError(
                f"atomic commit: table lock {lock} held past {timeout_s}s; "
                "a concurrent writer is committing (or crashed within the "
                f"stale window of {stale_s}s)"
            )
        time.sleep(poll_s)


def release_table_lock(spark: SparkSession, path: str) -> None:
    jvm, fs, _ = _hadoop(spark, path)
    lock = path.rstrip("/") + LOCK_SUFFIX
    with _LOCK_BEATS_GUARD:
        rec = _LOCK_BEATS.pop(lock, None)
    if rec is not None:
        stop, fired = rec["stop"], rec["fired"]
        token, mutex = rec["token"], rec["mutex"]
        stop.set()
        # Token-verify not just when a beat fired but ALSO when the hold's
        # WALL age reaches reclaim eligibility: a process stalled before
        # its first beat (SIGSTOP, VM freeze) may have lost the lock to a
        # reclaim without fired ever setting — a plain delete here would
        # remove the new holder's lock (the same gate as
        # assert_commit_fencing).
        aged = (
            time.time() - rec["acquired_at"] >= rec["stale_s"] * 0.75
        )
        if fired.is_set() or aged:
            # the lock lived past a beat interval: verify ownership before
            # removing it — if a reclaim raced the heartbeat, the file now
            # belongs to another holder and must be left alone. The
            # verify+delete is made atomic by RENAME-claiming the file
            # first (exactly one actor can win the rename); the mutex
            # additionally excludes this process's own in-flight beat.
            # Sub-interval holds — every plain commit — skip all of this:
            # plain delete. Transient FS errors retry once and then leave
            # the lock for the stale reclaim rather than best-guessing.
            with mutex:
                for attempt in (1, 2):
                    claim = (
                        f"{lock}.release.{int(time.time() * 1000)}"
                        f".{uuid.uuid4().hex[:8]}"
                    )
                    try:
                        _rename(jvm, fs, lock, claim)
                    except IOError:
                        return  # already gone (reclaim deleted it)
                    try:
                        cur = _read_lock_token(
                            jvm, fs, _jpath(jvm, claim)
                        )
                        if cur == token:
                            _delete(jvm, fs, claim)
                            return
                        # a reclaim re-owned the lock: restore it
                        _rename(jvm, fs, claim, lock)
                        import logging

                        logging.getLogger(__name__).warning(
                            "lock %s was reclaimed while held (token "
                            "mismatch on release); leaving the new "
                            "holder's lock intact",
                            lock,
                        )
                        return
                    except Exception:
                        # restore the claimed file (ours or a reclaimer's)
                        # before retrying/giving up — stranding it under
                        # the claim name would un-lock the table while its
                        # holder still believes it holds
                        try:
                            _rename(jvm, fs, claim, lock)
                        except Exception:
                            pass
                        if attempt == 1:
                            time.sleep(0.1)
                            continue  # transient: retry once
                        import logging

                        logging.getLogger(__name__).warning(
                            "lock %s: release verify failed twice; "
                            "leaving the file for the stale reclaim",
                            lock,
                        )
                        return
        with mutex:
            _delete(jvm, fs, lock)
        return
    _delete(jvm, fs, lock)


def assert_commit_fencing(spark: SparkSession, path: str) -> None:
    """FENCING at the commit point: a holder that lost its lock to a
    stale reclaim — a process paused past ``stale_s`` (SIGSTOP, VM
    freeze, pathological GC) that then RESUMED — must fail its publish
    loudly instead of tearing the new holder's commit. Called
    immediately before the decisive rename of every commit (the
    manifest publish), it re-reads
    the lock file's ownership token and raises if it no longer matches
    the token this process wrote at acquire time.

    Cost: zero for young holds (every plain commit) — gated on WALL
    time since acquire, NOT the heartbeat's ``fired`` flag: a process
    SIGSTOPped before its first beat never fires, yet wall time (and
    the mtime age a reclaimer reads) marches on, so only wall age
    proves a reclaim was impossible. One small FS read for long holds.
    No-op when the path is not locked through ``acquire_table_lock``
    in this process.

    Scope honesty: this closes the PERSISTENT split-brain (two writers
    continuing for minutes after a wrongful reclaim); the instantaneous
    window between this check and the rename itself cannot be excluded
    without a CAS primitive the filesystem does not offer — the same
    boundary as the create-if-absent note above (object stores want a
    real table-format commit service). A transiently unreadable lock
    (a waiter's claim window, a gateway hiccup) does NOT abort the
    commit: the claim protocol preserves this holder's token on
    restore, so only a POSITIVE foreign-token read is proof of loss."""
    lock = path.rstrip("/") + LOCK_SUFFIX
    with _LOCK_BEATS_GUARD:
        rec = _LOCK_BEATS.get(lock)
    if rec is None:
        return  # not held via acquire_table_lock (caller manages safety)
    token = rec["token"]
    # WALL-time gate, not the fired flag: a process SIGSTOPped right
    # after acquire never fires a beat, yet wall time (and the lock's
    # mtime age a reclaimer reads) marches on — only a hold whose wall
    # age is safely under stale_s is unreclaimable by construction.
    if time.time() - rec["acquired_at"] < rec["stale_s"] * 0.75:
        return  # young hold: no reclaim can have fired yet
    jvm, fs, _ = _hadoop(spark, path)
    try:
        cur = _read_lock_token(
            jvm, fs, _jpath(jvm, lock)
        )
    except Exception:
        return  # claim window / transient read: token survives restores
    if cur != token:
        raise RuntimeError(
            f"commit fencing: table lock {lock} was reclaimed while held "
            "(this process stalled past the stale window and another "
            "writer took ownership); aborting this publish — the staged "
            "work is left for the caller to retry under a fresh lock"
        )


#: Derived path for an index table's SERVICE lock — a second mutex layered
#: above the per-commit table lock that serializes whole maintenance
#: SEQUENCES (a maintain tick's read-state -> compute -> commit, a
#: rebuild's read -> overwrite). The per-commit lock alone cannot
#: exclude a rebuild interleaving BETWEEN a tick's state read and its
#: commit: the tick could band its delta against the pre-rebuild pin
#: and publish it, with its stale source version, over the rebuilt
#: index.
SERVICE_LOCK_INFIX = ".__service"


def acquire_service_lock(spark: SparkSession, path: str, **kw) -> str:
    """Take the table's service lock (see SERVICE_LOCK_INFIX). Reuses the
    table-lock primitive on a derived path, so it composes with — never
    conflicts with — the per-commit locks the inner operations take.
    ``kw`` forwards to acquire_table_lock (timeout_s / stale_s): service
    holders run multi-commit sequences far longer than a plain commit,
    so a waiter (a second loop instance, a maintenance pass queued
    behind a rebuild) needs a timeout sized to a whole tick — which is
    therefore the DEFAULT here (the effective stale window +
    LOCK_TIMEOUT_S: a live holder survives at most the stale window
    before reclaim, plus one commit-lock wait for the reclaimer), not
    the 120 s commit default. The default derives from the CALLER'S
    stale_s when one is passed — a caller widening the stale window
    without also widening timeout_s must not time out before a dead
    holder becomes reclaimable (ADVICE r14). Callers with a faster-fail
    policy pass timeout_s explicitly."""
    kw.setdefault("timeout_s", kw.get("stale_s", LOCK_STALE_S) + LOCK_TIMEOUT_S)
    return acquire_table_lock(
        spark, path.rstrip("/") + SERVICE_LOCK_INFIX, **kw
    )


def release_service_lock(spark: SparkSession, path: str) -> None:
    release_table_lock(spark, path.rstrip("/") + SERVICE_LOCK_INFIX)


def assert_service_fencing(spark: SparkSession, path: str) -> None:
    """Commit-point fencing for the SERVICE lock (see
    assert_commit_fencing): a maintenance tick or rebuild that stalled
    past the stale window and lost its service lock must abort before
    committing index rows and their source version against a sequence
    a newer owner has already advanced. Same wall-time gate: free for
    every normally-paced tick."""
    assert_commit_fencing(spark, path.rstrip("/") + SERVICE_LOCK_INFIX)


def _vacuum_stale_stagings(
    jvm, fs, path: str, stale_s: float = STAGING_STALE_S
) -> None:
    """Drop writer-unique staging dirs (<path>.__staging__.<token>) left by
    writers that died BEFORE taking the lock — no manifest references
    them, so they would otherwise leak forever. Age-gated so an in-flight concurrent writer's
    staging is never touched (a data write outlasting STAGING_STALE_S
    would fail its later rename loudly and simply restage).

    Also sweeps ABANDONED lock-claim files (<lock>.reclaim.* /
    <lock>.release.*): a claim lives for milliseconds while its waiter
    re-checks staleness, so one older than LOCK_STALE_S was stranded by
    a transient-error path (its _delete failed, or its owner died
    mid-claim) and would otherwise leak forever. Claim AGE is the
    creation timestamp embedded in the claim name (rename preserves the
    source file's mtime, so a reclaim claim renamed from an already-stale
    lock would look instantly sweep-eligible by mtime); names without a
    timestamp segment (pre-r12 strands) fall back to mtime. The age gate
    therefore protects EVERY in-flight claim, including one claimed from
    a long-stale lock."""
    name0 = _jpath(jvm, path).getName()
    prefix = name0 + STAGING_SUFFIX + "."
    claim_prefixes = (
        name0 + LOCK_SUFFIX + ".reclaim.",
        name0 + LOCK_SUFFIX + ".release.",
        name0 + SERVICE_LOCK_INFIX + LOCK_SUFFIX + ".reclaim.",
        name0 + SERVICE_LOCK_INFIX + LOCK_SUFFIX + ".release.",
    )
    parent = _jpath(jvm, path).getParent()
    if parent is None or not fs.exists(parent):
        return
    now = time.time()
    for st in fs.listStatus(parent):
        name = st.getPath().getName()
        age = now - st.getModificationTime() / 1000.0
        if name.startswith(prefix) and age > stale_s:
            fs.delete(st.getPath(), True)
        elif name.startswith(claim_prefixes):
            if _claim_age_s(name, st, now) > LOCK_STALE_S:
                fs.delete(st.getPath(), True)


def _claim_age_s(name: str, st, now: float) -> float:
    """Age of a lock-claim file: the creation timestamp embedded in its
    name (``<lock>.reclaim.<epoch_ms>.<hex>``) when present, else mtime
    (pre-timestamp strands). See _vacuum_stale_stagings."""
    parts = name.split(".")
    if len(parts) >= 2 and parts[-2].isdigit():
        return now - int(parts[-2]) / 1000.0
    return now - st.getModificationTime() / 1000.0


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_col: str,
    cluster_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """S12 + section 1.4 — day-partitioned table with in-file clustering sort
    (bigquery_service.py:137-141, 205-210: partition on the date column,
    cluster on tenant/key). sortWithinPartitions orders rows inside each file
    so parquet row-group stats prune on the cluster keys."""
    if cluster_cols:
        df = df.sortWithinPartitions(*cluster_cols)
    df.write.mode(mode).partitionBy(partition_col).parquet(path)


def stage_temp_view(df: DataFrame, name: str) -> str:
    """S13 — staging table as a temp view (runner.py:158-161: CREATE TEMP
    TABLE _S; bigquery_service.py:214-238: stg_customer)."""
    df.createOrReplaceTempView(name)
    return name


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table (Spark's analog of co-located storage): rows
    are hash-partitioned into ``n_buckets`` files per partition by
    ``bucket_cols`` AT WRITE TIME, so joins/aggregations on those keys read
    co-located data and skip the shuffle entirely — the plan shows
    SortMergeJoin with NO Exchange on either side (asserted in
    tests/test_io.py). This is the 100 TB answer for repeated big-big joins
    on a stable key (e.g. fact-to-fact on tenant+id): pay one shuffle at
    write, never again at read."""
    (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .saveAsTable(table)
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated equi-join: the skewed (large) side gets a deterministic
    salt derived from a hash of its whole row, splitting each hot key into
    ``n_salts`` shuffle partitions; the small(er) side is replicated across
    all salt values with explode. Result is row-identical to
    ``left.join(right, key, how)`` for the LEFT-PRESERVING join types only:
    because the right side is exploded n_salts times, any join that emits
    unmatched RIGHT rows (right/full outer) would emit each of them n_salts
    times — those types are rejected.

    Use when one join key dominates (AQE's skew-join split handles moderate
    skew at runtime; salting is the explicit fix when a single key exceeds
    what one task can hold). Replication multiplies the right side by
    n_salts — keep it the smaller input."""
    safe = {"inner", "left", "leftouter", "left_outer", "left_semi", "leftsemi",
            "left_anti", "leftanti"}
    if how.lower() not in safe:
        raise ValueError(
            f"salted_join: join type {how!r} would duplicate unmatched right "
            f"rows (right side is replicated {n_salts}x); supported: inner/"
            f"left/left_semi/left_anti"
        )
    salt = F.pmod(F.xxhash64(F.struct(*[F.col(c) for c in left.columns])), F.lit(n_salts))
    lhs = left.withColumn("__salt", salt)
    rhs = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return lhs.join(rhs, [key, "__salt"], how).drop("__salt")


def read_json_docs(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """S1 ingestion surface for the reference's native payload shape: JSON
    docs (api.py:184's `docs` arrays land as JSON-lines files in a landing
    zone). An explicit schema keeps the read single-pass — omitting it costs
    a full inference scan, and on 100 TB of JSON that doubles the read. Mode
    PERMISSIVE + columnNameOfCorruptRecord quarantines malformed rows
    instead of failing the scan (the reference tolerates drift the same way,
    bigquery_service.py:276-284)."""
    reader = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_csv_table(
    spark: SparkSession,
    path: str,
    schema=None,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    """CSV ingestion for the landing zone, same contract as read_json_docs:
    explicit schema => single-pass scan (inference reads the data twice —
    never at 100 TB), PERMISSIVE mode quarantines malformed lines into
    _corrupt_record instead of failing the job. CSV is splittable only
    without multiline quoting, so wide-cluster parallelism holds for
    line-per-record files; convert to parquet at the first hop regardless."""
    reader = (
        spark.read.option("header", str(header).lower())
        .option("sep", delimiter)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)

