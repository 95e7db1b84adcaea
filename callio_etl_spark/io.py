"""Sinks and table-lifecycle helpers (SURVEY.md section 2.1, S8-S13).

Reference: /root/reference/callio_etl/bigquery_service.py:265-330 (loads,
delete, DDL) and runner.py:158-209 (staging lifecycle). Spark-first mapping:

- S8  append sink with schema evolution  -> mode("append") + mergeSchema
- S9  truncate-replace sink              -> mode("overwrite")
- S10 SQL channel                        -> spark.sql
- S11 range delete                       -> snapshots.snapshot_delete_rows
  (merge-on-read delete files) / snapshot_delete_partitions
- S12 DDL bootstrap w/ partitioning      -> first write with partitionBy
- S13 staging tables                     -> temp views / staging paths

Physical layout (section 1.4): day partitioning via partitionBy(date_col);
BigQuery clustering maps to sortWithinPartitions on the cluster keys, which
gives parquet row-group min/max data skipping on those columns.

Every versioned table lives in the snapshot format (snapshots.py):
partitioned tables, and whole-table outputs through
``snapshots.snapshot_overwrite``. The commit protocol here,
``atomic_overwrite``, is the unversioned whole-table swap for the few
plain parquet tables: the update_log compaction, ``load_truncate`` and
the two incremental view tables.
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
BACKUP_SUFFIX = ".__backup__"
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


def load_append(df: DataFrame, path: str, merge_schema: bool = True) -> None:
    """S8 — WRITE_APPEND with ALLOW_FIELD_ADDITION/RELAXATION
    (bigquery_service.py:276-300): parquet append; readers pass
    mergeSchema=true to see evolved columns."""
    df.write.mode("append").option("mergeSchema", str(merge_schema).lower()).parquet(path)


def load_truncate(df: DataFrame, path: str) -> None:
    """S9 — WRITE_TRUNCATE, no schema updates (bigquery_service.py:302-309).
    Atomic: the replacement is staged beside the table and committed by
    rename, so a crashed truncate never leaves a half-written table (the
    reference gets this from BigQuery's job atomicity for free)."""
    atomic_overwrite(df.sparkSession, df, path)


# --------------------------------------------------------------------------
# Atomic commit protocol (staging + rename). The reference's sinks write to
# BigQuery, whose load/query jobs are atomic; plain `mode("overwrite")` on a
# parquet path is NOT — a mid-write crash leaves a truncated table. These
# helpers restore the missing guarantee with the classic staging-directory
# protocol (same shape as Hadoop's FileOutputCommitter v1 job commit):
#
#   write df -> <path>.__staging__      (crash here: target untouched)
#   touch staging/__COMMIT_*__ marker   (proves staging complete + mode)
#   rename <path> -> <path>.__backup__  (crash past here: recover_table
#   rename staging -> <path>             rolls the commit forward)
#   delete backup
#
# Rename is atomic on HDFS and on POSIX filesystems; on S3-like object
# stores it is copy+delete, where the right answer is a real table format
# (Delta/Iceberg).
# `recover_table` repairs any crash point; readers of a mid-commit table see
# either the old table, the new table, or a loud missing-path error — never
# a torn mix.
# --------------------------------------------------------------------------


def _hadoop(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(conf), p


def _rename(jvm, fs, src: str, dst: str) -> None:
    ok = fs.rename(
        jvm.org.apache.hadoop.fs.Path(src), jvm.org.apache.hadoop.fs.Path(dst)
    )
    if not ok:
        raise IOError(f"atomic commit: rename failed: {src} -> {dst}")


def _exists(jvm, fs, path: str) -> bool:
    return fs.exists(jvm.org.apache.hadoop.fs.Path(path))


def _delete(jvm, fs, path: str) -> None:
    fs.delete(jvm.org.apache.hadoop.fs.Path(path), True)


def _touch(jvm, fs, path: str) -> None:
    fs.create(jvm.org.apache.hadoop.fs.Path(path)).close()


def _try_create_exclusive(jvm, fs, path: str, content: str = "") -> bool:
    """Atomic create-if-absent (overwrite=false): exactly one of N
    concurrent callers wins — the mutual-exclusion primitive on HDFS and
    POSIX (object stores without atomic create need a real table format's
    commit service instead; same boundary as the rename note above).
    ``content`` (the winner's ownership token) is written into the file
    on the same exclusive stream.

    The local filesystem's create(overwrite=false) checks for the file and
    then opens it — two creators racing through that gap both win — so a
    local path is created with O_EXCL, which the kernel makes atomic."""
    if fs.getScheme() == "file":
        local = fs.pathToFile(jvm.org.apache.hadoop.fs.Path(path)).getPath()
        try:
            os.makedirs(os.path.dirname(local), exist_ok=True)
            fd = os.open(local, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
        except OSError:
            return False
        with os.fdopen(fd, "w") as out:
            out.write(content)
        return True
    try:
        out = fs.create(jvm.org.apache.hadoop.fs.Path(path), False)
    except Exception:
        return False
    try:
        if content:
            out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()
    return True


def _mtime_s(jvm, fs, path: str) -> float:
    return fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(path)).getModificationTime() / 1000.0


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
                    p = jvm.org.apache.hadoop.fs.Path(lock)
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
    older than ``stale_s`` is presumed crashed and reclaimed (the next
    committer's recover_table call then heals whatever the dead writer
    left mid-swap). Raises TimeoutError after ``timeout_s`` — a committer
    must never silently skip the swap it staged.

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
                            jvm, fs, jvm.org.apache.hadoop.fs.Path(claim)
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
    immediately before the decisive rename of every commit protocol
    (manifest publish, table swap), it re-reads
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
            jvm, fs, jvm.org.apache.hadoop.fs.Path(lock)
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
#: SEQUENCES (a maintain tick's read-pin -> commit -> cursor ack, a
#: rebuild's read -> overwrite -> re-pin -> cursor ack). The per-commit
#: lock alone cannot exclude a rebuild interleaving BETWEEN a tick's
#: commits: the tick could band its delta against the pre-rebuild pin
#: after the index was already rewritten, and its cursor ack could move
#: the rebuilt cursor backwards.
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
    committing index state or acknowledging the consumer cursor against
    a sequence a newer owner has already advanced. Same wall-time gate:
    free for every normally-paced tick."""
    assert_commit_fencing(spark, path.rstrip("/") + SERVICE_LOCK_INFIX)


def _vacuum_stale_stagings(
    jvm, fs, path: str, stale_s: float = STAGING_STALE_S, statuses=None
) -> None:
    """Drop writer-unique staging dirs (<path>.__staging__.<token>) left by
    writers that died BEFORE taking the lock — they are invisible to
    recover_table (which heals only the locked commit sequence) and would
    otherwise leak forever. Age-gated so an in-flight concurrent writer's
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
    a long-stale lock.

    ``statuses``: an already-fetched ``listStatus`` of the table's parent
    (the commit paths list it once and share it with the recovery probe —
    each listing is a py4j round trip paid on EVERY commit)."""
    name0 = jvm.org.apache.hadoop.fs.Path(path).getName()
    prefix = name0 + STAGING_SUFFIX + "."
    claim_prefixes = (
        name0 + LOCK_SUFFIX + ".reclaim.",
        name0 + LOCK_SUFFIX + ".release.",
        name0 + SERVICE_LOCK_INFIX + LOCK_SUFFIX + ".reclaim.",
        name0 + SERVICE_LOCK_INFIX + LOCK_SUFFIX + ".release.",
    )
    if statuses is None:
        statuses = _list_siblings(jvm, fs, path)
    now = time.time()
    for st in statuses:
        name = st.getPath().getName()
        age = now - st.getModificationTime() / 1000.0
        if name.startswith(prefix) and age > stale_s:
            fs.delete(st.getPath(), True)
        elif name.startswith(claim_prefixes):
            if _claim_age_s(name, st, now) > LOCK_STALE_S:
                fs.delete(st.getPath(), True)


def _list_siblings(jvm, fs, path: str) -> list:
    """``listStatus`` of the table's parent directory (empty when the
    parent is missing). Fetched ONCE per commit, inside the lock, and
    shared by the recovery probe and the staging/claim sweep."""
    parent = jvm.org.apache.hadoop.fs.Path(path).getParent()
    if parent is None or not fs.exists(parent):
        return []
    return list(fs.listStatus(parent))


def _recover_needed(jvm, fs, path: str, sibling_names: set[str]) -> bool:
    """One-probe gate for the in-lock ``recover_table`` call: recovery is
    a pure no-op unless a commit-protocol sibling (staging or backup
    dir) survives beside the table or the mode marker survives inside it
    (crash between the final rename and the marker delete). The common
    case — every previous commit completed — is NEITHER, and the full
    probe sequence costs ~8 py4j round trips on every commit; this gate
    reads the already-fetched sibling listing plus ONE marker probe."""
    base = jvm.org.apache.hadoop.fs.Path(path).getName()
    return (
        base + STAGING_SUFFIX in sibling_names
        or base + BACKUP_SUFFIX in sibling_names
        or _exists(jvm, fs, f"{path}/{_TABLE_MARKER}")
    )


def _claim_age_s(name: str, st, now: float) -> float:
    """Age of a lock-claim file: the creation timestamp embedded in its
    name (``<lock>.reclaim.<epoch_ms>.<hex>``) when present, else mtime
    (pre-timestamp strands). See _vacuum_stale_stagings."""
    parts = name.split(".")
    if len(parts) >= 2 and parts[-2].isdigit():
        return now - int(parts[-2]) / 1000.0
    return now - st.getModificationTime() / 1000.0


#: Mode marker written INSIDE staging after the write completes: its
#: presence proves the staging is whole, so recovery may roll it forward.
#: Underscore-prefixed => invisible to Spark's file index and partition
#: discovery if one survives into a table dir.
_TABLE_MARKER = "__COMMIT_TABLE__"


def atomic_overwrite(spark: SparkSession, df: DataFrame, path: str) -> None:
    """Replace the plain parquet table at ``path`` with ``df`` atomically
    (whole-table swap, no history: the displaced table is deleted). Safe
    when df READS FROM ``path``: the staging write completes against the
    old files before any rename touches them — no localCheckpoint
    materialization needed, the old table itself is the checkpoint until
    commit. Tables that need time travel are snapshot tables
    (``snapshots.snapshot_overwrite``).

    CONCURRENT WRITERS (the contract BigQuery's atomic jobs give the
    reference): each writer stages its data into a writer-unique dir
    UNLOCKED — concurrent 100 TB writes proceed in parallel — then takes
    the table's commit lock for the metadata swap only (milliseconds).
    Commits serialize; the last committer wins whole; a reader always
    sees exactly one complete table. What this does NOT give is snapshot
    isolation for a df that READS FROM ``path`` while another writer
    commits mid-staging — single-writer read-modify-write remains safe
    (the old files survive until this writer's own swap), multi-writer
    read-modify-write needs a real table format (Delta/Iceberg, SURVEY
    section 4's production binding). Crash anywhere: pre-lock leaves an
    age-vacuumed orphan staging and an intact table; in-swap is healed by
    the next committer's recover_table after the stale-lock reclaim."""
    path = path.rstrip("/")
    staging, backup = path + STAGING_SUFFIX, path + BACKUP_SUFFIX
    wstaging = f"{staging}.{uuid.uuid4().hex[:12]}"  # writer-unique, unlocked
    jvm, fs, _ = _hadoop(spark, path)
    df.write.mode("overwrite").parquet(wstaging)
    _touch(jvm, fs, f"{wstaging}/{_TABLE_MARKER}")
    acquire_table_lock(spark, path)
    try:
        sibs = _list_siblings(jvm, fs, path)
        if _recover_needed(
            jvm, fs, path, {st.getPath().getName() for st in sibs}
        ):
            recover_table(spark, path)  # heal any crashed commit first
        _vacuum_stale_stagings(jvm, fs, path, statuses=sibs)
        # fence BEFORE entering the recoverable sequence: past this
        # rename, recovery rolls the commit FORWARD, so a fenced-out
        # writer must stop while stopping still means "nothing happened"
        assert_commit_fencing(spark, path)
        _rename(jvm, fs, wstaging, staging)  # enter the recoverable sequence
        had_old = _exists(jvm, fs, path)
        if had_old:
            _rename(jvm, fs, path, backup)
        _rename(jvm, fs, staging, path)
        if had_old:
            _delete(jvm, fs, backup)
        _delete(jvm, fs, f"{path}/{_TABLE_MARKER}")
    finally:
        release_table_lock(spark, path)


def recover_table(spark: SparkSession, path: str) -> str:
    """Repair a table whose atomic_overwrite crashed mid-commit. Decision
    key: the mode marker inside staging — it is created only AFTER the
    staging write finishes, so its presence proves staging is complete; a
    marked staging rolls the commit FORWARD, an unmarked one rolls BACK to
    the old table. Idempotent; returns what it did."""
    path = path.rstrip("/")
    staging, backup = path + STAGING_SUFFIX, path + BACKUP_SUFFIX
    jvm, fs, _ = _hadoop(spark, path)
    actions: list[str] = []
    table_mode = _exists(jvm, fs, f"{staging}/{_TABLE_MARKER}")

    if _exists(jvm, fs, staging) and not table_mode:
        # Crashed during (or just after) the staging write, before the mode
        # marker: no rename has happened, the target is the intact old
        # table — roll back by dropping staging.
        _delete(jvm, fs, staging)
        actions.append("dropped incomplete staging")

    if table_mode:
        if _exists(jvm, fs, backup):
            # Crashed after `path -> backup`: finish the swap.
            if not _exists(jvm, fs, path):
                _rename(jvm, fs, staging, path)
                actions.append("rolled staging forward")
            else:
                _delete(jvm, fs, staging)  # swap already finished
                actions.append("dropped committed staging")
            _delete(jvm, fs, backup)
            actions.append("dropped backup")
        elif _exists(jvm, fs, path):
            # Crashed before `path -> backup`: commit never started.
            _delete(jvm, fs, staging)
            actions.append("dropped pre-commit staging")
        else:
            # First write ever (no old table): just roll forward.
            _rename(jvm, fs, staging, path)
            actions.append("rolled staging forward")
    elif _exists(jvm, fs, backup) and _exists(jvm, fs, path):
        # crash between final rename and backup disposal
        _delete(jvm, fs, backup)
        actions.append("dropped backup")

    if _exists(jvm, fs, f"{path}/{_TABLE_MARKER}"):
        _delete(jvm, fs, f"{path}/{_TABLE_MARKER}")
    return "; ".join(actions) or "clean"


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

