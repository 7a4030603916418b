"""Advisory index-maintenance lock + append transaction log.

The persisted dedup/ANN indexes live in MANAGED BUCKETED tables
(``sources/bucketing.py``) because the probe plans need the bucketed
join layout — and Spark's catalog tables, unlike the manifest roots in
``sources/manifest.py``, have no MVCC commit log: an append mutates the
live table in place.  Two concurrent ``dedup_index_append`` /
``ann_index_append`` calls can therefore interleave half-written state
(colliding ``_temporary`` staging dirs inside one table directory,
two ``swap_table`` rewrites of one table racing each other).  The
maintenance verbs take this lock through
``sources/index_tables.locked_verb``.

This module serializes the batch maintenance verbs with a
**lease-based advisory lock** — the public Delta/Iceberg idiom for
shared-warehouse coordination, scoped to what a shared filesystem
actually provides:

- :class:`IndexLock` — an O_EXCL lock file per index holding
  ``{host, pid, token, ts, lease_s}``.  The OWNER refreshes ``ts`` on a
  heartbeat thread (every ``lease_s/3``), so a live owner's lease never
  expires; waiters treat the lock as reclaimable ONLY when
  (a) the lease has expired (any host — no liveness guess about remote
  processes), or (b) the owner is on THIS host and its pid is provably
  dead (a fast path: same-host death is observable, no need to wait
  out the lease).  A remote owner that merely looks idle is therefore
  never stolen before its lease runs out — the r13 pid-probe protocol
  misjudged every remote owner as dead.
- **Clobber-free steal**: reclaim renames the lock aside (atomic — one
  stealer wins), re-verifies the moved content is the expired lock it
  read, and if a NEW owner had re-created the file in that window puts
  it back via ``os.link(aside, path)`` — link FAILS on an existing
  destination, so a third claimant's fresh O_EXCL lock is never
  overwritten (the r13 protocol put back with ``os.rename``, which
  silently clobbers; ADVICE r13).  If the link loses, the moved lock's
  owner finds a foreign token at its next heartbeat and fails LOUDLY
  (:class:`LockLost`) instead of running concurrently.
- :func:`log_index_txn` — each completed cycle appends an O_EXCL
  transaction record (the manifest ``commit_version`` shape applied to
  a data-less log); passing the held lock re-asserts ownership
  IMMEDIATELY before the record is claimed, so a stolen-from writer
  aborts rather than logging.

Scope and honesty: expiry compares the owner's ``ts`` (its clock) with
the waiter's clock — the standard lease caveat; size ``lease_s`` well
above worst-case skew + GC pauses (default 30 s, heartbeat 10 s).  All
atomicity here (O_EXCL create, rename, link) is the POSIX contract of
a local/NFS filesystem — the same contract the managed warehouse
itself relies on; S3-class object stores need a conditional-PUT
backend instead (see the storage-backend note in
``sources/manifest.py``).

Reference note: the reference engine (/root/reference/src/main.rs) is a
single-process binding with no shared mutable index, so it needs no
coordination; this protects surface this repo ADDS (persisted
incremental indexes).
"""

from __future__ import annotations

import json
import os
import socket
import threading
import time
import uuid

__all__ = ["IndexLock", "LockTimeout", "LockLost", "log_index_txn",
           "index_txns"]


class LockTimeout(Exception):
    """The index lock stayed validly held past the acquisition wait."""


class LockLost(Exception):
    """The lock was reclaimed out from under the owner (expired lease
    or the steal-ABA edge) — the cycle must not commit its txn."""


def _warehouse_dir(spark) -> str:
    d = spark.conf.get("spark.sql.warehouse.dir")
    # Spark reports a file: URI; the lock lives on the same filesystem
    if d.startswith("file:"):
        import urllib.parse

        d = urllib.parse.unquote(urllib.parse.urlparse(d).path)
    return d


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    return True


class IndexLock:
    """``with IndexLock(spark, name): ...`` — serialize maintenance of
    index ``name``'s managed tables across processes (and, via the
    lease, across hosts sharing the warehouse filesystem).

    Acquisition loop: O_EXCL create of ``{warehouse}/{name}__idxlock``.
    On EEXIST, read the owner: reclaim only an EXPIRED lease (or a
    provably-dead same-host pid); otherwise wait, bounded by
    ``timeout_s``.  While held, a daemon heartbeat refreshes the lease
    every ``lease_s/3`` and verifies the on-disk token is still ours —
    a foreign token means we were (wrongly or racily) stolen from, and
    the context exit raises :class:`LockLost` instead of releasing
    someone else's lock."""

    def __init__(self, spark, name: str, timeout_s: float = 300.0,
                 poll_s: float = 0.1, lease_s: float = 30.0,
                 backend=None):
        from .storage import PosixBackend

        self.path = os.path.join(_warehouse_dir(spark),
                                 f"{name.lower()}__idxlock")
        self.timeout_s = timeout_s
        self.poll_s = poll_s
        self.lease_s = float(lease_s)
        self.token = uuid.uuid4().hex
        # the protocol touches storage ONLY through the three-primitive
        # seam (sources/storage.py) — a conditional-PUT object-store
        # backend slots in here; tests/test_storage.py runs the whole
        # acquire/steal/ABA state machine over the in-memory fake
        self.fs = backend if backend is not None else PosixBackend()
        self._held = False
        self._lost = False
        self._hb_stop: threading.Event | None = None
        self._hb_thread: threading.Thread | None = None

    # -- owner-side ----------------------------------------------------

    def _payload(self) -> bytes:
        return json.dumps({"host": socket.gethostname(),
                           "pid": os.getpid(), "ts": time.time(),
                           "token": self.token,
                           "lease_s": self.lease_s}).encode()

    def _try_create(self) -> bool:
        return self.fs.create_exclusive(self.path, self._payload())

    def _refresh(self) -> None:
        """Re-stamp the lease ts.  Verify-then-replace: if the on-disk
        token is no longer ours the lock was stolen — mark lost and
        NEVER write over the new owner's file."""
        cur = self._read(self.path)
        if cur is None or cur.get("token") != self.token:
            self._lost = True
            return
        tmp = f"{self.path}.hb.{self.token[:8]}"
        self.fs.unlink(tmp)  # stale staging from an interrupted refresh
        if not self.fs.create_exclusive(tmp, self._payload()):
            return  # try again next beat
        # µs verify-to-rename window: a stealer can only enter it if
        # our lease ALREADY expired (heartbeat starvation), and the
        # next heartbeat sees the foreign token and marks lost
        if not self.fs.rename(tmp, self.path):
            self.fs.unlink(tmp)

    def _heartbeat(self, stop: threading.Event) -> None:
        while not stop.wait(self.lease_s / 3.0):
            self._refresh()
            if self._lost:
                return

    def still_held(self) -> bool:
        """True while this process provably owns the lock (heartbeat
        has not observed a foreign token)."""
        return self._held and not self._lost

    def assert_held(self) -> None:
        if not self._held:
            raise LockLost(f"index lock {self.path!r} is not held")
        cur = self._read(self.path)
        if self._lost or cur is None or cur.get("token") != self.token:
            self._lost = True
            raise LockLost(
                f"index lock {self.path!r} was reclaimed by another "
                f"process (lease expired?) — aborting before commit")

    # -- waiter-side ---------------------------------------------------

    def _read(self, path: str) -> dict | None:
        raw = self.fs.read(path)
        if raw is None:
            return None
        try:
            return json.loads(raw)
        except ValueError:
            return None

    def _expired(self, cur: dict) -> bool:
        """Reclaimable: expired lease (any host) or dead same-host pid
        (fast path — death on this host is observable, don't wait out
        the lease)."""
        pid = cur.get("pid")
        host = cur.get("host")
        ts = cur.get("ts")
        lease = cur.get("lease_s", self.lease_s)
        if host == socket.gethostname() and isinstance(pid, int) \
                and not _pid_alive(pid):
            return True
        if not isinstance(ts, (int, float)) \
                or not isinstance(lease, (int, float)):
            return True  # malformed lock: treat as abandoned
        return time.time() > ts + lease

    def _steal_if_expired(self) -> None:
        cur = self._read(self.path)
        if cur is None:
            return  # vanished or torn mid-write: just retry the create
        if not self._expired(cur):
            return  # validly held: wait
        aside = f"{self.path}.stale.{uuid.uuid4().hex[:8]}"
        if not self.fs.rename(self.path, aside):
            return  # someone else stole (or owner released): retry
        moved = self._read(aside)
        if moved is not None and moved.get("token") != cur.get("token"):
            # a NEW owner re-created the lock between our read and the
            # rename — we moved a LIVE lock; put it back with a
            # link-claim, which FAILS if a third claimant created in
            # the window (never clobber an existing lock; the moved
            # lock's owner detects the foreign token at its next
            # heartbeat)
            self.fs.link_claim(aside, self.path)
        self.fs.unlink(aside)

    # -- context manager -----------------------------------------------

    def __enter__(self):
        deadline = time.monotonic() + self.timeout_s
        while True:
            if self._try_create():
                self._held = True
                self._lost = False
                self._hb_stop = threading.Event()
                self._hb_thread = threading.Thread(
                    target=self._heartbeat, args=(self._hb_stop,),
                    daemon=True, name="sdf-idxlock-heartbeat")
                self._hb_thread.start()
                return self
            self._steal_if_expired()
            if time.monotonic() >= deadline:
                raise LockTimeout(
                    f"index lock {self.path!r} validly held past "
                    f"{self.timeout_s}s")
            time.sleep(self.poll_s)

    def __exit__(self, exc_type, exc, tb):
        if not self._held:
            return False
        # stop + join the heartbeat BEFORE the token-check-and-unlink: a
        # _refresh in flight (token read before our unlink, rename after)
        # would re-create the lock post-release, leaving a stale lock with
        # a fresh ts that blocks the next acquirer for a full lease
        if self._hb_stop is not None:
            self._hb_stop.set()
        if self._hb_thread is not None:
            self._hb_thread.join(timeout=5.0)
        lost = self._lost
        if not lost:
            # release only OUR lock: re-check the token right before
            # the unlink (the heartbeat is stopped, so no refresh can
            # race this read-to-unlink window; a stealer can't either —
            # an unexpired lease is never reclaimed)
            cur = self._read(self.path)
            if cur is not None and cur.get("token") == self.token:
                self.fs.unlink(self.path)
            else:
                lost = True
        self._held = False
        self._hb_stop = self._hb_thread = None
        if lost and exc_type is None:
            # surface the serialization violation loudly — the cycle's
            # writes may have raced the new owner's
            raise LockLost(
                f"index lock {self.path!r} was reclaimed mid-cycle "
                f"(lease expired under a stalled owner?) — the cycle's "
                f"writes may have overlapped another maintainer's; "
                f"verify the index (txn log + probe) before trusting it")
        return False


def _txn_root(spark, name: str) -> str:
    return os.path.join(_warehouse_dir(spark), f"{name.lower()}__idxtxn")


def log_index_txn(spark, name: str, meta: dict,
                  lock: IndexLock | None = None) -> int:
    """Append one transaction record to the index's O_EXCL txn log and
    return its version.  Reuses the manifest commit machinery (write
    complete payload → atomic link claim), so records are immutable,
    contiguous, and torn-write-free.  Pass the held ``lock`` to
    re-assert ownership immediately before the claim — a stolen-from
    writer then aborts with :class:`LockLost` instead of logging a
    record for a cycle that may have raced the new owner.  The claim
    bypasses ``manifest._commit``: the log carries no data or
    registrations, and a ``CommitConflict`` here means the lock was
    lost, so it raises instead of retrying."""
    from .manifest import commit_version, latest_commit_info, new_version_dir

    if lock is not None:
        lock.assert_held()
    root = _txn_root(spark, name)
    info = latest_commit_info(root)
    version = 1 if info is None else info["version"] + 1
    ddir = new_version_dir(root, version)  # data-less marker dir
    commit_version(root, version, ddir, meta=meta)
    return version


def index_txns(spark, name: str) -> list[dict]:
    """All transaction records of an index, oldest first."""
    root = _txn_root(spark, name)
    cdir = os.path.join(root, "_commits")
    out = []
    if os.path.isdir(cdir):
        for f in sorted(os.listdir(cdir)):
            if not (f.startswith("v") and f.endswith(".json")):
                continue
            try:
                with open(os.path.join(cdir, f)) as fh:
                    out.append(json.load(fh))
            except (OSError, ValueError):
                continue
    return out
