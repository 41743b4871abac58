"""Single-writer coordination (W7): the reference's lock-row pattern.

Reference: a lock row (owner, deadline) in the state table; an instance
acquires when the row is free or expired, renews at half-TTL, and
standbys poll every 5 s (/root/reference/internal/util/ydb/ydb_locker/
locker.go:9-44, locker_thread.go:12-116, request_builder.go:51-103;
wiring cmd/aardappel/main.go:384-430; TTL = 2x heartbeat interval,
main.go:389).

Spark deployments usually don't need this — one driver per streaming
checkpoint dir is the native single-writer guarantee. This exists for
active/standby across drivers sharing storage (multiple_instances_mode,
config.go:53). The conditional-update-on-a-row shape is the same one a
Delta/JDBC implementation would use; here it is an atomic rename on the
shared filesystem.
"""

from __future__ import annotations

import json
import os
import shutil
import socket
import threading
import time
import uuid


class LockStorage:
    """Lock row storage with compare-and-set semantics.

    The read-check-write runs inside a filesystem mutex (atomic
    ``os.mkdir`` — EEXIST loses), closing the window where two standbys
    could both observe 'free' and both rename their row into place. A
    holder that dies mid-CAS leaves a stale mutex dir; it is stolen after
    ``mutex_ttl`` seconds (the critical section is microseconds long, so
    a multi-second TTL is safely conservative)."""

    def __init__(self, path: str, mutex_ttl: float = 10.0):
        self.path = path
        self.mutex_ttl = mutex_ttl
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def read(self) -> dict | None:
        try:
            with open(self.path) as f:
                return json.loads(f.read())
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _mutex(self) -> str:
        return self.path + ".mutex"

    def _enter(self) -> bool:
        try:
            os.mkdir(self._mutex())
            return True
        except FileExistsError:
            try:
                stale = time.time() - os.stat(self._mutex()).st_mtime > self.mutex_ttl
            except FileNotFoundError:
                return False  # holder just released; contend on next poll
            if not stale:
                return False
            # Single-winner steal WITHOUT removing the mutex: stealers race
            # an atomic inner mkdir inside the stale dir. The mutex path
            # never goes absent mid-steal, so a bare-mkdir contender can't
            # slip in as a second winner, and a steal loser can't clobber
            # the winner's mutex (the rmdir/rename-based steals both had
            # that window — N racing contenders produced multiple winners).
            try:
                os.mkdir(os.path.join(self._mutex(), ".steal"))
            except OSError:
                return False  # lost the steal race (or mutex was released)
            try:
                # refresh ownership so non-stealers see a live mutex again
                os.utime(self._mutex())
            except OSError:
                pass
            return True

    def _exit(self) -> None:
        # the mutex may contain a .steal marker from a takeover
        shutil.rmtree(self._mutex(), ignore_errors=True)

    def try_write(self, expected_owner: str | None, row: dict) -> bool:
        """CAS: write ``row`` only if the current owner is ``expected_owner``
        (None = row free/expired). The owner check mirrors the reference's
        transactional UPDATE ... WHERE lock_owner = $owner
        (request_builder.go:51-103); the mutex makes check+write atomic."""
        if not self._enter():
            return False
        try:
            cur = self.read()
            cur_owner = cur.get("lock_owner") if cur else None
            expired = cur is not None and cur.get("lock_deadline", 0) < time.time()
            if cur_owner != expected_owner and not (expected_owner is None and expired):
                return False
            tmp = f"{self.path}.{uuid.uuid4().hex}.tmp"
            with open(tmp, "w") as f:
                f.write(json.dumps(row))
            os.replace(tmp, self.path)
            return True
        finally:
            self._exit()


class Locker:
    """Acquire/renew/release a named lock with TTL.

    Owner id format mirrors the reference: ``lock_<host>_<uuid>``
    (main.go:384-385). TTL should be 2x the heartbeat interval.
    """

    def __init__(self, storage: LockStorage, ttl_seconds: float):
        self.storage = storage
        self.ttl = ttl_seconds
        self.owner = f"lock_{socket.gethostname()}_{uuid.uuid4().hex}"

    def _row(self) -> dict:
        return {
            "lock_owner": self.owner,
            "lock_deadline": time.time() + self.ttl,
        }

    def try_acquire(self) -> bool:
        cur = self.storage.read()
        if cur is None:
            return self.storage.try_write(None, self._row())
        if cur.get("lock_owner") == self.owner:
            return True
        if cur.get("lock_deadline", 0) < time.time():
            return self.storage.try_write(None, self._row())
        return False

    def renew(self) -> bool:
        """Half-TTL renewal (locker_thread.go renews before expiry); fails
        if the lock was stolen."""
        cur = self.storage.read()
        if not cur or cur.get("lock_owner") != self.owner:
            return False
        return self.storage.try_write(self.owner, self._row())

    def release(self) -> bool:
        cur = self.storage.read()
        if not cur or cur.get("lock_owner") != self.owner:
            return False
        return self.storage.try_write(
            self.owner, {"lock_owner": "", "lock_deadline": 0}
        )

    def start_renewal(self) -> "LockRenewer":
        """Start the half-TTL renewal thread (locker_thread.go:12-116
        renews before expiry for exactly this reason): without renewal
        any holder running longer than one TTL silently loses the lock
        to a standby and the 'single-writer' guarantee becomes two
        concurrent writers (r11 ADVICE). If a renew fails the renewer's
        ``lost`` flips True; the holder polls it and must stop writing
        (e.g. stop its streaming query)."""
        renewer = LockRenewer(self)
        renewer.start()
        return renewer

    def wait_acquire(self, check_interval: float = 5.0, timeout: float | None = None) -> bool:
        """Standby loop: poll until acquired (5 s default interval,
        defaultLockCheckInterval main.go:38)."""
        deadline = None if timeout is None else time.time() + timeout
        while True:
            if self.try_acquire():
                return True
            if deadline is not None and time.time() >= deadline:
                return False
            time.sleep(check_interval)


class LockRenewer:
    """Daemon thread renewing a held Locker at half-TTL.

    Mirrors the reference's locker thread: renew strictly before the
    deadline so a live holder never expires (locker_thread.go:12-116);
    a failed renew means the lock was stolen (or storage broke) — the
    thread flips ``lost`` True for pollers to check and exits.
    ``stop()`` is idempotent and joins the thread."""

    def __init__(self, locker: Locker):
        self.locker = locker
        self.lost = False
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._run, name="aardappel-lock-renewer", daemon=True
        )

    def start(self) -> None:
        self._thread.start()

    def _run(self) -> None:
        interval = self.locker.ttl / 2.0
        while not self._stop.wait(interval):
            ok = False
            try:
                ok = self.locker.renew()
            except OSError:
                ok = False  # storage hiccup = can't prove ownership
            if not ok and not self._stop.is_set():
                self.lost = True
                return

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=self.locker.ttl)
