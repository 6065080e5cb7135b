"""Pluggable compare-and-swap seam for the snapshot catalog's
optimistic-concurrency commits.

Iceberg's commit model needs exactly ONE primitive from the catalog
backend: an atomic conditional update of the head pointer ("publish
snapshot s iff the head is still h"). Everything else — staging data
files, serializable validation, manifest assembly, retry — is
backend-independent and lives in `SnapshotCatalog.commit_optimistic`.
This module isolates that primitive behind `CompareAndSwap.try_publish`
so swapping the offline shim for a real catalog (Iceberg REST, Glue,
Nessie, a DynamoDB/JDBC lock table) touches no engine code: implement
one class, pass it to `SnapshotCatalog(root, cas=...)`.

Implementations:

- `FlockCAS` (default): an exclusive `flock` on ``<root>/commit.lock``
  serializes head-check + publish. Correct for any number of PROCESSES
  sharing one local POSIX filesystem (flock is kernel-level advisory
  locking on the open file description — `tests/prop/
  test_occ_multiprocess.py` races real subprocess writers through it);
  NOT a cross-machine primitive (NFS flock semantics vary, object
  stores have no flock at all). This is the single-cluster-filesystem
  regime the sandbox can actually exercise.
- `SqliteCAS`: serializes check + publish inside a SQLite
  ``BEGIN IMMEDIATE`` write transaction on ``<root>/cas.sqlite`` —
  SQLite's own cross-process locking (fcntl record locks + journal,
  NOT flock) is the mutual-exclusion mechanism, which is exactly the
  shape of a JDBC/lock-table catalog backend. Round 5 added this as
  the second WORKING implementation: the conformance suite and the
  multiprocess OCC race run against both, proving the seam is
  pluggable rather than asserting it.
- `LockFileCAS`: O_CREAT|O_EXCL sentinel-file mutual exclusion with a
  TTL-based stale-lock janitor — the classic object-store-adjacent
  pattern (atomic create-if-absent), third working backend. Honest
  tradeoff vs flock: a crash between create and unlink leaks the
  sentinel until the TTL breaks it (flock auto-releases on process
  death); the janitor bounds that window.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from pathlib import Path


class CompareAndSwap:
    """Backend contract: one atomic conditional publish.

    A networked catalog (Iceberg REST) implements it without a local
    lock: ``attempt``'s local side effects (staged data renamed, the
    manifest written) happen first, as in the shim; the head swing is
    the server's conditional commit, `POST /v1/{prefix}/namespaces/{ns}/
    tables/{table}` with an ``assert-ref-snapshot-id == expected_head``
    requirement; HTTP 409 maps to ``False``, so the engine's retry loop
    revalidates and reassembles, like Spark's Iceberg writer."""

    def try_publish(
        self, expected_head: int | None, attempt: Callable[[], None]
    ) -> bool:
        """Atomically: if the catalog head is still ``expected_head``,
        run ``attempt`` (which must durably publish the new snapshot —
        rename staged files, write manifest, swing head) and return
        True. If the head moved, return False WITHOUT running
        ``attempt`` — the caller revalidates against the new head and
        retries with freshly assembled metadata. ``attempt`` raising
        propagates (the backend must then leave the head untouched)."""
        raise NotImplementedError


class FlockCAS(CompareAndSwap):
    """Conditional update via an exclusive lock file on the catalog's
    filesystem — the offline shim's backend. ``head_fn`` re-reads the
    head pointer INSIDE the critical section; the lock spans check +
    publish, so two process-concurrent writers serialize and exactly
    one sees its expected head."""

    def __init__(self, lock_path: str | Path, head_fn: Callable[[], int | None]):
        self.lock_path = Path(lock_path)
        self.head_fn = head_fn

    def try_publish(
        self, expected_head: int | None, attempt: Callable[[], None]
    ) -> bool:
        import fcntl

        with open(self.lock_path, "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            try:
                if self.head_fn() != expected_head:
                    return False
                attempt()
                return True
            finally:
                fcntl.flock(lf, fcntl.LOCK_UN)


class SqliteCAS(CompareAndSwap):
    """Conditional update serialized by a SQLite write transaction —
    the lock-table catalog pattern (JDBC/DynamoDB-style) in its
    smallest offline form. ``BEGIN IMMEDIATE`` takes the database's
    RESERVED lock, which SQLite enforces across PROCESSES with its own
    fcntl record locks + rollback journal (no flock anywhere); the
    transaction spans head-check + publish, so concurrent writers
    serialize and exactly one sees its expected head. The head pointer
    itself stays wherever ``head_fn`` reads it (the catalog's HEAD
    file) — the database holds no state beyond the lock, mirroring how
    a lock-table backend guards an object-store metadata pointer."""

    def __init__(self, db_path: str | Path, head_fn: Callable[[], int | None]):
        self.db_path = Path(db_path)
        self.head_fn = head_fn

    def try_publish(
        self, expected_head: int | None, attempt: Callable[[], None]
    ) -> bool:
        import sqlite3

        con = sqlite3.connect(
            str(self.db_path), timeout=120.0, isolation_level=None
        )
        try:
            con.execute("PRAGMA busy_timeout=120000")
            con.execute("BEGIN IMMEDIATE")  # cross-process writer lock
            try:
                if self.head_fn() != expected_head:
                    return False
                attempt()
                return True
            finally:
                con.execute("ROLLBACK")  # lock only — nothing to keep
        finally:
            con.close()


class LockFileCAS(CompareAndSwap):
    """Conditional update guarded by an O_CREAT|O_EXCL sentinel file —
    atomic create-if-absent, the primitive object stores offer as
    conditional PUT. A crashed holder leaks the sentinel; the janitor
    breaks locks older than ``stale_after`` seconds (two janitors
    racing the same dead lock is harmless: unlink of an already-gone
    path is ignored, and the O_EXCL create still admits exactly one)."""

    def __init__(
        self,
        lock_path: str | Path,
        head_fn: Callable[[], int | None],
        timeout: float = 120.0,
        stale_after: float = 300.0,
    ):
        self.lock_path = Path(lock_path)
        self.head_fn = head_fn
        self.timeout = timeout
        self.stale_after = stale_after

    def _acquire(self) -> int:
        deadline = time.monotonic() + self.timeout
        delay = 0.002
        while True:
            try:
                return os.open(
                    self.lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
            except FileExistsError:
                try:
                    age = time.time() - self.lock_path.stat().st_mtime
                    if age > self.stale_after:
                        self.lock_path.unlink(missing_ok=True)
                        continue
                except FileNotFoundError:
                    continue  # holder released between open and stat
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"CAS lock {self.lock_path} held past "
                        f"{self.timeout}s"
                    )
                time.sleep(delay)
                delay = min(delay * 2, 0.05)

    def try_publish(
        self, expected_head: int | None, attempt: Callable[[], None]
    ) -> bool:
        fd = self._acquire()
        try:
            os.write(fd, str(os.getpid()).encode())
            os.close(fd)
            if self.head_fn() != expected_head:
                return False
            attempt()
            return True
        finally:
            self.lock_path.unlink(missing_ok=True)


#: backend name -> constructor(root, head_fn); the string form
#: `SnapshotCatalog(root, cas="sqlite")` resolves here
BACKENDS: dict[str, Callable[[Path, Callable[[], int | None]], CompareAndSwap]] = {
    "flock": lambda root, head: FlockCAS(root / "commit.lock", head),
    "sqlite": lambda root, head: SqliteCAS(root / "cas.sqlite", head),
    "lockfile": lambda root, head: LockFileCAS(root / "commit.sentinel", head),
}


def make_cas(backend: str, root: Path, head_fn: Callable[[], int | None]) -> CompareAndSwap:
    if backend not in BACKENDS:
        raise ValueError(
            f"unknown CAS backend {backend!r} (have {sorted(BACKENDS)})"
        )
    return BACKENDS[backend](root, head_fn)
