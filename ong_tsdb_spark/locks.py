"""Cross-process write serialization for sensors (ROADMAP #2).

The engine's read-merge-overwrite upsert (engine.py ``_upsert``) is
safe across *threads* via the per-sensor ``threading.Lock`` (reference
parity: ``_get_sensor_lock``, database.py:154-168), but two separate
driver *processes* each hold their own lock registry — their
merge/overwrite cycles could interleave and lose updates.

``SensorFileLock`` is the filesystem protocol, written once over the
adapters of :mod:`ong_tsdb_spark.object_store` (``LocalFs`` for plain
paths, ``HadoopFs`` for ``hdfs://``, ``s3a://``, ``file:/`` ...):

* an exclusive lockfile (``create_exclusive``: ``O_CREAT|O_EXCL``
  locally, ``create(overwrite=False)`` on Hadoop FS) in the sensor
  directory.  The HOLDER heartbeats the lockfile (``touch`` every
  ``stale_after/4`` seconds) so a live lock never looks stale no
  matter how long the Spark write takes; waiters break a lock only
  after observing the *identical* payload+mtime stale on two
  consecutive polls, so a heartbeating holder (mtime advances) or a
  freshly re-created lock (new payload) is never deleted.  Acquisition
  polls at the adapter's ``lock_poll`` interval up to ``timeout``.
* the sensor's write version (``_version``, read and bumped by
  :class:`~ong_tsdb_spark.catalog.Catalog`) is replaced atomically
  after every committed write while the lock is held — a monotonic
  change cursor so other processes/readers can cheaply detect that
  their cached view is stale.

Caveat (documented, inherent to delete-based breaking): these
filesystems have no compare-and-delete, so between a waiter's final
payload check and its delete the holder could release and a third
process acquire — the waiter would then delete the third process's
fresh lock.  The two-observation protocol shrinks that window to
microseconds and the heartbeat means it only opens at all after a
writer has been silent for ``stale_after`` (default 30 min, far beyond
any sane Spark write); stale-breaking therefore implies a *potential*
dual-writer window and ``stale_after`` should stay well above
worst-case write time.  On S3A exclusive create is itself best-effort
(see :mod:`ong_tsdb_spark.object_store`).
"""

from __future__ import annotations

import logging
import os
import posixpath
import threading
import time

from .object_store import LocalFs

_LOG = logging.getLogger(__name__)


class SensorLockTimeout(TimeoutError):
    pass


LOCK_NAME = "_writer.lock"
VERSION_NAME = "_version"

#: default stale horizon — 30 min.  Deliberately much longer than any
#: plausible single Spark write; with the holder heartbeat the horizon
#: only matters for genuinely crashed writers.
DEFAULT_STALE_AFTER = 1800.0


class SensorFileLock:
    """Exclusive cross-process lock on a sensor directory.

    Reentrant within a single engine call chain is NOT needed (the
    engine acquires it exactly once per write, inside the thread
    lock), so this stays a plain non-reentrant file lock."""

    def __init__(
        self,
        sensor_dir: str,
        timeout: float = 60.0,
        stale_after: float = DEFAULT_STALE_AFTER,
        fs=None,
    ):
        self.fs = LocalFs() if fs is None else fs
        self.path = posixpath.join(sensor_dir, LOCK_NAME)
        self.timeout = timeout
        self.stale_after = stale_after
        self.heartbeat_every = max(stale_after / 4.0, 0.05)
        self._hb_stop: threading.Event | None = None
        self._hb_thread: threading.Thread | None = None
        self._payload: bytes | None = None  # written once at acquire
        # last (payload, mtime) a waiter saw stale; break only on a
        # second sighting of the exact same state
        self._observed: tuple[bytes, float] | None = None

    def acquire(self) -> None:
        deadline = time.monotonic() + self.timeout
        payload = f"{os.getpid()} {time.time()} {id(self)}\n".encode()
        while not self.fs.create_exclusive(self.path, payload):
            self._maybe_break_stale()
            if time.monotonic() >= deadline:
                raise SensorLockTimeout(
                    f"could not acquire sensor write lock {self.path} "
                    f"within {self.timeout}s"
                )
            time.sleep(self.fs.lock_poll)
        self._payload = payload
        self._start_heartbeat()

    # -- holder heartbeat --------------------------------------------
    def _start_heartbeat(self) -> None:
        stop = threading.Event()

        def beat() -> None:
            while not stop.wait(self.heartbeat_every):
                try:
                    # ownership check: after a stale break the path may
                    # hold a NEW holder's lock — touching it would keep
                    # someone else's (possibly crashed) lock looking
                    # live forever (code-review r9)
                    if self.fs.read_bytes(self.path) != self._payload:
                        return  # not ours anymore — stand down
                    self.fs.touch(self.path, self._payload)  # keep mtime fresh
                except OSError:
                    return  # released (or broken) — nothing to keep alive

        t = threading.Thread(target=beat, name="sensor-lock-heartbeat", daemon=True)
        t.start()
        self._hb_stop, self._hb_thread = stop, t

    # -- waiter-side stale breaking ----------------------------------
    def _lock_state(self) -> tuple[bytes, float] | None:
        try:
            mtime = self.fs.mtime(self.path)
            return self.fs.read_bytes(self.path), mtime
        except OSError:
            return None  # released between our failed create and here

    def _maybe_break_stale(self) -> None:
        state = self._lock_state()
        if state is None or time.time() - state[1] <= self.stale_after:
            self._observed = None  # live (or gone): forget any sighting
            return
        if self._observed == state:
            # Same payload AND same mtime as our previous poll, still
            # past the stale horizon: the holder is not heartbeating
            # and nobody re-created the file — treat as crashed.
            try:
                self.fs.delete(self.path, recursive=False)
            except OSError:
                pass
            self._observed = None
        else:
            self._observed = state  # first sighting: remember, re-check

    def release(self) -> None:
        if self._hb_stop is not None:
            self._hb_stop.set()
            self._hb_thread.join(timeout=2.0)
            self._hb_stop = self._hb_thread = None
        try:
            # delete ONLY our own lockfile: if this holder stalled past
            # the stale horizon (VM pause/SIGSTOP), a waiter has broken
            # the lock and acquired its own — unconditionally deleting
            # here would remove the NEW holder's lock and let a third
            # writer in alongside it (code-review r9).  The payload is
            # written once at acquire and never changes (the heartbeat
            # only refreshes mtime), so it identifies the owner.
            if self.fs.read_bytes(self.path) != self._payload:
                return  # someone else's lock now — leave it alone
        except FileNotFoundError:
            return  # already gone — nothing to release
        except OSError as ex:
            # An unreadable lockfile (EACCES, transient FS error) is
            # indistinguishable from "not ours" — do NOT delete on a
            # guess, and do NOT raise out of release()/__exit__ where
            # it would mask the with-block's real exception (ADVICE
            # r9).  The stale horizon reclaims the file if it was ours.
            # logging, not a warning: under -W error / filterwarnings=
            # error the emission itself would become the raise this
            # branch exists to prevent (code-review r10).
            _LOG.warning("lock release: could not read %s: %s", self.path, ex)
            return
        try:
            self.fs.delete(self.path, recursive=False)
        except OSError as ex:
            _LOG.warning("lock release: could not delete %s: %s", self.path, ex)

    def __enter__(self) -> "SensorFileLock":
        self.acquire()
        return self

    def __exit__(self, *exc) -> None:
        self.release()
