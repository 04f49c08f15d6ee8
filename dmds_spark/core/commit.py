"""The commit protocol of every pointer-flipped directory, defined once.

The World and the five maintained stores (MinHash dedup, IVF, postings,
survivorship, rollup) commit the same way, the reference's single
storage seam (``IoHandle``, tokio-fs/src/lib.rs:85-107) read as a
protocol rather than a byte stream:

- ``WriterLock`` is the cross-process single-writer token of a
  directory, and ``store_writer`` the context every store mutation runs
  in;
- data goes to NEW immutable directories first; ``atomic_flip`` then
  publishes the JSON state that names them (temp file, fsync,
  ``os.replace``), and a writer whose token changed meanwhile is fenced
  before it (``WriterLock.verify_token``). A crash before the flip
  leaves the old state served and the new dirs unread;
- ``PointerStore`` is the lifecycle of a store over that protocol: the
  ``_current.json`` pointer, the fenced flip and a vacuum that deletes
  every directory the committed state does not reference. A store
  declares only its empty state and what a state references.

The World keeps its own partition-level ``vacuum_snapshots``: its
manifest maps partition dirs inside version dirs, not whole dirs.
"""

from __future__ import annotations

import json
import os
import shutil
import socket
import threading
import time
import uuid
from contextlib import contextmanager

from dmds_spark.core.errors import WorldFencedError, WorldLockedError


class WriterLock:
    """Cross-process single-writer token for a world directory: a
    ``_writer.lock`` file created with O_CREAT|O_EXCL (atomic on POSIX
    and on HDFS-compatible stores' create-exclusive), holding the
    writer's pid/host/session token. The lock file lives in a SIBLING
    directory (``<path>.lockd/``), never inside the Spark-owned data
    directory: a static-mode ``INSERT OVERWRITE`` deletes the whole
    target directory before writing, and round 14 proved a lock stored
    inside it gets wiped by an in-place first flush under a
    default-config session, fencing the writer against its own write.
    Mutual-exclusion state must not
    share a directory with data any engine rewrite can clobber. The in-process ``threading.Lock``
    serializes flush-vs-writer within one session (the reference's
    ``lock_w``, src/world.rs:58, guards a single process the same
    way); THIS lock extends the single-writer discipline across
    processes sharing the filesystem, which chunk-granularity rewrites
    require (two writers flushing from different base snapshots would
    silently drop each other's rows).

    Process-wide interning (``WriterLock.for_dir``): every ``World``
    on the same realpath shares ONE instance — one flush ``mutex``
    (so two same-process writers on the same directory really are
    mutually excluded, not just holding separate ``threading.Lock``s)
    and one refcounted file token (first acquire creates the file,
    last release removes it).

    Failure modes, documented:
    - A crashed writer leaves a stale lock. Same-host staleness is
      detected (recorded pid no longer alive) and the lock is broken
      automatically on the next acquire. Concurrent breakers are
      serialized on a flock'd sidecar (``_writer.lock.break``) that
      the kernel releases on process death, and the break itself is a
      rename-to-unique-name + content re-verify — so a NEW holder's
      lock that appears between a waiter's staleness read and its
      break is never discarded (the classic unlink-break TOCTOU).
    - CROSS-HOST staleness is handled by lease: a holder that opts in
      (``heartbeat(lease_sec)`` — ``FlushDaemon`` does this every
      interval) records ``heartbeat_at``/``lease_sec`` in the lock
      file, and any waiter may reclaim a lock whose lease has expired,
      through the same sidecar-serialized, re-verified break path. A
      holder that never heartbeats (no daemon) writes no lease and is
      NEVER auto-reclaimed cross-host — break it explicitly with
      ``World.break_lock(path)`` after confirming the writer is dead.
      Lease clocks are wall clocks on different hosts: pick lease_sec
      >> heartbeat interval + worst-case clock skew (the daemon's
      default is 10 intervals, floor 60 s).
    - The lock is ADVISORY: it fences cooperating ``World`` writers
      only. A rogue process writing parquet into the directory without
      going through ``World`` is not stopped (plain parquet layouts
      have no server to enforce leases; same trust model as the
      reference's in-process lock).
    - Fencing token at commit points: ``verify_token()`` re-reads the
      lock file immediately before every publish — the manifest flip
      of every ``World.flush`` and ``compact``, and the store pointer
      flips — and raises ``WorldFencedError`` if the token changed: a
      live writer whose lock was broken (manually or by lease reclaim)
      aborts BEFORE clobbering the new holder's state. A World writes
      ``_v{N}`` (N = current version + 1) with a static overwrite that
      clears it first, so the token is also checked right before that
      write. The residual window: a break that lands between that
      check and the clear of ``_v{N}`` while the new holder commits
      v{N} (its files would be lost). One verified manifest flip
      publishes a whole commit."""

    FILENAME = "_writer.lock"
    LOCK_DIR_SUFFIX = ".lockd"

    _BY_DIR: dict[str, "WriterLock"] = {}
    _BY_DIR_GUARD = threading.Lock()

    @classmethod
    def lock_path(cls, dir_path: str) -> str:
        """Filesystem path of the lock file guarding ``dir_path`` — in
        the sibling ``<dir>.lockd/`` directory, OUTSIDE the data dir
        (see class docstring for why it must not live inside)."""
        return os.path.join(
            dir_path.rstrip("/") + cls.LOCK_DIR_SUFFIX, cls.FILENAME
        )

    @classmethod
    def for_dir(cls, dir_path: str) -> "WriterLock":
        """The process-wide interned lock for a directory. ``World``
        always goes through here, so N same-process Worlds on one path
        share one flush mutex and one refcounted token — the shared
        mutual exclusion a per-instance ``threading.Lock`` could not
        give them."""
        key = os.path.realpath(dir_path)
        with cls._BY_DIR_GUARD:
            lk = cls._BY_DIR.get(key)
            if lk is None:
                lk = cls(dir_path)
                cls._BY_DIR[key] = lk
            return lk

    def __init__(self, dir_path: str):
        self.dir_path = dir_path
        self.path = self.lock_path(dir_path)
        self.token = uuid.uuid4().hex
        # flush-vs-writer serialization, shared across all Worlds on
        # this path via for_dir (the reference's lock_w, src/world.rs:58)
        self.mutex = threading.Lock()
        self._mu = threading.Lock()  # guards _refs + lock-file ops
        self._refs = 0
        # monotone on-disk-state version, bumped by every flush /
        # compact through ANY World on this path (interned, so all
        # same-process instances see it): the invalidation key for
        # each World's cached base relation (see World._base)
        self.data_version = 0

    def _holder(self) -> dict | None:
        try:
            with open(self.path) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return None  # vanished or torn write: treat as contended

    @staticmethod
    def _alive_same_host(holder: dict | None) -> bool | None:
        """True/False when the holder's liveness is decidable (same
        host), None when it is not (other host or unreadable)."""
        if not holder or holder.get("host") != socket.gethostname():
            return None
        try:
            os.kill(int(holder["pid"]), 0)
            return True
        except ProcessLookupError:
            return False
        except PermissionError:
            return True  # exists, owned by another user
        except (OSError, ValueError):
            return None

    @staticmethod
    def _lease_expired(holder: dict | None) -> bool:
        """True iff the holder OPTED INTO leasing (wrote both
        ``heartbeat_at`` and ``lease_sec``) and the lease has lapsed.
        A lease-less lock never expires — only holders that promise
        heartbeats can be reclaimed on missed heartbeats."""
        if not holder:
            return False
        try:
            hb = float(holder["heartbeat_at"])
            lease = float(holder["lease_sec"])
        except (KeyError, TypeError, ValueError):
            return False
        return time.time() - hb > lease

    def _is_stale(self, holder: dict | None) -> bool:
        """A lock is stale when its holder is PROVABLY gone: same-host
        pid dead (exact), or cross-host/undecidable with an expired
        lease. A live same-host pid is never stale, even with a lapsed
        lease — the pid probe is strictly better evidence."""
        alive = self._alive_same_host(holder)
        if alive is not None:
            return not alive
        return self._lease_expired(holder)

    def acquire(self) -> None:
        """Take (or refcount into) the writer token. Each caller must
        pair its acquire with exactly one release; ``World`` tracks its
        own ref so per-op calls stay O(1) with no lock-file re-parse."""
        with self._mu:
            if self._refs > 0:
                self._refs += 1
                return
            self._acquire_file()
            self._refs = 1

    def _acquire_file(self) -> None:
        os.makedirs(self.dir_path, exist_ok=True)
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        now = time.time()
        payload = json.dumps(
            {
                "pid": os.getpid(),
                "host": socket.gethostname(),
                "token": self.token,
                "acquired_at": now,
                # lease fields land with the first heartbeat(); until
                # then heartbeat_at alone (no lease_sec) never expires
                "heartbeat_at": now,
            }
        ).encode()
        for _ in range(5):  # stale breaks + create races, bounded
            try:
                fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                try:
                    os.write(fd, payload)
                finally:
                    os.close(fd)
                return
            except FileExistsError:
                holder = self._holder()
                if holder is None:
                    continue  # vanished or torn mid-read: retry create
                if self._is_stale(holder):
                    # same-host dead pid, or cross-host expired lease:
                    # stale. Break under the flock'd sidecar; retry the
                    # create either way (False = another breaker is on
                    # it — its finish frees the path for the next
                    # iteration).
                    self._break_stale(holder)
                    continue
                # live, undecidable, or OUR OWN pid outside this
                # interned instance (a second direct WriterLock on the
                # same dir — a programming error; Worlds share via
                # for_dir): refuse rather than adopt, adoption gave two
                # writers no shared mutual exclusion.
                raise WorldLockedError(self.dir_path, holder)
        raise WorldLockedError(self.dir_path, self._holder() or {})

    def _break_stale(self, holder: dict) -> bool:
        """Remove the lock file ONLY if it still belongs to ``holder``
        and is still stale under the sidecar mutex (same-host pid
        verified dead, or cross-host lease verified expired — a
        heartbeat that lands before the re-read rescues the holder).
        Breakers serialize on a flock'd sidecar — flock is
        kernel-released on process death, so the break mutex itself
        cannot go stale — and the removal is rename-to-unique +
        re-verify, never a blind unlink: a new holder's lock that
        raced in is renamed back, not discarded."""
        try:
            import fcntl
        except ImportError:  # non-POSIX: no safe auto-break
            return False
        fd = os.open(self.path + ".break", os.O_CREAT | os.O_RDWR, 0o644)
        try:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                return False  # another breaker mid-break
            cur = self._holder()
            if cur is None:
                return True  # already broken
            if cur.get("token") != holder.get("token"):
                return False  # a new holder took over — contended
            if not self._is_stale(cur):
                return False  # revived / heartbeated under the mutex
            moved = f"{self.path}.broken.{self.token}"
            try:
                os.rename(self.path, moved)
            except FileNotFoundError:
                return True
            try:
                with open(moved) as fh:
                    content = json.load(fh)
            except (OSError, ValueError):
                content = None
            if content is not None and content.get("token") != cur.get(
                "token"
            ):
                # unreachable while every breaker honors the sidecar
                # mutex; restore rather than discard a live token
                os.rename(moved, self.path)
                return False
            os.unlink(moved)
            return True
        finally:
            os.close(fd)  # releases the flock

    def heartbeat(self, lease_sec: float) -> bool:
        """Refresh this holder's lease: rewrite the lock file with a
        fresh ``heartbeat_at`` and the promised ``lease_sec`` (atomic
        temp + rename; readers see old or new, never torn). Writing the
        lease is the holder's OPT-IN to cross-host reclaim — miss
        heartbeats for longer than lease_sec and any waiter may break
        the lock, so call this from a live loop (``FlushDaemon`` does),
        never from ad-hoc code. Returns False without writing when we
        do not hold the lock (released, broken, or reclaimed) — the
        caller's next commit will be fenced by ``verify_token``.

        The read-verify-replace runs UNDER the same flock'd breaker
        sidecar the stale-break path uses: otherwise a zombie holder's
        delayed heartbeat (read before a reclaim, replace after) would
        clobber the NEW holder's lock file and invert the fencing
        guarantee — the new holder gets fenced, the zombie commits.
        Under the sidecar, either the heartbeat lands first (the
        breaker's re-check then sees a fresh lease and aborts) or the
        reclaim lands first (the heartbeat's re-read sees the new
        token and returns False). Without flock (non-POSIX) heartbeats
        refuse rather than race — leases then simply never refresh,
        degrading to the explicit break_lock story."""
        with self._mu:
            if self._refs == 0:
                return False
            try:
                import fcntl
            except ImportError:
                return False  # no safe CAS: do not lease on this OS
            fd = os.open(self.path + ".break", os.O_CREAT | os.O_RDWR,
                         0o644)
            try:
                fcntl.flock(fd, fcntl.LOCK_EX)  # blocking: breaks are
                #                                 short (rename+verify)
                holder = self._holder()
                if not holder or holder.get("token") != self.token:
                    return False  # broken/reclaimed: do not resurrect
                payload = {
                    **holder,
                    "heartbeat_at": time.time(),
                    "lease_sec": float(lease_sec),
                }
                tmp = f"{self.path}.hb.{self.token}"
                with open(tmp, "w") as fh:
                    json.dump(payload, fh)
                os.replace(tmp, self.path)
                return True
            finally:
                os.close(fd)  # releases the flock

    def verify_token(self) -> None:
        """Fencing check for commit points: re-read the lock file and
        raise ``WorldFencedError`` unless it still carries OUR token.
        Called immediately before every manifest/pointer flip and
        before a World clears its next version dir, so a writer whose
        lock was broken or lease-reclaimed mid-write aborts instead of
        clobbering the new holder's state."""
        holder = self._holder()
        if self._refs == 0 or not holder or holder.get("token") != self.token:
            raise WorldFencedError(self.dir_path, holder or {})

    def release(self) -> None:
        with self._mu:
            if self._refs == 0:
                return
            self._refs -= 1
            if self._refs > 0:
                return
            holder = self._holder()
            # only remove our own token (a broken-then-reacquired lock
            # belongs to someone else now)
            if holder and holder.get("token") == self.token:
                try:
                    os.unlink(self.path)
                except FileNotFoundError:
                    pass
            # best-effort sibling-dir cleanup: rmdir succeeds only when
            # empty. The ``.break`` sidecar is deliberately NOT
            # unlinked — a concurrent breaker may hold its flock, and
            # replacing a flocked inode would give two breakers two
            # different sidecars (no serialization). A store that ever
            # heartbeated or broke a stale lock therefore keeps its
            # ``<dir>.lockd/`` with that one file — bounded, documented
            # litter; callers deleting a store should rmtree the
            # sibling too.
            try:
                os.rmdir(os.path.dirname(self.path))
            except OSError:
                pass


def atomic_flip(pointer: str, state: dict) -> None:
    """Crash-safe pointer write: serialize to a temp file in the same
    directory, fsync, then ``os.replace`` onto the pointer. A crash or
    ENOSPC mid-write leaves either the old pointer or the new one,
    never a torn/empty file that would make every committed version
    unreachable (the in-place truncate+write it replaces had exactly
    that failure mode). A crash before the replace leaves the temp
    file (``<pointer>.tmp.<pid>.<hex>``); ``PointerStore.vacuum``
    removes a store's."""
    tmp = f"{pointer}.tmp.{os.getpid()}.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(state, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, pointer)


@contextmanager
def store_writer(store_dir: str):
    """Single-writer fence for a pointer-flipped store directory — the
    same cross-process ``WriterLock`` that fences ``World``. Every
    read-state → write-increment → flip sequence of the incremental
    stores runs inside this: without it two concurrent writers both
    read the pointer, mint the same next version number, and overwrite
    each other's increment. Readers are never blocked (they resolve the
    committed pointer)."""
    lk = WriterLock.for_dir(store_dir)
    lk.acquire()
    try:
        with lk.mutex:
            yield
    finally:
        lk.release()


class PointerStore:
    """Lifecycle base of a maintained store: immutable data dirs under
    ``store_dir`` and one ``_current.json`` pointer holding the
    committed state.

    A subclass declares ``_empty_state()``, the state before the first
    commit, and ``_referenced(st)``, the directories state ``st``
    reads. Every read-state → write → flip sequence runs inside
    ``self._writer()`` and publishes with one ``_flip``."""

    def __init__(self, store_dir: str):
        self.store_dir = store_dir
        os.makedirs(store_dir, exist_ok=True)

    def _empty_state(self) -> dict:
        raise NotImplementedError

    def _referenced(self, st: dict) -> dict[str, set[str]]:
        """Subdir ('' is the store root) -> the directory names in it
        that state ``st`` reads. ``vacuum`` walks only these subdirs."""
        raise NotImplementedError

    def _writer(self):
        return store_writer(self.store_dir)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.store_dir, "_current.json")

    def _state(self) -> dict:
        if not os.path.exists(self._pointer):
            return self._empty_state()
        with open(self._pointer) as fh:
            return json.load(fh)

    def _flip(self, state: dict) -> None:
        # fencing token at the commit point (every _flip runs inside
        # _writer()): a writer whose lock was broken or reclaimed while
        # it wrote the increment aborts before publishing it
        WriterLock.for_dir(self.store_dir).verify_token()
        atomic_flip(self._pointer, state)

    def vacuum(self) -> dict:
        """Delete every directory in the declared subdirs that the
        committed state does not reference — superseded versions and
        crashed-write orphans — and any pointer temp file a writer
        that died inside ``atomic_flip`` left (under the writer lock
        no live writer owns one). Returns ``{"removed": [paths]}``
        relative to the store.

        A SEPARATE step from the writes on purpose: a reader's lazy
        DataFrame holds the paths it resolved from an older pointer,
        so run vacuum only past your reader horizon. After it, such a
        reader fails with a missing-file error rather than serving
        partial rows (with the default
        ``spark.sql.files.ignoreMissingFiles=false``) — the
        ``World.vacuum_snapshots`` retention contract."""
        with self._writer():
            st = self._state()
            removed: list[str] = []
            for sub, keep in self._referenced(st).items():
                d = os.path.join(self.store_dir, sub)
                if not os.path.isdir(d):
                    continue
                for name in sorted(os.listdir(d)):
                    path = os.path.join(d, name)
                    if name not in keep and os.path.isdir(path):
                        shutil.rmtree(path, ignore_errors=True)
                        removed.append(os.path.join(sub, name))
            tmp = os.path.basename(self._pointer) + ".tmp."
            for name in sorted(os.listdir(self.store_dir)):
                if name.startswith(tmp):
                    os.remove(os.path.join(self.store_dir, name))
                    removed.append(name)
            return {"removed": removed}
