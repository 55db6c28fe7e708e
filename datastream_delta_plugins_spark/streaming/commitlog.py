"""Commit protocol for every manifest the engine maintains.

The versioned state table, the bucketed state manifest, the rollup
manifests and the Avro landing manifest all need the same primitive:
"publish a new JSON payload as the committed version, atomically, so a
crash between data files and the commit leaves the previous version
readable, and a second writer of the same version loses loudly".

There is one protocol, ``ObjectStoreLog``: a commit IS the conditional
PUT (create-if-absent) of ``<path>/<subdir>/v{N}.json``. No pointer,
no rename:

- reader rule: the committed version is the highest VALID listed
  ``v{N}.json`` (parses, stamped ``"version": N``). A version file
  exists only because a commit put it, so listing lag can only hide
  versions (a stale read that converges), never surface an
  uncommitted one;
- publish: ``put_if_absent`` of the complete payload plus a
  ``_writer`` nonce; of two writers of one version exactly one wins,
  and the loser raises ``ConcurrentWriterError`` (``commit_at`` is the
  OCC primitive every call site plans against).

The store is chosen only by whether a ``client`` is given
(``make_commit_log``): an ``ObjectStoreClient`` (GCS/S3 binding, or
the ``InMemoryObjectStore`` mock) for bucket deployments, else
``VersionLog`` — the same log over the local ``PosixStore``, where
``put_if_absent`` is a temp file published with ``os.link``. The local
log adds only what a filesystem can hold and a bucket cannot: the
root-level ``CURRENT`` guard with ``adopt_legacy`` (below), and the
rename-aside reclamation of a torn ``v{N}.json`` left by a writer that
died mid-write before the link protocol existed.

Data-file layout is the same for every store: writers write parquet
under attempt-unique, version-named directories FIRST and commit LAST,
so readers never observe data without its manifest.

Layouts written before this protocol:

- The pointer-swap layout kept a ``CURRENT`` file INSIDE the log
  subdir next to ``{"version": N, ...}`` payloads without ``_writer``.
  Those payloads pass the listing rule, and the in-log ``CURRENT`` is
  never listed, so such a dir opens at its pointer's version with no
  migration. A complete payload above the old pointer reads as
  committed — safe, because every site writes its data before its
  payload. A torn payload is skipped by reads and reclaimed by the next
  commit of that version.
- Before the log subdirs existed, call sites swapped a ``CURRENT``
  pointer at the dataset ROOT. An un-migrated dir must not read as "no
  commits yet" (the next batch would reset the table over live data),
  so the local log refuses to read a root pointer as empty, and
  ``adopt_legacy()`` migrates it (call sites know the payload shape
  their old layout implied).
"""

from __future__ import annotations

import json
import os
import re
import tempfile
import uuid

_VFILE = re.compile(r"^v(\d+)\.json$")

#: payload keys the log itself owns (stamped on publish / stripped on
#: read) — a caller's payload must not carry them, or the dual-writer
#: byte-disambiguation silently degrades
RESERVED_PAYLOAD_KEYS = frozenset({"version", "_writer"})


def attempt_unique_name(stem: str, v: int) -> str:
    """The Delta/Iceberg unique-file rule, shared by every data-dir
    writer (versioned state, bucketed state, landing batches):
    ``{stem}{version}-{nonce}`` — concurrent writers planning the same
    version write DISJOINT dirs and the conditional-PUT commit picks
    exactly one."""
    return f"{stem}{v}-{uuid.uuid4().hex[:8]}"


def attempt_name_re(stem: str) -> re.Pattern:
    """Matcher for :func:`attempt_unique_name` dirs (nonce-less
    pre-seam names included); group(1) is the version stamp."""
    return re.compile(rf"^{re.escape(stem)}(\d+)(?:-[0-9a-f]+)?$")

#: pre-seam root-level pointer name
LEGACY_POINTER = "CURRENT"


def legacy_root_version(path: str) -> int | None:
    """Version from a pre-seam root-level ``CURRENT`` pointer, if any."""
    p = os.path.join(path, LEGACY_POINTER)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return int(f.read().strip())


class ConcurrentWriterError(RuntimeError):
    """Another writer committed this version first (split-brain guard)."""


# ------------------------------------------------- object-store client

class ObjectStoreClient:
    """Request-level contract a real GCS/S3 binding must satisfy for
    ``ObjectStoreLog`` — and for every engine SIDECAR file (landing
    segments, vacuum listings, source-blob listings) — to be correct.
    Semantics (both stores provide them today):

    - ``put_if_absent`` is ATOMIC and CONDITIONAL (GCS
      ``ifGenerationMatch=0``, S3 ``If-None-Match: *``): exactly one
      concurrent writer of a key succeeds; a failed put writes
      nothing.
    - ``put`` is an ATOMIC unconditional overwrite (a plain PUT): a
      reader sees either the old or the new complete object, never a
      torn one. Callers use it only for keys whose NAME is unique per
      attempt (immutable-once-referenced files), so overwrite races
      cannot clobber committed content.
    - ``get`` of a known key is strongly consistent (read-after-write).
    - ``head`` is a metadata-only existence probe (GCS objects.get
      metadata, S3 HeadObject) with ``get``'s consistency.
    - ``list_keys`` may LAG puts — it may omit recently written keys,
      but never invents keys and never returns a partial object.
      ``start_after`` maps to GCS ``startOffset`` / S3 ``StartAfter``:
      only keys lexicographically AFTER it are required in the result
      (the reference's retention-horizon listing prune,
      DatastreamEventReader.java:543-556). It is a lower-bound HINT:
      an implementation may conservatively return extra keys at or
      below it (the POSIX binding does, for non-date-shaped paths);
      callers needing exactness re-filter.
    """

    def put_if_absent(self, key: str, data: bytes) -> bool:
        raise NotImplementedError

    def put(self, key: str, data: bytes) -> None:
        raise NotImplementedError

    def get(self, key: str) -> bytes | None:
        raise NotImplementedError

    def head(self, key: str) -> bool:
        raise NotImplementedError

    def size(self, key: str) -> int | None:
        """Object size in bytes (None when absent). Both stores serve
        it metadata-only (GCS objects.get resource `size`, S3
        HeadObject Content-Length); this base fallback downloads the
        object — correct everywhere, so bindings SHOULD override it
        (export_delta stats every snapshot file per export)."""
        data = self.get(key)
        return None if data is None else len(data)

    def list_keys(self, prefix: str,
                  start_after: str | None = None) -> list[str]:
        raise NotImplementedError

    def delete(self, key: str) -> None:
        raise NotImplementedError


class InMemoryObjectStore(ObjectStoreClient):
    """Mock object store with the REAL request semantics — injectable
    per-request latency and bounded listing lag — so the seam's
    contract is proven against conditional-PUT behavior rather than
    POSIX. A production GCS/S3 binding is then config-only: implement
    the four requests over the SDK and hand it to ObjectStoreLog.

    ``listing_lag=N``: a freshly put key stays invisible to the next N
    ``list_keys`` calls (eventual listing). ``latency_s``: sleep per
    request (request-interleaving realism for concurrency tests).
    """

    def __init__(self, latency_s: float = 0.0, listing_lag: int = 0):
        import threading
        self._objects: dict[str, bytes] = {}
        self._lock = threading.Lock()
        self.latency_s = latency_s
        self.listing_lag = int(listing_lag)
        self._list_calls = 0
        self._visible_at: dict[str, int] = {}
        self.requests: list[tuple[str, str]] = []  # (op, key) audit log

    def _request(self, op: str, key: str) -> None:
        self.requests.append((op, key))
        if len(self.requests) > 10_000:  # bounded audit window
            del self.requests[:5_000]
        if self.latency_s:
            import time
            time.sleep(self.latency_s)

    def put_if_absent(self, key: str, data: bytes) -> bool:
        self._request("put", key)
        with self._lock:
            if key in self._objects:
                return False
            self._objects[key] = bytes(data)
            if self.listing_lag:
                self._visible_at[key] = self._list_calls + self.listing_lag
            return True

    def put(self, key: str, data: bytes) -> None:
        self._request("put", key)
        with self._lock:
            fresh = key not in self._objects
            self._objects[key] = bytes(data)
            if fresh and self.listing_lag:
                self._visible_at[key] = self._list_calls + self.listing_lag

    def get(self, key: str) -> bytes | None:
        self._request("get", key)
        with self._lock:
            return self._objects.get(key)

    def head(self, key: str) -> bool:
        self._request("head", key)
        with self._lock:
            return key in self._objects

    def list_keys(self, prefix: str,
                  start_after: str | None = None) -> list[str]:
        self._request("list", prefix)
        with self._lock:
            self._list_calls += 1
            return sorted(
                k for k in self._objects
                if k.startswith(prefix)
                and (start_after is None or k > start_after)
                and self._list_calls > self._visible_at.get(k, 0))

    def delete(self, key: str) -> None:
        self._request("delete", key)
        with self._lock:
            self._objects.pop(key, None)
            self._visible_at.pop(key, None)


class PosixStore(ObjectStoreClient):
    """Local-filesystem binding of the client contract: keys are
    absolute file paths (the local "bucket" is the FS root). This is
    NOT a test double — it is the deployment adapter that lets the
    local commit log (``VersionLog``) and every sidecar code path
    (landing segments, vacuum listings, source-blob listings) speak the
    one request interface, so moving a table to a real bucket swaps the
    client instance, not the code.

    - ``put`` / ``put_if_absent`` are atomic (tmp + ``os.replace`` /
      ``os.link``), parents auto-created (object stores have no
      directories, so callers never mkdir).
    - ``delete`` removes the key and then its IMMEDIATE parent
      directory if that became empty (the local analog of keys simply
      ceasing to exist) — one level only, never an ascent that could
      delete a watched root out from under its producer. Pass
      ``rmdir_empty_parent=False`` for stores over directories the
      engine does not own (e.g. the TTL purge of source blobs).
    - ``list_keys(prefix, start_after=...)`` walks the tree under the
      prefix. ``start_after`` prunes conservatively: a subtree is
      skipped only when its path components from the walk root are
      all-digit AND lexicographically below the corresponding
      components of ``start_after`` (zero-padded date layouts order
      correctly; anything non-date-shaped is walked and returned, per
      the contract's lower-bound-hint semantics).
    """

    def __init__(self, rmdir_empty_parent: bool = True):
        self.rmdir_empty_parent = rmdir_empty_parent

    def put_if_absent(self, key: str, data: bytes) -> bool:
        os.makedirs(os.path.dirname(key), exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(key),
                                   prefix=".put")
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(data)
            try:
                os.link(tmp, key)
                return True
            except FileExistsError:
                return False
        finally:
            try:
                os.remove(tmp)
            except OSError:
                pass

    def put(self, key: str, data: bytes) -> None:
        os.makedirs(os.path.dirname(key), exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(key),
                                   prefix=".put")
        with os.fdopen(fd, "wb") as f:
            f.write(data)
        os.replace(tmp, key)

    def get(self, key: str) -> bytes | None:
        try:
            with open(key, "rb") as f:
                return f.read()
        except (FileNotFoundError, IsADirectoryError):
            return None

    def head(self, key: str) -> bool:
        return os.path.isfile(key)

    def size(self, key: str) -> int | None:
        try:
            return os.path.getsize(key)
        except OSError:
            return None

    def delete(self, key: str) -> None:
        try:
            os.remove(key)
        except FileNotFoundError:
            return
        if self.rmdir_empty_parent:
            try:
                os.rmdir(os.path.dirname(key))  # one level, no ascent
            except OSError:
                pass

    def list_keys(self, prefix: str,
                  start_after: str | None = None) -> list[str]:
        base = prefix if os.path.isdir(prefix) \
            else os.path.dirname(prefix)
        sparts: list[str] = []
        if start_after and start_after.startswith(base.rstrip("/") + "/"):
            sparts = start_after[len(base.rstrip("/")) + 1:].split("/")
        out: list[str] = []

        def walk(d: str, parts: list[str]) -> None:
            try:
                entries = sorted(os.scandir(d), key=lambda e: e.name)
            except OSError:
                return
            for e in entries:
                if e.is_file(follow_symlinks=False):
                    if e.path.startswith(prefix):
                        out.append(e.path)
                    continue
                if not e.is_dir(follow_symlinks=False):
                    continue
                # a subtree can hold matching keys only when the dir
                # itself sits inside the prefix range or the prefix
                # points inside the dir — skipping the rest keeps a
                # non-directory prefix (e.g. "state/v3-") from walking
                # every sibling version dir
                if not e.path.startswith(prefix) \
                        and not prefix.startswith(e.path + "/"):
                    continue
                nxt = parts + [e.name]
                k = len(nxt)
                # prune only provably-expired date-shaped subtrees:
                # equal prefixes must descend (later components may
                # still reach the horizon)
                if sparts and k <= len(sparts) \
                        and all(p.isdigit() for p in nxt) \
                        and nxt < sparts[:k]:
                    continue
                walk(e.path, nxt)

        walk(base, [])
        return sorted(out)


class ObjectStoreLog:
    """Versioned JSON payload log at ``<path>/<subdir>`` over an
    ObjectStoreClient: the conditional PUT of ``v{N}.json`` IS the
    commit, and the committed version is the highest valid listed one.

    ``keep`` bounds how many committed payload files are retained
    (current + ``keep`` older); ``None`` disables pruning entirely for
    deployments that need an unbounded history horizon (e.g. a long
    ``changes_between()`` window with user-scheduled vacuum). Payloads
    are pruned ONLY through ``keep`` (the vacuums GC data files, never
    ``v{N}.json``), so ``keep=None`` grows the payload set O(commits)
    forever, and every read LISTs it — on local disk as on a bucket:
    ~86k keys/month at a 30 s cadence. Bound ``keep`` to the horizon
    actually needed instead of running keep=None indefinitely.
    """

    def __init__(self, path: str, subdir: str = "commitlog",
                 keep: int | None = 8, *, client: ObjectStoreClient):
        self.path = path
        self.log_dir = os.path.join(path, subdir)
        self.keep = keep
        self.client = client
        # keys are bucket-relative: "<path>/<subdir>/v{N}.json"
        self._prefix = self.log_dir.rstrip("/") + "/"
        # writer-local floor: listing lag must not hide THIS writer's
        # own commits from its next version() (it would re-plan a
        # taken version and self-conflict on the conditional PUT);
        # other writers' lagged commits remain a stale-read-then-retry
        self._floor = -1

    def _key(self, v: int) -> str:
        return f"{self._prefix}v{v}.json"

    # -- reads --

    def _listed_versions(self) -> list[int]:
        # scoped to the version keys: the landing keeps its segment
        # files under the same log prefix, and a read must not list them
        out = []
        for k in self.client.list_keys(self._prefix + "v"):
            m = _VFILE.match(k[len(self._prefix):])
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def _doc(self, key: str, v: int) -> dict | None:
        """The payload at ``key`` if it is a complete commit of ``v``
        (a bucket PUT is complete by construction; a local file may be
        a torn pre-link-protocol leftover)."""
        raw = self.client.get(key)
        if raw is None:
            return None
        try:
            doc = json.loads(raw)
        except ValueError:
            return None
        if not isinstance(doc, dict) or doc.get("version") != v:
            return None
        doc.pop("_writer", None)  # publish-attempt nonce, not payload
        return doc

    def _valid(self, v: int) -> dict | None:
        return self._doc(self._key(v), v)

    def read_committed(self) -> tuple[int, dict] | None:
        """(highest valid version, the payload its validation GET
        read), None before the first commit: one LIST and one GET when
        the listing is current. Any valid listed file IS committed, so
        the worst a lagging listing or a partially failed prune can
        cause is a stale read — never a torn or shadowed one."""
        best = None
        for v in reversed(self._listed_versions()):
            doc = self._valid(v)
            if doc is not None:
                best = (v, doc)
                break
        if self._floor > (-1 if best is None else best[0]):
            # the floor's payload must still exist: another writer may
            # have advanced far past it AND pruned it while our listing
            # lags — returning it would crash read_committed instead of
            # degrading to the stale listed read the contract allows
            doc = self._valid(self._floor)
            if doc is not None:
                return self._floor, doc
        return best

    def version(self) -> int:
        """Highest committed version, -1 before the first commit."""
        rc = self.read_committed()
        return -1 if rc is None else rc[0]

    def _payload(self, v: int) -> dict:
        """The stored payload of ``v``, unvalidated (a pre-seam
        bucketed manifest below an adopted version is a bare map)."""
        raw = self.client.get(self._key(v))
        if raw is None:
            raise FileNotFoundError(self._key(v))
        doc = json.loads(raw)
        doc.pop("_writer", None)
        return doc

    # -- writes --

    def commit(self, payload: dict) -> int:
        return self.commit_at(self.version() + 1, payload)

    def commit_at(self, v: int, payload: dict) -> int:
        """Commit exactly version ``v`` — the OCC primitive: a caller
        that planned against version ``v-1`` commits AT ``v``, so a
        concurrent writer taking ``v`` first surfaces as
        ConcurrentWriterError instead of the stale plan silently
        landing on a later version and erasing the other writer's
        manifest changes (lost update). ``commit()`` is
        ``commit_at(version()+1, ...)`` — fine for payloads not
        derived from a prior read."""
        self._check_payload(payload)
        self._publish(v, payload)
        if self.keep is not None:
            self._prune(v - self.keep)
        return v

    @staticmethod
    def _check_payload(payload: dict) -> None:
        bad = RESERVED_PAYLOAD_KEYS & set(payload)
        if bad:
            raise ValueError(
                f"payload carries log-reserved key(s) {sorted(bad)} — "
                f"the commit log stamps these itself; nest caller "
                f"metadata under its own key")

    def _publish(self, v: int, payload: dict) -> None:
        # _writer: a nonce unique to THIS publish attempt. An ambiguous
        # transport failure (5xx/connection drop AFTER the server
        # applied the conditional PUT) makes the client's re-probe
        # report a conflict for OUR OWN durable commit; byte-comparing
        # the stored object against exactly what we tried to put
        # disambiguates — and the nonce makes that comparison safe even
        # when two writers build byte-identical payloads (e.g. the
        # versioned state's un-nonced {"data_dir": "v{N}"}): a
        # different writer's commit NEVER byte-matches ours, so a
        # zombie/failover dual-writer still surfaces as
        # ConcurrentWriterError instead of two silent successes over
        # one interleaved data dir. Readers strip the nonce (_doc).
        # The disambiguating GET also runs on a clean 412 loss — one
        # small extra read per lost race, at maintenance cadences a
        # non-cost.
        doc = json.dumps({"version": v, "_writer": uuid.uuid4().hex,
                          **payload}, indent=1, sort_keys=True).encode()
        if not self.client.put_if_absent(self._key(v), doc):
            if self.client.get(self._key(v)) != doc:
                raise ConcurrentWriterError(
                    f"version {v} at {self._prefix} was committed by "
                    f"another writer")
        self._floor = max(self._floor, v)

    def _prune(self, keep_from: int) -> None:
        """Drop payload files older than ``keep_from`` (data-dir GC is
        the caller's job — it knows which files a stale reader may
        still hold open)."""
        for v in self._listed_versions():
            if v < keep_from:
                self.client.delete(self._key(v))

    def reset(self) -> None:
        """Erase every commit: the log reads as never-written. For the
        single-writer wipe-and-rebuild path (e.g. re-seeding a
        half-migrated table); data-file GC is the caller's job. Under
        a lagging listing a just-committed version can survive one
        reset and surface later — callers retry (the next commit
        conflicts loudly rather than corrupting)."""
        self._prune(float("inf"))


class VersionLog(ObjectStoreLog):
    """The commit log on local disk: ``ObjectStoreLog`` over
    ``PosixStore``, plus what only a filesystem can hold — a root-level
    pre-seam ``CURRENT`` pointer (guard + ``adopt_legacy``) and a torn
    ``v{N}.json`` (reclaimed by the next commit of ``N``)."""

    def __init__(self, path: str, subdir: str = "commitlog",
                 keep: int | None = 8):
        # never rmdir the log dir: an empty manifest/ still marks the
        # bucketed layout for the cross-backend guards
        super().__init__(path, subdir, keep,
                         client=PosixStore(rmdir_empty_parent=False))

    def read_committed(self) -> tuple[int, dict] | None:
        rc = super().read_committed()
        if rc is None and legacy_root_version(self.path) is not None:
            # a root pointer with nothing committed in the log: the dir
            # predates the log subdirs, and reading it as empty would
            # let the next commit reset the table over the live data
            # that pointer still references
            raise RuntimeError(
                f"{self.path} has a root-level {LEGACY_POINTER} pointer "
                f"from the pre-commit-seam layout but no commits under "
                f"{self.log_dir} — migrate it with adopt_legacy() "
                f"before reading or writing this log")
        return rc

    def adopt_legacy(self, payload: dict) -> int | None:
        """Migrate a pre-seam root-level pointer into this log.

        Re-publishes the pointed version through this log with
        ``payload`` (the call site knows what the old layout implied),
        then removes the root pointer. Idempotent and crash-safe: the
        pointer is removed LAST, and a re-run that finds the log
        already at >= the pointed version only clears the leftover
        pointer. Returns the adopted version, or None if there was no
        legacy pointer.
        """
        lv = legacy_root_version(self.path)
        if lv is None:
            return None
        rc = super().read_committed()  # the guard would refuse
        if (-1 if rc is None else rc[0]) < lv:
            self._check_payload(payload)
            self._publish(lv, payload)
        os.remove(os.path.join(self.path, LEGACY_POINTER))
        return lv

    def _publish(self, v: int, payload: dict) -> None:
        try:
            super()._publish(v, payload)
        except ConcurrentWriterError:
            if self._valid(v) is not None:
                raise
            # the target is a torn leftover (with the link protocol a
            # published file is complete by construction, so no LIVE
            # writer owns it): reclaim it, then publish. A racer's
            # commit in between still fails our conditional put.
            self._reclaim(v)
            super()._publish(v, payload)

    def _reclaim(self, v: int) -> None:
        """Take the torn ``v{N}.json`` out of the way EXCLUSIVELY, by
        renaming it aside to a writer-unique name: of two racers
        exactly one rename succeeds — a blind remove would let the
        loser delete the winner's just-published commit
        (remove-then-link TOCTOU)."""
        target = self._key(v)
        aside = os.path.join(self.log_dir,
                             f".reclaimed-{uuid.uuid4().hex}")
        try:
            os.rename(target, aside)
        except FileNotFoundError:
            return  # another racer took it aside already
        try:
            # Between our validity check and the rename a racer may
            # have reclaimed the leftover and published a VALID commit
            # at target (a fresh inode — rename is not conditional), so
            # what we moved aside could be a durable commit. Restore it
            # with a create-exclusive link (never clobbers a third
            # racer's fresh commit) and report the conflict.
            if self._doc(aside, v) is not None:
                try:
                    os.link(aside, target)
                except FileExistsError:
                    pass  # a third racer committed v meanwhile
                raise ConcurrentWriterError(
                    f"version {v} at {self.log_dir} was committed by "
                    f"another writer during leftover reclamation")
        finally:
            try:
                os.remove(aside)
            except OSError:
                pass


def make_commit_log(path: str, subdir: str = "commitlog",
                    keep: int | None = 8,
                    client: ObjectStoreClient | None = None
                    ) -> ObjectStoreLog:
    """The commit log at ``<path>/<subdir>``: on ``client`` (a bucket
    deployment) when one is given, else on local disk."""
    if client is None:
        return VersionLog(path, subdir, keep=keep)
    return ObjectStoreLog(path, subdir, keep=keep, client=client)
