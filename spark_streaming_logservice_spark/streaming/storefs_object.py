"""Object-store backends for the storefs seam — the proof that the
"adapter, not a rewrite" claim in ``storefs.py`` is a property, not an
assertion.

``storefs.Backend``'s contract was written for POSIX rename semantics. An
S3-style object store offers none of that natively: rename is copy+delete
(neither atomic nor cheap) and listings may lag writes. This module holds
three pieces:

- :class:`ObjectStoreSim` — a minimal in-memory object store exposing only
  primitives a real object store actually guarantees: whole-object PUT/GET
  (readers see the old object or the new object, never a torn mix),
  single-key HEAD read-after-write, DELETE, prefix LIST (optionally
  LAGGING — recent PUTs invisible until ``settle()``), and an atomic
  compare-and-swap ``cas_put`` (HTTP ``If-Match``/``If-None-Match``
  conditional PUT — S3, GCS and ABS all ship one).

- :class:`NaiveObjectStoreBackend` — the straight-line port everyone
  writes first: publish_rename as per-object copy+delete, listdir as raw
  LIST. It exists to FAIL the contract suite in exactly the named ways
  (tests/test_storefs_contract.py): a crash mid-copy leaves a PARTIAL
  destination visible (contract clause 1 broken), and a lagging LIST hides
  a published control file (clause 3 broken). Keeping the anti-example
  executable pins WHY the manifest design below is shaped the way it is.

- :class:`ManifestObjectStoreBackend` — the correct adapter, the
  commit-protocol shape Delta/Iceberg use on object stores: file bytes
  live in immutable, uniquely-keyed BLOBS; all NAMING (which paths exist,
  which blob a path points to) lives in one per-root MANIFEST object,
  updated only by ``cas_put``. Every contract clause then reduces to the
  two primitives the store really guarantees:

  1. publish_rename = one CAS that re-points a subtree — a crash at ANY
     instant leaves the manifest at the old or the new version, so ``dst``
     is either absent or complete; partially-written blobs are unreachable
     garbage, never a visible torn object.
  2. replace_file = write a fresh blob, CAS the path to it — readers
     resolve the path through the manifest and see old-or-new, never torn.
  3. listdir/exists/isdir read the MANIFEST (single-key GET,
     read-after-write consistent), so list lag in the underlying store is
     irrelevant — published objects are visible immediately.
  4. write_text = blob + CAS pointer, same old/new/absent visibility.

  Concurrent writers serialize on the CAS (lost race → reload manifest and
  retry), which is exactly the coordination a shared digest store needs
  and POSIX rename gave us for free.

Scope note (stated honestly): this seam is the stores' CONTROL PLANE.
Spark's own parquet reads/writes travel through the Hadoop FileSystem —
on a real deployment that is S3A/GCS-connector territory with its own
committers; the backends here prove the contract for everything the
stores themselves do (markers, pins, flags, staging publishes, sweeps,
manifest listings). The contract suite drives the digest-store publish
protocol end-to-end at that level, crash injection included.
"""

from __future__ import annotations

import json
import posixpath
import threading
import time
import uuid


class CasConflict(Exception):
    """cas_put lost the compare-and-swap race (or if-none-match hit)."""


class ObjectStoreSim:
    """In-memory object store with the primitive set real stores guarantee.

    ``list_lag=True`` models eventually-consistent listings: keys PUT
    after construction stay out of :meth:`list` results until
    :meth:`settle` runs. Single-key GET/HEAD are always read-after-write
    consistent (true of S3 since 2020 for new keys, and the weakest
    assumption the manifest backend needs).
    """

    def __init__(self, list_lag: bool = False):
        self._objects: dict[str, bytes] = {}
        self._versions: dict[str, int] = {}
        self._lagging: set[str] = set()
        self._list_lag = list_lag
        # one lock makes each primitive a single step, the way the real
        # store's server does — without it, cas_put's compare and write
        # could interleave across Python threads and lose updates, which
        # would break the very atomicity the sim exists to model
        self._lock = threading.Lock()

    def put(self, key: str, data: bytes) -> None:
        with self._lock:
            self._put_locked(key, data)

    def _put_locked(self, key: str, data: bytes) -> None:
        self._objects[key] = bytes(data)
        self._versions[key] = self._versions.get(key, 0) + 1
        if self._list_lag:
            self._lagging.add(key)

    def cas_put(self, key: str, data: bytes, expect_version: int | None) -> int:
        """Conditional PUT: ``expect_version=None`` means if-none-match
        (create only); an int means if-match that exact version. Atomic —
        the compare and the write are one step. Returns the new version."""
        with self._lock:
            cur = self._versions.get(key) if key in self._objects else None
            if cur != expect_version:
                raise CasConflict(
                    f"{key}: expected v{expect_version}, at v{cur}"
                )
            self._put_locked(key, data)
            return self._versions[key]

    def get(self, key: str) -> bytes:
        with self._lock:
            return self._objects[key]

    def head(self, key: str) -> int | None:
        """Current version, or None if absent (single-key, never lags)."""
        with self._lock:
            return self._versions.get(key) if key in self._objects else None

    def delete(self, key: str) -> None:
        with self._lock:
            self._objects.pop(key, None)
            self._lagging.discard(key)

    def list(self, prefix: str) -> list[str]:
        with self._lock:
            return sorted(
                k
                for k in self._objects
                if k.startswith(prefix) and k not in self._lagging
            )

    def settle(self) -> None:
        """Lagging listings catch up (time passes)."""
        with self._lock:
            self._lagging.clear()


def _norm(path: str) -> str:
    return posixpath.normpath(path.replace("\\", "/")).rstrip("/")


def _under_file(tree: dict, rel: str) -> bool:
    """Some proper ancestor of ``rel`` is a FILE entry: POSIX resolves no
    path through a file, so every op on ``rel`` raises NotADirectoryError."""
    parts = rel.split("/") if rel else []
    for i in range(1, len(parts)):
        anc = tree.get("/".join(parts[:i]))
        if anc is not None and anc.get("type") == "file":
            return True
    return False


class NaiveObjectStoreBackend:
    """The contract-VIOLATING straight port (see module docstring). Duck-
    typed to storefs.Backend; ``crash_after_copies`` injects a crash after
    N object copies inside publish_rename — the window in which a partial
    destination is visible to readers."""

    def __init__(self, sim: ObjectStoreSim, crash_after_copies: int | None = None):
        self.sim = sim
        self.crash_after_copies = crash_after_copies

    def join(self, *parts: str) -> str:
        return posixpath.join(*parts)

    def publish_rename(self, src: str, dst: str) -> None:
        src, dst = _norm(src), _norm(dst)
        copied = 0
        for key in list(self.sim._objects):  # full listing incl. lagging:
            # even a STRONG list doesn't save this design — the copy loop
            # itself is the non-atomic window
            if key == src or key.startswith(src + "/"):
                if (
                    self.crash_after_copies is not None
                    and copied >= self.crash_after_copies
                ):
                    raise OSError("injected crash mid copy+delete rename")
                self.sim.put(dst + key[len(src):], self.sim.get(key))
                copied += 1
        for key in list(self.sim._objects):
            if key == src or key.startswith(src + "/"):
                self.sim.delete(key)

    def replace_file(self, src: str, dst: str) -> None:
        src, dst = _norm(src), _norm(dst)
        self.sim.put(dst, self.sim.get(src))
        self.sim.delete(src)

    def listdir(self, path: str) -> list[str]:
        prefix = _norm(path) + "/"
        names = set()
        for key in self.sim.list(prefix):  # raw LIST: lag-blind
            names.add(key[len(prefix):].split("/", 1)[0])
        return sorted(names)

    def exists(self, path: str) -> bool:
        path = _norm(path)
        if self.sim.head(path) is not None:
            return True
        return bool(self.sim.list(path + "/"))

    def isdir(self, path: str) -> bool:
        return bool(self.sim.list(_norm(path) + "/"))

    def makedirs(self, path: str, exist_ok: bool = False) -> None:
        pass  # object stores have no directories

    def rmtree(self, path: str, ignore_errors: bool = False) -> None:
        path = _norm(path)
        for key in list(self.sim._objects):
            if key == path or key.startswith(path + "/"):
                self.sim.delete(key)

    def remove(self, path: str) -> None:
        self.sim.delete(_norm(path))

    def read_text(self, path: str) -> str:
        return self.sim.get(_norm(path)).decode("utf-8")

    def write_text(self, path: str, data: str) -> None:
        self.sim.put(_norm(path), data.encode("utf-8"))

    def copy_file(self, src: str, dst: str) -> None:
        self.sim.put(_norm(dst), self.sim.get(_norm(src)))

    def getmtime(self, path: str) -> float:
        return 0.0

    def mtime_ns(self, path: str) -> int:
        return 0

    def utime(self, path: str) -> None:
        pass

    def walk(self, path: str):
        raise NotImplementedError("naive backend: not needed by the suite")


class ManifestObjectStoreBackend:
    """Manifest-pointer adapter (module docstring): bytes in immutable
    blobs, naming in ONE manifest object updated by CAS. Duck-typed to
    storefs.Backend. ``root`` scopes the manifest key; all paths handled
    must live under it (every streaming store keys its state under one
    root, so one manifest per store — the same granularity as a Delta
    table's log).

    ``crash_before_cas``/``crash_after_cas`` inject a crash around the ONE
    atomic step of publish_rename, pinning that BOTH windows leave the
    destination either absent or complete — there is no partial window.
    """

    MANIFEST = "__manifest__"

    def __init__(self, sim: ObjectStoreSim, root: str,
                 crash_before_cas: bool = False,
                 crash_after_cas: bool = False):
        self.sim = sim
        self.root = _norm(root)
        self._mkey = self.root + "/" + self.MANIFEST
        self.crash_before_cas = crash_before_cas
        self.crash_after_cas = crash_after_cas

    # --- manifest plumbing -------------------------------------------------
    def _load(self) -> tuple[dict, int | None]:
        v = self.sim.head(self._mkey)
        if v is None:
            return {"tree": {}}, None
        return json.loads(self.sim.get(self._mkey).decode("utf-8")), v

    def _commit(self, manifest: dict, version: int | None) -> None:
        self.sim.cas_put(
            self._mkey, json.dumps(manifest).encode("utf-8"), version
        )

    def _mutate(self, fn) -> None:
        """Load → mutate → CAS, retrying lost races: concurrent writers
        serialize here (the coordination POSIX rename provided)."""
        while True:
            manifest, version = self._load()
            fn(manifest["tree"])
            try:
                self._commit(manifest, version)
                return
            except CasConflict:
                continue

    def _rel(self, path: str) -> str:
        path = _norm(path)
        if path == self.root:
            return ""
        assert path.startswith(self.root + "/"), (
            f"{path} outside manifest root {self.root}"
        )
        return path[len(self.root) + 1:]

    def _put_blob(self, data: bytes) -> str:
        key = f"{self.root}/__blobs__/{uuid.uuid4().hex}"
        self.sim.put(key, data)
        return key

    # --- contract surface ----------------------------------------------------
    def join(self, *parts: str) -> str:
        return posixpath.join(*parts)

    def publish_rename(self, src: str, dst: str) -> None:
        src_rel, dst_rel = self._rel(src), self._rel(dst)
        if self.crash_before_cas:
            raise OSError("injected crash before manifest CAS")

        def move(tree: dict) -> None:
            if dst_rel in tree or any(
                k.startswith(dst_rel + "/") for k in tree
            ):
                raise FileExistsError(dst)
            moved = {}
            for k in list(tree):
                if k == src_rel:
                    moved[dst_rel] = tree.pop(k)
                elif k.startswith(src_rel + "/"):
                    moved[dst_rel + k[len(src_rel):]] = tree.pop(k)
            if not moved:
                raise FileNotFoundError(src)
            tree.update(moved)

        self._mutate(move)
        if self.crash_after_cas:
            raise OSError("injected crash after manifest CAS")

    def replace_file(self, src: str, dst: str) -> None:
        src_rel, dst_rel = self._rel(src), self._rel(dst)

        def swap(tree: dict) -> None:
            if src_rel not in tree:  # match POSIX os.replace's error type
                raise FileNotFoundError(src)
            if self._is_dir_entry(tree, dst_rel):
                # os.replace(file, dir) raises IsADirectoryError on POSIX
                raise IsADirectoryError(dst)
            tree[dst_rel] = tree.pop(src_rel)

        self._mutate(swap)

    def listdir(self, path: str) -> list[str]:
        rel = self._rel(path)
        tree, _ = self._load()
        tree = tree["tree"]
        entry = tree.get(rel)
        if entry is not None and entry.get("type") == "file":
            raise NotADirectoryError(path)  # os.listdir(file) semantics
        prefix = rel + "/" if rel else ""
        names = set()
        for k in tree:
            if k.startswith(prefix) and k != rel:
                names.add(k[len(prefix):].split("/", 1)[0])
        return sorted(names)

    def exists(self, path: str) -> bool:
        rel = self._rel(path)
        tree, _ = self._load()
        tree = tree["tree"]
        return rel in tree or any(k.startswith(rel + "/") for k in tree)

    def isdir(self, path: str) -> bool:
        rel = self._rel(path)
        tree, _ = self._load()
        tree = tree["tree"]
        if rel == "":
            return True
        entry = tree.get(rel)
        if entry is not None:
            return entry.get("type") == "dir"
        return any(k.startswith(rel + "/") for k in tree)

    @staticmethod
    def _is_dir_entry(tree: dict, rel: str) -> bool:
        """Name is a directory: explicit dir entry OR implicit (children)."""
        entry = tree.get(rel)
        if entry is not None:
            return entry.get("type") == "dir"
        return any(k.startswith(rel + "/") for k in tree)

    def makedirs(self, path: str, exist_ok: bool = False) -> None:
        rel = self._rel(path)
        if rel == "":
            return

        def mk(tree: dict) -> None:
            # an ancestor component that is a FILE makes the whole path
            # unmakeable — POSIX os.makedirs raises NotADirectoryError
            if _under_file(tree, rel):
                raise NotADirectoryError(path)
            cur = tree.get(rel)
            if cur is not None and cur.get("type") == "file":
                # POSIX os.makedirs raises FileExistsError over an
                # existing FILE even with exist_ok=True (exist_ok only
                # pardons an existing DIRECTORY) — silently keeping the
                # file entry here diverged from the POSIX backend
                # (ADVICE r13)
                raise FileExistsError(path)
            if cur is not None and not exist_ok:
                raise FileExistsError(path)
            tree.setdefault(rel, {"type": "dir", "mtime": time.time()})

        self._mutate(mk)

    def rmtree(self, path: str, ignore_errors: bool = False) -> None:
        rel = self._rel(path)

        def rm(tree: dict) -> None:
            entry = tree.get(rel)
            if entry is not None and entry.get("type") == "file":
                # shutil.rmtree over a FILE raises (suppressed under
                # ignore_errors) and leaves the file in place — deleting
                # the entry here diverged from the POSIX backend
                if not ignore_errors:
                    raise NotADirectoryError(path)
                return
            doomed = [
                k for k in tree if k == rel or k.startswith(rel + "/")
            ]
            if not doomed and not ignore_errors:
                raise FileNotFoundError(path)
            for k in doomed:
                tree.pop(k)  # blobs become unreachable garbage (a real
                # deployment GCs them; correctness never depends on it)

        try:
            self._mutate(rm)
        except FileNotFoundError:
            if not ignore_errors:
                raise

    def remove(self, path: str) -> None:
        rel = self._rel(path)

        def rm(tree: dict) -> None:
            if _under_file(tree, rel):
                raise NotADirectoryError(path)
            if self._is_dir_entry(tree, rel):
                # os.remove over a directory raises IsADirectoryError
                raise IsADirectoryError(path)
            if rel not in tree:
                raise FileNotFoundError(path)
            tree.pop(rel)

        self._mutate(rm)

    def read_text(self, path: str) -> str:
        rel = self._rel(path)
        tree, _ = self._load()
        if _under_file(tree["tree"], rel):
            raise NotADirectoryError(path)
        entry = tree["tree"].get(rel)
        if entry is None or entry.get("type") != "file":
            raise FileNotFoundError(path)
        return self.sim.get(entry["blob"]).decode("utf-8")

    def write_text(self, path: str, data: str) -> None:
        rel = self._rel(path)
        blob = self._put_blob(data.encode("utf-8"))

        def wr(tree: dict) -> None:
            if _under_file(tree, rel):
                raise NotADirectoryError(path)
            if self._is_dir_entry(tree, rel):
                # open(dir, 'w') raises IsADirectoryError on POSIX
                raise IsADirectoryError(path)
            tree[rel] = {"type": "file", "blob": blob, "mtime": time.time()}

        self._mutate(wr)

    def copy_file(self, src: str, dst: str) -> None:
        src_rel, dst_rel = self._rel(src), self._rel(dst)

        def cp(tree: dict) -> None:
            # read src INSIDE the retry loop: a snapshot taken outside
            # could install a stale blob pointer after losing a CAS race
            # to a concurrent replace_file of src
            entry = tree.get(src_rel)
            if entry is None:
                raise FileNotFoundError(src)
            tree[dst_rel] = dict(entry, mtime=time.time())

        self._mutate(cp)

    def getmtime(self, path: str) -> float:
        rel = self._rel(path)
        tree, _ = self._load()
        entry = tree["tree"].get(rel)
        if entry is None:
            raise FileNotFoundError(path)
        return float(entry.get("mtime", 0.0))

    def mtime_ns(self, path: str) -> int:
        return int(self.getmtime(path) * 1e9)

    def utime(self, path: str) -> None:
        rel = self._rel(path)

        def touch(tree: dict) -> None:
            if rel not in tree:
                raise FileNotFoundError(path)
            tree[rel]["mtime"] = time.time()

        self._mutate(touch)

    def gc_blobs(self) -> int:
        """Delete blobs no manifest entry references; returns the count.
        Correctness never depends on this (unreachable blobs are invisible
        garbage — a crashed write_text, a rmtree'd file), but a real
        deployment pays for them, so the sweep exists and is tested.

        Safe concurrently with readers (reachable blobs are immutable and
        never collected) but NOT with in-flight writers: a write_text
        between the manifest snapshot and the delete has its blob out but
        its pointer not yet committed. Run it the way compaction runs —
        from the owning writer, or quiesced — or extend it with a
        write-grace window (skip blobs younger than the slowest writer's
        blob→CAS gap)."""
        tree, _ = self._load()
        live = {
            e["blob"] for e in tree["tree"].values() if e.get("type") == "file"
        }
        doomed = [
            k
            for k in self.sim.list(f"{self.root}/__blobs__/")
            if k not in live
        ]
        for k in doomed:
            self.sim.delete(k)
        return len(doomed)

    def walk(self, path: str):
        rel = self._rel(path)
        tree, _ = self._load()
        tree = tree["tree"]
        dirs: dict[str, tuple[list[str], list[str]]] = {rel: ([], [])}
        for k, entry in sorted(tree.items()):
            if not (k.startswith(rel + "/") or rel == ""):
                continue
            parent, _, name = k.rpartition("/")
            dirs.setdefault(parent, ([], []))
            if entry.get("type") == "dir":
                dirs.setdefault(k, ([], []))
                dirs[parent][0].append(name)
            else:
                dirs[parent][1].append(name)
        for d, (subdirs, files) in sorted(dirs.items()):
            top = self.root + ("/" + d if d else "")
            yield top, sorted(subdirs), sorted(files)


class HybridManifestBackend:
    """Deployment-shaped backend for running the ACTUAL stores end-to-end
    on object-store commit semantics (r13 VERDICT item 5): the data plane
    (Spark's parquet files) lives on the real filesystem under ``fs_root``
    — the stand-in for the data objects an S3A/GCS connector writes —
    while every CONTROL-plane name (markers, flags, pins, meta files,
    publish decisions) lives in the CAS-updated manifest and NEVER at a
    literal filesystem path.

    ``publish_rename`` commits by ONE manifest CAS (the Delta/Iceberg
    commit point): the entry records the staged physical location, and the
    physical rename that makes the final dir readable at its literal path
    for Spark is recovery-completed MATERIALIZATION — every seam operation
    first heals any committed-but-unmaterialized publish, so a crash
    between the CAS and the rename is invisible to seam users. It is very
    visible to store code that bypasses the seam: in that window
    ``os.path.exists(final)`` says absent while ``storefs.exists(final)``
    says present (and heals). That divergence is the one-path-rule
    detector this backend exists to provide — the end-to-end suite
    (tests/test_storefs_hybrid_e2e.py) crashes in that window on purpose.

    Control files written via ``write_text`` live ONLY as manifest blobs:
    any store code reading a marker/flag/pin with ``open()`` instead of
    ``storefs.read_text`` fails immediately under this backend.
    """

    def __init__(self, sim: ObjectStoreSim, fs_root: str,
                 crash_before_cas: bool = False,
                 crash_after_cas: bool = False):
        import os as _os

        self.sim = sim
        self.fs_root = _os.path.normpath(_os.path.abspath(fs_root))
        self._mkey = "__hybrid_manifest__"
        self.crash_before_cas = crash_before_cas
        self.crash_after_cas = crash_after_cas

    # --- manifest plumbing (same CAS discipline as the pure shim) -------
    def _load(self) -> tuple[dict, int | None]:
        v = self.sim.head(self._mkey)
        if v is None:
            return {"tree": {}}, None
        return json.loads(self.sim.get(self._mkey).decode("utf-8")), v

    def _mutate(self, fn) -> None:
        while True:
            manifest, version = self._load()
            fn(manifest["tree"])
            try:
                self.sim.cas_put(
                    self._mkey,
                    json.dumps(manifest).encode("utf-8"),
                    version,
                )
                return
            except CasConflict:
                continue

    def _rel(self, path: str) -> str:
        import os as _os

        p = _os.path.normpath(_os.path.abspath(path))
        if p == self.fs_root:
            return ""
        assert p.startswith(self.fs_root + _os.sep), (
            f"{path} outside hybrid root {self.fs_root}"
        )
        return p[len(self.fs_root) + 1:].replace(_os.sep, "/")

    def _phys(self, rel: str) -> str:
        import os as _os

        return (
            self.fs_root
            if rel == ""
            else _os.path.join(self.fs_root, *rel.split("/"))
        )

    def _put_blob(self, data: bytes) -> str:
        key = f"__hybrid_blobs__/{uuid.uuid4().hex}"
        self.sim.put(key, data)
        return key

    def _heal(self) -> None:
        """Complete any committed-but-unmaterialized publish (crash landed
        between the CAS and the physical rename). Idempotent."""
        import os as _os

        tree, _ = self._load()
        if not any(
            e.get("pending_src") for e in tree["tree"].values()
        ):
            return

        def fix(t: dict) -> None:
            for k, e in t.items():
                src_rel = e.get("pending_src")
                if e.get("type") == "dir" and src_rel:
                    src, dst = self._phys(src_rel), self._phys(k)
                    if not _os.path.exists(dst) and _os.path.exists(src):
                        _os.rename(src, dst)
                    e.pop("pending_src", None)

        self._mutate(fix)

    @staticmethod
    def _mani_isdir(tree: dict, rel: str) -> bool:
        entry = tree.get(rel)
        if entry is not None:
            return entry.get("type") == "dir"
        return any(k.startswith(rel + "/") for k in tree)

    # --- contract surface ------------------------------------------------
    def join(self, *parts: str) -> str:
        import os as _os

        return _os.path.join(*parts)

    def publish_rename(self, src: str, dst: str) -> None:
        import os as _os

        self._heal()
        src_rel, dst_rel = self._rel(src), self._rel(dst)
        if self.crash_before_cas:
            raise OSError("injected crash before manifest CAS")

        def commit(tree: dict) -> None:
            if (
                dst_rel in tree
                or any(k.startswith(dst_rel + "/") for k in tree)
                or _os.path.exists(self._phys(dst_rel))
            ):
                raise FileExistsError(dst)
            src_entry = tree.get(src_rel)
            has_children = any(k.startswith(src_rel + "/") for k in tree)
            if (
                src_entry is not None
                and src_entry.get("type") == "file"
                and not has_children
            ):
                # renaming a CONTROL FILE: a pure manifest move (the blob
                # pointer travels with the entry) — no physical leg, no
                # pending materialization. Without this branch the file
                # entry became an empty dir record and the blob was lost
                # (found by the 3-way Hypothesis property).
                tree[dst_rel] = tree.pop(src_rel)
                return
            if (
                src_entry is None
                and not has_children
                and not _os.path.exists(self._phys(src_rel))
            ):
                raise FileNotFoundError(src)
            # re-point manifest children (control files the stores wrote
            # INTO the staged dir via the seam, e.g. _batch_meta.json);
            # the src dir entry itself is superseded by the dst entry.
            # The physical leg assumes src is a DIRECTORY — the stores
            # only ever publish staged dirs (single files go through
            # replace_file).
            for k in list(tree):
                if k == src_rel:
                    tree.pop(k)
                elif k.startswith(src_rel + "/"):
                    tree[dst_rel + k[len(src_rel):]] = tree.pop(k)
            tree[dst_rel] = {
                "type": "dir",
                "pending_src": src_rel,
                "mtime": time.time(),
            }

        self._mutate(commit)
        if self.crash_after_cas:
            raise OSError("injected crash after manifest CAS")
        self._heal()

    def replace_file(self, src: str, dst: str) -> None:
        import os as _os

        self._heal()
        src_rel, dst_rel = self._rel(src), self._rel(dst)

        def swap(tree: dict) -> None:
            if src_rel not in tree:
                raise FileNotFoundError(src)
            dst_entry = tree.get(dst_rel)
            if (
                (dst_entry is not None and dst_entry.get("type") == "dir")
                or any(k.startswith(dst_rel + "/") for k in tree)
                or _os.path.isdir(self._phys(dst_rel))
            ):
                raise IsADirectoryError(dst)
            tree[dst_rel] = tree.pop(src_rel)

        self._mutate(swap)

    def listdir(self, path: str) -> list[str]:
        import os as _os

        self._heal()
        rel = self._rel(path)
        tree, _ = self._load()
        tree = tree["tree"]
        entry = tree.get(rel)
        if entry is not None and entry.get("type") == "file":
            raise NotADirectoryError(path)  # os.listdir(file) semantics
        prefix = rel + "/" if rel else ""
        names: set[str] = set()
        mani_dir = rel == "" or self._mani_isdir(tree, rel)
        for k in tree:
            if k.startswith(prefix) and k != rel:
                names.add(k[len(prefix):].split("/", 1)[0])
        phys = self._phys(rel)
        if _os.path.isdir(phys):
            names.update(_os.listdir(phys))
        elif not mani_dir and not names:
            if _os.path.isfile(phys):
                raise NotADirectoryError(path)
            raise FileNotFoundError(path)
        return sorted(names)

    def exists(self, path: str) -> bool:
        import os as _os

        self._heal()
        rel = self._rel(path)
        tree, _ = self._load()
        tree = tree["tree"]
        return (
            rel in tree
            or any(k.startswith(rel + "/") for k in tree)
            or _os.path.exists(self._phys(rel))
        )

    def isdir(self, path: str) -> bool:
        import os as _os

        self._heal()
        rel = self._rel(path)
        if rel == "":
            return True
        tree, _ = self._load()
        tree = tree["tree"]
        entry = tree.get(rel)
        if entry is not None:
            return entry.get("type") == "dir"
        if any(k.startswith(rel + "/") for k in tree):
            return True
        return _os.path.isdir(self._phys(rel))

    def makedirs(self, path: str, exist_ok: bool = False) -> None:
        import os as _os

        self._heal()
        rel = self._rel(path)
        tree, _ = self._load()
        tree = tree["tree"]
        if _under_file(tree, rel):
            raise NotADirectoryError(path)
        entry = tree.get(rel)
        if entry is not None and entry.get("type") == "file":
            raise FileExistsError(path)
        if entry is not None and not exist_ok:
            raise FileExistsError(path)
        _os.makedirs(self._phys(rel), exist_ok=exist_ok)

    def rmtree(self, path: str, ignore_errors: bool = False) -> None:
        import os as _os
        import shutil as _shutil

        self._heal()
        rel = self._rel(path)
        tree, _ = self._load()
        entry = tree["tree"].get(rel)
        if entry is not None and entry.get("type") == "file":
            if not ignore_errors:
                raise NotADirectoryError(path)
            return
        had_mani = rel in tree["tree"] or any(
            k.startswith(rel + "/") for k in tree["tree"]
        )
        had_phys = _os.path.exists(self._phys(rel))
        if not had_mani and not had_phys:
            if not ignore_errors:
                raise FileNotFoundError(path)
            return
        if had_mani:
            def rm(t: dict) -> None:
                for k in [
                    k for k in t if k == rel or k.startswith(rel + "/")
                ]:
                    t.pop(k)

            self._mutate(rm)
        if had_phys:
            _shutil.rmtree(self._phys(rel), ignore_errors=ignore_errors)

    def remove(self, path: str) -> None:
        import os as _os

        self._heal()
        rel = self._rel(path)
        tree, _ = self._load()
        tree = tree["tree"]
        if _under_file(tree, rel):
            # the ancestor file lives only in the manifest, so the
            # physical os.remove below would say ENOENT, not ENOTDIR
            raise NotADirectoryError(path)
        entry = tree.get(rel)
        if entry is not None and entry.get("type") == "file":
            def rm(t: dict) -> None:
                if rel in t:
                    t.pop(rel)
                else:
                    raise FileNotFoundError(path)

            self._mutate(rm)
            return
        if self._mani_isdir(tree, rel) or _os.path.isdir(self._phys(rel)):
            raise IsADirectoryError(path)
        _os.remove(self._phys(rel))

    def read_text(self, path: str) -> str:
        self._heal()
        rel = self._rel(path)
        tree, _ = self._load()
        if _under_file(tree["tree"], rel):
            raise NotADirectoryError(path)
        entry = tree["tree"].get(rel)
        if entry is not None and entry.get("type") == "file":
            return self.sim.get(entry["blob"]).decode("utf-8")
        # control files never live on the physical plane; a miss is a miss
        raise FileNotFoundError(path)

    def write_text(self, path: str, data: str) -> None:
        import os as _os

        self._heal()
        rel = self._rel(path)
        if _os.path.isdir(self._phys(rel)):
            raise IsADirectoryError(path)
        blob = self._put_blob(data.encode("utf-8"))

        def wr(tree: dict) -> None:
            if _under_file(tree, rel):
                raise NotADirectoryError(path)
            entry = tree.get(rel)
            if (entry is not None and entry.get("type") == "dir") or any(
                k.startswith(rel + "/") for k in tree
            ):
                raise IsADirectoryError(path)
            tree[rel] = {"type": "file", "blob": blob, "mtime": time.time()}

        self._mutate(wr)

    def copy_file(self, src: str, dst: str) -> None:
        import shutil as _shutil

        self._heal()
        src_rel, dst_rel = self._rel(src), self._rel(dst)
        tree, _ = self._load()
        entry = tree["tree"].get(src_rel)
        if entry is not None and entry.get("type") == "file":
            def cp(t: dict) -> None:
                e = t.get(src_rel)
                if e is None:
                    raise FileNotFoundError(src)
                t[dst_rel] = dict(e, mtime=time.time())

            self._mutate(cp)
            return
        _shutil.copy2(self._phys(src_rel), self._phys(dst_rel))

    def getmtime(self, path: str) -> float:
        import os as _os

        self._heal()
        rel = self._rel(path)
        tree, _ = self._load()
        entry = tree["tree"].get(rel)
        if entry is not None:
            return float(entry.get("mtime", 0.0))
        return _os.path.getmtime(self._phys(rel))

    def mtime_ns(self, path: str) -> int:
        import os as _os

        self._heal()
        rel = self._rel(path)
        tree, _ = self._load()
        entry = tree["tree"].get(rel)
        if entry is not None:
            return int(float(entry.get("mtime", 0.0)) * 1e9)
        return _os.stat(self._phys(rel)).st_mtime_ns

    def utime(self, path: str) -> None:
        import os as _os

        self._heal()
        rel = self._rel(path)
        tree, _ = self._load()
        if rel in tree["tree"]:
            def touch(t: dict) -> None:
                if rel in t:
                    t[rel]["mtime"] = time.time()

            self._mutate(touch)
            return
        _os.utime(self._phys(rel))

    def walk(self, path: str):
        import os as _os

        self._heal()
        rel = self._rel(path)
        tree, _ = self._load()
        tree = tree["tree"]
        # physical walk first, then overlay manifest file names into the
        # directories they belong to (manifest dirs are materialized by
        # _heal, so dir structure is physical by the time we walk)
        extra: dict[str, list[str]] = {}
        for k, e in tree.items():
            if e.get("type") != "file":
                continue
            if not (k.startswith(rel + "/") or rel == ""):
                continue
            parent, _, name = k.rpartition("/")
            extra.setdefault(parent, []).append(name)
        for top, dirs, files in _os.walk(self._phys(rel)):
            top_rel = self._rel(top)
            names = set(files) | set(extra.pop(top_rel, []))
            yield top, sorted(dirs), sorted(names)
        for parent, names in sorted(extra.items()):
            yield self._phys(parent), [], sorted(names)
