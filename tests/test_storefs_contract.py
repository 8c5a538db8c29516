"""The storefs contract as a parameterized test suite over REAL backends
(r12 VERDICT item 4): the POSIX backend and the manifest-pointer
object-store shim must pass every clause; the naive copy+delete port must
fail EXACTLY the clauses the contract names. This turns "object store =
adapter, not rewrite" from an assertion into a green test.

The suite drives the backends directly (storefs primitives + the digest
store's control-plane publish protocol, crash injection included) — the
data-plane parquet I/O travels through Hadoop FileSystem and is out of
this seam's scope (documented in storefs_object.py).
"""

from __future__ import annotations

import os

import pytest

from spark_streaming_logservice_spark.streaming import storefs
from spark_streaming_logservice_spark.streaming.storefs_object import (
    HybridManifestBackend,
    ManifestObjectStoreBackend,
    NaiveObjectStoreBackend,
    ObjectStoreSim,
)


class _Env:
    """One backend + a root path it manages + backend-specific crash
    injectors around the publish primitive."""

    def __init__(self, name, backend, root, crashy_publish):
        self.name = name
        self.backend = backend
        self.root = root
        # crashy_publish(kind) -> a backend whose publish_rename crashes
        # at the named window: 'before_atomic' | 'after_atomic'
        self.crashy_publish = crashy_publish

    def path(self, *parts):
        return self.backend.join(self.root, *parts)


def _posix_env(tmp_path) -> _Env:
    root = str(tmp_path / "store")
    os.makedirs(root)

    class _CrashingPosix(storefs.Backend):
        def __init__(self, kind):
            self.kind = kind

        def publish_rename(self, src, dst):
            if self.kind == "before_atomic":
                raise OSError("injected crash before rename")
            os.rename(src, dst)  # the ONE atomic step
            raise OSError("injected crash after rename")

    return _Env("posix", storefs.Backend(), root, _CrashingPosix)


def _manifest_env(tmp_path) -> _Env:
    # list_lag=True on purpose: the manifest design must be IMMUNE to
    # lagging listings (clause 3) because it never consults them
    sim = ObjectStoreSim(list_lag=True)
    root = "bucket/store"
    b = ManifestObjectStoreBackend(sim, root)

    def crashy(kind):
        return ManifestObjectStoreBackend(
            sim, root,
            crash_before_cas=(kind == "before_atomic"),
            crash_after_cas=(kind == "after_atomic"),
        )

    return _Env("manifest", b, root, crashy)


def _hybrid_env(tmp_path) -> _Env:
    """Manifest control plane + physical data plane (the backend the
    end-to-end store suite runs the real stores on) — it must pass the
    same contract clauses as the pure backends."""
    root = str(tmp_path / "store")
    os.makedirs(root)
    sim = ObjectStoreSim(list_lag=True)
    b = HybridManifestBackend(sim, root)

    def crashy(kind):
        return HybridManifestBackend(
            sim, root,
            crash_before_cas=(kind == "before_atomic"),
            crash_after_cas=(kind == "after_atomic"),
        )

    return _Env("hybrid", b, root, crashy)


ENVS = {"posix": _posix_env, "manifest": _manifest_env, "hybrid": _hybrid_env}


@pytest.fixture(params=sorted(ENVS))
def env(request, tmp_path) -> _Env:
    return ENVS[request.param](tmp_path)


def _stage(env: _Env, name: str, files: dict[str, str]) -> str:
    staging = env.path(name)
    env.backend.makedirs(staging, exist_ok=True)
    for fname, data in files.items():
        env.backend.write_text(env.backend.join(staging, fname), data)
    return staging


FILES = {"part-0": "alpha", "part-1": "beta", "part-2": "gamma"}


# --- clause 1: atomic, non-copying publish ---------------------------------

def test_publish_rename_completes_and_unstages(env):
    staging = _stage(env, "_staging-q-0-abc", FILES)
    final = env.path("q-batch-0.parquet")
    env.backend.publish_rename(staging, final)
    assert sorted(env.backend.listdir(final)) == sorted(FILES)
    for fname, data in FILES.items():
        assert env.backend.read_text(env.backend.join(final, fname)) == data
    assert not env.backend.exists(staging), "src must not linger"


def test_unpublished_staging_is_invisible_to_store_probe(env):
    """Crash BEFORE publish: the staging dir may exist, but the final name
    does not — the store probe (final-name listing) sees nothing."""
    _stage(env, "_staging-q-0-abc", FILES)
    assert not env.backend.exists(env.path("q-batch-0.parquet"))
    published = [
        f for f in env.backend.listdir(env.root)
        if not f.startswith("_staging")
    ]
    assert published == []


@pytest.mark.parametrize("window", ["before_atomic", "after_atomic"])
def test_publish_crash_windows_leave_dst_absent_or_complete(env, window):
    """THE clause-1 property: a crash at any instant inside publish leaves
    dst either absent or COMPLETE — never partial. Both backends have
    exactly one atomic step, so both windows are covered exhaustively."""
    staging = _stage(env, "_staging-q-1-abc", FILES)
    final = env.path("q-batch-1.parquet")
    crashy = env.crashy_publish(window)
    with pytest.raises(OSError, match="injected"):
        crashy.publish_rename(staging, final)
    if env.backend.exists(final):
        assert sorted(env.backend.listdir(final)) == sorted(FILES), (
            "partial destination visible — clause 1 violated"
        )
    # recovery converges: sweep leftovers, restage, publish for real
    if env.backend.exists(staging):
        env.backend.rmtree(staging, ignore_errors=True)
    if not env.backend.exists(final):
        staging = _stage(env, "_staging-q-1-def", FILES)
        env.backend.publish_rename(staging, final)
    assert sorted(env.backend.listdir(final)) == sorted(FILES)


# --- clause 2: atomic small-file replace ------------------------------------

def test_replace_file_is_old_or_new_never_torn(env):
    flag = env.path("_flags.json")
    for content in ("v1", "v2-longer-content", "v3"):
        tmp = flag + ".tmp"
        env.backend.write_text(tmp, content)
        env.backend.replace_file(tmp, flag)
        assert env.backend.read_text(flag) == content
        assert not env.backend.exists(tmp)


# --- clause 3: read-after-publish visibility --------------------------------

def test_published_objects_visible_immediately(env):
    """Control files and published dirs appear in listings at once — for
    the manifest backend this runs over a NEVER-SETTLED lagging store, so
    passing means the design is immune to list lag, not lucky timing."""
    env.backend.write_text(env.path("pin"), "xxhash64")
    staging = _stage(env, "_staging-q-2-abc", FILES)
    env.backend.publish_rename(staging, env.path("q-batch-2.parquet"))
    names = env.backend.listdir(env.root)
    assert "pin" in names and "q-batch-2.parquet" in names
    assert env.backend.isdir(env.path("q-batch-2.parquet"))


# --- clause 5: key construction ---------------------------------------------

def test_join_accepts_posix_separated_keys(env):
    p = env.backend.join(env.root, "a", "b", "c.txt")
    assert p.endswith("a/b/c.txt")


# --- the digest store's publish protocol, end to end ------------------------

def test_digest_store_control_plane_protocol(env, tmp_path):
    """The exact sequence dedup_on_ingest runs per batch (control plane):
    pin → sweep own staging orphans → stage+publish batch data → marker;
    then a crash-injected retry and a SECOND writer instance (fresh
    manifest/backend state, same store) proving recovery reads converge.
    Mirrors tests/test_storefs.py's injected-publish pattern one level
    down, against both backends."""
    b = env.backend
    # batch 0, attempt 1: pin, stage, CRASH at publish
    b.write_text(env.path("_digest_impl"), "xxhash64")
    _stage(env, "_staging-q-0-attempt1", {"data": "digests-batch-0"})
    crashy = env.crashy_publish("before_atomic")
    with pytest.raises(OSError, match="injected"):
        crashy.publish_rename(
            env.path("_staging-q-0-attempt1"), env.path("q-batch-0.parquet")
        )
    assert not b.exists(env.path("q-batch-0.parquet"))

    # retry (streaming redelivery): sweep own orphans, restage, publish
    for f in b.listdir(env.root):
        if f.startswith("_staging-q-"):
            b.rmtree(env.path(f), ignore_errors=True)
    _stage(env, "_staging-q-0-attempt2", {"data": "digests-batch-0"})
    b.publish_rename(
        env.path("_staging-q-0-attempt2"), env.path("q-batch-0.parquet")
    )
    b.write_text(env.path("q-batch-0.done"), "ok")

    # a FRESH reader instance (new run over the same store) sees exactly
    # the published state: for the manifest backend this is a new object
    # over the same sim — its view comes from the manifest, not memory
    if env.name == "manifest":
        reader = ManifestObjectStoreBackend(env.backend.sim, env.root)
    elif env.name == "hybrid":
        reader = HybridManifestBackend(env.backend.sim, env.root)
    else:
        reader = storefs.Backend()
    published = sorted(
        f for f in reader.listdir(env.root) if f.endswith(".parquet")
    )
    assert published == ["q-batch-0.parquet"]
    assert reader.read_text(env.path("_digest_impl")) == "xxhash64"
    assert reader.exists(env.path("q-batch-0.done"))
    assert (
        reader.read_text(env.backend.join(env.path("q-batch-0.parquet"), "data"))
        == "digests-batch-0"
    )
    # replay guard: marker exists -> the batch short-circuits; publish of
    # the same final name again must refuse (manifest) or be skipped by
    # the final-file guard (both stores check exists(final) first)
    assert reader.exists(env.path("q-batch-0.parquet"))


# --- the naive port fails EXACTLY the named clauses --------------------------

def test_naive_copy_delete_rename_violates_clause_1():
    """Copy+delete publish, crashed after one object: the destination is
    VISIBLE and PARTIAL — precisely the torn state clause 1 forbids. The
    suite detecting this is the reason the manifest design exists."""
    sim = ObjectStoreSim()
    naive = NaiveObjectStoreBackend(sim, crash_after_copies=1)
    ok = NaiveObjectStoreBackend(sim)
    for fname, data in FILES.items():
        ok.write_text(f"bucket/store/_staging-q-0-x/{fname}", data)
    with pytest.raises(OSError, match="injected"):
        naive.publish_rename(
            "bucket/store/_staging-q-0-x", "bucket/store/q-batch-0.parquet"
        )
    assert ok.exists("bucket/store/q-batch-0.parquet"), (
        "expected the naive port to expose the torn destination"
    )
    assert 0 < len(ok.listdir("bucket/store/q-batch-0.parquet")) < len(FILES), (
        "expected a PARTIAL destination — the clause-1 violation"
    )


def test_naive_lagging_list_violates_clause_3():
    """A lagging LIST hides a just-published control file from the naive
    backend's listdir (clause 3 violated); the manifest backend over the
    SAME store sees its published state immediately."""
    sim = ObjectStoreSim(list_lag=True)
    naive = NaiveObjectStoreBackend(sim)
    naive.write_text("bucket/store/pin", "xxhash64")
    assert "pin" not in naive.listdir("bucket/store"), (
        "lag did not manifest — test setup broken"
    )
    sim.settle()
    assert "pin" in naive.listdir("bucket/store")

    mani = ManifestObjectStoreBackend(sim, "bucket/store2")
    mani.write_text("bucket/store2/pin", "xxhash64")
    assert "pin" in mani.listdir("bucket/store2"), (
        "manifest backend must be immune to list lag"
    )


def test_manifest_concurrent_writers_serialize_on_cas():
    """Two writer instances over one store: interleaved control writes all
    land (lost CAS races retry), and publish of the same final name twice
    refuses the second — the coordination POSIX rename gave for free."""
    sim = ObjectStoreSim()
    w1 = ManifestObjectStoreBackend(sim, "bucket/store")
    w2 = ManifestObjectStoreBackend(sim, "bucket/store")
    w1.write_text("bucket/store/a", "1")
    w2.write_text("bucket/store/b", "2")
    w1.write_text("bucket/store/c", "3")
    assert sorted(w1.listdir("bucket/store")) == ["a", "b", "c"]
    for fname, data in FILES.items():
        w1.write_text(f"bucket/store/_staging-x/{fname}", data)
        w2.write_text(f"bucket/store/_staging-y/{fname}", data)
    w1.publish_rename("bucket/store/_staging-x", "bucket/store/final")
    with pytest.raises(FileExistsError):
        w2.publish_rename("bucket/store/_staging-y", "bucket/store/final")
    assert sorted(w2.listdir("bucket/store/final")) == sorted(FILES)


def test_manifest_gc_collects_only_unreachable_blobs():
    """Crashed write_text attempts and rmtree'd files leave orphan blobs
    (documented: correctness never depends on collecting them); gc_blobs
    reclaims exactly those and never a reachable blob."""
    sim = ObjectStoreSim()
    b = ManifestObjectStoreBackend(sim, "bucket/store")
    b.write_text("bucket/store/keep", "live")
    b.write_text("bucket/store/doomed", "bye")
    b.remove("bucket/store/doomed")         # orphan 1: removed file
    sim.put(f"{b.root}/__blobs__/{'0' * 32}", b"torn")  # orphan 2: a
    # write_text that crashed between the blob PUT and the manifest CAS
    n_blobs_before = len(sim.list(f"{b.root}/__blobs__/"))
    assert b.gc_blobs() == 2
    assert len(sim.list(f"{b.root}/__blobs__/")) == n_blobs_before - 2
    assert b.read_text("bucket/store/keep") == "live"
    assert b.gc_blobs() == 0  # idempotent


def test_manifest_cas_under_real_thread_contention():
    """N threads × M writes against ONE manifest root: every write lands
    (no lost update), the final manifest is consistent — the CAS retry
    loop is the whole coordination story and this is its stress test."""
    import threading

    sim = ObjectStoreSim()
    n_threads, n_writes = 8, 25
    errors = []

    def writer(tid):
        b = ManifestObjectStoreBackend(sim, "bucket/store")
        try:
            for i in range(n_writes):
                b.write_text(f"bucket/store/t{tid}/f{i}", f"{tid}:{i}")
        except Exception as ex:  # pragma: no cover - failure path
            errors.append(ex)

    threads = [
        threading.Thread(target=writer, args=(t,)) for t in range(n_threads)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    reader = ManifestObjectStoreBackend(sim, "bucket/store")
    for tid in range(n_threads):
        names = reader.listdir(f"bucket/store/t{tid}")
        assert len(names) == n_writes, f"lost updates for writer {tid}"
        assert reader.read_text(f"bucket/store/t{tid}/f7") == f"{tid}:7"


# --- clause: file/dir name collisions raise POSIX error types ---------------
# (ADVICE r13: the manifest shim's makedirs(file, exist_ok=True) silently
# kept the file entry where os.makedirs raises — exist_ok only pardons an
# existing DIRECTORY)

def test_makedirs_over_file_raises_even_with_exist_ok(env):
    p = env.path("collide")
    env.backend.write_text(p, "i am a file")
    with pytest.raises(FileExistsError):
        env.backend.makedirs(p, exist_ok=True)
    with pytest.raises(FileExistsError):
        env.backend.makedirs(p, exist_ok=False)
    assert env.backend.read_text(p) == "i am a file", (
        "the file entry must survive the failed makedirs"
    )


def test_makedirs_under_file_ancestor_raises_notadirectory(env):
    env.backend.write_text(env.path("anc"), "file")
    with pytest.raises(NotADirectoryError):
        env.backend.makedirs(env.path("anc", "child"), exist_ok=True)


def test_file_ops_under_file_ancestor_raise_notadirectory(env):
    # a file published over a directory name: POSIX resolves nothing
    # through it, so remove/read/write beneath it are ENOTDIR, not ENOENT
    env.backend.write_text(env.path("src"), "x")
    env.backend.publish_rename(env.path("src"), env.path("pub"))
    under = env.path("pub", "b.txt")
    with pytest.raises(NotADirectoryError):
        env.backend.remove(under)
    with pytest.raises(NotADirectoryError):
        env.backend.read_text(under)
    with pytest.raises(NotADirectoryError):
        env.backend.write_text(under, "y")
    assert env.backend.read_text(env.path("pub")) == "x"


def test_write_and_replace_over_dir_raise_isadirectory(env):
    d = env.path("adir")
    env.backend.makedirs(d)
    with pytest.raises(IsADirectoryError):
        env.backend.write_text(d, "clobber")
    tmp = env.path("t.tmp")
    env.backend.write_text(tmp, "x")
    with pytest.raises(IsADirectoryError):
        env.backend.replace_file(tmp, d)
    assert env.backend.isdir(d)


def test_listdir_over_file_raises_notadirectory(env):
    f = env.path("justafile")
    env.backend.write_text(f, "x")
    with pytest.raises(NotADirectoryError):
        env.backend.listdir(f)


def test_remove_dir_and_rmtree_file_raise_posix_types(env):
    d = env.path("adir2")
    env.backend.makedirs(d)
    with pytest.raises(IsADirectoryError):
        env.backend.remove(d)
    f = env.path("afile")
    env.backend.write_text(f, "keep me")
    with pytest.raises(NotADirectoryError):
        env.backend.rmtree(f)
    env.backend.rmtree(f, ignore_errors=True)  # suppressed, file survives
    assert env.backend.read_text(f) == "keep me"


# --- property: the two PASSING backends are observationally equivalent ------
# For any op sequence the stores can produce (they makedirs before writing
# and guard publishes with exists(final)), the POSIX backend and the
# manifest shim must expose identical state — same files, same contents,
# same listings, same error types. Hypothesis drives random sequences;
# a divergence here is a contract bug one suite clause missed.

# pytest.importorskip (not a bare try/except ImportError) so an
# environment without hypothesis reports a visible skip instead of the
# property silently not existing
_hyp = pytest.importorskip("hypothesis")
if True:
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    # "d2" appears in BOTH sets on purpose (ADVICE r13): file/dir name
    # collisions must diverge identically — makedirs over a file raises
    # FileExistsError even with exist_ok=True, write/replace over a dir
    # raises IsADirectoryError, rmtree over a file leaves it in place
    _FILES = ["a.txt", "d0/b.txt", "d0/c.txt", "d1/e.txt", "d2"]
    _DIRS = ["d0", "d1", "d2"]
    _OPS = st.lists(
        st.one_of(
            st.tuples(st.just("mkdir"), st.sampled_from(_DIRS)),
            st.tuples(
                st.just("write"),
                st.sampled_from(_FILES),
                st.sampled_from(["x", "yy", "zzz"]),
            ),
            st.tuples(
                st.just("replace"),
                st.sampled_from(_FILES),
                st.sampled_from(["r1", "r2"]),
            ),
            st.tuples(
                st.just("publish"),
                st.sampled_from(_DIRS),
                st.sampled_from(_DIRS),
            ),
            st.tuples(st.just("remove"), st.sampled_from(_FILES)),
            st.tuples(st.just("rmtree"), st.sampled_from(_DIRS)),
        ),
        max_size=12,
    )

    def _apply(b, root, op):
        """Run one store-shaped op; return an observable outcome tag."""
        j = b.join
        try:
            if op[0] == "mkdir":
                b.makedirs(j(root, op[1]), exist_ok=True)
            elif op[0] == "write":
                parent = op[1].rsplit("/", 1)[0] if "/" in op[1] else None
                if parent:
                    b.makedirs(j(root, parent), exist_ok=True)
                b.write_text(j(root, op[1]), op[2])
            elif op[0] == "replace":
                parent = op[1].rsplit("/", 1)[0] if "/" in op[1] else None
                if parent:
                    b.makedirs(j(root, parent), exist_ok=True)
                tmp = j(root, op[1]) + ".tmp"
                b.write_text(tmp, op[2])
                b.replace_file(tmp, j(root, op[1]))
            elif op[0] == "publish":
                src, dst = j(root, op[1]), j(root, op[2])
                if not b.exists(src) or b.exists(dst):
                    return "guarded"  # the stores' own publish guard
                b.publish_rename(src, dst)
            elif op[0] == "remove":
                b.remove(j(root, op[1]))
            elif op[0] == "rmtree":
                b.rmtree(j(root, op[1]), ignore_errors=True)
            return "ok"
        except FileNotFoundError:
            return "enoent"
        except IsADirectoryError:
            return "eisdir"
        except NotADirectoryError:
            return "enotdir"
        except FileExistsError:
            return "eexist"

    def _observe(b, root):
        j = b.join
        state = {}
        for d in [""] + _DIRS:
            p = j(root, d) if d else root
            if b.isdir(p):
                state[f"ls:{d}"] = sorted(b.listdir(p))
        for f in _FILES:
            p = j(root, f)
            if b.exists(p):
                try:
                    state[f"cat:{f}"] = b.read_text(p)
                except (FileNotFoundError, IsADirectoryError):
                    state[f"cat:{f}"] = "<dir>"
        return state

    @settings(max_examples=120, deadline=None)
    @given(ops=_OPS)
    @example(ops=[
        ("write", "d2", "x"), ("publish", "d2", "d0"), ("remove", "d0/b.txt"),
    ])
    def test_posix_and_manifest_backends_observationally_equivalent(ops):
        import shutil
        import tempfile

        posix_root = tempfile.mkdtemp(prefix="storefs-prop-")
        hybrid_root = tempfile.mkdtemp(prefix="storefs-prop-hy-")
        try:
            posix = storefs.Backend()
            mani = ManifestObjectStoreBackend(
                ObjectStoreSim(list_lag=True), "bucket/prop"
            )
            hybrid = HybridManifestBackend(
                ObjectStoreSim(list_lag=True), hybrid_root
            )
            for op in ops:
                rp = _apply(posix, posix_root, op)
                rm = _apply(mani, "bucket/prop", op)
                rh = _apply(hybrid, hybrid_root, op)
                assert rp == rm == rh, (
                    f"outcome diverged on {op}: {rp} vs {rm} vs {rh}"
                )
            sp = _observe(posix, posix_root)
            sm = _observe(mani, "bucket/prop")
            sh = _observe(hybrid, hybrid_root)
            # normalize the roots out of listings (names only, already are)
            assert sp == sm == sh, f"state diverged after {ops}"
        finally:
            shutil.rmtree(posix_root, ignore_errors=True)
            shutil.rmtree(hybrid_root, ignore_errors=True)

