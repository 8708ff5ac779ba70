"""Portable filesystem seam for the lakehouse stores.

Every store in this package (the z-order metrics/corpus stores, the
sketch store, the production layout committer) publishes through the
same handful of filesystem primitives: conditional create (the pointer
log), atomic rename (the two-rename snapshot swap the non-z-order
stores use), recursive delete, staged-file move-in, orphan listing by
glob, and an mtime-based vacuum grace.  Until r13 those were
hardwired to POSIX ``os``/``shutil``/``glob`` calls — correct on a
local disk, nonsensical on the object stores a 100 TB deployment
actually lives on (S3 has no rename; HDFS renames differ in edge
semantics).  The reference has the same seam one level down: its
volume/metadata layer (/root/reference/libakumuli/storage_engine/
volume.cpp, metadatastorage.cpp) isolates "where bytes live" from the
tree logic — this module is that seam for the Parquet stores.

Two implementations ship:

* :class:`LocalStoreFS` — the POSIX default, byte-for-byte the calls
  the stores made before the seam existed.
* :class:`HadoopStoreFS` — routes the same primitives through the JVM's
  ``org.apache.hadoop.fs.FileSystem`` (reached over the active
  SparkSession's gateway), so any filesystem Spark itself can read —
  ``file://``, ``hdfs://``, ``s3a://``, ``gs://``, ``abfs://`` — serves
  the stores with no store-code changes.  Rename is coerced to POSIX
  semantics (raise when the destination exists or the move fails):
  Hadoop's ``rename`` otherwise moves *into* an existing directory.

Resolution is by path scheme (:func:`get_fs`): a ``scheme://`` path
routes to Hadoop, a bare path to POSIX — the same rule Spark applies
to ``spark.read.parquet`` — so the stores stay signature-compatible
and a caller opts into the portable path simply by addressing the
store with a URI (the lifecycle tests run the full build/append/
optimize/vacuum cycle over ``file://`` URIs through the Hadoop route).

The module is also the one home of every store write protocol built
on those primitives; each store calls these instead of writing its own:

* two-rename compaction — :func:`swap_compact` (clear
  ``{path}.compact-tmp``, run the caller's writer, two renames) and its
  heal :func:`recover_compaction`, for the layout table, the sketch
  store, the Bloom store, the BM25 index tables and the IVF index root;
* pointer-log publish — :meth:`CasLog.publish` (read the current
  snapshot, merge, write, claim; re-merge on a lost claim), for the
  z-store manifest/meta/ledger tables, the z-store catalog and the
  ingest marks table;
* staged move-in — :func:`stage_dir` names a writer's private
  ``{path}.append-tmp-<uuid>`` sibling and :func:`move_in` moves its
  data files in, for layout appends and every z-store write;
* partition expiry — :func:`expire_buckets` drops ``ts_bucket=``
  dirs through a ``{path}.trash`` sibling, for layout retention and
  the sketch store's expiry.

Object-store honesty: on S3/GCS, "rename" is copy+delete, so the
two-rename swap is NOT an atomic publish there.  The production commit
on those stores is a conditional PUT (S3 ``If-None-Match``, GCS
``x-goods-if-generation-match: 0``) — exactly the semantics of
:meth:`StoreFilesystem.create_exclusive`.  :class:`CasLog` builds the
manifest commit on that single primitive: each manifest version is an
immutable directory plus a pointer object created-if-absent under a
monotonic sequence number; the highest pointer is the current
snapshot, a lost create is a CAS conflict the writer resolves by
re-reading and re-merging (Delta's ``_delta_log`` protocol, restated
over the seam).  Data files never need an atomic move — they are
invisible until a manifest version names them.  The z-stores, the
z-store catalog and the ingest marks table commit this way on every
filesystem.  :class:`MemoryStoreFS` is the fault-injecting fake that
pins the protocol's crash/conflict matrix in pytest without a real
object store.
"""

from __future__ import annotations

import contextlib
import os
import posixpath
import time
from urllib.parse import urlparse


class StoreFilesystem:
    """The primitives a store's publish/maintenance path needs.  All
    paths are strings — plain POSIX paths for the local impl, full
    URIs for Hadoop-backed ones.  Relative results (``walk_files``,
    ``glob``) are POSIX-style relative paths, joinable with
    ``posixpath.join(base, rel)`` on either impl."""

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def rename(self, src: str, dst: str) -> None:
        """Atomic move with POSIX semantics: raises :class:`OSError`
        when the source is missing, the destination directory exists,
        or the filesystem refuses the move."""
        raise NotImplementedError

    def rmtree(self, path: str) -> None:
        """Recursive delete; missing path is a no-op."""
        raise NotImplementedError

    def remove(self, path: str) -> None:
        """Delete one file (raises OSError if missing)."""
        raise NotImplementedError

    def makedirs(self, path: str) -> None:
        raise NotImplementedError

    def walk_files(self, base: str) -> list[str]:
        """All files under ``base`` (recursive), as relative paths."""
        raise NotImplementedError

    def glob(self, base: str, pattern: str) -> list[str]:
        """Relative paths under ``base`` matching the (slash-separated,
        ``*``-wildcard) pattern — the store layer only ever needs
        ``metric=*/ts_bucket=*``-style shapes."""
        raise NotImplementedError

    def getmtime(self, path: str) -> float:
        """Modification time, epoch seconds (raises OSError if gone)."""
        raise NotImplementedError

    def create_exclusive(self, path: str, data: bytes = b"") -> bool:
        """Atomically create a file (with optional content); False if
        it already exists.  The conditional-PUT primitive behind
        :class:`CasLog` — on S3/GCS this maps to ``If-None-Match``."""
        raise NotImplementedError

    def claim_exclusive(self, path: str, data: bytes) -> bool:
        """Like :meth:`create_exclusive`, but the content must appear
        ATOMICALLY with the file — a concurrent reader sees either no
        file or the complete payload, never an empty claim.  This is
        :class:`CasLog`'s pointer-commit primitive: pointer-exists ⇒
        snapshot-readable is what lets a conflicting writer distinguish
        "someone committed, my merge is stale" from "a crashed claim
        burned this slot".  POSIX implements it with hard-link-from-
        temp; S3's conditional PUT carries the body in the same
        request; plain HDFS keeps the (millisecond) create-to-close
        window, which :meth:`CasLog.commit_above` additionally fences
        with a grace before declaring a slot burned."""
        return self.create_exclusive(path, data)

    def read_bytes(self, path: str) -> bytes:
        """Whole-file read (metadata-sized files only — the sketch
        store's one-row meta parquet)."""
        raise NotImplementedError

    def write_bytes(self, path: str, data: bytes) -> None:
        """Overwrite-write a small file (pointer and marker
        files).  As atomic as the filesystem allows: POSIX goes through
        a same-directory temp + ``os.replace``; Hadoop uses
        ``create(overwrite)``; a reader never sees a torn payload on
        POSIX/HDFS and callers treat unreadable/short content as
        "absent" everywhere else."""
        raise NotImplementedError

class LocalStoreFS(StoreFilesystem):
    """POSIX implementation — the pre-seam behavior, verbatim."""

    def exists(self, path):
        return os.path.exists(path)

    def rename(self, src, dst):
        # refuse ANY existing destination (os.rename would silently
        # replace a dst FILE) so both seam implementations honor the
        # one documented POSIX-coercion semantic (ADVICE r13)
        if os.path.exists(dst):
            raise OSError(f"rename destination exists: {dst}")
        os.rename(src, dst)

    def rmtree(self, path):
        import shutil

        shutil.rmtree(path, ignore_errors=True)

    def remove(self, path):
        os.remove(path)

    def makedirs(self, path):
        os.makedirs(path, exist_ok=True)

    def walk_files(self, base):
        out = []
        for root, _dirs, files in os.walk(base):
            rel = os.path.relpath(root, base)
            for f in files:
                out.append(f if rel == "." else posixpath.join(rel, f))
        return out

    def glob(self, base, pattern):
        import glob as _glob

        hits = _glob.glob(os.path.join(base, pattern))
        return [os.path.relpath(h, base) for h in hits]

    def getmtime(self, path):
        return os.path.getmtime(path)

    def create_exclusive(self, path, data=b""):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        try:
            if data:
                os.write(fd, data)
        finally:
            os.close(fd)
        return True

    def read_bytes(self, path):
        with open(path, "rb") as fh:
            return fh.read()

    def write_bytes(self, path, data):
        # same-directory temp + replace: readers see old or new bytes,
        # never a torn write — the marks CURRENT pointer relies on this
        import uuid as _uuid

        tmp = f"{path}.wtmp-{_uuid.uuid4().hex}"
        with open(tmp, "wb") as fh:
            fh.write(data)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)

    def claim_exclusive(self, path, data):
        # hard-link from a complete temp file: the claim is atomic WITH
        # its content (link(2) fails with EEXIST, never replaces), so a
        # reader can never observe an empty pointer
        import uuid as _uuid

        tmp = f"{path}.claim-{_uuid.uuid4().hex}"
        with open(tmp, "wb") as fh:
            fh.write(data)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            with contextlib.suppress(OSError):
                os.unlink(tmp)

class HadoopStoreFS(StoreFilesystem):
    """``org.apache.hadoop.fs.FileSystem``-backed implementation over
    the active SparkSession's JVM gateway.  One instance per URI scheme
    + authority (Hadoop caches the underlying FileSystem objects)."""

    def __init__(self, spark=None):
        if spark is None:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                "HadoopStoreFS needs an active SparkSession (JVM gateway)"
            )
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()

    def _p(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def _fs(self, path: str):
        return self._p(path).getFileSystem(self._conf)

    def exists(self, path):
        return bool(self._fs(path).exists(self._p(path)))

    def rename(self, src, dst):
        fs = self._fs(src)
        if fs.exists(self._p(dst)):
            # Hadoop rename would move src INTO an existing dst dir;
            # the swap protocol needs the POSIX refusal instead
            raise OSError(f"rename destination exists: {dst}")
        if not fs.exists(self._p(src)):
            raise OSError(f"rename source missing: {src}")
        if not fs.rename(self._p(src), self._p(dst)):
            raise OSError(f"rename failed: {src} -> {dst}")

    def rmtree(self, path):
        fs = self._fs(path)
        if fs.exists(self._p(path)):
            fs.delete(self._p(path), True)

    def remove(self, path):
        fs = self._fs(path)
        if not fs.exists(self._p(path)):
            raise OSError(f"no such file: {path}")
        if not fs.delete(self._p(path), False):
            raise OSError(f"delete failed: {path}")

    def makedirs(self, path):
        self._fs(path).mkdirs(self._p(path))

    def _path_part(self, jpath) -> str:
        return jpath.toUri().getPath()

    def walk_files(self, base):
        fs = self._fs(base)
        if not fs.exists(self._p(base)):
            return []
        base_pp = self._path_part(self._p(base))
        it = fs.listFiles(self._p(base), True)
        out = []
        while it.hasNext():
            st = it.next()
            pp = self._path_part(st.getPath())
            rel = posixpath.relpath(pp, base_pp)
            out.append(rel)
        return out

    def glob(self, base, pattern):
        fs = self._fs(base)
        base_pp = self._path_part(self._p(base))
        stats = fs.globStatus(self._p(posixpath.join(base, pattern)))
        if stats is None:
            return []
        return [
            posixpath.relpath(self._path_part(s.getPath()), base_pp)
            for s in stats
        ]

    def getmtime(self, path):
        fs = self._fs(path)
        if not fs.exists(self._p(path)):
            raise OSError(f"no such path: {path}")
        return fs.getFileStatus(self._p(path)).getModificationTime() / 1000.0

    def create_exclusive(self, path, data=b""):
        fs = self._fs(path)
        try:
            # create(path, overwrite=False) is the atomic-exclusive
            # create on HDFS (namenode-enforced); on S3A with Hadoop
            # 3.4.1+ conditional writes it maps to an If-None-Match
            # PUT at close — the CasLog commit primitive
            stream = fs.create(self._p(path), False)
        except Exception:
            return False
        try:
            if data:
                stream.write(bytearray(data))
            stream.close()
            return True
        except Exception:
            # we WON the create but the content write died: an empty
            # pointer would stall every other writer for a full burn
            # grace (it looks like an in-flight claim) — clean up our
            # own partial claim before reporting failure
            with contextlib.suppress(Exception):
                stream.close()
            with contextlib.suppress(Exception):
                fs.delete(self._p(path), False)
            return False

    def read_bytes(self, path):
        fs = self._fs(path)
        try:
            stream = fs.open(self._p(path))
        except Exception as exc:
            # missing/raced-away files surface as the interface's
            # OSError, not a gateway exception — callers
            # (CasLog.current, legacy pointer fallback) treat
            # "unreadable" as "absent"
            raise OSError(f"cannot open {path}: {exc}") from None
        try:
            data = self._jvm.org.apache.commons.io.IOUtils.toByteArray(
                stream
            )
        finally:
            stream.close()
        return bytes(data)

    def write_bytes(self, path, data):
        fs = self._fs(path)
        stream = fs.create(self._p(path), True)
        try:
            if data:
                stream.write(bytearray(data))
        finally:
            stream.close()

class MemoryStoreFS(StoreFilesystem):
    """In-memory fake with OBJECT-STORE semantics, for protocol tests:

    * ``rename`` is copy+delete per file (never atomic — the S3 truth),
      with a fault hook between every step so a test can crash a writer
      mid-"rename" and assert the protocol survives partial state;
    * ``create_exclusive`` is an atomic conditional PUT (what S3
      ``If-None-Match`` / GCS generation-match give you) — the ONE
      primitive :class:`CasLog` correctness rests on;
    * the clock is injectable (:meth:`advance`) so burn graces and
      vacuum grace are tested without sleeping.

    ``on_op(op, path)`` is called at the top of every primitive; a test
    hook raises to simulate a crash at exactly that step."""

    class Fault(RuntimeError):
        """Raised by a test's ``on_op`` hook to simulate a crash."""

    def __init__(self):
        import threading

        self._files: dict[str, tuple[bytes, float]] = {}
        self._dirs: set[str] = set()
        self._mu = threading.Lock()
        self._now = 1_000.0
        self.on_op = None

    # -- test controls ----------------------------------------------------

    def advance(self, seconds: float) -> None:
        self._now += seconds

    def now(self) -> float:
        return self._now

    def _hook(self, op: str, path: str) -> None:
        if self.on_op is not None:
            self.on_op(op, path)

    @staticmethod
    def _norm(path: str) -> str:
        return path.rstrip("/")

    # -- primitives ---------------------------------------------------------

    def exists(self, path):
        p = self._norm(path)
        with self._mu:
            if p in self._files or p in self._dirs:
                return True
            pre = p + "/"
            return any(f.startswith(pre) for f in self._files) or any(
                d.startswith(pre) for d in self._dirs
            )

    def _is_dir(self, p: str) -> bool:
        pre = p + "/"
        return p in self._dirs or any(
            f.startswith(pre) for f in self._files
        ) or any(d.startswith(pre) for d in self._dirs)

    def rename(self, src, dst):
        src, dst = self._norm(src), self._norm(dst)
        if self.exists(dst):
            raise OSError(f"rename destination exists: {dst}")
        if not self.exists(src):
            raise OSError(f"rename source missing: {src}")
        # object-store "rename": copy each object, then delete each —
        # a hook may crash between any two steps (no atomicity to rely
        # on; CasLog is how stores stay correct anyway)
        with self._mu:
            if src in self._files:
                moves = [(src, dst)]
            else:
                pre = src + "/"
                moves = [
                    (f, dst + "/" + f[len(pre):])
                    for f in sorted(self._files) if f.startswith(pre)
                ]
                if src in self._dirs:
                    self._dirs.discard(src)
                    self._dirs.add(dst)
        for s, d in moves:
            self._hook("rename_copy", s)
            with self._mu:
                if s in self._files:
                    self._files[d] = (self._files[s][0], self._now)
        for s, _d in moves:
            self._hook("rename_delete", s)
            with self._mu:
                self._files.pop(s, None)

    def rmtree(self, path):
        p = self._norm(path)
        self._hook("rmtree", p)
        with self._mu:
            pre = p + "/"
            for f in [f for f in self._files
                      if f == p or f.startswith(pre)]:
                del self._files[f]
            self._dirs = {
                d for d in self._dirs if d != p and not d.startswith(pre)
            }

    def remove(self, path):
        p = self._norm(path)
        self._hook("remove", p)
        with self._mu:
            if p not in self._files:
                raise OSError(f"no such file: {p}")
            del self._files[p]

    def makedirs(self, path):
        with self._mu:
            self._dirs.add(self._norm(path))

    def walk_files(self, base):
        b = self._norm(base) + "/"
        with self._mu:
            return sorted(
                f[len(b):] for f in self._files if f.startswith(b)
            )

    def glob(self, base, pattern):
        import re

        b = self._norm(base) + "/"
        rx = re.compile(
            "^" + "/".join(
                re.escape(seg).replace(r"\*", "[^/]*")
                for seg in pattern.split("/")
            ) + "$"
        )
        with self._mu:
            names = set()
            for f in list(self._files) + list(self._dirs):
                if not f.startswith(b):
                    continue
                rel = f[len(b):]
                # match the rel path and every ancestor (dirs are
                # implicit on object stores)
                parts = rel.split("/")
                for i in range(1, len(parts) + 1):
                    names.add("/".join(parts[:i]))
            return sorted(n for n in names if rx.match(n))

    def getmtime(self, path):
        p = self._norm(path)
        with self._mu:
            if p in self._files:
                return self._files[p][1]
            pre = p + "/"
            times = [t for f, (_d, t) in self._files.items()
                     if f.startswith(pre)]
            if not times and p not in self._dirs:
                raise OSError(f"no such path: {p}")
            return max(times) if times else self._now

    def create_exclusive(self, path, data=b""):
        p = self._norm(path)
        self._hook("create_exclusive", p)
        with self._mu:
            if p in self._files:
                return False
            self._files[p] = (bytes(data), self._now)
            return True

    def read_bytes(self, path):
        p = self._norm(path)
        with self._mu:
            if p not in self._files:
                raise OSError(f"no such file: {p}")
            return self._files[p][0]

    def write_bytes(self, path, data):
        p = self._norm(path)
        self._hook("write_bytes", p)
        with self._mu:
            self._files[p] = (bytes(data), self._now)

def get_fs(path: str, spark=None) -> StoreFilesystem:
    """Resolve the filesystem for a store path: a ``scheme://`` URI
    routes to :class:`HadoopStoreFS`, a bare path to
    :class:`LocalStoreFS` — the same dispatch Spark's own readers
    apply, so data-plane (``spark.read``) and control-plane (this seam)
    always agree on where the store lives."""
    if urlparse(path).scheme and "://" in path:
        return HadoopStoreFS(spark)
    return LocalStoreFS()


def parent_dir(path: str) -> str:
    """Parent of a store path, URI-safe (``dirname`` keeps the scheme
    and authority intact because they contain no trailing slash)."""
    return posixpath.dirname(path.rstrip("/"))


def strip_scheme(path: str) -> str:
    """The path component of a possibly-URI store path — what
    ``input_file_name()``'s decoded URI is searched for when deriving
    manifest-relative file names."""
    if urlparse(path).scheme and "://" in path:
        return urlparse(path).path
    return os.path.abspath(path)


def compaction_dirs(path: str) -> tuple[str, str]:
    """The ``(tmp, old)`` siblings of the two-rename swap of ``path``:
    ``{path}.compact-tmp`` holds the rewrite, ``{path}.compact-old``
    the replaced table between the renames."""
    return f"{path}.compact-tmp", f"{path}.compact-old"


def swap_compact(fs: StoreFilesystem, path: str, write):
    """The two-rename publish every non-z-order store rewrites through.
    Clears ``{path}.compact-tmp``, runs ``write(tmp)`` (which must leave
    a complete table there, ``_SUCCESS`` marker included), then swaps
    it in: rename ``path`` → ``.compact-old``, rename tmp → ``path``,
    delete old.  A concurrent reader's :func:`recover_compaction`
    rolling the swap forward between the renames is tolerated.  Returns
    what ``write`` returns."""
    tmp, old = compaction_dirs(path)
    fs.rmtree(tmp)
    out = write(tmp)
    fs.rmtree(old)
    if fs.exists(path):
        try:
            fs.rename(path, old)
            fs.rename(tmp, path)
        except OSError:
            if not fs.exists(path) or fs.exists(
                posixpath.join(tmp, "_SUCCESS")
            ):
                raise
        fs.rmtree(old)
    else:
        fs.rename(tmp, path)
    return out


def recover_compaction(path: str, gc: bool = False) -> None:
    """Self-heal a :func:`swap_compact` that crashed between its two
    renames.

    A crash in that one-syscall window leaves no table at ``path``;
    since the tmp dir only enters the swap after its Spark write
    completed (it carries the ``_SUCCESS`` marker), recovery is
    unambiguous: finish the swap if tmp is complete, else restore the
    original.  A crash after the second rename just leaves a stale
    ``old``/``tmp`` to garbage-collect.  Readers and compactors both
    call it, so a table heals on next touch.

    ``gc`` gates steady-state garbage collection of leftover tmp/old
    dirs and must only be passed by the compactor: a *reader* that
    deleted ``tmp`` while the table is healthy would delete a live
    compactor's in-progress write.  Readers still clean up ``old``
    when they themselves performed a heal.  Concurrency contract: any
    number of readers vs at most one compactor."""
    _recover(get_fs(path), path, gc)


def _recover(fs: StoreFilesystem, path: str, gc: bool = False) -> None:
    tmp, old = compaction_dirs(path)
    if not fs.exists(path) and fs.exists(old):
        try:
            if fs.exists(posixpath.join(tmp, "_SUCCESS")):
                fs.rename(tmp, path)  # roll forward: the rewrite is whole
            else:
                fs.rename(old, path)  # roll back: restore the original
        except OSError:
            # a concurrent recover/compactor won the rename race; the
            # post-condition check below is what matters
            pass
        if fs.exists(path):
            fs.rmtree(old)
    if gc and fs.exists(path):
        for stale in (tmp, old):
            fs.rmtree(stale)


def stage_dir(path: str) -> str:
    """A fresh private staging sibling ``{path}.append-tmp-<uuid>`` for
    one writer; a hard-crashed writer's leftover shows in
    :func:`stage_dirs`."""
    import uuid

    return f"{path}.append-tmp-{uuid.uuid4().hex}"


def stage_dirs(fs: StoreFilesystem, path: str) -> list[str]:
    """Every staging sibling of ``path``, live or left by a crash."""
    par = parent_dir(path)
    base = posixpath.basename(path.rstrip("/"))
    return [posixpath.join(par, rel)
            for rel in fs.glob(par, f"{base}.append-tmp-*")]


def move_in(fs: StoreFilesystem, tmp: str, path: str) -> None:
    """Move a staged write's ``.parquet`` files into the table at
    ``path``, keeping their relative paths.  Names carry the writing
    job's UUID, so nothing collides, and each file moves whole.  Files
    under ``_``-prefixed dirs (a z-store's metadata tables, which
    publish through their own pointer logs) stay behind."""
    made = set()
    for rel in fs.walk_files(tmp):
        if not rel.endswith(".parquet") or any(
            p.startswith("_") for p in rel.split("/")[:-1]
        ):
            continue
        dst = posixpath.join(path.rstrip("/"), rel)
        d = posixpath.dirname(dst)
        if d not in made:
            fs.makedirs(d)
            made.add(d)
        fs.rename(posixpath.join(tmp, rel), dst)


def expire_buckets(fs: StoreFilesystem, path: str, parents: tuple[str, ...],
                   cutoff: int) -> int:
    """Zero-scan partition expiry: every ``{parent}/ts_bucket=<n>`` dir
    under ``path`` (``parent`` a glob like ``metric=*``) with
    ``n < cutoff`` is renamed into the ``{path}.trash`` sibling, and the
    trash is then deleted.  A reader that listed files just before a
    rename may miss them for one query.  Returns the dirs dropped."""
    import uuid

    trash = f"{path}.trash"
    fs.makedirs(trash)
    dropped = 0
    for parent in parents:
        for rel in fs.glob(path, f"{parent}/ts_bucket=*"):
            try:
                bucket = int(posixpath.basename(rel).split("=", 1)[1])
            except ValueError:  # pragma: no cover - foreign dirs left alone
                continue
            if bucket < cutoff:
                fs.rename(posixpath.join(path, rel),
                          posixpath.join(trash, uuid.uuid4().hex))
                dropped += 1
    fs.rmtree(trash)
    return dropped


# ---------------------------------------------------------------------------
# Conditional-PUT pointer-log committer (the object-store manifest commit)
# ---------------------------------------------------------------------------


#: publish attempts before contention is reported as an error
_PUBLISH_RETRIES = 64


class CasLog:
    """Compare-and-swap commit log for one versioned table.

    Layout, for a table published at ``table`` (e.g. a z-store's
    ``.../_zmanifest``)::

        {table}.commits/{version:020d}.ptr   pointer objects, immutable,
                                             content = version dir name
        {table}.{vname}/                     one complete table per
                                             version (Spark parquet dir
                                             with _SUCCESS), immutable

    Commit protocol (Delta's ``_delta_log``, restated over the seam):
    a writer reads the current version N (highest readable pointer),
    merges, writes a COMPLETE new table directory under a fresh unique
    name, then claims version N+1 with ONE ``create_exclusive`` of the
    pointer object — a conditional PUT.  Losing the create is a CAS
    CONFLICT: some other writer owns N+1, so the merge is stale; the
    caller re-reads and re-merges (:meth:`publish` loops exactly this
    way).  Readers take
    the highest readable pointer — always a complete, immutable
    snapshot.  Crash matrix:

    * crash after the version-dir write, before the pointer → an
      orphan dir, invisible forever, reclaimed by vacuum;
    * pointer object present but EMPTY/unreadable (a create that died
      mid-close) → skipped by readers; the version number is burned
      and the next writer commits above it;
    * two writers at N+1 → one pointer create succeeds; the loser's
      dir becomes an orphan and its retry merges against N+1.

    No rename, no lock, no ``setTimes`` anywhere on the commit path —
    ``create_exclusive`` (If-None-Match PUT) is the single primitive
    correctness rests on.  The reference's analogous seam is the
    metadata/volume split (libakumuli/storage_engine/metadatastorage.cpp
    owns "which volumes are live"; volumes are immutable payload) —
    here the pointer log owns "which manifest is live"."""

    PTR_SUFFIX = ".ptr"

    def __init__(self, fs: StoreFilesystem, table: str):
        self.fs = fs
        self.table = table.rstrip("/")
        self.log_dir = f"{self.table}.commits"

    # -- read side ----------------------------------------------------------

    def exists(self) -> bool:
        """True when the table has a commit log — how stores detect
        CAS mode on read paths (one metadata RPC)."""
        return self.fs.exists(self.log_dir)

    def entries(self) -> list[tuple[int, str]]:
        """(version, pointer file name) ascending; unreadable names are
        ignored (foreign files in the log dir are someone's bug, not a
        crash loop)."""
        out = []
        for name in self.fs.glob(self.log_dir, f"*{self.PTR_SUFFIX}"):
            try:
                out.append((int(name.split(".", 1)[0]), name))
            except ValueError:
                continue
        return sorted(out)

    def _readable(self):
        """(version, pointer path, snapshot dir) of each readable
        pointer, newest first and lazily — an empty/unreadable pointer
        (a commit that died between create and close) is a burned
        version, skipped."""
        for v, name in reversed(self.entries()):
            ptr = posixpath.join(self.log_dir, name)
            try:
                payload = self.fs.read_bytes(ptr).decode(
                    "ascii", "replace").strip()
            except OSError:
                continue
            if payload:
                yield v, ptr, f"{self.table}.{payload}"

    def current(self) -> tuple[int, str | None]:
        """(version, absolute current table dir): the highest readable
        pointer's snapshot.  Before the first commit, the bare table dir
        of a store written before the pointer log existed is version 0
        (healed first of a two-rename swap an older writer crashed in);
        (0, None) when there is no table at all."""
        for v, _ptr, d in self._readable():
            return v, d
        _recover(self.fs, self.table)
        return 0, (self.table if self.fs.exists(self.table) else None)

    def next_version(self) -> int:
        """1 + the highest version number EVER CLAIMED (readable or
        burned) — committing above a burned pointer keeps the log
        monotonic."""
        ent = self.entries()
        return (ent[-1][0] + 1) if ent else 1

    # -- write side ---------------------------------------------------------

    def version_name(self, version: int) -> str:
        """Fresh unique version-dir name: the table dir for an attempt
        at ``version`` is ``{table}.{version_name}``."""
        import uuid

        return f"v{version:020d}-{uuid.uuid4().hex[:12]}"

    def dir_for(self, vname: str) -> str:
        return f"{self.table}.{vname}"

    def publish(self, spark, merge_fn, schema) -> bool:
        """Optimistic conditional-PUT publish of one table version.

        ``merge_fn(current_df_or_none) -> DataFrame | None`` recomputes
        the desired table from the CURRENT snapshot, read with the
        caller's ``schema`` (no inference job); ``None`` means "nothing
        to publish" (e.g. the epoch is already committed) and aborts
        cleanly.  Per attempt: read version V → merge → write the
        returned frame as a new snapshot dir → :meth:`commit_above` V.
        Losing the claim to a readable rival means the merge is stale:
        the attempt dir is dropped, and the loop re-reads and re-merges
        after a jittered backoff (without it every loser of N
        concurrent publishers re-writes at once and N-1 of N attempts
        burn a Spark write per round).  Exactly-once checks hold
        because they re-run inside ``merge_fn`` on every retry.
        Returns True when a version was committed, False when
        ``merge_fn`` declined."""
        import random

        for attempt in range(_PUBLISH_RETRIES):
            v_cur, cur_dir = self.current()
            cur = (None if cur_dir is None
                   else spark.read.schema(schema).parquet(cur_dir))
            out = merge_fn(cur)
            if out is None:
                return False
            vname = self.version_name(v_cur + 1)
            out.write.mode("overwrite").parquet(self.dir_for(vname))
            if self.commit_above(v_cur, vname):
                return True
            self.fs.rmtree(self.dir_for(vname))  # lost: orphan attempt
            time.sleep(min(2.0, 0.05 * (1 << min(attempt, 5)))
                       * (0.5 + random.random()))
        raise RuntimeError(
            f"CAS publish contention exceeded {_PUBLISH_RETRIES} "
            f"retries: {self.table}"
        )

    def try_commit(self, version: int, vname: str) -> bool:
        """Claim ``version`` for the (already fully written) dir
        ``{table}.{vname}``.  True = committed; False = CAS conflict
        (someone else owns this version — re-read, re-merge, retry)."""
        self.fs.makedirs(self.log_dir)
        return self.fs.claim_exclusive(
            posixpath.join(self.log_dir, f"{version:020d}{self.PTR_SUFFIX}"),
            vname.encode("ascii"),
        )

    def commit_above(self, v_read: int, vname: str,
                     burn_wait_s: float = 2.0, poll_s: float = 0.05,
                     clock=time.time, sleep=time.sleep) -> bool:
        """Claim the next version slot above ``v_read`` — the version
        whose snapshot the caller's merge was computed AGAINST — for the
        fully written dir ``{table}.{vname}``.

        True = committed.  False = a READABLE snapshot above ``v_read``
        exists, so the caller's merge is STALE: re-read and re-merge.
        This is the linearization invariant the first r14 contention
        smoke caught being violated: committing at ``max(claimed)+1``
        let a writer whose read was stale land ABOVE a rival's
        intervening commit and erase its rows (3 of 40 concurrent
        appends lost).  Claims therefore target exactly ``v_read + 1``;
        a slot that is claimed but UNREADABLE is given ``burn_wait_s``
        for its in-flight content to appear (claims are atomic-with-
        content on POSIX/S3 and millisecond-windowed on HDFS) and only
        then treated as a dead burn (a crashed claim) and stepped over
        — the merge stays valid because the highest READABLE snapshot
        is still ``v_read``."""
        target = v_read + 1
        while True:
            if self.try_commit(target, vname):
                return True
            deadline = clock() + burn_wait_s
            while True:
                cur_v, _ = self.current()
                if cur_v > v_read:
                    return False  # readable rival: merge is stale
                if clock() >= deadline:
                    break
                sleep(poll_s)
            target += 1  # dead burn: step over the crashed claim

    # -- maintenance --------------------------------------------------------

    def protected(self, keep: int = 3, grace_s: float = 86_400.0,
                  now_s: float | None = None) -> set[str]:
        """Snapshot dirs a reader may still legitimately be serving:
        the ``keep`` newest readable versions PLUS every version whose
        SUPERSESSION (its successor pointer's mtime — the moment it
        stopped being resolvable) is younger than the grace.  Grace
        from supersession, never from creation: a snapshot that was
        current five minutes ago must survive a full grace no matter
        how long it reigned (a low-write-rate store's snapshot can be
        current for weeks and then be replaced by one maintenance
        cycle's ``keep`` commits in seconds — creation-age would let
        vacuum reap it from under a reader mid-scan)."""
        now = time.time() if now_s is None else now_s
        readable = list(self._readable())
        # the current snapshot is always protected
        prot = {d for _v, _p, d in readable[:max(1, keep)]}
        for (_v, _p, d), (_sv, succ, _sd) in zip(readable[1:], readable):
            try:
                superseded_at = self.fs.getmtime(succ)
            except OSError:
                superseded_at = now  # successor raced away: conservative
            if now - superseded_at < grace_s:
                prot.add(d)
        return prot

    def vacuum(self, keep: int = 3, grace_s: float = 86_400.0,
               now_s: float | None = None) -> int:
        """Expire old snapshots: drop version DIRS outside the
        :meth:`protected` set (the ``keep`` newest plus everything
        superseded less than ``grace_s`` ago — readers hold a snapshot
        at most one grace period past its replacement, Delta's VACUUM
        contract), plus their pointers, plus orphan attempt dirs that
        never got a pointer (aged by their own mtime — they were never
        readable).  Returns dirs removed.  The CURRENT version is never
        touched."""
        now = time.time() if now_s is None else now_s
        keep_dirs = self.protected(keep, grace_s, now_s=now)
        readable = list(self._readable())
        snapshot_of = {ptr: d for _v, ptr, d in readable}
        readable_dirs = set(snapshot_of.values())
        cur_v = readable[0][0] if readable else 0
        removed = 0
        base = parent_dir(self.table)
        tname = posixpath.basename(self.table)
        # version dirs (claimed or orphaned attempts) are siblings named
        # {table}.v{020d}-{hex}
        for rel in self.fs.glob(base, f"{tname}.v*"):
            d = posixpath.join(base, rel)
            if d in keep_dirs:
                continue
            if d not in readable_dirs:
                # orphan attempt: never readable, age by its own mtime
                try:
                    if now - self.fs.getmtime(d) < grace_s:
                        continue
                except OSError:
                    continue
            self.fs.rmtree(d)
            removed += 1
        # pointers below the current version whose snapshot dir no
        # longer exists (vacuumed above, or burned-empty) can go too —
        # the log stays monotonic because next_version() keys off the
        # HIGHEST pointer and the current one is never removed
        for v, name in self.entries():
            if v >= cur_v:
                continue
            ptr = posixpath.join(self.log_dir, name)
            try:
                if now - self.fs.getmtime(ptr) < grace_s:
                    continue
            except OSError:
                continue
            if ptr in snapshot_of and self.fs.exists(snapshot_of[ptr]):
                continue  # snapshot still retained
            with contextlib.suppress(OSError):
                self.fs.remove(ptr)
        return removed
