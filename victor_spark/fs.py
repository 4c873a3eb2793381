"""Filesystem shim for index maintenance — local and Hadoop backends.

The reference abstracts ALL storage behind a filesystem trait with
native/memory/web backends (/root/reference/src/filesystem/mod.rs:22-59,
native.rs, memory.rs, web.rs). The Spark analog: query DATAFLOWS already
ride Spark's Hadoop FS (``spark.read.parquet`` works on any scheme), but
index MAINTENANCE — the tag-listing swap, delete/compact directory
renames, PQ/IVF/PCA artifact files, footer-only row counts — needs its
own filesystem handle. This module is that handle:

- :class:`LocalFS` — ``os``/``shutil``/pyarrow for plain (scheme-less)
  paths. The fast path: no JVM round trips.
- :class:`HadoopFS` — the JVM ``org.apache.hadoop.fs.FileSystem``
  reached through the active SparkSession, for any scheme Spark itself
  can serve (``hdfs://``, ``s3a://``, ``file:``). Parquet row counts go
  through parquet-hadoop's footer reader (metadata only — no data pages
  cross the wire); small artifacts (the tag listing, JSON metas, the
  PCA npz) move as whole-byte payloads, which they are sized for.

Selection rule (:func:`fs_for`): a path WITH a URI scheme gets
:class:`HadoopFS`; a plain path gets :class:`LocalFS`. A ``file:`` URI
therefore exercises the complete Hadoop code path against the local
disk — how ``tests/test_fs.py`` verifies the whole index lifecycle
in-sandbox without an object store.

Atomicity contract (``replace``): :class:`LocalFS` uses ``os.replace``
(POSIX-atomic). :class:`HadoopFS` emulates replace as
``delete(dst) → rename(src, dst)`` because Hadoop's ``rename`` refuses
to clobber; on HDFS each step is atomic but the pair is not, and on
S3-like object stores rename itself is copy+delete. Writers therefore
always stage to a temp path first (the data stays complete at all
times), and READERS of replace-maintained artifacts must tolerate a
missing destination by re-deriving from the data — which
``VectorIndex._tag_sets`` does (a missing listing is rebuilt from the
partition directories) and the JSON/npz artifact readers do by erroring with
"call build_*() first" semantics.
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse

# renameat2(RENAME_NOREPLACE): the only primitive that makes a
# no-clobber FILE rename truly atomic as a PAIR on Linux. The
# hardlink-then-unlink fallback below is atomic per-step but not as a
# pair: two concurrent lock-break claimants can both os.link the same
# victim to distinct names before either unlinks, so "exactly one
# claimant" holds only best-effort there (round-6 advisor). Probed once
# per process; unavailable → None (non-Linux libc, glibc < 2.28, or a
# filesystem rejecting flags with EINVAL falls back per-call).
_RENAME_NOREPLACE = 1
_AT_FDCWD = -100
_renameat2 = None


def _probe_renameat2():
    global _renameat2
    if _renameat2 is not None:
        return _renameat2
    try:
        import ctypes

        libc = ctypes.CDLL(None, use_errno=True)
        fn = libc.renameat2
        fn.restype = ctypes.c_int

        def call(src: str, dst: str) -> None:
            r = fn(
                _AT_FDCWD, os.fsencode(src),
                _AT_FDCWD, os.fsencode(dst),
                _RENAME_NOREPLACE,
            )
            if r != 0:
                e = ctypes.get_errno()
                # constructing OSError(errno, ...) maps EEXIST to
                # FileExistsError automatically
                raise OSError(e, os.strerror(e), src, None, dst)

        _renameat2 = call
    except (OSError, AttributeError):
        _renameat2 = False
    return _renameat2


def join(base: str, *parts: str) -> str:
    """Path join that is correct for both plain paths and URIs (always
    '/'-separated; never collapses the scheme)."""
    out = base.rstrip("/")
    for p in parts:
        out += "/" + p.strip("/")
    return out


def fs_for(spark, path: str):
    """The filesystem that serves ``path``: HadoopFS for any path with a
    URI scheme (including ``file:``), LocalFS for plain paths."""
    if urlparse(path).scheme:
        return HadoopFS(spark, path)
    return LocalFS()


class LocalFS:
    """POSIX maintenance backend (reference native.rs). ``replace`` is
    os.replace — atomic on the same filesystem."""

    scheme = "local"

    def exists(self, p: str) -> bool:
        return os.path.exists(p)

    def is_dir(self, p: str) -> bool:
        return os.path.isdir(p)

    def listdir(self, p: str) -> list[str]:
        return os.listdir(p)

    def delete(self, p: str) -> None:
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        elif os.path.exists(p):
            os.remove(p)

    def mkdirs(self, p: str) -> None:
        os.makedirs(p, exist_ok=True)

    def rename(self, src: str, dst: str) -> None:
        """No-clobber rename. For FILES, prefer renameat2(RENAME_NOREPLACE)
        — the source disappears and the target appears in ONE atomic
        step, so two concurrent lock-break claimants racing to move the
        same lock file cannot both succeed (exactly one claimant; the
        VectorIndex lock-break protocol relies on this). Where renameat2
        is unavailable (non-Linux, old glibc, EINVAL from the fs), fall
        back to hardlink-then-unlink: still atomic no-clobber per step
        (os.link raises FileExistsError with no check→rename window) but
        NOT as a pair — both claimants can link before either unlinks;
        the second unlink then raises and claim-exclusivity degrades to
        best-effort, bounded by the listing reconciler like the other
        acknowledged races. When even hardlinks are forbidden (vfat/some
        NFS/FUSE; fs.protected_hardlinks EPERM), degrade to the checked
        non-atomic form rather than making renames impossible.
        Directories can't be hardlinked, so dir renames always use the
        checked form — the dir call sites (state / staging swaps) are
        single-writer by contract."""
        if not os.path.isdir(src):
            r2 = _probe_renameat2()
            if r2:
                try:
                    r2(src, dst)
                    return
                except FileExistsError:
                    raise
                except OSError as e:
                    import errno

                    if e.errno not in (errno.EINVAL, errno.ENOSYS):
                        raise
                    # this fs rejects RENAME_NOREPLACE: hardlink path
            try:
                os.link(src, dst)  # atomic: FileExistsError on clash
                os.unlink(src)
                return
            except FileExistsError:
                raise
            except OSError as e:
                import errno

                if e.errno not in (
                    errno.EPERM, errno.EOPNOTSUPP, errno.EXDEV,
                    getattr(errno, "ENOTSUP", errno.EOPNOTSUPP),
                    errno.EMLINK, errno.EACCES,
                ):
                    raise
                # hardlinks unavailable here: checked fallback below
        if os.path.exists(dst):
            raise FileExistsError(f"rename target exists: {dst}")
        os.rename(src, dst)

    def replace(self, src: str, dst: str) -> None:
        if os.path.isdir(dst) or os.path.isdir(src):
            # os.replace can't clobber a directory; dir swaps go through
            # the documented delete→rename window like HadoopFS
            self.delete(dst)
            os.rename(src, dst)
        else:
            os.replace(src, dst)

    def read_bytes(self, p: str) -> bytes:
        with open(p, "rb") as f:
            return f.read()

    def write_bytes(self, p: str, data: bytes) -> None:
        # parity with Hadoop's create(): parents are made on demand
        os.makedirs(os.path.dirname(p) or ".", exist_ok=True)
        with open(p, "wb") as f:
            f.write(data)

    def write_bytes_atomic(self, p: str, data: bytes) -> None:
        tmp = p + ".tmp"
        self.write_bytes(tmp, data)
        os.replace(tmp, p)

    def file_size(self, p: str) -> int:
        return os.path.getsize(p)

    def mtime(self, p: str) -> float:
        """Last-modification time of a file or directory, seconds since
        the epoch (vacuum's age gate)."""
        return os.path.getmtime(p)

    def create_exclusive(self, p: str, data: bytes = b"") -> bool:
        """Create ``p`` only if it does not exist (O_EXCL — POSIX-atomic).
        Returns False when it already exists. The advisory-lock primitive."""
        os.makedirs(os.path.dirname(p) or ".", exist_ok=True)
        try:
            fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        with os.fdopen(fd, "wb") as f:
            f.write(data)
        return True

    def file_sizes(self, p: str) -> list[tuple[str, int]]:
        """Recursive (path, size) of every regular file under ``p``."""
        out = []
        for root, _dirs, files in os.walk(p):
            for f in files:
                fp = os.path.join(root, f)
                out.append((fp, os.path.getsize(fp)))
        return out

    def parquet_row_count(self, p: str) -> int:
        """Footer-only row count of a parquet file, or the sum over the
        ``*.parquet`` files of a directory. No data pages read."""
        import pyarrow.parquet as papq

        if os.path.isdir(p):
            return sum(
                papq.ParquetFile(os.path.join(p, f)).metadata.num_rows
                for f in os.listdir(p)
                if f.endswith(".parquet")
            )
        return papq.ParquetFile(p).metadata.num_rows


class HadoopFS:
    """Hadoop-FileSystem maintenance backend: every call is served by the
    JVM ``org.apache.hadoop.fs.FileSystem`` for the path's scheme — the
    same FS implementations Spark's own reads/writes use, so whatever
    store the data lives on, maintenance reaches it too.

    ``FileSystem.get`` caches instances per (scheme, authority, ugi)
    inside the JVM, so constructing this per-index is cheap."""

    scheme = "hadoop"

    def __init__(self, spark, path: str):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        uri = self._jvm.java.net.URI.create(path)
        self._fs = self._jvm.org.apache.hadoop.fs.FileSystem.get(uri, self._conf)

    def _p(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def exists(self, p: str) -> bool:
        return bool(self._fs.exists(self._p(p)))

    def is_dir(self, p: str) -> bool:
        path = self._p(p)
        return bool(self._fs.exists(path)) and bool(
            self._fs.getFileStatus(path).isDirectory()
        )

    def listdir(self, p: str) -> list[str]:
        return [
            st.getPath().getName() for st in self._fs.listStatus(self._p(p))
        ]

    def delete(self, p: str) -> None:
        self._fs.delete(self._p(p), True)  # False on missing — fine

    def mkdirs(self, p: str) -> None:
        self._fs.mkdirs(self._p(p))

    def rename(self, src: str, dst: str) -> None:
        if not self._fs.rename(self._p(src), self._p(dst)):
            raise IOError(f"hadoop rename failed: {src} -> {dst}")

    def replace(self, src: str, dst: str) -> None:
        """delete(dst) → rename(src, dst). NOT atomic as a pair (and on
        S3-like stores rename itself is copy+delete) — see the module
        docstring for the reader-side contract this implies."""
        self.delete(dst)
        self.rename(src, dst)

    def read_bytes(self, p: str) -> bytes:
        stream = self._fs.open(self._p(p))
        try:
            data = self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        finally:
            stream.close()
        return bytes(data)

    def write_bytes(self, p: str, data: bytes) -> None:
        out = self._fs.create(self._p(p), True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()

    def write_bytes_atomic(self, p: str, data: bytes) -> None:
        tmp = p + ".tmp"
        self.write_bytes(tmp, data)
        self.replace(tmp, p)

    def file_size(self, p: str) -> int:
        return int(self._fs.getFileStatus(self._p(p)).getLen())

    def mtime(self, p: str) -> float:
        """Last-modification time in seconds (Hadoop reports millis)."""
        return self._fs.getFileStatus(self._p(p)).getModificationTime() / 1000.0

    def create_exclusive(self, p: str, data: bytes = b"") -> bool:
        """Create ``p`` only if it does not exist (``create(overwrite=
        False)``). Atomic on HDFS; on S3-like object stores the
        exists+create pair is only best-effort — the advisory lock is
        accordingly advisory, not a mutex (docstring at the call site)."""
        try:
            out = self._fs.create(self._p(p), False)
        except Exception:
            return False
        try:
            out.write(bytearray(data))
        finally:
            out.close()
        return True

    def file_sizes(self, p: str) -> list[tuple[str, int]]:
        if not self.exists(p):  # parity with LocalFS's empty walk
            return []
        out = []
        it = self._fs.listFiles(self._p(p), True)
        while it.hasNext():
            st = it.next()
            out.append((st.getPath().toString(), int(st.getLen())))
        return out

    def parquet_row_count(self, p: str) -> int:
        """Footer-only row count via parquet-hadoop (on Spark's classpath):
        only the footer bytes cross the store, never data pages."""
        path = self._p(p)
        if self.is_dir(p):
            return sum(
                self._footer_rows(join(p, name))
                for name in self.listdir(p)
                if name.endswith(".parquet")
            )
        return self._footer_rows(p)

    def _footer_rows(self, p: str) -> int:
        hif = self._jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            self._p(p), self._conf
        )
        reader = self._jvm.org.apache.parquet.hadoop.ParquetFileReader.open(hif)
        try:
            return int(reader.getRecordCount())
        finally:
            reader.close()
