"""The filesystems under the catalog and the writer lock.

:class:`~ong_tsdb_spark.catalog.Catalog` and
:class:`~ong_tsdb_spark.locks.SensorFileLock` are written once, against
the few calls below; the engine picks the adapter from the base dir
(:func:`is_remote_uri`):

* :class:`LocalFs` — plain paths, ``os`` syscalls: an ``O_EXCL``
  create, an ``os.utime`` heartbeat, temp + ``os.replace``.
* :class:`HadoopFs` — scheme-qualified URIs (``hdfs://``, ``s3a://``,
  ``gs://``, ``abfs://``, ``file:/``) through the JVM Hadoop
  ``FileSystem`` that Spark already carries, so no extra Python
  dependency.  Parquet I/O goes through Spark, which speaks these
  schemes natively; only the small JSON config / lock / version files
  need these calls.

Both raise ``FileNotFoundError`` for a missing path and ``OSError`` for
any other I/O failure, which is all the lock protocol distinguishes.

Atomicity notes per backend:

* **local, HDFS:** rename / ``os.replace`` and exclusive create are
  atomic — the config write and the writer lock have the same
  guarantees on each.
* **file: through Hadoop:** rename is atomic, but Hadoop's local
  ``create(overwrite=False)`` checks ``exists`` and then creates, so
  two writers racing for a free lock can both win.  A ``file:`` base
  dir is for tests and single-host runs.
* **S3A and friends:** rename is copy+delete and create-exclusive is
  best-effort (S3 has no native compare-and-set through the Hadoop
  API).  The lock still serializes cooperating writers in practice
  (probabilistically: the race window is one round trip), but a
  strict deployment should front writes with a real coordination
  service (a DynamoDB/ZooKeeper lock, or S3 conditional PUT via a
  custom committer).  This caveat is the same one Delta/Iceberg
  document for their S3 commit protocols.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import threading
import time
from urllib.parse import urlparse


def is_remote_uri(base_dir: str) -> bool:
    """True for scheme-qualified URIs (hdfs://, s3a://, file:/ ...)
    that go through :class:`HadoopFs`.  Schemes must be at least two
    characters so Windows drive letters stay local paths."""
    return bool(re.match(r"^[A-Za-z][A-Za-z0-9+.\-]+:/", base_dir))


def local_path(path: str) -> str | None:
    """The local filesystem path behind ``path``, or None for a remote
    URI.  Hadoop normalizes ``file://`` URIs to the single-slash form
    ``file:/path`` (no netloc), so both spellings — and the rare
    ``file://localhost/path`` — are this machine; ``file://host/path``
    is not (ADVICE r13: a bare ``'://' in path`` test missed
    ``file:/path``)."""
    if path.startswith("file:"):
        parsed = urlparse(path)
        if parsed.netloc not in ("", "localhost"):
            return None
        return parsed.path or None
    return None if "://" in path else path


class LocalFs:
    """The catalog/lock filesystem calls over ``os``."""

    #: writer-lock poll interval, seconds
    lock_poll = 0.02

    exists = staticmethod(os.path.exists)
    isdir = staticmethod(os.path.isdir)
    isfile = staticmethod(os.path.isfile)
    listdir = staticmethod(os.listdir)

    @staticmethod
    def mkdirs(p: str) -> None:
        os.makedirs(p, exist_ok=True)

    @staticmethod
    def delete(p: str, recursive: bool = True) -> bool:
        try:
            if os.path.isdir(p) and not os.path.islink(p):
                shutil.rmtree(p) if recursive else os.rmdir(p)
            else:
                os.unlink(p)
        except FileNotFoundError:
            return False
        return True

    @staticmethod
    def mtime(p: str) -> float:
        return os.stat(p).st_mtime

    @staticmethod
    def read_bytes(p: str) -> bytes:
        with open(p, "rb") as f:
            return f.read()

    @staticmethod
    def write_bytes_atomic(p: str, data: bytes) -> None:
        """temp + ``os.replace``, like the reference's safe_createfile
        (fileutils.py:325-376)."""
        tmp = f"{p}.{os.getpid()}.{threading.get_ident()}.tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, p)

    @staticmethod
    def create_exclusive(p: str, data: bytes) -> bool:
        """Create ``p`` holding ``data``; False if it already exists
        (``O_CREAT|O_EXCL`` is atomic on POSIX)."""
        try:
            fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        try:
            os.write(fd, data)
        finally:
            os.close(fd)
        return True

    @staticmethod
    def touch(p: str, data: bytes) -> None:
        """Refresh ``p``'s mtime (``data`` is its current content)."""
        os.utime(p, None)


class HadoopFs:
    """The same calls over ``org.apache.hadoop.fs.FileSystem`` (py4j)."""

    #: writer-lock poll interval, seconds (each poll is JVM round trips)
    lock_poll = 0.05

    def __init__(self, spark, base_uri: str):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._fs = self.path(base_uri).getFileSystem(self._conf)

    def path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    @contextlib.contextmanager
    def _io(self, p: str):
        """Java I/O errors as Python ones: FileNotFoundError when ``p``
        is gone (whatever the JVM said — a file that vanished mid-call
        is the benign race), OSError otherwise."""
        from py4j.protocol import Py4JJavaError

        try:
            yield
        except Py4JJavaError as ex:
            if not self.exists(p):
                raise FileNotFoundError(p) from None
            raise OSError(f"{p}: {ex.java_exception.toString()}") from ex

    def exists(self, p: str) -> bool:
        return self._fs.exists(self.path(p))

    def isdir(self, p: str) -> bool:
        jp = self.path(p)
        return self._fs.exists(jp) and self._fs.getFileStatus(jp).isDirectory()

    def isfile(self, p: str) -> bool:
        jp = self.path(p)
        return self._fs.exists(jp) and self._fs.getFileStatus(jp).isFile()

    def mkdirs(self, p: str) -> None:
        self._fs.mkdirs(self.path(p))

    def delete(self, p: str, recursive: bool = True) -> bool:
        with self._io(p):
            return self._fs.delete(self.path(p), recursive)

    def listdir(self, p: str) -> list[str]:
        return [st.getPath().getName() for st in self._fs.listStatus(self.path(p))]

    def mtime(self, p: str) -> float:
        with self._io(p):
            return self._fs.getFileStatus(self.path(p)).getModificationTime() / 1000.0

    def read_bytes(self, p: str) -> bytes:
        with self._io(p):
            stream = self._fs.open(self.path(p))
            try:
                # commons-io ships on Spark's classpath; one JVM round
                # trip instead of a per-byte py4j loop
                return bytes(self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
            finally:
                stream.close()

    def _write(self, p: str, data: bytes, overwrite: bool) -> None:
        stream = self._fs.create(self.path(p), overwrite)
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()

    def write_bytes_atomic(self, p: str, data: bytes) -> None:
        """temp + rename — atomic on HDFS/local, copy+delete on S3A."""
        tmp = f"{p}.{int(time.time() * 1e6)}.tmp"
        self._write(tmp, data, overwrite=True)
        self._fs.delete(self.path(p), False)
        if not self._fs.rename(self.path(tmp), self.path(p)):
            self._fs.delete(self.path(tmp), False)
            raise OSError(f"rename failed for {p}")

    def create_exclusive(self, p: str, data: bytes) -> bool:
        """create(overwrite=False), False if ``p`` exists: atomic on
        HDFS, check-then-create on file:, best-effort on S3A (see the
        module docstring)."""
        from py4j.protocol import Py4JJavaError

        try:
            self._write(p, data, overwrite=False)
        except Py4JJavaError as ex:
            # the lock may already be released again by the time we look
            held = "FileAlreadyExistsException" in ex.java_exception.getClass().getName()
            if held or self.exists(p):
                return False
            raise OSError(f"{p}: {ex.java_exception.toString()}") from ex
        return True

    def touch(self, p: str, data: bytes) -> None:
        """Refresh ``p``'s mtime by rewriting its content ``data``:
        there is no portable utime (setTimes is a no-op on S3A)."""
        with self._io(p):
            self._write(p, data, overwrite=True)
