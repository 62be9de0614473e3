"""The one filesystem seam of the lakehouse: every listing, read,
publish, rename and delete of table metadata (commit log, ledger,
transaction decisions) and of data-file placement goes through a
:class:`FileIO` — the single storage interface of Spark SQL's Data
Sources API, in the spirit of Delta's LogStore / Iceberg's FileIO.

Two implementations, one contract:

- :class:`LocalFileIO` — ``os`` and pyarrow on the driver. Local roots
  never pay py4j round trips (a Hadoop ``listStatus`` costs ~3 of
  them per listed entry).
- :class:`HadoopFileIO` — a Hadoop ``FileSystem`` over py4j, for
  ``hdfs://``, ``s3a://`` and scheme-less roots under a non-local
  ``fs.defaultFS``.

:func:`file_io` picks one from the path alone. :meth:`publish` is the
single atomic-publish primitive every commit, checkpoint, decision
record, ledger row and feed-start pin rides on — the one place a
commit coordinator for stores without create-if-absent (plain S3)
plugs in.
"""

from __future__ import annotations

import os
import re
import shutil
import threading
import uuid
import weakref
from typing import NamedTuple

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


class Entry(NamedTuple):
    """One listed file or directory. ``name`` is the base name (for
    ``walk_files``: the path relative to the walked dir); ``path`` is
    ``name`` joined onto the caller's own spelling of the dir (never
    re-qualified), so both implementations yield identical entries;
    ``size`` is None for a directory."""

    name: str
    path: str
    mtime_ms: int
    size: int | None


def _local(path: str) -> str:
    if path.startswith("file://"):
        return path[len("file://"):]
    return path[len("file:"):] if path.startswith("file:") else path


class FileIO:
    """The contract: ``list(dir)`` / ``walk_files(dir)`` return sorted
    :class:`Entry` lists ([] for a missing dir); ``read_bytes`` /
    ``read_text`` return None for a missing file; ``publish(path,
    data)`` atomically creates ``path`` unless it exists and says
    whether it did; ``rename(src, dst)`` creates ``dst``'s parent and
    refuses an existing ``dst``; ``delete`` is recursive; ``footer``
    is the parquet footer (pyarrow ``FileMetaData``), or None where
    footers are not read on the driver."""

    def read_text(self, path: str) -> str | None:
        data = self.read_bytes(path)
        return None if data is None else data.decode("utf-8")


class LocalFileIO(FileIO):
    def list(self, d: str) -> list[Entry]:
        base = d.rstrip("/")
        out = []
        try:
            with os.scandir(_local(d)) as it:
                for e in it:
                    try:
                        st = e.stat()
                        is_dir = e.is_dir()
                    except OSError:
                        continue  # vanished between list and stat
                    out.append(Entry(e.name, f"{base}/{e.name}",
                                     st.st_mtime_ns // 1_000_000,
                                     None if is_dir else st.st_size))
        except (FileNotFoundError, NotADirectoryError):
            return []
        return sorted(out)

    def walk_files(self, d: str) -> list[Entry]:
        root, base = _local(d), d.rstrip("/")
        out = []
        for dirpath, _dirs, files in os.walk(root):
            rel_dir = os.path.relpath(dirpath, root)
            for name in files:
                rel = name if rel_dir == "." else f"{rel_dir}/{name}"
                try:
                    st = os.stat(os.path.join(dirpath, name))
                except OSError:
                    continue
                out.append(Entry(rel, f"{base}/{rel}",
                                 st.st_mtime_ns // 1_000_000, st.st_size))
        return sorted(out)

    def read_bytes(self, path: str) -> bytes | None:
        try:
            with open(_local(path), "rb") as fh:
                return fh.read()
        except FileNotFoundError:
            return None

    def publish(self, path: str, data: bytes) -> bool:
        """Atomically create ``path`` holding ``data`` unless it
        exists; True when this call created it. The bytes land under a
        dotted temp name first (invisible to every listing consumer)
        and are hard-linked into place: ``link`` fails on an existing
        name, where ``rename`` would silently replace it."""
        dest = _local(path)
        parent, name = os.path.split(dest)
        os.makedirs(parent or ".", exist_ok=True)
        tmp = os.path.join(parent, f".{name}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(data)
        try:
            os.link(tmp, dest)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def rename(self, src: str, dst: str) -> bool:
        """Check-then-rename: callers rename onto fresh (uuid) names;
        racing publishers use :meth:`publish`."""
        target = _local(dst)
        if os.path.lexists(target):
            return False
        os.makedirs(os.path.dirname(target) or ".", exist_ok=True)
        try:
            os.rename(_local(src), target)
        except FileNotFoundError:
            return False
        return True

    def delete(self, path: str) -> bool:
        p = _local(path)
        try:
            if os.path.isdir(p) and not os.path.islink(p):
                shutil.rmtree(p)
            else:
                os.unlink(p)
        except OSError:
            return False
        return True

    def exists(self, path: str) -> bool:
        return os.path.exists(_local(path))

    def footer(self, path: str):
        import pyarrow.parquet as pq
        return pq.read_metadata(_local(path))


_AUTH_RE = re.compile(r"^[a-z0-9+.-]+://[^/]*", re.IGNORECASE)


def _not_found(e: Py4JJavaError) -> bool:
    return "FileNotFoundException" in e.java_exception.getClass().getName()


class HadoopFileIO(FileIO):
    """The same contract over a Hadoop ``FileSystem`` (one handle per
    ``scheme://authority``, built on first use)."""

    def __init__(self, spark: SparkSession):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._handles: dict[str, object] = {}
        self._lock = threading.Lock()

    def _resolve(self, path: str):
        jp = self._jvm.org.apache.hadoop.fs.Path(path)
        m = _AUTH_RE.match(path)
        key = m.group(0) if m else ""
        fs = self._handles.get(key)
        if fs is None:
            fs = self._handles[key] = jp.getFileSystem(self._conf)
        return fs, jp

    def list(self, d: str) -> list[Entry]:
        fs, jp = self._resolve(d)
        try:
            sts = fs.listStatus(jp)
        except Py4JJavaError as e:
            if _not_found(e):
                return []
            raise
        base = d.rstrip("/")
        out = []
        for st in sts:
            name = st.getPath().getName()
            out.append(Entry(name, f"{base}/{name}",
                             st.getModificationTime(),
                             None if st.isDirectory() else st.getLen()))
        return sorted(out)

    def walk_files(self, d: str) -> list[Entry]:
        fs, jp = self._resolve(d)
        try:
            it = fs.listFiles(jp, True)
        except Py4JJavaError as e:
            if _not_found(e):
                return []
            raise
        root = str(fs.makeQualified(jp)).rstrip("/")
        base = d.rstrip("/")
        out = []
        while it.hasNext():
            st = it.next()
            rel = str(st.getPath())[len(root) + 1:]
            out.append(Entry(rel, f"{base}/{rel}",
                             st.getModificationTime(), st.getLen()))
        return sorted(out)

    def read_bytes(self, path: str) -> bytes | None:
        fs, jp = self._resolve(path)
        try:
            stream = fs.open(jp)
        except Py4JJavaError as e:
            if _not_found(e):
                return None
            raise
        sink = self._jvm.java.io.ByteArrayOutputStream()
        self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
            stream, sink, 65536, True)
        return bytes(sink.toByteArray())

    def publish(self, path: str, data: bytes) -> bool:
        """Temp file, then :meth:`rename` into place."""
        fs, jp = self._resolve(path)
        tmp = self._jvm.org.apache.hadoop.fs.Path(
            jp.getParent(), f".{jp.getName()}.{uuid.uuid4().hex}.tmp")
        stream = fs.create(tmp, False)
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()
        if self._move(fs, tmp, jp):
            return True
        fs.delete(tmp, False)
        return False

    def _move(self, fs, src, dst) -> bool:
        # HDFS's rename already refuses an existing destination; the
        # exists check makes stores whose rename replaces (the local
        # filesystem through Hadoop) refuse too — atomically only
        # among this process's threads, hence the lock
        with self._lock:
            if fs.exists(dst):
                return False
            fs.mkdirs(dst.getParent())
            return bool(fs.rename(src, dst))

    def rename(self, src: str, dst: str) -> bool:
        fs, s = self._resolve(src)
        return self._move(fs, s, self._resolve(dst)[1])

    def delete(self, path: str) -> bool:
        fs, jp = self._resolve(path)
        return bool(fs.delete(jp, True))

    def exists(self, path: str) -> bool:
        fs, jp = self._resolve(path)
        return bool(fs.exists(jp))

    def footer(self, path: str):
        """None: footers are read by the Spark stats job instead."""
        return None


LOCAL = LocalFileIO()

# per-session (fs.defaultFS is local, the session's HadoopFileIO);
# entries die with the session, like partitioning._NPART_MEMO
_MEMO: "weakref.WeakKeyDictionary[SparkSession, tuple]" = \
    weakref.WeakKeyDictionary()


def file_io(spark: SparkSession, path: str) -> FileIO:
    """The implementation that owns ``path``: an explicit ``file:``
    scheme is local; any other scheme is Hadoop; a scheme-less path is
    local only when the session's ``fs.defaultFS`` is. Decided from
    strings alone — no FileSystem is built here."""
    memo = _MEMO.get(spark)
    if memo is None:
        default_local = str(spark._jsc.hadoopConfiguration().get(
            "fs.defaultFS", "file:///")).startswith("file:")
        memo = _MEMO[spark] = (default_local, HadoopFileIO(spark))
    if path.startswith("file:") or ("://" not in path and memo[0]):
        return LOCAL
    return memo[1]
