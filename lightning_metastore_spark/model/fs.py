"""Filesystem shim for the persistence layer.

The reference routes every metastore / sidecar / binary-output byte
through Hadoop's FileSystem API (`model/HdfsFileSystem.scala:57`), so
one catalog implementation serves local disk, HDFS and S3. This module
is the PySpark-native equivalent: a small ``FileSystem`` interface with
three resolvers keyed by URL scheme:

* no scheme / ``file://``  -> ``LocalFileSystem`` (direct ``os``/
  ``shutil`` — the fast path, and the only one this sandbox can
  exercise end to end);
* ``memory://``            -> ``InMemoryFileSystem``, a process-local
  store used by tests to prove the persistence modules contain no bare
  ``os.*`` / ``open()`` I/O;
* anything else (``s3://``, ``hdfs://``, ``gs://`` ...) ->
  ``ArrowFileSystem``, an adapter over ``pyarrow.fs.FileSystem
  .from_uri`` — PyArrow ships S3/HDFS/GCS clients, so the same
  metastore/writer code deploys against shared cluster storage with no
  code change (unverifiable in this offline container; the adapter is
  unit-tested against pyarrow's LocalFileSystem which shares the
  FileSystem ABC with the cloud implementations).

Usage contract:

    fs, path = get_filesystem(url)   # path is the scheme-stripped part
    fs.write_bytes(fs.join(path, "x.json"), b"...")

Executor-side closures (``foreachPartition``) must resolve the
filesystem INSIDE the closure from the URL string — ``FileSystem``
handles never cross the driver/executor boundary (the S3/HDFS clients
hold sockets that cannot be pickled).

Atomicity note: ``replace`` is an atomic POSIX rename on
``LocalFileSystem`` and a metadata move on HDFS; object stores have no
atomic rename, so ``ArrowFileSystem.replace`` degrades to copy+delete —
same visibility guarantees Spark's own HadoopMapReduceCommitProtocol
accepts on S3.
"""

from __future__ import annotations

import os
import posixpath
import shutil
import threading
import uuid
from typing import Iterator
from urllib.parse import urlsplit


class FileSystem:
    """Minimal FS surface the persistence layer needs. Paths are plain
    strings already stripped of their scheme (see ``get_filesystem``)."""

    # -- path algebra (pure string ops, shared) -----------------------------

    def join(self, *parts: str) -> str:
        return posixpath.join(*parts)

    def parent(self, path: str) -> str:
        return posixpath.dirname(path)

    def basename(self, path: str) -> str:
        return posixpath.basename(path)

    def relpath(self, path: str, start: str) -> str:
        return posixpath.relpath(path, start)

    # -- I/O -----------------------------------------------------------------

    def read_bytes(self, path: str) -> bytes:
        raise NotImplementedError

    def write_bytes(self, path: str, data: bytes) -> None:
        raise NotImplementedError

    def read_text(self, path: str) -> str:
        return self.read_bytes(path).decode("utf-8")

    def write_text(self, path: str, text: str) -> None:
        self.write_bytes(path, text.encode("utf-8"))

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def is_dir(self, path: str) -> bool:
        raise NotImplementedError

    def is_file(self, path: str) -> bool:
        raise NotImplementedError

    def mkdirs(self, path: str) -> None:
        raise NotImplementedError

    def listdir(self, path: str) -> list[str]:
        """Child names (not paths); [] for a missing directory."""
        raise NotImplementedError

    def walk(self, path: str) -> Iterator[tuple[str, list[str], list[str]]]:
        """os.walk-shaped traversal: (dirpath, dirnames, filenames)."""
        raise NotImplementedError

    def remove(self, path: str, missing_ok: bool = False) -> None:
        raise NotImplementedError

    def rmtree(self, path: str, ignore_errors: bool = False) -> None:
        raise NotImplementedError

    def replace(self, src: str, dst: str) -> None:
        """Move src over dst (atomic where the store allows)."""
        raise NotImplementedError


class LocalFileSystem(FileSystem):
    """Direct os/shutil implementation — the default for scheme-less and
    ``file://`` paths, and the only scheme executors touch in local mode."""

    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as fh:
            return fh.read()

    def write_bytes(self, path: str, data: bytes) -> None:
        # written beside the target, then renamed over it: a concurrent
        # reader sees the old bytes or the new, never a truncated file.
        # The dot-name ending ".tmp" matches no metastore listing.
        parent = os.path.dirname(path)
        if parent:
            os.makedirs(parent, exist_ok=True)
        tmp = os.path.join(
            parent, f".{os.path.basename(path)}.{uuid.uuid4().hex}.tmp")
        try:
            with open(tmp, "xb") as fh:
                fh.write(data)
            os.replace(tmp, path)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def is_file(self, path: str) -> bool:
        return os.path.isfile(path)

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def listdir(self, path: str) -> list[str]:
        if not os.path.isdir(path):
            return []
        return sorted(os.listdir(path))

    def walk(self, path: str):
        yield from os.walk(path)

    def remove(self, path: str, missing_ok: bool = False) -> None:
        try:
            os.remove(path)
        except FileNotFoundError:
            if not missing_ok:
                raise

    def rmtree(self, path: str, ignore_errors: bool = False) -> None:
        shutil.rmtree(path, ignore_errors=ignore_errors)

    def replace(self, src: str, dst: str) -> None:
        os.replace(src, dst)


class InMemoryFileSystem(FileSystem):
    """Process-local dict-backed store (scheme ``memory://``).

    Exists so tests can drive the metastore/sidecar/writer code through
    a NON-POSIX scheme, proving those modules perform no bare local I/O.
    One shared store per process (like a real remote FS from the
    driver's point of view); ``reset()`` clears it between tests.
    """

    _lock = threading.Lock()
    _files: dict[str, bytes] = {}
    _dirs: set[str] = set()

    @classmethod
    def reset(cls) -> None:
        with cls._lock:
            cls._files.clear()
            cls._dirs.clear()

    @staticmethod
    def _norm(path: str) -> str:
        return posixpath.normpath("/" + path.strip("/")).lstrip("/")

    def _add_parents(self, path: str) -> None:
        p = self._norm(path)
        while p and p != ".":
            self._dirs.add(p)
            p = posixpath.dirname(p)

    def read_bytes(self, path: str) -> bytes:
        with self._lock:
            key = self._norm(path)
            if key not in self._files:
                raise FileNotFoundError(path)
            return self._files[key]

    def write_bytes(self, path: str, data: bytes) -> None:
        with self._lock:
            key = self._norm(path)
            self._files[key] = bytes(data)
            self._add_parents(posixpath.dirname(key))

    def exists(self, path: str) -> bool:
        key = self._norm(path)
        with self._lock:
            return key in self._files or key in self._dirs

    def is_dir(self, path: str) -> bool:
        with self._lock:
            return self._norm(path) in self._dirs

    def is_file(self, path: str) -> bool:
        with self._lock:
            return self._norm(path) in self._files

    def mkdirs(self, path: str) -> None:
        with self._lock:
            self._add_parents(path)

    def listdir(self, path: str) -> list[str]:
        prefix = self._norm(path)
        out = set()
        with self._lock:
            if prefix not in self._dirs:
                return []
            plen = len(prefix) + 1 if prefix else 0
            for key in list(self._files) + list(self._dirs):
                if key != prefix and (not prefix or key.startswith(prefix + "/")):
                    out.add(key[plen:].split("/", 1)[0])
        return sorted(out)

    def walk(self, path: str):
        root = self._norm(path)
        if not self.is_dir(root):
            return
        names = self.listdir(root)
        dirnames = [n for n in names if self.is_dir(posixpath.join(root, n))]
        filenames = [n for n in names if self.is_file(posixpath.join(root, n))]
        yield root, dirnames, filenames
        for d in dirnames:
            yield from self.walk(posixpath.join(root, d))

    def remove(self, path: str, missing_ok: bool = False) -> None:
        with self._lock:
            key = self._norm(path)
            if key not in self._files:
                if missing_ok:
                    return
                raise FileNotFoundError(path)
            del self._files[key]

    def rmtree(self, path: str, ignore_errors: bool = False) -> None:
        prefix = self._norm(path)
        with self._lock:
            if prefix not in self._dirs and not ignore_errors:
                if prefix not in self._dirs:
                    return  # match shutil semantics loosely: no-op if gone
            for key in [k for k in self._files
                        if k == prefix or k.startswith(prefix + "/")]:
                del self._files[key]
            for key in [k for k in self._dirs
                        if k == prefix or k.startswith(prefix + "/")]:
                self._dirs.discard(key)

    def replace(self, src: str, dst: str) -> None:
        with self._lock:
            skey, dkey = self._norm(src), self._norm(dst)
            if skey not in self._files:
                raise FileNotFoundError(src)
            self._files[dkey] = self._files.pop(skey)
            self._add_parents(posixpath.dirname(dkey))


class ArrowFileSystem(FileSystem):
    """Adapter over ``pyarrow.fs.FileSystem`` — the deployment path for
    s3:// hdfs:// gs://. Import-gated; constructed per-URL via
    ``pyarrow.fs.FileSystem.from_uri`` (which also strips the scheme)."""

    def __init__(self, arrow_fs):
        self._fs = arrow_fs

    def _info(self, path: str):
        import pyarrow.fs as pafs

        info = self._fs.get_file_info([path])[0]
        return None if info.type == pafs.FileType.NotFound else info

    def read_bytes(self, path: str) -> bytes:
        with self._fs.open_input_stream(path) as fh:
            return fh.read()

    def write_bytes(self, path: str, data: bytes) -> None:
        parent = posixpath.dirname(path)
        if parent:
            self._fs.create_dir(parent, recursive=True)
        with self._fs.open_output_stream(path) as fh:
            fh.write(data)

    def exists(self, path: str) -> bool:
        return self._info(path) is not None

    def is_dir(self, path: str) -> bool:
        import pyarrow.fs as pafs

        info = self._info(path)
        return info is not None and info.type == pafs.FileType.Directory

    def is_file(self, path: str) -> bool:
        import pyarrow.fs as pafs

        info = self._info(path)
        return info is not None and info.type == pafs.FileType.File

    def mkdirs(self, path: str) -> None:
        self._fs.create_dir(path, recursive=True)

    def listdir(self, path: str) -> list[str]:
        import pyarrow.fs as pafs

        if not self.is_dir(path):
            return []
        sel = pafs.FileSelector(path, recursive=False)
        return sorted(posixpath.basename(i.path)
                      for i in self._fs.get_file_info(sel))

    def walk(self, path: str):
        import pyarrow.fs as pafs

        if not self.is_dir(path):
            return
        sel = pafs.FileSelector(path, recursive=False)
        infos = self._fs.get_file_info(sel)
        dirnames = sorted(posixpath.basename(i.path) for i in infos
                          if i.type == pafs.FileType.Directory)
        filenames = sorted(posixpath.basename(i.path) for i in infos
                           if i.type == pafs.FileType.File)
        yield path, dirnames, filenames
        for d in dirnames:
            yield from self.walk(posixpath.join(path, d))

    def remove(self, path: str, missing_ok: bool = False) -> None:
        if not self.exists(path):
            if missing_ok:
                return
            raise FileNotFoundError(path)
        self._fs.delete_file(path)

    def rmtree(self, path: str, ignore_errors: bool = False) -> None:
        try:
            self._fs.delete_dir(path)
        except FileNotFoundError:
            if not ignore_errors:
                raise
        except Exception:
            if not ignore_errors:
                raise

    def replace(self, src: str, dst: str) -> None:
        # HDFS: metadata rename. Object stores: pyarrow implements move
        # as server-side copy + delete — not atomic, but the commit
        # protocol here (write staged, replace, then delete stale)
        # tolerates that: a crash leaves extras, never a missing file.
        self._fs.move(src, dst)


def split_url(url: str) -> tuple[str, str]:
    """(scheme, path) with the path stripped of scheme/netloc. Plain
    POSIX paths come back with scheme ''. ``file:/x``, ``file:///x`` and
    ``/x`` all yield ``/x``."""
    if "://" not in url and not url.startswith("file:"):
        return "", url
    parts = urlsplit(url)
    if parts.scheme in ("", "file"):
        return parts.scheme, parts.path or "/"
    # remote schemes keep bucket/host as the first path component,
    # matching what pyarrow.fs.FileSystem.from_uri returns
    return parts.scheme, (parts.netloc + parts.path).rstrip("/") or "/"


def get_filesystem(url: str) -> tuple[FileSystem, str]:
    """Resolve a URL (or plain path) to (FileSystem, stripped_path)."""
    scheme, path = split_url(url)
    if scheme in ("", "file"):
        return LocalFileSystem(), path
    if scheme == "memory":
        return InMemoryFileSystem(), path
    import pyarrow.fs as pafs

    arrow_fs, arrow_path = pafs.FileSystem.from_uri(url)
    return ArrowFileSystem(arrow_fs), arrow_path
