"""Pluggable read-side storage seam for the manifest lakehouse layer.

Every read of a manifest-committed table — manifest JSONs, the
checkpoint pointer, batch and delete-key listings, manifest mtimes, and
the parquet bytes the Python DataSource readers decode on executors —
goes through the tiny `StorageBackend` interface below, by way of the
format module `manifest_log`. Both lakehouse tiers use it:

- `HadoopBackend(spark)` — the operator tier (streaming/manifest.py,
  streaming/__init__.py): the session's Hadoop FileSystem, so every
  scheme the session can reach (local, hdfs://, s3a://, ...) works.
  Driver-only: it holds a py4j handle and never ships to workers.
- `LocalBackend` — plain local paths (and `file://`); the connector
  tier's default, and the fast path (parquet reads hand pyarrow the
  path itself so it can memory-map instead of streaming through a file
  object).
- `MemoryBackend` — an in-process `memory://` filesystem for unit
  tests. The store travels WITH the backend when a reader is pickled,
  so executor-side reads observe a snapshot taken at plan-serialization
  time — exactly the immutability the manifest protocol guarantees for
  committed files, and sufficient for driver-side unit tests.
- `FsspecBackend` — any scheme fsspec knows (`s3://`, `gs://`, ...)
  when the `fsspec` package is importable. This container does not ship
  it; the refusal path raises a clear ImportError, and the adapter's
  delegations are covered for real by a vendored fsspec-compatible
  shim (tests/_fsspec_shim.py installed as sys.modules['fsspec'] —
  plan + executor read run end-to-end through it), so a real
  deployment needs zero connector changes.

Only five operations exist because only five are needed: `open` (read a
manifest / parquet bytes), `exists` (checkpoint + version probes),
`listdir` (manifest listing, batch-dir file listing), `isdir`, and
`mtime` (timestamp resolution and age-based retention; optional — None
means "unknown", and the resolution degrades gracefully). Writes stay
outside the seam: the operator tier commits through its CommitBackend
and Spark writers.
"""

from __future__ import annotations

import io
import os


def _scheme(path: str) -> str:
    """URL scheme of `path`, '' for plain local paths. Windows drive
    letters are not schemes, but this environment is POSIX-only."""
    i = path.find("://")
    return path[:i] if i > 0 else ""


class StorageBackend:
    """Minimal read-side filesystem contract (see module doc)."""

    def open(self, path: str, mode: str = "rb"):
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def isdir(self, path: str) -> bool:
        raise NotImplementedError

    def listdir(self, path: str) -> list[str]:
        """Child NAMES (not paths) of a directory; [] if absent."""
        raise NotImplementedError

    def mtime(self, path: str) -> float | None:
        """Last-modified epoch seconds, None if absent/unknown. Used by
        the stream sources' startingTimestamp resolution (manifest
        mtimes are monotone with version — the same invariant vacuum's
        age-based retention already rests on)."""
        return None

    def local_path(self, path: str) -> str | None:
        """A local filesystem path pyarrow may mmap, else None."""
        return None


class LocalBackend(StorageBackend):
    def _strip(self, path: str) -> str:
        return path[len("file://"):] if path.startswith("file://") else path

    def open(self, path: str, mode: str = "rb"):
        return open(self._strip(path), mode)

    def exists(self, path: str) -> bool:
        return os.path.exists(self._strip(path))

    def isdir(self, path: str) -> bool:
        return os.path.isdir(self._strip(path))

    def listdir(self, path: str) -> list[str]:
        p = self._strip(path)
        return sorted(os.listdir(p)) if os.path.isdir(p) else []

    def mtime(self, path: str) -> float | None:
        p = self._strip(path)
        return os.path.getmtime(p) if os.path.exists(p) else None

    def local_path(self, path: str) -> str | None:
        return self._strip(path)


class MemoryBackend(StorageBackend):
    """memory:// — a dict of path -> bytes. Directories are implicit
    (every prefix segment of a stored key). One process-wide shared
    store backs `get_backend("memory://...")` so tests can write
    through one handle and plan through another; instances pickle their
    store by value (snapshot semantics, see module doc)."""

    _shared: dict[str, bytes] = {}
    _shared_mtimes: dict[str, float] = {}

    def __init__(
        self,
        store: dict[str, bytes] | None = None,
        mtimes: dict[str, float] | None = None,
    ):
        self.store = self._shared if store is None else store
        self.mtimes = (
            self._shared_mtimes if store is None else (mtimes or {})
        )

    @staticmethod
    def _norm(path: str) -> str:
        p = path[len("memory://"):] if path.startswith("memory://") else path
        return p.strip("/")

    def put(self, path: str, data: bytes, mtime: float | None = None) -> None:
        import time

        key = self._norm(path)
        self.store[key] = bytes(data)
        self.mtimes[key] = time.time() if mtime is None else float(mtime)

    def delete(self, path: str) -> None:
        key = self._norm(path)
        self.store.pop(key, None)
        self.mtimes.pop(key, None)

    def clear(self) -> None:
        self.store.clear()
        self.mtimes.clear()

    def open(self, path: str, mode: str = "rb"):
        key = self._norm(path)
        if mode == "rb":
            if key not in self.store:
                raise FileNotFoundError(path)
            return io.BytesIO(self.store[key])
        if mode == "wb":
            backend, k = self, key

            class _Writer(io.BytesIO):
                def close(_self):
                    backend.store[k] = _self.getvalue()
                    super().close()

            return _Writer()
        raise ValueError(f"MemoryBackend supports rb/wb, not {mode!r}")

    def exists(self, path: str) -> bool:
        key = self._norm(path)
        return key in self.store or self.isdir(path)

    def isdir(self, path: str) -> bool:
        prefix = self._norm(path) + "/"
        return any(k.startswith(prefix) for k in self.store)

    def listdir(self, path: str) -> list[str]:
        prefix = self._norm(path)
        prefix = prefix + "/" if prefix else ""
        names = {
            k[len(prefix):].split("/", 1)[0]
            for k in self.store
            if k.startswith(prefix)
        }
        return sorted(names)

    def mtime(self, path: str) -> float | None:
        return self.mtimes.get(self._norm(path))

    def __reduce__(self):
        # pickle the store BY VALUE: a deserialized reader on another
        # process sees the files that existed when the plan shipped
        return (MemoryBackend, (dict(self.store), dict(self.mtimes)))


class FsspecBackend(StorageBackend):
    """Adapter over fsspec when the package is available (not in this
    container — constructor raises a clear refusal otherwise)."""

    def __init__(self, scheme: str):
        try:
            import fsspec
        except ImportError as e:
            raise ImportError(
                f"scheme {scheme!r}:// needs the fsspec package, which is "
                "not installed in this environment; local and memory:// "
                "paths work without it"
            ) from e
        self.scheme = scheme
        self.fs = fsspec.filesystem(scheme)

    def open(self, path: str, mode: str = "rb"):
        return self.fs.open(path, mode)

    def exists(self, path: str) -> bool:
        return self.fs.exists(path)

    def isdir(self, path: str) -> bool:
        return self.fs.isdir(path)

    def listdir(self, path: str) -> list[str]:
        if not self.fs.isdir(path):
            return []
        return sorted(p.rstrip("/").rsplit("/", 1)[-1] for p in self.fs.ls(path))

    def mtime(self, path: str) -> float | None:
        try:
            m = self.fs.modified(path)
        except (FileNotFoundError, NotImplementedError, AttributeError):
            return None
        if hasattr(m, "timestamp"):
            if getattr(m, "tzinfo", None) is None:
                # several fsspec filesystems return NAIVE datetimes
                # that are UTC by convention (sftp/ftp, older local);
                # a bare .timestamp() would reinterpret them in the
                # machine's local zone and skew startingTimestamp
                # resolution by the UTC offset
                from datetime import timezone

                m = m.replace(tzinfo=timezone.utc)
            return m.timestamp()
        return float(m)


class HadoopBackend(StorageBackend):
    """The session's Hadoop FileSystem behind the read seam — how the
    operator tier reads the manifest log on the driver. `open` drains
    the whole file, which suits the small metadata files it serves."""

    def __init__(self, spark):
        self._jvm = spark.sparkContext._jvm
        self._conf = spark.sparkContext._jsc.hadoopConfiguration()
        self._Path = self._jvm.org.apache.hadoop.fs.Path

    def _resolve(self, path: str):
        jpath = self._Path(path)
        return jpath.getFileSystem(self._conf), jpath

    def open(self, path: str, mode: str = "rb"):
        if mode != "rb":
            raise ValueError(f"HadoopBackend reads only ('rb'), not {mode!r}")
        from py4j.protocol import Py4JJavaError

        fs, jpath = self._resolve(path)
        try:
            stream = fs.open(jpath)
        except Py4JJavaError as e:
            if not fs.exists(jpath):
                raise FileNotFoundError(path) from e
            raise
        # Hadoop IOUtils drains the stream into a Java buffer; py4j hands
        # byte[] back as Python bytes (a py4j-side new_array + readFully
        # round trip would NOT see the Java mutation)
        bos = self._jvm.java.io.ByteArrayOutputStream()
        self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, bos, 4096, True)
        return io.BytesIO(bytes(bos.toByteArray()))

    def exists(self, path: str) -> bool:
        fs, jpath = self._resolve(path)
        return bool(fs.exists(jpath))

    def isdir(self, path: str) -> bool:
        fs, jpath = self._resolve(path)
        return bool(fs.isDirectory(jpath))

    def listdir(self, path: str) -> list[str]:
        fs, jpath = self._resolve(path)
        if not fs.isDirectory(jpath):
            return []
        return sorted(st.getPath().getName() for st in fs.listStatus(jpath))

    def mtime(self, path: str) -> float | None:
        fs, jpath = self._resolve(path)
        if not fs.exists(jpath):
            return None
        return fs.getFileStatus(jpath).getModificationTime() / 1000.0


def get_backend(path: str) -> StorageBackend:
    """Backend for `path` by scheme: ''/file -> local, memory -> the
    shared in-process store, anything else -> fsspec (or a clear
    ImportError when fsspec is absent)."""
    s = _scheme(path)
    if s in ("", "file"):
        return LocalBackend()
    if s == "memory":
        return MemoryBackend()
    return FsspecBackend(s)
