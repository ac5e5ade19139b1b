"""Filesystem adapter for the ingest state machine.

The exactly-once commit protocol in ``ingest.py`` (per-batch
subdirectories + ``_SUCCESS`` markers, a ``_CURRENT`` generation-pointer
flip for compaction and IVF re-train, torn-batch detection) needs
exactly seven primitives: join,
isdir, isfile, listdir, rename, rmtree, and small-file read/write. On a
laptop those are ``os``/``shutil``; on the cluster where a 100 TB corpus
actually lives the state sits on HDFS or an object store, where none of
the POSIX calls exist. This module is the one seam: every state-FS
operation in the pipeline routes through a :class:`StateFS`, so the same
commit protocol runs unchanged against any Hadoop-supported filesystem.

Two backends:

- :class:`LocalStateFS` — ``os``/``shutil``; the default for plain local
  paths (behaviour-identical to the pre-adapter code).
- :class:`HadoopStateFS` — the Hadoop ``FileSystem`` API via the live
  SparkSession's JVM (``Path.getFileSystem``), so ``hdfs://``, ``s3a://``,
  ``gs://``, ``abfs://`` state dirs all work with whatever credentials the
  Spark conf already carries. No new dependency: the classes ship inside
  every Spark distribution.

The pipeline commits every rebuilt store the same way on every backend:
one atomic small-file write of a ``_CURRENT`` pointer naming the new
generation (``IngestPipeline._swap_dir``); no directory rename is ever a
commit point. Rename atomicity still differs by store — POSIX and HDFS
renames are atomic, object-store "rename" is a copy-and-delete with no
atomicity at all — and each backend reports it as
:attr:`StateFS.atomic_rename`. That flag only chooses how
``write_text`` overwrites a file: temp file + atomic rename where renames
are atomic, a direct single-object PUT where they are not.
"""

from __future__ import annotations

import os
import shutil


# Hadoop schemes whose rename is an O(data) copy with no atomicity —
# ``write_text`` must not build its overwrite on a rename there.
_NON_ATOMIC_RENAME_SCHEMES = {
    "s3", "s3a", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss", "oss",
    "cos", "swift",
}


def _hidden(name: str) -> bool:
    """Spark's hidden-file convention: ``.``/``_``-prefixed entries are
    skipped by its file listing, so state probes must skip them too
    (a staged ``.gen-<n>`` directory or a ``_CURRENT`` pointer is not
    readable state)."""
    return name.startswith(".") or name.startswith("_")


class LocalStateFS:
    """POSIX backend — the pre-adapter ``os``/``shutil`` behaviour."""

    atomic_rename = True

    @staticmethod
    def join(root: str, *parts: str) -> str:
        return os.path.join(root, *parts)

    @staticmethod
    def isdir(path: str) -> bool:
        return os.path.isdir(path)

    @staticmethod
    def isfile(path: str) -> bool:
        return os.path.isfile(path)

    @staticmethod
    def listdir(path: str) -> list[str]:
        """Child names, [] if the directory doesn't exist."""
        if not os.path.isdir(path):
            return []
        return sorted(os.listdir(path))

    @staticmethod
    def rename(src: str, dst: str) -> None:
        os.rename(src, dst)

    @staticmethod
    def rmtree(path: str) -> None:
        """Recursive delete; also accepts a plain file (Hadoop's delete
        does both, so the adapter contract does too)."""
        if os.path.isfile(path):
            os.remove(path)
        else:
            shutil.rmtree(path, ignore_errors=True)

    def has_parquet(self, path: str) -> bool:
        """True iff ``path`` holds at least one NON-HIDDEN parquet file —
        i.e. data a Spark read of ``path`` would actually see. Hidden
        subtrees (staged generations) are pruned."""
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not _hidden(d)]
            if any(f.endswith(".parquet") and not _hidden(f)
                   for f in files):
                return True
        return False

    @staticmethod
    def scan_tree(path: str) -> list[str]:
        """Every FILE under ``path``, recursively, as sorted
        ``/``-separated paths relative to ``path`` — hidden entries
        included (the caller decides; ``_SUCCESS`` markers and staged
        subtrees are both facts a state scan needs). [] if the directory
        doesn't exist. This is the bulk-metadata primitive: ONE call
        replaces a stat per subdirectory, which is the difference between
        O(stores) and O(batch directories) round trips per consistent
        read on a remote store."""
        if not os.path.isdir(path):
            return []
        out: list[str] = []
        base = os.path.abspath(path)
        for root, _dirs, files in os.walk(base):
            rel = os.path.relpath(root, base)
            prefix = "" if rel == "." else rel.replace(os.sep, "/") + "/"
            out.extend(prefix + f for f in files)
        return sorted(out)

    @staticmethod
    def read_text(path: str) -> str | None:
        """Small-file read; None if missing."""
        try:
            with open(path, encoding="utf8") as f:
                return f.read()
        except FileNotFoundError:
            return None

    @staticmethod
    def write_text(path: str, content: str) -> None:
        """Single-file commit: write a sibling temp then rename over —
        readers see the old content or the new, never a torn write."""
        tmp = path + ".tmp"
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(tmp, "w", encoding="utf8") as f:
            f.write(content)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, path)


class HadoopStateFS:
    """Hadoop ``FileSystem`` backend via the SparkSession's JVM.

    One adapter serves every Hadoop-supported scheme; the filesystem
    object is resolved from the state root's own URI, so an ``s3a://``
    corpus and an ``hdfs://`` checkpoint coexist. ``atomic_rename``
    reflects the resolved scheme (HDFS/file: true; object stores: false),
    which picks how ``write_text`` overwrites (see the module docstring).
    """

    def __init__(self, spark, root: str):
        self._jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway
        self._conf = spark._jsc.hadoopConfiguration()
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(root).getFileSystem(self._conf)
        self.scheme = self._fs.getScheme()
        self.atomic_rename = (
            self.scheme not in _NON_ATOMIC_RENAME_SCHEMES)
        # FileContext handle for single-step overwrite renames (see
        # write_text); probed lazily and ONCE — not every scheme registers
        # an AbstractFileSystem. The tri-state cache (None = unprobed,
        # True/False = probe verdict) is what keeps the fallback honest:
        # only a scheme that genuinely lacks FileContext degrades to
        # delete+rename, while a TRANSIENT failure on a scheme that has
        # it propagates instead of silently reopening the missing-file
        # window exactly when the filesystem is flaky.
        self._fc = None
        self._fc_available: bool | None = None

    def _p(self, path: str):
        return self._Path(path)

    @staticmethod
    def join(root: str, *parts: str) -> str:
        # URI-style join: Hadoop paths always use '/' regardless of host OS
        out = root.rstrip("/")
        for part in parts:
            out += "/" + part.strip("/")
        return out

    def isdir(self, path: str) -> bool:
        p = self._p(path)
        return bool(self._fs.exists(p)
                    and self._fs.getFileStatus(p).isDirectory())

    def isfile(self, path: str) -> bool:
        p = self._p(path)
        return bool(self._fs.exists(p)
                    and self._fs.getFileStatus(p).isFile())

    def listdir(self, path: str) -> list[str]:
        if not self.isdir(path):
            return []
        return sorted(st.getPath().getName()
                      for st in self._fs.listStatus(self._p(path)))

    def rename(self, src: str, dst: str) -> None:
        """Hadoop rename returns False instead of raising — surface that
        as an error so a failed swap can't be silently half-applied."""
        if not self._fs.rename(self._p(src), self._p(dst)):
            raise OSError(f"rename failed: {src} -> {dst}")

    def rmtree(self, path: str) -> None:
        p = self._p(path)
        if self._fs.exists(p):
            self._fs.delete(p, True)

    def has_parquet(self, path: str) -> bool:
        if not self.isdir(path):
            return False
        # Recursive leaf listing, pruning hidden components the way a
        # Spark read would (listFiles itself does NOT filter hidden).
        # Relativize via the scheme-less URI path on BOTH sides: listFiles
        # returns fully-qualified paths (scheme://authority/...) even for
        # a bare-path base, so a plain string-prefix slice misaligns and
        # would run the hidden check over the ROOT's own components — a
        # state root under a '_'/'.'-prefixed parent (e.g. /data/_state)
        # would read as permanently empty.
        it = self._fs.listFiles(self._p(path), True)
        base = self._fs.makeQualified(self._p(path)).toUri().getPath()
        base = base.rstrip("/")
        while it.hasNext():
            leaf = it.next().getPath().toUri().getPath()
            if leaf.startswith(base + "/"):
                rel = leaf[len(base) + 1:]
            else:  # symlink/mount alias — fall back to the leaf name only
                rel = leaf.rsplit("/", 1)[-1]
            parts = rel.split("/")
            if any(_hidden(c) for c in parts[:-1]):
                continue
            name = parts[-1]
            if name.endswith(".parquet") and not _hidden(name):
                return True
        return False

    def read_text(self, path: str) -> str | None:
        p = self._p(path)
        if not self._fs.exists(p):
            return None
        ins = self._fs.open(p)
        try:
            reader = self._jvm.java.io.BufferedReader(
                self._jvm.java.io.InputStreamReader(ins, "UTF-8"))
            lines = []
            line = reader.readLine()
            while line is not None:
                lines.append(line)
                line = reader.readLine()
            return "\n".join(lines)
        finally:
            ins.close()

    @staticmethod
    def _is_unsupported_fs(exc: Exception) -> bool:
        """True iff ``exc`` wraps Hadoop's UnsupportedFileSystemException
        (the scheme registers no AbstractFileSystem, so FileContext can
        never work there) — the ONLY condition that may demote write_text
        to the delete+rename fallback."""
        je = getattr(exc, "java_exception", None)
        while je is not None:
            try:
                if ("UnsupportedFileSystemException"
                        in je.getClass().getName()):
                    return True
                je = je.getCause()
            except Exception:
                break
        return "UnsupportedFileSystemException" in str(exc)

    def _file_context(self, path: str):
        """The FileContext handle for single-step overwrite renames, or
        None when the scheme registers no AbstractFileSystem. Probed once
        and cached: after a successful probe, a FAILING FileContext call
        propagates to the caller rather than downgrading the commit
        protocol — a transient error on a capable scheme must not
        silently reintroduce the delete+rename missing-file window."""
        if self._fc_available is None:
            try:
                jvm = self._jvm
                self._fc = (jvm.org.apache.hadoop.fs.FileContext
                            .getFileContext(self._p(path).toUri(),
                                            self._conf))
                rename_opt = jvm.org.apache.hadoop.fs.Options.Rename
                self._fc_overwrite = self._gateway.new_array(rename_opt, 1)
                self._fc_overwrite[0] = rename_opt.OVERWRITE
                self._fc_available = True
            except Exception as exc:
                if not self._is_unsupported_fs(exc):
                    raise
                self._fc_available = False
        return self._fc if self._fc_available else None

    def _overwrite_rename(self, src: str, dst: str) -> None:
        """Single-step overwrite rename via the FileContext API —
        ``FileSystem.rename`` refuses an existing destination on HDFS, but
        ``FileContext.rename(…, Options.Rename.OVERWRITE)`` replaces it in
        ONE atomic step, so neither a crash nor a concurrent reader can
        ever observe the destination missing (the r10 delete-then-rename
        dance had exactly that window: a reader between the delete and the
        rename saw no ``_CURRENT`` and resolved state to the swept root).
        Errors propagate: the caller already verified FileContext exists
        for this scheme."""
        self._file_context(dst).rename(
            self._p(src), self._p(dst), self._fc_overwrite)

    def write_text(self, path: str, content: str) -> None:
        """Single-file commit. Where renames are atomic, temp + one-step
        overwrite rename (FileContext) — readers see the old content or
        the new, never a torn write AND never a missing file. On object
        stores a single-object overwrite PUT is itself atomic (readers see
        old or new bytes, never torn), and a copy-based rename would be
        strictly weaker — write direct. Only a scheme that registers NO
        AbstractFileSystem (probed once, cached) degrades to
        delete+rename — its missing-file window is confined to such
        schemes; any other FileContext failure propagates."""
        if not self.atomic_rename:
            out = self._fs.create(self._p(path), True)
            try:
                out.write(bytearray(content, "utf8"))
            finally:
                out.close()
            return
        tmp = path + ".tmp"
        out = self._fs.create(self._p(tmp), True)
        try:
            out.write(bytearray(content, "utf8"))
        finally:
            out.close()
        if self._file_context(path) is not None:
            self._overwrite_rename(tmp, path)
        else:
            # Scheme without an AbstractFileSystem binding (FileContext
            # unavailable): delete + rename. The missing-file window
            # exists only here — callers that need concurrent readers
            # run HDFS/file, where FileContext exists.
            self._fs.delete(self._p(path), False)
            self.rename(tmp, path)

    def scan_tree(self, path: str) -> list[str]:
        """Every file under ``path`` as sorted ``/``-relative paths —
        the bulk-metadata primitive (see LocalStateFS.scan_tree). ONE
        ``listFiles(recursive=True)`` round-trip stream instead of a
        stat per subdirectory. Relativization mirrors ``has_parquet``:
        qualified-URI paths on both sides, with a name-only fallback for
        symlink/mount aliases."""
        if not self.isdir(path):
            return []
        it = self._fs.listFiles(self._p(path), True)
        base = self._fs.makeQualified(self._p(path)).toUri().getPath()
        base = base.rstrip("/")
        out: list[str] = []
        while it.hasNext():
            leaf = it.next().getPath().toUri().getPath()
            if leaf.startswith(base + "/"):
                out.append(leaf[len(base) + 1:])
            else:  # symlink/mount alias — fall back to the leaf name only
                out.append(leaf.rsplit("/", 1)[-1])
        return sorted(out)


def statefs_for(spark, state_dir: str):
    """Pick the backend from the state root: scheme-qualified URIs go to
    Hadoop (whatever filesystem the scheme names), bare paths stay on the
    direct POSIX backend. Tests force a specific backend by passing
    ``fs=`` to the pipeline instead."""
    if "://" in state_dir:
        return HadoopStateFS(spark, state_dir)
    return LocalStateFS()
