"""The engine's session set-up (``multi_model_vectorsearch_spark/session.py``).

The import-time backport of CPython 3.13's lazy zipimport invalidation
(``_lazy_zipimport_invalidation``): after the engine import,
``importlib.invalidate_caches()`` re-reads no zip archive, on the driver
and in a Python worker, and imports from a rewritten or deleted archive
behave as they do on 3.13.

The Unix-socket transport between the JVM and its Python workers: the
engine session runs it from a short private directory, a session started
from a deep ``java.io.tmpdir`` still runs Python tasks, ``configure``
sets only what a live session can change, and no socket outlives the
process that bound it."""

from __future__ import annotations

import importlib
import os
import pathlib
import pkgutil
import shutil
import socket
import stat
import subprocess
import sys
import tempfile
import time
import zipfile
import zipimport

import pytest

import multi_model_vectorsearch_spark  # noqa: F401  (installs the backport)
from multi_model_vectorsearch_spark import session as S

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# runtimes the backport changes: their zipimporter re-reads eagerly
EAGER = not hasattr(zipimport.zipimporter, "_get_files")


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


class _CountReads:
    """Counts ``zipimport._read_directory`` calls inside the block."""

    def __enter__(self):
        self.calls = 0
        self._orig = zipimport._read_directory

        def counted(archive):
            self.calls += 1
            return self._orig(archive)

        zipimport._read_directory = counted
        return self

    def __exit__(self, *exc):
        zipimport._read_directory = self._orig


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip archive holding ``mmvs_zmod_a`` on ``sys.path``, imported
    once so its ``zipimporter`` sits in ``sys.path_importer_cache``."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"mmvs_zmod_a": "VALUE = 'a'\n"})
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("mmvs_zmod_a").VALUE == "a"
        assert isinstance(sys.path_importer_cache[archive],
                          zipimport.zipimporter)
        yield archive
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in [m for m in sys.modules if m.startswith("mmvs_zmod_")]:
            del sys.modules[name]


def test_invalidate_caches_reads_no_archive(zip_on_path):
    """``importlib.invalidate_caches()`` only drops the cached directory;
    the next import lookup in the archive reads it once."""
    with _CountReads() as inval:
        importlib.invalidate_caches()
    with _CountReads() as first, pytest.raises(ImportError):
        importlib.import_module("mmvs_zmod_missing")
    with _CountReads() as second, pytest.raises(ImportError):
        importlib.import_module("mmvs_zmod_missing2")
    if EAGER:
        assert inval.calls == 0
        assert first.calls >= 1, "the lookup must re-read the archive"
        assert second.calls == 0, "the re-read must happen once"


def test_rewritten_zip_importable_after_invalidate(zip_on_path):
    """A module added to a zip rewritten in place imports after
    ``importlib.invalidate_caches()``, and the old one still imports."""
    _write_zip(zip_on_path, {"mmvs_zmod_a": "VALUE = 'a2'\n",
                             "mmvs_zmod_b": "VALUE = 'b'\n"})
    importlib.invalidate_caches()
    del sys.modules["mmvs_zmod_a"]
    with _CountReads() as reads:
        assert importlib.import_module("mmvs_zmod_b").VALUE == "b"
        assert importlib.import_module("mmvs_zmod_a").VALUE == "a2"
    if EAGER:
        assert reads.calls == 1


def test_zip_modules_listed_after_invalidate(zip_on_path):
    """``pkgutil.iter_modules`` over a zip, which reads
    ``zipimport._zip_directory_cache`` directly, lists the archive's
    modules after ``importlib.invalidate_caches()``; the listing reads
    the archive once, and the next import lookup reads nothing."""
    importlib.invalidate_caches()
    with _CountReads() as listing:
        names = [m.name for m in pkgutil.iter_modules([zip_on_path])]
    assert names == ["mmvs_zmod_a"]
    with _CountReads() as lookup, pytest.raises(ImportError):
        importlib.import_module("mmvs_zmod_missing")
    if EAGER:
        assert listing.calls == 1
        assert lookup.calls == 0


def test_deleted_zip_raises_import_error(zip_on_path):
    """An importer whose archive was deleted reads as an empty archive:
    an import from it raises ``ImportError``, nothing else."""
    os.remove(zip_on_path)
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[zip_on_path]
    assert importer.find_spec("mmvs_zmod_c") is None
    with pytest.raises(ImportError):
        importlib.import_module("mmvs_zmod_c")


def test_worker_invalidate_caches_reads_no_archive(spark, tmp_path):
    """In a Python worker, an engine ``mapInPandas`` task imports the
    engine and a module from a zip of its own, then counts the archive
    reads of ``importlib.invalidate_caches()`` — the call PySpark's
    worker makes before every task. It also reports how many
    ``zipimporter`` entries the worker's path holds (PySpark's own zip,
    where it runs from one)."""
    import pandas as pd

    archive = str(tmp_path / "worker_mods.zip")
    _write_zip(archive, {"mmvs_zmod_w": "VALUE = 'w'\n"})

    def task(batches):
        import importlib
        import sys
        import zipimport

        import multi_model_vectorsearch_spark  # noqa: F401

        for _ in batches:
            pass
        sys.path.insert(0, archive)
        try:
            importlib.import_module("mmvs_zmod_w")
            zips = sum(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())
            calls = [0]
            orig = zipimport._read_directory

            def counted(a):
                calls[0] += 1
                return orig(a)

            zipimport._read_directory = counted
            try:
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = orig
        finally:
            sys.path.remove(archive)
            sys.path_importer_cache.pop(archive, None)
            sys.modules.pop("mmvs_zmod_w", None)
        from multi_model_vectorsearch_spark.session import PYTHON_SOCKET_DIR
        yield pd.DataFrame({"reads": [calls[0]], "zips": [zips],
                            "sockets": [str(PYTHON_SOCKET_DIR)]})

    row = spark.range(1).mapInPandas(
        task, "reads long, zips long, sockets string").first()
    assert row.zips >= 1
    # the worker's engine import made (found) the driver's directory
    assert row.sockets == str(S.PYTHON_SOCKET_DIR)
    if EAGER:
        assert row.reads == 0


# --- the Unix-socket transport ------------------------------------------

def _private_dir_ok(path: str) -> None:
    st = os.lstat(path)
    assert stat.S_ISDIR(st.st_mode), "a directory, not a symlink"
    assert st.st_uid == os.getuid()
    assert stat.S_IMODE(st.st_mode) == 0o700
    # every socket adds "/.<uuid>.sock"; AF_UNIX paths hold 107 bytes
    assert len(path) + 43 <= 107


def test_engine_session_runs_unix_sockets(spark):
    """The engine's session (``get_spark`` on ``local[...]``) runs its
    Python workers over Unix sockets in a short private directory."""
    conf = spark.sparkContext.getConf()
    assert conf.get(S.SOCKET_CONFS[0]) == "true"
    path = conf.get(S.SOCKET_CONFS[1])
    assert path == S.PYTHON_SOCKET_DIR
    _private_dir_ok(path)
    assert spark.range(3).mapInPandas(lambda it: it, "id long").count() == 3


def test_socket_confs_only_on_local_masters():
    """Non-``local[...]`` masters keep TCP: the directory exists on the
    driver's host only."""
    for master in ("spark://host:7077", "yarn", "k8s://https://h:443",
                   "local-cluster[2,1,1024]"):
        confs = S.session_confs(master)
        assert not set(S.SOCKET_CONFS) & set(confs), master
        assert confs["spark.sql.session.timeZone"] == "UTC"
    local = S.session_confs("local[4]")
    assert local == S.RUNTIME_CONFS
    assert local[S.SOCKET_CONFS[0]] == "true"
    assert local[S.SOCKET_CONFS[1]] == S.PYTHON_SOCKET_DIR


def test_configure_sets_no_static_conf(spark, monkeypatch):
    """``configure`` sets only keys a live session can modify: none of
    its sets raises, and the socket keys are left to build time."""
    conf = spark.conf
    real, tried, failed = conf.set, [], []

    def checked(key, value):
        tried.append(key)
        try:
            real(key, value)
        except Exception:
            failed.append(key)
            raise

    monkeypatch.setattr(conf, "set", checked)
    S.configure(spark)
    assert not failed
    assert set(tried) == set(S.RUNTIME_CONFS) - set(S.SOCKET_CONFS)


@pytest.fixture
def short_dir():
    """A fresh directory under ``/tmp``: socket and socket-directory
    paths stay within ``AF_UNIX``'s 107 bytes wherever pytest keeps its
    own temporary files."""
    path = tempfile.mkdtemp(prefix="mmvs-t-", dir="/tmp")
    try:
        yield pathlib.Path(path)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_socket_dir_checks(short_dir, monkeypatch):
    """``_python_socket_dir`` makes a missing directory 0700 under any
    umask, is idempotent and cheap, and answers None, never raising,
    where the directory cannot be made or is not private."""
    fresh = str(short_dir / "s")
    old = os.umask(0o077 ^ 0o777)  # a umask that clears owner bits
    try:
        assert S._python_socket_dir(fresh) == fresh
    finally:
        os.umask(old)
    _private_dir_ok(fresh)
    start = time.perf_counter()
    for _ in range(1000):
        assert S._python_socket_dir(fresh) == fresh
    assert time.perf_counter() - start < 1.0  # ~6 us a call measured
    assert S._python_socket_dir(S.PYTHON_SOCKET_DIR) == S.PYTHON_SOCKET_DIR

    wide = short_dir / "wide"
    wide.mkdir(mode=0o755)
    os.chmod(wide, 0o755)
    link = short_dir / "link"
    link.symlink_to(fresh)
    plain = short_dir / "file"
    plain.write_text("")
    for bad in (str(wide), str(link), str(plain),
                str(short_dir / "missing" / "s"),
                "/tmp/" + "d" * 60):
        assert S._python_socket_dir(bad) is None, bad
    assert not os.path.exists("/tmp/" + "d" * 60)

    def refuse(*_a):
        raise PermissionError("read-only")

    monkeypatch.setattr(os, "mkdir", refuse)
    assert S._python_socket_dir(str(short_dir / "ro")) is None


def test_sweep_removes_only_unbound_sockets(short_dir):
    """``_sweep_sockets`` removes a socket file whose socket is closed
    and one this process holds, and keeps one another process holds
    bound."""
    def bound(name):
        s = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
        s.bind(str(short_dir / name))
        s.listen()
        return s

    bound(".stale.sock").close()
    own = bound(".own.sock")
    live = str(short_dir / ".live.sock")
    holder = subprocess.Popen(
        [sys.executable, "-c",
         "import socket, sys; s = socket.socket(socket.AF_UNIX); "
         f"s.bind({live!r}); s.listen(); print('up', flush=True); "
         "sys.stdin.read()"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        assert holder.stdout.readline().strip() == "up"
        (short_dir / "notes.txt").write_text("")
        S._sweep_sockets(str(short_dir))
        assert sorted(os.listdir(short_dir)) == [".live.sock", "notes.txt"]
    finally:
        own.close()
        holder.stdin.close()
        holder.wait(timeout=30)


def test_deep_tmpdir_session_and_no_socket_left(tmp_path):
    """A session whose ``java.io.tmpdir`` (and ``TMPDIR``) is over 100
    characters still runs a ``mapInPandas``: no socket path depends on
    it. The session is not stopped, and once its process has exited no
    socket it made is left in the directory."""
    deep = tmp_path / ("d" * 40) / ("e" * 40) / ("f" * 40)
    deep.mkdir(parents=True)
    assert len(str(deep)) >= 100
    script = f"""
import os, sys
sys.path.insert(0, {ROOT!r})
from pyspark.sql import SparkSession
from multi_model_vectorsearch_spark.session import configure, session_confs
b = (SparkSession.builder.master("local[1]").appName("deep-tmpdir")
     .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir={deep}")
     .config("spark.ui.enabled", "false"))
for k, v in session_confs("local[1]").items():
    b = b.config(k, v)
spark = configure(b.getOrCreate())
jvm = spark.sparkContext._jvm
assert jvm.java.lang.System.getProperty("java.io.tmpdir") == {str(deep)!r}
n = spark.range(5).mapInPandas(lambda it: it, "id long").count()
print("made", *os.listdir({S.PYTHON_SOCKET_DIR!r}))
print("count", n)
"""
    before = set(os.listdir(S.PYTHON_SOCKET_DIR))
    env = dict(os.environ, TMPDIR=str(deep))
    out = subprocess.run([sys.executable, "-c", script], env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = dict(line.split(" ", 1) for line in out.stdout.splitlines()
                 if line.startswith(("made", "count")))
    assert lines["count"] == "5"
    made = set(lines["made"].split()) - before
    assert made, "the session bound its sockets in the directory"
    deadline = time.monotonic() + 30
    while made & set(os.listdir(S.PYTHON_SOCKET_DIR)):
        assert time.monotonic() < deadline, made & set(
            os.listdir(S.PYTHON_SOCKET_DIR))
        time.sleep(0.2)
