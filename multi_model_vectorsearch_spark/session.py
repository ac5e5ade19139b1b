"""SparkSession factory with the engine's required configuration.

The engine pins a deterministic, scale-ready configuration:

- UTC session timezone (determinism rule, SURVEY.md §5.3).
- AQE on: runtime re-planning, skew-join splitting, shuffle coalescing —
  the 100 TB design point relies on it.
- Arrow on: vectorized Python interchange for the pandas-UDF embedding surface.
- ``spark.sql.legacy.parquet.nanosAsLong=true``: the driver testdata's
  ``events.parquet`` carries TIMESTAMP(NANOS), which Spark 4.x otherwise
  rejects (PARQUET_TYPE_ILLEGAL). The sources registry re-exposes the column
  as a microsecond timestamp (see sources/registry.py).

Importing this module (every engine import does, through the package
``__init__``) also backports CPython 3.13's lazy zipimport invalidation
(``_lazy_zipimport_invalidation``). PySpark's worker calls
``importlib.invalidate_caches()`` before every Python task, and on
Python 3.11 and 3.12.1 each ``zipimporter`` on the path then re-reads
its archive's central directory at once. A worker running from
``pyspark.zip`` holds 16 of them, all over that one archive, so every
task re-read it 16 times. On a 4-core host (pyspark 4.1.2, Python
3.11.7, ``local[2]``) a 1-row ``rdd.map`` took a median 214 ms without
the backport and 103 ms with it, and the re-reads per
``invalidate_caches()`` went from 16 to 0.
With the backport the call only drops the cached directory, and the
next lookup in that archive reads it once. Every Python worker that
unpickles an engine function imports the engine and so installs it;
the driver installs it at its first engine import. A runtime whose
``zipimporter`` already reads lazily (it has ``_get_files``, as 3.13
does) is left as it is.

Sessions the engine builds on a ``local[...]`` master run the
JVM<->Python-worker channel over Unix domain sockets
(``spark.python.unix.domain.socket.enabled``, Spark 4.1). Over the
default loopback TCP socket a small Python task waited ~40 ms for its
first Arrow batch: a Nagle/delayed-ACK stall on the JVM's small writes,
the same for 1 or 100 rows (42 ms) and gone once the data is large
(4.8 ms for 200k rows). A warm ``/search`` runs one small Python task,
so the stall was a fixed share of its latency. On a 4-core host
(pyspark 4.1.2, Python 3.11.7, ``local[4]``), medians of 10 jobs in
two sessions per side: a 100-row ``mapInPandas`` job 143 / 179 ms over
TCP, 108 / 108 ms over Unix sockets (200k rows: 194 / 211 against
188 / 218 ms). Warm exact ``/search`` on a 100-doc corpus, medians of
30 new texts: 274–300 ms before, 236 ms with only the compile-free
filters of ``search_many``, 189–205 ms with both.

The socket directory (``PYTHON_SOCKET_DIR``, ``_python_socket_dir``) is
``/tmp/mmvs-<uid>``, and it must be:

- private: PySpark's daemon skips the worker secret on a Unix socket,
  so the directory's permissions are the only guard. It is made 0700
  and checked with ``lstat``: a directory, not a symlink, owned by the
  user, mode 0700;
- short: sockets are named ``.<uuid>.sock`` (42 characters after the
  separator), and ``AF_UNIX`` paths hold 107 bytes, so the directory
  may take 64. Spark's default, ``java.io.tmpdir``, lies under the
  checkout in the benchmark, and a deep checkout then failed every
  session start with ``OSError: AF_UNIX path too long``;
- present before the ``SparkContext`` starts: the driver's accumulator
  server binds there first (a missing directory fails with
  ``FileNotFoundError``).

It is made at every engine import, Python workers included, so the
call is two system calls when it exists and never raises: where the
directory cannot be made or fails the checks, ``RUNTIME_CONFS`` leaves
the socket keys out and the session keeps TCP. Sockets whose process
died without removing them are swept when a process that imported
the engine exits (``_sweep_sockets``), so they do not pile up across
runs. Masters other than ``local[...]`` keep TCP (``session_confs``):
a directory made by the driver does not exist on executor hosts.
"""

from __future__ import annotations

import atexit
import os
import stat

from pyspark.sql import SparkSession

#: The static confs that move the JVM<->Python-worker channel onto Unix
#: domain sockets; a live session cannot change them.
SOCKET_CONFS = ("spark.python.unix.domain.socket.enabled",
                "spark.python.unix.domain.socket.dir")
#: Longest socket directory: ``AF_UNIX`` holds 107 path bytes, and each
#: socket adds ``/.<uuid>.sock``, 43 characters.
_SOCKET_DIR_MAX = 107 - 43


def _python_socket_dir(path: str | None = None) -> str | None:
    """``path`` (default ``/tmp/mmvs-<uid>``), made 0700 if missing;
    None where it cannot be made, or is not a private directory of this
    user (a symlink, another owner, a wider mode) or is too long.
    Idempotent, and it never raises: every engine import runs it, in
    Python workers too."""
    getuid = getattr(os, "getuid", None)
    if getuid is None:
        return None
    if path is None:
        path = f"/tmp/mmvs-{getuid()}"
    if len(path) > _SOCKET_DIR_MAX:
        return None
    try:
        os.mkdir(path, 0o700)
        os.chmod(path, 0o700)  # the umask may have narrowed the mode
    except FileExistsError:
        pass
    except OSError:
        return None
    try:
        st = os.lstat(path)
    except OSError:
        return None
    if (not stat.S_ISDIR(st.st_mode) or st.st_uid != getuid()
            or stat.S_IMODE(st.st_mode) != 0o700):
        return None
    return path


def _sweep_sockets(path: str) -> None:
    """Remove the socket files in ``path`` that no other process holds
    bound (``/proc/net/unix``): those of processes that died without
    removing them, and this exiting process's own. A live session's
    sockets stay. A no-op where ``/proc/net/unix`` cannot be read."""
    try:
        own = set()
        for fd in os.listdir("/proc/self/fd"):
            try:
                link = os.readlink(f"/proc/self/fd/{fd}")
            except OSError:
                continue
            if link.startswith("socket:["):
                own.add(link[8:-1])
        with open("/proc/net/unix") as fh:
            fh.readline()  # the header
            bound = {f[7] for f in map(str.split, fh)
                     if len(f) > 7 and f[6] not in own}
        names = os.listdir(path)
    except OSError:
        return
    for name in names:
        sock = os.path.join(path, name)
        if name.endswith(".sock") and sock not in bound:
            try:
                os.remove(sock)
            except OSError:
                pass


PYTHON_SOCKET_DIR = _python_socket_dir()
if PYTHON_SOCKET_DIR is not None:
    atexit.register(_sweep_sockets, PYTHON_SOCKET_DIR)

# Engine confs applied to any session handed to the engine (including a
# driver-created one we did not build ourselves): all at build time, and
# the runtime-settable ones again by ``configure``.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Broadcast threshold: dims (region/nation/supplier/part) stay broadcast
    # even at sf0.1; on a real cluster this is a per-job knob.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}
if PYTHON_SOCKET_DIR is not None:
    RUNTIME_CONFS[SOCKET_CONFS[0]] = "true"
    RUNTIME_CONFS[SOCKET_CONFS[1]] = PYTHON_SOCKET_DIR


def session_confs(master: str) -> dict[str, str]:
    """The build-time confs of a session on ``master``: ``RUNTIME_CONFS``,
    less the Unix-socket keys unless the master is ``local[...]`` (the
    socket directory exists on the driver's host only)."""
    if master.startswith("local["):
        return dict(RUNTIME_CONFS)
    return {k: v for k, v in RUNTIME_CONFS.items() if k not in SOCKET_CONFS}


# applicationId -> shipped zip path: the per-context idempotence guard
# for ship_package (re-adding a same-named file with different bytes
# raises inside Spark, and rebuilding the zip every call is waste)
_SHIPPED: dict[str, str] = {}


def ship_package(spark: SparkSession) -> str:
    """Make the engine importable on executor-side Python workers.

    ``local[n]`` runs every Python UDF in the driver process, where this
    package is already on sys.path — which silently masks the real
    deployment requirement: on any MULTI-JVM master (local-cluster,
    standalone, YARN, k8s) executors spawn their own Python workers, and
    a pandas UDF whose closure references the package by module (e.g.
    the embedding surface) fails at cloudpickle load with
    ModuleNotFoundError. This is the standard ``--py-files`` ship, done
    programmatically: zip the package's .py tree and ``addPyFile`` it,
    so every executor worker can import it. Call after session creation
    on any non-local master — ``get_spark`` does it automatically.
    Returns the zip path.

    The zip lands in a FRESH private temp directory (``mkdtemp``,
    0700), never a fixed world-shared /tmp name: a predictable shared
    path lets two drivers on one host race (one truncating the zip
    while the other's executors fetch it — a corrupt module shipped),
    collides across OS users on permissions, and is symlink-plantable.
    Idempotent per SparkContext via an applicationId guard, not via
    addPyFile's name de-dup."""
    import tempfile
    import zipfile

    app = spark.sparkContext.applicationId
    if app in _SHIPPED:
        return _SHIPPED[app]
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(tempfile.mkdtemp(prefix="mmvs-pyfiles-"),
                       "multi_model_vectorsearch_spark_pkg.zip")
    with zipfile.ZipFile(out, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg_root):
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(dirpath, f)
                    arc = os.path.join("multi_model_vectorsearch_spark",
                                       os.path.relpath(p, pkg_root))
                    z.write(p, arc)
    spark.sparkContext.addPyFile(out)
    _SHIPPED[app] = out
    return out


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session
    (idempotent): only the keys a live session can modify, so no set
    raises. The static ones, the socket keys among them, take effect
    only when the session is built."""
    for key, value in RUNTIME_CONFS.items():
        if spark.conf.isModifiable(key):
            spark.conf.set(key, value)
    return spark


def get_spark(app_name: str = "multi_model_vectorsearch_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              fair_scheduler: bool = False) -> SparkSession:
    """Build (or reuse) a SparkSession with engine configuration.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) for
    local runs; on a cluster, leave it to spark-submit.

    ``fair_scheduler=True`` sets ``spark.scheduler.mode=FAIR`` — required
    for a concurrent-serving deployment (N client threads sharing one
    session). FAIR alone is NOT sufficient: with no allocation file every
    job lands in the default pool, and jobs WITHIN one pool are still
    scheduled FIFO — cross-client fairness only materializes when each
    client thread also sets a distinct pool via
    ``sc.setLocalProperty("spark.scheduler.pool", <client-id>)`` (pools
    are created on demand with FAIR-vs-each-other semantics). That
    combination is what keeps a long scan from parking every other
    client's one-stage query behind it, and is exactly what
    ``scripts/probe_serving_scale.py`` does (measured in BASELINE.md's
    r10 QPS table: +65% QPS, 3× lower p95 vs FIFO at 8 clients). Client
    threads should be ``pyspark.InheritableThread``. Scheduler mode is
    fixed at context build, so this only applies when this call CREATES
    the session.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    if fair_scheduler:
        builder = builder.config("spark.scheduler.mode", "FAIR")
    for key, value in session_confs(master).items():
        builder = builder.config(key, value)
    spark = configure(builder.getOrCreate())
    if not master.startswith("local["):
        # multi-JVM master: executor Python workers must be able to
        # import this package at UDF deserialization (see ship_package)
        ship_package(spark)
    return spark


def _lazy_zipimport_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` lazy, as in CPython 3.13:
    it drops the archive's entry from ``zipimport._zip_directory_cache``,
    and the next lookup of that entry reads the archive once. The cache
    becomes a dict whose missing entry loads the archive, so every
    reader sees a listing — ``zipimporter._files`` (now a property over
    the cache) and code that reads the cache directly, as
    ``pkgutil.iter_modules`` does for a zip path. A missing or unreadable
    archive raises ``ZipImportError`` there and reads as ``{}`` through
    ``_files``, so imports from it fail with ``ImportError``. A no-op
    when the runtime's ``zipimporter`` is already lazy (it has
    ``_get_files``) and when already installed."""
    import zipimport

    zi = zipimport.zipimporter
    if hasattr(zi, "_get_files") or isinstance(
            zi.__dict__.get("_files"), property):
        return

    class DirectoryCache(dict):
        def __missing__(self, archive):
            found = zipimport._read_directory(archive)
            self[archive] = found
            return found

    def files(self):
        try:
            return zipimport._zip_directory_cache[self.archive]
        except zipimport.ZipImportError:
            return {}

    def invalidate_caches(self):
        zipimport._zip_directory_cache.pop(self.archive, None)

    zipimport._zip_directory_cache = DirectoryCache(
        zipimport._zip_directory_cache)
    # zipimporter.__init__ assigns the directory it has just cached
    # under the archive path, before it sets ``archive``: the property
    # reads it back from the cache, so the assignment is dropped
    zi._files = property(files, lambda self, value: None)
    zi.invalidate_caches = invalidate_caches


_lazy_zipimport_invalidation()
