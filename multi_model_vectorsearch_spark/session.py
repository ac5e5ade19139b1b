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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs applied to any session handed to the engine
# (including a driver-created one we did not build ourselves).
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
    """Apply the engine's runtime confs to an existing session (idempotent)."""
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # A conf may be fixed at session build time in exotic deployments;
            # the engine still works, just without that knob.
            pass
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
    for key, value in RUNTIME_CONFS.items():
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
    and ``zipimporter._files`` becomes a property that re-reads a missing
    entry once per archive (a missing or unreadable archive reads as
    ``{}``, so imports from it fail with ``ImportError``). A no-op when
    the runtime's ``zipimporter`` is already lazy (it has ``_get_files``)
    and when already installed. Code that reads
    ``_zip_directory_cache`` directly, as ``pkgutil.iter_modules`` does
    for a zip path, finds no entry between an invalidation and the next
    import lookup in that archive."""
    import zipimport

    zi = zipimport.zipimporter
    if hasattr(zi, "_get_files") or isinstance(
            zi.__dict__.get("_files"), property):
        return

    def files(self):
        cache = zipimport._zip_directory_cache
        try:
            return cache[self.archive]
        except KeyError:
            pass
        try:
            found = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
        cache[self.archive] = found
        return found

    def invalidate_caches(self):
        zipimport._zip_directory_cache.pop(self.archive, None)

    # zipimporter.__init__ assigns the directory it has just cached
    # under the archive path, before it sets ``archive``: the property
    # reads it back from the cache, so the assignment is dropped
    zi._files = property(files, lambda self, value: None)
    zi.invalidate_caches = invalidate_caches


_lazy_zipimport_invalidation()
