"""SparkSession factory with the engine's standard configuration.

Centralized so tests, the driver entry point and bench all run with the
same scale-minded defaults:

* AQE on (runtime shuffle-partition coalescing, skew-join splitting),
* Arrow on (the CEP kernels are ``mapInPandas`` / ``applyInPandasWithState``
  operators — Arrow batches are the JVM↔Python transport),
* modest shuffle parallelism sized for local[32] test runs; a real
  cluster deployment overrides via ``extra_conf`` / spark-submit conf,
* Python workers started from ``reflinkcep_spark.daemon``
  (``spark.python.daemon.module``) instead of ``pyspark.daemon``.

Why the daemon: before every task, PySpark's worker calls
``importlib.invalidate_caches()``, which on CPython 3.11 makes every
``zipimporter`` on the worker's path re-read its archive: the spark-core
JAR and ``$SPARK_HOME/python/lib``'s PySpark and py4j zips, 0.18-0.36 s
per task, paid by every ``mapInPandas`` pass and stream micro-batch.
The daemon takes those archives off the path (the rule is in its
docstring) and then runs ``pyspark.daemon`` unchanged.

The setting serves ``get_spark``'s local sessions only.  The daemon
module must be importable when the worker starts, which the PYTHONPATH
export below ensures; a cluster that ships the package with
``--py-files`` makes it importable only per task, after the daemon has
started.  Sessions that ``ensure_package_shipped`` sets up keep the
stock daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "ensure_package_shipped"]


def ensure_package_shipped(spark: SparkSession) -> None:
    """Make ``reflinkcep_spark`` importable on Python workers of a
    session we did not create.

    The CEP kernel closures reference this package, so workers must
    import it.  Our own ``get_spark`` exports PYTHONPATH before the JVM
    starts; for a foreign session (the driver harness's), that is too
    late — so zip the package once and ``addPyFile`` it, which
    distributes to and sys.path-registers on every worker, local or
    cluster."""
    if getattr(spark, "_reflinkcep_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"reflinkcep_spark_pkg_{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(
                            "reflinkcep_spark", os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
    spark._reflinkcep_pkg_shipped = True


def get_spark(
    app_name: str = "reflinkcep-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # The CEP kernel closure references this package from Python workers;
    # make it importable there regardless of the driver's cwd.  (On a real
    # cluster, ship the package with --py-files / spark.submit.pyFiles.)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # The synthetic events table stores ts as TIMESTAMP(NANOS); read
        # as long and convert in sources.tables.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # The default 100-entry generated-class cache thrashes in
        # sessions that cycle through many distinct plans (the ~80-query
        # oracle gate, the ~30-query bench): evicted classes re-JIT on
        # the next encounter.  Classes are small; 1000 entries removes
        # the churn.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        # Workers start from reflinkcep_spark/daemon.py, which trims the
        # import path that PySpark re-scans before every task.
        .config("spark.python.daemon.module", "reflinkcep_spark.daemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
