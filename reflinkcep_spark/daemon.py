"""PySpark's worker daemon behind a trimmed import path.

``get_spark`` starts this module (``spark.python.daemon.module``) in
place of ``pyspark.daemon``.  It removes a per-task cost: before every
task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and on CPython 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
directory.  The JVM puts three archives on the worker's path: the
``spark-core`` JAR (5,359 entries, no Python) and ``pyspark.zip`` and
the py4j zip from ``$SPARK_HOME/python/lib``, which hold one importer
per imported subpackage.  Re-reading them took 0.18-0.36 s per task,
as much as the whole Python work of a small partition.

Before handing control to the unchanged ``pyspark.daemon.manager()``,
the module:

* drops every ``*.jar`` entry, which holds no Python;
* drops the ``$SPARK_HOME/python/lib`` zips, but only when PySpark and
  py4j of the zips' versions import from a directory elsewhere on the
  path (the driver's own installation); otherwise it keeps them;
* purges the importers cached for the dropped entries, and any
  namespace package loaded from them.  The package ``__init__`` runs
  before this module and imports the stdlib ``copy``, whose Jython probe
  ``from org.python.core import PyStringMap`` leaves ``org`` as a
  namespace package rooted in the JAR.

Forked workers inherit the trimmed path, so worker reuse, fault handling
and every operator stay PySpark's own.  Importing this module changes
nothing; the trim runs only when it is the ``__main__`` module.
"""

from __future__ import annotations

import importlib.machinery
import os
import re
import sys
import zipfile

__all__ = ["dropped_entries", "purge"]

_VERSION = re.compile(r"""^__version__\b[^=]*=\s*['"]([^'"]+)['"]""", re.M)
_PACKAGES = ("pyspark", "py4j")


def _dir_version(package: str, path: list[str]) -> str | None:
    """Version of ``package`` as imported from ``path``, or None unless
    it imports from a directory."""
    spec = importlib.machinery.PathFinder.find_spec(package, path)
    if spec is None or not spec.submodule_search_locations:
        return None
    version_py = os.path.join(spec.submodule_search_locations[0], "version.py")
    if not os.path.isfile(version_py):
        return None
    with open(version_py, encoding="utf-8") as f:
        m = _VERSION.search(f.read())
    return m and m.group(1)


def _zip_version(package: str, zips: list[str]) -> str | None:
    # The JVM lists the lib zips whether or not they exist.
    for z in zips:
        try:
            with zipfile.ZipFile(z) as zf:
                text = zf.read(f"{package}/version.py").decode()
        except (KeyError, OSError, zipfile.BadZipFile):
            continue
        m = _VERSION.search(text)
        return m and m.group(1)
    return None


def dropped_entries(path: list[str], spark_home: str | None) -> list[str]:
    """The entries of the import path ``path`` that the worker drops:
    every JAR, plus the ``spark_home/python/lib`` zips when the rest of
    the path imports PySpark and py4j of the same versions from a
    directory."""
    jars = [p for p in path if p.endswith(".jar")]
    lib = os.path.join(spark_home, "python", "lib") if spark_home else None
    zips = [p for p in path if p.endswith(".zip") and os.path.dirname(p) == lib]
    rest = [p for p in path if p not in jars and p not in zips]

    def same_in_directory(package: str) -> bool:
        version = _dir_version(package, rest)
        return version is not None and version == _zip_version(package, zips)

    if zips and all(same_in_directory(pkg) for pkg in _PACKAGES):
        return jars + zips
    return jars


def purge(dropped: list[str]) -> None:
    """Forget the importers cached for ``dropped`` entries, and the
    namespace packages that live only inside them.  Run it before the
    entries leave ``sys.path``: a namespace package recomputes its
    ``__path__`` from ``sys.path`` when read."""

    def inside(p: str) -> bool:
        return any(p == d or p.startswith(d + os.sep) for d in dropped)

    def namespace_inside(mod) -> bool:
        if getattr(mod, "__file__", None) is not None:
            return False
        locations = list(getattr(mod, "__path__", None) or ())
        return bool(locations) and all(inside(p) for p in locations)

    # Modules first, and select before deleting: reading a namespace
    # package's path may consult its parent and the importer cache.
    for name in [n for n, mod in sys.modules.items() if namespace_inside(mod)]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if inside(k)]:
        del sys.path_importer_cache[key]


if __name__ == "__main__":
    _dropped = dropped_entries(sys.path, os.environ.get("SPARK_HOME"))
    purge(_dropped)
    sys.path[:] = [p for p in sys.path if p not in _dropped]

    from pyspark import daemon

    daemon.manager()
