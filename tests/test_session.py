"""The Python worker daemon that ``get_spark`` selects
(``reflinkcep_spark/daemon.py``).

Before every task PySpark re-validates the import caches, which makes
every ``zipimporter`` on the worker re-read its archive.  The daemon
trims the worker's import path so that no importer for the spark-core
JAR or the ``$SPARK_HOME/python/lib`` zips is left to re-read.  The
first test looks at a live worker through a ``get_spark`` session; the
others pin the trim rule without a JVM.
"""

import os
import subprocess
import sys
import zipfile

import pytest

from reflinkcep_spark.daemon import dropped_entries

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _worker_view(batches):
    import sys

    import pandas as pd
    import pyspark

    for _ in batches:
        pass
    org = sys.modules.get("org")
    yield pd.DataFrame(
        {
            "kind": ["file", "version", "org"]
            + ["path"] * len(sys.path)
            + ["zipimporter"] * len(sys.path_importer_cache),
            "value": [pyspark.__file__, pyspark.__version__, repr(getattr(org, "__path__", None))]
            + list(sys.path)
            + [
                key if type(finder).__name__ == "zipimporter" else ""
                for key, finder in sys.path_importer_cache.items()
            ],
        }
    )


def test_worker_imports_driver_pyspark_with_no_archive_importers(spark):
    import pyspark

    rows = spark.range(8).repartition(2).mapInPandas(_worker_view, "kind string, value string").collect()
    seen: dict[str, list[str]] = {}
    for r in rows:
        seen.setdefault(r.kind, []).append(r.value)

    assert set(seen["file"]) == {pyspark.__file__}
    assert set(seen["version"]) == {pyspark.__version__}
    assert not [p for p in seen["path"] if p.endswith(".jar")]
    spark_home = os.environ.get("SPARK_HOME")
    lib = os.path.join(spark_home, "python", "lib") + os.sep if spark_home else None
    archives = [k for k in seen["zipimporter"] if ".jar" in k or (lib and k.startswith(lib))]
    assert archives == []
    assert not [o for o in seen["org"] if ".jar" in o]


def _zip(path, files):
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)
    return str(path)


def _package(site, name, version):
    pkg = site / name
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    if version is not None:
        (pkg / "version.py").write_text(f"__version__: str = '{version}'\n")


@pytest.fixture
def layout(tmp_path):
    """A fake ``SPARK_HOME`` with its two lib zips (PySpark 9.1.0, py4j
    0.7), a JAR entry, and a site directory to fill per test."""
    lib = tmp_path / "home" / "python" / "lib"
    lib.mkdir(parents=True)
    zips = [
        _zip(lib / "pyspark.zip", {"pyspark/__init__.py": "", "pyspark/version.py": "__version__: str = '9.1.0'\n"}),
        _zip(lib / "py4j-0.7-src.zip", {"py4j/__init__.py": "", "py4j/version.py": "__version__ = '0.7'\n"}),
    ]
    jar = str(tmp_path / "spark-core.jar")
    site = tmp_path / "site"
    site.mkdir()
    path = [str(tmp_path)] + zips + [jar, str(site)]
    return str(tmp_path / "home"), path, zips, jar, site


def test_drops_jars_and_lib_zips_when_directory_packages_match(layout):
    home, path, zips, jar, site = layout
    _package(site, "pyspark", "9.1.0")
    _package(site, "py4j", "0.7")
    assert dropped_entries(path, home) == [jar] + zips


@pytest.mark.parametrize(
    "pyspark_version, py4j_version",
    [("9.0.0", "0.7"), ("9.1.0", "0.6"), ("9.1.0", None), (None, "0.7")],
    ids=["pyspark-version-differs", "py4j-version-differs", "py4j-unversioned", "pyspark-unversioned"],
)
def test_keeps_lib_zips_unless_both_packages_match(layout, pyspark_version, py4j_version):
    home, path, zips, jar, site = layout
    _package(site, "pyspark", pyspark_version)
    _package(site, "py4j", py4j_version)
    assert dropped_entries(path, home) == [jar]


def test_keeps_lib_zips_without_a_directory_install(layout):
    home, path, zips, jar, site = layout
    _package(site, "pyspark", "9.1.0")
    assert dropped_entries(path, home) == [jar]
    assert dropped_entries(path, None) == [jar]


def test_keeps_lib_zips_it_cannot_read(layout):
    """The JVM lists the lib zips whether or not they exist."""
    home, path, zips, jar, site = layout
    _package(site, "pyspark", "9.1.0")
    _package(site, "py4j", "0.7")
    os.remove(zips[0])
    assert dropped_entries(path, home) == [jar]


def _run(code, path_entries):
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([ROOT] + path_entries))
    out = subprocess.run([sys.executable, "-c", code], env=env, capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    return out.stdout


def test_import_never_trims_the_callers_path(tmp_path):
    jar = _zip(tmp_path / "lib.jar", {"org/readme.txt": ""})
    out = _run(
        "import sys; before = list(sys.path); import reflinkcep_spark.daemon;"
        "print(sys.path == before, any(p.endswith('.jar') for p in sys.path))",
        [jar],
    )
    assert out.split() == ["True", "True"]


def test_purge_forgets_jar_importers_and_namespace_packages(tmp_path):
    """``import reflinkcep_spark`` loads ``copy``, which loads ``org``
    as a namespace package from any JAR on the path; the purge must
    leave no importer and no module behind for the JAR."""
    # A JAR lists its directories as entries; zipimport needs them to
    # see ``org`` as a package.
    jar = _zip(tmp_path / "lib.jar", {"org/": "", "org/python/": "", "org/python/readme.txt": ""})
    out = _run(
        "import sys, reflinkcep_spark.daemon as d;"
        "print('org' in sys.modules, list(sys.modules['org'].__path__));"
        "dropped = d.dropped_entries(sys.path, None); d.purge(dropped);"
        "print('org' in sys.modules, [k for k in sys.path_importer_cache if '.jar' in k])",
        [jar],
    )
    before, after = out.splitlines()
    assert before == f"True {[jar + os.sep + 'org']}"
    assert after == "False []"
