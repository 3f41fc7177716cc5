"""Python worker daemon for local-mode sessions (``spark.python.daemon.module``).

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the
spark-core jar first on the worker ``PYTHONPATH``. Every task then calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``),
and on Python 3.11 that re-reads the directory of each archive through every
zipimporter that imports created. When an installed pyspark of the zip's
version is importable from a plain directory, this daemon drops those three
entries from ``sys.path``, and their importers from
``sys.path_importer_cache``, before it imports pyspark; workers fork from it
and inherit that path. Otherwise it leaves ``sys.path`` as Spark built it.
Then it runs ``pyspark.daemon.manager()``.

This file sits alone in its directory, which ``session.get_spark`` puts on
the workers' ``PYTHONPATH``, and imports nothing from ``miru_spark``: workers
still import the package from the zip the session ships.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile

_VERSION_RE = re.compile(r"""^__version__\b[^=]*=\s*['"]([^'"]+)['"]""", re.M)


def _version(text: str) -> str | None:
    m = _VERSION_RE.search(text)
    return m.group(1) if m else None


def _zip_version(zip_path: str) -> str | None:
    """``__version__`` of ``pyspark/version.py`` inside ``zip_path``."""
    try:
        with zipfile.ZipFile(zip_path) as zf:
            return _version(zf.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _installed(path: list[str], package: str) -> str | None:
    """Directory of ``package`` as an import over ``path`` finds it."""
    for entry in path:
        pkg = os.path.join(entry or os.getcwd(), package)
        if os.path.isfile(os.path.join(pkg, "__init__.py")):
            return pkg
    return None


def _dir_version(pkg: str) -> str | None:
    try:
        with open(os.path.join(pkg, "version.py")) as f:
            return _version(f.read())
    except OSError:
        return None


def _spark_entry(entry: str, lib: str) -> bool:
    """A zip in Spark's ``python/lib`` or a jar in its ``jars`` directory
    (``PythonUtils.sparkPythonPath`` adds the spark-core jar, which holds
    no Python)."""
    where = os.path.realpath(os.path.dirname(entry))
    if entry.endswith(".zip"):
        return where == os.path.realpath(lib)
    home = os.path.dirname(os.path.dirname(os.path.realpath(lib)))
    return entry.endswith(".jar") and where == os.path.join(home, "jars")


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's pyspark and py4j zips and its jar when the
    rest of it imports an installed pyspark of the zip's version (and an
    installed py4j); otherwise ``path`` unchanged."""
    spark_zip = next((p for p in path if os.path.basename(p) == "pyspark.zip"), None)
    if spark_zip is None:
        return list(path)
    lib = os.path.dirname(spark_zip)
    rest = [p for p in path if not _spark_entry(p, lib)]
    pyspark_dir = _installed(rest, "pyspark")
    version = _zip_version(spark_zip)
    if (
        version is None
        or pyspark_dir is None
        or _installed(rest, "py4j") is None
        or _dir_version(pyspark_dir) != version
    ):
        return list(path)
    return rest


def main() -> None:
    kept = worker_path(sys.path)
    dropped = set(sys.path) - set(kept)
    inside = tuple(d + os.sep for d in dropped)
    for key in list(sys.path_importer_cache):
        if key in dropped or key.startswith(inside):
            del sys.path_importer_cache[key]
    sys.path[:] = kept
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
