"""Python worker daemon that imports pyspark from its directory install.

Spark starts one daemon per executor as ``python -m MODULE`` (the static
``spark.python.daemon.module`` config) and forks every Python worker
from it. Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j
source zip and the spark-core jar at the front of the daemon's
``PYTHONPATH``. Each of them gets a ``zipimporter``, and Python 3.11's
``zipimporter.invalidate_caches`` re-reads the archive's whole
directory. pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` once per task, so every Python-UDF
task paid 75-76 ms for those re-reads on a 4-core box.

This module drops those archive entries from ``sys.path`` and from
``sys.path_importer_cache`` before anything imports pyspark, then runs
``pyspark.daemon.manager()``. The forked workers import pyspark and
py4j from their directory installs, and ``invalidate_caches()`` takes
0.03 ms. An entry is dropped only when that cannot change what the
workers import:

- ``pyspark.zip`` and ``py4j-*.zip`` go only when a directory install
  of each package is importable and its ``version.py`` matches the one
  in the archive. Otherwise both stay, and the daemon behaves like
  ``pyspark.daemon``.
- A ``.jar`` goes only when it holds no ``.py`` file. The spark-core
  jar holds none; jars added with ``--packages`` can carry Python code.

The module lives in its own directory, outside the engine package: the
package's ``__init__`` imports pyspark, which would load the zip before
the filter runs. ``session.get_spark`` puts this directory on the
workers' ``PYTHONPATH`` through ``spark.executorEnv.PYTHONPATH``.
"""

from __future__ import annotations

import os
import sys
import zipfile


def _archive_package(entry: str) -> str | None:
    """The package a directory install can stand in for, if ``entry`` is
    Spark's pyspark or py4j archive."""
    name = os.path.basename(entry)
    if name == "pyspark.zip":
        return "pyspark"
    if name.startswith("py4j-") and name.endswith(".zip"):
        return "py4j"
    return None


def _archive_version(archive: str, package: str) -> bytes | None:
    try:
        with zipfile.ZipFile(archive) as zf:
            return zf.read(f"{package}/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _directory_version(entries: list[str], package: str) -> bytes | None:
    """``version.py`` of the install an import of ``package`` finds among
    the non-archive ``entries`` (the first directory holding it)."""
    for entry in entries:
        pkg = os.path.join(entry or os.curdir, package)
        if os.path.isfile(os.path.join(pkg, "__init__.py")):
            try:
                with open(os.path.join(pkg, "version.py"), "rb") as f:
                    return f.read()
            except OSError:
                return None
    return None


def _holds_python(jar: str) -> bool:
    try:
        with zipfile.ZipFile(jar) as zf:
            return any(n.endswith(".py") for n in zf.namelist())
    except (OSError, zipfile.BadZipFile):
        return True  # unreadable: keep it, as the default daemon would


def archive_entries_to_drop(path: list[str]) -> set[str]:
    """The ``path`` entries the daemon can drop without changing what
    its workers import (module doc)."""
    drop = {e for e in path if e.endswith(".jar") and not _holds_python(e)}
    archives = {e: _archive_package(e) for e in path if _archive_package(e)}
    dirs = [e for e in path if os.path.isdir(e or os.curdir)]
    for archive, package in archives.items():
        installed = _directory_version(dirs, package)
        if installed is None or installed != _archive_version(archive,
                                                              package):
            return drop  # keep pyspark.zip and py4j-*.zip together
    return drop | archives.keys()


def drop_archive_entries() -> list[str]:
    """Remove the droppable entries from ``sys.path`` and their cached
    importers from ``sys.path_importer_cache``; return them."""
    drop = archive_entries_to_drop(sys.path)
    sys.path[:] = [e for e in sys.path if e not in drop]
    for entry in drop:
        sys.path_importer_cache.pop(entry, None)
    return sorted(drop)


if __name__ == "__main__":
    drop_archive_entries()
    from pyspark.daemon import manager

    manager()
