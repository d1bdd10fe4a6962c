"""Spark's Python worker daemon, run with PySpark imported from its
installed directory instead of the archives Spark puts first on the path.

``session.DEFAULT_CONF`` names this module as ``spark.python.daemon.module``,
so Spark starts it as ``python -m review_engine_spark.worker_daemon
<worker module>``, with ``pyspark.zip``, the py4j zip and the spark-core jar
ahead of ``PYTHONPATH``. Every task a worker runs calls
``importlib.invalidate_caches()``, and on Python 3.11 each ``zipimporter``
then re-reads its archive's whole directory: 16 of them cost 120–200 ms of
CPU per task on a 4-core host. The archives also hold no ``.pyc``, so a
worker compiles from source each module it imports from them.

:func:`pruned_path` drops those entries when the installed copy is the same
release; otherwise the path stays as Spark set it. Nothing here may import
``pyspark`` before the path is pruned.
"""

from __future__ import annotations

import os
import sys
import zipfile


def _archive_package(entry: str) -> str | None:
    """The package Spark ships in the archive ``entry``, if it is one."""
    name = os.path.basename(entry)
    if name == "pyspark.zip":
        return "pyspark"
    if name.startswith("py4j-") and name.endswith(".zip"):
        return "py4j"
    return None


def _version_bytes(pkg: str, path: list[str]) -> bytes | None:
    """``<pkg>/version.py`` of the first directory on ``path`` holding ``pkg``."""
    for entry in path:
        if os.path.isdir(os.path.join(entry, pkg)):
            try:
                with open(os.path.join(entry, pkg, "version.py"), "rb") as fh:
                    return fh.read()
            except OSError:
                return None
    return None


def pruned_path(path: list[str]) -> list[str]:
    """``path`` without its ``.jar`` entries and Spark's PySpark and py4j
    archives, when ``pyspark.zip`` is among them and the first installed
    directory copy of each archived package has a byte-identical
    ``version.py``; else ``path`` unchanged."""
    archives = {entry: pkg for entry in path if (pkg := _archive_package(entry))}
    rest = [entry for entry in path if entry not in archives and not entry.endswith(".jar")]
    if "pyspark" not in archives.values():
        return path
    for entry, pkg in archives.items():
        try:
            with zipfile.ZipFile(entry) as zf:
                archived = zf.read(f"{pkg}/version.py")
        except (OSError, KeyError, zipfile.BadZipFile):
            return path
        if _version_bytes(pkg, rest) != archived:
            return path
    return rest


if __name__ == "__main__":
    sys.path[:] = pruned_path(sys.path)
    sys.path_importer_cache.clear()
    from pyspark import daemon

    daemon.manager()
