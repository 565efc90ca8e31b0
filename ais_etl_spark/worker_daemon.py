"""Python worker daemon for this engine's Spark sessions.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so
Spark starts its Python workers with ``python -m
ais_etl_spark.worker_daemon`` instead of ``python -m pyspark.daemon``.
The module changes one method and then runs PySpark's own daemon.

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On Python >= 3.10 that
makes every ``zipimporter`` re-read its archive's whole directory: one
per package imported from ``pyspark.zip`` (16 for a pandas UDF, 3.5 MB,
~1,670 entries each time), ~0.17 s of a warm 1-row Arrow-UDF task on a
4-core host. Here an archive is read again only when its
``(st_mtime_ns, st_size, st_ino)`` changed since this process last
read it, so a re-shipped ``--py-files`` zip still is; importers over
an unchanged archive share the directory already read. Directory
finders (``FileFinder``) invalidate as before.
"""

from __future__ import annotations

import importlib
import os
import runpy
import zipimport

# archive path -> (stat key when read, the directory read then)
_read: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _checked(original):
    """``zipimporter.invalidate_caches`` that calls ``original`` only
    for an archive changed since this process last read it."""

    def invalidate_caches(self):
        # stat before reading: a write during the read shows as a
        # changed key on the next call
        key = _stat_key(self.archive)
        seen = _read.get(self.archive)
        if key is not None and seen is not None and seen[0] == key:
            self._files = seen[1]
            return
        original(self)
        if key is None:
            _read.pop(self.archive, None)
        else:
            _read[self.archive] = (key, self._files)

    invalidate_caches.__wrapped__ = original
    return invalidate_caches


def install() -> bool:
    """Replace ``zipimporter.invalidate_caches`` in this process.
    False when this Python's ``zipimporter`` has none (before 3.10)
    or it is already replaced."""
    original = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if original is None or hasattr(original, "__wrapped__"):
        return False
    zipimport.zipimporter.invalidate_caches = _checked(original)
    return True


if __name__ == "__main__":
    install()
    # read each archive once here, so forked workers start with it read
    importlib.invalidate_caches()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
