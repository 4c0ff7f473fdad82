"""Python worker daemon for the engine's sessions.

Spark forks every Python worker from one daemon process, named by
``spark.python.daemon.module`` (:func:`session.get_spark` names this
module). Each task first calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on CPython 3.11 every
cached ``zipimporter`` then re-reads its archive's whole directory:
``pyspark.zip`` (1 328 entries) and the spark-core jar (5 359), 0.20
CPU-s per task on CPython 3.11.7 and Spark 4.1.2. Spark's installation
archives do not change while an application runs, so before it hands
over to ``pyspark.daemon.manager`` this daemon gives the zip importers
under ``SPARK_HOME`` a no-op ``invalidate_caches``. Everything else
(the SparkFiles root, ``addPyFile`` zips, the user's ``PYTHONPATH``)
keeps the stock invalidation, so files added at run time stay
importable.
"""

from __future__ import annotations

import os
import sys
import zipimport


class SparkArchiveImporter(zipimport.zipimporter):
    """Zip importer for an archive of the Spark installation: it keeps
    the directory index it read once."""

    def invalidate_caches(self) -> None:
        pass


def install(spark_home: str | None) -> None:
    """Serve zip imports under ``spark_home``, as given and resolved
    (Spark puts the spark-core jar on the path resolved), through
    :class:`SparkArchiveImporter`, including importers already cached.
    With no ``spark_home`` nothing changes."""
    if not spark_home:
        return
    roots = tuple({os.path.join(p, "") for p in (spark_home, os.path.realpath(spark_home))})

    def hook(path: str) -> zipimport.zipimporter:
        if path.startswith(roots):
            return SparkArchiveImporter(path)
        return zipimport.zipimporter(path)

    sys.path_hooks[:] = [hook if h is zipimport.zipimporter else h for h in sys.path_hooks]
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter and path.startswith(roots):
            sys.path_importer_cache[path] = SparkArchiveImporter(path)


if __name__ == "__main__":
    install(os.environ.get("SPARK_HOME"))
    from pyspark import daemon

    daemon.manager()
