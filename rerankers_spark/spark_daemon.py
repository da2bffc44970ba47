"""PySpark worker daemon: the scientific stack preloaded, and Spark's own
archives exempt from the per-task import-cache reset.

Python workers are forked from the daemon process; anything imported or
installed HERE is inherited copy-on-write. Selected via
``spark.python.daemon.module`` (session.get_spark).

* Preload: each of N cold workers skips its own numpy/pandas/pyarrow
  import (~0.5-1 s apiece — measured as a multi-second first-Arrow-stage
  tax at local[32]). Import failures fall through so a stripped-down
  worker environment still starts.
* Frozen Spark archives: pyspark's worker calls
  ``importlib.invalidate_caches()`` once per task
  (``worker_util.setup_spark_files``), and on Python 3.11 every
  ``zipimporter`` in ``sys.path_importer_cache`` then re-reads its whole
  archive directory — one importer per imported package inside
  ``pyspark.zip`` (about a dozen), plus py4j and the spark-core jar:
  ~26k directory entries, measured 180-270 ms per task before the UDF
  ran (local[4], Python 3.11.7, Spark 4.1.2). Importers for archives
  whose real path lies under ``$SPARK_HOME`` become
  :class:`SparkArchiveImporter`, whose ``invalidate_caches`` does
  nothing: those files do not change under a running worker. Archives
  anywhere else (``addPyFile`` zips in the ``userFiles-*`` directory)
  keep the stock importer and its per-task re-read.

``python -m rerankers_spark.spark_daemon`` runs the package ``__init__``
first, which imports ``rerank.ranker`` and ``pyspark.sql``. pyspark's own
``__init__`` imports ``pyspark.sql`` too, so on the worker's import path
(pyspark.zip, py4j, the spark-core jar) this module imported in 1.6 s
(median of 5, 1.4-1.8 s) against 1.75 s (1.45-1.9 s) for the scientific
stack plus ``pyspark.daemon``: 10 more modules, no measurable time
(4-core x86 host). Spark spins one daemon per (python exec, env) pool,
so that cost recurs whenever a new pool comes up.

Everything else defers to the stock daemon loop.
"""

import os
import sys
import zipimport

try:  # pragma: no cover - import side effects only
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyarrow.pandas_compat  # noqa: F401
except Exception:  # the daemon must come up even if preloads fail
    pass

from pyspark.daemon import manager


class SparkArchiveImporter(zipimport.zipimporter):
    """A zipimporter over one of Spark's own archives: the archive
    directory is read once per process, not once per task."""

    def invalidate_caches(self):
        pass


def _spark_root() -> str | None:
    home = os.environ.get("SPARK_HOME")
    return os.path.join(os.path.realpath(home), "") if home else None


def _in_spark(path: str, root: str | None) -> bool:
    return root is not None and os.path.realpath(path).startswith(root)


def _spark_archive_hook(path: str):
    """sys.path_hooks entry: paths under $SPARK_HOME (new package dirs
    inside pyspark.zip, say) get a SparkArchiveImporter; every other
    path falls through to the stock hooks."""
    if not _in_spark(path, _spark_root()):
        raise ImportError("not under SPARK_HOME", path=path)
    return SparkArchiveImporter(path)


def freeze_spark_archives() -> None:
    """Convert the cached importers of Spark's archives and hook new
    paths inside them (directories under $SPARK_HOME are no zip: the
    importer raises ZipImportError and the stock hooks take them)."""
    root = _spark_root()
    for path, imp in list(sys.path_importer_cache.items()):
        if type(imp) is zipimport.zipimporter and _in_spark(path, root):
            sys.path_importer_cache[path] = SparkArchiveImporter(path)
    sys.path_hooks.insert(0, _spark_archive_hook)


if __name__ == "__main__":
    freeze_spark_archives()
    manager()
