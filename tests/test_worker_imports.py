"""Python workers skip the per-task re-read of Spark's own archives.

pyspark's worker calls importlib.invalidate_caches() once per task;
spark_daemon hands Spark's archives (pyspark.zip, py4j, the spark-core
jar — by real path under $SPARK_HOME) an importer whose
invalidate_caches does nothing. In a mapInPandas task: every cached
importer under those archives is that importer, pyspark still imports,
and a user zip shipped with addPyFile still imports through a stock
zipimporter.
"""

from __future__ import annotations

import os
import zipfile

import pandas as pd

#: a fixed name: the worker imports this test module by reference
MODULE = "rerankers_spark_userzip_probe"


def _inspect(it):
    import importlib
    import sys
    import zipimport

    for _ in it:
        pass
    root = os.path.join(os.path.realpath(os.environ["SPARK_HOME"]), "")
    rows = []
    for path, imp in list(sys.path_importer_cache.items()):
        if isinstance(imp, zipimport.zipimporter):
            rows.append(("importer", path, type(imp).__name__,
                         os.path.realpath(path).startswith(root)))
    # a pyspark package this task has not imported yet: a new importer
    # inside pyspark.zip, made by the path hook
    importlib.import_module("pyspark.ml.linalg")
    for path, imp in list(sys.path_importer_cache.items()):
        if "pyspark" in path and path.rstrip("/").endswith("ml"):
            rows.append(("new", path, type(imp).__name__, True))
    mod = importlib.import_module(MODULE)
    rows.append(("user", mod.__file__, type(mod.__loader__).__name__,
                 type(mod.__loader__) is zipimport.zipimporter))
    yield pd.DataFrame(rows, columns=["kind", "path", "cls", "flag"])


def test_spark_archives_skip_the_per_task_reread(spark, tmp_path):
    src = tmp_path / f"{MODULE}.zip"
    with zipfile.ZipFile(src, "w") as z:
        z.writestr(f"{MODULE}/__init__.py", "VALUE = 7\n")
    spark.sparkContext.addPyFile(str(src))
    rows = spark.range(1, numPartitions=1).mapInPandas(
        _inspect, "kind string, path string, cls string, flag boolean"
    ).collect()

    spark_imps = [r for r in rows if r["kind"] == "importer" and r["flag"]]
    assert len(spark_imps) >= 3, rows
    assert {r["cls"] for r in spark_imps} == {"SparkArchiveImporter"}, \
        spark_imps
    other = [r for r in rows if r["kind"] == "importer" and not r["flag"]]
    assert all(r["cls"] == "zipimporter" for r in other), other
    new = [r for r in rows if r["kind"] == "new"]
    assert new and {r["cls"] for r in new} == {"SparkArchiveImporter"}, rows
    (user,) = [r for r in rows if r["kind"] == "user"]
    assert user["flag"] and MODULE in user["path"], user
