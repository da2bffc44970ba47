"""Storage layer: parquet now, Iceberg when the runtime jar is present.

BASELINE.json mandates "Iceberg tables"; this sandbox's pyspark 4.1.2 has
no iceberg-spark-runtime jar and no network, so storage goes behind this
thin interface (SURVEY.md §7 risk note): identical schema/partitioning
either way, and `table()`/`write_table()` switch to a real Iceberg
catalog transparently when `spark.sql.catalog.*` is configured.
"""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, DataFrameWriter, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class Catalog:
    """Resolves logical table names to Iceberg tables or parquet paths."""

    def __init__(self, spark: SparkSession, root: str,
                 catalog_name: str | None = None):
        self.spark = spark
        self.root = root.rstrip("/")
        self.catalog_name = (
            catalog_name if catalog_name and iceberg_available(spark)
            else None
        )

    def _path(self, name: str) -> str:
        return f"{self.root}/{name}"

    # -- scheme-agnostic filesystem ops (parquet mode) -----------------------
    # All deletes/existence checks go through the Hadoop FileSystem API so
    # hdfs:// and s3a:// index roots behave exactly like local paths: the
    # append/compact commit protocols RELY on orphan cleanup actually
    # deleting (a silent no-op would let a retried failed append
    # double-index its generation). shutil/os.path would silently no-op on
    # any non-POSIX scheme.

    def _hadoop_fs(self, path_str: str):
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path_str)
        fs = jpath.getFileSystem(
            self.spark._jsc.hadoopConfiguration())
        return fs, jpath

    def _fs_delete(self, path_str: str) -> None:
        fs, jpath = self._hadoop_fs(path_str)
        if fs.exists(jpath) and not fs.delete(jpath, True):
            raise IOError(f"failed to delete {path_str}")

    def _fs_exists(self, path_str: str) -> bool:
        fs, jpath = self._hadoop_fs(path_str)
        return bool(fs.exists(jpath))

    # -- single-row commit point (the index's scalars) -----------------------
    # The row is ONE parquet file under <root>/<name>, written and read on
    # the driver with no Spark job. The commit writes it under a hidden
    # temp name and renames it to a fresh visible name (atomic on local
    # disk and HDFS; one object put on s3a), then deletes every other
    # entry: a reader finds the old row or the new one, never zero files
    # or a partial file, and a commit that fails before its rename leaves
    # the old row in force (its temp file goes with the next commit).

    def commit_row(self, name: str, row: pa.Table) -> None:
        if self.catalog_name:
            self.write_table(self.spark.createDataFrame(row).coalesce(1),
                             name)
            return
        buf = pa.BufferOutputStream()
        pq.write_table(row, buf)
        fs, d = self._hadoop_fs(self._path(name))
        Path = self.spark._jvm.org.apache.hadoop.fs.Path
        tmp = Path(d, f".tmp-{uuid.uuid4().hex}.parquet")
        out = fs.create(tmp, False)
        try:
            out.write(buf.getvalue().to_pybytes())
        finally:
            out.close()
        final = f"part-{uuid.uuid4().hex}.parquet"
        if not fs.rename(tmp, Path(d, final)):
            raise IOError(f"failed to publish {self._path(name)}/{final}")
        for st in fs.listStatus(d):
            if st.getPath().getName() != final:
                fs.delete(st.getPath(), False)

    def read_row(self, name: str) -> dict:
        """The committed row of a commit_row table: the newest visible
        file (a commit that died between its rename and its deletes
        leaves two), listed again if a commit deleted it meanwhile."""
        if self.catalog_name:
            return self.table(name).collect()[0].asDict()
        fs, d = self._hadoop_fs(self._path(name))
        empty_listings = 0
        while True:
            files = [st for st in fs.listStatus(d)
                     if not st.getPath().getName().startswith((".", "_"))]
            if not files:
                # the local listStatus reads the names, then stats each
                # and drops one deleted meanwhile: a commit that renames
                # its file in after the read and deletes the old file
                # before the stat empties this listing, and the next
                # listing sees the renamed file
                empty_listings += 1
                if empty_listings < 3:
                    continue
                raise FileNotFoundError(
                    f"no committed row under {self._path(name)}")
            newest = max(files, key=lambda st: st.getModificationTime())
            try:
                stream = fs.open(newest.getPath())
            except Py4JJavaError as e:
                if is_instance_of(self.spark._sc._gateway, e.java_exception,
                                  "java.io.FileNotFoundException"):
                    continue
                raise
            try:
                data = stream.readAllBytes()
            finally:
                stream.close()
            return pq.read_table(pa.BufferReader(data)).to_pylist()[0]

    def table(self, name: str, schema: str | None = None) -> DataFrame:
        """schema: optional DDL string — parquet dirs written from an
        EMPTY DataFrame have no footer to infer from (0-doc corpus,
        0-row tombstone set), so readers of possibly-empty tables pass
        their known schema. Iceberg tables always carry one."""
        if self.catalog_name:
            return self.spark.table(f"{self.catalog_name}.{name}")
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self._path(name))

    def table_exists(self, name: str) -> bool:
        if self.catalog_name:
            return self.spark.catalog.tableExists(
                f"{self.catalog_name}.{name}")
        return self._fs_exists(self._path(name))

    def writer(self, df: DataFrame, name: str, mode: str = "overwrite",
               partition_by: list[str] | None = None):
        w: DataFrameWriter = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        return w

    def write_table(self, df: DataFrame, name: str, mode: str = "overwrite",
                    partition_by: list[str] | None = None) -> None:
        w = self.writer(df, name, mode, partition_by)
        if self.catalog_name:
            w.saveAsTable(f"{self.catalog_name}.{name}")
        else:
            w.parquet(self._path(name))

    def delete_partitions(self, name: str, col: str, values) -> None:
        """Remove whole partitions (orphan cleanup for the append commit
        protocol): partition-dir deletes in parquet mode, a partition-
        predicate DELETE on Iceberg."""
        values = list(values)
        if not values:
            return
        if self.catalog_name:
            # string partition values (e.g. tomb_batch) must be quoted
            # SQL literals; ints pass through bare
            in_list = ", ".join(
                "'" + str(v).replace("'", "''") + "'"
                if isinstance(v, str) else str(v)
                for v in values)
            self.spark.sql(
                f"DELETE FROM {self.catalog_name}.{name} "
                f"WHERE {col} IN ({in_list})"
            )
        else:
            for v in values:
                self._fs_delete(f"{self._path(name)}/{col}={v}")

    def partition_values(self, name: str, col: str) -> list:
        """The values of partition column ``col`` present in ``name``:
        a listing of its ``col=<value>`` directories in parquet mode (no
        Spark job), a distinct scan on Iceberg."""
        if self.catalog_name:
            return [r[0] for r in self.table(name).select(col).distinct()
                    .collect()]
        fs, d = self._hadoop_fs(self._path(name))
        if not fs.exists(d):
            return []
        prefix = f"{col}="
        return [st.getPath().getName()[len(prefix):]
                for st in fs.listStatus(d)
                if st.isDirectory()
                and st.getPath().getName().startswith(prefix)]

    def drop_table(self, name: str) -> None:
        if self.catalog_name:
            self.spark.sql(f"DROP TABLE IF EXISTS {self.catalog_name}.{name}")
        else:
            self._fs_delete(self._path(name))
