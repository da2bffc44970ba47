"""Catalog storage interface (sources/catalog.py): parquet mode round-trip
and its wiring into the index build (IndexPaths.read/write/exists)."""

from __future__ import annotations

from rerankers_spark.index.spimi import IndexPaths
from rerankers_spark.sources.catalog import Catalog, iceberg_available


def test_catalog_parquet_roundtrip(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    assert not cat.table_exists("t1")
    cat.write_table(df, "t1")
    assert cat.table_exists("t1")
    got = {(r["id"], r["v"]) for r in cat.table("t1").collect()}
    assert got == {(1, "a"), (2, "b")}


def test_catalog_partitioned_append(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    df = spark.createDataFrame([(1, 0), (2, 1)], "id long, part int")
    cat.write_table(df, "t2", partition_by=["part"])
    cat.write_table(df, "t2", mode="append", partition_by=["part"])
    assert cat.table("t2").count() == 4


def test_iceberg_gate_is_honest(spark):
    # no iceberg runtime jar in this sandbox → catalog must fall back
    assert not iceberg_available(spark)
    cat = Catalog(spark, "/tmp/x", catalog_name="ice")
    assert cat.catalog_name is None  # fell back to parquet mode


def test_index_stats_compression(spark, tiny_corpus, tmp_path):
    import shutil

    from pyspark.sql import functions as F

    from rerankers_spark.index.spimi import build_index, index_stats

    path = str(tmp_path / "idx")
    shutil.rmtree(path, ignore_errors=True)
    paths = build_index(spark, tiny_corpus, path, n_shards=4)
    stats = index_stats(spark, paths)
    assert stats["n_postings"] > 0
    assert stats["raw_bytes"] == 24 * stats["n_postings"]
    assert 0 < stats["vb_bytes"] < stats["raw_bytes"]
    assert stats["compression_ratio"] > 1.0
    # posting rows only; the docmap bytes are counted in vb_bytes
    man = paths.read(spark, "manifest").agg(
        F.sum("n_postings").alias("p"), F.sum("n_blocks").alias("b")
    ).collect()[0]
    assert (stats["n_postings"], stats["n_blocks"]) == (man["p"], man["b"])
    assert 0 < stats["docmap_bytes"] < stats["vb_bytes"]


def test_index_paths_io_goes_through_catalog(spark, tmp_path):
    paths = IndexPaths(str(tmp_path))
    df = spark.createDataFrame([(0, 5)], "shard_id int, n long")
    assert not paths.exists(spark, "manifest")
    paths.write(df, "manifest")
    assert paths.exists(spark, "manifest")
    assert paths.read(spark, "manifest").count() == 1
