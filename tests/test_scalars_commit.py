"""The scalars commit point (Catalog.commit_row / read_row): one write-
then-rename through the Hadoop FileSystem on every scheme. Every Hadoop
spelling of a local root commits to the same directory; a ``viewfs://``
mount of a local directory stands in for a non-local scheme offline. A
commit or read starts no Spark job, a failed commit leaves the old row in
force, and a concurrent reader never finds the directory without a
complete row: a listing a concurrent commit left empty is taken again."""

from __future__ import annotations

import os
import shutil
import threading

import pytest

from rerankers_spark.corpus import synthetic_corpus_pdf, with_doc_id
from rerankers_spark.index import spimi
from rerankers_spark.query.executor import Engine
from rerankers_spark.sources.catalog import Catalog

BASE = "/tmp/test_scalars_commit"
#: the local directory behind the viewfs root
VIEW_DIR = "/tmp/test_scalars_commit_viewfs"
VIEW_ROOT = "viewfs://scalarscommit/idx"


@pytest.fixture(scope="module")
def viewfs(spark):
    """Mount VIEW_DIR as VIEW_ROOT on the session's Hadoop conf (the
    ViewFileSystem class ships in hadoop-client-api)."""
    spark._jsc.hadoopConfiguration().set(
        "fs.viewfs.mounttable.scalarscommit.link./idx", f"file://{VIEW_DIR}")
    return VIEW_ROOT


def _commit(spark, root: str, n_docs: int) -> None:
    spimi._write_scalars(spark, spimi.IndexPaths(root), n_docs=n_docs,
                         avgdl=12.5, n_shards=4, visible_gens=[0, 2],
                         next_gen=3, sum_dl=int(12.5 * n_docs))


def _visible(d: str) -> list[str]:
    return [f for f in os.listdir(d) if not f.startswith((".", "_"))]


@pytest.mark.parametrize("spelling", ["file:{}", "file://{}", "{}"])
def test_local_root_spellings_round_trip(spark, monkeypatch, spelling):
    """file:/…, file:///… and a bare absolute path land in <root>/scalars,
    and load_meta reads the row back through every spelling (and Spark's
    and pyarrow's own readers read the directory)."""
    import pyarrow.parquet as pq

    shutil.rmtree(BASE, ignore_errors=True)
    monkeypatch.chdir("/tmp")
    shutil.rmtree("/tmp/file:", ignore_errors=True)
    _commit(spark, spelling.format(BASE), 1000)
    assert len(_visible(f"{BASE}/scalars")) == 1
    assert not os.path.exists("/tmp/file:")
    for other in (f"file:{BASE}", f"file://{BASE}", BASE):
        meta = spimi.load_meta(spark, spimi.IndexPaths(other))
        assert meta["n_docs"] == 1000 and meta["visible_gens"] == "0,2"
    row = spark.read.parquet(f"file://{BASE}/scalars").collect()[0]
    assert row["n_docs"] == 1000 and row["next_gen"] == 3
    assert pq.read_table(f"{BASE}/scalars").to_pylist()[0]["sum_dl"] == 12500


@pytest.mark.parametrize("where", ["local", "viewfs"])
def test_commit_and_load_meta_start_no_spark_job(spark, viewfs, where):
    root = BASE if where == "local" else viewfs
    shutil.rmtree(BASE if where == "local" else VIEW_DIR, ignore_errors=True)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    _commit(spark, root, 7)
    _commit(spark, root, 8)
    assert spimi.load_meta(spark, spimi.IndexPaths(root))["n_docs"] == 8
    assert set(tracker.getJobIdsForGroup(None)) == before


class _WriteFails:
    """A Hadoop FileSystem whose new files fail on their first byte
    write."""

    class _Stream:
        def __init__(self, out):
            self.close = out.close

        def write(self, data):
            raise IOError("injected byte write failure")

    def __init__(self, fs):
        self._fs = fs

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def create(self, *args):
        return self._Stream(self._fs.create(*args))


def test_failed_byte_write_keeps_the_previous_row(spark, viewfs,
                                                  monkeypatch):
    shutil.rmtree(VIEW_DIR, ignore_errors=True)
    paths = spimi.IndexPaths(viewfs)
    d = f"{VIEW_DIR}/scalars"
    _commit(spark, viewfs, 5)
    committed = _visible(d)
    real = Catalog._hadoop_fs

    def write_fails(self, path_str):
        fs, jpath = real(self, path_str)
        return _WriteFails(fs), jpath

    monkeypatch.setattr(Catalog, "_hadoop_fs", write_fails)
    with pytest.raises(IOError, match="injected"):
        _commit(spark, viewfs, 6)
    monkeypatch.setattr(Catalog, "_hadoop_fs", real)
    assert _visible(d) == committed
    assert spimi.load_meta(spark, paths)["n_docs"] == 5
    # the next commit publishes its row and sweeps the failed temp file
    _commit(spark, viewfs, 7)
    assert spimi.load_meta(spark, paths)["n_docs"] == 7
    (name,) = _visible(d)
    assert sorted(os.listdir(d)) == [f".{name}.crc", name]


class _FirstListingEmpty:
    """A Hadoop FileSystem whose first listStatus finds nothing, as a
    local listing does when a commit deletes the old row between the
    listing's directory read and its stat of that name."""

    def __init__(self, fs):
        self._fs, self.listings = fs, 0

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def listStatus(self, d):
        self.listings += 1
        return [] if self.listings == 1 else self._fs.listStatus(d)


def test_read_lists_again_after_an_empty_listing(spark, monkeypatch):
    shutil.rmtree(BASE, ignore_errors=True)
    paths = spimi.IndexPaths(BASE)
    _commit(spark, BASE, 9)
    real = Catalog._hadoop_fs
    fss = []

    def first_listing_empty(self, path_str):
        fs, jpath = real(self, path_str)
        fss.append(_FirstListingEmpty(fs))
        return fss[-1], jpath

    monkeypatch.setattr(Catalog, "_hadoop_fs", first_listing_empty)
    assert spimi.load_meta(spark, paths)["n_docs"] == 9
    assert fss[-1].listings == 2
    monkeypatch.undo()
    # a directory with no committed row still raises
    for f in _visible(f"{BASE}/scalars"):
        os.remove(f"{BASE}/scalars/{f}")
    with pytest.raises(FileNotFoundError, match="no committed row"):
        spimi.load_meta(spark, paths)


def test_viewfs_index_lifecycle_matches_local(spark, viewfs):
    """build → append → search on the viewfs root returns the rows the
    same calls return on a local root."""
    pdf = synthetic_corpus_pdf(200, seed=5)
    first = with_doc_id(spark.createDataFrame(pdf.iloc[:120]))
    second = with_doc_id(spark.createDataFrame(pdf.iloc[120:]))
    q = spark.createDataFrame(
        [(0, "common_util"), (1, "def return class")],
        "query_id long, query string")
    got = {}
    for root, local_dir in ((BASE, BASE), (viewfs, VIEW_DIR)):
        shutil.rmtree(local_dir, ignore_errors=True)
        spimi.build_index(spark, first, root, n_shards=2)
        spimi.append_index(spark, second, root, batch_id=1)
        meta = spimi.load_meta(spark, spimi.IndexPaths(root))
        assert meta["n_docs"] == 200 and meta["visible_gens"] == "0,1"
        got[root] = sorted(
            (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in Engine(spark, root).search(q, k=10).collect())
    assert got[BASE] and got[viewfs] == got[BASE]


def test_reader_never_sees_an_empty_commit_point(spark, viewfs):
    """On a local and a viewfs root, a reader polling the scalars dir
    while 100 commits land always finds at least one data file, and
    every row it reads is complete."""
    for root, local_dir in ((BASE, BASE), (viewfs, VIEW_DIR)):
        shutil.rmtree(local_dir, ignore_errors=True)
        paths = spimi.IndexPaths(root)
        _commit(spark, root, 1)
        d = f"{local_dir}/scalars"
        done = threading.Event()
        errors: list[BaseException] = []

        def writer():
            try:
                for i in range(2, 102):
                    _commit(spark, root, i)
            except BaseException as e:  # surfaced by the assert below
                errors.append(e)
            finally:
                done.set()

        t = threading.Thread(target=writer)
        t.start()
        polls, empty, rows = 0, 0, []
        while not done.is_set():
            polls += 1
            empty += not _visible(d)
            rows.append(spimi.load_meta(spark, paths))
        t.join(timeout=60)
        assert not t.is_alive() and not errors
        assert polls > 0 and empty == 0
        assert all(1 <= r["n_docs"] <= 101 and r["sum_dl"] == int(12.5 * r[
            "n_docs"]) for r in rows)
        assert spimi.load_meta(spark, paths)["n_docs"] == 101
