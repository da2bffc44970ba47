"""The scalars commit point on local roots: every Hadoop spelling of a
local root commits to the same directory, and a commit never leaves the
directory without a complete row for a concurrent reader."""

from __future__ import annotations

import os
import shutil
import threading

import pytest

from rerankers_spark.index import spimi

BASE = "/tmp/test_scalars_commit"


def _commit(root: str, n_docs: int) -> None:
    spimi._write_scalars(None, spimi.IndexPaths(root), n_docs=n_docs,
                         avgdl=12.5, n_shards=4, visible_gens=[0, 2],
                         next_gen=3, sum_dl=int(12.5 * n_docs))


@pytest.mark.parametrize("spelling", ["file:{}", "file://{}", "{}"])
def test_local_root_spellings_round_trip(spark, monkeypatch, spelling):
    """file:/…, file:///… and a bare absolute path all hit the driver-side
    fast path, land in <root>/scalars, and load_meta reads the row back
    through every spelling (and through Spark's own reader)."""
    shutil.rmtree(BASE, ignore_errors=True)
    monkeypatch.chdir("/tmp")
    shutil.rmtree("/tmp/file:", ignore_errors=True)
    root = spelling.format(BASE)
    _commit(root, 1000)  # spark=None: only the local path may run
    assert os.listdir(f"{BASE}/scalars")
    assert not os.path.exists("/tmp/file:")
    for other in (f"file:{BASE}", f"file://{BASE}", BASE):
        meta = spimi.load_meta(spark, spimi.IndexPaths(other))
        assert meta["n_docs"] == 1000 and meta["visible_gens"] == "0,2"
    row = spark.read.parquet(f"file://{BASE}/scalars").collect()[0]
    assert row["n_docs"] == 1000 and row["next_gen"] == 3


@pytest.mark.parametrize("root", ["relative/idx", "hdfs://nn:8020/idx",
                                  "file://otherhost/tmp/idx"])
def test_non_local_roots_take_the_spark_path(root):
    assert spimi._scalars_local_dir(spimi.IndexPaths(root)) is None


def test_reader_never_sees_an_empty_commit_point():
    """A reader polling the scalars dir while 100 commits land always
    finds at least one data file, and every row it reads is complete."""
    shutil.rmtree(BASE, ignore_errors=True)
    paths = spimi.IndexPaths(BASE)
    _commit(BASE, 1)
    d = f"{BASE}/scalars"
    done = threading.Event()
    errors: list[BaseException] = []

    def writer():
        try:
            for i in range(2, 102):
                _commit(BASE, i)
        except BaseException as e:  # surfaced by the assert below
            errors.append(e)
        finally:
            done.set()

    t = threading.Thread(target=writer)
    t.start()
    polls, empty, rows = 0, 0, []
    while not done.is_set():
        files = [f for f in os.listdir(d) if not f.startswith((".", "_"))]
        polls += 1
        empty += not files
        r = spimi._read_scalars_local(paths)
        if r is not None:
            rows.append(r)
    t.join(timeout=60)
    assert not t.is_alive() and not errors
    assert polls > 0 and empty == 0
    assert all(1 <= r["n_docs"] <= 101 and r["sum_dl"] == int(12.5 * r[
        "n_docs"]) for r in rows)
    assert spimi._read_scalars_local(paths)["n_docs"] == 101
