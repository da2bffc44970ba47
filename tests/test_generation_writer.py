"""The shared generation writer (spimi._write_gen_docstats /
_write_gen_blocks): no session-global conf writes, empty inputs commit
clean generations, a lost totals observation on real rows fails the call
before the commit, appended generations get full manifest rows, and every
job of a build or append runs under the caller's job group."""

from __future__ import annotations

import shutil

import pandas as pd
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

from rerankers_spark.corpus import synthetic_corpus_pdf, with_doc_id
from rerankers_spark.index import spimi
from rerankers_spark.query.executor import Engine

BASE = "/tmp/test_generation_writer"
COLS = ["repo", "path", "commit", "lang", "content"]
CORPUS_SCHEMA = ", ".join(f"{c} string" for c in COLS)


def _corpus(spark, pdf):
    return with_doc_id(spark.createDataFrame(pdf[COLS], schema=CORPUS_SCHEMA))


def _empty(spark):
    return _corpus(spark, pd.DataFrame(columns=COLS))


def _meta(spark, path):
    return spimi.load_meta(spark, spimi.IndexPaths(path))


def _results(spark, path):
    q = spark.createDataFrame(
        [(0, "common_util"), (1, "def return class")],
        "query_id long, query string")
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in Engine(spark, path).search(q, k=10, mode="bmw").collect())


def test_lifecycle_writes_no_session_conf(spark, monkeypatch):
    pdf = synthetic_corpus_pdf(2, seed=11)
    one, other, empty = (_corpus(spark, pdf.iloc[:1]),
                         _corpus(spark, pdf.iloc[1:]), _empty(spark))
    a, b = f"{BASE}/conf_one", f"{BASE}/conf_empty"
    for p in (a, b):
        shutil.rmtree(p, ignore_errors=True)
    calls = []
    real_set, real_unset = RuntimeConfig.set, RuntimeConfig.unset

    def spy_set(self, key, value):
        calls.append(("set", key, value))
        return real_set(self, key, value)

    def spy_unset(self, key):
        calls.append(("unset", key))
        return real_unset(self, key)

    monkeypatch.setattr(RuntimeConfig, "set", spy_set)
    monkeypatch.setattr(RuntimeConfig, "unset", spy_unset)
    spimi.build_index(spark, one, a, n_shards=2)
    spimi.build_index(spark, empty, b, n_shards=2)
    spimi.append_index(spark, other, a)
    spimi.append_index(spark, empty, a)
    spimi.append_index(spark, one, b)
    spimi.append_index(spark, empty, b)
    spimi.compact_index(spark, a)
    monkeypatch.undo()
    assert calls == []
    assert _meta(spark, a)["n_docs"] == 2
    assert _meta(spark, b)["n_docs"] == 1


def test_empty_append_commits_unchanged_generation(spark):
    path = f"{BASE}/empty_append"
    shutil.rmtree(path, ignore_errors=True)
    spimi.build_index(spark, _corpus(spark, synthetic_corpus_pdf(60)),
                      path, n_shards=2)
    before, meta0 = _results(spark, path), _meta(spark, path)
    spimi.append_index(spark, _empty(spark), path)
    meta1 = _meta(spark, path)
    assert spimi.visible_generations(meta1) == [0, 1]
    assert meta1["generation"] == 1
    assert (meta1["n_docs"], meta1["sum_dl"]) == \
        (meta0["n_docs"], meta0["sum_dl"])
    assert _results(spark, path) == before


def test_lost_observation_on_rows_fails_before_commit(spark, monkeypatch):
    """The empty-input catch only takes n=0 when the generation's docstats
    range really is empty: a lost observation on real rows raises, and the
    scalars commit point is left untouched."""
    path = f"{BASE}/lost_obs"
    shutil.rmtree(path, ignore_errors=True)
    pdf = synthetic_corpus_pdf(60, seed=5)
    first, second = (_corpus(spark, pdf.iloc[:40]),
                     _corpus(spark, pdf.iloc[40:]))
    spimi.build_index(spark, first, path, n_shards=2)
    meta0 = _meta(spark, path)

    def lost(self):
        # the error a dropped observation row raises from toPyRow
        raise Py4JJavaError(
            "An error occurred while calling PythonSQLUtils.toPyRow",
            spark._jvm.java.lang.AssertionError("assertion failed"))

    monkeypatch.setattr(Observation, "get", property(lost))
    with pytest.raises(Py4JJavaError):
        spimi.append_index(spark, second, path)
    assert _meta(spark, path) == meta0
    with pytest.raises(Py4JJavaError):
        spimi.build_index(spark, first, path, n_shards=2)
    assert _meta(spark, path) == meta0


def test_append_manifest_rows_carry_block_sums(spark):
    path = f"{BASE}/append_manifest"
    shutil.rmtree(path, ignore_errors=True)
    pdf = synthetic_corpus_pdf(90, seed=7)
    spimi.build_index(spark, _corpus(spark, pdf.iloc[:60]), path, n_shards=2)
    spimi.append_index(spark, _corpus(spark, pdf.iloc[60:]), path)
    man = {r["shard_id"]: r for r in spark.read.parquet(f"{path}/manifest")
           .where(F.col("gen") == 1).collect()}
    sums = {r["shard_id"]: (r["p"], r["b"]) for r in
            spark.read.parquet(f"{path}/blocks")
            .where((F.col("shard_id") >= 2) & (F.col("shard_id") < 4)
                   & (F.col("term") != spimi.DOCMAP_TERM))
            .groupBy("shard_id")
            .agg(F.sum("n").alias("p"), F.count("*").alias("b")).collect()}
    assert sorted(man) == sorted(sums) == [2, 3]
    for s, r in man.items():
        assert (r["n_postings"], r["n_blocks"]) == sums[s]
        assert r["status"] == "ok" and r["wall_time"] > 0
    assert sum(r["n_docs"] for r in man.values()) == 30


def test_writer_jobs_stay_in_the_callers_job_group(spark):
    """The writer's pool threads inherit the caller's job group: under
    sc.setJobGroup, build_index and append_index start no job outside
    it (so cancelJobGroup and per-group job attribution reach them)."""
    path = f"{BASE}/job_group"
    shutil.rmtree(path, ignore_errors=True)
    pdf = synthetic_corpus_pdf(60, seed=11)
    first, second = (_corpus(spark, pdf.iloc[:40]),
                     _corpus(spark, pdf.iloc[40:]))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("generation-writer-test", "build + append")
    try:
        spimi.build_index(spark, first, path, n_shards=2)
        spimi.append_index(spark, second, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
    assert tracker.getJobIdsForGroup("generation-writer-test")
