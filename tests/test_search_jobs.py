"""The fixed cost of a bounded search, pinned in Spark jobs.

A 16-query Engine.search on a warm Engine (handles loaded) takes the
local query plan: the query rows are collected without a job from a
local relation and tokenized on the driver, the term-df lookup is the
one probe job, and the cogroup kernel plus the top-k window take the
rest. A plan-cache repeat skips the probe. Neither side of the cogroup
is a broadcast literal relation.
"""

from __future__ import annotations

import shutil
import uuid

import numpy as np
import pandas as pd
import pytest

from rerankers_spark.corpus import synthetic_corpus_pdf, with_doc_id
from rerankers_spark.functions.tokenize import tokenize_py
from rerankers_spark.index import spimi
from rerankers_spark.query.executor import Engine

BASE = "/tmp/test_search_jobs"
#: jobs of a fresh 16-query search: term-df lookup, the two cogroup
#: sides' shuffle stages, the cogroup → top-k window shuffle, the result
FRESH_JOBS = 5
#: a plan-cache hit runs no probe
CACHED_JOBS = 4


@pytest.fixture(scope="module")
def warm(spark):
    pdf = synthetic_corpus_pdf(600, seed=31)
    shutil.rmtree(BASE, ignore_errors=True)
    spimi.build_index(spark, with_doc_id(spark.createDataFrame(pdf)), BASE,
                      n_shards=2)
    vocab = sorted({t for c in pdf["content"] for t in tokenize_py(c)})
    rng = np.random.default_rng(3)

    def batch(first_id):
        return spark.createDataFrame(pd.DataFrame({
            "query_id": np.arange(first_id, first_id + 16, dtype=np.int64),
            "query": [" ".join(rng.choice(vocab, int(rng.integers(1, 5))))
                      for _ in range(16)]}), "query_id long, query string")

    eng = Engine(spark, BASE)
    eng.search(batch(0), k=10).collect()
    return eng, batch


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"search-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "search")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_search_job_counts(spark, warm):
    eng, batch = warm
    for first_id in (100, 200):
        q = batch(first_id)
        fresh, n_fresh = _jobs(spark, lambda: eng.search(q, k=10).collect())
        assert fresh, "the batch must have results"
        assert n_fresh <= FRESH_JOBS
        cached, n_cached = _jobs(spark,
                                 lambda: eng.search(q, k=10).collect())
        assert n_cached <= CACHED_JOBS
        assert sorted(cached) == sorted(fresh)


def _broadcasts_of_literals(plan: str) -> list[str]:
    """BroadcastExchange nodes whose subtree holds a LocalTableScan, from
    a plan tree string (a node's subtree: the lines indented past it)."""
    lines = plan.splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    found = []
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        d = depth(line)
        sub = []
        for nxt in lines[i + 1:]:
            if depth(nxt) <= d:
                break
            sub.append(nxt)
        if any("LocalTableScan" in s for s in sub):
            found.append(line.strip())
    return found


def test_broadcast_finder_sees_a_literal_broadcast(spark):
    """The plan check below is not vacuous."""
    from pyspark.sql import functions as F

    lit = spark.createDataFrame(pd.DataFrame({"k": [1, 2]}), "k long")
    df = spark.range(10).join(F.broadcast(lit), F.col("id") == F.col("k"))
    assert _broadcasts_of_literals(
        df._jdf.queryExecution().executedPlan().toString())


def test_no_broadcast_of_a_literal_relation(spark, warm):
    eng, batch = warm
    df = eng.search(batch(300), k=10)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert not _broadcasts_of_literals(plan), plan
