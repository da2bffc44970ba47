"""The fixed cost of a bounded search, pinned in Spark jobs and py4j
round trips.

A 16-query Engine.search on a warm Engine (handles and vocabulary
snapshot loaded) takes the local query plan: the query rows are
collected without a job from a local relation and tokenized on the
driver, (df, idf) come from the snapshot with no job, and a grouped map
over the blocks side plus the top-k window take the three jobs. A
plan-cache repeat runs the same three. The plan has no cogroup and no
broadcast literal relation.
"""

from __future__ import annotations

import shutil
import threading
import uuid

import numpy as np
import pandas as pd
import pytest

from py4j.clientserver import ClientServerConnection

from rerankers_spark.corpus import synthetic_corpus_pdf, with_doc_id
from rerankers_spark.functions.tokenize import tokenize_py
from rerankers_spark.index import spimi
from rerankers_spark.query.executor import Engine

BASE = "/tmp/test_search_jobs"
#: jobs of a fresh 16-query search: the blocks side's shuffle stage,
#: the grouped map → top-k window shuffle, the result (the vocabulary
#: snapshot answers df and idf)
FRESH_JOBS = 3
#: a plan-cache hit runs the same jobs
CACHED_JOBS = 3
#: py4j round trips (ClientServerConnection.send_command calls on the
#: calling thread) of a fresh search and of a plan-cache hit, collect
#: included. py4j's finalizer thread, which releases garbage-collected
#: Java proxies whenever Python's GC runs, is not counted.
FRESH_ROUND_TRIPS = 170
CACHED_ROUND_TRIPS = 150


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


def _round_trips(monkeypatch, fn):
    calls = [0]
    send = ClientServerConnection.send_command
    caller = threading.get_ident()

    def counting(self, command):
        calls[0] += 1 if threading.get_ident() == caller else 0
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counting)
        out = fn()
    return out, calls[0]


def test_search_round_trips(spark, warm, monkeypatch):
    eng, batch = warm
    q = batch(400)
    fresh, n_fresh = _round_trips(monkeypatch,
                                  lambda: eng.search(q, k=10).collect())
    cached, n_cached = _round_trips(monkeypatch,
                                    lambda: eng.search(q, k=10).collect())
    assert fresh and sorted(cached) == sorted(fresh)
    assert n_fresh <= FRESH_ROUND_TRIPS
    assert n_cached <= CACHED_ROUND_TRIPS


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
    """Only the blocks side is grouped: no cogroup, no literal relation
    broadcast."""
    eng, batch = warm
    df = eng.search(batch(300), k=10)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "FlatMapCoGroupsInPandas" not in plan, plan
    assert not _broadcasts_of_literals(plan), plan
