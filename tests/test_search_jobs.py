"""The fixed cost of a bounded search and of a bounded rank, pinned in
Spark jobs and py4j round trips.

A 16-query Engine.search on a warm Engine (handles and vocabulary
snapshot loaded) takes the local query plan: the query rows are
collected without a job from a local relation and tokenized on the
driver, (df, idf) come from the snapshot with no job, and a grouped map
over the blocks side plus the top-k window take the three jobs. A
plan-cache repeat runs the same three. The plan has no cogroup and no
broadcast literal relation.

The same batch past the local plan's caps (bmw.QT_PAIR_CAP forced to 0)
takes the distributed formulation: a broadcast of the query set's terms
into a left-semi join with the blocks, and a cogroup of the blocks with
the query rows on shard_id. It runs no driver collect of its terms.

A 16-query Engine.rank adds stage two to that: the candidates are
broadcast into the text join, one query_id exchange follows, and one
Arrow map scores and cuts each query's rows (the query text rides in
its closure). No window, no scorer UDF node and no second exchange
follow the scorer.
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
from rerankers_spark.query import bmw
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
#: Java proxies whenever Python's GC runs, is not counted. With every
#: blocks column shipped to the grouped map (not only
#: bmw.TASK_BLOCK_COLS) they were 114 and 94.
FRESH_ROUND_TRIPS = 89
CACHED_ROUND_TRIPS = 69
#: jobs and py4j round trips of a fresh warm 16-query search past the
#: caps, counted as above
OVER_CAP_JOBS = 9
OVER_CAP_ROUND_TRIPS = 297
#: jobs of a warm 16-query rank, fresh or plan-cache hit: the first
#: stage's two shuffle stages, the candidates' broadcast, the text join
#: → query_id shuffle, the scorer map's result. The window-ranked stage
#: two (a scorer UDF between two query_id exchanges) took 7.
RANK_JOBS = 5
#: py4j round trips of a fresh rank and of a plan-cache hit, counted as
#: for search (the window-ranked stage two took 347 and 327)
RANK_FRESH_ROUND_TRIPS = 168
RANK_CACHED_ROUND_TRIPS = 148


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


@pytest.fixture(scope="module")
def warm_rank(spark, warm):
    """The warm Engine after one rank, with its corpus text read from
    parquet on every call, as a caller's table would be."""
    eng, batch = warm
    path = BASE + "_text"
    with_doc_id(spark.createDataFrame(synthetic_corpus_pdf(600, seed=31))) \
        .select("doc_id", "content").write.mode("overwrite").parquet(path)
    text = spark.read.parquet(path)
    eng.rank(batch(1000), text).collect()
    return eng, batch, text


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


def test_over_cap_search_jobs_and_round_trips(spark, warm, monkeypatch):
    eng, batch = warm
    monkeypatch.setattr(bmw, "QT_PAIR_CAP", 0)
    q = batch(500)
    rows, n_jobs = _jobs(spark, lambda: eng.search(q, k=10).collect())
    assert rows and eng._query_plan(q) is False
    assert n_jobs <= OVER_CAP_JOBS
    q = batch(600)
    rows, n_trips = _round_trips(monkeypatch,
                                 lambda: eng.search(q, k=10).collect())
    assert rows
    assert n_trips <= OVER_CAP_ROUND_TRIPS


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


def test_rank_job_counts(spark, warm_rank):
    eng, batch, text = warm_rank
    for first_id in (1100, 1200):
        q = batch(first_id)
        fresh, n_fresh = _jobs(spark, lambda: eng.rank(q, text).collect())
        assert fresh, "the batch must have results"
        assert n_fresh <= RANK_JOBS
        cached, n_cached = _jobs(spark,
                                 lambda: eng.rank(q, text).collect())
        assert n_cached <= RANK_JOBS
        assert sorted(cached) == sorted(fresh)


def test_rank_round_trips(spark, warm_rank, monkeypatch):
    eng, batch, text = warm_rank
    q = batch(1300)
    fresh, n_fresh = _round_trips(monkeypatch,
                                  lambda: eng.rank(q, text).collect())
    cached, n_cached = _round_trips(monkeypatch,
                                    lambda: eng.rank(q, text).collect())
    assert fresh and sorted(cached) == sorted(fresh)
    assert n_fresh <= RANK_FRESH_ROUND_TRIPS
    assert n_cached <= RANK_CACHED_ROUND_TRIPS


def _final_plan(df) -> list[str]:
    """The executed plan's lines, without AQE's initial-plan section."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0].splitlines()


def test_rank_plan_has_one_exchange_after_the_first_stage(spark,
                                                          warm_rank):
    """From the rank's root down to the first stage's top-k window:
    the scorer map, exactly one query_id exchange, and no window or
    scorer UDF node over the scorer's output."""
    eng, batch, text = warm_rank
    lines = _final_plan(eng.rank(batch(1400), text))
    first_stage = next(i for i, ln in enumerate(lines) if "Window" in ln)
    stage_two = lines[:first_stage]
    scorer = [i for i, ln in enumerate(stage_two) if "MapInArrow" in ln]
    assert len(scorer) == 1, "\n".join(lines)
    assert sum("hashpartitioning(query_id" in ln for ln in stage_two) == 1
    assert not any("ArrowEvalPython" in ln for ln in lines)
    above = stage_two[:scorer[0]]
    assert not any("Window" in ln or "Exchange" in ln for ln in above)
