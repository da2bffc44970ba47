"""Soft deletes (tombstones) + physical purge at compaction.

Semantics (spimi.delete_docs / compact_index docstrings):
* after delete_docs, tombstoned docs vanish from EVERY search mode (bmw,
  auto, exhaustive — one cogroup kernel, one block-scan scorer) while
  scores keep pre-delete global stats — Lucene deferred-stats semantics;
* after compact_index, results are identical to a fresh build on the
  surviving corpus (stats recomputed, tombstones table dropped).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from rerankers_spark.corpus import synthetic_corpus_pdf, with_doc_id
from rerankers_spark.index import spimi
from rerankers_spark.query.executor import Engine
from tests.oracle import BM25Oracle

BASE = "/tmp/test_delete_index"

QUERIES = [(0, "common_util"), (1, "def return class"), (2, "rareterm_0")]


@pytest.fixture(scope="module")
def deleted_engine(spark):
    pdf = synthetic_corpus_pdf(500)
    shutil.rmtree(BASE, ignore_errors=True)
    full = with_doc_id(spark.createDataFrame(pdf))
    spimi.build_index(spark, full, BASE, n_shards=4)
    dead = full.select("doc_id").where(F.abs(F.col("doc_id")) % 5 == 1)
    spimi.delete_docs(spark, BASE, dead)
    dead_ids = {r["doc_id"] for r in dead.collect()}
    assert dead_ids, "fixture must tombstone something"
    return Engine(spark, BASE), full, dead_ids


def _oracle_excluding(full_rows, dead_ids):
    """Numpy oracle over the FULL corpus (pre-delete stats), ranking
    only surviving docs."""
    oracle = BM25Oracle([r["doc_id"] for r in full_rows],
                        [r["content"] for r in full_rows])

    def topk(qtext, k):
        ranked = oracle.topk(qtext, k=len(full_rows))
        return [(d, s) for d, s in ranked if d not in dead_ids][:k]

    return topk


@pytest.mark.parametrize("mode", ["bmw", "exhaustive"])
def test_deleted_docs_excluded_stats_deferred(spark, deleted_engine, mode):
    eng, full, dead_ids = deleted_engine
    rows = full.select("doc_id", "content").collect()
    expect = _oracle_excluding(rows, dead_ids)
    q = spark.createDataFrame(QUERIES, "query_id long, query string")
    got = eng.search(q, k=10, mode=mode).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, qtext in QUERIES:
        actual = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
        assert not ({r["doc_id"] for r in actual} & dead_ids)
        exp = expect(qtext, 10)
        assert [r["doc_id"] for r in actual] == [d for d, _ in exp]
        for r, (_, s) in zip(actual, exp):
            assert r["score"] == pytest.approx(s, abs=1e-9)


def test_dense_fallback_excludes_deleted(spark, deleted_engine):
    """A head term (in most docs of every shard) through mode='auto' —
    the block scan's tombstone column mask must hold on dense postings
    too."""
    eng, full, dead_ids = deleted_engine
    q = spark.createDataFrame([(0, "common_util")],
                              "query_id long, query string")
    got = eng.search(q, k=10, mode="auto").collect()
    assert got and not ({r["doc_id"] for r in got} & dead_ids)


def test_engine_delete_compact_wrappers(spark):
    """Engine.delete/compact round-trip on a small separate index."""
    pdf = synthetic_corpus_pdf(120)
    base = "/tmp/test_engine_delete"
    shutil.rmtree(base, ignore_errors=True)
    full = with_doc_id(spark.createDataFrame(pdf))
    eng = Engine.build(spark, full, base, n_shards=2)
    dead = full.select("doc_id").where(F.abs(F.col("doc_id")) % 3 == 0)
    dead_ids = {r["doc_id"] for r in dead.collect()}
    eng.delete(dead)
    q = spark.createDataFrame([(0, "common_util")],
                              "query_id long, query string")
    got = eng.search(q, k=10).collect()
    assert got and not ({r["doc_id"] for r in got} & dead_ids)
    eng.compact()
    meta = spimi.load_meta(spark, eng.paths)
    assert meta["generation"] == 0
    assert meta["n_docs"] == 120 - len(dead_ids)
    got2 = eng.search(q, k=10).collect()
    assert got2 and not ({r["doc_id"] for r in got2} & dead_ids)


@pytest.mark.parametrize("mode", ["bmw", "exhaustive", "auto"])
def test_doc_filter_restricts_results(spark, mode):
    """Engine.search(doc_filter=...) returns top-k over ONLY the kept
    docs, scored with full-corpus stats, on every mode."""
    pdf = synthetic_corpus_pdf(300, seed=11)
    base = "/tmp/test_filter_index"
    shutil.rmtree(base, ignore_errors=True)
    full = with_doc_id(spark.createDataFrame(pdf))
    spimi.build_index(spark, full, base, n_shards=4)
    keep_df = full.select("doc_id").where(F.abs(F.col("doc_id")) % 2 == 0)
    kept = {r["doc_id"] for r in keep_df.collect()}
    assert 0 < len(kept) < 300

    rows = full.select("doc_id", "content").collect()
    oracle = BM25Oracle([r["doc_id"] for r in rows],
                        [r["content"] for r in rows])
    eng = Engine(spark, base)
    q = spark.createDataFrame(QUERIES, "query_id long, query string")
    by_q = {}
    for r in eng.search(q, k=10, mode=mode, doc_filter=keep_df).collect():
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, qtext in QUERIES:
        actual = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
        assert {r["doc_id"] for r in actual} <= kept
        exp = [(d, s) for d, s in oracle.topk(qtext, k=300)
               if d in kept][:10]
        assert [r["doc_id"] for r in actual] == [d for d, _ in exp]
        for r, (_, s) in zip(actual, exp):
            assert r["score"] == pytest.approx(s, abs=1e-9)


def test_delete_append_compact_combo(spark):
    """Full lifecycle interleaving: build half, delete some of it, append
    the rest (a second generation while tombstones are pending), then
    compact — the result must equal a fresh build on (all docs −
    deleted)."""
    pdf = synthetic_corpus_pdf(400, seed=7)
    base = "/tmp/test_delete_append_combo"
    shutil.rmtree(base, ignore_errors=True)
    first = with_doc_id(spark.createDataFrame(pdf.iloc[:250]))
    second = with_doc_id(spark.createDataFrame(pdf.iloc[250:]))
    spimi.build_index(spark, first, base, n_shards=4)
    dead = first.select("doc_id").where(F.abs(F.col("doc_id")) % 4 == 2)
    dead_ids = {r["doc_id"] for r in dead.collect()}
    assert dead_ids
    spimi.delete_docs(spark, base, dead)
    spimi.append_index(spark, second, base)
    spimi.compact_index(spark, base)

    meta = spimi.load_meta(spark, spimi.IndexPaths(base))
    assert meta["generation"] == 0
    assert meta["n_docs"] == 400 - len(dead_ids)

    survivors = with_doc_id(spark.createDataFrame(pdf)).join(
        spark.createDataFrame([(d,) for d in dead_ids], "doc_id long"),
        "doc_id", "left_anti")
    rows = survivors.select("doc_id", "content").collect()
    oracle = BM25Oracle([r["doc_id"] for r in rows],
                        [r["content"] for r in rows])
    eng = Engine(spark, base)
    q = spark.createDataFrame(QUERIES, "query_id long, query string")
    by_q = {}
    for r in eng.search(q, k=10, mode="bmw").collect():
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, qtext in QUERIES:
        actual = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
        exp = oracle.topk(qtext, k=10)
        assert [r["doc_id"] for r in actual] == [d for d, _ in exp]
        for r, (_, s) in zip(actual, exp):
            assert r["score"] == pytest.approx(s, abs=1e-9)


def test_compact_purges_and_recomputes_stats(spark, deleted_engine):
    eng, full, dead_ids = deleted_engine
    pre_meta = spimi.load_meta(spark, spimi.IndexPaths(BASE))
    assert pre_meta["n_docs"] == 500  # stats deferred while tombstoned

    spimi.compact_index(spark, BASE)
    # immediate GC so the raw-parquet physical-purge asserts below see
    # only the surviving generation (default is the grace-period ledger)
    spimi.gc_retired(spark, BASE, retention_secs=0.0)
    # every snapshotted tombstone batch partition was dropped → no rows
    assert spimi.load_tombstones(spark, spimi.IndexPaths(BASE)) is None
    meta = spimi.load_meta(spark, spimi.IndexPaths(BASE))
    assert meta["n_docs"] == 500 - len(dead_ids)

    survivors = full.join(
        spark.createDataFrame([(d,) for d in dead_ids], "doc_id long"),
        "doc_id", "left_anti")
    rows = survivors.select("doc_id", "content").collect()
    assert len(rows) == 500 - len(dead_ids)
    oracle = BM25Oracle([r["doc_id"] for r in rows],
                        [r["content"] for r in rows])

    eng2 = Engine(spark, BASE)
    q = spark.createDataFrame(QUERIES, "query_id long, query string")
    got = eng2.search(q, k=10, mode="bmw").collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, qtext in QUERIES:
        actual = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
        exp = oracle.topk(qtext, k=10)
        assert [r["doc_id"] for r in actual] == [d for d, _ in exp]
        for r, (_, s) in zip(actual, exp):
            assert r["score"] == pytest.approx(s, abs=1e-9)

    # postings physically gone
    from rerankers_spark.index.spimi import _decode_blocks_map
    import pandas as pd

    blocks_pdf = spark.read.parquet(f"{BASE}/blocks").select(
        "term", "first_doc", "docs_vb", "tfs_vb", "dls_vb").toPandas()
    all_docs = set()
    for out in _decode_blocks_map([blocks_pdf]):
        all_docs.update(out["doc_id"].tolist())
    assert not (all_docs & dead_ids)


def test_legacy_tombstone_layout_migrates_on_new_delete(spark):
    """A pre-batch-partitioning index has tombstone files at the table
    ROOT; Spark partition discovery silently drops root files once a
    partition dir appears beside them. delete_docs must migrate the
    legacy rows into a tomb_batch=legacy partition BEFORE its first
    partitioned append, so no previously-deleted doc resurrects."""
    import shutil

    base = "/tmp/test_legacy_tombstones"
    shutil.rmtree(base, ignore_errors=True)
    pdf = synthetic_corpus_pdf(60)
    corpus = with_doc_id(spark.createDataFrame(pdf))
    spimi.build_index(spark, corpus, base, n_shards=2)
    paths = spimi.IndexPaths(base)
    # simulate the legacy writer: doc_id-only rows, no partitioning
    old_ids = [r["doc_id"] for r in corpus.select("doc_id")
               .where(F.abs(F.col("doc_id")) % 5 == 0).collect()]
    paths.write(spark.createDataFrame([(d,) for d in old_ids],
                                      "doc_id long"),
                "tombstones", mode="append")
    new_ids = [r["doc_id"] for r in corpus.select("doc_id")
               .where(F.abs(F.col("doc_id")) % 5 == 1).collect()]
    spimi.delete_docs(spark, base,
                      spark.createDataFrame([(d,) for d in new_ids],
                                            "doc_id long"))
    tomb = spimi.load_tombstones(spark, paths)
    assert set(int(d) for d in tomb) == set(old_ids) | set(new_ids)
