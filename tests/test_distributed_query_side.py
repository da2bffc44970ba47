"""The distributed query side (query sets past bmw.QT_PAIR_CAP or
bmw.TERM_PUSHDOWN_CAP) must return exactly what the bounded local query
plan returns.

Production query sets in tests stay far under the caps, so one cap is
forced to 0 here: QT_PAIR_CAP in one case, TERM_PUSHDOWN_CAP alone in
the other. build_local_query_plan then gives up, and bmw_topk derives
both sides of its shard cogroup from query_terms_with_idf (a DataFrame,
never collected): its distinct terms filter the blocks through a
broadcast left-semi join, and its rows are the query side. A token-less
query set past the cap returns no rows, with the result schema.

The index carries tombstones, and every mode runs with and without a
doc_filter, plus the two-stage rank(); search rows compare as
(query_id, doc_id, round(score, 9), rank) tuples, rank() rows with both
scores as float.hex (past the cap the query text arrives as a joined
column, under the local plan in the task closure). The same parity holds
on an attribute-partitioned index (each task scores its shard's attr
groups separately) with an attr_filter and a bucketed keep-list.

Two more equalities hold bit for bit (scores compared as float.hex):
the per-call df/idf lookup (a vocabulary past Engine.VOCAB_CAP) equals
the Engine's vocabulary snapshot, and a bucketed keep-list (always the
cogroup) equals the same filter as a broadcast keep-list (the local
grouped map).
"""

from __future__ import annotations

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from rerankers_spark.corpus import synthetic_corpus_pdf, with_doc_id
from rerankers_spark.functions.tokenize import tokenize_py
from rerankers_spark.index import spimi
from rerankers_spark.query import bmw
from rerankers_spark.query.executor import Engine

BASE = "/tmp/test_distributed_query_side"

QUERIES = [(0, "common_util"), (1, "def return class"), (2, "rareterm_0"),
           (3, "common_util rareterm_1"), (4, "zzznotaterm")]


@pytest.fixture(scope="module")
def tombstoned(spark):
    corpus = with_doc_id(spark.createDataFrame(
        synthetic_corpus_pdf(300, seed=23))).cache()
    corpus.count()
    shutil.rmtree(BASE, ignore_errors=True)
    spimi.build_index(spark, corpus, BASE, n_shards=4)
    spimi.delete_docs(
        spark, BASE,
        corpus.select("doc_id").where(F.abs(F.col("doc_id")) % 5 == 1))
    keep = corpus.select("doc_id").where(F.abs(F.col("doc_id")) % 2 == 0)
    return corpus, keep


def _run_all(spark, eng, corpus, keep):
    """Every search mode with and without the doc_filter, and rank()."""
    q = spark.createDataFrame(QUERIES, "query_id long, query string")
    out = {}
    for mode in ("bmw", "auto", "exhaustive"):
        for name, filt in (("all", None), ("kept", keep)):
            out[mode, name] = sorted(
                (r["query_id"], r["doc_id"], round(r["score"], 9),
                 r["rank"])
                for r in eng.search(q, k=10, mode=mode,
                                    doc_filter=filt).collect())
    out["rank"] = sorted(
        (r["query_id"], r["doc_id"], r["bm25_score"].hex(),
         r["score"].hex(), r["rank"])
        for r in eng.rank(q, corpus.select("doc_id", "content"),
                          first_k=20, final_k=5).collect())
    return out, q


@pytest.fixture(scope="module")
def local_results(spark, tombstoned):
    corpus, keep = tombstoned
    eng = Engine(spark, BASE)
    out, q = _run_all(spark, eng, corpus, keep)
    assert eng._query_plan(q), "the reference must use the local plan"
    assert all(out.values()), "every reference result must be non-empty"
    return out


@pytest.mark.parametrize("no_pushdown", [False, True])
def test_distributed_query_side_matches_local_plan(spark, tombstoned,
                                                   local_results,
                                                   monkeypatch,
                                                   no_pushdown):
    corpus, keep = tombstoned
    # the term cap alone also sends the query set past the local plan
    monkeypatch.setattr(bmw, "TERM_PUSHDOWN_CAP" if no_pushdown
                        else "QT_PAIR_CAP", 0)
    eng = Engine(spark, BASE)
    got, q = _run_all(spark, eng, corpus, keep)
    assert eng._query_plan(q) is False
    assert got.keys() == local_results.keys()
    for key in local_results:
        assert got[key] == local_results[key], key


def test_tokenless_query_set_past_the_cap_returns_no_rows(spark,
                                                         tombstoned,
                                                         monkeypatch):
    monkeypatch.setattr(bmw, "QT_PAIR_CAP", 0)
    eng = Engine(spark, BASE)
    q = spark.createDataFrame([(0, ""), (1, "!!!")],
                              "query_id long, query string")
    df = eng.search(q, k=10)
    assert eng._query_plan(q) is False
    assert df.collect() == []
    assert df.schema.simpleString() == (
        "struct<query_id:bigint,doc_id:bigint,score:double,rank:int>")


ATTR_BASE = "/tmp/test_distributed_query_side_attr"


@pytest.fixture(scope="module")
def attr_tombstoned(spark):
    corpus = with_doc_id(spark.createDataFrame(
        synthetic_corpus_pdf(300, seed=29))).cache()
    corpus.count()
    shutil.rmtree(ATTR_BASE, ignore_errors=True)
    spimi.build_index(spark, corpus, ATTR_BASE, n_shards=4, attr_col="lang")
    spimi.delete_docs(
        spark, ATTR_BASE,
        corpus.select("doc_id").where(F.abs(F.col("doc_id")) % 5 == 1))
    keep = corpus.select("doc_id").where(F.abs(F.col("doc_id")) % 2 == 0)
    langs = sorted(r["lang"] for r in corpus.select("lang").distinct()
                   .collect())
    assert len(langs) >= 3
    return keep, langs[:2]


def _run_attr(spark, keep, pick):
    """attr_filter and a bucketed doc_filter, alone and together."""
    eng = Engine(spark, ATTR_BASE)
    # every doc_filter takes the bucketed (cogroup marker-row) route
    eng.KEEP_BROADCAST_CAP = 0
    assert eng._keep_entry(keep)[0] == "bucketed"
    q = spark.createDataFrame(QUERIES, "query_id long, query string")
    out = {}
    for name, attr, filt in (("all", None, None), ("attr", pick, None),
                             ("kept", None, keep), ("attr_kept", pick, keep)):
        out[name] = sorted(
            (r["query_id"], r["doc_id"], round(r["score"], 9), r["rank"])
            for r in eng.search(q, k=10, attr_filter=attr,
                                doc_filter=filt).collect())
    return out, eng._query_plan(q)


@pytest.fixture(scope="module")
def attr_local_results(spark, attr_tombstoned):
    out, plan = _run_attr(spark, *attr_tombstoned)
    assert plan, "the reference must use the local plan"
    assert all(out.values()), "every reference result must be non-empty"
    assert out["attr"] != out["all"] and out["kept"] != out["all"]
    return out


@pytest.mark.parametrize("no_pushdown", [False, True])
def test_attr_index_distributed_query_side_matches_local_plan(
        spark, attr_tombstoned, attr_local_results, monkeypatch,
        no_pushdown):
    monkeypatch.setattr(bmw, "TERM_PUSHDOWN_CAP" if no_pushdown
                        else "QT_PAIR_CAP", 0)
    got, plan = _run_attr(spark, *attr_tombstoned)
    assert plan is False
    assert got == attr_local_results


def _hex_rows(df, score="score"):
    return sorted((r["query_id"], r["doc_id"], r[score].hex(), r["rank"])
                  for r in df.collect())


@pytest.fixture(scope="module")
def batch16(spark, tombstoned):
    corpus, _ = tombstoned
    vocab = sorted({t for r in corpus.select("content").collect()
                    for t in tokenize_py(r["content"])})
    rng = np.random.default_rng(5)
    rows = [(i, " ".join(rng.choice(vocab, int(rng.integers(1, 5)))))
            for i in range(16)]
    return spark.createDataFrame(rows, "query_id long, query string")


def test_lookup_path_equals_vocabulary_snapshot(spark, tombstoned, batch16):
    corpus, keep = tombstoned
    snap, look = Engine(spark, BASE), Engine(spark, BASE)
    look.VOCAB_CAP = 0
    text = corpus.select("doc_id", "content")
    for k in (10, 100):
        for filt in (None, keep):
            got = [_hex_rows(e.search(batch16, k=k, doc_filter=filt))
                   for e in (snap, look)]
            assert got[0] and got[0] == got[1], (k, filt)
        got = [_hex_rows(e.rank(batch16, text, first_k=k, final_k=5),
                         "bm25_score") for e in (snap, look)]
        assert got[0] and got[0] == got[1], k
    assert isinstance(snap._vocab, bmw.VocabSnapshot)
    assert look._vocab is False


def test_bucketed_keep_equals_broadcast_keep(spark, tombstoned, batch16):
    _, keep = tombstoned
    bc, bucketed = Engine(spark, BASE), Engine(spark, BASE)
    bucketed.KEEP_BROADCAST_CAP = 0
    assert bc._keep_entry(keep)[0] == "broadcast"
    assert bucketed._keep_entry(keep)[0] == "bucketed"
    for k in (10, 100):
        got = [_hex_rows(e.search(batch16, k=k, doc_filter=keep))
               for e in (bc, bucketed)]
        assert got[0] and got[0] == got[1], k
