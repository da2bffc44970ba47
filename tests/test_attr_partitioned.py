"""Attribute-partitioned indexes (build_index attr_col): the attr
becomes a physical partition column of the blocks table, attr-filtered
search prunes partitions at the parquet scan, and every query path stays
rank-identical to the keep-list formulation of the same filter.

Invariants:
* unfiltered results on an attr-partitioned index == plain index
  (per-(shard, attr) doc-disjoint runs merge exactly);
* attr_filter == doc_filter(keep-list of the same docs) on rounded
  scores, BMW and exhaustive;
* the blocks scan carries a PartitionFilters entry on attr (plan
  assertion — the pruning is physical, not a post-scan filter);
* append + tiered/full compaction preserve the attr layout and results.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from rerankers_spark.corpus import synthetic_corpus_pdf, with_doc_id
from rerankers_spark.index import spimi
from rerankers_spark.query.executor import Engine
from tests.test_deletes import _oracle_excluding

BASE = "/tmp/test_attr_index"
PLAIN = "/tmp/test_attr_index_plain"


def _rounded(df):
    return sorted((r["query_id"], r["doc_id"], round(r["score"], 9))
                  for r in df.collect())


def _bucketed(eng):
    """A second Engine on ``eng``'s index whose every doc_filter takes
    the bucketed keep path (the ids ride the cogroup shuffle)."""
    out = Engine(eng.spark, eng.paths.root)
    out.KEEP_BROADCAST_CAP = 0
    return out


@pytest.fixture(scope="module")
def attr_setup(spark):
    pdf = synthetic_corpus_pdf(400)
    corpus = with_doc_id(spark.createDataFrame(pdf)).cache()
    corpus.count()
    shutil.rmtree(BASE, ignore_errors=True)
    shutil.rmtree(PLAIN, ignore_errors=True)
    eng = Engine.build(spark, corpus, BASE, n_shards=4, attr_col="lang")
    plain = Engine.build(spark, corpus, PLAIN, n_shards=4)
    q = spark.createDataFrame(
        [(0, "common_util"), (1, "def return class"), (2, "rareterm_0")],
        "query_id long, query string")
    return corpus, eng, plain, q


def test_attr_meta_and_layout(spark, attr_setup):
    import os

    _, eng, _, _ = attr_setup
    meta = spimi.load_meta(spark, eng.paths)
    assert meta["attr_col"] == "lang"
    shard_dirs = [d for d in os.listdir(f"{BASE}/blocks")
                  if d.startswith("shard_id=")]
    assert shard_dirs
    inner = os.listdir(f"{BASE}/blocks/{shard_dirs[0]}")
    assert any(d.startswith("attr=") for d in inner)


def test_unfiltered_matches_plain_index(spark, attr_setup):
    _, eng, plain, q = attr_setup
    got = _rounded(eng.search(q, k=10, mode="bmw"))
    exp = _rounded(plain.search(q, k=10, mode="bmw"))
    assert got == exp


@pytest.mark.parametrize("mode", ["bmw", "exhaustive"])
def test_attr_filter_equals_keep_list(spark, attr_setup, mode):
    corpus, eng, plain, q = attr_setup
    langs = [r["lang"] for r in corpus.select("lang").distinct().collect()]
    pick = sorted(langs)[:2]
    keep = corpus.where(F.col("lang").isin(pick)).select("doc_id")
    got = _rounded(eng.search(q, k=10, mode=mode, attr_filter=pick))
    exp = _rounded(plain.search(q, k=10, mode=mode, doc_filter=keep))
    assert got == exp and got  # non-empty


def test_attr_filter_requires_attr_index(spark, attr_setup):
    _, _, plain, q = attr_setup
    with pytest.raises(ValueError, match="attr"):
        plain.search(q, k=10, mode="bmw", attr_filter=["python"]).collect()


def test_partition_filter_in_plan(spark, attr_setup):
    """The attr predicate must land in the parquet scan's
    PartitionFilters (physical pruning), not a post-scan Filter only."""
    _, eng, _, q = attr_setup
    df = eng.search(q, k=10, mode="bmw", attr_filter=["python"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    import re

    pf = re.findall(r"PartitionFilters: \[[^\]]*attr[^\]]*\]", plan)
    assert pf, f"no attr partition filter in plan:\n{plan[:2000]}"


def test_lifecycle_preserves_attr(spark, attr_setup):
    """Append a second generation and compact fully: attr_col survives
    in meta, the compacted layout keeps attr partitions, and filtered
    results match a keep-list on the same docs."""
    corpus, _, plain, q = attr_setup
    base2 = "/tmp/test_attr_index_lifecycle"
    shutil.rmtree(base2, ignore_errors=True)
    half = corpus.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
    rest = corpus.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1)
    spimi.build_index(spark, half, base2, n_shards=4, attr_col="lang")
    spimi.append_index(spark, rest, base2)
    eng2 = Engine(spark, base2)
    pick = ["python"]
    keep = corpus.where(F.col("lang").isin(pick)).select("doc_id")
    before = _rounded(eng2.search(q, k=10, mode="bmw", attr_filter=pick))
    assert before == _rounded(plain.search(q, k=10, mode="bmw",
                                           doc_filter=keep))
    spimi.compact_index(spark, base2)
    eng3 = Engine(spark, base2)
    meta = spimi.load_meta(spark, eng3.paths)
    assert meta["attr_col"] == "lang"
    assert _rounded(eng3.search(q, k=10, mode="bmw",
                                attr_filter=pick)) == before


def test_bucketed_keep_on_attr_index(spark, attr_setup):
    """doc_filter keep-lists still work on an attr-partitioned index in
    BOTH kernel ship modes (keep ids replicate to the shard's attr
    groups)."""
    corpus, eng, plain, q = attr_setup
    keep = corpus.select("doc_id").where(F.abs(F.col("doc_id")) % 3 == 0)
    exp = _rounded(plain.search(q, k=10, mode="bmw", doc_filter=keep))
    bucketed = _bucketed(eng)
    assert eng._keep_entry(keep)[0] == "broadcast"
    assert bucketed._keep_entry(keep)[0] == "bucketed"
    got_b = _rounded(eng.search(q, k=10, doc_filter=keep))
    got_k = _rounded(bucketed.search(q, k=10, doc_filter=keep))
    assert got_b == exp
    assert got_k == exp


# -- full pairwise lifecycle matrix: keep × attr × deletes × generations ------

MATRIX_BASE = "/tmp/test_attr_lifecycle_matrix"


@pytest.fixture(scope="module")
def lifecycle_matrix(spark):
    """Worst-case composed index state: attr-partitioned, THREE
    lifecycle events (two appends + a tiered merge → 2 visible
    generations, 'safe' bound mode) and a live tombstone set — the
    state every keep/attr cell below must stay exact in."""
    pdf = synthetic_corpus_pdf(400)
    corpus = with_doc_id(spark.createDataFrame(pdf)).cache()
    corpus.count()
    shutil.rmtree(MATRIX_BASE, ignore_errors=True)
    h = F.pmod(F.xxhash64("doc_id"), F.lit(4))
    spimi.build_index(spark, corpus.where(h <= 1), MATRIX_BASE,
                      n_shards=4, attr_col="lang")
    spimi.append_index(spark, corpus.where(h == 2), MATRIX_BASE)
    spimi.append_index(spark, corpus.where(h == 3), MATRIX_BASE)
    meta = spimi.load_meta(spark, spimi.IndexPaths(MATRIX_BASE))
    gens = spimi.visible_generations(meta)
    assert len(gens) == 3
    spimi.compact_index(spark, MATRIX_BASE, generations=gens[1:])
    dead = corpus.select("doc_id").where(F.abs(F.col("doc_id")) % 7 == 0)
    spimi.delete_docs(spark, MATRIX_BASE, dead)
    dead_ids = {r["doc_id"] for r in dead.collect()}
    assert dead_ids
    eng = Engine(spark, MATRIX_BASE)
    q = spark.createDataFrame(
        # common_util is dense (~50% df), the others rare: the block
        # scan's exclusion masks are exercised on both posting shapes
        [(0, "common_util"), (1, "def return class"), (2, "rareterm_0")],
        "query_id long, query string")
    return corpus, eng, q, dead_ids


@pytest.mark.parametrize("attr", [None, ["python"], ["python", "go"]])
@pytest.mark.parametrize("keep_mode", [None, "broadcast", "bucketed"])
def test_lifecycle_matrix_cell(spark, lifecycle_matrix, keep_mode, attr):
    """Every keep-ship-mode × attr-filter cell, on the composed
    deletes+generations state, must be rank-identical (rounded scores)
    to the numpy oracle under the same filters: full-corpus stats
    (appends and the tiered merge keep them, deletes defer theirs), with
    tombstoned, non-keep and non-attr docs dropped after ranking."""
    corpus, eng, q, dead_ids = lifecycle_matrix
    keep = (corpus.select("doc_id").where(F.abs(F.col("doc_id")) % 3 == 0)
            if keep_mode else None)
    keep_ids = ({r["doc_id"] for r in keep.collect()}
                if keep is not None else None)
    rows = corpus.select("doc_id", "content", "lang").collect()
    drop = dead_ids | {
        r["doc_id"] for r in rows
        if (keep_ids is not None and r["doc_id"] not in keep_ids)
        or (attr is not None and r["lang"] not in attr)}
    expect = _oracle_excluding(rows, drop)
    exp = sorted((r["query_id"], d, round(s, 9)) for r in q.collect()
                 for d, s in expect(r["query"], 10))
    if keep_mode == "bucketed":
        eng = _bucketed(eng)
    got = _rounded(eng.search(q, k=10, doc_filter=keep, attr_filter=attr))
    assert got == exp
    if keep_mode is None and attr is None:
        assert got  # the unfiltered cell must be non-empty
