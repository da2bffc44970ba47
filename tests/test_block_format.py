"""Block format 2: posting rows address docs by shard-local ordinal and
each block-build group carries a docmap (spimi module docstring).

* the ordinal translation is invisible in results: full-range doc ids
  (int64 min and max, -1, 0), exact score ties at the k-th place across
  shards, tombstones, broadcast and bucketed keep-lists and attribute-
  partitioned groups all match the numpy oracle in every search mode;
* an index without the format (no docmap rows, no ``block_format`` in
  its scalars) is rejected by search, append, compact, delete and
  resume with the rebuild error before any Spark job starts;
* a resume rebuilds a done shard that has no docmap row.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from rerankers_spark.corpus import synthetic_corpus_pdf
from rerankers_spark.index import spimi
from rerankers_spark.query.executor import Engine
from tests.oracle import BM25Oracle

BASE = "/tmp/test_block_format"
I64 = np.iinfo(np.int64)
#: doc ids at the edges of the signed range; with 2 shards all four
#: land in shard 0 (pmod(xxhash64(id), 2) == 0) ...
EDGE_IDS = [int(I64.min), -1, 0, int(I64.max)]
#: ... and these four in shard 1. All eight hold the tie text.
SHARD1_IDS = [-9201241780759117108, -8388192122048793139,
              -8323951025450743117, 9208174042313963663]
TIE_TEXT = "tieterm tieterm tiealso"
QUERIES = [(0, "tieterm"), (1, "tieterm tiealso common_util"),
           (2, "common_util"), (3, "def return class"), (4, "rareterm_0")]
K = 5


def _corpus_pdf() -> pd.DataFrame:
    """60 synthetic docs plus the 8 identical tie docs — 'tieterm'
    scores the 8 exactly equal, so k=5 cuts inside the tie, and the tie
    spans both shards."""
    syn = synthetic_corpus_pdf(60, seed=3)
    rng = np.random.default_rng(11)
    ids = rng.integers(I64.min, I64.max, size=len(syn), dtype=np.int64)
    tie_ids = EDGE_IDS + SHARD1_IDS
    assert len(set(ids.tolist() + tie_ids)) == len(ids) + len(tie_ids)
    return pd.DataFrame({
        "doc_id": [int(x) for x in ids] + tie_ids,
        "content": list(syn["content"]) + [TIE_TEXT] * len(tie_ids),
        "lang": list(syn["lang"]) + ["python", "go"] * (len(tie_ids) // 2),
    })


def _df(spark, pdf):
    return spark.createDataFrame(
        pdf, "doc_id long, content string, lang string"
    ).withColumn("content_sha256", F.sha2("content", 256))


@pytest.fixture(scope="module")
def corpus(spark):
    return _corpus_pdf()


def _expected(pdf, dead=frozenset(), keep=None):
    oracle = BM25Oracle(list(pdf["doc_id"]), list(pdf["content"]))
    out = {}
    for qid, text in QUERIES:
        ranked = [(d, round(s, 9)) for d, s in oracle.topk(text, len(pdf))
                  if d not in dead and (keep is None or d in keep)]
        out[qid] = ranked[:K]
    return out


def _got(eng, spark, mode, **kw):
    q = spark.createDataFrame(QUERIES, "query_id long, query string")
    out = {qid: [] for qid, _ in QUERIES}
    for r in sorted(eng.search(q, k=K, mode=mode, **kw).collect(),
                    key=lambda r: (r["query_id"], r["rank"])):
        out[r["query_id"]].append((r["doc_id"], round(r["score"], 9)))
    return out


def test_ordinal_translation_matches_oracle(spark, corpus, monkeypatch):
    path = f"{BASE}/translate"
    shutil.rmtree(path, ignore_errors=True)
    eng = Engine.build(spark, _df(spark, corpus), path, n_shards=2)
    shard = {r["doc_id"]: r["shard_id"] for r in spark.read.parquet(
        f"{path}/docstats").collect()}
    assert {shard[d] for d in EDGE_IDS} == {0}
    assert {shard[d] for d in SHARD1_IDS} == {1}
    expect = _expected(corpus)
    # the k-th place of query 0 is inside the 8-way tie, won by doc id
    assert [d for d, _ in expect[0]] == sorted(EDGE_IDS + SHARD1_IDS)[:K]
    for mode in Engine.MODES:
        assert _got(eng, spark, mode) == expect, mode

    keep_ids = set(EDGE_IDS) | {SHARD1_IDS[2]} | {
        int(d) for d in corpus["doc_id"][:60:3]}
    keep = spark.createDataFrame([(d,) for d in sorted(keep_ids)],
                                 "doc_id long")
    expect = _expected(corpus, keep=keep_ids)
    for mode in Engine.MODES:
        assert _got(eng, spark, mode, doc_filter=keep) == expect, mode
    monkeypatch.setattr(Engine, "KEEP_BROADCAST_CAP", 1)
    eng.refresh()
    for mode in Engine.MODES:
        assert _got(eng, spark, mode, doc_filter=keep) == expect, mode
    monkeypatch.undo()

    dead = {EDGE_IDS[0], EDGE_IDS[2]} | {int(d) for d in
                                         corpus["doc_id"][1::7]}
    eng.delete(spark.createDataFrame([(d,) for d in sorted(dead)],
                                     "doc_id long"))
    expect = _expected(corpus, dead=dead)
    for mode in Engine.MODES:
        assert _got(eng, spark, mode) == expect, mode


def test_attr_partitioned_groups_translate(spark, corpus):
    """Each (shard, attr) group has its own docmap and ordinal space."""
    path = f"{BASE}/attr"
    shutil.rmtree(path, ignore_errors=True)
    eng = Engine.build(spark, _df(spark, corpus), path, n_shards=2,
                       attr_col="lang")
    maps = spark.read.parquet(f"{path}/blocks").where(
        F.col("term") == spimi.DOCMAP_TERM).select("shard_id", "attr") \
        .distinct().count()
    assert maps > 2
    expect = _expected(corpus)
    for mode in Engine.MODES:
        assert _got(eng, spark, mode) == expect, mode
    go = {int(d) for d in corpus.loc[corpus["lang"] == "go", "doc_id"]}
    assert _got(eng, spark, "bmw", attr_filter=["go"]) == _expected(
        corpus, keep=go)


def _rewrite(f: str, table) -> None:
    """Overwrite parquet file ``f`` in place, dropping Hadoop's checksum
    file of the old bytes."""
    pq.write_table(table, f)
    d, name = os.path.split(f)
    crc = os.path.join(d, f".{name}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _files(d: str) -> list[str]:
    return sorted(os.path.join(p, f) for p, _, fs in os.walk(d) for f in fs)


def _strip_format(path: str, shards=None) -> None:
    """Rewrite an index as the previous format would have left it: no
    docmap rows in ``shards`` (default all), and (when every shard is
    stripped) no block_format in scalars."""
    for f in glob.glob(f"{path}/blocks/shard_id=*/*.parquet"):
        shard = int(f.split("shard_id=")[1].split("/")[0])
        if shards is None or shard in shards:
            t = pq.read_table(f)
            _rewrite(f, t.filter(pc.not_equal(t["term"], spimi.DOCMAP_TERM)))
    if shards is None:
        (f,) = glob.glob(f"{path}/scalars/*.parquet")
        _rewrite(f, pq.read_table(f).drop(["block_format"]))


def test_previous_format_is_rejected_before_any_job(spark, corpus):
    path = f"{BASE}/previous"
    shutil.rmtree(path, ignore_errors=True)
    full = _df(spark, corpus)
    spimi.build_index(spark, full, path, n_shards=2)
    dead = spark.createDataFrame([(d,) for d in EDGE_IDS], "doc_id long")
    spimi.delete_docs(spark, path, dead)
    _strip_format(path)
    paths = spimi.IndexPaths(path)
    meta0 = spimi.load_meta(spark, paths)
    tombs0 = _files(f"{path}/tombstones")
    assert tombs0
    assert "block_format" not in meta0
    q = spark.createDataFrame(QUERIES, "query_id long, query string")
    more = _df(spark, corpus.assign(doc_id=corpus["doc_id"] ^ 1))
    calls = {
        "search": lambda: Engine(spark, path).search(q, k=K),
        "append": lambda: spimi.append_index(spark, more, path),
        "compact": lambda: spimi.compact_index(spark, path),
        "delete": lambda: spimi.delete_docs(spark, path, dead),
        "resume": lambda: spimi.build_index(spark, full, path, n_shards=2,
                                            resume=True),
    }
    tracker = spark.sparkContext.statusTracker()
    for name, call in calls.items():
        before = set(tracker.getJobIdsForGroup(None))
        with pytest.raises(ValueError, match="rebuild"):
            call()
        assert set(tracker.getJobIdsForGroup(None)) == before, name
    assert spimi.load_meta(spark, paths) == meta0
    assert _files(f"{path}/tombstones") == tombs0


def test_group_without_docmap_raises():
    pdf = pd.DataFrame({"shard_id": 0, "term": ["a", "b"], "doc_id": [5, 9],
                        "dl": 3, "tf": 1})
    rows = spimi._build_shard_blocks(pdf, 3.0)
    postings, doc_map = spimi.split_docmap(rows)
    assert doc_map.tolist() == [5, 9] and len(postings) == 2
    with pytest.raises(ValueError, match="rebuild"):
        spimi.split_docmap(postings)


def test_resume_rebuilds_done_shard_without_docmap(spark, corpus):
    path = f"{BASE}/resume"
    shutil.rmtree(path, ignore_errors=True)
    full = _df(spark, corpus)
    spimi.build_index(spark, full, path, n_shards=2)

    def blocks():
        return sorted(
            (r["shard_id"], r["term"], r["block_id"], bytes(r["docs_vb"]))
            for r in spark.read.parquet(f"{path}/blocks").collect())

    built = blocks()
    _strip_format(path, shards={1})
    assert len(blocks()) < len(built)
    spimi.build_index(spark, full, path, n_shards=2, resume=True)
    assert blocks() == built
    assert os.listdir(f"{path}/blocks/shard_id=1")
