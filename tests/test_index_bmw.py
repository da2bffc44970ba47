"""SPIMI block index + BMW query path: equivalence with the exhaustive
native path and the numpy oracle; checkpoint/resume; lineage invariants.
(SURVEY.md §7 steps 5-6; north_rule rank-identity + resumability.)"""

from __future__ import annotations

import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark import Broadcast
from pyspark.sql import functions as F

from rerankers_spark.index import spimi
from rerankers_spark.index import varbyte as vb
from rerankers_spark.operators import bm25
from rerankers_spark.query import bmw
from rerankers_spark.query.executor import Engine
from tests.oracle import BM25Oracle

INDEX_PATH = "/tmp/test_index"


@pytest.fixture(scope="module")
def engine(spark, tiny_corpus):
    shutil.rmtree(INDEX_PATH, ignore_errors=True)
    return Engine.build(spark, tiny_corpus, INDEX_PATH, n_shards=8)


def test_block_format(spark, engine):
    """Block format 2: each shard's docmap rows decode to the sorted ids
    of its docs with postings; posting rows decode to ordinals below the
    docmap size."""
    pdf = spark.read.parquet(engine.paths.blocks).toPandas()
    assert len(pdf) > 0
    ds = spark.read.parquet(engine.paths.docstats).where("dl > 0") \
        .select("shard_id", "doc_id").toPandas()
    for shard, g in pdf.groupby("shard_id"):
        maps = g[g["term"] == spimi.DOCMAP_TERM].sort_values("block_id")
        assert len(maps) >= 1
        assert (maps["n"] <= spimi.DOCMAP_ROW_IDS).all()
        assert maps["block_id"].tolist() == list(range(len(maps)))
        _, doc_map = spimi.split_docmap(g)
        assert len(doc_map) == maps["n"].sum()
        # python ints: int64 diff overflows
        assert doc_map.tolist() == sorted(
            ds.loc[ds["shard_id"] == shard, "doc_id"].tolist())
        assert maps["first_doc"].tolist() == [
            int(doc_map[i]) for i in range(0, len(doc_map),
                                           spimi.DOCMAP_ROW_IDS)]
        for row in g[g["term"] != spimi.DOCMAP_TERM].head(50).itertuples(
                index=False):
            docs = vb.delta_decode(row.docs_vb, base=row.first_doc)
            tfs = vb.decode(row.tfs_vb)
            dls = vb.decode(row.dls_vb)
            assert len(docs) == row.n <= spimi.BLOCK_SIZE
            assert docs[0] == row.first_doc and docs[-1] == row.last_doc
            assert 0 <= docs[0] and docs[-1] < len(doc_map)
            assert (np.diff(docs) > 0).all()  # strictly ascending ordinals
            assert len(tfs) == len(dls) == len(docs)
            assert (tfs >= 1).all() and (dls >= 1).all()


def test_index_stats_match_native(spark, engine, tiny_corpus):
    """Index-derived df/N/avgdl == native-DataFrame-derived values."""
    meta = spimi.load_meta(spark, engine.paths)
    n_docs, avgdl = int(meta["n_docs"]), float(meta["avgdl"])
    n2, avg2 = bm25.corpus_scalars(tiny_corpus)
    assert n_docs == n2 and abs(avgdl - avg2) < 1e-12
    ts_idx = {
        r["term"]: r["df"]
        for r in spark.read.parquet(engine.paths.termstats).collect()
    }
    ts_nat = {
        r["term"]: r["df"]
        for r in bm25.term_stats(bm25.postings(tiny_corpus)).collect()
    }
    assert ts_idx == ts_nat


def test_bmw_equals_exhaustive_and_oracle(spark, engine, tiny_corpus,
                                          tiny_queries):
    rows = tiny_corpus.select("doc_id", "content").collect()
    oracle = BM25Oracle([r["doc_id"] for r in rows],
                        [r["content"] for r in rows])
    queries = {r["query_id"]: r["query"] for r in tiny_queries.collect()}

    got_bmw = engine.search(tiny_queries, k=10, mode="bmw").collect()
    got_exh = engine.search(tiny_queries, k=10, mode="exhaustive").collect()

    def by_q(rows):
        d = {}
        for r in rows:
            d.setdefault(r["query_id"], []).append(r)
        return {q: sorted(v, key=lambda r: r["rank"]) for q, v in d.items()}

    b, e = by_q(got_bmw), by_q(got_exh)
    assert set(b) == set(e)
    for qid, qtext in queries.items():
        expected = oracle.topk(qtext, k=10)
        for got in (b.get(qid, []), e.get(qid, [])):
            assert [r["doc_id"] for r in got] == [d for d, _ in expected], (
                f"mismatch for query {qid}: {qtext!r}"
            )
            for r, (_, s) in zip(got, expected):
                assert r["score"] == pytest.approx(s, abs=1e-9)


def test_skewed_head_term_query(spark, engine, tiny_corpus):
    """The head term (in ~50% of docs) — the skew fixture — must still be
    exact through the block-skipping path."""
    rows = tiny_corpus.select("doc_id", "content").collect()
    oracle = BM25Oracle([r["doc_id"] for r in rows],
                        [r["content"] for r in rows])
    q = spark.createDataFrame([(0, "common_util")],
                              "query_id long, query string")
    got = sorted(engine.search(q, k=10).collect(), key=lambda r: r["rank"])
    expected = oracle.topk("common_util", k=10)
    assert [r["doc_id"] for r in got] == [d for d, _ in expected]


def test_wand_kernel_direct():
    """Kernel unit test: random postings, WAND group == brute force."""
    rng = np.random.default_rng(7)
    n_docs = 400
    avgdl = 50.0
    rows = []
    truth: dict[int, float] = {}
    for term_i, idf in enumerate([0.3, 1.1, 2.7]):
        docs = np.sort(rng.choice(10**6, size=rng.integers(50, 300),
                                  replace=False))
        tfs = rng.integers(1, 8, size=len(docs))
        dls = rng.integers(20, 120, size=len(docs))
        sat = tfs * 2.2 / (tfs + 1.2 * (1 - 0.75 + 0.75 * dls / avgdl))
        for d, s in zip(docs, idf * sat):
            truth[int(d)] = truth.get(int(d), 0.0) + float(s)
        for bi, off in enumerate(range(0, len(docs), 128)):
            hi = min(off + 128, len(docs))
            rows.append(
                {
                    "query_id": 0,
                    "shard_id": 0,
                    "term": f"t{term_i}",
                    "idf": idf,
                    "block_id": bi,
                    "first_doc": int(docs[off]),
                    "last_doc": int(docs[hi - 1]),
                    "n": hi - off,
                    "docs_vb": vb.delta_encode(docs[off:hi], int(docs[off])),
                    "tfs_vb": vb.encode(tfs[off:hi]),
                    "dls_vb": vb.encode(dls[off:hi]),
                    "max_tfsat": float(sat[off:hi].max()),
                }
            )
    pdf = pd.DataFrame(rows)
    q_list = [(0, [(t, float(g["idf"].iloc[0]))
                   for t, g in pdf.groupby("term")])]
    out = bmw.wand_topk_shard(pdf, q_list, k=10, avgdl=avgdl,
                              n_docs_shard=0)
    expected = sorted(truth.items(), key=lambda t: (-t[1], t[0]))[:10]
    assert list(out["doc_id"]) == [d for d, _ in expected]
    np.testing.assert_allclose(
        out["score"], [s for _, s in expected], atol=1e-12
    )


def test_checkpoint_resume(spark, tiny_corpus):
    """Kill-after-partial semantics: drop some shards from a built index,
    resume, and the result is equivalent to a full build."""
    import os

    path = "/tmp/test_index_resume"
    shutil.rmtree(path, ignore_errors=True)
    spimi.build_index(spark, tiny_corpus, path, n_shards=8)
    full_blocks = sorted(
        (r["shard_id"], r["term"], r["block_id"], bytes(r["docs_vb"]))
        for r in spark.read.parquet(f"{path}/blocks").collect()
    )
    # simulate failure: remove shards 5..7 from blocks and manifest
    for s in (5, 6, 7):
        shutil.rmtree(f"{path}/blocks/shard_id={s}", ignore_errors=True)
    m = spark.read.parquet(f"{path}/manifest").where(F.col("shard_id") < 5)
    m.toPandas().to_parquet("/tmp/manifest_part.parquet")
    shutil.rmtree(f"{path}/manifest")
    os.makedirs(f"{path}/manifest")
    shutil.copy("/tmp/manifest_part.parquet",
                f"{path}/manifest/part-0.parquet")

    spimi.build_index(spark, tiny_corpus, path, n_shards=8, resume=True)
    resumed_blocks = sorted(
        (r["shard_id"], r["term"], r["block_id"], bytes(r["docs_vb"]))
        for r in spark.read.parquet(f"{path}/blocks").collect()
    )
    assert resumed_blocks == full_blocks
    manifest = spark.read.parquet(f"{path}/manifest")
    assert manifest.where(F.col("status") == "ok").count() == 8


def test_manifest_lineage_invariant(spark, engine, tiny_corpus):
    """sha256_xor in the manifest equals the generator-side xor of
    sha256(content) per shard (input_hint per-row invariant)."""
    import hashlib

    rows = tiny_corpus.select("doc_id", "content").collect()
    man = {r["shard_id"]: r for r in
           spark.read.parquet(engine.paths.manifest).collect()}
    # recompute shard assignment + xor in python via spark xxhash (pull
    # shard ids from docstats to avoid reimplementing xxhash64)
    ds = spark.read.parquet(engine.paths.docstats).select(
        "doc_id", "shard_id").collect()
    shard_of = {r["doc_id"]: r["shard_id"] for r in ds}
    expect: dict[int, int] = {}
    count: dict[int, int] = {}
    for r in rows:
        h = hashlib.sha256(r["content"].encode()).hexdigest()
        v = int(h[:15], 16)
        s = shard_of[r["doc_id"]]
        expect[s] = expect.get(s, 0) ^ v
        count[s] = count.get(s, 0) + 1
    for s, m in man.items():
        assert m["n_docs"] == count[s]
        assert m["sha256_xor"] == expect[s]


def test_auto_mode_rank_identical(spark, engine, tiny_corpus, tiny_queries):
    """mode='auto' (cost-based routing) must equal the BMW path exactly —
    the tiny corpus mixes head-term (dense) and rare-term queries, so
    both routes are exercised."""
    a = sorted(
        (r["query_id"], r["rank"], r["doc_id"])
        for r in engine.search(tiny_queries, k=10, mode="auto").collect()
    )
    b = sorted(
        (r["query_id"], r["rank"], r["doc_id"])
        for r in engine.search(tiny_queries, k=10, mode="bmw").collect()
    )
    assert a == b


def test_collect_ranked_facade(spark, engine, tiny_queries, tiny_corpus):
    """Distributed results → reference RankedResults API shape."""
    res = engine.search(tiny_queries.limit(3), k=5)
    ranked = engine.collect_ranked(
        res, tiny_queries.limit(3),
        text_lookup=tiny_corpus.select("doc_id", "content"))
    assert ranked
    for qid, rr in ranked.items():
        assert rr.has_scores
        top = rr.top_k(2)
        assert [t.rank for t in top] == list(range(1, len(top) + 1))
        assert rr.get_score_by_docid(top[0].doc_id) == top[0].score
        assert top[0].text  # text attached from lookup


def test_two_stage_rank(spark, engine, tiny_corpus, tiny_queries):
    """Full pipeline: BM25 top-50 → rerank (overlap scorer) → top-5."""
    out = engine.rank(tiny_queries, tiny_corpus, first_k=50, final_k=5)
    pdf = out.toPandas()
    assert set(pdf.columns) == {"query_id", "doc_id", "bm25_score", "score",
                                "rank"}
    assert (pdf["rank"] <= 5).all()
    assert pdf.groupby("query_id")["rank"].min().eq(1).all()


def test_oversized_doc_filter_routes_to_bucketed_keep(spark, engine,
                                                      tiny_corpus,
                                                      tiny_queries,
                                                      monkeypatch):
    """A doc_filter beyond KEEP_BROADCAST_CAP must NOT become a driver
    array / broadcast (at 100 TB that would OOM the driver) — search()
    routes it to the bucketed keep path (bmw_topk's keep is the filter
    frame, not a broadcast), where the ids flow through the shard
    cogroup shuffle as data rows. Results must be
    identical across the broadcast kernel path, the bucketed kernel
    path, and the exhaustive mode (rounded-score comparison, CLAUDE.md
    cross-mode invariant)."""
    keep = tiny_corpus.select("doc_id").where(
        F.abs(F.col("doc_id")) % 2 == 0)
    keep_ids = {r["doc_id"] for r in keep.collect()}
    n_keep = len(keep_ids)
    assert n_keep > 5

    modes = []
    real = bmw.bmw_topk

    def spy(*a, **kw):
        # the bucketed route hands bmw_topk the filter frame itself and
        # no local plan; the broadcast route the cached sorted id array
        if kw["keep"] is keep:
            assert kw["local_plan"] is None
            modes.append("bucketed")
        else:
            assert isinstance(kw["keep"], Broadcast)
            assert kw["keep"].value.tolist() == sorted(keep_ids)
            modes.append("broadcast")
        return real(*a, **kw)

    monkeypatch.setattr(bmw, "bmw_topk", spy)

    def rounded(df):
        return {(r["query_id"], r["doc_id"], round(r["score"], 9))
                for r in df.collect()}

    # cap above the filter size → broadcast kernel path
    monkeypatch.setattr(Engine, "KEEP_BROADCAST_CAP", n_keep + 1)
    via_broadcast = rounded(engine.search(tiny_queries, k=10, mode="bmw",
                                          doc_filter=keep))
    assert modes == ["broadcast"]

    # cap below the filter size → bucketed cogroup keep path. The keep
    # cache memoizes the probe OUTCOME per filter (the cap never changes
    # at runtime), so flipping the cap mid-test requires dropping the
    # cached entry first.
    monkeypatch.setattr(Engine, "KEEP_BROADCAST_CAP", n_keep - 1)
    engine.refresh()
    via_bucketed = rounded(engine.search(tiny_queries, k=10, mode="bmw",
                                         doc_filter=keep))
    assert modes == ["broadcast", "bucketed"]
    assert via_bucketed == via_broadcast

    # the exhaustive mode (block-scan scorer, same keep path) agrees too
    via_exh = rounded(engine.search(tiny_queries, k=10, mode="exhaustive",
                                    doc_filter=keep))
    assert via_exh == via_broadcast
    # and the filter actually applied
    assert all(d % 2 == 0 for _, d, _ in via_broadcast)


def test_bucketed_keep_excludes_shards_with_no_eligible_docs(spark,
                                                             engine,
                                                             tiny_corpus):
    """A bucketed filter whose ids all miss a shard must exclude that
    shard's docs entirely (empty keep array ≠ no filter): filter to a
    SINGLE doc and verify exactly that doc comes back."""
    one = tiny_corpus.select("doc_id").orderBy("doc_id").limit(1)
    target = one.collect()[0]["doc_id"]
    content = tiny_corpus.where(F.col("doc_id") == target) \
        .select("content").collect()[0]["content"]
    # query with a term from the target doc so it scores
    term = content.split()[0]
    q = spark.createDataFrame([(0, term)], "query_id long, query string")
    eng = Engine(spark, INDEX_PATH)
    eng.KEEP_BROADCAST_CAP = 0
    assert eng._keep_entry(one)[0] == "bucketed"
    got = eng.search(q, k=10, doc_filter=one).collect()
    assert [r["doc_id"] for r in got] == [target]


def test_keep_list_broadcast_cached_across_searches(spark, engine,
                                                    tiny_corpus,
                                                    tiny_queries,
                                                    monkeypatch):
    """Repeated Engine.search(doc_filter=...) must reuse ONE keep-list
    broadcast (the per-filter semantic cache) — including for a
    semantically-equal but distinct DataFrame object — and refresh()
    must invalidate it."""
    eng = Engine(spark, INDEX_PATH)
    keep = tiny_corpus.select("doc_id").where(F.col("doc_id") % 2 == 0)
    calls = []
    orig = spark.sparkContext.broadcast

    def spy(value):
        calls.append(len(value) if hasattr(value, "__len__") else None)
        return orig(value)

    monkeypatch.setattr(spark.sparkContext, "broadcast", spy)
    r1 = eng.search(tiny_queries, k=5, doc_filter=keep).collect()
    n_first = len(calls)
    assert n_first >= 1  # the keep array was broadcast
    r2 = eng.search(tiny_queries, k=5, doc_filter=keep).collect()
    assert len(calls) == n_first, "repeat search re-broadcast the keep list"
    keep_twin = tiny_corpus.select("doc_id").where(F.col("doc_id") % 2 == 0)
    eng.search(tiny_queries, k=5, doc_filter=keep_twin).collect()
    assert len(calls) == n_first, "semantic twin missed the cache"
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))
    eng.refresh()
    eng.search(tiny_queries, k=5, doc_filter=keep).collect()
    assert len(calls) > n_first, "refresh() did not invalidate the cache"


def test_keep_cache_is_lru_bounded_and_caches_probe(spark, engine,
                                                    tiny_corpus):
    """The per-filter keep cache must (a) stay bounded at KEEP_CACHE_MAX
    entries however many distinct filters pass through, and (b) store
    the probe outcome so a hit re-runs neither the probe nor the
    collect+broadcast (zero Spark jobs on a warm filter)."""
    eng = Engine(spark, INDEX_PATH)
    for m in range(Engine.KEEP_CACHE_MAX + 3):
        f = tiny_corpus.select("doc_id").where(
            F.abs(F.col("doc_id")) % 17 == m)
        mode, bc = eng._keep_entry(f)
        assert mode == "broadcast" and bc is not None
    assert len(eng._keep_bc_cache) == Engine.KEEP_CACHE_MAX
    # warm hit: no new Spark job (probe or collect) may run
    f = tiny_corpus.select("doc_id").where(
        F.abs(F.col("doc_id")) % 17 == Engine.KEEP_CACHE_MAX + 2)
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    mode2, bc2 = eng._keep_entry(f)
    after = tracker.getJobIdsForGroup(None)
    assert (mode2, bc2) == (mode, bc)
    assert before == after, "cache hit ran a Spark job"
