"""Index compaction: generations → one NEW merged generation.

Invariants under test (spimi.compact_index docstring):
* query results identical before/after compaction AND to a from-scratch
  full build (BM25 depends only on global stats, never shard membership);
* a full compact leaves exactly ONE visible generation → bmw switches
  back to exact max_tfsat bounds (meta["generation"] == 0, the
  fragmentation count);
* n_docs/avgdl, termstats df totals, and the global sha256-xor lineage
  are preserved; merged generations' partitions are retired (GC'd);
* a tiered (partial) compact merges only the selected generations,
  reduces the generation count, and preserves results exactly.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from rerankers_spark.corpus import synthetic_corpus_pdf, with_doc_id
from rerankers_spark.index import spimi
from rerankers_spark.query.executor import Engine
from tests.oracle import BM25Oracle

BASE = "/tmp/test_compact_index"


@pytest.fixture(scope="module")
def compacted(spark):
    pdf = synthetic_corpus_pdf(500)
    shutil.rmtree(BASE, ignore_errors=True)
    first = with_doc_id(spark.createDataFrame(pdf.iloc[:300]))
    second = with_doc_id(spark.createDataFrame(pdf.iloc[300:]))
    spimi.build_index(spark, first, BASE, n_shards=4)
    spimi.append_index(spark, second, BASE)

    eng = Engine(spark, BASE)
    q = spark.createDataFrame(
        [(0, "common_util"), (1, "def return class"), (2, "rareterm_0")],
        "query_id long, query string",
    )
    before = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in eng.search(q, k=10, mode="bmw").collect()
    )
    # termstats holds per-generation df contributions — aggregate
    ts_before: dict = {}
    for r in spark.read.parquet(f"{BASE}/termstats").collect():
        ts_before[r["term"]] = ts_before.get(r["term"], 0) + r["df"]
    spimi.compact_index(spark, BASE)
    # retention 0 = immediate GC (this module asserts physical cleanup;
    # the grace-period behavior has its own tests below)
    spimi.gc_retired(spark, BASE, retention_secs=0.0)
    return pdf, q, before, ts_before


def test_compaction_preserves_results(spark, compacted):
    pdf, q, before, _ = compacted
    eng = Engine(spark, BASE)
    after = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in eng.search(q, k=10, mode="bmw").collect()
    )
    assert after == before

    full = with_doc_id(spark.createDataFrame(pdf))
    rows = full.select("doc_id", "content").collect()
    oracle = BM25Oracle([r["doc_id"] for r in rows],
                        [r["content"] for r in rows])
    by_q = {}
    for qid, rank, doc, score in after:
        by_q.setdefault(qid, []).append((doc, score))
    for qid, qtext in [(0, "common_util"), (1, "def return class"),
                       (2, "rareterm_0")]:
        expected = oracle.topk(qtext, k=10)
        assert [d for d, _ in by_q[qid]] == [d for d, _ in expected]
        for (_, got_s), (_, exp_s) in zip(by_q[qid], expected):
            assert got_s == pytest.approx(exp_s, abs=1e-9)


def test_compaction_resets_generation_and_shards(spark, compacted):
    meta = spimi.load_meta(spark, spimi.IndexPaths(BASE))
    # generation is the fragmentation count (visible gens - 1): a full
    # compact is back to a single generation → exact bound mode
    assert meta["generation"] == 0
    assert meta["n_docs"] == 500
    gens = spimi.visible_generations(meta)
    assert len(gens) == 1
    n = int(meta["n_shards"])
    lo, hi = gens[0] * n, (gens[0] + 1) * n
    # merged generations' partitions are retired post-commit: the ONLY
    # shard dirs left on disk are the new generation's range
    shard_ids = [
        r["shard_id"] for r in spark.read.parquet(f"{BASE}/blocks")
        .select("shard_id").distinct().collect()
    ]
    assert shard_ids and all(lo <= s < hi for s in shard_ids)
    # docstats re-sharded consistently with blocks
    ds_shards = [
        r["shard_id"] for r in spark.read.parquet(f"{BASE}/docstats")
        .select("shard_id").distinct().collect()
    ]
    assert all(lo <= s < hi for s in ds_shards)
    # staging dropped
    import os

    assert not os.path.exists(f"{BASE}/compact_postings")
    assert not os.path.exists(f"{BASE}/compact_docstats")


def test_compaction_preserves_stats_and_lineage(spark, compacted):
    _, _, _, ts_before = compacted
    ts_after = {r["term"]: r["df"] for r in
                spark.read.parquet(f"{BASE}/termstats").collect()}
    assert ts_after == ts_before

    man = spark.read.parquet(f"{BASE}/manifest")
    agg = man.agg(
        F.sum("n_docs").alias("n"),
        F.expr("bit_xor(sha256_xor)").alias("x"),
        F.sum("sum_dl").alias("sdl"),
    ).collect()[0]
    assert agg["n"] == 500
    # global xor over shards is invariant under re-sharding: recompute
    # from docstats directly
    ds_x = spark.read.parquet(f"{BASE}/docstats").agg(
        F.expr(
            "bit_xor(cast(conv(substring(content_sha256,1,15),16,10) "
            "as bigint))"
        ).alias("x"),
        F.sum("dl").alias("sdl"),
    ).collect()[0]
    assert agg["x"] == ds_x["x"]
    assert agg["sdl"] == ds_x["sdl"]
    assert man.where(F.col("status") != "ok").count() == 0
    # per-shard block stats present (every generation writes them)
    assert man.where(F.col("n_postings").isNull()).count() == 0


# -- tiered (partial) compaction ---------------------------------------------

TIER_BASE = "/tmp/test_tiered_compact_index"


@pytest.fixture(scope="module")
def tiered(spark):
    """Build + two appends (3 generations), then merge ONLY the two
    append generations — the bulk generation 0 must not be rewritten."""
    pdf = synthetic_corpus_pdf(450)
    shutil.rmtree(TIER_BASE, ignore_errors=True)
    parts = [pdf.iloc[:250], pdf.iloc[250:350], pdf.iloc[350:]]
    spimi.build_index(
        spark, with_doc_id(spark.createDataFrame(parts[0])),
        TIER_BASE, n_shards=4)
    spimi.append_index(
        spark, with_doc_id(spark.createDataFrame(parts[1])), TIER_BASE)
    spimi.append_index(
        spark, with_doc_id(spark.createDataFrame(parts[2])), TIER_BASE)

    eng = Engine(spark, TIER_BASE)
    q = spark.createDataFrame(
        [(0, "common_util"), (1, "def return class"), (2, "rareterm_0")],
        "query_id long, query string",
    )
    before = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in eng.search(q, k=10, mode="bmw").collect()
    )
    paths = spimi.IndexPaths(TIER_BASE)
    meta0 = spimi.load_meta(spark, paths)
    gens0 = spimi.visible_generations(meta0)
    assert len(gens0) == 3
    gen0_files = sorted(
        __import__("os").listdir(f"{TIER_BASE}/blocks"))
    spimi.compact_index(spark, TIER_BASE, generations=gens0[1:])
    spimi.gc_retired(spark, TIER_BASE, retention_secs=0.0)
    return q, before, gens0, gen0_files


def test_tiered_compact_reduces_generations(spark, tiered):
    _, _, gens0, _ = tiered
    meta = spimi.load_meta(spark, spimi.IndexPaths(TIER_BASE))
    gens = spimi.visible_generations(meta)
    # gen 0 untouched; gens 1,2 replaced by one new id
    assert meta["generation"] == 1
    assert gens == [gens0[0], max(gens0) + 1]
    assert meta["n_docs"] == 450
    stats = spimi.index_stats(spark, spimi.IndexPaths(TIER_BASE))
    assert stats["n_generations"] == 2


def test_tiered_compact_leaves_gen0_partitions_untouched(spark, tiered):
    """The bulk generation's partition dirs are byte-identical (tiered
    merge IO is bounded by the merged generations, not the index)."""
    import os

    _, _, gens0, gen0_files_before = tiered
    n = 4
    now = sorted(os.listdir(f"{TIER_BASE}/blocks"))
    gen0_dirs_before = [d for d in gen0_files_before
                        if d.startswith("shard_id=")
                        and int(d.split("=")[1]) < n]
    gen0_dirs_now = [d for d in now if d.startswith("shard_id=")
                     and int(d.split("=")[1]) < n]
    assert gen0_dirs_before == gen0_dirs_now
    # merged generations' shard dirs are gone (GC'd post-commit)
    merged = {s for g in gens0[1:] for s in range(g * n, (g + 1) * n)}
    assert not merged & {int(d.split("=")[1]) for d in now
                         if d.startswith("shard_id=")}


def test_tiered_compact_preserves_results(spark, tiered):
    q, before, _, _ = tiered
    eng = Engine(spark, TIER_BASE)
    after = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in eng.search(q, k=10, mode="bmw").collect()
    )
    assert after == before


def test_compact_rejects_unknown_generations(spark, tiered):
    with pytest.raises(ValueError, match="not visible"):
        spimi.compact_index(spark, TIER_BASE, generations=[99])
    with pytest.raises(ValueError, match="empty"):
        spimi.compact_index(spark, TIER_BASE, generations=[])


# -- crash safety: compaction publishes atomically ---------------------------


def test_compact_crash_before_commit_leaves_index_intact(spark,
                                                         monkeypatch):
    """Kill compaction right before the scalars commit: every prior
    write must be invisible — queries answer from the OLD index
    unchanged, and a retried full compact then succeeds."""
    base = "/tmp/test_compact_crash"
    pdf = synthetic_corpus_pdf(200)
    shutil.rmtree(base, ignore_errors=True)
    spimi.build_index(
        spark, with_doc_id(spark.createDataFrame(pdf.iloc[:120])),
        base, n_shards=4)
    spimi.append_index(
        spark, with_doc_id(spark.createDataFrame(pdf.iloc[120:])), base)
    q = spark.createDataFrame(
        [(0, "common_util"), (1, "def return class")],
        "query_id long, query string")
    eng = Engine(spark, base)
    before = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in eng.search(q, k=10, mode="bmw").collect())

    real = spimi._write_scalars

    def _boom(*a, **kw):
        raise RuntimeError("injected crash before commit")

    monkeypatch.setattr(spimi, "_write_scalars", _boom)
    with pytest.raises(RuntimeError, match="injected"):
        spimi.compact_index(spark, base)
    monkeypatch.setattr(spimi, "_write_scalars", real)

    # old index fully intact: same meta, same answers
    meta = spimi.load_meta(spark, spimi.IndexPaths(base))
    assert meta["generation"] == 1 and meta["n_docs"] == 200
    eng2 = Engine(spark, base)
    mid = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in eng2.search(q, k=10, mode="bmw").collect())
    assert mid == before

    # retry succeeds and still matches
    spimi.compact_index(spark, base)
    meta = spimi.load_meta(spark, spimi.IndexPaths(base))
    assert meta["generation"] == 0 and meta["n_docs"] == 200
    eng3 = Engine(spark, base)
    after = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in eng3.search(q, k=10, mode="bmw").collect())
    assert after == before


# -- maintenance policy (plan_tiered_merge + Engine.maintain) ----------------


def test_maintenance_policy_cycle(spark):
    """Policy: >max_generations → tiered merge of the SMALLEST gens
    (bulk gen untouched); tombstone backlog past the ratio → full
    compact with purge; otherwise noop. Results identical throughout."""
    base = "/tmp/test_maintain_policy"
    pdf = synthetic_corpus_pdf(350)
    shutil.rmtree(base, ignore_errors=True)
    spimi.build_index(
        spark, with_doc_id(spark.createDataFrame(pdf.iloc[:150])),
        base, n_shards=4)
    for lo in (150, 200, 250, 300):
        spimi.append_index(
            spark,
            with_doc_id(spark.createDataFrame(pdf.iloc[lo:lo + 50])), base)
    paths = spimi.IndexPaths(base)
    assert len(spimi.visible_generations(
        spimi.load_meta(spark, paths))) == 5

    q = spark.createDataFrame(
        [(0, "common_util"), (1, "def return class")],
        "query_id long, query string")
    eng = Engine(spark, base)
    before = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in eng.search(q, k=10, mode="bmw").collect())

    # plan picks the smallest generations, enough to reach the target
    plan = spimi.plan_tiered_merge(spark, paths, max_generations=3)
    assert plan is not None and len(plan) == 3
    assert 0 not in plan  # the bulk generation is never selected

    act = eng.maintain(max_generations=3)
    assert act.startswith("tiered_merge")
    meta = spimi.load_meta(spark, paths)
    assert len(spimi.visible_generations(meta)) == 3
    assert meta["n_docs"] == 350

    assert eng.maintain(max_generations=3) == "noop"

    mid = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in eng.search(q, k=10, mode="bmw").collect())
    assert mid == before

    # tombstone backlog → full compact with purge
    eng.delete(with_doc_id(spark.createDataFrame(pdf)).select("doc_id")
               .where(F.abs(F.col("doc_id")) % 5 == 0))
    act = eng.maintain(max_generations=3, tombstone_ratio=0.10)
    assert act.startswith("full_compact")
    meta = spimi.load_meta(spark, paths)
    assert len(spimi.visible_generations(meta)) == 1
    assert meta["n_docs"] < 350  # purged
    # all snapshotted tombstone batch partitions were dropped → no rows
    # remain (the table dir itself may linger, which readers treat as
    # empty via the explicit schema)
    assert (not paths.exists(spark, "tombstones")
            or paths.read(spark, "tombstones").count() == 0)
    assert spimi.load_tombstones(spark, paths) is None


# -- grace-period GC + concurrent-delete safety -------------------------------


def test_grace_period_gc_preserves_preplanned_scans(spark):
    """A query DataFrame planned BEFORE a compaction (its parquet file
    list captured at plan time) must still collect correctly after the
    compaction commits, because retired partitions are only LEDGERED at
    commit; physical deletion happens in gc_retired once the retention
    window passes."""
    base = "/tmp/test_grace_gc"
    shutil.rmtree(base, ignore_errors=True)
    pdf = synthetic_corpus_pdf(300)
    spimi.build_index(
        spark, with_doc_id(spark.createDataFrame(pdf.iloc[:200])),
        base, n_shards=4)
    spimi.append_index(
        spark, with_doc_id(spark.createDataFrame(pdf.iloc[200:])), base)
    q = spark.createDataFrame(
        [(0, "common_util"), (1, "def return class")],
        "query_id long, query string")
    eng = Engine(spark, base)
    before = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in eng.search(q, k=10, mode="bmw").collect())
    # plan (and file-list) an uncollected search over the OLD handles
    preplanned = eng.search(q, k=10, mode="bmw")
    spimi.compact_index(spark, base)  # records retirements, deletes nothing
    late = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in preplanned.collect())
    assert late == before, "pre-compact plan lost its scan files"
    # inside the retention window nothing is deleted
    assert spimi.gc_retired(spark, base, retention_secs=3600.0) == []
    paths = spimi.IndexPaths(base)
    assert paths.exists(spark, "retired")
    # past the window the retired partitions go away and fresh queries
    # (new handles, post-compact generation) are unaffected
    deleted = spimi.gc_retired(spark, base, retention_secs=0.0)
    assert deleted, "expected retired partitions to be GC'd"
    assert not paths.exists(spark, "retired")  # ledger fully drained
    eng2 = Engine(spark, base)
    after = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in eng2.search(q, k=10, mode="bmw").collect())
    assert after == before


def test_concurrent_delete_during_full_compact_not_lost(spark, monkeypatch):
    """A delete_docs that lands between the compaction's tombstone
    snapshot and its commit must survive: it writes its own tomb_batch
    partition, and the post-commit purge drops only SNAPSHOTTED
    partitions. The late delete stays excluded at query time under
    deferred stats."""
    base = "/tmp/test_concurrent_delete_compact"
    shutil.rmtree(base, ignore_errors=True)
    pdf = synthetic_corpus_pdf(400)
    corpus = with_doc_id(spark.createDataFrame(pdf))
    spimi.build_index(spark, corpus, base, n_shards=4)
    early = corpus.select("doc_id").where(F.abs(F.col("doc_id")) % 10 == 3)
    late = corpus.select("doc_id").where(F.abs(F.col("doc_id")) % 10 == 7)
    spimi.delete_docs(spark, base, early)
    n_early = early.distinct().count()
    late_ids = {r["doc_id"] for r in late.distinct().collect()}

    real_commit = spimi._write_scalars
    fired = []

    def inject_late_delete(*args, **kwargs):
        # exactly at the worst moment: after the snapshot (taken at
        # compact start), before the commit + post-commit purge
        if not fired:
            fired.append(True)
            spimi.delete_docs(spark, base, late)
        return real_commit(*args, **kwargs)

    monkeypatch.setattr(spimi, "_write_scalars", inject_late_delete)
    spimi.compact_index(spark, base)
    monkeypatch.undo()

    # the early batch was purged (physically gone, stats recomputed);
    # the late batch survives as tombstones
    meta = spimi.load_meta(spark, spimi.IndexPaths(base))
    assert meta["n_docs"] == 400 - n_early
    tomb = spimi.load_tombstones(spark, spimi.IndexPaths(base))
    assert tomb is not None and set(int(d) for d in tomb) == late_ids
    # and the late-deleted docs never appear in results
    eng = Engine(spark, base)
    q = spark.createDataFrame([(0, "common_util")],
                              "query_id long, query string")
    got = {r["doc_id"] for r in eng.search(q, k=50, mode="bmw").collect()}
    assert not (got & late_ids)
