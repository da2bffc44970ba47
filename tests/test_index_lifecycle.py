"""What a build leaves behind, which tables an index root holds, and the
maintenance and build CLIs.

* a build starts from nothing: rebuilding at a path that held an index
  with pending tombstones, a retired ledger and dedup state publishes an
  index equal to a fresh build, and a GC afterwards deletes nothing;
* every directory a full lifecycle writes under the root is ``scalars``
  or a table of ``IndexPaths.SCHEMAS`` — the set a build drops;
* ``scripts/maintain_index_job.py`` deletes, runs a tiered merge and a
  GC against a real index;
* ``scripts/build_index_job.py --resume`` completes a build that failed
  before its commit without rewriting a finished shard.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import sys

import pytest
from pyspark.sql import functions as F

from rerankers_spark.corpus import synthetic_corpus_pdf, with_doc_id
from rerankers_spark.index import spimi
from rerankers_spark.query.executor import Engine
from rerankers_spark.streaming import ingest
from tests.oracle import BM25Oracle

BASE = "/tmp/test_index_lifecycle"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = [(0, "common_util"), (1, "def return class"), (2, "rareterm_0")]


def _search(spark, path: str) -> list[tuple]:
    q = spark.createDataFrame(QUERIES, "query_id long, query string")
    return sorted((r["query_id"], r["doc_id"], round(r["score"], 9))
                  for r in Engine(spark, path).search(q, k=10).collect())


def _tables(path: str) -> set[str]:
    return {d for d in os.listdir(path)
            if os.path.isdir(os.path.join(path, d))}


def _lifecycle(spark, path: str, pdf, check=lambda: None) -> None:
    """build, delete, a dedup'd ingest append, full compact, delete —
    ``check`` runs after every step."""
    first = with_doc_id(spark.createDataFrame(pdf.iloc[:150]))
    spimi.build_index(spark, first, path, n_shards=2)
    check()
    spimi.delete_docs(spark, path, first.select("doc_id").where(
        F.abs(F.col("doc_id")) % 5 == 1))
    check()
    ingest.append_corpus_batch(spark, spark.createDataFrame(pdf.iloc[150:]),
                               path, batch_id=0, dedup_threshold=0.9)
    check()
    spimi.compact_index(spark, path)
    check()
    spimi.delete_docs(spark, path, first.select("doc_id").where(
        F.abs(F.col("doc_id")) % 5 == 2))
    check()


def test_rebuild_starts_from_nothing(spark):
    pdf = synthetic_corpus_pdf(200, seed=23)
    path, fresh = f"{BASE}/rebuild", f"{BASE}/fresh"
    for p in (path, fresh):
        shutil.rmtree(p, ignore_errors=True)
    _lifecycle(spark, path, pdf)
    paths = spimi.IndexPaths(path)
    assert spimi.count_tombstones(spark, paths) > 0
    assert paths.exists(spark, "retired")
    assert paths.exists(spark, "dedup_state")

    corpus = with_doc_id(spark.createDataFrame(pdf.iloc[:150]))
    spimi.build_index(spark, corpus, path, n_shards=2)
    assert spimi.count_tombstones(spark, paths) == 0
    assert not paths.exists(spark, "retired")
    assert not paths.exists(spark, "dedup_state")
    meta = spimi.load_meta(spark, paths)
    assert spimi.visible_generations(meta) == [0]
    assert meta["next_gen"] == 1 and meta["n_docs"] == 150

    spimi.build_index(spark, corpus, fresh, n_shards=2)
    expect = _search(spark, fresh)
    assert expect
    assert _search(spark, path) == expect
    assert Engine(spark, path).maintain(gc_retention_secs=0) == "noop"
    assert _search(spark, path) == expect


def test_every_table_is_registered(spark):
    """A build drops exactly IndexPaths.SCHEMAS, so a table written
    outside that registry would survive a rebuild."""
    pdf = synthetic_corpus_pdf(200, seed=29)
    path = f"{BASE}/registry"
    shutil.rmtree(path, ignore_errors=True)
    known = set(spimi.IndexPaths.SCHEMAS) | {"scalars"}
    seen: set[str] = set()

    def check():
        tables = _tables(path)
        assert tables <= known, tables - known
        seen.update(tables)

    _lifecycle(spark, path, pdf, check)
    spimi.gc_retired(spark, path, retention_secs=0)
    check()
    assert {"tombstones", "retired", "dedup_state"} <= seen


def _job(name: str):
    """scripts/<name>.py, imported as a module."""
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(ROOT, "scripts", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_maintain_index_job_cli(spark, monkeypatch, capsys):
    """--delete-ids, then a tiered merge of the two small append
    generations (the largest stays), then a GC of what it retired."""
    pdf = synthetic_corpus_pdf(160, seed=37)
    path = f"{BASE}/cli"
    ids_path = f"{BASE}/cli_delete_ids"
    for p in (path, ids_path):
        shutil.rmtree(p, ignore_errors=True)
    full = with_doc_id(spark.createDataFrame(pdf))
    parts = [with_doc_id(spark.createDataFrame(pdf.iloc[a:b]))
             for a, b in ((0, 120), (120, 140), (140, 160))]
    spimi.build_index(spark, parts[0], path, n_shards=2)
    for part in parts[1:]:
        spimi.append_index(spark, part, path)
    dead = full.select("doc_id").where(F.abs(F.col("doc_id")) % 4 == 1)
    dead.write.parquet(ids_path)
    dead_ids = {r["doc_id"] for r in dead.collect()}
    assert dead_ids

    monkeypatch.setattr(sys, "argv", [
        "maintain_index_job.py", "--index", path, "--delete-ids", ids_path,
        "--compact", "--tiered", "--gc-retention-secs", "0"])
    _job("maintain_index_job").main()
    out = capsys.readouterr().out
    assert f"tombstoned the doc ids of {ids_path} in {path}" in out
    assert "generations=[0, 3]" in out

    meta = spimi.load_meta(spark, spimi.IndexPaths(path))
    assert spimi.visible_generations(meta) == [0, 3]
    assert meta["n_docs"] == 160  # a tiered merge leaves stats alone
    # the GC deleted the merged generations' partitions
    assert sorted(d for d in os.listdir(f"{path}/termstats")
                  if d.startswith("gen=")) == ["gen=0", "gen=3"]
    assert {int(d.split("=")[1]) // 2 for d in os.listdir(f"{path}/blocks")
            if d.startswith("shard_id=")} == {0, 3}

    rows = full.select("doc_id", "content").collect()
    oracle = BM25Oracle([r["doc_id"] for r in rows],
                        [r["content"] for r in rows])
    got = _search(spark, path)
    for qid, text in QUERIES:
        exp = [(d, s) for d, s in oracle.topk(text, k=len(rows))
               if d not in dead_ids][:10]
        actual = [(d, s) for q, d, s in got if q == qid]
        actual.sort(key=lambda t: (-t[1], t[0]))
        assert [d for d, _ in actual] == [d for d, _ in exp]
        for (_, s), (_, e) in zip(actual, exp):
            assert s == pytest.approx(e, abs=1e-8)


def test_resume_after_an_append_resumes_generation_0(spark):
    """A resume reads and keeps generation 0 only: the appended
    generation's docs are not counted and its partitions are deleted."""
    pdf = synthetic_corpus_pdf(150, seed=41)
    path, fresh = f"{BASE}/resume", f"{BASE}/resume_fresh"
    for p in (path, fresh):
        shutil.rmtree(p, ignore_errors=True)
    first = with_doc_id(spark.createDataFrame(pdf.iloc[:100]))
    spimi.build_index(spark, first, path, n_shards=2)
    spimi.append_index(
        spark, with_doc_id(spark.createDataFrame(pdf.iloc[100:])), path)
    spimi.build_index(spark, first, path, n_shards=2, resume=True)
    spimi.build_index(spark, first, fresh, n_shards=2)

    meta = spimi.load_meta(spark, spimi.IndexPaths(path))
    assert meta["n_docs"] == 100
    assert spimi.visible_generations(meta) == [0]
    for table in ("blocks", "docstats"):
        assert {d for d in os.listdir(f"{path}/{table}")
                if d.startswith("shard_id=")} == {"shard_id=0", "shard_id=1"}
    assert _search(spark, path) == _search(spark, fresh)


def test_search_job_cli(spark, monkeypatch, capsys):
    """scripts/search_job.py main(): a filtered search in mode 'auto',
    then a reranked search, both checked against the BM25 oracle."""
    import ast

    pdf = synthetic_corpus_pdf(120, seed=43)
    path, corpus_path, ids_path = (f"{BASE}/{n}" for n in
                                   ("search_cli", "search_cli_corpus",
                                    "search_cli_ids"))
    for p in (path, corpus_path, ids_path):
        shutil.rmtree(p, ignore_errors=True)
    corpus = with_doc_id(spark.createDataFrame(pdf))
    spimi.build_index(spark, corpus, path, n_shards=2)
    corpus.select("doc_id", "content").write.parquet(corpus_path)
    kept = corpus.select("doc_id").where(F.abs(F.col("doc_id")) % 3 != 0)
    kept.write.parquet(ids_path)
    kept_ids = {r["doc_id"] for r in kept.collect()}
    rows = corpus.select("doc_id", "content").collect()
    oracle = BM25Oracle([r["doc_id"] for r in rows],
                        [r["content"] for r in rows])
    texts = [q for _, q in QUERIES]

    def run(*extra):
        argv = ["search_job.py", "--index", path, "--k", "5"]
        for t in texts:
            argv += ["--query", t]
        monkeypatch.setattr(sys, "argv", argv + list(extra))
        _job("search_job").main()
        return [ast.literal_eval(line) for line in
                capsys.readouterr().out.splitlines() if line.startswith("{")]

    got = run("--mode", "auto", "--filter-ids", ids_path)
    for qid, text in enumerate(texts):
        exp = [(d, s) for d, s in oracle.topk(text, k=len(rows))
               if d in kept_ids][:5]
        actual = [(r["doc_id"], r["score"]) for r in got
                  if r["query_id"] == qid]
        assert [d for d, _ in actual] == [d for d, _ in exp]
        for (_, s), (_, e) in zip(actual, exp):
            assert s == pytest.approx(e, abs=1e-8)

    got = run("--rerank", "--corpus", corpus_path)
    for qid, text in enumerate(texts):
        first = dict(oracle.topk(text, k=100))
        actual = [r for r in got if r["query_id"] == qid]
        assert [r["rank"] for r in actual] == list(
            range(1, min(5, len(first)) + 1))
        for r in actual:
            assert r["bm25_score"] == pytest.approx(first[r["doc_id"]],
                                                    abs=1e-8)


def test_build_index_job_resumes_a_failed_build(spark, monkeypatch, capsys):
    """scripts/build_index_job.py main(): a build that fails before its
    commit (the scalars write) and is run again with --resume equals a
    fresh build, and the resume rewrites no block file of a shard the
    failed run finished."""
    pdf = synthetic_corpus_pdf(150, seed=47)
    path, fresh, corpus_path = (f"{BASE}/{n}" for n in
                                ("build_cli", "build_cli_fresh",
                                 "build_cli_corpus"))
    for p in (path, fresh, corpus_path):
        shutil.rmtree(p, ignore_errors=True)
    spark.createDataFrame(pdf).write.parquet(corpus_path)
    argv = ["build_index_job.py", "--corpus", corpus_path, "--index", path,
            "--n-shards", "2"]

    def fail(*a, **kw):
        raise RuntimeError("failed before the commit")

    with monkeypatch.context() as m:
        m.setattr(spimi, "_write_scalars", fail)
        m.setattr(sys, "argv", argv)
        with pytest.raises(RuntimeError, match="before the commit"):
            _job("build_index_job").main()
    assert not os.path.exists(f"{path}/scalars")

    def block_files():
        return {os.path.relpath(os.path.join(d, f), path):
                os.stat(os.path.join(d, f)).st_mtime_ns
                for d, _, fs in os.walk(f"{path}/blocks")
                for f in fs if f.endswith(".parquet")}

    done = block_files()
    assert {f.split("/")[1] for f in done} == {"shard_id=0", "shard_id=1"}
    capsys.readouterr()
    monkeypatch.setattr(sys, "argv", argv + ["--resume"])
    _job("build_index_job").main()
    assert capsys.readouterr().out.startswith("indexed 150 docs in ")
    assert block_files() == done

    spimi.build_index(spark, with_doc_id(spark.read.parquet(corpus_path)),
                      fresh, n_shards=2)
    got = _search(spark, path)
    assert got and got == _search(spark, fresh)
