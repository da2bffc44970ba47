"""The two workloads: inputs, set-up, and the timed closed loop.

One client issues each call after the previous one returned (a closed
loop). A call's latency runs from the call into the engine's public
function until its result is collected on the driver. Inputs are built
before the session starts and are not timed. Every call's sampled
output is recorded as an event that the checks replay afterwards.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from collections import defaultdict, deque
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from checks import GrowingOracle
from inputs import Corpus, QueryMaker, distinct_ids, split_batches
from spans import Tracer

from rerankers_spark.corpus import documents_as_corpus, synthetic_corpus_pdf
from rerankers_spark.functions.tokenize import tokenize_py
from rerankers_spark.query import bmw
from rerankers_spark.query.executor import Engine

N_SHARDS = 2
SERVE_BATCH = 16
SEARCH_K = 10
FIRST_K, FINAL_K = 100, 10
MODES = ("bmw", "auto", "exhaustive")
#: serve re-issues one of this many previous batches on two calls in 8
REPEAT_WINDOW = 8
DEDUP_THRESHOLD = 0.8
DEDUP_RECALL_FLOOR = 0.95
#: share of each incoming batch that is a planted near-copy of another doc
DUP_SHARE = 0.1
DELETES_PER_CYCLE = 30
#: queries per call whose results are compared with the oracle
CHECK_PER_CALL = 4
#: sizes per workload, before --scale: the indexed base corpus, the
#: incoming batches (each with planted near-copies on top), and the
#: bulk rank batch. serve's one batch feeds only the traced run's write
#: probes; bulk takes one batch per cycle.
SIZES = {
    "serve": {"n_docs": 5_000, "batch_docs": 100, "n_batches": 1},
    "bulk": {"n_docs": 1_000, "batch_docs": 200, "n_batches": 3,
             "rank_batch": 100},
}


@dataclass
class Inputs:
    base: Corpus
    batches: list            # [(Corpus, planted (id, id) pairs)]
    queries: QueryMaker
    texts: dict              # doc_id -> text, every doc of every file
    df: dict                 # base collection df per term
    sizes: dict


def make_inputs(workload: str, seed: int, scale: float,
                out_dir: str) -> Inputs:
    """Corpus files, incoming batches and the query maker."""
    sizes = {k: v if k == "n_batches" else max(16, int(v * scale))
             for k, v in SIZES[workload].items()}
    n_total = sizes["n_docs"] + sizes["batch_docs"] * sizes["n_batches"]
    pdf = synthetic_corpus_pdf(n_total, seed)
    ids = distinct_ids(np.random.default_rng([seed, 1]), n_total)
    base, batches = split_batches(pdf, ids, sizes["n_docs"],
                                  sizes["batch_docs"], DUP_SHARE, seed,
                                  out_dir)
    oracle = GrowingOracle(base.doc_ids.tolist(), base.texts)
    qm = QueryMaker.from_df(dict(oracle.df), oracle.n,
                            np.random.default_rng([seed, 3]))
    texts = {}
    for c in [base] + [b for b, _ in batches]:
        texts.update(zip(c.doc_ids.tolist(), c.texts))
    return Inputs(base, batches, qm, texts, dict(oracle.df), sizes)


@dataclass
class Harness:
    """What one run shares: session, engine, tracer, samples, the events
    the checks replay, op accounting and the index state."""

    spark: object
    tracer: Tracer
    inputs: Inputs
    work: str
    seed: int
    engine: Engine | None = None
    index_path: str = ""
    text_df: object = None
    samples: dict = field(default_factory=lambda: defaultdict(list))
    counters: dict = field(default_factory=lambda: defaultdict(float))
    events: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    recording: bool = True
    rng: np.random.Generator = None
    # index state, carried across loops of one run
    cycle: int = 0
    live: list = field(default_factory=list)
    deleted: set = field(default_factory=set)

    def __post_init__(self):
        self.rng = np.random.default_rng([self.seed, 4])

    def qdf(self, pdf: pd.DataFrame):
        return self.spark.createDataFrame(pdf, "query_id long, query string")

    def timed(self, kind: str, fn, span: str):
        """Run one op and record its latency under ``kind``. An op that
        raises counts as failed and returns None; ``fn`` returns a value
        other than None on success."""
        self.attempted += 1
        op = self.tracer.new_op()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span, op):
                out = fn(op)
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None
        if self.recording:
            self.samples[kind].append(time.perf_counter() - t0)
        return out

    # -- ops ------------------------------------------------------------

    def build(self) -> None:
        """Build the index over the base corpus from scratch."""
        self.index_path = os.path.join(self.work, "index")
        shutil.rmtree(self.index_path, ignore_errors=True)
        base = self.inputs.base
        corpus = documents_as_corpus(self.spark, base.path)
        if self.timed("build", lambda op: Engine.build(
                self.spark, corpus, self.index_path, n_shards=N_SHARDS)
                is not None, "spimi.build") is None:
            raise RuntimeError("index build failed")
        self.engine = Engine(self.spark, self.index_path)
        self.events.append(("add", base.doc_ids.tolist(), base.texts))
        self.live = base.doc_ids.tolist()
        self.counters["indexed_text_bytes"] = base.text_bytes

    def search(self, qdf, qpdf: pd.DataFrame, mode: str, k: int = SEARCH_K,
               check: int = CHECK_PER_CALL):
        def run(op):
            with self.tracer.span("executor.search.call", op):
                df = self.engine.search(qdf, k=k, mode=mode)
            with self.tracer.span("executor.search.collect", op):
                return df.collect()
        rows = self.timed(f"search.{mode}", run, f"executor.search.{mode}")
        if rows is not None and check:
            self._record("search", qpdf, rows, check, k=k)
        return rows

    def rank(self, qdf, qpdf: pd.DataFrame, check: int = CHECK_PER_CALL):
        def run(op):
            with self.tracer.span("executor.rank.call", op):
                df = self.engine.rank(qdf, self.text_df, first_k=FIRST_K,
                                      final_k=FINAL_K)
            with self.tracer.span("executor.rank.collect", op):
                return df.collect()
        rows = self.timed("rank", run, "executor.rank")
        if rows is not None and check:
            self._record("rank", qpdf, rows, check, first_k=FIRST_K,
                         final_k=FINAL_K)
        return rows

    def _record(self, what: str, qpdf: pd.DataFrame, rows, n: int,
                **kw) -> None:
        pick = self.rng.choice(len(qpdf), size=min(n, len(qpdf)),
                               replace=False)
        queries = {int(qpdf["query_id"].iloc[i]): qpdf["query"].iloc[i]
                   for i in pick}
        got = defaultdict(list)
        for r in rows:
            if r["query_id"] in queries:
                got[r["query_id"]].append(r.asDict())
        self.events.append((what, queries, dict(got), kw))

    def dense_queries(self, qpdf: pd.DataFrame) -> int:
        """Queries whose rarest in-vocabulary term is in more than
        Engine.AUTO_DENSE_DF_RATIO of the base docs (the dense route)."""
        n, out = len(self.inputs.base.doc_ids), 0
        for q in qpdf["query"]:
            dfs = [self.inputs.df[t] for t in tokenize_py(q)
                   if t in self.inputs.df]
            out += bool(dfs) and min(dfs) / n > Engine.AUTO_DENSE_DF_RATIO
        return out

    def index_bytes(self) -> int:
        total = 0
        for d, _, files in os.walk(self.index_path):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        return total

    def warm_up(self) -> None:
        """Before the first timed op: one BMW search and one rank call on
        their own batches, not recorded (their outputs are still checked).
        Each pays the cold start of its own plan; later modes add little."""
        self.recording = False
        try:
            pdf = self.inputs.queries.batch(SERVE_BATCH)
            self.search(self.qdf(pdf), pdf, "bmw", check=1)
            pdf = self.inputs.queries.batch(SERVE_BATCH)
            self.rank(self.qdf(pdf), pdf, check=1)
        finally:
            self.recording = True

    def append(self, batch: Corpus, keep: set | None = None) -> bool:
        """Append ``batch`` (only ``keep`` ids when given) as a new index
        generation and refresh the engine's cached handles."""
        from rerankers_spark.index.spimi import append_index

        ids = [d for d in batch.doc_ids.tolist() if keep is None or d in keep]
        frame = documents_as_corpus(self.spark, batch.path)
        if keep is not None:
            frame = frame.where(F.col("doc_id").isin(ids))

        def run(op):
            append_index(self.spark, frame, self.index_path)
            self.engine.refresh()
            return True
        if self.timed("append", run, "spimi.append") is None:
            return False
        self.counters["appended_docs"] += len(ids)
        texts = [self.inputs.texts[d] for d in ids]
        self.counters["indexed_text_bytes"] += sum(len(t) for t in texts)
        self.events.append(("add", ids, texts))
        self.live.extend(ids)
        return True

    def delete(self, n: int) -> None:
        pick = sorted(self.rng.choice(len(self.live), size=n, replace=False),
                      reverse=True)
        gone = [self.live.pop(i) for i in pick]
        ids = self.spark.createDataFrame(
            pd.DataFrame({"doc_id": np.array(gone, dtype=np.int64)}),
            "doc_id long")

        def run(op):
            self.engine.delete(ids)
            return True
        if self.timed("delete", run, "spimi.delete") is not None:
            self.deleted.update(gone)
            self.events.append(("delete", gone))

    def maintain(self, max_generations: int) -> None:
        """One maintenance cycle. A merge of every visible generation is a
        full compaction, which purges tombstoned docs from the postings
        and the collection statistics: the index's doc count shows it."""
        from rerankers_spark.index.spimi import load_meta

        n_before = int(load_meta(self.spark, self.engine.paths)["n_docs"])
        if self.timed("maintain", lambda op: self.engine.maintain(
                max_generations=max_generations, gc_retention_secs=0),
                "spimi.maintain") is None:
            return
        n_after = int(load_meta(self.spark, self.engine.paths)["n_docs"])
        if n_after < n_before:
            self.events.append(("purge", sorted(self.deleted)))


# -- workloads ------------------------------------------------------------

def serve(h: Harness, seconds: float) -> dict:
    """Closed loop of 16-query calls in rounds of six: a search in each
    mode (bmw, auto, exhaustive), each followed by a rank call. Two calls
    in eight re-issue the DataFrame of one of the previous eight batches.
    Rounds run whole, until ``seconds`` have passed, so every run times
    each mode equally often."""
    recent: deque = deque(maxlen=REPEAT_WINDOW)
    n_queries = n_calls = n_repeats = n_dense = 0
    t0 = time.perf_counter()
    while n_calls % (2 * len(MODES)) or time.perf_counter() - t0 < seconds:
        if n_calls % 8 in (3, 6) and recent:
            qdf, pdf = recent[int(h.rng.integers(len(recent)))]
            n_repeats += 1
        else:
            pdf = h.inputs.queries.batch(SERVE_BATCH)
            qdf = h.qdf(pdf)
            recent.append((qdf, pdf))
        if n_calls % 2 == 0:
            h.search(qdf, pdf, MODES[(n_calls // 2) % len(MODES)])
        else:
            h.rank(qdf, pdf)
        n_calls += 1
        n_queries += len(pdf)
        n_dense += h.dense_queries(pdf)
    return {"work_items": n_queries, "elapsed_s": time.perf_counter() - t0,
            "calls": n_calls, "queries": n_queries, "dense_queries": n_dense,
            "repeat_share": n_repeats / max(1, n_calls)}


def bulk(h: Harness, seconds: float) -> dict:
    """Cycles of large calls, writes beside reads: near-dup removal over
    an incoming batch, append of the survivors plus refresh, a delete of
    a few dozen ids, then a BMW search over a query batch just past the
    local-plan pair cap (so the distributed query path runs), a rank over
    a batch large enough that the scorer dominates, and a second such
    search (two samples of the call whose cost varies most between
    runs). The searches see a multi-generation, tombstoned index with
    cold engine caches."""
    from rerankers_spark.operators.dedup import dedup_corpus

    out = defaultdict(float)

    def over_cap_search():
        big = h.inputs.queries.batch_over_pairs(bmw.QT_PAIR_CAP)
        out["pairs_per_search"] = sum(len(tokenize_py(q))
                                      for q in big["query"])
        out["queries"] += len(big)
        out["dense_queries"] += h.dense_queries(big)
        if h.search(h.qdf(big), big, "bmw",
                    check=2 * CHECK_PER_CALL) is not None:
            out["search_queries"] += len(big)

    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        if h.cycle >= len(h.inputs.batches):
            raise RuntimeError("bulk ran out of batches; raise n_batches")
        batch, planted = h.inputs.batches[h.cycle]
        h.cycle += 1
        out["cycles"] += 1
        docs = h.spark.read.parquet(
            os.path.join(batch.path, "documents.parquet"))
        kept = h.timed("dedup", lambda op: {
            r["doc_id"] for r in dedup_corpus(
                docs, threshold=DEDUP_THRESHOLD).select("doc_id").collect()},
            "dedup.dedup_corpus")
        if kept is not None:
            h.events.append(("dedup", batch.doc_ids.tolist(), batch.texts,
                             kept, planted))
            out["dedup_docs"] += len(batch.doc_ids)
            h.append(batch, kept)
        h.delete(DELETES_PER_CYCLE)
        over_cap_search()
        rb = h.inputs.queries.batch(h.inputs.sizes["rank_batch"])
        if h.rank(h.qdf(rb), rb, check=2 * CHECK_PER_CALL) is not None:
            out["rank_queries"] += len(rb)
        over_cap_search()
    out["elapsed_s"] = time.perf_counter() - t0
    out["work_items"] = (out["search_queries"] + out["rank_queries"]
                         + out["dedup_docs"])
    return dict(out)


RUNNERS = {"serve": serve, "bulk": bulk}


def setup(h: Harness, workload: str) -> None:
    """Index build and warm-up (the session is already up)."""
    h.build()
    dirs = [h.inputs.base.path] + [b.path for b, _ in h.inputs.batches]
    # read uncached on every rank call, as a user's table would be
    h.text_df = (h.spark.read.parquet(
        *[os.path.join(d, "documents.parquet") for d in dirs])
        .select("doc_id", F.col("text").alias("content")))
    h.warm_up()
