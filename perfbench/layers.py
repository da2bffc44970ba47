"""Per-layer metrics for the traced run.

Layers are named after the engine's modules. Most figures come from the
spans of the workload's own calls (with their Spark jobs attributed from
the event log). The rest come from probes run after the timed loop: a
direct call of the layer's public function on the workload's own index,
queries and batches. Maintenance runs only as a probe; in serve the
append and delete paths do too.
"""

from __future__ import annotations

import os
import statistics
import time

import pandas as pd

from kernels import kernel_metrics
from workloads import (DEDUP_THRESHOLD, DELETES_PER_CYCLE, FIRST_K, MODES,
                       SERVE_BATCH, Harness)


#: per-layer metric name -> unit, in the order BENCHMARK.json lists them
UNITS = {
    "session.start_s": "s",
    "spimi.build_s": "s",
    "spimi.build.jobs": "count",
    "spimi.build.task_s": "s",
    "spimi.build.cpu_s": "s",
    "spimi.build.shuffle_write_mb": "MB",
    "spimi.build.driver_gap_s": "s",
    "spimi.append_s": "s",
    "spimi.append.jobs": "count",
    "spimi.append.driver_gap_s": "s",
    "spimi.delete_s": "s",
    "spimi.delete.jobs": "count",
    "spimi.maintain_s": "s",
    "spimi.maintain.jobs": "count",
    "spimi.maintain.bytes_rewritten_mb": "MB",
    "spimi.load_s": "s",
    "varbyte.decode_mb_s": "MB/s",
    "varbyte.delta_decode_mb_s": "MB/s",
    "varbyte.encode_mb_s": "MB/s",
    "bmw.plan_ms": "ms",
    "bmw.plan.jobs": "count",
    "bmw.kernel_wand_qps": "1/s",
    "bmw.kernel_routed_qps": "1/s",
    "bmw.blocks_decoded_ratio": "ratio",
    "executor.search.call_ms": "ms",
    "executor.search.call_jobs": "count",
    "executor.search.collect_ms": "ms",
    "executor.search.jobs": "count",
    "executor.search.tasks": "count",
    "executor.search.driver_gap_ms": "ms",
    "executor.search.bmw_ms": "ms",
    "executor.search.auto_ms": "ms",
    "executor.search.exhaustive_ms": "ms",
    "executor.rank.call_ms": "ms",
    "executor.rank.collect_ms": "ms",
    "executor.rank.jobs": "count",
    "executor.rank.driver_gap_ms": "ms",
    "executor.rank.first_stage_ms": "ms",
    "ranker.rank_df_ms": "ms",
    "ranker.pairs_per_s": "1/s",
    "ranker.driver_rank_pairs_per_s": "1/s",
    "dedup.candidate_pairs": "count",
    "dedup.candidates_s": "s",
    "dedup.verify_s": "s",
    "dedup.verify_shuffle_write_mb": "MB",
    "dedup.verified_ratio": "ratio",
    "dedup.cc_s": "s",
    "dedup.cc_rounds": "count",
    "trace.overhead_ratio": "ratio",
}


def _probe(h: Harness, name: str, fn):
    """A traced, unrecorded call outside the loop; its span is ``name``."""
    op = h.tracer.new_op()
    with h.tracer.span(name, op):
        return fn()


def run_probes(h: Harness, workload: str) -> dict:
    """Direct calls of each layer's public functions. Returns the figures
    that are not span timings."""
    from rerankers_spark.index.spimi import (load_blocks, load_meta,
                                             load_termstats)
    from rerankers_spark.operators.dedup import (connected_components,
                                                 lsh_candidate_pairs,
                                                 lsh_then_jaccard)
    from rerankers_spark.query import bmw

    spark, eng, out = h.spark, h.engine, {}
    h.recording = False
    try:
        # one search per mode on fresh batches, so every mode has a span
        for mode in MODES:
            pdf = h.inputs.queries.batch(SERVE_BATCH)
            h.search(h.qdf(pdf), pdf, mode, check=1)

        def load():
            meta = load_meta(spark, eng.paths)
            load_termstats(spark, eng.paths, meta).count()
            load_blocks(spark, eng.paths, meta)
        _probe(h, "spimi.load", load)

        pdf = h.inputs.queries.batch(SERVE_BATCH)
        qdf = h.qdf(pdf)
        _, termstats, _ = eng._handles()
        _probe(h, "bmw.plan", lambda: bmw.build_local_query_plan(
            spark, qdf, termstats))
        cands = _probe(h, "executor.rank.first_stage", lambda: eng.search(
            qdf, k=FIRST_K).collect())
        qtext = dict(zip(pdf["query_id"], pdf["query"]))
        cand_pdf = pd.DataFrame({
            "query_id": [r["query_id"] for r in cands],
            "doc_id": [r["doc_id"] for r in cands],
            "query": [qtext[r["query_id"]] for r in cands],
            "text": [h.inputs.texts[r["doc_id"]] for r in cands]})
        cand_df = spark.createDataFrame(
            cand_pdf, "query_id long, doc_id long, query string, text string")
        _probe(h, "ranker.rank_df",
               lambda: eng.reranker.rank_df(cand_df).collect())
        out["ranker.pairs"] = len(cand_pdf)

        batch, _ = h.inputs.batches[min(h.cycle, len(h.inputs.batches)) - 1]
        docs = spark.read.parquet(
            os.path.join(batch.path, "documents.parquet"))
        n_cand = _probe(h, "dedup.candidates",
                        lambda: lsh_candidate_pairs(docs).count())
        pairs = _probe(h, "dedup.verify",
                       lambda: lsh_then_jaccard(docs).collect())
        verified = [(r["doc_a"], r["doc_b"]) for r in pairs
                    if round(r["jaccard"], 6) >= DEDUP_THRESHOLD]
        out["dedup.candidate_pairs"] = n_cand
        out["dedup.verified_ratio"] = len(verified) / max(1, n_cand)
        stats: dict = {}
        pair_df = spark.createDataFrame(
            pd.DataFrame(verified, columns=["doc_a", "doc_b"]),
            "doc_a long, doc_b long")
        _probe(h, "dedup.cc", lambda: connected_components(
            pair_df, stats=stats).collect())
        out["dedup.cc_rounds"] = stats.get("rounds", 0)

        if workload == "serve":
            # serve's loop writes nothing: append and delete once each
            h.append(batch)
            h.delete(DELETES_PER_CYCLE)
        # one maintenance cycle merging every generation (a full compact)
        h.maintain(max_generations=1)

        queries = h.inputs.queries.batch(64)["query"].tolist()
        rank_docs = [(q, [h.inputs.texts[r["doc_id"]] for r in cands
                          if qtext[r["query_id"]] == q])
                     for q in qtext.values()]
        t0 = time.perf_counter()
        out.update(kernel_metrics(eng.paths.root, queries, h.inputs.df,
                                  [rd for rd in rank_docs if rd[1]]))
        out["kernels_s"] = time.perf_counter() - t0
    finally:
        h.recording = True
    return out


def _p50(values) -> float:
    return statistics.median(values) if values else 0.0


def layer_metrics(h: Harness, probe: dict, session_s: float,
                  overhead_ratio: float) -> dict:
    """Every per-layer metric from the attributed spans and probes."""
    spans = h.tracer.spans
    by = {}
    for s in spans:
        by.setdefault(s.name, []).append(s)

    def sec(name):
        return [s.seconds for s in by.get(name, [])]

    def spark(name, key):
        return [s.spark.get(key, 0) for s in by.get(name, [])]

    searches = [s for m in MODES for s in by.get(f"executor.search.{m}", [])]
    m = {"session.start_s": session_s}
    m["spimi.build_s"] = _p50(sec("spimi.build"))
    for key in ("jobs", "task_s", "cpu_s", "shuffle_write_mb",
                "driver_gap_s"):
        m[f"spimi.build.{key}"] = _p50(spark("spimi.build", key))
    m["spimi.append_s"] = _p50(sec("spimi.append"))
    m["spimi.append.jobs"] = _p50(spark("spimi.append", "jobs"))
    m["spimi.append.driver_gap_s"] = _p50(spark("spimi.append",
                                                "driver_gap_s"))
    m["spimi.delete_s"] = _p50(sec("spimi.delete"))
    m["spimi.delete.jobs"] = _p50(spark("spimi.delete", "jobs"))
    m["spimi.maintain_s"] = _p50(sec("spimi.maintain"))
    m["spimi.maintain.jobs"] = _p50(spark("spimi.maintain", "jobs"))
    m["spimi.maintain.bytes_rewritten_mb"] = _p50(
        spark("spimi.maintain", "output_mb"))
    m["spimi.load_s"] = _p50(sec("spimi.load"))
    for key in ("varbyte.decode_mb_s", "varbyte.delta_decode_mb_s",
                "varbyte.encode_mb_s", "bmw.kernel_wand_qps",
                "bmw.kernel_routed_qps", "bmw.blocks_decoded_ratio",
                "ranker.driver_rank_pairs_per_s", "dedup.candidate_pairs",
                "dedup.verified_ratio", "dedup.cc_rounds"):
        m[key] = probe[key]
    m["bmw.plan_ms"] = 1e3 * _p50(sec("bmw.plan"))
    m["bmw.plan.jobs"] = _p50(spark("bmw.plan", "jobs"))
    m["executor.search.call_ms"] = 1e3 * _p50(sec("executor.search.call"))
    m["executor.search.call_jobs"] = _p50(spark("executor.search.call",
                                                "jobs"))
    m["executor.search.collect_ms"] = 1e3 * _p50(
        sec("executor.search.collect"))
    m["executor.search.jobs"] = _p50([s.spark["jobs"] for s in searches])
    m["executor.search.tasks"] = _p50([s.spark["tasks"] for s in searches])
    m["executor.search.driver_gap_ms"] = 1e3 * _p50(
        [s.spark["driver_gap_s"] for s in searches])
    for mode in MODES:
        m[f"executor.search.{mode}_ms"] = 1e3 * _p50(
            sec(f"executor.search.{mode}"))
    m["executor.rank.call_ms"] = 1e3 * _p50(sec("executor.rank.call"))
    m["executor.rank.collect_ms"] = 1e3 * _p50(sec("executor.rank.collect"))
    m["executor.rank.jobs"] = _p50(spark("executor.rank", "jobs"))
    m["executor.rank.driver_gap_ms"] = 1e3 * _p50(
        spark("executor.rank", "driver_gap_s"))
    m["executor.rank.first_stage_ms"] = 1e3 * _p50(
        sec("executor.rank.first_stage"))
    rank_df_s = _p50(sec("ranker.rank_df"))
    m["ranker.rank_df_ms"] = 1e3 * rank_df_s
    m["ranker.pairs_per_s"] = probe["ranker.pairs"] / rank_df_s
    m["dedup.candidates_s"] = _p50(sec("dedup.candidates"))
    m["dedup.verify_s"] = _p50(sec("dedup.verify"))
    m["dedup.verify_shuffle_write_mb"] = _p50(
        spark("dedup.verify", "shuffle_write_mb"))
    m["dedup.cc_s"] = _p50(sec("dedup.cc"))
    m["trace.overhead_ratio"] = overhead_ratio
    if set(m) != set(UNITS):
        raise RuntimeError(f"per-layer names drifted: {set(m) ^ set(UNITS)}")
    return m
