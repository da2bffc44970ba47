"""Single-threaded kernel harness with no Spark: varbyte coding, the
WAND and routed shard kernels, and the driver-side ``Reranker.rank``.

Inputs are frozen from the workload's own index (one shard's blocks,
read with pyarrow) and its own queries, so they follow the seed. Each
kernel repeats until ``min_seconds`` have passed and reports a rate.
"""

from __future__ import annotations

import math
import os
import time

import numpy as np
import pyarrow.parquet as pq

from rerankers_spark.functions.tokenize import tokenize_py
from rerankers_spark.index import varbyte
from rerankers_spark.query import bmw


def _repeat(fn, min_seconds: float) -> tuple[int, float]:
    """Call ``fn`` until ``min_seconds`` have passed; (calls, seconds)."""
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= min_seconds:
            return n, dt


def read_index_meta(root: str) -> dict:
    d = os.path.join(root, "scalars")
    return pq.read_table(d).to_pylist()[0]


def read_shard_blocks(root: str, shard_id: int, terms: list[str]):
    """One shard's blocks for ``terms`` as pandas, straight from parquet."""
    t = pq.read_table(os.path.join(root, "blocks", f"shard_id={shard_id}"),
                      filters=[("term", "in", terms)])
    return t.to_pandas()


def kernel_metrics(index_root: str, query_texts: list[str], df: dict,
                   rank_query_docs: list[tuple[str, list[str]]],
                   min_seconds: float = 0.3, k: int = 10) -> dict:
    """Per-layer kernel rates on frozen inputs (see module docstring).
    ``df`` is the collection's document frequency per term, from which
    idf is computed as the engine does."""
    from rerankers_spark.rerank.ranker import Reranker

    from rerankers_spark.index.spimi import visible_generations

    meta = read_index_meta(index_root)
    n_docs, avgdl = int(meta["n_docs"]), float(meta["avgdl"])
    n_shards = int(meta["n_shards"])
    gens = visible_generations(meta)
    # as bmw.bmw_topk chooses them
    bound_mode = "safe" if int(meta.get("generation") or 0) > 0 else "exact"
    n_docs_shard = n_docs / (len(gens) * n_shards)
    queries = [(i, sorted(set(tokenize_py(q))))
               for i, q in enumerate(query_texts)]
    terms = sorted({t for _, ts in queries for t in ts})
    blocks = read_shard_blocks(index_root, gens[0] * n_shards, terms)
    idf = {t: math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
           for t in set(blocks["term"])}
    q_list = [(qid, [(t, idf[t]) for t in ts if t in idf])
              for qid, ts in queries]
    q_list = [(q, ts) for q, ts in q_list if ts]
    out: dict[str, float] = {}

    docs_vb = blocks["docs_vb"].tolist()
    firsts = blocks["first_doc"].to_numpy(dtype=np.int64)
    tfs_vb = blocks["tfs_vb"].tolist()
    dls_vb = blocks["dls_vb"].tolist()
    mb_docs = sum(len(b) for b in docs_vb) / 1e6
    mb_vals = sum(len(b) for b in tfs_vb + dls_vb) / 1e6
    n, dt = _repeat(lambda: [varbyte.decode(b) for b in tfs_vb + dls_vb],
                    min_seconds)
    out["varbyte.decode_mb_s"] = n * mb_vals / dt
    n, dt = _repeat(lambda: [varbyte.delta_decode(b, base=int(f))
                             for b, f in zip(docs_vb, firsts)], min_seconds)
    out["varbyte.delta_decode_mb_s"] = n * mb_docs / dt
    decoded = [varbyte.decode(b) for b in tfs_vb + dls_vb]
    n, dt = _repeat(lambda: [varbyte.encode(v) for v in decoded],
                    min_seconds)
    out["varbyte.encode_mb_s"] = n * mb_vals / dt

    def run(n_docs_shard: float):
        return bmw.wand_topk_shard(blocks, q_list, k, avgdl, bound_mode,
                                   n_docs_shard=n_docs_shard)

    n, dt = _repeat(lambda: run(0.0), min_seconds)
    out["bmw.kernel_wand_qps"] = n * len(q_list) / dt
    n, dt = _repeat(lambda: run(n_docs_shard), min_seconds)
    out["bmw.kernel_routed_qps"] = n * len(q_list) / dt
    # skip rate: delta_decode calls during one pure-WAND pass over the
    # blocks of the query terms (decodes are cached per term and shared
    # by the shard's queries, as in production)
    calls = [0]
    real = varbyte.delta_decode

    def counting(buf, base):
        calls[0] += 1
        return real(buf, base)

    varbyte.delta_decode = counting
    try:
        run(0.0)
    finally:
        varbyte.delta_decode = real
    out["bmw.blocks_decoded_ratio"] = calls[0] / max(1, len(blocks))

    rr = Reranker("overlap")
    pairs = sum(len(d) for _, d in rank_query_docs)
    n, dt = _repeat(lambda: [rr.rank(q, d) for q, d in rank_query_docs],
                    min_seconds)
    out["ranker.driver_rank_pairs_per_s"] = n * pairs / dt
    return out
