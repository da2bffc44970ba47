"""Connected-components convergence at corpus scale (VERDICT r4 #8).

The two-star CC operator claims O(log n) rounds regardless of component
diameter; the contract tests pin that at contract size only. This bench
runs the REAL pipeline at bench-corpus scale:

  1. pair discovery over the 800k-doc synthetic corpus
     (``lsh_then_jaccard`` ≥ threshold, rounded — the dedup_corpus pair
     stage), plus
  2. an adversarial CHAIN component stitched over the first
     ``CC_CHAIN_NODES`` doc ids — a single component whose diameter
     equals its size, the worst case that makes neighbor-min
     propagation O(diameter) and would never finish at 10¹⁰ docs,

then measures ``connected_components`` rounds-to-fixpoint and wall time
(per-round cost = two shuffle-bounded self-joins + a localCheckpoint),
and asserts rounds ≤ 2·log₂(n_nodes).

Prints ONE JSON line; the recorded row lives in BENCH_SCALING.md.

Env: CC_CORPUS_DIR (default /tmp/sfbench800k), CC_N_DOCS (800000),
SPARK_GRAFT_CPUS (8), CC_CHAIN_NODES (100000), CC_THRESHOLD (0.5),
BENCH_RAMDISK=1 respected like bench.py.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from rerankers_spark.operators import dedup  # noqa: E402
from rerankers_spark.session import get_spark  # noqa: E402
from scripts.make_bench_corpus import main as make_corpus  # noqa: E402


def main() -> None:
    corpus_dir = os.environ.get("CC_CORPUS_DIR", "/tmp/sfbench800k")
    n_docs = int(os.environ.get("CC_N_DOCS", "800000"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    chain_nodes = int(os.environ.get("CC_CHAIN_NODES", "100000"))
    threshold = float(os.environ.get("CC_THRESHOLD", "0.5"))

    make_corpus(n_docs, corpus_dir)
    if os.environ.get("BENCH_RAMDISK") == "1":
        os.makedirs("/dev/shm/spark_local", exist_ok=True)
        os.environ.setdefault("SPARK_LOCAL_DIR", "/dev/shm/spark_local")
    spark = get_spark("rerankers-spark-cc-bench", master=f"local[{cpus}]",
                      shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")

    # -- pair stage (the dedup_corpus pair pipeline, rounded threshold,
    # estimate-screened at threshold/2: a Zipf corpus's band buckets are
    # dominated by low-similarity collisions, and verifying all of them
    # shuffled >80 GB at 800k docs — see lsh_then_jaccard docstring) --
    t0 = time.time()
    discovered = (
        dedup.lsh_then_jaccard(docs, min_est_jaccard=threshold / 2)
        .where(F.round(F.col("jaccard"), 6) >= threshold)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)  # time the pair stage separately
    )
    n_discovered = discovered.count()
    t_pairs = time.time() - t0

    # adversarial chain: doc i ~ doc i+1 for the first chain_nodes ids —
    # ONE component, diameter = chain_nodes
    chain = spark.range(chain_nodes - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    pairs = discovered.unionByName(chain)

    # -- CC stage --
    stats: dict = {}
    t0 = time.time()
    cc = dedup.connected_components(pairs, stats=stats)
    agg = cc.groupBy("cluster_id").agg(F.count("*").alias("sz")) \
        .agg(F.count("*").alias("n_clusters"),
             F.max("sz").alias("max_cluster")).collect()[0]
    t_cc = time.time() - t0

    n_nodes = pairs.select(F.col("doc_a").alias("n")).unionByName(
        pairs.select(F.col("doc_b").alias("n"))).distinct().count()
    bound = 2 * math.log2(max(n_nodes, 2))
    assert stats["rounds"] <= bound, (stats, bound)
    assert agg["max_cluster"] >= chain_nodes  # chain resolved as ONE cluster

    print(json.dumps({
        "metric": "cc_convergence",
        "n_docs": n_docs,
        "chain_nodes": chain_nodes,
        "n_pairs_discovered": n_discovered,
        "n_pairs_total": n_discovered + chain_nodes - 1,
        "n_nodes": n_nodes,
        "rounds": stats["rounds"],
        "rounds_bound_2log2n": round(bound, 1),
        "pair_stage_sec": round(t_pairs, 2),
        "cc_sec": round(t_cc, 2),
        "n_clusters": agg["n_clusters"],
        "max_cluster": agg["max_cluster"],
        "cpus": cpus,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
