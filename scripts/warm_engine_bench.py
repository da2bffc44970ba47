"""Warm long-lived-Engine throughput on a bench corpus (VERDICT r4 #5:
track the two-stage 2k-query row every round — the sf0.1 driver phase is
scheduling-floor-dominated and can't see regressions).

Builds the index ONCE, then measures a long-lived Engine (cached
meta/termstats/blocks handles + tombstone broadcast) the way a serving
deployment runs it: first call cold, then best-of-3 warm per phase:

* bmw_2k      — 2,000-query BM25 top-10 (the columnar block scan)
* bmw_100k    — 100,000-query batch (amortizes the ~2.3s scheduling
                floor; the marginal-per-query number)
* two_stage_2k — BM25 top-100 cut -> pandas-UDF rerank -> top-10

Prints ONE JSON line; the recorded row lives in BENCH_SCALING.md.

Cold-number caveat (ADVICE r5): only bmw_2k's "cold" is truly cold —
later phases run on an Engine already warmed by the earlier ones
(cached handles, per-task decoded-block caches), so their cold_sec
understates a fresh Engine's first call.

Env: WARM_N_DOCS (default 150000, sized for a 4-core, 15 GB host; the
round-5/6 rows in BENCH_SCALING.md used 800000 on a 32-core VM),
WARM_CORPUS_DIR (default /tmp/sfbench<N>), SPARK_GRAFT_CPUS (default: the
CPUs this process may run on, as nproc counts them), BENCH_RAMDISK=1
respected like bench.py. An on-disk index from an earlier run is reused
only when its scalars record the current block format
(spimi.BLOCK_FORMAT); otherwise it is rebuilt. WARM_REBUILD=1 forces a
fresh build anyway (set it after a build-code change that keeps the
format).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import synthetic_queryset  # noqa: E402
from rerankers_spark.corpus import documents_as_corpus  # noqa: E402
from rerankers_spark.index import spimi  # noqa: E402
from rerankers_spark.query.executor import Engine  # noqa: E402
from rerankers_spark.session import get_spark  # noqa: E402
from scripts.make_bench_corpus import main as make_corpus  # noqa: E402


def main() -> None:
    n_docs = int(os.environ.get("WARM_N_DOCS", "150000"))
    corpus_dir = os.environ.get("WARM_CORPUS_DIR",
                                f"/tmp/sfbench{n_docs // 1000}k")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))

    make_corpus(n_docs, corpus_dir)
    index_root = "/tmp/warm_index"
    if os.environ.get("BENCH_RAMDISK") == "1":
        os.makedirs("/dev/shm/spark_local", exist_ok=True)
        os.environ.setdefault("SPARK_LOCAL_DIR", "/dev/shm/spark_local")
        index_root = "/dev/shm/warm_index"
    spark = get_spark("rerankers-spark-warm-bench", master=f"local[{cpus}]",
                      shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")

    corpus = documents_as_corpus(spark, corpus_dir).cache()
    n = corpus.count()
    assert n == n_docs, (
        f"{corpus_dir} holds {n} docs but WARM_N_DOCS={n_docs} — stale "
        f"corpus dir from an earlier run with a different size; remove "
        f"it or point WARM_CORPUS_DIR elsewhere")
    index_path = f"{index_root}_{n}_{cpus}"
    if os.environ.get("WARM_REBUILD") == "1" \
            or not spimi.reusable_index(spark, spimi.IndexPaths(index_path)):
        shutil.rmtree(index_path, ignore_errors=True)
        t0 = time.perf_counter()
        Engine.build(spark, corpus, index_path, n_shards=64,
                     scorer="overlap")
        build_sec = time.perf_counter() - t0
    else:
        build_sec = None  # reused a previous run's index
    engine = Engine(spark, index_path, scorer="overlap")

    q2k = synthetic_queryset(spark, 2_000).cache()
    q100k = synthetic_queryset(spark, 100_000).cache()
    q2k.count(), q100k.count()

    def phase(fn) -> tuple[float, float]:
        """(cold_first_call, best_of_3_warm) seconds."""
        t0 = time.perf_counter()
        fn()
        cold = time.perf_counter() - t0
        warm = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            warm.append(time.perf_counter() - t0)
        return cold, min(warm)

    bmw2k_cold, bmw2k = phase(
        lambda: engine.search(q2k, k=10, mode="bmw").count())
    bmw100k_cold, bmw100k = phase(
        lambda: engine.search(q100k, k=10, mode="bmw").count())
    ts2k_cold, ts2k = phase(
        lambda: engine.rank(q2k, corpus, first_k=100, final_k=10,
                            mode="auto").count())

    print(json.dumps({
        "metric": f"warm_engine_{n // 1000}k",
        "n_docs": n,
        "cpus": cpus,
        "build_sec": round(build_sec, 2) if build_sec else None,
        "bmw_2k": {"cold_sec": round(bmw2k_cold, 2),
                   "warm_sec": round(bmw2k, 2),
                   "warm_qps": round(2_000 / bmw2k, 0)},
        "bmw_100k": {"cold_sec": round(bmw100k_cold, 2),
                     "warm_sec": round(bmw100k, 2),
                     "warm_qps": round(100_000 / bmw100k, 0)},
        "two_stage_2k": {"cold_sec": round(ts2k_cold, 2),
                         "warm_sec": round(ts2k, 2),
                         "warm_qps": round(2_000 / ts2k, 0)},
    }))
    spark.stop()


if __name__ == "__main__":
    main()
