"""Instrumented bench: same phases as bench.py, ONE run each, with
Spark event logging on and wall-clock phase boundaries recorded, so
every Spark job can be attributed to a phase and the per-job overhead
decomposed (guide §1: measure first).

Usage:
    python scripts/bench_jobs.py [out_json]

Writes /tmp/bench_jobs_phases.json (phase boundaries) and leaves the
event log under /tmp/spark-events; scripts/parse_events.py joins them.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rerankers_spark.corpus import documents_as_corpus  # noqa: E402
from rerankers_spark.query.executor import Engine  # noqa: E402
from rerankers_spark.session import get_spark  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import bench  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))
    os.makedirs("/tmp/spark-events", exist_ok=True)
    os.environ["SPARK_EXTRA_CONF"] = json.dumps({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file:/tmp/spark-events",
    })
    spark = get_spark("bench-jobs", master=f"local[{cpus}]",
                      shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId

    phases: list[dict] = []

    def phase(name, fn):
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        out = fn()
        t1 = time.time()
        spark.sparkContext.setJobDescription(None)
        phases.append({"name": name, "t0": t0, "t1": t1,
                       "wall": round(t1 - t0, 3)})
        print(f"{name}: {t1 - t0:.3f}s", flush=True)
        return out

    corpus = documents_as_corpus(spark, sf_dir).cache()
    n_docs = phase("corpus_count", lambda: corpus.count())
    index_path = f"/tmp/bench_jobs_index_{os.path.basename(sf_dir)}"
    shutil.rmtree(index_path, ignore_errors=True)
    n_shards = 64 if n_docs >= 100_000 else 16

    phase("q_index_build", lambda: Engine.build(
        spark, corpus, index_path, n_shards=n_shards, scorer="overlap"))

    def rebuild():
        shutil.rmtree(index_path, ignore_errors=True)
        Engine.build(spark, corpus, index_path, n_shards=n_shards,
                     scorer="overlap")

    phase("q_index_build_warm", rebuild)
    engine = Engine(spark, index_path, scorer="overlap")
    q50 = bench.synthetic_queryset(spark, int(os.environ.get("BENCH_QUERIES",
                                                             50)))
    phase("q_bmw_cold", lambda: engine.search(q50, k=10, mode="bmw").count())
    phase("q_bmw_warm", lambda: engine.search(q50, k=10, mode="bmw").count())
    phase("q_exhaustive",
          lambda: engine.search(q50, k=10, mode="exhaustive").count())
    phase("q_exhaustive_warm",
          lambda: engine.search(q50, k=10, mode="exhaustive").count())
    phase("q_two_stage", lambda: engine.rank(
        q50, corpus, first_k=100, final_k=10, mode="auto").count())
    phase("q_two_stage_warm", lambda: engine.rank(
        q50, corpus, first_k=100, final_k=10, mode="auto").count())

    out = {"app_id": app_id, "phases": phases, "n_docs": n_docs,
           "cpus": cpus}
    dst = sys.argv[1] if len(sys.argv) > 1 else "/tmp/bench_jobs_phases.json"
    with open(dst, "w") as f:
        json.dump(out, f, indent=1)
    spark.stop()
    print(f"wrote {dst}; event log: /tmp/spark-events/{app_id}")


if __name__ == "__main__":
    main()
