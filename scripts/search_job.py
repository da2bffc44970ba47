"""spark-submit job: BM25 top-k (optionally reranked) over a built index.

  spark-submit --py-files rerankers_spark.zip scripts/search_job.py \
      --index /data/index --query "hash join" [--k 10] \
      [--mode bmw|auto|exhaustive] \
      [--rerank --corpus /data/corpus --scorer overlap]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import SparkSession, functions as F  # noqa: E402

from rerankers_spark.index.spimi import local_df  # noqa: E402
from rerankers_spark.query.executor import Engine  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--query", action="append", required=True)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--mode", default="bmw", choices=sorted(Engine.MODES))
    ap.add_argument("--rerank", action="store_true")
    ap.add_argument("--corpus")
    ap.add_argument("--scorer", default="overlap")
    ap.add_argument("--filter-ids",
                    help="parquet with a doc_id column: restrict results "
                         "to this doc set (metadata-filtered search)")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("rerankers-spark-search").getOrCreate()
    eng = Engine(spark, args.index, scorer=args.scorer)
    qdf = local_df(spark, pd.DataFrame({
        "query_id": np.arange(len(args.query), dtype=np.int64),
        "query": args.query}), "query_id long, query string")
    doc_filter = (spark.read.parquet(args.filter_ids)
                  if args.filter_ids else None)
    if args.rerank:
        if not args.corpus:
            ap.error("--rerank requires --corpus for candidate text")
        corpus = spark.read.parquet(args.corpus)
        if "content" not in corpus.columns and "text" in corpus.columns:
            corpus = corpus.withColumn("content", F.col("text"))
        out = eng.rank(qdf, corpus, first_k=max(100, args.k),
                       final_k=args.k, mode=args.mode,
                       doc_filter=doc_filter)
    else:
        out = eng.search(qdf, k=args.k, mode=args.mode,
                         doc_filter=doc_filter)
    for row in sorted(out.collect(),
                      key=lambda r: (r["query_id"], r["rank"])):
        print(dict(row.asDict()))


if __name__ == "__main__":
    main()
