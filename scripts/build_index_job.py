"""spark-submit job: build (or resume) the inverted index.

Usage (north rule: runs via spark-submit --py-files on a real cluster;
locally plain `python` works too because getOrCreate falls back):

  spark-submit --py-files rerankers_spark.zip scripts/build_index_job.py \
      --corpus /data/corpus_parquet --index /data/index \
      --n-shards 10000 [--resume] [--documents-shape]

--documents-shape: input is the driver documents.parquet layout
(doc_id,text,lang,source,n_chars) instead of the canonical
(repo,path,commit,lang,content) corpus.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from rerankers_spark.corpus import with_doc_id  # noqa: E402
from rerankers_spark.index.spimi import build_index, load_meta  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--index", required=True)
    ap.add_argument("--n-shards", type=int, default=256)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--documents-shape", action="store_true")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("rerankers-spark-build").getOrCreate()
    raw = spark.read.parquet(args.corpus)
    if args.documents_shape:
        corpus = raw.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("text").alias("content"),
        ).withColumn("content_sha256", F.sha2(F.col("content"), 256))
    else:
        corpus = with_doc_id(raw)

    t0 = time.time()
    paths = build_index(spark, corpus, args.index, n_shards=args.n_shards,
                        resume=args.resume)
    # the committed scalars row: read through the Catalog, no Spark job
    n = int(load_meta(spark, paths)["n_docs"])
    wall = time.time() - t0
    print(f"indexed {n} docs in {wall:.1f}s ({n / wall:.1f} docs/sec) "
          f"→ {args.index}")


if __name__ == "__main__":
    main()
