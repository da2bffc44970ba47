"""spark-submit job: index maintenance — soft deletes and compaction.

Completes the index lifecycle for cluster operation (build_index_job →
streaming/batch appends → THIS → queries):

  # tombstone a set of doc ids (any parquet with a doc_id column)
  spark-submit --py-files rerankers_spark.zip scripts/maintain_index_job.py \
      --index /data/index --delete-ids /data/deletes_parquet

  # FULL compact: merge all generations + purge tombstones + recompute stats
  spark-submit --py-files rerankers_spark.zip scripts/maintain_index_job.py \
      --index /data/index --compact

  # TIERED compact: merge only the append generations, leave the bulk
  # generation untouched (bounded-IO maintenance; --tiered keeps the
  # LARGEST generation out of the merge automatically)
  spark-submit ... --index /data/index --compact --tiered
  spark-submit ... --index /data/index --compact --generations 3,4,5

  # grace-period GC: drop partitions retired by earlier compactions
  # once no in-flight query can still need them
  spark-submit ... --index /data/index --gc-retention-secs 3600

Both flags together = delete then compact in one submission. Deletes are
visible to queries immediately (with pre-delete global stats); a FULL
compaction is the durable purge — schedule it on tombstone volume, tiered
compactions on generation count (spimi.compact_index docstring).
Compactions only LEDGER the merged-away partitions (spimi.gc_retired);
pass --gc-retention-secs on the maintenance schedule to physically
delete them after the grace window.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from rerankers_spark.index.spimi import (  # noqa: E402
    IndexPaths,
    compact_index,
    delete_docs,
    gc_retired,
    load_meta,
    plan_tiered_merge,
    visible_generations,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--delete-ids",
                    help="parquet path with a doc_id column to tombstone")
    ap.add_argument("--compact", action="store_true")
    ap.add_argument("--generations",
                    help="comma-separated generation ids to merge "
                         "(tiered compact); default: all (full compact)")
    ap.add_argument("--tiered", action="store_true",
                    help="merge every generation EXCEPT the largest "
                         "(by manifest doc count) — the bounded-IO "
                         "maintenance shape")
    ap.add_argument("--gc-retention-secs", type=float, default=None,
                    help="grace-period GC: physically delete partitions "
                         "retired by earlier compactions more than this "
                         "many seconds ago (size past the longest "
                         "in-flight query; 0 = delete all retired now)")
    args = ap.parse_args()
    if (not args.delete_ids and not args.compact
            and args.gc_retention_secs is None):
        ap.error("nothing to do: pass --delete-ids, --compact and/or "
                 "--gc-retention-secs")
    if args.generations and args.tiered:
        ap.error("--generations and --tiered are mutually exclusive")

    spark = SparkSession.builder.appName(
        "rerankers-spark-maintain").getOrCreate()

    if args.delete_ids:
        delete_docs(spark, args.index, spark.read.parquet(args.delete_ids))
        print(f"tombstoned the doc ids of {args.delete_ids} in {args.index}")

    if args.compact:
        gens = None
        if args.generations:
            gens = [int(g) for g in args.generations.split(",")]
        elif args.tiered:
            # merge every generation but the largest, once 3 are visible
            gens = plan_tiered_merge(spark, IndexPaths(args.index),
                                     max_generations=2) or []
            if not gens:
                print("tiered compact skipped: fewer than 3 generations")
        if gens != []:
            t0 = time.time()
            compact_index(spark, args.index, generations=gens)
            meta = load_meta(spark, IndexPaths(args.index))
            print(f"compacted {args.index} in {time.time() - t0:.1f}s: "
                  f"n_docs={meta['n_docs']} "
                  f"generations={visible_generations(meta)} "
                  f"n_shards={meta['n_shards']}")

    if args.gc_retention_secs is not None:
        deleted = gc_retired(spark, args.index,
                             retention_secs=args.gc_retention_secs)
        print(f"gc: deleted {len(deleted)} retired partitions")


if __name__ == "__main__":
    main()
