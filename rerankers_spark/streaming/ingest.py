"""Structured Streaming: incremental corpus ingest + streaming analytics.

The reference has no streaming at all (SURVEY.md §2B); these are the
Spark-native extensions a continuously-growing corpus needs:

* :func:`stream_index_appends` — file-source stream of new corpus rows →
  ``foreachBatch`` → :func:`spimi.append_index`. Each micro-batch becomes
  a new index generation (doc-disjoint shards), so query code is
  unchanged and BM25 stays exact under the updated global stats (scores
  are recomputed from the raw tf and dl stored in each block). foreachBatch is AT-LEAST-once; end-to-end
  exactly-once comes from append_index's commit protocol (epoch id
  recorded at the scalars commit + orphan-partition cleanup on retry),
  not from the checkpoint alone.
* :func:`streaming_doc_stats` — running token/doc counts with watermark.
* :func:`windowed_event_counts` — event-time windows + watermark for
  late data over an events stream (the classic pattern, used by tests
  with Trigger.AvailableNow for determinism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rerankers_spark.functions.tokenize import tokenize_col
from rerankers_spark.index import spimi

CORPUS_STREAM_SCHEMA = (
    "repo string, path string, commit string, lang string, content string"
)


def read_corpus_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of corpus rows (json lines per file)."""
    return (
        spark.readStream.schema(CORPUS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .json(input_dir)
    )


def append_corpus_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    index_path: str,
    batch_id: int,
    dedup_threshold: float | None = None,
    dedup_max_bucket_size: int = 1000,
) -> None:
    """One ingest micro-batch: (optional) dedup against the indexed
    corpus, then exactly-once append. Module-level so the replay
    semantics are directly testable outside a stream; foreachBatch
    delegates here. Every leg is idempotent under redelivery of the same
    ``batch_id``: the state read excludes the current batch's partition
    (the decision is a deterministic function of batch + PRIOR state),
    append_index's commit protocol no-ops a redelivered epoch, and the
    state write is delete-own-partition + append."""
    corpus = batch_df.withColumn(
        "doc_id", F.xxhash64("repo", "path", "commit")
    ).withColumn("content_sha256", F.sha2(F.col("content"), 256))
    new_state = None
    paths = spimi.IndexPaths(index_path)
    if dedup_threshold is not None:
        from rerankers_spark.operators import dedup as dedup_ops

        batch_part = str(batch_id)
        if paths.exists(spark, "dedup_state"):
            state = paths.read(spark, "dedup_state").where(
                F.col("ingest_batch") != batch_part)
        else:
            state = spark.createDataFrame(
                [], dedup_ops.DEDUP_STATE_SCHEMA)
        corpus, new_state = dedup_ops.incremental_dedup(
            corpus, state, threshold=dedup_threshold,
            text_col="content",
            max_bucket_size=dedup_max_bucket_size)
        # materialize BEFORE touching the state table: the survivor
        # plan reads dedup_state, and the partition delete below would
        # otherwise yank files out from under a lazy plan
        corpus = corpus.localCheckpoint(eager=True)
        new_state = new_state.withColumn(
            "ingest_batch", F.lit(batch_part)).localCheckpoint(
            eager=True)
    # batch_id = the replay guard: foreachBatch is at-least-once, and
    # append_index's commit protocol turns redelivery into a no-op
    if not corpus.isEmpty():
        spimi.append_index(spark, corpus, index_path, batch_id=batch_id)
    if new_state is not None:
        paths.catalog(spark).delete_partitions(
            "dedup_state", "ingest_batch", [batch_part])
        if not new_state.isEmpty():
            paths.write(new_state, "dedup_state", mode="append",
                        partition_by=["ingest_batch"])


def stream_index_appends(
    spark: SparkSession,
    input_dir: str,
    index_path: str,
    checkpoint_dir: str,
    maintain_every: int | None = None,
    max_generations: int = 4,
    tombstone_ratio: float = 0.10,
    gc_retention_secs: float = 3600.0,
    dedup_threshold: float | None = None,
    dedup_max_bucket_size: int = 1000,
):
    """Returns a StreamingQuery appending each micro-batch to the index.

    Use ``.trigger(availableNow=True)`` semantics via start+await in
    tests; in production this runs continuously and each batch is one
    index generation.

    dedup_threshold: when set, each batch is deduped AT INGEST against
    the already-indexed corpus and itself (operators/dedup.
    incremental_dedup): exact dups via persisted sha256 fingerprints,
    near dups via the persisted minhash state joined on LSH band
    buckets — batch-vs-corpus candidates only, never a recluster of the
    world; per-batch work is O(batch × candidates). Only survivors are
    appended; the survivors' state lands in the ``dedup_state`` table
    partitioned by ingest_batch. Replay safety: the state read excludes
    the current batch's partition, the decision is then a deterministic
    function of (batch, prior state), append_index's commit protocol
    no-ops a redelivered epoch, and the state write is
    delete-own-partition + append — every leg idempotent.

    maintain_every: run one ``Engine.maintain`` cycle after every N
    batches — streaming ingest otherwise accretes one tiny generation
    per batch forever. The hook runs INSIDE foreachBatch, so appends,
    compactions, deletes-by-policy and grace-period GC all serialize on
    the stream's single writer thread (the single-writer scheduler the
    compaction protocol asks for). The generation count then stays
    ≤ max(max_generations, maintain_every + max_generations - 1) and
    search results are unchanged by construction (compaction
    invariants). Maintenance keys off the cumulative batch count, so a
    replayed batch re-triggers the same (idempotent-by-invariants)
    cycle rather than skipping it.
    """
    stream = read_corpus_stream(spark, input_dir)
    n_batches = [0]
    engine_box: list = []

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_corpus_batch(
            spark, batch_df, index_path, batch_id,
            dedup_threshold=dedup_threshold,
            dedup_max_bucket_size=dedup_max_bucket_size)
        n_batches[0] += 1
        if maintain_every and n_batches[0] % maintain_every == 0:
            from rerankers_spark.query.executor import Engine

            if not engine_box:
                engine_box.append(Engine(spark, index_path))
            engine_box[0].refresh()  # see this batch's generation
            engine_box[0].maintain(
                max_generations=max_generations,
                tombstone_ratio=tombstone_ratio,
                gc_retention_secs=gc_retention_secs)

    return (
        stream.writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


QUERY_STREAM_SCHEMA = "query_id long, query string"


def read_query_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of query rows (json lines per file)."""
    return (
        spark.readStream.schema(QUERY_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .json(input_dir)
    )


def stream_query_search(
    spark: SparkSession,
    engine,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    k: int = 10,
    mode: str = "auto",
):
    """Continuous query serving: a stream of (query_id, query) rows →
    ``foreachBatch`` → ``Engine.search`` → parquet results sink
    partitioned by epoch.

    Each micro-batch is one distributed search over the CURRENT index
    (appends land as new generations, visible to the next batch with no
    restart). foreachBatch is at-least-once; idempotence comes from the
    sink layout: every epoch owns its ``batch_id`` partition and the
    write uses dynamic partition overwrite, so a replayed epoch
    overwrites its own partition instead of duplicating rows.
    """
    stream = read_query_stream(spark, input_dir)

    def _answer(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = engine.search(batch_df, k=k, mode=mode).withColumn(
            "batch_id", F.lit(int(batch_id)))
        (res.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id").parquet(output_dir))

    return (
        stream.writeStream.foreachBatch(_answer)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_doc_stats(stream: DataFrame) -> DataFrame:
    """Running per-lang doc/token counts over a corpus stream."""
    return (
        stream.withColumn("n_tokens", F.size(tokenize_col("content")))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time windowed counts with a watermark: late rows inside the
    watermark still update their window; older ones are dropped."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n", "sum_value",
        )
    )
