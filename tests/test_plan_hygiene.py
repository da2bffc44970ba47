"""Physical-plan checks (BASELINE.md hot-path constraint + SURVEY.md §7):

* no ``BatchEvalPython`` (row-at-a-time Python) anywhere — only
  ``ArrowEvalPython`` / ``MapInPandas`` / ``MapInArrow`` /
  ``FlatMapGroupsInPandas``;
* parquet scans carry pushed filters / pruned schemas where expected;
* the small side of the candidate join is broadcast.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rerankers_spark.corpus import documents_as_corpus
from rerankers_spark.operators import bm25
from rerankers_spark.driver_contract import ENTRY_QUERIES, QUERIES


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_per_row_python_in_contract_queries(spark, sf_dir):
    for name, (fn, _) in QUERIES.items():
        plan = _plan(fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, f"{name} uses per-row Python"


def test_bm25_plan_broadcasts_query_terms(spark, sf_dir):
    corpus = documents_as_corpus(spark, sf_dir)
    qdf = spark.createDataFrame(ENTRY_QUERIES, "query_id long, query string")
    df = bm25.bm25_topk(qdf, corpus, k=10)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan


def test_parquet_filter_pushdown(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("lang") == "en")
        .select("doc_id")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # column pruning: text must not be read for a doc_id projection
    assert "ReadSchema" in plan and "text" not in plan.split("ReadSchema")[1]


def test_blocks_scan_prunes_terms(spark, tiny_corpus):
    """Query-time block read must push the term filter into parquet."""
    import shutil

    from rerankers_spark.index.spimi import build_index

    path = "/tmp/test_index_plan"
    shutil.rmtree(path, ignore_errors=True)
    paths = build_index(spark, tiny_corpus, path, n_shards=4)
    df = spark.read.parquet(paths.blocks).where(
        F.col("term").isin(["def", "return"])
    )
    plan = _plan(df)
    assert "PushedFilters" in plan and "In(term" in plan


def test_whole_stage_codegen_on_native_path(spark, sf_dir):
    # AQE wraps the plan and hides codegen spans until runtime; disable it
    # here so the static physical plan shows the codegen stages.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        corpus = documents_as_corpus(spark, sf_dir)
        plan = _plan(bm25.postings(corpus))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # "*(n)" prefixes mark WholeStageCodegen stages in the simple plan form
    assert "*(" in plan
    # map-side partial aggregation before the shuffle (scale requirement)
    assert "partial_count" in plan
