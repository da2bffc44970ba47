"""Driver-contract registry: named Spark queries + DuckDB oracle SQL.

Each entry is (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql_or_None).
Column names/aliases are kept identical on both sides (the driver's
compare sorts columns by name and hashes values). Floats are rounded on
BOTH sides so summation-order differences (~1e-15) can't flip the hash.

The SQL tokenizer mirrors the frozen spec (FIXTURES.md §4):
``list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
t -> t <> '' AND length(t) <= 64)``.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rerankers_spark.corpus import documents_as_corpus
from rerankers_spark.functions import textstats
from rerankers_spark.functions.tokenize import tokenize_col
from rerankers_spark.operators import ann, bm25, dedup
from rerankers_spark.operators.topk import topk
from rerankers_spark.query.executor import Engine

# Fixed reference query set over the driver `documents` table (its
# vocabulary is stable across scale factors).
ENTRY_QUERIES: list[tuple[int, str]] = [
    (0, "hash join"),
    (1, "window agg stream"),
    (2, "spark query fast"),
    (3, "merge sort batch customer"),
    (4, "vector column scan table"),
    (5, "zz_out_of_vocab_zz filter"),
]

# DuckDB SQL fragments -------------------------------------------------------

_SQL_TOKS = (
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), "
    "t -> t <> '' AND length(t) <= 64)"
)

_SQL_QUERY_VALUES = ", ".join(f"({i}, '{q}')" for i, q in ENTRY_QUERIES)

_SQL_CORPUS_CTES = f"""
toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
docstats AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM toks),
scal AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM docstats),
exploded AS (SELECT doc_id, unnest(toks) AS term FROM toks),
postings AS (SELECT term, doc_id, count(*)::DOUBLE AS tf
             FROM exploded GROUP BY 1, 2),
termstats AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1)
"""

_SQL_BM25_TOPK = f"""
WITH q(query_id, query) AS (VALUES {_SQL_QUERY_VALUES}),
{_SQL_CORPUS_CTES},
qterms AS (
  SELECT DISTINCT query_id, term FROM (
    SELECT query_id,
           unnest(list_filter(regexp_split_to_array(lower(query),
                 '[^a-z0-9_]+'), t -> t <> '' AND length(t) <= 64)) AS term
    FROM q)
),
scored AS (
  -- rank on the ROUNDED score: float sums are order-dependent at ~1e-15,
  -- so ranking on raw doubles is not reproducible across engines; rounding
  -- + doc_id tie-break makes the ordering deterministic everywhere.
  SELECT qt.query_id, p.doc_id,
         round(sum( ln(1.0 + (s.n - ts.df + 0.5) / (ts.df + 0.5))
              * (p.tf * 2.2)
              / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / s.avgdl)) ), 4) AS score
  FROM qterms qt
  JOIN termstats ts USING (term)
  JOIN postings p USING (term)
  JOIN docstats d USING (doc_id)
  CROSS JOIN scal s
  GROUP BY 1, 2
)
SELECT query_id, doc_id, rank, score FROM (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored)
WHERE rank <= 10
"""


def _queries_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(ENTRY_QUERIES, "query_id long, query string")


# Spark-side query functions --------------------------------------------------


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = documents_as_corpus(spark, sf_dir)
    p = bm25.postings(corpus)
    ts = bm25.term_stats(p)
    n_docs, avgdl = bm25.corpus_scalars(corpus)
    scored = bm25.score_candidates(_queries_df(spark), p, ts, n_docs, avgdl)
    # rank on the rounded score — see the note in _SQL_BM25_TOPK.
    rounded = scored.select(
        "query_id", "doc_id", F.round("score", 4).alias("score")
    )
    return topk(rounded, 10).select("query_id", "doc_id", "rank", "score")


def q_term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = documents_as_corpus(spark, sf_dir)
    return (
        corpus.select(F.explode(tokenize_col("content")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25.doc_stats(documents_as_corpus(spark, sf_dir)).select(
        "doc_id", F.col("dl").cast("long").alias("dl")
    )


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25.doc_stats(documents_as_corpus(spark, sf_dir)).agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("dl"), 6).alias("avgdl"),
    )


def q_term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = documents_as_corpus(spark, sf_dir)
    return bm25.term_stats(bm25.postings(corpus)).select(
        "term", F.col("df").cast("long").alias("df")
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content; keep min doc_id per group."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        d.groupBy(F.md5("text").alias("content_md5"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def q_rank_docs_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window rank semantics demo (reference rank=idx+1 idiom) on a
    deterministic score: top-5 longest docs per lang."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "lang", "doc_id", F.col("n_chars").cast("double").alias("score")
    )
    return topk(d, 5, partition_cols=("lang",)).select(
        "lang", "doc_id", F.col("score").cast("long").alias("n_chars"), "rank"
    )


def q_tpch_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style aggregation (relational coverage, SURVEY.md §2B)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast join + agg + deterministic top-10 (relational coverage)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    rev = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    return topk(rev, 10, partition_cols=(), id_col="c_custkey",
                score_col="revenue").select("c_custkey", "c_name", "revenue",
                                            "rank")


def q_bm25_topk_bmw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME fixed query set answered through the FULL index path:
    SPIMI block build → the cogroup shard kernel → global top-k. Shares
    the DuckDB oracle with the exhaustive query, putting the compressed
    index and the shard kernel under the driver's correctness gate.

    Searches k=50 raw, then re-ranks on the rounded score (cross-engine
    determinism, see _SQL_BM25_TOPK note) and cuts to 10. The wide raw
    margin makes the rounded cut provably oracle-identical: a doc can
    only displace the rounded top-10 if its raw score is within 5e-5 of
    raw rank 10, and 40 extra raw ranks cover every such near-tie in
    this corpus (scores are spread over units, verified by the oracle
    gate at both SFs).
    """
    import os
    import shutil

    from rerankers_spark.index.spimi import build_index

    corpus = documents_as_corpus(spark, sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/"))
    idx = f"/tmp/contract_index_{tag}"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(spark, corpus, idx, n_shards=8)
    return _bmw_rounded_top10(Engine(spark, idx))


def q_bm25_topk_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixed query set through the WORST-CASE index lifecycle: build
    on half the corpus, incrementally append the other half (a second
    generation with append-safe loose bounds), then compact_index back to
    one exact-bound generation — and the answers must STILL hash-match
    the from-scratch DuckDB BM25 oracle. Gates spimi.append_index +
    spimi.compact_index end-to-end under the full SQL oracle."""
    import os
    import shutil

    from rerankers_spark.index.spimi import (
        append_index,
        build_index,
        compact_index,
    )

    corpus = documents_as_corpus(spark, sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/"))
    idx = f"/tmp/contract_index_compact_{tag}"
    shutil.rmtree(idx, ignore_errors=True)
    half = corpus.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
    rest = corpus.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1)
    build_index(spark, half, idx, n_shards=8)
    append_index(spark, rest, idx)
    compact_index(spark, idx)
    return _bmw_rounded_top10(Engine(spark, idx))


# Soft-delete fixture: a deterministic ~10% slice selectable in BOTH
# engines (no xxhash64 in DuckDB).
_DELETE_PRED_SQL = "abs(doc_id) % 10 = 3"


def _delete_pred_col():
    return F.abs(F.col("doc_id")) % 10 == 3


def _sql_bm25_topk_lifecycle(purged: bool) -> str:
    """BM25 oracle under the two delete states. purged=False: stats over
    ALL docs, tombstoned docs excluded from candidates only (Lucene
    deferred-stats semantics, spimi.delete_docs). purged=True: the
    delete slice removed from the corpus entirely (post-compaction
    semantics — identical to a fresh build on the survivors)."""
    stats_where = f"WHERE NOT ({_DELETE_PRED_SQL})" if purged else ""
    cand_where = ("" if purged
                  else f"WHERE NOT (abs(p.doc_id) % 10 = 3)")
    corpus_ctes = f"""
toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents {stats_where}),
docstats AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM toks),
scal AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM docstats),
exploded AS (SELECT doc_id, unnest(toks) AS term FROM toks),
postings AS (SELECT term, doc_id, count(*)::DOUBLE AS tf
             FROM exploded GROUP BY 1, 2),
termstats AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1)
"""
    return f"""
WITH q(query_id, query) AS (VALUES {_SQL_QUERY_VALUES}),
{corpus_ctes},
qterms AS (
  SELECT DISTINCT query_id, term FROM (
    SELECT query_id,
           unnest(list_filter(regexp_split_to_array(lower(query),
                 '[^a-z0-9_]+'), t -> t <> '' AND length(t) <= 64)) AS term
    FROM q)
),
scored AS (
  SELECT qt.query_id, p.doc_id,
         round(sum( ln(1.0 + (s.n - ts.df + 0.5) / (ts.df + 0.5))
              * (p.tf * 2.2)
              / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / s.avgdl)) ), 4) AS score
  FROM qterms qt
  JOIN termstats ts USING (term)
  JOIN postings p USING (term)
  JOIN docstats d USING (doc_id)
  CROSS JOIN scal s
  {cand_where}
  GROUP BY 1, 2
)
SELECT query_id, doc_id, rank, score FROM (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored)
WHERE rank <= 10
"""


def _bmw_rounded_top10(eng: Engine, **filters) -> DataFrame:
    """The fixed query set through ``eng.search`` at k=50 (``filters``
    passed on), re-ranked on the rounded score and cut to 10 — see
    q_bm25_topk_bmw."""
    raw = eng.search(_queries_df(eng.spark), k=50, **filters)
    rounded = raw.select(
        "query_id", "doc_id", F.round("score", 4).alias("score")
    )
    return topk(rounded, 10).select("query_id", "doc_id", "rank", "score")


def q_bm25_topk_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deletes: build, tombstone ~10% of docs, query — deleted docs
    must vanish from results while scores keep PRE-delete global stats
    (deferred-stats semantics; the oracle computes stats over all docs
    and filters candidates only)."""
    import os
    import shutil

    from rerankers_spark.index.spimi import build_index, delete_docs

    corpus = documents_as_corpus(spark, sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/"))
    idx = f"/tmp/contract_index_del_{tag}"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(spark, corpus, idx, n_shards=8)
    delete_docs(spark, idx, corpus.select("doc_id")
                .where(_delete_pred_col()))
    return _bmw_rounded_top10(Engine(spark, idx))


def q_bm25_topk_delete_compacted(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """Delete then compact: the purge physically removes tombstoned
    postings AND recomputes N/avgdl/df, so results must hash-match a
    fresh DuckDB build over only the surviving docs."""
    import os
    import shutil

    from rerankers_spark.index.spimi import (
        build_index,
        compact_index,
        delete_docs,
    )

    corpus = documents_as_corpus(spark, sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/"))
    idx = f"/tmp/contract_index_delcomp_{tag}"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(spark, corpus, idx, n_shards=8)
    delete_docs(spark, idx, corpus.select("doc_id")
                .where(_delete_pred_col()))
    compact_index(spark, idx)
    return _bmw_rounded_top10(Engine(spark, idx))


def q_bm25_topk_tiered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiered (partial) compaction under the full SQL oracle: build on a
    third of the corpus, append the other two thirds as two more
    generations, then merge ONLY the two append generations
    (Lucene-style tiered merge — the bulk generation is not rewritten).
    The index is left at 2 visible generations (asserted), and answers
    must still hash-match the from-scratch DuckDB BM25 oracle."""
    import os
    import shutil

    from rerankers_spark.index.spimi import (
        append_index,
        build_index,
        compact_index,
        load_meta,
        visible_generations,
    )

    corpus = documents_as_corpus(spark, sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/"))
    idx = f"/tmp/contract_index_tiered_{tag}"
    shutil.rmtree(idx, ignore_errors=True)
    third = F.pmod(F.xxhash64("doc_id"), F.lit(3))
    paths = build_index(spark, corpus.where(third == 0), idx, n_shards=8)
    append_index(spark, corpus.where(third == 1), idx)
    append_index(spark, corpus.where(third == 2), idx)
    gens = visible_generations(load_meta(spark, paths))
    assert len(gens) == 3
    compact_index(spark, idx, generations=gens[1:])
    after = visible_generations(load_meta(spark, paths))
    assert len(after) == 2 and after[0] == gens[0]
    return _bmw_rounded_top10(Engine(spark, idx))


_SQL_BM25_TOPK_FILTERED = f"""
WITH q(query_id, query) AS (VALUES {_SQL_QUERY_VALUES}),
{_SQL_CORPUS_CTES},
qterms AS (
  SELECT DISTINCT query_id, term FROM (
    SELECT query_id,
           unnest(list_filter(regexp_split_to_array(lower(query),
                 '[^a-z0-9_]+'), t -> t <> '' AND length(t) <= 64)) AS term
    FROM q)
),
scored AS (
  SELECT qt.query_id, p.doc_id,
         round(sum( ln(1.0 + (s.n - ts.df + 0.5) / (ts.df + 0.5))
              * (p.tf * 2.2)
              / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / s.avgdl)) ), 4) AS score
  FROM qterms qt
  JOIN termstats ts USING (term)
  JOIN postings p USING (term)
  JOIN docstats d USING (doc_id)
  CROSS JOIN scal s
  WHERE p.doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
  GROUP BY 1, 2
)
SELECT query_id, doc_id, rank, score FROM (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored)
WHERE rank <= 10
"""


def _lang_en_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id) frame of the lang='en' documents: the doc_filter of
    the filtered contract queries."""
    return (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .where(F.col("lang") == "en")
            .select(F.col("doc_id").cast("long").alias("doc_id")))


def q_bm25_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered search: results restricted to lang='en' docs
    with FULL-corpus stats (a filter narrows candidates, it does not
    re-weight idf — standard filtered-search semantics). Exercises the
    keep-list kernel path end to end under the SQL oracle."""
    import os
    import shutil

    from rerankers_spark.index.spimi import build_index

    corpus = documents_as_corpus(spark, sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/"))
    idx = f"/tmp/contract_index_filt_{tag}"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(spark, corpus, idx, n_shards=8)
    return _bmw_rounded_top10(Engine(spark, idx),
                              doc_filter=_lang_en_ids(spark, sf_dir))


def q_bm25_topk_filtered_bucketed(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The SAME filtered search through the bucketed keep path: the
    keep ids travel the shard cogroup shuffle as data rows
    instead of a driver-collected broadcast array (the 100-TB shape for
    large filters — Engine.search routes every filter past
    KEEP_BROADCAST_CAP there, and the cap is 0 here). Must hash-match
    the same DuckDB oracle as the broadcast path."""
    # the index q_bm25_topk_filtered built for this sf_dir
    paths = _contract_index(spark, sf_dir, "contract_index_filt")
    eng = Engine(spark, paths.root)
    eng.KEEP_BROADCAST_CAP = 0
    return _bmw_rounded_top10(eng, doc_filter=_lang_en_ids(spark, sf_dir))


def q_bm25_topk_attr_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME filtered search once more, through an ATTRIBUTE-
    PARTITIONED index (build_index attr_col='lang'): the lang='en'
    predicate lands on the blocks table's physical partition column and
    prunes whole directories at the parquet scan — no keep-list, no
    broadcast, no extra shuffle (the 100-TB shape for high-selectivity
    attributes). Must hash-match the same DuckDB oracle as both
    keep-list paths."""
    import os
    import shutil

    from rerankers_spark.index.spimi import build_index

    corpus = documents_as_corpus(spark, sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/"))
    idx = f"/tmp/contract_index_attr_{tag}"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(spark, corpus, idx, n_shards=8, attr_col="lang")
    return _bmw_rounded_top10(Engine(spark, idx), attr_filter=["en"])


def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed NDCG@10 (eval.ndcg_df, native window math) of the
    BM25 top-10 run against a deterministic binary qrel set
    (abs(doc_id) % 7 = 0), under the full DuckDB oracle — the
    reference's consistency-gate metric (test_crossenc.ipynb cells
    9-10) as an oracle-gated DataFrame aggregation."""
    from rerankers_spark.eval import ndcg_df

    run = q_bm25_topk(spark, sf_dir).select("query_id", "doc_id", "rank")
    rel = (spark.read.parquet(f"{sf_dir}/documents.parquet")
           .where(F.abs(F.col("doc_id")) % 7 == 0)
           .select(F.col("doc_id").cast("long").alias("doc_id"),
                   F.lit(1.0).alias("rel")))
    qrels = _queries_df(spark).select("query_id").crossJoin(rel)
    return ndcg_df(run, qrels, k=10).select(
        "query_id", F.round("ndcg", 6).alias("ndcg"))


_SQL_NDCG_EVAL = f"""
WITH q(query_id, query) AS (VALUES {_SQL_QUERY_VALUES}),
{_SQL_CORPUS_CTES},
qterms AS (
  SELECT DISTINCT query_id, term FROM (
    SELECT query_id,
           unnest(list_filter(regexp_split_to_array(lower(query),
                 '[^a-z0-9_]+'), t -> t <> '' AND length(t) <= 64)) AS term
    FROM q)
),
scored AS (
  SELECT qt.query_id, p.doc_id,
         round(sum( ln(1.0 + (s.n - ts.df + 0.5) / (ts.df + 0.5))
              * (p.tf * 2.2)
              / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / s.avgdl)) ), 4) AS score
  FROM qterms qt
  JOIN termstats ts USING (term)
  JOIN postings p USING (term)
  JOIN docstats d USING (doc_id)
  CROSS JOIN scal s
  GROUP BY 1, 2
),
run AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id ASC) AS rank
    FROM scored)
  WHERE rank <= 10
),
rel AS (SELECT doc_id, 1.0 AS rel FROM documents WHERE abs(doc_id) % 7 = 0),
qrels AS (SELECT q.query_id, r.doc_id, r.rel FROM q CROSS JOIN rel r),
hits AS (
  SELECT run.query_id, run.rank, coalesce(qr.rel, 0.0) AS rel
  FROM run LEFT JOIN qrels qr
    ON run.query_id = qr.query_id AND run.doc_id = qr.doc_id
),
dcg AS (SELECT query_id, sum(rel / log2(rank + 1.0)) AS dcg
        FROM hits GROUP BY 1),
ideal AS (
  SELECT query_id, sum(rel / log2(irank + 1.0)) AS idcg FROM (
    SELECT query_id, rel,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rel DESC, doc_id ASC) AS irank
    FROM qrels)
  WHERE irank <= 10 GROUP BY 1)
SELECT q.query_id,
       round(CASE WHEN i.idcg > 0
             THEN coalesce(d.dcg, 0.0) / i.idcg ELSE 0.0 END, 6) AS ndcg
FROM q
LEFT JOIN dcg d ON q.query_id = d.query_id
LEFT JOIN ideal i ON q.query_id = i.query_id
"""


def _contract_index(spark: SparkSession, sf_dir: str, name: str):
    """IndexPaths of the shared contract index ``/tmp/<name>_<sf tag>``
    over ``sf_dir``'s documents, as another contract query may have left
    it. Reused only when it is committed in this block format over this
    very corpus — its committed n_docs and the XOR of its visible
    manifest rows' sha256_xor equal the corpus's row count and XOR
    fingerprint (spimi._SHA_XOR_EXPR) — else rebuilt: the tag is only
    the sf dir's basename, so another corpus, another run or other code
    may have written the directory."""
    import os
    import shutil

    from rerankers_spark.index.spimi import (_SHA_XOR_EXPR, IndexPaths,
                                             build_index, load_meta,
                                             reusable_index,
                                             visible_generations)

    idx = f"/tmp/{name}_{os.path.basename(sf_dir.rstrip('/'))}"
    corpus = documents_as_corpus(spark, sf_dir)
    paths = IndexPaths(idx)
    if reusable_index(spark, paths):
        meta = load_meta(spark, paths)
        want = corpus.agg(F.count("*"), F.expr(_SHA_XOR_EXPR)).first()
        have = (paths.read(spark, "manifest")
                .where(F.col("gen").isin(visible_generations(meta)))
                .agg(F.expr("bit_xor(sha256_xor)")).first()[0])
        if (meta["n_docs"], have) == tuple(want):
            return paths
    shutil.rmtree(idx, ignore_errors=True)
    return build_index(spark, corpus, idx, n_shards=8)


def _contract_engine(spark: SparkSession, sf_dir: str, scorer="overlap"):
    """Engine over the shared per-sf contract index that q_bm25_topk_bmw
    builds (see _contract_index)."""
    paths = _contract_index(spark, sf_dir, "contract_index")
    return Engine(spark, paths.root, scorer=scorer)


def q_bm25_topk_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixed query set through Engine.search(mode='auto') — a name
    kept for callers; it runs the same cogroup block-scan kernel as
    every mode — under the same from-scratch DuckDB oracle as the other
    index paths."""
    return _bmw_rounded_top10(_contract_engine(spark, sf_dir), mode="auto")


def q_two_stage_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENTIRE two-stage pipeline under the value-hash gate: BM25
    top-50 through the compressed index (rounded cut, cross-engine
    deterministic), text join, the REAL Reranker scorer (overlap —
    |q∩d|/|q| over the frozen tokenizer, exactly SQL-expressible), and
    the frozen (score desc, doc_id asc) final ranking. Overlap values
    are quantized to multiples of 1/|q| (|q| ≤ ~6), so 4-digit rounding
    cannot merge distinct values and raw-vs-rounded rank order agree."""
    corpus = documents_as_corpus(spark, sf_dir)
    eng = _contract_engine(spark, sf_dir, scorer="overlap")
    raw = eng.search(_queries_df(spark), k=50, mode="bmw")
    cand = topk(
        raw.select("query_id", "doc_id",
                   F.round("score", 4).alias("score")), 50
    ).select("query_id", "doc_id")
    with_text = cand.join(
        corpus.select("doc_id", F.col("content").alias("text")), "doc_id")
    with_query = with_text.join(F.broadcast(_queries_df(spark)),
                                "query_id")
    reranked = eng.reranker.rank_df(with_query, k=10)
    return reranked.select(
        "query_id", "doc_id", "rank", F.round("score", 4).alias("score"))


_SQL_QTOKS = ("list_distinct(list_filter(regexp_split_to_array(lower(query), "
              "'[^a-z0-9_]+'), t -> t <> '' AND length(t) <= 64))")

_SQL_TWO_STAGE = f"""
WITH q(query_id, query) AS (VALUES {_SQL_QUERY_VALUES}),
{_SQL_CORPUS_CTES},
qterms AS (
  SELECT DISTINCT query_id, term FROM (
    SELECT query_id,
           unnest(list_filter(regexp_split_to_array(lower(query),
                 '[^a-z0-9_]+'), t -> t <> '' AND length(t) <= 64)) AS term
    FROM q)
),
scored AS (
  SELECT qt.query_id, p.doc_id,
         round(sum( ln(1.0 + (s.n - ts.df + 0.5) / (ts.df + 0.5))
              * (p.tf * 2.2)
              / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / s.avgdl)) ), 4) AS score
  FROM qterms qt
  JOIN termstats ts USING (term)
  JOIN postings p USING (term)
  JOIN docstats d USING (doc_id)
  CROSS JOIN scal s
  GROUP BY 1, 2
),
cand AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id ASC) AS r
    FROM scored)
  WHERE r <= 50
),
dtoks AS (SELECT doc_id, list_distinct({_SQL_TOKS}) AS dt FROM documents),
qtoks AS (SELECT query_id, {_SQL_QTOKS} AS qt FROM q),
rer AS (
  SELECT c.query_id, c.doc_id,
         round(CASE WHEN len(qk.qt) > 0
               THEN len(list_intersect(qk.qt, dk.dt))::DOUBLE / len(qk.qt)
               ELSE 0.0 END, 4) AS score
  FROM cand c
  JOIN dtoks dk ON c.doc_id = dk.doc_id
  JOIN qtoks qk ON c.query_id = qk.query_id
)
SELECT query_id, doc_id, rank, score FROM (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM rer)
WHERE rank <= 10
"""


# -- dedup / similarity / text-analysis entries -------------------------------

_SQL_SHINGLES = f"""
toksd AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
shing AS (
  SELECT doc_id, unnest(CASE WHEN len(toks) >= 3 THEN
    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
     for i in range(1, len(toks) - 1)] ELSE [] END) AS shingle
  FROM toksd)
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.minhash_signatures(d)


def _sql_minhash() -> str:
    mins = ", ".join(
        f"min(({a} * h + {b}) % {dedup.P_MOD})::BIGINT AS mh{i}"
        for i, (a, b) in enumerate(
            dedup.perm_params(i) for i in range(dedup.N_PERM))
    )
    return f"""
WITH {_SQL_SHINGLES},
hashed AS (SELECT doc_id,
  ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {dedup.P_MOD} AS h
  FROM shing)
SELECT doc_id, {mins} FROM hashed GROUP BY doc_id
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.simhash32(d)


def _sql_simhash() -> str:
    sums = ", ".join(
        f"sum(CASE WHEN ((h >> {j}) & 1) = 1 THEN tf ELSE -tf END) AS s{j}"
        for j in range(32)
    )
    bits = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(32)
    )
    return f"""
WITH toksd AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM
       (SELECT doc_id, unnest(toks) AS term FROM toksd) GROUP BY 1, 2),
hashed AS (SELECT doc_id, tf,
  ('0x' || substr(md5(term), 1, 15))::BIGINT AS h FROM tf),
bitsums AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id)
SELECT doc_id, ({bits})::BIGINT AS simhash FROM bitsums
"""


def q_ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-similar pairs by 3-gram Jaccard (deterministic:
    jaccard is an exact int ratio, tie-break (doc_a, doc_b))."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.ngram_jaccard_pairs(d, min_common=1)
    w = Window.orderBy(F.desc("jaccard"), F.asc("doc_a"), F.asc("doc_b"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 20)
        .select("doc_a", "doc_b", "n_common",
                F.round("jaccard", 6).alias("jaccard"), "rank")
    )


_SQL_NGRAM_JACCARD = f"""
WITH {_SQL_SHINGLES},
dsh AS (SELECT DISTINCT doc_id, shingle FROM shing),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM dsh GROUP BY 1),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_common
  FROM dsh a JOIN dsh b USING (shingle)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
jac AS (
  SELECT doc_a, doc_b, n_common,
         n_common::DOUBLE / (na.n_sh + nb.n_sh - n_common) AS jaccard
  FROM common
  JOIN sizes na ON na.doc_id = doc_a
  JOIN sizes nb ON nb.doc_id = doc_b)
SELECT doc_a, doc_b, n_common, round(jaccard, 6) AS jaccard, rank FROM (
  SELECT *, row_number() OVER (ORDER BY jaccard DESC, doc_a, doc_b) AS rank
  FROM jac) WHERE rank <= 20
"""


def q_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.lsh_candidate_pairs(d)


def _sql_lsh_pairs() -> str:
    rows_per_band = dedup.N_PERM // dedup.N_BANDS
    band_selects = []
    for band in range(dedup.N_BANDS):
        cols = [f"mh{band * rows_per_band + r}" for r in range(rows_per_band)]
        key = " || '_' || ".join(f"{c}::VARCHAR" for c in cols)
        band_selects.append(
            f"SELECT doc_id, {band} AS band, md5({key}) AS band_key FROM mh"
        )
    bands = " UNION ALL ".join(band_selects)
    eq = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)"
        for i in range(dedup.N_PERM)
    )
    mins = ", ".join(
        f"min(({a} * h + {b}) % {dedup.P_MOD})::BIGINT AS mh{i}"
        for i, (a, b) in enumerate(
            dedup.perm_params(i) for i in range(dedup.N_PERM))
    )
    return f"""
WITH {_SQL_SHINGLES},
hashed AS (SELECT doc_id,
  ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {dedup.P_MOD} AS h
  FROM shing),
mh AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),
bands AS ({bands}),
sized AS (SELECT *, count(*) OVER (PARTITION BY band, band_key) AS bn
          FROM bands),
filt AS (SELECT * FROM sized WHERE bn <= 1000),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         count(*)::BIGINT AS n_bands_matched
  FROM filt a JOIN filt b USING (band, band_key)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT p.doc_a, p.doc_b, p.n_bands_matched,
       ({eq}) / {float(dedup.N_PERM)} AS est_jaccard
FROM pairs p
JOIN mh sa ON sa.doc_id = p.doc_a
JOIN mh sb ON sb.doc_id = p.doc_b
"""


def q_lsh_then_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard over LSH candidate pairs only (the scale
    composition — no unpruned shingle self-join in the plan)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.lsh_then_jaccard(d, min_common=1)
    return pairs.select(
        "doc_a", "doc_b", "n_common", F.round("jaccard", 6).alias("jaccard")
    )


def _sql_lsh_then_jaccard() -> str:
    rows_per_band = dedup.N_PERM // dedup.N_BANDS
    band_selects = []
    for band in range(dedup.N_BANDS):
        cols = [f"mh{band * rows_per_band + r}" for r in range(rows_per_band)]
        key = " || '_' || ".join(f"{c}::VARCHAR" for c in cols)
        band_selects.append(
            f"SELECT doc_id, {band} AS band, md5({key}) AS band_key FROM mh"
        )
    bands = " UNION ALL ".join(band_selects)
    mins = ", ".join(
        f"min(({a} * h + {b}) % {dedup.P_MOD})::BIGINT AS mh{i}"
        for i, (a, b) in enumerate(
            dedup.perm_params(i) for i in range(dedup.N_PERM))
    )
    return f"""
WITH {_SQL_SHINGLES},
hashed AS (SELECT doc_id,
  ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {dedup.P_MOD} AS h
  FROM shing),
mh AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),
bands AS ({bands}),
sized AS (SELECT *, count(*) OVER (PARTITION BY band, band_key) AS bn
          FROM bands),
filt AS (SELECT * FROM sized WHERE bn <= 1000),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM filt a JOIN filt b USING (band, band_key)
  WHERE a.doc_id < b.doc_id),
dsh AS (SELECT DISTINCT doc_id, shingle FROM shing),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM dsh GROUP BY 1),
common AS (
  SELECT p.doc_a, p.doc_b, count(*)::BIGINT AS n_common
  FROM pairs p
  JOIN dsh a ON a.doc_id = p.doc_a
  JOIN dsh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2)
SELECT doc_a, doc_b, n_common,
       round(n_common::DOUBLE / (na.n_sh + nb.n_sh - n_common), 6) AS jaccard
FROM common
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER resolution over the lsh_then_jaccard pair set:
    connected components (alternating large-star/small-star DataFrame
    joins, operators/dedup.py) + canonical-doc selection (min doc_id),
    labeled over the FULL corpus — singletons keep themselves. This is
    the actionable dedup stage: drop every keep=false row."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.lsh_then_jaccard(d, min_common=1)
    return dedup.dedup_clusters(pairs, d)


def _sql_cluster_ctes(threshold: float | None = None) -> str:
    """Shared WITH RECURSIVE body: transitive closure over the
    lsh_then_jaccard pair graph (optionally thresholded) — floods each
    node's reachable-label set; min per node = the component's canonical
    id (terminates: the UNION dedups rows)."""
    thresh = (f" WHERE jaccard >= {threshold}"
              if threshold is not None else "")
    return f"""
pairs AS (SELECT doc_a, doc_b FROM ({_sql_lsh_then_jaccard()}){thresh}),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b AS u, doc_a AS v FROM pairs),
reach(u, lbl) AS (
  SELECT u, u AS lbl FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v
),
labels AS (SELECT u AS doc_id, min(lbl) AS cluster_id
           FROM reach GROUP BY u)"""


def _sql_dedup_clusters() -> str:
    return f"""
WITH RECURSIVE
{_sql_cluster_ctes()}
SELECT d.doc_id,
       coalesce(l.cluster_id, d.doc_id) AS cluster_id,
       (coalesce(l.cluster_id, d.doc_id) = d.doc_id) AS keep
FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
"""


DEDUP_CORPUS_THRESHOLD = 0.5


def q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END dedup pipeline under the hash gate: documents →
    LSH-verified Jaccard pairs ≥ 0.5 → transitive clusters → canonical
    survivors, projected back to document rows — the exact table an
    indexing/training stage would consume next."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.dedup_corpus(
        d, method="lsh_jaccard",
        threshold=DEDUP_CORPUS_THRESHOLD).select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"))


def _sql_dedup_corpus() -> str:
    return f"""
WITH RECURSIVE
{_sql_cluster_ctes(DEDUP_CORPUS_THRESHOLD)}
SELECT d.doc_id, d.lang, d.n_chars::BIGINT AS n_chars
FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
WHERE coalesce(l.cluster_id, d.doc_id) = d.doc_id
"""


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.simhash_near_pairs(d, max_hamming=3).select(
        "doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming")
    )


def _sql_simhash_pairs() -> str:
    return f"""
WITH sims AS ({_sql_simhash()}),
bands AS (
  SELECT doc_id, simhash, b.band,
         (simhash >> (b.band * 8)) & 255 AS band_key
  FROM sims, (VALUES (0), (1), (2), (3)) b(band)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sa, b.simhash AS sb
  FROM bands a JOIN bands b USING (band, band_key)
  WHERE a.doc_id < b.doc_id)
SELECT doc_a, doc_b, bit_count(xor(sa, sb))::INT AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""


# ---- ANN contract parameters (FROZEN — oracles inline these) ---------------
# The LSH hyperplanes and the IVF coarse quantizer are seeded literal
# models: deterministic functions of (dim, seed) only, exactly like the
# frozen BM25 constants, so both approximate-ANN queries are pure
# functions of (corpus, constants) and sit under the DuckDB hash gate.
# Approximation QUALITY (recall ≥ 0.8 @10 at these parameters) is
# enforced by tests/test_ann_textstats.py, not by the equality oracle.
EMB_DIM = 64
LSH_ANN_PLANES = 4
LSH_ANN_TABLES = 16
LSH_ANN_BUCKET_CAP = 100_000  # mirrored in the oracle's QUALIFY guard
IVF_CONTRACT_K = 16
IVF_CONTRACT_SEED = 7
IVF_CONTRACT_NPROBE = 8


def _ivf_contract_centroids() -> list[list[float]]:
    return ann.seed_centroids(dim=EMB_DIM, k=IVF_CONTRACT_K,
                              seed=IVF_CONTRACT_SEED)


def _sql_dlist(vals) -> str:
    """A python float list as a DuckDB DOUBLE[] literal (repr keeps the
    full 17 significant digits, so both engines parse the same double)."""
    return "[" + ", ".join(repr(float(v)) for v in vals) + "]"


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN under the hash gate: candidates from 16
    seeded hyperplane tables (union), exact rounded-cosine re-scoring,
    frozen tie-break. The oracle re-derives the same signatures from the
    same plane literals; the bucket cap is mirrored in SQL."""
    e = ann.with_double_vec(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_vec_id"), "vec")
    return ann.lsh_cosine_topk(
        q, e, k=10, n_planes=LSH_ANN_PLANES, dim=EMB_DIM,
        n_tables=LSH_ANN_TABLES, max_bucket_size=LSH_ANN_BUCKET_CAP)


def _sql_lsh_ann_topk() -> str:
    """DuckDB mirror of q_lsh_ann_topk: per-table sign-bit signatures
    over the SAME seeded hyperplane literals (ann.hyperplanes, seeds
    42+t), item-side bucket cap, union of bucket matches, rounded cosine
    top-10 with (cosine desc, vec_id asc)."""
    per_table = []
    for t in range(LSH_ANN_TABLES):
        planes = ann.hyperplanes(EMB_DIM, LSH_ANN_PLANES, seed=42 + t)
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(vec, {_sql_dlist(p)}) >= 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j, p in enumerate(planes)
        )
        per_table.append(f"SELECT vec_id, {t} AS tbl, {bits} AS sig FROM e")
    sig_union = "\nUNION ALL\n".join(per_table)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
sigs AS ({sig_union}),
isig AS (SELECT vec_id, tbl, sig FROM sigs
         QUALIFY count(*) OVER (PARTITION BY tbl, sig)
                 <= {LSH_ANN_BUCKET_CAP}),
qsig AS (SELECT vec_id AS query_vec_id, tbl, sig FROM sigs
         WHERE vec_id < 5),
pairs AS (SELECT DISTINCT q.query_vec_id, i.vec_id
          FROM qsig q JOIN isig i USING (tbl, sig)
          WHERE q.query_vec_id <> i.vec_id),
scored AS (
  SELECT p.query_vec_id, p.vec_id,
         round(list_dot_product(qe.vec, ie.vec)
           / (sqrt(list_dot_product(qe.vec, qe.vec))
              * sqrt(list_dot_product(ie.vec, ie.vec))), 6) AS cosine
  FROM pairs p
  JOIN e qe ON qe.vec_id = p.query_vec_id
  JOIN e ie ON ie.vec_id = p.vec_id)
SELECT query_vec_id, vec_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_vec_id
            ORDER BY cosine DESC, vec_id ASC) AS rank FROM scored)
WHERE rank <= 10
"""


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN under the hash gate: a FROZEN seeded coarse quantizer
    (the trained-artifact input of a real IVF deployment — fitting is
    covered by the k-means tests and embedding_centroids), rounded-L2
    probe selection with centroid-index tie-break, rounded-cosine
    re-scoring within the probed cells."""
    e = ann.with_double_vec(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_vec_id"), "vec")
    return ann.ivf_topk(q, e, _ivf_contract_centroids(), k=10,
                        nprobe=IVF_CONTRACT_NPROBE)


def _sql_ivf_ann_topk() -> str:
    """DuckDB mirror of q_ivf_ann_topk: the same centroid literals,
    assignment = first minimum of ROUNDED squared L2 (cell-index
    tie-break), nprobe nearest cells per query, rounded cosine top-10."""
    cents = _ivf_contract_centroids()
    cent_rows = ",\n".join(
        f"({i}, {_sql_dlist(c)}::DOUBLE[])" for i, c in enumerate(cents))
    dist = (f"round(list_sum(list_transform(range(1, {EMB_DIM + 1}), "
            "j -> (vec[j] - cvec[j]) ** 2)), 6)")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
cent(cell, cvec) AS (VALUES {cent_rows}),
iass AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {dist} ASC, c.cell ASC) AS rn
    FROM e, cent c) WHERE rn = 1),
probe AS (
  SELECT query_vec_id, cell FROM (
    SELECT e.vec_id AS query_vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {dist} ASC, c.cell ASC) AS rn
    FROM e, cent c WHERE e.vec_id < 5)
  WHERE rn <= {IVF_CONTRACT_NPROBE}),
cand AS (SELECT DISTINCT p.query_vec_id, i.vec_id
         FROM probe p JOIN iass i USING (cell)
         WHERE p.query_vec_id <> i.vec_id),
scored AS (
  SELECT c.query_vec_id, c.vec_id,
         round(list_dot_product(qe.vec, ie.vec)
           / (sqrt(list_dot_product(qe.vec, qe.vec))
              * sqrt(list_dot_product(ie.vec, ie.vec))), 6) AS cosine
  FROM cand c
  JOIN e qe ON qe.vec_id = c.query_vec_id
  JOIN e ie ON ie.vec_id = c.vec_id)
SELECT query_vec_id, vec_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_vec_id
            ORDER BY cosine DESC, vec_id ASC) AS rank FROM scored)
WHERE rank <= 10
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact mode (all-pairs oracle
    shape); the LSH mode's recall is tracked by ann_recall."""
    e = ann.with_double_vec(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return ann.cosine_near_dup_pairs(e, threshold=0.4, mode="exact")


_SQL_EMBEDDING_NEAR_DUP = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
p AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
         round(list_dot_product(a.vec, b.vec) /
               (sqrt(list_dot_product(a.vec, a.vec)) *
                sqrt(list_dot_product(b.vec, b.vec))), 6) AS cosine
  FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT doc_a, doc_b, cosine FROM p WHERE cosine >= 0.4
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(method, recall_at_10): approximation quality of the ANN paths vs
    the exact cosine baseline, tracked per round. Hash-gated since the
    round-5 model freeze: with seeded hyperplanes/centroids both approx
    paths are pure functions of (corpus, constants), so the recall
    NUMBER itself is DuckDB-recomputable by composing the three ANN
    oracles (_sql_ann_recall) — the quality FLOOR (≥ 0.8 @10) stays a
    pytest gate (tests/test_ann_textstats.py)."""
    e = ann.with_double_vec(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_vec_id"), "vec")
    exact = ann.cosine_topk(q, e, k=10).select("query_vec_id", "vec_id")
    approx = (
        ann.lsh_cosine_topk(q, e, k=10, n_planes=LSH_ANN_PLANES,
                            dim=EMB_DIM, n_tables=LSH_ANN_TABLES,
                            max_bucket_size=LSH_ANN_BUCKET_CAP)
        .select(F.lit("lsh").alias("method"), "query_vec_id", "vec_id")
        .unionByName(
            ann.ivf_topk(q, e, _ivf_contract_centroids(), k=10,
                         nprobe=IVF_CONTRACT_NPROBE)
            .select(F.lit("ivf").alias("method"), "query_vec_id", "vec_id"))
    )
    n_exact = 5 * 10
    return (
        approx.join(exact, ["query_vec_id", "vec_id"])
        .groupBy("method")
        .agg(F.round(F.count("*") / F.lit(float(n_exact)), 4)
             .alias("recall_at_10"))
    )


def _sql_ann_recall() -> str:
    """DuckDB mirror of q_ann_recall: the three already-gated ANN
    oracles (exact cosine, hyperplane-LSH, frozen-centroid IVF) composed
    into the recall@10 measurement — approx top-10 ∩ exact top-10 over
    the 5×10 exact set, per method."""
    return f"""
WITH exact AS (SELECT query_vec_id, vec_id FROM ({_SQL_ANN}) t),
lsh AS (SELECT query_vec_id, vec_id FROM ({_sql_lsh_ann_topk()}) t),
ivf AS (SELECT query_vec_id, vec_id FROM ({_sql_ivf_ann_topk()}) t),
approx AS (
  SELECT 'lsh' AS method, query_vec_id, vec_id FROM lsh
  UNION ALL
  SELECT 'ivf' AS method, query_vec_id, vec_id FROM ivf)
SELECT method, round(count(*) / 50.0, 4) AS recall_at_10
FROM approx JOIN exact USING (query_vec_id, vec_id)
GROUP BY method
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FEATURE half of the multimodal path, under the hash gate: the
    stub feature is sha256(payload)[:16]/255 as float32
    (sources/multimodal.py:46-53) — an exact function of the payload, so
    every vector element is DuckDB-recomputable from the hex digest.
    Each float32 element is projected back to its defining byte
    (round(x·255) is an exact inverse at float32 precision — |err| ≤
    n·2⁻²⁴·255 < 0.5) and posexploded, sidestepping cross-engine float32
    hashing while gating every element the mapInPandas UDF produced.
    Payloads derive from documents.text like multimodal_metadata, which
    gates the n_bytes/sha256 half on the same extractor."""
    from rerankers_spark.sources import multimodal

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.abs(F.col("doc_id")) % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.create_map().cast("map<string,string>").alias("meta"),
    )
    feats = multimodal.extract_features(media)
    return feats.select(
        "doc_id", "media_type", "n_bytes", "payload_sha256", "decoder",
        F.posexplode(
            F.transform(F.col("feature").cast("array<double>"),
                        lambda x: F.round(x * 255.0, 0).cast("int"))
        ).alias("pos", "byte_val"),
    )


_SQL_MULTIMODAL_FEATURES = """
WITH hx AS (
  SELECT doc_id,
         CASE abs(doc_id) % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         octet_length(encode(text))::BIGINT AS n_bytes,
         sha256(text) AS h
  FROM documents)
SELECT doc_id, media_type, n_bytes, h AS payload_sha256,
       'stub' AS decoder, t.range::INT AS pos,
       CAST((strpos('0123456789abcdef', substr(h, 2 * t.range + 1, 1)) - 1)
              * 16
            + (strpos('0123456789abcdef', substr(h, 2 * t.range + 2, 1)) - 1)
            AS INT) AS byte_val
FROM hx, range(0, 16) t
"""


def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ORACLE-CHECKABLE half of the multimodal path: payloads derived
    deterministically from documents.text (UTF-8 bytes), pushed through
    the SAME mapInPandas feature extractor as multimodal_features —
    n_bytes and payload_sha256 are exact DuckDB-recomputable facts, so
    the binary-column plumbing (schema, Arrow batching, byte fidelity
    through the parquet→Arrow→pandas round trip) sits under the hash
    gate. Only the stub feature vector stays rows-only
    (multimodal_features)."""
    from rerankers_spark.sources import multimodal

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.abs(F.col("doc_id")) % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.create_map().cast("map<string,string>").alias("meta"),
    )
    return multimodal.extract_features(media).select(
        "doc_id", "media_type", "n_bytes", "payload_sha256"
    )


_SQL_MULTIMODAL_METADATA = """
SELECT doc_id,
       CASE abs(doc_id) % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS media_type,
       octet_length(encode(text))::BIGINT AS n_bytes,
       sha256(text) AS payload_sha256
FROM documents
"""


def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.fingerprint(d)


def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.winnowing_fingerprints(d)


_SQL_WINNOWING = f"""
WITH toksd AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
lists AS (
  SELECT doc_id, CASE WHEN len(toks) >= 3 THEN
    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
     for i in range(1, len(toks) - 1)] ELSE [] END AS lst
  FROM toksd),
shingp AS (
  SELECT doc_id, generate_subscripts(lst, 1) - 1 AS pos,
         unnest(lst) AS shingle
  FROM lists),
hashed AS (
  SELECT doc_id, pos,
         ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {dedup.P_MOD} AS h
  FROM shingp),
mins AS (
  SELECT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {dedup.WINNOW_W - 1}
                      FOLLOWING) AS fp
  FROM hashed)
SELECT DISTINCT doc_id, fp FROM mins
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.lang_id(d)


def _sql_lang_id() -> str:
    langs = sorted(textstats.LANG_STOPWORDS)
    hit_cols = ", ".join(
        "len(list_filter(toks, t -> t IN ("
        + ", ".join(f"'{w}'" for w in textstats.LANG_STOPWORDS[lang])
        + f"))) AS hits_{lang}"
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN hits_{lang} = {best} THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
WITH toksd AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
hits AS (SELECT doc_id, {hit_cols} FROM toksd)
SELECT doc_id, {case} AS pred_lang FROM hits
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.quality_score(d)


def _sql_quality() -> str:
    stop = ", ".join(f"'{w}'" for w in textstats.LANG_STOPWORDS["en"])
    return f"""
WITH toksd AS (SELECT doc_id, length(text)::BIGINT AS n_chars,
                      {_SQL_TOKS} AS toks FROM documents),
base AS (SELECT doc_id, n_chars,
  len(toks)::BIGINT AS n_tokens,
  len(list_filter(toks, t -> t IN ({stop})))::BIGINT AS n_stop,
  list_reduce(list_prepend(0, [length(t)::BIGINT for t in toks]),
              (a, b) -> a + b) AS sum_token_len
  FROM toksd)
SELECT doc_id, n_chars, n_tokens,
  round(sum_token_len / n_tokens, 4) AS avg_token_len,
  round(n_stop / n_tokens, 4) AS stopword_ratio,
  round(least(n_tokens / 100.0, 1.0) * 0.5
        + least((n_stop / n_tokens) * 10.0, 1.0) * 0.5, 4) AS quality
FROM base
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.token_counts(d)


_SQL_TOKEN_COUNTS = f"""
SELECT doc_id,
  len(list_filter(regexp_split_to_array(text, ' +'),
      t -> length(t) > 0))::BIGINT AS ws_tokens,
  len({_SQL_TOKS})::BIGINT AS re_tokens,
  ceil(length(text) / 4.0)::BIGINT AS approx_bpe_tokens
FROM documents
"""


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = ann.with_double_vec(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_vec_id"), "vec")
    return ann.cosine_topk(q, e, k=10)


_SQL_ANN = """
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 5),
i AS (SELECT vec_id, embedding::DOUBLE[] AS iv FROM embeddings),
s AS (SELECT q.qid AS query_vec_id, i.vec_id,
        round(list_dot_product(qv, iv)
          / (sqrt(list_dot_product(qv, qv))
             * sqrt(list_dot_product(iv, iv))), 6) AS cosine
      FROM q JOIN i ON i.vec_id <> q.qid)
SELECT query_vec_id, vec_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_vec_id
            ORDER BY cosine DESC, vec_id ASC) AS rank FROM s)
WHERE rank <= 10
"""


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return (
        e.select("label", F.posexplode(
            F.col("embedding").cast("array<double>")).alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg("v"), 6).alias("centroid"))
    )


_SQL_CENTROIDS = """
WITH exploded AS (
  SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(embedding::DOUBLE[]) AS v
  FROM embeddings)
SELECT label, dim, round(avg(v), 6) AS centroid
FROM exploded GROUP BY 1, 2
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", "ts"),
                          "yyyy-MM-dd HH:mm:ss").alias("hour"),
        )
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value"), 4).alias("sum_value"))
    )


_SQL_EVENTS_HOURLY = """
SELECT event_type, strftime(date_trunc('hour', ts),
       '%Y-%m-%d %H:%M:%S') AS hour,
       count(*)::BIGINT AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag → new-session
    flag → running sum = session id. The batch formulation of the
    stateful-streaming classic; per-user windows bound the shuffle."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(order))
    flagged = ev.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap >= 1800), 1).otherwise(0),
    )
    running = Window.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = flagged.withColumn(
        "session_id", F.sum("is_new").over(running)
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


_SQL_SESSIONIZE = """
WITH lagged AS (
  SELECT user_id, event_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN prev IS NULL
                   OR date_diff('second', prev, ts) >= 1800
              THEN 1 ELSE 0 END AS is_new
  FROM lagged),
sess AS (
  SELECT user_id, value,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS session_id
  FROM flagged)
SELECT user_id, session_id, count(*)::BIGINT AS n_events,
       round(sum(value), 4) AS sum_value
FROM sess GROUP BY 1, 2
"""


def q_stateful_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING twin of events_sessionize: the same events run
    through the applyInPandasWithState operator as a real
    Structured-Streaming query (availableNow), with a far-future
    sentinel event whose watermark flushes every held session. Closed
    sessions must agree with the batch/DuckDB definition — a custom
    stateful streaming op under the full oracle gate."""
    import glob
    import shutil
    import tempfile
    import uuid

    from rerankers_spark.streaming.stateful import stateful_sessionize

    tmp = tempfile.mkdtemp(prefix=f"sess_stream_{uuid.uuid4().hex[:8]}_")
    in_dir, ckpt = f"{tmp}/in", f"{tmp}/ckpt"
    import os

    os.makedirs(in_dir)
    for f in glob.glob(f"{sf_dir}/events.parquet/*.parquet") or [
        f"{sf_dir}/events.parquet"
    ]:
        if os.path.isfile(f):
            shutil.copy(f, f"{in_dir}/{os.path.basename(f)}")
    from datetime import timedelta

    ev_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    max_ts = spark.read.parquet(f"{sf_dir}/events.parquet").agg(
        F.max("ts")).collect()[0][0]
    # one far-future sentinel row (user -1, filtered out below) whose
    # watermark provably flushes every real session; field values chosen
    # by name so the entry tracks the driver's events schema
    defaults = {"event_id": -1, "user_id": -1,
                "ts": max_ts + timedelta(days=30),
                "event_type": "x", "value": 0.0, "props": ""}
    row = tuple(defaults.get(f.name) for f in ev_schema.fields)
    spark.createDataFrame([row], ev_schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{tmp}/sentinel")
    for f in glob.glob(f"{tmp}/sentinel/*.parquet"):
        shutil.copy(f, f"{in_dir}/zz_{os.path.basename(f)}")

    # watermarks need TIMESTAMP (the driver table is TIMESTAMP_NTZ)
    stream = spark.readStream.schema(ev_schema).parquet(in_dir) \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    name = f"sess_ct_{uuid.uuid4().hex[:8]}"
    q = (
        stateful_sessionize(stream)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    out = (
        spark.table(name)
        .where(F.col("user_id") >= 0)
        .select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss")
            .alias("session_start"),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss")
            .alias("session_end"),
            "n_events",
            F.round("sum_value", 4).alias("sum_value"),
        )
    )
    # materialize before the temp dir goes away
    result = spark.createDataFrame(out.collect(), out.schema)
    shutil.rmtree(tmp, ignore_errors=True)
    return result


_SQL_STATEFUL_SESSIONIZE = """
WITH lagged AS (
  SELECT user_id, event_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN prev IS NULL
                   OR date_diff('second', prev, ts) >= 1800
              THEN 1 ELSE 0 END AS is_new
  FROM lagged),
sess AS (
  SELECT user_id, ts, value,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS session_id
  FROM flagged)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       count(*)::BIGINT AS n_events,
       round(sum(value), 4) AS sum_value
FROM sess GROUP BY user_id, session_id
"""


def q_semi_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    with_orders = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi")
    return with_orders.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"))


def q_anti_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    no_orders = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti")
    return no_orders.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"))


QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], Optional[str]]] = {
    "bm25_topk": (q_bm25_topk, _SQL_BM25_TOPK),
    "term_frequencies": (
        q_term_frequencies,
        f"WITH {_SQL_CORPUS_CTES} "
        "SELECT term, count(*)::BIGINT AS freq FROM exploded GROUP BY 1",
    ),
    "doc_stats": (
        q_doc_stats,
        f"WITH {_SQL_CORPUS_CTES} SELECT doc_id, dl FROM docstats",
    ),
    "corpus_stats": (
        q_corpus_stats,
        f"WITH {_SQL_CORPUS_CTES} "
        "SELECT count(*)::BIGINT AS n_docs, round(avg(dl), 6) AS avgdl "
        "FROM docstats",
    ),
    "term_df": (
        q_term_df,
        f"WITH {_SQL_CORPUS_CTES} "
        "SELECT term, df::BIGINT AS df FROM termstats",
    ),
    "dedup_exact": (
        q_dedup_exact,
        "SELECT md5(text) AS content_md5, min(doc_id) AS keep_doc_id, "
        "count(*)::BIGINT AS n_copies FROM documents GROUP BY 1",
    ),
    "rank_docs_by_length": (
        q_rank_docs_by_length,
        "SELECT lang, doc_id, n_chars, rank FROM ("
        "  SELECT lang, doc_id, n_chars, row_number() OVER ("
        "    PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rank"
        "  FROM documents) WHERE rank <= 5",
    ),
    "tpch_pricing_summary": (
        q_tpch_pricing_summary,
        "SELECT l_returnflag, l_linestatus, "
        "round(sum(l_quantity), 2) AS sum_qty, "
        "round(sum(l_extendedprice), 2) AS sum_base_price, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
        "round(avg(l_quantity), 4) AS avg_qty, "
        "count(*)::BIGINT AS count_order "
        "FROM lineitem GROUP BY 1, 2",
    ),
    "bm25_topk_bmw": (q_bm25_topk_bmw, _SQL_BM25_TOPK),
    "bm25_topk_compacted": (q_bm25_topk_compacted, _SQL_BM25_TOPK),
    "bm25_topk_filtered": (q_bm25_topk_filtered, _SQL_BM25_TOPK_FILTERED),
    "bm25_topk_filtered_bucketed": (q_bm25_topk_filtered_bucketed,
                                    _SQL_BM25_TOPK_FILTERED),
    "bm25_topk_attr_pruned": (q_bm25_topk_attr_pruned,
                              _SQL_BM25_TOPK_FILTERED),
    "ndcg_eval": (q_ndcg_eval, _SQL_NDCG_EVAL),
    "bm25_topk_auto": (q_bm25_topk_auto, _SQL_BM25_TOPK),
    "two_stage_rank": (q_two_stage_rank, _SQL_TWO_STAGE),
    "bm25_topk_deleted": (q_bm25_topk_deleted,
                          _sql_bm25_topk_lifecycle(purged=False)),
    "bm25_topk_delete_compacted": (q_bm25_topk_delete_compacted,
                                   _sql_bm25_topk_lifecycle(purged=True)),
    "bm25_topk_tiered": (q_bm25_topk_tiered, _SQL_BM25_TOPK),
    "lsh_candidate_pairs": (q_lsh_candidate_pairs, _sql_lsh_pairs()),
    "simhash_near_pairs": (q_simhash_near_pairs, _sql_simhash_pairs()),
    "lsh_ann_topk": (q_lsh_ann_topk, _sql_lsh_ann_topk()),
    "ivf_ann_topk": (q_ivf_ann_topk, _sql_ivf_ann_topk()),
    "ann_recall": (q_ann_recall, _sql_ann_recall()),
    "embedding_near_dup": (q_embedding_near_dup, _SQL_EMBEDDING_NEAR_DUP),
    "multimodal_features": (q_multimodal_features,
                            _SQL_MULTIMODAL_FEATURES),
    "multimodal_metadata": (q_multimodal_metadata, _SQL_MULTIMODAL_METADATA),
    "minhash_signatures": (q_minhash_signatures, _sql_minhash()),
    "simhash": (q_simhash, _sql_simhash()),
    "ngram_jaccard_topk": (q_ngram_jaccard_topk, _SQL_NGRAM_JACCARD),
    "lsh_then_jaccard": (q_lsh_then_jaccard, _sql_lsh_then_jaccard()),
    "dedup_clusters": (q_dedup_clusters, _sql_dedup_clusters()),
    "dedup_corpus": (q_dedup_corpus, _sql_dedup_corpus()),
    "dedup_fingerprint": (
        q_dedup_fingerprint,
        f"SELECT doc_id, md5(array_to_string({_SQL_TOKS}, ' ')) AS fp "
        "FROM documents",
    ),
    "winnowing_fingerprints": (q_winnowing_fingerprints, _SQL_WINNOWING),
    "lang_id": (q_lang_id, _sql_lang_id()),
    "quality_score": (q_quality_score, _sql_quality()),
    "token_counts": (q_token_counts, _SQL_TOKEN_COUNTS),
    "ann_cosine_topk": (q_ann_cosine_topk, _SQL_ANN),
    "embedding_centroids": (q_embedding_centroids, _SQL_CENTROIDS),
    "events_hourly": (q_events_hourly, _SQL_EVENTS_HOURLY),
    "events_sessionize": (q_events_sessionize, _SQL_SESSIONIZE),
    "stateful_sessionize_stream": (q_stateful_sessionize,
                                   _SQL_STATEFUL_SESSIONIZE),
    "semi_join_segments": (
        q_semi_join_segments,
        "SELECT c_mktsegment, count(*)::BIGINT AS n_customers FROM customer "
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) "
        "GROUP BY 1",
    ),
    "anti_join_segments": (
        q_anti_join_segments,
        "SELECT c_mktsegment, count(*)::BIGINT AS n_customers FROM customer "
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) "
        "GROUP BY 1",
    ),
    "top_customers": (
        q_top_customers,
        "SELECT c_custkey, c_name, revenue, rank FROM ("
        "  SELECT c_custkey, c_name, revenue, row_number() OVER ("
        "    ORDER BY revenue DESC, c_custkey ASC) AS rank FROM ("
        "    SELECT c_custkey, c_name, round(sum(o_totalprice), 2) AS revenue"
        "    FROM orders JOIN customer ON o_custkey = c_custkey"
        "    GROUP BY 1, 2)) WHERE rank <= 10",
    ),
}
