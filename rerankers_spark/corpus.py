"""Corpus: synthetic source-code corpus generator + driver-testdata adapter.

Input contract (BASELINE.json input_hint): an Iceberg/parquet table
``corpus(repo, path, commit, lang, content)``. Two providers:

* :func:`synthetic_corpus` — deterministic (seed=42) generator matching
  FIXTURES.md §1: Zipf-distributed code-like vocabulary, one head term
  (``common_util``, ~50% of docs — the skew/salting fixture), rare terms
  in exactly 1-3 docs (idf edge cases).
* :func:`documents_as_corpus` — adapter view over the driver-generated
  ``documents.parquet`` (doc_id, text, lang, source, n_chars).

Both return the canonical corpus DataFrame with a stable ``doc_id``
(xxhash64(repo,path,commit) for synthetic; the provided id for driver
data) and a ``content_sha256`` lineage column (per-row invariant,
BASELINE.json input_hint).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VOCAB_SIZE = 5000
ZIPF_S = 1.2
HEAD_TERM = "common_util"
SEED = 42

_EXTS = ["py", "java", "scala", "go", "rs", "md"]
_EXT_LANG = {"py": "python", "java": "java", "scala": "scala", "go": "go",
             "rs": "rust", "md": "markdown"}
_KEYWORDS = ["def", "class", "return", "import", "public", "static", "void",
             "fn", "let", "match", "val", "object", "func", "struct", "impl"]


def _vocab(rng: np.random.Generator) -> list[str]:
    """5,000 code-like identifiers: snake_case, camelCase, keywords."""
    stems = ["get", "set", "parse", "build", "run", "load", "dump", "read",
             "write", "merge", "split", "index", "query", "token", "score",
             "rank", "doc", "term", "block", "shard", "batch", "node", "tree",
             "hash", "cache", "util", "config", "stream", "buffer", "field"]
    vocab: list[str] = []
    vocab.extend(_KEYWORDS)
    i = 0
    while len(vocab) < VOCAB_SIZE:
        a = stems[int(rng.integers(len(stems)))]
        b = stems[int(rng.integers(len(stems)))]
        if rng.random() < 0.5:
            w = f"{a}_{b}_{i}"
        else:
            w = f"{a}{b.capitalize()}{i}"
        vocab.append(w.lower())  # tokenizer lowercases anyway; keep frozen
        i += 1
    return vocab[:VOCAB_SIZE]


def synthetic_corpus_pdf(n_docs: int, seed: int = SEED) -> pd.DataFrame:
    """Deterministic pandas corpus (also used by tests/oracle.py directly)."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab(rng))
    # Zipf ranks over the vocabulary, clipped into range.
    rows = []
    n_rare = min(50, max(1, n_docs // 10))
    rare_terms = [f"rareterm_{j}" for j in range(n_rare)]
    rare_assignment: dict[int, list[str]] = {}
    for j, rt in enumerate(rare_terms):
        k = 1 + (j % 3)  # present in exactly 1-3 docs
        for d in rng.choice(n_docs, size=min(k, n_docs), replace=False):
            rare_assignment.setdefault(int(d), []).append(rt)
    for i in range(n_docs):
        n_tok = int(rng.integers(20, 401))
        ranks = rng.zipf(ZIPF_S, size=n_tok)
        toks = list(vocab[np.minimum(ranks - 1, VOCAB_SIZE - 1)])
        if rng.random() < 0.5:
            toks.insert(int(rng.integers(len(toks) + 1)), HEAD_TERM)
        for rt in rare_assignment.get(i, []):
            toks.insert(int(rng.integers(len(toks) + 1)), rt)
        content = " ".join(toks)
        w1 = vocab[int(rng.integers(VOCAB_SIZE))]
        w2 = vocab[int(rng.integers(VOCAB_SIZE))]
        ext = _EXTS[int(rng.integers(len(_EXTS)))]
        commit = "".join(rng.choice(list("0123456789abcdef"), size=40))
        rows.append(
            (f"org{i % 7}/repo{i % 23}", f"src/{w1}/{w2}.{ext}", commit,
             _EXT_LANG[ext], content)
        )
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


def with_doc_id(df: DataFrame) -> DataFrame:
    """Stable doc_id = xxhash64(repo,path,commit); lineage sha256(content)."""
    return df.withColumn(
        "doc_id", F.xxhash64("repo", "path", "commit")
    ).withColumn("content_sha256", F.sha2(F.col("content"), 256))


def synthetic_corpus(spark: SparkSession, n_docs: int, seed: int = SEED,
                     n_partitions: int | None = None) -> DataFrame:
    pdf = synthetic_corpus_pdf(n_docs, seed)
    df = spark.createDataFrame(pdf)
    if n_partitions:
        df = df.repartition(n_partitions)
    return with_doc_id(df)


def documents_as_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapter: driver documents.parquet → corpus shape (FIXTURES.md §5)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        d.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("source").alias("repo"),
            F.lit("").alias("path"),
            F.lit("").alias("commit"),
            F.col("lang"),
            F.col("text").alias("content"),
        )
        .withColumn("content_sha256", F.sha2(F.col("content"), 256))
    )


def queries_table(spark: SparkSession, corpus: DataFrame, n_queries: int = 50,
                  seed: int = SEED) -> DataFrame:
    """Reference query set (FIXTURES.md §2): 1-5 terms per query sampled
    from the corpus vocabulary + head/rare/OOV mix. Deterministic."""
    import numpy as _np

    terms = [
        r["term"]
        for r in (
            corpus.select(F.explode(
                F.split(F.lower("content"), "[^a-z0-9_]+")).alias("term"))
            .where((F.length("term") > 0) & (F.length("term") <= 64))
            .groupBy("term").count().orderBy(F.desc("count"), F.asc("term"))
            .limit(200).collect()
        )
    ]
    rng = _np.random.default_rng(seed)
    qs = []
    for qid in range(n_queries):
        k = int(rng.integers(1, 6))
        picked = [terms[int(rng.integers(len(terms)))] for _ in range(k)]
        if qid % 7 == 0:
            picked.append(HEAD_TERM)
        if qid % 11 == 0:
            picked.append("zz_out_of_vocab_zz")
        qs.append((qid, " ".join(picked)))
    return spark.createDataFrame(qs, "query_id long, query string")
