"""Per-group exact top-k and rank assignment.

Spark-first re-expression of the reference's sort+rank idiom
(``sorted(zip(docs, scores), reverse=True)``, rank=idx+1 — canonical site
rerankers/models/transformer_ranker.py:90-95) and ``RankedResults.top_k``
(rerankers/results.py:56-68).

The tie-break is frozen to ``(score desc, doc_id asc)`` (FIXTURES.md §4):
the reference relies on Python's stable sort over passed order; with an
explicit doc_id tie-break both engines are deterministic and comparable.

Catalyst rewrites the rank-filter to a per-partition bounded heap
(WindowGroupLimit in the physical plan), so per-query top-k never
materializes the full sorted group — this is the scale path for
"top-10 out of millions of candidates per query".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _rank_sql(partition_cols, score_col: str, id_col: str) -> str:
    """``row_number() OVER (PARTITION BY .. ORDER BY score DESC, id ASC)``
    as one SQL string: one parse on the JVM where the Column API costs a
    py4j round trip per window piece. DESC sorts nulls last and ASC nulls
    first, as F.desc / F.asc do."""
    part = ", ".join(f"`{c}`" for c in partition_cols)
    over = (f"PARTITION BY {part} " if part else "") + \
        f"ORDER BY `{score_col}` DESC, `{id_col}` ASC"
    return f"row_number() OVER ({over})"


def with_rank(df: DataFrame, partition_cols=("query_id",),
              score_col: str = "score", id_col: str = "doc_id") -> DataFrame:
    """rank = row_number over (score desc, id asc) — reference rank=idx+1."""
    return df.withColumn(
        "rank", F.expr(_rank_sql(partition_cols, score_col, id_col)))


def topk(df: DataFrame, k: int, partition_cols=("query_id",),
         score_col: str = "score", id_col: str = "doc_id") -> DataFrame:
    """Exact per-group top-k (reference results.py:56-68, k-best by score)."""
    return with_rank(df, partition_cols, score_col, id_col).where(
        f"rank <= {int(k)}")
