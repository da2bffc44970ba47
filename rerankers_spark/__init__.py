"""rerankers_spark — a PySpark-native two-stage retrieval engine.

Re-expresses the capabilities of AnswerDotAI/rerankers (reference at
/root/reference, a pure-Python inference wrapper: rerankers/reranker.py:196)
as a Spark-first engine:

* first stage: SPIMI inverted-index build + exact BM25 top-k (a
  columnar block-scan kernel per shard task)
  (the stage the reference's consistency tests consume as a precomputed
  artifact — tests/consistency_notebooks/test_crossenc.ipynb cell 5)
* second stage: ``Reranker.rank(query, docs, doc_ids) -> RankedResults``
  API parity (reference rerankers/models/ranker.py:19-24) with batched
  pandas-UDF scorers.

Everything relational is declarative DataFrame API (Catalyst optimizes);
Python only appears as Arrow-vectorized UDFs (tokenizer parity UDF,
varbyte codec, shard kernel, rerank scorers) — never per-row Python.
"""

__version__ = "0.1.0"

from rerankers_spark.results import Document, RankedResults, Result  # noqa: F401
from rerankers_spark.rerank.ranker import (  # noqa: F401
    Reranker,
    get_reranker,
    prep_docs,
    prep_image_docs,
)
