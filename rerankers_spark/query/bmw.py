"""Exact BM25 top-k over the doc-sharded block index.

Distribution model: queries are hash-bucketed (``pmod(xxhash64(query_id),
B)``) and cogrouped with the shard's blocks on ``(shard_id, bucket)`` —
the doc-sharded layout (see spimi.py) makes shard results independent, so
per-shard top-k lists merge into the EXACT global top-k with a final
window. Parallelism = |shards| × B; both the query set and the block
table stay distributed (no driver collect — the query log can be a
billion rows).

Every Engine.search mode runs through this one cogroup kernel (bmw_topk),
and every (query, shard) pair in it is scored by scan_topk_shard: a
columnar, term-at-a-time block scan that decodes the task's blocks once
and scores all of the task's queries against a dense accumulator. Per-
element work stays inside numpy: the per-query Python loops it replaced
(doc-at-a-time WAND, a per-term groupby) measured 8-24× slower per task
on 1k-25k-doc shards, single-threaded on a 4-core x86 host.

Block-max WAND (Ding & Suel, "Faster Top-k Document Retrieval Using
Block-Max Indexes", SIGIR 2011) stays as wand_topk_shard(n_docs_shard=0):
the reference the property tests hold the scan to and the skipping
kernel the single-threaded kernel bench times. Its correctness
invariants:

* pivot docs are nondecreasing, so pruning at ``ub <= θ`` can never drop
  a doc that would win the (score desc, doc_id asc) tie-break against an
  equal-scored doc already in the heap (earlier == smaller doc_id wins);
* the skip target d' is capped by the next term's cur_doc, so docs in
  [pivot, d') provably have upper bound ≤ θ from the prefix terms alone;
* scores are recomputed in float64 from raw (tf, dl) stored in the block
  plus global (idf, avgdl) → equal to the block scan up to float-sum
  reassociation (~1e-15).
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rerankers_spark.index import varbyte as vb
from rerankers_spark.index.spimi import IndexPaths
from rerankers_spark.operators import bm25
from rerankers_spark.operators.topk import topk

#: exhausted-cursor sentinel: one past the int64 range, so a real doc id
#: of int64 max (xxhash64 spans the full range) is never mistaken for it
_INF = 1 << 63


class _TermData:
    """Immutable per-term block table + shared decode cache, reusable by
    every query in the shard group that touches this term."""

    __slots__ = ("term", "block_first", "block_last", "block_max",
                 "docs_vb", "tfs_vb", "dls_vb", "nblocks", "max_sat",
                 "_cache")

    def __init__(self, term: str, g: pd.DataFrame, avgdl: float | None = None,
                 bound_mode: str = "exact"):
        g = g.sort_values("block_id")
        self.term = term
        self.block_first = g["first_doc"].to_numpy(dtype=np.int64)
        self.block_last = g["last_doc"].to_numpy(dtype=np.int64)
        if bound_mode == "exact":
            # max_tfsat is exact for the avgdl the block was built with
            self.block_max = g["max_tfsat"].to_numpy(dtype=np.float64)
        else:
            # append-safe bound: tf_sat is increasing in tf, decreasing in
            # dl → sat(max_tf, min_dl, CURRENT avgdl) bounds every posting
            # even after incremental appends shifted avgdl (spimi.append_index)
            from rerankers_spark.index.spimi import _tf_sat

            self.block_max = _tf_sat(
                g["max_tf"].to_numpy(dtype=np.int64),
                g["min_dl"].to_numpy(dtype=np.int64), float(avgdl))
        self.docs_vb = g["docs_vb"].to_list()
        self.tfs_vb = g["tfs_vb"].to_list()
        self.dls_vb = g["dls_vb"].to_list()
        self.nblocks = len(self.block_last)
        self.max_sat = float(self.block_max.max()) if self.nblocks else 0.0
        self._cache: dict[int, tuple] = {}

    def decoded(self, bi: int) -> tuple:
        got = self._cache.get(bi)
        if got is None:
            got = (
                vb.delta_decode(self.docs_vb[bi],
                                base=int(self.block_first[bi])),
                vb.decode(self.tfs_vb[bi]),
                vb.decode(self.dls_vb[bi]),
            )
            self._cache[bi] = got
        return got


class _TermCursor:
    __slots__ = ("idf", "data", "bi", "pos", "docs", "tfs",
                 "dls", "exhausted", "U", "avgdl")

    def __init__(self, data: _TermData, idf: float, avgdl: float):
        self.data = data
        self.idf = idf
        self.avgdl = avgdl
        self.exhausted = data.nblocks == 0
        self.U = idf * data.max_sat
        self.bi = -1
        self.pos = 0
        if not self.exhausted:
            self._load(0)

    @property
    def block_last(self):
        return self.data.block_last

    @property
    def block_max(self):
        return self.data.block_max

    @property
    def nblocks(self):
        return self.data.nblocks

    def _load(self, bi: int) -> None:
        self.bi = bi
        self.docs, self.tfs, self.dls = self.data.decoded(bi)
        self.pos = 0

    def cur_doc(self) -> int:
        return _INF if self.exhausted else int(self.docs[self.pos])

    def score_at_cur(self) -> float:
        # scalar restatement of spimi._tf_sat (frozen math) — kept inline
        # because this is the WAND inner loop and a per-call numpy round
        # trip on scalars measurably slows it
        tf = float(self.tfs[self.pos])
        dl = float(self.dls[self.pos])
        sat = tf * (bm25.K1 + 1.0) / (
            tf + bm25.K1 * (1.0 - bm25.B + bm25.B * dl / self.avgdl)
        )
        return self.idf * sat

    def shallow_block(self, target: int) -> int:
        """Index of first block with last_doc >= target (no decode);
        nblocks if none."""
        if self.exhausted or target >= _INF:
            return self.nblocks
        return int(np.searchsorted(self.block_last, target, side="left"))

    def shallow_max(self, target: int) -> float:
        sbi = self.shallow_block(target)
        return float(self.block_max[sbi]) if sbi < self.nblocks else 0.0

    def shallow_last(self, target: int) -> int:
        sbi = self.shallow_block(target)
        return int(self.block_last[sbi]) if sbi < self.nblocks else _INF

    def seek(self, target: int) -> None:
        """Advance to first posting with doc >= target (block skips are
        metadata-only; at most one decode)."""
        if self.exhausted or self.cur_doc() >= target:
            return
        sbi = self.shallow_block(target)
        if sbi >= self.nblocks:
            self.exhausted = True
            return
        if sbi != self.bi:
            self._load(sbi)
        self.pos = int(np.searchsorted(self.docs, target, side="left"))
        # block_last >= target guarantees pos < len(docs)

    def advance_one(self) -> None:
        if self.exhausted:
            return
        self.pos += 1
        if self.pos >= len(self.docs):
            if self.bi + 1 >= self.nblocks:
                self.exhausted = True
            else:
                self._load(self.bi + 1)


def _is_deleted(deleted: np.ndarray, doc: int) -> bool:
    """Membership in a sorted tombstone array (binary search)."""
    i = int(np.searchsorted(deleted, doc))
    return i < len(deleted) and int(deleted[i]) == doc


def _excluded(doc: int, deleted: np.ndarray | None,
              keep: np.ndarray | None) -> bool:
    """A doc is excluded if tombstoned OR outside the keep-list (the
    metadata-filtered-search doc set); both arrays sorted."""
    if deleted is not None and _is_deleted(deleted, doc):
        return True
    return keep is not None and not _is_deleted(keep, doc)


def _wand_single(cursors: list[_TermCursor], k: int,
                 deleted: np.ndarray | None = None,
                 keep: np.ndarray | None = None
                 ) -> list[tuple[float, int]]:
    """Core WAND loop: cursors → [(score, -doc_id)] top-k heap contents.

    deleted / keep: sorted doc-id arrays — excluded (resp. non-member-
    excluded) docs never enter the heap; θ then only rises from eligible
    docs, so skipping stays sound (an excluded doc costs one evaluation,
    never a result)."""
    cursors = [c for c in cursors if not c.exhausted]
    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap

    def theta() -> float:
        return heap[0][0] if len(heap) >= k else float("-inf")

    while True:
        live = [c for c in cursors if not c.exhausted]
        if not live:
            break
        live.sort(key=lambda c: c.cur_doc())
        # pivot selection on global upper bounds
        acc, p = 0.0, -1
        th = theta()
        for i, c in enumerate(live):
            acc += c.U
            if acc > th:
                p = i
                break
        if p < 0:
            break
        pivot_doc = live[p].cur_doc()
        if pivot_doc == _INF:
            break
        # extend the prefix over every term tied at pivot_doc: they all
        # contribute to pivot_doc (bound must include them) and the skip
        # cap below must be STRICTLY past pivot_doc to guarantee progress
        while p + 1 < len(live) and live[p + 1].cur_doc() == pivot_doc:
            p += 1
        prefix = live[: p + 1]
        # block-max refinement
        ub = sum(c.idf * c.shallow_max(pivot_doc) for c in prefix)
        if ub > th:
            if live[0].cur_doc() == pivot_doc:
                # fully aligned → exact evaluation
                if not _excluded(pivot_doc, deleted, keep):
                    s = 0.0
                    for c in live:
                        if c.cur_doc() == pivot_doc:
                            s += c.score_at_cur()
                    item = (s, -pivot_doc)
                    if len(heap) < k:
                        heapq.heappush(heap, item)
                    elif item > heap[0]:
                        heapq.heapreplace(heap, item)
                for c in live:
                    if c.cur_doc() == pivot_doc:
                        c.advance_one()
            else:
                # align: every prefix cursor must reach the pivot before it
                # can be evaluated or safely skipped
                for c in prefix:
                    if c.cur_doc() < pivot_doc:
                        c.seek(pivot_doc)
        else:
            # skip: docs in [pivot_doc, d') are bounded by the same block
            # maxes; d' capped by the next term's cur_doc
            d_new = min(c.shallow_last(pivot_doc) for c in prefix)
            d_new = max(d_new + 1 if d_new != _INF else _INF,
                        pivot_doc + 1)
            if p + 1 < len(live):
                d_new = min(d_new, live[p + 1].cur_doc())
            for c in prefix:
                c.seek(d_new)
    return sorted(heap, key=lambda t: (-t[0], -t[1]))


#: cells (query rows × distinct docs) of the block scan's dense float64
#: score accumulator per chunk of queries (~16 MB); a task scores its
#: queries in as many chunks as this budget needs.
SCAN_BUDGET_CELLS = 1 << 21


def _empty_topk() -> pd.DataFrame:
    return pd.DataFrame({
        "query_id": np.array([], dtype=np.int64),
        "doc_id": np.array([], dtype=np.int64),
        "score": np.array([], dtype=np.float64),
    })


def _member_mask(arr: np.ndarray, vals: np.ndarray) -> np.ndarray:
    """vals ∈ arr, elementwise (arr sorted)."""
    if len(arr) == 0:
        return np.zeros(len(vals), dtype=bool)
    pos = np.minimum(np.searchsorted(arr, vals), len(arr) - 1)
    return arr[pos] == vals


def scan_topk_shard(
    pdf: pd.DataFrame,
    query_ids: np.ndarray,
    terms: np.ndarray,
    idfs: np.ndarray,
    k: int,
    avgdl: float,
    deleted: np.ndarray | None = None,
    keep: np.ndarray | None = None,
) -> pd.DataFrame:
    """The production shard kernel: one shard's blocks + the task's
    (query_id, term, idf) rows → per-query local top-k, as (query_id,
    doc_id, score) rows ordered by query_id, then (score desc, doc_id
    asc).

    Columnar block scan, term-at-a-time:

    1. sort the block rows once by (term, block_id) and decode each
       varbyte stream in one pass (varbyte.delta_decode_blocks), so each
       term's postings are one contiguous slice;
    2. map the task's distinct docs to dense column indices;
    3. score the queries in chunks against a dense (queries × docs)
       float64 accumulator of at most SCAN_BUDGET_CELLS cells, adding
       ``idf * _tf_sat`` for the i-th present term of every query of the
       chunk at once, in sorted term order per query — the per-doc sum
       order of a per-query scan, so scores do not depend on chunking;
    4. tombstones (``deleted``) and the keep-list (``keep``; an empty
       array keeps nothing) become a column mask; each row keeps every
       doc tied at its k-th score, then cuts on (score desc, doc_id asc).
    """
    from rerankers_spark.index.spimi import _tf_sat

    if len(pdf) == 0 or len(query_ids) == 0:
        return _empty_topk()
    codes, vocab = pd.factorize(pdf["term"], sort=True)
    order = np.lexsort((pdf["block_id"].to_numpy(dtype=np.int64), codes))
    docs, counts = vb.delta_decode_blocks(
        pdf["docs_vb"].to_numpy(dtype=object)[order],
        pdf["first_doc"].to_numpy(dtype=np.int64)[order])
    tfs, _ = vb.decode_many(pdf["tfs_vb"].to_numpy(dtype=object)[order])
    dls, _ = vb.decode_many(pdf["dls_vb"].to_numpy(dtype=object)[order])
    sat = _tf_sat(tfs, dls, avgdl)
    # posting range [lo, hi) of each term code
    bounds = np.concatenate(([0], np.cumsum(counts)))
    first_block = np.searchsorted(codes[order], np.arange(len(vocab) + 1))
    t_lo, t_hi = bounds[first_block[:-1]], bounds[first_block[1:]]
    col_doc, col = np.unique(docs, return_inverse=True)
    n_cols = len(col_doc)
    eligible = np.ones(n_cols, dtype=bool)
    if deleted is not None:
        eligible &= ~_member_mask(deleted, col_doc)
    if keep is not None:
        eligible &= _member_mask(keep, col_doc)

    # query rows: present terms only, sorted by (query_id, term) — term
    # codes follow string order (factorize sort=True)
    q_code = vocab.get_indexer(terms)
    present = q_code >= 0
    q_id = np.asarray(query_ids, dtype=np.int64)[present]
    q_code = q_code[present].astype(np.int64)
    q_idf = np.asarray(idfs, dtype=np.float64)[present]
    o = np.lexsort((q_code, q_id))
    q_id, q_code, q_idf = q_id[o], q_code[o], q_idf[o]
    new_q = np.ones(len(q_id), dtype=bool)
    new_q[1:] = q_id[1:] != q_id[:-1]
    q_row = np.cumsum(new_q) - 1
    q_pos = np.arange(len(q_id)) - np.flatnonzero(new_q)[q_row]
    row_qid = q_id[new_q]
    n_rows = len(row_qid)

    step = max(1, SCAN_BUDGET_CELLS // max(1, n_cols))
    out_q, out_d, out_s = [], [], []
    for r0 in range(0, n_rows, step):
        r1 = min(r0 + step, n_rows)
        e0, e1 = np.searchsorted(q_row, (r0, r1))
        acc = np.zeros((r1 - r0) * n_cols, dtype=np.float64)
        hit = np.zeros((r1 - r0) * n_cols, dtype=bool)
        for p in range(int(q_pos[e0:e1].max()) + 1):
            sel = np.flatnonzero(q_pos[e0:e1] == p) + e0
            lo = t_lo[q_code[sel]]
            n = t_hi[q_code[sel]] - lo
            # concatenated ranges [lo, lo + n) of every selected term
            idx = np.repeat(lo - np.cumsum(n) + n, n) + np.arange(n.sum())
            cell = np.repeat(q_row[sel] - r0, n) * n_cols + col[idx]
            acc[cell] += np.repeat(q_idf[sel], n) * sat[idx]
            hit[cell] = True
        acc = acc.reshape(r1 - r0, n_cols)
        ok = hit.reshape(r1 - r0, n_cols) & eligible
        score = np.where(ok, acc, -np.inf)
        if n_cols > k:
            # every doc tied with the row's k-th score stays a candidate
            kth = np.partition(score, n_cols - k, axis=1)[:, n_cols - k]
            ok &= score >= kth[:, None]
        rows, cols = np.nonzero(ok)
        vals = score[rows, cols]
        # columns ascend with doc_id → (score desc, doc_id asc) per row
        o = np.lexsort((cols, -vals, rows))
        rows, cols, vals = rows[o], cols[o], vals[o]
        rank = np.arange(len(rows)) - np.searchsorted(rows, rows)
        cut = rank < k
        out_q.append(row_qid[r0 + rows[cut]])
        out_d.append(col_doc[cols[cut]])
        out_s.append(vals[cut])
    if not out_q:
        return _empty_topk()
    return pd.DataFrame({"query_id": np.concatenate(out_q),
                         "doc_id": np.concatenate(out_d),
                         "score": np.concatenate(out_s)})


def wand_topk_shard(
    pdf: pd.DataFrame,
    queries: list[tuple[int, list[tuple[str, float]]]],
    k: int,
    avgdl: float,
    bound_mode: str = "exact",
    n_docs_shard: float = 0.0,
    deleted: np.ndarray | None = None,
    keep: np.ndarray | None = None,
) -> pd.DataFrame:
    """One shard's blocks + a query list ``[(query_id, [(term, idf)])]``
    → per-query local top-k.

    n_docs_shard > 0 runs the production kernel (scan_topk_shard) on the
    flattened query list. n_docs_shard == 0 runs pure block-max WAND, one
    query at a time: decoded blocks are cached per term (decoded lazily
    through varbyte.delta_decode) and shared across the queries. The
    WAND route is kept as the reference for the property tests and the
    single-threaded kernel bench; no search mode takes it.
    """
    if n_docs_shard > 0:
        flat = [(q, t, idf) for q, ts in queries for t, idf in ts]
        return scan_topk_shard(
            pdf, np.array([q for q, _, _ in flat], dtype=np.int64),
            np.array([t for _, t, _ in flat], dtype=object),
            np.array([i for _, _, i in flat], dtype=np.float64),
            k, avgdl, deleted, keep)
    terms: dict[str, _TermData] = {
        str(term): _TermData(str(term), g, avgdl, bound_mode)
        for term, g in pdf.groupby("term")
    }
    qids, docs, scores = [], [], []
    for query_id, q_terms in queries:
        cursors = [_TermCursor(terms[t], idf, avgdl)
                   for t, idf in q_terms if t in terms]
        for s, negd in _wand_single(cursors, k, deleted, keep):
            qids.append(query_id)
            docs.append(-negd)
            scores.append(s)
    return pd.DataFrame(
        {
            "query_id": np.array(qids, dtype=np.int64),
            "doc_id": np.array(docs, dtype=np.int64),
            "score": np.array(scores, dtype=np.float64),
        }
    )


def query_terms_with_idf(
    spark: SparkSession, queries: DataFrame, paths: IndexPaths, n_docs: int,
    termstats: DataFrame | None = None,
) -> DataFrame:
    """(query_id, term, idf) for the query set — termstats is filtered to
    the query vocabulary BEFORE it is broadcast (semi-reduction), so the
    full vocab table never moves. termstats, when not passed, is loaded
    through spimi.load_termstats (per-generation contributions summed
    over the COMMITTED generations only)."""
    from rerankers_spark.index.spimi import load_meta, load_termstats

    qt = bm25.query_terms(queries)
    ts = termstats if termstats is not None \
        else load_termstats(spark, paths, load_meta(spark, paths))
    return qt.join(ts, "term", "inner").select(
        "query_id", "term", bm25.idf_col(F.col("df"), n_docs).alias("idf"),
        "df",
    )


#: query vocabularies up to this size are collected once (a bounded,
#: semi-reduced driver list) so the term filter pushes into the parquet
#: block scan; above it the broadcast bucket-join is the only term filter
#: (a query log that big touches most of the index anyway).
TERM_PUSHDOWN_CAP = 4096

#: query sets whose exploded (query_id, term) pair count stays under this
#: cap get the LOCAL query-plan fast path: the pairs are collected once
#: (one bounded single-stage job), term df is fetched with one bounded
#: lookup, and every downstream use — term pushdown list, routing,
#: bucket_terms, the cogroup query side — derives from a LOCAL relation.
#: The distributed formulation re-evaluated the tokenize→dedup→termstats
#: subplan 3-5× per search (term collect, bucket_terms broadcast build,
#: q_side — measured ~4 s of redundant jobs per 50-query call at
#: local[32]). Past the cap the original fully distributed path runs
#: unchanged — a billion-row query log never touches the driver (same
#: size-gated adaptivity as a broadcast join).
QT_PAIR_CAP = 16384


def local_df(spark: SparkSession, pdf: pd.DataFrame,
             schema: str) -> DataFrame:
    """Small driver-side table → DataFrame via the Arrow path: the data
    ships to the JVM as Arrow batches decoded JVM-side, so downstream
    stages evaluate it without Python workers. createDataFrame on a
    plain row list instead builds a pickled Python RDD whose every
    evaluation (broadcast builds, cogroup sides) spins up a Python
    worker — measured multi-second 1-task stages on the query path."""
    return spark.createDataFrame(pdf, schema=schema)


class LocalQueryPlan:
    """Driver-materialized query plan: deduplicated in-vocabulary
    (query_id, term) pairs + the df of each term. idf is NOT computed
    here — it is evaluated by the same JVM Column expression
    (bm25.idf_col) on the local relation, so scores stay bit-identical
    to the distributed path."""

    __slots__ = ("pairs", "terms", "df_map", "n_queries", "qtext")

    def __init__(self, pairs, terms, df_map, n_queries, qtext=None):
        self.pairs = pairs          # [(query_id, term)] in-vocab, sorted
        self.terms = terms          # sorted in-vocab term list
        self.df_map = df_map        # {term: df}
        self.n_queries = n_queries  # distinct query ids INCLUDING all-OOV
        self.qtext = qtext or {}    # {query_id: query text} (rank() join)

    @property
    def empty(self) -> bool:
        return not self.pairs

    def queries_df(self, spark: SparkSession) -> DataFrame:
        """(query_id, query) of every query with at least one token — a
        local relation standing in for the caller's queries DataFrame in
        the rank() text join (the caller's frame is often a pickled-RDD
        local table whose every broadcast build spins Python workers)."""
        ids = sorted(self.qtext)
        return local_df(
            spark,
            pd.DataFrame({"query_id": np.array(ids, dtype=np.int64),
                          "query": [self.qtext[q] for q in ids]}),
            "query_id long, query string")

    def local_qt(self, spark: SparkSession, n_docs: int) -> DataFrame:
        """(query_id, term, idf, df) as a local relation — the same
        schema query_terms_with_idf produces, no distributed subplan."""
        pdf = pd.DataFrame({
            "query_id": np.array([q for q, _ in self.pairs],
                                 dtype=np.int64),
            "term": [t for _, t in self.pairs],
            "df": np.array([self.df_map[t] for _, t in self.pairs],
                           dtype=np.int64),
        })
        return (
            local_df(spark, pdf, "query_id long, term string, df long")
            .coalesce(1)
            .select("query_id", "term",
                    bm25.idf_col(F.col("df"), n_docs).alias("idf"), "df")
        )


def build_local_query_plan(
    spark: SparkSession, queries: DataFrame, termstats: DataFrame,
) -> LocalQueryPlan | None:
    """Try to materialize the bounded local query plan; None past the
    caps (the caller falls back to the distributed formulation). Two
    bounded jobs: a single-stage limit-collect of the exploded query
    terms, and a term-df lookup filtered to that vocabulary. The caps
    are read at call time."""
    from rerankers_spark.functions.tokenize import tokenize_col

    pair_rows = (
        queries.select("query_id", "query",
                       F.explode(tokenize_col("query")).alias("term"))
        .limit(QT_PAIR_CAP + 1).collect())
    if len(pair_rows) > QT_PAIR_CAP:
        return None
    seen = sorted({(int(r["query_id"]), str(r["term"]))
                   for r in pair_rows})
    qtext = {int(r["query_id"]): r["query"] for r in pair_rows}
    terms = sorted({t for _, t in seen})
    if len(terms) > TERM_PUSHDOWN_CAP:
        return None
    df_map: dict[str, int] = {}
    if terms:
        df_map = {
            r["term"]: int(r["df"])
            for r in termstats.where(F.col("term").isin(terms)).collect()}
    pairs = [(q, t) for q, t in seen if t in df_map]
    return LocalQueryPlan(pairs, sorted(df_map), df_map,
                          len({q for q, _ in seen}), qtext)


def empty_result(spark: SparkSession) -> DataFrame:
    return local_df(
        spark,
        pd.DataFrame({"query_id": np.array([], dtype=np.int64),
                      "doc_id": np.array([], dtype=np.int64),
                      "score": np.array([], dtype=np.float64),
                      "rank": np.array([], dtype=np.int32)}),
        "query_id long, doc_id long, score double, rank int")


def bmw_topk(
    spark: SparkSession,
    queries: DataFrame,
    paths: IndexPaths,
    k: int = 10,
    meta: dict | None = None,
    termstats: DataFrame | None = None,
    blocks: DataFrame | None = None,
    query_buckets: int | None = None,
    keep_docs: DataFrame | None = None,
    tomb_bc="load",
    keep_mode: str = "broadcast",
    attr_values: list | None = None,
    keep_bc=None,
    local_plan: LocalQueryPlan | None = None,
) -> DataFrame:
    """(query_id, doc_id, score, rank): exact BM25 top-k, every (query,
    shard) pair scored by the columnar block scan (scan_topk_shard).

    meta/termstats/blocks: pre-loaded handles (Engine caches them so
    repeated searches skip the scalar-read jobs).
    query_buckets: query-side fan-out B (tasks = |shards| × B). None →
    sized so shards × buckets covers the cluster. Block bytes for a term
    shared by several buckets are replicated per bucket — B trades
    shuffle volume for query parallelism.

    Soft deletes: if a tombstones table exists (spimi.delete_docs), its
    sorted id array is broadcast and excluded inside the kernels; global
    stats stay pre-delete until compact_index purges (Lucene deferred-
    stats semantics).

    keep_docs: optional (doc_id) DataFrame — metadata-filtered search
    (e.g. ``docs.where(lang='python').select('doc_id')``). Results are
    restricted to the set, scores keep full-corpus stats (the standard
    filtered-search semantics: a filter narrows candidates, it does not
    re-weight idf).

    keep_mode selects how the keep set reaches the kernels:

    * 'broadcast' — driver-collected sorted array, one broadcast (like
      tombstones); right for filters up to ~10M ids (~80 MB).
    * 'bucketed' — keep ids are SHARDED like the index (each id maps to
      its candidate shard in every visible generation) and flow through
      the same (shard, bucket) cogroup shuffle as marker rows on the
      query side — fully distributed: no driver materialization, no
      broadcast, each task sees only its own shard's keep ids (|keep| ×
      |gens| × B shuffle rows), so arbitrarily large filters stay off
      the driver; Engine.search auto-routes past
      KEEP_BROADCAST_CAP. (At 100 TB a high-selectivity attribute is
      still better as an index partition column — that prunes whole
      shards instead of filtering inside them.)

    tomb_bc: the sentinel "load" (default) loads + broadcasts the
    tombstone array per call; a long-lived Engine instead passes its
    CACHED Broadcast (or None for no tombstones) so repeated searches
    reuse one broadcast instead of re-collecting and re-shipping the
    array every query (executor.Engine._handles).

    keep_bc: optional pre-built Broadcast of keep_docs' sorted id array
    (broadcast mode only) — the Engine's per-filter cache
    (executor.Engine._keep_entry) passes it so repeated filtered searches
    skip the collect + ship; a standalone call leaves it None and this
    function builds one.

    attr_values: for an attribute-partitioned index (build_index
    attr_col), restrict results to these attribute values — the filter
    lands on the ``attr`` PARTITION column of the blocks scan, so whole
    partition directories are pruned before any byte moves (the 100-TB
    shape for high-selectivity attributes; no keep-list, no broadcast).
    Scores keep full-corpus stats, identical semantics to the
    keep-list paths. On an attr-partitioned index the cogroup keys are
    (shard, attr, bucket): each (shard, attr) posting run is
    doc-disjoint, so per-group top-k lists still merge exactly.
    """
    from rerankers_spark.index.spimi import (
        _gen_shards,
        load_meta,
        load_tombstones,
        visible_generations,
    )

    if meta is None:
        meta = load_meta(spark, paths)
    if isinstance(tomb_bc, str) and tomb_bc == "load":
        tomb = load_tombstones(spark, paths)
        tomb_bc = (spark.sparkContext.broadcast(tomb)
                   if tomb is not None else None)
    if keep_mode not in ("broadcast", "bucketed"):
        raise ValueError(f"unknown keep_mode {keep_mode!r}")
    bucketed_keep = keep_docs is not None and keep_mode == "bucketed"
    if bucketed_keep:
        keep_bc = None
    elif keep_docs is not None and keep_bc is None:
        # standalone call: collect + broadcast here. A long-lived Engine
        # passes its CACHED keep_bc instead (executor.Engine._keep_entry) so
        # repeated filtered searches ship the array once, like tomb_bc.
        keep_arr = np.array(
            [r["doc_id"] for r in keep_docs.select("doc_id")
             .distinct().collect()], dtype=np.int64)
        keep_arr.sort()
        keep_bc = spark.sparkContext.broadcast(keep_arr)
    n_docs, avgdl = int(meta["n_docs"]), float(meta["avgdl"])
    shard_ids = _gen_shards(visible_generations(meta),
                            int(meta.get("n_shards", 32)))
    n_shards_total = len(shard_ids)
    if query_buckets is None:
        query_buckets = max(
            1, spark.sparkContext.defaultParallelism
            // max(1, n_shards_total))
    n_buckets = int(query_buckets)

    # local_plan: None = not probed yet; False = probed, past the caps
    # (use the distributed path without re-probing); a LocalQueryPlan is
    # truthy and selects the local path.
    if not local_plan and termstats is None:
        from rerankers_spark.index.spimi import load_termstats

        termstats = load_termstats(spark, paths, meta)
    if local_plan is None:
        local_plan = build_local_query_plan(spark, queries,
                                            termstats) or False
    push_terms: list[str] | None = None
    if local_plan:
        # bounded local plan: query terms + df already on the driver —
        # qt becomes a LOCAL relation (idf via the same JVM expression),
        # no per-call re-evaluation of the tokenize→dedup→termstats
        # subplan and no separate pushdown-collect job.
        if local_plan.empty:
            return empty_result(spark)
        qt = local_plan.local_qt(spark, n_docs)
        push_terms = local_plan.terms
    else:
        qt = query_terms_with_idf(spark, queries, paths, n_docs, termstats)
        # Bounded term-list pushdown (see TERM_PUSHDOWN_CAP). limit() means
        # the driver never holds more than CAP+1 terms even for a huge
        # query log. Collected from the RAW query terms (no termstats join
        # in this job); OOV terms in the list are harmless — they match no
        # blocks.
        term_rows = bm25.query_terms(queries).select("term").distinct() \
            .limit(TERM_PUSHDOWN_CAP + 1).collect()
        if not term_rows:
            return empty_result(spark)
        if len(term_rows) <= TERM_PUSHDOWN_CAP:
            push_terms = [r["term"] for r in term_rows]

    # the bucket expression is instantiated separately per cogroup side so
    # the two plans don't share an attribute (ambiguous-self-join check)
    def _bucket_col():
        return F.pmod(F.xxhash64("query_id"), F.lit(n_buckets)).cast("int")

    if blocks is None:
        from rerankers_spark.index.spimi import load_blocks

        blocks = load_blocks(spark, paths, meta)
    attr_mode = bool(meta.get("attr_col"))
    if attr_values is not None:
        if not attr_mode:
            raise ValueError(
                "attr_values requires an attribute-partitioned index "
                "(build_index attr_col=...); use keep_docs for ad-hoc "
                "filters")
        attr_values = [str(v) for v in attr_values]
        # partition-column predicate → whole attr directories pruned at
        # the parquet scan (PartitionFilters, asserted in tests)
        blocks = blocks.where(F.col("attr").isin(attr_values))
    if push_terms is not None:
        blocks = blocks.where(F.col("term").isin(push_terms))

    # blocks → (shard_id, bucket) groups: a block row is replicated to
    # exactly the buckets whose queries use its term.
    bucket_terms = qt.select(_bucket_col().alias("bucket"),
                             "term").distinct()
    blocks_b = blocks.join(F.broadcast(bucket_terms), "term")

    # queries → every shard (shard results are doc-disjoint and merge
    # exactly); the query side is rows of (id, term, idf) — tiny next to
    # block bytes, so the |shards|× replication is the cheap direction.
    shards = local_df(
        spark, pd.DataFrame({"shard_id": np.array(shard_ids,
                                                  dtype=np.int32)}),
        "shard_id int")
    if attr_mode:
        # cogroup keys gain attr: each (shard, attr) is a doc-disjoint
        # posting run, so group-local top-k lists still merge exactly.
        # The query side fans out to the (shard, attr) pairs in play —
        # the explicit filter list when given (no scan), else the
        # distinct partition pairs of the (term-filtered) blocks.
        group_keys = ["shard_id", "attr", "bucket"]
        if attr_values is not None:
            side_df = shards.crossJoin(local_df(
                spark, pd.DataFrame({"attr": list(attr_values)}),
                "attr string"))
        else:
            # FRESH scan (not the `blocks` handle): the pairs listing
            # would otherwise share its plan subtree with the cogroup's
            # block side → ambiguous-self-join analysis error. Reads
            # only the two partition columns (footer-level scan).
            from rerankers_spark.index.spimi import load_blocks

            side_df = (load_blocks(spark, paths, meta)
                       .select("shard_id", "attr").distinct())
    else:
        group_keys = ["shard_id", "bucket"]
        side_df = shards
    q_side = qt.select("query_id", "term", "idf",
                       _bucket_col().alias("bucket")) \
        .crossJoin(F.broadcast(side_df))

    if bucketed_keep:
        # keep ids flow through the SAME (shard, bucket) cogroup shuffle
        # as marker rows on the query side: each id maps to its candidate
        # shard in every visible generation, replicated per bucket. Fully
        # distributed — no driver array, no broadcast. The id rides in
        # the NON-NULL query_id column with term=NULL as the marker: a
        # nullable int64 column would decay to float64 through Arrow →
        # pandas and mangle full-range xxhash64 doc ids (CLAUDE.md
        # invariant); query_id stays int64 because every row sets it.
        from rerankers_spark.index.spimi import visible_generations

        n_sh = int(meta.get("n_shards", 32))
        base = keep_docs.select(
            F.col("doc_id").cast("long").alias("keep_doc")).distinct()
        keep_sharded = None
        for g in visible_generations(meta):
            part = base.select(
                (F.pmod(F.xxhash64("keep_doc"), F.lit(n_sh))
                 + F.lit(g * n_sh)).cast("int").alias("shard_id"),
                "keep_doc")
            keep_sharded = part if keep_sharded is None \
                else keep_sharded.unionByName(part)
        buckets = local_df(
            spark, pd.DataFrame({"bucket": np.arange(n_buckets,
                                                     dtype=np.int32)}),
            "bucket int")
        keep_rows = keep_sharded.crossJoin(F.broadcast(buckets))
        if attr_mode:
            # a keep id's attr is unknown → replicate it to the shard's
            # attr groups so every group knows its eligible set (prefer
            # attr_values for attribute predicates — that path prunes
            # instead of replicating)
            keep_rows = keep_rows.join(
                F.broadcast(side_df.select("shard_id", "attr").distinct()),
                "shard_id")
        keep_rows = keep_rows.select(
            F.col("keep_doc").alias("query_id"),
            F.lit(None).cast("string").alias("term"),
            F.lit(None).cast("double").alias("idf"),
            "bucket", "shard_id",
            *(["attr"] if attr_mode else []),
        )
        q_side = q_side.unionByName(keep_rows)

    def _run(bpdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
        keep_local = keep_bc.value if keep_bc is not None else None
        if bucketed_keep:
            # marker rows (term NULL) → this task's keep array. An ACTIVE
            # bucketed filter with no marker rows in the group means no
            # eligible docs in this shard — empty array (excludes all),
            # not None.
            if len(qpdf):
                km = qpdf["term"].isna()
                keep_local = np.sort(
                    qpdf.loc[km, "query_id"].to_numpy(dtype=np.int64))
                qpdf = qpdf[~km]
            else:
                keep_local = np.array([], dtype=np.int64)
        return scan_topk_shard(
            bpdf, qpdf["query_id"].to_numpy(dtype=np.int64),
            qpdf["term"].to_numpy(dtype=object),
            qpdf["idf"].to_numpy(dtype=np.float64), k, avgdl,
            deleted=tomb_bc.value if tomb_bc is not None else None,
            keep=keep_local)

    local = blocks_b.groupby(*group_keys).cogroup(
        q_side.groupby(*group_keys)
    ).applyInPandas(_run, "query_id long, doc_id long, score double")
    return topk(local, k)
