"""Exact BM25 top-k over the doc-sharded block index.

Distribution model: a task is one shard. Each task scores its shard's
blocks against every query — the doc-sharded layout (see spimi.py)
makes shard results independent, so per-shard top-k lists merge into
the EXACT global top-k with a final window. Parallelism = visible
shards. Two formulations, one task body:

* bounded query sets (QT_PAIR_CAP, TERM_PUSHDOWN_CAP, LocalQueryPlan):
  the queries are tokenized on the driver and their (df, idf) come from
  the Engine's vocabulary snapshot or one bounded lookup. Only the
  blocks side is shuffled — a grouped map over ``shard_id`` behind a
  term filter that pushes into the parquet scan — and each task takes
  the (query_id, term, idf) arrays from the plan captured in its
  closure (≤ QT_PAIR_CAP pairs; PySpark ships a pickled command over
  1 MB as a broadcast). A warm search is three Spark jobs.
* past the caps, or with a bucketed keep-list (whose ids are already a
  ≥ 10M-row shuffle), the query set stays distributed: its terms
  filter the blocks through a broadcast left-semi join, and its rows,
  replicated to every shard, are cogrouped with the blocks on
  ``shard_id`` (no driver collect — the query log can be a billion
  rows).

Engine.search is the only entry point. It resolves an index state's
handles once (meta, termstats, the projected blocks, the tombstone and
keep-list broadcasts, the vocabulary snapshot and the query plan) and
bmw_topk only plans a search over them. Every (query, shard) pair is
scored by scan_topk_shard: a columnar, term-at-a-time block scan that
decodes the task's blocks once and scores all of the task's queries
against a dense accumulator. Per-element work stays inside numpy: the
per-query Python loops it replaced (doc-at-a-time WAND, a per-term
groupby) measured 8-24× slower per task on 1k-25k-doc shards,
single-threaded on a 4-core x86 host.

Block rows address docs by shard-local ordinal (spimi block format 2).
Each group's docmap rows ride the shuffle with its posting rows; the
kernel scores ordinals, and bmw_topk's task body maps tombstones and
keep-lists into ordinals and the kernel's output back to doc ids
through the spimi decode helpers. Ordinal order is doc_id order, so the
(score desc, doc_id asc) tie-break is unchanged.

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
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from rerankers_spark.index import varbyte as vb
from rerankers_spark.index.spimi import (
    DOCMAP_TERM,
    local_df,
    ordinals_of,
    split_docmap,
)
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


#: the blocks columns bmw_topk's task body reads (split_docmap,
#: scan_topk_shard, the attr groups, the group key): the Engine's blocks
#: handle is spimi.load_blocks projected to these once per index state,
#: as each Python-bound column costs py4j round trips on every call that
#: plans over it. The WAND bounds and block extents never reach the
#: grouped map or the cogroup.
TASK_BLOCK_COLS = ("term", "block_id", "first_doc", "docs_vb", "tfs_vb",
                   "dls_vb", "attr", "shard_id")


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


def query_terms_with_idf(queries: DataFrame,
                         termstats: DataFrame) -> DataFrame:
    """(query_id, term, idf, df) for the query set: termstats
    (spimi.load_termstats) is joined on the query vocabulary, so the
    planner filters it BEFORE any broadcast (semi-reduction) and the
    full vocab table never moves."""
    return bm25.query_terms(queries).join(termstats, "term", "inner") \
        .select("query_id", "term", "idf", "df")


#: the local query plan's term cap: a plan's distinct terms become one
#: literal IN list that pushes into the parquet block scan. A query set
#: with more terms takes the distributed formulation, whose broadcast
#: left-semi join is its only term filter (a vocabulary that big
#: touches most of the index anyway).
TERM_PUSHDOWN_CAP = 4096

#: query sets of at most this many rows and (query_id, term) pairs get
#: the LOCAL query-plan fast path: the query rows are collected once and
#: tokenized on the driver (no job when the queries frame is a local
#: relation), term (df, idf) come from the Engine's vocabulary snapshot
#: or one bounded lookup, and the tasks take their queries from their
#: closure — no query-side shuffle. The distributed formulation
#: evaluates the tokenize→termstats subplan twice per search (the term
#: broadcast and the query side). Past the caps it runs, so a
#: billion-row query log never touches the driver (same size-gated
#: adaptivity as a broadcast join).
QT_PAIR_CAP = 16384


def _sql_in(col: str, values) -> str:
    """``col IN ('v', ...)`` as SQL text: one F.expr parse for the whole
    list, where Column.isin makes one py4j round trip per literal. Spark
    turns a long literal IN list into a hash InSet."""
    lits = ("'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
            for v in values)
    return f"{col} IN ({', '.join(lits)})"


def _explode_ints(values) -> Column:
    """One row per literal int (the shard ids), by expression — no
    literal relation and no broadcast of it."""
    return F.expr(f"explode(array({', '.join(str(int(v)) for v in values)}))")


def lookup_term_stats(termstats: DataFrame,
                      terms: list[str]) -> dict[str, tuple[int, float]]:
    """{term: (df, idf)} of the in-vocabulary ``terms``: one bounded
    Spark job (the term list is one hash InSet on termstats)."""
    return {t: (int(df), float(idf)) for t, df, idf in
            termstats.where(_sql_in("term", terms))
            .select("term", "df", "idf").collect()}


class VocabSnapshot:
    """A whole index state's (term, df, idf) on the driver: a pandas
    Index over the terms plus two parallel arrays (about half the driver
    memory of a {term: (df, idf)} dict, built 20× faster). idf is the
    JVM's (spimi.load_termstats), so a plan built from the snapshot
    scores bit-identically to one built by lookup_term_stats."""

    __slots__ = ("terms", "df", "idf")

    def __init__(self, pdf: pd.DataFrame):
        self.terms = pd.Index(pdf["term"].to_numpy(dtype=object))
        self.df = pdf["df"].to_numpy(dtype=np.int64)
        self.idf = pdf["idf"].to_numpy(dtype=np.float64)

    @classmethod
    def load(cls, termstats: DataFrame, cap: int) -> "VocabSnapshot | None":
        """One Arrow collect of at most cap + 1 rows; None past ``cap``."""
        pdf = termstats.select("term", "df", "idf").limit(cap + 1).toPandas()
        return None if len(pdf) > cap else cls(pdf)

    def lookup(self, terms: list[str]) -> dict[str, tuple[int, float]]:
        """lookup_term_stats on the driver: no Spark job."""
        pos = self.terms.get_indexer(terms)
        return {t: (int(self.df[p]), float(self.idf[p]))
                for t, p in zip(terms, pos) if p >= 0}


class LocalQueryPlan:
    """Driver-materialized query plan: deduplicated in-vocabulary
    (query_id, term) pairs + the (df, idf) of each term. idf is the
    JVM's, evaluated once per term (spimi.load_termstats), so scores
    stay bit-identical to the distributed path."""

    __slots__ = ("pairs", "terms", "stats", "n_queries", "qtext")

    def __init__(self, pairs, terms, stats, n_queries, qtext=None):
        self.pairs = pairs          # [(query_id, term)] in-vocab, sorted
        self.terms = terms          # sorted in-vocab term list
        self.stats = stats          # {term: (df, idf)}
        self.n_queries = n_queries  # distinct query ids INCLUDING all-OOV
        self.qtext = qtext or {}    # {query_id: query text} (rank scorer)

    @property
    def empty(self) -> bool:
        return not self.pairs

    def arrays(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """The pairs as (query_id, term, idf) arrays: what every shard's
        task scores."""
        return (np.array([q for q, _ in self.pairs], dtype=np.int64),
                np.array([t for _, t in self.pairs], dtype=object),
                np.array([self.stats[t][1] for _, t in self.pairs],
                         dtype=np.float64))


def build_local_query_plan(
    spark: SparkSession, queries: DataFrame, termstats: DataFrame,
    term_stats=None,
) -> LocalQueryPlan | None:
    """Try to materialize the bounded local query plan; None past the
    caps (the caller falls back to the distributed formulation). The
    query rows are collected (bounded by the cap) and tokenized on the
    driver with tokenize_py, the spec twin of the index's tokenizer and
    of tokenize_col. ``term_stats``: optional ``terms → {term: (df,
    idf)}`` callable, called only once the caps are passed (the Engine's
    vocabulary snapshot); None → lookup_term_stats, the one Spark job.
    The caps are read at call time."""
    from rerankers_spark.functions.tokenize import tokenize_py

    rows = queries.select("query_id", "query").limit(QT_PAIR_CAP + 1) \
        .collect()
    if len(rows) > QT_PAIR_CAP:
        return None
    seen: set[tuple[int, str]] = set()
    qtext: dict[int, str] = {}
    n_pairs = 0
    for r in rows:
        toks = tokenize_py(r["query"])
        if toks:
            qid = int(r["query_id"])
            n_pairs += len(toks)
            seen.update((qid, t) for t in toks)
            qtext[qid] = r["query"]
    if n_pairs > QT_PAIR_CAP:
        return None
    terms = sorted({t for _, t in seen})
    if len(terms) > TERM_PUSHDOWN_CAP:
        return None
    stats: dict[str, tuple[int, float]] = {}
    if terms:
        stats = (term_stats(terms) if term_stats is not None
                 else lookup_term_stats(termstats, terms))
    pairs = [(q, t) for q, t in sorted(seen) if t in stats]
    return LocalQueryPlan(pairs, sorted(stats), stats, len(qtext), qtext)


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
    meta: dict,
    termstats: DataFrame,
    blocks: DataFrame,
    tomb_bc,
    local_plan: LocalQueryPlan | None,
    k: int = 10,
    keep=None,
    attr_values: list | None = None,
) -> DataFrame:
    """(query_id, doc_id, score, rank): exact BM25 top-k, every (query,
    shard) pair scored by the columnar block scan (scan_topk_shard).

    A plan builder over handles Engine.search has resolved: ``meta``,
    ``termstats`` (spimi.load_termstats) and ``blocks`` (projected to
    TASK_BLOCK_COLS) of one index state, ``tomb_bc`` (a Broadcast of
    the sorted tombstone array, or None) and ``local_plan`` (the
    bounded LocalQueryPlan of ``queries``, or None for the distributed
    formulation). It loads nothing and builds no broadcast. A task is
    one shard and scores every query against it.

    Soft deletes: tombstoned docs are excluded inside the kernels;
    global stats stay pre-delete until compact_index purges (Lucene
    deferred-stats semantics).

    keep: the metadata-filtered search's doc set. Results are restricted
    to it, and scores keep full-corpus stats (a filter narrows
    candidates, it does not re-weight idf). Two shapes:

    * a Broadcast of the sorted id array (the Engine's cached keep-list,
      up to its KEEP_BROADCAST_CAP ids) — read in every task;
    * a (doc_id) DataFrame — the ids are SHARDED like the index (each id
      maps to its candidate shard in every visible generation) and flow
      through the shard cogroup shuffle as marker rows on the query
      side: no driver materialization, no broadcast, each task sees
      only its own shard's keep ids (|keep| × |gens| shuffle rows). Such
      a search always takes the cogroup, so ``local_plan`` must be None.
      (At 100 TB a high-selectivity attribute is still better as an
      index partition column — that prunes whole shards instead of
      filtering inside them.)

    attr_values: for an attribute-partitioned index (build_index
    attr_col), restrict results to these attribute values — the filter
    lands on the ``attr`` PARTITION column of the blocks scan, so whole
    partition directories are pruned before any byte moves (the 100-TB
    shape for high-selectivity attributes; no keep-list, no broadcast).
    Scores keep full-corpus stats, identical semantics to the
    keep-list paths. The task key is the shard on every index; on an
    attr-partitioned index the task scores each (shard, attr) docmap
    group of its rows separately — the groups are doc-disjoint, so
    per-group top-k lists still merge exactly.
    """
    from rerankers_spark.index.spimi import _gen_shards, visible_generations

    bucketed_keep = isinstance(keep, DataFrame)
    keep_bc = None if bucketed_keep else keep
    avgdl = float(meta["avgdl"])
    attr_mode = bool(meta.get("attr_col"))

    if attr_values is not None:
        if not attr_mode:
            raise ValueError(
                "attr_values requires an attribute-partitioned index "
                "(build_index attr_col=...); use a doc_filter for ad-hoc "
                "filters")
        # partition-column predicate → whole attr directories pruned at
        # the parquet scan (PartitionFilters, asserted in tests)
        blocks = blocks.where(
            F.col("attr").isin([str(v) for v in attr_values]))

    def _task(bpdf: pd.DataFrame, qids: np.ndarray, terms: np.ndarray,
              idfs: np.ndarray, keep_local: np.ndarray | None
              ) -> pd.DataFrame:
        """The task body of both formulations: one shard's block rows
        scored against its queries."""
        if len(bpdf) == 0 or len(qids) == 0:
            return _empty_topk()
        deleted = tomb_bc.value if tomb_bc is not None else None
        # each docmap group — the shard, or on an attr index each (shard,
        # attr) pair — numbers its own ordinals and is doc-disjoint from
        # the others: scored on its own, the lists merge in the top-k
        outs = []
        for _, g in (bpdf.groupby("attr", dropna=False, sort=False)
                     if attr_mode else [(None, bpdf)]):
            # the kernel sees ordinals: tombstones and the keep-list map
            # in through the group's docmap, its output ordinals map back
            postings, doc_map = split_docmap(g)
            out = scan_topk_shard(
                postings, qids, terms, idfs, k, avgdl,
                deleted=None if deleted is None
                else ordinals_of(doc_map, deleted),
                keep=None if keep_local is None
                else ordinals_of(doc_map, keep_local))
            out["doc_id"] = doc_map[out["doc_id"].to_numpy(dtype=np.int64)]
            outs.append(out)
        return pd.concat(outs, ignore_index=True)

    schema = "query_id long, doc_id long, score double"
    if local_plan is not None:
        # bounded local plan: query terms and (df, idf) are on the
        # driver. Only the blocks side is shuffled, behind one hash InSet
        # of the plan's terms and the docmap; each task takes the queries
        # from the plan in its closure — no query subplan, no broadcast,
        # no query-side job.
        if local_plan.empty:
            return empty_result(spark)
        qids, terms, idfs = local_plan.arrays()

        def _run_local(bpdf):
            return _task(bpdf, qids, terms, idfs,
                         keep_bc.value if keep_bc is not None else None)

        local = blocks.where(
            _sql_in("term", local_plan.terms + [DOCMAP_TERM])) \
            .groupby("shard_id").applyInPandas(_run_local, schema)
        return topk(local, k)

    # Both sides are keyed on shard_id. The blocks side keeps the rows of
    # the query set's terms and the docmap rows; a query row goes to every
    # shard (shard results are doc-disjoint and merge exactly — the query
    # side is rows of (id, term, idf), tiny next to block bytes, so the
    # |shards|× replication is the cheap direction).
    qt_idf = query_terms_with_idf(queries, termstats)
    # every query term row also yields the docmap term, so the docmap
    # rows join without a literal relation or another query subplan
    terms = qt_idf.selectExpr(
        f"explode(array(term, '{DOCMAP_TERM}')) AS term").distinct()
    blocks_s = blocks.join(F.broadcast(terms), "term", "left_semi")
    shard_ids = _gen_shards(visible_generations(meta),
                            int(meta["n_shards"]))
    q_side = qt_idf.select("query_id", "term", "idf",
                           _explode_ints(shard_ids).alias("shard_id"))

    if bucketed_keep:
        # keep ids flow through the SAME shard cogroup shuffle as marker
        # rows on the query side: each id maps to its candidate shard in
        # every visible generation. Fully
        # distributed — no driver array, no broadcast. The id rides in
        # the NON-NULL query_id column with term=NULL as the marker: a
        # nullable int64 column would decay to float64 through Arrow →
        # pandas and mangle full-range xxhash64 doc ids (CLAUDE.md
        # invariant); query_id stays int64 because every row sets it.
        n_sh = int(meta["n_shards"])
        base = keep.select(
            F.col("doc_id").cast("long").alias("keep_doc")).distinct()
        keep_sharded = None
        for g in visible_generations(meta):
            part = base.select(
                (F.pmod(F.xxhash64("keep_doc"), F.lit(n_sh))
                 + F.lit(g * n_sh)).cast("int").alias("shard_id"),
                "keep_doc")
            keep_sharded = part if keep_sharded is None \
                else keep_sharded.unionByName(part)
        q_side = q_side.unionByName(keep_sharded.select(
            F.col("keep_doc").alias("query_id"),
            F.lit(None).cast("string").alias("term"),
            F.lit(None).cast("double").alias("idf"), "shard_id"))

    def _run(bpdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
        if len(qpdf) == 0:
            return _empty_topk()
        keep_local = keep_bc.value if keep_bc is not None else None
        if bucketed_keep:
            # marker rows (term NULL) → this task's keep array. An ACTIVE
            # bucketed filter with no marker rows in the group means no
            # eligible docs in this shard — empty array (excludes all),
            # not None.
            km = qpdf["term"].isna()
            keep_local = np.sort(
                qpdf.loc[km, "query_id"].to_numpy(dtype=np.int64))
            qpdf = qpdf[~km]
        return _task(bpdf, qpdf["query_id"].to_numpy(dtype=np.int64),
                     qpdf["term"].to_numpy(dtype=object),
                     qpdf["idf"].to_numpy(dtype=np.float64), keep_local)

    local = blocks_s.groupby("shard_id").cogroup(
        q_side.groupby("shard_id")).applyInPandas(_run, schema)
    return topk(local, k)
