"""Engine: the two-stage entry point (SURVEY.md §3 lifecycle).

``Engine(spark, index_path)`` ≈ the reference's ``Reranker(model_name)``
construction (rerankers/reranker.py:196-247) with the index standing in
for the model checkpoint; ``Engine.search`` is the first stage the
reference presupposes; ``Engine.rank`` is the full pipeline of the
consistency notebooks (BM25 top-N → rerank → top-k), internalized as one
Spark job instead of a per-query Python loop.
"""

from __future__ import annotations

from collections import OrderedDict
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rerankers_spark.index.spimi import IndexPaths, build_index
from rerankers_spark.query import bmw
from rerankers_spark.rerank.ranker import Reranker


def _semantic_lru(cache: OrderedDict, cap: int, frame: DataFrame, make):
    """The value cached for ``frame``'s SEMANTICS (semanticHash, then
    sameSemantics — two logically-equal plans share one entry), else
    ``make()``, stored as the most recent entry of an LRU of ``cap``
    entries. An evicted value is simply dropped."""
    h = frame.semanticHash()
    got = cache.get(h)
    if got is not None and frame.sameSemantics(got[0]):
        cache.move_to_end(h)
        return got[1]
    value = make()
    cache[h] = (frame, value)
    cache.move_to_end(h)
    while len(cache) > cap:
        cache.popitem(last=False)
    return value


class Engine:
    def __init__(self, spark: SparkSession, index_path: str,
                 scorer: str = "overlap"):
        self.spark = spark
        self.paths = IndexPaths(index_path)
        self.reranker = Reranker(scorer, spark=spark)
        # lazily-cached index handles: repeated searches skip the
        # scalar-read jobs and parquet re-listing (invalidated by
        # refresh(), e.g. after append_index)
        self._meta: dict | None = None
        self._termstats = None
        self._blocks = None
        # cached tombstone broadcast: "stale" → (re)load on next search.
        # One collect + one broadcast per index STATE, not per query
        # (invalidated by delete()/refresh()); dropped handles are
        # reclaimed by Spark's ContextCleaner once unreferenced.
        self._tomb_bc = "stale"
        # cached keep-list routes, an LRU (_semantic_lru, KEEP_CACHE_MAX)
        # keyed on the doc_filter's semantics: a long-lived Engine
        # serving repeated filtered searches runs the size probe AND
        # collects + ships the sorted id array once, not per call (an
        # ~80 MB array at KEEP_BROADCAST_CAP). Spark's ContextCleaner
        # reclaims an evicted, unreferenced broadcast; no destroy(),
        # which could fail a query still holding the handle. The key
        # covers the filter PLAN, not its input bytes — refresh() drops
        # the cache, so re-create/refresh the Engine if the filter's
        # source table itself changed in place.
        self._keep_bc_cache: "OrderedDict[int, tuple]" = OrderedDict()
        # cached local-query-plan probes, an LRU (PLAN_CACHE_MAX) keyed
        # on the queries frame's semantics: a serving loop re-issuing the
        # same query set skips the probe collect and tokenizing, and a
        # too-big log caches its False verdict so repeat calls go
        # straight to the distributed path with no probe at all. Entries
        # hold term (df, idf) — refresh() clears (append/compact can
        # shift df); soft deletes don't (deferred stats).
        self._plan_cache: "OrderedDict[int, tuple]" = OrderedDict()
        # the index state's vocabulary snapshot (bmw.VocabSnapshot):
        # None = not loaded yet, False = the vocabulary is past
        # VOCAB_CAP (every plan looks its terms up per call). Loaded on
        # the first call within the query caps that needs df, so a
        # search past the caps never pays for it; refresh() drops it.
        self._vocab = None

    def refresh(self) -> None:
        if self._termstats is not None:
            self._termstats.unpersist()
        self._meta = None
        self._termstats = None
        self._blocks = None
        self._tomb_bc = "stale"
        self._keep_bc_cache.clear()
        self._plan_cache.clear()
        self._vocab = None

    def delete(self, doc_ids: DataFrame) -> None:
        """Soft-delete docs from the index (tombstones; see
        spimi.delete_docs for the deferred-stats semantics). Queries on
        this Engine exclude them immediately."""
        from rerankers_spark.index.spimi import delete_docs

        delete_docs(self.spark, self.paths.root, doc_ids)
        self._tomb_bc = "stale"

    def compact(self, generations: list[int] | None = None) -> None:
        """Merge generations — all of them (full compact: purges
        tombstones, restores exact bounds) or a selected subset
        (Lucene-style tiered merge, spimi.compact_index); resets cached
        handles."""
        from rerankers_spark.index.spimi import compact_index

        compact_index(self.spark, self.paths.root,
                      generations=generations)
        self.refresh()

    def maintain(self, max_generations: int = 4,
                 tombstone_ratio: float = 0.10,
                 gc_retention_secs: float = 3600.0) -> str:
        """One maintenance cycle (call on a schedule, e.g. after every
        few streaming appends): a FULL compact when the tombstone
        backlog passes ``tombstone_ratio`` of the corpus (durable purge
        + exact bounds restored), else a TIERED merge of the smallest
        generations when more than ``max_generations`` are visible
        (bounded IO — the bulk generation is never rewritten), else a
        no-op. Every cycle then runs the grace-period GC: partitions a
        compaction retired more than ``gc_retention_secs`` ago are
        physically deleted (spimi.gc_retired) — size the retention past
        the longest in-flight query. Returns what it did."""
        from rerankers_spark.index.spimi import (
            compact_index,
            count_tombstones,
            gc_retired,
            load_meta,
            plan_tiered_merge,
        )

        meta = load_meta(self.spark, self.paths)
        n_docs = max(1, int(meta["n_docs"]))
        n_tomb = count_tombstones(self.spark, self.paths)
        did = "noop"
        if n_tomb / n_docs > tombstone_ratio:
            compact_index(self.spark, self.paths.root)
            self.refresh()
            did = f"full_compact (purged {n_tomb} tombstones)"
        else:
            gens = plan_tiered_merge(self.spark, self.paths,
                                     max_generations=max_generations)
            if gens:
                compact_index(self.spark, self.paths.root,
                              generations=gens)
                self.refresh()
                did = f"tiered_merge {gens}"
        n_gc = len(gc_retired(self.spark, self.paths.root,
                              retention_secs=gc_retention_secs))
        return did if not n_gc else f"{did} + gc({n_gc} partitions)"

    def _handles(self):
        """(meta, termstats, blocks) and ``_tomb_bc`` of the index
        state: stage one's only loader (bmw.bmw_topk plans from these)."""
        from rerankers_spark.index.spimi import (
            load_blocks,
            load_meta,
            load_termstats,
            load_tombstones,
        )

        if self._meta is None:
            meta = load_meta(self.spark, self.paths)
            # visibility-filtered views: rows of uncommitted (failed
            # append) or retired (compacted-away) generations are
            # excluded — see spimi.visible_generations. Blocks first:
            # load_blocks rejects an index of another block format
            # before any Spark job; the handle keeps only the columns
            # the search task reads. termstats is persisted: its
            # per-generation aggregation would otherwise re-run inside
            # every query job that joins it.
            self._blocks = load_blocks(self.spark, self.paths,
                                       meta).select(*bmw.TASK_BLOCK_COLS)
            self._termstats = load_termstats(self.spark, self.paths,
                                             meta).persist()
            self._meta = meta
        if isinstance(self._tomb_bc, str):
            tomb = load_tombstones(self.spark, self.paths)
            self._tomb_bc = (
                self.spark.sparkContext.broadcast(tomb)
                if tomb is not None else None)
        return self._meta, self._termstats, self._blocks

    #: distinct doc_filter semantics kept in the Engine's keep cache —
    #: each entry can pin an ~80 MB broadcast, so the cache is a small
    #: LRU, not unbounded (a per-tenant serving loop cycles hundreds of
    #: distinct filters through one Engine).
    KEEP_CACHE_MAX = 8

    def _keep_entry(self, doc_filter: DataFrame):
        """("broadcast", keep_bc) or ("bucketed", None) for a doc_filter,
        cached per filter SEMANTICS (see __init__). A cache hit skips
        BOTH per-call jobs: the size probe (a scan of up to CAP+1 filter
        rows) and the collect + broadcast of the sorted id array."""
        def make():
            import numpy as np

            probe = (doc_filter.select("doc_id")
                     .limit(self.KEEP_BROADCAST_CAP + 1).count())
            if probe > self.KEEP_BROADCAST_CAP:
                return "bucketed", None
            arr = np.array(
                [r["doc_id"] for r in doc_filter.select("doc_id")
                 .distinct().collect()], dtype=np.int64)
            arr.sort()
            return "broadcast", self.spark.sparkContext.broadcast(arr)

        return _semantic_lru(self._keep_bc_cache, self.KEEP_CACHE_MAX,
                             doc_filter, make)

    PLAN_CACHE_MAX = 16

    #: vocabularies up to this many terms are held on the driver as one
    #: snapshot per index state (bmw.VocabSnapshot, about 100 MB at the
    #: cap); a larger one keeps the per-call df/idf lookup job.
    VOCAB_CAP = 1 << 20

    def _term_stats(self, terms: list[str]) -> dict:
        """{term: (df, idf)} of the in-vocabulary ``terms``: from the
        vocabulary snapshot (loaded on first use), or one lookup job
        past VOCAB_CAP."""
        _, termstats, _ = self._handles()
        if self._vocab is None:
            self._vocab = bmw.VocabSnapshot.load(
                termstats, self.VOCAB_CAP) or False
        if self._vocab is False:
            return bmw.lookup_term_stats(termstats, terms)
        return self._vocab.lookup(terms)

    def _query_plan(self, queries: DataFrame):
        """LocalQueryPlan for ``queries`` (or False past the caps),
        cached per query-frame semantics — see _plan_cache."""
        _, termstats, _ = self._handles()
        return _semantic_lru(
            self._plan_cache, self.PLAN_CACHE_MAX, queries,
            lambda: bmw.build_local_query_plan(
                self.spark, queries, termstats,
                term_stats=self._term_stats) or False)

    @classmethod
    def build(cls, spark: SparkSession, corpus: DataFrame, index_path: str,
              n_shards: int = 32, resume: bool = False,
              scorer: str = "overlap",
              attr_col: str | None = None) -> "Engine":
        build_index(spark, corpus, index_path, n_shards=n_shards,
                    resume=resume, attr_col=attr_col)
        return cls(spark, index_path, scorer=scorer)

    # -- first stage ----------------------------------------------------------

    #: report-only: the document-frequency share past which a query term
    #: counts as "dense" (WAND could not skip its postings). No search
    #: route reads it; the benchmark reports the share of such queries.
    AUTO_DENSE_DF_RATIO = 0.10

    #: doc_filter keep-lists up to this many ids ship to the shard kernel
    #: as a sorted broadcast array (~80 MB at the cap); a larger filter
    #: (a low-selectivity predicate over a 100-TB corpus can select
    #: billions of ids) would OOM the driver building the array, so
    #: search() routes it to the bucketed keep path (bmw.bmw_topk's keep
    #: is the filter frame): the ids are sharded like the index and flow
    #: through the shard cogroup shuffle as data rows — no driver
    #: materialization, no broadcast.
    KEEP_BROADCAST_CAP = 10_000_000

    #: the accepted Engine.search mode names (see search()).
    MODES = frozenset({"bmw", "auto", "exhaustive"})

    def search(self, queries: DataFrame, k: int = 10,
               mode: str = "bmw",
               doc_filter: Optional[DataFrame] = None,
               attr_filter: Optional[list] = None) -> DataFrame:
        """(query_id, doc_id, score, rank) — BM25 top-k.

        'bmw', 'auto' and 'exhaustive' are three names for one call:
        the cogroup kernel (bmw.bmw_topk) scores every (query, shard)
        pair with the columnar block scan (bmw.scan_topk_shard), which
        decodes and scores every posting of every query term, with
        tombstones, doc_filter and attr_filter applied inside it. The
        names are kept for callers of the former per-mode scorers
        (block-max WAND for 'bmw'/'auto'); a measurement showed the scan
        faster on every shard shape tried.

        The result is exact and identical across modes. Against another
        engine (or the WAND reference kernel) scores agree to float-sum
        reassociation (~1e-15), so at EXACT score ties the (score desc,
        doc_id asc) order can differ; consumers comparing engines rank
        on ROUNDED scores (CLAUDE.md invariant, as the driver-contract
        queries do).

        doc_filter: optional (doc_id) DataFrame restricting results to a
        metadata-selected doc set (e.g. ``corpus.where(lang ==
        'python').select('doc_id')``) with full-corpus stats — see
        bmw.bmw_topk keep. Filters beyond KEEP_BROADCAST_CAP ids
        are routed off the broadcast kernel path automatically (the
        size probe scans only until CAP+1 ids are seen) onto the
        bucketed cogroup keep path; an attribute that routinely selects
        that much of the corpus should instead be an index partition
        column so the filter prunes whole shards.

        attr_filter: value list for the index's partition attribute
        (build_index attr_col) — prunes whole block partitions at the
        scan, the cheapest filter shape by far (bmw.bmw_topk
        attr_values). Composable with doc_filter.

        The query set is probed for a bounded local plan (it falls back
        to the distributed formulation past bmw.QT_PAIR_CAP or
        bmw.TERM_PUSHDOWN_CAP). A doc_filter past KEEP_BROADCAST_CAP
        always takes the distributed formulation, so it skips the probe.

        Caching contract: the query plan (terms, df, idf, query text)
        and the doc_filter keep-list are cached per frame SEMANTICS, so
        queries and doc_filter frames are treated as immutable snapshots
        — a source rewritten in place under the same plan returns the
        cached result. The index state's vocabulary (df, idf of every
        term, up to VOCAB_CAP terms) is one snapshot, loaded by the
        first plan that needs it, so a fresh query set within the caps
        runs no lookup job. Call refresh() after the index or such a
        source changes outside this Engine (appends, compactions,
        rewrites by another process): it drops the handles, both caches
        and the snapshot. delete()/compact() on this Engine handle their
        own (a soft delete keeps df, so it keeps the snapshot).
        """
        return self._search(queries, k, mode, doc_filter, attr_filter)

    def _search(self, queries: DataFrame, k: int, mode: str,
                doc_filter: Optional[DataFrame],
                attr_filter: Optional[list], local_plan=None
                ) -> DataFrame:
        """search(), given the outcome of rank()'s plan probe (a
        bmw.LocalQueryPlan, or False past the caps); None probes here."""
        if mode not in self.MODES:
            raise ValueError(f"unknown mode {mode!r}")
        meta, termstats, blocks = self._handles()
        keep = None
        if doc_filter is not None:
            route, keep = self._keep_entry(doc_filter)
            if route == "bucketed":
                # the ids ride the cogroup: never the local plan
                keep, local_plan = doc_filter, False
        if local_plan is None:
            local_plan = self._query_plan(queries)
        return bmw.bmw_topk(self.spark, queries, meta, termstats, blocks,
                            self._tomb_bc, local_plan=local_plan or None,
                            k=k, keep=keep, attr_values=attr_filter)

    # -- driver-side facade ----------------------------------------------------

    def collect_ranked(self, result_df: DataFrame, queries: DataFrame,
                       text_lookup: Optional[DataFrame] = None
                       ) -> dict[int, "object"]:
        """Distributed results → {query_id: RankedResults} (the reference's
        return shape, rerankers/results.py:38-42). result_df needs
        (query_id, doc_id, score, rank); text attaches when a
        (doc_id, content) lookup is given."""
        from rerankers_spark.results import Document, RankedResults, Result

        if text_lookup is not None:
            result_df = result_df.join(
                text_lookup.select("doc_id",
                                   F.col("content").alias("__text")),
                "doc_id", "left",
            )
        qtext = {r["query_id"]: r["query"] for r in queries.collect()}
        out: dict[int, RankedResults] = {}
        rows = sorted(result_df.collect(),
                      key=lambda r: (r["query_id"], r["rank"]))
        for r in rows:
            # a join miss (doc_id absent from text_lookup) yields
            # __text=None, which Document's text-required check rejects —
            # coalesce to "" like the no-lookup case
            text = (r["__text"] if "__text" in r.__fields__ else None) or ""
            doc = Document(text=text, doc_id=r["doc_id"])
            res = Result(document=doc, score=r["score"], rank=r["rank"])
            qid = r["query_id"]
            if qid not in out:
                out[qid] = RankedResults([], query=qtext.get(qid, ""),
                                         has_scores=True)
            out[qid].results.append(res)
        return out

    # -- two-stage pipeline ---------------------------------------------------

    def rank(self, queries: DataFrame, corpus_text: DataFrame,
             first_k: int = 100, final_k: int = 10,
             mode: str = "bmw",
             doc_filter: Optional[DataFrame] = None,
             attr_filter: Optional[list] = None) -> DataFrame:
        """BM25 top-first_k → join text → score and cut to top-final_k.

        This is the consistency-notebook pipeline (test_crossenc.ipynb
        cells 5-8) as one job. corpus_text: (doc_id, content);
        doc_filter / attr_filter as in :meth:`search` (applied in the
        first stage, so the reranker only ever sees eligible
        candidates). The caching contract of :meth:`search` holds here
        too (plan cache, keep-list cache, vocabulary snapshot), and
        extends to the query TEXT: the cached plan supplies it to the
        scorer, so a queries frame must be an immutable snapshot;
        call refresh() after the index changes outside this Engine.
        """
        local_plan = self._query_plan(queries)
        cands = self._search(queries, first_k, mode, doc_filter,
                             attr_filter, local_plan).selectExpr(
            "query_id", "doc_id", "score AS bm25_score")
        # Text attach: the candidate side is bounded (≤ n_queries ×
        # first_k rows of three numeric columns) whenever the local plan
        # resolved, so IT is the broadcast side — the planner's size
        # estimate for a Python-bearing subtree is unknown/huge and it
        # otherwise builds a fresh broadcast of the corpus text on every
        # call (measured ~0.7 s/call; and at scale the corpus side must
        # never be the build side). Past the cap the planner keeps
        # choosing from its own estimates, unchanged.
        if local_plan and local_plan.n_queries * first_k <= 2_000_000:
            cands = F.broadcast(cands)
        with_text = cands.join(
            corpus_text.selectExpr("doc_id", "content AS text"), "doc_id")
        # Stage two is one query_id exchange and one Python map
        # (Reranker.rank_df): each task scores its Arrow batches and
        # keeps each query's final_k best rows, so no window and no
        # second exchange follow the scorer. The exchange also sizes the
        # scorer stage under AQE: left out, the scorer would inherit the
        # corpus scan's partitioning (a broadcast join adds no exchange)
        # — measured as ONE task on a cached single-file corpus. Under
        # the local plan the query text rides in the task closure, as the
        # search's query terms do; past the cap the caller's queries
        # frame joins as a column, with no broadcast hint: AQE picks the
        # strategy from the frame's real size.
        if local_plan:
            ranked = self.reranker.rank_df(with_text, k=final_k,
                                           query_text=local_plan.qtext)
        else:
            ranked = self.reranker.rank_df(
                with_text.join(queries.selectExpr("query_id", "query"),
                               "query_id"), k=final_k)
        # selectExpr: about two py4j round trips per name, where select
        # builds a Column per name at about five
        return ranked.selectExpr(
            "query_id", "doc_id", "bm25_score", "score", "rank")
