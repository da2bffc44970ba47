"""Engine: the two-stage entry point (SURVEY.md §3 lifecycle).

``Engine(spark, index_path)`` ≈ the reference's ``Reranker(model_name)``
construction (rerankers/reranker.py:196-247) with the index standing in
for the model checkpoint; ``Engine.search`` is the first stage the
reference presupposes; ``Engine.rank`` is the full pipeline of the
consistency notebooks (BM25 top-N → rerank → top-k), internalized as one
Spark job instead of a per-query Python loop.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rerankers_spark.index.spimi import IndexPaths, build_index
from rerankers_spark.query import bmw
from rerankers_spark.rerank.ranker import Reranker


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
        # cached keep-list entries, keyed on the doc_filter's SEMANTIC
        # fingerprint (semanticHash + sameSemantics — two logically-equal
        # plans share one entry): a long-lived Engine serving repeated
        # filtered searches runs the size probe AND collects + ships the
        # sorted id array once, not per call (an ~80 MB array at
        # KEEP_BROADCAST_CAP). Bounded LRU (KEEP_CACHE_MAX): an evicted
        # entry is simply dropped — Spark's ContextCleaner reclaims the
        # unreferenced broadcast; no destroy(), which could fail a query
        # still holding the handle. The key covers the filter PLAN, not
        # its input bytes — refresh() drops the cache, so re-create/
        # refresh the Engine if the filter's source table itself changed
        # in place.
        from collections import OrderedDict

        self._keep_bc_cache: "OrderedDict[int, tuple]" = OrderedDict()
        # cached local-query-plan probes, keyed like the keep cache on
        # the queries frame's SEMANTICS: a serving loop re-issuing the
        # same query set skips the probe collect + df lookup, and a
        # too-big log caches its False verdict so repeat calls go
        # straight to the distributed path with no probe at all. Entries
        # hold term df snapshots — refresh() clears (append/compact can
        # shift df); soft deletes don't (deferred stats).
        self._plan_cache: "OrderedDict[int, tuple]" = OrderedDict()

    def refresh(self) -> None:
        if self._termstats is not None:
            self._termstats.unpersist()
        self._meta = None
        self._termstats = None
        self._blocks = None
        self._tomb_bc = "stale"
        self._keep_bc_cache.clear()
        self._plan_cache.clear()

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
            gc_retired,
            load_meta,
            plan_tiered_merge,
        )

        meta = load_meta(self.spark, self.paths)
        n_docs = max(1, int(meta["n_docs"]))
        n_tomb = (
            self.paths.read(self.spark, "tombstones")
            .select("doc_id").distinct().count()
            if self.paths.exists(self.spark, "tombstones") else 0)
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
        from rerankers_spark.index.spimi import (
            load_blocks,
            load_meta,
            load_termstats,
            load_tombstones,
        )

        if self._meta is None:
            self._meta = load_meta(self.spark, self.paths)
            # visibility-filtered views: rows of uncommitted (failed
            # append) or retired (compacted-away) generations are
            # excluded — see spimi.visible_generations. termstats is
            # persisted: its per-generation aggregation would otherwise
            # re-run inside every query job that joins it.
            self._termstats = load_termstats(self.spark, self.paths,
                                             self._meta).persist()
            self._blocks = load_blocks(self.spark, self.paths, self._meta)
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
        """(keep_mode, keep_bc) for a doc_filter, cached per filter
        SEMANTICS (see __init__). A cache hit skips BOTH per-call jobs:
        the size probe (a scan of up to CAP+1 filter rows) and the
        collect + broadcast of the sorted id array."""
        import numpy as np

        h = doc_filter.semanticHash()
        got = self._keep_bc_cache.get(h)
        if got is not None and doc_filter.sameSemantics(got[0]):
            self._keep_bc_cache.move_to_end(h)
            return got[1], got[2]
        probe = (doc_filter.select("doc_id")
                 .limit(self.KEEP_BROADCAST_CAP + 1).count())
        if probe > self.KEEP_BROADCAST_CAP:
            mode, bc = "bucketed", None
        else:
            arr = np.array(
                [r["doc_id"] for r in doc_filter.select("doc_id")
                 .distinct().collect()], dtype=np.int64)
            arr.sort()
            mode, bc = "broadcast", self.spark.sparkContext.broadcast(arr)
        self._keep_bc_cache[h] = (doc_filter, mode, bc)
        self._keep_bc_cache.move_to_end(h)
        while len(self._keep_bc_cache) > self.KEEP_CACHE_MAX:
            self._keep_bc_cache.popitem(last=False)
        return mode, bc

    PLAN_CACHE_MAX = 16

    def _query_plan(self, queries: DataFrame):
        """LocalQueryPlan for ``queries`` (or False past the caps),
        cached per query-frame semantics — see _plan_cache."""
        _, termstats, _ = self._handles()
        h = queries.semanticHash()
        got = self._plan_cache.get(h)
        if got is not None and queries.sameSemantics(got[0]):
            self._plan_cache.move_to_end(h)
            return got[1]
        plan = bmw.build_local_query_plan(self.spark, queries,
                                          termstats) or False
        self._plan_cache[h] = (queries, plan)
        self._plan_cache.move_to_end(h)
        while len(self._plan_cache) > self.PLAN_CACHE_MAX:
            self._plan_cache.popitem(last=False)
        return plan

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
    #: search() auto-routes it to keep_mode='bucketed': the ids are
    #: sharded like the index and flow through the (shard, bucket)
    #: cogroup shuffle as data rows — no driver materialization, no
    #: broadcast.
    KEEP_BROADCAST_CAP = 10_000_000

    #: the accepted Engine.search mode names (see search()).
    MODES = frozenset({"bmw", "auto", "exhaustive"})

    def search(self, queries: DataFrame, k: int = 10,
               mode: str = "bmw",
               doc_filter: Optional[DataFrame] = None,
               attr_filter: Optional[list] = None,
               local_plan: Optional["bmw.LocalQueryPlan"] = None
               ) -> DataFrame:
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
        bmw.bmw_topk keep_docs. Filters beyond KEEP_BROADCAST_CAP ids
        are routed off the broadcast kernel path automatically (the
        size probe scans only until CAP+1 ids are seen) onto the
        bucketed cogroup keep path; an attribute that routinely selects
        that much of the corpus should instead be an index partition
        column so the filter prunes whole shards.

        attr_filter: value list for the index's partition attribute
        (build_index attr_col) — prunes whole block partitions at the
        scan, the cheapest filter shape by far (bmw.bmw_topk
        attr_values). Composable with doc_filter.

        local_plan: optional pre-built bmw.LocalQueryPlan for these
        queries (rank() builds one and shares it between the stages);
        None → probe for one (bounded, falls back to the distributed
        formulation past bmw.QT_PAIR_CAP).

        Caching contract: the query plan (terms, df, query text) and the
        doc_filter keep-list are cached per frame SEMANTICS, so queries
        and doc_filter frames are treated as immutable snapshots — a
        source rewritten in place under the same plan returns the cached
        result. Call refresh() after the index or such a source changes
        outside this Engine (appends, compactions, rewrites by another
        process); delete()/compact() on this Engine handle their own.
        """
        if mode not in self.MODES:
            raise ValueError(f"unknown mode {mode!r}")
        keep_mode, keep_bc = (self._keep_entry(doc_filter)
                              if doc_filter is not None
                              else ("broadcast", None))
        if local_plan is None:
            local_plan = self._query_plan(queries)
        meta, termstats, blocks = self._handles()
        return bmw.bmw_topk(self.spark, queries, self.paths, k=k,
                            meta=meta, termstats=termstats,
                            blocks=blocks, keep_docs=doc_filter,
                            tomb_bc=self._tomb_bc,
                            keep_mode=keep_mode,
                            attr_values=attr_filter,
                            keep_bc=keep_bc,
                            local_plan=local_plan)

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
        """BM25 top-first_k → join text → rerank scorer UDF → top-final_k.

        This is the consistency-notebook pipeline (test_crossenc.ipynb
        cells 5-8) as one job. corpus_text: (doc_id, content);
        doc_filter / attr_filter as in :meth:`search` (applied in the
        first stage, so the reranker only ever sees eligible
        candidates). The caching contract of :meth:`search` holds here
        too, and extends to the query TEXT: the cached plan supplies it
        to the final join, so a queries frame must be an immutable
        snapshot; call refresh() after the index changes outside this
        Engine.
        """
        local_plan = self._query_plan(queries)
        cands = self.search(queries, k=first_k, mode=mode,
                            doc_filter=doc_filter,
                            attr_filter=attr_filter,
                            local_plan=local_plan).select(
            "query_id", "doc_id", F.col("score").alias("bm25_score")
        )
        # Text attach: the candidate side is bounded (≤ n_queries ×
        # first_k rows of three numeric columns) whenever the local plan
        # resolved, so IT is the broadcast side — the planner's size
        # estimate for a UDF-bearing subtree is unknown/huge and it
        # otherwise builds a fresh broadcast of the corpus text on every
        # call (measured ~0.7 s/call; and at scale the corpus side must
        # never be the build side). Past the cap the planner keeps
        # choosing from its own estimates, unchanged.
        if local_plan and local_plan.n_queries * first_k <= 2_000_000:
            cands = F.broadcast(cands)
        with_text = cands.join(corpus_text.select(
            "doc_id", F.col("content").alias("text")), "doc_id")
        # query text comes from the local plan when it resolved — the
        # caller's queries frame is often a parallelized local table whose
        # broadcast build otherwise re-evaluates it (with Python workers
        # for pickled-RDD frames) on every call.
        q_for_join = local_plan.queries_df(self.spark) if local_plan \
            else queries
        with_query = with_text.join(F.broadcast(q_for_join), "query_id")
        # One exchange, placed BEFORE the scorer UDF: the final rank
        # window repartitions by query_id regardless, but left after the
        # UDF the scorer inherits the text join's partitioning (a
        # broadcast join adds no exchange, so that is the corpus scan's
        # — measured running the whole scorer in ONE task on a cached
        # single-file corpus). Hoisting the same-keyed exchange lets AQE
        # size the scorer stage and satisfies the window's requirement,
        # so the plan's exchange count is unchanged.
        with_query = with_query.repartition("query_id")
        reranked = self.reranker.rank_df(with_query)
        return reranked.where(F.col("rank") <= final_k).select(
            "query_id", "doc_id", "bm25_score", "score", "rank"
        )
