"""SPIMI-style inverted-index build → compressed block shards (north_star).

Layout
------
The index is DOC-SHARDED: ``shard_id = pmod(xxhash64(doc_id), n_shards)``.
Each shard is a self-contained mini-index over a disjoint doc subset, so:

* head-term skew is bounded STRUCTURALLY — within one build task a term's
  postings can never exceed the shard's doc count, no matter how common
  the term is corpus-wide (this replaces ad-hoc salting: the doc-hash IS
  the salt, applied uniformly, and queries need no de-salting merge
  because per-doc scores are shard-local and independent);
* query-time scoring runs per (query, shard) in parallel and
  shard-local top-k lists merge into the exact global top-k (scores
  depend only on global scalars N/avgdl/df, never on shard membership);
* checkpoint/resume is per shard: a failed build resumes by rebuilding
  only shards missing from the manifest.

At 100 TB, ``n_shards`` is sized so one shard's postings fit a task
(~10k shards for 10^12 docs); locally we default to a small multiple of
cores.

Block format (FIXTURES.md §4): ≤128 postings per block, doc_id-ascending;
``docs_vb`` = varbyte(delta(doc_ids)) anchored at ``first_doc``;
``tfs_vb`` / ``dls_vb`` = varbyte(raw tf / doc-length). Storing dl in the
block lets query-time scoring recompute EXACT float64 BM25 (tf, dl,
global avgdl, idf) with no docstats join; ``max_tfsat`` is the exact
per-block max of the tf-saturation factor (idf-independent, so term
statistics are only needed at query time, broadcast-joined onto query
terms).

Lineage (input_hint): docstats carries per-row ``content_sha256``; the
manifest aggregates row counts and an order-independent XOR fingerprint
of those hashes per shard.

The reference presupposes this whole stage as an external artifact
(tests/consistency_notebooks/test_crossenc.ipynb cell 5).
"""

from __future__ import annotations

import time
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rerankers_spark.functions.tokenize import token_count_pandas_udf
from rerankers_spark.index import varbyte as vb
from rerankers_spark.operators import bm25

BLOCK_SIZE = 128

BLOCKS_SCHEMA_BASE = (
    "shard_id int, term string, block_id int, first_doc long, last_doc long, "
    "n int, docs_vb binary, tfs_vb binary, dls_vb binary, max_tfsat double, "
    "max_tf long, min_dl long"
)
#: the read schema: ``attr`` (attribute-partitioned indexes) reads as
#: NULL on indexes whose parquet files don't carry it — non-attr builds
#: write BLOCKS_SCHEMA_BASE so they pay nothing for the column.
BLOCKS_SCHEMA = BLOCKS_SCHEMA_BASE + ", attr string"

MANIFEST_SCHEMA = (
    "shard_id int, n_docs long, n_postings long, n_blocks long, "
    "sum_dl long, sha256_xor long, status string, wall_time double, "
    "gen int"
)

RETIRED_SCHEMA = ("tbl string, part_col string, part_val string, "
                  "gen int, retired_at double")


def _tf_sat(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    """THE numpy tf-saturation (FIXTURES.md §4 frozen math) — shared by
    the block builder and the query side (bmw.py: the production
    scan_topk_shard scorer, and the 'safe' block bounds of the WAND
    reference kernel) so the formula lives in one place; the only other
    restatements are the scalar hot-loop form in the WAND reference
    (bmw._TermCursor.score_at_cur) and the Column form in
    bm25.tf_sat_col, each carrying a pointer comment back here."""
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return (tf * (bm25.K1 + 1.0)) / (
        tf + bm25.K1 * (1.0 - bm25.B + bm25.B * dl / avgdl)
    )


POSTINGS_SCHEMA = "shard_id int, term string, doc_id long, dl long, tf long"
POSTINGS_SCHEMA_ATTR = POSTINGS_SCHEMA + ", attr string"


def _postings_map(batches):
    """content → (shard, term, doc_id, dl, tf[, attr]) rows, fused in ONE
    Arrow stage: tf is complete per (term, doc) because a doc lives in
    one row, so the wide explode→groupBy shuffle of the declarative
    formulation (bm25.postings) is unnecessary for the BUILD — postings
    go straight into the single shard shuffle. (SPIMI's per-partition
    in-memory inversion, Arrow-batched.) An ``attr`` input column (the
    index partition attribute, see build_index) is carried through
    per-posting."""
    import re
    from collections import Counter

    from rerankers_spark.functions.tokenize import (
        MAX_TOKEN_LEN,
        TOKEN_SPLIT_RE,
    )

    splitter = re.compile(TOKEN_SPLIT_RE)
    for pdf in batches:
        has_attr = "attr" in pdf.columns
        doc_ids, shards, terms, dls, tfs, attrs = [], [], [], [], [], []
        # two loop bodies: the per-posting appends ARE the build's hot
        # Python loop (tens of millions of iterations) — a per-posting
        # `if has_attr` branch measurably slowed non-attr builds (~9%
        # A/B), so the branch is hoisted out of the loop entirely.
        if has_attr:
            for doc_id, shard, content, attr in zip(
                pdf["doc_id"], pdf["shard_id"], pdf["content"],
                pdf["attr"].tolist()
            ):
                toks = [
                    t
                    for t in splitter.split((content or "").lower())
                    if t and len(t) <= MAX_TOKEN_LEN
                ]
                dl = len(toks)
                for term, tf in Counter(toks).items():
                    doc_ids.append(doc_id)
                    shards.append(shard)
                    terms.append(term)
                    dls.append(dl)
                    tfs.append(tf)
                    attrs.append(attr)
        else:
            for doc_id, shard, content in zip(
                pdf["doc_id"], pdf["shard_id"], pdf["content"]
            ):
                toks = [
                    t
                    for t in splitter.split((content or "").lower())
                    if t and len(t) <= MAX_TOKEN_LEN
                ]
                dl = len(toks)
                for term, tf in Counter(toks).items():
                    doc_ids.append(doc_id)
                    shards.append(shard)
                    terms.append(term)
                    dls.append(dl)
                    tfs.append(tf)
        out = {
            "shard_id": np.array(shards, dtype=np.int32),
            "term": terms,
            "doc_id": np.array(doc_ids, dtype=np.int64),
            "dl": np.array(dls, dtype=np.int64),
            "tf": np.array(tfs, dtype=np.int64),
        }
        if has_attr:
            out["attr"] = attrs
        yield pd.DataFrame(out)


def corpus_postings_arrow(corpus_with_shard: DataFrame,
                          attr: bool = False) -> DataFrame:
    """(shard_id, term, doc_id, dl, tf[, attr]) via the fused Arrow
    stage."""
    cols = ["doc_id", "shard_id", "content"] + (["attr"] if attr else [])
    return corpus_with_shard.select(*cols).mapInPandas(
        _postings_map, POSTINGS_SCHEMA_ATTR if attr else POSTINGS_SCHEMA)


def _build_shard_blocks(
    pdf: pd.DataFrame, avgdl: float
) -> pd.DataFrame:
    """One group's (term, doc_id, tf, dl) rows → block rows. A group is
    one shard — or one (shard, attr) pair for an attribute-partitioned
    index (build_index attr_col), in which case every input row shares
    one ``attr`` value that is stamped onto the block rows.

    Fully vectorized across the whole shard: block boundaries, per-block
    aggregates (reduceat) and the three varbyte streams are each ONE
    numpy pass; per-block work is just byte-slicing. (The earlier
    per-block formulation made ~8 tiny numpy calls per block — 3M calls
    per 50k-doc build — and dominated build wall time.)"""
    has_attr = "attr" in pdf.columns
    cols = ("shard_id", "term", "block_id", "first_doc", "last_doc", "n",
            "docs_vb", "tfs_vb", "dls_vb", "max_tfsat", "max_tf", "min_dl",
            ) + (("attr",) if has_attr else ())
    if len(pdf) == 0:
        return pd.DataFrame({k: [] for k in cols})
    shard_id = int(pdf["shard_id"].iloc[0])
    attr_val = pdf["attr"].iloc[0] if has_attr else None
    # Sort on FACTORIZED term codes, not strings: lexsort over two int64
    # arrays instead of a mergesort of ~1M object-dtype rows. The string
    # sort was the build's bandwidth hog and anti-scaled across
    # concurrent shard tasks (measured: the blocks stage at 0.32 scaling
    # efficiency local[2]->[8]); strings are touched only at block
    # boundaries below. factorize(sort=True) orders codes by the same
    # python-str comparison sort_values used, so block output is
    # byte-identical.
    codes, uniques = pd.factorize(pdf["term"], sort=True)
    codes = codes.astype(np.int64)
    docs_u = pdf["doc_id"].to_numpy(dtype=np.int64)
    order = np.lexsort((docs_u, codes))
    codes = codes[order]
    docs = docs_u[order]
    tfs = pdf["tf"].to_numpy(dtype=np.int64)[order]
    dls = pdf["dl"].to_numpy(dtype=np.int64)[order]
    n = len(docs)

    # term-run + block boundaries (block = 128 postings within a run)
    new_term = np.ones(n, dtype=bool)
    new_term[1:] = codes[1:] != codes[:-1]
    run_id = np.cumsum(new_term) - 1
    run_start = np.flatnonzero(new_term)
    pos_in_run = np.arange(n, dtype=np.int64) - run_start[run_id]
    new_block = new_term | (pos_in_run % BLOCK_SIZE == 0)
    bstart = np.flatnonzero(new_block)
    bend = np.append(bstart[1:], n)

    # per-block aggregates in single reduceat passes
    sat = _tf_sat(tfs, dls, avgdl)
    max_tfsat = np.maximum.reduceat(sat, bstart)
    max_tf = np.maximum.reduceat(tfs, bstart)
    min_dl = np.minimum.reduceat(dls, bstart)
    first_doc = docs[bstart]
    last_doc = docs[bend - 1]

    # doc-id deltas (biased uint64; anchor = block's first doc → delta 0)
    u = docs.astype(np.uint64) ^ (np.uint64(1) << np.uint64(63))
    prev = np.empty_like(u)
    prev[1:] = u[:-1]
    prev[bstart] = u[bstart]
    d_buf, d_len = vb.encode_with_lengths(u - prev)
    t_buf, t_len = vb.encode_with_lengths(tfs)
    l_buf, l_len = vb.encode_with_lengths(dls)

    def _slices(buf: bytes, lens: np.ndarray) -> list[bytes]:
        ends = np.cumsum(lens)
        v_end = ends[bend - 1]
        v_start = ends[bstart] - lens[bstart]
        return [buf[a:b] for a, b in zip(v_start, v_end)]

    return pd.DataFrame(
        {
            "shard_id": np.full(len(bstart), shard_id, dtype=np.int32),
            "term": np.asarray(uniques, dtype=object)[codes[bstart]],
            "block_id": (pos_in_run[bstart] // BLOCK_SIZE).astype(np.int32),
            "first_doc": first_doc,
            "last_doc": last_doc,
            "n": (bend - bstart).astype(np.int32),
            "docs_vb": _slices(d_buf, d_len),
            "tfs_vb": _slices(t_buf, t_len),
            "dls_vb": _slices(l_buf, l_len),
            # exact max for the build-time avgdl, plus (max_tf, min_dl)
            # for an avgdl-independent bound (tf_sat increases in tf,
            # decreases in dl) — needed after incremental appends shift
            # the global avgdl (streaming/ingest.py).
            "max_tfsat": max_tfsat,
            "max_tf": max_tf,
            "min_dl": min_dl,
            **({"attr": np.full(len(bstart), attr_val, dtype=object)}
               if has_attr else {}),
        }
    )


def decode_block(row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_ids, tfs, dls) for one block row (Row or dict-like)."""
    docs = vb.delta_decode(row["docs_vb"], base=int(row["first_doc"]))
    return docs, vb.decode(row["tfs_vb"]), vb.decode(row["dls_vb"])


class IndexPaths:
    """Logical index tables, resolved through a Catalog
    (sources/catalog.py): parquet paths under ``root`` today, an Iceberg
    catalog transparently when ``catalog_name`` is configured and the
    runtime jar is present. The path attributes remain for parquet-mode
    callers; ALL index IO inside this package goes through
    read/write/exists so the storage backend is swappable."""

    def __init__(self, root: str, catalog_name: str | None = None):
        self.root = root
        self.catalog_name = catalog_name
        self.blocks = f"{root}/blocks"
        self.docstats = f"{root}/docstats"
        self.termstats = f"{root}/termstats"
        self.scalars = f"{root}/scalars"
        self.manifest = f"{root}/manifest"
        self._catalog = None

    def catalog(self, spark: SparkSession):
        from rerankers_spark.sources.catalog import Catalog

        if self._catalog is None or self._catalog.spark is not spark:
            self._catalog = Catalog(spark, self.root, self.catalog_name)
        return self._catalog

    #: known table schemas, used so possibly-empty parquet dirs stay
    #: readable (no footer to infer from); see Catalog.table.
    SCHEMAS = {
        "blocks": BLOCKS_SCHEMA,
        "docstats": "doc_id long, shard_id int, content_sha256 string, "
                    "dl long",
        "termstats": "term string, df long, gen int",
        "manifest": MANIFEST_SCHEMA,
        # tomb_batch: the delete-batch partition key — compaction purges
        # whole snapshotted batch partitions, so deletes that land DURING
        # a compact live in new partitions and are never dropped (closes
        # the old drop-then-rewrite race). Reads as NULL on legacy
        # non-partitioned tombstone files.
        "tombstones": "doc_id long, tomb_batch string",
        "compact_postings": POSTINGS_SCHEMA_ATTR,
        "compact_docstats": "doc_id long, shard_id int, "
                            "content_sha256 string, dl long",
        # grace-period GC ledger: partitions of merged-away generations
        # are RECORDED here at compaction commit and physically deleted
        # only by gc_retired() once older than a retention window — an
        # in-flight query planned pre-commit keeps its scan files.
        "retired": RETIRED_SCHEMA,
        # ingest-time dedup state: per-doc fingerprint + minhash
        # signature, PARTITIONED by ingest_batch (one partition per
        # micro-batch; replay = delete-own-partition + re-append, so the
        # streaming path stays exactly-once). Not a generation table —
        # compaction never touches it. Must equal
        # operators/dedup.DEDUP_STATE_SCHEMA (literal here to keep the
        # index layer free of operator imports; equality is pinned by
        # tests/test_streaming_dedup.py).
        "dedup_state": (
            "doc_id long, fp string, "
            "mh0 long, mh1 long, mh2 long, mh3 long, "
            "mh4 long, mh5 long, mh6 long, mh7 long, "
            "ingest_batch string"),
    }

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return self.catalog(spark).table(name, self.SCHEMAS.get(name))

    def write(self, df: DataFrame, name: str, mode: str = "overwrite",
              partition_by: list[str] | None = None) -> None:
        self.catalog(df.sparkSession).write_table(df, name, mode,
                                                  partition_by)

    def exists(self, spark: SparkSession, name: str) -> bool:
        return self.catalog(spark).table_exists(name)


def visible_generations(meta: dict) -> list[int]:
    """The COMMITTED generation-id set, sorted. Stored explicitly in
    scalars (``visible_gens``, comma-separated) since compaction started
    retiring arbitrary subsets; scalars written before that carry only
    ``generation`` (then = highest committed id) and the visible set is
    the full prefix. The scalars write is the commit point for every
    membership change (append adds an id, compaction swaps a subset for
    one new id): rows of any table whose generation is not in this set
    are uncommitted/retired and must be invisible to every reader."""
    vg = meta.get("visible_gens")
    if vg is not None and str(vg) != "":
        return sorted(int(g) for g in str(vg).split(","))
    return list(range(int(meta.get("generation", 0)) + 1))


def next_generation(meta: dict) -> int:
    """Next unused generation id (monotonic — retired ids are never
    reused, so a crashed writer's orphan partitions can always be
    cleaned by the next writer that allocates the same id)."""
    ng = meta.get("next_gen")
    if ng is not None:
        return int(ng)
    return int(meta.get("generation", 0)) + 1


def _gen_shards(gens: list[int], n_shards: int) -> list[int]:
    """Shard ids of the given generations (gen g owns
    ``[g*n_shards, (g+1)*n_shards)``)."""
    return [g * n_shards + s for g in gens for s in range(n_shards)]


def shard_pred(meta: dict, gens: list[int] | None = None):
    """Column predicate selecting the shard_ids of ``gens`` (default:
    the visible set) — an OR of per-generation ranges, so it stays a
    handful of comparisons however many shards a generation has (and
    partition-prunes the shard_id directories)."""
    n = int(meta["n_shards"])
    if gens is None:
        gens = visible_generations(meta)
    pred = F.lit(False)
    for g in gens:
        pred = pred | (
            (F.col("shard_id") >= g * n) & (F.col("shard_id") < (g + 1) * n))
    return pred


def load_blocks(spark: SparkSession, paths: IndexPaths,
                meta: dict) -> DataFrame:
    """The committed block set (orphan/retired generations filtered)."""
    return paths.read(spark, "blocks").where(shard_pred(meta))


def load_termstats(spark: SparkSession, paths: IndexPaths,
                   meta: dict) -> DataFrame:
    """(term, df) over committed generations. termstats is stored as
    per-generation df CONTRIBUTIONS (partition column ``gen``) so an
    append only writes its own generation's partition — append-only like
    every other table, visibility-gated by the same scalars commit."""
    return (
        paths.read(spark, "termstats")
        .where(F.col("gen").isin(visible_generations(meta)))
        .groupBy("term").agg(F.sum("df").cast("long").alias("df"))
    )


#: order-independent 60-bit lineage fingerprint of content_sha256 per
#: shard — the ONE definition every manifest aggregation uses
_SHA_XOR_EXPR = ("bit_xor(cast(conv(substring(content_sha256,1,15),16,10) "
                 "as bigint))")


def _sha_xor_agg():
    return F.expr(_SHA_XOR_EXPR).alias("sha256_xor")


def _probe_nonempty(spark: SparkSession, df: DataFrame) -> bool:
    """Bounded emptiness probe: one task over one partition in the
    (normal) non-empty case. The session-wide
    ``spark.sql.limit.initialNumPartitions=64`` (session.py — right for
    bounded query-plan collects) would make a bare ``isEmpty`` evaluate
    up to 64 input partitions; scoping the conf back to 1 here keeps the
    probe O(1 partition), and projecting a constant lets the scan prune
    every column."""
    old = None
    try:
        old = spark.conf.get("spark.sql.limit.initialNumPartitions")
    except Exception:
        pass
    spark.conf.set("spark.sql.limit.initialNumPartitions", "1")
    try:
        return not df.select(F.lit(1).alias("one")).isEmpty()
    finally:
        if old is None:
            spark.conf.unset("spark.sql.limit.initialNumPartitions")
        else:
            spark.conf.set("spark.sql.limit.initialNumPartitions", old)


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    n_shards: int = 32,
    resume: bool = False,
    attr_col: str | None = None,
) -> IndexPaths:
    """Build (or resume) the block index at ``path``.

    corpus: DataFrame(doc_id, content, content_sha256, ...).
    Plan shape: ONE wide shuffle (explode→groupBy for tf) feeding a
    per-shard applyInPandas; global stats are separate cheap aggs.

    attr_col: optional metadata column (e.g. ``lang``, ``repo``) that
    becomes a PHYSICAL partition column of the blocks table — the
    100-TB answer for high-selectivity attribute filters: an
    attr-filtered search prunes whole partition directories at the
    parquet scan instead of shipping a keep-list (Engine.search
    attr_filter / bmw_topk attr_values). Each (shard, attr) pair is a
    self-contained doc-disjoint posting run (a doc has ONE attr), so
    per-group top-k lists still merge into the exact global top-k;
    global stats (N, avgdl, df) remain corpus-wide, preserving the
    standard filtered-search scoring semantics. Appends must supply the
    same column; compaction preserves it.
    """
    paths = IndexPaths(path)
    done: set[int] = set()
    if resume and paths.exists(spark, "manifest"):
        done = {
            r["shard_id"]
            for r in paths.read(spark, "manifest")
            .where(F.col("status") == "ok")
            .select("shard_id")
            .collect()
        }

    # Spread the tokenize/explode work across the cluster regardless of the
    # input file layout: a handful of big parquet files would otherwise pin
    # the whole scan to a few tasks (observed: 1 file → 1-core tokenize).
    # At 100 TB the input has thousands of files and this is a cheap no-op
    # round-robin; locally it is the difference between 1 and N cores.
    width = max(n_shards, spark.sparkContext.defaultParallelism)
    # emptiness probe for the docstats write below, taken on the PRE-shuffle
    # plan: limit(1) on the raw input stops after one row, while isEmpty on
    # top of the repartition would materialize the ENTIRE corpus through the
    # exchange map side first (limit cannot skip a shuffle) — a full wasted
    # corpus pass at 100 TB.
    src = corpus
    corpus = corpus.repartition(width)

    corpus = corpus.withColumn(
        "shard_id", F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int")
    )
    if attr_col:
        corpus = corpus.withColumn("attr", F.col(attr_col).cast("string"))

    # ---- global stats (full corpus, independent of resume state) ----------
    # N and avgdl are observed DURING the docstats write (one action, no
    # read-back-and-aggregate job between the two corpus passes).
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Observation

    dt = corpus.select(
        "doc_id", "shard_id", "content_sha256",
        token_count_pandas_udf(F.col("content")).alias("dl"),
    )
    n_docs = None
    if resume and paths.exists(spark, "docstats"):
        row = paths.read(spark, "docstats").agg(
            F.count("*").alias("n"),
            F.sum("dl").cast("long").alias("sum_dl")).collect()[0]
        if int(row["n"]) > 0:
            n_docs = int(row["n"])
            sum_dl = int(row["sum_dl"] or 0)
        # else: the directory exists but holds no committed rows (crash
        # mid-write left only _temporary) — fall through and rebuild;
        # bare-existence must not be trusted as a checkpoint.
    if n_docs is None:
        obs = Observation("corpus_totals")
        observed = dt.observe(obs, F.count(F.lit(1)).alias("n"),
                              F.sum("dl").alias("sum_dl"))
        # repartition("shard_id") BEFORE the partitioned write: without
        # it every write task opens a writer per shard dir (width ×
        # n_shards small files — measured +10 s at 800k docs/local[8]
        # and a small-file tax on every later docstats scan); with it
        # each task owns whole shards and writes one file per dir. The
        # observe node sits upstream of the exchange, so totals come
        # from the same single pass — EXCEPT on an empty input, where
        # AQE's empty-plan propagation drops the CollectMetrics row and
        # obs.get raises (reproduced on this Spark); the bounded
        # pre-shuffle isEmpty probe skips the exchange for that case only.
        if _probe_nonempty(spark, src):
            observed = observed.repartition("shard_id")
        paths.write(observed, "docstats", mode="overwrite",
                    partition_by=["shard_id"])
        n_docs = int(obs.get["n"])
        sum_dl = int(obs.get["sum_dl"] or 0)  # 0-doc corpus: sum is NULL
    avgdl = (sum_dl / n_docs) if n_docs else 0.0

    # ---- postings for not-yet-done shards ----------------------------------
    todo = corpus.where(~F.col("shard_id").isin(list(done))) if done else corpus
    p = corpus_postings_arrow(todo, attr=bool(attr_col))

    t0 = time.time()
    group_keys = ["shard_id"] + (["attr"] if attr_col else [])
    blocks = p.groupBy(*group_keys).applyInPandas(
        lambda pdf: _build_shard_blocks(pdf, avgdl),
        BLOCKS_SCHEMA if attr_col else BLOCKS_SCHEMA_BASE
    )
    paths.write(blocks, "blocks", mode="append" if done else "overwrite",
                partition_by=group_keys)
    wall = time.time() - t0

    # ---- termstats + manifest: ONE narrow scan of the block metadata
    # columns (term, n, shard_id — parquet prunes the binary payload
    # columns), cached, then the two independent aggs+writes run
    # concurrently ----------------------------------------------------------
    all_blocks_meta = paths.read(spark, "blocks").select(
        "shard_id", "term", "n"
    ).cache()
    all_blocks_meta.count()  # materialize once before the concurrent jobs

    def _write_termstats():
        ts = all_blocks_meta.groupBy("term").agg(
            F.sum("n").cast("long").alias("df")
        ).withColumn("gen", F.lit(0))
        paths.write(ts, "termstats", mode="overwrite",
                    partition_by=["gen"])

    def _write_manifest():
        shard_stats = paths.read(spark, "docstats").groupBy("shard_id").agg(
            F.count("*").alias("n_docs"),
            F.sum("dl").cast("long").alias("sum_dl"),
            _sha_xor_agg(),
        )
        block_stats = all_blocks_meta.groupBy("shard_id").agg(
            F.sum("n").cast("long").alias("n_postings"),
            F.count("*").alias("n_blocks"),
        )
        manifest = (
            shard_stats.join(block_stats, "shard_id", "left")
            .na.fill({"n_postings": 0, "n_blocks": 0})
            .select(
                "shard_id", "n_docs", "n_postings", "n_blocks", "sum_dl",
                "sha256_xor",
                F.lit("ok").alias("status"),
                F.lit(float(wall)).alias("wall_time"),
                F.lit(0).alias("gen"),
            )
        )
        paths.write(manifest, "manifest", mode="overwrite",
                    partition_by=["gen"])

    # The two independent derived writes overlap on a threaded scheduler
    # (separate concurrent jobs sharing the executor pool on a real
    # cluster); the context manager propagates the FIRST failure and
    # tears the pool down even when a stage throws.
    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            ts_f = pool.submit(_write_termstats)
            mf_f = pool.submit(_write_manifest)
            ts_f.result()
            mf_f.result()
    finally:
        all_blocks_meta.unpersist()
    # COMMIT (written LAST, matching the append/compact protocol): a
    # reader that finds scalars is guaranteed blocks/termstats/manifest
    # are complete; a crash before this point leaves no committed index.
    _write_scalars(spark, paths, n_docs, avgdl, n_shards,
                   visible_gens=[0], next_gen=1, sum_dl=sum_dl,
                   attr_col=attr_col)
    return paths


def _scalars_local_dir(paths: IndexPaths) -> str | None:
    """The scalars dir as a plain POSIX path when the index lives on the
    local filesystem in parquet mode, else None. Gates the driver-side
    single-row fast path below: a one-row table needs no Spark job (the
    createDataFrame→write job costs a full scheduling round trip and is
    exposed to multi-second IO stalls on a busy host), but other schemes
    (hdfs:, s3a:, ...), relative roots and Iceberg catalogs keep the
    Spark path. Local means scheme '' or 'file' with an absolute path, so
    every Hadoop spelling of a local root — ``/tmp/idx``,
    ``file:/tmp/idx``, ``file:///tmp/idx`` — commits to the same place."""
    import os
    from urllib.parse import urlparse

    if paths.catalog_name is not None:
        return None
    u = urlparse(paths.root)
    if u.scheme not in ("", "file") or u.netloc not in ("", "localhost") \
            or not os.path.isabs(u.path):
        return None
    return f"{u.path.rstrip('/')}/scalars"


SCALARS_SCHEMA = (
    "n_docs long, avgdl double, n_shards int, generation int, "
    "sum_dl long, last_batch_id string, visible_gens string, "
    "next_gen int, attr_col string")


def _read_scalars_local(paths: IndexPaths) -> dict | None:
    """Driver-side scalars read (no Spark job) — local parquet only.
    None → caller falls back to the Spark read (missing dir included, so
    error behavior matches the slow path)."""
    import os

    d = _scalars_local_dir(paths)
    if d is None or not os.path.isdir(d):
        return None
    files = [f for f in os.listdir(d)
             if f.endswith(".parquet") and not f.startswith((".", "_"))]
    if len(files) != 1:
        return None  # mid-overwrite or unexpected layout → Spark read
    import pyarrow.parquet as pq

    try:
        rows = pq.read_table(f"{d}/{files[0]}").to_pylist()
    except FileNotFoundError:
        return None  # replaced by a concurrent commit since the listing
    if len(rows) != 1:
        return None
    row = rows[0]
    # float NaN → None normalization matches Row.asDict for absent strings
    return row


def _write_scalars_local(paths: IndexPaths, row: tuple) -> bool:
    """Driver-side single-row scalars overwrite. The new file is renamed
    into place BEFORE the old ones are unlinked, so a concurrent reader
    always finds a complete row (the old or the new; _read_scalars_local
    falls back to the Spark read while both are present). Returns False
    when the root is not local-parquet (caller uses the Spark path)."""
    import os
    import uuid

    d = _scalars_local_dir(paths)
    if d is None:
        return False
    import pyarrow as pa
    import pyarrow.parquet as pq

    (n_docs, avgdl, n_shards, generation, sum_dl, last_batch_id,
     visible_gens, next_gen, attr_col) = row
    table = pa.table({
        "n_docs": pa.array([n_docs], pa.int64()),
        "avgdl": pa.array([avgdl], pa.float64()),
        "n_shards": pa.array([n_shards], pa.int32()),
        "generation": pa.array([generation], pa.int32()),
        "sum_dl": pa.array([sum_dl], pa.int64()),
        "last_batch_id": pa.array([last_batch_id], pa.string()),
        "visible_gens": pa.array([visible_gens], pa.string()),
        "next_gen": pa.array([next_gen], pa.int32()),
        "attr_col": pa.array([attr_col], pa.string()),
    })
    os.makedirs(d, exist_ok=True)
    tmp = f"{d}/.tmp-{uuid.uuid4().hex}.parquet"
    pq.write_table(table, tmp)
    name = f"part-00000-{uuid.uuid4().hex}.snappy.parquet"
    os.replace(tmp, f"{d}/{name}")
    for f in os.listdir(d):
        if f != name and not f.startswith((".", "_")):
            os.unlink(f"{d}/{f}")
    return True


def _write_scalars(spark: SparkSession, paths: IndexPaths, n_docs: int,
                   avgdl: float, n_shards: int,
                   visible_gens: list[int],
                   next_gen: int,
                   sum_dl: int | None = None,
                   last_batch_id: str | None = None,
                   attr_col: str | None = None) -> None:
    """The scalars row is the index's COMMIT POINT: every other table is
    append-only with orphan rows made invisible by visible_generations /
    shard_pred / load_termstats, so the single-row scalars overwrite
    atomically publishes any membership change (append adds a
    generation, compaction swaps a subset for one merged generation).
    ``generation`` is kept as the COUNT of visible generations minus one
    — the "how fragmented is this index" signal query code keys bound
    modes off and maintenance keys merge policy off — while
    ``visible_gens`` carries the actual ids. sum_dl makes incremental
    avgdl updates exact (no float drift); last_batch_id is the
    streaming replay guard."""
    if sum_dl is None:
        sum_dl = int(round(avgdl * n_docs))
    visible_gens = sorted(visible_gens)
    generation = len(visible_gens) - 1
    row = (n_docs, avgdl, n_shards, generation, sum_dl, last_batch_id,
           ",".join(str(g) for g in visible_gens), int(next_gen),
           attr_col)
    if _write_scalars_local(paths, row):
        return
    df = spark.createDataFrame([row], SCALARS_SCHEMA).coalesce(1)
    paths.write(df, "scalars", mode="overwrite")


def load_scalars(spark: SparkSession, paths: IndexPaths) -> tuple[int, float]:
    r = load_meta(spark, paths)
    return int(r["n_docs"]), float(r["avgdl"])


def load_meta(spark: SparkSession, paths: IndexPaths) -> dict:
    r = _read_scalars_local(paths)
    if r is not None:
        return r
    return paths.read(spark, "scalars").collect()[0].asDict()


def index_stats(spark: SparkSession, paths: IndexPaths) -> dict:
    """Diagnostics: compressed block bytes vs raw posting bytes (a
    posting is 3 int64s uncompressed: doc_id, tf, dl). This scans the
    binary columns — a deliberate full read for reporting, NOT on any
    query path (query-path scans prune binaries via column projection)."""
    meta = load_meta(spark, paths)
    r = load_blocks(spark, paths, meta).agg(
        F.sum(
            F.length("docs_vb") + F.length("tfs_vb") + F.length("dls_vb")
        ).alias("vb_bytes"),
        F.sum("n").cast("long").alias("n_postings"),
        F.count("*").alias("n_blocks"),
    ).collect()[0]
    raw_bytes = 24 * int(r["n_postings"] or 0)
    vb_bytes = int(r["vb_bytes"] or 0)
    n_tomb = (paths.read(spark, "tombstones").select("doc_id")
              .distinct().count()
              if paths.exists(spark, "tombstones") else 0)
    return {
        "n_postings": int(r["n_postings"] or 0),
        "n_blocks": int(r["n_blocks"] or 0),
        "vb_bytes": vb_bytes,
        "raw_bytes": raw_bytes,
        "compression_ratio": round(raw_bytes / vb_bytes, 3)
        if vb_bytes else None,
        # maintenance signals (compact when either grows large)
        "generation": int(meta.get("generation", 0)),
        "n_generations": len(visible_generations(meta)),
        "visible_gens": visible_generations(meta),
        "n_tombstones": n_tomb,
    }


def append_index(
    spark: SparkSession,
    new_corpus: DataFrame,
    path: str,
    batch_id: str | int | None = None,
) -> IndexPaths:
    """Incremental append: NEW docs become a new index generation.

    Generation g's shards get ids ``g * n_shards + pmod(xxhash64(doc_id),
    n_shards)`` — still doc-disjoint from every earlier generation, so
    the query path needs no merge logic: a generation is just more
    shards. Global stats update incrementally (observed batch totals +
    the exact sum_dl carried in scalars — append cost is independent of
    index size); OLD blocks' ``max_tfsat`` was computed under the old
    avgdl and is now stale. Search does not read block maxima (the block
    scan scores every posting), but the WAND reference kernel switches
    to the avgdl-independent (max_tf, min_dl) bound once generation > 0
    (bmw._TermData's 'safe' bound mode).

    Atomicity / replay (foreachBatch is at-least-once):

    * every data write (docstats/blocks/termstats/manifest) is APPEND of
      rows belonging only to the new generation; readers hide them via
      shard_pred / load_termstats until the final single-row scalars
      overwrite — the commit point — publishes the generation;
    * a crash before commit leaves only invisible orphans; the retry
      first deletes the would-be generation's partitions (same ids are
      recomputed deterministically), so a replay never double-indexes;
    * batch_id (pass the foreachBatch epoch id) is recorded in scalars
      at commit: a replay of an ALREADY-committed batch is a no-op.
    """
    paths = IndexPaths(path)
    meta = load_meta(spark, paths)
    n_shards = int(meta["n_shards"])
    vis = visible_generations(meta)
    gen = next_generation(meta)
    if batch_id is not None and meta.get("last_batch_id") == str(batch_id):
        return paths  # replay of a committed batch (exactly-once)
    cat = paths.catalog(spark)
    new_shards = list(range(gen * n_shards, (gen + 1) * n_shards))
    # orphan cleanup from a previous failed attempt at THIS generation
    cat.delete_partitions("blocks", "shard_id", new_shards)
    cat.delete_partitions("docstats", "shard_id", new_shards)
    cat.delete_partitions("termstats", "gen", [gen])
    cat.delete_partitions("manifest", "gen", [gen])

    from pyspark.sql import Observation

    width = max(n_shards, spark.sparkContext.defaultParallelism)
    src = new_corpus  # pre-shuffle emptiness probe (see build_index)
    new_corpus = new_corpus.repartition(width).withColumn(
        "shard_id",
        (F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)) + gen * n_shards)
        .cast("int"),
    )
    attr_col = meta.get("attr_col")
    if attr_col:
        new_corpus = new_corpus.withColumn(
            "attr", F.col(attr_col).cast("string"))
    dt = new_corpus.select(
        "doc_id", "shard_id", "content_sha256",
        token_count_pandas_udf(F.col("content")).alias("dl"),
    )
    obs = Observation(f"append_totals_{gen}")
    observed = dt.observe(obs, F.count(F.lit(1)).alias("n"),
                          F.sum("dl").alias("sum_dl"))
    if _probe_nonempty(spark, src):
        # one writer per shard dir (see build_index; skipped on an empty
        # batch, where the exchange would drop the observation row)
        observed = observed.repartition("shard_id")
    paths.write(observed, "docstats", mode="append",
                partition_by=["shard_id"])
    batch_n, batch_sum = int(obs.get["n"]), int(obs.get["sum_dl"] or 0)
    prev_sum = int(meta.get("sum_dl") or
                   round(float(meta["avgdl"]) * int(meta["n_docs"])))
    n_docs = int(meta["n_docs"]) + batch_n
    sum_dl = prev_sum + batch_sum
    avgdl = (sum_dl / n_docs) if n_docs else 0.0

    p = corpus_postings_arrow(new_corpus, attr=bool(attr_col))
    group_keys = ["shard_id"] + (["attr"] if attr_col else [])
    blocks = p.groupBy(*group_keys).applyInPandas(
        lambda pdf: _build_shard_blocks(pdf, avgdl),
        BLOCKS_SCHEMA if attr_col else BLOCKS_SCHEMA_BASE
    )
    paths.write(blocks, "blocks", mode="append", partition_by=group_keys)

    # per-generation df CONTRIBUTION (load_termstats sums visible gens) —
    # derived from the new generation's blocks only, never a full rescan
    lo, hi = gen * n_shards, (gen + 1) * n_shards
    gen_blocks = paths.read(spark, "blocks").where(
        (F.col("shard_id") >= lo) & (F.col("shard_id") < hi)
    ).select("term", "n")
    paths.write(
        gen_blocks.groupBy("term").agg(
            F.sum("n").cast("long").alias("df"))
        .withColumn("gen", F.lit(gen)),
        "termstats", mode="append", partition_by=["gen"])

    new_manifest = _manifest_from_docstats(
        paths.read(spark, "docstats")
        .where((F.col("shard_id") >= lo) & (F.col("shard_id") < hi)), gen)
    paths.write(new_manifest, "manifest", mode="append",
                partition_by=["gen"])

    # COMMIT: publish the generation (+ the replay guard)
    _write_scalars(spark, paths, n_docs, avgdl, n_shards,
                   visible_gens=vis + [gen], next_gen=gen + 1,
                   sum_dl=sum_dl,
                   last_batch_id=(None if batch_id is None
                                  else str(batch_id)),
                   attr_col=attr_col)
    return paths


def _manifest_from_docstats(dt: DataFrame, gen: int) -> DataFrame:
    return dt.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        _sha_xor_agg(),
    ).select(
        "shard_id", "n_docs",
        F.lit(None).cast("long").alias("n_postings"),
        F.lit(None).cast("long").alias("n_blocks"),
        "sum_dl", "sha256_xor",
        F.lit("ok").alias("status"), F.lit(0.0).alias("wall_time"),
        F.lit(gen).alias("gen"),
    )


def delete_docs(spark: SparkSession, path: str,
                doc_ids: DataFrame) -> None:
    """Soft delete (Lucene-style segment deletes): append ids to the
    ``tombstones`` table. Query paths exclude tombstoned docs from
    results immediately; global stats (N, avgdl, df) intentionally stay
    PRE-delete until compact_index physically purges the postings —
    the same deferred-stats semantics as Lucene, where deleted docs
    count toward collection statistics until segments merge. doc_ids:
    any DataFrame with a ``doc_id`` column.

    Each call lands in its own ``tomb_batch`` PARTITION: a full compact
    snapshots the batch set, purges those ids, and deletes exactly the
    snapshotted partitions — a delete_docs racing the compaction writes
    a new partition that survives untouched (no lost deletes).

    Legacy indexes (tombstone files written before batch partitioning
    sit at the table ROOT) are migrated first: Spark's partition
    discovery silently DROPS root-level files once a partition directory
    appears next to them, so appending a partitioned batch into a legacy
    layout would resurrect every previously-deleted doc. The migration
    rewrites the table into a ``tomb_batch=legacy`` partition before the
    first partitioned append; while the layout is pure-legacy the read
    is still correct (explicit schema, missing column → NULL)."""
    import uuid

    paths = IndexPaths(path)
    if paths.exists(spark, "tombstones"):
        legacy = paths.read(spark, "tombstones") \
            .where(F.col("tomb_batch").isNull())
        if not legacy.isEmpty():
            rows = [r["doc_id"] for r in
                    paths.read(spark, "tombstones").select("doc_id")
                    .distinct().collect()]
            paths.write(
                spark.createDataFrame([(int(d), "legacy") for d in rows],
                                      "doc_id long, tomb_batch string"),
                "tombstones", mode="overwrite",
                partition_by=["tomb_batch"])
    batch = f"{time.time_ns():x}-{uuid.uuid4().hex[:8]}"
    paths.write(
        doc_ids.select(F.col("doc_id").cast("long")).distinct()
        .withColumn("tomb_batch", F.lit(batch)),
        "tombstones", mode="append", partition_by=["tomb_batch"],
    )


def load_tombstones(spark: SparkSession, paths: IndexPaths):
    """Sorted int64 numpy array of tombstoned doc ids, or None.

    Driver-collected and broadcast into query kernels — the set is
    bounded by compaction cadence (a 10M-delete backlog is an 80 MB
    broadcast; past that, run compact_index, which both purges the
    postings and drops this table)."""
    if not paths.exists(spark, "tombstones"):
        return None
    arr = np.array(
        [r["doc_id"] for r in paths.read(spark, "tombstones")
         .select("doc_id").distinct().collect()],
        dtype=np.int64,
    )
    if len(arr) == 0:
        return None
    arr.sort()
    return arr


def _decode_blocks_map(batches: Iterable[pd.DataFrame]
                       ) -> Iterable[pd.DataFrame]:
    """Block rows → raw (term, doc_id, dl, tf[, attr]) posting rows
    (shard_id is re-derived downstream). Inverse of _build_shard_blocks,
    numpy per block, one concat per Arrow batch; the block's ``attr``
    (attribute-partitioned indexes) is repeated per posting when the
    input carries it."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        has_attr = "attr" in pdf.columns
        terms, docs, tfs, dls, attrs = [], [], [], [], []
        for row in pdf.itertuples(index=False):
            d = vb.delta_decode(row.docs_vb, base=int(row.first_doc))
            terms.append(np.repeat(np.array([row.term], dtype=object),
                                   len(d)))
            docs.append(d)
            tfs.append(vb.decode(row.tfs_vb))
            dls.append(vb.decode(row.dls_vb))
            if has_attr:
                attrs.append(np.repeat(np.array([row.attr], dtype=object),
                                       len(d)))
        out = {
            "term": np.concatenate(terms),
            "doc_id": np.concatenate(docs).astype(np.int64),
            "dl": np.concatenate(dls).astype(np.int64),
            "tf": np.concatenate(tfs).astype(np.int64),
        }
        if has_attr:
            out["attr"] = np.concatenate(attrs)
        yield pd.DataFrame(out)


def plan_tiered_merge(spark: SparkSession, paths: IndexPaths,
                      max_generations: int = 4) -> list[int] | None:
    """Maintenance policy (Lucene TieredMergePolicy shape): when more
    than ``max_generations`` generations are visible, pick the SMALLEST
    ones (by manifest doc count) — just enough that merging them into
    one brings the count back to the target — so each maintenance
    cycle's IO is bounded by the small generations streaming ingest
    accretes, and the bulk generation is never rewritten. Returns the
    generation-id list to pass to compact_index, or None when no merge
    is due."""
    meta = load_meta(spark, paths)
    vis = visible_generations(meta)
    if len(vis) <= max_generations:
        return None
    sizes = {g: 0 for g in vis}
    for r in (paths.read(spark, "manifest")
              .where(F.col("gen").isin(vis))
              .groupBy("gen").agg(F.sum("n_docs").alias("nd")).collect()):
        sizes[int(r["gen"])] = int(r["nd"] or 0)
    by_size = sorted(vis, key=lambda g: (sizes[g], g))
    # merging m generations into 1 reduces the count by m-1
    n_merge = len(vis) - max_generations + 1
    return sorted(by_size[:n_merge])


def compact_index(spark: SparkSession, path: str,
                  generations: list[int] | None = None) -> IndexPaths:
    """Merge generations into ONE new generation (Lucene tiered merge).

    generations=None merges EVERY visible generation (full compaction);
    a list merges only those generations — e.g. the K smallest append
    generations — leaving the rest untouched, so each maintenance
    cycle's IO is bounded by the merged generations' size instead of a
    full-index rewrite (the 100-TB shape: gen-0 holds the bulk build and
    is only rewritten when a full compact is explicitly requested).

    Index-only: postings are recovered by DECODING the selected
    generations' blocks — the corpus is never re-read or re-tokenized
    (at scale the compressed index is ~8× smaller than the text). Rows
    re-shard by ``pmod(xxhash64(doc_id), n_shards)`` into the NEW
    generation's shard range and re-block under the current global
    avgdl. After a FULL compact exactly one generation is visible, so
    ``max_tfsat`` is exact again (the tightest bound for the WAND
    reference kernel, bmw._TermData), and the visible shard count
    collapses back to ``n_shards`` — streaming ingest otherwise accretes
    tiny generation shards (small files + scheduler overhead).

    Physical delete purge happens only on a FULL compact: the tombstone
    set is SNAPSHOT once (one collect; the same snapshot feeds both
    anti-joins, so docstats and postings can never purge different
    sets), tombstoned docs are removed from postings and docstats,
    global stats (N, avgdl, df) are recomputed over the survivors, and
    the snapshotted tombstone rows are dropped — deletes that land
    DURING compaction survive in the table and stay excluded at query
    time under deferred stats. A partial compact carries tombstoned
    postings through unpurged (stats unchanged → pure re-layout).

    Crash safety — the same commit protocol as append_index: every
    output lands in the new generation's partitions (docstats/blocks by
    shard range, termstats/manifest by gen), INVISIBLE until the final
    single-row scalars overwrite publishes ``visible = (visible - merged)
    + [new]``. A crash at any earlier point leaves the old index fully
    intact plus invisible orphans, which the next writer to allocate
    the same generation id deletes first. Retiring the merged
    generations' partitions happens post-commit and is best-effort: a
    failure there leaves dead (invisible) files, never wrong answers.
    Decoded postings are staged to ``compact_postings`` first so the
    blocks append never reads the table it writes.

    Invariants (test-asserted): query results are IDENTICAL pre/post
    (BM25 depends only on global stats, never on shard membership; with
    pending deletes on a full compact, identical to post-delete results
    under the recomputed-stats semantics), and with no pending deletes
    n_docs/avgdl/termstats totals and the manifest's global sha256-xor
    lineage are preserved.
    """
    from pyspark.sql import Observation

    paths = IndexPaths(path)
    meta = load_meta(spark, paths)
    n_shards = int(meta["n_shards"])
    cat = paths.catalog(spark)
    vis = visible_generations(meta)
    sel = sorted(int(g) for g in generations) \
        if generations is not None else list(vis)
    if not sel:
        raise ValueError("compact_index: empty generation selection")
    bad = set(sel) - set(vis)
    if bad:
        raise ValueError(
            f"compact_index: generations {sorted(bad)} are not visible "
            f"(visible: {vis})")
    full = set(sel) == set(vis)
    # tombstone SNAPSHOT (full compact only — a partial compact can't
    # purge: tombstones don't record which generation holds a doc). The
    # snapshot records both the id set AND the batch-partition set, so
    # the post-commit cleanup drops exactly the snapshotted partitions;
    # legacy rows (pre-partitioning files, tomb_batch NULL) fall back to
    # the old rewrite path.
    tomb_arr, snap_batches, legacy_tombs = None, [], False
    if full and paths.exists(spark, "tombstones"):
        trows = (paths.read(spark, "tombstones")
                 .select("doc_id", "tomb_batch").distinct().collect())
        if trows:
            tomb_arr = np.unique(np.array(
                [r["doc_id"] for r in trows], dtype=np.int64))
            batches = {r["tomb_batch"] for r in trows}
            legacy_tombs = None in batches
            snap_batches = sorted(b for b in batches if b is not None)
    purge = tomb_arr is not None
    tomb_df = (spark.createDataFrame([(int(d),) for d in tomb_arr],
                                     "doc_id long") if purge else None)

    new_gen = next_generation(meta)
    lo = new_gen * n_shards
    new_shards = list(range(lo, lo + n_shards))
    # orphan cleanup of a previous failed attempt at this generation id
    cat.delete_partitions("blocks", "shard_id", new_shards)
    cat.delete_partitions("docstats", "shard_id", new_shards)
    cat.delete_partitions("termstats", "gen", [new_gen])
    cat.delete_partitions("manifest", "gen", [new_gen])

    sel_pred = shard_pred(meta, sel)
    reshard = (F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)) + F.lit(lo)) \
        .cast("int")

    t0 = time.time()
    # docstats first: a full compact's purge shifts N/avgdl, and the
    # re-blocked max_tfsat must be exact under the NEW avgdl. Totals are
    # observed during the staging write (no separate agg job).
    ds = paths.read(spark, "docstats").where(sel_pred) \
        .withColumn("shard_id", reshard)
    if purge:
        ds = ds.join(tomb_df, "doc_id", "left_anti")
    obs = Observation(f"compact_totals_{new_gen}")
    paths.write(
        ds.observe(obs, F.count(F.lit(1)).alias("n"),
                   F.sum("dl").alias("sum_dl")),
        "compact_docstats", mode="overwrite")
    sel_n = int(obs.get["n"])
    sel_sum = int(obs.get["sum_dl"] or 0)
    if full:
        n_docs, sum_dl = sel_n, sel_sum
    else:
        # pure re-layout: global stats are untouched
        n_docs = int(meta["n_docs"])
        sum_dl = int(meta.get("sum_dl") or
                     round(float(meta["avgdl"]) * n_docs))
    avgdl = (sum_dl / n_docs) if n_docs else 0.0
    paths.write(paths.read(spark, "compact_docstats")
                .repartition("shard_id"),  # one writer per shard dir
                "docstats", mode="append", partition_by=["shard_id"])

    attr_mode = bool(meta.get("attr_col"))
    attr_sel = ["attr"] if attr_mode else []
    postings = (
        paths.read(spark, "blocks").where(sel_pred)
        .select("term", "first_doc", "docs_vb", "tfs_vb", "dls_vb",
                *attr_sel)
        .mapInPandas(_decode_blocks_map,
                     "term string, doc_id long, dl long, tf long"
                     + (", attr string" if attr_mode else ""))
        .withColumn("shard_id", reshard)
        .select("shard_id", "term", "doc_id", "dl", "tf", *attr_sel)
    )
    if purge:
        postings = postings.join(tomb_df, "doc_id", "left_anti")
    paths.write(postings, "compact_postings", mode="overwrite")

    group_keys = ["shard_id"] + attr_sel
    compact_src = paths.read(spark, "compact_postings")
    if not attr_mode:
        compact_src = compact_src.drop("attr")
    blocks = compact_src.groupBy(*group_keys).applyInPandas(
        lambda pdf: _build_shard_blocks(pdf, avgdl),
        BLOCKS_SCHEMA if attr_mode else BLOCKS_SCHEMA_BASE)
    paths.write(blocks, "blocks", mode="append",
                partition_by=group_keys)

    wall = time.time() - t0
    gen_pred = shard_pred(meta, [new_gen])
    new_ds = paths.read(spark, "docstats").where(gen_pred)
    new_blocks_meta = paths.read(spark, "blocks").where(gen_pred).select(
        "shard_id", "term", "n").cache()
    new_blocks_meta.count()
    # termstats contribution of the merged generation (sum(n) per term is
    # invariant under re-sharding, so a no-delete merge preserves df)
    paths.write(
        new_blocks_meta.groupBy("term").agg(
            F.sum("n").cast("long").alias("df"))
        .withColumn("gen", F.lit(new_gen)),
        "termstats", mode="append", partition_by=["gen"])
    block_meta = new_blocks_meta.groupBy("shard_id").agg(
        F.sum("n").cast("long").alias("n_postings"),
        F.count("*").alias("n_blocks"),
    )
    manifest = (
        new_ds.groupBy("shard_id").agg(
            F.count("*").alias("n_docs"),
            F.sum("dl").cast("long").alias("sum_dl"),
            _sha_xor_agg(),
        )
        .join(block_meta, "shard_id", "left")
        .na.fill({"n_postings": 0, "n_blocks": 0})
        .select(
            "shard_id", "n_docs", "n_postings", "n_blocks", "sum_dl",
            "sha256_xor",
            F.lit("ok").alias("status"),
            F.lit(float(wall)).alias("wall_time"),
            F.lit(new_gen).alias("gen"),
        )
    )
    paths.write(manifest, "manifest", mode="append",
                partition_by=["gen"])
    new_blocks_meta.unpersist()

    # COMMIT: swap the merged generations for the new one. last_batch_id
    # is kept so a committed batch replayed AFTER compaction is still
    # recognized as applied.
    new_vis = sorted(set(vis) - set(sel)) + [new_gen]
    _write_scalars(spark, paths, n_docs, avgdl, n_shards,
                   visible_gens=new_vis, next_gen=new_gen + 1,
                   sum_dl=sum_dl,
                   last_batch_id=meta.get("last_batch_id"),
                   attr_col=meta.get("attr_col"))

    # POST-COMMIT: record the merged generations' partitions in the
    # ``retired`` ledger instead of deleting them — the rows are already
    # invisible (scalars no longer list their generations), but an
    # in-flight query whose plan captured the old file list still needs
    # the bytes. gc_retired() (Engine.maintain / maintain_index_job)
    # performs the physical deletes once a retention window has passed.
    now_ts = time.time()
    led = [("blocks", "shard_id", str(s), int(s // n_shards), now_ts)
           for s in _gen_shards(sel, n_shards)]
    led += [("docstats", "shard_id", str(s), int(s // n_shards), now_ts)
            for s in _gen_shards(sel, n_shards)]
    led += [("termstats", "gen", str(g), g, now_ts) for g in sel]
    led += [("manifest", "gen", str(g), g, now_ts) for g in sel]
    paths.write(spark.createDataFrame(led, RETIRED_SCHEMA), "retired",
                mode="append")
    # staging has no readers — dropped immediately
    cat.drop_table("compact_postings")
    cat.drop_table("compact_docstats")
    if purge:
        if not legacy_tombs:
            # drop exactly the SNAPSHOTTED batch partitions — a
            # delete_docs that raced this compaction wrote a NEW batch
            # partition, which survives untouched and stays excluded at
            # query time under deferred stats (no lost deletes, no
            # rewrite)
            cat.delete_partitions("tombstones", "tomb_batch",
                                  snap_batches)
        else:
            # legacy non-partitioned rows: the old rewrite (single-writer
            # window while it runs — only reachable on indexes written
            # before batch partitioning)
            cur = [int(r["doc_id"])
                   for r in paths.read(spark, "tombstones")
                   .select("doc_id").distinct().collect()] \
                if paths.exists(spark, "tombstones") else []
            snap = set(int(d) for d in tomb_arr)
            remaining = sorted(d for d in cur if d not in snap)
            cat.drop_table("tombstones")
            if remaining:
                paths.write(
                    spark.createDataFrame(
                        [(d, "legacy") for d in remaining],
                        "doc_id long, tomb_batch string"),
                    "tombstones", mode="append",
                    partition_by=["tomb_batch"])
    return paths


def gc_retired(spark: SparkSession, path: str,
               retention_secs: float = 3600.0) -> list[tuple]:
    """Physically delete partitions retired by compaction more than
    ``retention_secs`` ago (the grace window for in-flight queries whose
    plans captured the pre-compaction file list), then shrink the
    ledger. Call from the single maintenance writer (Engine.maintain /
    maintain_index_job) on a schedule; retention should exceed the
    longest expected query. Returns the (tbl, part_col, part_val) tuples
    it deleted.

    SINGLE-WRITER REQUIRED: the ledger shrink is a read-collect-
    overwrite — a compaction appending retirement rows between the read
    and the overwrite would have those rows silently dropped (disk leak,
    never wrong answers). Engine.maintain and maintain_index_job already
    serialize compaction and GC on one thread; do not run gc_retired
    concurrently with a compacting writer from elsewhere."""
    paths = IndexPaths(path)
    if not paths.exists(spark, "retired"):
        return []
    rows = paths.read(spark, "retired").collect()
    cutoff = time.time() - retention_secs
    due = [r for r in rows if float(r["retired_at"]) <= cutoff]
    if not due:
        return []
    cat = paths.catalog(spark)
    for r in due:
        # ledger stores part_val as string; int-typed partition columns
        # (shard_id, gen) go back to ints so the Iceberg DELETE branch
        # emits the right literal type (parquet mode is type-agnostic)
        v = r["part_val"]
        if isinstance(v, str) and v.lstrip("-").isdigit():
            v = int(v)
        cat.delete_partitions(r["tbl"], r["part_col"], [v])
    remaining = [(r["tbl"], r["part_col"], r["part_val"], r["gen"],
                  r["retired_at"]) for r in rows
                 if float(r["retired_at"]) > cutoff]
    if remaining:
        paths.write(spark.createDataFrame(remaining, RETIRED_SCHEMA),
                    "retired", mode="overwrite")
    else:
        cat.drop_table("retired")
    return [(r["tbl"], r["part_col"], r["part_val"]) for r in due]
