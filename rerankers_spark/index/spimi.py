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

Block format 2 (FIXTURES.md §4). Postings address docs by ORDINAL: a
doc's ordinal is the rank of its doc_id (signed int64 order) among the
docs of its block-build group — a shard, or a (shard, attr) pair — that
have at least one posting, so ordinal order is doc_id order. Posting
rows: ≤128 postings per block, ordinal-ascending; ``first_doc`` /
``last_doc`` are ordinals and ``docs_vb`` = varbyte(delta(ordinals))
anchored at ``first_doc`` — dense ordinals make the gaps 1-2 bytes where
random full-range doc ids took ~8. ``tfs_vb`` / ``dls_vb`` = varbyte(raw
tf / doc-length). Storing dl in the block lets query-time scoring
recompute EXACT float64 BM25 (tf, dl, global avgdl, idf) with no
docstats join; ``max_tfsat`` is the exact per-block max of the
tf-saturation factor (idf-independent, so term statistics are only
needed at query time, broadcast-joined onto query terms). Each group's
DOCMAP (ordinal → doc_id) lives in the same table under the reserved
term ``DOCMAP_TERM``: rows of at most ``DOCMAP_ROW_IDS`` sorted doc ids,
``docs_vb`` = their biased varbyte deltas anchored at ``first_doc``,
``n`` = their count. This module owns the format both ways: the build
(_build_shard_blocks) and the decode (split_docmap, ordinals_of,
decode_group); the scalars commit records ``block_format`` and every
reader rejects an index written in any other format
(check_block_format).

Lineage (input_hint): docstats carries per-row ``content_sha256``; the
manifest aggregates row counts and an order-independent XOR fingerprint
of those hashes per shard.

Lifecycle: build_index, append_index and compact_index each write ONE
generation through the same two steps, and differ only in where their
rows come from, how they derive the new global totals, and what they
commit:

1. ``_write_gen_docstats`` — orphan cleanup of the generation's docstats
   partitions, then the docstats append with (n, sum_dl) observed in the
   same pass;
2. ``_write_gen_blocks`` — orphan cleanup of its blocks/termstats/
   manifest partitions, the block build + append, then the termstats
   contribution and the full manifest rows, derived from the new block
   metadata and written concurrently.

The scalars commit that follows (``_write_scalars``: one parquet file
written under a temp name and renamed into ``<root>/scalars`` through
the Hadoop FileSystem, Catalog.commit_row) is the commit point for all
three.

The reference presupposes this whole stage as an external artifact
(tests/consistency_notebooks/test_crossenc.ipynb cell 5).
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
from py4j.protocol import Py4JJavaError
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from rerankers_spark.functions.tokenize import token_count_pandas_udf
from rerankers_spark.index import varbyte as vb
from rerankers_spark.operators import bm25

BLOCK_SIZE = 128

#: the block format this module writes and reads, recorded in scalars
#: (``block_format``) by every commit
BLOCK_FORMAT = 2
#: the reserved term of docmap rows — the tokenizer never emits ""
DOCMAP_TERM = ""
#: doc ids per docmap row, so no binary cell grows with the shard
DOCMAP_ROW_IDS = 4096

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


def local_df(spark: SparkSession, pdf: pd.DataFrame,
             schema: str) -> DataFrame:
    """Small driver-side table → DataFrame via the Arrow path: the data
    ships to the JVM as Arrow batches decoded JVM-side, so downstream
    stages evaluate it without Python workers. createDataFrame on a
    plain row list instead builds a pickled Python RDD whose every
    evaluation (broadcast builds, cogroup sides) spins up a Python
    worker — measured multi-second 1-task stages on the query path."""
    return spark.createDataFrame(pdf, schema=schema)


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
    """One group's (term, doc_id, tf, dl) rows → its docmap rows plus its
    posting block rows (block format 2, module docstring). A group is
    one shard — or one (shard, attr) pair for an attribute-partitioned
    index (build_index attr_col), in which case every input row shares
    one ``attr`` value that is stamped onto every row.

    Fully vectorized across the whole shard: ordinals, block boundaries,
    per-block aggregates (reduceat) and the three varbyte streams are
    each ONE numpy pass; per-block work is just byte-slicing. (The
    earlier per-block formulation made ~8 tiny numpy calls per block —
    3M calls per 50k-doc build — and dominated build wall time.)"""
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
    # python-str comparison sort_values used.
    codes, uniques = pd.factorize(pdf["term"], sort=True)
    codes = codes.astype(np.int64)
    # the docmap (ordinal → doc_id) and each posting's ordinal
    doc_map, ords = np.unique(pdf["doc_id"].to_numpy(dtype=np.int64),
                              return_inverse=True)
    order = np.lexsort((ords, codes))
    codes = codes[order]
    docs = ords.reshape(-1)[order].astype(np.int64)
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

    # ordinal deltas (anchor = block's first ordinal → delta 0): the
    # bytes varbyte.delta_encode(block, first_doc) writes, for all
    # blocks in one pass
    prev = np.empty_like(docs)
    prev[1:] = docs[:-1]
    prev[bstart] = docs[bstart]
    d_buf, d_len = vb.encode_with_lengths(docs - prev)
    t_buf, t_len = vb.encode_with_lengths(tfs)
    l_buf, l_len = vb.encode_with_lengths(dls)

    def _slices(buf: bytes, lens: np.ndarray) -> list[bytes]:
        ends = np.cumsum(lens)
        v_end = ends[bend - 1]
        v_start = ends[bstart] - lens[bstart]
        return [buf[a:b] for a, b in zip(v_start, v_end)]

    postings = pd.DataFrame(
        {
            "shard_id": np.full(len(bstart), shard_id, dtype=np.int32),
            "term": np.asarray(uniques, dtype=object)[codes[bstart]],
            "block_id": (pos_in_run[bstart] // BLOCK_SIZE).astype(np.int32),
            "first_doc": docs[bstart],
            "last_doc": docs[bend - 1],
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
        }
    )
    m_lo = np.arange(0, len(doc_map), DOCMAP_ROW_IDS)
    m_hi = np.minimum(m_lo + DOCMAP_ROW_IDS, len(doc_map))
    docmap = pd.DataFrame(
        {
            "shard_id": np.full(len(m_lo), shard_id, dtype=np.int32),
            "term": DOCMAP_TERM,
            "block_id": np.arange(len(m_lo), dtype=np.int32),
            "first_doc": doc_map[m_lo],
            "last_doc": doc_map[m_hi - 1],
            "n": (m_hi - m_lo).astype(np.int32),
            "docs_vb": [vb.delta_encode(doc_map[a:b], int(doc_map[a]))
                        for a, b in zip(m_lo, m_hi)],
            "tfs_vb": b"",
            "dls_vb": b"",
            "max_tfsat": 0.0,
            "max_tf": np.int64(0),
            "min_dl": np.int64(0),
        }
    )
    out = pd.concat([docmap, postings], ignore_index=True)
    if has_attr:
        out["attr"] = attr_val
    return out


def check_block_format(meta: dict, root: str) -> None:
    """Reject an index whose scalars commit does not record this
    module's BLOCK_FORMAT — driver-side, before any Spark job, so no
    reader ever decodes bytes of another format."""
    fmt = meta.get("block_format")
    if fmt != BLOCK_FORMAT:
        raise ValueError(
            f"index {root} was written in block format {fmt or 1}; this "
            f"version reads block format {BLOCK_FORMAT} only — rebuild "
            f"the index with build_index")


def reusable_index(spark: SparkSession, paths: "IndexPaths") -> bool:
    """True for a committed index in this module's block format — for
    callers that reuse an on-disk index across runs and rebuild it
    otherwise."""
    return paths.exists(spark, "scalars") and load_meta(
        spark, paths).get("block_format") == BLOCK_FORMAT


def split_docmap(pdf: pd.DataFrame) -> tuple[pd.DataFrame, np.ndarray]:
    """One group's block rows → (its posting rows, its docmap: the
    group's sorted doc ids, indexed by ordinal). A group whose rows hold
    postings but no docmap is not block format 2 and raises."""
    is_map = (pdf["term"] == DOCMAP_TERM).to_numpy()
    postings = pdf[~is_map]
    if not is_map.any():
        if len(postings):
            raise ValueError(
                "block group has postings but no docmap rows — the index "
                "is not block format 2; rebuild it with build_index")
        return postings, np.empty(0, dtype=np.int64)
    maps = pdf[is_map]
    o = np.argsort(maps["block_id"].to_numpy(), kind="stable")
    doc_map, _ = vb.delta_decode_blocks(
        maps["docs_vb"].to_numpy(dtype=object)[o],
        maps["first_doc"].to_numpy(dtype=np.int64)[o])
    return postings, doc_map


def ordinals_of(doc_map: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Ordinals of the docmap's doc ids that are in ``ids`` (sorted
    int64), ascending — how tombstones and keep-lists reach a kernel that
    sees ordinals."""
    if len(ids) == 0 or len(doc_map) == 0:
        return np.empty(0, dtype=np.int64)
    pos = np.minimum(np.searchsorted(ids, doc_map), len(ids) - 1)
    return np.flatnonzero(ids[pos] == doc_map)


#: decode_group's output schema (plus ``attr string`` on attr indexes)
DECODED_SCHEMA = "term string, doc_id long, dl long, tf long"


def decode_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """One group's block rows → its raw (term, doc_id, dl, tf[, attr])
    posting rows: the inverse of _build_shard_blocks, numpy over the
    whole group. The group's ``attr`` (attribute-partitioned indexes) is
    repeated per posting when the input carries it."""
    postings, doc_map = split_docmap(pdf)
    ords, counts = vb.delta_decode_blocks(
        postings["docs_vb"].to_numpy(dtype=object),
        postings["first_doc"].to_numpy(dtype=np.int64))
    out = {
        "term": np.repeat(postings["term"].to_numpy(dtype=object), counts),
        "doc_id": doc_map[ords],
        "dl": vb.decode_many(postings["dls_vb"].to_numpy(dtype=object))[0],
        "tf": vb.decode_many(postings["tfs_vb"].to_numpy(dtype=object))[0],
    }
    if "attr" in pdf.columns:
        out["attr"] = np.repeat(postings["attr"].to_numpy(dtype=object),
                                counts)
    return pd.DataFrame(out)


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
        # the old drop-then-rewrite race).
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
    """The COMMITTED generation-id set, sorted — scalars'
    ``visible_gens`` (comma-separated). The scalars write is the commit
    point for every membership change (append adds an id, compaction
    swaps a subset for one new id): rows of any table whose generation
    is not in this set are uncommitted/retired and must be invisible to
    every reader."""
    return sorted(int(g) for g in str(meta["visible_gens"]).split(","))


def next_generation(meta: dict) -> int:
    """Next unused generation id (monotonic — retired ids are never
    reused, so a crashed writer's orphan partitions can always be
    cleaned by the next writer that allocates the same id)."""
    return int(meta["next_gen"])


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
    """The committed block set (orphan/retired generations filtered):
    posting rows and docmap rows. Rejects an index of another block
    format before any Spark job."""
    check_block_format(meta, paths.root)
    return paths.read(spark, "blocks").where(shard_pred(meta))


def load_termstats(spark: SparkSession, paths: IndexPaths,
                   meta: dict) -> DataFrame:
    """(term, df, idf) over committed generations. termstats is stored
    as per-generation df CONTRIBUTIONS (partition column ``gen``) so an
    append only writes its own generation's partition — append-only like
    every other table, visibility-gated by the same scalars commit. idf
    is bm25.idf_col over the committed n_docs: the one place a search's
    idf is evaluated, once per term, on both query-side formulations."""
    return (
        paths.read(spark, "termstats")
        .where(F.col("gen").isin(visible_generations(meta)))
        .groupBy("term").agg(F.sum("df").cast("long").alias("df"))
        .withColumn("idf", bm25.idf_col(F.col("df"), int(meta["n_docs"])))
    )


#: order-independent 60-bit lineage fingerprint of content_sha256 per
#: shard — the ONE definition every manifest aggregation uses
_SHA_XOR_EXPR = ("bit_xor(cast(conv(substring(content_sha256,1,15),16,10) "
                 "as bigint))")


def _sha_xor_agg():
    return F.expr(_SHA_XOR_EXPR).alias("sha256_xor")


def _gen_shard_col(n_shards: int, gen: int):
    """shard_id of a doc in generation ``gen``: the doc-hash shard
    offset into the generation's range (see _gen_shards)."""
    return (F.pmod(F.xxhash64("doc_id"), F.lit(n_shards))
            + F.lit(gen * n_shards)).cast("int")


def _shard_corpus(spark: SparkSession, corpus: DataFrame, n_shards: int,
                  gen: int, attr_col: str | None
                  ) -> tuple[DataFrame, DataFrame]:
    """Corpus rows → (sharded corpus, its docstats rows) for generation
    ``gen`` — the input side build_index and append_index share.

    The round-robin repartition spreads the tokenize work across the
    cluster regardless of the input file layout: a handful of big
    parquet files would otherwise pin the whole scan to a few tasks
    (observed: 1 file → 1-core tokenize). At 100 TB the input has
    thousands of files and this is a cheap no-op round-robin; locally it
    is the difference between 1 and N cores."""
    width = max(n_shards, spark.sparkContext.defaultParallelism)
    corpus = corpus.repartition(width).withColumn(
        "shard_id", _gen_shard_col(n_shards, gen))
    if attr_col:
        corpus = corpus.withColumn("attr", F.col(attr_col).cast("string"))
    dt = corpus.select(
        "doc_id", "shard_id", "content_sha256",
        token_count_pandas_udf(F.col("content")).alias("dl"),
    )
    return corpus, dt


def _write_gen_docstats(spark: SparkSession, paths: IndexPaths,
                        dt: DataFrame, gen: int,
                        n_shards: int) -> tuple[int, int]:
    """Step 1 of a generation write: append generation ``gen``'s docstats
    rows ``dt`` (doc_id, shard_id, content_sha256, dl) and return their
    (n, sum_dl), observed during the write — no separate aggregation job.

    A failed earlier attempt at the same generation id may have left
    orphan partitions; they are deleted first, so a retry never
    double-counts. repartition("shard_id") before the partitioned write
    gives each task whole shards and one file per shard dir (without it
    every task opens a writer per shard dir: width × n_shards small
    files, measured +10 s at 800k docs/local[8]). The observe node sits
    upstream of the exchange on a join-free scan→write plan, so totals
    come from the same single pass.

    Empty input: AQE's empty-plan propagation drops the observation row
    and ``obs.get`` raises a Py4JJavaError (PythonSQLUtils.toPyRow). That
    error is taken as (0, 0) only after a bounded check that the
    generation's docstats range really is empty — anything else
    re-raises, so wrong totals are never committed."""
    paths.catalog(spark).delete_partitions(
        "docstats", "shard_id", _gen_shards([gen], n_shards))
    obs = Observation(f"docstats_totals_{gen}")
    paths.write(
        dt.observe(obs, F.count(F.lit(1)).alias("n"),
                   F.sum("dl").alias("sum_dl")).repartition("shard_id"),
        "docstats", mode="append", partition_by=["shard_id"])
    try:
        row = obs.get
    except Py4JJavaError:
        if not paths.read(spark, "docstats").where(
                shard_pred({"n_shards": n_shards}, [gen])).isEmpty():
            raise
        return 0, 0
    return int(row["n"]), int(row["sum_dl"] or 0)  # 0 rows: sum is NULL


def _write_gen_blocks(spark: SparkSession, paths: IndexPaths,
                      postings: DataFrame, avgdl: float, gen: int,
                      n_shards: int, attr_mode: bool,
                      skip: set[int] | frozenset[int] = frozenset()
                      ) -> None:
    """Step 2 of a generation write: build and append generation
    ``gen``'s blocks (docmap and posting rows) from ``postings``
    (shard_id, term, doc_id, dl, tf[, attr]) under ``avgdl``, then
    derive its termstats contribution and manifest rows from the written
    posting rows. ``skip``: shard ids whose blocks are already complete
    (build_index resume) — their partitions are kept, and ``postings``
    must not contain them.

    The two independent aggs+writes run concurrently on a threaded
    scheduler (separate concurrent jobs sharing the executor pool on a
    real cluster), each over its own scan of the generation's block
    metadata columns (shard_id, term, n — partition- and column-pruned,
    the binary payloads are never read). Both threads run under the
    caller's job group and local properties (inheritable_thread_target),
    so a traced or cancelled job group covers their jobs. A cached
    shared scan was measured worse: its materialization added one or
    two (racing) Spark jobs per generation write. The manifest rows
    carry per-shard n_docs/sum_dl/sha256_xor from the generation's
    docstats, n_postings/n_blocks from its posting rows, and the
    measured block-build wall time."""
    cat = paths.catalog(spark)
    cat.delete_partitions(
        "blocks", "shard_id",
        [s for s in _gen_shards([gen], n_shards) if s not in skip])
    cat.delete_partitions("termstats", "gen", [gen])
    cat.delete_partitions("manifest", "gen", [gen])

    t0 = time.time()
    group_keys = ["shard_id"] + (["attr"] if attr_mode else [])
    blocks = postings.groupBy(*group_keys).applyInPandas(
        lambda pdf: _build_shard_blocks(pdf, avgdl),
        BLOCKS_SCHEMA if attr_mode else BLOCKS_SCHEMA_BASE)
    paths.write(blocks, "blocks", mode="append", partition_by=group_keys)
    wall = time.time() - t0

    in_gen = shard_pred({"n_shards": n_shards}, [gen])
    blocks_meta = (paths.read(spark, "blocks")
                   .where(in_gen & (F.col("term") != DOCMAP_TERM))
                   .select("shard_id", "term", "n"))

    def _write_termstats():
        paths.write(
            blocks_meta.groupBy("term").agg(
                F.sum("n").cast("long").alias("df"))
            .withColumn("gen", F.lit(gen)),
            "termstats", mode="append", partition_by=["gen"])

    def _write_manifest():
        # one aggregation over the union of the two sides, not two
        # aggregations and a join: one shuffle, two fewer Spark jobs
        docs = paths.read(spark, "docstats").where(in_gen).select(
            "shard_id", F.lit(1).alias("doc"), "dl", "content_sha256",
            F.lit(None).cast("int").alias("n"))
        blks = blocks_meta.select(
            "shard_id", F.lit(0).alias("doc"),
            F.lit(None).cast("long").alias("dl"),
            F.lit(None).cast("string").alias("content_sha256"), "n")
        manifest = (
            docs.unionByName(blks).groupBy("shard_id").agg(
                F.sum("doc").cast("long").alias("n_docs"),
                F.sum("dl").cast("long").alias("sum_dl"),
                _sha_xor_agg(),
                F.sum("n").cast("long").alias("n_postings"),
                F.count("n").alias("n_blocks"))
            .na.fill({"n_postings": 0})
            .select(
                "shard_id", "n_docs", "n_postings", "n_blocks", "sum_dl",
                "sha256_xor",
                F.lit("ok").alias("status"),
                F.lit(float(wall)).alias("wall_time"),
                F.lit(gen).alias("gen"),
            )
        )
        paths.write(manifest, "manifest", mode="append",
                    partition_by=["gen"])

    # the context manager propagates the FIRST failure and tears the pool
    # down even when a stage throws
    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=2) as pool:
        for f in [pool.submit(inherit(_write_termstats)),
                  pool.submit(inherit(_write_manifest))]:
            f.result()


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    n_shards: int = 32,
    resume: bool = False,
    attr_col: str | None = None,
) -> IndexPaths:
    """Build (or resume) the block index at ``path`` as generation 0.

    corpus: DataFrame(doc_id, content, content_sha256, ...).
    Plan shape: the docstats write (totals observed in the same pass),
    then ONE shard shuffle of fused-Arrow postings feeding a per-shard
    applyInPandas block build; both are the shared generation-write
    steps (_write_gen_docstats, _write_gen_blocks). What is build's own:
    a build starts from nothing — every table in IndexPaths.SCHEMAS is
    dropped first (tombstones, the retired ledger, dedup state and
    compaction staging included), so the index it commits is a fresh
    generation 0 with nothing of an earlier index at the same path —
    and ``resume``, whose checkpoint is the only thing kept: the blocks
    of shards the manifest lists as ok (only missing shards are rebuilt)
    and the committed docstats, whose totals are reused. termstats and
    manifest are always re-derived over all of generation 0. The scalars
    row is written LAST (the commit point). A resume rejects a committed
    index of another block format, and a done shard without a docmap
    row is rebuilt.

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
    # the checkpoint is generation 0 only: appended or compacted
    # generations at the path are not this build's
    gen0 = shard_pred({"n_shards": n_shards}, [0])
    if resume and paths.exists(spark, "scalars"):
        check_block_format(load_meta(spark, paths), path)
    if resume and paths.exists(spark, "manifest") \
            and paths.exists(spark, "blocks"):
        done = {
            r["shard_id"]
            for r in paths.read(spark, "manifest")
            .where((F.col("status") == "ok") & gen0)
            .join(paths.read(spark, "blocks")
                  .where((F.col("term") == DOCMAP_TERM) & gen0)
                  .select("shard_id").distinct(), "shard_id")
            .select("shard_id")
            .collect()
        }
    totals = None
    if resume and paths.exists(spark, "docstats"):
        row = paths.read(spark, "docstats").where(gen0).agg(
            F.count("*").alias("n"),
            F.sum("dl").cast("long").alias("sum_dl")).collect()[0]
        if int(row["n"]) > 0:
            totals = int(row["n"]), int(row["sum_dl"] or 0)
        # else: the directory exists but holds no committed rows (crash
        # mid-write left only _temporary) — rebuild it; bare existence
        # must not be trusted as a checkpoint.
    # a build starts from nothing: drop every index table except a
    # resume's own checkpoint (its done shards' blocks, reusable
    # docstats), and of those every partition outside generation 0
    cat = paths.catalog(spark)
    keep = {"blocks"} if done else set()
    if totals:
        keep.add("docstats")
    for name in IndexPaths.SCHEMAS.keys() - keep:
        cat.drop_table(name)
    for name in keep:
        cat.delete_partitions(name, "shard_id", [
            v for v in cat.partition_values(name, "shard_id")
            if not 0 <= int(v) < n_shards])

    corpus, dt = _shard_corpus(spark, corpus, n_shards, 0, attr_col)
    n_docs, sum_dl = totals or _write_gen_docstats(spark, paths, dt, 0,
                                                   n_shards)
    avgdl = (sum_dl / n_docs) if n_docs else 0.0
    todo = corpus.where(~F.col("shard_id").isin(list(done))) if done else corpus
    _write_gen_blocks(spark, paths,
                      corpus_postings_arrow(todo, attr=bool(attr_col)),
                      avgdl, 0, n_shards, bool(attr_col), skip=done)
    _write_scalars(spark, paths, n_docs, avgdl, n_shards,
                   visible_gens=[0], next_gen=1, sum_dl=sum_dl,
                   attr_col=attr_col)
    return paths


#: the scalars row, one parquet file committed by Catalog.commit_row
SCALARS_SCHEMA = pa.schema([
    ("n_docs", pa.int64()), ("avgdl", pa.float64()),
    ("n_shards", pa.int32()), ("generation", pa.int32()),
    ("sum_dl", pa.int64()), ("last_batch_id", pa.string()),
    ("visible_gens", pa.string()), ("next_gen", pa.int32()),
    ("attr_col", pa.string()), ("block_format", pa.int32())])


def _write_scalars(spark: SparkSession, paths: IndexPaths, n_docs: int,
                   avgdl: float, n_shards: int,
                   visible_gens: list[int],
                   next_gen: int,
                   sum_dl: int,
                   last_batch_id: str | None = None,
                   attr_col: str | None = None) -> None:
    """The scalars row is the index's COMMIT POINT: every other table is
    append-only with orphan rows made invisible by visible_generations /
    shard_pred / load_termstats, so the single-row scalars commit (one
    file renamed into place, Catalog.commit_row) atomically publishes
    any membership change (append adds a generation, compaction swaps a
    subset for one merged generation).
    ``generation`` is kept as the COUNT of visible generations minus one
    — the "how fragmented is this index" signal query code keys bound
    modes off and maintenance keys merge policy off — while
    ``visible_gens`` carries the actual ids. sum_dl makes incremental
    avgdl updates exact (no float drift); last_batch_id is the
    streaming replay guard; block_format is this module's BLOCK_FORMAT,
    which every reader checks (check_block_format)."""
    visible_gens = sorted(visible_gens)
    generation = len(visible_gens) - 1
    row = dict(n_docs=n_docs, avgdl=avgdl, n_shards=n_shards,
               generation=generation, sum_dl=sum_dl,
               last_batch_id=last_batch_id,
               visible_gens=",".join(str(g) for g in visible_gens),
               next_gen=int(next_gen), attr_col=attr_col,
               block_format=BLOCK_FORMAT)
    paths.catalog(spark).commit_row(
        "scalars", pa.Table.from_pylist([row], SCALARS_SCHEMA))


def load_meta(spark: SparkSession, paths: IndexPaths) -> dict:
    return paths.catalog(spark).read_row("scalars")


def index_stats(spark: SparkSession, paths: IndexPaths) -> dict:
    """Diagnostics: compressed block bytes vs raw posting bytes (a
    posting is 3 int64s uncompressed: doc_id, tf, dl). ``n_postings`` /
    ``n_blocks`` count posting rows only; ``vb_bytes`` is every varbyte
    byte, the docmap's (``docmap_bytes``) included. This scans the
    binary columns — a deliberate full read for reporting, NOT on any
    query path (query-path scans prune binaries via column projection)."""
    meta = load_meta(spark, paths)
    is_post = F.col("term") != DOCMAP_TERM
    r = load_blocks(spark, paths, meta).agg(
        F.sum(
            F.length("docs_vb") + F.length("tfs_vb") + F.length("dls_vb")
        ).alias("vb_bytes"),
        F.sum(F.when(~is_post, F.length("docs_vb"))).alias("docmap_bytes"),
        F.sum(F.when(is_post, F.col("n"))).cast("long").alias("n_postings"),
        F.count(F.when(is_post, 1)).alias("n_blocks"),
    ).collect()[0]
    raw_bytes = 24 * int(r["n_postings"] or 0)
    vb_bytes = int(r["vb_bytes"] or 0)
    return {
        "n_postings": int(r["n_postings"] or 0),
        "n_blocks": int(r["n_blocks"] or 0),
        "vb_bytes": vb_bytes,
        "docmap_bytes": int(r["docmap_bytes"] or 0),
        "raw_bytes": raw_bytes,
        "compression_ratio": round(raw_bytes / vb_bytes, 3)
        if vb_bytes else None,
        # maintenance signals (compact when either grows large)
        "generation": int(meta["generation"]),
        "n_generations": len(visible_generations(meta)),
        "visible_gens": visible_generations(meta),
        "n_tombstones": count_tombstones(spark, paths),
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

    The generation is written by the same two steps as build and compact
    (_write_gen_docstats, then _write_gen_blocks); what is append's own
    is the replay guard and the batch-total arithmetic. An empty batch
    still commits a (row-less) generation; totals are unchanged.

    Atomicity / replay (foreachBatch is at-least-once):

    * every data write (docstats/blocks/termstats/manifest) is APPEND of
      rows belonging only to the new generation; readers hide them via
      shard_pred / load_termstats until the final scalars commit — the
      commit point — publishes the generation;
    * a crash before commit leaves only invisible orphans; each step
      first deletes the would-be generation's partitions of the tables it
      writes (same ids are recomputed deterministically), so a replay
      never double-indexes;
    * batch_id (pass the foreachBatch epoch id) is recorded in scalars
      at commit: a replay of an ALREADY-committed batch is a no-op.
    """
    paths = IndexPaths(path)
    meta = load_meta(spark, paths)
    check_block_format(meta, path)
    n_shards = int(meta["n_shards"])
    vis = visible_generations(meta)
    gen = next_generation(meta)
    if batch_id is not None and meta.get("last_batch_id") == str(batch_id):
        return paths  # replay of a committed batch (exactly-once)
    attr_col = meta.get("attr_col")
    corpus, dt = _shard_corpus(spark, new_corpus, n_shards, gen, attr_col)
    batch_n, batch_sum = _write_gen_docstats(spark, paths, dt, gen,
                                             n_shards)
    n_docs = int(meta["n_docs"]) + batch_n
    sum_dl = int(meta["sum_dl"]) + batch_sum
    avgdl = (sum_dl / n_docs) if n_docs else 0.0
    _write_gen_blocks(spark, paths,
                      corpus_postings_arrow(corpus, attr=bool(attr_col)),
                      avgdl, gen, n_shards, bool(attr_col))

    # COMMIT: publish the generation (+ the replay guard)
    _write_scalars(spark, paths, n_docs, avgdl, n_shards,
                   visible_gens=vis + [gen], next_gen=gen + 1,
                   sum_dl=sum_dl,
                   last_batch_id=(None if batch_id is None
                                  else str(batch_id)),
                   attr_col=attr_col)
    return paths


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
    a new partition that survives untouched (no lost deletes). An index
    of another block format is rejected first, with no Spark job."""
    import uuid

    paths = IndexPaths(path)
    check_block_format(load_meta(spark, paths), path)
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


def count_tombstones(spark: SparkSession, paths: IndexPaths) -> int:
    """Distinct tombstoned doc ids — the backlog a full compact purges."""
    if not paths.exists(spark, "tombstones"):
        return 0
    return paths.read(spark, "tombstones").select("doc_id").distinct().count()


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
    generations' blocks, one block-build group at a time through its
    docmap (decode_group) — the corpus is never re-read or re-tokenized
    (at scale the compressed index is several times smaller than the
    text). Rows
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
    scalars commit publishes ``visible = (visible - merged) + [new]``. A crash at any earlier point leaves the old index fully
    intact plus invisible orphans, which the next writer to allocate
    the same generation id deletes first. Retiring the merged
    generations' partitions happens post-commit and is best-effort: a
    failure there leaves dead (invisible) files, never wrong answers.

    The new generation is written by the same two steps as build and
    append (_write_gen_docstats, then _write_gen_blocks). What is
    compact's own: the generation-selection checks, the tombstone
    snapshot, the ``compact_docstats`` / ``compact_postings`` staging,
    and the retired ledger and tombstone cleanup after the commit. The
    re-sharded (and purged) rows are staged first so the docstats and
    blocks appends never read the table they write, and so the totals
    are observed on the join-free staging scan, never on the anti-join.

    Invariants (test-asserted): query results are IDENTICAL pre/post
    (BM25 depends only on global stats, never on shard membership; with
    pending deletes on a full compact, identical to post-delete results
    under the recomputed-stats semantics), and with no pending deletes
    n_docs/avgdl/termstats totals and the manifest's global sha256-xor
    lineage are preserved.
    """
    paths = IndexPaths(path)
    meta = load_meta(spark, paths)
    check_block_format(meta, path)
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
    # the post-commit cleanup drops exactly the snapshotted partitions.
    tomb_arr, snap_batches = None, []
    if full and paths.exists(spark, "tombstones"):
        trows = (paths.read(spark, "tombstones")
                 .select("doc_id", "tomb_batch").distinct().collect())
        if trows:
            tomb_arr = np.unique(np.array(
                [r["doc_id"] for r in trows], dtype=np.int64))
            snap_batches = sorted({r["tomb_batch"] for r in trows})
    purge = tomb_arr is not None
    tomb_df = (local_df(spark, pd.DataFrame({"doc_id": tomb_arr}),
                        "doc_id long") if purge else None)

    new_gen = next_generation(meta)
    sel_pred = shard_pred(meta, sel)
    reshard = _gen_shard_col(n_shards, new_gen)

    # docstats first: a full compact's purge shifts N/avgdl, and the
    # re-blocked max_tfsat must be exact under the NEW avgdl.
    ds = paths.read(spark, "docstats").where(sel_pred) \
        .withColumn("shard_id", reshard)
    if purge:
        ds = ds.join(tomb_df, "doc_id", "left_anti")
    paths.write(ds, "compact_docstats", mode="overwrite")
    sel_n, sel_sum = _write_gen_docstats(
        spark, paths, paths.read(spark, "compact_docstats"), new_gen,
        n_shards)
    if full:
        n_docs, sum_dl = sel_n, sel_sum
    else:
        # pure re-layout: global stats are untouched
        n_docs, sum_dl = int(meta["n_docs"]), int(meta["sum_dl"])
    avgdl = (sum_dl / n_docs) if n_docs else 0.0

    attr_mode = bool(meta.get("attr_col"))
    attr_sel = ["attr"] if attr_mode else []
    postings = (
        paths.read(spark, "blocks").where(sel_pred)
        .select("shard_id", "term", "block_id", "first_doc", "docs_vb",
                "tfs_vb", "dls_vb", *attr_sel)
        .groupBy("shard_id", *attr_sel)
        .applyInPandas(decode_group, DECODED_SCHEMA
                       + (", attr string" if attr_mode else ""))
        .withColumn("shard_id", reshard)
        .select("shard_id", "term", "doc_id", "dl", "tf", *attr_sel)
    )
    if purge:
        postings = postings.join(tomb_df, "doc_id", "left_anti")
    paths.write(postings, "compact_postings", mode="overwrite")
    compact_src = paths.read(spark, "compact_postings")
    if not attr_mode:
        compact_src = compact_src.drop("attr")
    # termstats contribution: sum(n) per term is invariant under
    # re-sharding, so a no-delete merge preserves df
    _write_gen_blocks(spark, paths, compact_src, avgdl, new_gen, n_shards,
                      attr_mode)

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
    paths.write(_retired_rows(spark, led), "retired", mode="append")
    # staging has no readers — dropped immediately
    cat.drop_table("compact_postings")
    cat.drop_table("compact_docstats")
    # drop exactly the SNAPSHOTTED batch partitions — a delete_docs that
    # raced this compaction wrote a NEW batch partition, which survives
    # untouched and stays excluded at query time under deferred stats (no
    # lost deletes, no rewrite)
    cat.delete_partitions("tombstones", "tomb_batch", snap_batches)
    return paths


def _retired_rows(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """Retired-ledger tuples (RETIRED_SCHEMA order) as an Arrow local
    relation."""
    return local_df(spark, pd.DataFrame(
        rows, columns=["tbl", "part_col", "part_val", "gen", "retired_at"]),
        RETIRED_SCHEMA)


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
        paths.write(_retired_rows(spark, remaining), "retired",
                    mode="overwrite")
    else:
        cat.drop_table("retired")
    return [(r["tbl"], r["part_col"], r["part_val"]) for r in due]
