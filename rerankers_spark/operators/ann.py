"""Similarity search over embedding columns (array<float>).

* :func:`cosine_topk` — exact brute-force cosine top-k, fully native
  (``zip_with`` dot product + window top-k). The correctness baseline.
* :func:`lsh_cosine_topk` — random-hyperplane LSH over ``n_tables``
  independent hash tables (union of bucket matches, then exact
  re-scoring; recall grows with tables, 1 - (1 - p^b)^T). The scale
  path: at 100 TB the cross join is impossible; bucket joins shuffle
  only colliding pairs, and tables are independent unions — no
  cross-table blowup.
* :func:`ivf_assign` / :func:`ivf_topk` — IVF coarse quantization against
  a (broadcast) centroid table: probe the nprobe nearest centroids only.

Everything is float64 column math inside codegen — no UDFs — so plans
survive scale-up and DuckDB can mirror the exact semantics for oracles.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rerankers_spark.operators.topk import topk

log = logging.getLogger(__name__)

#: Default degenerate-bucket guard for the hyperplane-LSH paths. A
#: (table, sig) bucket of m members yields O(m²) candidate pairs — a
#: near-constant embedding column (broken encoder, boilerplate corpus)
#: would otherwise put a large fraction of the corpus into ONE bucket
#: and the candidate join goes quadratic. Same rationale as
#: dedup.lsh_candidate_pairs' max_bucket_size (operators/dedup.py).
LSH_MAX_BUCKET_SIZE = 100_000


def _cap_buckets(df: DataFrame, keys, max_bucket_size: int,
                 diagnostics: dict | None = None) -> DataFrame:
    """Drop rows in degenerate LSH buckets (> max_bucket_size members).

    diagnostics: optional dict — when given, ``diagnostics["dropped"]``
    is set to a LAZY one-row DataFrame (dropped_buckets, dropped_rows)
    the caller can trigger for the no-silent-caps report. A separate
    bounded aggregation (groupBy keys → map-side-combined counts), NOT
    an ``observe`` metric: Spark's CollectMetrics node is
    nondeterministically lost under AQE replanning (reproduced on this
    Spark — an observed query returned an empty metrics row ~half the
    runs), and disabling AQE is not an option on the 100-TB paths."""
    sized = df.withColumn(
        "__bucket_n", F.count("*").over(Window.partitionBy(*keys)))
    if diagnostics is not None:
        diagnostics["dropped"] = (
            df.groupBy(*keys)
            .agg(F.count("*").alias("__bucket_n"))
            .where(F.col("__bucket_n") > max_bucket_size)
            .agg(F.coalesce(F.count("*"), F.lit(0))
                 .alias("dropped_buckets"),
                 F.coalesce(F.sum("__bucket_n"), F.lit(0))
                 .alias("dropped_rows"))
        )
    log.info("LSH bucket cap: dropping buckets over %d members",
             max_bucket_size)
    return sized.where(F.col("__bucket_n") <= max_bucket_size) \
        .drop("__bucket_n")


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def with_double_vec(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("vec", F.col(vec_col).cast("array<double>"))


def cosine_topk(
    queries: DataFrame,
    items: DataFrame,
    k: int = 10,
    query_id: str = "query_vec_id",
    item_id: str = "vec_id",
    round_to: int = 6,
) -> DataFrame:
    """(query_vec_id, vec_id, cosine, rank): exact top-k by cosine.

    queries: (query_vec_id, vec) with vec array<double>;
    items: (vec_id, vec). Self-matches excluded when ids collide.
    The query side broadcasts; the item scan never shuffles.
    """
    q = queries.select(F.col(query_id), F.col("vec").alias("qvec"))
    it = items.select(F.col(item_id), F.col("vec").alias("ivec"))
    joined = it.crossJoin(F.broadcast(q)).where(
        F.col(query_id) != F.col(item_id)
    )
    cos = _dot(F.col("qvec"), F.col("ivec")) / (
        _norm(F.col("qvec")) * _norm(F.col("ivec"))
    )
    scored = joined.select(
        query_id, item_id, F.round(cos, round_to).alias("cosine")
    )
    return topk(scored, k, partition_cols=(query_id,),
                score_col="cosine", id_col=item_id)


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (no numpy RNG state needed
    at query time; same table on driver and in SQL oracles)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _sql_double(x: float) -> str:
    """Exact round-tripping SQL double literal."""
    r = repr(float(x))
    if "e" in r or "E" in r or "n" in r:  # exponent / nan / inf
        return f"CAST('{r}' AS DOUBLE)"
    return r + "D"


def _sig_expr(planes: list[list[float]], vec_col: str):
    """The ``sig`` Column — sign-bit signature over the hyperplanes,
    assembled as ONE SQL string parsed JVM-side. The Column-API form
    cost ~20 py4j round trips per (plane, table) — ~5 s of pure Python
    plan CONSTRUCTION per lsh query at 16 tables × 4 planes × 2 sides —
    for the identical expression tree. The dot is the same sequential
    zip_with∘aggregate fold (left-to-right from 0.0) the DuckDB oracle
    mirrors, so results are bit-identical. (An unrolled getItem multiply
    chain was tried and REVERTED: it OOMed Janino codegen.)"""
    parts = []
    for j, p in enumerate(planes):
        arr = ", ".join(_sql_double(x) for x in p)
        dot = (f"aggregate(zip_with({vec_col}, array({arr}), "
               f"(x, y) -> x * y), 0.0D, (acc, x) -> acc + x)")
        parts.append(f"(CASE WHEN {dot} >= 0 THEN {1 << j} ELSE 0 END)")
    return F.expr("CAST((" + " + ".join(parts) + ") AS BIGINT)")


def lsh_cosine_topk(
    queries: DataFrame,
    items: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 4,
    query_id: str = "query_vec_id",
    item_id: str = "vec_id",
    max_bucket_size: int = LSH_MAX_BUCKET_SIZE,
    diagnostics: dict | None = None,
) -> DataFrame:
    """Approximate cosine top-k: exact re-scoring over the UNION of
    same-bucket candidates across ``n_tables`` independent hyperplane
    tables (each its own seed). Recall < 1 by design and rises with
    n_tables; the exactness contract lives in cosine_topk.

    Plan shape: the signature columns for all tables are computed in ONE
    pass over each side (no per-table rescan), candidates arrive via a
    posexplode of the signature array joined on (table, sig). Item-side
    (table, sig) buckets larger than ``max_bucket_size`` are dropped
    entirely (quadratic-blowup guard; ``diagnostics`` receives the lazy
    dropped-count report, see _cap_buckets) — a degenerate bucket
    contributes noise, not recall, and at corpus scale it contributes a
    full-shuffle join."""
    # every table's signature in ONE projection per side: the chained
    # per-table withColumn formulation re-analyzed a growing plan 2×16
    # times and left 32 stacked Projects for the optimizer (and AQE's
    # per-stage re-optimization) to walk on every pass — measured tens
    # of seconds of pure driver time on the composed ann_recall plan.
    # The signature EXPRESSIONS are unchanged, so results are identical.
    table_planes = [hyperplanes(dim, n_planes, seed=42 + t)
                    for t in range(n_tables)]
    qs = queries.select(
        query_id, F.col("vec").alias("qvec"),
        F.posexplode(F.array(*[_sig_expr(p, "vec")
                               for p in table_planes]))
        .alias("table", "sig"))
    its = _cap_buckets(
        items.select(
            item_id, F.col("vec").alias("ivec"),
            F.posexplode(F.array(*[_sig_expr(p, "vec")
                                   for p in table_planes]))
            .alias("table", "sig")),
        ("table", "sig"), max_bucket_size, diagnostics)
    cand = (
        its.join(F.broadcast(qs), ["table", "sig"])
        .where(F.col(query_id) != F.col(item_id))
        .dropDuplicates([query_id, item_id])
    )
    cos = _dot(F.col("qvec"), F.col("ivec")) / (
        _norm(F.col("qvec")) * _norm(F.col("ivec"))
    )
    scored = cand.select(
        query_id, item_id, F.round(cos, 6).alias("cosine")
    )
    return topk(scored, k, partition_cols=(query_id,),
                score_col="cosine", id_col=item_id)


def cosine_near_dup_pairs(
    items: DataFrame,
    threshold: float = 0.9,
    mode: str = "lsh",
    item_id: str = "vec_id",
    n_planes: int = 4,
    dim: int = 64,
    n_tables: int = 8,
    max_bucket_size: int = LSH_MAX_BUCKET_SIZE,
    diagnostics: dict | None = None,
) -> DataFrame:
    """(doc_a, doc_b, cosine): embedding-cosine near-duplicate pairs —
    the embedding leg of the dedup suite (exact/minhash/simhash/jaccard
    live in operators/dedup.py).

    mode='lsh' (the 100-TB path): candidates only from multi-table
    hyperplane buckets, then exact re-scoring ≥ threshold — recall < 1
    by design, rising with n_tables. Buckets over ``max_bucket_size``
    are dropped (the m² guard, same as dedup.lsh_candidate_pairs;
    ``diagnostics`` receives the lazy dropped-count report).
    mode='exact': broadcast cross join, the all-pairs oracle shape (only
    for corpora whose smaller side fits a broadcast)."""
    a = items.select(F.col(item_id).alias("doc_a"),
                     F.col("vec").alias("avec"))
    b = items.select(F.col(item_id).alias("doc_b"),
                     F.col("vec").alias("bvec"))
    if mode == "exact":
        cand = b.crossJoin(F.broadcast(a))
    elif mode == "lsh":
        # one projection per side for ALL table signatures (identical
        # expressions; see lsh_cosine_topk for the plan-walk rationale)
        table_planes = [hyperplanes(dim, n_planes, seed=42 + t)
                        for t in range(n_tables)]
        ax = a.select("doc_a", "avec",
                      F.posexplode(F.array(*[_sig_expr(p, "avec")
                                             for p in table_planes]))
                      .alias("table", "sig"))
        bx = _cap_buckets(
            b.select("doc_b", "bvec",
                     F.posexplode(F.array(*[_sig_expr(p, "bvec")
                                            for p in table_planes]))
                     .alias("table", "sig")),
            ("table", "sig"), max_bucket_size, diagnostics)
        # capping ONE side suffices: both sides explode the same corpus,
        # so a dropped (table, sig) bucket joins to nothing
        cand = bx.join(ax, ["table", "sig"]) \
            .dropDuplicates(["doc_a", "doc_b"])
    else:
        raise ValueError(f"unknown mode {mode!r}")
    cos = _dot(F.col("avec"), F.col("bvec")) / (
        _norm(F.col("avec")) * _norm(F.col("bvec"))
    )
    return (
        cand.where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.round(cos, 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def _kmeans_sample(items: DataFrame, sample_size: int,
                   vec_col: str = "vec", id_col: str = "vec_id"):
    """DETERMINISTIC bounded sample of vectors: the smallest
    ``sample_size`` ids by a salted portable hash — uniform across the
    corpus and stable across partitioning (a bare limit() samples in
    partition order: deterministic only by luck, and biased toward
    whatever files list first at 100 TB). Returns an (n, dim) ndarray."""
    import numpy as np

    order = F.conv(
        F.substring(F.md5(F.concat(F.lit("kmeans"),
                                   F.col(id_col).cast("string"))), 1, 15),
        16, 10,
    ).cast("long")
    return np.array(
        items.select(vec_col, F.col(id_col), order.alias("__ord"))
        .orderBy("__ord", id_col)
        .limit(sample_size)
        .toPandas()[vec_col].tolist()
    )


def _kmeans_init(sample, n_centroids: int):
    """Seeded initial centroids: a fixed-RNG choice from the sample
    (shared by the driver and distributed fits, so both start at the
    same model)."""
    import numpy as np

    rng = np.random.default_rng(42)
    return sample[rng.choice(len(sample),
                             size=min(n_centroids, len(sample)),
                             replace=False)].copy()


def kmeans_centroids(items: DataFrame, n_centroids: int = 16,
                     n_iter: int = 5, vec_col: str = "vec",
                     dim: int = 64, sample_size: int = 4096,
                     id_col: str = "vec_id") -> list[list[float]]:
    """Tiny Lloyd's k-means on the driver over a deterministic sample —
    centroids are a broadcast-sized model (IVF coarse quantizer). Right
    when ``sample_size`` vectors represent the corpus; for fitting over
    the FULL corpus use :func:`kmeans_centroids_distributed`."""
    sample = _kmeans_sample(items, sample_size, vec_col, id_col)
    cents = _kmeans_init(sample, n_centroids)
    for _ in range(n_iter):
        d = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for c in range(len(cents)):
            m = assign == c
            if m.any():
                cents[c] = sample[m].mean(0)
    return cents.tolist()


def kmeans_centroids_distributed(
    items: DataFrame, n_centroids: int = 16, n_iter: int = 5,
    vec_col: str = "vec", id_col: str = "vec_id",
    sample_size: int = 4096,
) -> list[list[float]]:
    """Corpus-scale Lloyd's k-means: assignment and the per-centroid
    mean both run as native DataFrame ops over EVERY vector — the
    driver never collects the vector set.

    Per iteration: assign = nearest-centroid (:func:`ivf_assign`,
    codegen'd column math against the broadcast-literal centroids), then
    sum/count per (cell, dimension) via posexplode + groupBy — the
    shuffle carries only map-side-combined partials (≤ n_centroids × dim
    rows per task), and the driver collects just the n_centroids × dim
    aggregate to form the next model. Init is the same seeded
    sample-based model as :func:`kmeans_centroids`, so on a corpus the
    sample covers entirely the two fits agree to float-sum
    reassociation (~1e-12, test-pinned); empty cells keep their
    previous centroid (same rule as the driver path)."""
    import numpy as np

    sample = _kmeans_sample(items, sample_size, vec_col, id_col)
    cents = _kmeans_init(sample, n_centroids)
    k, dim = cents.shape
    vecs = items.select(F.col(vec_col).alias("__v"))
    for _ in range(n_iter):
        assigned = ivf_assign(vecs, cents.tolist(), "__v")
        rows = (
            assigned.select("cell",
                            F.posexplode(F.col("__v")).alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.sum("x").alias("s"), F.count("x").alias("n"))
            .collect()
        )
        sums = np.zeros((k, dim), dtype=np.float64)
        # counts kept per (cell, pos), not per cell: a NULL element or a
        # ragged vector makes F.sum skip the value while a per-cell
        # count('*') would still count it — dividing elementwise keeps
        # every centroid dimension an honest mean of its observed values
        counts = np.zeros((k, dim), dtype=np.int64)
        for r in rows:
            sums[int(r["cell"]), int(r["pos"])] = float(r["s"])
            counts[int(r["cell"]), int(r["pos"])] = int(r["n"])
        nonempty = counts > 0
        cents = np.where(nonempty, np.divide(
            sums, counts, out=np.zeros_like(sums), where=nonempty), cents)
    return cents.tolist()


def seed_centroids(dim: int, k: int, seed: int = 7) -> list[list[float]]:
    """Deterministic seeded centroids — a FROZEN coarse-quantizer model.

    In a real IVF deployment the quantizer is a trained artifact shipped
    with the index, an *input* to the query, not part of it; freezing it
    to a seed makes the whole IVF query a pure function of (corpus,
    constants), so DuckDB oracles can inline the literal matrix exactly
    like the frozen BM25 constants. Fitting a quantizer from data is
    :func:`kmeans_centroids` / :func:`kmeans_centroids_distributed`."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((k, dim)).tolist()


def _centroid_lit(centroids: list[list[float]]):
    """The k×dim centroid matrix as ONE nested-array Literal node. A
    per-centroid expression list codegens k separate aggregates and
    Catalyst falls over long before the k≈√N of a realistic IVF; a
    single literal keeps the plan O(1) in k and the distance loop runs
    at execution time via ``transform``."""
    return F.lit([[float(x) for x in c] for c in centroids])


def _l2_dists(vec_col, centroids: list[list[float]], round_to=None):
    """array<double> of squared-L2 distances to every centroid, computed
    by a runtime transform over the literal matrix (plan size O(1) in k).
    Sequential fold per centroid keeps float math mirrorable in SQL."""
    dists = F.transform(
        _centroid_lit(centroids),
        lambda c: F.aggregate(
            F.zip_with(F.col(vec_col) if isinstance(vec_col, str) else vec_col,
                       c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    if round_to is not None:
        dists = F.transform(dists, lambda d: F.round(d, round_to))
    return dists


def ivf_assign(df: DataFrame, centroids: list[list[float]],
               vec_col: str = "vec", round_to: int | None = None
               ) -> DataFrame:
    """Adds ``cell`` — nearest-centroid id (squared L2, first-minimum tie
    rule), computed natively with an O(1)-in-k plan (see _centroid_lit).

    round_to: round distances before the argmin — the cross-engine
    determinism rule (rank on ROUNDED scores, CLAUDE.md) for
    oracle-gated query paths. None (default) keeps exact float distances:
    the k-means training loop must mirror numpy's unrounded argmin."""
    dists = _l2_dists(vec_col, centroids, round_to)
    cell = F.array_position(dists, F.array_min(dists)) - 1
    return df.withColumn("cell", cell.cast("int"))


def ivf_topk(
    queries: DataFrame,
    items: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    query_id: str = "query_vec_id",
    item_id: str = "vec_id",
    round_to: int | None = 6,
) -> DataFrame:
    """IVF-style ANN: items pre-assigned to cells; each query probes its
    nprobe nearest cells, exact cosine within.

    Both the assignment and the probe ordering use ROUNDED squared-L2
    with an explicit centroid-index tie-break — deterministic across
    engines (the rank-on-rounded invariant), so a frozen-centroid IVF
    query sits under the DuckDB hash gate. Plan size is O(1) in the
    number of centroids (see _centroid_lit)."""
    its = ivf_assign(
        items.select(item_id, F.col("vec").alias("ivec")), centroids,
        "ivec", round_to=round_to,
    )
    probe = F.slice(
        F.expr(
            "transform(array_sort(arrays_zip(dists, cells), "
            "(l, r) -> case when l.dists < r.dists then -1 "
            "when l.dists > r.dists then 1 "
            "when l.cells < r.cells then -1 "
            "when l.cells > r.cells then 1 else 0 end), x -> x.cells)"
        ),
        1,
        nprobe,
    )
    qs = (
        queries.select(query_id, F.col("vec").alias("qvec"))
        .withColumn("dists", _l2_dists("qvec", centroids, round_to))
        .withColumn(
            "cells", F.sequence(F.lit(0), F.lit(len(centroids) - 1)))
        .withColumn("probe_cells", probe)
        .select(query_id, "qvec",
                F.explode("probe_cells").alias("cell"))
    )
    cand = its.join(F.broadcast(qs), "cell").where(
        F.col(query_id) != F.col(item_id)
    )
    cos = _dot(F.col("qvec"), F.col("ivec")) / (
        _norm(F.col("qvec")) * _norm(F.col("ivec"))
    )
    scored = cand.select(
        query_id, item_id, F.round(cos, 6).alias("cosine")
    ).dropDuplicates([query_id, item_id])
    return topk(scored, k, partition_cols=(query_id,),
                score_col="cosine", id_col=item_id)
