"""Property test: the WAND kernel equals brute force on randomized
posting lists — many seeds, adversarial shapes (ties, singleton blocks,
shared docs across all terms, extreme idf spreads)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from rerankers_spark.index import varbyte as vb
from rerankers_spark.query import bmw

K1, B = 1.2, 0.75


def _mk_blocks(rng, n_terms, doc_universe, avgdl, block_size=128):
    rows, truth = [], {}
    for ti in range(n_terms):
        idf = float(rng.uniform(0.01, 5.0))
        n_docs = int(rng.integers(1, min(400, len(doc_universe))))
        docs = np.sort(rng.choice(doc_universe, size=n_docs, replace=False))
        tfs = rng.integers(1, 6, size=n_docs)
        dls = rng.integers(5, 200, size=n_docs)
        sat = tfs * (K1 + 1) / (tfs + K1 * (1 - B + B * dls / avgdl))
        for d, s in zip(docs, idf * sat):
            truth[int(d)] = truth.get(int(d), 0.0) + float(s)
        for bi, off in enumerate(range(0, n_docs, block_size)):
            hi = min(off + block_size, n_docs)
            rows.append({
                "query_id": 0, "shard_id": 0, "term": f"t{ti}", "idf": idf,
                "block_id": bi,
                "first_doc": int(docs[off]), "last_doc": int(docs[hi - 1]),
                "n": hi - off,
                "docs_vb": vb.delta_encode(docs[off:hi], int(docs[off])),
                "tfs_vb": vb.encode(tfs[off:hi]),
                "dls_vb": vb.encode(dls[off:hi]),
                "max_tfsat": float(sat[off:hi].max()),
                "max_tf": int(tfs[off:hi].max()),
                "min_dl": int(dls[off:hi].min()),
            })
    return pd.DataFrame(rows), truth


@pytest.mark.parametrize("seed", range(20))
def test_wand_matches_bruteforce_randomized(seed):
    rng = np.random.default_rng(seed)
    avgdl = float(rng.uniform(20, 150))
    # small universe → heavy doc overlap between terms (tie-rich);
    # occasionally huge sparse universe (block-skip-rich)
    universe = (
        np.arange(-50, 450, dtype=np.int64)
        if seed % 3
        else rng.choice(10**14, size=3000, replace=False).astype(np.int64)
    )
    n_terms = int(rng.integers(1, 7))
    pdf, truth = _mk_blocks(rng, n_terms, universe, avgdl,
                            block_size=int(rng.choice([1, 7, 128])))
    k = int(rng.integers(1, 25))
    q_list = [(0, [(t, float(g["idf"].iloc[0]))
                   for t, g in pdf.groupby("term")])]
    out = bmw.wand_topk_shard(pdf, q_list, k=k, avgdl=avgdl, n_docs_shard=0)
    expected = sorted(truth.items(), key=lambda t: (-t[1], t[0]))[:k]
    assert list(out["doc_id"]) == [d for d, _ in expected], f"seed={seed}"
    np.testing.assert_allclose(
        out["score"], [s for _, s in expected], rtol=0, atol=1e-12
    )


@pytest.mark.parametrize("seed", range(8))
def test_wand_safe_bounds_randomized(seed):
    """'safe' bound mode (avgdl drift) must stay exact even when queried
    with an avgdl different from the build-time one."""
    rng = np.random.default_rng(100 + seed)
    build_avgdl = 80.0
    query_avgdl = float(rng.uniform(20, 200))  # drifted global stat
    universe = np.arange(0, 600, dtype=np.int64)
    pdf, _ = _mk_blocks(rng, 4, universe, build_avgdl)
    # truth must be recomputed under the QUERY-time avgdl
    truth = {}
    for _, row in pdf.iterrows():
        docs = vb.delta_decode(row["docs_vb"], base=row["first_doc"])
        tfs = vb.decode(row["tfs_vb"]).astype(float)
        dls = vb.decode(row["dls_vb"]).astype(float)
        sat = tfs * (K1 + 1) / (tfs + K1 * (1 - B + B * dls / query_avgdl))
        for d, s in zip(docs, row["idf"] * sat):
            truth[int(d)] = truth.get(int(d), 0.0) + float(s)
    q = [(0, [(t, float(g["idf"].iloc[0]))
              for t, g in pdf.groupby("term")])]
    out = bmw.wand_topk_shard(pdf, q, k=10, avgdl=query_avgdl,
                              bound_mode="safe")
    expected = sorted(truth.items(), key=lambda t: (-t[1], t[0]))[:10]
    assert list(out["doc_id"]) == [d for d, _ in expected], f"seed={seed}"


@pytest.mark.parametrize("seed", range(15))
def test_deleted_docs_excluded_randomized(seed):
    """Both kernels with a random tombstone set must equal brute force
    over the surviving docs — including all-deleted, none-deleted, and
    deleted-ids-absent-from-postings shapes."""
    rng = np.random.default_rng(900 + seed)
    avgdl = float(rng.uniform(20, 150))
    universe = np.arange(-40, 360, dtype=np.int64)
    n_terms = int(rng.integers(1, 6))
    pdf, truth = _mk_blocks(rng, n_terms, universe, avgdl,
                            block_size=int(rng.choice([1, 16, 128])))
    frac = float(rng.choice([0.0, 0.1, 0.5, 1.0]))
    cand = np.array(sorted(truth), dtype=np.int64)
    n_del = int(len(cand) * frac)
    deleted = rng.choice(cand, size=n_del, replace=False)
    # sprinkle ids that appear in no posting list (must be harmless)
    deleted = np.sort(np.concatenate(
        [deleted, rng.choice(10**9, size=3).astype(np.int64)]))
    dead = set(deleted.tolist())
    k = int(rng.integers(1, 20))

    terms = {t: bmw._TermData(t, g, avgdl) for t, g in pdf.groupby("term")}
    q_terms = [(terms[t], float(g["idf"].iloc[0]))
               for t, g in pdf.groupby("term")]
    dense = bmw._exhaustive_single(q_terms, k, avgdl, deleted)
    cursors = [bmw._TermCursor(d, idf, avgdl) for d, idf in q_terms]
    wand = bmw._wand_single(cursors, k, deleted)

    expected = sorted(((d, s) for d, s in truth.items() if d not in dead),
                      key=lambda t: (-t[1], t[0]))[:k]
    assert [-d for _, d in wand] == [d for d, _ in expected], f"seed={seed}"
    assert [-d for _, d in dense] == [d for d, _ in expected], f"seed={seed}"
    np.testing.assert_allclose(
        sorted(s for s, _ in wand), sorted(s for _, s in expected),
        rtol=0, atol=1e-12)


@pytest.mark.parametrize("seed", range(10))
def test_keep_list_filter_randomized(seed):
    """Filtered search (keep-list) in both kernels equals brute force
    restricted to the kept docs — combined with a random tombstone set
    (deleted wins over kept on overlap)."""
    rng = np.random.default_rng(1300 + seed)
    avgdl = float(rng.uniform(20, 150))
    universe = np.arange(-30, 300, dtype=np.int64)
    pdf, truth = _mk_blocks(rng, int(rng.integers(1, 5)), universe, avgdl,
                            block_size=int(rng.choice([1, 16, 128])))
    cand = np.array(sorted(truth), dtype=np.int64)
    keep = np.sort(rng.choice(
        cand, size=int(len(cand) * rng.choice([0.2, 0.6, 1.0])),
        replace=False))
    deleted = (np.sort(rng.choice(keep, size=len(keep) // 3, replace=False))
               if seed % 2 and len(keep) >= 3 else None)
    dead = set(deleted.tolist()) if deleted is not None else set()
    kept = set(keep.tolist())
    k = int(rng.integers(1, 15))

    terms = {t: bmw._TermData(t, g, avgdl) for t, g in pdf.groupby("term")}
    q_terms = [(terms[t], float(g["idf"].iloc[0]))
               for t, g in pdf.groupby("term")]
    dense = bmw._exhaustive_single(q_terms, k, avgdl, deleted, keep)
    cursors = [bmw._TermCursor(d, idf, avgdl) for d, idf in q_terms]
    wand = bmw._wand_single(cursors, k, deleted, keep)

    expected = sorted(
        ((d, s) for d, s in truth.items() if d in kept and d not in dead),
        key=lambda t: (-t[1], t[0]))[:k]
    assert [-d for _, d in wand] == [d for d, _ in expected], f"seed={seed}"
    assert [-d for _, d in dense] == [d for d, _ in expected], f"seed={seed}"


@pytest.mark.parametrize("seed", range(12))
def test_dense_kernel_matches_wand(seed):
    """The in-kernel dense fallback (_exhaustive_single) must agree with
    _wand_single on doc order exactly and on scores to float-sum
    reassociation, across tie-rich and skip-rich shapes."""
    rng = np.random.default_rng(500 + seed)
    avgdl = float(rng.uniform(20, 150))
    universe = (
        np.arange(0, 300, dtype=np.int64)
        if seed % 2
        else rng.choice(10**12, size=2000, replace=False).astype(np.int64)
    )
    n_terms = int(rng.integers(1, 6))
    pdf, truth = _mk_blocks(rng, n_terms, universe, avgdl,
                            block_size=int(rng.choice([1, 16, 128])))
    k = int(rng.integers(1, 20))
    terms = {t: bmw._TermData(t, g, avgdl) for t, g in pdf.groupby("term")}
    q_terms = [(terms[t], float(g["idf"].iloc[0]))
               for t, g in pdf.groupby("term")]
    dense = bmw._exhaustive_single(q_terms, k, avgdl)
    cursors = [bmw._TermCursor(d, idf, avgdl) for d, idf in q_terms]
    wand = bmw._wand_single(cursors, k)
    assert [d for _, d in dense] == [d for _, d in wand], f"seed={seed}"
    np.testing.assert_allclose(
        [s for s, _ in dense], [s for s, _ in wand], rtol=0, atol=1e-9
    )
    # and against the independent truth dict
    expected = sorted(truth.items(), key=lambda t: (-t[1], t[0]))[:k]
    assert [-d for _, d in dense] == [d for d, _ in expected]
