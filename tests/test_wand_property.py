"""Property tests: the block-scan shard kernel (the production scorer)
and the pure block-max WAND kernel both equal brute force on randomized
posting lists — many seeds, adversarial shapes (ties, singleton blocks,
shared docs across all terms, extreme idf spreads, full-range doc ids,
tombstones, keep-lists, several accumulator chunks)."""

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




def _scan(pdf, q_list, k, avgdl, deleted=None, keep=None):
    """bmw.scan_topk_shard over a [(query_id, [(term, idf)])] list."""
    flat = [(q, t, idf) for q, ts in q_list for t, idf in ts]
    return bmw.scan_topk_shard(
        pdf, np.array([q for q, _, _ in flat], dtype=np.int64),
        np.array([t for _, t, _ in flat], dtype=object),
        np.array([i for _, _, i in flat], dtype=np.float64),
        k, avgdl, deleted, keep)


def _wand(pdf, q_list, k, avgdl, deleted=None, keep=None):
    return bmw.wand_topk_shard(pdf, q_list, k, avgdl, n_docs_shard=0,
                               deleted=deleted, keep=keep)


def _brute(pdf, q_list, k, avgdl, deleted=None, keep=None):
    """{query_id: [(doc_id, score)]} from per-block delta_decode, terms
    summed in sorted order per query (the scan's summation order)."""
    post = {}
    for _, row in pdf.iterrows():
        docs = vb.delta_decode(row["docs_vb"], base=int(row["first_doc"]))
        tfs = vb.decode(row["tfs_vb"]).astype(float)
        dls = vb.decode(row["dls_vb"]).astype(float)
        sat = tfs * (K1 + 1) / (tfs + K1 * (1 - B + B * dls / avgdl))
        post.setdefault(row["term"], []).extend(zip(docs.tolist(), sat))
    dead = set() if deleted is None else set(np.asarray(deleted).tolist())
    kept = None if keep is None else set(np.asarray(keep).tolist())
    out = {}
    for qid, ts in q_list:
        acc = {}
        for t, idf in sorted(ts, key=lambda p: p[0]):
            for d, s in post.get(t, []):
                acc[d] = acc.get(d, 0.0) + idf * s
        ranked = sorted(((d, s) for d, s in acc.items()
                         if d not in dead and (kept is None or d in kept)),
                        key=lambda p: (-p[1], p[0]))[:k]
        if ranked:
            out[qid] = ranked
    return out


def _by_query(out: pd.DataFrame) -> dict:
    got = {}
    for q, d, s in zip(out["query_id"], out["doc_id"], out["score"]):
        got.setdefault(int(q), []).append((int(d), float(s)))
    return got


def _assert_parity(pdf, q_list, k, avgdl, deleted=None, keep=None):
    """scan == WAND == brute force: doc order exactly, scores to 1e-12;
    the scan's scores are bit-identical to the sorted-order brute force."""
    expected = _brute(pdf, q_list, k, avgdl, deleted, keep)
    scan = _by_query(_scan(pdf, q_list, k, avgdl, deleted, keep))
    wand = _by_query(_wand(pdf, q_list, k, avgdl, deleted, keep))
    assert sorted(scan) == sorted(wand) == sorted(expected)
    for qid, exp in expected.items():
        for got in (scan[qid], wand[qid]):
            assert [d for d, _ in got] == [d for d, _ in exp], qid
            np.testing.assert_allclose([s for _, s in got],
                                       [s for _, s in exp],
                                       rtol=0, atol=1e-12)
        assert scan[qid] == exp, qid


def _one_query(pdf):
    return [(0, [(t, float(g["idf"].iloc[0]))
                 for t, g in pdf.groupby("term")])]


@pytest.mark.parametrize("seed", range(15))
def test_deleted_docs_excluded_randomized(seed):
    """The scan and WAND with a random tombstone set equal brute force
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
    k = int(rng.integers(1, 20))
    _assert_parity(pdf, _one_query(pdf), k, avgdl, deleted=deleted)


@pytest.mark.parametrize("seed", range(10))
def test_keep_list_filter_randomized(seed):
    """Filtered search (keep-list) in the scan and WAND equals brute force
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
    k = int(rng.integers(1, 15))
    _assert_parity(pdf, _one_query(pdf), k, avgdl, deleted, keep)


@pytest.mark.parametrize("seed", range(12))
def test_dense_kernel_matches_wand(seed):
    """The block scan agrees with WAND on doc order exactly and on scores
    to float-sum reassociation, across tie-rich and skip-rich shapes, for
    a batch of queries over random term subsets scored in one call."""
    rng = np.random.default_rng(500 + seed)
    avgdl = float(rng.uniform(20, 150))
    universe = (
        np.arange(0, 300, dtype=np.int64)
        if seed % 2
        else rng.choice(10**12, size=2000, replace=False).astype(np.int64)
    )
    n_terms = int(rng.integers(1, 6))
    pdf, _ = _mk_blocks(rng, n_terms, universe, avgdl,
                        block_size=int(rng.choice([1, 16, 128])))
    k = int(rng.integers(1, 20))
    idf = {t: float(g["idf"].iloc[0]) for t, g in pdf.groupby("term")}
    terms = sorted(idf)
    q_list = [(qid, [(t, idf[t]) for t in rng.choice(
        terms, size=int(rng.integers(1, len(terms) + 1)), replace=False)])
        for qid in rng.choice(10**6, size=8, replace=False).tolist()]
    _assert_parity(pdf, q_list, k, avgdl)


def test_scan_keep_broadcast_and_empty():
    """A broadcast keep array restricts results; an EMPTY keep array (a
    bucketed filter with no ids in this shard) excludes everything."""
    rng = np.random.default_rng(31)
    avgdl = 60.0
    pdf, truth = _mk_blocks(rng, 3, np.arange(0, 500, dtype=np.int64),
                            avgdl, block_size=16)
    keep = np.sort(np.array(sorted(truth)[::3], dtype=np.int64))
    _assert_parity(pdf, _one_query(pdf), 10, avgdl, keep=keep)
    empty = np.array([], dtype=np.int64)
    assert len(_scan(pdf, _one_query(pdf), 10, avgdl, keep=empty)) == 0
    assert len(_wand(pdf, _one_query(pdf), 10, avgdl, keep=empty)) == 0


@pytest.mark.parametrize("k", [1, 3, 7, 40])
def test_scan_exact_ties_at_kth(k):
    """Docs with equal (tf, dl) score exactly alike: the cut at k keeps
    the smallest doc ids among the tied docs, in every kernel."""
    avgdl = 50.0
    docs = np.array([-9, -4, 0, 3, 8, 11, 20, 21, 35, 60], dtype=np.int64)
    rows = []
    for term, tf in (("a", 2), ("b", 1)):
        rows.append({
            "term": term, "block_id": 0, "first_doc": int(docs[0]),
            "last_doc": int(docs[-1]), "n": len(docs),
            "docs_vb": vb.delta_encode(docs, int(docs[0])),
            "tfs_vb": vb.encode(np.full(len(docs), tf)),
            "dls_vb": vb.encode(np.full(len(docs), 40)),
            "max_tfsat": 2.0, "max_tf": tf, "min_dl": 40,
        })
    pdf = pd.DataFrame(rows)
    q_list = [(0, [("a", 1.5)]), (1, [("a", 1.5), ("b", 0.5)])]
    _assert_parity(pdf, q_list, k, avgdl)
    got = _by_query(_scan(pdf, q_list, k, avgdl))
    assert [d for d, _ in got[0]] == sorted(docs.tolist())[:k]


def test_scan_full_range_and_negative_doc_ids():
    """int64 min/max and negative doc ids survive decode, column mapping
    and the doc_id tie-break."""
    rng = np.random.default_rng(77)
    info = np.iinfo(np.int64)
    universe = np.unique(np.concatenate([
        np.array([info.min, info.min + 1, -1, 0, 1, info.max - 1,
                  info.max], dtype=np.int64),
        rng.integers(info.min, info.max, size=300, dtype=np.int64)]))
    avgdl = 70.0
    pdf, _ = _mk_blocks(rng, 4, universe, avgdl, block_size=7)
    idf = {t: float(g["idf"].iloc[0]) for t, g in pdf.groupby("term")}
    q_list = [(i, [(t, idf[t])]) for i, t in enumerate(sorted(idf))]
    q_list.append((99, sorted(idf.items())))
    _assert_parity(pdf, q_list, 400, avgdl)
    deleted = np.array([info.min, info.max], dtype=np.int64)
    _assert_parity(pdf, q_list, 400, avgdl, deleted=deleted)


def test_scan_absent_terms_and_empty_blocks():
    """A query with no term in the shard yields no rows (others are
    unaffected); an empty block frame yields an empty, typed result."""
    rng = np.random.default_rng(5)
    avgdl = 40.0
    pdf, _ = _mk_blocks(rng, 2, np.arange(0, 200, dtype=np.int64), avgdl)
    q_list = [(1, [("nope", 2.0)]), (2, [("t0", 1.0), ("nope", 3.0)])]
    _assert_parity(pdf, q_list, 5, avgdl)
    out = _scan(pdf, q_list, 5, avgdl)
    assert set(out["query_id"]) == {2}
    empty = _scan(pdf.iloc[0:0], q_list, 5, avgdl)
    assert len(empty) == 0
    assert [str(t) for t in empty.dtypes] == ["int64", "int64", "float64"]


@pytest.mark.parametrize("budget", [1, 97, 1000])
def test_scan_chunked_accumulator(monkeypatch, budget):
    """A tiny accumulator budget forces several query chunks; the result
    must not change (bit-identical to one chunk)."""
    rng = np.random.default_rng(2024)
    avgdl = 55.0
    pdf, _ = _mk_blocks(rng, 5, np.arange(-100, 400, dtype=np.int64),
                        avgdl, block_size=16)
    idf = {t: float(g["idf"].iloc[0]) for t, g in pdf.groupby("term")}
    terms = sorted(idf)
    q_list = [(qid, [(t, idf[t]) for t in rng.choice(
        terms, size=int(rng.integers(1, 6)), replace=False)])
        for qid in range(40)]
    deleted = np.sort(rng.choice(np.arange(-100, 400), size=50,
                                 replace=False)).astype(np.int64)
    whole = _scan(pdf, q_list, 10, avgdl, deleted)
    monkeypatch.setattr(bmw, "SCAN_BUDGET_CELLS", budget)
    rows_per_chunk = []  # one top-k partition per chunk, of its rows
    real = np.partition
    with monkeypatch.context() as m:
        m.setattr(np, "partition", lambda a, *args, **kw: (
            rows_per_chunk.append(a.shape[0]), real(a, *args, **kw))[1])
        chunked = _scan(pdf, q_list, 10, avgdl, deleted)
    assert len(rows_per_chunk) > 1 and sum(rows_per_chunk) == len(q_list)
    pd.testing.assert_frame_equal(whole, chunked)
    _assert_parity(pdf, q_list, 10, avgdl, deleted)
