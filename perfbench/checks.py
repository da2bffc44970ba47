"""Output checks: engine results against the repo's BM25 oracle and
plain-Python recomputations. Every check returns a list of problems; an
empty list means the output is correct."""

from __future__ import annotations

import re
from collections import Counter
from typing import Iterable, Sequence

from rerankers_spark.functions.tokenize import (
    MAX_TOKEN_LEN,
    TOKEN_FINDALL_RE,
    tokenize_py,
)
from tests.oracle import BM25Oracle

ROUND = 9
_FINDALL = re.compile(TOKEN_FINDALL_RE)


class GrowingOracle(BM25Oracle):
    """BM25Oracle whose collection can grow (appends) and shrink (a full
    compaction purging tombstoned docs), mirroring the index lifecycle.
    Tombstoned docs are not removed here: they keep counting in the
    collection statistics until a purge, and are dropped from rankings
    by the caller (the deferred-stats rule)."""

    def __init__(self, doc_ids: Sequence[int], contents: Sequence[str]):
        super().__init__(doc_ids, contents)
        self._sum_dl = sum(self.dls)

    def add(self, doc_ids: Sequence[int], contents: Sequence[str]) -> None:
        for doc_id, content in zip(doc_ids, contents):
            toks = tokenize_py(content)
            tf = Counter(toks)
            self.doc_ids.append(int(doc_id))
            self.tfs.append(dict(tf))
            self.dls.append(len(toks))
            self._sum_dl += len(toks)
            self.df.update(tf.keys())
        self._restat()

    def purge(self, doc_ids: Iterable[int]) -> None:
        gone = set(doc_ids)
        keep = [i for i, d in enumerate(self.doc_ids) if d not in gone]
        for i in range(len(self.doc_ids)):
            if self.doc_ids[i] in gone:
                self.df.subtract(self.tfs[i].keys())
        self.df = +self.df
        self.doc_ids = [self.doc_ids[i] for i in keep]
        self.tfs = [self.tfs[i] for i in keep]
        self.dls = [self.dls[i] for i in keep]
        self._sum_dl = sum(self.dls)
        self._restat()

    def _restat(self) -> None:
        self.n = len(self.doc_ids)
        self.avgdl = self._sum_dl / self.n if self.n else 0.0

    def ranked(self, query: str, deleted: frozenset = frozenset()
               ) -> list[tuple[int, float]]:
        """Every matching, non-deleted doc as (doc_id, rounded score) in
        (score desc, doc_id asc) order."""
        q_terms = list(dict.fromkeys(tokenize_py(query)))
        hits = []
        for i, doc_id in enumerate(self.doc_ids):
            if doc_id in deleted or not any(t in self.tfs[i]
                                            for t in q_terms):
                continue
            hits.append((doc_id, round(self.score_doc(i, q_terms), ROUND)))
        hits.sort(key=lambda h: (-h[1], h[0]))
        return hits


def _canon(rows: Iterable[tuple[int, float]]) -> list[tuple[int, float]]:
    return sorted(((int(d), round(float(s), ROUND)) for d, s in rows),
                  key=lambda h: (-h[1], h[0]))


def topk_problems(got: Sequence[tuple[int, float]],
                  expected: Sequence[tuple[int, float]], k: int,
                  label: str) -> list[str]:
    """``got`` must be the oracle's top-k as (doc_id, round(score, 9)).
    A doc tied with the k-th rounded score may stand in for another such
    doc (the cut is then not determined by rounded scores)."""
    got_c, want = _canon(got), list(expected[:k])
    if got_c == want:
        return []
    if len(got_c) == len(want) and want:
        kth = want[-1][1]
        tied = {d for d, s in expected if s == kth}
        strict_ok = ([h for h in got_c if h[1] > kth]
                     == [h for h in want if h[1] > kth])
        if strict_ok and all(s == kth and d in tied
                             for d, s in got_c if s <= kth):
            return []
    return [f"{label}: top-{k} mismatch: got {got_c[:3]}... "
            f"want {want[:3]}... ({len(got_c)} vs {len(want)} rows)"]


def overlap_score(query: str, text: str) -> float:
    """The overlap scorer recomputed with sets: |q ∩ d| / |q|."""
    def toks(s: str) -> set:
        return {t for t in _FINDALL.findall(s.lower())
                if len(t) <= MAX_TOKEN_LEN}
    q = toks(query)
    return len(q & toks(text)) / len(q) if q else 0.0


def rank_problems(rows: Sequence[dict], query: str, ranked: Sequence,
                  texts: dict, first_k: int, final_k: int,
                  label: str) -> list[str]:
    """Four conditions on one query's rank() rows: contiguous ranks from
    1, (score desc, doc_id asc) order, every doc a BM25 top-first_k
    candidate with the oracle's score, and the overlap score recomputed
    in Python for every row."""
    out = []
    rows = sorted(rows, key=lambda r: r["rank"])
    want_n = min(final_k, len(ranked))
    if [r["rank"] for r in rows] != list(range(1, want_n + 1)):
        out.append(f"{label}: ranks {[r['rank'] for r in rows]} are not "
                   f"1..{want_n}")
    for a, b in zip(rows, rows[1:]):
        if (a["score"], -a["doc_id"]) < (b["score"], -b["doc_id"]):
            out.append(f"{label}: rank {a['rank']} before {b['rank']} "
                       "breaks (score desc, doc_id asc)")
    cands = dict(ranked[:first_k])
    cut = ranked[first_k - 1][1] if len(ranked) >= first_k else None
    all_scores = dict(ranked)
    for r in rows:
        d = int(r["doc_id"])
        bm25 = all_scores.get(d)
        if d not in cands and not (cut is not None and bm25 == cut):
            out.append(f"{label}: doc {d} is not a BM25 top-{first_k} "
                       "candidate")
        elif round(float(r["bm25_score"]), ROUND) != bm25:
            out.append(f"{label}: doc {d} bm25_score {r['bm25_score']} "
                       f"!= oracle {bm25}")
        if float(r["score"]) != overlap_score(query, texts[d]):
            out.append(f"{label}: doc {d} overlap score {r['score']} != "
                       f"{overlap_score(query, texts[d])}")
    return out


def shingles(text: str, k: int = 3) -> set:
    toks = tokenize_py(text)
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def dedup_problems(ids: Sequence[int], texts: Sequence[str],
                   survivors: set, planted: Sequence[tuple[int, int]],
                   threshold: float, recall_floor: float,
                   label: str) -> tuple[list[str], float]:
    """Every removed doc needs a surviving doc with exact 3-shingle
    Jaccard ≥ threshold, and the share of planted pairs (whose exact
    Jaccard is ≥ threshold) that lost a member must reach
    ``recall_floor``. Returns the problems and the planted recall."""
    out = []
    sh = {int(d): shingles(t) for d, t in zip(ids, texts)}
    unknown = survivors - sh.keys()
    if unknown:
        out.append(f"{label}: {len(unknown)} survivors not in the input")
    kept = [d for d in sh if d in survivors]
    for d in sh:
        if d in survivors:
            continue
        if not any(round(jaccard(sh[d], sh[s]), 6) >= threshold
                   for s in kept):
            out.append(f"{label}: removed doc {d} has no surviving "
                       f"near-duplicate at Jaccard ≥ {threshold}")
    real = [(a, b) for a, b in planted
            if round(jaccard(sh[a], sh[b]), 6) >= threshold]
    hit = sum(1 for a, b in real if not (a in survivors and b in survivors))
    recall = hit / len(real) if real else 1.0
    if recall < recall_floor:
        out.append(f"{label}: planted-pair recall {recall:.3f} < "
                   f"{recall_floor}")
    return out, recall


def replay(events: Sequence[tuple], texts: dict, dedup_threshold: float,
           recall_floor: float) -> tuple[list[str], dict]:
    """Check every recorded output against the collection as it stood
    when the call ran. Events, in call order: ("add", ids, texts),
    ("delete", ids), ("purge", ids), ("search", queries, rows, kw),
    ("rank", queries, rows, kw) and ("dedup", ids, texts, survivors,
    planted). Returns the problems and a few counts."""
    oracle = GrowingOracle([], [])
    deleted: frozenset = frozenset()
    problems: list[str] = []
    stats = {"checked_queries": 0, "planted_recall": []}
    for ev in events:
        kind = ev[0]
        if kind == "add":
            oracle.add(ev[1], ev[2])
        elif kind == "delete":
            deleted = deleted | set(ev[1])
        elif kind == "purge":
            oracle.purge(ev[1])
        elif kind in ("search", "rank"):
            _, queries, got, kw = ev
            for qid, q in queries.items():
                ranked = oracle.ranked(q, deleted)
                rows = got.get(qid, [])
                label = f"{kind} query {qid} {q!r}"
                if kind == "search":
                    problems += topk_problems(
                        [(r["doc_id"], r["score"]) for r in rows], ranked,
                        kw["k"], label)
                else:
                    problems += rank_problems(rows, q, ranked, texts,
                                              kw["first_k"], kw["final_k"],
                                              label)
                stats["checked_queries"] += 1
        elif kind == "dedup":
            _, ids, txts, survivors, planted = ev
            p, recall = dedup_problems(ids, txts, survivors, planted,
                                       dedup_threshold, recall_floor,
                                       "dedup")
            problems += p
            stats["planted_recall"].append(recall)
        else:
            raise ValueError(f"unknown event {kind!r}")
    return problems, stats
