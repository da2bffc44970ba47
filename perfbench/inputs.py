"""Seeded benchmark inputs: corpus files, incoming batches, queries.

Everything here is a pure function of the workload seed. The corpus text
comes from ``rerankers_spark.corpus.synthetic_corpus_pdf`` and is written
in the ``documents.parquet`` shape (doc_id, text, lang, source, n_chars)
that ``rerankers_spark.corpus.documents_as_corpus`` reads, so the engine
sees only files. Queries are drawn from the corpus's own vocabulary by
document-frequency band, using the df the BM25 oracle counted.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from rerankers_spark.functions.tokenize import tokenize_py

#: df bands a query term is drawn from (share of docs containing it):
#: rare ≤ RARE_MAX_DF_RATIO (or in at most RARE_MIN_DF docs) < mid ≤
#: HEAD_MIN_DF_RATIO < head. Head terms are the ones the engine's
#: cost-based router sends down the dense route.
RARE_MAX_DF_RATIO = 0.005
RARE_MIN_DF = 3
HEAD_MIN_DF_RATIO = 0.10
#: fixed band shares of query terms, and the out-of-vocabulary share
BAND_SHARES = {"rare": 0.35, "mid": 0.50, "head": 0.15}
OOV_SHARE = 0.03
MAX_QUERY_TERMS = 4


def write_documents(pdf: pd.DataFrame, doc_ids: np.ndarray,
                    out_dir: str) -> str:
    """Write ``out_dir/documents.parquet`` in the shape
    ``corpus.documents_as_corpus`` reads."""
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array(pdf["content"].tolist(), pa.string()),
        "lang": pa.array(pdf["lang"].tolist(), pa.string()),
        "source": pa.array(pdf["repo"].tolist(), pa.string()),
        "n_chars": pa.array(pdf["content"].str.len().to_numpy(), pa.int64()),
    })
    path = os.path.join(out_dir, "documents.parquet")
    # several row groups, so the scan is not pinned to one task
    pq.write_table(table, path, row_group_size=max(256, len(pdf) // 8 + 1))
    return out_dir


def distinct_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct doc ids over the full int64 range (negatives included,
    as the engine's xxhash64 ids are)."""
    ids = np.unique(rng.integers(np.iinfo(np.int64).min,
                                 np.iinfo(np.int64).max, size=2 * n + 16,
                                 dtype=np.int64))
    return rng.permutation(ids)[:n]


def plant_near_duplicates(pdf: pd.DataFrame, rng: np.random.Generator,
                          share: float) -> tuple[pd.DataFrame, list]:
    """Append near-copies of ``share`` of the docs that have at least 100
    tokens: one token in every 80 is replaced by another token of the
    same doc, which keeps the 3-shingle Jaccard near 0.93. Returns the
    grown frame and the (source_row, copy_row) pairs."""
    lens = pdf["content"].str.count(" ").to_numpy() + 1
    eligible = np.nonzero(lens >= 100)[0]
    n_plant = min(len(eligible), int(round(share * len(pdf))))
    sources = np.sort(rng.choice(eligible, size=n_plant, replace=False))
    rows, pairs = [], []
    for src in sources:
        toks = pdf["content"].iloc[src].split(" ")
        for pos in rng.choice(len(toks), size=max(1, len(toks) // 80),
                              replace=False):
            toks[pos] = toks[int(rng.integers(len(toks)))]
        row = pdf.iloc[src].copy()
        row["content"] = " ".join(toks)
        pairs.append((int(src), len(pdf) + len(rows)))
        rows.append(row)
    grown = pd.concat([pdf, pd.DataFrame(rows)], ignore_index=True)
    return grown, pairs


@dataclass
class QueryMaker:
    """Draws query batches from df bands of one vocabulary. Every query
    gets a fresh id; the band shares are fixed."""

    rng: np.random.Generator
    bands: dict
    next_id: int = 1
    band_counts: dict = field(default_factory=dict)

    @classmethod
    def from_df(cls, df: dict, n_docs: int,
                rng: np.random.Generator) -> "QueryMaker":
        terms = sorted(df)
        ratio = np.array([df[t] / n_docs for t in terms])
        rare = (ratio <= RARE_MAX_DF_RATIO) | (
            np.array([df[t] for t in terms]) <= RARE_MIN_DF)
        arr = np.array(terms, dtype=object)
        bands = {
            "rare": arr[rare],
            "mid": arr[~rare & (ratio <= HEAD_MIN_DF_RATIO)],
            "head": arr[ratio > HEAD_MIN_DF_RATIO],
        }
        empty = [b for b, v in bands.items() if len(v) == 0]
        if empty:
            raise ValueError(f"corpus too small: empty df bands {empty}")
        return cls(rng=rng, bands=bands)

    def term(self) -> str:
        u = self.rng.random()
        if u < OOV_SHARE:
            band = "oov"
            word = f"zzoov{int(self.rng.integers(1 << 30))}"
        else:
            u = self.rng.random()
            acc = 0.0
            for band, share in BAND_SHARES.items():
                acc += share
                if u < acc:
                    break
            pool = self.bands[band]
            word = str(pool[int(self.rng.integers(len(pool)))])
        self.band_counts[band] = self.band_counts.get(band, 0) + 1
        return word

    def batch(self, n: int) -> pd.DataFrame:
        ids, texts = [], []
        for _ in range(n):
            k = int(self.rng.integers(1, MAX_QUERY_TERMS + 1))
            texts.append(" ".join(self.term() for _ in range(k)))
            ids.append(self.next_id)
            self.next_id += 1
        return pd.DataFrame({"query_id": np.array(ids, dtype=np.int64),
                             "query": texts})

    def batch_over_pairs(self, min_pairs: int) -> pd.DataFrame:
        """Smallest batch whose (query, term) pair count exceeds
        ``min_pairs`` — the count the engine's local-plan cap is on."""
        parts, n_pairs = [], 0
        while n_pairs <= min_pairs:
            b = self.batch(64)
            n_pairs += sum(len(tokenize_py(q)) for q in b["query"])
            parts.append(b)
        return pd.concat(parts, ignore_index=True)


@dataclass
class Corpus:
    """One generated corpus: its rows, ids and the directory holding its
    documents.parquet."""

    pdf: pd.DataFrame
    doc_ids: np.ndarray
    path: str

    @property
    def texts(self) -> list[str]:
        return self.pdf["content"].tolist()

    @property
    def text_bytes(self) -> int:
        return int(self.pdf["content"].str.len().sum())


def split_batches(corpus_pdf: pd.DataFrame, doc_ids: np.ndarray,
                  n_base: int, batch_docs: int, dup_share: float,
                  seed: int, out_dir: str) -> tuple[Corpus, list]:
    """Split a corpus into the first ``n_base`` docs (written as
    out_dir/base) and incoming batches of ``batch_docs`` docs
    (out_dir/batch_NNN), each batch carrying planted near-copies of its
    own docs. Returns the base and a list of
    (Corpus, planted (source_id, copy_id) pairs)."""
    rng = np.random.default_rng([seed, 2])
    base = Corpus(corpus_pdf.iloc[:n_base].reset_index(drop=True),
                  doc_ids[:n_base],
                  write_documents(corpus_pdf.iloc[:n_base], doc_ids[:n_base],
                                  os.path.join(out_dir, "base")))
    rest = corpus_pdf.iloc[n_base:].reset_index(drop=True)
    taken = set(doc_ids.tolist())
    batches = []
    for i, lo in enumerate(range(0, len(rest) - batch_docs + 1, batch_docs)):
        part = rest.iloc[lo:lo + batch_docs].reset_index(drop=True)
        grown, row_pairs = plant_near_duplicates(part, rng, dup_share)
        ids = list(doc_ids[n_base + lo:n_base + lo + batch_docs])
        for new_id in distinct_ids(rng, 4 * len(row_pairs) + 4):
            if len(ids) == len(grown):
                break
            if int(new_id) not in taken:
                taken.add(int(new_id))
                ids.append(new_id)
        ids = np.array(ids, dtype=np.int64)
        path = write_documents(grown, ids,
                               os.path.join(out_dir, f"batch_{i:03d}"))
        batches.append((Corpus(grown, ids, path),
                        [(int(ids[a]), int(ids[b])) for a, b in row_pairs]))
    return base, batches
