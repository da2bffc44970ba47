"""Replicates the driver's correctness gate: every queries() entry with an
oracle must match DuckDB on row count, column names, and (order-insensitive)
values, at sf0.001 and sf0.01."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entrymod

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _norm(v):
    # Type-tagged normalization: a float 11.0 and an int 11 must NOT
    # compare equal — the driver hashes pandas values, where a DuckDB
    # HUGEINT window sum materializes as float64 and flips the hash
    # (real failure, round 1: events_sessionize).
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{v:.9g}"
    if isinstance(v, (int,)) and not isinstance(v, bool):
        return f"i:{v}"
    return f"s:{v}"


def _dtype_kind(k: str) -> str:
    # Collapse numpy dtype kinds the way the driver's hash would see them.
    return {"i": "int", "u": "int", "f": "float", "b": "bool",
            "M": "ts", "O": "obj", "S": "obj", "U": "obj"}.get(k, k)


def _pdf_to_set(pdf):
    cols = sorted(pdf.columns)
    sub = pdf[cols]
    return sorted(tuple(_norm(v) for v in row)
                  for row in sub.itertuples(index=False, name=None))


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql().keys()))
@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001",
                                    "/root/testdata/sf0.01"])
def test_query_matches_oracle(spark, name, sf_dir):
    fn = entrymod.queries()[name]
    s_pdf = fn(spark, sf_dir).toPandas()

    con = _duck(sf_dir)
    d_pdf = con.execute(entrymod.oracle_sql()[name]).df()
    con.close()

    assert sorted(s_pdf.columns) == sorted(d_pdf.columns), (
        f"{name}: column names differ"
    )
    assert len(s_pdf) == len(d_pdf), f"{name}: row count differs"
    s_kinds = {c: _dtype_kind(s_pdf[c].dtype.kind) for c in s_pdf.columns}
    d_kinds = {c: _dtype_kind(d_pdf[c].dtype.kind) for c in d_pdf.columns}
    assert s_kinds == d_kinds, f"{name}: column dtype kinds differ"
    assert _pdf_to_set(s_pdf) == _pdf_to_set(d_pdf), f"{name}: values differ"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert set(df.columns) == {"query_id", "doc_id", "rank", "score"}


def test_contract_index_rebuilds_for_another_corpus(spark, tmp_path):
    """Two corpora under the same sf basename share one /tmp contract
    index path: asking for the second rebuilds the index the first
    built, and asking for the same corpus again reuses it."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from rerankers_spark import driver_contract as dc
    from rerankers_spark.index import spimi

    docs = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    dirs = []
    for side, rows in (("a", docs.slice(0, 60)), ("b", docs.slice(60, 40))):
        d = tmp_path / side / "sf_contract_reuse"
        d.mkdir(parents=True)
        pq.write_table(rows, d / "documents.parquet")
        dirs.append(str(d))
    idx = "/tmp/contract_index_sf_contract_reuse"
    shutil.rmtree(idx, ignore_errors=True)
    try:
        dc._contract_engine(spark, dirs[0])
        eng = dc._contract_engine(spark, dirs[1])
        meta = spimi.load_meta(spark, eng.paths)
        assert meta["n_docs"] == 40
        ids = {r["doc_id"] for r in
               spark.read.parquet(f"{idx}/docstats").collect()}
        assert ids == set(docs.slice(60, 40)["doc_id"].to_pylist())
        scalars = os.listdir(f"{idx}/scalars")
        dc._contract_engine(spark, dirs[1])
        assert os.listdir(f"{idx}/scalars") == scalars
    finally:
        shutil.rmtree(idx, ignore_errors=True)
