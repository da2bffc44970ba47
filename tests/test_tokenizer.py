"""Tokenizer: the three implementations (native Column, Arrow UDF, python
oracle) agree on the frozen spec (FIXTURES.md §4)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from rerankers_spark.functions.tokenize import (
    tokenize_col,
    tokenize_pandas_udf,
    tokenize_py,
)

CASES = [
    "def get_user(id): return db.fetch(id)",
    "CamelCase Mixed_Snake  --- 123abc",
    "",
    "   ",
    "x" * 65,  # dropped: too long
    "x" * 64,  # kept: exactly max
    "a.b.c,d;e",
    "UPPER lower 42_mixed_42",
]


def test_native_matches_python(spark):
    df = spark.createDataFrame([(c,) for c in CASES], "content string")
    got = [
        r["toks"]
        for r in df.select(tokenize_col("content").alias("toks")).collect()
    ]
    assert got == [tokenize_py(c) for c in CASES]


def test_arrow_udf_matches_python(spark):
    df = spark.createDataFrame([(c,) for c in CASES], "content string")
    got = [
        r["toks"]
        for r in df.select(tokenize_pandas_udf("content").alias("toks")).collect()
    ]
    assert got == [tokenize_py(c) for c in CASES]


@settings(max_examples=25, deadline=None)
@given(st.text(max_size=200))
def test_python_tokenizer_properties(s):
    toks = tokenize_py(s)
    for t in toks:
        assert t
        assert len(t) <= 64
        assert t == t.lower()


@settings(max_examples=50, deadline=None)
@given(st.text(max_size=300))
def test_findall_form_equals_split_form(s):
    """TOKEN_FINDALL_RE (used by the vectorized index builder) must be
    exactly split(TOKEN_SPLIT_RE) minus empties, before the length cap."""
    import re

    from rerankers_spark.functions.tokenize import (
        TOKEN_FINDALL_RE,
        TOKEN_SPLIT_RE,
    )

    low = s.lower()
    via_split = [t for t in re.split(TOKEN_SPLIT_RE, low) if t]
    via_findall = re.findall(TOKEN_FINDALL_RE, low)
    assert via_split == via_findall


@settings(max_examples=25, deadline=None)
@given(st.lists(st.text(max_size=120), min_size=0, max_size=8))
def test_postings_map_matches_python_oracle(texts):
    """The vectorized _postings_map agrees with tokenize_py + Counter on
    arbitrary content (including None, empty, all-delimiter strings)."""
    from collections import Counter

    import numpy as np
    import pandas as pd

    from rerankers_spark.index.spimi import _postings_map

    pdf = pd.DataFrame({
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "shard_id": np.arange(len(texts), dtype=np.int32) % 3,
        "content": pd.Series(texts, dtype="object"),
    })
    got = pd.concat(list(_postings_map(iter([pdf]))), ignore_index=True)
    got_set = {
        (r.term, r.doc_id, r.dl, r.tf, r.shard_id)
        for r in got.itertuples()
    }
    want = set()
    for i, text in enumerate(texts):
        toks = tokenize_py(text)
        for term, tf in Counter(toks).items():
            want.add((term, i, len(toks), tf, i % 3))
    assert got_set == want


def test_null_content(spark):
    df = spark.createDataFrame([(None,)], "content string")
    row = df.select(tokenize_col("content").alias("toks")).collect()[0]
    assert row["toks"] is None or row["toks"] == []


def test_tokenize_is_jvm_side(spark):
    """The default tokenizer must not spawn ANY Python eval node."""
    df = spark.createDataFrame([("a b",)], "content string")
    plan = df.select(
        F.explode(tokenize_col("content"))
    )._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


@settings(max_examples=25, deadline=None)
@given(st.lists(st.one_of(st.none(), st.text(max_size=80)), max_size=6))
def test_native_matches_python_on_arbitrary_text(spark, texts):
    """tokenize_col (the over-cap query side) and tokenize_py (the local
    query plan, and the spec of the index's splitter) agree on arbitrary
    text; a NULL string tokenizes to no tokens on both."""
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"i": range(len(texts)),
                      "content": pd.Series(texts, dtype="object")}),
        "i long, content string")
    got = {r["i"]: r["toks"] or [] for r in
           df.select("i", tokenize_col("content").alias("toks")).collect()}
    assert [got[i] for i in range(len(texts))] == \
        [tokenize_py(t) for t in texts]


def _code_point_rows(it):
    """(cp, text, tokenize_py(text) joined by spaces) for every code
    point of the input range ids, in the context a{c}b x{c} {c}z."""
    import pandas as pd

    for pdf in it:
        cps = pdf["id"].tolist()
        texts = [f"a{chr(c)}b x{chr(c)} {chr(c)}z" for c in cps]
        yield pd.DataFrame({
            "cp": pdf["id"], "text": texts,
            "want": [" ".join(tokenize_py(t)) for t in texts]})


def test_native_matches_python_on_every_non_ascii_code_point(spark):
    """Every non-ASCII code point (surrogates excluded: they have no
    UTF-8 form) between ASCII letters, at a token edge and alone: the
    JVM lowercase + split must give exactly Python's tokens. One job."""
    import sys

    cps = spark.range(0x80, sys.maxunicode + 1, numPartitions=8).where(
        ~F.col("id").between(0xD800, 0xDFFF))
    bad = (cps.mapInPandas(_code_point_rows,
                           "cp long, text string, want string")
           .where(F.array_join(tokenize_col("text"), " ") != F.col("want"))
           .limit(20).collect())
    assert not bad, [(hex(r["cp"]), r["text"], r["want"]) for r in bad]
