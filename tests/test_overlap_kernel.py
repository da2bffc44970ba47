"""The overlap scorer's kernel against the literal set oracle.

The kernel tests only the batch's query tokens against each lowered
text (one RE2 search per distinct query token); the oracle is the
definition, |set(tokenize_py(query)) ∩ set(tokenize_py(text))| /
|set(tokenize_py(query))| (0 for a query with no tokens). Scores compare
as float.hex. The alphabet covers what the frozen tokenizer spec is
sensitive to: characters whose lower() is ASCII (İ → "i" + U+0307, the
Kelvin sign → "k"), ``_`` and digits inside tokens, tokens of 64 and 65
characters (the second is dropped), tokens that are prefixes, suffixes
or infixes of longer ones, separators of every kind (newlines, non-ASCII
letters), None and "" texts and queries, and repeated query tokens.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from rerankers_spark import Reranker
from rerankers_spark.functions.tokenize import tokenize_py
from rerankers_spark.rerank.ranker import _overlap_scorer

# the Kelvin sign, capital I with dot above, combining dot above
KELVIN, I_DOT, DOT = "\u212a", "\u0130", "\u0307"
LONG = ("a" * 63, "b" * 64, "c" * 65, "a" * 64 + "_")
WORDS = ("ab", "abc", "xabc", "abcx", "xabcx", "a_b", "_ab", "ab_", "a1",
         "1a", "42", "__", I_DOT + "ab", KELVIN + "ab", "kab", "iab",
         "i" + DOT + "ab", "\u00df", "\u00e9ab") + LONG
SEPS = (" ", "\n", "\t", "-", ".", "\u00e9", DOT, I_DOT, KELVIN, " \n ",
        "\r\n", "\U0001f600", "")

piece = st.one_of(st.sampled_from(WORDS), st.sampled_from(SEPS),
                  st.text(alphabet="abcAB_1 -\n" + I_DOT + KELVIN,
                          max_size=6))
words = st.lists(piece, max_size=12).map("".join)
text = st.one_of(st.none(), words)


def oracle(query, text) -> float:
    q = set(tokenize_py(query))
    if not q:
        return 0.0
    return len(q & set(tokenize_py(text))) / len(q)


def _hex(values):
    return [float(x).hex() for x in values]


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(text, text), min_size=1, max_size=12))
def test_overlap_kernel_equals_the_set_oracle(pairs):
    score = _overlap_scorer()
    got = score(pd.Series([q for q, _ in pairs], dtype=object),
                pd.Series([t for _, t in pairs], dtype=object))
    assert _hex(got) == _hex(oracle(q, t) for q, t in pairs)


@settings(max_examples=100, deadline=None)
@given(st.lists(text, min_size=1, max_size=3).flatmap(
    lambda pool: st.lists(st.tuples(st.sampled_from(pool), text),
                          min_size=1, max_size=16)))
def test_interleaved_queries(pairs):
    """A Spark batch: a few queries, their rows interleaved (the kernel
    groups rows by query and scatters the counts back)."""
    got = _overlap_scorer()(pd.Series([q for q, _ in pairs], dtype=object),
                            pd.Series([t for _, t in pairs], dtype=object))
    assert _hex(got) == _hex(oracle(q, t) for q, t in pairs)


@settings(max_examples=60, deadline=None)
@given(words, st.lists(text, min_size=1, max_size=10))
def test_one_query_over_many_texts(query, texts):
    """The shape of a rank call: repeated query tokens, every row
    holding every token (the kernel's no-take branch)."""
    query = query + " " + query
    got = _overlap_scorer()(pd.Series([query] * len(texts), dtype=object),
                            pd.Series(texts, dtype=object))
    assert _hex(got) == _hex(oracle(query, t) for t in texts)


def test_edges_spelled_out():
    cases = [
        ("ab", "ab"), ("ab", "xab abx xabx"), ("ab", "x\nab"),
        ("ab", "ab\n"), ("ab ab ab", "ab"), ("a_b", "a b"),
        ("a1 42", "A1-42"), ("kab", KELVIN + "AB"),
        ("iab", I_DOT + "AB"),
        ("b" * 64, "b" * 64), ("c" * 65 + " ab", "c" * 65 + " ab"),
        ("ab", "c" * 65 + "ab"), ("", "ab"), (None, "ab"), ("ab", None),
        ("ab", ""), ("\u00e9 ab", "\u00e9ab"), ("ab", "\U0001f600ab\n"),
    ]
    got = _overlap_scorer()(pd.Series([q for q, _ in cases], dtype=object),
                            pd.Series([t for _, t in cases], dtype=object))
    assert _hex(got) == _hex(oracle(q, t) for q, t in cases)
    assert list(got[:4]) == [1.0, 0.0, 1.0, 1.0]


@settings(max_examples=40, deadline=None)
@given(words,
       st.lists(st.tuples(words,
                          st.sampled_from(["\ud800", "\udfff", "\udc80ab",
                                           "ab\ud83d", ""])),
                min_size=2, max_size=6))
def test_lone_surrogates_through_rank(query, docs):
    """Reranker.rank (the driver API, no Arrow on the way in) takes
    texts that have no UTF-8 form; they score as the oracle does."""
    texts = [a + s + a for a, s in docs]
    ranked = Reranker("overlap").rank(query + "\ud800", texts)
    got = {r.document.doc_id: r.score for r in ranked.results}
    assert _hex(got[i] for i in range(len(texts))) == \
        _hex(oracle(query + "\ud800", t) for t in texts)
