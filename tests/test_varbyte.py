"""Varbyte codec property tests (frozen spec: little-endian 7-bit groups,
MSB continuation — FIXTURES.md §4)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from rerankers_spark.index import varbyte as vb


def test_spec_bytes():
    assert vb.encode(np.array([0])) == b"\x00"
    assert vb.encode(np.array([127])) == b"\x7f"
    assert vb.encode(np.array([128])) == b"\x80\x01"
    assert vb.encode(np.array([300])) == bytes([0xAC, 0x02])
    assert vb.encode(np.array([], dtype=np.int64)) == b""


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
def test_roundtrip(vals):
    arr = np.array(vals, dtype=np.int64)
    assert (vb.decode(vb.encode(arr)) == arr).all()


@settings(max_examples=30, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=10**12), max_size=300))
def test_delta_roundtrip(ids):
    arr = np.array(sorted(ids), dtype=np.int64)
    base = int(arr[0]) if len(arr) else 0
    assert (vb.delta_decode(vb.delta_encode(arr, base), base) == arr).all()


def test_delta_requires_sorted():
    import pytest

    with pytest.raises(ValueError):
        vb.delta_encode(np.array([5, 3]), base=0)


def test_decode_empty():
    assert vb.decode(b"").size == 0


_EDGE = st.sampled_from([0, 127, 128, 2**14 - 1, 2**14, 2**63 - 1])
_VALUES = st.lists(st.one_of(_EDGE, st.integers(0, 2**63 - 1)), max_size=60)


@settings(max_examples=60, deadline=None)
@given(st.lists(_VALUES, max_size=12))
def test_decode_per_buffer_and_concatenated(chunks):
    """encode → decode round-trips each buffer, and decode_many over the
    buffers returns the concatenated values with per-buffer counts."""
    arrs = [np.array(c, dtype=np.int64) for c in chunks]
    bufs = [vb.encode(a) for a in arrs]
    for a, b in zip(arrs, bufs):
        assert (vb.decode(b) == a).all()
    vals, counts = vb.decode_many(bufs)
    assert counts.tolist() == [len(a) for a in arrs]
    expected = np.concatenate(arrs) if arrs else np.empty(0, np.int64)
    assert vals.dtype == np.int64 and (vals == expected).all()


_INT64 = st.integers(-(2**63), 2**63 - 1)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.sets(st.one_of(
    st.sampled_from([-(2**63), -(2**63) + 1, -1, 0, 1, 2**63 - 1]),
    _INT64), min_size=1, max_size=40), max_size=10))
def test_delta_decode_blocks_matches_per_block(blocks):
    """delta_decode_blocks == per-block delta_decode, full int64 range."""
    ids = [np.array(sorted(b), dtype=np.int64) for b in blocks]
    bases = np.array([int(a[0]) for a in ids], dtype=np.int64)
    bufs = [vb.delta_encode(a, int(a[0])) for a in ids]
    docs, counts = vb.delta_decode_blocks(bufs, bases)
    assert counts.tolist() == [len(a) for a in ids]
    per_block = [vb.delta_decode(b, int(f)) for b, f in zip(bufs, bases)]
    expected = (np.concatenate(per_block) if per_block
                else np.empty(0, np.int64))
    assert docs.dtype == np.int64 and (docs == expected).all()
    if ids:
        assert (docs == np.concatenate(ids)).all()
