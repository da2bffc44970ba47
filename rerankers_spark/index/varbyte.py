"""Varbyte codec for posting blocks (frozen spec, FIXTURES.md §4).

Encoding: little-endian base-128; 7 payload bits per byte, MSB set means
"continuation" (more bytes follow). Doc ids are delta-coded: deltas
against the previous id, with the block's first delta taken against the
block's ``first_doc`` base stored in block metadata (see spimi.py).

Vectorized with numpy: encode/decode operate on whole int64 arrays with
no per-element Python. These run INSIDE Arrow UDFs, so the per-batch
numpy cost is the whole story; decode_many / delta_decode_blocks decode
a whole task's blocks in one pass, and this module is the only place
that knows the byte format.
"""

from __future__ import annotations

import numpy as np

_MASK = 0x7F
_CONT = 0x80


def encode(values: np.ndarray) -> bytes:
    """Varbyte-encode a non-negative int64 array."""
    return encode_with_lengths(values)[0]


def encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """(buffer, per-value byte lengths). The lengths let callers slice a
    single whole-array encoding into per-block byte ranges (the block
    builder encodes one shard in one call instead of one call per block)."""
    vals = np.asarray(values, dtype=np.uint64)
    if vals.size == 0:
        return b"", np.empty(0, dtype=np.int64)
    if np.asarray(values).min() < 0:
        raise ValueError("varbyte requires non-negative values")
    # vectorized byte-length: ceil(bit_length/7), min 1
    bl = np.zeros(vals.shape, dtype=np.int64)
    tmp = vals.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        bl[nz] += 1
        tmp >>= np.uint64(7)
    bl[bl == 0] = 1
    total = int(bl.sum())
    out = np.empty(total, dtype=np.uint8)
    # write bytes: position offsets per value
    ends = np.cumsum(bl)
    starts = ends - bl
    # up to 10 byte-planes for 64-bit values
    max_len = int(bl.max())
    v = vals.copy()
    for plane in range(max_len):
        sel = bl > plane
        idx = starts[sel] + plane
        chunk = (v[sel] & np.uint64(_MASK)).astype(np.uint8)
        more = (plane + 1) < bl[sel]
        out[idx] = chunk | (more.astype(np.uint8) << 7)
        v[sel] >>= np.uint64(7)
    return out.tobytes(), bl


def _decode_bytes(b: np.ndarray) -> tuple[np.ndarray, np.ndarray | None]:
    """(values, index of each value's last byte) for a uint8 array of
    whole varbyte values; the index is None when every value is one byte
    (no continuation bit set: value i is byte i)."""
    cont = b >= _CONT
    if not cont.any():
        return b.astype(np.int64), None
    ends = np.flatnonzero(~cont)
    starts = np.empty(len(ends), dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    # byte position within its value → shift of its 7 payload bits
    pos = np.arange(b.size, dtype=np.int64) - np.repeat(
        starts, ends - starts + 1)
    parts = (b & np.uint8(_MASK)).astype(np.uint64) << (
        7 * pos).astype(np.uint64)
    return np.bitwise_or.reduceat(parts, starts).view(np.int64), ends


def decode(buf: bytes) -> np.ndarray:
    """Decode varbyte bytes back to an int64 array (vectorized)."""
    if not buf:
        return np.empty(0, dtype=np.int64)
    return _decode_bytes(np.frombuffer(buf, dtype=np.uint8))[0]


def decode_many(bufs) -> tuple[np.ndarray, np.ndarray]:
    """Decode a sequence of buffers in ONE pass over their concatenation
    → (all values in buffer order, per-buffer value counts). Each buffer
    holds whole values, so the concatenation is a valid stream."""
    lens = np.fromiter((len(x) for x in bufs), dtype=np.int64,
                       count=len(bufs))
    joined = b"".join(bufs)
    if not joined:
        return np.empty(0, dtype=np.int64), np.zeros(len(bufs), np.int64)
    vals, ends = _decode_bytes(np.frombuffer(joined, dtype=np.uint8))
    if ends is None:
        return vals, lens
    # values ending before each buffer's end, differenced
    done = np.searchsorted(ends, np.cumsum(lens), side="left")
    return vals, np.diff(done, prepend=0)


_BIAS = np.uint64(1) << np.uint64(63)


def delta_encode(sorted_ids: np.ndarray, base: int) -> bytes:
    """Delta against a base (the block's first_doc anchor).

    Ids are signed int64 (xxhash64 doc ids span the full range), so deltas
    are computed in biased uint64 space — int64 ascending order is
    preserved by the +2^63 bias, and uint64 differences can't overflow.
    """
    ids = np.asarray(sorted_ids, dtype=np.int64).astype(np.uint64)
    ids ^= _BIAS  # flip sign bit == +2^63 bias, order-preserving, no overflow
    b = np.uint64((int(base) + (1 << 63)) % (1 << 64))
    prev = np.concatenate(([b], ids[:-1]))
    if (ids < prev).any():
        raise ValueError("doc ids must be sorted ascending")
    return encode(ids - prev)


def delta_decode(buf: bytes, base: int) -> np.ndarray:
    deltas = decode(buf).astype(np.uint64)
    b = np.uint64((int(base) + (1 << 63)) % (1 << 64))
    return ((np.cumsum(deltas) + b) - _BIAS).astype(np.int64)


def delta_decode_blocks(bufs, bases) -> tuple[np.ndarray, np.ndarray]:
    """delta_decode over many blocks at once → (doc ids of every block in
    order, per-block counts). One decode pass over the concatenated
    buffers, then a segmented cumsum in biased uint64 space (wrapping
    arithmetic, so full-range int64 ids cannot overflow) anchored at each
    block's base."""
    deltas, counts = decode_many(bufs)
    u = deltas.view(np.uint64)
    cs = np.cumsum(u)
    # per value: subtract the running sum that precedes its block (taken
    # at the block's first value), add the block's biased base
    first = np.repeat(np.cumsum(counts) - counts, counts)
    anchor = np.repeat(
        np.asarray(bases, dtype=np.int64).view(np.uint64) ^ _BIAS, counts)
    return ((cs - (cs[first] - u[first]) + anchor) ^ _BIAS).view(
        np.int64), counts
