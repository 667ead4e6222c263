"""Delta-gap + varint (LEB128) posting-list codecs, numpy-vectorized.

The reference delegates posting-list storage to Lucene via ES
(/root/reference/configuration/es/bug_version.json); our engine owns the
format: sorted doc ids are delta-gapped then varint encoded, term
frequencies and doc lengths varint encoded, in blocks of
``BLOCK_SIZE`` docs with per-block max-impact metadata (block-max MaxScore).

No per-row Python: encode/decode are O(max_varint_width) numpy passes
over whole arrays (the per-``j`` loop runs <= 10 iterations regardless
of input size).
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128

_U64 = np.uint64
_SEVEN = _U64(7)
_MASK7 = _U64(0x7F)
_CONT = np.uint8(0x80)


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array. Vectorized: one pass per byte lane."""
    v = np.ascontiguousarray(values, dtype=_U64)
    if v.size == 0:
        return b""
    # bytes needed per value: 1 + floor(bitlen-1 / 7)
    nb = np.ones(v.shape, dtype=np.int64)
    for j in range(1, 10):
        nb += (v >= (_U64(1) << _U64(7 * j))).astype(np.int64)
    offsets = np.zeros(v.size + 1, dtype=np.int64)
    np.cumsum(nb, out=offsets[1:])
    out = np.zeros(offsets[-1], dtype=np.uint8)
    max_nb = int(nb.max())
    for j in range(max_nb):
        sel = nb > j
        pos = offsets[:-1][sel] + j
        byte = ((v[sel] >> _U64(7 * j)) & _MASK7).astype(np.uint8)
        cont = (nb[sel] - 1 > j).astype(np.uint8) * _CONT
        out[pos] = byte | cont
    return out.tobytes()


def varint_encode_segmented(values: np.ndarray, seg_starts: np.ndarray) -> list[bytes]:
    """LEB128-encode ONE array, returning per-segment byte strings.

    ``seg_starts`` are positions into ``values`` (first must be 0,
    ascending; segments are contiguous and cover the array). LEB128 is
    per-value independent, so slicing the whole-array encoding at value
    boundaries is bit-identical to encoding each segment separately —
    but costs 3 numpy passes per GROUP instead of 3 per BLOCK (the
    per-block calls were ~60% of SPIMI encode time)."""
    v = np.ascontiguousarray(values, dtype=_U64)
    if v.size == 0:
        return []
    nb = np.ones(v.shape, dtype=np.int64)
    for j in range(1, 10):
        nb += (v >= (_U64(1) << _U64(7 * j))).astype(np.int64)
    offsets = np.zeros(v.size + 1, dtype=np.int64)
    np.cumsum(nb, out=offsets[1:])
    out = np.zeros(offsets[-1], dtype=np.uint8)
    max_nb = int(nb.max())
    for j in range(max_nb):
        sel = nb > j
        pos = offsets[:-1][sel] + j
        byte = ((v[sel] >> _U64(7 * j)) & _MASK7).astype(np.uint8)
        cont = (nb[sel] - 1 > j).astype(np.uint8) * _CONT
        out[pos] = byte | cont
    buf = out.tobytes()
    bounds = offsets[seg_starts].tolist()
    bounds.append(int(offsets[-1]))
    return [buf[a:b] for a, b in zip(bounds[:-1], bounds[1:])]


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes to a uint64 array. Vectorized."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=_U64)
    ends = np.flatnonzero(b < _CONT)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    widths = ends - starts + 1
    max_w = int(widths.max())
    # gather byte lanes; out-of-range lanes masked to 0
    idx = starts[:, None] + np.arange(max_w)[None, :]
    lane_ok = np.arange(max_w)[None, :] < widths[:, None]
    idx = np.where(lane_ok, idx, 0)
    lanes = (b[idx] & np.uint8(0x7F)).astype(_U64)
    lanes = np.where(lane_ok, lanes, _U64(0))
    shifts = (_SEVEN * np.arange(max_w, dtype=_U64))[None, :]
    return (lanes << shifts).sum(axis=1, dtype=_U64)


def delta_encode(sorted_vals: np.ndarray) -> np.ndarray:
    """Gap-encode an ascending uint64 array: [v0, v1-v0, v2-v1, ...]."""
    v = np.ascontiguousarray(sorted_vals, dtype=_U64)
    if v.size == 0:
        return v
    gaps = np.empty_like(v)
    gaps[0] = v[0]
    np.subtract(v[1:], v[:-1], out=gaps[1:])
    return gaps


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    return np.cumsum(np.ascontiguousarray(gaps, dtype=_U64), dtype=_U64)


def encode_sorted_docs(doc_ids_u64: np.ndarray) -> bytes:
    return varint_encode(delta_encode(doc_ids_u64))


def decode_sorted_docs(buf: bytes) -> np.ndarray:
    return delta_decode(varint_decode(buf))


def doc_id_to_u64(doc_ids_i64: np.ndarray) -> np.ndarray:
    """Reinterpret int64 doc ids (xxhash64 output) as uint64.

    Posting lists are sorted in uint64 order; the mapping is a bijection
    so sortedness + gap encoding work; convert back with
    ``u64_to_doc_id`` for user-facing int64 doc ids.
    """
    return np.ascontiguousarray(doc_ids_i64, dtype=np.int64).view(_U64)


def u64_to_doc_id(doc_ids_u64: np.ndarray) -> np.ndarray:
    return np.ascontiguousarray(doc_ids_u64, dtype=_U64).view(np.int64)
