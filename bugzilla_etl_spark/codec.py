"""Delta-gap + varint (LEB128) posting-list codecs, numpy-vectorized.

The reference delegates posting-list storage to Lucene via ES
(/root/reference/configuration/es/bug_version.json); our engine owns the
format: sorted values are delta-gapped then varint encoded, term
frequencies and doc lengths varint encoded, in blocks of
``BLOCK_SIZE`` docs with per-block max-impact metadata (block-max MaxScore).
In postings format 2 a term block's gaps are segment-local doc ordinals
and its doc lengths live once per doc in its group's all-docs list (see
``index.build.ALL_DOCS``); format 1 stored doc-id gaps and one doc
length per posting.

No per-row Python: encode is O(max_varint_width) numpy passes over
whole arrays (the per-``j`` loop runs <= 10 iterations regardless of
input size), decode a fixed number of word-wide passes. Readers decode a batch of blocks at once
(``decode_blocks``): the batch's payload columns are one joined buffer
and one ``varint_decode_blocks`` call, which also checks that every
block holds exactly its postings.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128

_U64 = np.uint64
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
    per-block calls were ~60% of SPIMI encode time). Every segment may
    be empty, the whole array too: each still gets its ``b""``."""
    v = np.ascontiguousarray(values, dtype=_U64)
    if v.size == 0:
        return [b""] * len(seg_starts)
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


#: little-endian masks keeping the low ``w`` bytes of a word, w = 0..8
_LOW_BYTES = np.array(
    [(1 << (8 * w)) - 1 for w in range(8)] + [2**64 - 1], dtype=_U64
)
#: (keep, move, shift) per step packing a word's 7-bit byte lanes into
#: its low 56 bits: byte pairs, then 16-bit pairs, then 32-bit halves
#: (0-d arrays: cheaper operands than numpy scalars on short arrays)
_PACK = [
    tuple(np.array(v, dtype=_U64) for v in step)
    for step in ((0x007F007F007F007F, 0x7F007F007F007F00, 1),
                 (0x00003FFF00003FFF, 0x3FFF00003FFF0000, 2),
                 (0x000000000FFFFFFF, 0x0FFFFFFF00000000, 4))
]


class BlockError(ValueError):
    """A block's varint bytes do not hold exactly its postings: ``block``
    is its position in the decoded batch."""

    def __init__(self, block: int, msg: str):
        super().__init__(msg)
        self.block = block


def _as_u8(buf) -> np.ndarray:
    return buf if isinstance(buf, np.ndarray) else np.frombuffer(buf, dtype=np.uint8)


def _decode_ends(b: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """The values of ``b`` whose terminator bytes sit at ``ends`` (``b``
    ends on one). Each value is one unaligned little-endian 8-byte load
    from its first byte, cut to its own width, and its 7-bit lanes are
    packed by three word-wide passes; only values wider than 8 bytes
    take a second load. A buffer of 1-byte values is a cast."""
    n, nb = len(ends), len(b)
    if n == nb:
        return b.astype(_U64)
    starts = np.concatenate(([0], ends[:-1] + 1))
    widths = ends - starts + 1
    max_w = int(widths.max())
    if max_w > 10:
        raise ValueError(f"varint of {max_w} bytes; a uint64 takes at most 10")
    pad = np.zeros(nb + 16, dtype=np.uint8)
    pad[:nb] = b
    # word i = the 8 bytes from byte i (overlapping, unaligned views)
    words = np.ndarray((nb + 8,), dtype="<u8", buffer=pad, strides=(1,))
    out = words[starts] & _LOW_BYTES[np.minimum(widths, 8)]
    for keep, move, shift in _PACK:
        out = (out & keep) | ((out & move) >> shift)
    if max_w > 8:
        # bytes 8 and 9 carry bits 56..62 and bit 63 (the << drops the rest)
        hi = words[starts + 8] & _LOW_BYTES[np.clip(widths - 8, 0, 2)]
        out |= ((hi & _U64(0x7F)) << _U64(56)) | ((hi >> _U64(8)) << _U64(63))
    return out


def varint_decode(buf) -> np.ndarray:
    """Decode LEB128 bytes (``bytes`` or a uint8 array) to a uint64
    array. A buffer that ends inside a varint raises ``ValueError``."""
    b = _as_u8(buf)
    if b.size == 0:
        return np.empty(0, dtype=_U64)
    if b[-1] >= _CONT:
        raise ValueError("varint buffer ends inside a value")
    return _decode_ends(b, np.flatnonzero(b < _CONT))


def varint_decode_blocks(buf, bounds: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Decode the joined varint bytes of a batch of blocks in one pass.

    Block i owns ``buf[bounds[i]:bounds[i+1]]``, which must hold exactly
    ``counts[i]`` varints and end on a terminator byte: LEB128 is
    self-delimiting, so a truncated block would otherwise run into the
    next one and decode silently wrong. The first block that breaks the
    rule raises ``BlockError``."""
    b = _as_u8(buf)
    counts = np.asarray(counts, dtype=np.int64)
    if int(bounds[-1]) != len(b):
        raise ValueError(f"block bounds cover {int(bounds[-1])} of {len(b)} bytes")
    if not len(b):
        if counts.any():
            i = int(np.argmax(counts > 0))
            raise BlockError(i, f"0 bytes hold 0 varints, expected {int(counts[i])}")
        return np.empty(0, dtype=_U64)
    ends = np.flatnonzero(b < _CONT)
    # terminators before each block's end vs postings through that
    # block, and the last byte of each non-empty block
    got = np.searchsorted(ends, bounds[1:])
    bad = (got != np.cumsum(counts)) | (
        (b[bounds[1:] - 1] >= _CONT) & (bounds[1:] > bounds[:-1])
    )
    if bad.any():
        i = int(np.argmax(bad))
        held = int(got[i] - (got[i - 1] if i else 0))
        size = int(bounds[i + 1] - bounds[i])
        cut = "; its last varint is cut off" if size and b[bounds[i + 1] - 1] >= _CONT else ""
        raise BlockError(i, f"{size} bytes hold {held} varints, expected {int(counts[i])}{cut}")
    return _decode_ends(b, ends)


def join_blocks(bufs) -> tuple[np.ndarray, np.ndarray]:
    """(joined bytes, per-block bounds) of a sequence of block buffers."""
    sizes = np.fromiter(map(len, bufs), dtype=np.int64, count=len(bufs))
    bounds = np.zeros(len(sizes) + 1, dtype=np.int64)
    np.cumsum(sizes, out=bounds[1:])
    return np.frombuffer(b"".join(bufs), dtype=np.uint8), bounds


#: the payload columns ``decode_blocks`` reads, in their joined order
PAYLOAD = ("gaps", "tfs", "dls")


def decode_blocks(
    n, buf, bounds, tf_n=None, dl_n=None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc ids, tfs, dls) of a batch of blocks, each uint64, from ONE
    ``varint_decode_blocks`` pass: ``n`` holds the blocks' posting
    counts, ``buf`` their ``PAYLOAD`` columns joined column after column
    (all blocks' gaps, then all tfs, then all dls) and ``bounds`` the
    3 * len(n) + 1 block bounds in it. ``tf_n`` / ``dl_n`` are the
    blocks' tfs / dls value counts where they are not ``n``: a format-2
    term block stores no dls (0) and an all-docs block no tfs (0). The
    gaps decode to one value per posting: each block's first gap is
    absolute, so the values (doc ids, or format 2's ordinals) come back
    by one segmented cumsum: the whole-batch cumsum minus its value
    ahead of each block (uint64 wraps, so the difference is exact)."""
    n = np.asarray(n, dtype=np.int64)
    tf_n = n if tf_n is None else np.asarray(tf_n, dtype=np.int64)
    dl_n = n if dl_n is None else np.asarray(dl_n, dtype=np.int64)
    try:
        vals = varint_decode_blocks(buf, bounds, np.concatenate((n, tf_n, dl_n)))
    except BlockError as e:
        col, block = divmod(e.block, len(n))
        raise BlockError(block, f"{PAYLOAD[col]}: {e}") from None
    total = int(n.sum())
    n_tf = total + int(tf_n.sum())
    g, tf, dl = vals[:total], vals[total:n_tf], vals[n_tf:]
    cs = np.zeros(total + 1, dtype=_U64)
    np.cumsum(g, dtype=_U64, out=cs[1:])
    docs = cs[1:] - np.repeat(cs[np.cumsum(n) - n], n)
    return docs, tf, dl


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
