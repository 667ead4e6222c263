"""Codec round-trip tests (FIXTURES.md invariant 2), incl. property-based."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bugzilla_etl_spark.codec import (
    BlockError,
    decode_blocks,
    decode_sorted_docs,
    delta_decode,
    delta_encode,
    doc_id_to_u64,
    encode_sorted_docs,
    join_blocks,
    u64_to_doc_id,
    varint_decode,
    varint_decode_blocks,
    varint_encode,
    varint_encode_segmented,
)


def test_varint_roundtrip_edges():
    vals = np.array(
        [0, 1, 127, 128, 129, 2**14 - 1, 2**14, 2**31, 2**32, 2**63, 2**64 - 1],
        dtype=np.uint64,
    )
    assert np.array_equal(varint_decode(varint_encode(vals)), vals)


def test_varint_empty():
    assert varint_encode(np.empty(0, dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


def test_varint_decode_rejects_a_cut_value():
    """A buffer that ends inside a varint raises, instead of dropping the
    partial value (``b"\x01\x81"`` used to decode to [1]) or failing
    with a bare IndexError (``b"\x81"``)."""
    for buf in (b"\x01\x81", b"\x81", b"\xff" * 3):
        with pytest.raises(ValueError, match="ends inside"):
            varint_decode(buf)
    with pytest.raises(ValueError, match="11 bytes"):
        varint_decode(b"\x80" * 10 + b"\x01")


def test_block_boundaries_are_checked():
    """Joined, ``b"\x01\x81" + b"\x02"`` is the valid varints [1, 257]:
    the batch decode must see that block 0 holds one value and a cut one
    where it should hold two."""
    buf, bounds = join_blocks([b"\x01\x81", b"\x02"])
    assert varint_decode(buf).tolist() == [1, 257]
    with pytest.raises(BlockError, match="expected 2") as e:
        varint_decode_blocks(buf, bounds, [2, 1])
    assert e.value.block == 0
    # right total, wrong split: block 0 does not end on a terminator
    with pytest.raises(BlockError, match="cut off") as e:
        varint_decode_blocks(buf, bounds, [1, 1])
    assert e.value.block == 0
    # a short LAST block is caught as well
    buf, bounds = join_blocks([b"\x01", b"\x02\x83"])
    with pytest.raises(BlockError) as e:
        varint_decode_blocks(buf, bounds, [1, 2])
    assert e.value.block == 1
    # decode_blocks names the column of the joined gaps+tfs+dls batch
    with pytest.raises(BlockError, match="^tfs: ") as e:
        decode_blocks([1, 1], *join_blocks([b"\x01", b"\x01", b"\x01", b"\x81", b"\x01", b"\x01"]))
    assert e.value.block == 1


def test_segmented_encode_keeps_empty_segments():
    """Every segment gets its bytes, empty ones ``b""`` — also when all of
    them are empty (a format-2 term block's dls, a probe re-encoding
    them), which used to return ``[]``."""
    starts = np.array([0, 0, 0])
    assert varint_encode_segmented(np.empty(0, dtype=np.uint64), starts) == [b"", b"", b""]
    got = varint_encode_segmented(np.array([1, 300], dtype=np.uint64), np.array([0, 0, 2]))
    assert got == [b"", b"\x01\xac\x02", b""]


def test_decode_blocks_with_empty_columns():
    """Format 2: a term block's dls and an all-docs block's tfs hold no
    values; ``tf_n``/``dl_n`` say so, and the block checks still hold."""
    n = [2, 1]
    gaps = [varint_encode(np.array(v, dtype=np.uint64)) for v in ([3, 1], [7])]
    tfs = [b"\x05\x06", b"\x07"]
    docs, tf, dl = decode_blocks(n, *join_blocks(gaps + tfs + [b"", b""]), dl_n=[0, 0])
    assert docs.tolist() == [3, 4, 7] and tf.tolist() == [5, 6, 7] and dl.size == 0
    docs, tf, dl = decode_blocks(n, *join_blocks(gaps + [b"", b""] + tfs), tf_n=[0, 0])
    assert docs.tolist() == [3, 4, 7] and tf.size == 0 and dl.tolist() == [5, 6, 7]
    # a block whose dls should be empty but are not is named
    with pytest.raises(BlockError, match="^dls: ") as e:
        decode_blocks(n, *join_blocks(gaps + tfs + [b"", b"\x01"]), dl_n=[0, 0])
    assert e.value.block == 1


_EDGE = [0, 1, 127, 128, 2**56 - 1, 2**56, 2**63, 2**64 - 1]
# values of every varint width 1..10, plus the edges above
_U64S = st.one_of(
    st.sampled_from(_EDGE),
    st.integers(min_value=0, max_value=9).flatmap(
        lambda w: st.integers(min_value=0, max_value=2 ** min(7 * (w + 1), 64) - 1)
    ),
)


@settings(max_examples=80, deadline=None)
@given(st.lists(st.lists(_U64S, min_size=1, max_size=40), min_size=1, max_size=12))
def test_decode_blocks_equals_per_block_decode(blocks):
    """The batched decode of a block set equals decoding block by block:
    doc ids by the segmented cumsum (uint64 wrap included), tfs and dls
    by one joined pass. Blocks hold sorted ids from 1 posting up, widths
    mixed within and across blocks."""
    docs = [np.array(sorted(b), dtype=np.uint64) for b in blocks]
    vals = [np.array(b, dtype=np.uint64) for b in blocks]
    gaps = [encode_sorted_docs(d) for d in docs]
    raw = [varint_encode(v) for v in vals]
    n = [len(b) for b in blocks]
    got_docs, got_tf, got_dl = decode_blocks(n, *join_blocks(gaps + raw + raw))
    want_docs = np.concatenate([delta_decode(varint_decode(g)) for g in gaps])
    want_vals = np.concatenate([varint_decode(r) for r in raw])
    assert np.array_equal(got_docs, want_docs)
    assert np.array_equal(got_docs, np.concatenate(docs))
    assert np.array_equal(got_tf, want_vals) and np.array_equal(got_dl, want_vals)
    assert got_docs.dtype == got_tf.dtype == np.uint64


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=500))
def test_varint_roundtrip_property(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr)), arr)


@settings(max_examples=50, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=2**64 - 1), max_size=300))
def test_sorted_docs_roundtrip_property(vals):
    arr = np.array(sorted(vals), dtype=np.uint64)
    assert np.array_equal(decode_sorted_docs(encode_sorted_docs(arr)), arr)


def test_delta_roundtrip():
    arr = np.array([5, 5, 9, 100, 2**40], dtype=np.uint64)
    assert np.array_equal(delta_decode(delta_encode(arr)), arr)


def test_doc_id_bijection():
    ids = np.array([-(2**63), -1, 0, 1, 2**63 - 1], dtype=np.int64)
    assert np.array_equal(u64_to_doc_id(doc_id_to_u64(ids)), ids)
    # int64 order and u64 order differ, but the mapping is monotone within sign
    u = doc_id_to_u64(ids)
    assert u.dtype == np.uint64


def test_levenshtein_matches_duckdb():
    """The fuzzy-expansion DP must agree with DuckDB's levenshtein()
    (the gate oracle's function): 300 seeded random pairs, plus the
    capped early-out form agreeing on threshold membership."""
    import random

    import duckdb

    from bugzilla_etl_spark.index.query import _levenshtein

    con = duckdb.connect(":memory:")
    rng = random.Random(5)
    for _ in range(300):
        a = "".join(rng.choice("abcde") for _ in range(rng.randint(1, 8)))
        b = "".join(rng.choice("abcde") for _ in range(rng.randint(1, 8)))
        want = con.sql(f"select levenshtein('{a}','{b}')").fetchone()[0]
        assert _levenshtein(a, b, 10) == want, (a, b)
        for cap in (0, 1, 2):
            assert (_levenshtein(a, b, cap) <= cap) == (want <= cap), (a, b, cap)
    con.close()
